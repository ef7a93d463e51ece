package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** The `_inserted_at` stamp of one write: a timestamp fixed on the driver
  * when the write is planned, so every job of the write (the table files
  * and the change files) stamps the same value.
  *
  * `current_timestamp()` is folded by `ComputeCurrentTime` into a literal,
  * and codegen inlines a literal into the generated Java (`…L`): every
  * INSERT or MERGE then compiled its write stage anew, and those classes
  * crowded the rest out of Spark's codegen cache. This expression is not
  * foldable and its generated code reads the value from the class's
  * references, so two writes of one shape share one generated class. */
final case class InsertStamp(micros: Long) extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("insertStamp", java.lang.Long.valueOf(micros),
      "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object InsertStamp {
  /** A stamp of the current instant, as a column. */
  def now(): Column =
    PlanBridge.column(InsertStamp(DateTimeUtils.instantToMicros(java.time.Instant.now())))
}
