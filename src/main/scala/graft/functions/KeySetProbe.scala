package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Immutable set of one column's values in Spark's internal form, for the
  * broadcast membership probe [[InKeySet]]. Int- and long-backed types
  * probe a sorted primitive array by binary search; every other type a
  * hash set of values with floating zero and NaN normalized as join keys
  * are, so membership is SQL `=`. */
abstract class KeySet extends Serializable {
  def contains(v: Any): Boolean
  def containsInt(v: Int): Boolean = contains(v)
  def containsLong(v: Long): Boolean = contains(v)
}

object KeySet {
  private final class Ints(sorted: Array[Int]) extends KeySet {
    def contains(v: Any): Boolean = containsInt(v.asInstanceOf[Int])
    override def containsInt(v: Int): Boolean =
      java.util.Arrays.binarySearch(sorted, v) >= 0
  }
  private final class Longs(sorted: Array[Long]) extends KeySet {
    def contains(v: Any): Boolean = containsLong(v.asInstanceOf[Long])
    override def containsLong(v: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, v) >= 0
  }
  private final class Hashed(set: java.util.HashSet[Any]) extends KeySet {
    def contains(v: Any): Boolean = set.contains(normalize(v))
  }

  /** An internal value as a hash key: -0.0 as 0.0 and every NaN as one. */
  def normalize(v: Any): Any = v match {
    case d: Double => if (d == 0.0d) 0.0d else if (d.isNaN) Double.NaN else d
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case k => k
  }

  /** The set of internal values `keys` (no nulls) of a column of type `dt`. */
  def of(dt: DataType, keys: Iterable[Any]): KeySet = dt match {
    case IntegerType | DateType =>
      val a = keys.iterator.map(_.asInstanceOf[Int]).toArray
      java.util.Arrays.sort(a)
      new Ints(a)
    case LongType | TimestampType | TimestampNTZType =>
      val a = keys.iterator.map(_.asInstanceOf[Long]).toArray
      java.util.Arrays.sort(a)
      new Longs(a)
    case _ =>
      val s = new java.util.HashSet[Any](math.max(16, keys.size * 2))
      keys.foreach(k => s.add(normalize(k)))
      new Hashed(s)
  }

  /** `c IN keys` as one predicate over a broadcast set, for a column `c` of
    * type `dt`: the plan carries one broadcast handle, not a literal per
    * key, and building it runs no job. A null `c` is not a member. */
  def member(spark: SparkSession, c: Column, dt: DataType,
      keys: Iterable[Any]): Column = {
    import org.apache.spark.sql.graft.PlanBridge
    PlanBridge.column(InKeySet(PlanBridge.expression(c), dt,
      spark.sparkContext.broadcast(of(dt, keys))))
  }
}

/** TRUE when the child's value is in the broadcast [[KeySet]], FALSE for
  * any other value and for null (as `IN` reads in a filter or a `CASE`).
  * The handle serializes with the plan; executors fetch the set once and
  * the generated code hoists `.value()` to one call per operator instance.
  * `keyType` is the type the set was built for; a child of another type
  * fails analysis rather than probing with values of the wrong type. */
case class InKeySet(child: Expression, keyType: DataType,
    keys: Broadcast[KeySet]) extends UnaryExpression with Predicate {
  override def nullable: Boolean = false
  override def prettyName: String = "graft_in_key_set"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (org.apache.spark.sql.graft.PlanBridge.sameType(child.dataType, keyType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_in_key_set: a ${keyType.simpleString} key set probed with " +
        child.dataType.simpleString)

  @transient private lazy val set: KeySet = keys.value

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && set.contains(v)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setCls = classOf[KeySet].getName
    val bcCls = classOf[Broadcast[_]].getName
    val ref = ctx.addReferenceObj("graftKeysBroadcast", keys, bcCls)
    val setTerm = ctx.addMutableState(setCls, "graftKeySet",
      v => s"$v = ($setCls)(($bcCls)$ref).value();")
    val c = child.genCode(ctx)
    val probe = keyType match {
      case IntegerType | DateType => s"$setTerm.containsInt(${c.value})"
      case LongType | TimestampType | TimestampNTZType =>
        s"$setTerm.containsLong(${c.value})"
      case t if CodeGenerator.isPrimitiveType(t) =>
        s"$setTerm.contains(${CodeGenerator.boxedType(t)}.valueOf(${c.value}))"
      case _ => s"$setTerm.contains(${c.value})"
    }
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.value} = !${c.isNull} && $probe;""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
