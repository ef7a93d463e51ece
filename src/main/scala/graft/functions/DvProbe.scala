package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Immutable deletion-vector set for the broadcast DV probe: file key →
  * SORTED row positions. Probe = one hash lookup + binary search, zero
  * allocation (keys stay UTF8String end to end). Built once per committed
  * DV state on the driver (bounded by `spark.graft.dv.maxEntries`, the
  * same invariant that allowed the old broadcast JOIN), shipped via a
  * Spark broadcast that executors fetch once and reuse across EVERY query
  * until the next DV commit — the per-query broadcast-build job of the
  * anti-join formulation (collect + hash-relation build, ~0.5 s on a
  * 140k-entry DV) disappears from the steady-state read path. */
final class DvSet private (
    private val byFile: java.util.HashMap[UTF8String, Array[Long]])
  extends Serializable {
  def masked(key: UTF8String, pos: Long): Boolean = {
    val arr = byFile.get(key)
    arr != null && java.util.Arrays.binarySearch(arr, pos) >= 0
  }
}

object DvSet {
  def build(entries: Iterator[(String, Long)]): DvSet = {
    val byKey = new java.util.HashMap[String, java.util.ArrayList[java.lang.Long]]()
    entries.foreach { case (k, p) =>
      byKey.computeIfAbsent(k, _ => new java.util.ArrayList[java.lang.Long]())
        .add(p)
    }
    val m = new java.util.HashMap[UTF8String, Array[Long]](byKey.size() * 2)
    byKey.forEach { (k, list) =>
      val arr = new Array[Long](list.size())
      var i = 0
      while (i < arr.length) { arr(i) = list.get(i); i += 1 }
      java.util.Arrays.sort(arr)
      m.put(UTF8String.fromString(k), arr)
    }
    new DvSet(m)
  }
}

/** `graft_dv_masked(file_key, row_position)` — TRUE when the position is
  * deletion-vector-masked. A codegen'd predicate probing the broadcast
  * [[DvSet]] (the handle serializes with the plan; each executor fetches
  * the blocks once and the generated code hoists `.value()` to one call
  * per operator instance). Replacing the DV broadcast ANTI JOIN with this
  * FILTER also keeps the masked scan single-source, so `input_file_name`
  * and whole-stage codegen survive the DV path. Null inputs read as
  * not-masked (file-scan metadata is never null; a null must keep the
  * row, matching the anti-join's semantics). */
case class DvMasked(left: Expression, right: Expression,
    dv: Broadcast[DvSet]) extends BinaryExpression with Predicate {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_dv_masked"

  @transient private lazy val set: DvSet = dv.value

  override def eval(input: InternalRow): Any = {
    val k = left.eval(input)
    if (k == null) return false
    val p = right.eval(input)
    if (p == null) return false
    set.masked(k.asInstanceOf[UTF8String],
      p.asInstanceOf[java.lang.Long].longValue())
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setCls = classOf[DvSet].getName
    val ref = ctx.addReferenceObj("graftDvBroadcast", dv,
      classOf[Broadcast[_]].getName)
    val setTerm = ctx.addMutableState(setCls, "graftDvSet",
      v => s"$v = ($setCls)((${classOf[Broadcast[_]].getName})$ref).value();")
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${lg.code}
        ${rg.code}
        boolean ${ev.value} = false;
        if (!${lg.isNull} && !${rg.isNull}) {
          ${ev.value} = $setTerm.masked(${lg.value}, ${rg.value});
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
