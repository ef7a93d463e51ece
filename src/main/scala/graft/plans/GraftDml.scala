package graft.plans

import graft.catalog.GraftLake

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, LogicalPlan}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** SQL `DELETE FROM` over a graft table: [[GraftLake.deleteWhere]], which
  * drops provable files metadata-only and otherwise masks the hit set with
  * a deletion vector ([[GraftLake.writeRowLevel]]). A condition carrying a
  * subquery (IN/EXISTS/scalar) takes the same deletion-vector write
  * ([[GraftLake.dmlWhere]]) over the engine's scan re-bound to the
  * target's attribute ids: `byNameColumn` only retargets top-level
  * attribute references, so a resolved subquery would carry stale
  * attribute ids into the engine scan's re-resolution. */
final case class GraftDeleteCommand(
    warehouse: String,
    table: String,
    target: LogicalPlan,
    shielded: GraftDml.Shielded) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(target)

  override def run(spark: SparkSession): Seq[Row] = {
    val cond = shielded.expr
    val lake = new GraftLake(spark, warehouse)
    if (GraftDml.hasSubquery(Seq(cond)))
      lake.dmlWhere(table, _.filter(GraftDml.hit(Some(cond))),
        bind = PlanBridge.rebind(target.output, _))
    else lake.deleteWhere(table, PlanBridge.byNameColumn(cond))
    Seq.empty
  }
}

/** SQL `UPDATE` over a graft table: [[GraftLake.updateWhere]], which masks
  * the old rows with a deletion vector and appends the updated ones in one
  * commit. All assignment right-hand sides evaluate against the OLD row
  * (simultaneous-assignment semantics). A subquery in the condition or an
  * assignment takes the same write over the re-bound scan, as for DELETE
  * above. */
final case class GraftUpdateCommand(
    warehouse: String,
    table: String,
    target: LogicalPlan,
    shieldedAssigns: GraftDml.ShieldedAssignments,
    shieldedCond: Option[GraftDml.Shielded]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(target)

  override def run(spark: SparkSession): Seq[Row] = {
    val assignments = shieldedAssigns.assigns
    val cond = shieldedCond.map(_.expr)
    val lake = new GraftLake(spark, warehouse)
    def byName(value: Expression => Column): Map[String, Column] = assignments.map {
      case Assignment(k: Attribute, v) =>
        if (k.name.startsWith("__p_")) throw new UnsupportedOperationException(
          s"UPDATE of generated partition column '${k.name}' — update the source column instead")
        k.name -> value(v)
      case Assignment(k, _) => throw new UnsupportedOperationException(
        s"UPDATE with nested-field assignment '${k.sql}' is not supported")
    }.toMap
    if (GraftDml.hasSubquery(cond.toSeq ++ assignments.map(_.value)))
      lake.dmlWhere(table, _.filter(GraftDml.hit(cond)), byName(PlanBridge.column),
        PlanBridge.rebind(target.output, _))
    else lake.updateWhere(table,
      cond.map(PlanBridge.byNameColumn).getOrElse(lit(true)),
      byName(PlanBridge.byNameColumn))
    Seq.empty
  }
}

private[plans] object GraftDml {

  /** Opaque holder that keeps an already-resolved DML condition or
    * assignment list out of `TreeNode.expressions`: checkAnalysis
    * validates subquery placement by NODE CLASS (IN/EXISTS are legal in
    * `DeleteFromTable`/`UpdateTable`, unknown in the engine's own
    * commands), so exposing the expressions on the command would reject
    * `DELETE … WHERE id IN (SELECT …)` that Spark itself accepts. The
    * expressions were resolved as part of the original statement, and the
    * commands re-analyze them inside plain Filter/Project plans at run
    * time — where subqueries are legal and get planned normally. */
  final case class Shielded(expr: Expression)
  final case class ShieldedAssignments(assigns: Seq[Assignment])

  def hasSubquery(es: Seq[Expression]): Boolean =
    es.exists(_.exists(_.isInstanceOf[SubqueryExpression]))

  /** The rows a DML statement touches: those whose condition IS TRUE (a
    * null-valued condition keeps the row); every row without one. */
  def hit(cond: Option[Expression]): Column =
    cond.map(c => coalesce(PlanBridge.column(c), lit(false))).getOrElse(lit(true))
}
