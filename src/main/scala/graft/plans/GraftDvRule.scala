package graft.plans

import graft.catalog.{GraftLake, GraftTableIdentity}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.PlanBridge

/** The SQL read of a graft table IS the engine read: every graft
  * relation's DSv2 scan is replaced by [[GraftLake.readLiveFull]] (or
  * [[GraftLake.readVersion]] for a `VERSION AS OF` relation), projected
  * back onto the relation's original output attribute ids so the
  * surrounding plan is untouched. The substituted plan scans the
  * manifest's file list, resolved here at analysis: a query planned
  * before a rewrite keeps reading the snapshot it planned. It applies
  * the snapshot's deletion vectors (a codegen'd filter on (file key, row
  * position)), aliases renamed columns back from their frozen physical
  * names, and keeps manifest-level file skipping — the
  * [[org.apache.spark.sql.graft.GraftPruningFileIndex]] lowers the
  * pushed data filters over the manifest's per-file bounds at planning
  * time. The same trade DuckLake makes with its positional-delete files,
  * which DuckDB merges at scan WITHOUT disabling file pruning.
  *
  * Injected AFTER [[RewriteGraftMerge]]: DML statements are converted to
  * engine commands first, so this rule only ever sees pure read
  * relations (a command's inner plans are re-analyzed — and so
  * substituted — when the command builds its DataFrames at run time).
  * Applied WITH subquery descent: a graft table inside an
  * IN/EXISTS/scalar subquery is substituted too, and `transformDown`
  * alone never enters subquery expression plans.
  */
final case class ApplyGraftDeletionVectors(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case r: DataSourceV2Relation =>
        r.table match {
          case t: GraftTableIdentity =>
            val lake = new GraftLake(spark, t.graftWarehouse)
            val df = t.graftVersion match {
              case None => lake.readLiveFull(t.graftTableName)
              case Some(v) => lake.readVersion(t.graftTableName, v)
            }
            val child = PlanBridge.planOf(df)
            val byName = child.output.map(a => a.name -> a).toMap
            Project(r.output.map { o =>
              Alias(byName(o.name), o.name)(exprId = o.exprId,
                qualifier = o.qualifier)
            }, child)
          case _ => r
        }
    }
}
