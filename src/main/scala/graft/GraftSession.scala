package graft

import graft.catalog.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing query session over a graft warehouse: every lake table is
  * registered as a SQL view and the engine's native functions
  * ([[graft.plans.GraftExtensions.functions]]) are on the function
  * registry — so the full Spark SQL surface (the reference's "whatever the
  * engine under the lake can do", SURVEY §2.10) works directly over
  * ingested data:
  *
  * {{{
  * val gs = GraftSession(spark, "/warehouse")
  * gs.refresh()
  * gs.sql("SELECT user_id, count(*) FROM events GROUP BY 1")
  * gs.sql("SELECT graft_cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * Over a `SparkSession` built by the caller, local-disk warehouses keep
  * Hadoop's stock local filesystem, which forks a process per created
  * file and per rename, unless the builder applied
  * [[graft.hadoop.FastLocalFileSystem.tune]] (or set its `hadoopConfs`).
  */
final class GraftSession(val spark: SparkSession, val lake: GraftLake) {

  registerFunctions()

  def registerFunctions(): Unit = plans.GraftExtensions.register(spark)

  /** (Re-)register every lake table as a temp view. Lake table names may
    * contain '-' (valid per the topic→table rules) which SQL identifiers
    * reject, so view names map '-' to '_'. A table that fails to load (a
    * corrupted manifest, say) must not poison the whole session: the
    * others still register, each failure is logged as a warning naming
    * the table and its cause, and the failed tables are returned. */
  def refresh(): Seq[String] =
    lake.listTables().flatMap { t =>
      try { lake.read(t).createOrReplaceTempView(viewName(t)); None }
      catch {
        case e: Exception =>
          GraftSession.log.warn(s"lake table '$t' not registered as a view: $e")
          Some(t)
      }
    }

  /** SQL view name for a lake table. */
  def viewName(table: String): String = table.replace('-', '_')

  def table(name: String): DataFrame = lake.read(name)

  def sql(query: String): DataFrame = spark.sql(query)
}

object GraftSession {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftSession])

  def apply(spark: SparkSession, warehouse: String): GraftSession = {
    val s = new GraftSession(spark, new GraftLake(spark, warehouse))
    s.refresh()
    s
  }
}
