package graft

import graft.catalog.GraftLake
import graft.hadoop.FastLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
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
  * [[graft.hadoop.FastLocalFileSystem.tune]] (or set its `hadoopConfs`);
  * the session logs a warning when it does not.
  */
final class GraftSession(val spark: SparkSession, val lake: GraftLake) {

  GraftSession.forkingLocalFs(lake.warehouseDir, spark.sparkContext.hadoopConfiguration)
    .foreach(GraftSession.log.warn)
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

  /** A local-mode session builder with the engine wired in: the fork-free
    * local filesystem, [[graft.plans.GraftExtensions]], `local[cores]` with
    * as many shuffle partitions, UTC session time and no UI. Callers add
    * their own confs and app name. */
  def localBuilder(cores: Int = localCores): SparkSession.Builder =
    FastLocalFileSystem.tune(SparkSession.builder())
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  private def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The warning for a warehouse on the `file` scheme whose Hadoop conf
    * keeps the stock local filesystem, which forks a process per created
    * file and per rename. Decided from the conf, not from a `FileSystem`
    * instance: the FileSystem cache is keyed by scheme, not by conf. */
  def forkingLocalFs(warehouse: String, conf: Configuration): Option[String] = {
    val scheme = Option(new Path(warehouse).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val fast = classOf[FastLocalFileSystem].getName
    if (scheme != "file" || conf.get("fs.file.impl") == fast) None
    else Some(s"warehouse $warehouse uses Hadoop's stock local filesystem, " +
      s"which forks a process per created file and per rename; set " +
      s"spark.hadoop.fs.file.impl=$fast (graft.hadoop.FastLocalFileSystem.tune) " +
      "before the session starts")
  }

  def apply(spark: SparkSession, warehouse: String): GraftSession = {
    val s = new GraftSession(spark, new GraftLake(spark, warehouse))
    s.refresh()
    s
  }
}
