package graft

import org.apache.spark.sql.functions._

/** Child-process half of the scale bench's MULTI-WRITER race
  * (SCALE.md): a SECOND driver JVM appending to the same lake table as
  * the parent, concurrently, at sf1 batch volume — the cross-process
  * commit-race contract (SnapshotSpec "cross-process commit race: pure
  * appends retry, rewrites fail fast") exercised by two REAL processes
  * instead of fabricated external manifests. Pure appends must ALL land
  * (losers retry against the winner's state; the `commitRetry` sensor
  * counts the collisions), no rows lost, one linear version history.
  *
  * `runMain graft.RaceAppender <warehouse> <table> <writerId> <nBatches>
  *   <rowsPerBatch>` — prints ONE line
  * `[race-child] appended=<rows> batches=<n> retries=<k>`.
  */
object RaceAppender {
  /** Fork a RaceAppender JVM against `wh`/`table` — the ONE spawn recipe
    * shared by every two-process harness and spec (jvm module opens,
    * classpath, ui off); a new required flag lands here once instead of
    * drifting across five copies. stderr merges into stdout; the caller
    * decides whether to drain or discard it. */
  def spawn(wh: String, table: String, writerId: String, nBatches: Int,
      rowsPerBatch: Long, heap: String = "-Xmx4g",
      discardOutput: Boolean = false): Process = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
      heap, "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.RaceAppender", wh, table, writerId,
      nBatches.toString, rowsPerBatch.toString)).toArray
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    // a PIPE nobody reads fills and BLOCKS the child mid-write — callers
    // either attach a drainer (ScaleBench's ChildDrain) or discard here
    if (discardOutput)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
    pb.start()
  }

  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val table = args(1)
    val writerId = args(2)
    val nBatches = args(3).toInt
    val rowsPerBatch = args(4).toLong
    val spark = GraftSession.localBuilder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lake = new graft.catalog.GraftLake(spark, wh)
    var appended = 0L
    for (b <- 0 until nBatches) {
      val batch = spark.range(rowsPerBatch)
        .select((col("id") + b * rowsPerBatch).as("seq"),
          lit(writerId).as("writer"),
          (col("id") % 97).cast("int").as("bucket"))
      lake.append(table, batch)
      appended += rowsPerBatch
    }
    val retries = graft.metrics.GraftMetrics.op("commitRetry").count.sum()
    println(s"[race-child] appended=$appended batches=$nBatches retries=$retries")
    spark.stop()
  }
}
