package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-file bloom skipping index contract: equality predicates on an
  * indexed high-cardinality column skip files the min/max bounds can't
  * (values scattered across every file), every probe is conservative
  * (unindexed files / fresh appends / non-equality shapes keep), and
  * results are identical with and without the index. */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-bloom").toString)
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  // three appends, each ROUND-ROBIN repartitioned so every file's `uid`
  // values span the whole id range — min/max bounds then overlap fully
  // and CANNOT prune; only a per-file membership structure can
  private def build(lake: GraftLake, name: String): Unit = {
    def batch(r: Range) = r.map(i => (i.toLong, s"u$i", i % 7))
      .toDF("uid", "tag", "n").repartition(3)
    lake.append(name, batch(0 until 3000 by 3))
    lake.append(name, batch(1 until 3000 by 3))
    lake.append(name, batch(2 until 3000 by 3))
  }

  test("equality on an indexed long column skips bound-overlapping files") {
    val lake = newLake()
    build(lake, "t")
    val all = lake.read("t")
    assert(all.inputFiles.length >= 3)
    // bounds overlap fully: without the bloom, equality keeps everything
    assert(lake.readWhere("t", col("uid") === 1234L).inputFiles.length ===
      all.inputFiles.length, "overlapping bounds must not prune pre-index")
    lake.buildBloomIndex("t", "uid", expectedItemsPerFile = 2000)
    assert(lake.bloomIndexedColumns("t") === Seq("uid"))
    val pruned = lake.readWhere("t", col("uid") === 1234L)
    assert(pruned.inputFiles.length < all.inputFiles.length,
      "bloom must skip files whose filter proves the value absent")
    assert(rows(pruned, "uid", "tag") === Set(Seq(1234L, "u1234")))
    // value in NO file: zero files planned
    assert(lake.readWhere("t", col("uid") === 999999L).inputFiles.isEmpty
      || lake.readWhere("t", col("uid") === 999999L).count() === 0L)
    // conjunction with another predicate still probes; OR branches don't
    assert(lake.readWhere("t", col("uid") === 1234L && col("n") >= 0)
      .inputFiles.length < all.inputFiles.length)
    val orKept = lake.readWhere("t", col("uid") === 1234L || col("n") === 3)
    assert(rows(orKept, "uid").size === rows(all.filter(
      col("uid") === 1234L || col("n") === 3), "uid").size,
      "a disjunct must stay conservative")
    // non-equality shapes on the indexed column keep (bounds rule only)
    assert(rows(lake.readWhere("t", col("uid") > 2990L), "uid") ===
      rows(all.filter(col("uid") > 2990L), "uid"))
  }

  test("string column index; appends after the build stay visible") {
    val lake = newLake()
    build(lake, "s")
    lake.buildBloomIndex("s", "tag", expectedItemsPerFile = 2000)
    val all = lake.read("s")
    val hit = lake.readWhere("s", col("tag") === "u77")
    assert(hit.inputFiles.length < all.inputFiles.length)
    assert(rows(hit, "uid") === Set(Seq(77L)))
    // a file added AFTER the build has no bloom entry → always kept
    lake.append("s", Seq((500000L, "fresh", 0)).toDF("uid", "tag", "n"))
    assert(rows(lake.readWhere("s", col("tag") === "fresh"), "uid") ===
      Set(Seq(500000L)), "post-build appends must not be skipped")
    // rebuild picks the new file up and keeps pruning exact
    lake.buildBloomIndex("s", "tag", expectedItemsPerFile = 2000)
    assert(rows(lake.readWhere("s", col("tag") === "fresh"), "uid") ===
      Set(Seq(500000L)))
    assert(lake.readWhere("s", col("tag") === "fresh").inputFiles.length === 1)
  }

  test("refreshBloomIndexes blooms ONLY the new files; pruning tight again") {
    val lake = newLake()
    build(lake, "r")
    lake.buildBloomIndex("r", "uid", expectedItemsPerFile = 2000)
    val indexedFiles = lake.read("r").inputFiles.length
    val prunedBefore = lake.readWhere("r", col("uid") === 1234L)
      .inputFiles.length
    // post-build appends whose uid bounds SPAN the whole range (so min/max
    // cannot prune them) are kept by the bloom layer — conservative
    lake.append("r", Seq((5L, "f1lo", 0), (599999L, "f1hi", 0))
      .toDF("uid", "tag", "n").coalesce(1))
    lake.append("r", Seq((6L, "f2lo", 0), (599998L, "f2hi", 0))
      .toDF("uid", "tag", "n").coalesce(1))
    assert(lake.readWhere("r", col("uid") === 1234L).inputFiles.length ===
      prunedBefore + 2, "unindexed fresh files must all be kept")
    // refresh covers exactly the two new files — no rebuild of the rest
    val n = lake.refreshBloomIndexes("r")
    assert(n === Map("uid" -> 2L), s"got $n")
    assert(lake.refreshBloomIndexes("r") === Map("uid" -> 0L),
      "second refresh finds nothing missing")
    val pruned = lake.readWhere("r", col("uid") === 1234L)
    assert(pruned.inputFiles.length < indexedFiles + 2,
      "after refresh the equality probe prunes the fresh files too")
    assert(rows(pruned, "uid", "tag") === Set(Seq(1234L, "u1234")))
    assert(rows(lake.readWhere("r", col("uid") === 599999L), "tag") ===
      Set(Seq("f1hi")), "refreshed entries must admit their own values")
    assert(lake.readWhere("r", col("uid") === 599999L).inputFiles.length === 1,
      "refreshed entries prune down to the single holding file")
  }

  test("SQL DSv2 scans and the DV read path probe the index too") {
    val lake = newLake()
    val wh = lake.warehouseDir
    spark.conf.set("spark.sql.catalog.blc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.blc.warehouse", wh)
    try {
      build(lake, "t")
      lake.buildBloomIndex("t", "uid", expectedItemsPerFile = 2000)
      // files the engine scan planned, from execution metrics (a session
      // with GraftExtensions reads every graft relation through it)
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        GraftPlanWalk.v1ScannedFiles(df.queryExecution.executedPlan).toInt
      }
      val allN = scannedFiles(spark.sql("SELECT * FROM blc.t"))
      val q = spark.sql("SELECT uid, tag FROM blc.t WHERE uid = 1234")
      val prunedN = scannedFiles(q)
      assert(prunedN > 0 && prunedN < allN, "SQL equality scan must bloom-prune")
      assert(q.collect().map(_.getString(1)).toSeq === Seq("u1234"))
      // merge-on-read: a live DV keeps bloom skipping (v1 path)
      lake.deleteWhere("t", col("uid") === 10L)
      assert(lake.liveDvs("t").nonEmpty)
      val dv = spark.sql("SELECT uid FROM blc.t WHERE uid = 1234")
      dv.collect()
      val planned = GraftPlanWalk.v1ScannedFiles(dv.queryExecution.executedPlan)
      assert(planned > 0 && planned < allN,
        s"DV read must keep bloom skipping (planned $planned of $allN)")
      assert(spark.sql("SELECT count(*) FROM blc.t WHERE uid = 10")
        .head().getLong(0) === 0L, "DV mask still applies on the pruned scan")
    } finally {
      spark.conf.unset("spark.sql.catalog.blc")
      spark.conf.unset("spark.sql.catalog.blc.warehouse")
    }
  }
}
