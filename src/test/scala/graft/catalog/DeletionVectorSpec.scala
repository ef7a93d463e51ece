package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read DELETE contract: `deleteWhere` masks rows via deletion
  * vectors WITHOUT rewriting data files; every read path (current,
  * pruned, time travel, SQL) applies them; rewrites materialize them;
  * expiry vacuums unreferenced sidecars. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-dv").toString)
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("deleteWhere masks rows without touching a single data file") {
    val lake = newLake()
    lake.write("t", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val filesBefore = lake.dataFiles("t").sorted
    val n = lake.deleteWhere("t", col("id") % 10 === 0)
    assert(n === 10)
    assert(lake.dataFiles("t").sorted === filesBefore,
      "merge-on-read: the data file set must be unchanged")
    assert(lake.liveDvs("t").nonEmpty)
    assert(lake.read("t").count() === 90)
    assert(rows(lake.read("t"), "id").forall(s => s.head.asInstanceOf[Int] % 10 != 0))
  }

  test("delete is idempotent and cumulative; NULL condition keeps rows") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, null), (3, "c")).toDF("id", "v"))
    assert(lake.deleteWhere("t", col("v") === "zzz") === 0, "no match, no commit")
    assert(lake.liveDvs("t").isEmpty)
    assert(lake.deleteWhere("t", col("v") === "a") === 1)
    // NULL-valued condition keeps the row (SQL DELETE semantics)
    assert(lake.deleteWhere("t", col("v") =!= "c") === 0)
    assert(lake.deleteWhere("t", col("v") === "a") === 0,
      "already-deleted rows never re-enter a DV")
    assert(rows(lake.read("t"), "id") === Set(Seq(2), Seq(3)))
  }

  test("partitioned table: DV keys carry the partition rel and prune correctly") {
    val lake = newLake()
    // y-partition deliberately spans the predicate boundary so the delete
    // stays on the DV path (a fully-covered partition would take the
    // metadata-only fast path instead — MetadataDeleteSpec covers that)
    lake.write("p", Seq((1, "x", 10), (2, "x", 20), (3, "y", 30), (4, "y", 40))
      .toDF("id", "seg", "n").repartition(1), partitions = Seq("seg"))
    assert(lake.deleteWhere("p", col("n") >= 40 && col("seg") === "y") === 1)
    assert(lake.liveDvs("p").nonEmpty, "partial partition: merge-on-read")
    assert(rows(lake.read("p"), "id") === Set(Seq(1), Seq(2), Seq(3)))
    // readWhere (manifest-pruned path) also applies DVs
    assert(rows(lake.readWhere("p", col("n") > 0), "id") ===
      Set(Seq(1), Seq(2), Seq(3)))
  }

  test("time travel: snapshots before the delete still see the rows; after, not") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    lake.deleteWhere("t", col("id") === 2)
    val vs = lake.versions("t")
    assert(vs.size === 2)
    assert(rows(lake.readVersion("t", vs(0)), "id") === Set(Seq(1), Seq(2), Seq(3)))
    assert(rows(lake.readVersion("t", vs(1)), "id") === Set(Seq(1), Seq(3)))
  }

  test("upsert on a DV-carrying table: deleted PKs re-insert cleanly, survivors keep deletes") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), pks = Seq("id"))
    lake.deleteWhere("t", col("id") === 2)
    lake.write("t", Seq((2, "B!"), (4, "d")).toDF("id", "v"), pks = Seq("id"))
    assert(rows(lake.read("t"), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "B!"), Seq(3, "c"), Seq(4, "d")),
      "a deleted row must not resurrect beside its re-inserted PK")
  }

  test("compact materializes deletes and clears the DV set") {
    val lake = newLake()
    lake.write("t", (1 to 50).map(i => (i, i * 2)).toDF("id", "n"))
    lake.deleteWhere("t", col("id") <= 5)
    assert(lake.liveDvs("t").nonEmpty)
    lake.compact("t")
    assert(lake.liveDvs("t").isEmpty, "full rewrite folds DVs into the data")
    assert(lake.read("t").count() === 45)
    // deleted rows stay deleted through the rewrite
    assert(!rows(lake.read("t"), "id").contains(Seq(1)))
  }

  test("materializeDeletes rewrites only DV-carrying partitions") {
    val lake = newLake()
    lake.write("p", Seq((1, "x", 10), (2, "x", 20), (3, "y", 30), (4, "y", 40))
      .toDF("id", "seg", "n"), partitions = Seq("seg"))
    val yFilesBefore = lake.dataFiles("p").filter(_.contains("seg=y")).sorted
    val xFilesBefore = lake.dataFiles("p").filter(_.contains("seg=x")).sorted
    lake.deleteWhere("p", col("id") === 1)
    lake.materializeDeletes("p")
    assert(lake.liveDvs("p").isEmpty)
    assert(rows(lake.read("p"), "id") === Set(Seq(2), Seq(3), Seq(4)))
    assert(lake.dataFiles("p").filter(_.contains("seg=y")).sorted === yFilesBefore,
      "partition without deletes must be untouched")
    assert(lake.dataFiles("p").filter(_.contains("seg=x")).sorted !== xFilesBefore,
      "partition with deletes must be rewritten")
  }

  test("oversized DV set auto-materializes on delete") {
    val lake = newLake()
    lake.write("t", (1 to 200).map(i => (i, i)).toDF("id", "n"))
    spark.conf.set("spark.graft.dv.maxEntries", "10")
    try {
      // % does not lower to bounds, so this can never take the
      // metadata-only fast path — it must exercise auto-materialization
      lake.deleteWhere("t", col("id") % 4 =!= 0 && col("id") <= 66)
      assert(lake.liveDvs("t").isEmpty,
        "entry count over the threshold must trigger materialization")
      assert(lake.read("t").count() === 150)
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
  }

  test("a DELETE under a DV set above a lowered entry bound reads through it") {
    val lake = newLake()
    lake.write("t", (1 to 200).map(i => (i, i)).toDF("id", "n"))
    assert(lake.deleteWhere("t", col("id") % 10 === 0) === 20)
    assert(lake.liveDvs("t").nonEmpty)
    spark.conf.set("spark.graft.dv.maxEntries", "10")
    try {
      // the statement's live scan masks the 20 entries by an unhinted
      // anti-join; its own 20 hits then fold the table
      assert(lake.deleteWhere("t", col("id") % 10 <= 1) === 20)
      assert(lake.liveDvs("t").isEmpty)
      assert(lake.read("t").count() === 160)
      assert(lake.read("t").filter(col("id") % 10 <= 1).count() === 0)
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
  }

  // The fold runs exactly when the live DV entries exceed
  // spark.graft.dv.maxEntries, so it must not force a broadcast of them:
  // past the bound its mask is the anti-join adaptive execution picks, and
  // with size-based broadcasts off (an oversized set) that plan holds no
  // broadcast exchange.
  test("the DV fold past a lowered entry bound plans no broadcast of the DV set") {
    val lake = newLake()
    lake.write("p", (1 to 100).map(i => (i, if (i <= 50) "x" else "y"))
      .toDF("id", "seg"), partitions = Seq("seg"))
    assert(lake.deleteWhere("p", col("id") % 10 === 0) === 10)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.conf.set("spark.graft.dv.maxEntries", "5")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try org.apache.spark.sql.graft.JobTimeline.record(spark.sparkContext)(
      lake.materializeDeletes("p"))
    finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.graft.dv.maxEntries")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    import scala.jdk.CollectionConverters._
    val folds = plans.asScala.filter(_.contains("LeftAnti")).toSeq
    assert(folds.nonEmpty, plans.asScala.mkString("\n"))
    assert(!folds.exists(_.contains("BroadcastExchange")), folds.mkString("\n"))
    assert(lake.liveDvs("p").isEmpty)
    assert(lake.read("p").count() === 90)
  }

  test("expireSnapshots vacuums DV sidecars no kept snapshot references") {
    val lake = newLake()
    lake.write("t", (1 to 20).map(i => (i, i)).toDF("id", "n"))
    lake.deleteWhere("t", col("id") === 1)
    lake.compact("t") // clears DVs from the latest snapshot
    assert(lake.liveDvs("t").isEmpty)
    lake.expireSnapshots("t", keepLast = 1)
    val dvDir = new java.io.File(s"${lake.warehouseDir}/t/_dv")
    val left = Option(dvDir.listFiles()).map(_.toSeq).getOrElse(Nil)
    assert(left.isEmpty, s"unreferenced DV sidecars must be vacuumed, found $left")
  }

  test("expiry re-anchor keeps DVs resolvable when the chain base is dropped") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    lake.deleteWhere("t", col("id") === 2) // delta manifest carrying dvAdd
    lake.append("t", Seq((4, "d")).toDF("id", "v"))
    lake.expireSnapshots("t", keepLast = 2)
    GraftLake.invalidateCaches() // force a cold re-resolution from disk
    assert(rows(lake.read("t"), "id") === Set(Seq(1), Seq(3), Seq(4)))
  }

  test("SQL: SELECT, VERSION AS OF and merge-on-read DELETE FROM see through DVs") {
    val lake = newLake()
    val wh = lake.warehouseDir
    spark.conf.set("spark.sql.catalog.dvcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvcat.warehouse", wh)
    try {
      // one file spanning all ids: point deletes stay partial (DV path)
      lake.write("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
        .repartition(1))
      lake.deleteWhere("t", col("id") === 2)
      assert(spark.sql("SELECT id FROM dvcat.t ORDER BY id")
        .collect().map(_.getInt(0)).toSeq === Seq(1, 3))
      val v0 = lake.versions("t").head
      assert(spark.sql(s"SELECT count(*) AS n FROM dvcat.t VERSION AS OF $v0")
        .head().getLong(0) === 3)
      // aggregate through the DV plan
      assert(spark.sql("SELECT count(*) FROM dvcat.t").head().getLong(0) === 2)
      // SQL merge-on-read DELETE
      val files = lake.dataFiles("t").sorted
      spark.sql("DELETE FROM dvcat.t WHERE id = 3")
      assert(lake.dataFiles("t").sorted === files, "MOR SQL delete: no rewrite")
      assert(spark.sql("SELECT id FROM dvcat.t").collect()
        .map(_.getInt(0)).toSeq === Seq(1))
      // a copy-on-write SQL DELETE on a DV-carrying table must not
      // resurrect: a zero DV budget sends it down the fold
      spark.conf.set("spark.graft.dv.maxEntries", "0")
      try spark.sql("DELETE FROM dvcat.t WHERE id = 1")
      finally spark.conf.unset("spark.graft.dv.maxEntries")
      assert(lake.liveDvs("t").isEmpty, "the fold rewrote the file set")
      assert(spark.sql("SELECT count(*) FROM dvcat.t").head().getLong(0) === 0)
    } finally {
      spark.conf.unset("spark.sql.catalog.dvcat")
      spark.conf.unset("spark.sql.catalog.dvcat.warehouse")
    }
  }

  // files actually read by the (v1) DV-applied scan, from execution
  // metrics. AQE wraps executed subtrees in QueryStageExec nodes whose
  // inner plan is a FIELD, not a child — a plain collect() finds nothing
  // under them, so recurse through the stage boundaries explicitly.
  private def v1ScannedFiles(df: DataFrame): Long = {
    df.collect()
    GraftPlanWalk.v1ScannedFiles(df.queryExecution.executedPlan)
  }

  test("manifest file skipping SURVIVES live deletion vectors") {
    val lake = newLake()
    val wh = lake.warehouseDir
    spark.conf.set("spark.sql.catalog.dvp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvp.warehouse", wh)
    try {
      // three appends with disjoint id ranges — three files with disjoint
      // manifest bounds
      def batch(base: Int) = (1 to 80).map(i => (base + i, s"v${base + i}"))
        .toDF("id", "v")
      lake.append("t", batch(0))
      lake.append("t", batch(1000))
      lake.append("t", batch(2000))
      lake.deleteWhere("t", col("id") === 1005)
      assert(lake.liveDvs("t").nonEmpty)
      val total = lake.dataFiles("t").length
      assert(total >= 3)
      // selective predicate over the DV-carrying table: strictly fewer
      // files planned than the table holds, results still DV-masked
      val mid = spark.sql(
        s"SELECT id FROM dvp.t WHERE id BETWEEN 1001 AND 1080 ORDER BY id")
      val nMid = v1ScannedFiles(mid)
      assert(nMid >= 1 && nMid < total,
        s"a live DV must not disable manifest file skipping (planned $nMid of $total)")
      assert(mid.collect().map(_.getInt(0)).toSeq ===
        ((1001 to 1080).toSeq.filterNot(_ == 1005)))
      // provably-disjoint range plans ZERO files (v1 can express an
      // empty scan, unlike the v2 pruned path)
      assert(v1ScannedFiles(
        spark.sql(s"SELECT id FROM dvp.t WHERE id > 900000")) === 0L)
      // unselective scan still sees every surviving row
      assert(spark.sql(s"SELECT count(*) FROM dvp.t").head().getLong(0) === 239L)
      // VERSION AS OF: the snapshot read prunes against ITS bounds too
      val v1 = lake.versions("t").last
      val tt = spark.sql(s"SELECT id FROM dvp.t VERSION AS OF $v1 " +
        "WHERE id BETWEEN 2001 AND 2080")
      val nTt = v1ScannedFiles(tt)
      assert(nTt >= 1 && nTt < total, s"VERSION AS OF planned $nTt of $total")
      assert(tt.collect().length === 80)
    } finally {
      spark.conf.unset("spark.sql.catalog.dvp")
      spark.conf.unset("spark.sql.catalog.dvp.warehouse")
    }
  }

  test("SQL writes and subqueries compose with live DVs") {
    val lake = newLake()
    val wh = lake.warehouseDir
    spark.conf.set("spark.sql.catalog.dvw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvw.warehouse", wh)
    try {
      lake.write("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
      lake.write("u", Seq((2, "x"), (3, "y"), (4, "z")).toDF("id", "w"))
      lake.deleteWhere("t", col("id") === 2)
      // INSERT INTO a DV-carrying table: append must work and must not
      // disturb the masks
      spark.sql("INSERT INTO dvw.t (id, v) VALUES (9, 'i')")
      assert(spark.sql("SELECT id FROM dvw.t ORDER BY id").collect()
        .map(_.getInt(0)).toSeq === Seq(1, 3, 9))
      // the DV table INSIDE a subquery expression: the masked id (2)
      // must not leak through IN (...)
      assert(spark.sql(
        "SELECT id FROM dvw.u WHERE id IN (SELECT id FROM dvw.t) ORDER BY id")
        .collect().map(_.getInt(0)).toSeq === Seq(3))
      // a DELETE whose condition carries a subquery masks its hits over the
      // re-bound scan (byName retargeting can't carry a resolved subquery),
      // same results
      spark.sql("DELETE FROM dvw.u WHERE id IN (SELECT id FROM dvw.t)")
      assert(spark.sql("SELECT id FROM dvw.u ORDER BY id").collect()
        .map(_.getInt(0)).toSeq === Seq(2, 4))
      // the fold of a SQL DELETE's DV (forced by a zero DV budget) is a
      // full file-set replace on an unpartitioned table: it must CLEAR the
      // now-inert DV entries, restoring the plain pruned DSv2 scan
      spark.conf.set("spark.graft.dv.maxEntries", "0")
      try spark.sql("DELETE FROM dvw.t WHERE id = 9")
      finally spark.conf.unset("spark.graft.dv.maxEntries")
      assert(lake.liveDvs("t").isEmpty,
        "full-table COW rewrite must clear inert DV entries")
      assert(spark.sql("SELECT id FROM dvw.t ORDER BY id").collect()
        .map(_.getInt(0)).toSeq === Seq(1, 3))
    } finally {
      spark.conf.unset("spark.sql.catalog.dvw")
      spark.conf.unset("spark.sql.catalog.dvw.warehouse")
    }
  }

  test("partition values that URI-encode: DV keys resolve against the manifest") {
    // DV keys come from `_metadata.file_path`, URI-encoded ("b%20c");
    // manifest keys and directories are not ("b c"). Every consumer that
    // meets the two must decode, or it misses the DV'd files
    val lake = newLake()
    val segs = Seq("a", "b c", "d/e%f")
    lake.write("t", (0 until 90).map(i => (i, segs(i % 3), s"v$i"))
      .toDF("id", "seg", "s"), partitions = Seq("seg"))
    lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions("t").last
    // sorted, not a set: a resurrected row shows as a duplicate id
    def ids() = lake.read("t").select("id").collect().map(_.getInt(0)).toSeq.sorted
    assert(lake.deleteWhere("t", col("id") % 5 === 0) === 18)
    assert(lake.liveDvs("t").nonEmpty, "a partial hit set takes the DV route")
    var expected = (0 until 90).filterNot(_ % 5 == 0)
    assert(ids() === expected)
    // the change feed reads the DV'd rows back from the files they name
    assert(lake.tableChanges("t", v0, lake.versions("t").last)
      .filter(col("_change_type") === "delete").count() === 18)
    // the DV update re-inserts from the files holding its hits
    assert(lake.updateWhere("t", col("seg") === "d/e%f" && col("id") < 30,
      Map("s" -> lit("U"))) === 8)
    assert(ids() === expected)
    assert(lake.read("t").filter(col("s") === "U").count() === 8)
    // dropping one partition metadata-only keeps the other partitions'
    // DVs live, the update's sidecar (only "d/e%f" entries) included
    val dvs = lake.liveDvs("t").size
    lake.deleteWhere("t", col("seg") === "b c")
    assert(lake.liveDvs("t").size === dvs, "no DV written, none dropped")
    expected = expected.filterNot(_ % 3 == 1)
    assert(ids() === expected)
    // materializing folds the DVs into the data, never drops them
    lake.materializeDeletes("t")
    assert(lake.liveDvs("t").isEmpty)
    assert(ids() === expected)
    assert(lake.read("t").filter(col("s") === "U").count() === 8)
  }

  test("oversized DELETE folds copy-on-write, scoped to hit partitions") {
    val lake = newLake()
    lake.write("p", (1 to 100).map(i => (i, if (i <= 50) "x" else "y", i))
      .toDF("id", "seg", "n"), partitions = Seq("seg"))
    val yBefore = lake.dataFiles("p").filter(_.contains("seg=y")).sorted
    spark.conf.set("spark.graft.dv.maxEntries", "5")
    try {
      val n = lake.deleteWhere("p", col("seg") === "x" && col("n") <= 20)
      assert(n === 20)
      assert(lake.liveDvs("p").isEmpty,
        "an above-budget DV set must never be committed")
      assert(lake.read("p").count() === 80)
      assert(lake.dataFiles("p").filter(_.contains("seg=y")).sorted === yBefore,
        "partitions without hits must be untouched by the COW fallback")
      // under-budget delete still takes the DV path afterwards
      spark.conf.set("spark.graft.dv.maxEntries", "1000")
      val files = lake.dataFiles("p").sorted
      assert(lake.deleteWhere("p", col("n") === 30) === 1)
      assert(lake.dataFiles("p").sorted === files)
      assert(lake.liveDvs("p").nonEmpty)
      assert(lake.read("p").count() === 79)
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
  }

  test("catalog without GraftExtensions refuses DV-carrying tables") {
    val lake = newLake()
    // one file holding both rows: the delete is partial, so it must take
    // the DV path (single-row files would metadata-drop and leave no DV)
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(1))
    lake.write("clean", Seq((7, "ok")).toDF("id", "v"))
    lake.deleteWhere("t", col("id") === 1)
    // a bare session on the same context, WITHOUT the extensions: its
    // analyzer lacks the DV rule, so a plain DSv2 scan would silently
    // resurrect deleted rows — loadTable must refuse instead
    val SS = org.apache.spark.sql.SparkSession
    SS.clearActiveSession(); SS.clearDefaultSession()
    val bare = try SS.builder().master("local[2]").getOrCreate()
    finally { SS.setDefaultSession(spark); SS.setActiveSession(spark) }
    try {
      assert(bare ne spark)
      bare.conf.set("spark.sql.catalog.dvb", classOf[GraftCatalog].getName)
      bare.conf.set("spark.sql.catalog.dvb.warehouse", lake.warehouseDir)
      // non-DV table reads fine
      assert(bare.sql("SELECT count(*) FROM dvb.clean").head().getLong(0) === 1L)
      val e = intercept[Exception] {
        bare.sql("SELECT * FROM dvb.t").collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("deletion vectors")),
        s"expected the DV fail-fast, got: $e")
      // the session WITH extensions still reads it correctly
      assert(rows(lake.read("t"), "id") === Set(Seq(2)))
    } finally {
      SS.setDefaultSession(spark); SS.setActiveSession(spark)
    }
  }

  test("repairTable preserves deletion vectors") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    lake.deleteWhere("t", col("id") === 1)
    lake.repairTable("t")
    assert(rows(lake.read("t"), "id") === Set(Seq(2)),
      "repair adopts the directory but must carry the DV set forward")
  }

  test("updateWhere masks old rows and re-inserts updated rows in ONE commit") {
    val lake = newLake()
    lake.write("t", (1 to 100).map(i => (i, i * 10)).toDF("id", "n"))
    val filesBefore = lake.dataFiles("t").toSet
    val versionsBefore = lake.versions("t").size
    val n = lake.updateWhere("t", col("id") <= 20,
      Map("n" -> (col("n") + 1)))
    assert(n === 20)
    val filesAfter = lake.dataFiles("t").toSet
    assert(filesBefore.subsetOf(filesAfter) && filesAfter.size > filesBefore.size,
      "merge-on-read UPDATE must only add files, never rewrite")
    assert(lake.versions("t").size === versionsBefore + 1,
      "data files + DV must land in ONE commit")
    assert(lake.liveDvs("t").nonEmpty)
    assert(lake.read("t").count() === 100, "update must not change row count")
    assert(rows(lake.read("t").filter(col("id") <= 20), "n") ===
      (1 to 20).map(i => Seq(i * 10 + 1)).toSet)
    assert(rows(lake.read("t").filter(col("id") > 20), "n") ===
      (21 to 100).map(i => Seq(i * 10)).toSet)
    // no match → no commit; NULL condition keeps rows
    assert(lake.updateWhere("t", col("id") > 1000, Map("n" -> lit(0))) === 0)
    assert(lake.versions("t").size === versionsBefore + 1)
  }

  test("updateWhere: simultaneous assignment evaluates against the OLD row") {
    val lake = newLake()
    lake.write("t", Seq((1, 10, 20), (2, 30, 40)).toDF("id", "a", "b"))
    assert(lake.updateWhere("t", col("id") === 1,
      Map("a" -> col("b"), "b" -> col("a"))) === 1)
    assert(rows(lake.read("t"), "id", "a", "b") ===
      Set(Seq(1, 20, 10), Seq(2, 30, 40)), "a/b must swap, not cascade")
    // assignment value casts to the column's landed type
    assert(lake.updateWhere("t", col("id") === 2, Map("a" -> lit("7"))) === 1)
    assert(rows(lake.read("t").filter(col("id") === 2), "a") === Set(Seq(7)))
  }

  test("updateWhere chains: a second update sees the first's re-inserts") {
    val lake = newLake()
    lake.write("t", Seq((1, 100), (2, 200)).toDF("id", "n"))
    assert(lake.updateWhere("t", col("id") === 1, Map("n" -> (col("n") + 1))) === 1)
    assert(lake.updateWhere("t", col("id") === 1, Map("n" -> (col("n") + 1))) === 1)
    assert(rows(lake.read("t"), "id", "n") === Set(Seq(1, 102), Seq(2, 200)))
    assert(lake.read("t").count() === 2)
  }

  test("updateWhere across partitions: rows relocate, old partitions untouched") {
    val lake = newLake()
    lake.write("p", Seq((1, "x", 10), (2, "x", 20), (3, "y", 30))
      .toDF("id", "seg", "n"), partitions = Seq("seg"))
    val xBefore = lake.dataFiles("p").filter(_.contains("seg=x")).sorted
    assert(lake.updateWhere("p", col("id") === 2, Map("seg" -> lit("y"))) === 1)
    assert(lake.dataFiles("p").filter(_.contains("seg=x")).sorted === xBefore,
      "source partition files must not be rewritten")
    assert(rows(lake.read("p"), "id", "seg") ===
      Set(Seq(1, "x"), Seq(2, "y"), Seq(3, "y")))
    assert(rows(lake.readWhere("p", col("seg") === "y"), "id") ===
      Set(Seq(2), Seq(3)), "pruned read sees the moved row in its new partition")
    assert(rows(lake.readWhere("p", col("seg") === "x"), "id") === Set(Seq(1)),
      "pruned read of the old partition must not resurrect the moved row")
  }

  test("oversized UPDATE folds copy-on-write; engine rejects bad assignments") {
    val lake = newLake()
    lake.write("t", (1 to 50).map(i => (i, i)).toDF("id", "n"))
    spark.conf.set("spark.graft.dv.maxEntries", "5")
    try {
      assert(lake.updateWhere("t", col("id") <= 30, Map("n" -> lit(-1))) === 30)
      assert(lake.liveDvs("t").isEmpty,
        "an above-budget DV set must never be committed")
      assert(lake.read("t").filter(col("n") === -1).count() === 30)
      assert(lake.read("t").count() === 50)
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
    intercept[IllegalArgumentException] {
      lake.updateWhere("t", lit(true), Map("nope" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      lake.updateWhere("t", lit(true), Map.empty)
    }
  }

  test("SQL merge-on-read UPDATE: no rewrite; subqueries fall back to COW") {
    val lake = newLake()
    val wh = lake.warehouseDir
    spark.conf.set("spark.sql.catalog.dvu", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvu.warehouse", wh)
    try {
      lake.write("t", Seq((1, 10), (2, 20), (3, 30)).toDF("id", "n"))
      val files = lake.dataFiles("t").toSet
      spark.sql("UPDATE dvu.t SET n = n * 2 WHERE id >= 2")
      assert(files.subsetOf(lake.dataFiles("t").toSet), "MoR SQL update: no rewrite")
      assert(lake.liveDvs("t").nonEmpty)
      assert(rows(lake.read("t"), "id", "n") ===
        Set(Seq(1, 10), Seq(2, 40), Seq(3, 60)))
      // subquery condition → the same DV write over the re-bound scan
      spark.sql("UPDATE dvu.t SET n = 0 WHERE id IN (SELECT 1)")
      assert(files.subsetOf(lake.dataFiles("t").toSet), "subquery update: no rewrite")
      assert(rows(lake.read("t"), "id", "n") ===
        Set(Seq(1, 0), Seq(2, 40), Seq(3, 60)))
    } finally {
      spark.conf.unset("spark.sql.catalog.dvu")
      spark.conf.unset("spark.sql.catalog.dvu.warehouse")
    }
  }

  test("a GraftExtensions session reads every graft relation through the engine scan") {
    val lake = newLake()
    spark.conf.set("spark.sql.catalog.dvmemo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvmemo.warehouse", lake.warehouseDir)
    try {
      lake.write("t", (1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
      // a clean table too: the plan scans the manifest's files through
      // the engine's v1 scan, never the catalog's DSv2 parquet table
      val q = spark.sql("SELECT count(*) FROM dvmemo.t")
      assert(q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.isEmpty, "no DSv2 scan may plan")
      val scanned = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.toSet
      }.flatten.toSet
      assert(scanned === lake.dataFiles("t").toSet)
      assert(q.head().getLong(0) === 50)
      // a DV commit is seen by the very next analysis
      lake.deleteWhere("t", col("id") === 1)
      assert(spark.sql("SELECT count(*) FROM dvmemo.t").head().getLong(0) === 49)
      lake.materializeDeletes("t")
      assert(spark.sql("SELECT count(*) FROM dvmemo.t").head().getLong(0) === 49)
      // and a renamed logical name resolves (the engine read aliases it)
      lake.renameColumn("t", "v", "val")
      assert(spark.sql("SELECT val FROM dvmemo.t WHERE id = 2")
        .head().getString(0) === "v2")
    } finally {
      spark.conf.unset("spark.sql.catalog.dvmemo")
      spark.conf.unset("spark.sql.catalog.dvmemo.warehouse")
    }
  }
}
