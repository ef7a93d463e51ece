package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftLake.tableChanges]] contract: the change feed is derived from
  * commit metadata alone — append commits yield their files as inserts,
  * merge-on-read commits yield their new DV entries as deletes (an
  * UPDATE yields preimages + postimages), logically no-op rewrites
  * (compact) contribute nothing, and rewrite-class commits fail fast.
  * The reconciliation invariant: state(from) plus the feed's inserts
  * minus its deletes IS state(to). */
class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-cf").toString)
  }

  private def feedRows(df: DataFrame): Set[(Int, String, String, Long)] =
    df.select(col("id"), col("v"), col(GraftLake.ChangeTypeCol),
        col(GraftLake.CommitVersionCol))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  test("append-only window: each commit's files are its inserts") {
    val lake = newLake()
    lake.append("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    lake.append("t", Seq((3, "c")).toDF("id", "v"))
    lake.append("t", Seq((4, "d")).toDF("id", "v"))
    val vs = lake.versions("t")
    val feed = lake.tableChanges("t", vs.head, vs.last)
    assert(feedRows(feed) === Set(
      (3, "c", "insert", vs(1)), (4, "d", "insert", vs(2))))
  }

  test("MoR delete and update: DV entries are deletes / pre-post pairs") {
    val lake = newLake()
    lake.append("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val v0 = lake.versions("t").head
    assert(lake.deleteWhere("t", col("id") === 2) === 1L)
    val vDel = lake.versions("t").last
    assert(lake.updateWhere("t", col("id") === 3,
      Map("v" -> lit("C2"))) === 1L)
    val vUpd = lake.versions("t").last
    val feed = lake.tableChanges("t", v0, vUpd)
    // a MoR UPDATE pairs exactly: its DV entries are the preimages, its
    // added files the postimages — same commit, by construction
    assert(feedRows(feed) === Set(
      (2, "b", "delete", vDel),
      (3, "c", "update_preimage", vUpd),
      (3, "C2", "update_postimage", vUpd)))
  }

  test("compaction in the window is logically invisible; retired files still read") {
    val lake = newLake()
    lake.append("t", Seq((1, "a")).toDF("id", "v").repartition(1))
    val v0 = lake.versions("t").head
    lake.append("t", Seq((2, "b")).toDF("id", "v").repartition(1))
    // compaction retires BOTH appended files — the feed must skip the
    // churn and recover the second append's rows from _history/
    lake.compact("t")
    lake.append("t", Seq((3, "c")).toDF("id", "v").repartition(1))
    val vs = lake.versions("t")
    val feed = lake.tableChanges("t", v0, vs.last)
    assert(feed.filter(col(GraftLake.ChangeTypeCol) =!= "insert").isEmpty)
    assert(feedRows(feed).map(r => (r._1, r._2, r._3)) ===
      Set((2, "b", "insert"), (3, "c", "insert")))
  }

  test("rewrite-class commit in the window fails fast") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    val v0 = lake.versions("t").head
    lake.write("t", Seq((2, "B2")).toDF("id", "v"), pks = Seq("id"))
    val vs = lake.versions("t")
    val e = intercept[IllegalArgumentException] {
      lake.tableChanges("t", v0, vs.last).collect()
    }
    assert(e.getMessage.contains("snapshotDiff"))
  }

  test("empty window returns an empty frame with the feed schema") {
    val lake = newLake()
    lake.append("t", Seq((1, "a")).toDF("id", "v"))
    val v = lake.versions("t").head
    val feed = lake.tableChanges("t", v, v)
    assert(feed.isEmpty)
    assert(feed.columns.contains(GraftLake.ChangeTypeCol) &&
      feed.columns.contains(GraftLake.CommitVersionCol))
  }

  test("provenance: rows attribute to their landing commit; DVs excluded; rewrites re-attribute") {
    val lake = newLake()
    lake.append("t", Seq((1, "a")).toDF("id", "v").repartition(1))
    val v0 = lake.versions("t").head
    lake.append("t", Seq((2, "b"), (3, "c")).toDF("id", "v").repartition(1))
    val v1 = lake.versions("t").last
    val p = lake.readWithProvenance("t")
    val vIdx = p.columns.indexOf(GraftLake.CommitVersionCol)
    assert(p.collect().map(r => (r.getInt(0), r.getLong(vIdx))).toSet ===
      Set((1, v0), (2, v1), (3, v1)))
    assert(p.columns.contains(GraftLake.SourceFileCol))
    lake.deleteWhere("t", col("id") === 2)
    assert(lake.readWithProvenance("t").select("id").collect()
      .map(_.getInt(0)).toSet === Set(1, 3))
    // a rewrite re-attributes file-granular provenance to the rewrite
    // commit (documented; _inserted_at keeps the row-level ingest time)
    lake.compact("t")
    val vC = lake.versions("t").last
    assert(lake.readWithProvenance("t")
      .select(GraftLake.CommitVersionCol).collect()
      .map(_.getLong(0)).toSet === Set(vC))
  }

  test("provenance after RESTORE: a re-added file attributes once, no row fan-out") {
    val lake = newLake()
    lake.append("t", Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(1))
    val v0 = lake.versions("t").head
    lake.overwriteContents("t",
      Seq((9, "z")).toDF("id", "v")
        .withColumn("_inserted_at", current_timestamp()))
    lake.restore("t", v0) // the original file re-references by identity
    val vR = lake.versions("t").last
    val p = lake.readWithProvenance("t")
    // LAST-WINS attribution: one row per table row, attributed to the
    // restore commit (the commit that made the file live again)
    assert(p.count() === 2L, "a duplicate attribution key must not fan out")
    assert(p.select(GraftLake.CommitVersionCol).collect()
      .map(_.getLong(0)).toSet === Set(vR))
  }

  test("metadata row count: footer stats minus live DVs; inert entries don't subtract") {
    val lake = newLake()
    lake.write("p", (1 to 60).map(i => (i, i % 2, s"v$i")).toDF("id", "seg", "v"),
      partitions = Seq("seg"))
    def check(): Unit = {
      val fast = lake.rowCountFromStats("p")
      assert(fast.isDefined, "live files must carry the row-count stat")
      assert(fast.get === lake.read("p").count())
    }
    check()
    assert(lake.deleteWhere("p", col("id") <= 6) === 6L)
    check()
    // rewrite ONLY seg 0: its files retire but the partition-scoped
    // rewrite keeps the DV set — entries for retired files are inert and
    // must not subtract from the metadata count
    lake.compact("p", predicate = Some(col("seg") === 0))
    check()
    lake.append("p", Seq((100, 0, "x")).toDF("id", "seg", "v"))
    check()
  }

  test("change capture: an upsert window attributes exactly (pre/post/insert)") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions("t").last
    lake.upsert("t", Seq((2, "B2"), (3, "c")).toDF("id", "v"))
    val v1 = lake.versions("t").last
    val feed = lake.tableChanges("t", v0, v1)
    assert(feedRows(feed) === Set(
      (2, "b", "update_preimage", v1),
      (2, "B2", "update_postimage", v1),
      (3, "c", "insert", v1)))
    // the untouched row (1,a) must NOT appear: carried-over rows in the
    // rewritten files are not changes
    assert(feed.filter(col("id") === 1).isEmpty)
  }

  test("feed windows below a depth rebuild keep their deletes (DV keys " +
      "resolve under each commit's own layout depth)") {
    // DV keys are path-depth-derived; a later REPLACE TABLE ...
    // PARTITIONED BY depth change must not make an older MoR window's
    // delete rows silently vanish from the feed (or from time travel)
    val lake = newLake()
    lake.write("t", (0 until 100).map(i => (i.toLong,
        java.sql.Date.valueOf(f"202${i % 3}%d-01-15"), s"v$i"))
      .toDF("id", "d", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions("t").last
    assert(lake.deleteWhere("t", col("id") === 7L) === 1L) // depth-1 DV
    val v1 = lake.versions("t").last
    val before = lake.tableChanges("t", v0, v1)
      .select("id", GraftLake.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(before === Set((7L, "delete")))
    val vDel = lake.versions("t").last
    // depth 1 -> 2 rebuild (materializes the DV, rewrites everything)
    lake.rebuildPartitioned("t", Seq("bucket(4, id)", "year(d)"))
    // the historical window still attributes its delete exactly
    val after = lake.tableChanges("t", v0, v1)
      .select("id", GraftLake.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === Set((7L, "delete")),
      s"the old-depth window lost its delete after the rebuild: $after")
    // and time travel below the rebuild applies the old-depth masks
    assert(lake.readVersion("t", vDel).count() === 99)
    assert(lake.readVersion("t", vDel).filter(col("id") === 7L).isEmpty)
  }

  test("overwriteContents with duplicate-PK contents: last-wins dedup, " +
      "exact-once landing and feed") {
    // the engine API accepts ANY DataFrame — duplicate keys must not
    // land the PK twice nor fan out the derived-capture full-outer diff
    // into duplicated pre/postimages
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions("t").last
    lake.overwriteContents("t",
      Seq((1, "x1"), (4, "n1"), (1, "x2"), (4, "n2")).toDF("id", "v")
        .coalesce(1) // deterministic arrival order: later row wins
        .withColumn("_inserted_at", current_timestamp()))
    val landed = lake.read("t").select("id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(landed === Set((1, "x2"), (4, "n2")),
      s"last-wins dedup before the keyed diff; got $landed")
    assert(lake.read("t").groupBy("id").count()
      .filter(col("count") > 1).isEmpty, "no duplicate PKs land")
    val v1 = lake.versions("t").last
    assert(feedRows(lake.tableChanges("t", v0, v1)) === Set(
      (1, "a", "update_preimage", v1),
      (1, "x2", "update_postimage", v1),
      (4, "n2", "insert", v1),
      (2, "b", "delete", v1)), "one attribution per key, no fan-out")
  }

  // an UPDATE or DELETE past spark.graft.dv.maxEntries commits its DV and
  // change files, then folds the DV in a feed-transparent materialize
  test("change capture: an oversized DML attributes at its own commit") {
    val lake = newLake()
    lake.write("p", (0 until 40).map(i => (i, i % 2, s"v$i"))
      .toDF("id", "seg", "v"), partitions = Seq("seg"), pks = Seq("id"))
    lake.setTableProperty("p", TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions("p").last
    def dmlVersion(op: String): Long = {
      val ops = lake.history("p").select("version", "operation").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(ops.takeRight(2).map(_._2) === Seq(op, "materialize"), ops)
      ops.init.last._1
    }
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try {
      assert(lake.updateWhere("p", col("id") === 7,
        Map("v" -> lit("U7"))) === 1L)
      val vUpd = dmlVersion("update")
      assert(lake.deleteWhere("p", col("id") === 8) === 1L)
      val vDel = dmlVersion("delete")
      assert(lake.liveDvs("p").isEmpty, "the fold leaves no DV")
      val feed = lake.tableChanges("p", v0, lake.versions("p").last)
      assert(feedRows(feed) === Set(
        (7, "v7", "update_preimage", vUpd),
        (7, "U7", "update_postimage", vUpd),
        (8, "v8", "delete", vDel)))
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
  }

  test("change capture off: the upsert window still fails fast") {
    val lake = newLake()
    lake.write("t", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    val v0 = lake.versions("t").last
    lake.write("t", Seq((1, "A2")).toDF("id", "v"), pks = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      lake.tableChanges("t", v0, lake.versions("t").last).collect()
    }
    assert(e.getMessage.contains(TableMeta.CdfEnabledKey))
  }

  test("change capture: vacuum keeps retained windows' change files, reaps expired") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    lake.upsert("t", Seq((1, "A2")).toDF("id", "v")) // captured rewrite 1
    val vMid = lake.versions("t").last
    lake.upsert("t", Seq((2, "B2")).toDF("id", "v")) // captured rewrite 2
    val vLast = lake.versions("t").last
    val chg = new java.io.File(s"${lake.warehouseDir}/t/_changes")
    assert(chg.listFiles().count(_.getName.endsWith(".parquet")) >= 2)
    // keep the last two snapshots: rewrite 2's window stays readable,
    // rewrite 1's change files become unreferenced and are reaped
    lake.expireSnapshots("t", keepLast = 2)
    val after = chg.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after >= 1 && after < 2 + 1,
      s"expired change files must be vacuumed (left $after)")
    val feed = lake.tableChanges("t", vMid, vLast)
    assert(feedRows(feed) === Set(
      (2, "b", "update_preimage", vLast),
      (2, "B2", "update_postimage", vLast)))
  }

  test("vacuum reaps CRASHED writers' stage droppings, age-gated") {
    val lake = newLake()
    lake.append("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    lake.append("t", Seq((3, "c")).toDF("id", "v"))
    val td = new java.io.File(s"${lake.warehouseDir}/t")
    val stale = new java.io.File(td, ".stage-dead-writer")
    val fresh = new java.io.File(td, ".chgstage-live-writer")
    stale.mkdirs(); fresh.mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    lake.expireSnapshots("t", keepLast = 1)
    assert(!stale.exists(), "a day-old crashed stage must be vacuumed")
    assert(fresh.exists(), "a live writer's fresh stage must be spared")
    assert(lake.read("t").count() === 3)
    fresh.delete()
  }

  test("reconciliation: state(from) + inserts - deletes = state(to)") {
    val lake = newLake()
    val base = (1 to 200).map(i => (i, s"v$i"))
    lake.append("t", base.toDF("id", "v"))
    val v0 = lake.versions("t").head
    lake.append("t", (201 to 260).map(i => (i, s"v$i")).toDF("id", "v"))
    lake.deleteWhere("t", col("id") % 7 === 0)
    lake.updateWhere("t", col("id") % 11 === 3,
      Map("v" -> concat(col("v"), lit("!"))))
    val vN = lake.versions("t").last
    val feed = lake.tableChanges("t", v0, vN)
    val from = lake.readVersion("t", v0).select("id", "v")
    val ins = feed.filter(col(GraftLake.ChangeTypeCol)
        .isin("insert", "update_postimage"))
      .select("id", "v")
    val del = feed.filter(col(GraftLake.ChangeTypeCol)
        .isin("delete", "update_preimage"))
      .select("id", "v")
    val reconstructed = from.unionByName(ins).exceptAll(del)
    val to = lake.readVersion("t", vN).select("id", "v")
    assert(reconstructed.exceptAll(to).isEmpty &&
      to.exceptAll(reconstructed).isEmpty)
  }
}
