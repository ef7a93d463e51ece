package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Metadata-only DELETE contract: when manifest bounds + the zero-null
  * witness PROVE a file matches wholesale, `deleteWhere` retires the file
  * with a remove-only commit — no deletion vector, no rewrite, no data
  * scan — and everything downstream (time travel, restore, change feed,
  * counts) stays exact. Mixed/unprovable shapes must keep falling back to
  * the DV path; float/double and null-bearing columns must never prove. */
class MetadataDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-md").toString)
  }

  private def ids(df: DataFrame): Set[Int] =
    df.select(col("id")).collect().map(_.getInt(0)).toSet

  test("whole-partition DELETE drops files metadata-only: no DV, exact count") {
    val lake = newLake()
    lake.write("p", (1 to 30).map(i => (i, if (i <= 10) "old" else "new"))
      .toDF("id", "seg").repartition(2), partitions = Seq("seg"))
    val before = lake.dataFiles("p").size
    val oldFiles = lake.dataFiles("p").count(_.contains("seg=old"))
    assert(oldFiles > 0)
    assert(lake.deleteWhere("p", col("seg") === "old") === 10L)
    assert(lake.liveDvs("p").isEmpty,
      "a provable whole-partition delete must not write a deletion vector")
    assert(lake.dataFiles("p").size === before - oldFiles,
      "the covered partition's files leave the live set")
    assert(ids(lake.read("p")) === (11 to 30).toSet)
    assert(lake.history("p").collect().last.getString(2) === "delete")
    assert(lake.rowCountFast("p") === 20L, "metadata count stays exact")
  }

  test("range DELETE over range-clustered files; provable no-op costs no commit") {
    val lake = newLake()
    // three appends with disjoint id ranges = range-clustered files
    lake.append("t", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    lake.append("t", (101 to 200).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    lake.append("t", (201 to 300).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    val versions0 = lake.versions("t").size
    // provably matches nothing: zero jobs, zero commits
    assert(lake.deleteWhere("t", col("id") > 1000) === 0L)
    assert(lake.versions("t").size === versions0, "no-op delete must not commit")
    // fully covers the first two files, provably misses the third
    assert(lake.deleteWhere("t", col("id") <= 200) === 200L)
    assert(lake.liveDvs("t").isEmpty)
    assert(lake.dataFiles("t").size === 1)
    assert(ids(lake.read("t")) === (201 to 300).toSet)
  }

  test("mixed coverage falls back to the DV path; results identical") {
    val lake = newLake()
    lake.append("t", (1 to 100).map(i => (i, i)).toDF("id", "n").repartition(1))
    lake.append("t", (101 to 200).map(i => (i, i)).toDF("id", "n").repartition(1))
    // covers file 1 wholly but file 2 only partially -> single scan path
    assert(lake.deleteWhere("t", col("id") <= 150) === 150L)
    assert(lake.liveDvs("t").nonEmpty, "partial coverage stays merge-on-read")
    assert(ids(lake.read("t")) === (151 to 200).toSet)
  }

  test("a NULL in the referenced column blocks the proof; null rows survive") {
    val lake = newLake()
    lake.append("t", Seq((1, Some(5)), (2, Some(7)), (3, Option.empty[Int]))
      .toDF("id", "n").repartition(1))
    // bounds are [5,7] (parquet min/max ignore nulls) and every stored
    // value matches n < 10 — but row 3's NULL must keep it alive
    assert(lake.deleteWhere("t", col("n") < 10) === 2L)
    assert(lake.liveDvs("t").nonEmpty,
      "no zero-null witness -> no metadata drop -> DV path")
    assert(ids(lake.read("t")) === Set(3))
  }

  test("float/double columns never prove all-match (NaN hides outside bounds)") {
    val lake = newLake()
    lake.append("t", Seq((1, 1.5), (2, Double.NaN), (3, 2.5))
      .toDF("id", "x").repartition(1))
    // every non-NaN value is < 10, but NaN compares false to everything
    assert(lake.deleteWhere("t", col("x") < 10.0) === 2L)
    assert(ids(lake.read("t")) === Set(2), "the NaN row must survive")
  }

  test("rows a prior MoR delete masked are not double-counted") {
    val lake = newLake()
    lake.append("t", (1 to 100).map(i => (i, i)).toDF("id", "n").repartition(1))
    lake.append("t", (101 to 200).map(i => (i, i)).toDF("id", "n").repartition(1))
    assert(lake.deleteWhere("t", col("id") === 5) === 1L) // MoR: one DV entry
    assert(lake.liveDvs("t").nonEmpty)
    // now drop file 1 wholesale: 100 footer rows minus the masked one
    assert(lake.deleteWhere("t", col("id") <= 100) === 99L)
    assert(ids(lake.read("t")) === (101 to 200).toSet)
    assert(lake.liveDvs("t").isEmpty,
      "every DV entry referenced the dropped file: the inert sidecar " +
        "rides out in the same commit (nothing pins the anti-join plan)")
  }

  test("time travel, RESTORE and the change feed see through a metadata delete") {
    val lake = newLake()
    lake.append("t", (1 to 50).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    lake.append("t", (51 to 100).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    assert(lake.deleteWhere("t", col("id") === 7) === 1L) // MoR first
    assert(lake.deleteWhere("t", col("id") <= 50) === 49L) // then metadata
    val vs = lake.versions("t")
    assert(ids(lake.readVersion("t", vs(1))) === (1 to 100).toSet,
      "pre-delete snapshots read the removed file, still in data/")
    // change feed: the MoR commit emits id=7; the metadata-delete commit
    // emits the file's remaining 49 rows, NOT the already-masked id=7
    val feed = lake.tableChanges("t", vs(1), vs.last)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(feed.count(_._2 == "delete") === 50)
    assert(feed.filter(_._3 == vs(2)).map(_._1).toSet === Set(7))
    assert(feed.filter(_._3 == vs.last).map(_._1).toSet ===
      ((1 to 50).toSet - 7))
    lake.restore("t", vs(1))
    assert(ids(lake.read("t")) === (1 to 100).toSet,
      "restore re-references the removed file")
    assert(ids(lake.readVersion("t", vs.last)) === (51 to 100).toSet,
      "the post-delete snapshot still reads after the restore")
    assert(ids(lake.readVersion("t", vs(1))) === (1 to 100).toSet)
  }

  test("IS NULL prunes witnessed files; IS NOT NULL proves metadata deletes") {
    val lake = newLake()
    // file A: zero nulls (carries the witness); file B: one null in v
    lake.append("t", Seq((1, Some("a")), (2, Some("b")))
      .toDF("id", "v").repartition(1))
    lake.append("t", Seq((3, Option.empty[String]), (4, Some("d")))
      .toDF("id", "v").repartition(1))
    // read-side: the cleaning filter plans ONLY the null-bearing file
    assert(lake.readWhere("t", col("v").isNull).inputFiles.length === 1,
      "IS NULL must skip the zero-null-witnessed file")
    assert(ids(lake.readWhere("t", col("v").isNull)) === Set(3))
    assert(ids(lake.readWhere("t", !col("v").isNotNull)) === Set(3),
      "negation lowers over the null tests")
    // all files witnessed: IS NOT NULL wholesale-drops them, IS NULL is
    // a provable no-op with no commit
    val clean = newLake()
    clean.append("t", Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(1))
    clean.append("t", Seq((3, "c")).toDF("id", "v"))
    val versions0 = clean.versions("t").size
    assert(clean.deleteWhere("t", col("v").isNull) === 0L)
    assert(clean.versions("t").size === versions0, "provable no-op: no commit")
    assert(clean.deleteWhere("t", col("v").isNotNull) === 3L)
    assert(clean.liveDvs("t").isEmpty && clean.dataFiles("t").isEmpty,
      "IS NOT NULL over witnessed files is a pure metadata delete")
    // mixed: the null-bearing file blocks the proof, results stay exact
    assert(lake.deleteWhere("t", col("v").isNotNull) === 3L)
    assert(ids(lake.read("t")) === Set(3), "the null row survives")
  }

  test("TRUNCATE TABLE is one remove-only commit; time travel and feed survive") {
    GraftLake.invalidateCaches()
    val cat = "mdcat2"
    val wh = Files.createTempDirectory("graft-mdtrunc").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val lake = new GraftLake(spark, wh)
    lake.append("t", (1 to 10).map(i => (i, i)).toDF("id", "n").repartition(1))
    lake.deleteWhere("t", col("id") === 3) // a live DV the truncate must drop
    spark.sql(s"TRUNCATE TABLE $cat.t")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) === 0L)
    assert(lake.dataFiles("t").isEmpty && lake.liveDvs("t").isEmpty)
    assert(lake.history("t").collect().last.getString(2) === "truncate")
    val vs = lake.versions("t")
    assert(ids(lake.readVersion("t", vs(0))) === (1 to 10).toSet,
      "pre-truncate snapshots read the removed file, still in data/")
    // feed across the truncate: the 9 surviving rows emit as deletes
    // (id=3 was already emitted by the DV commit's slice)
    val feed = lake.tableChanges("t", vs(1), vs.last)
      .select(col("id"), col("_change_type")).collect()
    assert(feed.map(_.getInt(0)).toSet === ((1 to 10).toSet - 3))
    assert(feed.forall(_.getString(1) == "delete"))
    // idempotent: truncating an already-empty table commits nothing
    val n = lake.versions("t").size
    lake.truncate("t")
    assert(lake.versions("t").size === n)
    // writes after a truncate land normally
    spark.sql(s"INSERT INTO $cat.t (id, n) VALUES (99, 1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) === 1L)
  }

  test("truncate clears stranded inert DV sidecars under a feed-transparent op") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-mdstrand").toString
    val lake = new GraftLake(spark, wh)
    lake.write("p", (1 to 10).map(i => (i, i % 2)).toDF("id", "seg")
      .repartition(1), partitions = Seq("seg"))
    assert(lake.deleteWhere("p", col("id") === 3) === 1L) // a live DV
    // a file-less snapshot with the sidecar STRANDED live: the state the
    // partition-scoped copy-on-write DELETE of earlier engine versions
    // left behind (its rewrite kept the DVs), committed here as that
    // engine wrote it
    val next = lake.versions("p").last + 1
    Files.writeString(java.nio.file.Paths.get(wh, "p", "_versions", s"v$next.json"),
      GraftLake.renderManifest(next, lake.readMeta("p"), Nil, op = "replace-scoped",
        dvs = lake.liveDvs("p")))
    GraftLake.invalidateCaches()
    assert(lake.dataFiles("p").isEmpty)
    assert(lake.liveDvs("p").nonEmpty,
      "scenario setup: a file-less snapshot with a live DV")
    lake.truncate("p")
    assert(lake.liveDvs("p").isEmpty, "truncate reaps the stranded sidecar")
    assert(lake.history("p").collect().last.getString(2) === "dv-clear",
      "remove-nothing cleanup rides the feed-transparent op")
    val vs = lake.versions("p")
    // the feed resolves across the dv-clear commit (a logical no-op)
    assert(lake.tableChanges("p", vs(vs.size - 2), vs.last).count() === 0L)
    // truncating the now genuinely-empty table commits nothing
    lake.truncate("p")
    assert(lake.versions("p").size === vs.size)
  }

  test("partition-scoped SQL COW DML works while DVs are live") {
    GraftLake.invalidateCaches()
    val cat = "mdcat4"
    val wh = Files.createTempDirectory("graft-mdcow").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val lake = new GraftLake(spark, wh)
    lake.write("p", (1 to 8).map(i => (i, i % 2, i * 10)).toDF("id", "seg", "n")
      .repartition(1), partitions = Seq("seg"))
    assert(lake.deleteWhere("p", col("id") === 2) === 1L) // live DV
    // a subquery condition takes the row-level write over the DV-masked
    // target plan, re-bound to the statement's attributes
    spark.sql(s"UPDATE $cat.p SET n = n + 1 WHERE id % 2 = 1 AND " +
      "id IN (SELECT id FROM range(1, 9))")
    val rows = spark.sql(s"SELECT id, n FROM $cat.p ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq === Seq((1, 11), (3, 31), (4, 40), (5, 51), (6, 60),
      (7, 71), (8, 80)), "odd rows bumped, id=2 stays deleted")
  }

  test("a user column in the witness namespace cannot spoof proofs or pruning") {
    val lake = newLake()
    // file A: v non-null; file B: v null. The third column squats on the
    // reserved witness key for v — its own bounds entry must never be
    // recorded (footerStats dead-lists the name) and the table must stop
    // lowering null tests entirely (legacy manifests could carry one)
    lake.append("t", Seq((1, Some("a"), 5))
      .toDF("id", "v", "__graft_nn:v").repartition(1))
    lake.append("t", Seq((2, Option.empty[String], 6))
      .toDF("id", "v", "__graft_nn:v").repartition(1))
    assert(ids(lake.readWhere("t", col("v").isNull)) === Set(2),
      "the null row must never vanish behind a spoofed witness")
    assert(lake.readWhere("t", col("v").isNull).inputFiles.length === 2,
      "witness shadowed: null tests must not prune at all")
    assert(lake.deleteWhere("t", col("v").isNotNull) === 1L)
    assert(ids(lake.read("t")) === Set(2), "the null row survives the delete")
  }

  test("fileAllMatcher unit semantics: zero-null witness, bounds duals, OR/AND") {
    import org.apache.spark.sql.graft.PlanBridge._
    val nn = GraftLake.NoNullsPrefix
    def m(p: SimplePred) = GraftLake.fileAllMatcher(p, _ => true)
    val s = Map[String, GraftLake.Bounds](
      "a" -> GraftLake.NumBounds(5, 10),
      (nn + "a") -> GraftLake.NumBounds(0, 0),
      "b" -> GraftLake.NumBounds(3, 3), // bounds but NO zero-null witness
      "s" -> GraftLake.StrBounds("dd", "dz"),
      (nn + "s") -> GraftLake.NumBounds(0, 0))
    assert(m(PCmp(">=", "a", 5))(s) && m(PCmp("<=", "a", 10))(s))
    assert(!m(PCmp(">", "a", 5))(s) && !m(PCmp("<", "a", 10))(s))
    assert(!m(PCmp("=", "a", 5))(s), "= needs degenerate bounds")
    assert(!m(PCmp("=", "b", 3))(s), "no zero-null witness -> no proof")
    assert(m(PStr(">", "s", "d"))(s) && m(PStr("<", "s", "e"))(s))
    assert(!m(PStr("=", "s", "dd"))(s))
    assert(m(PAnd(PCmp(">=", "a", 5), PStr("<", "s", "e")))(s))
    assert(!m(PAnd(PCmp(">=", "a", 5), PCmp("=", "b", 3)))(s))
    assert(m(POr(PCmp(">", "a", 99), PCmp(">=", "a", 0)))(s))
    assert(!m(POr(PCmp(">", "a", 7), PCmp("<", "a", 8)))(s),
      "neither disjunct alone covers the range: unprovable (sound, not complete)")
    assert(!m(PUnknown)(s))
    assert(!m(PCmp(">=", "a", 5))(Map.empty), "no bounds -> no proof")
    // float/double columns never prove, even with bounds + witness
    assert(!GraftLake.fileAllMatcher(PCmp("<=", "a", 10), _ != "a")(s))
    // null tests: witness presence decides both directions
    assert(m(PNotNull("a"))(s) && !m(PNotNull("b"))(s))
    assert(!m(PNull("a"))(s) && !m(PNull("b"))(s), "all-null is unwitnessed")
    assert(m(PAnd(PCmp(">=", "a", 5), PNotNull("s")))(s))
    val keep = GraftLake.filePruner(PNull("a"))
    assert(!keep(s), "IS NULL skips a witnessed file")
    assert(GraftLake.filePruner(PNull("b"))(s), "no witness keeps the file")
    assert(GraftLake.filePruner(PNotNull("a"))(s), "IS NOT NULL never skips")
  }

  test("SQL DELETE takes the fast path in the DEFAULT mode (no conf set)") {
    GraftLake.invalidateCaches()
    val cat = "mdcat1"
    val wh = Files.createTempDirectory("graft-mdcat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // SQL DELETE takes the engine's route: the metadata-only drop is
    // probed before any scan, DV or rewrite
    val lake = new GraftLake(spark, wh)
    lake.append("t", (1 to 60).map(i => (i, i)).toDF("id", "n").repartition(1))
    lake.append("t", (61 to 120).map(i => (i, i)).toDF("id", "n").repartition(1))
    val files0 = lake.dataFiles("t").toSet
    spark.sql(s"DELETE FROM $cat.t WHERE id <= 60")
    assert(lake.liveDvs("t").isEmpty, "provable SQL DELETE: no DV")
    assert(lake.dataFiles("t").size === 1)
    assert(lake.dataFiles("t").toSet.subsetOf(files0),
      "the surviving file is the ORIGINAL file, not a rewrite")
    assert(lake.history("t").collect().last.getString(2) === "delete",
      "a remove-only delete commit, not a replace-scoped rewrite")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) === 60L)
    // a second provable DELETE fast-paths too
    spark.sql(s"DELETE FROM $cat.t WHERE id > 60")
    assert(lake.liveDvs("t").isEmpty && lake.dataFiles("t").isEmpty)
  }

  test("no rewrite-class operation renames or deletes a committed file") {
    val wh = Files.createTempDirectory("graft-mdfault").toString
    GraftLake.invalidateCaches()
    spark.sparkContext.hadoopConfiguration.set("fs.graftfault.impl",
      classOf[RecordingFs].getName)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.AbstractFileSystem.graftfault.impl", classOf[RecordingAfs].getName)
    val lake = new GraftLake(spark, s"graftfault://$wh")
    def batch(r: Range, tag: String) =
      r.map(i => (i, s"$tag$i")).toDF("id", "v")
    lake.write("t", batch(1 to 60, "a"), partitions = Seq("bucket(4, id)"),
      pks = Seq("id"))
    lake.append("t", batch(61 to 90, "a"))
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    def committed(): Set[String] = lake.versions("t")
      .flatMap(v => lake.snapshotFiles("t", v)._2).map(norm).toSet
    def dataOps(): Seq[String] = RecordingFs.ops.toArray.toSeq
      .map(_.toString).filter(_.contains("/t/data/"))
    RecordingFs.ops.clear()
    // metadata-only DELETE: the appended files provably all match
    assert(lake.deleteWhere("t", col("id") > 60) === 30L)
    assert(lake.liveDvs("t").isEmpty &&
      lake.history("t").collect().last.getString(2) === "delete")
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try {
      lake.upsert("t", batch(1 to 5, "u")) // the DV folds copy-on-write
      assert(lake.deleteWhere("t", col("id") === 7) === 1L) // past the bound
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
    assert(lake.liveDvs("t").isEmpty)
    lake.compact("t")
    lake.rebucket("t", 8)
    lake.rebuildPartitioned("t", Seq("bucket(2, id)"))
    val beforeTruncate = lake.versions("t").last
    lake.truncate("t")
    lake.restore("t", beforeTruncate)
    lake.overwriteContents("t", lake.read("t").filter(col("id") < 50))
    assert(ids(lake.read("t")) === (1 to 49).toSet - 7)
    // every removal changed only manifests: no rename moved a file out of
    // data/ and no delete touched one — each file any snapshot listed is
    // where its commit put it
    assert(dataOps().forall(_.startsWith("rename")) &&
      dataOps().forall(op => !committed().exists(f => op.contains(s"$f ->"))),
      s"data files moved or deleted: ${dataOps().filterNot(_.contains("/.stage-"))}")
    val all = committed()
    all.foreach(f => assert(new java.io.File(f).exists(), s"$f is gone"))
    assert(ids(lake.readVersion("t", 0L)) === (1 to 60).toSet,
      "the first snapshot reads its files, untouched by every rewrite")
    // only the vacuum deletes, and only what no retained snapshot lists
    RecordingFs.ops.clear()
    lake.expireSnapshots("t", keepLast = 1)
    val deleted = dataOps().filter(_.startsWith("delete")).map(_.stripPrefix("delete "))
    assert(deleted.nonEmpty && deleted.toSet.subsetOf(all -- committed()),
      s"vacuum deleted a retained file: ${deleted.toSet -- (all -- committed())}")
    // and repair, only orphans past the retention
    val live = lake.snapshotFiles("t", lake.versions("t").last)._2.map(norm)
    val orphan = new java.io.File(new java.io.File(live.head).getParent,
      "part-orphan-deadbeef-c000.snappy.parquet")
    Files.copy(new java.io.File(live.head).toPath, orphan.toPath)
    orphan.setLastModified(System.currentTimeMillis() - 60000L)
    RecordingFs.ops.clear()
    spark.conf.set("spark.graft.vacuum.stageRetentionMs", "0")
    try lake.repairTable("t")
    finally spark.conf.unset("spark.graft.vacuum.stageRetentionMs")
    assert(dataOps() === Seq(s"delete ${orphan.getPath}"))
    assert(ids(lake.read("t")) === (1 to 49).toSet - 7)
  }

  test("an unreadable policy table meta defers its policies; the write commits") {
    val wh = Files.createTempDirectory("graft-mdpolicy").toString
    GraftLake.invalidateCaches()
    spark.sparkContext.hadoopConfiguration.set("fs.graftfault.impl",
      classOf[RecordingFs].getName)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.AbstractFileSystem.graftfault.impl", classOf[RecordingAfs].getName)
    val lake = new GraftLake(spark, s"graftfault://$wh")
    lake.append("p", (1 to 10).map(i => (i, i)).toDF("id", "n"))
    lake.setTableProperty("p", "graft.policy.autoCompact.minFiles", "2")
    val versions = lake.versions("p").size
    val deferred = graft.metrics.GraftMetrics.op("policyDeferred").count.sum()
    // the meta turns unreadable right after the next commit's last step
    // (its `_last` hint), before the write's policy hook reads it
    val meta = new java.io.File(s"$wh/p/_graft_meta.json")
    val good = Files.readAllBytes(meta.toPath)
    RecordingFs.afterRename = dst => if (dst.endsWith("/p/_versions/_last")) {
      Files.write(meta.toPath, "{".getBytes("UTF-8"))
      GraftLake.invalidateCaches()
    }
    try lake.append("p", (11 to 20).map(i => (i, i)).toDF("id", "n"))
    finally RecordingFs.afterRename = _ => ()
    assert(lake.versions("p").size === versions + 1, "the write committed")
    assert(graft.metrics.GraftMetrics.op("policyDeferred").count.sum() > deferred)
    // with the meta readable again, the next write runs the compaction
    Files.write(meta.toPath, good)
    GraftLake.invalidateCaches()
    lake.append("p", (21 to 30).map(i => (i, i)).toDF("id", "n"))
    assert(lake.liveFileCount("p") === 1 && ids(lake.read("p")) === (1 to 30).toSet)
  }
}

/** The local filesystem under the `graftfault` scheme, recording every
  * rename (`rename <src> -> <dst>`) and delete (`delete <path>`) by
  * local path. */
class RecordingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfault:///")
  override def getScheme: String = "graftfault"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    RecordingFs.ops.add(s"rename ${src.toUri.getPath} -> ${dst.toUri.getPath}")
    val ok = super.rename(src, dst)
    RecordingFs.afterRename(dst.toUri.getPath)
    ok
  }
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    RecordingFs.ops.add(s"delete ${p.toUri.getPath}")
    super.delete(p, recursive)
  }
}

/** [[RecordingFs]] for `FileContext` callers (atomic replace-renames). */
class RecordingAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new RecordingFs, conf,
    "graftfault", false)

object RecordingFs {
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Runs after every rename with the destination's local path. */
  @volatile var afterRename: String => Unit = _ => ()
}
