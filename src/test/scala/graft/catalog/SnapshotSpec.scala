package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot / time-travel contract: every data mutation commits a
  * manifest, replaced files retire instead of dying, `readVersion`
  * reconstructs any committed state (including pre-evolution schemas),
  * and `expireSnapshots` bounds retained history. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-snap").toString)
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("shallow clone: zero-copy pinned reference; vacuum refuses; unpin on drop/materialize") {
    val lake = newLake()
    lake.write("s", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v"),
      pks = Seq("id"))
    lake.shallowClone("s", "c", Some(0L))
    // ZERO bytes copied: the clone dir has no data files of its own
    assert(new java.io.File(s"${lake.warehouseDir}/c/data")
      .listFiles() == null, "shallow clone must copy no data files")
    assert(rows(lake.read("c"), "id", "v") ===
      (1 to 100).map(i => Seq(i, s"v$i")).toSet)
    // (a) vacuum of pinned files REFUSES: evolve + rewrite the source,
    // then expire — the pinned snapshot stays resolvable
    lake.write("s", Seq((1, "CHANGED")).toDF("id", "v"), pks = Seq("id"))
    lake.deleteWhere("s", col("id") > 90)
    lake.expireSnapshots("s", 1)
    assert(lake.versions("s").contains(0L),
      "pinned snapshot manifest must survive expireSnapshots")
    // (b) the clone survives source evolution — incl. the rewrite that
    // removed version 0's files from the live set
    assert(rows(lake.read("c"), "id", "v") ===
      (1 to 100).map(i => Seq(i, s"v$i")).toSet,
      "clone must read the PINNED snapshot, untouched by evolution")
    // read-only until materialized
    intercept[IllegalArgumentException] {
      lake.write("c", Seq((999, "x")).toDF("id", "v"), pks = Seq("id"))
    }
    intercept[IllegalArgumentException](lake.deleteWhere("c", col("id") === 1))
    // the pinned SOURCE cannot be dropped from under the clone
    intercept[IllegalArgumentException](lake.dropTable("s"))
    // (c) materializing releases the pin; the clone becomes independent
    lake.materializeClone("c")
    assert(lake.pins("s").isEmpty, "materialize must unpin")
    lake.expireSnapshots("s", 1)
    assert(!lake.versions("s").contains(0L),
      "unpinned snapshot must expire on the next vacuum")
    assert(rows(lake.read("c"), "id", "v") ===
      (1 to 100).map(i => Seq(i, s"v$i")).toSet,
      "materialized clone is independent of the vacuumed source")
    // now writable
    lake.write("c", Seq((999, "x")).toDF("id", "v"), pks = Seq("id"))
    assert(lake.read("c").count() === 101)
    // and the source can finally be dropped
    lake.dropTable("s")
    assert(!lake.tableExists("s") && lake.read("c").count() === 101)
  }

  test("shallow clone SQL: CREATE TABLE ... SHALLOW CLONE; SELECT reads the pin; writes refused") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-shsql").toString
    val lake = new GraftLake(spark, wh)
    spark.conf.set("spark.sql.catalog.shc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.shc.warehouse", wh)
    try {
      lake.write("s", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
      lake.write("s", Seq((2, "B2")).toDF("id", "v"), pks = Seq("id"))
      spark.sql("CREATE TABLE shc.c SHALLOW CLONE shc.s VERSION AS OF 0")
      assert(lake.pins("s") === Map("c" -> 0L))
      assert(spark.sql("SELECT id, v FROM shc.c ORDER BY id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq ===
        Seq((1, "a"), (2, "b")), "SQL SELECT must read the pinned snapshot")
      val e = intercept[Exception] {
        spark.sql("INSERT INTO shc.c VALUES (3, 'x', NULL)")
      }
      assert(e.getMessage.contains("does not support") ||
        e.getMessage.contains("SHALLOW"), e.getMessage)
      // deep CLONE of a shallow clone is refused with guidance
      val e2 = intercept[Exception] {
        spark.sql("CREATE TABLE shc.c2 CLONE shc.c")
      }
      assert(e2.getMessage.contains("materialize"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.shc")
      spark.conf.unset("spark.sql.catalog.shc.warehouse")
    }
  }

  test("upsert history: each write is a version; old versions read back exactly") {
    val lake = newLake()
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.write("t", Seq((2, "B2"), (3, "c")).toDF("id", "v"), pks = Seq("id"))
    lake.write("t", Seq((1, "A3")).toDF("id", "v"), pks = Seq("id"))
    val vs = lake.versions("t")
    assert(vs.size === 3, s"one version per write, got $vs")
    assert(rows(lake.readVersion("t", vs(0)), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "b")))
    assert(rows(lake.readVersion("t", vs(1)), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "B2"), Seq(3, "c")))
    assert(rows(lake.readVersion("t", vs(2)), "id", "v") ===
      rows(lake.read("t"), "id", "v"))
  }

  test("partitioned upsert: snapshot survives rows moving across partitions") {
    val lake = newLake()
    lake.write("p", Seq((1, "x", 10), (2, "y", 20)).toDF("id", "seg", "n"),
      partitions = Seq("seg"), pks = Seq("id"))
    // move id=1 from seg x to seg y — the x partition dir is rewritten
    lake.write("p", Seq((1, "y", 11)).toDF("id", "seg", "n"),
      partitions = Seq("seg"), pks = Seq("id"))
    val vs = lake.versions("p")
    assert(rows(lake.readVersion("p", vs(0)), "id", "seg", "n") ===
      Set(Seq(1, "x", 10), Seq(2, "y", 20)))
    assert(rows(lake.read("p"), "id", "seg", "n") ===
      Set(Seq(1, "y", 11), Seq(2, "y", 20)))
  }

  test("snapshots carry their own schema: pre-evolution reads have no new column") {
    val lake = newLake()
    lake.write("e", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    lake.write("e", Seq((2, "b", 9.5)).toDF("id", "v", "score"), pks = Seq("id"))
    val vs = lake.versions("e")
    val v0 = lake.readVersion("e", vs(0))
    assert(!v0.columns.contains("score"),
      s"pre-evolution snapshot must use its own schema: ${v0.columns.toSeq}")
    assert(rows(v0, "id", "v") === Set(Seq(1, "a")))
    val cur = lake.read("e")
    assert(cur.columns.contains("score"))
    assert(rows(cur.filter(col("id") === 1), "score") === Set(Seq(null)))
  }

  test("compaction commits a version and does not break older snapshots") {
    val lake = newLake()
    lake.write("c", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    lake.write("c", Seq((2, "b")).toDF("id", "v"), pks = Seq("id"))
    val before = lake.versions("c")
    lake.compact("c")
    val after = lake.versions("c")
    assert(after.size === before.size + 1)
    assert(rows(lake.readVersion("c", before.head), "id", "v") === Set(Seq(1, "a")))
    assert(rows(lake.readVersion("c", after.last), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "b")))
  }

  test("expireSnapshots drops old manifests and vacuums unreferenced history") {
    val lake = newLake()
    lake.write("x", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    lake.write("x", Seq((1, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.write("x", Seq((1, "c")).toDF("id", "v"), pks = Seq("id"))
    val vs = lake.versions("x")
    lake.expireSnapshots("x", keepLast = 1)
    assert(lake.versions("x") === Seq(vs.last))
    val err = intercept[IllegalArgumentException] {
      lake.readVersion("x", vs.head)
    }
    assert(err.getMessage.contains("no snapshot"))
    // the current version still reads, and its manifest still resolves
    assert(rows(lake.read("x"), "id", "v") === Set(Seq(1, "c")))
    assert(rows(lake.readVersion("x", vs.last), "id", "v") === Set(Seq(1, "c")))
  }

  test("history audit: vacuum leaves exactly the kept-version references in data/") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-snap").toString
    val lake = new GraftLake(spark, wh)
    // rewrite churn: with no DV budget every upsert commits, then folds its
    // DV into the files, removing the previous file from the live set
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try for (i <- 1 to 6)
      lake.write("h", Seq((1, s"v$i"), (2, s"w$i")).toDF("id", "v"),
        pks = Seq("id"))
    finally spark.conf.unset("spark.graft.dv.maxEntries")
    val vacuumedBefore = graft.metrics.GraftMetrics.dataFilesVacuumed.sum()
    // the last three upserts: each one commit plus its fold
    lake.expireSnapshots("h", keepLast = 5)
    val kept = lake.versions("h")
    assert(kept.size === 5)
    // normalize to the path below data/ — snapshot resolution and the
    // raw directory walk may differ in scheme qualification
    def relData(p: String): Option[String] = {
      val i = p.indexOf("/data/")
      if (i < 0) None else Some(p.substring(i + "/data/".length))
    }
    val referenced = kept
      .flatMap(v => lake.snapshotFiles("h", v)._2).flatMap(relData).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val dd = new org.apache.hadoop.fs.Path(s"$wh/h/data")
    val dfs = dd.getFileSystem(conf)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      if (!dfs.exists(p)) Nil
      else dfs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s.getPath.toString))
    val dataFiles = walk(dd).filter(_.endsWith(".parquet")).flatMap(relData).toSet
    // equality BOTH ways: no unreferenced file survives the vacuum (storage
    // is retention-bounded — it cannot grow with rewrite churn between
    // expires), and no still-referenced file was lost
    assert(dataFiles === referenced,
      s"data/ after vacuum must hold exactly the kept-version references;" +
        s" extra=${dataFiles -- referenced} missing=${referenced -- dataFiles}")
    assert(referenced.size > lake.liveFileCount("h"),
      "the kept window must still reference replaced files")
    assert(graft.metrics.GraftMetrics.dataFilesVacuumed.sum() > vacuumedBefore,
      "the vacuum sensor observes deleted data files")
    // the kept snapshots still reconstruct exactly
    assert(rows(lake.readVersion("h", kept.head), "id", "v") ===
      Set(Seq(1, "v4"), Seq(2, "w4")))
    assert(rows(lake.readVersion("h", kept.last), "id", "v") ===
      Set(Seq(1, "v6"), Seq(2, "w6")))
  }

  test("SQL VERSION AS OF reads a snapshot through the catalog") {
    val wh = Files.createTempDirectory("graft-snap-sql").toString
    GraftLake.invalidateCaches()
    spark.conf.set("spark.sql.catalog.gsnap", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnap.warehouse", wh)
    val lake = new GraftLake(spark, wh)
    lake.write("sqlt", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.write("sqlt", Seq((2, "B2")).toDF("id", "v"), pks = Seq("id"))
    val v0 = spark.sql("SELECT id, v FROM gsnap.sqlt VERSION AS OF 0")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(v0 === Set((1, "a"), (2, "b")))
    val cur = spark.sql("SELECT id, v FROM gsnap.sqlt")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(cur === Set((1, "a"), (2, "B2")))
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM gsnap.sqlt VERSION AS OF 99").collect()
    }
    assert(err.getMessage.contains("no snapshot"), err.getMessage)
  }

  test("SQL TIMESTAMP AS OF resolves the snapshot live at that instant") {
    val wh = Files.createTempDirectory("graft-snap-ts").toString
    GraftLake.invalidateCaches()
    spark.conf.set("spark.sql.catalog.gts", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gts.warehouse", wh)
    try {
      val lake = new GraftLake(spark, wh)
      lake.write("t", Seq((1, "a")).toDF("id", "v"))
      Thread.sleep(60) // commit-file mtimes must be distinguishable
      lake.append("t", Seq((2, "b")).toDF("id", "v"))
      // instants come from the engine's OWN history (the same mtime
      // source versionAt resolves against), so the test is clock-robust
      val ts = lake.history("t").orderBy(col("version"))
        .collect().map(_.getTimestamp(1))
      assert(ts.length === 2 && ts(0).getTime < ts(1).getTime,
        s"need distinguishable commit instants, got ${ts.toSeq}")
      def at(t: java.sql.Timestamp): Set[Int] =
        spark.sql(s"SELECT id FROM gts.t TIMESTAMP AS OF '$t'")
          .collect().map(_.getInt(0)).toSet
      assert(at(ts(0)) === Set(1), "instant of commit 0 (inclusive)")
      assert(at(ts(1)) === Set(1, 2), "instant of commit 1")
      assert(at(new java.sql.Timestamp(ts(1).getTime + 60000)) === Set(1, 2),
        "future instants read the latest snapshot")
      assert(lake.versionAt("t", ts(1).getTime - 1) === 0L)
      val err = intercept[Exception] {
        spark.sql(s"SELECT * FROM gts.t TIMESTAMP AS OF " +
          s"'${new java.sql.Timestamp(ts(0).getTime - 60000)}'").collect()
      }
      assert(err.getMessage.contains("no snapshot at or before"),
        err.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.gts")
      spark.conf.unset("spark.sql.catalog.gts.warehouse")
    }
  }

  test("cloneTable: deep snapshot clone — stats carried, DVs copied, source-independent") {
    val wh = Files.createTempDirectory("graft-clone").toString
    GraftLake.invalidateCaches()
    spark.conf.set("spark.sql.catalog.gcl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    try {
      val lake = new GraftLake(spark, wh)
      lake.write("t", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")), pks = Seq("id"))
      lake.deleteWhere("t", col("id") % 10 === 0)
      assert(lake.liveDvs("t").nonEmpty)
      lake.cloneTable("t", "c", None)
      assert(lake.read("c").count() === 90, "clone sees DV-masked state")
      assert(lake.liveDvs("c").nonEmpty, "DV sidecars copied")
      assert(lake.readMeta("c").pks === Seq("id"), "registry copied")
      // stats carried: the clone's pruned read plans fewer files without
      // ever having read a footer of its own
      val all = lake.read("c").inputFiles.length
      assert(lake.readWhere("c", col("id") < 5).inputFiles.length < all,
        "manifest bounds must have carried into the clone")
      // SQL surface + versioned clone
      spark.sql("CREATE TABLE gcl.c0 CLONE gcl.t VERSION AS OF 0")
      assert(spark.sql("SELECT count(*) FROM gcl.c0").head().getLong(0) === 100)
      // true independence: drop the SOURCE entirely — clones keep reading
      lake.dropTable("t")
      assert(lake.read("c").count() === 90)
      assert(lake.read("c0").count() === 100)
      // and clones evolve on their own
      lake.append("c", Seq((999, "z")).toDF("id", "v"))
      assert(lake.read("c").count() === 91)
      intercept[IllegalArgumentException](lake.cloneTable("c", "c", None))
      intercept[IllegalArgumentException](lake.cloneTable("c", "c0", None))
      // a VERSIONED clone materializes the SNAPSHOT's schema, matching
      // VERSION AS OF semantics: rename the column after the clone point
      // and the clone must still present the snapshot-era name
      val vBefore = lake.versions("c").last
      lake.renameColumn("c", "v", "val")
      lake.cloneTable("c", "cr", Some(vBefore))
      assert(lake.read("cr").columns.contains("v") &&
        !lake.read("cr").columns.contains("val"),
        "versioned clone must carry the snapshot-era logical schema")
      assert(lake.read("cr").count() === 91)
    } finally {
      spark.conf.unset("spark.sql.catalog.gcl")
      spark.conf.unset("spark.sql.catalog.gcl.warehouse")
    }
  }

  test("readAppendsBetween: exact new rows on an append-only table") {
    val lake = newLake()
    lake.write("log", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    lake.append("log", Seq((3, "c")).toDF("id", "v"))
    lake.append("log", Seq((4, "d")).toDF("id", "v"))
    val vs = lake.versions("log")
    assert(vs.size === 3)
    assert(rows(lake.readAppendsBetween("log", vs(0), vs(2)), "id", "v") ===
      Set(Seq(3, "c"), Seq(4, "d")))
    assert(rows(lake.readAppendsBetween("log", vs(1), vs(2)), "id", "v") ===
      Set(Seq(4, "d")))
    assert(lake.readAppendsBetween("log", vs(2), vs(2)).count() === 0L)
    intercept[IllegalArgumentException] {
      lake.readAppendsBetween("log", vs(2), vs(0))
    }
  }

  test("model check: every snapshot of a mixed op sequence reconstructs exactly") {
    val lake = newLake()
    // deterministic pseudo-random sequence of upserts/appends/compactions
    // against an in-memory model; every committed version must read back
    // as the model state at that point
    var model = Map.empty[Long, String]
    val states = scala.collection.mutable.ArrayBuffer.empty[Map[Long, String]]
    def upsert(kvs: (Long, String)*): Unit = {
      lake.write("mc", kvs.toSeq.toDF("id", "v"), pks = Seq("id"))
      model ++= kvs; states += model
    }
    val rnd = new scala.util.Random(42)
    // the CREATING write appends verbatim (upsert dedup starts once the
    // table pre-exists — reference semantics), so seed with unique keys
    upsert((0L to 3L).map(k => k -> s"seed-$k"): _*)
    for (step <- 1 to 12) {
      if (step % 5 == 0) {
        lake.compact("mc", targetRecordsPerFile = 3)
        states += model // compaction must not change contents
      } else {
        val kvs = (1 to 1 + rnd.nextInt(3)).map(_ =>
          (rnd.nextInt(8).toLong, s"s$step-${rnd.nextInt(100)}"))
        upsert(kvs: _*)
      }
    }
    val vs = lake.versions("mc")
    assert(vs.size === states.size,
      s"one version per mutation: ${vs.size} vs ${states.size}")
    vs.zip(states).foreach { case (v, expected) =>
      val got = lake.readVersion("mc", v).select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected, s"snapshot $v diverged from the model")
    }
    // retention sweep keeps the tail healthy
    lake.expireSnapshots("mc", keepLast = 2)
    val kept = lake.versions("mc")
    assert(kept.size === 2)
    assert(lake.readVersion("mc", kept.last).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === model)
  }

  test("parallel writers on different tables commit consistent snapshots") {
    val lake = newLake()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (0 until 4).map { t =>
      Future {
        for (i <- 1 to 3)
          lake.write(s"pt$t", Seq((i, s"t$t-$i")).toDF("id", "v"), pks = Seq("id"))
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    (0 until 4).foreach { t =>
      assert(lake.versions(s"pt$t").size === 3,
        s"table pt$t must have one snapshot per write")
      assert(rows(lake.read(s"pt$t"), "id", "v") ===
        (1 to 3).map(i => Seq(i, s"t$t-$i")).toSet)
    }
  }

  test("stale .stage/.old debris from a crashed writer never corrupts reads or commits") {
    val lake = newLake()
    lake.write("cr", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    // simulate a writer that died mid-swap: orphan stage + old dirs with
    // plausible parquet droppings inside the table dir
    val wh = lake.read("cr").inputFiles.head
      .replaceAll("/data/.*$", "")
    for (junk <- Seq(".stage-deadbeef", ".old-deadbeef")) {
      val dir = java.nio.file.Paths.get(new java.net.URI(s"$wh/$junk"))
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("part-junk.parquet"), "not parquet")
    }
    assert(rows(lake.read("cr"), "id", "v") === Set(Seq(1, "a")),
      "reads must ignore dot-dir debris")
    lake.write("cr", Seq((2, "b")).toDF("id", "v"), pks = Seq("id"))
    assert(rows(lake.read("cr"), "id", "v") === Set(Seq(1, "a"), Seq(2, "b")))
    val vs = lake.versions("cr")
    assert(rows(lake.readVersion("cr", vs.head), "id", "v") === Set(Seq(1, "a")),
      "snapshots must not pick up debris either")
  }

  test("repairTable reaps orphan part files past the retention; no read sees them") {
    val lake = newLake()
    lake.write("rp", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    // simulate a writer that landed a part file but died before its
    // manifest commit: copy a valid same-schema file in under a new name
    val dataDir = java.nio.file.Paths.get(
      new java.net.URI(lake.read("rp").inputFiles.head)).getParent
    val src = java.nio.file.Files.list(dataDir)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val orphan = dataDir.resolve("part-orphan-deadbeef-c000.snappy.parquet")
    java.nio.file.Files.copy(src, orphan)
    // the manifest is the only live-file list: no read, cold or not,
    // current or time travel, sees uncommitted debris
    graft.catalog.GraftLake.invalidateCaches()
    assert(lake.read("rp").count() === 1, "a current read ignores the orphan")
    assert(lake.readVersion("rp", lake.versions("rp").last).count() === 1)
    // within the retention a live writer's file may look like debris:
    // repair keeps it
    val v1 = lake.repairTable("rp")
    assert(java.nio.file.Files.exists(orphan))
    assert(lake.readVersion("rp", v1).count() === 1, "repair adopts nothing")
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    spark.conf.set("spark.graft.vacuum.stageRetentionMs", "60000")
    try lake.repairTable("rp")
    finally spark.conf.unset("spark.graft.vacuum.stageRetentionMs")
    assert(!java.nio.file.Files.exists(orphan), "an old orphan is reaped")
    assert(java.nio.file.Files.exists(src), "the committed file stays")
    assert(rows(lake.read("rp"), "id", "v") === Set(Seq(1, "a")))
  }

  test("schemaHistory: column growth tracked per version") {
    val lake = newLake()
    lake.write("h", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    lake.write("h", Seq((2, "b", 1.5)).toDF("id", "v", "score"), pks = Seq("id"))
    val hist = lake.schemaHistory("h")
    assert(hist.map(_._3) === Seq(3, 4),
      s"id+v+_inserted_at then +score: ${hist.map(h => (h._1, h._3))}")
    assert(hist.last._4.contains("score"))
    assert(!hist.head._4.contains("score"))
  }

  test("graft-cdf feed=appends tails an append-only table exactly once per row") {
    val lake = newLake()
    lake.write("stream_log", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val q = spark.readStream.format("graft-cdf")
      .option("warehouse", lake.warehouseDir).option("table", "stream_log")
      .option("feed", "appends").option("startingVersion", "snapshot")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("lake_tail")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-tail-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      lake.append("stream_log", Seq((3, "c")).toDF("id", "v"))
      q.processAllAvailable()
      val got = spark.table("lake_tail").select("id", "v").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      assert(got.toSeq.sorted === Seq((1, "a"), (2, "b"), (3, "c")),
        s"each appended row must stream exactly once: ${got.toSeq}")
    } finally q.stop()
  }

  test("colliding part-file names across partition dirs: time travel stays exact") {
    val lake = newLake()
    // ONE task writing BOTH partitions: the dynamic-partition writer
    // resets its file counter per partition, so seg=x and seg=y get
    // identically named part files from the same job — the case a file
    // identity keyed by name alone would silently corrupt
    lake.write("coll",
      Seq((1, "x", 10), (2, "y", 20)).toDF("id", "seg", "n").coalesce(1),
      partitions = Seq("seg"), pks = Seq("id"))
    // rewrite BOTH partitions in one upsert whose DV folds at once (no DV
    // budget) — both same-named originals must stay readable side by side
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try lake.write("coll",
      Seq((1, "x", 11), (2, "y", 21)).toDF("id", "seg", "n").coalesce(1),
      partitions = Seq("seg"), pks = Seq("id"))
    finally spark.conf.unset("spark.graft.dv.maxEntries")
    val vs = lake.versions("coll")
    assert(rows(lake.readVersion("coll", vs(0)), "id", "seg", "n") ===
      Set(Seq(1, "x", 10), Seq(2, "y", 20)),
      "v0 must read its own files, not a history survivor of a name collision")
    assert(rows(lake.readVersion("coll", vs(1)), "id", "seg", "n") ===
      Set(Seq(1, "x", 11), Seq(2, "y", 21)))
    // both removed files stay at their own partition rel in data/
    val v0Files = lake.snapshotFiles("coll", vs(0))._2
    assert(v0Files.size === 2, s"v0 lists one file per partition: $v0Files")
    v0Files.foreach(f => assert(new java.io.File(
      new org.apache.hadoop.fs.Path(f).toUri.getPath).exists(), s"$f was moved"))
  }

  test("manifests are O(delta) between checkpoints; resolution equals the directory") {
    val lake = newLake()
    lake.write("inc", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    lake.append("inc", Seq((3, "c")).toDF("id", "v"))
    lake.append("inc", Seq((4, "d")).toDF("id", "v"))
    lake.write("inc", Seq((2, "B")).toDF("id", "v"), pks = Seq("id"))
    val vs = lake.versions("inc")
    val wh = lake.read("inc").inputFiles.head.replaceAll("/data/.*$", "")
    def manifest(v: Long): String = java.nio.file.Files.readString(
      java.nio.file.Paths.get(new java.net.URI(s"$wh/_versions/v$v.json")))
    assert(manifest(vs.head).contains("\"files\""), "v0 is a full checkpoint")
    // appends between checkpoints commit deltas whose size is the delta,
    // not the table: one added file, nothing removed, no full list
    val delta = manifest(vs(1))
    assert(!delta.contains("\"files\""), s"append commit must be a delta: $delta")
    assert(delta.contains("\"add\"") && delta.contains("\"base\":0"), delta)
    // incremental resolution == the actual data directory, every version
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val (_, latestFiles) = lake.snapshotFiles("inc", vs.last)
    assert(latestFiles.map(norm).toSet === lake.read("inc").inputFiles.map(norm).toSet,
      "latest snapshot resolution must equal the live directory")
    assert(rows(lake.readVersion("inc", vs.last), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "B"), Seq(3, "c"), Seq(4, "d")))
  }

  test("a full checkpoint lands every checkpointInterval commits") {
    val lake = newLake()
    lake.write("ckpt", Seq((0, "seed")).toDF("id", "v"))
    for (i <- 1 to GraftLake.checkpointInterval + 1)
      lake.append("ckpt", Seq((i, s"r$i")).toDF("id", "v"))
    val wh = lake.read("ckpt").inputFiles.head.replaceAll("/data/.*$", "")
    def manifest(v: Long): String = java.nio.file.Files.readString(
      java.nio.file.Paths.get(new java.net.URI(s"$wh/_versions/v$v.json")))
    val k = GraftLake.checkpointInterval
    assert(manifest(k).contains("\"files\""),
      s"v$k must be a full checkpoint (delta chain bounded)")
    assert(!manifest(k - 1).contains("\"files\""), s"v${k - 1} stays a delta")
    assert(!manifest(k + 1).contains("\"files\""), s"v${k + 1} restarts the chain")
    // chain resolution across the checkpoint boundary is exact
    assert(lake.readVersion("ckpt", k + 1).count() === (k + 2).toLong)
    assert(lake.readVersion("ckpt", 3).count() === 4L)
  }

  test("cold-start commit (empty caches) resolves the previous manifest chain") {
    val wh = Files.createTempDirectory("graft-snap-cold").toString
    GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, wh)
    lake.write("cold", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    lake.write("cold", Seq((2, "b")).toDF("id", "v"), pks = Seq("id"))
    // a different engine instance with cold caches continues the history
    GraftLake.invalidateCaches()
    val lake2 = new GraftLake(spark, wh)
    lake2.write("cold", Seq((3, "c")).toDF("id", "v"), pks = Seq("id"))
    val vs = lake2.versions("cold")
    assert(vs.size === 3)
    assert(rows(lake2.readVersion("cold", vs(0)), "id", "v") === Set(Seq(1, "a")))
    assert(rows(lake2.readVersion("cold", vs(2)), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
  }

  test("expireSnapshots re-anchors the oldest kept delta as a full checkpoint") {
    val lake = newLake()
    lake.write("anchor", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    lake.write("anchor", Seq((1, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.write("anchor", Seq((1, "c")).toDF("id", "v"), pks = Seq("id"))
    lake.write("anchor", Seq((1, "d")).toDF("id", "v"), pks = Seq("id"))
    val vs = lake.versions("anchor")
    // keep the last two — the oldest kept (v2) is a delta whose chain ran
    // through v0/v1, which are about to be deleted
    lake.expireSnapshots("anchor", keepLast = 2)
    assert(lake.versions("anchor") === vs.takeRight(2))
    assert(rows(lake.readVersion("anchor", vs(2)), "id", "v") === Set(Seq(1, "c")),
      "oldest kept snapshot must stay resolvable after its base chain is dropped")
    assert(rows(lake.readVersion("anchor", vs(3)), "id", "v") === Set(Seq(1, "d")))
  }

  test("read-after-expire contract: held snapshots fail fast, live tail unaffected") {
    val lake = newLake()
    lake.write("race", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    // no DV budget: each upsert's fold retires the file it masked
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try {
      lake.write("race", Seq((1, "b")).toDF("id", "v"), pks = Seq("id"))
      lake.write("race", Seq((1, "c")).toDF("id", "v"), pks = Seq("id"))
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
    val vs = lake.versions("race")
    // a reader holding v0 while its files are vacuumed: fail-fast with an
    // explicit message at resolution; a plan that already resolved paths
    // fails at scan — pick keepLast to cover your longest reader
    val held = lake.readVersion("race", vs.head)
    lake.expireSnapshots("race", keepLast = 1)
    val err = intercept[Exception] { held.collect() }
    assert(err.getMessage != null, "held expired snapshot must fail, not misread")
    val err2 = intercept[IllegalArgumentException] {
      lake.readVersion("race", vs.head)
    }
    assert(err2.getMessage.contains("no snapshot"))
    // the CURRENT version and a live stream tail only ever touch data/,
    // which vacuum never deletes — expiry cannot break them
    assert(rows(lake.read("race"), "id", "v") === Set(Seq(1, "c")))
    assert(rows(lake.readVersion("race", vs.last), "id", "v") === Set(Seq(1, "c")))
  }

  test("readWhere skips files the manifest bounds rule out; results identical") {
    val lake = newLake()
    // three appends with disjoint id ranges — three files, known bounds
    lake.append("skip", (1 to 100).map(i => (i, i * 2.0)).toDF("id", "v"))
    lake.append("skip", (1001 to 1100).map(i => (i, i * 2.0)).toDF("id", "v"))
    lake.append("skip", (2001 to 2100).map(i => (i, i * 2.0)).toDF("id", "v"))
    val all = lake.read("skip")
    assert(all.inputFiles.length >= 3)
    val pred = col("id") >= 1001 && col("id") <= 1100
    val skipped = lake.readWhere("skip", pred)
    assert(skipped.inputFiles.length < all.inputFiles.length,
      s"bounds must prune files: read ${skipped.inputFiles.length} of ${all.inputFiles.length}")
    assert(rows(skipped, "id", "v") === rows(all.filter(pred), "id", "v"),
      "skipping must be invisible in the results")
    // equality predicate and a no-match range
    assert(rows(lake.readWhere("skip", col("id") === 2050), "id").map(_.head)
      === Set(2050))
    assert(lake.readWhere("skip", col("id") > 90000).count() === 0L)
    // a bounded isin prunes as an OR of equalities
    val inPred = col("id").isin(2050, 2060)
    val inRead = lake.readWhere("skip", inPred)
    assert(inRead.inputFiles.length < all.inputFiles.length,
      "isin must prune to the files whose bounds cover its members")
    assert(rows(inRead, "id").map(_.head) === Set(2050, 2060))
    assert(lake.readWhere("skip", col("id").isin(90001, 90002)).count() === 0L)
    // unsupported shapes fall back to keep-everything, still correct
    assert(lake.readWhere("skip", col("v") / 2.0 === col("id").cast("double"))
      .count() === all.count())
  }

  test("temporal predicates prune files; NaN predicates never mis-prune") {
    val lake = newLake()
    def month(m: Int): DataFrame =
      (1 to 50).map { i =>
        (m * 1000 + i,
          java.sql.Timestamp.valueOf(f"2024-$m%02d-10 0${i % 9}:00:00"),
          java.sql.Date.valueOf(f"2024-$m%02d-${1 + i % 28}%02d"),
          i.toDouble)
      }.toDF("id", "ts", "d", "v")
    // three appends with disjoint months — three files, disjoint time bounds
    Seq(1, 2, 3).foreach(m => lake.append("tt", month(m)))
    val all = lake.read("tt")
    assert(all.inputFiles.length >= 3)
    def kept(p: org.apache.spark.sql.Column): Int =
      lake.readWhere("tt", p).inputFiles.length
    // timestamp range as ISO strings (the user-facing shape)
    val tsPred = col("ts") >= "2024-02-01" && col("ts") < "2024-03-01"
    assert(kept(tsPred) < all.inputFiles.length,
      "timestamp bounds must prune files")
    assert(rows(lake.readWhere("tt", tsPred), "id") ===
      rows(all.filter(tsPred), "id"), "pruning must be invisible")
    // date equality with a typed literal
    val dPred = col("d") === lit(java.sql.Date.valueOf("2024-03-15"))
    assert(kept(dPred) < all.inputFiles.length, "date bounds must prune files")
    assert(rows(lake.readWhere("tt", dPred), "id") ===
      rows(all.filter(dPred), "id"))
    // provably-disjoint future range plans ZERO files — including on the
    // injected `_inserted_at` system column (the 100 TB ingest-time filter)
    assert(kept(col("ts") > "2999-01-01") === 0)
    assert(kept(col("_inserted_at") > "2999-01-01T00:00:00Z") === 0)
    assert(kept(col("_inserted_at") <= "2999-01-01") === all.inputFiles.length,
      "past-to-now _inserted_at range keeps everything")
    // NaN literal must lower to keep-the-file, not skip-everything: Spark
    // orders NaN above every double, so `v < NaN` matches all rows
    val nanPred = col("v") < Double.NaN
    assert(lake.readWhere("tt", nanPred).count() === all.filter(nanPred).count())
    assert(lake.readWhere("tt", col("v") < Double.PositiveInfinity).count()
      === all.count())
  }

  test("string predicates prune files in UTF-8 byte order; collation-unsafe shapes keep") {
    val lake = newLake()
    // three appends with disjoint key ranges — three files, disjoint
    // string bounds (all ASCII, so byte order == code-point order here)
    def batch(p: String): DataFrame =
      (1 to 60).map(i => (f"$p${i}%03d", i)).toDF("k", "n")
    Seq("alpha_", "mike_", "zulu_").foreach(p => lake.append("st", batch(p)))
    val all = lake.read("st")
    assert(all.inputFiles.length >= 3)
    def kept(p: org.apache.spark.sql.Column): Int =
      lake.readWhere("st", p).inputFiles.length
    val midPred = col("k") >= "mike_" && col("k") < "mike_~"
    assert(kept(midPred) < all.inputFiles.length, "string bounds must prune")
    assert(rows(lake.readWhere("st", midPred), "k", "n") ===
      rows(all.filter(midPred), "k", "n"), "pruning must be invisible")
    // equality inside one file's range; provably-out-of-range plans zero
    assert(rows(lake.readWhere("st", col("k") === "zulu_005"), "k").map(_.head)
      === Set("zulu_005"))
    assert(kept(col("k") > "zzzz") === 0)
    assert(kept(col("k") < "a") === 0)
    // non-BMP data: parquet min/max are UTF-8 byte-ordered; a supplementary
    // character (U+10400, bytes F0 90 90 80) sorts ABOVE U+FFFD in byte
    // order but BELOW it in Java UTF-16 code-unit order (lead surrogate
    // D801 < FFFD). Separate files so a Java-ordered pruner would wrongly
    // skip the supplementary file for `k >= "\uFFFD"` — byte order keeps it.
    val hi = new String(Character.toChars(0x10400))
    lake.append("nb", Seq(("\uFFFD", 2)).toDF("k", "n"))
    lake.append("nb", Seq((hi, 1)).toDF("k", "n"))
    val nbPred = col("k") >= "\uFFFD"
    assert(rows(lake.readWhere("nb", nbPred), "n").map(_.head) === Set(1, 2),
      "non-BMP bounds must prune in the same order Spark compares rows")
  }

  test("driver and distributed stats collection produce identical bounds") {
    // same deterministic 6-file layout written through both collection
    // paths: the driver parallel-collection path (small deltas) and the
    // executor-side FooterStatsJob path (large deltas, forced here by
    // threshold 0) must land byte-identical bounds in the manifest
    val df = (1 to 300).map { i =>
      (i, i * 1.5, java.sql.Timestamp.valueOf(f"2024-03-${1 + i % 28}%02d 12:00:00"))
    }.toDF("id", "v", "ts").repartition(6, col("id"))
    val wh = Files.createTempDirectory("graft-snap").toString
    def statsOf(table: String): Seq[Map[String, GraftLake.Bounds]] = {
      val raw = scala.io.Source.fromFile(
        s"$wh/$table/_versions/v0.json").mkString
      // the two appends run at different wall-clock instants, so the
      // injected _inserted_at bounds legitimately differ — drop them
      GraftLake.parseManifest(raw).stats.values.toSeq
        .map(_ - "_inserted_at")
        .sortBy(m => m.get("id") match {
          case Some(GraftLake.NumBounds(lo, _)) => lo
          case _ => Double.NaN
        })
    }
    GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, wh)
    lake.append("drv", df)
    val key = "spark.graft.stats.distributedThreshold"
    spark.conf.set(key, "0")
    try lake.append("dist", df) finally spark.conf.unset(key)
    val a = statsOf("drv")
    val b = statsOf("dist")
    assert(a.nonEmpty && a.size === b.size)
    assert(a === b, "distributed footer stats must equal driver-path stats")
  }

  test("file stats survive rewrites, checkpoint re-anchoring, and repair") {
    val lake = newLake()
    lake.write("sv", (1 to 50).map(i => (i, s"r$i")).toDF("id", "v"), pks = Seq("id"))
    lake.append("sv", (1001 to 1050).map(i => (i, s"r$i")).toDF("id", "v"))
    // upsert rewrites the file set (unpartitioned: whole-set swap); the
    // fresh files must carry fresh bounds — a provably-disjoint range
    // plans ZERO files iff stats survived (statless files are kept)
    lake.write("sv", Seq((25, "X")).toDF("id", "v"), pks = Seq("id"))
    val pred = col("id") >= 1001
    val skipped = lake.readWhere("sv", pred)
    assert(rows(skipped, "id", "v") === rows(lake.read("sv").filter(pred), "id", "v"))
    def keptFor(p: org.apache.spark.sql.Column): Int =
      lake.readWhere("sv", p).inputFiles.length
    assert(keptFor(col("id") > 90000) === 0,
      "post-rewrite files must still carry prunable bounds")
    // expire re-anchors the kept manifest as a full checkpoint WITH stats
    lake.expireSnapshots("sv", keepLast = 1)
    assert(keptFor(col("id") > 90000) === 0,
      "re-anchored checkpoint must preserve per-file bounds")
    // repair re-lists AND re-bounds every file
    GraftLake.invalidateCaches()
    lake.repairTable("sv")
    val repaired = lake.readWhere("sv", pred)
    assert(rows(repaired, "id", "v") === rows(lake.read("sv").filter(pred), "id", "v"))
    assert(keptFor(col("id") > 90000) === 0,
      "repairTable must recompute bounds")
  }

  test("delete/update SQL rewrites are versioned too") {
    val lake = newLake()
    lake.write("d", (1 to 10).map(i => (i, i * 2)).toDF("id", "n"), pks = Seq("id"))
    // engine-internal scoped replace is what SQL DELETE/UPDATE use
    val survivors = lake.read("d").filter(col("id") <= 5)
    lake.overwriteContents("d", survivors)
    val vs = lake.versions("d")
    assert(lake.readVersion("d", vs.head).count() === 10)
    assert(lake.read("d").count() === 5)
  }

  test("write-job stats equal footer-read stats and skip the second pass") {
    // the commit protocol collects bounds INSIDE the write job; the
    // manifest must carry exactly what a footer read would produce, and
    // the commit must not fall back to the footer pass (observable as the
    // collectStats sensor staying flat)
    val wh = Files.createTempDirectory("graft-snap").toString
    GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, wh)
    val df = (1 to 400).map { i =>
      (i, i * 1.5, f"k$i%04d",
        java.sql.Timestamp.valueOf(f"2024-05-${1 + i % 28}%02d 08:00:00"))
    }.toDF("id", "v", "k", "ts").repartition(5, col("id"))
    val sensor = graft.metrics.GraftMetrics.op(graft.metrics.GraftMetrics.CollectStats)
    val before = sensor.count.sum()
    lake.append("wj", df)
    assert(sensor.count.sum() === before,
      "append must take its bounds from the write job, not a footer re-read")
    val manifest = GraftLake.parseManifest(
      scala.io.Source.fromFile(s"$wh/wj/_versions/v0.json").mkString)
    val files = manifest.files.get
    assert(files.size >= 5)
    assert(manifest.stats.keySet === files.map(GraftLake.fileKey).toSet,
      "every written file must carry write-job stats")
    val conf = spark.sessionState.newHadoopConf()
    files.foreach { case ref @ (rel, fn) =>
      val p = new org.apache.hadoop.fs.Path(
        if (rel.isEmpty) s"$wh/wj/data/$fn" else s"$wh/wj/data/$rel/$fn")
      assert(manifest.stats(GraftLake.fileKey(ref)) ===
        GraftLake.footerStats(p, conf),
        s"write-job bounds for $fn must equal a direct footer read")
    }
    // partitioned path: rel-keyed stats must line up the same way
    val before2 = sensor.count.sum()
    lake.write("wjp", (1 to 90).map(i => (i, i % 3, i * 2.0)).toDF("id", "p", "v"),
      partitions = Seq("p"))
    assert(sensor.count.sum() === before2)
    assert(lake.readWhere("wjp", col("id") > 90000).inputFiles.length === 0,
      "partitioned write-job stats must prune provably-disjoint ranges")
  }

  test("collation-unsafe string shapes lower to keep-the-file") {
    import org.apache.spark.sql.graft.PlanBridge
    import org.apache.spark.sql.types._
    def pred(schema: StructType) =
      PlanBridge.simplePredicate(col("k") >= "m", schema)
    // default UTF8_BINARY collation: prunable, in the PStr domain
    assert(pred(StructType(Seq(StructField("k", StringType))))
      === PlanBridge.PStr(">=", "k", "m"))
    // any other collation sorts differently than parquet's byte-ordered
    // min/max — must keep the file
    assert(pred(StructType(Seq(StructField("k", StringType("UTF8_LCASE")))))
      === PlanBridge.PUnknown)
    // char/varchar read semantics pad/truncate values relative to stored
    // bounds — must keep the file
    assert(pred(StructType(Seq(StructField("k", CharType(8)))))
      === PlanBridge.PUnknown)
    assert(pred(StructType(Seq(StructField("k", VarcharType(8)))))
      === PlanBridge.PUnknown)
    // string column against a non-string literal: no shared domain
    assert(PlanBridge.simplePredicate(col("k") >= lit(5),
      StructType(Seq(StructField("k", StringType)))) === PlanBridge.PUnknown)
  }

  test("history: one labeled row per commit, derived deltas, survives expiry") {
    val lake = newLake()
    lake.write("h", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    lake.append("h", Seq((3, "c")).toDF("id", "v"))
    lake.write("h", Seq((2, "B2")).toDF("id", "v"), pks = Seq("id"))
    lake.compact("h")
    val h = lake.history("h").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(h.map(_._1).toSeq === h.map(_._1).sorted.toSeq, "oldest first")
    assert(h.map(_._2).toSeq === Seq("append", "append", "upsert", "compact"),
      s"operation labels: ${h.map(_._2).toSeq}")
    // derived deltas: first commit adds everything from nothing
    assert(h.head._3 > 0 && h.head._4 === 0)
    // the upsert adds id=2's new row and removes no file (a deletion
    // vector masks the old row)
    assert(h(2)._3 > 0 && h(2)._4 === 0, s"upsert delta: ${h(2)}")
    // ts non-decreasing
    val ts = lake.history("h").collect().map(_.getTimestamp(1).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // expiry re-anchors the oldest kept version; its label must survive
    lake.expireSnapshots("h", keepLast = 2)
    val afterOps = lake.history("h").collect().map(_.getString(2)).toSeq
    assert(afterOps === Seq("upsert", "compact"),
      s"re-anchored history keeps original labels: $afterOps")
  }

  test("appendIdempotent: duplicate batches skip; watermarks survive everything") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-txn").toString
    val lake = new GraftLake(spark, wh)
    def add(app: String, v: Long, row: Int): Boolean =
      lake.appendIdempotent("t", Seq((row, s"b$v")).toDF("id", "v"), app, v)
    assert(add("appA", 0L, 1))
    assert(add("appA", 1L, 2))
    // redelivery of a committed version (and anything below) no-ops
    assert(!add("appA", 1L, 99))
    assert(!add("appA", 0L, 99))
    assert(lake.read("t").count() === 2)
    // apps are independent watermarks
    assert(add("appB", 0L, 3))
    assert(lake.lastTxnVersion("t", "appA") === Some(1L))
    assert(lake.lastTxnVersion("t", "appB") === Some(0L))
    assert(lake.lastTxnVersion("t", "nope") === None)
    // the watermark is snapshot state: it survives a full checkpoint
    // cadence, expiry re-anchoring, repair, AND a cold restart
    for (i <- 2L to 24L) assert(add("appA", i, 100 + i.toInt))
    assert(!add("appA", 24L, 999))
    lake.expireSnapshots("t", keepLast = 3)
    assert(!add("appA", 24L, 999), "watermark must survive expiry re-anchor")
    assert(lake.lastTxnVersion("t", "appB") === Some(0L))
    lake.repairTable("t")
    assert(!add("appA", 24L, 999), "watermark must survive repair")
    GraftLake.invalidateCaches()
    val lake2 = new GraftLake(spark, wh)
    assert(!lake2.appendIdempotent("t", Seq((999, "dup")).toDF("id", "v"),
      "appA", 24L), "watermark must survive a restart")
    assert(lake2.appendIdempotent("t", Seq((25, "b25")).toDF("id", "v"),
      "appA", 25L))
    assert(lake2.read("t").filter(col("id") === 999).count() === 0)
  }

  test("cross-process commit race: pure appends retry, rewrites fail fast") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-occ").toString
    val lake = new GraftLake(spark, wh)
    // one file spanning both ids: the point delete below must stay a DV
    // delete (a single-row file would take the metadata-only drop, which
    // retires files and breaks this test's fabricated external manifests)
    lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(1))
    // simulate another DRIVER winning the next version number: a valid
    // manifest appears at v1 that this JVM's caches have never seen (v0
    // is a self-contained full checkpoint, so its bytes are a valid
    // external commit of the same state)
    def externalCommit(v: Long): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(s"$wh/t/_versions/v0.json")
      val dst = new org.apache.hadoop.fs.Path(s"$wh/t/_versions/v$v.json")
      val f = src.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, conf)
    }
    externalCommit(1)
    val retriesBefore = graft.metrics.GraftMetrics.op("commitRetry").count.sum()
    // the append loses the race for v1, retries against the winner's
    // state, and lands as v2 — no error, no lost rows
    lake.append("t", Seq((3, "c")).toDF("id", "v"))
    assert(lake.versions("t") === Seq(0L, 1L, 2L))
    assert(rows(lake.read("t"), "id") === Set(Seq(1), Seq(2), Seq(3)))
    assert(graft.metrics.GraftMetrics.op("commitRetry").count.sum() >
      retriesBefore, "the retry must be metered")
    // a NON-append (DV delete) losing the race must fail fast — its hit
    // positions were computed against a state that no longer exists
    externalCommit(3)
    intercept[java.util.ConcurrentModificationException] {
      lake.deleteWhere("t", col("id") === 1)
    }
    // the failure invalidated the caches: an immediate re-run succeeds
    // against the winner's state — a copy of v0, which does not list the
    // appended file, so id 3 is not live
    assert(lake.deleteWhere("t", col("id") === 1) === 1L)
    assert(rows(lake.read("t"), "id") === Set(Seq(2)))
    // a COMPACTION losing the race deletes only its own unpublished files
    // (the winner's manifest references the pre-rewrite files, which
    // never moved) and then RETRIES against the winner's state inside the
    // same call (round-11 concurrent-optimize semantics: appends always
    // win, compaction re-derives; it no longer fails fast like a one-shot
    // DML). The winner here is (again) a copy of v0 — no DVs — so the
    // visible state is v0's two rows with the delete undone: exactly what
    // an external writer's commit meant
    externalCommit(lake.versions("t").last + 1)
    lake.compact("t")
    assert(rows(lake.read("t"), "id") === Set(Seq(1), Seq(2)),
      "after a lost rewrite race the compaction must land against the " +
        "winner's state, never a stale one")
    lake.compact("t")
    assert(rows(lake.read("t"), "id") === Set(Seq(1), Seq(2)))
  }

  test("manifests publish atomically; a torn manifest diagnoses, never NPEs") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-torn").toString
    val lake = new GraftLake(spark, wh)
    lake.write("t", Seq((1, "a")).toDF("id", "v"))
    // the local-FS publish is hard-link based: at NO point does a
    // versions-dir listing see a v*.json that isn't fully written — the
    // only tmp artifacts are dot-prefixed and never match the listing.
    // (`_last` is the ADVISORY latest-version hint, explicitly allowed
    // to be torn/stale: latestVersion verifies and falls back.)
    val vd = new java.io.File(s"$wh/t/_versions")
    assert(vd.listFiles().forall(f =>
      f.getName.startsWith(".") || f.getName == "_last" ||
        (f.getName.matches("v\\d+\\.json") && f.length() > 0)))
    // fabricate the pre-fix failure mode: another process crashed between
    // claiming v1 and writing its bytes (possible on filesystems without
    // link(2) semantics) — readers must fail with a DIAGNOSIS after the
    // in-flight retry window, not a JSON parser NPE
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$wh/t/_versions/v1.json"), Array.empty[Byte])
    GraftLake.invalidateCaches()
    val lake2 = new GraftLake(spark, wh)
    val e = intercept[IllegalStateException] {
      lake2.read("t").collect()
    }
    assert(e.getMessage.contains("unreadable"),
      s"expected the torn-manifest diagnosis, got: ${e.getMessage}")
  }

  test("restore re-references an old snapshot without copying data") {
    val lake = newLake()
    lake.write("r", Seq((1, "a"), (2, "b")).toDF("id", "v"), pks = Seq("id"))
    val v0 = lake.versions("r").head
    lake.append("r", Seq((3, "c")).toDF("id", "v"))
    lake.upsert("r", Seq((2, "B2")).toDF("id", "v"))
    assert(rows(lake.read("r"), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "B2"), Seq(3, "c")))
    val nVersions = lake.versions("r").size
    lake.restore("r", v0)
    // one NEW commit, labelled; live rows exactly the target snapshot's
    assert(lake.versions("r").size === nVersions + 1)
    assert(lake.history("r").collect().last.getString(2) === "restore")
    assert(rows(lake.read("r"), "id", "v") === Set(Seq(1, "a"), Seq(2, "b")))
    // the restored live set is the target's FILE SET (re-referenced, not
    // rewritten): identical (rel, name) identities
    assert(lake.dataFiles("r").map(_.split('/').last).sorted ===
      lake.snapshotFiles("r", v0)._2.map(_.split('/').last).sorted)
    // every other snapshot still reads exactly — above AND below
    assert(rows(lake.readVersion("r", nVersions - 1), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "B2"), Seq(3, "c")),
      "snapshots above the restore point must stay readable")
    // roll FORWARD again to the pre-restore state
    lake.restore("r", nVersions - 1)
    assert(rows(lake.read("r"), "id", "v") ===
      Set(Seq(1, "a"), Seq(2, "B2"), Seq(3, "c")))
    // restoring the current version is a no-op (no empty commit)
    val n2 = lake.versions("r").size
    lake.restore("r", lake.versions("r").last)
    assert(lake.versions("r").size === n2)
  }

  test("restore with deletion vectors: the DV set follows the target") {
    val lake = newLake()
    // one file spanning all ids keeps the range delete partial (DV path)
    lake.write("d", (1 to 10).map(i => (i, i)).toDF("id", "n").repartition(1))
    val v0 = lake.versions("d").head
    lake.deleteWhere("d", col("id") <= 3)
    val vDel = lake.versions("d").last
    assert(lake.read("d").count() === 7)
    lake.restore("d", v0)
    assert(lake.liveDvs("d").isEmpty, "pre-delete snapshot has no DVs")
    assert(lake.read("d").count() === 10, "restore must resurrect masked rows")
    lake.restore("d", vDel)
    assert(lake.liveDvs("d").nonEmpty)
    assert(lake.read("d").count() === 7, "restore forward re-applies the DV set")
  }

  test("restore keeps the CURRENT schema; vacuumed targets fail fast") {
    val lake = newLake()
    lake.write("s", Seq((1, "a")).toDF("id", "v"))
    val v0 = lake.versions("s").head
    lake.append("s", Seq((2, "b", 9)).toDF("id", "v", "extra"))
    lake.restore("s", v0)
    val df = lake.read("s")
    assert(df.columns.contains("extra"),
      "restore moves data, not schema evolution")
    assert(rows(df, "id", "extra") === Set(Seq(1, null)))
    // expire past the target → restore must fail fast, table intact
    val lake2 = newLake()
    lake2.write("x", Seq((1, 1)).toDF("id", "n"), pks = Seq("id"))
    val xv0 = lake2.versions("x").head
    for (i <- 2 to 6) lake2.upsert("x", Seq((1, i)).toDF("id", "n"))
    lake2.expireSnapshots("x", keepLast = 2)
    intercept[Exception] { lake2.restore("x", xv0) }
    assert(rows(lake2.read("x"), "n") === Set(Seq(6)), "failed restore is a no-op")
  }

  test("_last version hint: polls stop listing _versions/; crash and " +
      "corruption fall back to the listing") {
    import graft.metrics.GraftMetrics
    val lake = newLake()
    lake.append("t", Seq((1, "a")).toDF("id", "v"))
    lake.append("t", Seq((2, "b")).toDF("id", "v"))
    val expect = lake.versions("t").last
    // steady state: the hinted probe resolves WITHOUT a directory
    // listing (the streaming-poll hot path's cost contract)
    val lists0 = GraftMetrics.op("versionsList").count.sum()
    (1 to 5).foreach(_ => assert(lake.latestVersion("t") === Some(expect)))
    assert(GraftMetrics.op("versionsList").count.sum() === lists0,
      "latestVersion must not pay the _versions/ listing when hinted")
    val vd = new java.io.File(s"${lake.warehouseDir}/t/_versions")
    val hint = new java.io.File(vd, "_last")
    assert(hint.isFile && new String(java.nio.file.Files
      .readAllBytes(hint.toPath)).trim === expect.toString)
    // crash between claim and hint write: a dense forward probe walks
    // past the stale hint — the new claim is visible with no listing
    val fake = new java.io.File(vd, s"v${expect + 1}.json")
    java.nio.file.Files.write(fake.toPath, "{}".getBytes)
    val lists1 = GraftMetrics.op("versionsList").count.sum()
    assert(lake.latestVersion("t") === Some(expect + 1))
    assert(GraftMetrics.op("versionsList").count.sum() === lists1,
      "a stale hint resolves by forward probe, not by listing")
    assert(fake.delete())
    // torn/corrupt hint: fall back to the listing, same answer
    // (out-of-band edits must drop the Hadoop checksum sidecar)
    val crc = new java.io.File(vd, "._last.crc")
    java.nio.file.Files.write(hint.toPath, "garbage".getBytes)
    if (crc.exists) crc.delete()
    assert(lake.latestVersion("t") === Some(expect))
    // missing hint (pre-upgrade table): fallback again
    assert(hint.delete())
    if (crc.exists) crc.delete()
    assert(lake.latestVersion("t") === Some(expect))
    // and the next commit restores the hint
    lake.append("t", Seq((3, "c")).toDF("id", "v"))
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath)).trim
      === (expect + 1).toString)
    assert(lake.latestVersion("t") === Some(expect + 1))
  }
}
