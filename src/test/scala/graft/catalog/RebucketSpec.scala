package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftLake.rebucket]] — `OPTIMIZE t REBUCKET TO n`: INCREMENTAL
  * online re-bucketing (metadata flip + one commit per old bucket).
  * Contracts: contents preserved; point lookups and merges route under
  * the new n after the transition AND stay exact mid-split (each
  * directory prunes under the count its own name carries); the
  * pre-rebucket snapshot reads under its OWN recorded layout; the
  * migration COMPLETES under live appends (in-process and two real
  * JVMs — the race window is one bucket, not the table); the
  * auto-rebucket policy doubles a growing table's count; and a
  * historically type-widened bucket source disables hash-based pruning
  * outright (legacy tables from before the ensureTable guard). */
class RebucketSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-rbk").toString)
  }

  private def bucketDirs(lake: GraftLake, t: String): Set[String] =
    lake.dataFiles(t).map { p =>
      new org.apache.hadoop.fs.Path(p).getParent.getName.split('=').head
    }.toSet

  test("rebucket preserves contents; lookups and merges route under the new n") {
    val lake = newLake()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i"))
    lake.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    val before = lake.read("t").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val v0 = lake.versions("t").last
    lake.rebucket("t", 16)
    assert(lake.readMeta("t").partitions === Seq("bucket(16, id)"))
    assert(bucketDirs(lake, "t") === Set("__p_bucket_16_id"),
      "every live file must obey the new layout after the rebucket")
    assert(lake.read("t").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === before)
    // the rebucket commit is a logical no-op to the change feed
    assert(lake.tableChanges("t", v0, lake.versions("t").last).isEmpty)
    // a merge THROUGH the new layout: update half, insert new keys —
    // exactly-once per PK (the probe-skip re-rendered under n=16)
    lake.upsert("t",
      (0 until 400 by 2).map(i => (i.toLong, "UPD")).toDF("id", "v")
        .unionByName((400 until 450).map(i => (i.toLong, s"n$i")).toDF("id", "v")))
    val after = lake.read("t")
    assert(after.count() === 450)
    assert(after.filter(col("v") === "UPD").count() === 200)
    // point lookup prunes under the NEW n
    val planned = lake.readWhere("t", col("id") === 7L)
    assert(planned.collect().map(_.getLong(0)).toSeq === Seq(7L))
    // pre-rebucket snapshot: its own contents, under its own layout
    assert(lake.readVersion("t", v0).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === before)
  }

  test("a concurrent append during the rebucket window wins; rebucket retries") {
    val lake = newLake()
    lake.write("t", (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      partitions = Seq("bucket(2, id)"), pks = Seq("id"))
    val appended = new java.util.concurrent.atomic.AtomicBoolean(false)
    lake.rebucketBeforeCommitHook = () => {
      val t = new Thread(() => {
        lake.append("t", Seq((900L, "mid")).toDF("id", "v"))
        appended.set(true)
      }, "mid-rebucket-appender")
      t.start()
      t.join(120000)
      assert(!t.isAlive, "append must not be blocked by in-flight rebucket")
      lake.rebucketBeforeCommitHook = () => ()
    }
    try lake.rebucket("t", 8) finally lake.rebucketBeforeCommitHook = () => ()
    assert(appended.get)
    // the rebucket retried (its first window saw the append) and the
    // final state carries EVERY row in the new layout — never mixed
    assert(lake.read("t").count() === 101)
    assert(lake.read("t").filter(col("id") === 900L).count() === 1)
    assert(bucketDirs(lake, "t") === Set("__p_bucket_8_id"),
      "the mid-window append's old-layout file must have been re-homed " +
        "by the retried rewrite, not adopted as-is")
    assert(lake.readMeta("t").partitions === Seq("bucket(8, id)"))
  }

  test("MID-SPLIT state is exact: reads, point-lookup pruning, merge, time travel, resume") {
    val lake = newLake()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i"))
    lake.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    val vPre = lake.versions("t").last
    // freeze the migration after ONE bucket: flip committed, one old
    // bucket re-homed, three still foreign — the exact transient state a
    // 100 TB table spends hours in
    var calls = 0
    lake.rebucketBeforeCommitHook = () =>
      { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
    try intercept[RuntimeException](lake.rebucket("t", 8))
    finally lake.rebucketBeforeCommitHook = () => ()
    assert(lake.readMeta("t").partitions === Seq("bucket(8, id)"),
      "the flip commits first")
    val dirs = bucketDirs(lake, "t")
    assert(dirs === Set("__p_bucket_4_id", "__p_bucket_8_id"),
      s"one bucket migrated, the rest foreign — got $dirs")
    // full read: every row, exactly once, across both layouts
    assert(lake.read("t").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      rows.toSet)
    // point lookups stay correct AND prune on BOTH sides: each directory
    // prunes under the bucket count its own name carries
    for (k <- Seq(0L, 7L, 123L, 399L))
      assert(lake.readWhere("t", col("id") === k)
        .collect().map(_.getLong(0)).toSeq === Seq(k))
    val meta8 = lake.readMeta("t")
    val pruner = GraftLake.bucketKeyPruner(meta8,
      org.apache.spark.sql.graft.PlanBridge.simplePredicate(
        col("id") === 7L, meta8.schema)).get
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(Literal(7L,
      org.apache.spark.sql.types.LongType)), 42).eval(null).asInstanceOf[Int]
    assert(pruner(s"__p_bucket_8_id=${GraftLake.pmod(h, 8)}/f.parquet"))
    assert(!pruner(s"__p_bucket_8_id=${GraftLake.pmod(h, 8) + 1}/f.parquet"))
    assert(pruner(s"__p_bucket_4_id=${GraftLake.pmod(h, 4)}/f.parquet"),
      "an unmigrated directory prunes under ITS OWN count")
    assert(!pruner(s"__p_bucket_4_id=${(GraftLake.pmod(h, 4) + 1) % 4}/f.parquet"))
    // SQL reads route through the engine scan mid-split (the plain DSv2
    // directory scan would trip conflicting-partition-names)
    spark.conf.set("spark.sql.catalog.grbkmid",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grbkmid.warehouse", lake.warehouseDir)
    try {
      assert(spark.sql("SELECT count(*) AS n FROM grbkmid.t")
        .head().getLong(0) === 400)
      assert(spark.sql("SELECT v FROM grbkmid.t WHERE id = 123")
        .head().getString(0) === "v123")
    } finally {
      spark.conf.unset("spark.sql.catalog.grbkmid")
      spark.conf.unset("spark.sql.catalog.grbkmid.warehouse")
    }
    // a MERGE through the mixed state: exactly-once per PK, both sides
    lake.upsert("t",
      (0 until 400 by 2).map(i => (i.toLong, "UPD")).toDF("id", "v")
        .unionByName(
          (400 until 420).map(i => (i.toLong, s"n$i")).toDF("id", "v")))
    val after = lake.read("t")
    assert(after.count() === 420)
    assert(after.filter(col("v") === "UPD").count() === 200)
    assert(after.filter(col("id") === 400L).count() === 1)
    // time travel below the flip reads the old uniform layout exactly
    assert(lake.readVersion("t", vPre).count() === 400)
    // resume: the same call finishes the migration (flip no-ops)
    lake.rebucket("t", 8)
    assert(bucketDirs(lake, "t") === Set("__p_bucket_8_id"))
    assert(lake.read("t").count() === 420)
    assert(after.filter(col("v") === "UPD").count() === 200)
  }

  test("MID-SPLIT copy-on-write DML keeps the rows its hits share a directory with") {
    // an unmigrated bucket(8) directory holds rows of TWO bucket(16)
    // partitions; the fold of a DELETE/UPDATE whose hits all fall in one
    // of them rewrites that directory whole, so the rows of the other
    // partition must survive (engine DML, SQL subquery DML and
    // materializeDeletes), and so must the rows appended since the flip
    // into the directories the rewritten rows move to
    val lake = newLake()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i"))
    lake.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(8, id)"), pks = Seq("id"))
    var calls = 0
    lake.rebucketBeforeCommitHook = () =>
      { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
    try intercept[RuntimeException](lake.rebucket("t", 16))
    finally lake.rebucketBeforeCommitHook = () => ()
    val appended = (400 until 440).map(i => (i.toLong, s"n$i"))
    lake.append("t", appended.toDF("id", "v"))
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    def bucket16(id: Long): Int = GraftLake.pmod(Murmur3Hash(Seq(Literal(id,
      org.apache.spark.sql.types.LongType)), 42).eval(null).asInstanceOf[Int], 16)
    val foreign = lake.dataFiles("t").map(new org.apache.hadoop.fs.Path(_).getParent.getName)
      .filter(_.startsWith("__p_bucket_8_id=")).map(_.split('=')(1).toInt).distinct.sorted
    assert(foreign.size >= 4, s"four unmigrated directories, got $foreign")
    // the ids of the upper new bucket (k + 8) of each unmigrated old bucket k
    val Seq(del, upd, sql, dv) = foreign.take(4).map(k =>
      rows.map(_._1).filter(bucket16(_) == k + 8))
    assert(Seq(del, upd, sql, dv).forall(_.nonEmpty))
    assert(lake.deleteWhere("t", col("id").isin(dv: _*)) === dv.size)
    assert(lake.liveDvs("t").nonEmpty)
    lake.materializeDeletes("t")
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    spark.conf.set("spark.sql.catalog.grbkfold", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grbkfold.warehouse", lake.warehouseDir)
    try {
      assert(lake.deleteWhere("t", col("id").isin(del: _*)) === del.size)
      assert(lake.updateWhere("t", col("id").isin(upd: _*),
        Map("v" -> lit("UPD"))) === upd.size)
      sql.toDF("id").createOrReplaceTempView("rbk_sql_ids")
      spark.sql("DELETE FROM grbkfold.t WHERE id IN (SELECT id FROM rbk_sql_ids)")
    } finally {
      spark.conf.unset("spark.graft.dv.maxEntries")
      spark.conf.unset("spark.sql.catalog.grbkfold")
      spark.conf.unset("spark.sql.catalog.grbkfold.warehouse")
    }
    assert(lake.liveDvs("t").isEmpty, "every statement folded copy-on-write")
    val expected = (rows ++ appended)
      .filterNot(r => del.contains(r._1) || sql.contains(r._1) || dv.contains(r._1))
      .map(r => if (upd.contains(r._1)) (r._1, "UPD") else r).toSet
    def contents() = lake.read("t").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(contents().size === expected.size, "no row lost or duplicated")
    assert(contents().toSet === expected)
    // resume: the migration finishes over the rewritten state
    lake.rebucket("t", 16)
    assert(bucketDirs(lake, "t") === Set("__p_bucket_16_id"))
    assert(contents().toSet === expected)
  }

  test("rebucket COMPLETES while a second JVM streams appends (two real processes)") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-rbk2p").toString
    val lake = new GraftLake(spark, wh)
    val base = (0 until 2000).map(i => (i.toLong, "base", i % 7))
    lake.write("t", base.toDF("seq", "writer", "bucket"),
      partitions = Seq("bucket(4, seq)"))
    val nBatches = 10
    val rowsPerBatch = 2000L
    val child = graft.RaceAppender.spawn(wh, "t", "w2", nBatches,
      rowsPerBatch, heap = "-Xmx2g", discardOutput = true)
    try {
      // wait for the child's first commit so the streams genuinely overlap
      val v0 = lake.versions("t").size
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (lake.versions("t").size == v0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(lake.versions("t").size > v0, "child never committed")
      // THE headline contract: the migration COMPLETES under the live
      // appender — per-bucket commits conflict with nothing an append does
      lake.rebucket("t", 8)
      assert(lake.readMeta("t").partitions === Seq("bucket(8, seq)"))
      assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "appender JVM did not exit")
      assert(child.exitValue() === 0)
      GraftLake.invalidateCaches()
      val lake2 = new GraftLake(spark, wh)
      // no old-layout file can COMMIT after the flip (stale-layout commits
      // are refused and re-derive — appendLayoutRetry), and the migration
      // loop only ends when no foreign file remains: the final directory
      // state is uniform with NO post-quiesce pass
      assert(bucketDirs(lake2, "t") === Set("__p_bucket_8_seq"))
      val byWriter = lake2.read("t").groupBy(col("writer")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byWriter === Map("base" -> 2000L,
        "w2" -> nBatches * rowsPerBatch), s"rows lost: $byWriter")
    } finally if (child.isAlive) child.destroyForcibly()
  }

  test("rebucket with live deletion vectors: masked rows fold out, inert DVs retire") {
    val lake = newLake()
    lake.write("t", (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    assert(lake.deleteWhere("t", col("id") % 10 === 3) === 40) // MoR → DV
    assert(lake.liveDvs("t").nonEmpty, "precondition: a DV commit")
    lake.rebucket("t", 8)
    val got = lake.read("t")
    assert(got.count() === 360)
    assert(got.filter(col("id") % 10 === 3).count() === 0,
      "DV-masked rows must not resurrect through the migration")
    assert(bucketDirs(lake, "t") === Set("__p_bucket_8_id"))
    // every migration folded its bucket's masked rows out physically, so
    // the DV entries reference only retired files — left live they would
    // pin the anti-join plan and refuse plain-session SQL reads forever
    assert(lake.liveDvs("t").isEmpty,
      "inert deletion vectors must be retired when the migration completes")
  }

  test("auto-rebucket policy: a growing table doubles its bucket count twice") {
    val lake = newLake()
    def batch(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "v")
    lake.write("t", batch(0 until 100),
      partitions = Seq("bucket(2, id)"), pks = Seq("id"))
    // policy: ≥100 mean rows per bucket → double. 100 rows / 2 buckets
    // = 50: under threshold, no action
    assert(!lake.maybeAutoRebucket("t", 100))
    assert(lake.readMeta("t").partitions === Seq("bucket(2, id)"))
    // grow to 300 rows: 150/bucket → doubles to 4 (75/bucket, settles)
    lake.append("t", batch(100 until 300))
    assert(lake.maybeAutoRebucket("t", 100))
    assert(lake.readMeta("t").partitions === Seq("bucket(4, id)"))
    assert(!lake.maybeAutoRebucket("t", 100), "75/bucket: settled")
    // grow to 900 rows: 225/bucket → doubles again to 8
    lake.append("t", batch(300 until 900))
    assert(lake.maybeAutoRebucket("t", 100))
    assert(lake.readMeta("t").partitions === Seq("bucket(8, id)"))
    assert(bucketDirs(lake, "t") === Set("__p_bucket_8_id"),
      "each doubling migrates every live file")
    assert(lake.read("t").count() === 900)
    // maxBuckets caps the growth
    lake.append("t", batch(900 until 2000))
    assert(!lake.maybeAutoRebucket("t", 100, maxBuckets = 8))
    assert(lake.readMeta("t").partitions === Seq("bucket(8, id)"))
    // and the per-flush merge stays exactly-once after the doublings
    lake.upsert("t", batch(0 until 50).withColumn("v", lit("UPD")))
    assert(lake.read("t").count() === 2000)
    assert(lake.read("t").filter(col("v") === "UPD").count() === 50)
  }

  test("auto-rebucket with maxGroupsPerCall: a 16-bucket doubling " +
      "amortizes across >=4 calls with bounded per-call work") {
    // The 100 TB contract: the policy probe runs INSIDE the triggering
    // micro-batch — an unbounded doubling would stall the stream for an
    // O(table) rewrite. With the bound, each call commits at most
    // maxGroupsPerCall migration commits and the next call RESUMES the
    // in-flight migration (the probe must prioritize it: after the
    // flip the mean-size trigger reads the new n and goes quiet).
    val lake = newLake()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i"))
    lake.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(16, id)"), pks = Seq("id"))
    // 400/16 = 25 >= 20 triggers; post-doubling 400/32 = 12.5 settles
    def commits() = lake.versions("t").size
    val c0 = commits()
    assert(lake.maybeAutoRebucket("t", 20, maxGroupsPerCall = 4))
    assert(commits() - c0 <= 5, "call 1: flip + at most 4 group commits")
    assert(lake.readMeta("t").partitions === Seq("bucket(32, id)"))
    assert(bucketDirs(lake, "t") ===
      Set("__p_bucket_16_id", "__p_bucket_32_id"), "mixed mid-amortization")
    assert(lake.read("t").count() === 400, "mixed state reads exactly")
    // an append between steps lands in the NEW layout and conflicts
    // with nothing (the stream keeps flushing while the rewrite drains)
    lake.append("t", Seq((400L, "v400")).toDF("id", "v"))
    var calls = 1
    val c1 = commits()
    while (lake.maybeAutoRebucket("t", 20, maxGroupsPerCall = 4)) {
      calls += 1
      assert(calls < 20, "migration must drain, not loop")
    }
    assert(calls >= 4, s"16 groups / 4 per call needs >=4 calls, got $calls")
    // resume calls did only migration commits: one per remaining group
    assert(commits() - c1 === 12,
      s"resume calls commit one per group, got ${commits() - c1}")
    assert(bucketDirs(lake, "t") === Set("__p_bucket_32_id"))
    assert(lake.read("t").count() === 401)
    assert(lake.read("t").select("id").distinct().count() === 401)
    // settled: no further trigger at the new count
    assert(!lake.maybeAutoRebucket("t", 20, maxGroupsPerCall = 4))
  }

  test("inert-DV sweep runs when a bounded migration drains exactly on " +
      "its per-call budget") {
    // the completing call's budget can run out ON the last group:
    // complete-at-loop-exit is false there, and the next call commits
    // zero groups — without the boundary probe the sweep would be
    // skipped on both calls and inert sidecars would linger forever
    val lake = newLake()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i"))
    lake.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    assert(lake.deleteWhere("t", col("id") === 5L) === 1L)
    assert(lake.liveDvs("t").nonEmpty)
    lake.rebucket("t", 8, maxGroupsPerCall = 2) // groups 1-2 of 4
    assert(lake.liveDvs("t").nonEmpty, "mid-migration: sweep deferred")
    lake.rebucket("t", 8, maxGroupsPerCall = 2) // 3-4: drains ON budget
    assert(lake.dataFiles("t").forall(_.contains("__p_bucket_8_id=")))
    assert(lake.liveDvs("t").isEmpty,
      "the budget-exact completing call must run the inert-DV sweep")
    assert(lake.read("t").count() === 399)
    assert(lake.read("t").filter(col("id") === 5L).isEmpty)
  }

  test("migration DV validation is scoped to the group: MoR DELETE on a " +
      "non-migrating bucket commits without burning an attempt") {
    import graft.metrics.GraftMetrics
    def bucketOf(k: Int, id: Long): Int = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
      ((h % k) + k) % k
    }
    // (a) DV landing on a bucket the migration is NOT touching: the old
    // table-global DV-set equality burned an attempt per delete — under
    // sustained MoR churn (a CDC-apply consumer) a slow group could
    // NEVER commit. Scoped validation must let it pass untouched.
    val lake = newLake()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i"))
    lake.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    // the migration starts at the lexicographically smallest foreign
    // rel — bucket dir 0; land the delete in bucket 3
    val otherId = (0L until 400L).find(i => bucketOf(4, i) == 3).get
    val retry0 = GraftMetrics.op("rebucketRetry").count.sum()
    var fired = false
    lake.rebucketBeforeCommitHook = () =>
      if (!fired) { fired = true; lake.deleteWhere("t", col("id") === otherId) }
    try lake.rebucket("t", 8)
    finally lake.rebucketBeforeCommitHook = () => ()
    assert(GraftMetrics.op("rebucketRetry").count.sum() === retry0,
      "a MoR DELETE on a non-migrating bucket must not invalidate")
    assert(bucketDirs(lake, "t") === Set("__p_bucket_8_id"))
    assert(lake.read("t").count() === 399)
    assert(lake.read("t").filter(col("id") === otherId).count() === 0,
      "the concurrent delete survives the migration")
    assert(lake.liveDvs("t").isEmpty,
      "the fold + inert sweep retire the sidecar")

    // (b) a DV landing ON the migrating group still invalidates —
    // committing the pre-delete rewrite would resurrect the row
    val lake2 = newLake()
    lake2.write("t", rows.toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    val groupId = (0L until 400L).find(i => bucketOf(4, i) == 0).get
    val retry1 = GraftMetrics.op("rebucketRetry").count.sum()
    var fired2 = false
    lake2.rebucketBeforeCommitHook = () =>
      if (!fired2) { fired2 = true; lake2.deleteWhere("t", col("id") === groupId) }
    try lake2.rebucket("t", 8)
    finally lake2.rebucketBeforeCommitHook = () => ()
    assert(GraftMetrics.op("rebucketRetry").count.sum() === retry1 + 1,
      "a DV on the group's own files must invalidate exactly once")
    assert(lake2.read("t").count() === 399)
    assert(lake2.read("t").filter(col("id") === groupId).count() === 0,
      "no resurrection: the retry folds the delete")
  }

  test("partition-layout EVOLUTION: year→month online, bucket-source swap, depth refused") {
    val lake = newLake()
    import java.sql.Date
    val rows = (0 until 300).map { i =>
      (i.toLong, Date.valueOf(f"202${i % 3}%d-${(i % 12) + 1}%02d-15"), s"v$i")
    }
    val df = rows.toDF("id", "d", "v")
    lake.write("t", df, partitions = Seq("year(d)"))
    val vPre = lake.versions("t").last
    assert(bucketDirs(lake, "t") === Set("__p_year_d"))
    // ONLINE re-granularization through literal SQL — the same flip +
    // per-group migration as a rebucket, so it completes under writers
    spark.conf.set("spark.sql.catalog.gevo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gevo.warehouse", lake.warehouseDir)
    try {
      spark.sql("ALTER TABLE gevo.t SET PARTITIONED BY (month(d))")
      assert(lake.readMeta("t").partitions === Seq("month(d)"))
      assert(bucketDirs(lake, "t") === Set("__p_month_d"),
        "every live file migrated to the month layout")
      assert(lake.read("t").count() === 300, "contents preserved")
      // time travel below the flip reads the year layout exactly
      assert(lake.readVersion("t", vPre).count() === 300)
      // SQL reads work on the evolved table
      assert(spark.sql("SELECT count(*) AS n FROM gevo.t").head().getLong(0)
        === 300)
    } finally {
      spark.conf.unset("spark.sql.catalog.gevo")
      spark.conf.unset("spark.sql.catalog.gevo.warehouse")
    }
    // depth change is refused with the rebuild remedy
    val e = intercept[IllegalArgumentException](
      lake.evolvePartitions("t", Seq("month(d)", "bucket(4, id)")))
    assert(e.getMessage.contains("preserves the expression COUNT"))
    // unknown source column refused
    val e2 = intercept[IllegalArgumentException](
      lake.evolvePartitions("t", Seq("year(nope)")))
    assert(e2.getMessage.contains("does not exist"))

    // outputName collision refused: a raw column literally named like
    // the current layout's generated directory would make old files
    // falsely "conform" and silently skip their migration
    val lake3 = newLake()
    lake3.write("t", Seq((1L, Date.valueOf("2024-01-15"), 7, "x"))
      .toDF("id", "d", "year_d", "v"), partitions = Seq("year(d)"))
    val e3 = intercept[IllegalArgumentException](
      lake3.evolvePartitions("t", Seq("year_d")))
    assert(e3.getMessage.contains("same directory name"),
      s"got: ${e3.getMessage}")
    // engine-managed columns refused
    val e4 = intercept[IllegalArgumentException](
      lake3.evolvePartitions("t", Seq("_inserted_at")))
    assert(e4.getMessage.contains("engine-managed"))
    // LOGICAL names resolve to their frozen physical fields
    lake3.renameColumn("t", "v", "label")
    lake3.evolvePartitions("t", Seq("label"))
    assert(lake3.readMeta("t").partitions === Seq("v"),
      "the stored spec addresses the physical field behind the rename")
    assert(bucketDirs(lake3, "t") === Set("__p_v"))
    assert(lake3.read("t").count() === 1)

    // BUCKET-SOURCE swap on a PK table, frozen mid-migration: reads and
    // merges stay exact through the mixed state, resume finishes
    val lake2 = newLake()
    val kv = (0 until 400).map(i => (i.toLong, (i % 50).toLong, s"v$i"))
    lake2.write("t", kv.toDF("id", "grp", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    var calls = 0
    lake2.rebucketBeforeCommitHook = () =>
      { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
    try intercept[RuntimeException](
      lake2.evolvePartitions("t", Seq("bucket(4, grp)")))
    finally lake2.rebucketBeforeCommitHook = () => ()
    assert(lake2.readMeta("t").partitions === Seq("bucket(4, grp)"))
    assert(bucketDirs(lake2, "t") ===
      Set("__p_bucket_4_id", "__p_bucket_4_grp"), "mixed mid-migration")
    assert(lake2.read("t").count() === 400)
    assert(lake2.readWhere("t", col("id") === 123L)
      .collect().map(_.getLong(0)).toSeq === Seq(123L))
    lake2.upsert("t",
      (0 until 400 by 4).map(i => (i.toLong, (i % 50).toLong, "UPD"))
        .toDF("id", "grp", "v"))
    assert(lake2.read("t").count() === 400, "merge exactly-once mid-migration")
    assert(lake2.read("t").filter(col("v") === "UPD").count() === 100)
    lake2.evolvePartitions("t", Seq("bucket(4, grp)")) // resume
    assert(bucketDirs(lake2, "t") === Set("__p_bucket_4_grp"))
    assert(lake2.read("t").count() === 400)
  }

  test("NON-bucket evolution beside an unchanged bucket expr, frozen " +
      "mid-migration: matched-key upsert stays exactly-once") {
    // The merge fast path self-describes a foreign file only by its
    // BUCKET count. During [bucket(4,id), year(d)] -> [bucket(4,id),
    // month(d)] an unmigrated file's bucket dir parses with k == the
    // current n, so the effective meta equals the CURRENT meta and the
    // wanted set is rendered under the NEW (month) layout — old
    // __p_year_d files must route the flush to the probe scan, or
    // their matched PKs would be treated as absent and re-inserted.
    val lake = newLake()
    import java.sql.Date
    val rows = (0 until 400).map { i =>
      (i.toLong, Date.valueOf(f"202${i % 3}%d-${(i % 12) + 1}%02d-15"), s"v$i")
    }
    // d is part of the PK so the layout is PK-functional and the flush
    // takes the manifest-planned fast path (the code under test);
    // year/month over a DATE pk source keep the probe-skip eligible
    lake.write("t", rows.toDF("id", "d", "v"),
      partitions = Seq("bucket(4, id)", "year(d)"), pks = Seq("id", "d"))
    var calls = 0
    lake.rebucketBeforeCommitHook = () =>
      { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
    try intercept[RuntimeException](
      lake.evolvePartitions("t", Seq("bucket(4, id)", "month(d)")))
    finally lake.rebucketBeforeCommitHook = () => ()
    assert(lake.readMeta("t").partitions === Seq("bucket(4, id)", "month(d)"))
    val dirs = lake.dataFiles("t").map { p =>
      new org.apache.hadoop.fs.Path(p).getParent.getName.split('=').head
    }.toSet
    assert(dirs === Set("__p_year_d", "__p_month_d"),
      s"mixed non-bucket layouts mid-migration, got $dirs")
    // upsert keys that live in BOTH migrated and unmigrated files
    lake.upsert("t",
      (0 until 400 by 3).map { i =>
        (i.toLong, Date.valueOf(f"202${i % 3}%d-${(i % 12) + 1}%02d-15"), "UPD")
      }.toDF("id", "d", "v"))
    assert(lake.read("t").count() === 400,
      "matched PKs in unmigrated year-layout files must not re-insert")
    assert(lake.read("t").filter(col("v") === "UPD").count() === 134)
    assert(lake.read("t").groupBy(col("id")).count()
      .filter(col("count") > 1).count() === 0, "no duplicate PKs")
    // resume completes the migration; contents intact
    lake.evolvePartitions("t", Seq("bucket(4, id)", "month(d)"))
    assert(lake.dataFiles("t").forall(_.contains("__p_month_d=")))
    assert(lake.read("t").count() === 400)
    assert(lake.read("t").filter(col("v") === "UPD").count() === 134)
  }

  test("rebucket validates: no bucket expr / same n / shallow clone") {
    val lake = newLake()
    lake.write("plain", Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] { lake.rebucket("plain", 8) }
    assert(e.getMessage.contains("exactly one bucket"))
    lake.write("b", Seq((1L, "a")).toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    val v = lake.versions("b").last
    lake.rebucket("b", 4) // same n: no-op, no commit
    assert(lake.versions("b").last === v)
  }

  test("a historically type-widened bucket source disables hash pruning (legacy guard)") {
    val lake = newLake()
    // find a key whose INT hash-bucket differs from its LONG hash-bucket
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType, n: Int) = {
      val h = Murmur3Hash(Seq(Literal(v, dt)), 42).eval(null).asInstanceOf[Int]
      ((h % n) + n) % n
    }
    val k = (1 to 1000).find(i =>
      bucketOf(i, IntegerType, 4) != bucketOf(i.toLong, LongType, 4)).get
    val df = Seq(k, k + 1, k + 2).toDF("id")
      .select(col("id").cast("int").as("id"), lit("x").as("v"))
    lake.write("t", df, partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    // simulate a LEGACY pre-guard widening: hand-rewrite the registry to
    // BIGINT while the stored files (and their bucket dirs) were hashed
    // under INT — exactly the state the round-11 ensureTable guard now
    // prevents from arising
    val meta = lake.readMeta("t")
    val widened = meta.copy(schema = org.apache.spark.sql.types.StructType(
      meta.schema.fields.map(f =>
        if (f.name == "id") f.copy(dataType = LongType) else f)))
    val metaPath = new java.io.File(s"${lake.warehouseDir}/t/_graft_meta.json")
    java.nio.file.Files.write(metaPath.toPath,
      GraftLake.renderMeta(widened).getBytes("UTF-8"))
    // drop the Hadoop LocalFS checksum sidecar the out-of-band write broke
    new java.io.File(metaPath.getParent, "._graft_meta.json.crc").delete()
    GraftLake.invalidateCaches()
    // bucket pruning under the LONG hash would plan the wrong directory
    // and silently miss the row; the stability guard must disable it
    val got = lake.readWhere("t", col("id") === k.toLong)
    assert(got.count() === 1L,
      "a legacy-widened bucket source must fall back to the unpruned scan")
  }
}
