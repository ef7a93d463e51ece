package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Scaling-evidence bench (SCALE.md, VERDICT r8 ask #6): run the
  * heaviest query families at two scale factors in one JVM and emit the
  * per-query wall-time ratio, converting the "survives a scale-up"
  * design arguments into one measured decade.
  *
  * `runMain graft.ScaleBench /root/testdata/sf0.1 /tmp/graft-sf1`
  *
  * Methodology (same as the driver bench): one measured single-shot run
  * per (query, scale) after a shared warm-up, forced through a full
  * `collect()` (every registered query returns a bounded result — the
  * contract/audit shape, never the corpus). The small scale runs FIRST,
  * so JVM warm-up, if anything, favours the small side and the reported
  * ratios are upper bounds. Expectation at 10× data: scan-bound queries
  * ≲ ~12×, pruned/indexed point reads near-flat.
  */
object ScaleBench {

  /** Heaviest families per VERDICT r8: merge, dedup, skipping, ANN,
    * plus two scan-bound relational anchors. */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", // scan-bound agg anchor
    "q05_local_supplier_volume", // multi-join anchor
    "q22_dedup_exact",
    "q27_minhash_neardup",
    "q46_dedup_clusters",
    "q59_merge_sql",
    "q65_merge_star_sql",
    "q102_file_skipping", // pruned point read: expected near-flat
    "q104_temporal_skipping", // pruned range read: expected near-flat
    "q105_ingest_dedup", // full ingest flush + LSH gate: cost ~ batch size
    "q108_auto_compact", // 5-trigger ingest + policy compaction
    "q132_bloom_skipping", // bloom point read: expected near-flat
    "q114_ann_lsh",
    "q131_ann_join",
    "q135_mor_update", // DV update: hit-sized writes, pruned scan
    "q137_cross_corpus_dedup", // banded corpus×corpus join
    "q138_incremental_agg", // delta-maintained aggregate
    "q143_change_feed", // metadata-derived CDF: O(window delta)
    "q148_provenance", // commit-lineage join: O(pairs + manifest)
    "q149_fast_count", // metadata-only count(*): zero data files opened
    "q153_metadata_delete", // file-drop DELETE: O(metadata) at any size
    "q160_bucketed_merge", // bucketed upsert: cost ~ batch buckets (the
                           // registered query's BATCH scales with SF, so
                           // its ratio tracks data; the FIXED-batch
                           // steady-state contract is measured separately
                           // by [[bucketedMergeFlush]])
    "q164_bucket_point_lookup", // bucket-dir pruned PK lookup: warm run
                                // probes the memoized bucketed lake —
                                // planned files track the probed buckets
                                // (2 of 16), never the table; expected
                                // near-flat at 10×
    "q168_stream_cdc_rewrites", // CDC THROUGH REWRITES: upsert and DV
                                // update/delete windows stream via their
                                // write-time change files — per-epoch cost is
                                // O(changed rows), and the capture
                                // itself is change-sized
    "q166_stream_replicate", // lake→lake streaming replication: builds
                             // its lake fresh each run (no memo), so the
                             // ratio measures the FULL stream lifecycle —
                             // backfill epoch + live epoch — against 10×
                             // the rows; per-epoch cost is O(commit
                             // delta), the wall tracks the data volume
                             // that actually moves
    "q167_stream_cdc") // streaming CDC: per-epoch cost is O(changed
                       // files + window DV entries) — the delete leg
                       // scans only DV-referenced files, never the table

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val smallDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val bigDir = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val spark = GraftSession.localBuilder()
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // warm-up: JVM + codegen + parquet footers on both scales
    Tables.lineitem(spark, smallDir).count()
    Tables.lineitem(spark, bigDir).count()
    SparkEntry.queries("q06_forecast_revenue")(spark, smallDir).collect()

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).collect()
      (System.nanoTime() - t0) / 1e9
    }

    // cold = first run at a dir (includes any per-dir lake/index build the
    // query memoizes); warm = second run (probe/read-only for the skipping
    // and index-backed queries — the steady-state cost at scale)
    val rows = queries.map { q =>
      val small = time(q, smallDir)
      val big = time(q, bigDir)
      val smallW = time(q, smallDir)
      val bigW = time(q, bigDir)
      println(s"$q: cold small=${num(small)}s big=${num(big)}s " +
        s"ratio=${num(big / small)}x | warm small=${num(smallW)}s " +
        s"big=${num(bigW)}s ratio=${num(bigW / smallW)}x")
      (q, small, big, smallW, bigW)
    }
    val bmerge = bucketedMergeFlush(spark, smallDir, bigDir)
    val rbk = rebucketFlushRestore(spark, bigDir)
    val rbkRace = rebucketVsAppendRace(spark)
    val abr = boundedAutoRebucket(spark)
    val cdcRace = cdcVsAppendRace(spark)
    val race = multiWriterRace(spark)
    val optRace = compactVsAppendRace(spark)
    val json = rows.map { case (q, s, b, sw, bw) =>
      s""""$q":{"small_s":${num(s)},"big_s":${num(b)},"ratio":${num(b / s)}""" +
        s""","warm_small_s":${num(sw)},"warm_big_s":${num(bw)}""" +
        s""","warm_ratio":${num(bw / sw)}}"""
    }.mkString("{\"small\":\"" + smallDir + "\",\"big\":\"" + bigDir +
      "\",\"queries\":{", ",",
      s"},\"bucketed_merge_flush\":$bmerge," +
        s"\"rebucket_flush_restore\":$rbk," +
        s"\"rebucket_vs_append\":$rbkRace," +
        s"\"auto_rebucket_bounded\":$abr," +
        s"\"cdc_vs_append\":$cdcRace,\"race\":$race," +
        s"\"optimize_vs_append\":$optRace}")
    Files.write(Paths.get("scale_bench.json"),
      json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }

  /** First `n` keys above `from` whose `bucket(nb, key)` value is 0 — the
    * exact murmur3 the write path evaluates (LongType, seed 42), so a
    * batch of these keys lands WHOLLY in one bucket: the skewed-flush
    * worst case. */
  private def keysInBucketZero(nb: Int, from: Long, n: Int): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var k = from
    var found = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(k, 42)
      if (((h % nb) + nb) % nb == 0) { out += k; found += 1 }
      k += 1
    }
    out.result()
  }

  /** Steady-state MERGE per-flush cost on a PK-BUCKETED layout at two data
    * scales, with the batch FIXED and the bucket SIZE fixed (bucket count
    * grows with the table — the layout policy a 100 TB deployment uses).
    * The upsert is merge-on-read: a flush WRITES its batch and one
    * deletion vector, whatever the bucket size, and READS only the key
    * columns of the buckets its keys hash into (≤ batch × bucket-size
    * rows), a bound that does not move when the table grows 10×. Per-flush
    * merge cost tracks the BATCH, never the table; the rows a flush masks
    * are paid back by compaction, not by the flush. (The registered q160
    * shows the complementary axis: its batch scales WITH the table, so its
    * cold ratio tracks data volume.) */
  private def bucketedMergeFlush(spark: SparkSession, smallDir: String,
      bigDir: String): String = {
    import org.apache.spark.sql.functions._
    val targetBucketRows = 600L
    val batchRows = 128
    val flushes = 5
    def run(dir: String): (Double, Double, Long, Int) = {
      val wh = Files.createTempDirectory("graft-bflush").toString
      val lake = new graft.catalog.GraftLake(spark, wh)
      val ord = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val nRows = ord.count()
      val nb = math.max(8L, nRows / targetBucketRows).toInt
      // seed write pre-clustered on the bucket value: each task owns whole
      // buckets → one file per bucket, not tasks × buckets slivers
      lake.write("m", ord.repartition(64, pmod(hash(col("o_orderkey")), lit(nb))),
        partitions = Seq(s"bucket($nb, o_orderkey)"), pks = Seq("o_orderkey"))
      val maxK = ord.agg(max("o_orderkey")).head().getLong(0)
      var total = 0.0
      for (f <- 1 to flushes) {
        // half updates of existing keys (pseudo-random spread), half inserts
        val batch = spark.range(batchRows).select(
          when(col("id") % 2 === 0,
            (col("id") * 7919L + f * 104729L) % maxK)
            .otherwise(lit(maxK) + f * 1000000L + col("id"))
            .as("o_orderkey"),
          lit("X").as("o_orderstatus"), lit(1.0).as("o_totalprice"))
          .repartition(4)
        val t0 = System.nanoTime()
        lake.upsert("m", batch)
        total += (System.nanoTime() - t0) / 1e6
      }
      // SKEWED worst case: every key of the batch hashes into ONE bucket
      // (all inserts above the key domain) — the probe reads a single
      // bucket, the bound that holds when a pathological batch
      // concentrates instead of spreading
      var skewTotal = 0.0
      for (f <- 1 to flushes) {
        val keys = keysInBucketZero(nb, maxK + f * 10000000L, batchRows)
        val batch = spark.createDataset(keys)(
          org.apache.spark.sql.Encoders.scalaLong).toDF("o_orderkey")
          .select(col("o_orderkey"),
            lit("S").as("o_orderstatus"), lit(2.0).as("o_totalprice"))
          .repartition(4)
        val t0 = System.nanoTime()
        lake.upsert("m", batch)
        skewTotal += (System.nanoTime() - t0) / 1e6
      }
      (total / flushes, skewTotal / flushes, nRows, nb)
    }
    val (sMs, sSkewMs, sRows, sNb) = run(smallDir)
    val (bMs, bSkewMs, bRows, bNb) = run(bigDir)
    println(s"[bucketed-merge] fixed $batchRows-row flush, " +
      s"~$targetBucketRows rows/bucket: small(${sRows}r/${sNb}b)=" +
      s"${num(sMs)}ms big(${bRows}r/${bNb}b)=${num(bMs)}ms " +
      s"ratio=${num(bMs / sMs)}x | skewed(one bucket): small=" +
      s"${num(sSkewMs)}ms big=${num(bSkewMs)}ms ratio=${num(bSkewMs / sSkewMs)}x")
    s"""{"batch_rows":$batchRows,"rows_per_bucket":$targetBucketRows,""" +
      s""""flushes":$flushes,""" +
      s""""small":{"rows":$sRows,"buckets":$sNb,"ms_per_flush":${num(sMs)},""" +
      s""""skewed_ms_per_flush":${num(sSkewMs)}},""" +
      s""""big":{"rows":$bRows,"buckets":$bNb,"ms_per_flush":${num(bMs)},""" +
      s""""skewed_ms_per_flush":${num(bSkewMs)}},""" +
      s""""ratio":${num(bMs / sMs)},""" +
      s""""skewed_ratio":${num(bSkewMs / sSkewMs)}}"""
  }

  /** REBUCKET restores per-flush merge I/O on a GROWN table: build the
    * big corpus under a bucket count sized for a table 100× smaller (each
    * bucket ~100× oversized — the state a fixed-at-creation layout decays
    * into as data grows), run `OPTIMIZE … REBUCKET TO` the right count,
    * and compare the fixed-batch per-flush cost. The contract metric is
    * ROWS READ per flush (task input metrics): the merge probe reads ≈
    * touched-buckets × bucket-size rows, which the rebucket shrinks ~an order
    * of magnitude — at 100 TB the data term IS the cost. Wall time is
    * reported too but at local toy scale it is fixed-overhead-dominated
    * (a ~100-task job costs seconds regardless of 75k vs 1.5M rows), so
    * the rows ratio carries the scaling argument. */
  private def rebucketFlushRestore(spark: SparkSession,
      bigDir: String): String = {
    import org.apache.spark.sql.functions._
    val targetBucketRows = 600L
    val batchRows = 128
    val flushes = 3
    val wh = Files.createTempDirectory("graft-rbkflush").toString
    val lake = new graft.catalog.GraftLake(spark, wh)
    val ord = Tables.orders(spark, bigDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val nRows = ord.count()
    val nbRight = math.max(8L, nRows / targetBucketRows).toInt
    val nbStale = math.max(8, nbRight / 100) // sized for a 100×-smaller table
    lake.write("m", ord.repartition(64,
      pmod(hash(col("o_orderkey")), lit(nbStale))),
      partitions = Seq(s"bucket($nbStale, o_orderkey)"), pks = Seq("o_orderkey"))
    val maxK = ord.agg(max("o_orderkey")).head().getLong(0)
    def flushAvg(tag: Int): (Double, Double) = {
      val read = new java.util.concurrent.atomic.LongAdder
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            read.add(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      var totalMs = 0.0
      try {
        for (f <- 1 to flushes) {
          val batch = spark.range(batchRows).select(
            when(col("id") % 2 === 0,
              (col("id") * 7919L + (tag * 10 + f) * 104729L) % maxK)
              .otherwise(lit(maxK) + (tag * 10 + f) * 1000000L + col("id"))
              .as("o_orderkey"),
            lit("X").as("o_orderstatus"), lit(1.0).as("o_totalprice"))
            .repartition(4)
          val t0 = System.nanoTime()
          lake.upsert("m", batch)
          totalMs += (System.nanoTime() - t0) / 1e6
        }
        // listener events drain asynchronously; settle before reading
        val deadline = System.nanoTime() + 10e9.toLong
        var last = -1L
        while (System.nanoTime() < deadline && read.sum() != last) {
          last = read.sum(); Thread.sleep(200)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      (totalMs / flushes, read.sum().toDouble / flushes)
    }
    val (beforeMs, beforeRows) = flushAvg(1)
    val t0 = System.nanoTime()
    lake.rebucket("m", nbRight)
    val rebucketSecs = (System.nanoTime() - t0) / 1e9
    val (afterMs, afterRows) = flushAvg(2)
    println(s"[rebucket-restore] $nRows rows: stale bucket($nbStale) " +
      s"flush=${num(beforeMs)}ms/${num(beforeRows)}rows → " +
      s"rebucket($nbRight) in ${num(rebucketSecs)}s → " +
      s"flush=${num(afterMs)}ms/${num(afterRows)}rows " +
      s"(${num(beforeRows / afterRows)}x fewer rows per flush)")
    s"""{"rows":$nRows,"stale_buckets":$nbStale,"right_buckets":$nbRight,""" +
      s""""before_ms_per_flush":${num(beforeMs)},""" +
      s""""before_rows_per_flush":${num(beforeRows)},""" +
      s""""rebucket_seconds":${num(rebucketSecs)},""" +
      s""""after_ms_per_flush":${num(afterMs)},""" +
      s""""after_rows_per_flush":${num(afterRows)},""" +
      s""""restored_rows_ratio":${num(beforeRows / afterRows)}}"""
  }

  /** ONLINE REBUCKET vs streaming appends, two REAL processes: the parent
    * re-buckets a table while a forked [[RaceAppender]] JVM appends to it.
    * The round-13 contract (incremental migration): the layout FLIP is a
    * metadata commit nothing can invalidate, each old bucket migrates as
    * its own compaction-style commit (inputs-still-live validation), and
    * appends — which only ADD files — conflict with NOTHING: the rebucket
    * COMPLETES while the appender streams, with interleaved append
    * commits inside the migration's commit span as the overlap proof.
    * The child's stale-layout commits exercise the cross-process layout
    * validation (refused at commit, re-derived — `appendLayoutRetry`);
    * no mixed directory survives and every row from both writers lands
    * in the NEW layout, with NO post-quiesce pass. */
  /** BOUNDED auto-rebucket (round-14 contract): the policy's doubling
    * must not stall the triggering micro-batch for an O(table) rewrite.
    * Both sides run the SAME stream shape (10 k-row appends, one file
    * per touched bucket); the reference copy lets its trigger flush run
    * the round-13 UNBOUNDED doubling (the whole-table rewrite inside
    * one flush), the bounded copy drains it 2 groups per flush. The
    * contract: the bounded WORST flush beats the unbounded trigger
    * flush, the migration spreads across >=8 flushes, reads stay exact
    * and the layout converges with zero lost rows. (At toy scale each
    * group commit is fixed-overhead-bound — the wall ratio here
    * understates the 100 TB gap, where one group is GBs and the whole
    * table is TBs.) */
  private def boundedAutoRebucket(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val base = 1200000L
    val batchRows = 10000L
    def seed(wh: String): graft.catalog.GraftLake = {
      val lake = new graft.catalog.GraftLake(spark, wh)
      lake.write("abk_t", spark.range(base)
        .select(col("id").as("k"), (col("id") % 13).as("v"))
        .repartition(24, pmod(hash(col("id")), lit(16))),
        partitions = Seq("bucket(16, k)"))
      lake
    }
    def batch(i: Int) = spark.range(
        base + i * batchRows, base + (i + 1) * batchRows)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
      .repartition(1) // stream-shaped: one file per touched bucket
    val target = base / 16 - 5000 // 75k/bucket mean trips the doubling
    // reference: the UNBOUNDED doubling runs INSIDE its trigger flush —
    // the round-13 stall, measured with the identical append shape
    val lakeRef = seed(Files.createTempDirectory("graft-abk-ref").toString)
    val tRef0 = System.nanoTime()
    lakeRef.append("abk_t", batch(0))
    lakeRef.maybeAutoRebucket("abk_t", target)
    val stallFlushSecs = (System.nanoTime() - tRef0) / 1e9
    require(lakeRef.readMeta("abk_t").partitions == Seq("bucket(32, k)"),
      "the unbounded reference flush must have doubled")
    // bounded: the same trigger amortizes at 2 groups per flush
    val lake = seed(Files.createTempDirectory("graft-abk").toString)
    var flushes = 0
    var maxFlush = 0.0
    var totalFlush = 0.0
    var converged = false
    while (!converged && flushes < 40) {
      val t0 = System.nanoTime()
      lake.append("abk_t", batch(flushes))
      lake.maybeAutoRebucket("abk_t", target, maxGroupsPerCall = 2)
      val dt = (System.nanoTime() - t0) / 1e9
      flushes += 1
      maxFlush = math.max(maxFlush, dt)
      totalFlush += dt
      converged = lake.readMeta("abk_t").partitions == Seq("bucket(32, k)") &&
        lake.dataFiles("abk_t").forall(_.contains("__p_bucket_32_k="))
    }
    require(converged, "bounded auto-rebucket never converged")
    require(flushes >= 8, // 16 old groups / 2 per call, + the trigger flush
      s"the doubling must amortize across flushes, finished in $flushes")
    val n = lake.read("abk_t").count()
    require(n == base + flushes * batchRows,
      s"rows lost under the bounded migration: $n")
    require(maxFlush < stallFlushSecs,
      s"bounded worst flush ($maxFlush s) must beat the unbounded " +
        s"trigger flush ($stallFlushSecs s)")
    println(s"[auto-rebucket] unbounded trigger flush stalls " +
      s"${num(stallFlushSecs)}s; bounded (2 groups/flush) worst flush " +
      s"${num(maxFlush)}s across $flushes flushes, converged, zero lost rows")
    s"""{"base_rows":$base,"unbounded_trigger_flush_s":${num(stallFlushSecs)},""" +
      s""""flushes":$flushes,"max_flush_s":${num(maxFlush)},""" +
      s""""mean_flush_s":${num(totalFlush / flushes)},""" +
      s""""groups_per_flush":2,"rows_exact":true,""" +
      s""""bounded_beats_stall":true}"""
  }

  private def rebucketVsAppendRace(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft-rbkrace").toString
    val lake = new graft.catalog.GraftLake(spark, wh)
    val baseRows = 1000000L
    lake.write("rbk_t", spark.range(baseRows)
      .select(col("id").as("seq"), lit("base").as("writer"),
        (col("id") % 97).cast("int").as("bucket"))
      .repartition(24, pmod(hash(col("seq")), lit(8))),
      partitions = Seq("bucket(8, seq)"))
    val nBatches = 8
    val rowsPerBatch = 100000L
    val child = RaceAppender.spawn(wh, "rbk_t", "w2", nBatches, rowsPerBatch)
    val drainer = new ChildDrain(child, "rbk-race-drain")
    val v0 = lake.versions("rbk_t").size
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (lake.versions("rbk_t").size == v0 && System.nanoTime() < deadline)
      Thread.sleep(100)
    require(lake.versions("rbk_t").size > v0, "rbk-race child never committed")
    val retries0 = graft.metrics.GraftMetrics.op("rebucketRetry").count.sum()
    val t0 = System.nanoTime()
    // THE headline contract: completes under the live appender — a loud
    // failure here is a real regression, never caught-and-retried
    lake.rebucket("rbk_t", 32)
    val rebucketSecs = (System.nanoTime() - t0) / 1e9
    val childAliveAtConvergence = child.isAlive
    if (!child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)) {
      child.destroyForcibly()
      throw new IllegalStateException("rbk-race child did not exit")
    }
    drainer.join(10000)
    require(child.exitValue() == 0, s"rbk-race child failed: ${drainer.line}")
    val retries = graft.metrics.GraftMetrics.op("rebucketRetry").count.sum() -
      retries0
    graft.catalog.GraftLake.invalidateCaches()
    val lake2 = new graft.catalog.GraftLake(spark, wh)
    require(lake2.readMeta("rbk_t").partitions == Seq("bucket(32, seq)"),
      "the rebucket must have converged to the new layout")
    val dirs = lake2.dataFiles("rbk_t").map(p =>
      new org.apache.hadoop.fs.Path(p).getParent.getName.split('=').head).toSet
    require(dirs == Set("__p_bucket_32_seq"),
      s"NO mixed layout may survive the race, got dirs $dirs")
    val byWriter = lake2.read("rbk_t")
      .groupBy(col("writer")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(byWriter.getOrElse("base", 0L) == baseRows &&
      byWriter.getOrElse("w2", 0L) == nBatches * rowsPerBatch,
      s"rebucket-vs-append lost rows: $byWriter")
    // overlap proof: append commits INSIDE the migration's commit span
    val hist = lake2.history("rbk_t").collect()
      .map(r => r.getString(2)) // op column, version-ordered
    val firstRbk = hist.indexOf("rebucket")
    val lastRbk = hist.lastIndexOf("rebucket")
    val interleaved = hist.slice(firstRbk, lastRbk + 1)
      .count(op => op == "append" || op == "write")
    require(interleaved >= 1 || childAliveAtConvergence,
      "no overlap was exercised — the appender never landed inside the " +
        "migration window")
    println(s"[rbk-race] rebucket of ${baseRows + nBatches * rowsPerBatch} " +
      s"rows COMPLETED in ${num(rebucketSecs)}s against a live appender " +
      s"($interleaved append commits interleaved, $retries per-bucket " +
      "retries); zero lost rows, no mixed layout, no post-quiesce pass")
    s"""{"base_rows":$baseRows,"child_batches":$nBatches,""" +
      s""""rows_per_batch":$rowsPerBatch,"all_landed":true,""" +
      s""""rebucket_seconds":${num(rebucketSecs)},""" +
      s""""rebucket_retries":$retries,"interleaved_appends":$interleaved,""" +
      s""""completed_under_load":true}"""
  }

  /** CONCURRENT OPTIMIZE vs streaming appends, two REAL processes: the
    * parent runs a LONG z-ordered compaction of an sf1-sized table while
    * a forked [[RaceAppender]] JVM appends to the same table. The
    * round-11 contract: compaction neither blocks nor is blocked by
    * appends — the rewrite holds no table lock, the commit validates its
    * input files are still live (appends always win), and every row from
    * both writers survives. `appends_during_compaction` counts the child
    * commits that landed strictly inside the parent's compaction window —
    * the overlap evidence. */

  /** Drain a forked child's merged output concurrently (a filled 64 KB
    * pipe buffer would block the child mid-race), keeping the best
    * diagnostic line: the `[race-child]` contract line when present,
    * else the first exception-ish line (the message, not the stack
    * tail), else the first line the child printed. */
  private final class ChildDrain(child: Process, name: String) {
    @volatile var line = ""
    private val t = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(child.getInputStream))
      var l = r.readLine()
      while (l != null) {
        val sticky = line.startsWith("[race-child]") ||
          line.contains("Exception") || line.contains("Error")
        if (l.startsWith("[race-child]") ||
            (!sticky && (l.contains("Exception") || l.contains("Error") ||
              line.isEmpty)))
          line = l
        l = r.readLine()
      }
    }, name)
    t.setDaemon(true); t.start()
    def join(ms: Long): Unit = t.join(ms)
  }

  private def compactVsAppendRace(spark: SparkSession): String = {
    import org.apache.spark.sql.functions.{col, lit}
    val wh = Files.createTempDirectory("graft-optrace").toString
    val lake = new graft.catalog.GraftLake(spark, wh)
    val baseRows = 1500000L
    lake.append("opt_t", spark.range(baseRows)
      .select(col("id").as("seq"), lit("base").as("writer"),
        (col("id") % 97).cast("int").as("bucket")).repartition(24))
    val nBatches = 16
    val rowsPerBatch = 100000L
    val child = RaceAppender.spawn(wh, "opt_t", "w2", nBatches, rowsPerBatch)
    val drainer = new ChildDrain(child, "opt-race-drain")
    def childLine = drainer.line
    // overlap: start the compaction only once the child is live
    val v0 = lake.versions("opt_t").size
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (lake.versions("opt_t").size == v0 && System.nanoTime() < deadline)
      Thread.sleep(100)
    require(lake.versions("opt_t").size > v0, "opt-race child never committed")
    val vStart = lake.versions("opt_t").last
    val t0 = System.nanoTime()
    lake.compact("opt_t", clusterBy = Seq("seq")) // z-order = the LONG rewrite
    val compactSecs = (System.nanoTime() - t0) / 1e9
    graft.catalog.GraftLake.invalidateCaches()
    val lake2 = new graft.catalog.GraftLake(spark, wh)
    val hist = lake2.history("opt_t").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val compactV = hist.filter(_._2 == "zorder").map(_._1).max
    val appendsDuring = hist.count { case (v, op) =>
      v > vStart && v < compactV && op == "append"
    }
    if (!child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)) {
      child.destroyForcibly()
      throw new IllegalStateException("opt-race child did not exit")
    }
    drainer.join(10000)
    require(child.exitValue() == 0, s"opt-race child failed: $childLine")
    graft.catalog.GraftLake.invalidateCaches()
    val lake3 = new graft.catalog.GraftLake(spark, wh)
    val byWriter = lake3.read("opt_t")
      .groupBy(col("writer")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(byWriter.getOrElse("base", 0L) == baseRows &&
      byWriter.getOrElse("w2", 0L) == nBatches * rowsPerBatch,
      s"optimize-vs-append lost rows: $byWriter")
    require(appendsDuring >= 1,
      s"no child append landed inside the compaction window " +
        s"(compact ${num(compactSecs)}s) — no overlap was exercised")
    println(s"[opt-race] z-order compaction of $baseRows rows took " +
      s"${num(compactSecs)}s with $appendsDuring concurrent appends " +
      "landing mid-compaction; zero lost rows")
    s"""{"base_rows":$baseRows,"child_batches":$nBatches,""" +
      s""""rows_per_batch":$rowsPerBatch,"all_landed":true,""" +
      s""""compact_seconds":${num(compactSecs)},""" +
      s""""appends_during_compaction":$appendsDuring}"""
  }

  /** MULTI-WRITER commit race with two REAL driver processes: this JVM
    * and a forked [[RaceAppender]] JVM append concurrently to ONE lake
    * table (sf1-sized batches). The cross-process contract under test
    * (SnapshotSpec "cross-process commit race"): pure appends that lose
    * a version race RETRY against the winner's state — every batch from
    * both writers lands, no rows lost, one linear version history, and
    * the `commitRetry` sensor counts the collisions. Returns a JSON
    * object for scale_bench.json. */
  /** CHANGE CAPTURE under the cross-process commit race: a cdf-enabled
    * PK-bucketed table receives appends from a forked [[RaceAppender]]
    * JVM while the parent lands CAPTURED upserts (write-time change
    * files) and a `feed=cdf` consumer follows the commit log into a
    * parquet sink — change files, the bucketed merge fast path and the
    * append commit race COMPOSE. Contracts: every child append and every
    * parent upsert lands exactly once (upserts retry on cross-process
    * collisions — the documented non-append contract); the consumer's
    * accumulated feed replays the history exactly (insert rows == the
    * child's rows, update postimages == the parent's upsert matches);
    * nothing lost, nothing duplicated. */
  private def cdcVsAppendRace(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft-cdcrace").toString
    val lake = new graft.catalog.GraftLake(spark, wh)
    val seedRows = 50000L
    val seedBase = 10000000L // disjoint from the child's key range
    lake.write("cdc_t", spark.range(seedRows)
      .select((col("id") + seedBase).as("seq"), lit("base").as("writer"),
        (col("id") % 97).cast("int").as("bucket")),
      partitions = Seq("bucket(8, seq)"), pks = Seq("seq"))
    lake.setTableProperty("cdc_t",
      graft.catalog.TableMeta.CdfEnabledKey, "true")
    val floor = lake.versions("cdc_t").last
    val outDir = Files.createTempDirectory("graft-cdcrace-out").toString
    val ckpt = Files.createTempDirectory("graft-cdcrace-ck").toString
    val consumer = spark.readStream.format("graft-cdf")
      .option("warehouse", wh).option("table", "cdc_t")
      .option("feed", "cdf").option("startingVersion", floor.toString)
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    val nBatches = 6
    val rowsPerBatch = 50000L
    val child = RaceAppender.spawn(wh, "cdc_t", "w2", nBatches, rowsPerBatch)
    val drainer = new ChildDrain(child, "cdc-race-drain")
    // interleave CAPTURED upserts while the child streams appends; a
    // cross-process collision is the non-append contract: re-derive, retry
    val upserts = 3
    val keysPerUpsert = 500L
    var collisions = 0
    val t0 = System.nanoTime()
    for (u <- 1 to upserts) {
      val batch = spark.range(keysPerUpsert)
        .select((col("id") * 97 + seedBase).as("seq"),
          lit(s"upd$u").as("writer"), lit(-u).cast("int").as("bucket"))
      var landed = false
      while (!landed)
        try { lake.upsert("cdc_t", batch); landed = true }
        catch {
          case _: java.util.ConcurrentModificationException =>
            collisions += 1
        }
      Thread.sleep(500)
    }
    if (!child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
      child.destroyForcibly()
      throw new IllegalStateException("cdc-race child did not exit")
    }
    drainer.join(10000)
    require(child.exitValue() == 0, s"cdc-race child failed: ${drainer.line}")
    consumer.processAllAvailable()
    consumer.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    graft.catalog.GraftLake.invalidateCaches()
    val lake2 = new graft.catalog.GraftLake(spark, wh)
    // table: exactly-once per writer, upserts matched in place
    val byWriter = lake2.read("cdc_t").groupBy(col("writer")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val childRows = nBatches * rowsPerBatch
    require(byWriter.getOrElse("w2", 0L) == childRows,
      s"child appends lost under capture: $byWriter")
    require(byWriter.collect {
      case (w, c) if w.startsWith("upd") || w == "base" => c }.sum == seedRows,
      s"upserts must match in place, never duplicate: $byWriter")
    // feed: the consumer replays the history exactly — child appends as
    // inserts, each upsert round as matched update pairs
    val feed = spark.read.parquet(outDir)
    val inserts = feed.filter(col("_change_type") === "insert").count()
    val posts = feed.filter(col("_change_type") === "update_postimage").count()
    val pres = feed.filter(col("_change_type") === "update_preimage").count()
    require(inserts == childRows,
      s"feed inserts must equal the child's rows: $inserts vs $childRows")
    require(posts == upserts * keysPerUpsert && pres == posts,
      s"feed must carry every upsert as a pre/post pair: pre=$pres post=$posts")
    // every feed insert is a real table row (exactly-once, by key)
    require(feed.filter(col("_change_type") === "insert")
      .select("seq").distinct().count() == childRows,
      "feed inserts must be distinct by key")
    println(s"[cdc-race] ${childRows} child rows + $upserts captured " +
      s"upserts in ${num(secs)}s ($collisions upsert collisions retried); " +
      "feed == history, zero lost")
    s"""{"child_rows":$childRows,"upserts":$upserts,""" +
      s""""keys_per_upsert":$keysPerUpsert,""" +
      s""""upsert_collisions":$collisions,""" +
      s""""feed_inserts":$inserts,"feed_update_pairs":$posts,""" +
      s""""seconds":${num(secs)},"all_exact":true}"""
  }

  private def multiWriterRace(spark: SparkSession): String = {
    val wh = Files.createTempDirectory("graft-race").toString
    val lake = new graft.catalog.GraftLake(spark, wh)
    val nBatches = 8
    val rowsPerBatch = 200000L
    // pre-create the table: concurrent CREATE is not the contract under
    // test (the reference inherits create-once from its catalog DB)
    lake.write("race_t", spark.range(1)
      .select(org.apache.spark.sql.functions.col("id").as("seq"),
        org.apache.spark.sql.functions.lit("seed").as("writer"),
        org.apache.spark.sql.functions.lit(0).as("bucket")))
    // fork the second driver with this JVM's classpath + module opens
    val t0 = System.nanoTime()
    // retry evidence must be a DELTA from here — the sensor is global and
    // earlier bench queries may have retried
    val retries0 = graft.metrics.GraftMetrics.op("commitRetry").count.sum()
    val child = RaceAppender.spawn(wh, "race_t", "w2", nBatches, rowsPerBatch)
    val drainer = new ChildDrain(child, "race-child-drain")
    def childLine = drainer.line
    // wait for the child's FIRST commit so the two writers genuinely
    // overlap (the child JVM pays Spark startup first; appending before
    // it is alive would measure two sequential writers, not a race)
    val v0 = lake.versions("race_t").size
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (lake.versions("race_t").size == v0 && System.nanoTime() < deadline)
      Thread.sleep(200)
    require(lake.versions("race_t").size > v0,
      "race child never committed within 120s")
    // parent appends CONCURRENTLY while the child races it
    for (b <- 0 until nBatches) {
      val batch = spark.range(rowsPerBatch)
        .select((org.apache.spark.sql.functions.col("id") + b * rowsPerBatch)
          .as("seq"),
          org.apache.spark.sql.functions.lit("w1").as("writer"),
          (org.apache.spark.sql.functions.col("id") % 97).cast("int")
            .as("bucket"))
      lake.append("race_t", batch)
    }
    val parentRetries =
      graft.metrics.GraftMetrics.op("commitRetry").count.sum() - retries0
    if (!child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)) {
      child.destroyForcibly()
      throw new IllegalStateException(
        "race child did not exit within 180s after the parent finished " +
          s"its appends — last child line: '$childLine'")
    }
    drainer.join(10000)
    val secs = (System.nanoTime() - t0) / 1e9
    require(child.exitValue() == 0,
      s"race child failed (exit ${child.exitValue()}): $childLine")
    val childRetries = "retries=(\\d+)".r.findFirstMatchIn(childLine)
      .map(_.group(1).toLong).getOrElse(-1L)
    // the contract: EVERY batch from BOTH writers landed, both visible
    graft.catalog.GraftLake.invalidateCaches() // see the child's commits
    val lake2 = new graft.catalog.GraftLake(spark, wh)
    val byWriter = lake2.read("race_t")
      .groupBy(org.apache.spark.sql.functions.col("writer")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = nBatches * rowsPerBatch
    require(byWriter.getOrElse("w1", 0L) == expect &&
      byWriter.getOrElse("w2", 0L) == expect,
      s"multi-writer race lost rows: $byWriter (expected $expect each)")
    val nVersions = lake2.versions("race_t").size
    println(s"[race] two-process append race: ${2 * nBatches} batches, " +
      s"${2 * expect} rows, all landed; versions=$nVersions " +
      s"parentRetries=$parentRetries childRetries=$childRetries " +
      s"secs=${num(secs)}")
    s"""{"writers":2,"batches_each":$nBatches,"rows_each":$expect,""" +
      s""""all_landed":true,"versions":$nVersions,""" +
      s""""parent_retries":$parentRetries,"child_retries":$childRetries,""" +
      s""""seconds":${num(secs)}}"""
  }
}
