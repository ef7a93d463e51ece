package graft.streaming

import java.sql.Timestamp

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked hourly window aggregation emits closed windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.hourlyEventCounts(events, lateness = "5 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hourly_out").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:20:00"), "click", 2.0),
        (ts("2024-01-01 10:40:00"), "view", 3.0))
      q.processAllAvailable()
      // advance the watermark past 11:05 so the 10:00 window closes
      mem.addData((ts("2024-01-01 12:00:00"), "click", 4.0))
      q.processAllAvailable()
      val out = spark.table("hourly_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(out.toSet === Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("late events beyond the watermark are dropped") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.hourlyEventCounts(events, lateness = "5 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_out").start()
    try {
      mem.addData((ts("2024-01-01 10:10:00"), "click", 1.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 13:00:00"), "click", 1.0)) // watermark → 12:55
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:30:00"), "click", 99.0)) // too late
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 15:00:00"), "click", 1.0)) // close everything open
      q.processAllAvailable()
      val n10 = spark.table("late_out")
        .filter($"hour" === ts("2024-01-01 10:00:00")).head().getLong(2)
      assert(n10 === 1L, "the 99.0 late event must not be counted")
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark, state evicts after") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val recs = mem.toDF().toDF("ts", "doc_id", "text")
    val q = StreamOps.streamingDedup(recs, Seq("doc_id"), "ts", lateness = "5 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:01:00"), 1L, "a-dup"),
        (ts("2024-01-01 10:02:00"), 2L, "b"))
      q.processAllAvailable()
      // same key again within the watermark window → dropped
      mem.addData((ts("2024-01-01 10:03:00"), 1L, "a-dup2"))
      q.processAllAvailable()
      // advance the watermark far past key 1's entry, then replay the key:
      // state was evicted, so the record is (correctly, per the bounded
      // semantics) admitted again
      mem.addData((ts("2024-01-01 12:00:00"), 3L, "c"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 11:58:00"), 1L, "a-after-horizon"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").collect().map(_.getString(2)).toSet
      assert(texts === Set("a", "b", "c", "a-after-horizon"))
    } finally q.stop()
  }

  test("curation ops compose with Structured Streaming: PII redaction on a stream") {
    // redactPii is a pure column map, so the SAME operator runs unchanged
    // over readStream — the property a 100 TB pipeline needs to share one
    // scrub implementation between its batch backfill and its live intake
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.operators.PrivacyOps.redactPii(docs, "text")
      .select("doc_id", "redacted_text", "n_email", "n_url")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("redact_out").start()
    try {
      mem.addData(
        (1L, "mail me at alice@example.com"),
        (2L, "see https://example.org/x"),
        (3L, "clean row"))
      q.processAllAvailable()
      val out = spark.table("redact_out").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(out.toSeq === Seq(
        (1L, "mail me at <EMAIL>", 1L, 0L),
        (2L, "see <URL>", 0L, 1L),
        (3L, "clean row", 0L, 0L)))
    } finally q.stop()
  }

  test("sessionization: gap splits in-batch, idle keys time out via watermark") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L,
        lateness = "5 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_out").start()
    try {
      mem.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        StreamOps.Event(1L, ts("2024-01-01 10:05:00"), "view", 2.0),
        // > 10 min gap -> new session for user 1 within the same batch
        StreamOps.Event(1L, ts("2024-01-01 11:00:00"), "click", 5.0),
        StreamOps.Event(2L, ts("2024-01-01 10:00:00"), "click", 7.0))
      q.processAllAvailable()
      val closed1 = spark.table("sessions_out").as[StreamOps.Session].collect()
      assert(closed1.exists(s =>
        s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0 &&
          s.session_start == ts("2024-01-01 10:00:00") &&
          s.session_end == ts("2024-01-01 10:05:00")),
        s"in-batch gap split missing: ${closed1.toSeq}")
      // push the watermark far ahead; the idle sessions (u1@11:00, u2@10:00)
      // time out in the following batch
      mem.addData(StreamOps.Event(3L, ts("2024-01-01 14:00:00"), "click", 0.0))
      q.processAllAvailable()
      mem.addData(StreamOps.Event(3L, ts("2024-01-01 14:00:30"), "click", 0.0))
      q.processAllAvailable()
      val closed2 = spark.table("sessions_out").as[StreamOps.Session].collect()
      assert(closed2.exists(s => s.user_id == 2L && s.n_events == 1 && s.total_value == 7.0),
        s"watermark timeout session missing: ${closed2.toSeq}")
      assert(closed2.exists(s => s.user_id == 1L && s.n_events == 1 && s.total_value == 5.0),
        s"second u1 session missing: ${closed2.toSeq}")
    } finally q.stop()
  }

  test("sessionization parity: streaming sessions equal the batch window formulation") {
    // the same real events (sf0.001, user_id < 4) through BOTH surfaces:
    // the q49-style batch window sessionizer and the stateful streaming
    // sessionizer must close identical (user, n_events, total) sessions
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    val raw = graft.Tables.events(spark, SparkTestSession.sf)
      .filter(col("user_id") < 4)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    // batch: lag-gap-running-sum formulation (SessionOps/q49)
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = raw
      .withColumn("__prev", lag(col("ts"), 1).over(byTime))
      .withColumn("__brk", when(col("__prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("__prev")) > gapMs * 1000L, 1)
        .otherwise(0))
      .withColumn("sid", sum(col("__brk")).over(running))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select("user_id", "n", "total")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    // streaming: same events through flatMapGroupsWithState, flushed by a
    // far-future sentinel advancing the event-time watermark
    val events = raw.as[StreamOps.Event].collect().sortBy(e => e.ts.getTime)
    val maxTs = events.map(_.ts.getTime).max
    val mem = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(mem.toDS(), gapMs = gapMs)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_parity").start()
    try {
      mem.addData(events.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(StreamOps.Event(9999L, new Timestamp(maxTs + 86400000L), "x", 0.0))
      q.processAllAvailable()
      mem.addData(StreamOps.Event(9999L, new Timestamp(maxTs + 86400000L + 1000L), "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions_parity").as[StreamOps.Session].collect()
        .filter(_.user_id != 9999L)
        .map(s => (s.user_id, s.n_events.toLong,
          math.round(s.total_value * 100.0) / 100.0))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(streamed === batch,
        s"streaming sessions ${streamed.toSeq.sorted} != batch ${batch.toSeq.sorted}")
    } finally q.stop()
  }

  test("streaming curation: lake tail -> map-only funnel -> curated lake table") {
    // the composition a continuous curation pipeline runs: tail an ingest
    // table as a stream, apply the (pure-map, streaming-safe) quality
    // funnel, land survivors in a curated table via foreachBatch
    graft.catalog.GraftLake.invalidateCaches()
    val lake = new graft.catalog.GraftLake(spark,
      java.nio.file.Files.createTempDirectory("graft-stream-cur").toString)
    def doc(id: Long, words: Int) =
      (id, (1 to words).map(i => s"w${i % 9} the").mkString(" "))
    lake.write("raw_docs", Seq(doc(1, 30), doc(2, 2)).toDF("doc_id", "text"))
    val q = graft.operators.QualityOps
      .qualityFunnel(spark.readStream.format("graft-cdf")
        .option("warehouse", lake.warehouseDir).option("table", "raw_docs")
        .option("feed", "appends").option("startingVersion", "snapshot")
        .load(), "text",
        minTokens = 10, maxTokens = 1000, minMeanWordLen = 1.0,
        maxMeanWordLen = 10.0, minStopwordRatio = 0.1, maxDupTokenFrac = 0.99)
      .filter(org.apache.spark.sql.functions.col("fail_rule").isNull)
      .select("doc_id", "text")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        lake.write("curated_docs", df.toDF())
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cur-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      lake.append("raw_docs", Seq(doc(3, 40), doc(4, 3)).toDF("doc_id", "text"))
      q.processAllAvailable()
      val got = lake.read("curated_docs").select("doc_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 3L),
        s"only funnel survivors may land, exactly once: ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming ingestion dedup: batches admit against the maintained LSH index") {
    // the continuous form of incremental dedup: each micro-batch probes
    // the persisted index, dups are diverted, survivors are admitted AND
    // appended to the index — so a later batch duplicating an earlier
    // batch's doc is caught even though neither is in the seed corpus
    graft.catalog.GraftLake.invalidateCaches()
    val lake = new graft.catalog.GraftLake(spark,
      java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString)
    graft.operators.DedupOps.buildMinhashIndex(lake, "ing",
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!df.isEmpty) {
          val flags = graft.operators.DedupOps.incrementalNearDups(
            lake, "ing", df.toDF(), "doc_id", "text", threshold = 0.8)
          lake.write("flags", flags)
        }
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-dedup-ckpt").toString)
      .start()
    try {
      mem.addData((10L, "alpha beta gamma delta epsilon zeta"), // dup of seed
        (11L, "u0x11 u1x11 u2x11 u3x11 u4x11"))                 // fresh
      q.processAllAvailable()
      mem.addData((20L, "u0x11 u1x11 u2x11 u3x11 u4x11"))       // dup of batch-1 doc
      q.processAllAvailable()
      val got = lake.read("flags").select("doc_id", "is_dup").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(10L -> 1L, 11L -> 0L, 20L -> 1L),
        s"cross-micro-batch dup must be caught by the maintained index: $got")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, drops outside it") {
    implicit val sq = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, String)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamOps.intervalJoin(
      imps.toDF().toDF("ts", "user_id", "ad"),
      clicks.toDF().toDF("ts", "user_id", "target"),
      keyCol = "user_id", leftTs = "ts", rightTs = "ts",
      within = "10 minutes", lateness = "5 minutes")
    val q = joined.select("l_user_id", "l_ad", "r_target")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ivj_out").start()
    try {
      imps.addData(
        (ts("2024-01-01 10:00:00"), 1L, "adA"),
        (ts("2024-01-01 10:00:00"), 2L, "adB"))
      clicks.addData(
        (ts("2024-01-01 10:05:00"), 1L, "pageX"),   // in window for u1
        (ts("2024-01-01 10:20:00"), 2L, "pageY"),   // OUTSIDE 10-minute window
        (ts("2024-01-01 10:03:00"), 3L, "pageZ"))   // no matching impression
      q.processAllAvailable()
      val out = spark.table("ivj_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(out.toSet === Set((1L, "adA", "pageX")),
        s"only the in-interval same-key pair may join: ${out.toSeq}")
      // a click BEFORE its impression must not join either (one-directional)
      clicks.addData((ts("2024-01-01 09:59:00"), 2L, "early"))
      q.processAllAvailable()
      assert(spark.table("ivj_out").count() === 1L)
    } finally q.stop()
  }
}
