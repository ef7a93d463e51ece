package graft.operators

import java.nio.file.Files

import graft.{QueryDef, Tables}
import graft.catalog.GraftLake
import graft.schema.SchemaInference
import org.apache.spark.sql.functions._

/** End-to-end write-path pipelines exposed as oracle-checkable queries:
  * each runs real [[GraftLake]] writes into a temp warehouse and returns
  * the landed state, with the equivalent merge/evolution semantics spelled
  * out in DuckDB SQL. This makes the MERGE rewrite and schema evolution
  * part of the driver's hash-checked correctness gate, not just unit-tested
  * behavior. */
object PipelineOps {

  /** Upsert pipeline (reference W2/W3/W4): batch 1 (first half of events by
    * event_id) lands in a fresh table via plain INSERT — the reference
    * appends without PK dedup when the table is new; batch 2 MERGEs with
    * last-wins PK dedup on user_id ordered by (ts, event_id).
    *
    * MERGE INTO semantics preserved exactly: every target row matching a
    * batch PK is updated in place (so duplicate-PK target rows from the
    * append era each become a copy of the batch winner), unmatched batch
    * rows insert, unmatched target rows pass through
    * (DucklakeWriter.java:89-187). */
  val q18UpsertPipeline = QueryDef(
    "q18_upsert_pipeline",
    """WITH h AS (SELECT max(event_id) / 2 AS v FROM events),
      |b1 AS (SELECT event_id, ts, user_id, event_type, value FROM events
      |       WHERE event_id < (SELECT v FROM h)),
      |b2 AS (SELECT event_id, ts, user_id, event_type, value FROM events
      |       WHERE event_id >= (SELECT v FROM h)),
      |w2 AS (SELECT event_id, ts, user_id, event_type, value FROM (
      |         SELECT b2.*, row_number() OVER (PARTITION BY user_id
      |                  ORDER BY ts DESC, event_id DESC) AS rn FROM b2)
      |       WHERE rn = 1)
      |SELECT b1.user_id AS user_id, w2.event_id AS event_id, w2.ts AS ts,
      |       w2.event_type AS event_type, w2.value AS value
      |FROM b1 JOIN w2 ON b1.user_id = w2.user_id
      |UNION ALL
      |SELECT user_id, event_id, ts, event_type, value FROM b1
      |WHERE user_id NOT IN (SELECT user_id FROM w2)
      |UNION ALL
      |SELECT user_id, event_id, ts, event_type, value FROM w2
      |WHERE user_id NOT IN (SELECT user_id FROM b1)
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val h = ev.agg(max("event_id")).head().getLong(0) / 2.0
    val wh = Files.createTempDirectory("graft-q18").toString
    val lake = new GraftLake(s, wh)
    val ordering = Seq(col("ts"), col("event_id"))
    lake.write("state", ev.filter(col("event_id") < h),
      pks = Seq("user_id"), ordering = ordering)
    lake.write("state", ev.filter(col("event_id") >= h),
      pks = Seq("user_id"), ordering = ordering)
    lake.read("state")
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Schema-evolution pipeline (reference D4 + §1.3): two schemaless JSON
    * batches with different shapes — inference + unification per batch, auto
    * create, then ADD COLUMN evolution with null backfill on append. */
  val q19EvolutionPipeline = QueryDef(
    "q19_evolution_pipeline",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |j AS (SELECT
      |  CASE WHEN o_orderkey < (SELECT v FROM h) THEN o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey >= (SELECT v FROM h) THEN o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey >= (SELECT v FROM h) THEN o_orderpriority END AS o_orderpriority
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n, count(o_orderstatus) AS n_status,
      |  round(sum(o_totalprice), 2) AS total
      |FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val batch1 = orders.filter(col("o_orderkey") < h)
      .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("v"))
    val batch2 = orders.filter(col("o_orderkey") >= h)
      .select(to_json(struct(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))).as("v"))
    val wh = Files.createTempDirectory("graft-q19").toString
    val lake = new GraftLake(s, wh)
    for (b0 <- Seq(batch1, batch2)) {
      // cache per batch, as the real ingest pipeline does (processBatch):
      // the inference pass and the landing write otherwise EACH re-run
      // the source scan + to_json lineage
      val b = b0.cache()
      try {
        val schema = SchemaInference.inferSchemaDistributed(b.as[String])
          .getOrElse(throw new IllegalStateException("no schema inferred"))
        lake.write("orders_evolved", b.select(from_json(col("v"), schema).as("r")).select(col("r.*")))
      } finally b.unpersist()
    }
    lake.read("orders_evolved")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), count(col("o_orderstatus")).as("n_status"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  /** Compaction pipeline (the small-file antidote for streaming ingest,
    * SURVEY scale utility): five append batches land many small files, a
    * compaction pass rewrites them into few — the oracle hash-checks that
    * contents are untouched, and the query itself requires that the file
    * count actually dropped. */
  val q64Compaction = QueryDef(
    "q64_compaction",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h))
      |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM seed GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val wh = Files.createTempDirectory("graft-q64").toString
    val lake = new GraftLake(s, wh)
    for (i <- 0 until 5)
      lake.append("oc", orders.filter(col("o_orderkey") < h &&
        col("o_orderkey") % 5 === i))
    val before = lake.dataFiles("oc").size
    lake.compact("oc")
    val after = lake.dataFiles("oc").size
    require(after < before,
      s"compaction must reduce the file count (was $before, now $after)")
    lake.read("oc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** q105: ingestion-time near-dup gate, end-to-end through the FULL
    * pipeline — Kafka-shaped JSON batches → schema inference (doc_id takes
    * the ID-suffix string rule) → [[graft.ingest.IngestPipeline]] landing
    * with a [[graft.ingest.DedupConfig]] gate → per-batch probe/admission
    * against the lake-persisted LSH index.
    *
    * Deterministic by construction (the hash-gate requirement): every doc
    * text is synthetic with its own id embedded in every token, so batch 1
    * ("base") has pairwise-disjoint shingle sets (zero intra-batch dups,
    * guaranteed), batch 2's "copy" class repeats base texts VERBATIM
    * (identical shingles ⇒ identical signature ⇒ every band collides ⇒
    * always caught at Jaccard 1.0) and its "unique" class embeds fresh ids
    * (disjoint from everything ⇒ never flagged). Organic-text S-curve
    * behavior stays pinned by q27/q101 and the dedup specs; this gate
    * proves the WIRING — flags land, admission persists across
    * micro-batches, the stream schema carries the flag column. */
  val q105IngestDedup = QueryDef(
    "q105_ingest_dedup",
    """WITH s AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 5)
      |SELECT 'base' AS class, count(*) AS n_docs, CAST(0 AS BIGINT) AS n_dups FROM s
      |UNION ALL
      |SELECT 'copy' AS class, count(*) AS n_docs, count(*) AS n_dups FROM s
      |UNION ALL
      |SELECT 'unique' AS class, count(*) AS n_docs, CAST(0 AS BIGINT) AS n_dups FROM s
      |ORDER BY class""".stripMargin) { (s, dir) =>
    // 8 slices: the Kafka-shaped input arrives like an 8-partition topic,
    // so the flush (sniff, inference, parse, sketch) parallelizes the way
    // a real trigger does instead of single-threading on one test slice
    val ids = Tables.documents(s, dir).filter(col("doc_id") % 31 === 5)
      .select(col("doc_id")).repartition(8)
    def idText(prefix: String, id: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 8).map(i => concat(lit(s"$prefix${i}x"), id)): _*)
    val base = ids.select(col("doc_id"), idText("b", col("doc_id")).as("text"))
    // copies keep the BASE doc's text verbatim; uniques embed their own id
    val copies = ids.select((col("doc_id") + 10000000L).as("doc_id"),
      idText("b", col("doc_id")).as("text"))
    val uniques = ids.select((col("doc_id") + 20000000L).as("doc_id"),
      idText("u", col("doc_id") + 20000000L).as("text"))
    val wh = Files.createTempDirectory("graft-q105").toString
    val pipeline = new graft.ingest.IngestPipeline(s,
      graft.ingest.IngestConfig(warehouse = wh, dlqTable = None,
        dedup = Map("docs" ->
          graft.ingest.DedupConfig("doc_id", "text", threshold = 0.8))))
    def kafkaShaped(b: org.apache.spark.sql.DataFrame) = b.select(
      lit("docs").as("topic"), lit(0).as("partition"),
      monotonically_increasing_id().as("offset"),
      to_json(struct(col("doc_id"), col("text"))).cast("binary").as("value"))
    pipeline.processBatch(kafkaShaped(base), 0L)
    pipeline.processBatch(kafkaShaped(copies.unionByName(uniques)), 1L)
    pipeline.lake.read("docs")
      .select(col("doc_id").cast("long").as("id"), col("is_dup"))
      .groupBy(when(col("id") < 10000000L, "base")
        .when(col("id") < 20000000L, "copy").otherwise("unique").as("class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
      .orderBy(col("class"))
  }

  /** q107: ingestion-time QUALITY gate, end-to-end through the full
    * pipeline — Kafka-shaped JSON batches → [[graft.ingest.IngestPipeline]]
    * landing with a [[graft.ingest.QualityConfig]] gate (min length,
    * composite score, language allowlist, all map-side codegen'd
    * expressions — one scan of the batch, no shuffle, no state).
    *
    * Deterministic by construction: "good" docs carry 6 stopwords + 2
    * English markers + 12 id-embedding filler tokens (length ≫ 20 chars,
    * score = 0.2·0.5 + 0.25 + 0.25 = 0.6 ≥ 0.3, langid = en), "junk"
    * docs are a 3-char symbol token (fails length AND score AND the en
    * allowlist — three independent rejections). The oracle recomputes the
    * expected flag per class from the raw table. */
  val q107IngestQuality = QueryDef(
    "q107_ingest_quality",
    """WITH s AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 5)
      |SELECT 'good' AS class, count(*) AS n_docs, count(*) AS n_pass FROM s
      |UNION ALL
      |SELECT 'junk' AS class, count(*) AS n_docs,
      |  CAST(0 AS BIGINT) AS n_pass FROM s
      |ORDER BY class""".stripMargin) { (s, dir) =>
    val ids = Tables.documents(s, dir).filter(col("doc_id") % 31 === 5)
      .select(col("doc_id")).repartition(8)
    val good = ids.select(col("doc_id"),
      concat(lit("the and of to is in that it "),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit(s"g${i}x"), col("doc_id"))): _*)).as("text"))
    val junk = ids.select((col("doc_id") + 10000000L).as("doc_id"),
      lit("@@@").as("text"))
    val wh = Files.createTempDirectory("graft-q107").toString
    val pipeline = new graft.ingest.IngestPipeline(s,
      graft.ingest.IngestConfig(warehouse = wh, dlqTable = None,
        quality = Map("docs" -> graft.ingest.QualityConfig(
          "text", minChars = 20, minScore = 0.3, langAllow = Seq("en")))))
    pipeline.processBatch(good.unionByName(junk).select(
      lit("docs").as("topic"), lit(0).as("partition"),
      monotonically_increasing_id().as("offset"),
      to_json(struct(col("doc_id"), col("text"))).cast("binary").as("value")), 0L)
    pipeline.lake.read("docs")
      .select(col("doc_id").cast("long").as("id"), col("quality_ok"))
      .groupBy(when(col("id") < 10000000L, "good").otherwise("junk").as("class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("quality_ok")).as("n_pass"))
      .orderBy(col("class"))
  }

  /** q108: POLICY-driven compaction through the full ingest pipeline —
    * [[graft.ingest.CompactionConfig]] wired into [[graft.ingest
    * .IngestPipeline]]: five Kafka-shaped micro-batches land five+ small
    * files, the post-flush trigger crosses `minFiles` and rewrites them,
    * and the query REQUIRES the live file count actually shrank (q64's
    * in-query gate, now exercised by the automatic path instead of a
    * manual call). The oracle hash-checks that the policy never touched
    * contents. */
  val q108AutoCompact = QueryDef(
    "q108_auto_compact",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h))
      |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM seed GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val wh = Files.createTempDirectory("graft-q108").toString
    val pipeline = new graft.ingest.IngestPipeline(s,
      graft.ingest.IngestConfig(warehouse = wh, dlqTable = None,
        autoCompact = Map("oc" -> graft.ingest.CompactionConfig(
          minFiles = 4, targetRecordsPerFile = 1000000))))
    // 8 slices: arrive like an 8-partition topic (see q105)
    def kafkaShaped(b: org.apache.spark.sql.DataFrame) = b.repartition(8).select(
      lit("oc").as("topic"), lit(0).as("partition"),
      monotonically_increasing_id().as("offset"),
      to_json(struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))).cast("binary").as("value"))
    for (i <- 0 until 5)
      pipeline.processBatch(kafkaShaped(orders.filter(
        col("o_orderkey") < h && col("o_orderkey") % 5 === i)), i.toLong)
    val files = pipeline.lake.liveFileCount("oc")
    require(files < 4,
      s"auto-compaction must have rewritten the small files (live: $files)")
    pipeline.lake.read("oc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** q165: the `graft-cdf` STREAMING source end-to-end — a
    * Structured-Streaming query tails a lake table's COMMIT LOG with
    * snapshot-version offsets ([[graft.streaming.GraftCdfSource]]).
    * The stream starts in `snapshot` mode over the first append (the
    * backfill batch), then — while the query is LIVE — two more appends
    * and a COMPACTION land; the version feed delivers exactly the
    * appended rows: the compaction commit contributes nothing (a
    * content-preserving rewrite is a no-op on the version feed, where
    * the file-tailing alternative would re-emit every compacted row).
    * The in-query `require` pins exactly-once across the rewrite; the
    * oracle sees the same rows a batch read would — an exactly-once
    * streaming consumer is indistinguishable from batch. Restart /
    * checkpoint resume, rewrite fail-fast, DV-masked backfill, rate
    * limiting and expired-offset refusal are spec-gated
    * (GraftCdfSourceSpec). */
  val q165StreamFeed = QueryDef(
    "q165_stream_feed",
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      |FROM orders WHERE o_orderkey % 3 = 0
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val wh = Files.createTempDirectory("graft-q165").toString
    val lake = new GraftLake(s, wh)
    lake.append("feed", orders.filter(col("o_orderkey") % 9 === 0))
    val sink = s"q165_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = s.readStream.format("graft-cdf")
      .option("warehouse", wh).option("table", "feed")
      .option("startingVersion", "snapshot")
      .load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-q165-ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // the snapshot backfill batch
      // live commits: two appends and a compaction the feed must skip
      lake.append("feed", orders.filter(col("o_orderkey") % 9 === 3))
      val before = lake.liveFileCount("feed")
      lake.compact("feed", targetRecordsPerFile = 10000000)
      require(before > lake.liveFileCount("feed") || before == 1,
        s"compaction must have merged the small files (was $before)")
      lake.append("feed", orders.filter(col("o_orderkey") % 9 === 6))
      q.processAllAvailable() // the incremental batches
    } finally q.stop()
    val got = s.table(sink)
    val (sinkN, tableN) = (got.count(), lake.read("feed").count())
    require(sinkN == tableN,
      s"commit-log stream must emit every appended row exactly once " +
        s"across the compaction (sink $sinkN vs table $tableN)")
    got.select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q166: lake→lake STREAMING REPLICATION — the `graft-cdf` source and
    * the `graft` sink composed into one continuous query: the source
    * table's commit log feeds snapshot-version micro-batches, each epoch
    * lands in the replica through [[graft.catalog.GraftLake
    * .appendIdempotent]] keyed `(checkpoint, batchId)` (a restart's WAL
    * replay of the last epoch no-ops against the txn watermark — the
    * exactly-once contract, spec-gated in GraftSinkSpec). Commits landing
    * WHILE the query runs flow through; the oracle sees the replica equal
    * a batch read of the source rows. At 100 TB this is continuous
    * downstream replication in O(commit delta) per trigger — no table
    * rescans on either side. */
  val q166StreamReplicate = QueryDef(
    "q166_stream_replicate",
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      |FROM orders WHERE o_orderkey % 4 = 1
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val wh = Files.createTempDirectory("graft-q166").toString
    val lake = new GraftLake(s, wh)
    lake.append("rsrc", orders.filter(col("o_orderkey") % 12 === 1))
    lake.append("rsrc", orders.filter(col("o_orderkey") % 12 === 5))
    val q = s.readStream.format("graft-cdf")
      .option("warehouse", wh).option("table", "rsrc")
      .option("startingVersion", "snapshot")
      .load()
      .drop("_inserted_at") // the replica stamps its own landing time
      .writeStream.format("graft")
      .option("warehouse", wh).option("table", "rdst")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-q166-ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // the snapshot backfill epoch
      lake.append("rsrc", orders.filter(col("o_orderkey") % 12 === 9))
      q.processAllAvailable() // the live incremental epoch
    } finally q.stop()
    val (dstN, srcN) = (lake.read("rdst").count(), lake.read("rsrc").count())
    require(dstN == srcN,
      s"streaming replication must mirror the source exactly once " +
        s"(replica $dstN vs source $srcN)")
    lake.read("rdst")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q167: the STREAMING row-level change feed (`feed=cdf`) — a CDC
    * consumer tails the commit log and receives the table's columns plus
    * `_change_type`/`_commit_version`, derived from commit METADATA
    * ([[graft.catalog.GraftLake.tableChanges]] per epoch): an append
    * commit streams its rows as `insert`s, a merge-on-read DELETE streams
    * its preimages as `delete`s — the table is never value-diffed, so an
    * epoch costs O(changed files + DV entries). Commit ids are
    * deterministic (v0 seed write, v1 append, v2 MoR delete), which is
    * what lets plain SQL reproduce the feed for the oracle. */
  val q167StreamCdc = QueryDef(
    "q167_stream_cdc",
    """WITH b AS (SELECT o_orderkey, o_orderstatus FROM orders
      |           WHERE o_orderkey % 8 = 6),
      |     d AS (SELECT o_orderkey, o_orderstatus FROM orders
      |           WHERE o_orderkey % 16 = 2)
      |SELECT o_orderkey, o_orderstatus, 'insert' AS _change_type,
      |       CAST(1 AS BIGINT) AS _commit_version FROM b
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, 'delete' AS _change_type,
      |       CAST(2 AS BIGINT) AS _commit_version FROM d
      |ORDER BY _commit_version, o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val wh = Files.createTempDirectory("graft-q167").toString
    val lake = new GraftLake(s, wh)
    lake.write("csrc", orders.filter(col("o_orderkey") % 8 === 2),
      pks = Seq("o_orderkey"))                       // v0 — the seed
    val sink = s"q167_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = s.readStream.format("graft-cdf")
      .option("warehouse", wh).option("table", "csrc")
      .option("feed", "cdf").option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-q167-ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // consumer owns v0; nothing to emit yet
      lake.append("csrc", orders.filter(col("o_orderkey") % 8 === 6)) // v1
      lake.deleteWhere("csrc", col("o_orderkey") % 16 === 2) // v2, MoR
      q.processAllAvailable()
    } finally q.stop()
    val got = s.table(sink)
    require(got.filter(col("_change_type") === "delete").count() > 0,
      "the MoR delete's preimages must stream as delete rows")
    got.select(col("o_orderkey"), col("o_orderstatus"),
      col("_change_type"), col("_commit_version"))
      .orderBy(col("_commit_version"), col("o_orderkey"))
  }

  /** q168: CDC THROUGH REWRITE-CLASS COMMITS — the change feed streams a
    * MERGE/upsert window, a SQL UPDATE and a SQL DELETE exactly. All
    * three commit a deletion vector (the upsert and the UPDATE beside
    * their new rows), and the table has write-time change capture on
    * (`graft.enableChangeDataFeed`): each commit publishes its row-level
    * change set under `_changes/` in the same manifest commit (the Delta
    * `_change_data` mechanism), and the `feed=cdf` source reads those
    * files verbatim — O(changed rows) per epoch, where round-11 semantics
    * failed fast on the reference's CORE workload (PK upsert,
    * DucklakeWriterMergeTest.java:119-148). Commit ids are
    * deterministic (v0 seed, v1 upsert, v2 update, v3 delete), which lets
    * plain SQL reproduce the whole feed for the oracle. */
  val q168StreamCdcRewrites = QueryDef(
    "q168_stream_cdc_rewrites",
    """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS st,
      |                     round(o_totalprice, 2) AS price
      |              FROM orders WHERE o_orderkey % 8 = 4)
      |SELECT id, st, price, 'update_preimage' AS _change_type,
      |       CAST(1 AS BIGINT) AS _commit_version FROM base WHERE id % 32 = 4
      |UNION ALL SELECT id, 'UU', price, 'update_postimage', 1 FROM base WHERE id % 32 = 4
      |UNION ALL SELECT id, st, price, 'insert', 1 FROM base WHERE id % 16 = 12
      |UNION ALL SELECT id, st, price, 'update_preimage', 2 FROM base WHERE id % 32 = 20
      |UNION ALL SELECT id, st, round(price + 10, 2), 'update_postimage', 2 FROM base WHERE id % 32 = 20
      |UNION ALL SELECT id, st, price, 'delete', 3 FROM base WHERE id % 32 = 12
      |ORDER BY _commit_version, _change_type, id""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir).filter(col("o_orderkey") % 8 === 4)
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("st"),
        round(col("o_totalprice"), 2).as("price"))
    // catalog registration: the UPDATE/DELETE run as literal SQL
    val catKey = "spark.sql.catalog.gcdc"
    if (s.conf.getOption(s"$catKey.warehouse").isEmpty) {
      s.conf.set(catKey, classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"$catKey.warehouse",
        Files.createTempDirectory("graft-gcdc").toString)
    }
    val lake = new GraftLake(s, s.conf.get(s"$catKey.warehouse"))
    if (lake.tableExists("cdc_rw")) lake.dropTable("cdc_rw")
    lake.write("cdc_rw", base.filter(col("id") % 16 === 4),
      pks = Seq("id"))                                   // v0 — the seed
    lake.setTableProperty("cdc_rw",
      graft.catalog.TableMeta.CdfEnabledKey, "true")
    val sink = s"q168_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = s.readStream.format("graft-cdf")
      .option("warehouse", lake.warehouseDir).option("table", "cdc_rw")
      .option("feed", "cdf").option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-q168-ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // consumer owns v0
      // v1 — MERGE-shaped upsert: matched keys flip st, new keys insert
      lake.upsert("cdc_rw",
        base.filter(col("id") % 32 === 4).withColumn("st", lit("UU"))
          .unionByName(base.filter(col("id") % 16 === 12)))
      // v2 — UPDATE: a deletion vector masks the old rows, the new ones
      // append, one commit
      s.sql("UPDATE gcdc.cdc_rw SET price = price + 10 WHERE id % 32 = 20")
      // v3 — DELETE (interleaved keys: not provable metadata-only, so a
      // deletion vector masks the hits)
      s.sql("DELETE FROM gcdc.cdc_rw WHERE id % 32 = 12")
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink)
      .select(col("id"), col("st"), round(col("price"), 2).as("price"),
        col("_change_type"), col("_commit_version"))
      .orderBy(col("_commit_version"), col("_change_type"), col("id"))
  }

  val all: Seq[QueryDef] = Seq(q18UpsertPipeline, q19EvolutionPipeline,
    q64Compaction, q105IngestDedup, q107IngestQuality, q108AutoCompact,
    q165StreamFeed, q166StreamReplicate, q167StreamCdc,
    q168StreamCdcRewrites)
}
