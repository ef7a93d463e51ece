package graft.ingest

import java.util.concurrent.ConcurrentHashMap

import graft.catalog.GraftLake
import graft.metrics.GraftMetrics
import graft.schema.{SchemaInference, SchemaUnify}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

/** Engine configuration (reference: connect/DucklakeSinkConfig.java).
  *
  * @param warehouse       lake root (≈ DATA_PATH)
  * @param topic2table     explicit topic→table map; identity when absent
  *                        (DucklakeWriterFactory.java:57-60)
  * @param pks             per-TABLE primary keys (id-columns)
  * @param partitions      per-TABLE partition expressions
  * @param dlqTable        bad records land here; None → batch errors fail
  *                        the batch (reference: no ErrantRecordReporter)
  * @param triggerMs       flush.interval.ms analog (micro-batch trigger)
  * @param maxOffsetsPerTrigger flush.size analog for the Kafka source
  * @param avroSchemas     per-topic Avro reader schema JSON — topics listed
  *                        here decode as schemaful Avro (the Connect
  *                        value.converter analog, reference S7)
  * @param dedup           per-TABLE ingestion-time near-dup gate: every
  *                        landing batch probes a persisted LSH index in the
  *                        same lake and lands with a dup flag (or drops
  *                        dups), and admitted docs extend the index — the
  *                        reference's curation-on-ingest identity applied
  *                        to dedup. Cost scales with the batch, never the
  *                        corpus ([[graft.operators.DedupOps.incrementalNearDups]]).
  * @param quality         per-TABLE ingestion-time quality gate: every
  *                        landing batch is scored map-side (length,
  *                        composite quality score, language-ID allowlist)
  *                        and lands flagged (or failures are dropped) —
  *                        see [[QualityConfig]]. Runs BEFORE the dedup
  *                        gate so junk never costs LSH sketching or index
  *                        admission.
  * @param txnAppId        EXACTLY-ONCE upgrade for the append path: when
  *                        set, no-PK tables land through
  *                        [[graft.catalog.GraftLake.appendIdempotent]]
  *                        keyed `"<txnAppId>:<table>" -> batchId`, so a
  *                        redelivered micro-batch (restart replay between
  *                        the lake commit and the checkpoint write) is
  *                        detected from the manifest and skipped instead
  *                        of duplicated. Scope the id to ONE streaming
  *                        query + checkpoint location (batchIds must be
  *                        monotonic per id — a NEW checkpoint dir needs a
  *                        new txnAppId). PK tables are already idempotent
  *                        through upsert. Off by default (at-least-once,
  *                        the reference's delivery contract).
  * @param bloomRefresh    tables whose per-file bloom skipping sidecars
  *                        ([[graft.catalog.GraftLake.buildBloomIndex]])
  *                        stay current with ingest: after each flush ONLY
  *                        the newly landed files are scanned and bloomed
  *                        ([[graft.catalog.GraftLake.refreshBloomIndexes]]),
  *                        so equality-probe pruning never decays as the
  *                        stream grows. No-op until an index is built.
  */
final case class IngestConfig(
    warehouse: String,
    topic2table: Map[String, String] = Map.empty,
    pks: Map[String, Seq[String]] = Map.empty,
    partitions: Map[String, Seq[String]] = Map.empty,
    dlqTable: Option[String] = Some("_dlq"),
    triggerMs: Long = 60000L,
    maxOffsetsPerTrigger: Option[Long] = None,
    avroSchemas: Map[String, String] = Map.empty,
    dedup: Map[String, DedupConfig] = Map.empty,
    quality: Map[String, QualityConfig] = Map.empty,
    autoCompact: Map[String, CompactionConfig] = Map.empty,
    autoRebucket: Map[String, RebucketConfig] = Map.empty,
    retention: Map[String, RetentionConfig] = Map.empty,
    bloomRefresh: Set[String] = Set.empty,
    txnAppId: Option[String] = None) {

  /** Explicit mappings are validated strictly (reference
    * TopicToTableValidator.java:99-154 validates only configured mappings);
    * the identity fallback is sanitized instead — the reference passes the
    * raw topic name through unvalidated (DucklakeWriterFactory.create), and
    * dotted topics (`db.schema.table`, ubiquitous with Debezium) must not
    * become a poison batch that permanently fails the stream. */
  def tableFor(topic: String): String =
    topic2table.get(topic) match {
      case Some(t) => IngestConfig.validateTableName(t); t
      case None    => IngestConfig.sanitizeTableName(topic)
    }
}

/** Ingestion-time near-dup config for one table (see [[IngestConfig.dedup]]).
  *
  * @param idCol    unique document id column (must appear in every batch)
  * @param textCol  text column to sketch (cast to string)
  * @param threshold exact-shingle-Jaccard admission threshold
  * @param flagCol  name of the landed dup-flag column (`0`/`1`)
  * @param dropDups true → duplicates never land (the flag column is not
  *                 written either); false → everything lands, flagged
  */
final case class DedupConfig(
    idCol: String,
    textCol: String,
    threshold: Double = 0.8,
    shingleK: Int = 3,
    bands: Int = 16,
    rowsPerBand: Int = 4,
    flagCol: String = "is_dup",
    dropDups: Boolean = false)

/** Ingestion-time quality config for one table (see
  * [[IngestConfig.quality]]) — the LLM-curation twin of [[DedupConfig]]:
  * the reference's curation-on-ingest identity applied to text quality.
  * All signals are codegen'd map-side expressions over the batch
  * ([[graft.operators.TextOps.qualityScore]] /
  * [[graft.operators.TextOps.langIdPredict]]) — no shuffle, no state, so
  * the gate's cost is one scan of the batch regardless of corpus size.
  *
  * @param textCol      text column to score (cast to string)
  * @param minChars     minimum raw character length
  * @param minScore     minimum composite quality score (0..1 — token
  *                     volume, punctuation, stopword density)
  * @param langAllow    language-ID allowlist (empty = any language)
  * @param flagCol      landed pass-flag column (`1` pass / `0` fail)
  * @param dropFailures true → failing rows never land (no flag column);
  *                     false → everything lands, flagged
  */
final case class QualityConfig(
    textCol: String,
    minChars: Int = 1,
    minScore: Double = 0.0,
    langAllow: Seq[String] = Nil,
    flagCol: String = "quality_ok",
    dropFailures: Boolean = false)

/** Auto-compaction policy for one table (see [[IngestConfig.autoCompact]]):
  * after each flush, when the table's LIVE file count (an O(1) read of
  * the commit cache, never a listing) reaches `minFiles`, the table is
  * compacted toward `targetRecordsPerFile`-row files — the small-file
  * antidote for streaming ingest expressed as policy instead of an
  * operator someone must remember to run. Contents-preserving by
  * [[graft.catalog.GraftLake.compact]]'s construction; `clusterBy`
  * optionally Z-orders while it is rewriting anyway, so the same pass
  * that fixes file sizes also buys data skipping. At-least-once safe:
  * compaction commits a snapshot like any write, and a crash mid-compact
  * leaves the staged dir orphaned, never the table corrupted.
  *
  * Do NOT enable on a table tailed by [[graft.catalog.GraftLake
  * .readStream]]: the file-stream source's append-only contract means a
  * compaction's rewritten survivors re-emit (same caveat as any manual
  * rewrite there — stream from ingest logs, or diff snapshots). */
final case class CompactionConfig(
    minFiles: Int = 64,
    targetRecordsPerFile: Long = graft.catalog.GraftLake.maxRecordsPerFile,
    clusterBy: Seq[String] = Nil)

/** Auto-rebucket policy for one table (see [[IngestConfig.autoRebucket]]):
  * after each flush, when the mean live rows per bucket (metadata-only —
  * manifest footer counts) exceeds `targetRowsPerBucket`, the bucket
  * count DOUBLES via the incremental online rebucket, bounded by
  * `maxBuckets` — the 100 TB layout policy ("fix the bucket size, grow
  * the count with the table") as standing policy: without it a stream's
  * per-flush merge cost grows with bucket size forever once the table
  * outgrows its creation-time count. Safe under the stream's own
  * concurrent writes by the incremental rebucket's construction (appends
  * conflict with nothing; each old bucket migrates as its own commit).
  *
  * `maxGroupsPerFlush` bounds the migration work done inside any one
  * micro-batch: a doubling flips the count immediately, then each flush
  * migrates at most this many old buckets and the NEXT flush resumes
  * (the probe prioritizes in-flight migrations over new doublings), so
  * the rewrite amortizes across triggers instead of stalling the stream
  * for an O(table) rewrite exactly when the table is largest. Mixed
  * layouts stay exact for reads, merges and appends throughout. */
final case class RebucketConfig(
    targetRowsPerBucket: Long,
    maxBuckets: Int = 65536,
    maxGroupsPerFlush: Int = 4)

/** Snapshot-retention policy for one table (see
  * [[IngestConfig.retention]]): when the committed snapshot count reaches
  * `keepLast + slack`, all but the last `keepLast` are expired and
  * unreferenced retired files vacuumed ([[graft.catalog.GraftLake
  * .expireSnapshots]]) — bounding manifest-chain length and `_history`
  * storage for streams that commit every few seconds, without an
  * operator running vacuums by hand. `slack` batches the expiry (one
  * O(keep) pass per `slack` commits, not per flush). Pick `keepLast` to
  * cover the longest concurrent reader, as with any lakehouse vacuum —
  * expired versions fail fast on their next resolution. */
final case class RetentionConfig(
    keepLast: Int = 8,
    slack: Int = 16)

object IngestConfig {
  private val TableName = "^[a-zA-Z_][a-zA-Z0-9_-]*$".r

  /** Reference validation (TopicToTableValidator.java:99-154). */
  def validateTableName(t: String): Unit =
    require(TableName.matches(t), s"Invalid table name: '$t'")

  /** Identity-fallback sanitization: map every character outside
    * [a-zA-Z0-9_-] to '_' and prefix '_' if the result starts with a
    * non-letter. Whenever sanitization CHANGED the name, a 4-hex-digit
    * digest of the original topic is appended — so distinct topics that
    * sanitize alike (`db.users` vs `db_users`, `a.b.c` vs `a.b_c`) land
    * in distinct tables instead of silently interleaving. Deterministic:
    * one topic always lands in one table. */
  def sanitizeTableName(topic: String): String = {
    val cleaned = topic.map(c =>
      if (c.isLetterOrDigit && c < 128 || c == '_' || c == '-') c else '_')
    val based =
      if (cleaned.isEmpty || !(cleaned.head.isLetter && cleaned.head < 128 || cleaned.head == '_'))
        "_" + cleaned
      else cleaned
    if (based == topic) based
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(topic.getBytes("UTF-8"))
      f"${based}_${md(0) & 0xff}%02x${md(1) & 0xff}%02x"
    }
  }

  def validate(c: IngestConfig): Unit = {
    c.topic2table.values.foreach(validateTableName)
    val dups = c.topic2table.values.groupBy(identity).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"Duplicate table mappings: ${dups.mkString(", ")}")
  }
}

/** Per-topic unified-schema cache (reference:
  * SinkRecordToArrowConverter.java:74-80, 255-303): the cached schema is
  * reused when all incoming field names are a subset of it; otherwise it is
  * re-unified and replaced. Driver-side only — schemas, never data. */
final class SchemaCache {
  private val cache = new ConcurrentHashMap[String, StructType]()

  def get(topic: String): Option[StructType] = Option(cache.get(topic))

  def unifiedFor(topic: String, incoming: Seq[StructType]): StructType = {
    val cached = Option(cache.get(topic))
    cached match {
      case Some(c) if incoming.forall(_.fieldNames.toSet.subsetOf(c.fieldNames.toSet)) &&
          (try SchemaUnify.unify(c +: incoming) == c
           catch { case _: SchemaUnify.GraftSchemaException => false }) =>
        c
      case _ =>
        val u = SchemaUnify.unify(cached.toSeq ++ incoming)
        cache.put(topic, u)
        u
    }
  }

  /** Every cached topic schema. */
  def all: Map[String, StructType] = {
    import scala.jdk.CollectionConverters._
    cache.asScala.toMap
  }

  def put(topic: String, s: StructType): Unit = cache.put(topic, s)
  def clear(): Unit = cache.clear()
}

object IngestPipeline {
  /** A running unification of record schemas: their union, or the first
    * conflict, after which it stays frozen. A conflict is DATA here, never
    * a task failure. Mutable on purpose: one instance per partition and
    * key, mutated row by row, then merged on the driver. */
  private[ingest] final class SchemaUnion extends Serializable {
    var schema: StructType = StructType(Nil)
    var conflict: String = null

    def add(s: StructType): Unit =
      if (conflict == null) {
        if (schema.isEmpty) schema = s
        else if (s != schema) // uniform stream fast path
          try schema = SchemaUnify.unify2(schema, s)
          catch { case e: SchemaUnify.GraftSchemaException => conflict = e.getMessage }
      }

    def merge(o: SchemaUnion): Unit =
      if (o.conflict != null) { if (conflict == null) conflict = o.conflict }
      else if (o.schema.nonEmpty) add(o.schema)

    /** Left = the conflict; Right(None) = no schema was added. */
    def result: Either[String, Option[StructType]] =
      if (conflict != null) Left(conflict) else Right(Some(schema).filter(_.nonEmpty))
  }

  /** Per-(topic, format) accumulation state for the batch-profile pass.
    * `unparseable` counts JSON records without a schema, or undecodable
    * Arrow records. `kept` and `keptSchemas` are triage's verdict against
    * the topic's cached seed, when the profile has one: the records
    * [[recordError]] keeps, and the union of their schemas. */
  private[ingest] final class ProfState extends Serializable {
    var n = 0L
    var unparseable = 0L
    val schemas = new SchemaUnion
    var kept = 0L
    val keptSchemas = new SchemaUnion
    /** Whether a record schema unifies with the seed, memoized per
      * distinct schema of this task (a drifting stream repeats a few
      * shapes). */
    @transient private var unifies: java.util.HashMap[StructType, java.lang.Boolean] = _

    /** Count a record of schema `s` kept when it unifies with `seed`. */
    def keep(seed: StructType, s: StructType): Unit = {
      if (unifies == null || unifies.size > 256) unifies = new java.util.HashMap()
      val keeps = unifies.computeIfAbsent(s, _ =>
        try { SchemaUnify.unify(Seq(seed, s)); true }
        catch { case _: SchemaUnify.GraftSchemaException => false })
      if (keeps) { kept += 1; keptSchemas.add(s) }
    }

    def merge(o: ProfState): Unit = {
      n += o.n; unparseable += o.unparseable; kept += o.kept
      schemas.merge(o.schemas); keptSchemas.merge(o.keptSchemas)
    }
  }

  /** Executor-side per-row step of the batch profile (a static helper so
    * the aggregate closure never captures the pipeline instance): counts
    * the record, and folds its schema — a JSON record's inferred one, an
    * Arrow record's IPC header — into the state. `seeds` holds the cached
    * schema of each topic whose JSON triage verdict the profile computes. */
  private[ingest] def profileRow(
      acc: scala.collection.mutable.HashMap[(String, Boolean), ProfState],
      topic: String, ipc: Boolean, v: Array[Byte], avroTopics: Set[String],
      seeds: Map[String, SeedHolder]): Unit = {
    val st = acc.getOrElseUpdate((topic, ipc), new ProfState)
    st.n += 1
    if (ipc) ArrowWire.schemaOf(v) match {
      case Right(Some(s)) => st.schemas.add(s)
      case _ => st.unparseable += 1
    }
    else if (!avroTopics.contains(topic)) {
      val seed = seeds.get(topic)
      SchemaInference.inferFromJson(
        if (v == null) null else new String(v, java.nio.charset.StandardCharsets.UTF_8)) match {
        case None =>
          st.unparseable += 1
          if (seed.isDefined) st.kept += 1
        case Some(s) =>
          st.schemas.add(s)
          seed.foreach(h => st.keep(h.schema, s))
      }
    }
  }

  /** THREAD-LOCAL replay context: non-null while [[IngestPipeline
    * .replayDlq]] is landing parked rows on this thread, carrying the
    * DLQ snapshot id the replay read from. The write path uses it as an
    * idempotency watermark under a replay-specific app id — never the
    * shared trigger batch id, so a concurrent streaming trigger keeps
    * its own exactly-once path untouched. */
  private val replayTxn = new ThreadLocal[java.lang.Long]()

  /** Ships the seed schema to executors as JSON, deserializing once per
    * executor (`@transient lazy`) instead of once per record inside the
    * triage UDFs. */
  private[ingest] final class SeedHolder(json: String) extends Serializable {
    @transient lazy val schema: StructType =
      DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** One wire format as per-record triage sees it. A triage frame holds
    * the payload in column `v`: a JSON string or Arrow IPC bytes. The
    * record-level members run on executors inside the triage UDF; the
    * frame-level ones size and land the survivors on the driver.
    * `conflict` opens the no-DLQ failure message. */
  private sealed abstract class Wire[T](val conflict: String) extends Serializable {
    /** The record's schema: None = no schema to check (uninferrable
      * JSON, which the corrupt-record channel parks); Left = the record's
      * error (an undecodable Arrow payload). */
    def schemaOf(v: T): Either[String, Option[StructType]]
    /** Renders a field of the record (whose schema is `s`) for the
      * per-field error; parses the record once for all its fields. */
    def sampler(v: T, s: StructType): String => String
    /** The DLQ `value` column of payload `v`, and its inverse. */
    def toDlq(v: Column): Column
    def fromDlq(value: Column): Column
    /** Land the survivors under `schema`; `n` = their count, -1 = unknown. */
    def land(p: IngestPipeline, table: String, good: DataFrame,
      schema: StructType, dead: DeadLetters, n: Long): Unit
  }

  private object JsonWire extends Wire[String]("Schema conflict") {
    private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def schemaOf(v: String): Either[String, Option[StructType]] =
      Right(SchemaInference.inferFromJson(v))
    def sampler(v: String, s: StructType): String => String = {
      val node = try mapper.readTree(v) catch { case _: Exception => null }
      name => Option(node).flatMap(n => Option(n.get(name)))
        .map(_.toString.take(64)).getOrElse("?")
    }
    def toDlq(v: Column): Column = v
    def fromDlq(value: Column): Column = value.cast("binary")
    def land(p: IngestPipeline, table: String, good: DataFrame,
        schema: StructType, dead: DeadLetters, n: Long): Unit =
      p.landJson(table, good, schema, dead, n)
  }

  private object ArrowWire extends Wire[Array[Byte]]("Arrow schema conflict") {
    def schemaOf(v: Array[Byte]): Either[String, Option[StructType]] =
      try Right(Some(ArrowIpc.decodeSchema(v)))
      catch {
        case e: Exception => Left("undecodable Arrow IPC: " +
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(120))
      }
    def sampler(v: Array[Byte], s: StructType): String => String = {
      val row = try ArrowIpc.decode(v)._2.headOption catch { case _: Exception => None }
      name => row.map(r => String.valueOf(r.get(s.fieldIndex(name))).take(64))
        .getOrElse("?")
    }
    def toDlq(v: Column): Column = base64(v)
    def fromDlq(value: Column): Column = try_to_binary(value, lit("base64"))
    def land(p: IngestPipeline, table: String, good: DataFrame,
        schema: StructType, dead: DeadLetters, n: Long): Unit =
      p.landArrow(table, good, schema, dead, n)
  }

  /** Triage's verdict on one record against the seed schema: null = the
    * record stays in the batch; else its error — for a conflict, each
    * offending field with both types and the record's own value
    * (reference ArrowSchemaMerge.java:76-87,
    * SinkRecordToArrowConverterTest.java:518-537). */
  private def recordError[T](wire: Wire[T], seed: StructType, v: T): String =
    wire.schemaOf(v) match {
      case Left(error) => error
      case Right(None) => null
      case Right(Some(s)) =>
        try { SchemaUnify.unify(Seq(seed, s)); null }
        catch {
          case outer: Exception =>
            val sample = wire.sampler(v, s)
            val perField = s.fields.toSeq.flatMap { f =>
              seed.fields.find(_.name == f.name).flatMap { sf =>
                try { SchemaUnify.unifyTypes(f.name, Seq(sf.dataType, f.dataType)); None }
                catch {
                  case _: Exception =>
                    Some(s"field '${f.name}': topic type ${sf.dataType.simpleString} " +
                      s"vs record type ${f.dataType.simpleString} (sample: ${sample(f.name)})")
                }
              }
            }
            "Cannot unify incompatible types with topic schema: " +
              (if (perField.isEmpty) outer.getMessage else perField.mkString("; "))
        }
    }

  /** The union of the schemas of `good`'s records (payload `v`), or their
    * first pairwise conflict, in one job: the second half of a triage
    * verdict the profile did not compute. */
  private def schemasOf[T](wire: Wire[T], good: DataFrame): Either[String, Option[StructType]] =
    good.select("v").rdd.aggregate(new SchemaUnion)(
      (u, r) => { wire.schemaOf(r.getAs[T](0)).toOption.flatten.foreach(u.add); u },
      (a, b) => { a.merge(b); a }).result

  /** Triage's verdict on a batch against `seed`, computed by the profile
    * job: the count of records [[recordError]] keeps, and the union of
    * their schemas or their first pairwise conflict. */
  private final case class TriageVerdict(seed: StructType, kept: Long,
    schema: Either[String, Option[StructType]])

  /** The trigger-side session confs, applied around every `processBatch`
    * by a reference-counted [[graft.ConfScope]] (concurrent pipelines on
    * one session share the overlay).
    *
    * What it sets, and why: a micro-batch trigger runs ~a dozen small
    * actions over BOUNDED data (`maxOffsetsPerTrigger`), where wall time
    * is per-stage scheduling + AQE replanning latency, not compute — so
    * inside `processBatch` adaptive execution is off and the shuffle
    * fan-out small (measured on the ingest+dedup path: ~25% trigger
    * latency cut at identical results).
    *
    * For the same reason the trigger runs INTERPRETED: no whole-stage
    * codegen, and every projection, predicate and ordering built by the
    * interpreted factory. Every epoch plans fresh, and a MERGE flush
    * needs more generated classes than Spark's codegen cache holds
    * (`spark.sql.codegen.cache.maxEntries`, 100, a static conf): with
    * codegen the cache evicts each class before the next flush asks for
    * it again, and Janino recompiles them every flush. Interpreted, a
    * repeated flush compiles no class (`IngestJobBudgetSpec`), and on
    * the ingest bench (seed 1, 4-core host, 10 interleaved pairs) an
    * `upsert_curation` drain spends 35 % less CPU per record
    * (`json_append`: 13 %). Statements outside a trigger keep codegen.
    *
    * SHARED-SESSION caveat: session confs are session-global, so an
    * ad-hoc query submitted WHILE a trigger is in flight also plans with
    * AQE off, the small fan-out and no codegen. In deployments that mix
    * interactive work and ingest on one application, build the SOURCE
    * STREAM on its own `spark.newSession()` (separate conf, shared
    * catalog + context) and hand that session's pipeline to
    * [[IngestPipeline.start]] — the overlay then never touches the
    * interactive session. This cannot be
    * the pipeline's silent default: a DataFrame plans under the session
    * it was CREATED on, so the trigger frames arriving in foreachBatch
    * carry the caller's session no matter which session the pipeline
    * holds — an overlay applied to a private session would simply never
    * reach the plans it exists to shape. The choice belongs where the
    * stream is built. */
  private[graft] val triggerConfs = new graft.ConfScope(Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Native codegen'd wire-format sniff of payload `v` (same contract as
    * ArrowIpc.looksLikeIpc): the 0xFFFFFFFF continuation marker in the
    * first 4 bytes + 8-byte minimum. coalesce(false) keeps null payloads
    * on the JSON path, matching the former UDF's null => false. */
  private[graft] def ipcSniff(v: Column): Column =
    coalesce(
      length(v) >= 8 && substring(v, 1, 4) === lit(Array[Byte](-1, -1, -1, -1)),
      lit(false))

  /** The dedup gate's probe for a batch of `nRecords` rows (-1 = unknown)
    * under `spark.graft.ingest.dedupBroadcastMaxRows` = `bcMax`, as
    * (driver verify, broadcast hints): a counted batch within both `bcMax`
    * and [[graft.operators.DedupOps.DriverVerifyMaxRows]] is verified on
    * the driver; any other batch takes the distributed probe, hinted
    * unless it is counted above `bcMax`. */
  private[ingest] def dedupRoute(nRecords: Long, bcMax: Long): (Boolean, Boolean) = (
    nRecords >= 0 &&
      nRecords <= math.min(bcMax, graft.operators.DedupOps.DriverVerifyMaxRows),
    nRecords < 0 || nRecords <= bcMax)

  /** Write slices for `n` rows: one per `perSlice` rows, at least one. A
    * coalesce to this count never raises the input's own. */
  private def slicesFor(n: Long, perSlice: Long = GraftLake.maxRecordsPerFile): Int =
    math.max(1L, math.min(Int.MaxValue.toLong, (n + perSlice - 1) / perSlice)).toInt

  /** Rows one landing task parses and writes. Measured with `Perf landing`
    * (JSON records of about 20 fields, 4-core host, the trigger confs,
    * median of 5): one task against two and four, in ms, at 1k rows 108
    * against 101 and 104; at 2k 126 against 96 and 104; at 5k 189 against
    * 133 and 127; at 10k 294 against 198 and 160; at 100k 2,193 against
    * 1,246 and 768. One task parses a row in about 23 µs, and a task of
    * its own pays off from about 1k rows, so a second task wins clearly
    * from 2k rows: a batch of up to 2k rows parses and lands as one file,
    * and a larger one spreads its parse across cores. */
  private[ingest] val RowsPerLandingTask = 2000L

  /** The dead letters of one batch (or one replay). Every channel that
    * parks records — JSON/Arrow triage, the corrupt-record channel, the
    * constraint gate, evolution triage — adds its lazy frame here instead
    * of writing it, and [[IngestPipeline.landDeadLetters]] lands them all
    * in one write. The frames derive from cached triage/gate frames, which
    * are therefore held here and released only after that write: a gate
    * frame recomputed after index admission could flip `is_dup` in the
    * parked payload. Thread-safe: a batch's topics park concurrently. */
  private final class DeadLetters {
    private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private val held = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

    /** `records` carries the raw payload (`v`), source `partition`/`offset`,
      * and either a per-record `error` column or none (then `error`
      * supplies the constant message). */
    def park(table: String, records: DataFrame, error: String = null): Unit =
      frames.add(records.select(col("v").as("value"), col("partition"),
        col("offset"),
        (if (records.columns.contains("error")) col("error") else lit(error))
          .as("error"),
        lit(table).as("target_table")))

    /** Keep `cached` alive until [[release]]. */
    def hold(cached: DataFrame): Unit = held.add(cached)

    /** Tag each record of `values` (v, partition, offset) with `error`,
      * park the records it flags — payload rendered by `toDlq` — and
      * return the rest as (v, partition, offset). The tagged frame is
      * cached and held until the batch's dead letters land, so the split
      * evaluates `error` once per record. */
    def split(table: String, values: DataFrame, error: Column,
        toDlq: Column => Column = identity): DataFrame = {
      val tagged = values.withColumn("__err", error).cache()
      hold(tagged)
      park(table, tagged.filter(col("__err").isNotNull).select(toDlq(col("v")).as("v"),
        col("partition"), col("offset"), col("__err").as("error")))
      tagged.filter(col("__err").isNull).select(col("v"), col("partition"), col("offset"))
    }

    /** Everything parked so far as one frame; None when nothing was. */
    def parked: Option[DataFrame] = {
      import scala.jdk.CollectionConverters._
      frames.asScala.reduceOption(_ unionByName _)
    }

    def release(): Unit = held.forEach(df => df.unpersist())
  }
}

/** The streaming ingestion engine: Kafka-shaped source → per-topic format
  * dispatch (JSON vs Arrow IPC by value sniff — mixed topics supported,
  * reference README.md:120-127) → schema inference/unification → landed
  * write (MERGE or INSERT via [[GraftLake]]) → per-record DLQ triage on
  * schema conflicts (reference E2, DucklakeSinkTask.java:1009-1097).
  *
  * Scale design: the source preserves Kafka partition parallelism; decode
  * and inference are executor-side (`mapPartitions` / treeAggregate);
  * per-batch flush maps to the micro-batch trigger with
  * `maxOffsetsPerTrigger` bounding batch size (B1/B2); buffering/spill/
  * memory-pressure handling (B3-B6) is delegated to Spark's own micro-batch
  * and memory machinery by design.
  */
final class IngestPipeline(spark: SparkSession, config: IngestConfig) {
  IngestConfig.validate(config)

  val lake = new GraftLake(spark, config.warehouse)
  val schemaCache = new SchemaCache

  /** Batch id of the micro-batch currently landing (foreachBatch
    * serializes per query) — the idempotent-append watermark. */
  private var currentBatchId: Long = -1L

  /** First-trigger fan-out decision, remembered for the pipeline's
    * lifetime (see processBatch). */
  @volatile private var fanoutDecision: Option[Boolean] = None

  import spark.implicits._

  /** Kafka-shaped input: (topic, partition, offset, value-bytes). */
  val inputSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("value", BinaryType)))

  /** Process one micro-batch (also the `foreachBatch` body). The batch is
    * cached for its lifetime — the per-topic fan-out and counters would
    * otherwise re-read the source once per pass.
    *
    * Job count per trigger is streaming flush latency, so the body is
    * kept short:
    *  - ONE job ([[profileBatch]]) yields the topic fan-out, the
    *    batch-size metric, the per-topic wire-format dispatch, the
    *    per-topic JSON schema inference, the Arrow schemas, and for a JSON
    *    topic with a cached schema the triage verdict of a conflicting
    *    batch;
    *  - each topic then costs its landing write, one file per
    *    [[IngestPipeline.RowsPerLandingTask]] rows, conflicting batches
    *    included;
    *  - the batch's dead letters, from every topic and channel, land at
    *    the end in ONE count and ONE `_dlq` append ([[landDeadLetters]]).
    *    The count doubles as the corrupt-record probe, which must re-check
    *    every JSON landing (from_json's corrupt set is not derivable from
    *    the inference profile) — once per batch, not once per topic.
    * A steady-state trigger is thus the profile, one write per topic, the
    * DLQ count and the DLQ append: 8 jobs for four JSON topics with
    * malformed and conflicting records and one Arrow topic
    * (`IngestJobBudgetSpec`). Triage runs jobs of its own only for a JSON
    * topic's first conflicting batch in this process (the seed without a
    * cached schema, the emptiness check, the survivors' schemas), for an
    * Arrow conflict or undecodable record, and for records that conflict
    * with the table rather than the topic ([[triageEvolution]]); the
    * dedup gate and a PK upsert add their own.
    *
    * Topics landing in different tables run CONCURRENTLY
    * ([[org.apache.spark.sql.graft.CapturedTasks.runAll]], at most
    * `defaultParallelism` at a time), so a trigger's wall is its slowest
    * table's chain rather than the sum. The call returns (or throws the
    * first failure) only after every topic has finished, so no write of
    * this batch commits after it returns; a failed batch writes no dead
    * letters (its redelivery parks them). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
      IngestPipeline.triggerConfs(spark) {
    // foreachBatch serializes batches per query; the landing code reads
    // this for the idempotent-append watermark
    currentBatchId = batchId
    // a trigger that arrives on FEWER partitions than the fan-out floor
    // (a single-partition topic, a filtered replay, a bench harness frame)
    // would run its ENTIRE flush — format sniff, inference, JSON parse,
    // landing projection — on that many cores. Spreading the raw bytes
    // first is one trivial shuffle (a trigger is offset-bounded); batches
    // that already carry enough source partitions (the 100 TB shape,
    // where Kafka partition count IS the parallelism) are left untouched
    val minFanout = math.min(8, spark.sparkContext.defaultParallelism)
    // the partition probe costs a physical planning of the batch frame.
    // A first trigger that already carries enough partitions decides NO —
    // but only until the next RE-PROBE (every 16 batches): a stream's
    // source partitioning is usually stable (wide sources pay the probe
    // 1/16th of the time), yet a topic rebalance or a filtered replay can
    // turn a wide stream skinny mid-life, and a lifetime pin would then
    // run whole flushes on too few cores with no recovery short of a
    // restart. A skinny trigger keeps probing per batch: the spread must
    // never SHRINK a later wide batch down to the floor (a blind
    // repartition would), and on the skinny pipelines that reach here the
    // probe is planning a trivial frame anyway
    val needsSpread = fanoutDecision match {
      case Some(false) if batchId % 16 != 0 => false
      case _ =>
        val d = minFanout > 1 && batch.rdd.getNumPartitions < minFanout
        fanoutDecision = Some(d)
        d
    }
    val spread = if (needsSpread) batch.repartition(minFanout) else batch
    // tagged once for the whole batch — Avro-configured topics just
    // ignore the column
    val cached = spread.withColumn("__ipc", IngestPipeline.ipcSniff(col("value"))).cache()
    val dead = new IngestPipeline.DeadLetters
    try {
      val profiled = profileBatch(cached)
      GraftMetrics.recordBatch(profiled.valuesIterator.flatMap(_.valuesIterator).map(_._1).sum)
      // one task per TABLE: topics sharing a table land one after another
      // in topic order (order holds within each table, not across tables)
      val tasks = profiled.toSeq.sortBy(_._1)
        .groupBy { case (topic, _) => config.tableFor(topic) }.toSeq.sortBy(_._1)
        .map { case (table, topics) => () => topics.foreach { case (topic, profiles) =>
          val records = cached.filter(col("topic") === topic)
            .select(col("value"), col("partition"), col("offset"), col("__ipc"))
          processTopic(topic, table, records, profiles, dead)
        } }
      org.apache.spark.sql.graft.CapturedTasks.runAll(
        spark, spark.sparkContext.defaultParallelism)(tasks)
      landDeadLetters(dead)
    } finally {
      dead.release()
      cached.unpersist()
    }
  }

  /** The exactly-once key a write to `table` lands under when `txnAppId`
    * is set: `"<txnAppId>:<table>"` at the trigger's batch id normally;
    * during a DLQ replay the thread-local replay context supplies the DLQ
    * snapshot id instead (monotonic per target table) under a replay key,
    * so a crashed-and-re-run replay no-ops rather than duplicating,
    * without touching the trigger thread's batch id. */
  private def txnWatermark(table: String): Option[(String, Long)] =
    config.txnAppId.flatMap { app =>
      IngestPipeline.replayTxn.get() match {
        case v if v != null => Some((s"$app:replay:$table", v.longValue))
        case _ if currentBatchId >= 0 => Some((s"$app:$table", currentBatchId))
        case _ => None
      }
    }

  /** Land a batch's dead letters: ONE count (the DLQ metric, the
    * emptiness check and the slice count in one job) and ONE append,
    * coalesced without a shuffle to ceil(n / maxRecordsPerFile) slices.
    * The count runs over the union coalesced to `defaultParallelism`
    * tasks: the union holds a few small partitions per parked frame, and
    * a task per partition would cost more than its rows. Under
    * `txnAppId` the append is idempotent like any landing table's, so a
    * redelivered batch parks its records once. */
  private def landDeadLetters(dead: IngestPipeline.DeadLetters): Unit =
    for (dlq <- config.dlqTable; parked <- dead.parked) {
      val n = parked.coalesce(spark.sparkContext.defaultParallelism).count()
      if (n > 0) {
        GraftMetrics.dlqRecords.add(n)
        val out = parked.coalesce(IngestPipeline.slicesFor(n))
        txnWatermark(dlq) match {
          case Some((appId, ver)) =>
            if (!lake.appendIdempotent(dlq, out, appId, ver))
              GraftMetrics.op("txnSkippedBatches").record(0L)
          case None => lake.append(dlq, out)
        }
      }
    }

  /** Whether the profile job computes the JSON triage verdict of topics
    * with a cached schema (see [[profileBatch]]). Off, triage runs its own
    * verdict jobs; the two are pinned equal by a differential spec. */
  @volatile private[ingest] var verdictFromProfile: Boolean = true

  /** What the profile job learned about a topic's rows of one wire
    * format: the unified schema (None = no record has one), the first
    * unification conflict (Some = the batch needs per-record triage), the
    * count of JSON records without a schema or of undecodable Arrow
    * records, and, for JSON rows of a topic with a cached schema, triage's
    * verdict against it. */
  private case class BatchProfile(schema: Option[StructType],
    conflict: Option[String], unparseable: Long,
    verdict: Option[IngestPipeline.TriageVerdict])

  /** ONE pass over the cached batch computing, per topic and wire format
    * (keyed by the IPC sniff tag): record count, unified schema (JSON
    * inferred per record, Arrow read from each record's IPC header),
    * first unification conflict, unparseable count and, for a JSON topic
    * whose schema [[schemaCache]] holds, triage's verdict against that
    * seed. The verdict costs one unification per distinct record shape
    * and lets a conflicting batch triage with no job of its own. The
    * seeds ship once per job. An RDD `aggregate` rather than a Catalyst
    * aggregate on purpose: a typed-imperative aggregate would kick the
    * whole stage — including the format sniff and the cache-populating
    * scan — out of whole-stage codegen, and the per-trigger fixed cost is
    * exactly what this fights. Schemas cross the wire once per partition,
    * never data; a conflict freezes the state and comes back as DATA
    * (triage is per record anyway), never as a task failure. A null JSON
    * VALUE (Kafka tombstone) counts unparseable, exactly as the per-record
    * path treated it. Avro-configured topics skip inference — their reader
    * schema is config, not inferred. */
  private def profileBatch(
      cached: DataFrame): Map[String, Map[Boolean, (Long, BatchProfile)]] = {
    val rows = cached.select(col("topic"), col("__ipc"), col("value"))
    // plain aggregate, not treeAggregate: only schema-sized states reach
    // the driver (one tiny map per partition), and treeAggregate would
    // add a scale-down SHUFFLE STAGE even for single-digit partition
    // counts — a fixed per-trigger stage for nothing
    val zero = scala.collection.mutable.HashMap.empty[(String, Boolean), IngestPipeline.ProfState]
    val avro = config.avroSchemas.keySet // serializable capture, not `config`
    val seeds = if (!verdictFromProfile || config.dlqTable.isEmpty) Map.empty[String, StructType]
      else schemaCache.all
    val shipped = seeds.map { case (t, s) => t -> new IngestPipeline.SeedHolder(s.json) }
    val agg = rows.rdd.aggregate(zero)(
      (acc, r) => {
        IngestPipeline.profileRow(acc, r.getString(0), r.getBoolean(1),
          if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2), avro, shipped)
        acc
      },
      (a, b) => {
        b.foreach { case (k, s) => a.get(k) match {
          case None => a.put(k, s)
          case Some(t) => t.merge(s)
        } }
        a
      })
    agg.toSeq.groupBy(_._1._1).map { case (topic, states) =>
      topic -> states.map { case ((_, ipc), st) => ipc -> (st.n, BatchProfile(
        st.schemas.result.toOption.flatten, Option(st.schemas.conflict), st.unparseable,
        seeds.get(topic).filter(_ => !ipc).map(seed =>
          IngestPipeline.TriageVerdict(seed, st.kept, st.keptSchemas.result)))) }.toMap
    }
  }

  /** Dispatch one topic's records by wire format and land them. Topics with
    * a configured Avro reader schema are schemaful (Connect-converter
    * analog); otherwise records dispatch on the batch-level sniff tag as
    * Arrow IPC vs JSON (mixed topics supported) — `profiles` (record count
    * and profile per sniff tag) came out of the profile job, so the
    * dispatch costs no job here. */
  private def processTopic(topic: String, table: String, records: DataFrame,
      profiles: Map[Boolean, (Long, BatchProfile)],
      dead: IngestPipeline.DeadLetters): Unit =
    if (config.avroSchemas.contains(topic)) processAvro(topic, table, records, dead)
    else {
      profiles.get(true).foreach { case (n, profile) =>
        processArrowIpc(topic, table, records.filter(col("__ipc")), n, profile, dead)
      }
      profiles.get(false).foreach { case (n, profile) =>
        processJson(topic, table, records.filter(!col("__ipc")), n, profile, dead)
      }
    }

  // ---- Avro path (S7) ----

  private def processAvro(topic: String, table: String, records: DataFrame,
      dead: IngestPipeline.DeadLetters): Unit = {
    val schemaJson = config.avroSchemas(topic)
    val sparkSchema = AvroDecode.toSparkType(
      AvroDecode.readerSchema(schemaJson)).asInstanceOf[StructType]
    val rows = records.select(col("value"), col("offset"))
      .as[(Array[Byte], Long)].rdd
      .mapPartitions { it =>
        // one parsed schema + datum reader + recycled decoder per partition
        val decoder = new AvroRowDecoder(schemaJson, sparkSchema)
        it.map { case (bytes, offset) =>
          Row.fromSeq(decoder.decode(bytes).toSeq :+ offset)
        }
      }
    val withOffset = StructType(
      sparkSchema.fields.toSeq :+ StructField("__offset", LongType))
    writeToLake(table, spark.createDataFrame(rows, withOffset), dead)
  }

  // ---- JSON path (S3/C2/C3) ----

  /** Ingestion-time near-dup gate: probe the table's persisted LSH index
    * (`{table}_lshidx_docs` / `_bands`, created by the first batch), flag
    * or drop duplicates, and admit survivors into the index. Probing and
    * admission are batch-bounded — the corpus is never re-sketched
    * (reference identity: curation happens ON ingest, not as a later
    * full-corpus pass). A batch whose inferred schema lacks the configured
    * columns lands un-flagged and bumps `dedup.skipped.batches` — schema
    * drift must not poison the stream, but it must be visible.
    *
    * Admission runs before the landing write, both inside one transaction
    * (see writeToLake). An admission that LEAKS past a rollback — a
    * driver crash between the index-admission commit and the landing
    * commit is outside any in-process compensation — is absorbed on
    * redelivery: the probe exempts a doc whose OWN id already band-matches
    * in the index from both dup flagging and re-admission, so the
    * redelivered rows land (txn watermark / PK last-wins dedup the landing
    * side) instead of self-flagging and, under dropDups, being dropped
    * permanently.
    *
    * `nRecords` (the profiled batch row count, -1 = unknown) picks the
    * probe. A counted batch within `spark.graft.ingest.dedupBroadcastMaxRows`
    * (default 5M) and within the measured driver bound
    * [[graft.operators.DedupOps.DriverVerifyMaxRows]] is collected once and
    * verified on the driver: the flag goes onto the landing frame from a
    * broadcast set of the dup ids and each index table gets one admission
    * file. Any other batch within the key's bound, or of unknown size,
    * takes the distributed probe with broadcast-hinted joins; above the
    * bound its joins run unhinted (AQE picks) and admission writes
    * proportional-to-data slices — a backfill replay must degrade to
    * shuffles, not fail the stream on the broadcast limit or serialize its
    * index write onto one task. */
  private def applyDedup(table: String, dc: DedupConfig,
      df: DataFrame, nRecords: Long): (DataFrame, Option[() => Unit]) = {
    if (!df.columns.contains(dc.idCol) || !df.columns.contains(dc.textCol)) {
      GraftMetrics.dedupSkippedBatches.increment()
      return (df, None)
    }
    val bcMax = spark.conf.getOption("spark.graft.ingest.dedupBroadcastMaxRows")
      .map(_.toLong).getOrElse(5000000L)
    val (driverVerify, hinted) = IngestPipeline.dedupRoute(nRecords, bcMax)
    val huge = !hinted
    val admitSlices =
      if (!huge) 1 else math.min(64, IngestPipeline.slicesFor(nRecords))
    val probe = df
      .select(col(dc.idCol), col(dc.textCol).cast("string").as(dc.textCol))
      .dropDuplicates(dc.idCol)
    // STAGED: the probe runs now (flags are stable — the dup set is fixed
    // before any index mutation); admission is handed back so writeToLake
    // commits it inside ONE transact with the landing write — index and
    // table never diverge on an in-process flush failure
    val (flag, admit) = GraftMetrics.time(GraftMetrics.IngestDedup) {
      graft.operators.DedupOps.incrementalNearDupsStaged(
        lake, s"${table}_lshidx", probe, dc.idCol, dc.textCol,
        dc.threshold, dc.shingleK, dc.bands, dc.rowsPerBand,
        parallelAdmit = true, hintBroadcast = hinted,
        admitSlices = admitSlices, driverVerify = driverVerify)
    }
    val flagged = flag(df, dc.flagCol)
    (if (dc.dropDups) flagged.filter(col(dc.flagCol) === 0L).drop(dc.flagCol)
     else flagged, Some(admit))
  }

  /** Ingestion-time quality gate: score the batch map-side and flag (or
    * drop) failures. A batch whose inferred schema lacks the text column
    * lands un-flagged and bumps `quality.skipped.batches` — schema drift
    * must not poison the stream, but it must be visible. Runs BEFORE the
    * dedup gate so junk rows never pay LSH sketching or index admission. */
  private def applyQuality(table: String, qc: QualityConfig, df: DataFrame): DataFrame = {
    if (!df.columns.contains(qc.textCol)) {
      GraftMetrics.qualitySkippedBatches.increment()
      return df
    }
    GraftMetrics.time(GraftMetrics.IngestQuality) {
      val text = col(qc.textCol).cast("string")
      val checks = Seq(
        length(coalesce(text, lit(""))) >= qc.minChars,
        graft.operators.TextOps.qualityScore(coalesce(text, lit(""))) >= qc.minScore) ++
        (if (qc.langAllow.nonEmpty)
          Seq(graft.operators.TextOps.langIdPredict(coalesce(text, lit("")))
            .isin(qc.langAllow: _*))
        else Nil)
      val ok = checks.reduce(_ && _)
      if (qc.dropFailures) df.filter(ok)
      else df.withColumn(qc.flagCol, when(ok, 1L).otherwise(0L))
    }
  }

  private def writeToLake(table: String, rawDf: DataFrame,
      dead: IngestPipeline.DeadLetters, nRecords: Long = -1L): Unit = {
    val gated = config.quality.get(table) match {
      case Some(qc) => applyQuality(table, qc, rawDf)
      case None => rawDf
    }
    val (deduped, admitIndex) = config.dedup.get(table) match {
      case Some(dc) => applyDedup(table, dc, gated, nRecords)
      case None => (gated, None)
    }
    val df = applyConstraintGate(table, deduped, dead)
    val pks = config.pks.getOrElse(table, Nil)
    val preExisted = lake.tableExists(table)
    val upsertPath = preExisted && pks.nonEmpty
    val op = if (upsertPath) GraftMetrics.UpsertWithMergeInto
      else GraftMetrics.SimpleInsert
    val hasOffset = df.columns.contains("__offset")
    def land(): Unit = GraftMetrics.time(op) {
      txnWatermark(table) match {
        case Some((appId, ver)) if !upsertPath =>
          // exactly-once append: the watermark commits WITH the data, so
          // a redelivered batch (or replay) no-ops (IngestConfig.txnAppId)
          val applied = lake.appendIdempotent(table,
            df.drop((if (hasOffset) Seq("__offset") else Nil): _*),
            appId, ver,
            partitions = config.partitions.getOrElse(table, Nil), pks = pks)
          if (!applied) GraftMetrics.op("txnSkippedBatches").record(0L)
        case _ =>
          lake.write(table, df,
            partitions = config.partitions.getOrElse(table, Nil),
            pks = pks,
            ordering = if (hasOffset) Seq(col("__offset")) else Nil,
            exclude = if (hasOffset) Seq("__offset") else Nil)
      }
    }
    // the pipeline owns policy timing for its tables: standing
    // graft.policy.* hooks stay out of the landing (and its index
    // transaction) and run post-flush below, config-first
    graft.catalog.GraftLake.withPoliciesSuppressed { admitIndex match {
      case Some(admit) =>
        // index admission and the landing commit are ONE transaction: a
        // flush that fails after admitting rolls the index back too, so
        // within a live process the persisted LSH index never runs ahead
        // of the table it curates. (A driver CRASH between the two commits
        // is outside compensation — that leak is absorbed at probe time:
        // redelivered ids are exempt from flagging/re-admission, see
        // applyDedup.) transactOwned (this pipeline is the members' only
        // writer — foreachBatch serializes triggers) so admission and
        // landing run CONCURRENTLY: all three writes read only the
        // probe's fixed state + the trigger cache, and a streaming
        // flush pays ONE write's latency, not three in sequence. The
        // landing stays on this thread (its policy suppression is
        // thread-local); the admission task is quiesced before any
        // rollback — compensating a member while its append is mid-flight
        // would race
        lake.transactOwned(Seq(table,
            s"${table}_lshidx_docs", s"${table}_lshidx_bands")) {
          import org.apache.spark.sql.graft.CapturedTasks
          val fAdmit = CapturedTasks.submit(spark)(admit())
          try { land(); CapturedTasks.await(fAdmit) }
          catch {
            case e: Throwable =>
              scala.util.Try(CapturedTasks.await(fAdmit))
              throw e
          }
        }
      case None => land()
    } }
    // post-flush auto-compaction: the trigger check is O(1) against the
    // commit cache, so polling it every micro-batch costs nothing
    config.autoCompact.get(table).foreach { cc =>
      if (lake.liveFileCount(table) >= cc.minFiles)
        GraftMetrics.time(GraftMetrics.AutoCompact) {
          lake.compact(table, cc.targetRecordsPerFile, clusterBy = cc.clusterBy)
        }
    }
    // post-flush auto-rebucket: metadata-only mean-bucket-size probe;
    // the doubling itself is the incremental rebucket, safe under the
    // stream's continuing flushes. ADVISORY: a lost race (external
    // rewrite churn exhausting one bucket's attempts) must not kill the
    // ingest stream — the next flush resumes the migration anyway (the
    // flip no-ops, remaining foreign buckets retry)
    config.autoRebucket.get(table).foreach { rc =>
      try lake.maybeAutoRebucket(table, rc.targetRowsPerBucket, rc.maxBuckets,
        rc.maxGroupsPerFlush)
      catch {
        case scala.util.control.NonFatal(e) =>
          GraftMetrics.op("autoRebucketDeferred").record(0L)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto-rebucket of '$table' deferred to the next flush: $e")
      }
    }
    // post-flush snapshot retention: expiry batches up per `slack` commits
    // (the versions listing is bounded by keepLast + slack precisely
    // because this keeps pruning it); expireSnapshots meters itself
    config.retention.get(table).foreach { rc =>
      if (lake.versions(table).size >= rc.keepLast + rc.slack)
        lake.expireSnapshots(table, rc.keepLast)
    }
    // post-flush bloom maintenance: blooms ONLY the files this (and any
    // missed) flush added — O(new files), so the probe index never decays
    if (config.bloomRefresh.contains(table))
      GraftMetrics.time("bloomRefresh") { lake.refreshBloomIndexes(table) }
    // standing graft.policy.* table properties, CONFIG-FIRST: kinds this
    // IngestConfig already handled above are excluded, so a table can
    // carry a warehouse-wide standing policy while a pipeline override
    // stays authoritative for its own stream
    lake.runStandingPolicies(table, exclude =
      (if (config.autoCompact.contains(table)) Set("autoCompact")
       else Set.empty[String]) ++
      (if (config.autoRebucket.contains(table)) Set("autoRebucket")
       else Set.empty[String]) ++
      (if (config.retention.contains(table)) Set("retention")
       else Set.empty[String]))
  }

  private def processJson(topic: String, table: String, records: DataFrame,
      nRecords: Long, profile: BatchProfile,
      dead: IngestPipeline.DeadLetters): Unit = {
    // NO second cache: `records` projects the batch-level cache, so every
    // triage re-read is an in-memory scan already — a per-batch cache here
    // would just pay a second memory-store write per trigger
    val values = records
      .select(col("value").cast("string").as("v"), col("partition"), col("offset"))
    // the batch's schema came out of the profile job ([[BatchProfile]]) —
    // no per-topic inference job. Conflicts arrived as DATA (the
    // aggregator never throws), so only the cached-topic-schema merge can
    // still throw here; either way (Left) the batch routes to per-record
    // triage
    val inferred: Either[String, Option[StructType]] =
      try profile.conflict.toLeft(profile.schema.map(s => schemaCache.unifiedFor(topic, Seq(s))))
      catch { case e: SchemaUnify.GraftSchemaException => Left(e.getMessage) }
    inferred match {
      case Right(None) =>
        // NO record in the batch yielded a schema — every one is
        // unparseable. They must not vanish (reference: every record is
        // either landed or reported): DLQ them all, or fail loudly.
        if (config.dlqTable.isEmpty)
          failNoDlq(values, s"No record in topic '$topic' batch parses as JSON")
        dead.park(table, values, "unparseable JSON")
      case Right(Some(unified)) =>
        // the batch unified INTERNALLY and with the topic cache, but can
        // still conflict with the TABLE schema (cross-topic routing, a
        // fresh cache over an old table): that conflict surfaces as the
        // evolution rejection — triage per record, never crash the stream
        try landJson(table, values, unified, dead, nRecords)
        catch {
          case e: graft.catalog.LandedTypes.SchemaEvolutionException =>
            triageEvolution(table, values, e, dead)
        }
      case Left(_) =>
        triage(IngestPipeline.JsonWire, topic, table, values, dead, profile.verdict)
    }
  }

  /** Per-record triage for batch-vs-TABLE evolution conflicts: each record
    * is checked against the table's CURRENT schema with the real landing
    * rules ([[graft.catalog.LandedTypes.evolve]] over the record's landed
    * schema — so nested fields compare in landed form, widenings pass);
    * incompatible records park with the evolution reason, the rest land
    * under their own unified schema (which now evolves cleanly by
    * construction). */
  private def triageEvolution(table: String, values: DataFrame,
      cause: Exception, dead: IngestPipeline.DeadLetters): Unit = {
    if (config.dlqTable.isEmpty) throw cause
    val tableSchema = StructType(lake.readMeta(table).schema
      .filterNot(_.name == lake.InsertedAtCol).toSeq)
    val tableHolder = new IngestPipeline.SeedHolder(tableSchema.json)
    val errorDetail = udf { (v: String) =>
      SchemaInference.inferFromJson(v) match {
        case None => null: String
        case Some(s) =>
          try {
            graft.catalog.LandedTypes.evolve(tableHolder.schema,
              graft.catalog.LandedTypes.landedSchema(s))
            null: String
          } catch {
            case e: Exception =>
              s"Incompatible with table '$table' schema: ${e.getMessage}"
          }
      }
    }
    val good = dead.split(table, values, errorDetail(col("v")))
    if (!good.isEmpty) IngestPipeline.schemasOf(IngestPipeline.JsonWire, good) match {
      case Right(Some(u)) => landJson(table, good, u, dead)
      case Right(None) => dead.park(table, good, "unparseable JSON")
      case Left(conflict) =>
        dead.park(table, good, "table-compatible records conflict pairwise: " + conflict)
    }
  }

  /** Parse + land one topic's JSON rows under `schema`. `nRecords` (known
    * from the profile job or triage's profiled verdict, never re-counted;
    * -1 = unknown) sizes the landing write: the batch coalesces to
    * ceil(n / RowsPerLandingTask) tasks, so a trigger-sized batch lands as
    * ONE file per flush instead of one tiny file per upstream partition —
    * fewer write tasks, fewer footer-stats reads, fewer manifest entries,
    * less auto-compaction pressure — while a large trigger keeps its parse
    * spread across cores (`maxRecordsPerFile` still rolls oversized
    * tasks). The corrupt records are always parked (and
    * checked by the batch's DLQ count) when a DLQ is configured:
    * from_json's corrupt set is NOT a subset of what per-record inference
    * found unparseable (inference types an array by its FIRST element and
    * sniffs timestamps with its own grammar, so a record can infer cleanly
    * yet fail from_json conversion) — skipping them on a zero-unparseable
    * profile would silently drop exactly those records. */
  private def landJson(table: String, values: DataFrame, schema: StructType,
      dead: IngestPipeline.DeadLetters, nRecords: Long = -1L): Unit = {
    // corrupt-record channel: from_json yields an all-null struct for
    // malformed input, so a dedicated corrupt column is the reliable signal
    val corrupt = "_graft_corrupt"
    val parseSchema = StructType(
      schema.fields.toSeq :+ StructField(corrupt, StringType))
    val parsed = values
      .withColumn("__parsed", from_json(col("v"), parseSchema,
        Map("columnNameOfCorruptRecord" -> corrupt)))
      .withColumn("__corrupt", col(s"__parsed.`$corrupt`"))
      .withColumn("__offset", col("offset"))
    val good0 = parsed.filter(col("__corrupt").isNull && col("__parsed").isNotNull)
      .select((schema.fieldNames.map(n => col(s"__parsed.`$n`").as(n)) :+
        col("__offset")).toSeq: _*)
    // coalesce, not repartition: no shuffle, so the parse runs in the
    // landing tasks themselves, one per RowsPerLandingTask rows (2k: the
    // measured point from which a second parsing task pays for itself) —
    // a trigger-sized batch parses and lands as one file, a large one
    // keeps its parse spread across cores. A batch of unknown size lands
    // as-is
    val good = if (nRecords < 0) good0
      else good0.coalesce(IngestPipeline.slicesFor(nRecords, IngestPipeline.RowsPerLandingTask))
    writeToLake(table, good, dead, nRecords)
    // parked whether or not anything is corrupt: the batch's one DLQ
    // count is the emptiness check
    if (config.dlqTable.isDefined)
      dead.park(table, parsed
        .filter(col("__corrupt").isNotNull || col("__parsed").isNull)
        .select(col("v"), col("partition"), col("offset")), "unparseable JSON")
  }

  /** Reference E2 per-record DLQ triage, one algorithm for every wire
    * format: on a batch-level schema conflict (or an undecodable Arrow
    * payload), each record is retried solo against a deterministic seed
    * schema (the cached topic schema, else the lowest-offset record's);
    * records that cannot unify with it go to the DLQ with a per-record
    * error ([[IngestPipeline.recordError]]), the rest are re-batched and
    * landed. With no DLQ configured the batch fails instead.
    *
    * The verdict — how many records stay, and the union of their schemas —
    * comes from the profile job when it computed one against the topic's
    * current seed (`verdict`); then triage lands with no job of its own,
    * sized by the count. Otherwise (a topic's first conflicting batch in
    * this process, or Arrow) triage runs the verdict jobs: the seed
    * (without a cached schema), the emptiness check and the union. */
  private def triage[T: TypeTag](wire: IngestPipeline.Wire[T], topic: String,
      table: String, values: DataFrame, dead: IngestPipeline.DeadLetters,
      verdict: Option[IngestPipeline.TriageVerdict] = None): Unit = {
    if (config.dlqTable.isEmpty) failNoDlq(values, s"${wire.conflict} in topic '$topic'")
    val profiled = verdict.filter(v => schemaCache.get(topic).contains(v.seed))
    val seed = profiled.map(_.seed).orElse(schemaCache.get(topic))
      .getOrElse(firstSchema(wire, values))
    val holder = new IngestPipeline.SeedHolder(seed.json)
    val good = dead.split(table, values,
      udf((v: T) => IngestPipeline.recordError(wire, holder.schema, v)).apply(col("v")),
      wire.toDlq)
    // kept = -1: some, count unknown
    val (kept, keptSchemas) = profiled match {
      case Some(v) => (v.kept, v.schema)
      case None if good.isEmpty => (0L, Right(None))
      case None => (-1L, IngestPipeline.schemasOf(wire, good))
    }
    if (kept != 0) {
      // "good" records each unify with the seed, but may still conflict
      // pairwise (two records adding the same NEW field with different
      // types). In that case land under the seed schema alone — every
      // good record conforms to it; the conflicting new fields are
      // dropped for this batch rather than poisoning the stream. An
      // EMPTY seed (the lowest-offset record had no schema) can't play
      // that role: re-seed from the lowest-offset good record that has
      // one, and as a last resort DLQ the survivors — a triage pass must
      // never silently drop records.
      def seedOrFirst = if (seed.nonEmpty) seed
        else firstSchema(wire, good.filter(
          udf((v: T) => wire.schemaOf(v).exists(_.isDefined)).apply(col("v"))))
      val unified = keptSchemas match {
        case Right(None) => seed
        case Right(Some(u)) =>
          try schemaCache.unifiedFor(topic, Seq(u))
          catch { case _: SchemaUnify.GraftSchemaException => seedOrFirst }
        case Left(_) => seedOrFirst
      }
      if (unified.nonEmpty) wire.land(this, table, good, unified, dead, kept)
      else dead.park(table,
        good.select(wire.toDlq(col("v")).as("v"), col("partition"), col("offset")),
        s"pairwise schema conflict and no resolvable seed schema for topic '$topic'")
    }
  }

  /** Schema of the lowest-offset record in `values`; empty when that
    * record has none. */
  private def firstSchema[T](wire: IngestPipeline.Wire[T],
      values: DataFrame): StructType =
    values.orderBy(col("partition"), col("offset")).select("v").take(1).headOption
      .flatMap(r => wire.schemaOf(r.getAs[T](0)).toOption.flatten)
      .getOrElse(StructType(Nil))

  /** Fail a batch whose bad records have no DLQ to go to
    * (DucklakeSinkTask.java:643-667): `what`, then up to five
    * `partition@offset` samples of `records`. */
  private def failNoDlq(records: DataFrame, what: String): Nothing = {
    val samples = records.orderBy(col("partition"), col("offset"))
      .select(col("partition"), col("offset")).limit(5).collect()
      .map(r => s"${r.getInt(0)}@${r.getLong(1)}").mkString(", ")
    throw new SchemaUnify.GraftSchemaException(
      s"$what and no DLQ configured; sample records (partition@offset): $samples")
  }

  /** CHECK-constraint gate (the reference's per-record triage shape, E2):
    * with a DLQ configured, rows violating any live table constraint
    * route there INDIVIDUALLY — payload re-serialized as JSON, error
    * naming the violated constraint(s) — and the clean remainder lands.
    * The engine's own enforcement (atomic batch abort, correct for batch
    * writers) would turn one bad record into a poison pill under
    * at-least-once redelivery: the stream re-reads the batch and aborts
    * forever. With no DLQ configured, or a constraint referencing a
    * column this batch doesn't carry, the gate steps aside and the write
    * path's enforcement aborts loudly. */
  private def applyConstraintGate(table: String, df: DataFrame,
      dead: IngestPipeline.DeadLetters): DataFrame = {
    if (config.dlqTable.isEmpty || !lake.tableExists(table)) return df
    val cs = lake.constraints(table)
    if (cs.isEmpty) return df
    val checks = cs.map { case (n, text) =>
      n -> coalesce(expr(text), lit(true))
    }
    val resolvable =
      try { df.select(checks.map(_._2): _*).queryExecution.analyzed; true }
      catch { case _: AnalysisException => false }
    if (!resolvable) return df
    // concat_ws skips nulls: the column lists exactly the violated names.
    // The tagged frame is CACHED and held until the batch's dead letters
    // land — the DLQ split and the write must not re-run the quality/dedup
    // lineage, and the job count per trigger stays fixed (the batch's one
    // DLQ count doubles as the emptiness check)
    val violName = concat_ws(", ", checks.map { case (n, c) =>
      when(!c, lit(n))
    }: _*)
    val tagged = df.withColumn("__viol", violName).cache()
    dead.hold(tagged)
    val bad = tagged.filter(col("__viol") =!= "")
    val hasOffset = df.columns.contains("__offset")
    val payloadCols = df.columns.filterNot(_ == "__offset").toSeq
    dead.park(table,
      bad.select(
        to_json(struct(payloadCols.map(col): _*)).as("v"),
        lit(-1).as("partition"),
        (if (hasOffset) col("__offset") else lit(-1L)).as("offset"),
        concat(lit("CHECK constraint violation: "), col("__viol"))
          .as("error")))
    tagged.filter(col("__viol") === "").drop("__viol")
  }

  // ---- Arrow IPC path (S4/S6) ----

  /** Land one topic's Arrow IPC records. Their unified schema came out of
    * the profile job (each record's IPC header). A schema conflict OR an
    * undecodable record routes the batch to per-record triage, same as
    * the JSON path — a single corrupt payload must not become a poison
    * pill that fails the stream on every retry. */
  private def processArrowIpc(topic: String, table: String, records: DataFrame,
      nRecords: Long, profile: BatchProfile, dead: IngestPipeline.DeadLetters): Unit = {
    val values = records.select(col("value").as("v"), col("partition"), col("offset"))
    val unified =
      if (profile.unparseable > 0 || profile.conflict.isDefined) None
      else
        try profile.schema.map(s => schemaCache.unifiedFor(topic, Seq(s)))
        catch { case _: SchemaUnify.GraftSchemaException => None }
    unified match {
      case Some(u) => landArrow(table, values, u, dead, nRecords)
      case None => triage(IngestPipeline.ArrowWire, topic, table, values, dead)
    }
  }

  /** Decode + conform rows (payload `v`) to the unified schema, and land
    * them: coalesced to one task per [[IngestPipeline.RowsPerLandingTask]]
    * rows when `nRecords` is known, as [[landJson]] does. */
  private def landArrow(table: String, values: DataFrame, unified: StructType,
      dead: IngestPipeline.DeadLetters, nRecords: Long): Unit = {
    val sized = if (nRecords < 0) values
      else values.coalesce(IngestPipeline.slicesFor(nRecords, IngestPipeline.RowsPerLandingTask))
    val bytesRdd: RDD[(Array[Byte], Long)] = sized
      .select(col("v"), col("offset")).as[(Array[Byte], Long)].rdd
    val unifiedJson = unified.json
    val rows: RDD[Row] = bytesRdd.mapPartitions { it =>
      val target = DataType.fromJson(unifiedJson).asInstanceOf[StructType]
      it.flatMap { case (bytes, offset) =>
        val (schema, rs) = ArrowIpc.decode(bytes)
        rs.map { r =>
          Row.fromSeq(ArrowIpc.conformRow(r, schema, target).toSeq :+ offset)
        }
      }
    }
    val withOffset = StructType(unified.fields.toSeq :+ StructField("__offset", LongType))
    writeToLake(table, spark.createDataFrame(rows, withOffset), dead)
  }

  // ---- streaming assembly ----

  /** Kafka source wired to the engine's flush semantics: the micro-batch
    * trigger is flush.interval.ms, `maxOffsetsPerTrigger` is the
    * flush.size analog (bounds records per flush). Requires the
    * spark-sql-kafka connector on the classpath (not bundled in this
    * environment — tests drive [[start]] with file/memory sources of the
    * same shape). */
  def kafkaSource(bootstrapServers: String, topics: Seq[String]): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", "earliest")
    config.maxOffsetsPerTrigger.foreach(n =>
      base.option("maxOffsetsPerTrigger", n.toString))
    base.load().select(
      col("topic"), col("partition"), col("offset"), col("value"))
  }

  /** Start the pipeline over a Kafka-shaped streaming source (columns
    * topic/partition/offset/value). For a real Kafka cluster use
    * [[kafkaSource]]. Checkpointing gives at-least-once (the reference's
    * guarantee). */
  def start(source: DataFrame, checkpoint: String): StreamingQuery =
    source.writeStream
      .foreachBatch((df: Dataset[Row], id: Long) => processBatch(df.toDF(), id))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(config.triggerMs))
      .start()

  /** Re-drive a topic's dead-letter records through the normal decode →
    * land path — the loop-closer the DLQ exists for: records parked by a
    * since-resolved condition (no seed schema yet, a column that has
    * since evolved) land on replay; records that STILL fail re-triage
    * into the DLQ exactly as live traffic would.
    *
    * The DLQ rewrite leans on snapshots for correctness: the replayed
    * originals are the rows of the PRE-replay snapshot parked for
    * `fromTable` (default: the topic's CURRENT routing — pass it
    * explicitly after a remap, when the parked rows carry the old target
    * name); fresh failures are whatever the replay itself appended
    * ([[GraftLake.readAppendsBetween]] over the pre/post versions — they
    * share (partition, offset) with the originals, so identity-based
    * deletion could not tell them apart). The new DLQ contents = other
    * tables' rows + fresh failures.
    *
    * Returns (replayed, stillFailing). */
  def replayDlq(topic: String, fromTable: Option[String] = None): (Long, Long) = {
    val dlq = config.dlqTable.getOrElse(throw new IllegalStateException(
      "replayDlq requires a configured dlqTable"))
    if (!lake.tableExists(dlq)) return (0L, 0L)
    val parkedAs = fromTable.getOrElse(config.tableFor(topic))
    val pre = lake.versions(dlq).lastOption.getOrElse(return (0L, 0L))
    val all = lake.readVersion(dlq, pre)
    val mine = all.filter(col("target_table") === parkedAs).cache()
    try {
      // the parked payloads back on the wire. Arrow triage parked its
      // payload base64'd: a value that decodes as base64 to an IPC
      // payload is one (JSON text cannot start with '/', so never decodes
      // to the 0xFFFFFFFF marker); anything else is JSON text. The decode
      // is a `try_`: the plan may evaluate it on every row
      val arrow = IngestPipeline.ArrowWire.fromDlq(col("value"))
      val batch = mine.select(lit(topic).as("topic"), col("partition"), col("offset"),
        when(IngestPipeline.ipcSniff(arrow), arrow)
          .otherwise(IngestPipeline.JsonWire.fromDlq(col("value"))).as("value"))
      val tagged = batch.withColumn("__ipc", IngestPipeline.ipcSniff(col("value")))
      // the replay is a trigger over the parked rows: ONE profile job
      // yields its record count, wire-format dispatch and JSON schema
      val profiles = profileBatch(tagged).getOrElse(topic, Map.empty)
      val n = profiles.valuesIterator.map(_._1).sum
      if (n == 0) return (0L, 0L)
      // replays must not land under the TRIGGER watermark: the batch id
      // that parked these rows DID commit its clean rows, so
      // appendIdempotent at that id silently no-ops the whole replay.
      // The THREAD-LOCAL replay context (never the shared batch id — a
      // concurrent trigger keeps its own exactly-once path) swaps in the
      // DLQ snapshot id as the watermark instead: monotonic per target,
      // so a replay that crashed between landing and the DLQ rewrite
      // no-ops on re-run rather than duplicating.
      IngestPipeline.replayTxn.set(java.lang.Long.valueOf(pre))
      // fresh failures land before the post-replay version is read below
      val dead = new IngestPipeline.DeadLetters
      try {
        processTopic(topic, config.tableFor(topic), tagged, profiles, dead)
        landDeadLetters(dead)
      } finally {
        IngestPipeline.replayTxn.remove()
        dead.release()
      }
      val post = lake.versions(dlq).last
      val fresh = lake.readAppendsBetween(dlq, pre, post)
      val still = fresh.count()
      lake.overwriteContents(dlq,
        all.filter(col("target_table") =!= parkedAs).unionByName(fresh))
      (n, still)
    } finally mine.unpersist()
  }
}
