package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Operation-level engine metrics (reference §2.9,
  * connect/DucklakeMetrics.java:38-467): per-operation tagged sensors for
  * exactly `upsertWithMergeInto`, `simpleInsert`, `createTable`,
  * `evolveSchema`, plus records-processed totals and batch-size stats.
  * Spark-side realization: process-local concurrent counters (one engine
  * instance per driver) + a [[StreamingQueryListener]] feeding
  * records-processed from streaming progress.
  */
object GraftMetrics {

  final class OpStats {
    val count = new LongAdder
    val totalNanos = new LongAdder
    val maxNanos = new AtomicLong(0L)
    def record(nanos: Long): Unit = {
      count.increment(); totalNanos.add(nanos)
      var prev = maxNanos.get()
      while (nanos > prev && !maxNanos.compareAndSet(prev, nanos)) prev = maxNanos.get()
    }
    def avgMs: Double =
      if (count.sum() == 0) 0.0 else totalNanos.sum() / 1e6 / count.sum()
    def maxMs: Double = maxNanos.get() / 1e6
  }

  /** Reference sensor names (DucklakeMetrics.java:85-89). */
  val UpsertWithMergeInto = "upsertWithMergeInto"
  val SimpleInsert = "simpleInsert"
  val CreateTable = "createTable"
  val EvolveSchema = "evolveSchema"

  /** Engine extension: snapshot-manifest commit cost (no reference
    * counterpart — the reference's DuckLake does this inside its catalog
    * DB; surfaced here so bench runs can prove the bookkeeping stays
    * cheap). */
  val CommitVersion = "commitVersion"

  /** Engine extension: per-commit added-file bounds collection (the
    * data-skipping stats source) — split out of [[CommitVersion]] so
    * bench runs attribute footer-read cost separately from manifest
    * bookkeeping. */
  val CollectStats = "collectStats"

  /** Engine extension: ingestion-time near-dup probe against the
    * persisted LSH index (curation-on-ingest — the reference's core
    * identity applied to dedup). Separately timed so flush-latency
    * regressions attribute to the probe, not the landing write. */
  val IngestDedup = "ingestDedup"
  /** Sub-phase of [[IngestDedup]]: materializing the dup-id set (probe
    * pipeline evaluation) before admission mutates the index. */
  val DedupProbe = "dedupProbe"
  /** Sub-phase of [[IngestDedup]]: the two concurrent index appends. */
  val DedupAdmit = "dedupAdmit"

  /** Engine extension: ingestion-time quality gate (length / composite
    * score / language allowlist, all map-side) — separately timed so
    * flush-latency attribution can tell curation cost from landing
    * cost. */
  val IngestQuality = "ingestQuality"

  /** Engine extension: policy-triggered post-flush compaction
    * ([[graft.ingest.CompactionConfig]]) — timed apart from the landing
    * write so flush-latency spikes attribute to the rewrite, not the
    * ingest path. */
  val AutoCompact = "autoCompact"

  /** Engine extension: snapshot expiry + data-file vacuum cost. */
  val ExpireSnapshots = "expireSnapshots"

  private val ops = new ConcurrentHashMap[String, OpStats]()
  @volatile private var startedAtNanos: Long = System.nanoTime()
  val recordsProcessed = new LongAdder
  val batchCount = new LongAdder
  val maxBatchSize = new AtomicLong(0L)
  val dlqRecords = new LongAdder
  /** Batches that skipped the configured dedup gate because the batch
    * schema lacked the id/text columns (schema drift must not poison the
    * stream, but it must be visible). */
  val dedupSkippedBatches = new LongAdder
  /** Batches that skipped the configured quality gate for the same
    * schema-drift reason. */
  val qualitySkippedBatches = new LongAdder
  /** Data files physically deleted by vacuum (no retained snapshot
    * lists them) — the storage-bounding half of the snapshot contract,
    * observable. */
  val dataFilesVacuumed = new LongAdder

  def op(name: String): OpStats = ops.computeIfAbsent(name, _ => new OpStats)

  /** try-with-resources MetricTimer analog (DucklakeMetrics.java:452-466). */
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally op(name).record(System.nanoTime() - t0)
  }

  def recordBatch(size: Long): Unit = {
    batchCount.increment(); recordsProcessed.add(size)
    var prev = maxBatchSize.get()
    while (size > prev && !maxBatchSize.compareAndSet(prev, size)) prev = maxBatchSize.get()
  }

  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val o = ops.asScala.flatMap { case (n, s) => Seq(
      s"$n.count" -> s.count.sum().toDouble,
      s"$n.avg_ms" -> s.avgMs,
      s"$n.max_ms" -> s.maxMs)
    }
    val elapsedSec = math.max(1e-9, (System.nanoTime() - startedAtNanos) / 1e9)
    o.toMap ++ Map(
      "records.processed.total" -> recordsProcessed.sum().toDouble,
      "records.processed.rate_per_sec" -> recordsProcessed.sum() / elapsedSec,
      "batch.count" -> batchCount.sum().toDouble,
      "batch.size.max" -> maxBatchSize.get().toDouble,
      "batch.size.avg" -> (if (batchCount.sum() == 0) 0.0
        else recordsProcessed.sum().toDouble / batchCount.sum()),
      "dlq.records.total" -> dlqRecords.sum().toDouble,
      "dedup.skipped.batches" -> dedupSkippedBatches.sum().toDouble,
      "quality.skipped.batches" -> qualitySkippedBatches.sum().toDouble,
      "data.files.vacuumed" -> dataFilesVacuumed.sum().toDouble)
  }

  /** Raw (count, total ms) per sensor — the delta-friendly view bench
    * runs use to attribute engine-op cost to individual queries
    * (snapshot() exposes averages, which don't subtract). */
  def totalsMs(): Map[String, (Long, Double)] = {
    import scala.jdk.CollectionConverters._
    ops.asScala.map { case (n, s) =>
      n -> ((s.count.sum(), s.totalNanos.sum() / 1e6))
    }.toMap
  }

  def reset(): Unit = {
    ops.clear(); recordsProcessed.reset(); batchCount.reset()
    maxBatchSize.set(0); dlqRecords.reset()
    dedupSkippedBatches.reset(); qualitySkippedBatches.reset()
    dataFilesVacuumed.reset()
    startedAtNanos = System.nanoTime()
  }

  /** Streaming listener: feeds per-batch progress into the sensors. */
  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      recordBatch(e.progress.numInputRows)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
