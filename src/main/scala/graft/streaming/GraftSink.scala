package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.catalog.{GraftLake, InsertStamp}

/** `graft` — a Structured-Streaming SINK into a lake table, the write
  * half of the streaming story ([[GraftCdfSourceProvider]] is the read
  * half; the two compose into lake→lake streaming replication, q166).
  *
  * Per output mode:
  *  - Append: [[GraftLake.appendIdempotent]] keyed `(txnAppId, batchId)`
  *    — a restart's WAL replay of the last uncommitted epoch lands
  *    EXACTLY ONCE (the replayed batch id is at or below the table's
  *    txn watermark and no-ops), the same watermark contract the ingest
  *    pipeline uses;
  *  - Update: PK upsert per epoch (`pks` option required) — replays
  *    re-upsert the same keys, which merge last-wins idempotently;
  *  - Complete: full-contents overwrite per epoch (what an unwatermarked
  *    streaming aggregation emits) — idempotent by construction.
  *
  * Options: `warehouse` (required), `table` (required), `pks`
  * (comma-separated; enables upsert semantics), `partitions` (the
  * engine's expression-partitioning specs, e.g. `bucket(16, id)` —
  * `writeStream.partitionBy` columns are honored too), `txnAppId`
  * (Append-mode idempotence scope; defaults to the query's checkpoint
  * location — two streams appending to one table need distinct scopes,
  * which distinct checkpoints give for free).
  *
  * The per-epoch DataFrame is re-planned before writing (the engine's
  * append path makes more than one pass: schema evolution, constraint
  * enforcement, the write itself) — the foreachBatch contract: a
  * micro-batch's source data is pinned for the epoch, so repeated
  * passes see identical rows. */
final class GraftSinkProvider extends StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    def required(key: String): String =
      parameters.getOrElse(key, throw new IllegalArgumentException(
        s"graft sink needs the '$key' option"))
    val (lake, table) = GraftStreamAddress.resolve(sqlContext.sparkSession,
      "graft sink", parameters.get("warehouse"), required("table"))
    val partitions = parameters.get("partitions")
      .map(graft.catalog.PartitionExpr.splitSpecs)
      .getOrElse(partitionColumns)
    val pks = parameters.get("pks")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // Append-mode idempotence scope. A silent per-table DEFAULT would be
    // a correctness trap: two independent queries (or one restarted with
    // a fresh checkpoint, resetting batch ids to 0) would share one
    // watermark and appendIdempotent would silently DROP the later
    // stream's epochs. A checkpoint set only through the session conf is
    // not in this options map, so in that case the scope must be named
    // explicitly. (Update/Complete modes are idempotent by construction
    // and need no scope.)
    // NORMALIZE the checkpoint-derived scope to a qualified absolute URI:
    // the same checkpoint spelled differently across restarts (trailing
    // slash, file:/ vs file:///, relative vs absolute) must not mint a
    // NEW appId — that would reset the txn watermark and let a
    // WAL-replayed epoch land twice
    val explicit = parameters.get("txnAppId")
    val appId = explicit
      .orElse(parameters.get("checkpointLocation")
        .map(GraftSinkProvider.normalizeScope(
          sqlContext.sparkSession.sparkContext.hadoopConfiguration, _)))
      .getOrElse {
        if (outputMode == OutputMode.Append())
          throw new IllegalArgumentException(
            "graft sink (Append mode) needs an idempotence scope: set " +
              "'txnAppId', or pass 'checkpointLocation' as a writeStream " +
              "OPTION (a session-conf checkpoint is invisible here) — " +
              "distinct streams appending to one table need distinct " +
              "scopes, or their epochs silently dedupe against each other")
        s"graft-sink:$table"
      }
    // pre-normalization scope of checkpoints created before the appId was
    // qualified: its watermark is adopted when the normalized scope has
    // none, so the one-time rename across an upgrade cannot replay the
    // last WAL epoch twice
    val legacyAppId =
      if (explicit.isDefined) None
      else parameters.get("checkpointLocation").filter(_ != appId)
    new GraftSink(lake, table, appId, partitions, pks, outputMode,
      legacyAppId)
  }
}

object GraftSinkProvider {
  /** Canonical idempotence scope for a checkpoint path: resolve to the
    * filesystem-QUALIFIED absolute URI (scheme + authority + normalized
    * path, trailing slash stripped), so every spelling of one location —
    * `/tmp/ck`, `/tmp/ck/`, `file:/tmp/ck`, `file:///tmp/ck`, a relative
    * path — maps to ONE appId and one txn watermark. */
  private[graft] def normalizeScope(
      conf: org.apache.hadoop.conf.Configuration, raw: String): String = {
    val p = new org.apache.hadoop.fs.Path(raw)
    val q = p.getFileSystem(conf).makeQualified(p).toUri
    // rebuild from components: URI.toString renders `file:/x` or
    // `file:///x` depending on how the authority was parsed — the scope
    // must not depend on that
    val auth = Option(q.getAuthority).getOrElse("")
    s"${q.getScheme}://$auth${q.getPath}".stripSuffix("/")
  }
}

final class GraftSink(lake: GraftLake, table: String, appId: String,
    partitions: Seq[String], pks: Seq[String], mode: OutputMode,
    legacyAppId: Option[String] = None)
  extends Sink {

  if (mode == OutputMode.Update())
    require(pks.nonEmpty,
      "graft sink in Update mode needs the 'pks' option (each epoch " +
        "upserts its changed keys)")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // rebind the epoch as a batch frame (ForeachBatchSink's own
    // construction): the engine's write paths are batch writers
    val df = PlanBridge.unstream(data)
    mode match {
      case m if m == OutputMode.Append() =>
        val landed = lake.appendIdempotent(table, df, appId, batchId,
          partitions, pks, legacyAppId)
        if (!landed)
          graft.metrics.GraftMetrics.op("sinkEpochReplaySkipped").record(0L)
      case m if m == OutputMode.Update() =>
        lake.write(table, df, partitions, pks)
      case _ => // Complete: the epoch carries the FULL result
        if (!lake.tableExists(table) || lake.versions(table).isEmpty)
          lake.write(table, df, partitions, pks)
        else
          lake.overwriteContents(table,
            df.withColumn("_inserted_at", InsertStamp.now()))
    }
  }

  override def toString: String = s"GraftSink[$table]"
}
