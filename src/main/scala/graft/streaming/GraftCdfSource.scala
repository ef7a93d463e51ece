package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.catalog.GraftLake

/** `graft-cdf` — a Structured-Streaming SOURCE over a lake table's commit
  * log, with SNAPSHOT VERSIONS as offsets. Each micro-batch is the rows
  * added by the pure-additive commits in `(lastOffset, latest]`
  * ([[GraftLake.streamAppendBatch]]): exactly-once under Spark's normal
  * offset checkpointing, immune to compaction (content-preserving
  * rewrites contribute nothing — a tail of the data directory would
  * re-emit every compacted file), and fail-fast on row-changing
  * rewrites unless `onRewrite=skip`. The v1 `Source` realization is the
  * established one for lakehouse streams (Delta's source is the same
  * shape): `getBatch` returns an arbitrary DataFrame over exactly the
  * window's files, so no custom readers are needed — Spark's parquet
  * scan does the work.
  *
  * Options:
  *  - `warehouse` + bare `table`, OR a catalog-qualified
  *    `table = <graft-catalog>.<name>` resolved through the session's
  *    catalog manager (the same registration SQL queries use —
  *    streaming and SQL address tables identically)
  *  - `feed`: `appends` (default — rows added by pure-additive commits)
  *    or `cdf` (the row-level CHANGE feed: the table's columns plus
  *    `_change_type` 'insert' | 'delete' | 'update_preimage' |
  *    'update_postimage' and `_commit_version`. Append commits stream
  *    inserts, MoR deletes their preimages, MoR updates pre/post pairs —
  *    all derived from commit metadata. Upserts with matches and
  *    rewrite-class commits (general MERGE with matches, overwrite)
  *    stream EXACTLY when the table
  *    has change capture on (`ALTER TABLE t SET TBLPROPERTIES
  *    ('graft.enableChangeDataFeed'='true')` — such commits then write
  *    their row-level changes at commit time and the feed reads them
  *    verbatim, O(changed rows) per epoch); without capture they fail
  *    fast, attribution through a rewrite is not metadata-derivable.
  *    A bootstrap emits the snapshot's live rows as inserts.)
  *  - `startingVersion`: `latest` (default — only commits after stream
  *    start), `snapshot` (backfill the stream-start snapshot's full live
  *    rows — deletion vectors applied — then stream later commits), or
  *    a retained version N (consumer already has snapshot N; stream
  *    commits > N)
  *  - `startingTimestamp` (mutually exclusive with `startingVersion`):
  *    epoch millis or ISO-8601 instant — the consumer owns the table AS
  *    OF that time; commits after it stream. Resolved once at first
  *    start to the snapshot current at the timestamp (a time before the
  *    first commit, with the full chain retained, streams everything)
  *    and pinned exactly like a version floor
  *  - `onRewrite`: `fail` (default) | `skip` (row-changing commits become
  *    no-ops — documented at-least-once)
  *  - `maxVersionsPerTrigger`: cap commits consumed per micro-batch
  *  - `onSchemaChange`: what to do when a window commit's schema differs
  *    from the stream's advertised (start-time) schema — `fail` (refuse
  *    loudly at the commit that carries the evolution; default for
  *    `feed=cdf`, where a replicating consumer silently dropping a new
  *    column is data loss) or `conform` (project every epoch to the
  *    stream-start shape — added columns drop, removed ones read null;
  *    default for `feed=appends`, the standard streaming-evolution
  *    contract: the consumer re-reads the schema on restart)
  *  - `minPollIntervalMs`: throttle the commit-log listing behind
  *    `getOffset`. Default 0 on `file:` warehouses (tests and
  *    low-latency local tails see commits immediately) and 1000 on every
  *    other scheme — a 1 s-trigger stream against an object store would
  *    otherwise issue ~86k LIST calls/day/stream
  *
  * The resolved starting floor is PERSISTED under the stream's metadata
  * path on first start: `startingVersion=latest` must not re-resolve on
  * restart (commits landed while the stream was down would be skipped —
  * silent data loss; the same first-start pinning FileStreamSource does
  * with its metadata log).
  *
  * WHY v1 `Source`, not DSv2 `MicroBatchStream` (a considered
  * determination, not legacy drift): an epoch here is a RELATIONAL plan —
  * a multi-file parquet relation behind the codegen'd DV-mask filter,
  * unioned with change-file scans and conform projections, all of which
  * Catalyst plans, prunes and codegens because `getBatch` returns a
  * DataFrame. DSv2's `MicroBatchStream` contract is per-partition ROW
  * READERS (`planInputPartitions`/`PartitionReaderFactory`): shipping
  * these epochs through it would mean re-implementing parquet reading,
  * DV masking and the change-file union outside the optimizer (losing
  * pushdown and whole-stage codegen) or collecting epochs at the driver.
  * Delta Lake ships its source on the same v1 shape for the same reason.
  * The benefits DSv2 would advertise hold here and are SPEC-GATED on v1:
  * column pruning reaches the per-epoch parquet scan through Catalyst
  * (the micro-batch plan is substituted and optimized per epoch — see
  * the "column pruning" GraftCdfSourceSpec case, which reads the
  * executed epoch plan), `Trigger.AvailableNow` drains and terminates
  * via getOffset exhaustion, rate limiting composes through
  * `maxVersionsPerTrigger`, and version offsets surface in every
  * progress event's `sources[0].startOffset/endOffset`.
  *
  * Reference frame: the connector's Kafka intake is the reference's only
  * stream; this source is the OUTBOUND half a lakehouse needs at scale —
  * downstream jobs tail a 100 TB table's commit log in O(delta) per
  * trigger, never re-listing or re-scanning the table. */
final class GraftCdfSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def required(parameters: Map[String, String], key: String): String =
    parameters.getOrElse(key, throw new IllegalArgumentException(
      s"graft-cdf needs the '$key' option"))

  /** Resolve (lake, table) from the options: either an explicit
    * `warehouse` + bare `table`, or a catalog-qualified
    * `table = <graft-catalog>.<name>` resolved through the session's
    * catalog manager ([[GraftStreamAddress]]). */
  private def resolve(sqlContext: SQLContext,
      parameters: Map[String, String]): (GraftLake, String) =
    GraftStreamAddress.resolve(sqlContext.sparkSession, "graft-cdf",
      parameters.get("warehouse"), required(parameters, "table"))

  private def schemaFor(lake: GraftLake, table: String,
      feed: String): StructType = {
    val base = lake.read(table).schema
    if (feed == "cdf") GraftLake.cdfSchema(base) else base
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (lake, table) = resolve(sqlContext, parameters)
    (s"graft-cdf:$table",
      schemaFor(lake, table, parameters.getOrElse("feed", "appends")))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val (lake, table) = resolve(sqlContext, parameters)
    val feed = parameters.getOrElse("feed", "appends")
    // startingTimestamp is validated here but RESOLVED lazily in the
    // source's no-pin branch: the pin (written at first start) stays
    // authoritative across restarts, so a later retention change that
    // would make the timestamp unresolvable cannot break a restart
    val startingVersion = parameters.get("startingTimestamp") match {
      case Some(raw) =>
        require(!parameters.contains("startingVersion"),
          "graft-cdf: startingTimestamp and startingVersion are mutually " +
            "exclusive")
        s"timestamp:${GraftCdfSourceProvider.parseTimestampMs(raw)}"
      case None => parameters.getOrElse("startingVersion", "latest")
    }
    new GraftCdfSource(lake, table, metadataPath,
      startingVersion,
      parameters.getOrElse("onRewrite", "fail"),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      parameters.get("minPollIntervalMs").map(_.toLong).getOrElse(
        GraftCdfSourceProvider.defaultPollIntervalMs(lake.warehouseDir)),
      feed,
      parameters.getOrElse("onSchemaChange",
        if (feed == "cdf") "fail" else "conform"))
  }
}

object GraftCdfSourceProvider {
  /** Default `minPollIntervalMs` by warehouse scheme: 0 for local `file:`
    * warehouses (a directory listing is free; tests and low-latency tails
    * see commits immediately), 1000 everywhere else (each poll is a paid
    * object-store LIST — a 1 s trigger would issue ~86k/day/stream).
    * Decided from the URI alone, no filesystem instantiated. */
  def defaultPollIntervalMs(warehouse: String): Long = {
    val scheme = Option(new Path(warehouse).toUri.getScheme)
    if (scheme.forall(_ == "file")) 0L else 1000L
  }

  /** `startingTimestamp` accepts epoch millis or an ISO-8601 instant. */
  def parseTimestampMs(raw: String): Long = {
    val t = raw.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else
      try java.time.Instant.parse(t).toEpochMilli
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"graft-cdf startingTimestamp '$raw' is neither epoch millis " +
              "nor an ISO-8601 instant (e.g. 2026-08-16T10:00:00Z)", e)
      }
  }
}

final class GraftCdfSource(lake: GraftLake, table: String,
    metadataPath: String, startingVersion: String, onRewrite: String,
    maxVersionsPerTrigger: Option[Long],
    minPollIntervalMs: Long = 0L,
    feed: String = "appends",
    onSchemaChange: String = "conform") extends Source {

  require(onRewrite == "fail" || onRewrite == "skip",
    s"graft-cdf onRewrite must be 'fail' or 'skip', got '$onRewrite'")
  require(feed == "appends" || feed == "cdf",
    s"graft-cdf feed must be 'appends' or 'cdf', got '$feed'")
  require(onSchemaChange == "conform" || onSchemaChange == "fail",
    s"graft-cdf onSchemaChange must be 'conform' or 'fail', got " +
      s"'$onSchemaChange'")
  require(feed == "appends" || onRewrite == "fail",
    "graft-cdf feed=cdf attributes every row-changing commit exactly — " +
      "onRewrite=skip does not apply (rewrite-class commits stream via " +
      "their write-time change files when the table has " +
      "graft.enableChangeDataFeed; without capture they fail fast)")
  maxVersionsPerTrigger.foreach(m => require(m > 0,
    s"graft-cdf maxVersionsPerTrigger must be positive, got $m"))

  private val spark = lake.spark

  /** "Everything ≤ floor was already consumed" (`snapshot` mode: "…and
    * the snapshot right above the floor is the backfill"). Resolved ONCE
    * per stream lifetime and pinned — with its mode — in the metadata
    * path: a restart re-reads the pin instead of re-resolving `latest`
    * (which would silently skip the down-time window), and the pinned
    * mode keeps a later option edit from re-interpreting the floor. */
  private val (floor: Long, bootstrapAt: Option[Long]) = {
    val p = new Path(metadataPath, "graft-cdf-floor")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pin format: "<mode>:<floor>" — mode may itself carry a ':'
    // ("timestamp:1723800000000"), so the floor is everything after the
    // LAST separator
    def parse(raw: String): (Long, Option[Long]) = {
      val t = raw.trim
      val i = t.lastIndexOf(':')
      val parsed =
        if (i <= 0 || i == t.length - 1) None
        else scala.util.Try((t.substring(0, i), t.substring(i + 1).toLong))
          .toOption
      parsed match {
        case Some((mode, fl)) =>
          (fl, if (mode == "snapshot") Some(fl) else None)
        case None => throw new IllegalStateException(
          s"graft-cdf floor pin '$p' is unreadable ('${t.take(64)}') — a " +
            "writer crashed mid-publish on a rename-less filesystem; delete " +
            "the pin (AND the checkpoint, or the stream's position is " +
            "ambiguous) to start the stream over")
      }
    }
    def readPin(): (Long, Option[Long]) = {
      val in = f.open(p)
      try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
    if (f.exists(p)) readPin()
    else {
      val vs = lake.versions(table)
      val resolved: Long = startingVersion match {
        case "latest" => vs.lastOption.getOrElse(-1L)
        // floor under the first backfill commit: the next batch's window
        // head IS the pinned snapshot, emitted whole (DV-masked)
        case "snapshot" => vs.lastOption.map(_ - 1).getOrElse(-1L)
        // "timestamp:<millis>": the consumer owns the table AS OF that
        // time — floor at the snapshot current then; before the FIRST
        // commit (full chain retained) the origin floor streams
        // everything, while a partially expired chain refuses loudly
        case t if t.startsWith("timestamp:") =>
          val millis = t.stripPrefix("timestamp:").toLong
          try lake.versionAt(table, millis)
          catch {
            case e: IllegalArgumentException =>
              if (vs.headOption.contains(0L)) -1L else throw e
          }
        case n =>
          val v = n.toLong
          // -1 is the explicit ORIGIN floor: legal while the chain
          // retains v0
          require(vs.contains(v) || (v == -1L && vs.headOption.forall(_ == 0L)),
            s"graft-cdf startingVersion=$v is not a retained snapshot of " +
              s"'$table' (have ${vs.headOption.getOrElse(-1L)}.." +
              s"${vs.lastOption.getOrElse(-1L)})")
          v
      }
      f.mkdirs(p.getParent)
      // ATOMIC create-if-absent publish: a crash must never leave an
      // empty pin that bricks every restart, and of two racing
      // first-starts exactly one wins — the loser reads the winner's pin.
      // On file:// that is write-temp + HARD LINK (link(2) fails if the
      // target exists AND publishes full content in one metadata op —
      // Hadoop's rename on RawLocalFileSystem delegates to
      // File.renameTo, which on POSIX silently OVERWRITES an existing
      // destination, so both racers would 'win' and the later pin would
      // silently replace the earlier one); elsewhere a direct
      // create(overwrite=false), which object stores publish on close.
      val body = s"$startingVersion:$resolved".getBytes("UTF-8")
      def createIfAbsent(): Boolean =
        try {
          val out = f.create(p, false)
          try out.write(body) finally out.close()
          true
        } catch {
          case e: java.io.IOException
              if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
                Option(e.getMessage).exists(
                  _.toLowerCase.contains("already exists")) => false
        }
      val won =
        if (f.getScheme == "file") {
          val tgt = java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath)
          val tmp = tgt.resolveSibling(
            s".graft-cdf-floor.${java.util.UUID.randomUUID()}.tmp")
          java.nio.file.Files.write(tmp, body)
          try { java.nio.file.Files.createLink(tgt, tmp); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: UnsupportedOperationException => createIfAbsent()
            case _: java.nio.file.FileSystemException => createIfAbsent()
          } finally java.nio.file.Files.deleteIfExists(tmp)
        } else createIfAbsent()
      if (won)
        (resolved, if (startingVersion == "snapshot") Some(resolved) else None)
      else readPin() // the racer's pin is whole (link/close-published)
    }
  }

  /** Highest version already offered to the engine — the rate-limit
    * anchor. Advanced by [[getBatch]] too, so a restart's WAL replay
    * jumps it to the checkpointed position instead of re-walking the
    * whole backlog through the limiter. */
  @volatile private var offered: Long = floor

  /** The version at (or below) which the advertised schema took effect —
    * captured BEFORE reading the schema, so a commit racing the two reads
    * can only make the policy stricter, never looser. Commits ≤ this are
    * backfill/pre-advertisement and conform under the widened-read
    * contract even with `onSchemaChange=fail`; only LATER commits with a
    * different shape are mid-stream evolution (where a restart genuinely
    * picks up the new schema). */
  private val advertisedAt: Long =
    lake.latestVersion(table).getOrElse(-1L)

  /** The stream-start shape. Under `onSchemaChange=conform` every epoch
    * projects to it even if the table's schema evolves mid-stream (the
    * consumer re-reads the schema on restart, the standard streaming-
    * evolution contract); under `fail` (the feed=cdf default) the epoch
    * carrying the evolution refuses instead — silent conforming would
    * drop a new column from a replicating consumer's feed. */
  override val schema: StructType = {
    val base = lake.read(table).schema
    if (feed == "cdf") GraftLake.cdfSchema(base) else base
  }

  // each poll lists the table's commit-log directory (one metadata call);
  // `minPollIntervalMs` bounds that rate for object-store warehouses —
  // defaulted per warehouse scheme by the provider (1000 ms off `file:`,
  // 0 on local filesystems so tests and low-latency tails see commits
  // immediately)
  private var lastPollNs = Long.MinValue
  private var cachedLatest: Option[Long] = None
  private def latestVersion(): Option[Long] = {
    val now = System.nanoTime()
    if (minPollIntervalMs > 0 && cachedLatest.isDefined &&
        now - lastPollNs < minPollIntervalMs * 1000000L) cachedLatest
    else {
      cachedLatest = lake.latestVersion(table)
      lastPollNs = now
      cachedLatest
    }
  }

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val latest = latestVersion().getOrElse(return None)
    val base = math.max(offered, floor)
    val target = maxVersionsPerTrigger
      .map(m => math.min(latest, base + m)).getOrElse(latest)
    offered = math.max(offered, target)
    // an unchanged offset means "no new data" to the engine; None only
    // before anything past the floor exists
    if (offered <= floor) None else Some(LongOffset(offered))
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val from = start.map(version).getOrElse(floor)
    val to = version(end)
    offered = math.max(offered, to)
    if (feed == "cdf")
      lake.streamChangeBatch(table, from, to, bootstrapAt, Some(schema),
        onSchemaChange, Some(advertisedAt))
    else
      lake.streamAppendBatch(table, from, to, onRewrite, bootstrapAt,
        Some(schema), onSchemaChange, Some(advertisedAt))
  }

  private def version(
      o: org.apache.spark.sql.execution.streaming.Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftCdfSource[$table]"
}
