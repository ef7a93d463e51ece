package ingestbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.GraftLake
import graft.ingest._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Fixed shape of a workload: drain flushes of `flushSize` records, a
  * paced phase at `pacedRate` records/s (about half the drain throughput on
  * a 4-core host). */
final case class Shape(flushSize: Int, pacedRate: Int)

object Lanes {
  /** Micro-batch trigger interval of the paced phase. */
  val TriggerMs = 250L
  val shapes: Map[String, Shape] = Map(
    "json_append" -> Shape(flushSize = 2000, pacedRate = 200),
    "upsert_curation" -> Shape(flushSize = 1800, pacedRate = 250))

  def apply(workload: String, spark: SparkSession, wh: String, seed: Long): Lane = workload match {
    case "json_append" => new JsonLane(spark, wh, seed)
    case "upsert_curation" => new UpsertCurationLane(spark, wh, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val KafkaSchema: StructType = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("value", BinaryType)))
}

/** One workload instance on one warehouse: generator, pipeline, checks. */
abstract class Lane(val spark: SparkSession, val wh: String) {
  def gen: Gen
  def config: IngestConfig
  lazy val pipeline = new IngestPipeline(spark, config)
  def lake: GraftLake = pipeline.lake
  private var batchId = 0L

  def frame(recs: Array[Rec]): DataFrame =
    spark.createDataFrame(recs.toSeq.map(r => Row(r.topic, r.partition, r.offset, r.value)).asJava,
      Lanes.KafkaSchema)

  /** One closed-loop flush through `processBatch`. */
  def flush(df: DataFrame): Unit = { pipeline.processBatch(df, batchId); batchId += 1 }

  /** The set-up's seed load. */
  def seedRecords(): Array[Rec]

  /** Marks `recs` as committed: reads begun after this must see them. */
  def commit(recs: Array[Rec]): Unit

  /** The `i`-th checked read of the paced phase's reader, which runs
    * beside the stream; returns its error, if any. */
  def probe(i: Int, r: SplittableRandom, obs: ReadObs): Option[String]

  /** Checked reads after each drain flush, on the drain's own thread, of
    * a table the paced reader must not read while the stream writes it. */
  def flushReads: Int = 0
  def settledProbe(i: Int, r: SplittableRandom, obs: ReadObs): Option[String] = None

  /** Plans, then runs a read, reporting plan/exec ms and scan counts of
    * the table it reads to `obs`. */
  protected def timedRead(table: String, kind: String, obs: ReadObs)(df: => DataFrame): Array[Row] = {
    val t0 = Tracer.nowMs
    val d = df
    d.queryExecution.executedPlan
    val t1 = Tracer.nowMs
    val rows = d.collect()
    obs.add(s"$kind.plan_ms", t1 - t0)
    obs.add(s"$kind.exec_ms", Tracer.nowMs - t1)
    if (obs.traced) {
      obs.add("files_read", Plans.filesRead(d).toDouble)
      obs.add("live_files", lake.liveFileCount(table).toDouble)
    }
    rows
  }

  /** Whole-run correctness check against the model. */
  def check(): Seq[String]

  /** Lake tables this workload lands into. */
  def tables: Seq[String] = lake.listTables()

  /** Payloads of one wire format among `recs`, for per-layer decode timing. */
  def payloads(recs: Array[Rec], format: String): Array[Array[Byte]] = Array.empty
}

final class JsonLane(spark: SparkSession, wh: String, seed: Long) extends Lane(spark, wh) {
  val gen = new JsonAppendGen(seed)
  val config = IngestConfig(warehouse = wh, triggerMs = Lanes.TriggerMs)
  private val committed = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]

  def seedRecords(): Array[Rec] = gen.next(1000)

  def commit(recs: Array[Rec]): Unit = recs.foreach { r =>
    if (r.version > 0) committed.getOrElseUpdate(r.topic, mutable.ArrayBuffer.empty) += r.key
  }

  /** Engine point lookups (`readWhere`) of a committed record: exactly one row. */
  def probe(i: Int, r: SplittableRandom, obs: ReadObs): Option[String] = {
    val topics = committed.keys.toIndexedSeq.sorted
    val t = topics(r.nextInt(topics.size))
    val seqs = committed(t)
    val seq = seqs(r.nextInt(seqs.size))
    val got = timedRead(t, "engine", obs)(lake.readWhere(t, col("seq") === seq).select("seq"))
    if (got.length == 1 && got(0).getAs[Number](0).longValue == seq) None
    else Some(s"$t seq $seq: ${got.length} rows")
  }

  def check(): Seq[String] = {
    val tables = gen.landed.keys.toSeq
    val rows = tables.map(t => t -> (if (lake.tableExists(t)) lake.read(t).count() else 0L)).toMap
    val cols = tables.map(t => t -> (if (lake.tableExists(t))
      lake.read(t).columns.toSet - lake.InsertedAtCol else Set.empty[String])).toMap
    val dlq = if (lake.tableExists("_dlq")) lake.read("_dlq").count() else 0L
    Check.jsonAppend(gen, rows, cols, dlq)
  }

  override def payloads(recs: Array[Rec], format: String): Array[Array[Byte]] = format match {
    case "arrow" => recs.filter(_.topic == gen.arrowTopic).map(_.value)
    case "json" => recs.filter(_.topic != gen.arrowTopic).map(_.value)
    case _ => Array.empty
  }
}

final class UpsertCurationLane(spark: SparkSession, wh: String, seed: Long) extends Lane(spark, wh) {
  val gen = new UpsertCurationGen(seed, baseKeys = 3000, baseDocs = 200)
  private val accounts = gen.accounts
  private val docs = gen.docs
  private val table = accounts.topic
  val config = IngestConfig(warehouse = wh, triggerMs = Lanes.TriggerMs,
    avroSchemas = Map(table -> accounts.schemaJson),
    pks = Map(table -> Seq("id")),
    partitions = Map(table -> Seq("bucket(8, id)")),
    autoCompact = Map(table -> CompactionConfig(minFiles = 24)),
    dedup = Map(docs.topic -> DedupConfig("doc_id", "text", threshold = docs.Threshold, shingleK = docs.ShingleK)),
    quality = Map(docs.topic -> QualityConfig("text", minChars = docs.MinChars)))
  /** Version of each account committed so far; ids are written in order,
    * so every id up to `maxId` is committed. */
  private val floor = mutable.HashMap.empty[Long, Long]
  private var maxId = -1L
  private val committedDocs = mutable.ArrayBuffer.empty[Long]

  def seedRecords(): Array[Rec] = gen.base()

  def commit(recs: Array[Rec]): Unit = recs.foreach { r =>
    if (r.topic == table) { floor(r.key) = r.version; maxId = math.max(maxId, r.key) }
    else committedDocs += r.key
  }

  def acct(r: Row): Acct = Acct(r.getAs[Long]("id"), r.getAs[Long]("version"),
    r.getAs[String]("name"), r.getAs[String]("email"), r.getAs[Double]("balance"),
    r.getAs[String]("status"), r.getAs[Int]("tier"),
    r.getAs[java.sql.Timestamp]("updated_at").getTime, r.getAs[Any]("tags") match {
      // arrays land as JSON text columns
      case s: String => UpsertCurationLane.json.readValue(s, classOf[Array[String]]).toVector
      case xs: Seq[_] => xs.map(_.toString).toVector
    })

  private val cols = Seq("id", "version", "name", "email", "balance", "status", "tier", "updated_at", "tags")

  /** The paced reader reads documents, in turn by an engine point lookup
    * (`readWhere`) and the same lookup as SQL through the `graft`
    * catalog: a committed doc is found once, with the flags of
    * [[Check.docFlags]]. The docs table is only ever appended to. A MERGE
    * into accounts retires the files it replaces by renaming them away,
    * and a read planned before the rename fails on the missing file: the
    * program gives readers no isolation from it. So accounts are read
    * after each drain flush instead ([[settledProbe]]). */
  def probe(i: Int, r: SplittableRandom, obs: ReadObs): Option[String] = {
    val d = committedDocs(r.nextInt(committedDocs.size))
    val got = (if (i % 2 == 0) timedRead(docs.topic, "engine", obs)(
      lake.readWhere(docs.topic, col("doc_id") === d).select("doc_id", "is_dup", "quality_ok"))
    else timedRead(docs.topic, "sql", obs)(
      spark.sql(s"SELECT doc_id, is_dup, quality_ok FROM graft.${docs.topic} WHERE doc_id = $d")))
      .toSeq.map(UpsertCurationLane.flags)
    Check.docFlags(d, docs.truth(d), got)
  }

  override def flushReads: Int = 4

  /** Reads of accounts, in turn: an engine point lookup (`readWhere`), the
    * same lookup as SQL through the `graft` catalog, and a SQL count over
    * the 64 ids up to the key. Keys are Zipf-like by recency. A point read
    * must return a version written for the key, no older than the one
    * committed when the read began; the count must equal the ids in range
    * (all committed, each landed once). */
  override def settledProbe(i: Int, r: SplittableRandom, obs: ReadObs): Option[String] = {
    val k = maxId - math.min(maxId, math.floor(math.pow(1.0 - r.nextDouble(), -1.0 / accounts.ZipfA)).toLong)
    def version(got: Seq[Acct]) = Check.versionRead(k, accounts.history(k), floor(k), got)
    i % 3 match {
      case 0 => version(timedRead(table, "engine", obs)(
        lake.readWhere(table, col("id") === k).select(cols.map(col): _*)).toSeq.map(acct))
      case 1 => version(timedRead(table, "sql", obs)(
        spark.sql(s"SELECT ${cols.mkString(", ")} FROM graft.$table WHERE id = $k")).toSeq.map(acct))
      case _ =>
        val lo = math.max(0L, k - 63)
        val n = timedRead(table, "sql", obs)(
          spark.sql(s"SELECT count(*) FROM graft.$table WHERE id BETWEEN $lo AND $k"))(0).getLong(0)
        if (n == k - lo + 1) None else Some(s"ids $lo..$k: count $n, want ${k - lo + 1}")
    }
  }

  def landedFlags: Seq[(Long, Long, Long)] =
    lake.read(docs.topic).select("doc_id", "is_dup", "quality_ok").collect().toSeq.map(UpsertCurationLane.flags)

  def check(): Seq[String] =
    Check.lastWins(accounts.latest, lake.read(table).select(cols.map(col): _*).collect().toSeq.map(acct)) ++
      Check.curation(docs.truth, landedFlags)

  override def payloads(recs: Array[Rec], format: String): Array[Array[Byte]] = format match {
    case "avro" => recs.filter(_.topic == table).map(_.value)
    case "json" => recs.filter(_.topic == docs.topic).map(_.value)
    case _ => Array.empty
  }
}

object UpsertCurationLane {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  /** (doc_id, is_dup, quality_ok) of a docs row. */
  def flags(r: Row): (Long, Long, Long) =
    (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)
}

/** Receives per-read measurements; `traced` asks for the costlier ones. */
trait ReadObs {
  def traced: Boolean
  def add(key: String, value: Double): Unit
}

/** Scan-level counts from an executed plan, adaptive stages included. */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Files the executed scans read: v2 scans by their planned file
    * partitions, v1 scans by their `numFiles` metric. */
  def filesRead(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).map {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect { case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString) }.flatten.distinct.size.toLong
      case other => other.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
