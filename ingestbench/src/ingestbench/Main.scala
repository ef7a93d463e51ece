package ingestbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.GraftLake
import org.apache.spark.ingestbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The ingest benchmark: one run of one workload.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --tmp <dir> --out <dir>
  * }}}
  *
  * After one set-up (session, warehouse, stream start, the seed load as
  * the stream's first trigger) the run measures a
  * closed-loop drain (fixed-size flushes through `processBatch`, back to
  * back) and an open-loop paced phase: a `MemoryStream` fed on a fixed
  * schedule through `IngestPipeline.start`, each record timed from when it
  * was due, beside one closed-loop reader whose every read is checked
  * against what was committed when it began. The last stdout line is the
  * result JSON; `--trace 1` reports per-layer metrics instead of
  * end-to-end ones and writes the span file to `--out`. */
object Main {
  /** `training`: one flush and a short paced phase — just enough to load
    * every class a run uses. */
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tmp: Path, out: Path, cores: Int, training: Boolean = false)

  val ChunkMs = 25
  /** Drain flushes per second of `--seconds` (at least three). */
  val DrainFlushesPerS = 0.3
  /** Length of the paced schedule per second of `--seconds`. */
  val PacedShare = 0.3

  def main(args: Array[String]): Unit = {
    val kv = args.indices.collect {
      case i if args(i).startsWith("--") && i + 1 < args.length && !args(i + 1).startsWith("--") =>
        args(i).drop(2) -> args(i + 1)
    }.toMap
    if (args.contains("--selftest")) { System.exit(SelfTest.run()) }
    if (args.contains("--train")) {
      // one short run in this JVM: the build records the classes it loads
      // (upsert_curation's reach most of json_append's)
      try new Run(Opts("upsert_curation", 1, 2, trace = false, Paths.get(kv("tmp")), Paths.get(kv("out")),
        Runtime.getRuntime.availableProcessors, training = true)).apply()
      catch { case e: Throwable => e.printStackTrace() }
      System.exit(0)
    }
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("tmp")), Paths.get(kv("out")),
      Runtime.getRuntime.availableProcessors)
    require(Lanes.shapes.contains(o.workload), s"unknown workload '${o.workload}'")
    val code = try new Run(o).apply() catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  def loadAvg: Double = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  def wchar: Long = scala.io.Source.fromFile("/proc/self/io").getLines()
    .collectFirst { case l if l.startsWith("wchar:") => l.split(":")(1).trim.toLong }.getOrElse(0L)

  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(o: Opts, cores: Int): SparkSession = {
    val b = graft.hadoop.FastLocalFileSystem.tune(SparkSession.builder())
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("ingestbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.tmp.resolve("spark-warehouse").toString)
    if (o.trace) FsCounts.hadoopConfs.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(p: Path): (Long, Long) = {
    // (all bytes, bytes outside parquet data files)
    if (!Files.exists(p)) return (0L, 0L)
    val w = Files.walk(p)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) { case ((a, m), f) =>
      val n = Files.size(f)
      (a + n, if (f.getFileName.toString.endsWith(".parquet")) m else m + n)
    } finally w.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f)) finally w.close()
  }
}

/** Per-flush record of the drain phase. */
final case class FlushStat(index: Int, traced: Boolean, records: Int, startMs: Double, endMs: Double,
    cpuMs: Double, written: Long, sensors: Map[String, (Long, Double)], fs: Map[String, Long], gcMs: Long,
    dlq: Long) {
  def wallMs: Double = endMs - startMs
}

final case class ReadStat(group: String, kind: String, startMs: Double, endMs: Double,
    obs: Map[String, Double], error: Option[String]) {
  def ms: Double = endMs - startMs
}

final class Run(o: Main.Opts) {
  import Main._

  private val shape = Lanes.shapes(o.workload)
  private val tracer = new Tracer
  private val jobs = new JobCollector
  private val report = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  @volatile private var spark: SparkSession = _

  private val t00 = Tracer.nowMs
  private def log(msg: String): Unit =
    System.err.println(f"[ingestbench ${(Tracer.nowMs - t00) / 1000}%6.1fs] $msg")

  /** A session sharing the run's context whose `graft` SQL catalog is the
    * warehouse `wh` (a catalog initializes once per session and name). */
  private def catalogOn(wh: String): Unit = {
    spark = spark.newSession()
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
  }

  private def fail(msg: String): Unit = synchronized { failed += 1; if (errors.size < 20) errors += msg }

  def apply(): Int = {
    Files.createDirectories(o.tmp); Files.createDirectories(o.out)
    val load0 = loadAvg
    // set-up: session start, warehouse, pipeline, stream start and the
    // seed load as the stream's first trigger, up to the first measured flush
    val t0 = Tracer.nowMs
    spark = session(o, o.cores)
    log(f"session: ${(Tracer.nowMs - t0) / 1000}%.2f s")
    val wh = o.tmp.resolve("wh")
    catalogOn(wh.toString)
    // vars: dropped before the heap is measured, which counts only what
    // the program retains
    var lane = Lanes(o.workload, spark, wh.toString, o.seed)
    var stream = new Stream(lane)
    val g0 = Tracer.nowMs
    val seed = lane.seedRecords()
    val genMs = Tracer.nowMs - g0 // the benchmark's own work, left out
    require(stream.add(seed) == 0L, "seed load is not stream offset 0")
    stream.query.processAllAvailable()
    lane.commit(seed)
    val setupS = (Tracer.nowMs - t0 - genMs) / 1000
    log(f"setup: $setupS%.2f s")

    // write and space amplification are taken over the drain's flushes:
    // their work is the same on every run of a seed, the paced phase's
    // trigger cut is not
    val payload0 = lane.gen.payloadBytes
    // a traced run drains at least five flushes: traced and untraced ones
    // alternate, and the first (cold) one stays out of the overhead ratio
    val n = math.max(3, math.round(o.seconds * DrainFlushesPerS).toInt)
    val (flushes, drainReads) = drain(lane, if (o.training) 1 else if (o.trace) math.max(5, n) else n)
    val writeAmp = flushes.map(_.written).sum.toDouble / math.max(1L, lane.gen.payloadBytes - payload0)
    val spaceAmp = dirBytes(wh)._1.toDouble / math.max(1L, lane.gen.payloadBytes)
    log(s"paced (${flushes.size} flushes drained)")
    val paced = pacedPhase(lane, stream, seed, o.seconds * 1000.0 * PacedShare)
    log(s"check (${paced.triggers.size} triggers, ${paced.reads.size} reads)")

    val mismatches = try lane.check() catch { case e: Exception => Seq(s"check failed: $e") }
    mismatches.foreach(m => errors += m)
    val dedup = lane match {
      case u: UpsertCurationLane => Check.dedupScores(u.gen.docs.truth, u.landedFlags)
      case _ => (1.0, 1.0)
    }
    val reads = drainReads ++ paced.reads
    attempted += flushes.size + paced.triggers.size + reads.size
    reads.flatMap(_.error).foreach(fail)

    // wall-clock figures move with the shared host's speed (CPU steal
    // comes and goes) further than the largest bound between runs: they
    // are reported with the per-layer metrics (and on a `#` line), not
    // bounded. Process CPU time per record excludes steal; it is taken
    // over the whole drain, as a flush's share falls while the JIT warms.
    val unbounded = Seq(
      "drain_records_per_s" -> (median(flushes.map(f => f.records / (f.wallMs / 1000))), "records/s"),
      "freshness_ms_p50" -> (pct(paced.freshness, 0.5), "ms"),
      "freshness_ms_p90" -> (pct(paced.freshness, 0.9), "ms"),
      "read_ms_p50" -> (pct(reads.map(_.ms), 0.5), "ms"),
      "read_ms_p90" -> (pct(reads.map(_.ms), 0.9), "ms"))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("drain_cpu_us_per_record") = (flushes.map(_.cpuMs).sum * 1000 / flushes.map(_.records).sum, "us")
      metrics("write_amp") = (writeAmp, "ratio")
      metrics("space_amp") = (spaceAmp, "ratio")
    } else {
      traceMetrics(lane, flushes, paced, reads, dedup, metrics)
      metrics ++= unbounded
    }
    report("samples") = Map("flushes" -> flushes.size, "triggers" -> paced.triggers.size,
      "paced_records" -> paced.freshness.size, "reads" -> reads.size)
    report("flush_ms") = flushes.map(f => math.round(f.wallMs))
    report("flush_cpu_ms") = flushes.map(f => math.round(f.cpuMs))
    report("trigger_ms") = paced.triggers.map(_.durationMs.get("triggerExecution").longValue)
    report("unbounded") = unbounded.map { case (k, (v, _)) => k -> v }.toMap
    report("ops_failed_ratio") = s"${failed + (if (mismatches.nonEmpty) 1 else 0)}/$attempted"
    report("dedup_recall_precision") = dedup
    lane = null; stream = null
    val heapMb = {
      System.gc(); Thread.sleep(100); System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    if (!o.trace) metrics("retained_heap_mb") = (heapMb, "MB")
    report("host") = Map("nproc" -> Runtime.getRuntime.availableProcessors, "cores_used" -> o.cores,
      "load1_start" -> load0, "load1_end" -> loadAvg,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark" -> spark.version,
      "commit" -> sys.props.getOrElse("ingestbench.commit", "unknown"),
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace)
    if (o.trace) {
      val f = o.out.resolve(s"spans-${o.workload}-s${o.seed}.jsonl")
      tracer.write(f)
      report("span_file") = f.toString
      report("self_ms_by_layer") = tracer.selfMsByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> f"$v%.1f" }
    }
    spark.stop()
    deleteTree(o.tmp)
    val correct = mismatches.isEmpty && failed == 0
    if (mismatches.nonEmpty) failed += 1
    report.foreach { case (k, v) => println(s"# $k: ${Json.write(v)}") }
    errors.foreach(e => println(s"# error: ${Json.write(e)}"))
    println(Json.write(mutable.LinkedHashMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    0
  }

  /** Closed loop: one caller, `n` fixed-size flushes back to back, each
    * frame built before its flush's clock starts, and after each the
    * lane's `flushReads` checked reads. Traced runs alternate traced and
    * untraced flushes (the listener is attached only for traced ones) to
    * measure the tracing overhead; their reads are always traced. */
  private def drain(lane: Lane, n: Int): (Seq[FlushStat], Seq[ReadStat]) = {
    val out = mutable.ArrayBuffer.empty[FlushStat]
    val reads = mutable.ArrayBuffer.empty[ReadStat]
    val r = new SplittableRandom(o.seed ^ 0x5DEECE66DL)
    while (out.size < n) {
      val recs = lane.gen.next(shape.flushSize)
      val df = lane.frame(recs)
      val traced = o.trace && out.size % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(jobs)
      val s0 = Sensors.totals; val fs0 = FsCounts.snapshot; val gc0 = Sensors.gcMs
      val dlq0 = graft.metrics.GraftMetrics.dlqRecords.sum()
      spark.sparkContext.setJobGroup(s"flush-${out.size}", "drain flush")
      val w0 = wchar
      val cpu0 = Sensors.cpuMs
      val a = Tracer.nowMs
      try { lane.flush(df); lane.commit(recs) } catch { case e: Exception => fail(s"flush ${out.size}: $e") }
      val b = Tracer.nowMs
      val cpu = Sensors.cpuMs - cpu0
      val written = wchar - w0
      spark.sparkContext.clearJobGroup()
      val fs1 = FsCounts.snapshot
      out += FlushStat(out.size, traced, recs.length, a, b, cpu, written, Sensors.delta(s0, Sensors.totals),
        fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }, Sensors.gcMs - gc0,
        graft.metrics.GraftMetrics.dlqRecords.sum() - dlq0)
      if (o.trace && !traced && lane.flushReads > 0) {
        BusDrain(spark.sparkContext); spark.sparkContext.addSparkListener(jobs)
      }
      (0 until lane.flushReads).foreach { _ =>
        val i = reads.size
        reads += read(s"read-d$i")(lane.settledProbe(i, r, _))
      }
      if (traced || (o.trace && lane.flushReads > 0)) {
        BusDrain(spark.sparkContext); spark.sparkContext.removeSparkListener(jobs)
      }
      if (o.trace && out.size == 1) lastFrame = recs
    }
    (out.toSeq, reads.toSeq)
  }

  /** One checked read, under its own job group. */
  private def read(group: String)(probe: ReadObs => Option[String]): ReadStat = {
    spark.sparkContext.setJobGroup(group, "read")
    val obs = newObs()
    val a = Tracer.nowMs
    val err = try probe(obs) catch { case e: Exception => Some(s"$group: $e") }
    val b = Tracer.nowMs
    spark.sparkContext.clearJobGroup()
    ReadStat(group, if (obs.m.contains("sql.plan_ms")) "sql" else "engine", a, b, obs.values, err)
  }
  private var lastFrame: Array[Rec] = Array.empty

  final case class Paced(freshness: Seq[Double], triggers: Seq[StreamingQueryProgress],
      lateMs: Seq[Double], backlogMax: Long, reads: Seq[ReadStat])

  /** The paced phase's stream: a `MemoryStream` of the Kafka shape through
    * `IngestPipeline.start`, started in the set-up, whose first trigger
    * lands the seed load (stream offset 0) and pays query start. */
  private final class Stream(lane: Lane) {
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val ss = spark; import ss.implicits._
    // as many input partitions as a drain frame has, however many chunks
    // a trigger spans (one partition per appended chunk otherwise)
    private val mem = MemoryStream[(String, Int, Long, Array[Byte])](spark.sparkContext.defaultParallelism)
    val progress = new ProgressCollector
    spark.streams.addListener(progress)
    val query = lane.pipeline.start(mem.toDF().toDF("topic", "partition", "offset", "value"),
      o.tmp.resolve("ckpt").toString)
    /** Appends `recs`; returns their stream offset. */
    def add(recs: Array[Rec]): Long =
      mem.addData(recs.toSeq.map(x => (x.topic, x.partition, x.offset, x.value))).json.toLong
  }

  /** Open loop: a generator thread appends a chunk every `ChunkMs` at the
    * workload's rate whether or not the stream keeps up, for `budgetMs`;
    * each record's freshness runs from when its chunk was due to the end
    * of the trigger that committed it. Beside it one reader reads in a
    * closed loop until the stream has drained. */
  private def pacedPhase(lane: Lane, stream: Stream, seed: Array[Rec], budgetMs: Double): Paced = {
    val perChunk = shape.pacedRate * ChunkMs / 1000.0
    // records are generated before the clock starts, in the order they are
    // sent (the model assumes it): the generator thread only appends, so
    // its lateness reflects the schedule, not generation. Stream offset j
    // is the j-th non-empty chunk (0 is the seed load)
    val chunks = (0 until (budgetMs / ChunkMs).toInt).map { j =>
      (j, lane.gen.next((math.floor((j + 1) * perChunk) - math.floor(j * perChunk)).toInt))
    }.filter(_._2.nonEmpty)
    val byOffset = (seed +: chunks.map(_._2)).toIndexedSeq
    val dueMs = new Array[Double](byOffset.size)
    val sentMs = new Array[Double](byOffset.size)
    val progress = stream.progress
    if (o.trace) spark.sparkContext.addSparkListener(jobs)
    val late = mutable.ArrayBuffer.empty[Double]
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[ReadStat]()
    @volatile var readOn = true
    val reader = new Thread(() => {
      val r = new SplittableRandom(o.seed ^ 0x2545F4914F6CDD1DL)
      var applied = 0L // the seed load is committed
      var i = 0
      while (readOn) {
        val c = progress.committed.get
        while (applied < c) { applied += 1; lane.commit(byOffset(applied.toInt)) }
        val j = i
        reads.add(read(s"read-$j")(lane.probe(j, r, _)))
        i += 1
      }
    }, "ingestbench-reader")
    try {
      reader.start()
      val start = Tracer.nowMs + 50
      val genThread = new Thread(() => {
        chunks.zipWithIndex.foreach { case ((j, recs), i) =>
          val due = start + j * ChunkMs
          val wait = due - Tracer.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val sent = Tracer.nowMs
          val off = stream.add(recs)
          require(off == i + 1, s"chunk $i landed at stream offset $off")
          dueMs(i + 1) = due; sentMs(i + 1) = sent
          late += sent - due
        }
      }, "ingestbench-generator")
      genThread.start(); genThread.join()
      stream.query.processAllAvailable()
    } finally {
      readOn = false
      if (reader.isAlive) reader.join()
      stream.query.stop()
    }
    BusDrain(spark.sparkContext)
    spark.streams.removeListener(progress)
    if (o.trace) spark.sparkContext.removeSparkListener(jobs)
    // the set-up's trigger (end offset 0) is left out
    val triggers = progress.progress.asScala.toSeq.sortBy(_.batchId).filter(_.sources.head.endOffset.toLong > 0)
    val fresh = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0L
    var done = 0L
    triggers.foreach { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val endMs = startMs + p.durationMs.get("triggerExecution").longValue
      val from = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L)
      val to = p.sources.head.endOffset.toLong
      val backlog = (1 until byOffset.size).filter(i => sentMs(i) <= startMs).map(byOffset(_).length.toLong).sum - done
      backlogMax = math.max(backlogMax, backlog)
      (math.max(1L, from + 1) to to).foreach { off =>
        fresh ++= Iterator.fill(byOffset(off.toInt).length)(endMs - dueMs(off.toInt))
        done += byOffset(off.toInt).length
      }
      if (o.trace) tracer.add(-1, "trigger", "stream", s"trigger-${p.batchId}", startMs, endMs)
    }
    Paced(fresh.toSeq, triggers, late.toSeq, backlogMax, reads.asScala.toSeq)
  }

  private final class Obs extends ReadObs {
    val traced: Boolean = o.trace
    val m = mutable.HashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = v
    def values: Map[String, Double] = m.toMap
  }
  private def newObs() = new Obs

  private def traceMetrics(lane: Lane, flushes: Seq[FlushStat], paced: Paced, readList: Seq[ReadStat],
      dedup: (Double, Double), m: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val traced = flushes.filter(_.traced)
    val n = math.max(1, flushes.size).toDouble
    val nt = math.max(1, traced.size).toDouble
    def sensorMs(k: String) = flushes.map(_.sensors.getOrElse(k, (0L, 0.0))._2).sum
    def sensorN(k: String) = flushes.map(_.sensors.getOrElse(k, (0L, 0.0))._1).sum
    import graft.metrics.GraftMetrics._
    val catalogMs = Seq(SimpleInsert, UpsertWithMergeInto, CreateTable, EvolveSchema, AutoCompact).map(sensorMs).sum
    val operatorsMs = Seq(IngestDedup, IngestQuality).map(sensorMs).sum

    // spans: flushes with their Spark jobs, reads with theirs
    val flushJobs = traced.map { f =>
      val id = tracer.add(-1, "flush", "ingest", s"flush-${f.index}", f.startMs, f.endMs)
      val js = jobs.jobsIn(f.startMs, f.endMs, g => g == null || !g.startsWith("read-"))
      js.foreach(j => tracer.add(id, s"job-${j.id}", "spark", s"flush-${f.index}", j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs))
      tracer.counters.add(s"flush-${f.index}" -> (f.sensors.map { case (k, (c, ms)) => s"sensor.$k.ms" -> ms } ++
        f.fs.map { case (k, v) => s"fs.$k" -> v.toDouble }))
      f -> js
    }
    readList.foreach { r =>
      val id = tracer.add(-1, "read", if (r.kind == "sql") "plans" else "catalog", r.group, r.startMs, r.endMs)
      jobs.jobs.values.asScala.filter(_.group == r.group).foreach(j =>
        tracer.add(id, s"job-${j.id}", "spark", r.group, j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs))
    }
    paced.triggers.foreach { p =>
      jobs.jobs.values.asScala.filter(_.streamBatch == p.batchId.toString).foreach { j =>
        tracer.add(-1, s"job-${j.id}", "spark", s"trigger-${p.batchId}", j.startMs,
          if (j.endMs.isNaN) j.startMs else j.endMs)
      }
    }
    val allJobs = flushJobs.flatMap(_._2)
    def stageAgg(f: jobs.TaskAgg => Double) =
      allJobs.flatMap(_.stages).distinct.flatMap(s => Option(jobs.stageTasks.get(s))).map(f).sum

    // decode / inference micro-timings on the workload's own payloads
    def nsPer(name: String, xs: Array[Array[Byte]])(f: Array[Byte] => Any): Double = if (xs.isEmpty) 0.0 else {
      xs.foreach(f) // warm
      var reps = 0; val a = Tracer.nowMs; val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200e6) { xs.foreach(f); reps += 1 }
      val ns = (System.nanoTime() - t0).toDouble / (reps.toLong * xs.length)
      tracer.add(-1, name, name.takeWhile(_ != '.'), "micro", a, Tracer.nowMs)
      ns
    }
    val sample = lastFrame
    val arrowNs = nsPer("ingest.arrow_decode", lane.payloads(sample, "arrow"))(b => graft.ingest.ArrowIpc.decode(b))
    val avroNs = lane match {
      case u: UpsertCurationLane =>
        val json = u.gen.accounts.schemaJson
        val sch = graft.ingest.AvroDecode.toSparkType(graft.ingest.AvroDecode.readerSchema(json))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val dec = new graft.ingest.AvroRowDecoder(json, sch)
        nsPer("ingest.avro_decode", lane.payloads(sample, "avro"))(dec.decode)
      case _ => 0.0
    }
    val jsonPayloads = lane.payloads(sample, "json").map(new String(_, "UTF-8"))
    val inferNs = nsPer("schema.infer", jsonPayloads.map(_.getBytes("UTF-8")))(b =>
      graft.schema.SchemaInference.inferFromJson(new String(b, "UTF-8")))
    val drift = jsonPayloads.flatMap(graft.schema.SchemaInference.inferFromJson).distinct.toSeq
    val unifyUs = if (drift.size < 2) 0.0 else {
      val calls = drift.grouped(2).filter(_.size == 2).toSeq
      val ok = calls.filter(c => scala.util.Try(graft.schema.SchemaUnify.unify(c)).isSuccess)
      if (ok.isEmpty) 0.0 else {
        var reps = 0; val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 100e6) { ok.foreach(graft.schema.SchemaUnify.unify); reps += 1 }
        (System.nanoTime() - t0) / 1e3 / (reps.toLong * ok.size)
      }
    }

    val flushRecs = flushes.map(_.records).sum.toDouble
    val tables = lane.tables.filterNot(_.startsWith("_"))
    val readsWithFiles = readList.filter(_.obs.contains("files_read"))
    val engineReads = readList.filter(_.obs.contains("engine.plan_ms"))
    val sqlReads = readList.filter(_.obs.contains("sql.plan_ms"))
    val jobsPerRead = readList.map(r => jobs.jobs.values.asScala.count(_.group == r.group).toDouble)
    val walls = flushes.map(_.wallMs)
    def fsPer(k: String) = traced.map(_.fs.getOrElse(k, 0L)).sum / nt
    def dur(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

    m("ingest.flush_ms") = (median(walls), "ms")
    m("ingest.decode_self_ms_per_flush") = ((walls.sum - catalogMs - operatorsMs) / n, "ms")
    m("ingest.records_per_flush") = (flushRecs / n, "count")
    m("ingest.dlq_ratio") = (flushes.map(_.dlq).sum / math.max(1.0, flushRecs), "ratio")
    m("ingest.arrow_decode_ns_per_record") = (arrowNs, "ns")
    m("ingest.avro_decode_ns_per_record") = (avroNs, "ns")
    m("schema.infer_ns_per_record") = (inferNs, "ns")
    m("schema.unify_us_per_call") = (unifyUs, "us")
    m("catalog.evolve_count") = (sensorN(EvolveSchema).toDouble, "count")
    m("catalog.evolve_ms") = (sensorMs(EvolveSchema), "ms")
    m("catalog.insert_ms_per_flush") = (sensorMs(SimpleInsert) / n, "ms")
    m("catalog.merge_ms_per_flush") = (sensorMs(UpsertWithMergeInto) / n, "ms")
    m("catalog.commit_ms_per_flush") = (sensorMs(CommitVersion) / n, "ms")
    m("catalog.stats_ms_per_flush") = (sensorMs(CollectStats) / n, "ms")
    m("catalog.compact_count") = (sensorN(AutoCompact).toDouble, "count")
    m("catalog.compact_ms") = (sensorMs(AutoCompact), "ms")
    m("catalog.files_added_per_flush") = (fsPer("parquet_create"), "count")
    m("catalog.live_files_end") = (tables.map(t => lane.lake.liveFileCount(t)).sum.toDouble, "count")
    m("catalog.dv_files_end") = (tables.map(t => lane.lake.liveDvs(t).size).sum.toDouble, "count")
    m("catalog.log_bytes_end") = (dirBytes(Paths.get(lane.wh))._2.toDouble, "bytes")
    m("catalog.read_plan_ms") = (median(engineReads.map(_.obs("engine.plan_ms"))), "ms")
    m("catalog.read_exec_ms") = (median(engineReads.map(_.obs("engine.exec_ms"))), "ms")
    m("plans.sql_plan_ms") = (median(sqlReads.map(_.obs("sql.plan_ms"))), "ms")
    m("plans.files_read_per_read") = (readsWithFiles.map(_.obs("files_read")).sum / math.max(1, readsWithFiles.size), "count")
    m("plans.files_pruned_ratio") = (if (readsWithFiles.isEmpty) 0.0 else
      1.0 - readsWithFiles.map(_.obs("files_read")).sum / math.max(1.0, readsWithFiles.map(_.obs("live_files")).sum), "ratio")
    m("operators.ingest_dedup_ms_per_flush") = (sensorMs(IngestDedup) / n, "ms")
    m("operators.dedup_probe_ms_per_flush") = (sensorMs(DedupProbe) / n, "ms")
    m("operators.dedup_admit_ms_per_flush") = (sensorMs(DedupAdmit) / n, "ms")
    m("operators.quality_ms_per_flush") = (sensorMs(IngestQuality) / n, "ms")
    m("operators.dedup_recall") = (dedup._1, "ratio")
    m("operators.dedup_precision") = (dedup._2, "ratio")
    m("stream.trigger_ms") = (median(paced.triggers.map(dur(_, "triggerExecution"))), "ms")
    m("stream.add_batch_ms") = (median(paced.triggers.map(dur(_, "addBatch"))), "ms")
    m("stream.wal_ms") = (median(paced.triggers.map(dur(_, "walCommit"))), "ms")
    m("stream.planning_ms") = (median(paced.triggers.map(dur(_, "queryPlanning"))), "ms")
    m("stream.records_per_trigger") = (median(paced.triggers.map(_.numInputRows.toDouble)), "count")
    m("stream.backlog_records_max") = (paced.backlogMax.toDouble, "count")
    m("spark.jobs_per_flush") = (allJobs.size / nt, "count")
    m("spark.stages_per_flush") = (allJobs.flatMap(_.stages).distinct.count(jobs.stageTasks.containsKey) / nt, "count")
    m("spark.tasks_per_flush") = (stageAgg(_.tasks.toDouble) / nt, "count")
    m("spark.driver_gap_ms_per_flush") = (flushJobs.map { case (f, js) =>
      f.wallMs - Tracer.unionMs(js.map(j => (math.max(j.startMs, f.startMs),
        math.min(if (j.endMs.isNaN) f.endMs else j.endMs, f.endMs))))
    }.sum / nt, "ms")
    m("spark.jobs_per_read") = (if (jobsPerRead.isEmpty) 0.0 else jobsPerRead.sum / jobsPerRead.size, "count")
    m("spark.executor_busy_ms_per_flush") = (stageAgg(_.runMs) / nt, "ms")
    m("spark.shuffle_bytes_per_flush") = (stageAgg(_.shuffleBytes.toDouble) / nt, "bytes")
    m("spark.spill_bytes_per_flush") = (stageAgg(_.spillBytes.toDouble) / nt, "bytes")
    m("fs.create_ops_per_flush") = (fsPer("create"), "count")
    m("fs.rename_ops_per_flush") = (fsPer("rename"), "count")
    m("fs.mkdirs_ops_per_flush") = (fsPer("mkdirs"), "count")
    m("fs.list_ops_per_flush") = (fsPer("list"), "count")
    m("fs.bytes_written_per_flush") = (fsPer("bytes_written"), "bytes")
    m("fs.bytes_read_per_flush") = (fsPer("bytes_read"), "bytes")
    m("jvm.gc_ms_per_flush") = (flushes.map(_.gcMs).sum / n, "ms")
    m("bench.gen_late_ms_p99") = (pct(paced.lateMs, 0.99), "ms")
    m("bench.trace_overhead_ratio") = (median(traced.drop(1).map(_.wallMs)) /
      math.max(1e-9, median(flushes.filterNot(_.traced).map(_.wallMs))), "ratio")
    m("spark.parallel_speedup") = (parallelSpeedup(flushes), "ratio")
  }

  /** Drain of the same first flushes on `local[1]`, against their walls on
    * `local[cores]`. Stops the run's session, so it goes last. */
  private def parallelSpeedup(flushes: Seq[FlushStat]): Double = {
    val k = math.min(3, flushes.size)
    if (k == 0 || o.cores <= 1) return 1.0
    spark.stop()
    GraftLake.invalidateCaches()
    spark = session(o, 1)
    val l = Lanes(o.workload, spark, o.tmp.resolve("wh-local1").toString, o.seed)
    l.flush(l.frame(l.seedRecords()))
    val walls = (0 until k).map { _ =>
      val df = l.frame(l.gen.next(shape.flushSize))
      val a = Tracer.nowMs; l.flush(df); Tracer.nowMs - a
    }
    walls.sum / flushes.take(k).map(_.wallMs).sum
  }
}

/** JSON for the report and result lines. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
