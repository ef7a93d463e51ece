package graft.perf

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{GraftSession, PerfHarness, SparkEntry, Tables}
import graft.catalog.GraftLake
import graft.metrics.GraftMetrics
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CodegenCompiles, JobTimeline}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Dev entry point: one subcommand per measurement, all on one local
  * session ([[GraftSession.localBuilder]] with AQE on). For before/after
  * captures from one binary, `SPARK_GRAFT_CONF="k=v;k=v"` overlays session
  * confs; only this tool reads it.
  *
  * {{{
  * runMain graft.perf.Perf run <query> <sf-dir> [parquet-out]
  * runMain graft.perf.Perf time <query> <sf-dir> [iters]
  * runMain graft.perf.Perf ab <query> <sf-dir> <iters> <conf-key> <value-a> <value-b>
  * runMain graft.perf.Perf profile <query> <sf-dir>
  * runMain graft.perf.Perf plans <sf-dir> <out-dir> <tag> <query,query,...>
  * runMain graft.perf.Perf flush <sf-dir> [buckets]
  * runMain graft.perf.Perf dedupscale <rows> <driver|broadcast|shuffle>
  * runMain graft.perf.Perf landing <rows,rows,...> [reps]
  * runMain graft.perf.Perf floor
  * runMain graft.perf.Perf fsfloor
  * runMain graft.perf.Perf harness
  * }}}
  */
object Perf {
  private type Command = (SparkSession, IndexedSeq[String]) => Unit

  private val commands: Map[String, Command] = Map(
    "run" -> run _, "time" -> time _, "ab" -> ab _, "profile" -> profile _,
    "plans" -> plans _, "flush" -> flush _, "dedupscale" -> dedupscale _,
    "landing" -> landing _,
    "floor" -> floor _,
    "fsfloor" -> fsfloor _, "harness" -> harness _)

  def main(args: Array[String]): Unit = {
    val command = args.headOption.flatMap(commands.get).getOrElse {
      System.err.println(
        s"usage: graft.perf.Perf <${commands.keys.toSeq.sorted.mkString("|")}> [args]")
      sys.exit(2)
    }
    val builder = GraftSession.localBuilder().config("spark.sql.adaptive.enabled", "true")
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';')).filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try command(spark, args.toIndexedSeq.tail) finally spark.stop()
  }

  /** One query, shown, optionally dumped as parquet for an external oracle
    * diff. */
  private def run(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val df = SparkEntry.queries(args(0))(spark, args(1))
    df.show(100, truncate = false)
    df.printSchema()
    args.lift(2).foreach(df.coalesce(1).write.mode("overwrite").parquet)
  }

  /** The loop `time`, `ab` and `profile` share. The query runs once per
    * variant untimed, so JVM start, codegen and class loading stay out of
    * the samples; then `iters` rounds over the variants, interleaved so
    * that host drift cancels out of an A/B. `measure` wraps each timed
    * run; `report` gets the round, variant, row count, seconds and the
    * classes Janino compiled during the run. */
  private def timedRuns(spark: SparkSession, query: String, sfDir: String, iters: Int,
      variants: Seq[String] = Seq(""), setVariant: String => Unit = _ => (),
      measure: (() => Long) => Long = _())(
      report: (Int, String, Long, Double, CodegenCompiles.Compiles) => Unit): Unit = {
    val run = () => SparkEntry.queries(query)(spark, sfDir).count()
    variants.foreach { v => setVariant(v); run() }
    for (i <- 0 until iters; v <- variants) {
      setVariant(v)
      val t0 = System.nanoTime()
      val (rows, compiles) = CodegenCompiles.during(measure(run))
      report(i, v, rows, (System.nanoTime() - t0) / 1e9, compiles)
    }
  }

  private def compiled(c: CodegenCompiles.Compiles): String =
    f"compiles=${c.count} (${c.ms}%.0f ms)"

  /** Plan and execution cost of one query, without sbt and JVM startup. */
  private def time(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    var total = CodegenCompiles.Compiles(0, 0)
    timedRuns(spark, args(0), args(1), args.lift(2).fold(3)(_.toInt)) { (i, _, rows, s, c) =>
      println(f"[timeone] iter=$i ${args(0)}%s rows=$rows time=$s%.3f s ${compiled(c)}")
      total += c
    }
    println(s"[timeone] timed runs ${compiled(total)}")
  }

  /** A/B of one session conf on one query inside one JVM. Single samples
    * across JVMs swing about ±30 % with the neighbours on a shared host,
    * wider than most optimization deltas. */
  private def ab(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val Seq(query, sfDir, iters, key, a, b) = args.take(6)
    val times = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val compiles = mutable.Map[String, CodegenCompiles.Compiles]()
      .withDefaultValue(CodegenCompiles.Compiles(0, 0))
    timedRuns(spark, query, sfDir, iters.toInt, Seq(a, b), spark.conf.set(key, _)) {
      (i, v, rows, s, c) =>
        println(f"[ab] iter=$i $key=$v%-12s rows=$rows time=$s%.3f s ${compiled(c)}")
        times(v) = s :: times(v)
        compiles(v) += c
    }
    Seq(a, b).foreach { v =>
      val ts = times(v).sorted
      println(f"[ab] SUMMARY $key=$v%-12s min=${ts.head}%.3f " +
        f"median=${ts(ts.size / 2)}%.3f n=${ts.size} ${compiled(compiles(v))}")
    }
  }

  /** Samples every live thread's stack every 5 ms while `body` runs and
    * counts the key `classify` gives each thread's frames. Each sweep is a
    * full-VM thread dump at a safepoint, which slows what it profiles. The
    * sampler is joined, without a timeout, before the counts are read.
    * Returns the result, the counts and the number of sweeps. */
  private def sampled[T, K](classify: (Thread, Array[String]) => Option[K])(
      body: => T): (T, Map[K, Int], Int) = {
    val counts = mutable.HashMap.empty[K, Int]
    var sweeps = 0
    @volatile var sampling = true
    val sampler = new Thread(() =>
      while (sampling) {
        sweeps += 1
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t ne Thread.currentThread)
            classify(t, st.map(_.toString)).foreach(k => counts(k) = counts.getOrElse(k, 0) + 1)
        }
        Thread.sleep(5)
      }, "graft-perf-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val result = try body finally { sampling = false; sampler.join() }
    (result, counts.toMap, sweeps)
  }

  /** `Class.method` of a stack frame. */
  private def frameName(f: String): String =
    f.takeWhile(_ != '(').split('.').takeRight(2).mkString(".")

  /** What an executor task thread is doing: its first recognizable frame,
    * which is where the cores burn during a driver-side "job-wait". */
  private def taskActivity(fs: Array[String]): String = fs.collectFirst {
    case f if f.contains("parquet.hadoop") || f.contains("ParquetFileWriter")
      || f.contains("ParquetOutput") => "parquet-write"
    case f if f.contains("ParquetFileFormat") || f.contains("VectorizedParquet")
      || f.contains("ParquetReader") => "parquet-read"
    case f if f.contains("CodeGenerator") || f.contains("janino")
      || f.contains("ClassBodyEvaluator") => "codegen-compile"
    case f if f.contains("ShuffleBlockFetcher") || f.contains("ShuffleWriter")
      || f.contains("ShuffleExternalSorter") || f.contains("UnsafeShuffleWriter") => "shuffle"
    case f if f.contains("JacksonParser") || f.contains("jackson") => "json-parse"
    case f if f.contains("graft.") => f.takeWhile(_ != '(').split('/').last
    case f if f.contains("GeneratedClass") || f.contains("codegen") => "codegen-run"
    case f if f.contains("TaskMemoryManager") || f.contains("getPage") => "mem-mgmt"
    case f if f.contains("FileOutputStream") || f.contains("FileInputStream")
      || f.contains("RawLocalFileSystem") => "task-fs-io"
  }.getOrElse(frameName(fs(0)))

  /** What a driver thread does above its nearest engine frame at `gi`. */
  private def driverActivity(fs: Array[String], gi: Int): String = fs.take(gi).collectFirst {
    case f if f.contains("RuleExecutor") || f.contains("Analyzer")
      || f.contains("Optimizer") => "plan/analyze"
    case f if f.contains("awaitResult") || f.contains("executeCollect")
      || f.contains("runJob") => "job-wait"
    case f if f.contains("ParquetFooterReader") || f.contains("readFooter") => "footer-read"
    case f if f.contains("RawLocalFileSystem") || f.contains("FileUtil")
      || f.contains("listStatus") || f.contains("rename")
      || f.contains("FileOutputStream") || f.contains("FileInputStream") => "fs-io"
    case f if f.contains("QueryPlan") || f.contains("TreeNode") => "plan-transform"
    case f if f.contains("InMemoryFileIndex") || f.contains("DataSource") => "file-index"
  }.getOrElse(if (gi == 0) "self" else frameName(fs(0)))

  /** Catalyst work with no engine frame on the stack: AQE re-planning
    * threads and the final action's own planning. */
  private def catalystActivity(fs: Array[String]): String =
    if (fs.exists(_.contains("AdaptiveSparkPlanExec"))) "aqe"
    else if (fs.exists(f => f.contains("CodeGenerator") || f.contains("janino"))) "codegen-compile"
    else if (fs.exists(f => f.contains("RuleExecutor") || f.contains("Analyzer") ||
      f.contains("Optimizer"))) "plan/analyze"
    else if (fs.exists(_.contains("awaitResult"))) "job-wait"
    else "other"

  /** A profile sample: an executor task's activity (Left), or a driver
    * thread's nearest engine frame and what it is doing (Right). */
  private def profileKey(t: Thread, fs: Array[String]): Option[Either[String, (String, String)]] = {
    val tn = t.getName
    // a pooled task thread keeps its name while it idles in the pool
    if (tn.startsWith("Executor task launch"))
      Option.when(fs.nonEmpty && !fs.exists(_.contains("ThreadPoolExecutor.getTask")))(
        Left(taskActivity(fs)))
    else if (tn.startsWith("shuffle-") || tn.startsWith("netty")) None
    else {
      val gi = fs.indexWhere(JobTimeline.isEngineFrame)
      if (gi >= 0) Some(Right((fs(gi).takeWhile(_ != '('), driverActivity(fs, gi))))
      else Option.when(fs.exists(f => f.contains("catalyst") || f.contains("spark.sql.execution")))(
        Right((s"<no-graft-frame: ${tn.take(28)}>", catalystActivity(fs))))
    }
  }

  /** CPU ms of the process (`None` key) and of each live thread (keyed by
    * id), each with its `comm` name (15 characters at most). */
  private type ThreadCpu = Map[Option[String], (String, Long)]

  /** The [[ThreadCpu]] of this process now, from `/proc/self`; None where
    * `/proc/self/task` is absent. A clock tick is taken as 10 ms
    * (USER_HZ = 100, the Linux default). */
  private def threadCpuMs(): Option[ThreadCpu] = {
    def cpuMs(dir: java.nio.file.Path): Option[(String, Long)] =
      try {
        val stat = new String(Files.readAllBytes(dir.resolve("stat")), StandardCharsets.UTF_8)
        val comm = new String(Files.readAllBytes(dir.resolve("comm")), StandardCharsets.UTF_8).trim
        // the fields after "(comm) ": utime and stime are fields 14 and 15
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some((comm, (f(11).toLong + f(12).toLong) * 10L))
      } catch { case _: java.io.IOException => None } // the thread exited
    Option(new java.io.File("/proc/self/task").listFiles()).map { tasks =>
      (tasks.toSeq.flatMap(t => cpuMs(t.toPath).map(Some(t.getName) -> _)) ++
        cpuMs(Paths.get("/proc/self")).map(None -> _)).toMap
    }
  }

  /** Bytes this process has passed to write calls (`wchar` of
    * `/proc/self/io`: files, shuffle and spill alike, page cache or not);
    * None where the file is absent. */
  private def processWchar(): Option[Long] =
    try {
      val io = new String(Files.readAllBytes(Paths.get("/proc/self/io")), StandardCharsets.UTF_8)
      io.linesIterator.collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }
    } catch { case _: java.io.IOException => None }

  /** The class of a thread by its `comm` name: JIT compilers, GC, executor
    * tasks, engine task forks, the driver, this tool's sampler, the rest. */
  private def threadClass(comm: String): String = comm match {
    case c if c.startsWith("C2 CompilerThre") => "jit-c2"
    case c if c.startsWith("C1 CompilerThre") => "jit-c1"
    case c if c.startsWith("GC Thread") || c.startsWith("G1 ") => "gc"
    case c if c.startsWith("Executor task") => "executor-task"
    case c if c.startsWith("graft-task") => "graft-task"
    // the launcher runs `main` on a thread that keeps the process's name
    case "java" | "main" => "driver-main"
    case c if c.startsWith("graft-perf-samp") => "sampler"
    case _ => "other"
  }

  /** Every Spark job one warm query run submits, with its call site and
    * timing, the engine op-sensor totals, the process CPU per thread
    * class, and driver and executor stack-sample histograms. A
    * micro-batch's cost at constant data volume is mostly its job count
    * times the scheduling latency; the histograms show where the gaps
    * between jobs go, and the thread classes how much of the CPU is JIT
    * warm-up. */
  private def profile(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val query = args(0)
    var t0 = 0L
    var jobs = Seq.empty[JobTimeline.Job]
    var samples = Map.empty[Either[String, (String, String)], Int]
    var sweeps = 0
    var cpu: Option[(ThreadCpu, ThreadCpu)] = None
    var wchar: Option[Long] = None
    timedRuns(spark, query, args(1), iters = 1, measure = run => {
      GraftMetrics.reset()
      t0 = System.currentTimeMillis()
      val cpu0 = threadCpuMs()
      val wchar0 = processWchar()
      val ((rows, counts, n), js) =
        JobTimeline.record(spark.sparkContext)(sampled(profileKey)(run()))
      cpu = cpu0.zip(threadCpuMs())
      wchar = wchar0.zip(processWchar()).map { case (a, b) => b - a }
      jobs = js; samples = counts; sweeps = n
      rows
    }) { (_, _, rows, s, c) =>
      println(f"[profile] $query%s rows=$rows time=$s%.3f s jobs=${jobs.size} ${compiled(c)}")
    }
    jobs.foreach { j =>
      // at = start offset: the space BETWEEN one job's end and the next
      // job's start is driver-side work (planning, commit I/O)
      println(f"[profile]   job=${j.id}%-4d stages=${j.stages}%-3d " +
        f"${j.durationMs.fold("?")(_.toString)}%-6s ms at=${j.startMs - t0}%-7d " +
        f"shuffle=${j.shuffleWriteBytes}%-8d out=${j.outputBytes}%-8d " +
        s"tasks=${j.tasks.mkString("+")} ${j.site.take(90)}")
    }
    GraftMetrics.totalsMs().toSeq.sortBy(-_._2._2).foreach {
      case (op, (c, ms)) => println(f"[profile]   op=$op%-28s n=$c%-4d $ms%.0f ms")
    }
    // a shuffle byte shows about twice in wchar: the map side writes it to
    // a per-reducer file, then copies it into its data file
    println(s"[profile] process write bytes: wchar ${wchar.fold("n/a")(b => s"$b B")}, " +
      s"task output ${jobs.map(_.outputBytes).sum} B, " +
      s"shuffle write ${jobs.map(_.shuffleWriteBytes).sum} B")
    cpu match {
      case None => println("[profile] process CPU by thread class: n/a (no /proc/self/task)")
      case Some((before, after)) =>
        def ms(m: ThreadCpu, k: Option[String]) = m.get(k).fold(0L)(_._2)
        val total = ms(after, None) - ms(before, None)
        val live = after.toSeq.collect { case (k @ Some(_), (comm, v)) =>
          threadClass(comm) -> (v - ms(before, k)) }
        val classes = live.groupMapReduce(_._1)(_._2)(_ + _) +
          ("exited-threads" -> (total - live.map(_._2).sum))
        println(s"[profile] process CPU by thread class: $total ms")
        classes.toSeq.sortBy(-_._2).foreach { case (c, v) =>
          println(f"[profile]   $c%-15s $v%7d ms ${v * 100.0 / total.max(1)}%5.1f%%")
        }
    }
    val driver = samples.collect { case (Right(k), c) => k -> c }
    val total = driver.values.sum.max(1)
    println(s"[profile] driver-sample histogram ($total samples over $sweeps " +
      "sweeps, one every 5 ms; each sweep is a full-VM thread dump at a " +
      "safepoint, which slows the timings it profiles):")
    driver.toSeq.sortBy(-_._2).take(30).foreach { case ((frame, doing), c) =>
      println(f"[profile]   ${c * 100.0 / total}%5.1f%% [$doing%-14s] $frame")
    }
    val tasks = samples.collect { case (Left(k), c) => k -> c }
    val etotal = tasks.values.sum.max(1)
    println(s"[profile] executor-task histogram ($etotal thread-samples; " +
      f"${etotal.toDouble / sweeps.max(1)}%.1f busy cores avg):")
    tasks.toSeq.sortBy(-_._2).take(20).foreach { case (frame, c) =>
      println(f"[profile]   ${c * 100.0 / etotal}%5.1f%% $frame")
    }
  }

  /** `.explain("formatted")` of each query, written to
    * `<out-dir>/<query>_<tag>.txt`. Each query runs once first: the
    * lifecycle queries build their lakes as a side effect, their final plan
    * reads the landed state, and AQE finalizes. */
  private def plans(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val Seq(sfDir, outDir, tag, names) = args.take(4)
    Files.createDirectories(Paths.get(outDir))
    names.split(',').foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"), plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
    }
  }

  /** On-disk bytes of a lake table's parts: data files, deletion-vector,
    * change-feed and bloom sidecars, the version log, and the rest. */
  private def tableBytes(spark: SparkSession, tableDir: String): Seq[(String, Long)] = {
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kinds = Seq("data", "_dv", "_changes", "_versions", "_bloom")
    val sizes = fs.listStatus(dir).map { s =>
      s.getPath.getName -> fs.getContentSummary(s.getPath).getLength
    }.toMap
    kinds.map(k => k -> sizes.getOrElse(k, 0L)) :+ ("other" -> (sizes -- kinds).values.sum)
  }

  /** Per-job breakdown of three fixed-size upsert flushes against a
    * PK-bucketed table, with each flush's write bytes as `profile` prints
    * them: the steady-state MERGE latency budget. After the last flush it
    * prints the table's on-disk bytes by kind. */
  private def flush(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val buckets = args.lift(1).fold(250)(_.toInt)
    val warehouse = Files.createTempDirectory("graft-bprobe").toString
    val lake = new GraftLake(spark, warehouse)
    val ord = Tables.orders(spark, args(0))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    lake.write("m", ord.repartition(64, pmod(hash(col("o_orderkey")), lit(buckets))),
      partitions = Seq(s"bucket($buckets, o_orderkey)"), pks = Seq("o_orderkey"))
    val maxK = ord.agg(max("o_orderkey")).head().getLong(0)
    for (f <- 1 to 3) {
      val batch = spark.range(128).select(
        when(col("id") % 2 === 0, (col("id") * 7919L + f * 104729L) % maxK)
          .otherwise(lit(maxK) + f * 1000000L + col("id")).as("o_orderkey"),
        lit("X").as("o_orderstatus"), lit(1.0).as("o_totalprice"))
        .repartition(4)
      val t0 = System.currentTimeMillis()
      val wchar0 = processWchar()
      val (wall, jobs) = JobTimeline.record(spark.sparkContext) {
        val t0n = System.nanoTime()
        lake.upsert("m", batch)
        (System.nanoTime() - t0n) / 1e6
      }
      val wchar = wchar0.zip(processWchar()).map { case (a, b) => b - a }
      println(f"[bprobe] flush=$f wall=$wall%.0f ms, " +
        s"wchar ${wchar.fold("n/a")(b => s"$b B")}, task output ${jobs.map(_.outputBytes).sum} B, " +
        s"shuffle write ${jobs.map(_.shuffleWriteBytes).sum} B, jobs:")
      jobs.foreach { j =>
        println(f"[bprobe]   job=${j.id}%-4d at=${j.startMs - t0}%-6d " +
          f"dur=${j.durationMs.fold("?")(_.toString)}%-6s ms")
      }
    }
    println("[bprobe] table m bytes: " +
      tableBytes(spark, s"$warehouse/m").map { case (k, b) => s"$k $b B" }.mkString(", "))
  }

  /** The ingest near-dup gate at a batch size: indexes `rows` generated
    * docs, then probes and admits a second batch of `rows` docs, 30 % of
    * them near-copies of indexed docs (one word in 30 replaced), by one
    * route: `driver` (the driver-side verify), `broadcast` (the distributed
    * probe with broadcast hints) or `shuffle` (the distributed probe
    * without them, as above `spark.graft.ingest.dedupBroadcastMaxRows`).
    * Doc lengths follow the ingest benchmark's mix: Pareto, 30 words at
    * least, capped at 1,500. Prints the probe, landing and admission times,
    * the jobs, the landing plan's expression count and the peak heap in use (sampled
    * every 10 ms, garbage included). Run each route in its own JVM, with
    * the heap set by `SPARK_DRIVER_MEM`. */
  private def dedupscale(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val n = args(0).toLong
    val route = args.lift(1).getOrElse("driver")
    require(Set("driver", "broadcast", "shuffle")(route), s"unknown route $route")
    val lake = new GraftLake(spark, Files.createTempDirectory("graft-dedupscale").toString)
    def lenOf(id: org.apache.spark.sql.Column) = least(lit(1500),
      (lit(30.0) / pow((pmod(hash(id, lit("len")), lit(1000000)) + 0.5) / 1e6,
        lit(1 / 1.5))).cast("int"))
    def wordOf(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      concat(lit("w"), pmod(hash(id, i), lit(50000)).cast("string"))
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lenOf(col("id"))),
        i => wordOf(col("id"), i))).as("text"))
    graft.operators.DedupOps.buildMinhashIndex(lake, "d", corpus, "doc_id", "text")
    val base = col("id") - n
    val copy = pmod(hash(col("id"), lit("dup")), lit(10)) < 3
    val batch = spark.range(n, 2 * n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lenOf(when(copy, base).otherwise(col("id")))),
        i => when(copy && pmod(hash(col("id"), i), lit(30)) =!= 0, wordOf(base, i))
          .otherwise(wordOf(col("id"), i)))).as("text"))
      .repartition(4).cache()
    println(s"[dedupscale] rows=$n route=$route indexed; batch text " +
      s"${batch.agg(sum(length(col("text")))).head().getLong(0) / 1000000} MB")
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val peak = new java.util.concurrent.atomic.AtomicLong(heap.getHeapMemoryUsage.getUsed)
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      peak.accumulateAndGet(heap.getHeapMemoryUsage.getUsed, math.max)
      Thread.sleep(10)
    })
    sampler.setDaemon(true)
    val before = peak.get()
    sampler.start()
    val t0 = System.nanoTime()
    def ms(from: Long) = (System.nanoTime() - from) / 1e6
    val ((probeMs, landMs, admitMs, planExprs), jobs) = JobTimeline.record(spark.sparkContext) {
      val (flag, admit) = graft.operators.DedupOps.incrementalNearDupsStaged(
        lake, "d", batch, "doc_id", "text", threshold = 0.8,
        parallelAdmit = true, hintBroadcast = route != "shuffle",
        admitSlices = if (route == "shuffle") 64 else 1,
        driverVerify = route == "driver")
      val probeMs = ms(t0)
      val t1 = System.nanoTime()
      val flagged = flag(batch, "is_dup")
      val planExprs = flagged.queryExecution.optimizedPlan
        .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
      lake.append("landing", flagged)
      val landMs = ms(t1)
      val t2 = System.nanoTime()
      admit()
      (probeMs, landMs, ms(t2), planExprs)
    }
    val total = ms(t0)
    sampling = false
    sampler.join()
    val dups = lake.read("landing").filter(col("is_dup") === 1L).count()
    println(f"[dedupscale] rows=$n route=$route total=$total%.0f ms probe=$probeMs%.0f " +
      f"land=$landMs%.0f admit=$admitMs%.0f jobs=${jobs.size} dups=$dups " +
      s"landingPlanExprs=$planExprs heapBeforeMb=${before >> 20} " +
      s"heapPeakMb=${peak.get() >> 20} heapMaxMb=${Runtime.getRuntime.maxMemory >> 20}")
  }

  /** The JSON landing at each row count: generated records of about 20
    * fields (the ingest benchmark's shape), cached over every core, parsed
    * with `from_json` and appended, coalesced to 1, 2 and all cores' tasks,
    * through a lake on the pipeline's trigger session. `reps` interleaved
    * rounds after one warm-up round; prints the median wall per task count.
    * The row count at which one task stops beating the spread bounds a
    * landing task's rows. */
  private def landing(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cores = spark.sparkContext.defaultParallelism
    val trigger = graft.ingest.IngestPipeline.triggerSession(spark)
    val lake = new GraftLake(trigger, Files.createTempDirectory("graft-landing").toString)
    val id = col("id")
    def word(salt: String) = concat(lit(salt), pmod(hash(id, lit(salt)), lit(9973)).cast("string"))
    val record = struct(id.as("seq"), word("kind").as("kind"), pmod(hash(id), lit(100000)).as("user_id"),
      lit("2024-03-01T12:00:00Z").as("event_ts"), word("r").as("region"),
      (pmod(hash(id, lit("a")), lit(50000)) / 100.0).as("amount"), pmod(id, lit(20)).as("qty"),
      (pmod(id, lit(2)) === 0).as("flag"),
      struct((pmod(hash(id, lit("lat")), lit(18000)) / 100.0).as("lat"),
        (pmod(hash(id, lit("lon")), lit(36000)) / 100.0).as("lon"), word("c").as("city")).as("geo"),
      array(word("t1"), word("t2")).as("tags"), word("ua").as("ua"), word("ref").as("ref"),
      (pmod(hash(id, lit("s")), lit(1000)) / 1000.0).as("score"), pmod(id, lit(10)).as("level"),
      word("sess").as("session_id"), (id + 5000000000L).as("item_id"),
      (pmod(hash(id, lit("p")), lit(9000)) / 100.0).as("price"), word("cur").as("currency"),
      concat_ws(" ", word("n1"), word("n2"), word("n3")).as("note"))
    args(0).split(',').map(_.toLong).foreach { n =>
      val values = trigger.range(0, n, 1, cores).select(to_json(record).as("v")).cache()
      values.count()
      val schema = graft.schema.SchemaInference.inferFromJson(values.head().getString(0)).get
      val parseSchema = StructType(schema.fields.toSeq :+ StructField("_corrupt", StringType))
      val parsed = values.select(from_json(col("v"), parseSchema,
        Map("columnNameOfCorruptRecord" -> "_corrupt")).as("p"))
        .filter(col("p._corrupt").isNull).select(schema.fieldNames.map(f => col(s"p.`$f`")): _*)
      val tasks = Seq(1, 2, cores).distinct
      val walls = mutable.Map.empty[Int, Seq[Double]].withDefaultValue(Nil)
      for (round <- 0 to reps; k <- tasks) {
        val t0 = System.nanoTime()
        lake.append(s"landing_$n", parsed.coalesce(k))
        if (round > 0) walls(k) = walls(k) :+ (System.nanoTime() - t0) / 1e6
      }
      println(s"[landing] rows=$n " + tasks.map(k =>
        f"tasks=$k%d med=${walls(k).sorted.apply(walls(k).size / 2)}%.0f ms").mkString(" "))
      values.unpersist()
    }
  }

  /** The fixed-latency floor of this host and session: no-shuffle, one-
    * and two-shuffle jobs and small parquet writes, 10 runs each, so that
    * an engine write path's budget (jobs × floor) can be checked against
    * first principles. */
  private def floor(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    import spark.implicits._
    val cores = spark.conf.get("spark.sql.shuffle.partitions")
    def time(label: String)(f: => Unit): Unit = {
      val ts = (0 until 10).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[floor] $label%-34s min=${ts.head}%7.1f ms med=${ts(5)}%7.1f ms")
    }
    def groupCount(): Unit =
      spark.range(100000).toDF("id").groupBy(($"id" % 100).as("k")).count().count()
    def joinGroupCount(): Unit =
      spark.range(100000).toDF("id").join(spark.range(50000).toDF("id"), "id")
        .groupBy(($"id" % 100).as("k")).count().count()
    val tmp = Files.createTempDirectory("graft-floor").toString
    var i = 0
    def writeParts(rebalance: Boolean): Unit = {
      i += 1
      val df = spark.range(75000).select($"id", ($"id" % 5).cast("string").as("p"))
      (if (rebalance) df.hint("rebalance", $"p") else df)
        .write.mode("overwrite").partitionBy("p").parquet(s"$tmp/t$i")
    }
    (0 until 3).foreach(_ => spark.range(100000).toDF("id").count())

    time(s"count (0-shuffle, $cores tasks)")(spark.range(100000).toDF("id").count())
    time("collect 1 row (1 task)")(spark.range(1).toDF("id").collect())
    time("groupBy-count (1 shuffle)")(groupCount())
    time("join+groupBy (2 shuffles)")(joinGroupCount())
    time("write 75k rows parquet (unpart)") {
      i += 1
      spark.range(75000).select($"id", ($"id" % 97).as("v"))
        .write.mode("overwrite").parquet(s"$tmp/t$i")
    }
    time("write 75k rows parquet (5 parts)")(writeParts(rebalance = false))
    time("window row_number (1 shuffle)") {
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"k").orderBy($"id")
      spark.range(100000).select($"id", ($"id" % 1000).as("k"))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1).count()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("groupBy-count (1 shuffle, AQE off)")(groupCount())
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    time("groupBy-count (AQE off, 4 parts)")(groupCount())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    time("groupBy-count (AQE on, 4 parts)")(groupCount())
    spark.conf.set("spark.sql.shuffle.partitions", cores)
    time("groupBy-count 8 slices (AQE on)") {
      spark.range(0, 100000, 1, 8).toDF("id")
        .groupBy(($"id" % 100).as("k")).count().count()
    }
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    time("groupBy-count (parallelismFirst=f)")(groupCount())
    time("join+groupBy (parallelismFirst=f)")(joinGroupCount())
    time("write 75k 5-part (parallelismFirst=f)")(writeParts(rebalance = true))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    time("write 75k 5-part rebal (pf=true)")(writeParts(rebalance = true))
  }

  /** Latency floor of the local-filesystem calls the engine's metadata
    * paths make (createTable and commitVersion are pure filesystem work),
    * per primitive: through the session's Hadoop filesystem, its raw
    * filesystem (no checksum siblings) and plain `java.nio`. Then
    * `GraftLake.createTable` with its sampled call chains, and a tiny
    * `GraftLake.write` for the full write-and-commit path. */
  private def fsfloor(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val base = Files.createTempDirectory("graft-fsfloor").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def time(label: String, n: Int)(f: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[fsfloor] $label%-34s ${ms / n}%8.2f ms/op (n=$n)")
    }
    def json(i: Int): Array[Byte] = ("{\"x\":" + i + "}").getBytes("UTF-8")
    def writes(label: String, fs: FileSystem, dir: String): Unit = {
      time(s"$label.mkdirs", 50) { i => fs.mkdirs(new Path(s"$base/$dir$i/data")) }
      time(s"$label.create+write+close", 50) { i =>
        val out = fs.create(new Path(s"$base/$dir$i/meta.json"), true)
        out.write(json(i)); out.close()
      }
      time(s"$label.rename", 50) { i =>
        fs.rename(new Path(s"$base/$dir$i/meta.json"), new Path(s"$base/$dir$i/m2.json"))
      }
    }
    val fs = new Path(base).getFileSystem(conf)
    writes("fs", fs, "d")
    time("fs.exists", 50) { i => fs.exists(new Path(s"$base/d$i/m2.json")) }
    time("fs.listStatus", 50) { i => fs.listStatus(new Path(s"$base/d$i")) }
    time("fs.getFileStatus", 50) { i => fs.getFileStatus(new Path(s"$base/d$i/m2.json")) }
    time("fs.open+read+close", 50) { i =>
      val in = fs.open(new Path(s"$base/d$i/m2.json"))
      val b = new Array[Byte](64); in.read(b); in.close()
    }
    writes("raw", FileSystem.getLocal(conf).getRaw, "r")
    // pure JVM baseline: is the cost Hadoop's or the filesystem's own?
    time("nio.createDirectories", 50) { i =>
      Files.createDirectories(Paths.get(s"$base/n$i/data"))
    }
    time("nio.write small file", 50) { i => Files.write(Paths.get(s"$base/n$i/meta.json"), json(i)) }

    val lake = new GraftLake(spark, s"$base/wh")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val main = Thread.currentThread()
    val (_, chains, _) = sampled { (t, st) =>
      Option.when(t eq main) {
        val key = st.filter(f => (f.contains("hadoop") || f.contains("graft")) &&
          !f.contains("util.Shell")).take(7).mkString(" <- ").take(520)
        if (key.isEmpty) st.take(3).mkString(" <- ") else key
      }
    } {
      time("GraftLake.createTable", 60) { i => lake.createTable(s"t$i", schema, Nil, Nil) }
    }
    chains.toSeq.sortBy(-_._2).take(8).foreach { case (f, c) => println(s"[fsfloor]   $c x $f") }
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")
    time("lake.write tiny df", 10) { i => lake.write(s"w$i", df) }
  }

  /** The reference's MERGE-vs-INSERT protocol ([[PerfHarness]]) as CSV. */
  private def harness(spark: SparkSession, args: IndexedSeq[String]): Unit = {
    val results = PerfHarness.run(spark)
    println("scenario,pct,iter,merge_ms,insert_ms")
    results.foreach(r =>
      println(f"conflict,${r.conflictPct},${r.iter},${r.mergeMs}%.1f,${r.insertMs}%.1f"))
    results.groupBy(_.conflictPct).toSeq.sortBy(_._1).foreach { case (pct, rs) =>
      println(f"median,$pct,-,${PerfHarness.median(rs.map(_.mergeMs))}%.1f," +
        f"${PerfHarness.median(rs.map(_.insertMs))}%.1f")
    }
    val (am, ai) = PerfHarness.amortized(spark)
    println(f"amortized_1m_per10k,10,-,$am%.1f,$ai%.1f")
  }
}
