package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev utility: run ONE registered query and print (a) every Spark job it
  * submitted with the job's call site and duration-relevant description,
  * and (b) the engine op-sensor totals — the feedback loop for cutting
  * per-trigger fixed cost in the ingest pipeline (a micro-batch's cost at
  * constant data volume is mostly its JOB COUNT × scheduling latency).
  * `runMain graft.ProfileOne q105_ingest_dedup /root/testdata/sf0.1` */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = graft.hadoop.FastLocalFileSystem.tune(SparkSession.builder())
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B experiments: SPARK_GRAFT_CONF="k=v;k=v" overlays session confs
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up iteration: JVM/codegen/class-load noise out of the profile
    SparkEntry.queries(name)(spark, sfDir).collect()
    val jobs = new ConcurrentLinkedQueue[(Int, Int, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        starts.put(e.jobId, e.time)
        // attribute the job to the engine frame that planned it: first
        // graft.* line in the submitting thread's call site (propagated
        // through SQL execution threads), else the last stage's details
        val fromProps = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.long")))
          .toSeq.flatMap(_.split('\n'))
        val fromStage = e.stageInfos.lastOption.map(_.details).getOrElse("")
          .split('\n').toSeq
        val site = (fromProps ++ fromStage)
          .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
          .trim.take(90)
        val tasks = e.stageInfos.map(_.numTasks).mkString("+")
        jobs.add((e.jobId, e.stageInfos.size, s"tasks=$tasks $site"))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    graft.metrics.GraftMetrics.reset()
    // driver-time histogram (guide §7.3): sample every thread's stack at
    // ~5 ms, attribute each sample to its nearest graft.* frame and bucket
    // what the frame is doing (planning / waiting on a job / commit I/O /
    // parquet footers / other) — this is what the per-job timeline can't
    // show: where the GAPS between jobs go.
    val samples = new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()
    val execSamples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    @volatile var sweeps = 0
    val sampler = new Thread(() => {
      while (sampling) {
        try {
          sweeps += 1
          val traces = Thread.getAllStackTraces
          traces.forEach { (t, st) =>
            val tn = t.getName
            if (tn.startsWith("Executor task launch") && st.nonEmpty) {
              // task-side histogram: first recognizable frame — where the
              // cores actually burn during "job-wait"
              val fs = st.map(_.toString)
              val key = fs.collectFirst {
                case f if f.contains("parquet.hadoop") || f.contains("ParquetFileWriter")
                  || f.contains("ParquetOutput") => "parquet-write"
                case f if f.contains("ParquetFileFormat") || f.contains("VectorizedParquet")
                  || f.contains("ParquetReader") => "parquet-read"
                case f if f.contains("CodeGenerator") || f.contains("janino")
                  || f.contains("ClassBodyEvaluator") => "codegen-compile"
                case f if f.contains("ShuffleBlockFetcher") || f.contains("ShuffleWriter")
                  || f.contains("ShuffleExternalSorter") || f.contains("UnsafeShuffleWriter") => "shuffle"
                case f if f.contains("JacksonParser") || f.contains("jackson") => "json-parse"
                case f if f.contains("graft.functions") => f.takeWhile(_ != '(').split('/').last
                case f if f.contains("graft.") => f.takeWhile(_ != '(').split('/').last
                case f if f.contains("GeneratedClass") || f.contains("codegen") => "codegen-run"
                case f if f.contains("TaskMemoryManager") || f.contains("getPage") => "mem-mgmt"
                case f if f.contains("FileOutputStream") || f.contains("FileInputStream")
                  || f.contains("RawLocalFileSystem") => "task-fs-io"
              }.getOrElse(fs(0).takeWhile(_ != '(').split('.').takeRight(2).mkString("."))
              execSamples.merge(key, 1, (a, b) => a + b)
            }
            if (!tn.startsWith("Executor task launch") && !tn.contains("sampler") &&
                !tn.startsWith("shuffle-") && !tn.startsWith("netty")) {
              val fs = st.map(_.toString)
              val gi = fs.indexWhere(f => f.contains("graft.") &&
                !f.contains("ProfileOne"))
              if (gi < 0 && fs.exists(f => f.contains("catalyst") ||
                  f.contains("spark.sql.execution"))) {
                // Catalyst work with no engine frame on the stack — AQE
                // re-planning threads and the final action's own planning
                val cat =
                  if (fs.exists(_.contains("AdaptiveSparkPlanExec"))) "aqe"
                  else if (fs.exists(f => f.contains("CodeGenerator") ||
                    f.contains("janino"))) "codegen-compile"
                  else if (fs.exists(f => f.contains("RuleExecutor") ||
                    f.contains("Analyzer") || f.contains("Optimizer"))) "plan/analyze"
                  else if (fs.exists(_.contains("awaitResult"))) "job-wait"
                  else "other"
                samples.merge(("<no-graft-frame: " + tn.take(28) + ">", cat),
                  1, (a, b) => a + b)
              }
              if (gi >= 0) {
                val doing = fs.take(gi).collectFirst {
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
                }.getOrElse(if (gi == 0) "self" else
                  fs(0).takeWhile(_ != '(').split('.').takeRight(2).mkString("."))
                val key = (fs(gi).takeWhile(_ != '('), doing)
                samples.merge(key, 1, (a, b) => a + b)
              }
            }
          }
          Thread.sleep(5)
        } catch { case e: Throwable =>
          println(s"[profile] sampler error: $e"); sampling = false }
      }
    }, "graft-profile-sampler")
    sampler.setDaemon(true)
    val t0 = System.nanoTime()
    val t0ms = System.currentTimeMillis()
    sampler.start()
    val n = SparkEntry.queries(name)(spark, sfDir).collect().length
    sampling = false
    sampler.join(200)
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    println(f"[profile] $name%s rows=$n time=$s%.3f s jobs=${jobs.size}")
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, st, site) =>
      val ms = (Option(ends.get(id)), Option(starts.get(id))) match {
        case (Some(e), Some(s)) => (e - s).toString
        case _ => "?"
      }
      // at= start offset from t0: the space BETWEEN a job's end and the
      // next job's start is driver-side work (planning, commit I/O)
      val at = Option(starts.get(id))
        .map(s => (s - t0ms).toString).getOrElse("?")
      println(f"[profile]   job=$id%-4d stages=$st%-3d ${ms}%-6s ms at=$at%-7s $site")
    }
    graft.metrics.GraftMetrics.totalsMs().toSeq.sortBy(-_._2._2).foreach {
      case (op, (c, ms)) => println(f"[profile]   op=$op%-28s n=$c%-4d ${ms}%.0f ms")
    }
    locally {
      import scala.jdk.CollectionConverters._
      val total = samples.values.asScala.map(_.toInt).sum.max(1)
      println(s"[profile] driver-sample histogram ($total samples over $sweeps " +
        "sweeps, one every 5 ms; each sweep is a full-VM thread dump at a " +
        "safepoint, which slows the timings it profiles):")
      samples.asScala.toSeq.sortBy(-_._2.toInt).take(30).foreach {
        case ((frame, doing), c) =>
          println(f"[profile]   ${c.toInt * 100.0 / total}%5.1f%% [$doing%-14s] $frame")
      }
      val etotal = execSamples.values.asScala.map(_.toInt).sum.max(1)
      println(s"[profile] executor-task histogram ($etotal thread-samples; " +
        f"${etotal.toDouble / sweeps}%.1f busy cores avg):")
      execSamples.asScala.toSeq.sortBy(-_._2.toInt).take(20).foreach {
        case (frame, c) =>
          println(f"[profile]   ${c.toInt * 100.0 / etotal}%5.1f%% $frame")
      }
    }
    spark.stop()
  }
}
