package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * emits a JSON metric line (driver contract).
  *
  * Handoff hardening, round 3 of this lesson (BENCH_r01 and BENCH_r03 both
  * came back "parsed": null because the driver keeps only a bounded tail of
  * stdout and the final line's length grew with the query count):
  *   - the FULL line (per-query map, perf scalars) is printed FIRST and
  *     written to bench.json in the working directory
  *   - the LAST printed line is O(1) bytes BY CONSTRUCTION — totals and
  *     perf scalars only, no per-query map, plus "detail":"bench.json" —
  *     so it fits any bounded tail window regardless of how many queries
  *     future rounds add ([[Bench.tailLine]]; BenchTailSpec asserts the
  *     size bound and parses it from a simulated 3 KB stdout tail)
  *   - query failures are recorded in an explicit "errors" map (count only
  *     in the tail line) instead of masquerading as fast timings
  */
object Bench {

  private def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The bounded final stdout line: every field is a fixed-width scalar, so
    * its size does not depend on the number of registered queries. Kept as a
    * pure function so BenchTailSpec can assert the O(1)-size contract.
    * `loadAvg`/`staleCleaned` make the artifact interpretable STANDALONE:
    * round-over-round totals on a shared host swung 35–48 % purely from
    * external load and stale temp-warehouse accumulation, and without the
    * context stamped in, every such swing reads as a code regression. */
  def tailLine(total: Double, nQueries: Int, nErrors: Int, mergeMs: Double,
      insertMs: Double, amortMergeMs: Double, amortInsertMs: Double,
      sfDir: String, loadAvg: Double = -1.0, staleCleaned: Int = 0): String =
    s"""{"metric":"total","value":${num(total)},"unit":"sec"""" +
      s""","n_queries":$nQueries,"n_errors":$nErrors""" +
      s""","upsert_merge_ms_per_10k_batch":${num(mergeMs)}""" +
      s""","insert_ms_per_10k_batch":${num(insertMs)}""" +
      s""","upsert_merge_ms_per_10k_amortized_1m_flush":${num(amortMergeMs)}""" +
      s""","insert_ms_per_10k_amortized_1m_flush":${num(amortInsertMs)}""" +
      s""","load_avg_1m":${num(loadAvg)},"stale_tmp_dirs_cleaned":$staleCleaned""" +
      s""","sf":${jstr(sfDir)},"detail":"bench.json"}"""

  /** Delete stale graft temp warehouses left in java.io.tmpdir by earlier
    * verify/test/bench runs (they accumulate by the thousands and degrade
    * bench totals run-over-run through directory-listing and page-cache
    * pressure). Only `graft-*` dirs created by `Files.createTempDirectory`
    * are touched, and only ones older than two hours — a CONCURRENT
    * test/verify session's live warehouses are recent and spared (Linux
    * deletes under a live process silently; an mtime guard is the only
    * reliable protection). The persistent scale dataset (`graft-sf1`)
    * is always kept. Returns how many were deleted. */
  def cleanStaleTmp(): Int = {
    val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    if (!Files.isDirectory(tmp)) return 0
    val keep = Set("graft-sf1")
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    var n = 0
    val stream = Files.list(tmp)
    try stream.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.startsWith("graft-") && !keep(name) && Files.isDirectory(p) &&
          p.toFile.lastModified() < cutoff) {
        try {
          import scala.jdk.CollectionConverters._
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
          finally walk.close()
          n += 1
        } catch { case _: java.io.IOException => () } // foreign/live dir: skip
      }
    } finally stream.close()
    n
  }

  /** 1-minute system load average (-1 when the platform can't say). */
  def loadAvg1m(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val staleCleaned = cleanStaleTmp()
    val loadBefore = loadAvg1m()
    val spark = GraftSession.localBuilder()
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: JVM + codegen + parquet footer caches
    Tables.lineitem(spark, sfDir).count()
    Tables.events(spark, sfDir).count()

    // min of two passes per query: a single sample on a shared host mixes
    // scheduler noise into the comparison; the min is the honest capability
    // number
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query engine-op attribution (captured on the steady-state second
    // pass): sensor (count, total-ms) deltas around each query, so a
    // regression on e.g. q19 decomposes into commitVersion/collectStats/
    // ingestDedup time instead of one opaque wall number
    val perQueryOps = scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    def runAll(capture: Boolean): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val before = if (capture) graft.metrics.GraftMetrics.totalsMs()
          else Map.empty[String, (Long, Double)]
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            errors(name) = e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(120)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        if (capture) {
          val delta = graft.metrics.GraftMetrics.totalsMs().toSeq.flatMap {
            case (k, (c, t)) =>
              val (c0, t0v) = before.getOrElse(k, (0L, 0.0))
              if (c == c0) Nil
              else Seq(s"$k.count" -> (c - c0).toDouble, s"$k.ms" -> (t - t0v))
          }.toMap
          if (delta.nonEmpty) perQueryOps(name) = delta
        }
        name -> wall
      }
    val pass1 = runAll(capture = false).toMap
    val results = runAll(capture = true).map { case (n, t) => n -> math.min(t, pass1(n)) }
    val ok = results.filterNot { case (n, _) => errors.contains(n) }
    val qs = ok.map { case (k, v) => jstr(k) + ":" + num(v) }.mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0

    // BASELINE.md comparability: the reference's MERGE-vs-INSERT protocol
    // (100k base, 10k batches) at a 10% conflict rate, per-batch ms —
    // median of 5 alternating-order iterations after a discarded warm-up —
    // plus the amortized measurement at the reference's real default
    // flush.size of 1M rows (DucklakeSinkConfig.java:129-135).
    val perf = PerfHarness.run(spark, conflictPcts = Seq(10), iterations = 5)
    val mergeMs = PerfHarness.median(perf.map(_.mergeMs))
    val insertMs = PerfHarness.median(perf.map(_.insertMs))
    val (amortMergeMs, amortInsertMs) = PerfHarness.amortized(spark)
    // 100-file-delta commit cost, bounds collected in the write job
    val commitWjMs = PerfHarness.commitDelta(spark)

    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString("{", ",", "}")
    // host context measured at both ends: a load spike DURING the run is
    // visible as before/after divergence, not just a high single sample
    val loadAfter = loadAvg1m()
    val fullLine = s"""{"metric":"total","value":${num(total)},"unit":"sec"""" +
      s""","queries":$qs""" +
      s""","load_avg_1m_start":${num(loadBefore)}""" +
      s""","load_avg_1m_end":${num(loadAfter)}""" +
      s""","stale_tmp_dirs_cleaned":$staleCleaned""" +
      s""","upsert_merge_ms_per_10k_batch":${num(mergeMs)}""" +
      s""","insert_ms_per_10k_batch":${num(insertMs)}""" +
      s""","upsert_merge_ms_per_10k_amortized_1m_flush":${num(amortMergeMs)}""" +
      s""","insert_ms_per_10k_amortized_1m_flush":${num(amortInsertMs)}""" +
      errJson + s""","sf":${jstr(sfDir)}}"""

    // full payload → bench.json (well-known file, immune to stdout tails)
    val ops = graft.metrics.GraftMetrics.snapshot()
      .filter { case (k, _) => k.endsWith("avg_ms") || k.endsWith("count") }
      .toSeq.sorted
      .map { case (k, v) => jstr(k) + ":" + num(v) }.mkString("{", ",", "}")
    val perfIters = perf.map(r =>
      s"""{"pct":${r.conflictPct},"iter":${r.iter},"merge_ms":${num(r.mergeMs)},"insert_ms":${num(r.insertMs)}}""")
      .mkString("[", ",", "]")
    val queryOps = perQueryOps.map { case (q, m) =>
      jstr(q) + ":" + m.toSeq.sorted.map { case (k, v) => jstr(k) + ":" + num(v) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // >0 means some commit paid the footer-read fallback because >64
    // writes were in flight — correct but worth surfacing (VERDICT r8 #7)
    val evictions =
      org.apache.spark.sql.graft.StatsCommitProtocol.evictionCount
    if (evictions > 0)
      System.err.println(s"WARN: $evictions stats-mailbox evictions " +
        "during bench — commits fell back to footer reads")
    val full = fullLine.dropRight(1) +
      s""","commit_100file_writejob_ms":${num(commitWjMs)}""" +
      s""","stats_mailbox_evictions":$evictions""" +
      s""","op_metrics":$ops,"query_op_ms":$queryOps,"perf_iterations":$perfIters}"""
    Files.write(Paths.get("bench.json"), (full + "\n").getBytes(StandardCharsets.UTF_8))

    println(fullLine)
    spark.stop()
    // printed LAST: the O(1)-size summary, so a bounded stdout tail always
    // contains one complete metric line (only sbt's epilogue follows)
    println(tailLine(total, ok.size, errors.size, mergeMs, insertMs,
      amortMergeMs, amortInsertMs, sfDir, loadAfter, staleCleaned))
  }
}
