package ingestbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `op` groups the spans of one flush, trigger or
  * read; `parent` is the id of the enclosing span (-1 for a root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    op: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Per-op counter deltas (program sensors, filesystem primitives). */
  val counters = new ConcurrentLinkedQueue[(String, Map[String, Double])]()

  def add(parent: Long, name: String, layer: String, op: String,
      startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, layer, op, startMs, endMs))
    id
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        s.durMs - covered
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}","op":"${s.op}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      w.newLine()
    } finally {
      counters.asScala.foreach { case (op, cs) =>
        w.write(s"""{"op":"$op","counters":""" + cs.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}}"))
        w.newLine()
      }
      w.close()
    }
  }
}

object Tracer {
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis().toDouble
  /** Wall clock in ms since the epoch, at nanoTime resolution. */
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark job/stage/task events, kept raw and attributed after the run. */
final class JobCollector extends SparkListener {
  final case class Job(id: Int, group: String, streamBatch: String, startMs: Double,
      var endMs: Double, stages: Seq[Int])
  final case class TaskAgg(var tasks: Long = 0, var runMs: Double = 0,
      var shuffleBytes: Long = 0, var spillBytes: Long = 0)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    jobs.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), e.time.toDouble, Double.NaN,
      e.stageInfos.map(_.stageId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageTasks.computeIfAbsent(e.stageId, _ => TaskAgg())
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobsIn(startMs: Double, endMs: Double, group: String => Boolean): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j =>
      j.startMs >= startMs - 1 && j.startMs <= endMs + 1 && group(j.group))
}

/** Micro-batch progress of the paced phase: one entry per trigger, and the
  * highest source offset a finished trigger has committed. */
final class ProgressCollector extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val committed = new AtomicLong(-1)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) {
      progress.add(e.progress)
      committed.accumulateAndGet(e.progress.sources.head.endOffset.toLong, math.max)
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Local-filesystem primitive counts for the traced run. Counted at the raw
  * layer so both Hadoop APIs (FileSystem and FileContext) are seen; a
  * primitive that calls another of the counted ones counts once. */
object FsCounts {
  val creates, parquetCreates, renames, mkdirCalls, lists, deletes = new AtomicLong
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  def counted[T](c: AtomicLong)(f: => T): T = {
    if (depth.get == 0) c.incrementAndGet()
    depth.set(depth.get + 1)
    try f finally depth.set(depth.get - 1)
  }
  def snapshot: Map[String, Long] = {
    val io = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map("create" -> creates.get, "parquet_create" -> parquetCreates.get, "rename" -> renames.get,
      "mkdirs" -> mkdirCalls.get, "list" -> lists.get, "delete" -> deletes.get,
      "bytes_written" -> io.map(_.getBytesWritten).sum,
      "bytes_read" -> io.map(_.getBytesRead).sum)
  }
  /** Session confs that route `file://` through the counting classes. */
  val hadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[CountingLocalFs].getName)
}

class CountingRawLocalFileSystem extends graft.hadoop.FastRawLocalFileSystem {
  import FsCounts._
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      p: FsPermission): java.io.OutputStream = {
    if (!append && f.getName.endsWith(".parquet")) parquetCreates.incrementAndGet()
    super.createOutputStreamWithMode(f, append, p)
  }
  override def create(f: Path, p: FsPermission, o: Boolean, b: Int, r: Short, bs: Long,
      pr: Progressable): FSDataOutputStream = counted(creates)(super.create(f, p, o, b, r, bs, pr))
  override def create(f: Path, o: Boolean, b: Int, r: Short, bs: Long,
      pr: Progressable): FSDataOutputStream = counted(creates)(super.create(f, o, b, r, bs, pr))
  override def createNonRecursive(f: Path, p: FsPermission, o: Boolean, b: Int, r: Short,
      bs: Long, pr: Progressable): FSDataOutputStream =
    counted(creates)(super.createNonRecursive(f, p, o, b, r, bs, pr))
  override def createNonRecursive(f: Path, p: FsPermission,
      fl: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], b: Int, r: Short, bs: Long,
      pr: Progressable): FSDataOutputStream =
    counted(creates)(super.createNonRecursive(f, p, fl, b, r, bs, pr))
  override def rename(s: Path, d: Path): Boolean = counted(renames)(super.rename(s, d))
  override def mkdirs(f: Path): Boolean = counted(mkdirCalls)(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = counted(mkdirCalls)(super.mkdirs(f, p))
  override def listStatus(f: Path): Array[FileStatus] = counted(lists)(super.listStatus(f))
  override def delete(f: Path, r: Boolean): Boolean = counted(deletes)(super.delete(f, r))
}

/** Same checksum wrapper and write-checksum default as the program's
  * `FastLocalFileSystem`, over the counting raw filesystem. */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem) {
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(conf.getBoolean("graft.fs.write-checksum", false))
  }
}

class CountingRawLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new CountingRawLocalFileSystem, conf, "file", false)

class CountingLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new CountingRawLocalFs(uri, conf))

/** Per-op program counters read around each flush. */
object Sensors {
  def totals: Map[String, (Long, Double)] = graft.metrics.GraftMetrics.totalsMs()
  def delta(a: Map[String, (Long, Double)], b: Map[String, (Long, Double)]): Map[String, (Long, Double)] =
    b.map { case (k, (n, ms)) =>
      val (n0, ms0) = a.getOrElse(k, (0L, 0.0)); k -> ((n - n0, ms - ms0))
    }
  /** CPU time of every thread of the process (driver and local executors). */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
