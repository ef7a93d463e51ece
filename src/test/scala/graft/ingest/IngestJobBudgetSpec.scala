package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Job budget of one ingest flush. Job counts do not vary with host
  * noise, so a regression in the length of `processBatch`'s action chain
  * fails here instead of hiding in wall-time spread. Every job a flush
  * starts — on the caller's thread or on the tasks that land its topics
  * and admit into its dedup index — must carry the caller's job group. */
class IngestJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pipeline(config: String => IngestConfig = IngestConfig(_)): IngestPipeline = {
    graft.catalog.GraftLake.invalidateCaches()
    new IngestPipeline(spark,
      config(Files.createTempDirectory("graft-budget").toString))
  }

  private def batchOf(records: (String, Array[Byte])*): DataFrame =
    records.zipWithIndex.map { case ((topic, v), i) =>
      (topic, 0, i.toLong, v)
    }.toDF("topic", "partition", "offset", "value")

  private def json(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def ipc(ids: Seq[Long]): Array[Byte] =
    ArrowIpc.encode(
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      ids.map(i => Row(i, s"n$i")))

  /** Runs `body` under `group` and returns the group of every job it
    * started. */
  private def jobGroupsOf(group: String)(body: => Unit): Seq[String] = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "ingest job budget")
      try body finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    groups.asScala.toSeq
  }

  private val jsonTopics = (0 until 4).map(i => s"bj$i")

  test("a 5-topic flush with malformed and conflicting records stays within 17 jobs and one DLQ commit") {
    val p = pipeline()
    // the warm batch creates the tables and seeds each topic's schema
    p.processBatch(batchOf(jsonTopics.flatMap(t =>
      (1 to 3).map(i => t -> json(s"""{"id":$i,"a":$i,"name":"w$i"}"""))) :+
      ("barrow" -> ipc(Seq(1L, 2L))): _*), 0)
    val dlqVersions =
      if (p.lake.tableExists("_dlq")) p.lake.versions("_dlq").size else 0
    // each JSON topic: clean records, one malformed record and one record
    // whose `a` conflicts with the topic's numeric type
    val measured = batchOf(jsonTopics.flatMap(t =>
      (10 to 14).map(i => t -> json(s"""{"id":$i,"a":$i,"name":"m$i"}""")) ++ Seq(
        t -> json("{{{not json"),
        t -> json("""{"id":99,"a":"2024-03-01T12:00:00Z","name":"x"}"""))) :+
      ("barrow" -> ipc(Seq(3L, 4L, 5L))): _*)
    val groups = jobGroupsOf("budget-flush") { p.processBatch(measured, 1) }
    info(s"${groups.size} jobs")
    assert(groups.nonEmpty)
    assert(groups.forall(_ == "budget-flush"),
      s"jobs outside the flush's job group: ${groups.filterNot(_ == "budget-flush")}")
    assert(groups.size <= 17, s"${groups.size} jobs for one flush (budget 17)")
    // every dead letter of the batch lands in ONE _dlq commit
    assert(p.lake.versions("_dlq").size === dlqVersions + 1)
    val parked = p.lake.read("_dlq").select("target_table", "error").collect()
    assert(parked.length === 8)
    assert(parked.map(_.getString(0)).toSet === jsonTopics.toSet)
    assert(parked.count(_.getString(1) == "unparseable JSON") === 4)
    jsonTopics.foreach(t => assert(p.lake.read(t).count() === 8, t))
    assert(p.lake.read("barrow").count() === 5)
  }

  test("a JSON-only DLQ replay runs its profile instead of a dispatch job and a fallback inference") {
    val wh = Files.createTempDirectory("graft-budget").toString
    graft.catalog.GraftLake.invalidateCaches()
    // misrouted: rj2 lands in rj1's table, where its records conflict
    val p1 = new IngestPipeline(spark, IngestConfig(wh, topic2table = Map("rj2" -> "rj1")))
    p1.processBatch(batchOf((1 to 3).map(i => "rj1" -> json(s"""{"id":$i,"a":$i}""")): _*), 0)
    p1.processBatch(batchOf((1 to 3).map(i =>
      "rj2" -> json(s"""{"id":$i,"a":"2024-03-0${i}T12:00:00Z"}""")): _*), 1)
    assert(p1.lake.read("_dlq").count() === 3)
    val p2 = new IngestPipeline(spark, IngestConfig(wh, topic2table = Map("rj2" -> "rj2_t")))
    var result = (0L, 0L)
    val groups = jobGroupsOf("budget-replay") {
      result = p2.replayDlq("rj2", fromTable = Some("rj1"))
    }
    info(s"${groups.size} jobs")
    assert(result === ((3L, 0L)))
    assert(p2.lake.read("rj2_t").count() === 3)
    assert(groups.forall(_ == "budget-replay"), groups)
    // 7 jobs; a replay that counted, dispatched on a separate groupBy
    // count and inferred its JSON schema in a second pass ran 12
    assert(groups.size <= 7, s"${groups.size} jobs for one replay (budget 7)")
  }

  test("dedup admission jobs carry the flush's job group, not a stale one") {
    val p = pipeline(wh => IngestConfig(wh,
      dedup = Map("bd" -> DedupConfig("doc_id", "text"))))
    def docs(ids: Range) = batchOf(ids.map(i =>
      "bd" -> json(s"""{"doc_id":$i,"text":"doc number $i says something new $i"}""")): _*)
    // the first flush's tasks start under one group; the second flush's
    // jobs must not inherit it from whichever thread ran them before
    val first = jobGroupsOf("dedup-a") { p.processBatch(docs(1 to 4), 0) }
    assert(first.nonEmpty && first.forall(_ == "dedup-a"), first)
    val second = jobGroupsOf("dedup-b") { p.processBatch(docs(5 to 8), 1) }
    assert(second.nonEmpty && second.forall(_ == "dedup-b"), second)
    assert(p.lake.read("bd_lshidx_docs").count() === 8)
  }
}
