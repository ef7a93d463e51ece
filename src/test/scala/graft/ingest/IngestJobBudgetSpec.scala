package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import graft.catalog.{GraftCatalog, GraftLake}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.JobTimeline
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Job budget of one ingest flush and of the SQL write statements. Job
  * counts do not vary with host noise, so a regression in the length of
  * `processBatch`'s or a statement's action chain fails here instead of
  * hiding in wall-time spread. Every job a flush starts — on the caller's
  * thread or on the tasks that land its topics and admit into its dedup
  * index — must carry the caller's job group. */
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
    spark.sparkContext.setJobGroup(group, "ingest job budget")
    try JobTimeline.record(spark.sparkContext)(body)._2.map(_.group.orNull)
    finally spark.sparkContext.clearJobGroup()
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

  private lazy val sqlLake = {
    val wh = Files.createTempDirectory("graft-budget-sql").toString
    spark.conf.set("spark.sql.catalog.gjb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gjb.warehouse", wh)
    new GraftLake(spark, wh)
  }

  private def customers(ids: Seq[Int], segment: Int => String, bump: Double): DataFrame =
    ids.map(i => (i.toLong, s"c$i", segment(i), i * 1.5 + bump))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

  test("a SQL MERGE into a partitioned PK table (q59 shape) runs 13 jobs in the caller's group") {
    sqlLake.write("cust", customers(1 to 40, i => s"SEG${i % 4}", 0),
      partitions = Seq("c_mktsegment"), pks = Seq("c_custkey"))
    customers((3 to 60 by 3), i => if (i % 2 == 0) "MOVED" else s"SEG${i % 4}", 10)
      .createOrReplaceTempView("budget_merge_src")
    val groups = jobGroupsOf("budget-merge") {
      spark.sql(
        """MERGE INTO gjb.cust t USING budget_merge_src s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED THEN UPDATE SET
          |  c_name = s.c_name, c_mktsegment = s.c_mktsegment, c_acctbal = s.c_acctbal
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_mktsegment, c_acctbal)
          |  VALUES (s.c_custkey, s.c_name, s.c_mktsegment, s.c_acctbal)""".stripMargin)
    }
    info(s"${groups.size} jobs")
    assert(groups.forall(_ == "budget-merge"), groups)
    assert(groups.size === 13)
    assert(sqlLake.read("cust").count() === 40 + 7)
    assert(sqlLake.read("cust").filter("c_mktsegment = 'MOVED'").count() === 10)
  }

  test("a SQL INSERT into an expression-partitioned table (q61 shape) runs 2 jobs in the caller's group") {
    spark.sql(
      """CREATE TABLE gjb.ord_ins
        |(o_orderkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE)
        |TBLPROPERTIES ('partitions' = 'year(o_orderdate)')""".stripMargin)
    def orders(keys: Range) = keys.map(k =>
      (k.toLong, java.sql.Timestamp.valueOf(s"${1992 + k % 7}-03-01 00:00:00"), k * 2.5))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    orders(1 to 50).createOrReplaceTempView("budget_ins_b1")
    orders(51 to 100).createOrReplaceTempView("budget_ins_b2")
    spark.sql("INSERT INTO gjb.ord_ins (o_orderkey, o_orderdate, o_totalprice) SELECT * FROM budget_ins_b1")
    val groups = jobGroupsOf("budget-insert") {
      spark.sql("INSERT INTO gjb.ord_ins (o_orderkey, o_orderdate, o_totalprice) SELECT * FROM budget_ins_b2")
    }
    info(s"${groups.size} jobs")
    assert(groups.forall(_ == "budget-insert"), groups)
    assert(groups.size === 2)
    assert(sqlLake.read("ord_ins").count() === 100)
  }
}
