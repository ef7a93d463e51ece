package graft.ingest

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.catalog.{GraftCatalog, GraftLake}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.{CodegenCompiles, JobTimeline}
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

  /** The classes Janino compiled while `body` ran. */
  private def compilesOf(body: => Unit): Long = CodegenCompiles.during(body)._2.count

  private val jsonTopics = (0 until 4).map(i => s"bj$i")

  /** Each JSON topic: clean records `ids`, one malformed record and one
    * record whose `a` conflicts with the topic's numeric type; the Arrow
    * topic: records `arrowIds`. */
  private def fiveTopicBatch(ids: Range, arrowIds: Seq[Long]): DataFrame =
    batchOf(jsonTopics.flatMap(t =>
      ids.map(i => t -> json(s"""{"id":$i,"a":$i,"name":"m$i"}""")) ++ Seq(
        t -> json("{{{not json"),
        t -> json("""{"id":99,"a":"2024-03-01T12:00:00Z","name":"x"}"""))) :+
      ("barrow" -> ipc(arrowIds)): _*)

  // The profile job decides the triage of each JSON topic against its
  // cached schema and reads the Arrow schemas; then each table lands in
  // one write of one file, and the dead letters in one append. The
  // profile's verdict proves the batch has dead letters, so no count job
  // precedes that append. The parent of this shape ran 17 jobs: an Arrow
  // schema job, per JSON topic an emptiness check and a re-inference, and
  // a DLQ count of one task per parked partition.
  test("a 5-topic flush with bad records runs 7 jobs and one DLQ commit") {
    val p = pipeline()
    // the warm batch creates the tables and seeds each topic's schema
    p.processBatch(batchOf(jsonTopics.flatMap(t =>
      (1 to 3).map(i => t -> json(s"""{"id":$i,"a":$i,"name":"w$i"}"""))) :+
      ("barrow" -> ipc(Seq(1L, 2L))): _*), 0)
    val dlqVersions =
      if (p.lake.tableExists("_dlq")) p.lake.versions("_dlq").size else 0
    val tables = jsonTopics :+ "barrow"
    val filesBefore = tables.map(t => t -> p.lake.liveFileCount(t)).toMap
    val measured = fiveTopicBatch(10 to 14, Seq(3L, 4L, 5L))
    spark.sparkContext.setJobGroup("budget-flush", "ingest job budget")
    val jobs = try JobTimeline.record(spark.sparkContext)(p.processBatch(measured, 1))._2
      finally spark.sparkContext.clearJobGroup()
    info(s"${jobs.size} jobs: ${jobs.map(j => s"${j.site} (${j.tasks.sum} tasks)").mkString("; ")}")
    assert(jobs.forall(_.group.contains("budget-flush")),
      s"jobs outside the flush's job group: ${jobs.filterNot(_.group.contains("budget-flush"))}")
    // the profile, five landing writes and the DLQ append
    assert(jobs.size === 7, jobs.map(_.site))
    tables.foreach(t =>
      assert(p.lake.liveFileCount(t) - filesBefore(t) === 1, s"new data files of $t"))
    assert(!jobs.exists(_.site.contains("landDeadLetters")), jobs.map(_.site))
    // every dead letter of the batch lands in ONE _dlq commit
    assert(p.lake.versions("_dlq").size === dlqVersions + 1)
    val parked = p.lake.read("_dlq").select("target_table", "error").collect()
    assert(parked.length === 8)
    assert(parked.map(_.getString(0)).toSet === jsonTopics.toSet)
    assert(parked.count(_.getString(1) == "unparseable JSON") === 4)
    jsonTopics.foreach(t => assert(p.lake.read(t).count() === 8, t))
    assert(p.lake.read("barrow").count() === 5)
  }

  // Nothing proves a clean batch has dead letters: the corrupt-record
  // channel of its landing is parked unproven, and one count finds it empty
  test("a clean JSON flush runs the profile, its landing and one DLQ count, and commits no DLQ") {
    val p = pipeline()
    val batch = batchOf((1 to 5).map(i => "bc" -> json(s"""{"id":$i,"name":"c$i"}""")): _*)
    val jobs = JobTimeline.record(spark.sparkContext)(p.processBatch(batch, 0))._2
    info(jobs.map(_.site).mkString("; "))
    assert(jobs.size === 3, jobs.map(_.site))
    assert(jobs.count(_.site.contains("landDeadLetters")) === 1, jobs.map(_.site))
    assert(!p.lake.tableExists("_dlq"))
    assert(p.lake.read("bc").count() === 5)
  }

  // The dead-letter metric counts the rows the DLQ append committed, so a
  // redelivered batch whose append the watermark skips adds nothing
  test("a batch redelivered under txnAppId adds nothing to dlq.records.total") {
    import graft.metrics.GraftMetrics
    val p = pipeline(IngestConfig(_, txnAppId = Some("budget-redeliver")))
    val batch = batchOf("br" -> json("""{"id":1}"""), "br" -> json("{{{not json"))
    val before = GraftMetrics.dlqRecords.sum()
    p.processBatch(batch, 0)
    assert(GraftMetrics.dlqRecords.sum() - before === 1)
    p.processBatch(batch, 0)
    assert(GraftMetrics.dlqRecords.sum() - before === 1)
    assert(p.lake.read("_dlq").count() === 1)
    assert(p.lake.read("br").count() === 1)
  }

  // The landing coalesces to one task per RowsPerLandingTask rows: a
  // trigger-sized topic lands as one file, and a larger one keeps its
  // parse spread over several tasks rather than folded onto one core
  test("a JSON topic above RowsPerLandingTask rows parses and lands in several write tasks") {
    import org.apache.spark.sql.functions._
    val p = pipeline()
    val n = 2 * IngestPipeline.RowsPerLandingTask + 1
    val rows = spark.range(0, n, 1, 4).select(col("id"), concat(lit("n"), col("id")).as("name"))
    val batch = rows.select(lit("big").as("topic"), (col("id") % 4).cast("int").as("partition"),
      col("id").as("offset"), to_json(struct(col("id"), col("name"))).cast("binary").as("value"))
    val jobs = JobTimeline.record(spark.sparkContext)(p.processBatch(batch, 0))._2
    val writes = jobs.filter(_.site.contains("stageRowsLocked"))
    assert(writes.size === 1, jobs.map(_.site))
    info(s"${writes.head.tasks.last} write tasks for $n rows")
    assert(writes.head.tasks.last >= 2)
    val landed = p.lake.read("big").select(col("id").cast("long").as("id"), col("name"))
    assert(landed.count() === n)
    assert(landed.except(rows).isEmpty)
  }

  // A trigger runs interpreted: a flush of a shape the pipeline has seen
  // compiles nothing. With codegen, Spark's codegen cache (100 entries)
  // evicts a flush's classes before the next flush asks again, so every
  // flush would compile them anew.
  test("a second identical 5-topic flush compiles no class") {
    val p = pipeline()
    p.processBatch(fiveTopicBatch(1 to 5, Seq(1L, 2L, 3L)), 0)
    p.processBatch(fiveTopicBatch(10 to 14, Seq(4L, 5L, 6L)), 1)
    val compiles = compilesOf(p.processBatch(fiveTopicBatch(20 to 24, Seq(7L, 8L, 9L)), 2))
    info(s"$compiles classes compiled")
    assert(compiles === 0)
    jsonTopics.foreach(t => assert(p.lake.read(t).count() === 15, t))
  }

  // A started stream hands its trigger frames over on its own clone of the
  // caller's session; each trigger re-binds its frame into the pipeline's
  // trigger session and runs inside it. Every job of a streamed flush, the
  // RDD actions of the stream's own execution included, carries the trigger
  // confs, a repeated streamed flush compiles nothing, and the caller's
  // session keeps its confs.
  test("a started stream's triggers run every job under the trigger confs") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val key = "spark.sql.codegen.wholeStage"
    val p = pipeline(wh => IngestConfig(wh, triggerMs = 100L, dlqTable = None))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, Array[Byte])]
    def add(n: Int): Unit = mem.addData((0 until 5).map { i =>
      val id = 5 * n + i
      ("bs", 0, id.toLong, json(s"""{"id":$id,"name":"s$id"}"""))
    })
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties).map(_.getProperty(key)).orNull))
    }
    val before = spark.conf.getAll
    val q = p.start(mem.toDF().toDF("topic", "partition", "offset", "value"),
      Files.createTempDirectory("graft-budget-ckpt").toString)
    spark.sparkContext.addSparkListener(listener)
    var streamSession: org.apache.spark.sql.SparkSession = null
    val compiles = try {
      add(0)
      JobTimeline.record(spark.sparkContext)(q.processAllAvailable())
      // the session the stream cloned from this one at start
      streamSession = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.sparkSession
      add(1)
      JobTimeline.record(spark.sparkContext)(q.processAllAvailable())
      add(2)
      compilesOf(JobTimeline.record(spark.sparkContext)(q.processAllAvailable()))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    info(s"${seen.size} jobs, $compiles classes compiled in the third trigger")
    assert(seen.size > 0 && seen.asScala.forall(_ == "false"), seen)
    assert(compiles === 0)
    assert(!(streamSession eq spark), "the stream plans on a session of its own")
    assert(spark.conf.getAll === before)
    assert(p.lake.read("bs").count() === 15)
  }

  test("a second identical upsert-plus-dedup flush compiles no class") {
    val p = pipeline(wh => IngestConfig(wh,
      pks = Map("bu" -> Seq("id")), partitions = Map("bu" -> Seq("bucket(8, id)")),
      dedup = Map("bdd" -> DedupConfig("doc_id", "text"))))
    // flush n: ids 5n .. 5n+9, half of them updates of flush n-1; docs
    // 10n .. 10n+4, one of them a copy of an earlier doc
    def flush(n: Int): Unit = p.processBatch(batchOf(
      ((5 * n) until (5 * n + 10)).map(i =>
        "bu" -> json(s"""{"id":$i,"v":$n,"name":"u$i-$n"}""")) ++
        (0 until 5).map(j => "bdd" -> json(
          s"""{"doc_id":${10 * n + j},"text":"${
            if (j == 0 && n > 0) "doc number 1 says something new 1"
            else s"doc number ${10 * n + j} says something new ${10 * n + j}"}"}""")): _*), n)
    flush(0)
    flush(1)
    val compiles = compilesOf(flush(2))
    info(s"$compiles classes compiled")
    assert(compiles === 0)
    assert(p.lake.read("bu").count() === 20)
    assert(p.lake.read("bu").filter("v = 2").count() === 10)
    assert(p.lake.read("bdd_lshidx_docs").count() > 0)
  }

  // q105 shape: the docs of a repeated flush probe an index that earlier
  // flushes built. The trigger-sized probe collects the batch sketch, the
  // matching band rows and the candidates' shingles, and flags and admits
  // from the collected rows
  test("a repeated dedup-gated docs flush against an existing index (q105 shape) runs 7 jobs") {
    val p = pipeline(wh => IngestConfig(wh, dlqTable = None,
      dedup = Map("bq" -> DedupConfig("doc_id", "text"))))
    // flush n: docs 10n .. 10n+7; the first two copy flush n-1's docs
    // 10(n-1)+2 and 10(n-1)+3, which that flush admitted
    def flush(n: Int): Unit = p.processBatch(batchOf((0 until 8).map { j =>
      val src = if (j < 2 && n > 0) 10 * (n - 1) + j + 2 else 10 * n + j
      "bq" -> json(s"""{"doc_id":${10 * n + j},"text":"${
        (0 until 8).map(w => s"w${w}x$src").mkString(" ")}"}""")
    }: _*), n)
    flush(0)
    flush(1)
    spark.sparkContext.setJobGroup("budget-dedup", "ingest job budget")
    val jobs = try JobTimeline.record(spark.sparkContext)(flush(2))._2
      finally spark.sparkContext.clearJobGroup()
    info(s"${jobs.size} jobs: ${jobs.map(_.site).mkString("; ")}")
    assert(jobs.forall(_.group.contains("budget-dedup")), jobs)
    assert(jobs.size === 7)
    assert(p.lake.read("bq").filter("is_dup = 1").count() === 4)
    assert(p.lake.read("bq_lshidx_docs").count() === 8 + 6 + 6)
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

  // A DML statement masks the table's live deletion vectors with the same
  // per-DV-state broadcast set a read builds, so after a read it collects
  // no DV entries; a statement on a table no read has seen builds the set
  test("a DELETE under a DV state a read has built runs one job fewer") {
    def deleteJobs(readFirst: Boolean): Seq[JobTimeline.Job] = {
      val lake = new GraftLake(spark, Files.createTempDirectory("graft-budget-dv").toString)
      lake.write("t", (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v"))
      assert(lake.deleteWhere("t", $"id" % 10 === 0) === 100)
      if (readFirst) assert(lake.read("t").count() === 900)
      val (n, jobs) = JobTimeline.record(spark.sparkContext)(
        lake.deleteWhere("t", $"id" % 10 === 1))
      assert(n === 100)
      assert(lake.read("t").count() === 800)
      jobs
    }
    graft.catalog.GraftLake.invalidateCaches()
    val cold = deleteJobs(readFirst = false)
    val warm = deleteJobs(readFirst = true)
    info(s"${cold.size} jobs cold, ${warm.size} after a read: ${warm.map(_.site).mkString("; ")}")
    assert(warm.size === cold.size - 1)
  }

  private def customers(ids: Seq[Int], segment: Int => String, bump: Double): DataFrame =
    ids.map(i => (i.toLong, s"c$i", segment(i), i * 1.5 + bump))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

  test("a SQL MERGE into a partitioned PK table (q59 shape) runs 7 jobs in the caller's group") {
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
    // the key collect, the probe's DV stage (broadcast, exchange, write)
    // and the rows' write (two broadcasts, write: a batch within
    // KeyProbeCap is written in one task, without the rebalance exchange
    // that adaptive execution ran as a job of its own); the copy-on-write
    // upsert ran 13
    assert(groups.size === 7)
    assert(sqlLake.read("cust").count() === 40 + 7)
    assert(sqlLake.read("cust").filter("c_mktsegment = 'MOVED'").count() === 10)
  }

  /** Runs the row-level statement `body` in job group `group`, and checks
    * that its commits remove no live data file and add one deletion
    * vector. Returns its jobs' call sites. */
  private def rowLevelJobs(lake: GraftLake, t: String, group: String)(body: => Unit): Seq[String] = {
    val files = lake.dataFiles(t).toSet
    val dvs = lake.liveDvs(t).toSet
    spark.sparkContext.setJobGroup(group, "row-level job budget")
    val jobs = try JobTimeline.record(spark.sparkContext)(body)._2
      finally spark.sparkContext.clearJobGroup()
    info(s"${jobs.size} jobs: ${jobs.map(_.site).mkString("; ")}")
    assert(jobs.forall(_.group.contains(group)), jobs.map(_.group))
    assert(files.subsetOf(lake.dataFiles(t).toSet), "the statement removed a data file")
    assert((lake.liveDvs(t).toSet -- dvs).size === 1, "one DV per statement")
    jobs.map(_.site)
  }

  private def orders(keys: Seq[Int]): DataFrame =
    keys.map(k => (k.toLong, if (k % 3 == 0) "F" else "O", k * 1000.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")

  // The general MERGE masks the target rows its actions update or delete
  // with one DV and appends the updated and inserted rows in the same
  // commit. The full-outer join runs once, into a cache of the rows an
  // action fires on: the cardinality check over it (5 jobs under adaptive
  // execution), then the DV stage (2) and the rows' write (1) from it.
  test("a general SQL MERGE (q60 shape) runs 8 jobs and rewrites no data file") {
    sqlLake.write("ord_gm", orders(1 to 60))
    orders((2 to 120 by 2)).createOrReplaceTempView("budget_gm_src")
    val sites = rowLevelJobs(sqlLake, "ord_gm", "budget-general-merge") {
      spark.sql(
        """MERGE INTO gjb.ord_gm t USING budget_gm_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_totalprice > 40000 THEN UPDATE SET o_orderstatus = 'B'
          |WHEN MATCHED AND s.o_totalprice < 10000 THEN DELETE
          |WHEN NOT MATCHED AND s.o_totalprice > 100000 THEN
          |  INSERT (o_orderkey, o_orderstatus, o_totalprice) VALUES (s.o_orderkey, 'N', s.o_totalprice)
          |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 5000 THEN DELETE""".stripMargin)
    }
    assert(sites.size === 8)
    val rows = sqlLake.read("ord_gm")
    // 60 rows, 4 matched deletes, 2 NMBS deletes, 10 inserts
    assert(rows.count() === 60 - 4 - 2 + 10)
    assert(rows.filter("o_orderstatus = 'B'").count() === 10)
  }

  // A subquery condition takes the same DV write over the re-bound scan:
  // its DV stage is the whole statement
  test("a SQL DELETE with a subquery condition runs 3 jobs and rewrites no data file") {
    sqlLake.write("ord_sq", orders(1 to 60), partitions = Seq("o_orderstatus"))
    (1 to 60 by 7).toDF("k").createOrReplaceTempView("budget_sq_keys")
    val sites = rowLevelJobs(sqlLake, "ord_sq", "budget-subquery-delete") {
      spark.sql("DELETE FROM gjb.ord_sq WHERE o_orderkey IN (SELECT k FROM budget_sq_keys)")
    }
    assert(sites.size === 3)
    assert(sqlLake.read("ord_sq").count() === 60 - 9)
  }

  // CDC apply: the deleted keys mask the replica rows that hold them with
  // one DV (its stage, 3 jobs); the inserts land through the upsert, which
  // matches nothing (6: its key collect, the broadcast of the new DV set,
  // its empty DV stage and its rows' write)
  test("a CDC applyChanges with deletes runs 9 jobs and rewrites no data file") {
    sqlLake.write("rep", orders(1 to 60), partitions = Seq("bucket(4, o_orderkey)"),
      pks = Seq("o_orderkey"))
    val changes = (Seq(3, 17, 40).map(k => (k.toLong, 0.0, "delete")) ++
      Seq(61, 62).map(k => (k.toLong, k * 1000.0, "insert")))
      .toDF("o_orderkey", "__n_o_totalprice", "change_type")
    val sites = rowLevelJobs(sqlLake, "rep", "budget-apply-changes") {
      graft.operators.AnalyticsOps.applyChanges(sqlLake, "rep", changes,
        Seq("o_orderkey"), Seq("o_totalprice"))
    }
    assert(sites.size === 9)
    assert(sqlLake.read("rep").count() === 60 - 3 + 2)
  }

  private def mergeCustomers(table: String, src: String): DataFrame = spark.sql(
    s"""MERGE INTO gjb.$table t USING $src s
       |ON t.c_custkey = s.c_custkey
       |WHEN MATCHED THEN UPDATE SET
       |  c_name = s.c_name, c_mktsegment = s.c_mktsegment, c_acctbal = s.c_acctbal
       |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_mktsegment, c_acctbal)
       |  VALUES (s.c_custkey, s.c_name, s.c_mktsegment, s.c_acctbal)""".stripMargin)

  // The upsert plans no per-statement value into generated code: its key
  // set reaches the probe as a local relation and its stamp through the
  // class's references. The table carries a deletion vector before the
  // warm-up MERGE, as it does after any MERGE with matches, so the warm-up
  // and the measured MERGE plan the same shape.
  test("a second identical SQL MERGE (q59 shape) compiles no class") {
    val lake = sqlLake
    lake.write("cust_cg", customers(1 to 40, i => s"SEG${i % 4}", 0),
      partitions = Seq("c_mktsegment"), pks = Seq("c_custkey"))
    lake.deleteWhere("cust_cg", org.apache.spark.sql.functions.col("c_custkey") === 40L)
    customers((3 to 60 by 3), i => if (i % 2 == 0) "MOVED" else s"SEG${i % 4}", 10)
      .createOrReplaceTempView("budget_merge_cg_src")
    mergeCustomers("cust_cg", "budget_merge_cg_src")
    val compiles = compilesOf(mergeCustomers("cust_cg", "budget_merge_cg_src"))
    info(s"$compiles classes compiled")
    assert(compiles === 0)
    assert(lake.read("cust_cg").count() === 39 + 7)
  }

  // Spark lists more than 32 explicit paths
  // (spark.sql.sources.parallelPartitionDiscovery.threshold) with a job at
  // plan time; the lake's file index lists the files' directories itself,
  // so no read plans a job at any file count, and an upsert's probe costs
  // the same jobs above the threshold as below it.
  test("reads of a 40-file table plan no job, and its upsert runs a 30-file table's jobs") {
    val wh = Files.createTempDirectory("graft-budget-plan").toString
    graft.catalog.GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, wh)
    def build(t: String, files: Int): Unit = {
      lake.write(t, Seq((0L, "v0")).toDF("id", "v"), pks = Seq("id"))
      (1 until files).foreach(i => lake.append(t, Seq((i.toLong, s"v$i")).toDF("id", "v")))
      assert(lake.liveFileCount(t) === files)
    }
    build("t40", 40)
    build("t30", 30)
    spark.conf.set("spark.sql.catalog.gplan", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gplan.warehouse", wh)
    try {
      val (_, planJobs) = JobTimeline.record(spark.sparkContext) {
        Seq(lake.read("t40"),
          lake.readWhere("t40", org.apache.spark.sql.functions.col("id") > 5L),
          spark.sql("SELECT id, v FROM gplan.t40 WHERE id > 5"))
          .foreach(_.queryExecution.executedPlan)
      }
      assert(planJobs.isEmpty, s"planning ran jobs: ${planJobs.map(_.site)}")
      def upsertJobs(t: String): Seq[String] = JobTimeline.record(spark.sparkContext) {
        lake.upsert(t, Seq((3L, "u3"), (99L, "n")).toDF("id", "v"))
      }._2.map(_.site)
      val at40 = upsertJobs("t40")
      val at30 = upsertJobs("t30")
      info(s"upsert jobs: ${at40.mkString(", ")}")
      assert(at40.size === at30.size, s"40 files: $at40; 30 files: $at30")
      assert(lake.read("t40").count() === 41 && lake.read("t30").count() === 31)
    } finally {
      spark.conf.unset("spark.sql.catalog.gplan")
      spark.conf.unset("spark.sql.catalog.gplan.warehouse")
    }
  }

  // Merge-on-read: the flush writes its batch and one deletion vector and
  // leaves every existing data file where it is, whatever the table size.
  test("a 100-row upsert into a 10k-row bucket(8, id) table removes no file and adds at most 8 files and 1 DV") {
    val wh = Files.createTempDirectory("graft-budget-mor")
    graft.catalog.GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, wh.toString)
    lake.write("acct", spark.range(10000).selectExpr("id", "id * 3 AS v", "concat('n', id) AS name"),
      partitions = Seq("bucket(8, id)"), pks = Seq("id"))
    def files(dir: String): Map[String, Long] = {
      val root = wh.resolve(s"acct/$dir")
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.size(p)).toMap
        finally s.close()
      }
    }
    val dataBefore = files("data")
    val liveBefore = lake.liveFileCount("acct")
    val dvBefore = files("_dv")
    // 70 updates of existing ids, 30 inserts
    lake.upsert("acct", ((0L until 7000L by 100L) ++ (20000L until 20030L)).toDF("id")
      .selectExpr("id", "-1L AS v", "concat('u', id) AS name"))
    val dataAfter = files("data")
    val added = dataAfter -- dataBefore.keySet
    val dvAdded = files("_dv") -- dvBefore.keySet
    // no committed file was renamed or deleted, and the manifest removed none
    assert(dataBefore.forall { case (p, n) => dataAfter.get(p).contains(n) },
      "the upsert moved or rewrote a data file")
    assert(lake.liveFileCount("acct") === liveBefore + added.size,
      "the upsert removed a live file")
    assert(added.size <= 8, s"${added.size} data files added")
    assert(dvAdded.size === 1, s"${dvAdded.size} DV files added")
    val addedBytes = added.values.sum + dvAdded.values.sum
    val liveBytes = dataBefore.values.sum
    info(s"added $addedBytes B against $liveBytes B live")
    assert(addedBytes < liveBytes)
    assert(lake.read("acct").count() === 10030)
    assert(lake.read("acct").filter("v = -1").count() === 100)
  }

  /** The bucket directory of a data file. */
  private def bucketOf(file: String): String = new org.apache.hadoop.fs.Path(file).getParent.getName

  // A batch within KeyProbeCap is one task's work: its last-wins window
  // and its rows' write run where the batch was coalesced, with no
  // exchange, and the write's partition sort still gives each touched
  // bucket one file.
  test("a 100-row upsert into a bucket(8, id) table writes its rows with no shuffle, one file per bucket") {
    graft.catalog.GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, Files.createTempDirectory("graft-budget-up").toString)
    lake.write("acct", spark.range(7000).selectExpr("id", "id * 3 AS v"),
      partitions = Seq("bucket(8, id)"), pks = Seq("id"))
    val before = lake.dataFiles("acct").toSet
    // 70 updates and 30 inserts in 6 source partitions, read without a
    // shuffle of their own
    val batch = spark.range(0L, 7000L, 100L, 4).union(spark.range(20000L, 20030L, 1L, 2))
      .selectExpr("id", "-1L AS v")
    // landed as a trigger lands it: through a lake on the trigger session
    val trigger = new GraftLake(IngestPipeline.triggerSession(spark), lake.warehouseDir)
    val (_, jobs) = JobTimeline.record(spark.sparkContext)(trigger.upsert("acct", batch))
    val writes = jobs.filter(_.site.contains("stageRowsLocked"))
    info(jobs.map(j => s"${j.site} shuffle=${j.shuffleWriteBytes}").mkString("; "))
    assert(writes.nonEmpty, jobs.map(_.site))
    assert(writes.map(_.shuffleWriteBytes).sum === 0L)
    val added = lake.dataFiles("acct").filterNot(before)
    assert(added.size === 8 && added.map(bucketOf).distinct.size === 8, added)
    assert(lake.read("acct").count() === 7030)
    assert(lake.read("acct").filter("v = -1").count() === 100)
  }

  // Compaction sizes its rewrite from the manifest's footer row counts
  // and file sizes: a table within one task's bounds is rewritten by one
  // job with no exchange and no count job, and its live DV is folded in.
  test("auto-compaction of a small bucket(8, id) table with a live DV runs one job with no shuffle") {
    graft.catalog.GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, Files.createTempDirectory("graft-budget-compact").toString)
    lake.write("acct", spark.range(400).selectExpr("id", "id * 3 AS v").repartition(2),
      partitions = Seq("bucket(8, id)"), pks = Seq("id"))
    lake.append("acct", spark.range(400, 600).selectExpr("id", "id * 3 AS v"))
    lake.upsert("acct", (0L until 50L).toDF("id").selectExpr("id", "-1L AS v"))
    assert(lake.liveDvs("acct").nonEmpty)
    // the read also builds the DV state the rewrite masks with
    val rows = lake.read("acct").selectExpr("id", "v").collect().map(_.toString).sorted.toSeq
    assert(rows.size === 600)
    assert(lake.dataFiles("acct").size > 8)
    lake.setTableProperty("acct", "graft.policy.autoCompact.minFiles", "2")
    val trigger = new GraftLake(IngestPipeline.triggerSession(spark), lake.warehouseDir)
    val (_, jobs) = JobTimeline.record(spark.sparkContext)(trigger.runStandingPolicies("acct"))
    info(jobs.map(j => s"${j.site} shuffle=${j.shuffleWriteBytes}").mkString("; "))
    assert(lake.history("acct").collect().map(_.getString(2)).count(_ == "compact") === 1)
    assert(jobs.size === 1 && jobs.head.site.contains("compactAttempt"), jobs.map(_.site))
    assert(jobs.head.shuffleWriteBytes === 0L)
    val files = lake.dataFiles("acct")
    assert(files.size === 8 && files.map(bucketOf).distinct.size === 8, files)
    assert(lake.liveDvs("acct").isEmpty)
    assert(lake.read("acct").selectExpr("id", "v").collect().map(_.toString).sorted.toSeq === rows)
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

  // `_inserted_at` reaches the generated code through the class's
  // references, not as a literal, so each INSERT does not compile its
  // write stage anew. The source is a range: a local relation would be
  // projected on the driver, never in generated code.
  test("a second identical SQL INSERT (q61 shape) compiles no class") {
    val lake = sqlLake // registers the gjb catalog
    spark.sql(
      """CREATE TABLE gjb.ord_stamp
        |(o_orderkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE)
        |TBLPROPERTIES ('partitions' = 'year(o_orderdate)')""".stripMargin)
    spark.range(1, 51).selectExpr("id AS o_orderkey",
      "make_timestamp(1992 + id % 7, 3, 1, 0, 0, 0) AS o_orderdate",
      "CAST(id * 2.5 AS DOUBLE) AS o_totalprice")
      .createOrReplaceTempView("budget_stamp_b")
    def insert(): Unit = spark.sql(
      "INSERT INTO gjb.ord_stamp (o_orderkey, o_orderdate, o_totalprice) SELECT * FROM budget_stamp_b")
    insert()
    val compiles = compilesOf(insert())
    info(s"$compiles classes compiled")
    assert(compiles === 0)
    val stamps = lake.read("ord_stamp").groupBy("_inserted_at").count().collect()
    assert(stamps.map(_.getLong(1)).sorted.toSeq === Seq(50L, 50L))
  }
}
