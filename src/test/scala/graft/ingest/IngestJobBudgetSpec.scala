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
  // one write of one file, and the dead letters in one count and one
  // append. The parent of this shape ran 17 jobs: an Arrow schema job,
  // per JSON topic an emptiness check and a re-inference, and a DLQ count
  // of one task per parked partition.
  test("a 5-topic flush with malformed and conflicting records runs 8 jobs, one file per table and one DLQ commit") {
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
    // the profile, five landing writes, the DLQ count and the DLQ append
    assert(jobs.size === 8, jobs.map(_.site))
    tables.foreach(t =>
      assert(p.lake.liveFileCount(t) - filesBefore(t) === 1, s"new data files of $t"))
    val dlqCount = jobs.filter(_.site.contains("landDeadLetters"))
    assert(dlqCount.size === 1, jobs.map(_.site))
    assert(dlqCount.head.tasks.sum <= spark.sparkContext.defaultParallelism + 1,
      dlqCount.head.tasks)
    // every dead letter of the batch lands in ONE _dlq commit
    assert(p.lake.versions("_dlq").size === dlqVersions + 1)
    val parked = p.lake.read("_dlq").select("target_table", "error").collect()
    assert(parked.length === 8)
    assert(parked.map(_.getString(0)).toSet === jsonTopics.toSet)
    assert(parked.count(_.getString(1) == "unparseable JSON") === 4)
    jsonTopics.foreach(t => assert(p.lake.read(t).count() === 8, t))
    assert(p.lake.read("barrow").count() === 5)
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

  test("a SQL MERGE into a partitioned PK table (q59 shape) runs 8 jobs in the caller's group") {
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
    // and the rows' write (two broadcasts, exchange, write); the
    // copy-on-write upsert ran 13
    assert(groups.size === 8)
    assert(sqlLake.read("cust").count() === 40 + 7)
    assert(sqlLake.read("cust").filter("c_mktsegment = 'MOVED'").count() === 10)
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
    val historyBefore = files("_history")
    val dvBefore = files("_dv")
    // 70 updates of existing ids, 30 inserts
    lake.upsert("acct", ((0L until 7000L by 100L) ++ (20000L until 20030L)).toDF("id")
      .selectExpr("id", "-1L AS v", "concat('u', id) AS name"))
    val dataAfter = files("data")
    val added = dataAfter -- dataBefore.keySet
    val dvAdded = files("_dv") -- dvBefore.keySet
    assert(dataBefore.keySet.subsetOf(dataAfter.keySet), "the upsert removed a data file")
    assert(files("_history") === historyBefore, "the upsert moved files into _history/")
    assert(added.size <= 8, s"${added.size} data files added")
    assert(dvAdded.size === 1, s"${dvAdded.size} DV files added")
    val addedBytes = added.values.sum + dvAdded.values.sum
    val liveBytes = dataBefore.values.sum
    info(s"added $addedBytes B against $liveBytes B live")
    assert(addedBytes < liveBytes)
    assert(lake.read("acct").count() === 10030)
    assert(lake.read("acct").filter("v = -1").count() === 100)
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
