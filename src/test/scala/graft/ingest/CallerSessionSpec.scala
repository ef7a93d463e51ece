package graft.ingest

import java.nio.file.Files

import graft.{PauseGate, SparkTestSession}
import graft.catalog.GraftLake
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine plans on sessions it derives and never changes the
  * caller's: a query on the caller's session plans as the caller
  * configured it while a trigger is in flight, and the caller's explicit
  * confs are the same before and after a flush, a streamed trigger and a
  * lake upsert. */
class CallerSessionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def json(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("a query on the caller's session plans adaptive, with codegen, while a trigger is paused") {
    val p = new IngestPipeline(spark, IngestConfig(
      Files.createTempDirectory("graft-caller").toString, triggerMs = 100L, dlqTable = None))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, Array[Byte])]
    val gate = new PauseGate
    mem.addData((0 until 5).map(i => ("cs", 0, i.toLong, json(s"""{"id":$i}"""))))
    val q = p.start(mem.toDF().toDF("topic", "partition", "offset", "value").filter(gate.open),
      Files.createTempDirectory("graft-caller-ckpt").toString)
    try {
      assert(gate.awaitEntered(), "the trigger never reached the gate")
      val df = spark.range(0, 1000, 1, 4).groupBy(col("id") % 3).count()
      assert(df.collect().length === 3)
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan)
      assert(find(plan)(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty, plan)
      gate.release()
      q.processAllAvailable()
    } finally {
      gate.release()
      q.stop()
    }
    assert(p.lake.read("cs").count() === 5)
  }

  test("a flush, a streamed trigger and a lake upsert leave the caller's confs as they were") {
    val wh = Files.createTempDirectory("graft-caller-confs").toString
    val before = spark.conf.getAll
    val p = new IngestPipeline(spark, IngestConfig(wh, triggerMs = 100L,
      pks = Map("cu" -> Seq("id"))))
    p.processBatch(Seq(("cu", 0, 0L, json("""{"id":1,"v":"a"}"""))).toDF(
      "topic", "partition", "offset", "value"), 0)
    assert(spark.conf.getAll === before)

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, Array[Byte])]
    mem.addData(("cu", 0, 1L, json("""{"id":2,"v":"b"}""")))
    val q = p.start(mem.toDF().toDF("topic", "partition", "offset", "value"), s"$wh-ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(spark.conf.getAll === before)

    new GraftLake(spark, wh).upsert("cu", Seq((1L, "c")).toDF("id", "v"))
    assert(spark.conf.getAll === before)
    assert(p.lake.read("cu").select("id", "v").as[(Long, String)].collect().toMap ===
      Map(1L -> "c", 2L -> "b"))
  }

  test("a derived session is made once per state of its source's confs") {
    val caller = spark.newSession()
    val first = GraftLake.writeSession(caller)
    assert(GraftLake.writeSession(caller) eq first)
    assert(first.conf.get("spark.sql.parquet.compression.codec") === "zstd")
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    val next = GraftLake.writeSession(caller)
    assert(!(next eq first))
    assert(next.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(next.conf.get("spark.sql.parquet.compression.codec") === "zstd")
    assert(!caller.conf.getAll.contains("spark.sql.parquet.compression.codec"))
  }
}
