package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import graft.metrics.GraftMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.JobTimeline
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every site that parks a record reaches the `_dlq` table through one
  * append per flush. Each test drives one site through `processBatch` and
  * pins the flush's dead letters — value, partition, offset, error and
  * target table — and that `dlq.records.total` grew by the rows the
  * append committed. The landing counts the dead letters first only when
  * no site proved that there are some: the profile's triage verdict and
  * a topic without one parseable record prove it, every other site does
  * not. */
class DeadLetterSitesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pipeline(config: String => IngestConfig = IngestConfig(_)): IngestPipeline = {
    graft.catalog.GraftLake.invalidateCaches()
    new IngestPipeline(spark, config(Files.createTempDirectory("graft-dlq-sites").toString))
  }

  /** Records of one batch on partition 0, offsets from 0; a null record
    * is a tombstone. */
  private def batchOf(records: (String, Array[Byte])*): DataFrame =
    records.zipWithIndex.map { case ((topic, v), i) => (topic, 0, i.toLong, v) }
      .toDF("topic", "partition", "offset", "value")

  private def json(s: String): Array[Byte] = Option(s).map(_.getBytes("UTF-8")).orNull

  private def ipcIdX(id: Long, t: DataType, x: Any): Array[Byte] =
    ArrowIpc.encode(StructType(Seq(StructField("id", LongType), StructField("x", t))),
      Seq(Row(id, x)))

  /** The DLQ's rendering of an Arrow payload: Spark's `base64`, which
    * breaks its lines as MIME does. */
  private def base64(b: Array[Byte]): String = java.util.Base64.getMimeEncoder.encodeToString(b)

  private type Letter = (String, Int, Long, String, String)

  /** Flushes `batch` and returns the `_dlq` rows it added, sorted. Asserts
    * that `dlq.records.total` grew by exactly those rows, and that a
    * count job ran before the append unless the flush `proven` some. */
  private def deadLetters(p: IngestPipeline, batch: DataFrame, id: Long,
      proven: Boolean): Seq[Letter] = {
    def rows(): Seq[Letter] =
      if (!p.lake.tableExists("_dlq") || p.lake.versions("_dlq").isEmpty) Nil
      else p.lake.read("_dlq").select("value", "partition", "offset", "error", "target_table")
        .as[Letter].collect().toSeq
    val before = rows()
    val metric = GraftMetrics.dlqRecords.sum()
    val jobs = JobTimeline.record(spark.sparkContext)(p.processBatch(batch, id))._2
    val added = rows().diff(before)
    assert(GraftMetrics.dlqRecords.sum() - metric === added.size, "dlq.records.total")
    assert(jobs.count(_.site.contains("landDeadLetters")) === (if (proven) 0 else 1),
      jobs.map(_.site))
    added.sortBy(l => (l._5, l._3, String.valueOf(l._1)))
  }

  private val conflicting = """{"id":3,"a":"2024-03-01T12:00:00Z"}"""
  private val conflictError = "Cannot unify incompatible types with topic schema: " +
    "field 'a': topic type int vs record type timestamp (sample: \"2024-03-01T12:00:00Z\")"

  private def triageBatch(topic: String): DataFrame = batchOf(
    topic -> json("""{"id":2,"a":2}"""), topic -> json(conflicting),
    topic -> json("{{{not json"))

  test("triage with the profile's verdict parks the conflicting record without a count job") {
    val p = pipeline()
    p.processBatch(batchOf("tp" -> json("""{"id":1,"a":1}""")), 0)
    assert(deadLetters(p, triageBatch("tp"), 1, proven = true) === Seq(
      (conflicting, 0, 1L, conflictError, "tp"),
      ("{{{not json", 0, 2L, "unparseable JSON", "tp")))
    assert(p.lake.read("tp").count() === 2)
  }

  test("triage without a profiled verdict parks the same records after a count") {
    val p = pipeline()
    p.verdictFromProfile = false
    p.processBatch(batchOf("tq" -> json("""{"id":1,"a":1}""")), 0)
    assert(deadLetters(p, triageBatch("tq"), 1, proven = false) === Seq(
      (conflicting, 0, 1L, conflictError, "tq"),
      ("{{{not json", 0, 2L, "unparseable JSON", "tq")))
    assert(p.lake.read("tq").count() === 2)
  }

  // inference types an array by its first element, so `[1,"x"]` infers as
  // an array of longs that from_json cannot parse; inference also finds no
  // schema in `{}`, which from_json parses into an all-null row
  test("the corrupt-record channel parks what from_json rejects, including a record inference accepts") {
    val p = pipeline()
    val batch = batchOf("tc" -> json("""{"id":1,"xs":[1,2]}"""),
      "tc" -> json("""{"id":2,"xs":[1,"x"]}"""), "tc" -> json("{}"),
      "tc" -> json("{{{not json"))
    assert(deadLetters(p, batch, 0, proven = false) === Seq(
      ("""{"id":2,"xs":[1,"x"]}""", 0, 1L, "unparseable JSON", "tc"),
      ("{{{not json", 0, 3L, "unparseable JSON", "tc")))
    assert(p.lake.read("tc").count() === 2)
  }

  test("a tombstone parks through the corrupt-record channel") {
    val p = pipeline()
    assert(deadLetters(p, batchOf("tt" -> json("""{"id":1}"""), "tt" -> json(null)), 0,
      proven = false) === Seq((null, 0, 1L, "unparseable JSON", "tt")))
    assert(p.lake.read("tt").count() === 1)
  }

  test("a topic without one parseable record parks whole without a count job") {
    val p = pipeline()
    p.processBatch(batchOf("tu" -> json("""{"id":1}""")), 0)
    assert(deadLetters(p, batchOf("tu" -> json("{{{not json"), "tu" -> json("[1, 2]")), 1,
      proven = true) === Seq(
      ("{{{not json", 0, 0L, "unparseable JSON", "tu"),
      ("[1, 2]", 0, 1L, "unparseable JSON", "tu")))
    assert(p.lake.read("tu").count() === 1)
  }

  test("the constraint gate parks the violating row as JSON with its constraint") {
    val p = pipeline()
    p.processBatch(batchOf("tg" -> json("""{"id":1,"price":10.0}""")), 0)
    p.lake.addConstraint("tg", "pos", "price >= 0")
    val batch = batchOf("tg" -> json("""{"id":2,"price":5.0}"""),
      "tg" -> json("""{"id":3,"price":-1.0}"""))
    assert(deadLetters(p, batch, 1, proven = false) === Seq(
      ("""{"id":3,"price":-1.0}""", -1, 1L, "CHECK constraint violation: pos", "tg")))
    assert(p.lake.read("tg").count() === 2)
  }

  test("evolution triage parks the records that conflict with the table") {
    val p = pipeline(IngestConfig(_, topic2table = Map("te2" -> "te")))
    p.processBatch(batchOf("te" -> json("""{"a":1}""")), 0)
    val batch = batchOf("te2" -> json("""{"b":5}"""),
      "te2" -> json("""{"a":"2024-03-01T12:00:00Z","b":6}"""))
    val letters = deadLetters(p, batch, 1, proven = false)
    assert(letters.map(l => (l._1, l._2, l._3, l._5)) === Seq(
      ("""{"a":"2024-03-01T12:00:00Z","b":6}""", 0, 1L, "te")))
    assert(letters.head._4.startsWith("Incompatible with table 'te' schema: "), letters)
    assert(p.lake.read("te").count() === 2)
  }

  test("Arrow triage parks a conflicting and an undecodable payload base64-encoded") {
    val p = pipeline()
    val good = ipcIdX(1L, StringType, "a")
    val conflict = ipcIdX(2L, LongType, 9L)
    val undecodable = Array[Byte](-1, -1, -1, -1) ++ "garbage!".getBytes("UTF-8")
    val letters = deadLetters(p,
      batchOf("ta" -> good, "ta" -> conflict, "ta" -> undecodable), 0, proven = false)
    assert(letters.map(l => (l._1, l._2, l._3, l._5)) === Seq(
      (base64(conflict), 0, 1L, "ta"), (base64(undecodable), 0, 2L, "ta")))
    assert(letters(0)._4 === "Cannot unify incompatible types with topic schema: " +
      "field 'x': topic type string vs record type bigint (sample: 9)")
    assert(letters(1)._4.startsWith("undecodable Arrow IPC: "), letters)
    assert(p.lake.read("ta").count() === 1)
  }
}
