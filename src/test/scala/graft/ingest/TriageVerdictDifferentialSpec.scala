package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.JobTimeline
import org.scalatest.funsuite.AnyFunSuite

/** A JSON batch that conflicts with its topic's cached schema is triaged
  * record by record. The verdict — which records stay, and the union of
  * their schemas — comes from the profile job, or from triage's own jobs
  * over the split batch (a topic's first conflicting batch). The same
  * batches through both, against the same seed, must land the same rows
  * under the same table schema and park the same dead letters, error text
  * included. */
class TriageVerdictDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val seedRecord = """{"id":1,"a":1,"name":"w","s":{"x":1,"y":"q"}}"""
  private val conflict = """{"id":90,"a":"2024-03-01T12:00:00Z","name":"c"}"""

  /** Records of one batch of topic `tv`, over two source partitions; a
    * null record is a tombstone. */
  private def batchOf(records: Seq[String]): DataFrame =
    records.zipWithIndex.map { case (r, i) =>
      ("tv", i % 2, i.toLong, Option(r).map(_.getBytes("UTF-8")).orNull)
    }.toDF("topic", "partition", "offset", "value")

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.filterNot(_ == "_inserted_at").sorted
      .map(c => col(s"`$c`").cast("string")): _*)
      .collect().map(_.toString).toSeq.sorted

  /** (landed rows, table schema, `_dlq` rows) after a seeding batch and
    * `records`, with the verdict from the profile or from triage's jobs;
    * asserts which of the two computed it. */
  private def run(records: Seq[String], fromProfile: Boolean): Seq[Seq[String]] = {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark,
      IngestConfig(Files.createTempDirectory("graft-triage-diff").toString))
    p.verdictFromProfile = fromProfile
    p.processBatch(batchOf(Seq(seedRecord, """{"id":2,"a":2,"name":"v"}""")), 0)
    val jobs = JobTimeline.record(spark.sparkContext)(p.processBatch(batchOf(records), 1))._2
    val verdictJobs = jobs.map(_.site).filter(s => s.contains("triage") || s.contains("schemasOf"))
    if (fromProfile) assert(verdictJobs.isEmpty, verdictJobs)
    else assert(verdictJobs.nonEmpty, jobs.map(_.site))
    val landed = p.lake.read("tv")
    Seq(rows(landed), Seq(landed.schema.filterNot(_.name == "_inserted_at").mkString(",")),
      rows(p.lake.read("_dlq")))
  }

  private def sameVerdict(records: String*): Seq[Seq[String]] = {
    val fromProfile = run(records, fromProfile = true)
    val fromJobs = run(records, fromProfile = false)
    Seq("landed rows", "table schema", "dead letters").zip(fromProfile.zip(fromJobs))
      .foreach { case (what, (a, b)) => assert(a === b, what) }
    fromProfile
  }

  private def parkedErrors(result: Seq[Seq[String]]): Seq[String] = result(2)

  test("a top-level and a nested type conflict park the same records with the same errors") {
    val r = sameVerdict(conflict, """{"id":3,"a":3,"name":"n"}""",
      """{"id":4,"a":4,"s":{"x":"2024-03-01T12:00:00Z","y":"z"}}""",
      """{"id":5,"a":5,"s":{"x":5,"y":"z"}}""")
    assert(parkedErrors(r).size === 2)
    assert(parkedErrors(r).exists(_.contains("field 's'")), parkedErrors(r))
    assert(r.head.size === 2 + 2)
  }

  test("an int to double widening is kept and widens the landed column") {
    val r = sameVerdict(conflict, """{"id":6,"a":6.5,"name":"d"}""", """{"id":7,"a":7}""")
    assert(parkedErrors(r).size === 1)
    assert(r(1).head.contains("StructField(a,DoubleType"), r(1))
  }

  test("a kept record that adds a field lands it") {
    val r = sameVerdict(conflict, """{"id":8,"a":8,"extra":"e"}""")
    assert(r(1).head.contains("extra"), r(1))
    assert(parkedErrors(r).size === 1)
  }

  test("two kept records that add one field with different types land under the seed") {
    val r = sameVerdict(conflict, """{"id":9,"a":9,"nf":1}""",
      """{"id":10,"a":10,"nf":"2024-03-01T12:00:00Z"}""")
    assert(!r(1).head.contains("nf"), r(1))
    assert(r.head.size === 2 + 2)
  }

  test("unparseable records and conflicts in one batch") {
    val r = sameVerdict(conflict, "{{{not json", "[1, 2]", """{"id":11,"a":11}""",
      """{"id":12,"a":"x-2024-03-01","name":"s"}""")
    assert(parkedErrors(r).count(_.contains("unparseable JSON")) === 2, parkedErrors(r))
    assert(parkedErrors(r).size === 4)
  }

  test("a batch in which every record conflicts lands nothing") {
    val r = sameVerdict(conflict, """{"id":13,"a":"2024-03-02T12:00:00Z"}""",
      """{"id":14,"s":{"x":"2024-03-01T12:00:00Z"}}""")
    assert(r.head.size === 2)
    assert(parkedErrors(r).size === 3)
  }

  test("a tombstone in a conflicting batch parks as unparseable") {
    val r = sameVerdict(conflict, null, """{"id":15,"a":15}""")
    assert(parkedErrors(r).count(_.contains("unparseable JSON")) === 1, parkedErrors(r))
    assert(r.head.size === 2 + 1)
  }
}
