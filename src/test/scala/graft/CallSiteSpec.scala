package graft

import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.{CapturedTasks, JobTimeline}
import org.scalatest.funsuite.AnyFunSuite

/** `JobTimeline` call sites: every job of a piece of engine work names an
  * engine frame, including the jobs Spark submits from its own threads (a
  * broadcast, a stage that adaptive execution materializes), whose stacks
  * hold no engine frame. */
class CallSiteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def unnamed(jobs: Seq[JobTimeline.Job]): Seq[JobTimeline.Job] =
    jobs.filterNot(j => JobTimeline.isEngineFrame(j.site))

  test("isEngineFrame drops only JobTimeline's own frames, not a caller named like it") {
    assert(JobTimeline.isEngineFrame(
      "graft.catalog.JobTimelineProbe.run(JobTimelineProbe.scala:12)"))
    assert(!JobTimeline.isEngineFrame(
      "org.apache.spark.sql.graft.JobTimeline$.record(JobTimeline.scala:52)"))
    assert(!JobTimeline.isEngineFrame(
      "org.apache.spark.sql.graft.JobTimeline$$anon$1.onJobStart(JobTimeline.scala:45)"))
    assert(!JobTimeline.isEngineFrame("graft.perf.Perf$.main(Perf.scala:30)"))
  }

  test("a broadcast-exchange job names the engine frame of its SQL execution") {
    val small = (1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val (n, jobs) = JobTimeline.record(spark.sparkContext) {
      spark.range(0, 1000).join(broadcast(small), "id").count()
    }
    assert(n === 10)
    jobs.foreach(j => info(s"job ${j.id}: ${j.site}"))
    assert(jobs.size >= 2, jobs)
    assert(unnamed(jobs).isEmpty, unnamed(jobs))
    assert(jobs.forall(_.site.contains("CallSiteSpec")), jobs)
  }

  test("jobs of a CapturedTasks task, adaptive stages included, name an engine frame") {
    def grouped(m: Int) = spark.range(0, 2000).groupBy((col("id") % m).as("k")).count()
    val (counts, jobs) = JobTimeline.record(spark.sparkContext) {
      val tasks = Seq(7, 11).map(m => CapturedTasks.submit(spark)(grouped(m).collect().length))
      tasks.map(CapturedTasks.await(_))
    }
    assert(counts === Seq(7, 11))
    jobs.foreach(j => info(s"job ${j.id}: ${j.site}"))
    assert(jobs.size >= 4, jobs)
    assert(unnamed(jobs).isEmpty, unnamed(jobs))
  }
}
