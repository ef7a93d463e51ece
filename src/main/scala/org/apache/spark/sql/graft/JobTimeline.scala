package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.util.CallSite

/** The Spark jobs a piece of driver work started, as the listener bus
  * reported them: the one job trace that the dev tool `graft.perf.Perf`
  * and the job-budget specs read. Bridged here because draining the bus
  * (`listenerBus`) is `private[spark]`. */
object JobTimeline {

  /** One job: id, job group, task count per stage, start and end (epoch
    * ms; no end for a job still running when the work returned), the
    * engine frame that submitted it, and the bytes its completed stages
    * wrote as shuffle output and as task output (files a write job
    * produced). A stage another job already ran is skipped, so its bytes
    * stay with the job that ran it. */
  final case class Job(id: Int, group: Option[String], tasks: Seq[Int],
      startMs: Long, endMs: Option[Long], site: String,
      shuffleWriteBytes: Long = 0L, outputBytes: Long = 0L) {
    def stages: Int = tasks.size
    def durationMs: Option[Long] = endMs.map(_ - startMs)
  }

  /** Runs `body` and returns its result with every job started meanwhile,
    * in id order. The listener bus delivers events asynchronously; it is
    * drained before the listener detaches, so every job that ended inside
    * `body` carries its end time. */
  def record[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val jobs = new ConcurrentHashMap[Int, Job]()
    // SQL execution id → (root execution id, call site); an execution
    // starts before its jobs, and the bus delivers in order
    val executions = new ConcurrentHashMap[Long, (Long, String)]()
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, (s.rootExecutionId.getOrElse(s.executionId), s.details))
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        jobs.put(e.jobId, Job(e.jobId,
          Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID))),
          e.stageInfos.map(_.numTasks), e.time, None, site(e, executions)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        for {
          jobId <- Option(jobOfStage.get(e.stageInfo.stageId))
          m <- Option(e.stageInfo.taskMetrics)
        } jobs.computeIfPresent(jobId, (_, j) => j.copy(
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          outputBytes = j.outputBytes + m.outputMetrics.bytesWritten))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = Some(e.time)))
    }
    sc.addSparkListener(listener)
    val result =
      try body
      finally try sc.listenerBus.waitUntilEmpty() finally sc.removeSparkListener(listener)
    (result, jobs.values.asScala.toSeq.sortBy(_.id))
  }

  /** Whether a stack frame is engine code: `graft.*`, but neither this
    * trace (frames of `JobTimeline$` and its nested classes) nor the
    * `graft.perf` tool that reads it. */
  def isEngineFrame(frame: String): Boolean =
    frame.contains("graft.") && !frame.contains("graft.perf.") &&
      !frame.contains(getClass.getName)

  /** The first engine frame of the submitting thread's call site (carried
    * through SQL execution threads), else of the result stage's, else of
    * the call sites of the job's SQL execution and of that execution's
    * root, else the result stage's name. The execution's call site names
    * the engine frame of a job that Spark submitted from its own threads:
    * a broadcast, or a stage that adaptive execution materializes. The
    * result stage is the job's highest stage id: a job lists its stages in
    * no fixed order, and a parent stage an earlier job created (a shuffle
    * of the trigger's cached batch) carries that job's call site. */
  private def site(e: SparkListenerJobStart,
      executions: java.util.Map[Long, (Long, String)]): String = {
    val fromProps = Option(e.properties)
      .flatMap(p => Option(p.getProperty(CallSite.LONG_FORM))).toSeq.flatMap(_.split('\n'))
    val result = e.stageInfos.maxByOption(_.stageId)
    val fromStage = result.toSeq.flatMap(_.details.split('\n'))
    def fromExecution = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => Option(executions.get(id.toLong))).toSeq
      .flatMap { case (root, details) =>
        details +: Option(executions.get(root)).map(_._2).toSeq
      }.flatMap(_.split('\n'))
    (fromProps.iterator ++ fromStage ++ fromExecution).find(isEngineFrame)
      .getOrElse(result.map(_.name).getOrElse("?")).trim
  }
}
