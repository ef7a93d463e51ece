package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** Driver-side work that runs Spark jobs off the caller's thread. Every
  * task starts through `SQLExecution.withThreadLocalCaptured` (bridged
  * here: it takes the `private[sql]`-typed classic session), so its jobs
  * carry the CALLER's local properties — job group, streaming batch id,
  * SQL execution id — and active session, exactly as if the caller had
  * run them. A plain `Future` on `ExecutionContext.global` does not: a
  * pool thread inherits the local properties of whichever thread created
  * it, so its jobs are tagged with some earlier trigger's group (a
  * cancelled job group misses them, per-flush job accounting miscounts).
  *
  * One cached pool of daemon threads serves every caller. It grows on
  * demand, so a task may itself submit tasks (a topic landing that admits
  * into its dedup index in parallel) without starving; idle threads exit
  * after a minute. Callers bound their own concurrency ([[runAll]]). */
object CapturedTasks {
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-task-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Start `body` on the pool with the caller's thread-locals and active
    * session (`spark` when the caller has none). */
  def submit[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      SparkSession.getActiveSession.getOrElse(spark)
        .asInstanceOf[classic.SparkSession], pool)(body)

  /** Wait for `f`; a failure rethrows the task's own exception. */
  def await[T](f: CompletableFuture[T]): T =
    try f.get()
    catch { case e: ExecutionException if e.getCause != null => throw e.getCause }

  /** Run every task, at most `parallelism` at a time, and return once ALL
    * of them have finished — a failed task never leaves another one in
    * flight, so nothing a task commits can land after this returns. The
    * first failure in task order is rethrown, later ones attached as
    * suppressed. With one task or `parallelism <= 1` the tasks run inline,
    * in order, and the first failure stops them. */
  def runAll(spark: SparkSession, parallelism: Int)(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1 || parallelism <= 1) tasks.foreach(_())
    else {
      val failures = new Array[Throwable](tasks.size)
      val next = new AtomicInteger
      val workers = Seq.fill(math.min(parallelism, tasks.size))(submit(spark) {
        var i = next.getAndIncrement()
        while (i < tasks.size) {
          try tasks(i)() catch { case e: Throwable => failures(i) = e }
          i = next.getAndIncrement()
        }
      })
      workers.foreach(await(_)) // never fails: workers catch per task
      failures.filter(_ != null).toSeq match {
        case Seq() => ()
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
      }
    }
}
