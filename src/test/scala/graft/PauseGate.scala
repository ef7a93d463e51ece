package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** A point at which a Spark task waits until the spec releases it, so a
  * spec can act while a job is paused mid-flight. [[open]] is a
  * nondeterministic predicate that holds for every row; the first row to
  * reach it signals [[awaitEntered]], and every row waits at it until
  * [[release]]. Gates live in this object, not in the task closure, so
  * they work in local mode, where tasks run in the spec's JVM. */
final class PauseGate {
  private val id = java.util.UUID.randomUUID().toString
  PauseGate.gates.put(id, (new CountDownLatch(1), new CountDownLatch(1)))

  def open: Column = {
    val key = id
    udf(() => PauseGate.pass(key)).asNondeterministic()()
  }

  /** Waits until a task reaches the gate; false after `seconds`. */
  def awaitEntered(seconds: Long = 120): Boolean =
    PauseGate.gates.get(id)._1.await(seconds, TimeUnit.SECONDS)

  def release(): Unit = PauseGate.gates.remove(id) match {
    case null => ()
    case (_, released) => released.countDown()
  }
}

object PauseGate {
  private val gates = new ConcurrentHashMap[String, (CountDownLatch, CountDownLatch)]()

  private def pass(id: String): Boolean = {
    Option(gates.get(id)).foreach { case (entered, released) =>
      entered.countDown()
      released.await(120, TimeUnit.SECONDS)
    }
    true
  }
}
