package org.apache.spark.sql.graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Janino compiles of generated classes in this JVM, as Spark's codegen
  * counts them: a class served from the codegen cache is not a compile.
  * Bridged here because `CodegenMetrics` is `private[spark]`. The
  * counters are process-wide, so work running beside the measured body
  * counts too. */
object CodegenCompiles {

  /** `count` classes compiled in `ms` milliseconds of Janino. */
  final case class Compiles(count: Long, ms: Double) {
    def -(o: Compiles): Compiles = Compiles(count - o.count, ms - o.ms)
    def +(o: Compiles): Compiles = Compiles(count + o.count, ms + o.ms)
  }

  def total(): Compiles = Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1e6)

  /** Runs `body` and returns its result with the compiles made meanwhile. */
  def during[T](body: => T): (T, Compiles) = {
    val before = total()
    val result = body
    (result, total() - before)
  }
}
