package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass distinct word-k-shingles: array<string> tokens → array<string>
  * shingles. The higher-order-function formulation
  * (`transform(sequence, i -> array_join(slice(...)))`) re-evaluates the
  * token array inside each lambda call and allocates per shingle; this
  * expression walks the token array once per row. Codegen emits a single
  * static call (no interpretation, stays inside the WSCG pipeline). */
object ShingleUtil {

  /** The space-joined k-gram starting at token `i` as one UTF8String. */
  private def buildShingle(tokens: ArrayData, i: Int, k: Int): UTF8String = {
    var j = 0
    var total = k - 1 // separators
    while (j < k) { total += tokens.getUTF8String(i + j).numBytes(); j += 1 }
    val bytes = new Array[Byte](total)
    var off = 0
    j = 0
    while (j < k) {
      if (j > 0) { bytes(off) = ' '; off += 1 }
      val t = tokens.getUTF8String(i + j)
      t.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
      off += t.numBytes()
      j += 1
    }
    UTF8String.fromBytes(bytes)
  }

  /** Returns the distinct k-shingle array, or null when fewer than k
    * tokens (callers filter un-shingleable docs). */
  def compute(tokens: ArrayData, k: Int): GenericArrayData = {
    val n = tokens.numElements()
    if (n < k) return null
    val seen = new java.util.LinkedHashSet[UTF8String]((n - k + 1) * 2)
    var i = 0
    while (i <= n - k) {
      seen.add(buildShingle(tokens, i, k))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Occurrence count of the MOST FREQUENT k-gram in the token array
    * (Gopher-style repetition signal), -1 when fewer than k tokens (the
    * expression's null marker). Single pass, per-row hashmap — no
    * explode/shuffle, so repetition scoring is a pure map over the scan. */
  def topCount(tokens: ArrayData, k: Int): Long = {
    val n = tokens.numElements()
    if (n < k) return -1L
    val counts = new java.util.HashMap[UTF8String, Integer]((n - k + 1) * 2)
    var max = 0
    var i = 0
    while (i <= n - k) {
      val c = counts.merge(buildShingle(tokens, i, k), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > max) max = c.intValue
      i += 1
    }
    max.toLong
  }
}

object ShingleExpression {

  case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
    // returns null for docs with < k tokens even when the child is
    // non-nullable — without this override codegen has no isNull slot to
    // assign and Janino rejects the generated projection (silent
    // interpreted fallback)
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any =
      ShingleUtil.compute(v.asInstanceOf[ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val out = ctx.freshName("shingles")
        s"""
           |org.apache.spark.sql.catalyst.util.GenericArrayData $out =
           |  graft.functions.ShingleUtil.compute($c, $k);
           |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Occurrence count of the most frequent word k-gram (long; null when
    * the doc has fewer than k tokens). The repetition numerator of the
    * Gopher-style quality rules: `topgram / (n_tokens - k + 1)` is the
    * fraction of k-gram slots taken by the single most repeated phrase. */
  case class TopShingleCount(child: Expression, k: Int) extends UnaryExpression {
    // null marker for < k tokens needs an isNull slot even over a
    // non-nullable child (same Janino constraint as WordShingles)
    override def nullable: Boolean = true
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val c = ShingleUtil.topCount(v.asInstanceOf[ArrayData], k)
      if (c < 0) null else c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val out = ctx.freshName("topCount")
        s"""
           |long $out = graft.functions.ShingleUtil.topCount($c, $k);
           |if ($out < 0L) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def register(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.register(spark, this)

  /** Distinct word k-shingles of a token-array column (null when the doc
    * has fewer than k tokens); [[register]] the session first. */
  def wordShingles(tokens: Column, k: Int): Column = {
    require(k >= 2 && k <= 5, s"shingle width $k out of registered range")
    call_function(s"graft_shingles_$k", tokens)
  }

  /** Count of the most frequent word k-gram of a token-array column (null
    * when the doc has fewer than k tokens); [[register]] the session
    * first. */
  def topShingleCount(tokens: Column, k: Int): Column = {
    require(k >= 2 && k <= 5, s"topgram width $k out of registered range")
    call_function(s"graft_topgram_$k", tokens)
  }
}
