package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Document-sketch expressions: whole-signature computation in ONE codegen'd
  * pass over the token/shingle array — no explode, no shuffle, no
  * per-hash-function column.
  *
  * MinHash uses the Kirsch-Mitzenmacher construction: two Murmur3 hashes
  * per element, `g_i = h1 + i·h2` (wrapping int arithmetic) simulates k
  * independent hash functions — 2 instead of k hash computations per
  * shingle. At 100 TB this turns the sketch step into a pure map-side scan.
  */
object SketchExpressions {

  /** MinHash signature of array<string> → array<int> (k mins); null for
    * empty/short inputs so callers can filter un-sketchable docs. */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    // null on empty inputs regardless of child nullability — without the
    // override codegen has no isNull slot to assign ("isNull_1 is not an
    // rvalue") and the projection silently falls back to interpreted eval
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val mins = Array.fill(k)(Int.MaxValue)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j)
        val h1 = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x9747b28c)
        val h2 = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x1b873593)
        var i = 0
        var g = h1
        while (i < k) {
          if (g < mins(i)) mins(i) = g
          g += h2 // wrapping
          i += 1
        }
        j += 1
      }
      new GenericArrayData(mins.map(Int.box))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
        val j = ctx.freshName("j"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val h1 = ctx.freshName("h1")
        val h2 = ctx.freshName("h2"); val g = ctx.freshName("g")
        s"""
           |int $n = $c.numElements();
           |if ($n == 0) { ${ev.isNull} = true; } else {
           |  int[] $mins = new int[$k];
           |  java.util.Arrays.fill($mins, Integer.MAX_VALUE);
           |  for (int $j = 0; $j < $n; $j++) {
           |    UTF8String $s = $c.getUTF8String($j);
           |    int $h1 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
           |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 0x9747b28c);
           |    int $h2 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
           |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 0x1b873593);
           |    int $g = $h1;
           |    for (int $i = 0; $i < $k; $i++) {
           |      if ($g < $mins[$i]) $mins[$i] = $g;
           |      $g += $h2;
           |    }
           |  }
           |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
           |}
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 64-bit SimHash of array<string>: each element's 64-bit hash votes ±1
    * per bit; the sign vector becomes the fingerprint. Null for empty. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    // null on empty token arrays regardless of child nullability
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val votes = new Array[Int](64)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j)
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x9747b28c).toLong & 0xffffffffL
        val h2 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x1b873593).toLong & 0xffffffffL
        val h64 = (h << 32) | h2
        var i = 0
        while (i < 64) {
          if (((h64 >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
        j += 1
      }
      var fp = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
      java.lang.Long.valueOf(fp)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
        val j = ctx.freshName("j"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val h64 = ctx.freshName("h64")
        val hi = ctx.freshName("hi"); val lo = ctx.freshName("lo")
        val fp = ctx.freshName("fp")
        // NB: the hi/lo halves are separate statements on purpose — Janino
        // mis-parses the fused `(((long) call(...) & mask) << 32) | ...`
        // form as a cast-to-type and fails compilation (silent fallback to
        // interpreted eval, which defeats the codegen'd design)
        s"""
           |int $n = $c.numElements();
           |if ($n == 0) { ${ev.isNull} = true; } else {
           |  int[] $votes = new int[64];
           |  for (int $j = 0; $j < $n; $j++) {
           |    UTF8String $s = $c.getUTF8String($j);
           |    long $hi = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
           |        $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 0x9747b28c);
           |    long $lo = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
           |        $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 0x1b873593);
           |    long $h64 = (($hi & 0xffffffffL) << 32) | ($lo & 0xffffffffL);
           |    for (int $i = 0; $i < 64; $i++) {
           |      if ((($h64 >>> $i) & 1L) == 1L) $votes[$i]++; else $votes[$i]--;
           |    }
           |  }
           |  long $fp = 0L;
           |  for (int $i = 0; $i < 64; $i++) {
           |    if ($votes[$i] > 0) $fp |= (1L << $i);
           |  }
           |  ${ev.value} = $fp;
           |}
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def register(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.register(spark, this)

  def minHash(c: Column): Column = call_function("graft_minhash", c)
  def simHash64(c: Column): Column = call_function("graft_simhash", c)
}
