package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprinting: 64-bit polynomial rolling hash over the raw
  * string bytes (base 31, wrapping mod 2⁶⁴) as a native codegen'd Catalyst
  * expression — the per-document fingerprint primitive for cheap
  * change-detection / grouping at 100 TB (one fused loop per row, no UDF
  * boxing). */
object TextExpressions {

  case class RollingHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var h = 0L
      var i = 0
      while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
      java.lang.Long.valueOf(h)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i")
        val h = ctx.freshName("h")
        s"""
           |byte[] $bytes = $c.getBytes();
           |long $h = 0L;
           |for (int $i = 0; $i < $bytes.length; $i++) {
           |  $h = $h * 31L + ($bytes[$i] & 0xffL);
           |}
           |${ev.value} = $h;
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** Count of array elements (with multiplicity) contained in a constant
    * word set — the stopword-ratio / language-ID marker-count primitive.
    * A `size(filter(tokens, isin(...)))` formulation is a higher-order
    * function, which is CodegenFallback and breaks whole-stage codegen;
    * this expression is one fused hash-set-probe loop. `words` must be a
    * foldable string array. */
  case class CountInSet(tokens: Expression, words: Expression)
      extends BinaryExpression {
    override def left: Expression = tokens
    override def right: Expression = words
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true

    @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
      require(words.foldable, "CountInSet word list must be foldable")
      val arr = words.eval(null).asInstanceOf[ArrayData]
      val s = new java.util.HashSet[UTF8String]()
      var i = 0
      while (i < arr.numElements()) {
        // clone: eval may return views over reused buffers
        s.add(arr.getUTF8String(i).clone()); i += 1
      }
      s
    }

    override def nullSafeEval(t: Any, w: Any): Any = {
      val arr = t.asInstanceOf[ArrayData]
      var n = 0; var i = 0
      while (i < arr.numElements()) {
        if (wordSet.contains(arr.getUTF8String(i))) n += 1
        i += 1
      }
      Integer.valueOf(n)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setRef = ctx.addReferenceObj("wordSet", wordSet,
        "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
      nullSafeCodeGen(ctx, ev, (t, _) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        s"""
           |int $n = 0;
           |for (int $i = 0; $i < $t.numElements(); $i++) {
           |  if ($setRef.contains($t.getUTF8String($i))) $n++;
           |}
           |${ev.value} = $n;
           |""".stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(tokens = newLeft, words = newRight)
  }

  /** Unicode NFC normalization as a native expression — the first step
    * of every text-curation pipeline (decomposed sequences like
    * `e + U+0301` fold to their canonical composites, so exact dedup,
    * shingling and token counting stop treating byte-variant spellings
    * of the SAME text as different). Spark ships no NFC builtin; a UDF
    * would break whole-stage codegen — this expression's generated code
    * calls one static JVM helper per row. The fast path costs one
    * `Normalizer.isNormalized` check (true for pure-ASCII and
    * already-composed text, i.e. almost every row) and returns the INPUT
    * object untouched — no copy, no allocation. */
  case class NormalizeNfc(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      TextExpressions.nfc(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExpressions.nfc($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Static helper the generated code calls. Pure-ASCII rows (the
    * overwhelming hot path) short-circuit on `numBytes == numChars` —
    * ASCII is fully composed, so this is a scan with ZERO allocation;
    * only rows that actually carry multi-byte characters pay the
    * UTF-16 decode for the isNormalized check. */
  def nfc(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) return s // all-ASCII ⇒ already NFC
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** NFKC — the COMPATIBILITY fold NFC lacks: ligatures (`ﬁ`→`fi`),
    * fullwidth forms (`Ａ`→`A`), superscripts, roman numerals all map to
    * their plain equivalents. The canonicalization a unicode-equivalence
    * dedup key needs (byte-variant spellings of the same text must hash
    * identically). Same zero-alloc ASCII fast path as [[nfc]]. */
  def nfkc(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) return s // all-ASCII ⇒ already NFKC
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFKC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFKC))
  }

  /** Full case folding (upper-then-lower through the JVM's Unicode
    * tables — the standard JVM realization of case-insensitive matching:
    * `ß`→`ss`, `İ`→`i̇`, Cherokee/Greek handled), NOT plain lower():
    * `lower('ß') = 'ß'` would keep case-variant spellings apart. ASCII
    * rows take UTF8String's own lowercase fast path. */
  def casefold(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) return s.toLowerCase // ASCII fast path
    UTF8String.fromString(s.toString
      .toUpperCase(java.util.Locale.ROOT)
      .toLowerCase(java.util.Locale.ROOT))
  }

  /** Unicode NFKC normalization as a native expression (see [[nfkc]]). */
  case class NormalizeNfkc(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      TextExpressions.nfkc(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExpressions.nfkc($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Full Unicode case folding as a native expression (see [[casefold]]). */
  case class CaseFold(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      TextExpressions.casefold(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExpressions.casefold($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  def register(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.register(spark, this)

  /** Rolling-hash fingerprint as a Column; [[register]] the session first. */
  def rollingHash(c: Column): Column = call_function("graft_rolling_hash", c)

  /** Unicode NFC normalization as a Column. */
  def normalizeNfc(c: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_nfc", c)
  }

  /** Unicode NFKC (compatibility) normalization as a Column. */
  def normalizeNfkc(c: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_nfkc", c)
  }

  /** Full Unicode case folding as a Column. */
  def caseFold(c: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_casefold", c)
  }
}
