package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector primitives for embedding columns (`array<float>` /
  * `array<double>`).
  *
  * [[CosineSimilarity]] is a native Catalyst expression with whole-stage
  * codegen: one fused loop accumulating dot/na²/nb² in doubles — the hot
  * primitive under brute-force KNN and cosine near-dup, where a
  * `zip_with`+`aggregate` HOF chain would allocate per-element lambdas.
  * Accumulation order is sequential (index 0..n-1) in double precision,
  * matching DuckDB's `list_cosine_similarity` over double lists for oracle
  * parity.
  */
object VectorFunctions {

  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    // null when either vector has zero norm, regardless of input nullability
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true

    private def elemType(e: Expression): DataType = e.dataType match {
      case ArrayType(et, _) => et
      case t => throw new IllegalArgumentException(
        s"cosine_similarity expects array inputs, got $t")
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float>/array<double>, " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      val xf = elemType(left) == FloatType
      val yf = elemType(right) == FloatType
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val denom = ctx.freshName("denom")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double xv = (double) $x.$lGet($i);
           |  double yv = (double) $y.$rGet($i);
           |  $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
           |}
           |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |if ($denom == 0.0) { ${ev.isNull} = true; }
           |else { ${ev.value} = $dot / $denom; }
           |""".stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Plain dot product of two float/double array columns — the LSH
    * hyperplane-signature primitive (only the SIGN matters there, so no
    * normalization). Same fused-loop codegen shape as
    * [[CosineSimilarity]]; a `zip_with`+`aggregate` formulation would be
    * a CodegenFallback higher-order chain. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    private def elemType(e: Expression): DataType = e.dataType match {
      case ArrayType(et, _) => et
      case t => throw new IllegalArgumentException(
        s"dot_product expects array inputs, got $t")
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float>/array<double>, " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      val xf = elemType(left) == FloatType
      val yf = elemType(right) == FloatType
      var dot = 0.0
      var i = 0
      while (i < n) {
        val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
        dot += xi * yi
        i += 1
      }
      java.lang.Double.valueOf(dot)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
           |}
           |${ev.value} = $dot;
           |""".stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Register the native expressions on a session (idempotent). Spark 4
    * keeps the Column↔Expression bridge internal, so the public route to a
    * custom Catalyst expression is the function registry +
    * `call_function`. */
  def register(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.register(spark, this)

  /** Dot product as a Column (codegen'd Catalyst expression). */
  def dotProduct(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_dot_product", a, b)
  }

  /** Cosine similarity as a Column (codegen'd Catalyst expression); call
    * [[register]] on the session first. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("graft_cosine_similarity", a, b)

  /** Pure-builtin formulation (zip_with + aggregate) — the portable
    * fallback, also a cross-check for the custom expression in tests. */
  def cosineSimBuiltin(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** L2 norm of a vector column. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
}
