package graft.functions

import graft.SparkTestSession
import graft.catalog.InsertStamp
import graft.ingest.{ArrowIpc, IngestPipeline}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference,
  Expression, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** An ingest trigger runs its projections interpreted; every other
  * statement runs them generated. Both must give the same result: every
  * engine Catalyst expression, evaluated by `InterpretedUnsafeProjection`
  * and by `GenerateUnsafeProjection`, on null, empty and non-empty inputs. */
class InterpretedCodegenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def strs(xs: String*): GenericArrayData = new GenericArrayData(xs.map(utf8))
  private def nums(xs: Double*): GenericArrayData = new GenericArrayData(xs)
  private def floats(xs: Float*): GenericArrayData = new GenericArrayData(xs)

  /** Each row of `inputs` through both projections of `exprs`, compared as
    * Scala values. */
  private def assertSame(exprs: Seq[Expression], inputs: Seq[InternalRow]): Unit = {
    val interpreted = InterpretedUnsafeProjection.createProjection(exprs)
    val generated = GenerateUnsafeProjection.generate(exprs)
    def values(r: InternalRow): Seq[Any] = exprs.zipWithIndex.map { case (e, i) =>
      CatalystTypeConverters.convertToScala(r.get(i, e.dataType), e.dataType)
    }
    inputs.foreach { in =>
      val want = values(interpreted(in))
      assert(values(generated(in)) === want, s"input $in")
    }
  }

  test("sketch, shingle and count-in-set expressions over string arrays") {
    val tokens = BoundReference(0, ArrayType(StringType), nullable = true)
    val words = Literal.create(Seq("the", "fox"), ArrayType(StringType))
    assertSame(Seq(
      SketchExpressions.SimHash64(tokens),
      SketchExpressions.MinHashSignature(tokens, 16),
      ShingleExpression.WordShingles(tokens, 3),
      ShingleExpression.TopShingleCount(tokens, 2),
      TextExpressions.CountInSet(tokens, words)), Seq(
      InternalRow(null),
      InternalRow(strs()),
      InternalRow(strs("fox")),
      InternalRow(strs("the", "quick", "brown", "fox", "the", "quick", "brown", "fox"))))
  }

  test("vector similarity over double and float arrays") {
    val a = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val b = BoundReference(1, ArrayType(DoubleType), nullable = true)
    assertSame(Seq(VectorFunctions.CosineSimilarity(a, b), VectorFunctions.DotProduct(a, b)), Seq(
      InternalRow(null, null),
      InternalRow(nums(1, 2), null),
      InternalRow(nums(), nums()),
      InternalRow(nums(0, 0, 0), nums(1, 2, 3)),
      InternalRow(nums(1, 2, 3), nums(3, -2, 0.5))))
    val fa = BoundReference(0, ArrayType(FloatType), nullable = true)
    val fb = BoundReference(1, ArrayType(FloatType), nullable = true)
    assertSame(Seq(VectorFunctions.CosineSimilarity(fa, fb), VectorFunctions.DotProduct(fa, fb)), Seq(
      InternalRow(null, floats(1f)),
      InternalRow(floats(), floats()),
      InternalRow(floats(0.5f, 1.5f), floats(2f, -1f))))
  }

  test("text expressions over strings") {
    val s = BoundReference(0, StringType, nullable = true)
    assertSame(Seq(
      TextExpressions.RollingHash(s),
      TextExpressions.NormalizeNfc(s),
      TextExpressions.NormalizeNfkc(s),
      TextExpressions.CaseFold(s)), Seq(
      InternalRow(null),
      InternalRow(utf8("")),
      InternalRow(utf8("plain ASCII")),
      InternalRow(utf8("café ﬁle STRAßE ＡＢ"))))
  }

  test("deletion-vector probe") {
    val set = DvSet.build(Iterator("f1" -> 3L, "f1" -> 5L, "f2" -> 0L))
    val probe = DvMasked(BoundReference(0, StringType, nullable = true),
      BoundReference(1, LongType, nullable = true), spark.sparkContext.broadcast(set))
    assertSame(Seq(probe), Seq(
      InternalRow(null, 3L),
      InternalRow(utf8("f1"), null),
      InternalRow(utf8(""), 0L),
      InternalRow(utf8("f1"), 3L),
      InternalRow(utf8("f1"), 4L),
      InternalRow(utf8("f3"), 0L)))
  }

  test("insert stamp") {
    assertSame(Seq(InsertStamp(1700000000123456L)), Seq(InternalRow.empty))
  }

  /** `c` analyzed over a table with `schema`, bound to its ordinals. */
  private def bound(schema: StructType, c: Column): Expression = {
    val df = spark.createDataFrame(java.util.List.of[Row](), schema).select(c)
    df.queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), child) => BindReferences.bindReference(e, child.output)
      case Project(Seq(e), child) => BindReferences.bindReference(e, child.output)
      case other => fail(s"unexpected plan: $other")
    }
  }

  test("wire-format sniff") {
    val sniff = bound(StructType(Seq(StructField("v", BinaryType))),
      IngestPipeline.ipcSniff(col("v")))
    val ipc = ArrowIpc.encode(StructType(Seq(StructField("id", LongType))), Seq(Row(1L)))
    assertSame(Seq(sniff), Seq(
      InternalRow(null),
      InternalRow(Array.emptyByteArray),
      InternalRow(Array[Byte](-1, -1, -1, -1)),
      InternalRow("""{"a":1,"b":2}""".getBytes("UTF-8")),
      InternalRow(ipc)))
  }
}
