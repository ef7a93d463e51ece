package graft.plans

import graft.functions.{ShingleExpression, SketchExpressions, TextExpressions, VectorFunctions}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions that make graft's DML surface reachable from plain
  * SQL. Register at session build time, the same way Delta/Iceberg require:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", classOf[GraftExtensions].getName)
  *   // or .withExtensions(new GraftExtensions)
  * }}}
  *
  * Injected rules:
  *  - [[RewriteGraftMerge]] — literal `MERGE INTO` (the reference's
  *    headline operator, ingestor/DucklakeWriter.java:151-168), plus
  *    `UPDATE` and `DELETE FROM`, all routed into the engine (MERGE
  *    into its merge paths, DML into `deleteWhere`/`updateWhere`).
  */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // admin statements Spark's grammar lacks (RESTORE TABLE / VACUUM /
    // OPTIMIZE [ZORDER BY]) — a thin delegate wrapper, Delta's mechanism
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // Hints batch (pre-Resolution): expand MERGE star actions over user
    // columns before Spark's own expansion trips on system columns
    ext.injectHintResolutionRule(ExpandGraftMergeStars)
    ext.injectPostHocResolutionRule(_ => RewriteGraftMerge)
    // AFTER the DML rewrite: relations inside MERGE/UPDATE/DELETE
    // statements become engine-command fields first, so the DV rule only
    // rewrites pure read relations (and the commands' own re-analysis)
    ext.injectPostHocResolutionRule(ApplyGraftDeletionVectors)
    // the engine's native codegen'd expressions, available to every
    // session built with the extensions (no per-session register() call)
    GraftExtensions.functions.foreach(ext.injectFunction)
    // SQL surface over the change feed (DuckLake's
    // ducklake_table_changes parity): SELECT * FROM
    // table_changes('cat.t', from, to)
    ext.injectTableFunction(GraftTableFunctions.tableChanges)
  }
}

object GraftExtensions {
  /** `owner` is the module that defines the expression; it names the
    * function's class in `DESCRIBE FUNCTION` and selects it in
    * [[register]]. */
  private def fn(owner: AnyRef, name: String, usage: String,
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(owner.getClass.getName, null, name, usage, ""),
      builder)

  /** (identifier, info, builder) triples for the engine's native
    * functions — the one list, injected by the extensions and registered
    * per session by [[register]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn(VectorFunctions, "graft_cosine_similarity",
      "cosine similarity of two float/double array columns",
      exprs => VectorFunctions.CosineSimilarity(exprs(0), exprs(1))),
    fn(VectorFunctions, "graft_dot_product",
      "dot product of two float/double array columns",
      exprs => VectorFunctions.DotProduct(exprs(0), exprs(1))),
    fn(SketchExpressions, "graft_minhash", "64-hash MinHash signature of a string array",
      exprs => SketchExpressions.MinHashSignature(exprs.head, 64)),
    fn(SketchExpressions, "graft_simhash", "64-bit SimHash of a token array",
      exprs => SketchExpressions.SimHash64(exprs.head)),
    fn(TextExpressions, "graft_rolling_hash",
      "polynomial rolling-hash fingerprint of a string",
      exprs => TextExpressions.RollingHash(exprs.head)),
    fn(TextExpressions, "graft_count_in",
      "count of array elements contained in a constant string array",
      exprs => TextExpressions.CountInSet(exprs(0), exprs(1))),
    fn(TextExpressions, "graft_nfc", "Unicode NFC normalization of a string",
      exprs => TextExpressions.NormalizeNfc(exprs.head)),
    fn(TextExpressions, "graft_nfkc", "Unicode NFKC normalization of a string",
      exprs => TextExpressions.NormalizeNfkc(exprs.head)),
    fn(TextExpressions, "graft_casefold", "full Unicode case folding of a string",
      exprs => TextExpressions.CaseFold(exprs.head))) ++
    (2 to 5).map(k => fn(ShingleExpression, s"graft_shingles_$k",
      s"distinct word $k-shingles",
      exprs => ShingleExpression.WordShingles(exprs.head, k))) ++
    (2 to 5).map(k => fn(ShingleExpression, s"graft_topgram_$k",
      s"occurrence count of the most frequent word $k-gram",
      exprs => ShingleExpression.TopShingleCount(exprs.head, k)))

  /** Register the functions of `owners` (every function when empty) on
    * `spark`'s session registry — for sessions built without the
    * extensions. Idempotent. */
  def register(spark: SparkSession, owners: AnyRef*): Unit = {
    val classes = owners.map(_.getClass.getName).toSet
    functions.foreach { case (id, info, builder) =>
      if (classes.isEmpty || classes(info.getClassName))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
