package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: scale the driver-generated testdata up by an integral
  * factor for the SCALE.md scaling-evidence bench (VERDICT r8 ask #6).
  *
  * `runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft-sf1 10`
  *
  * Each fact table becomes the union of `n` key-shifted copies, with key
  * offsets applied CONSISTENTLY across tables so every foreign key keeps
  * resolving (orders.o_custkey joins customer.c_custkey in every copy,
  * lineitem joins orders/part/supplier, embeddings.vec_id keeps its
  * parity for q131's corpus split). Dimension tables (region, nation)
  * stay fixed, as TPC-H scaling does. Timestamps are NOT shifted: the
  * scaled corpus covers the same time range at n× density, so a
  * fixed-range predicate selects n× the rows — the honest scan-bound
  * scaling shape. Copy 0 is byte-identical to the source.
  *
  * Text/embedding payloads are perturbed per copy (a 3-char suffix on
  * `text`; a ±0.3 % deterministic per-dimension scaling on `embedding`)
  * so near-dup and ANN operators see realistic ~n-member duplicate
  * clusters and tie-free distances instead of degenerate exact copies.
  * Everything is deterministic — no RNG, no clock.
  */
object ScaleData {

  /** (table, key column → per-copy offset stride). Strides exceed each
    * key's domain at sf0.1 so copies never collide. */
  private val keyStrides: Map[String, Seq[(String, Long)]] = Map(
    "customer" -> Seq(("c_custkey", 1000000L)),
    "supplier" -> Seq(("s_suppkey", 100000L)),
    "part" -> Seq(("p_partkey", 1000000L)),
    "orders" -> Seq(("o_orderkey", 10000000L), ("o_custkey", 1000000L)),
    "lineitem" -> Seq(("l_orderkey", 10000000L), ("l_partkey", 1000000L),
      ("l_suppkey", 100000L)),
    "events" -> Seq(("event_id", 10000000L), ("user_id", 1000000L)),
    "documents" -> Seq(("doc_id", 1000000L)),
    "embeddings" -> Seq(("vec_id", 1000000L)))

  private def oneCopy(df: DataFrame, table: String, i: Int): DataFrame = {
    val shifted = keyStrides.getOrElse(table, Nil).foldLeft(df) {
      case (d, (k, stride)) => d.withColumn(k, col(k) + lit(i * stride))
    }
    if (i == 0) shifted
    else table match {
      case "documents" =>
        shifted
          .withColumn("text", concat(col("text"), lit(s" c$i")))
          .withColumn("n_chars", length(col("text")))
      case "embeddings" =>
        // ±0.3 % deterministic per-dimension perturbation: breaks exact
        // ties, keeps each copy a strong near-neighbour of its original
        shifted.withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> CAST(x * " +
            s"(1.0D + ((($i * 31 + j) % 7) - 3) * 0.001D) AS FLOAT))"))
      case _ => shifted
    }
  }

  def scaleTable(spark: SparkSession, srcDir: String, table: String,
      copies: Int): DataFrame = {
    val src = spark.read.parquet(s"$srcDir/$table.parquet")
    if (table == "region" || table == "nation") src
    else (0 until copies).map(oneCopy(src, table, _)).reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val destDir = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Tables.All) {
      val out = scaleTable(spark, srcDir, t, copies)
      out.write.mode(SaveMode.Overwrite).parquet(s"$destDir/$t.parquet")
      println(s"$t: ${spark.read.parquet(s"$destDir/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
