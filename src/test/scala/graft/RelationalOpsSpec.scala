package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.localBuilder(8).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  // Every declared query must run, and (except where the smoke-SF data
  // genuinely yields an empty result) produce rows.
  private val mayBeEmptyAtSmokeSf = Set("q22_dedup_exact") // no dup texts at sf0.001
  for (q <- Registry.defs) {
    test(s"${q.name} runs non-empty at sf0.001") {
      val n = q.fn(spark, sf).count()
      if (!mayBeEmptyAtSmokeSf(q.name))
        assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("approx_count_distinct stays within the configured relative error") {
    import org.apache.spark.sql.functions.{col => c, _}
    val both = Tables.lineitem(spark, sf)
      .groupBy(c("l_returnflag"))
      .agg(approx_count_distinct(c("l_partkey"), 0.02).as("a"),
        countDistinct(c("l_partkey")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    both.foreach { case (flag, a, n) =>
      assert(math.abs(a - n).toDouble / n < 0.1,
        s"flag $flag: approx $a vs exact $n exceeds 10%")
    }
    // and the q56 contract formulation must report every sketch in-bound
    val q56 = operators.RelationalOps3.q56ApproxDistinct.fn(spark, sf).collect()
    assert(q56.nonEmpty && q56.forall(_.getAs[Long]("sketch_ok") == 1L),
      "q56 sketch_ok witness must hold on the smoke SF")
  }

  test("query names are unique and oracle keys subset queries") {
    val names = Registry.defs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  test("q01 aggregates the full lineitem table into 6 flag/status groups") {
    val rows = operators.RelationalOps.q01PricingSummary.fn(spark, sf).collect()
    assert(rows.length === 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val liCount = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02 00:00:00").cast("timestamp"))
      .count()
    assert(total === liCount)
  }

  test("q02 returns exactly 10 rows in descending price order") {
    val prices = operators.RelationalOps.q02TopkOrders.fn(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.length === 10)
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("q13 upsert-latest yields one row per user (PK dedup, last-wins)") {
    val df = operators.RelationalOps.q13UpsertLatest.fn(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(df.count() === users)
    assert(df.select("user_id").distinct().count() === users)
  }

  test("q07 emits at most 3 ranked customers per nation") {
    val df = operators.RelationalOps.q07WindowRank.fn(spark, sf)
    val max = df.groupBy("c_nationkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(max <= 3)
  }
}
