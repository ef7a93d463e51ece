package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SQL `DELETE` and `UPDATE` take one of three routes: the deletion-vector
  * path, the same path folded into the files right after its commit (a DV
  * set past `spark.graft.dv.maxEntries`) and the deletion-vector path over
  * the re-bound scan of a subquery condition. On the same random
  * batches all three must leave equal table rows and publish equal change
  * rows, on an unpartitioned, a `bucket(8, id)` and a value-partitioned
  * table (values with a space, a slash and a percent sign), with
  * null-valued conditions and an UPDATE that moves rows across
  * partitions. */
class DmlPathDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def batch(seed: Long, from: Int, n: Int): DataFrame = {
    val r = new scala.util.Random(seed * 31 + from)
    (from until from + n).map { id =>
      // partition values a directory name must escape or encode
      (id, Seq("a", "b c", "d/e%f")(r.nextInt(3)),
        if (r.nextInt(5) == 0) None else Some(r.nextInt(100)), s"v$id")
    }.toDF("id", "seg", "x", "s").repartition(2)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.drop("_inserted_at").collect().map(_.toString).sorted.toSeq

  /** Runs one DELETE and one UPDATE through `route` on a fresh CDF-enabled
    * table; returns (live DV count after the DELETE, rows, change rows). */
  private def run(cat: String, lake: GraftLake, table: String,
      layout: Seq[String], seed: Long, route: String): (Int, Seq[String], Seq[String]) = {
    lake.write(table, batch(seed, 1, 40), partitions = layout)
    lake.append(table, batch(seed, 41, 40))
    lake.setTableProperty(table, TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions(table).last
    val guard = if (route == "subquery") " AND id IN (SELECT id FROM dmlx_ids)" else ""
    def dml(): Int = {
      spark.sql(s"DELETE FROM $cat.$table WHERE x < 30$guard")
      val dvs = lake.liveDvs(table).size
      spark.sql(s"UPDATE $cat.$table SET x = x + 1000, seg = 'a', id = id + 500 " +
        s"WHERE x >= 70$guard")
      dvs
    }
    val dvs =
      if (route != "fold") dml()
      else {
        spark.conf.set("spark.graft.dv.maxEntries", "0")
        try dml() finally spark.conf.unset("spark.graft.dv.maxEntries")
      }
    // each change row names the operation of its commit: the fold adds a
    // materialize commit of its own, so versions differ between routes
    val ops = lake.history(table).select("version", "operation")
      .withColumnRenamed("version", GraftLake.CommitVersionCol)
    (dvs, sorted(lake.read(table)), sorted(lake.tableChanges(table, v0, lake.versions(table).last)
      .join(ops, GraftLake.CommitVersionCol).drop(GraftLake.CommitVersionCol)))
  }

  // one catalog name per table layout: a session keeps the catalog it
  // first initialized under a name, whatever warehouse is set later
  for (((label, layout), i) <- Seq("unpartitioned" -> Nil,
      "bucket(8, id)" -> Seq("bucket(8, id)"),
      "value-partitioned" -> Seq("seg")).zipWithIndex)
    test(s"DV path, COW fold and subquery rewrite agree: $label") {
      val cat = s"dmlx$i"
      GraftLake.invalidateCaches()
      val wh = Files.createTempDirectory("graft-dmlx").toString
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      (1 to 200).toDF("id").createOrReplaceTempView("dmlx_ids")
      val lake = new GraftLake(spark, wh)
      try for (seed <- Seq(1L, 2L)) {
        val Seq(dv, fold, sub) = Seq("dv", "fold", "subquery").map(route =>
          run(cat, lake, s"t_${route}_$seed", layout, seed, route))
        assert(dv._1 > 0, "the DV route masks the partial hit set")
        assert(sub._1 > 0, "the subquery route masks the partial hit set")
        assert(fold._1 === 0, "the fold leaves no DV")
        assert(dv._2.nonEmpty && dv._3.exists(_.contains("update_postimage")))
        assert(fold._2 === dv._2, s"seed $seed: fold rows")
        assert(sub._2 === dv._2, s"seed $seed: subquery rows")
        assert(fold._3 === dv._3, s"seed $seed: fold changes")
        assert(sub._3 === dv._3, s"seed $seed: subquery changes")
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
}
