package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Read isolation: a read planned before a rewrite returns the rows of
  * the snapshot it planned. Committed files never move and a remove only
  * changes the manifest, so an engine read, a SQL read and a pinned
  * `readVersion` planned first keep reading their files through a MERGE,
  * a compaction, a DV fold, a restore and a truncate. */
class ReadIsolationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  for (((label, layout), i) <- Seq(("unpartitioned", Nil),
      ("bucket(4, id)", Seq("bucket(4, id)"))).zipWithIndex)
    test(s"reads planned before five rewrites return their snapshot: $label") {
      GraftLake.invalidateCaches()
      val wh = Files.createTempDirectory("graft-iso").toString
      val cat = s"giso$i"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val lake = new GraftLake(spark, wh)
        lake.write("t", (1 to 40).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
          partitions = layout, pks = Seq("id"))
        lake.append("t", (41 to 60).map(i => (i.toLong, s"a$i")).toDF("id", "v"))
        assert(lake.deleteWhere("t", col("id") === 3L) === 1L)
        assert(lake.liveDvs("t").nonEmpty, "the planned snapshot carries a DV")
        val expected = (1 to 60).filter(_ != 3).map(i => (i.toLong, s"a$i")).toSet
        val pinned = lake.pin(Seq("t"))("t")
        val engine = lake.read("t")
        val sql = spark.sql(s"SELECT id, v FROM $cat.t")
        val versioned = lake.readVersion("t", pinned)
        // five rewrites, each removing files the three reads planned
        spark.sql(s"""MERGE INTO $cat.t t USING (SELECT 5L AS id, 'm' AS v) s
          |ON t.id = s.id WHEN MATCHED AND t.v <> s.v THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        lake.deleteWhere("t", col("id") === 9L)
        lake.compact("t")
        lake.deleteWhere("t", col("id") === 11L)
        lake.materializeDeletes("t")
        lake.restore("t", pinned)
        lake.truncate("t")
        assert(lake.read("t").count() === 0L)
        assert(rows(engine) === expected, "engine read")
        assert(rows(sql) === expected, "SQL read")
        assert(rows(versioned) === expected, "pinned readVersion")
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
}
