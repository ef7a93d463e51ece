package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A PK batch lands three ways that must agree: the engine's merge-on-read
  * upsert, the general-form ANSI SQL MERGE rewrite (a matched clause with a
  * condition keeps it off the upsert fast path) and a naive DataFrame
  * last-wins model. Each random batch repeats keys, spells some keys so
  * that they collide only after the cast to the table's BIGINT key, and
  * meets a table that already holds duplicate primary keys. The layouts:
  * `bucket(8, id)`, a value-partitioned table whose updates move rows
  * between partitions, a `bucket(8)` → `bucket(16)` split frozen after
  * one bucket, and `bucket(8, id)` under `spark.graft.dv.maxEntries=0`,
  * which folds the upsert's deletion vector into the files. Rows,
  * `_inserted_at` preservation and the change feed (minus `_inserted_at`)
  * must be equal. */
class UpsertPathDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val segs = Seq("a", "b c", "d/e%f")

  private def seed(from: Int, n: Int): DataFrame =
    (from until from + n).map(i =>
      (i.toLong, segs(i % 3), Option.when(i % 7 != 0)(i), s"v$i"))
      .toDF("id", "seg", "x", "s").repartition(2)

  /** A batch of keys 1 … 70 (about half of them live), each key drawn
    * about twice with a rising `seq`, its id spelled as a string with
    * zero padding half of the time. */
  private def batch(seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until 60).map { seq =>
      val id = 1 + r.nextInt(70)
      (if (r.nextBoolean()) f"$id%04d" else id.toString, segs(r.nextInt(3)),
        Option.when(r.nextInt(5) != 0)(r.nextInt(1000)), s"u$seq", seq)
    }.toDF("id", "seg", "x", "s", "seq").repartition(3)
  }

  /** Rows as strings: the data columns, plus a label for `_inserted_at` —
    * the index of the stamp among the table's stamps before the upsert,
    * or `new`. */
  private def labelled(df: DataFrame, before: Seq[java.sql.Timestamp]): Seq[String] =
    df.select("id", "seg", "x", "s", "_inserted_at").collect().map { r =>
      val i = before.indexOf(r.getTimestamp(4))
      Row(r.get(0), r.get(1), r.get(2), r.get(3), if (i < 0) "new" else s"s$i").toString
    }.sorted.toSeq

  private def changes(df: DataFrame): Seq[String] =
    df.select("id", "seg", "x", "s", "_change_type").collect().map(_.toString).sorted.toSeq

  /** A fresh CDF-enabled table: ids 1 … 40 in `layout`, then ids 30 … 34
    * appended again (duplicate primary keys), then `prepare`. Returns its
    * stamps and version. */
  private def table(lake: GraftLake, t: String, layout: Seq[String],
      prepare: GraftLake => Unit): (Seq[java.sql.Timestamp], Long) = {
    lake.write(t, seed(1, 40), partitions = layout, pks = Seq("id"))
    lake.append(t, seed(30, 5).withColumn("s", concat(col("s"), lit("-dup"))))
    prepare(lake)
    lake.setTableProperty(t, TableMeta.CdfEnabledKey, "true")
    (lake.read(t).select("_inserted_at").distinct().as[java.sql.Timestamp]
      .collect().sortBy(ts => (ts.getTime, ts.getNanos)).toSeq, lake.versions(t).last)
  }

  /** The naive model over the table's rows before the upsert: rows and
    * change rows. */
  private def model(pre: DataFrame, b: DataFrame, before: Seq[java.sql.Timestamp])
      : (Seq[String], Seq[String]) = {
    val w = b.withColumn("id", col("id").cast("bigint"))
      .withColumn("rn", row_number().over(Window.partitionBy("id").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq")
    val p = pre.select("id", "seg", "x", "s", "_inserted_at")
    val matchedPre = p.join(w.select("id"), Seq("id"), "left_semi")
    val post = p.select("id", "_inserted_at").join(w, Seq("id"))
    val ins = w.join(p.select("id"), Seq("id"), "left_anti")
      .withColumn("_inserted_at", lit(null).cast("timestamp"))
    val rows = p.join(w.select("id"), Seq("id"), "left_anti")
      .unionByName(post).unionByName(ins)
    val ct = "_change_type"
    (labelled(rows, before), changes(
      matchedPre.withColumn(ct, lit("update_preimage"))
        .unionByName(post.withColumn(ct, lit("update_postimage")))
        .unionByName(ins.withColumn(ct, lit("insert")))))
  }

  private def freezeSplit(lake: GraftLake): Unit = {
    var calls = 0
    lake.rebucketBeforeCommitHook = () =>
      { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
    try intercept[RuntimeException](lake.rebucket("mid", 16))
    finally lake.rebucketBeforeCommitHook = () => ()
  }

  // (label, layout, mid-split, dv.maxEntries); one catalog name per test:
  // a session keeps the catalog it first initialized under a name
  for (((label, layout, split, dvMax), i) <- Seq(
      ("bucket(8, id)", Seq("bucket(8, id)"), false, None),
      ("value-partitioned, rows move partition", Seq("seg"), false, None),
      ("bucket(8) -> bucket(16) frozen mid-split", Seq("bucket(8, id)"), true, None),
      ("dv.maxEntries=0 folds", Seq("bucket(8, id)"), false, Some("0"))).zipWithIndex)
    test(s"MoR upsert, general SQL MERGE and a last-wins model agree: $label") {
      val cat = s"updx$i"
      GraftLake.invalidateCaches()
      val wh = Files.createTempDirectory("graft-updx").toString
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val lake = new GraftLake(spark, wh)
      try for (s <- Seq(1L, 2L)) {
        val b = batch(s)
        val names = Seq("upsert", "merge").map(side => if (split) "mid" else s"t_${side}_$s")
        def prepare(l: GraftLake): Unit = if (split) freezeSplit(l)
        // the upsert side
        if (split && lake.tableExists("mid")) lake.dropTable("mid")
        val (uBefore, uV0) = table(lake, names(0), layout, prepare)
        if (split)
          assert(lake.dataFiles("mid").exists(_.contains("__p_bucket_16_id")) &&
            lake.dataFiles("mid").exists(_.contains("__p_bucket_8_id")), "a frozen split")
        // the rows before the upsert, held as a local relation: a cached
        // read would also answer the engine's own later scans of the data
        // directory
        val live = lake.read(names(0))
        val pre = spark.createDataFrame(
          java.util.Arrays.asList(live.collect(): _*), live.schema)
        val (mRows, mChanges) = model(pre, b, uBefore)
        val filesBefore = lake.dataFiles(names(0)).toSet
        dvMax.foreach(spark.conf.set("spark.graft.dv.maxEntries", _))
        try lake.upsert(names(0), b, ordering = Seq(col("seq")))
        finally spark.conf.unset("spark.graft.dv.maxEntries")
        val uRows = labelled(lake.read(names(0)), uBefore)
        val uChanges = changes(lake.tableChanges(names(0), uV0, lake.versions(names(0)).last))
        if (dvMax.isEmpty) {
          assert(lake.liveDvs(names(0)).nonEmpty, "the upsert masks its matches with a DV")
          assert(filesBefore.subsetOf(lake.dataFiles(names(0)).toSet),
            "the upsert rewrote a data file")
        } else assert(lake.liveDvs(names(0)).isEmpty, "the fold leaves no DV")
        // the general SQL MERGE side
        if (split && lake.tableExists("mid")) lake.dropTable("mid")
        val (gBefore, gV0) = table(lake, names(1), layout, prepare)
        b.createOrReplaceTempView("updx_src")
        spark.sql(
          s"""MERGE INTO $cat.${names(1)} t
             |USING (SELECT CAST(id AS BIGINT) AS id, seg, x, s FROM (
             |  SELECT *, row_number() OVER (PARTITION BY CAST(id AS BIGINT) ORDER BY seq DESC) AS rn
             |  FROM updx_src) WHERE rn = 1) s
             |ON t.id = s.id
             |WHEN MATCHED AND s.id IS NOT NULL THEN UPDATE SET seg = s.seg, x = s.x, s = s.s
             |WHEN NOT MATCHED THEN INSERT (id, seg, x, s) VALUES (s.id, s.seg, s.x, s.s)
             |""".stripMargin)
        val gRows = labelled(lake.read(names(1)), gBefore)
        val gChanges = changes(lake.tableChanges(names(1), gV0, lake.versions(names(1)).last))
        assert(mChanges.exists(_.contains("update_postimage")) && mRows.exists(_.endsWith(",new]")))
        assert(uRows === mRows, s"seed $s: upsert rows")
        assert(gRows === mRows, s"seed $s: SQL MERGE rows")
        assert(uChanges === mChanges, s"seed $s: upsert changes")
        assert(gChanges === mChanges, s"seed $s: SQL MERGE changes")
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }

  // A batch above KeyProbeCap rows keeps its parallelism: it probes
  // against its own keys, its last-wins window and its rows' write run
  // through exchanges, and the write's distribution gives each touched
  // bucket one file (without it, each window task would write a file per
  // bucket).
  test("an upsert batch above KeyProbeCap takes the distributed write and lands the model's rows") {
    GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, Files.createTempDirectory("graft-updbig").toString)
    val (before, _) = table(lake, "big", Seq("bucket(8, id)"), _ => ())
    val b = (0 to GraftLake.KeyProbeCap).map { seq =>
      val id = 20 + seq % 4000 // 97 keys twice, the rest once
      (id.toString, segs(seq % 3), Option.when(seq % 5 != 0)(seq), s"u$seq", seq)
    }.toDF("id", "seg", "x", "s", "seq").repartition(3)
    val live = lake.read("big")
    val pre = spark.createDataFrame(java.util.Arrays.asList(live.collect(): _*), live.schema)
    val (mRows, _) = model(pre, b, before)
    val filesBefore = lake.dataFiles("big").toSet
    val (_, jobs) = org.apache.spark.sql.graft.JobTimeline.record(spark.sparkContext)(
      lake.upsert("big", b, ordering = Seq(col("seq"))))
    assert(jobs.filter(_.site.contains("stageRowsLocked")).map(_.shuffleWriteBytes).sum > 0L,
      jobs.map(_.site))
    val added = lake.dataFiles("big").filterNot(filesBefore)
    assert(added.size === 8 &&
      added.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).distinct.size === 8, added)
    assert(labelled(lake.read("big"), before) === mRows)
  }

  // Null primary keys, landed and in the batch, never match: each lands
  // as a row of its own. The DV route and the route that folds the DV
  // into the files must land the same rows.
  for ((label, layout) <- Seq(("unpartitioned", Nil),
      ("bucket(8, id)", Seq("bucket(8, id)"))))
    test(s"null primary keys land equally through the DV and the fold route: $label") {
      GraftLake.invalidateCaches()
      val lake = new GraftLake(spark, Files.createTempDirectory("graft-updnull").toString)
      val landed = (1 to 40).map(i => (Option.when(i % 9 != 0)(i.toLong), s"v$i"))
        .toDF("id", "s").repartition(2)
      val r = new scala.util.Random(11)
      val b = (0 until 50).map { seq =>
        (Option.when(r.nextInt(6) != 0)(1L + r.nextInt(60)), s"u$seq", seq)
      }.toDF("id", "s", "seq").repartition(3)
      val Seq(viaDv, viaFold) = Seq(None, Some("0")).map { dvMax =>
        val t = s"t${dvMax.size}"
        lake.write(t, landed, partitions = layout, pks = Seq("id"))
        val before = lake.read(t).select("_inserted_at").distinct()
          .as[java.sql.Timestamp].collect().toSeq
        dvMax.foreach(spark.conf.set("spark.graft.dv.maxEntries", _))
        try lake.upsert(t, b, ordering = Seq(col("seq")))
        finally spark.conf.unset("spark.graft.dv.maxEntries")
        assert(lake.liveDvs(t).isEmpty === dvMax.nonEmpty)
        lake.read(t).select("id", "s", "_inserted_at").collect().map { row =>
          (Option(row.get(0)), row.getString(1),
            before.contains(row.getTimestamp(2)))
        }.toSeq.sortBy(_.toString)
      }
      assert(viaDv.count(_._1.isEmpty) > 4, "null keys landed from the batch")
      assert(viaDv === viaFold)
    }
}
