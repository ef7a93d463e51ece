package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The general SQL MERGE against a plain model of ANSI MERGE semantics,
  * computed row by row over the collected table and source. Each random
  * source spells some keys so that they match a target key only after the
  * cast to BIGINT, repeats keys and carries null keys; the table holds
  * duplicate and null keys of its own. Two statement shapes run on every
  * layout: conditional matched DELETE and UPDATE (the UPDATE moves rows
  * between partitions), a conditional INSERT and conditional NOT MATCHED BY
  * SOURCE DELETE and UPDATE; and a MERGE without matched actions, whose
  * source matches target rows several times. The layouts: unpartitioned,
  * `bucket(8, id)`, a value-partitioned table (values with a space, a slash
  * and a percent sign) and a `bucket(8)` → `bucket(16)` split frozen after
  * one bucket; each also under `spark.graft.dv.maxEntries=0`, which folds
  * the statement's deletion vector into the files. Rows, `_inserted_at`
  * preservation and the change rows must equal the model's. */
class MergePathDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val segs = Seq("a", "b c", "d/e%f")

  /** A table row: the label of its `_inserted_at` (its index among the
    * table's stamps before the MERGE, or `new`) stands in for the stamp. */
  private case class R(id: Option[Long], seg: String, x: Option[Int], s: String, stamp: String)
  /** A source row, its key already cast to BIGINT. */
  private case class S(id: Option[Long], seg: String, x: Option[Int], s: String)

  private def seed(from: Int, n: Int): DataFrame =
    (from until from + n).map(i =>
      (Option.when(i % 13 != 0)(i.toLong), segs(i % 3), Option.when(i % 7 != 0)(i * 37 % 100), s"v$i"))
      .toDF("id", "seg", "x", "s").repartition(2)

  /** Source rows: 12 distinct live keys, a third of them zero-padded; 8
    * rows over 6 new keys, some repeated in both spellings; two null keys.
    * `repeatLive` adds a second spelling of 3 of the live keys. */
  private def source(seed: Long, repeatLive: Boolean): Seq[(Option[String], String, Option[Int], String)] = {
    val r = new scala.util.Random(seed)
    def spell(id: Int) = if (r.nextInt(3) == 0) f"$id%04d" else id.toString
    def x() = Option.when(r.nextInt(5) != 0)(r.nextInt(1000))
    val live = r.shuffle((1 to 40).toList).take(12)
    val fresh = (0 until 8).map(_ => 41 + r.nextInt(6))
    val keys = live.map(spell) ++ fresh.map(spell) ++
      (if (repeatLive) live.take(3).map(id => f"$id%05d") else Nil)
    keys.zipWithIndex.map { case (k, i) => (Some(k), segs(r.nextInt(3)), x(), s"u$i") } ++
      Seq((None, "a", Some(7), "n1"), (None, "b c", None, "n2"))
  }

  /** The ANSI model of `sql`'s two shapes over `target` and `src`: the rows
    * after the MERGE and its change rows, or None when a target row matches
    * more than one source row while matched actions exist. */
  private def model(target: Seq[R], src: Seq[S], matchedActions: Boolean)
      : Option[(Seq[String], Seq[String])] = {
    val rows = Seq.newBuilder[R]
    val changes = Seq.newBuilder[(R, String)]
    def update(t: R, n: R): Unit = {
      rows += n; changes += t -> "update_preimage"; changes += n -> "update_postimage"
    }
    for (t <- target) {
      val ms = src.filter(s => s.id.isDefined && s.id == t.id)
      if (matchedActions && ms.size > 1) return None
      if (ms.nonEmpty) {
        val s = ms.head
        if (!matchedActions) rows += t
        else if (s.x.isEmpty) changes += t -> "delete"
        else if (s.x.get > 500) update(t, t.copy(seg = s.seg, x = s.x, s = s.s))
        else rows += t
      } else if (t.x.exists(_ < 30)) changes += t -> "delete"
      else if (matchedActions && t.x.exists(_ > 90)) update(t, t.copy(s = t.s + "-nmbs"))
      else rows += t
    }
    for (s <- src if s.x.isDefined && !target.exists(t => t.id.isDefined && t.id == s.id)) {
      val n = R(s.id, s.seg, s.x, s.s, "new")
      rows += n; changes += n -> "insert"
    }
    Some((rows.result().map(_.toString).sorted,
      changes.result().map { case (r, ct) => (r.copy(stamp = ""), ct).toString }.sorted))
  }

  private def sql(cat: String, t: String, matchedActions: Boolean): String = {
    val matched =
      if (!matchedActions) ""
      else """WHEN MATCHED AND s.x IS NULL THEN DELETE
             |WHEN MATCHED AND s.x > 500 THEN UPDATE SET seg = s.seg, x = s.x, s = s.s
             |""".stripMargin
    val nmbsUpdate =
      if (!matchedActions) ""
      else "WHEN NOT MATCHED BY SOURCE AND t.x > 90 THEN UPDATE SET s = concat(t.s, '-nmbs')\n"
    s"""MERGE INTO $cat.$t t
       |USING (SELECT CAST(id AS BIGINT) AS id, seg, x, s FROM mergex_src) s
       |ON t.id = s.id
       |$matched
       |WHEN NOT MATCHED AND s.x IS NOT NULL THEN INSERT (id, seg, x, s) VALUES (s.id, s.seg, s.x, s.s)
       |WHEN NOT MATCHED BY SOURCE AND t.x < 30 THEN DELETE
       |$nmbsUpdate""".stripMargin
  }

  private def freezeSplit(lake: GraftLake, t: String): Unit = {
    var calls = 0
    lake.rebucketBeforeCommitHook = () =>
      { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
    try intercept[RuntimeException](lake.rebucket(t, 16))
    finally lake.rebucketBeforeCommitHook = () => ()
  }

  private def stamped(df: DataFrame, before: Seq[java.sql.Timestamp]): Seq[R] =
    df.select("id", "seg", "x", "s", "_inserted_at").collect().toSeq.map { r =>
      val i = before.indexOf(r.getTimestamp(4))
      R(Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getString(3), if (i < 0) "new" else s"s$i")
    }

  /** Runs one MERGE on a fresh CDF-enabled table `t` and checks it against
    * the model. */
  private def check(cat: String, lake: GraftLake, t: String, layout: Seq[String],
      split: Boolean, fold: Boolean, srcSeed: Long, matchedActions: Boolean,
      repeatLive: Boolean): Unit = {
    lake.write(t, seed(1, 40), partitions = layout)
    lake.append(t, seed(30, 5).withColumn("s", concat(col("s"), lit("-dup"))))
    if (split) {
      freezeSplit(lake, t)
      assert(lake.dataFiles(t).exists(_.contains("__p_bucket_16_id")) &&
        lake.dataFiles(t).exists(_.contains("__p_bucket_8_id")), "a frozen split")
    }
    lake.setTableProperty(t, TableMeta.CdfEnabledKey, "true")
    val v0 = lake.versions(t).last
    val before = lake.read(t).select("_inserted_at").distinct().as[java.sql.Timestamp]
      .collect().sortBy(ts => (ts.getTime, ts.getNanos)).toSeq
    val pre = stamped(lake.read(t), before)
    val raw = source(srcSeed, repeatLive)
    raw.toDF("id", "seg", "x", "s").repartition(3).createOrReplaceTempView("mergex_src")
    val src = raw.map { case (k, seg, x, s) => S(k.map(_.toLong), seg, x, s) }
    val filesBefore = lake.dataFiles(t).toSet
    val expected = model(pre, src, matchedActions)
    if (fold) spark.conf.set("spark.graft.dv.maxEntries", "0")
    try expected match {
      case None =>
        val e = intercept[Exception](spark.sql(sql(cat, t, matchedActions)))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("more than one source row")), e)
        assert(lake.versions(t).last === v0, "a refused MERGE commits nothing")
      case Some((rows, changes)) =>
        spark.sql(sql(cat, t, matchedActions))
        assert(changes.exists(_.contains("insert")) && changes.exists(_.contains("delete")))
        assert(stamped(lake.read(t), before).map(_.toString).sorted === rows, s"$t rows")
        val feed = lake.tableChanges(t, v0, lake.versions(t).last)
          .select("id", "seg", "x", "s", GraftLake.ChangeTypeCol).collect().toSeq.map { r =>
            (R(Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
              Option(r.get(2)).map(_.asInstanceOf[Int]), r.getString(3), ""), r.getString(4)).toString
          }.sorted
        assert(feed === changes, s"$t changes")
        if (fold) assert(lake.liveDvs(t).isEmpty, "the fold leaves no DV")
        else {
          assert(lake.liveDvs(t).nonEmpty, "the MERGE masks its hits with a DV")
          assert(filesBefore.subsetOf(lake.dataFiles(t).toSet), "the MERGE rewrote a data file")
        }
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
  }

  // (label, layout, mid-split); one catalog name per test: a session keeps
  // the catalog it first initialized under a name
  for ((((label, layout, split), fold), i) <- (for {
      l <- Seq(("unpartitioned", Nil, false),
        ("bucket(8, id)", Seq("bucket(8, id)"), false),
        ("value-partitioned", Seq("seg"), false),
        ("bucket(8) -> bucket(16) frozen mid-split", Seq("bucket(8, id)"), true))
      f <- Seq(false, true)
    } yield (l, f)).zipWithIndex)
    test(s"general SQL MERGE equals the ANSI model: $label${if (fold) ", dv.maxEntries=0" else ""}") {
      val cat = s"mergex$i"
      GraftLake.invalidateCaches()
      val wh = Files.createTempDirectory("graft-mergex").toString
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val lake = new GraftLake(spark, wh)
      try {
        check(cat, lake, "t_actions", layout, split, fold, 10L + i, matchedActions = true,
          repeatLive = false)
        check(cat, lake, "t_no_matched", layout, split, fold, 20L + i, matchedActions = false,
          repeatLive = true)
        check(cat, lake, "t_cardinality", layout, split, fold, 30L + i, matchedActions = true,
          repeatLive = true)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
}
