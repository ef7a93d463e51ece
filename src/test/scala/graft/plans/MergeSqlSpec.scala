package graft.plans

import java.nio.file.Files

import graft.SparkTestSession
import graft.catalog.{GraftCatalog, GraftLake}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior of literal MERGE INTO SQL over graft tables (both rewrite
  * paths of [[RewriteGraftMerge]]). Reference semantics under test:
  * DucklakeWriterMergeTest.java:119-148 (upsert), 224-292
  * (`_inserted_at` set on insert / preserved on update). */
class MergeSqlSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.gmt", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gmt.warehouse",
      Files.createTempDirectory("graft-mergesql").toString)
    s
  }
  private lazy val lake =
    new GraftLake(spark, spark.conf.get("spark.sql.catalog.gmt.warehouse"))

  test("upsert-shaped merge: update in place, insert, _inserted_at policy") {
    import spark.implicits._
    lake.write("t1", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), pks = Seq("id"))
    val before = lake.read("t1")
      .select("id", "_inserted_at").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").createOrReplaceTempView("m_src1")
    spark.sql(
      """MERGE INTO gmt.t1 t USING m_src1 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val rows = lake.read("t1").orderBy("id")
      .select("id", "v", "_inserted_at").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    val ts = rows.map(r => r.getLong(0) -> r.getTimestamp(2)).toMap
    assert(ts(1L) === before(1L), "untouched row keeps _inserted_at")
    assert(ts(2L) === before(2L), "updated row preserves _inserted_at")
    assert(ts(3L) != null, "inserted row gets _inserted_at")
  }

  test("upsert-shaped merge on a partitioned table moves rows across partitions") {
    import spark.implicits._
    lake.write("t2",
      Seq((1L, "SEG_A", 1.0), (2L, "SEG_A", 2.0), (3L, "SEG_B", 3.0))
        .toDF("id", "seg", "x"),
      partitions = Seq("seg"), pks = Seq("id"))
    Seq((2L, "SEG_C", 20.0), (4L, "SEG_B", 4.0)).toDF("id", "seg", "x")
      .createOrReplaceTempView("m_src2")
    spark.sql(
      """MERGE INTO gmt.t2 t USING m_src2 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET seg = s.seg, x = s.x
        |WHEN NOT MATCHED THEN INSERT (id, seg, x) VALUES (s.id, s.seg, s.x)""".stripMargin)
    val got = lake.read("t2").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "SEG_A", 1.0), (2L, "SEG_C", 20.0),
      (3L, "SEG_B", 3.0), (4L, "SEG_B", 4.0)))
    // physical layout: the moved row landed in its new partition directory
    val segC = new java.io.File(
      s"${spark.conf.get("spark.sql.catalog.gmt.warehouse")}/t2/data/__p_seg=SEG_C")
    assert(segC.isDirectory && segC.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("general merge: conditional update/delete, partial columns, not-matched-by-source") {
    import spark.implicits._
    lake.write("t3",
      Seq((1L, "keep", 10.0), (2L, "upd", 200.0), (3L, "del", 30.0), (4L, "nmbs", 5.0))
        .toDF("id", "tag", "x"))
    Seq((2L, 200.0), (3L, 1.0), (5L, 500.0), (6L, 50.0)).toDF("id", "x")
      .createOrReplaceTempView("m_src3")
    spark.sql(
      """MERGE INTO gmt.t3 t USING m_src3 s ON t.id = s.id
        |WHEN MATCHED AND s.x >= 100 THEN UPDATE SET tag = 'big'
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.x > 100 THEN INSERT (id, x) VALUES (s.id, s.x)
        |WHEN NOT MATCHED BY SOURCE AND t.x < 8 THEN DELETE""".stripMargin)
    val got = lake.read("t3").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
    // 1: target-only, x=10 >= 8 → kept; 2: matched, s.x>=100 → tag updated,
    // x untouched; 3: matched, s.x<100 → deleted; 4: target-only, x<8 →
    // deleted; 5: unmatched source, x>100 → inserted with tag NULL;
    // 6: unmatched source, x<=100 → no action
    assert(got === Seq((1L, Some("keep"), 10.0), (2L, Some("big"), 200.0),
      (5L, None, 500.0)))
    val ins = lake.read("t3").filter(col("id") === 5L)
      .select("_inserted_at").head()
    assert(ins.getTimestamp(0) != null, "general-path insert stamps _inserted_at")
  }

  test("upsert-shaped merge routes onto the engine upsert path, not the COW rewrite") {
    import spark.implicits._
    graft.metrics.GraftMetrics.reset()
    lake.write("t6", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    Seq((1L, "b"), (2L, "c")).toDF("id", "v").createOrReplaceTempView("m_src6")
    spark.sql(
      """MERGE INTO gmt.t6 t USING m_src6 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val snap = graft.metrics.GraftMetrics.snapshot()
    assert(snap.getOrElse("mergeSqlUpsertPath.count", 0.0) === 1.0,
      "PK-equality merge must take the partition-pruned upsert path")
    assert(snap.getOrElse("mergeSqlGeneralPath.count", 0.0) === 0.0)
    // a conditional matched action forces the general path
    spark.sql(
      """MERGE INTO gmt.t6 t USING m_src6 s ON t.id = s.id
        |WHEN MATCHED AND s.v = 'b' THEN UPDATE SET v = s.v""".stripMargin)
    assert(graft.metrics.GraftMetrics.snapshot()
      .getOrElse("mergeSqlGeneralPath.count", 0.0) === 1.0)
  }

  test("merge with only NOT MATCHED actions: multiply-matched target row is kept once") {
    import spark.implicits._
    lake.write("t5", Seq((1L, "a")).toDF("id", "v"))
    // two source rows match target id=1 — with no matched action the ANSI
    // cardinality error does not apply, and the row must survive exactly once
    Seq((1L, "x"), (1L, "y"), (2L, "n")).toDF("id", "v")
      .createOrReplaceTempView("m_src5")
    spark.sql(
      """MERGE INTO gmt.t5 t USING m_src5 s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = lake.read("t5").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "n")))
  }

  test("general merge rejects a target row matching multiple source rows") {
    import spark.implicits._
    lake.write("t4", Seq((1L, "a")).toDF("id", "v"))
    Seq((1L, "x"), (1L, "y")).toDF("id", "v").createOrReplaceTempView("m_src4")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO gmt.t4 t USING m_src4 s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(e.getMessage.contains("matched more than one source row"))
  }

  test("upsert-shaped merge with duplicate source keys leaves the fast path") {
    import spark.implicits._
    graft.metrics.GraftMetrics.reset()
    lake.write("t11", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    // duplicate key MATCHING a target row: the fast path would silently
    // pick one last-wins; ANSI MERGE requires the cardinality error
    Seq((1L, "x"), (1L, "y")).toDF("id", "v").createOrReplaceTempView("m_src11")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO gmt.t11 t USING m_src11 s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    }
    assert(e.getMessage.contains("matched more than one source row"))
    assert(graft.metrics.GraftMetrics.snapshot()
      .getOrElse("mergeSqlUpsertPath.count", 0.0) === 0.0,
      "duplicate-key source must not take the dedup-last-wins fast path")
    // duplicate key NOT matching any target row: ANSI inserts every
    // unmatched source row (no dedup)
    Seq((2L, "p"), (2L, "q")).toDF("id", "v").createOrReplaceTempView("m_src11b")
    spark.sql(
      """MERGE INTO gmt.t11 t USING m_src11b s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = lake.read("t11").orderBy("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "p"), (2L, "q")))
  }

  test("source keys equal only after the cast to the PK type leave the fast path") {
    import spark.implicits._
    lake.write("t11c", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    val merge =
      """MERGE INTO gmt.t11c t USING %s s ON t.id = CAST(s.k AS BIGINT)
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (CAST(s.k AS BIGINT), s.v)"""
        .stripMargin
    def src(view: String, rows: (String, String)*): String = {
      rows.toDF("k", "v").select(col("k").cast("decimal(4,1)").as("k"), col("v"))
        .createOrReplaceTempView(view)
      view
    }
    def upsertPathCount = graft.metrics.GraftMetrics.snapshot()
      .getOrElse("mergeSqlUpsertPath.count", 0.0)
    // control: the statement is upsert-shaped, keys distinct after the cast
    graft.metrics.GraftMetrics.reset()
    spark.sql(merge.format(src("m_src11c", ("1.0", "b"), ("3.0", "r"))))
    assert(upsertPathCount === 1.0, "a cast join key keeps the upsert shape")
    // 2.2 and 2.7 are distinct DECIMALs but both land as BIGINT 2
    graft.metrics.GraftMetrics.reset()
    spark.sql(merge.format(src("m_src11d", ("1.0", "z"), ("2.2", "p"), ("2.7", "q"))))
    assert(upsertPathCount === 0.0,
      "keys that collide after the cast must not take the last-wins fast path")
    // ANSI outcome: key 1 matched once (updated); key 2 unmatched, so both
    // source rows insert (PKs are advisory on the general path)
    val got = lake.read("t11c").orderBy("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "z"), (2L, "p"), (2L, "q"), (3L, "r")))
  }

  test("star actions: UPDATE SET * / INSERT * take the upsert fast path") {
    import spark.implicits._
    graft.metrics.GraftMetrics.reset()
    lake.write("t12", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "x"),
      pks = Seq("id"))
    Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("id", "v", "x")
      .createOrReplaceTempView("m_src12")
    // the analyzer expands the stars into by-name assignments of every
    // target column before the graft rewrite fires — the expansion is the
    // canonical upsert shape, so it must route onto the pruned fast path
    spark.sql(
      """MERGE INTO gmt.t12 t USING m_src12 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = lake.read("t12").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
    assert(graft.metrics.GraftMetrics.snapshot()
      .getOrElse("mergeSqlUpsertPath.count", 0.0) === 1.0)
  }

  test("general merge on a partitioned table is partition-scoped (no NMBS clause)") {
    import spark.implicits._
    lake.write("t7",
      Seq((1L, "A", 10.0), (2L, "B", 200.0), (3L, "C", 3.0))
        .toDF("id", "seg", "x"),
      partitions = Seq("seg"))
    val wh = spark.conf.get("spark.sql.catalog.gmt.warehouse")
    def files(seg: String) = Option(new java.io.File(s"$wh/t7/data/__p_seg=$seg")
      .listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    val beforeA = files("A"); val beforeC = files("C")
    // conditional matched update (general path) touching only partition B,
    // plus an insert landing in partition D
    Seq((2L, "B", 1.0), (4L, "D", 4.0)).toDF("id", "seg", "x")
      .createOrReplaceTempView("m_src7")
    spark.sql(
      """MERGE INTO gmt.t7 t USING m_src7 s ON t.id = s.id
        |WHEN MATCHED AND t.x > 100 THEN UPDATE SET x = s.x
        |WHEN NOT MATCHED THEN INSERT (id, seg, x) VALUES (s.id, s.seg, s.x)""".stripMargin)
    val got = lake.read("t7").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "A", 10.0), (2L, "B", 1.0), (3L, "C", 3.0), (4L, "D", 4.0)))
    assert(files("A") === beforeA && files("C") === beforeC,
      "partitions without matches or inserts keep their files")
    assert(files("D").nonEmpty, "insert created its partition")
  }

  test("insert-only merge (no MATCHED, no NMBS) appends without rewriting any file") {
    import spark.implicits._
    lake.write("t8", Seq((1L, "A", 1.0)).toDF("id", "seg", "x"),
      partitions = Seq("seg"))
    val wh = spark.conf.get("spark.sql.catalog.gmt.warehouse")
    def files(seg: String) = Option(new java.io.File(s"$wh/t8/data/__p_seg=$seg")
      .listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    val beforeA = files("A")
    Seq((1L, "A", 99.0), (2L, "A", 2.0)).toDF("id", "seg", "x")
      .createOrReplaceTempView("m_src8")
    spark.sql(
      """MERGE INTO gmt.t8 t USING m_src8 s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, seg, x) VALUES (s.id, s.seg, s.x)""".stripMargin)
    val got = lake.read("t8").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 1.0), (2L, 2.0)), "matched row untouched, unmatched appended")
    assert(beforeA.subsetOf(files("A")),
      "append-only: the original files survive unmodified")
    assert(lake.read("t8").filter(col("id") === 2L)
      .select("_inserted_at").head().getTimestamp(0) != null)
  }

  test("SQL DELETE is partition-scoped: untouched partition keeps its files") {
    import spark.implicits._
    lake.write("d1",
      Seq((1L, "A", 5.0), (2L, "A", 50.0), (3L, "B", 5.0), (4L, "C", 9.0))
        .toDF("id", "seg", "x"),
      partitions = Seq("seg"))
    val wh = spark.conf.get("spark.sql.catalog.gmt.warehouse")
    def files(seg: String) = Option(new java.io.File(s"$wh/d1/data/__p_seg=$seg")
      .listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    val beforeA = files("A"); val beforeB = files("B")
    assert(beforeA.nonEmpty && beforeB.nonEmpty)
    // the copy-on-write fold, forced by a zero DV budget
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try spark.sql("DELETE FROM gmt.d1 WHERE x < 8 AND seg <> 'B'")
    finally spark.conf.unset("spark.graft.dv.maxEntries")
    val got = lake.read("d1").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((2L, "A"), (3L, "B"), (4L, "C")))
    assert(files("B") === beforeB, "partition B had no matches — files untouched")
    assert(files("A") !== beforeA, "partition A was rewritten")
  }

  test("SQL DELETE where the condition is null keeps the row") {
    import spark.implicits._
    lake.write("d2", Seq((1L, Some(3.0)), (2L, None), (3L, Some(30.0)))
      .toDF("id", "x"))
    spark.sql("DELETE FROM gmt.d2 WHERE x < 10")
    assert(lake.read("d2").select("id").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L), "null condition is not TRUE — row 2 stays")
  }

  test("SQL UPDATE relocates rows when a partition-source column changes") {
    import spark.implicits._
    lake.write("u1",
      Seq((1L, "A", 1.0), (2L, "A", 100.0), (3L, "B", 2.0))
        .toDF("id", "seg", "x"),
      partitions = Seq("seg"))
    spark.sql("UPDATE gmt.u1 SET seg = 'HOT', x = x * 2 WHERE x >= 100")
    val got = lake.read("u1").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "A", 1.0), (2L, "HOT", 200.0), (3L, "B", 2.0)))
    val hot = new java.io.File(
      s"${spark.conf.get("spark.sql.catalog.gmt.warehouse")}/u1/data/__p_seg=HOT")
    assert(hot.isDirectory && hot.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("SQL UPDATE uses simultaneous old-row assignment semantics") {
    import spark.implicits._
    lake.write("u2", Seq((1L, 10.0, 20.0)).toDF("id", "a", "b"))
    spark.sql("UPDATE gmt.u2 SET a = b, b = a")
    val r = lake.read("u2").select("a", "b").head()
    assert((r.getDouble(0), r.getDouble(1)) === ((20.0, 10.0)),
      "both RHS evaluate against the old row — a swap, not a copy chain")
  }

  test("fast-path merge executes the source plan exactly once (probe + upsert share a cache)") {
    import spark.implicits._
    lake.write("src_once", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"),
      pks = Seq("id"))
    val acc = spark.sparkContext.longAccumulator("src_rows_seen")
    val seen = udf { (id: Long) => acc.add(1); id }
    (26L to 75L).map(i => (i, s"n$i")).toDF("id0", "v")
      .select(seen(col("id0")).as("id"), col("v"))
      .createOrReplaceTempView("m_src_once")
    spark.sql(
      """MERGE INTO gmt.src_once t USING m_src_once s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(lake.read("src_once").count() === 75)
    // duplicate-PK probe + affected-partition probe + rewrite would be 3
    // source executions uncached; the shared cache makes it exactly one
    assert(acc.value === 50,
      s"source rows evaluated ${acc.value} times for 50 rows — plan re-executed")
  }

  test("MERGE WITH SCHEMA EVOLUTION: star merge adds the source's new column") {
    import spark.implicits._
    lake.write("evo1", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), pks = Seq("id"))
    val before = lake.read("evo1")
      .select("id", "_inserted_at").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    Seq((2L, "B", 20), (3L, "c", 30)).toDF("id", "v", "extra")
      .createOrReplaceTempView("m_evo1")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gmt.evo1 t USING m_evo1 s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val meta = lake.readMeta("evo1")
    assert(meta.schema.fieldNames.contains("extra"), "table schema evolved")
    assert(meta.pks === Seq("id"), "pks preserved across evolution")
    val rows = lake.read("evo1").orderBy("id")
      .select("id", "v", "extra", "_inserted_at").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getInt(2))).toSeq ===
      Seq((1L, "a", null), (2L, "B", 20), (3L, "c", 30)),
      "pre-existing unmatched row reads NULL for the evolved column")
    assert(rows(1).getTimestamp(3) === before(2L), "update preserves _inserted_at")
    assert(rows(2).getTimestamp(3) != null, "insert stamps _inserted_at")
  }

  test("MERGE WITH SCHEMA EVOLUTION: explicit assignment to a new column") {
    import spark.implicits._
    lake.write("evo2", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), pks = Seq("id"))
    Seq((2L, "B", "x2"), (3L, "c", "x3")).toDF("id", "v", "tag")
      .createOrReplaceTempView("m_evo2")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gmt.evo2 t USING m_evo2 s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
        |WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""".stripMargin)
    val rows = lake.read("evo2").orderBy("id")
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq((1L, "a", null), (2L, "B", "x2"), (3L, "c", "x3")))
  }

  test("MERGE WITH SCHEMA EVOLUTION with no new columns behaves as a plain merge") {
    import spark.implicits._
    lake.write("evo3", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    val schemaBefore = lake.readMeta("evo3").schema
    Seq((1L, "A"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("m_evo3")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gmt.evo3 t USING m_evo3 s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(lake.readMeta("evo3").schema === schemaBefore, "schema untouched")
    assert(lake.read("evo3").orderBy("id").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "A"), (2L, "b")))
  }

  test("star merge with a bare unaliased USING table expands via the table name") {
    import spark.implicits._
    lake.write("star_bare", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), pks = Seq("id"))
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").createOrReplaceTempView("m_star_bare")
    spark.sql(
      """MERGE INTO gmt.star_bare t USING m_star_bare ON t.id = m_star_bare.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(lake.read("star_bare").orderBy("id").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("star merge with an alias-less programmatic source fails descriptively") {
    import spark.implicits._
    lake.write("star_na", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    // Dataset.mergeInto carries the raw source plan — no SubqueryAlias, so
    // the star cannot be qualified; the rule must say why instead of
    // letting Spark fail on the engine-managed _inserted_at
    val src = Seq((1L, "A")).toDF("id", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      src.mergeInto("gmt.star_na", src("id") === col("id"))
        .whenMatched().updateAll().merge()
    }
    assert(e.getMessage.contains("aliased USING source"),
      s"expected the descriptive star-expansion error, got: ${e.getMessage}")
  }

  test("nested-field merge assignment fails analysis, never misassigns") {
    import spark.implicits._
    // graft landed types serialize nested data to JSON strings, so lake
    // columns are never structs — a nested assignment key like `t.a.x`
    // over a STRING column dies in Spark's own analyzer
    // (INVALID_EXTRACT_BASE_FIELD_TYPE: can't extract a field from a
    // non-struct) before the engine rewrite ever sees the plan. That
    // analyzer error IS the contract for the SQL surface; the engine's
    // own guard (GraftMerge.assigned's non-Attribute check) remains as
    // the backstop for programmatically-built plans. Either way the
    // statement must fail analysis — a silent assignment to the wrong
    // column would be the only unacceptable outcome.
    lake.write("nest1", Seq((1L, "a", "b")).toDF("id", "a", "b"), pks = Seq("id"))
    Seq((1L, "A")).toDF("id", "va").createOrReplaceTempView("m_nest1")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """MERGE INTO gmt.nest1 t USING m_nest1 s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.a.x = s.va""".stripMargin)
    }
    assert(e.getCondition == "INVALID_EXTRACT_BASE_FIELD_TYPE",
      s"expected Spark's non-struct field-extraction error, got: " +
        s"${e.getCondition} / ${e.getMessage}")
    // and the table is untouched
    assert(lake.read("nest1").select("a").as[String].collect().toSeq === Seq("a"))
  }

  test("strict-pk mode fails a duplicate-key merge before any write") {
    import spark.implicits._
    lake.write("strict1", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    Seq((2L, "x"), (2L, "y")).toDF("id", "v").createOrReplaceTempView("m_strict1")
    val stmt =
      """MERGE INTO gmt.strict1 t USING m_strict1 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin
    spark.conf.set("spark.graft.merge.strictPks", "true")
    try {
      val e = intercept[IllegalStateException] { spark.sql(stmt) }
      assert(e.getMessage.contains("strict-pk"))
      // nothing was staged or swapped
      assert(lake.read("strict1").count() === 1)
    } finally spark.conf.unset("spark.graft.merge.strictPks")
    // default (advisory) semantics: the same statement inserts both rows
    spark.sql(stmt)
    assert(lake.read("strict1").count() === 3)
  }

  test("strict-pk mode catches an insert colliding with an UNTOUCHED table row") {
    import spark.implicits._
    // insert-only merge matched on v, not the pk: source id=1 does not
    // match any row by v, so ANSI inserts it — duplicating pk id=1 that
    // already sits in the table. Strict mode must see across the append.
    lake.write("strict2", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), pks = Seq("id"))
    Seq((1L, "zzz")).toDF("id", "v").createOrReplaceTempView("m_strict2")
    val stmt =
      """MERGE INTO gmt.strict2 t USING m_strict2 s ON t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin
    spark.conf.set("spark.graft.merge.strictPks", "true")
    try {
      val e = intercept[IllegalStateException] { spark.sql(stmt) }
      assert(e.getMessage.contains("strict-pk"))
      assert(lake.read("strict2").count() === 2)
    } finally spark.conf.unset("spark.graft.merge.strictPks")
  }

  test("strict-pk mode passes a clean merge through unchanged") {
    import spark.implicits._
    lake.write("strict3", Seq((1L, "a")).toDF("id", "v"), pks = Seq("id"))
    Seq((1L, "A"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("m_strict3")
    spark.conf.set("spark.graft.merge.strictPks", "true")
    try {
      spark.sql(
        """MERGE INTO gmt.strict3 t USING m_strict3 s ON t.id = s.id
          |WHEN MATCHED AND s.v != 'never' THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
      assert(lake.read("strict3").orderBy("id").select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "A"), (2L, "b")))
    } finally spark.conf.unset("spark.graft.merge.strictPks")
  }

  test("merge into a non-graft table still fails analysis (rule scoped to graft)") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("m_plain_t")
    Seq((1L, "b")).toDF("id", "v").createOrReplaceTempView("m_plain_s")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO m_plain_t t USING m_plain_s s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
  }

  test("general-form MERGE moving matched rows into an untouched partition keeps its rows") {
    import spark.implicits._
    // the scope is the matched partition ('a'); the moved row lands in
    // 'b', whose existing row must stay beside it
    lake.write("tmv", Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
      .toDF("id", "seg", "v"), partitions = Seq("seg"), pks = Seq("id"))
    Seq((1L, true)).toDF("id", "flag").createOrReplaceTempView("m_srcmv")
    spark.sql(
      """MERGE INTO gmt.tmv t USING m_srcmv s ON t.id = s.id
        |WHEN MATCHED AND s.flag THEN UPDATE SET seg = 'b'""".stripMargin)
    assert(lake.read("tmv").select("id", "seg").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "b"), (2L, "a"), (3L, "b")))
  }
}
