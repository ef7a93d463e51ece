package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // catalog instances are cached per session at first use, so each test
  // gets its own catalog name bound to a fresh warehouse
  private var n = 0
  private def withCatalog[T](f: (String, String) => T): T = {
    GraftLake.invalidateCaches()
    n += 1
    val cat = s"gcat$n"
    val wh = Files.createTempDirectory("graft-cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(cat, wh)
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES flips engine flags through SQL") {
    withCatalog { (cat, wh) =>
      val lake = new GraftLake(spark, wh)
      lake.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"),
        pks = Seq("id"))
      val v0 = lake.versions("t").last
      // capture OFF: an upsert window is unattributable
      lake.upsert("t", Seq((1, "A2")).toDF("id", "v"))
      intercept[IllegalArgumentException] {
        lake.tableChanges("t", v0, lake.versions("t").last).collect()
      }
      // flip it on through LITERAL SQL; the property surfaces and the
      // next rewrite writes its change files
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        s"('${TableMeta.CdfEnabledKey}'='true')")
      assert(lake.readMeta("t").cdfEnabled)
      val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get(TableMeta.CdfEnabledKey).contains("true"))
      val v1 = lake.versions("t").last
      lake.upsert("t", Seq((2, "B2")).toDF("id", "v"))
      val feed = lake.tableChanges("t", v1, lake.versions("t").last)
        .select("id", "v", GraftLake.ChangeTypeCol).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
      assert(feed === Set((2, "b", "update_preimage"),
        (2, "B2", "update_postimage")))
      // UNSET turns capture back off
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES " +
        s"('${TableMeta.CdfEnabledKey}')")
      assert(!lake.readMeta("t").cdfEnabled)
    }
  }

  test("SQL SELECT and JOIN against lake tables through the v2 catalog") {
    withCatalog { (cat, wh) =>
      val lake = new GraftLake(spark, wh)
      lake.write("users", Seq((1, "alice"), (2, "bob")).toDF("id", "name"),
        pks = Seq("id"))
      lake.write("orders_t", Seq((10, 1, 99.5), (11, 2, 45.0)).toDF("oid", "uid", "amt"))
      val got = spark.sql(
        s"""SELECT u.name, round(sum(o.amt), 2) AS total
          |FROM $cat.users u JOIN $cat.orders_t o ON u.id = o.uid
          |GROUP BY u.name ORDER BY u.name""".stripMargin).collect()
      assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
        Seq(("alice", 99.5), ("bob", 45.0)))
      assert(spark.sql(s"SHOW TABLES IN $cat").collect()
        .map(_.getString(1)).toSet === Set("users", "orders_t"))
    }
  }

  test("partitioned lake table readable with pruning via the catalog") {
    withCatalog { (cat, wh) =>
      val lake = new GraftLake(spark, wh)
      lake.write("p",
        Seq((1, java.sql.Timestamp.valueOf("2023-01-15 00:00:00"), "a"),
          (2, java.sql.Timestamp.valueOf("2024-06-15 00:00:00"), "b"))
          .toDF("id", "ts", "v"),
        partitions = Seq("year(ts)"), pks = Seq("id"))
      val df = spark.sql(s"SELECT id, v FROM $cat.p WHERE __p_year_ts = 2024")
      assert(df.collect().map(_.toSeq).toSet === Set(Seq(2, "b")))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PartitionFilters: [isnotnull(__p_year_ts"),
        "partition filter must prune at scan")
      // SQL INSERT routes through the engine: the row lands in the correct
      // partition directory with _inserted_at stamped
      spark.sql(s"INSERT INTO $cat.p (id, ts, v) SELECT 9, TIMESTAMP '2024-01-01', 'z'")
      val inserted = spark.sql(
        s"SELECT id, v, _inserted_at FROM $cat.p WHERE __p_year_ts = 2024 ORDER BY id")
        .collect()
      assert(inserted.map(r => (r.getInt(0), r.getString(1))).toSeq ===
        Seq((2, "b"), (9, "z")))
      assert(inserted.forall(_.getTimestamp(2) != null),
        "_inserted_at must be stamped on SQL INSERT")
      val dir2024 = new java.io.File(s"$wh/p/data/__p_year_ts=2024")
      assert(dir2024.isDirectory &&
        dir2024.listFiles().exists(_.getName.endsWith(".parquet")))
    }
  }

  test("manifest bounds prune files for plain SQL scans") {
    withCatalog { (cat, wh) =>
      val lake = new GraftLake(spark, wh)
      // three appends with disjoint id/ts ranges — three+ files with
      // disjoint manifest bounds
      def batch(base: Int, month: Int) = (1 to 80).map { i =>
        (base + i, (base + i) * 2.0,
          java.sql.Timestamp.valueOf(f"2024-$month%02d-10 12:00:00"))
      }.toDF("id", "v", "ts")
      lake.append("sq", batch(0, 1))
      lake.append("sq", batch(1000, 2))
      lake.append("sq", batch(2000, 3))
      // files the engine scan planned, from execution metrics (a session
      // with GraftExtensions reads every graft relation through it)
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        GraftPlanWalk.v1ScannedFiles(df.queryExecution.executedPlan).toInt
      }
      val all = scannedFiles(spark.sql(s"SELECT * FROM $cat.sq"))
      assert(all >= 3)
      // numeric range: files outside [1001, 1080] must not be planned
      val mid = spark.sql(s"SELECT id, v FROM $cat.sq WHERE id BETWEEN 1001 AND 1080")
      val midN = scannedFiles(mid)
      assert(midN > 0 && midN < all, "SQL scan must plan only bounds-matching files")
      assert(mid.collect().map(_.getInt(0)).sorted.toSeq === (1001 to 1080))
      // timestamp predicate (string literal folds to a timestamp literal)
      val ts = spark.sql(s"SELECT count(*) AS n FROM $cat.sq WHERE ts >= '2024-03-01'")
      assert(scannedFiles(ts) < all)
      assert(ts.head().getLong(0) === 80L)
      // provably-disjoint range: an empty plan, zero rows
      val none = spark.sql(s"SELECT * FROM $cat.sq WHERE id > 900000")
      assert(scannedFiles(none) === 0)
      assert(none.count() === 0L)
      // unprunable shape keeps every file
      assert(scannedFiles(
        spark.sql(s"SELECT * FROM $cat.sq WHERE v / 2.0 = CAST(id AS DOUBLE)")) === all)
      // partitioned table: data-filter pruning composes with the generated
      // partition columns (they must still parse off the pruned path list)
      lake.write("sqp",
        (1 to 60).map(i => (i, i % 3, i * 1.0)).toDF("id", "p", "v"),
        partitions = Seq("p"))
      lake.append("sqp",
        (5001 to 5060).map(i => (i, i % 3, i * 1.0)).toDF("id", "p", "v"))
      val allP = scannedFiles(spark.sql(s"SELECT * FROM $cat.sqp"))
      val prunedP = spark.sql(
        s"SELECT id, __p_p FROM $cat.sqp WHERE id >= 5001 ORDER BY id")
      assert(scannedFiles(prunedP) < allP)
      val rows = prunedP.collect()
      assert(rows.map(_.getInt(0)).toSeq === (5001 to 5060))
      assert(rows.forall(r => r.getInt(1) === r.getInt(0) % 3),
        "generated partition columns must survive the pruned file list")
    }
  }

  test("CREATE TABLE / INSERT INTO / DROP TABLE through SQL") {
    withCatalog { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.raw (id INT, v STRING)
          |TBLPROPERTIES ('pks' = 'id')""".stripMargin)
      val lake = new GraftLake(spark, wh)
      assert(lake.tableExists("raw"))
      assert(lake.readMeta("raw").pks === Seq("id"))
      // named-column insert: _inserted_at is engine-managed (stamped by the
      // write path, reference DucklakeWriter.java:205-214), SQL writers
      // address the data columns
      spark.sql(s"INSERT INTO $cat.raw (id, v) SELECT 1, 'x'")
      assert(spark.sql(s"SELECT id, v FROM $cat.raw").collect()
        .map(_.toSeq).toSet === Set(Seq(1, "x")))
      assert(spark.sql(s"SELECT _inserted_at FROM $cat.raw").head()
        .getTimestamp(0) != null)
      // INSERT OVERWRITE replaces contents through the engine
      spark.sql(s"INSERT OVERWRITE $cat.raw (id, v) SELECT 2, 'y'")
      assert(spark.sql(s"SELECT id, v FROM $cat.raw").collect()
        .map(_.toSeq).toSet === Set(Seq(2, "y")))
      spark.sql(s"DROP TABLE $cat.raw")
      assert(!lake.tableExists("raw"))
    }
  }

  test("CTAS / partitioned CTAS / CREATE OR REPLACE / failed-CTAS cleanup") {
    withCatalog { (cat, wh) =>
      val lake = new GraftLake(spark, wh)
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
        .createOrReplaceTempView("ctas_src")
      // plain CTAS: create + populate in one statement
      spark.sql(s"CREATE TABLE $cat.t1 AS SELECT id, v FROM ctas_src")
      assert(spark.sql(s"SELECT id FROM $cat.t1 ORDER BY id")
        .collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
      // partitioned CTAS with the engine's expression layout
      spark.sql(s"CREATE TABLE $cat.t2 PARTITIONED BY (bucket(8, id)) " +
        "AS SELECT id, v FROM ctas_src")
      assert(lake.readMeta("t2").partitions === Seq("bucket(8, id)"),
        "PARTITIONED BY transforms map to the engine layout")
      assert(new java.io.File(s"$wh/t2/data").listFiles()
        .exists(_.getName.startsWith("__p_bucket_8_id=")),
        "data landed under the bucket directories")
      assert(spark.sql(s"SELECT v FROM $cat.t2 WHERE id = 2")
        .head().getString(0) === "b")
      // CREATE OR REPLACE replaces contents AND schema
      spark.sql(s"CREATE OR REPLACE TABLE $cat.t1 AS " +
        "SELECT id * 10 AS id2 FROM ctas_src")
      assert(spark.sql(s"SELECT id2 FROM $cat.t1 ORDER BY id2")
        .collect().map(_.getInt(0)).toSeq === Seq(10, 20, 30))
      // a SELECT that fails at RUNTIME (valid schema, mid-write error)
      // must not leave an orphan half-created table
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.t3 AS SELECT id, " +
          "CASE WHEN id < 2 THEN v ELSE raise_error('boom') END AS b " +
          "FROM ctas_src")
      }
      assert(!lake.tableExists("t3"),
        "failed CTAS cleans its half-created table up")
      assert(intercept[Exception](spark.sql(s"SELECT * FROM $cat.t3"))
        .getMessage.toLowerCase.contains("t3"))
    }
  }

  test("REPLACE TABLE ... PARTITIONED BY: guided depth-change rebuild " +
      "carries pks, constraints and properties; CTAS remedy named") {
    withCatalog { (cat, wh) =>
      import org.apache.spark.sql.functions._
      val lake = new GraftLake(spark, wh)
      lake.write("t",
        (0 until 200).map(i =>
          (i.toLong, java.sql.Date.valueOf(f"202${i % 3}%d-0${i % 9 + 1}%d-15"),
            i * 1.0)).toDF("id", "d", "price"),
        partitions = Seq("bucket(4, id)"), pks = Seq("id"))
      lake.addConstraint("t", "nonneg", "price >= 0")
      lake.setTableProperty("t", "custom.tag", "keep-me")
      lake.deleteWhere("t", col("id") === 7L) // a live DV to materialize
      val vPre = lake.versions("t").last
      // the online path refuses the depth change and NAMES the remedy
      val e = intercept[IllegalArgumentException](
        lake.evolvePartitions("t", Seq("bucket(4, id)", "year(d)")))
      assert(e.getMessage.contains("REPLACE TABLE"), s"got: ${e.getMessage}")
      // the named statement: 1 -> 2 expressions, carried metadata
      spark.sql(
        s"REPLACE TABLE $cat.t PARTITIONED BY (bucket(4, id), year(d))")
      val meta = lake.readMeta("t")
      assert(meta.partitions === Seq("bucket(4, id)", "year(d)"))
      assert(meta.pks === Seq("id"), "primary keys carried")
      assert(meta.constraints.map(_._1) === Seq("nonneg"), "constraints carried")
      assert(meta.props.get("custom.tag").contains("keep-me"), "props carried")
      assert(lake.read("t").count() === 199, "contents preserved, DV folded")
      assert(lake.read("t").filter(col("id") === 7L).isEmpty,
        "the materialized delete stays deleted")
      assert(lake.liveDvs("t").isEmpty)
      assert(lake.dataFiles("t").forall(p =>
        p.contains("__p_bucket_4_id=") && p.contains("__p_year_d=")),
        "every live file sits under the two-expression layout")
      // constraints still enforce after the rebuild
      intercept[Exception](
        lake.append("t", Seq((999L, java.sql.Date.valueOf("2024-01-01"), -1.0))
          .toDF("id", "d", "price")))
      // upserts route exactly under the rebuilt layout
      lake.upsert("t", Seq((3L, java.sql.Date.valueOf("2020-05-15"), 333.0))
        .toDF("id", "d", "price"))
      assert(lake.read("t").count() === 199)
      assert(lake.read("t").filter(col("id") === 3L)
        .select("price").head().getDouble(0) === 333.0)
      // pre-rebuild snapshots time-travel under their own layout
      assert(lake.readVersion("t", vPre).count() === 199)
      // the change feed treats the content-preserving rebuild as a no-op
      // (commits as the rebucket class) — no poisoned window
      lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
      val v1 = lake.versions("t").last
      spark.sql(s"REPLACE TABLE $cat.t PARTITIONED BY (bucket(8, id))")
      assert(lake.readMeta("t").partitions === Seq("bucket(8, id)"))
      assert(lake.tableChanges("t", v1, lake.versions("t").last).isEmpty,
        "a pure re-layout contributes nothing to the feed")
      // the AS SELECT form replaces contents under the new layout
      spark.sql(s"REPLACE TABLE $cat.t PARTITIONED BY (year(d)) AS " +
        s"SELECT id, d, CAST(price * 2 AS DOUBLE) AS price, _inserted_at " +
        s"FROM $cat.t WHERE id < 100")
      assert(lake.readMeta("t").partitions === Seq("year(d)"))
      assert(lake.readMeta("t").pks === Seq("id"))
      assert(lake.read("t").count() === 99) // ids 0..99 minus the deleted 7
      assert(lake.read("t").filter(col("id") === 3L)
        .select("price").head().getDouble(0) === 666.0)
    }
  }

  test("widened registry schema reads through the catalog") {
    withCatalog { (cat, wh) =>
      val lake = new GraftLake(spark, wh)
      lake.write("w", Seq((1, 100)).toDF("id", "n"))
      lake.write("w", Seq((2, 5000000000L)).toDF("id", "n")
        .select(org.apache.spark.sql.functions.col("id").cast("int").as("id"),
          org.apache.spark.sql.functions.col("n")))
      // old files are int32, logical schema is int64 — catalog read must widen
      val got = spark.sql(s"SELECT id, n FROM $cat.w ORDER BY id").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      assert(got.toSeq === Seq((1, 100L), (2, 5000000000L)))
    }
  }
}
