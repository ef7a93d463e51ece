package graft.operators

import java.nio.file.Files

import graft.{QueryDef, Tables}
import graft.catalog.{GraftCatalog, GraftLake}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Literal `MERGE INTO` SQL against graft catalog tables — the reference's
  * headline write operator (ingestor/DucklakeWriter.java:151-168) exposed
  * as user SQL via [[graft.plans.RewriteGraftMerge]]. Both rewrite paths
  * are oracle-gated:
  *  - q59: upsert-shaped merge → routed onto [[GraftLake.upsert]]'s
  *    affected-partition path (the table is partitioned; updates move rows
  *    across partitions);
  *  - q60: general-form merge (conditional UPDATE/DELETE, conditional
  *    INSERT with partial column list, NOT MATCHED BY SOURCE) → staged
  *    whole-table rewrite.
  */
object MergeSqlOps {

  /** One graft catalog per session, bound lazily to a temp warehouse. The
    * v2 catalog instance is cached at first use, so the warehouse conf must
    * be set before any `gm.` reference and stays fixed for the session. */
  private def warehouseFor(s: SparkSession, cat: String): String = {
    val key = s"spark.sql.catalog.$cat.warehouse"
    if (s.conf.getOption(key).isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      s.conf.set(key, Files.createTempDirectory(s"graft-$cat").toString)
    }
    s.conf.get(key)
  }

  val q59MergeSql = QueryDef(
    "q59_merge_sql",
    """WITH h AS (SELECT max(c_custkey) / 2 AS v FROM customer),
      |seed AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
      |         WHERE c_custkey < (SELECT v FROM h)),
      |src AS (SELECT c_custkey, c_name,
      |               CASE WHEN c_custkey % 2 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
      |               c_acctbal + 10 AS c_acctbal
      |        FROM customer WHERE c_custkey % 3 = 0)
      |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
      |       round(CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END, 2) AS c_acctbal
      |FROM seed t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val h = cust.agg(max("c_custkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("cust_state")) lake.dropTable("cust_state")
    lake.write("cust_state", cust.filter(col("c_custkey") < h),
      partitions = Seq("c_mktsegment"), pks = Seq("c_custkey"))
    cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 2 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        (col("c_acctbal") + 10).as("c_acctbal"))
      .createOrReplaceTempView("q59_src")
    s.sql(
      """MERGE INTO gm.cust_state t USING q59_src s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET
        |  c_name = s.c_name, c_mktsegment = s.c_mktsegment, c_acctbal = s.c_acctbal
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_mktsegment, c_acctbal)
        |  VALUES (s.c_custkey, s.c_name, s.c_mktsegment, s.c_acctbal)""".stripMargin)
    lake.read("cust_state")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Star-action merge: `UPDATE SET * / INSERT *` expands over the table's
    * USER columns ([[graft.plans.ExpandGraftMergeStars]] — Spark's own
    * expansion would fail on the engine-managed `_inserted_at`) and the
    * expansion routes onto the same partition-pruned upsert fast path as an
    * explicit-assignment merge. Updates move rows across partitions. */
  val q65MergeStarSql = QueryDef(
    "q65_merge_star_sql",
    """WITH h AS (SELECT max(s_suppkey) / 2 AS v FROM supplier),
      |seed AS (SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
      |         WHERE s_suppkey < (SELECT v FROM h)),
      |src AS (SELECT s_suppkey, s_name,
      |               CAST((s_nationkey + 1) % 25 AS INT) AS s_nationkey,
      |               s_acctbal + 5 AS s_acctbal
      |        FROM supplier WHERE s_suppkey % 3 = 0)
      |SELECT coalesce(s.s_suppkey, t.s_suppkey) AS s_suppkey,
      |       CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_name ELSE t.s_name END AS s_name,
      |       CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_nationkey ELSE t.s_nationkey END AS s_nationkey,
      |       round(CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_acctbal ELSE t.s_acctbal END, 2) AS s_acctbal
      |FROM seed t FULL OUTER JOIN src s ON t.s_suppkey = s.s_suppkey
      |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val h = sup.agg(max("s_suppkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("sup_state")) lake.dropTable("sup_state")
    lake.write("sup_state", sup.filter(col("s_suppkey") < h),
      partitions = Seq("s_nationkey"), pks = Seq("s_suppkey"))
    sup.filter(col("s_suppkey") % 3 === 0)
      .select(col("s_suppkey"), col("s_name"),
        ((col("s_nationkey") + 1) % 25).cast("int").as("s_nationkey"),
        (col("s_acctbal") + 5).as("s_acctbal"))
      .createOrReplaceTempView("q65_src")
    s.sql(
      """MERGE INTO gm.sup_state t USING q65_src s
        |ON t.s_suppkey = s.s_suppkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    lake.read("sup_state")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  val q60MergeGeneralSql = QueryDef(
    "q60_merge_general_sql",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h)),
      |src AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
      |m AS (SELECT t.o_orderkey AS tk, t.o_orderstatus, t.o_orderpriority,
      |             t.o_totalprice AS tp, s.o_orderkey AS sk, s.o_totalprice AS sp
      |      FROM seed t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |       round(o_totalprice, 2) AS o_totalprice FROM (
      |  SELECT tk AS o_orderkey,
      |         CASE WHEN sp > 150000 THEN 'B' ELSE o_orderstatus END AS o_orderstatus,
      |         o_orderpriority, tp AS o_totalprice
      |  FROM m WHERE tk IS NOT NULL AND sk IS NOT NULL AND sp >= 50000
      |  UNION ALL
      |  SELECT sk, 'N', CAST(NULL AS VARCHAR), sp
      |  FROM m WHERE tk IS NULL AND sp > 100000
      |  UNION ALL
      |  SELECT tk, o_orderstatus, o_orderpriority, tp
      |  FROM m WHERE sk IS NULL AND tp >= 1000)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice"))
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("ord_state")) lake.dropTable("ord_state")
    // no PKs: general-form rewrite path by construction
    lake.write("ord_state", orders.filter(col("o_orderkey") < h))
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("q60_src")
    s.sql(
      """MERGE INTO gm.ord_state t USING q60_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.o_totalprice > 150000 THEN UPDATE SET o_orderstatus = 'B'
        |WHEN MATCHED AND s.o_totalprice < 50000 THEN DELETE
        |WHEN NOT MATCHED AND s.o_totalprice > 100000 THEN
        |  INSERT (o_orderkey, o_orderstatus, o_totalprice)
        |  VALUES (s.o_orderkey, 'N', s.o_totalprice)
        |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 1000 THEN DELETE""".stripMargin)
    lake.read("ord_state")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** SQL INSERT pipeline over a partitioned catalog table: CREATE TABLE
    * with expression partitioning, two INSERT INTO batches through the
    * V1Write path, read back. `n_ts` counts `_inserted_at` — equal to
    * `count(*)` in the oracle, proving the system column is stamped on
    * every SQL-inserted row (reference DucklakeWriter.java:205-214). */
  val q61InsertSql = QueryDef(
    "q61_insert_sql",
    """SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS n,
      |       count(*) AS n_ts, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY y""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("ord_ins")) lake.dropTable("ord_ins")
    s.sql(
      """CREATE TABLE gm.ord_ins
        |(o_orderkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE)
        |TBLPROPERTIES ('partitions' = 'year(o_orderdate)')""".stripMargin)
    orders.filter(col("o_orderkey") < h).createOrReplaceTempView("q61_b1")
    orders.filter(col("o_orderkey") >= h).createOrReplaceTempView("q61_b2")
    s.sql("INSERT INTO gm.ord_ins (o_orderkey, o_orderdate, o_totalprice) SELECT * FROM q61_b1")
    s.sql("INSERT INTO gm.ord_ins (o_orderkey, o_orderdate, o_totalprice) SELECT * FROM q61_b2")
    lake.read("ord_ins")
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n"), count(col("_inserted_at")).as("n_ts"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("y"))
  }

  /** SQL DELETE on a partitioned table: the engine's `deleteWhere` route
    * (a deletion vector over the partial hit set; no data file is
    * rewritten). */
  val q62DeleteSql = QueryDef(
    "q62_delete_sql",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h))
      |SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS o_totalprice
      |FROM seed WHERE NOT (o_totalprice < 100000)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("ord_del")) lake.dropTable("ord_del")
    lake.write("ord_del", orders.filter(col("o_orderkey") < h),
      partitions = Seq("o_orderpriority"))
    s.sql("DELETE FROM gm.ord_del WHERE o_totalprice < 100000")
    lake.read("ord_del")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** SQL UPDATE that relocates rows across partitions through the
    * engine's `updateWhere` route (the updated partition-source column
    * lands matching rows in the 'MOVED' partition while a deletion vector
    * masks the old copies; old-row semantics for the arithmetic RHS). */
  val q63UpdateSql = QueryDef(
    "q63_update_sql",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h))
      |SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 250000 THEN 'MOVED' ELSE o_orderpriority END AS o_orderpriority,
      |  round(CASE WHEN o_totalprice > 250000 THEN o_totalprice + 1
      |             ELSE o_totalprice END, 2) AS o_totalprice
      |FROM seed ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val h = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("ord_upd")) lake.dropTable("ord_upd")
    lake.write("ord_upd", orders.filter(col("o_orderkey") < h),
      partitions = Seq("o_orderpriority"))
    s.sql(
      """UPDATE gm.ord_upd
        |SET o_orderpriority = 'MOVED', o_totalprice = o_totalprice + 1
        |WHERE o_totalprice > 250000""".stripMargin)
    lake.read("ord_upd")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** `MERGE WITH SCHEMA EVOLUTION`: the source carries a column the table
    * lacks (`c_zone`). The graft table advertises AUTOMATIC_SCHEMA_EVOLUTION,
    * so Spark's own analysis routes the new column through
    * [[GraftCatalog.alterTable]] — the engine's ADD-COLUMN evolve path, the
    * same one ingest uses (reference auto-evolves on every write,
    * DucklakeTableManager.java:236-322) — and the star actions expand from
    * the SOURCE's columns. Pre-existing unmatched rows read NULL for the
    * new column (registry-schema read over old files). */
  val q69MergeEvolveSql = QueryDef(
    "q69_merge_evolve_sql",
    """WITH h AS (SELECT max(c_custkey) / 2 AS v FROM customer),
      |seed AS (SELECT c_custkey, c_name, c_acctbal FROM customer
      |         WHERE c_custkey < (SELECT v FROM h)),
      |src AS (SELECT c_custkey, lower(c_name) AS c_name, c_acctbal + 7 AS c_acctbal,
      |               upper(substr(c_mktsegment, 1, 3)) AS c_zone
      |        FROM customer WHERE c_custkey % 4 = 0)
      |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
      |       round(CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END, 2) AS c_acctbal,
      |       s.c_zone AS c_zone
      |FROM seed t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val h = cust.agg(max("c_custkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("cust_evo")) lake.dropTable("cust_evo")
    lake.write("cust_evo",
      cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .filter(col("c_custkey") < h),
      pks = Seq("c_custkey"))
    cust.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey"), lower(col("c_name")).as("c_name"),
        (col("c_acctbal") + 7).as("c_acctbal"),
        upper(substring(col("c_mktsegment"), 1, 3)).as("c_zone"))
      .createOrReplaceTempView("q69_src")
    s.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gm.cust_evo t USING q69_src s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    lake.read("cust_evo")
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("c_zone"))
      .orderBy(col("c_custkey"))
  }

  /** Steady-state MERGE on a PK-BUCKETED layout: the table is
    * `bucket(16, o_orderkey)`-partitioned, so [[GraftLake.upsert]]'s
    * matched-partition probe (the one per-flush job whose cost scales with
    * the TABLE) is skipped outright — the partition of any matching row is
    * a pure function of the batch's own keys — and only the buckets the
    * batch hashes into are read or rewritten. The merge RESULT is
    * layout-independent (the oracle is plain merge semantics over the same
    * rows); the layout contracts — probe skipped, untouched buckets
    * byte-identical, records read bounded by the touched buckets — are
    * asserted in PlanQualitySpec ("bucketed merge"). Reference: the
    * per-flush MERGE INTO loop, DucklakeWriter.java:151-168, whose conflict
    * scan DuckDB serves from PK indexes; at 100 TB the LAYOUT must carry
    * that locality. */
  val q160BucketedMerge = QueryDef(
    "q160_bucketed_merge",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h)),
      |src AS (SELECT o_orderkey, 'R' AS o_orderstatus,
      |               o_totalprice + 7 AS o_totalprice
      |        FROM orders WHERE o_orderkey % 5 = 0)
      |SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
      |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      |       round(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END, 2) AS o_totalprice
      |FROM seed t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val h = ord.agg(max("o_orderkey")).head().getLong(0) / 2.0
    val lake = new GraftLake(s, warehouseFor(s, "gm"))
    if (lake.tableExists("ord_bucketed")) lake.dropTable("ord_bucketed")
    lake.write("ord_bucketed", ord.filter(col("o_orderkey") < h),
      partitions = Seq("bucket(16, o_orderkey)"), pks = Seq("o_orderkey"))
    lake.upsert("ord_bucketed",
      ord.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
          (col("o_totalprice") + 7).as("o_totalprice")))
    lake.read("ord_bucketed")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val all: Seq[QueryDef] = Seq(q59MergeSql, q60MergeGeneralSql, q61InsertSql,
    q62DeleteSql, q63UpdateSql, q65MergeStarSql, q69MergeEvolveSql,
    q160BucketedMerge)
}
