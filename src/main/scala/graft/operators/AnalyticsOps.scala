package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Dataset-level analytics: column profiling (the ANALYZE-style statistics
  * pass every lake table gets after ingest) and event-funnel conversion —
  * two staples of the downstream query surface the reference delegates to
  * its attached engine (SURVEY §2.10).
  */
object AnalyticsOps {

  /** One profile row per column — row count, null count, exact distinct
    * count, and min/max (numeric columns in `min_num`/`max_num`, all
    * others cast to string in `min_str`/`max_str`; the split keeps the
    * output schema uniform without the cross-engine float-formatting trap
    * of stringifying doubles).
    *
    * Scale shape: ONE aggregate job. Multiple exact `count(DISTINCT)`s in
    * a single agg plan through Spark's Expand — the input is replicated
    * once per distinct-column in-task (never joined), partial aggs
    * pre-shrink per distinct key, and one shuffle carries (column, value)
    * partials. At 100 TB swap `countDistinct` for
    * `approx_count_distinct` per column if the ±2 % HLL bound is
    * acceptable; the plan shape is identical. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggs = cols.flatMap { c =>
      val isNum = types(c).isInstanceOf[NumericType]
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        (if (isNum) round(min(col(c)).cast("double"), 6) else lit(null).cast("double")).as(s"__minn_$c"),
        (if (isNum) round(max(col(c)).cast("double"), 6) else lit(null).cast("double")).as(s"__maxn_$c"),
        (if (isNum) lit(null).cast("string") else min(col(c)).cast("string")).as(s"__mins_$c"),
        (if (isNum) lit(null).cast("string") else max(col(c)).cast("string")).as(s"__maxs_$c"))
    } :+ count(lit(1)).as("__rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map(c => struct(
      lit(c).as("column_name"),
      col("__rows").as("n_rows"),
      (col("__rows") - col(s"__cnt_$c")).as("n_null"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__minn_$c").as("min_num"),
      col(s"__maxn_$c").as("max_num"),
      col(s"__mins_$c").as("min_str"),
      col(s"__maxs_$c").as("max_str")))
    one.select(explode(array(perCol: _*)).as("p")).select(col("p.*"))
  }

  /** q81: profile five lineitem columns (two integer keys, two doubles, a
    * flag, a date) — exact distincts, nulls, typed min/max. */
  val q81Profile = QueryDef(
    "q81_profile",
    """SELECT 'l_orderkey' AS column_name, count(*) AS n_rows,
      |  count(*) - count(l_orderkey) AS n_null,
      |  count(DISTINCT l_orderkey) AS n_distinct,
      |  round(CAST(min(l_orderkey) AS DOUBLE), 6) AS min_num,
      |  round(CAST(max(l_orderkey) AS DOUBLE), 6) AS max_num,
      |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
      |  count(DISTINCT l_quantity),
      |  round(CAST(min(l_quantity) AS DOUBLE), 6),
      |  round(CAST(max(l_quantity) AS DOUBLE), 6), NULL, NULL
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
      |  count(DISTINCT l_extendedprice),
      |  round(CAST(min(l_extendedprice) AS DOUBLE), 6),
      |  round(CAST(max(l_extendedprice) AS DOUBLE), 6), NULL, NULL
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
      |  count(DISTINCT l_returnflag), NULL, NULL,
      |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
      |  count(DISTINCT l_shipdate), NULL, NULL,
      |  CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
      |FROM lineitem
      |ORDER BY column_name""".stripMargin) { (s, dir) =>
    profileColumns(Tables.lineitem(s, dir),
      Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"))
      .orderBy(col("column_name"))
  }

  /** Per-user earliest-event conversion funnel: first `view`, first
    * `click` within 24 h AFTER that view, first `purchase` within 24 h
    * after that click. One output row with step counts + conversion
    * rates.
    *
    * Scale shape: three filtered groupBys over the events scan (each one
    * shuffle on user_id — partial-agg'd `min`), and the step tables
    * (≤ one row per user) joined into the next step's filter on the SAME
    * user_id key, so raw events never join raw events and the step-table
    * shuffles reuse the groupBy partitioning. No broadcast hint on
    * purpose: the step tables are bounded per-user but UNBOUNDED in user
    * count, so a forced broadcast would OOM the driver at 100 TB — AQE
    * promotes the join to broadcast at runtime when the step table
    * actually fits. */
  def eventFunnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val c = events.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t0") &&
        col("ts") <= col("t0") + expr("interval 24 hours"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("interval 24 hours"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
        c.agg(count(lit(1)).as("n_click"))).crossJoin(
        p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view"), 4).as("view_to_click"),
        round(col("n_purchase").cast("double") / col("n_click"), 4).as("click_to_purchase"))
  }

  /** q82: the view→click→purchase conversion funnel over `events`. */
  val q82EventFunnel = QueryDef(
    "q82_event_funnel",
    """WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t1
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t0
      |        AND e.ts <= v.t0 + INTERVAL 24 HOUR
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t2
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      |        AND e.ts <= c.t1 + INTERVAL 24 HOUR
      |      GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  round((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v), 4)
      |    AS view_to_click,
      |  round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c), 4)
      |    AS click_to_purchase""".stripMargin) { (s, dir) =>
    eventFunnel(Tables.events(s, dir))
  }

  /** q83: per-user rolling 7-day value sum via an event-time RANGE frame —
    * the interval-bounded window surface (q44's running windows are
    * ROWS-bounded). RANGE frames include event-time peers, so the result
    * is insensitive to the intra-timestamp row order an engine happens to
    * produce.
    *
    * Scale shape: one shuffle on user_id, a per-user time sort, and a
    * sliding frame the window operator maintains incrementally; the
    * per-user aggregate reuses the same partitioning — no second
    * shuffle. */
  val q83RollingWindow = QueryDef(
    "q83_rolling_window",
    """WITH w AS (SELECT user_id, value,
      |    sum(value) OVER (PARTITION BY user_id ORDER BY ts
      |      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS roll
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  round(max(roll), 2) AS max_7d_value,
      |  round(min(roll), 2) AS min_7d_value
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .selectExpr("user_id", "value",
        """sum(value) OVER (PARTITION BY user_id ORDER BY ts
          |  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS roll""".stripMargin)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(max(col("roll")), 2).as("max_7d_value"),
        round(min(col("roll")), 2).as("min_7d_value"))
      .orderBy(col("user_id"))
  }

  // ---- SCD2: slowly-changing-dimension history over the lake merge ----

  /** Apply one batch of dimension updates to a type-2 SCD lake table
    * (schema: key, tracked..., `valid_from` DATE, `valid_to` DATE,
    * `is_current` BIGINT; PK = (key, valid_from)). Rows whose tracked
    * values actually changed get their current version CLOSED
    * (`valid_to` = effective, `is_current` = 0 — an upsert UPDATE on the
    * existing PK) and a new current version INSERTED at
    * (key, effective); unchanged update rows are no-ops; unseen keys
    * insert their first version. One [[GraftLake.upsert]] carries closes
    * + inserts together.
    *
    * Scale shape: current-version rows join the (typically much smaller)
    * update batch — broadcast when small; the lake upsert then masks the
    * closed rows and appends the batch. Change detection is null-safe (`<=>`), so
    * a tracked NULL→NULL is not a change. */
  def scd2Apply(lake: graft.catalog.GraftLake, table: String,
      updates: DataFrame, key: String, tracked: Seq[String],
      effective: java.sql.Date): Unit = {
    val eff = lit(effective)
    val cur = lake.read(table).filter(col("is_current") === 1L)
    val u = updates.select((key +: tracked).map(col): _*)
    val j = cur.as("t").join(u.as("s"),
      col(s"t.$key") === col(s"s.$key"), "full_outer")
    val differs = tracked.map(c => !(col(s"t.$c") <=> col(s"s.$c")))
      .reduce(_ || _)
    val changed = j.filter(col(s"t.$key").isNotNull &&
      col(s"s.$key").isNotNull && differs)
    val closes = changed.select(
      (col(s"t.$key").as(key) +: tracked.map(c => col(s"t.$c").as(c))) ++
        Seq(col("t.valid_from").as("valid_from"), eff.as("valid_to"),
          lit(0L).as("is_current")): _*)
    val newVersions = changed.select(
      (col(s"s.$key").as(key) +: tracked.map(c => col(s"s.$c").as(c))) ++
        Seq(eff.as("valid_from"), lit(null).cast("date").as("valid_to"),
          lit(1L).as("is_current")): _*)
    val firstVersions = j.filter(col(s"t.$key").isNull).select(
      (col(s"s.$key").as(key) +: tracked.map(c => col(s"s.$c").as(c))) ++
        Seq(eff.as("valid_from"), lit(null).cast("date").as("valid_to"),
          lit(1L).as("is_current")): _*)
    lake.upsert(table, closes.unionByName(newVersions).unionByName(firstVersions))
  }

  /** q84: SCD2 over the customer dimension. Initial load at 2024-01-01;
    * one update batch at 2024-02-01 that REALLY changes only keys with
    * `c_custkey % 10 IN (0, 5)` (the rest of the batch must no-op — the
    * oracle's row set proves both the history arithmetic and the
    * no-change suppression). */
  val q84Scd2 = QueryDef(
    "q84_scd2",
    """WITH chg AS (SELECT c_custkey FROM customer
      |             WHERE c_custkey % 10 = 0 OR c_custkey % 10 = 5),
      |closed AS (SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal,
      |    DATE '2024-01-01' AS valid_from, DATE '2024-02-01' AS valid_to,
      |    CAST(0 AS BIGINT) AS is_current
      |  FROM customer WHERE c_custkey IN (SELECT c_custkey FROM chg)),
      |stay AS (SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal,
      |    DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
      |    CAST(1 AS BIGINT) AS is_current
      |  FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)),
      |fresh AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 5 THEN 'SHIFTED' ELSE c_mktsegment END AS c_mktsegment,
      |    round(c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END, 2) AS c_acctbal,
      |    DATE '2024-02-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
      |    CAST(1 AS BIGINT) AS is_current
      |  FROM customer WHERE c_custkey IN (SELECT c_custkey FROM chg))
      |SELECT * FROM (SELECT * FROM closed UNION ALL SELECT * FROM stay
      |               UNION ALL SELECT * FROM fresh)
      |ORDER BY c_custkey, valid_from""".stripMargin) { (s, dir) =>
    val lake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-scd2").toString)
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
    lake.write("dim_customer",
      cust.withColumn("valid_from", lit(java.sql.Date.valueOf("2024-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(1L)),
      partitions = Nil, pks = Seq("c_custkey", "valid_from"))
    // the batch carries EVERY customer; only %10 ∈ {0,5} actually change
    val batch = cust.select(col("c_custkey"),
      when(col("c_custkey") % 10 === 5, lit("SHIFTED"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"),
      round(col("c_acctbal") +
        when(col("c_custkey") % 10 === 0, 100.0).otherwise(0.0), 2)
        .as("c_acctbal"))
    scd2Apply(lake, "dim_customer", batch, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"), java.sql.Date.valueOf("2024-02-01"))
    lake.read("dim_customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** q85: time travel — write customers, upsert a deterministic mutation
    * (`c_custkey % 7 = 0` gains 50), then read BOTH snapshots and
    * aggregate each. The oracle recomputes both states from the raw table
    * arithmetically, so a hash match proves the engine's snapshot
    * reconstruction is exact (rows, schema, and values). */
  val q85TimeTravel = QueryDef(
    "q85_time_travel",
    """WITH c AS (SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer),
      |v0 AS (SELECT 0 AS snapshot, count(*) AS n_rows,
      |         round(sum(bal), 2) AS total_bal,
      |         CAST(sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_mutated
      |       FROM c),
      |v1 AS (SELECT 1 AS snapshot, count(*) AS n_rows,
      |         round(sum(CASE WHEN c_custkey % 7 = 0 THEN bal + 50 ELSE bal END), 2)
      |           AS total_bal,
      |         CAST(sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_mutated
      |       FROM c)
      |SELECT * FROM v0 UNION ALL SELECT * FROM v1
      |ORDER BY snapshot""".stripMargin) { (s, dir) =>
    val lake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-tt").toString)
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
    lake.write("tt_cust", cust, pks = Seq("c_custkey"))
    lake.write("tt_cust",
      cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("bal", round(col("bal") + 50, 2)),
      pks = Seq("c_custkey"))
    val vs = lake.versions("tt_cust")
    def summarize(df: org.apache.spark.sql.DataFrame, tag: Int) = df
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("bal")), 2).as("total_bal"),
        sum(when(col("c_custkey") % 7 === 0, 1L).otherwise(0L)).as("n_mutated"))
      .select(lit(tag).as("snapshot"), col("n_rows"), col("total_bal"),
        col("n_mutated"))
    summarize(lake.readVersion("tt_cust", vs.head), 0)
      .unionByName(summarize(lake.read("tt_cust"), 1))
      .orderBy(col("snapshot"))
  }

  /** Row-level change capture between two snapshots of a keyed table:
    * full-outer join on the PKs, classify each key as insert (new side
    * only), delete (old side only), update (both, any compared column
    * differs — null-safe), or unchanged. This is the row-exact complement
    * of [[graft.catalog.GraftLake.readAppendsBetween]]'s file-level
    * increments, and what merged/rewritten tables should use.
    *
    * Scale shape: both snapshot scans shuffle once on the key; the
    * classification is the join's projection — no second pass. */
  /** Incremental replication driven by the METADATA change feed: fold a
    * (from, to] window of [[graft.catalog.GraftLake.tableChanges]] into a
    * PK-keyed replica. The per-key NET event wins (latest commit; an
    * update's postimage insert beats its preimage delete within the same
    * commit), then the net set folds through [[applyChanges]] — deletes
    * mask the replica's rows with a deletion vector, inserts/updates land
    * through one PK upsert. The O(window delta) sibling of the
    * [[snapshotDiff]] loop: on an append/MoR-maintained source the
    * consumer reads ONLY the window's files and DV entries, never either
    * table in full — the shape a 100 TB replica fed by megabyte commits
    * needs. */
  def replicateFromFeed(src: graft.catalog.GraftLake, srcTable: String,
      dst: graft.catalog.GraftLake, dstTable: String, pks: Seq[String],
      compareCols: Seq[String], fromVersion: Long, toVersion: Long): Unit = {
    // normalize update pre/post pairs to the replica's two primitives —
    // a postimage IS the upserted row, a preimage the superseded one
    val ctc = col(graft.catalog.GraftLake.ChangeTypeCol)
    val feed = src.tableChanges(srcTable, fromVersion, toVersion)
      .withColumn(graft.catalog.GraftLake.ChangeTypeCol,
        when(ctc === "update_postimage", lit("insert"))
          .when(ctc === "update_preimage", lit("delete"))
          .otherwise(ctc))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pks.map(col): _*)
      .orderBy(col(graft.catalog.GraftLake.CommitVersionCol).desc,
        col(graft.catalog.GraftLake.ChangeTypeCol).desc) // insert > delete
    // CACHED: applyChanges drives several actions over the net set, and
    // each would otherwise re-read the window's files and DV sidecars
    // and re-run the per-key shuffle
    val net = feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).cache()
    try applyChanges(dst, dstTable,
      net.select(pks.map(col) ++
        compareCols.map(c => col(c).as(s"__n_$c")) :+
        col(graft.catalog.GraftLake.ChangeTypeCol).as("change_type"): _*),
      pks, compareCols)
    finally net.unpersist()
  }

  def snapshotDiff(lake: graft.catalog.GraftLake, table: String,
      fromVersion: Long, toVersion: Long, pks: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val o = lake.readVersion(table, fromVersion)
      .select((pks ++ compareCols).map(col): _*)
    val n = lake.readVersion(table, toVersion)
      .select((pks ++ compareCols).map(col): _*)
    val oldSide = o.select(pks.map(col) ++
      compareCols.map(c => col(c).as(s"__o_$c")) :+ lit(1L).as("__o"): _*)
    val newSide = n.select(pks.map(col) ++
      compareCols.map(c => col(c).as(s"__n_$c")) :+ lit(1L).as("__n"): _*)
    val differs = compareCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    oldSide.join(newSide, pks, "full_outer")
      .withColumn("change_type",
        when(col("__o").isNull, lit("insert"))
          .when(col("__n").isNull, lit("delete"))
          .when(differs, lit("update"))
          .otherwise(lit("unchanged")))
  }

  /** Apply a [[snapshotDiff]] change set to a replica table — the
    * replication primitive that completes the CDC loop: `snapshotDiff`
    * extracts row-level changes from the source's snapshots, this folds
    * them into a replica that was seeded from an earlier snapshot.
    * Deletes mask the replica rows holding a deleted key with one
    * deletion vector, as every engine delete does; inserts and updates
    * land through the PK upsert path in one batch.
    *
    * Scale shape: the change set is the ONLY data moved — source and
    * replica never join corpus-to-corpus, deletes semi-join the replica
    * against just the deleted keys, and no replica file is rewritten.
    * Replica lag is bounded by change volume, not table size. */
  def applyChanges(lake: graft.catalog.GraftLake, table: String,
      changes: DataFrame, pks: Seq[String], compareCols: Seq[String]): Unit = {
    val dels = changes.filter(col("change_type") === "delete")
      .select(pks.map(col): _*)
    // a deletion vector over the replica rows holding a deleted key
    if (!dels.isEmpty) lake.dmlWhere(table, _.join(dels, pks, "left_semi"))
    val ups = changes.filter(col("change_type").isin("insert", "update"))
      .select(pks.map(col) ++
        compareCols.map(c => col(s"__n_$c").as(c)): _*)
    if (!ups.isEmpty) lake.write(table, ups, pks = pks)
  }

  /** q86: CDC between the two q85-style snapshots, plus inserts and
    * deletes exercised through a general rewrite: keys `% 7 = 0` update,
    * keys `% 11 = 3` delete, and a shifted-key block inserts. The oracle
    * derives every class arithmetically. */
  val q86SnapshotDiff = QueryDef(
    "q86_snapshot_diff",
    """WITH c AS (SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer),
      |cls AS (SELECT c_custkey,
      |          CASE WHEN c_custkey % 11 = 3 THEN 'delete'
      |               WHEN c_custkey % 7 = 0 THEN 'update'
      |               ELSE 'unchanged' END AS change_type, bal
      |        FROM c
      |        UNION ALL
      |        SELECT c_custkey + 1000000, 'insert', round(bal + 1, 2) FROM c
      |        WHERE c_custkey % 13 = 1)
      |SELECT change_type, count(*) AS n,
      |  round(sum(bal), 2) AS old_bal_sum
      |FROM cls GROUP BY change_type ORDER BY change_type""".stripMargin) { (s, dir) =>
    val lake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-cdc").toString)
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
    lake.write("cdc_cust", cust, pks = Seq("c_custkey"))
    val next = cust
      .filter(col("c_custkey") % 11 =!= 3)
      .withColumn("bal",
        when(col("c_custkey") % 7 === 0, round(col("bal") + 50, 2))
          .otherwise(col("bal")))
      .unionByName(cust.filter(col("c_custkey") % 13 === 1)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          round(col("bal") + 1, 2).as("bal")))
    lake.overwriteContents("cdc_cust",
      next.withColumn("_inserted_at", current_timestamp()))
    val vs = lake.versions("cdc_cust")
    val diff = snapshotDiff(lake, "cdc_cust", vs.head, vs.last,
      Seq("c_custkey"), Seq("bal"))
    diff.groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("__o_bal"), col("__n_bal"))), 2).as("old_bal_sum"))
      .orderBy(col("change_type"))
  }

  /** q87: incremental consumption of an append-only table — two event
    * batches land as two snapshots; [[graft.catalog.GraftLake
    * .readAppendsBetween]] returns EXACTLY the second batch's rows. */
  val q87IncrementalRead = QueryDef(
    "q87_incremental_read",
    """SELECT event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value
      |FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val lake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-incr").toString)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val mid = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    lake.write("ev_log", ev.filter(col("ts") < mid))
    lake.append("ev_log", ev.filter(col("ts") >= mid))
    val vs = lake.versions("ev_log")
    lake.readAppendsBetween("ev_log", vs.head, vs.last)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** q98: the full CDC replication loop — seed a replica from the
    * source's first snapshot, extract row-level changes between the two
    * source snapshots ([[snapshotDiff]]: the q86 update/delete/insert
    * mix), fold them in with [[applyChanges]], and prove the replica
    * CONVERGED: the oracle recomputes the expected final state
    * arithmetically from the raw table, and the emitted `n_out_of_sync`
    * (symmetric set difference vs the live source, computed in-plan, no
    * driver scalar) must be zero. */
  val q98CdcReplicate = QueryDef(
    "q98_cdc_replicate",
    """WITH c AS (SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer),
      |next AS (SELECT c_custkey,
      |           CASE WHEN c_custkey % 7 = 0 THEN round(bal + 50, 2)
      |                ELSE bal END AS bal
      |         FROM c WHERE c_custkey % 11 <> 3
      |         UNION ALL
      |         SELECT c_custkey + 1000000, round(bal + 1, 2) FROM c
      |         WHERE c_custkey % 13 = 1)
      |SELECT count(*) AS n_rows, round(sum(bal), 2) AS total_bal,
      |  CAST(0 AS BIGINT) AS n_out_of_sync
      |FROM next""".stripMargin) { (s, dir) =>
    val srcLake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-cdc-src").toString)
    val repLake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-cdc-rep").toString)
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
    srcLake.write("src", cust, pks = Seq("c_custkey"))
    val next = cust
      .filter(col("c_custkey") % 11 =!= 3)
      .withColumn("bal",
        when(col("c_custkey") % 7 === 0, round(col("bal") + 50, 2))
          .otherwise(col("bal")))
      .unionByName(cust.filter(col("c_custkey") % 13 === 1)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          round(col("bal") + 1, 2).as("bal")))
    srcLake.overwriteContents("src",
      next.withColumn("_inserted_at", current_timestamp()))
    val vs = srcLake.versions("src")
    repLake.write("rep",
      srcLake.readVersion("src", vs.head).select(col("c_custkey"), col("bal")),
      pks = Seq("c_custkey"))
    val changes = snapshotDiff(srcLake, "src", vs.head, vs.last,
      Seq("c_custkey"), Seq("bal"))
    applyChanges(repLake, "rep", changes, Seq("c_custkey"), Seq("bal"))
    val replica = repLake.read("rep").select(col("c_custkey"), col("bal"))
    val source = srcLake.read("src").select(col("c_custkey"), col("bal"))
    val outOfSync = replica.exceptAll(source)
      .unionByName(source.exceptAll(replica))
      .agg(count(lit(1)).as("n_out_of_sync"))
    replica
      .agg(count(lit(1)).as("n_rows"), round(sum(col("bal")), 2).as("total_bal"))
      .crossJoin(outOfSync)
  }

  /** q88: Z-order clustered compaction — rewrite a lineitem-backed lake
    * table clustered on (l_partkey, l_suppkey) and prove the contents are
    * untouched (the oracle recomputes the same per-flag profile from the
    * raw table; ZOrderSpec asserts the layout property itself: every
    * output file bounds BOTH cluster columns, which is what lets min/max
    * footer pruning skip files for predicates on either one). */
  val q88ZorderCompact = QueryDef(
    "q88_zorder_compact",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
      |  CAST(min(l_partkey) AS BIGINT) AS min_part,
      |  CAST(max(l_partkey) AS BIGINT) AS max_part
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val lake = new graft.catalog.GraftLake(s,
      java.nio.file.Files.createTempDirectory("graft-zq").toString)
    lake.write("li", Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_partkey"),
        col("l_suppkey")))
    lake.compact("li", targetRecordsPerFile = 10000,
      clusterBy = Seq("l_partkey", "l_suppkey"))
    lake.read("li")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("total_qty"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"))
      .orderBy(col("l_returnflag"))
  }

  /** q102: manifest-stats data skipping end-to-end — land lineitem in
    * the lake, range-cluster it on `l_partkey` ([[graft.catalog.GraftLake
    * .compact]] `clusterBy`, so each file bounds a narrow key range),
    * then answer a selective key-range query through
    * [[graft.catalog.GraftLake.readWhere]], which plans the scan from
    * the manifest's per-file bounds. The oracle runs the same filter
    * over the raw table: a hash match proves skipping is invisible in
    * the results (SnapshotSpec separately proves files really are
    * skipped). */
  /** Per-JVM memo of the z-ordered skipping lakes (the q101/q80 pattern:
    * the land+cluster build is the once-per-corpus OFFLINE half; the
    * query measures the ONLINE pruned read, which is the capability). */
  private val skipLakeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.catalog.GraftLake]()

  val q102FileSkipping = QueryDef(
    "q102_file_skipping",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem WHERE l_partkey BETWEEN 50 AND 150
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"num:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-skip").toString)
      l.write("li", Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_partkey")))
      l.compact("li", targetRecordsPerFile = 10000,
        clusterBy = Seq("l_partkey"))
      l
    })
    lake.readWhere("li", col("l_partkey") >= 50 && col("l_partkey") <= 150)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q104: TEMPORAL data skipping — the timestamp twin of
    * [[q102FileSkipping]], covering the predicate class that dominates a
    * time-partitioned 100 TB corpus. lineitem lands in the lake
    * (timestamps forced to INT64 TIMESTAMP_MICROS so footers carry usable
    * bounds), is time-clustered on `l_shipdate`, and a ship-date range —
    * written as plain ISO strings, the way users write it — is answered
    * through [[graft.catalog.GraftLake.readWhere]]: the literal lowers to
    * epoch micros, the manifest bounds are epoch micros, and files whose
    * time range cannot match are never planned. The oracle runs the same
    * range over the raw table; SnapshotSpec separately proves the planned
    * file count really shrinks. */
  val q104TemporalSkipping = QueryDef(
    "q104_temporal_skipping",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-04-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"ts:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-tskip").toString)
      l.write("li", Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_shipdate")))
      l.compact("li", targetRecordsPerFile = 10000,
        clusterBy = Seq("l_shipdate"))
      l
    })
    lake.readWhere("li",
      col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-JVM memo of q106's catalog registration: catalog instances are
    * cached per session at first use, so the warehouse behind a catalog
    * name must never change — one catalog name per sf dir. */
  private val sqlSkipCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // name counter OUTSIDE the mapping functions: `map.size()` inside
  // computeIfAbsent races — two concurrent first-registrations for
  // different dirs could both observe the same size and alias one
  // catalog name onto two warehouses
  private val catalogSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q106: manifest data skipping through the SQL surface — the catalog
    * twin of [[q102FileSkipping]]. The same z-ordered lake table is
    * queried via plain `spark.sql` against the DSv2 catalog; the pushed
    * `BETWEEN` lowers against the manifest bounds inside the file index
    * ([[org.apache.spark.sql.graft.GraftPruningFileIndex]]) and the query
    * REQUIRES that the planned file set actually shrank — making SQL-side
    * skipping a hard driver-gated contract, not just a spec. The oracle
    * runs the same filter over the raw table: a hash match proves pruning
    * is invisible in results. */
  val q106SqlSkipping = QueryDef(
    "q106_sql_skipping",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem WHERE l_partkey BETWEEN 50 AND 150
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val cat = sqlSkipCatalogs.computeIfAbsent(dir, _ => {
      val name = s"gskip${catalogSeq.getAndIncrement()}"
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlskip").toString
      val lake = new graft.catalog.GraftLake(s, wh)
      lake.write("li", Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_partkey")))
      lake.compact("li", targetRecordsPerFile = 10000,
        clusterBy = Seq("l_partkey"))
      s.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      name
    })
    val df = s.sql(
      s"""SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
         |FROM $cat.li WHERE l_partkey BETWEEN 50 AND 150
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    val all = scannedFiles(s.sql(s"SELECT * FROM $cat.li"))
    val pruned = scannedFiles(df)
    // a one-file lake (tiny SF) has nothing to prune; any real SF lands
    // many z-ordered files and the strict contract applies
    require(pruned > 0 && (all <= 1 || pruned < all),
      s"SQL scan must plan only bounds-matching files (planned $pruned of $all)")
    df
  }

  /** Files the (post-pushdown) scan actually plans. A graft relation is
    * read through the engine's v1 manifest scan, which prunes as its
    * file index lists: the scans are counted off the physical plan
    * (before AQE wraps it in one opaque `AdaptiveSparkPlanExec` leaf,
    * which would hide them and make a `pruned < all` contract vacuous),
    * by listing each index under the scan's own pushed filters — the DV
    * sidecar scan under `_dv/` excluded. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if !f.relation.location.rootPaths.exists(_.toString.contains("/_dv")) =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.size).sum
    }.sum

  /** Per-JVM memo of q164's catalog registration (q106 pattern: one
    * catalog name per sf dir, the warehouse behind a name never changes). */
  private val bucketLookupCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q164: bucket-directory PRUNED point lookup — the read-side dual of
    * the q160 bucketed MERGE. orders lands `bucket(16, o_orderkey)`-
    * partitioned; a PK IN-list probe runs through plain SQL against the
    * DSv2 catalog. Per-file min/max stats are USELESS here (every hash
    * bucket's key range spans the whole domain — the exact layout q102's
    * skipping cannot serve), but equality candidates determine their
    * buckets exactly: [[graft.catalog.GraftLake.bucketKeyPruner]] re-hashes
    * the probed keys with the write path's own `pmod(hash(key), n)` and
    * plans only the matching buckets' files. At 100 TB this is a point
    * lookup reading ≤2/16ths of the table instead of all of it — the
    * in-query `require` makes that a driver-gated contract (≤¼ of the
    * files planned), not just a spec. The oracle runs the same IN-list
    * (the table's min and max key — real rows at every SF) over the raw
    * table: a hash match proves pruning is invisible in results. */
  val q164BucketPointLookup = QueryDef(
    "q164_bucket_point_lookup",
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
      |FROM orders
      |WHERE o_orderkey IN (SELECT min(o_orderkey) FROM orders)
      |   OR o_orderkey IN (SELECT max(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cat = bucketLookupCatalogs.computeIfAbsent(dir, _ => {
      val name = s"gbucket${catalogSeq.getAndIncrement()}"
      val wh = java.nio.file.Files.createTempDirectory("graft-blookup").toString
      val lake = new graft.catalog.GraftLake(s, wh)
      lake.write("ord_b", ord,
        partitions = Seq("bucket(16, o_orderkey)"), pks = Seq("o_orderkey"))
      s.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      name
    })
    val r = ord.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())
    val df = s.sql(
      s"""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         |FROM $cat.ord_b WHERE o_orderkey IN ($lo, $hi)
         |ORDER BY o_orderkey""".stripMargin)
    val all = scannedFiles(s.sql(s"SELECT * FROM $cat.ord_b"))
    val pruned = scannedFiles(df)
    require(pruned > 0 && pruned * 4 <= all,
      s"bucket point lookup must plan only the probed keys' buckets " +
        s"(planned $pruned of $all files)")
    df
  }

  private val rebucketCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** q169: ONLINE RE-BUCKETING — `OPTIMIZE t REBUCKET TO n`
    * ([[graft.catalog.GraftLake.rebucket]]): a `bucket(4, pk)` table is
    * re-bucketed to 16 through literal SQL, then a MERGE flush lands
    * THROUGH the transition (updates + inserts — exactly-once proven by
    * the PK-unique count) and a point lookup proves bucket pruning
    * re-hashes under the NEW n (≤¼ of the files planned, the q164
    * contract). Time travel across the transition stays exact: the
    * pre-rebucket snapshot reads its own contents, pruned under its own
    * recorded layout (the manifest VERSIONS the partition spec). This is
    * the knob behind the 100 TB layout policy — fix the bucket size,
    * grow the count — without a table rebuild or a write outage. */
  val q169Rebucket = QueryDef(
    "q169_rebucket",
    """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
      |                  round(o_totalprice, 2) AS price FROM orders)
      |SELECT k, c, round(CASE WHEN k % 10 = 0 THEN price + 100
      |                        ELSE price END, 2) AS price
      |FROM o ORDER BY k""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        round(col("o_totalprice"), 2).as("price"))
    val (cat, wh) = rebucketCatalogs.computeIfAbsent(dir, _ => {
      val name = s"grbk${catalogSeq.getAndIncrement()}"
      val wh = java.nio.file.Files.createTempDirectory("graft-rbk").toString
      val lake = new graft.catalog.GraftLake(s, wh)
      lake.write("ord_rb", ord.filter(col("k") % 2 === 0),
        partitions = Seq("bucket(4, k)"), pks = Seq("k"))      // v0 seed
      val v0 = lake.versions("ord_rb").last
      val seedN = lake.read("ord_rb").count()
      s.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      // freeze the INCREMENTAL migration after one bucket: the table
      // sits MID-SPLIT (flip committed, one old bucket re-homed, three
      // foreign) — the transient state a 100 TB table spends hours in
      var calls = 0
      lake.rebucketBeforeCommitHook = () =>
        { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
      try lake.rebucket("ord_rb", 16)
      catch { case e: RuntimeException if e.getMessage == "freeze" => () }
      finally lake.rebucketBeforeCommitHook = () => ()
      require(lake.readMeta("ord_rb").partitions == Seq("bucket(16, k)"),
        "the flip commits first")
      require(lake.read("ord_rb").count() == seedN,
        "the mid-split read sees every row exactly once")
      // MID-SPLIT point lookup + MERGE: a probed key answers exactly,
      // and a flush lands exactly-once per PK across BOTH layouts
      // (half the re-prices and a quarter of the inserts land here)
      val probeKey = ord.filter(col("k") % 20 === 0)
        .agg(min("k")).head().getAs[Number](0).longValue()
      require(lake.readWhere("ord_rb", col("k") === probeKey)
        .count() == 1, "mid-split point lookup must answer exactly")
      lake.upsert("ord_rb",
        ord.filter(col("k") % 20 === 0)
          .withColumn("price", round(col("price") + 100, 2))
          .unionByName(ord.filter(col("k") % 4 === 1)))
      // resume through LITERAL SQL: the same target finishes the
      // remaining foreign buckets (the flip no-ops)
      s.sql(s"OPTIMIZE $name.ord_rb REBUCKET TO 16")
      require(lake.read("ord_rb").count() ==
        seedN + ord.filter(col("k") % 4 === 1).count(),
        "re-bucketing is content-preserving")
      // the rest of the churn, post-completion
      lake.upsert("ord_rb",
        ord.filter(col("k") % 20 === 10)
          .withColumn("price", round(col("price") + 100, 2))
          .unionByName(ord.filter(col("k") % 4 === 3)))
      require(lake.read("ord_rb").count() == ord.count(),
        "the post-rebucket merge must stay exactly-once per PK")
      // time travel ACROSS the transition: the pre-rebucket snapshot
      // reads its own contents under its own recorded bucket layout
      require(lake.readVersion("ord_rb", v0).count() == seedN,
        "the pre-rebucket snapshot must stay readable")
      (name, wh)
    })
    // point lookup under the NEW layout: pruning re-hashes with n=16
    val r = ord.agg(min("k"), max("k")).head()
    val (lo, hi) = (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())
    val probe = s.sql(
      s"""SELECT k FROM $cat.ord_rb WHERE k IN ($lo, $hi)""")
    val all = scannedFiles(s.sql(s"SELECT * FROM $cat.ord_rb"))
    val pruned = scannedFiles(probe)
    require(pruned > 0 && pruned * 4 <= all,
      s"post-rebucket point lookup must prune under the new n " +
        s"(planned $pruned of $all files)")
    new graft.catalog.GraftLake(s, wh).read("ord_rb")
      .select(col("k"), col("c"), round(col("price"), 2).as("price"))
      .orderBy(col("k"))
  }

  /** q91: per-group top-k through the native bounded-buffer aggregate
    * ([[graft.functions.TopKAggregate]]) — the k largest distinct
    * quantities per return flag, exploded to ranked rows. The oracle runs
    * the window formulation (`row_number() <= k` over the distinct set);
    * hash-matching it proves the k-bounded partial aggregation computes
    * the identical answer while shuffling k-element buffers instead of
    * every row. */
  val q91TopkAgg = QueryDef(
    "q91_topk_agg",
    """WITH d AS (SELECT DISTINCT l_returnflag, l_quantity FROM lineitem),
      |r AS (SELECT l_returnflag, l_quantity, row_number() OVER (
      |        PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rank
      |      FROM d)
      |SELECT l_returnflag, rank, l_quantity AS qty
      |FROM r WHERE rank <= 5 ORDER BY l_returnflag, rank""".stripMargin) { (s, dir) =>
    graft.functions.TopKAggregate.register(s)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.TopKAggregate
        .topKDistinct(col("l_quantity"), 5).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("pos", "qty")))
      .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rank"),
        col("qty"))
      .orderBy(col("l_returnflag"), col("rank"))
  }

  /** Weekly cohort retention: users grouped by first-seen week, counted
    * in each subsequent week they stayed active — the retention matrix
    * behind every growth dashboard.
    *
    * Scale shape: one shuffle builds the (user → cohort) table, the
    * distinct (user, week) activity set reuses the user_id partitioning,
    * and the offset join runs on that same key; the output is weeks²
    * rows regardless of event volume. The cohort table is one row per
    * user — unbounded in users — so it is NOT broadcast-hinted; AQE
    * promotes to broadcast when it actually fits. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy(col("user_id"))
      .agg(min(date_trunc("week", col("ts"))).as("cohort"))
    val active = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** q95: the retention matrix over `events`. */
  val q95CohortRetention = QueryDef(
    "q95_cohort_retention",
    """WITH c AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
      |SELECT CAST(c.cohort AS TIMESTAMP) AS cohort,
      |  CAST(datediff('day', c.cohort, a.wk) / 7 AS BIGINT) AS week_offset,
      |  count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN c ON a.user_id = c.user_id
      |GROUP BY c.cohort, week_offset
      |ORDER BY cohort, week_offset""".stripMargin) { (s, dir) =>
    cohortRetention(Tables.events(s, dir))
  }

  /** q97: dataset integrity audit across the documents↔embeddings pair —
    * the pre-training gate that catches broken joins and degenerate
    * vectors before a run burns compute: per source, documents without an
    * embedding, embeddings orphaned of any document (corpus-wide),
    * zero-norm/degenerate vectors, and empty texts. A healthy dataset
    * reports zeros everywhere except the counts — and the oracle pins
    * that the audit itself computes honestly, not that the data is
    * assumed clean.
    *
    * Scale shape: two key-shuffled anti-joins (both sides pruned to id
    * columns) plus a map-side norm scan; nothing quadratic. The
    * corpus-wide orphan count folds in as a 1-row aggregate cross join —
    * ONE composable plan / ONE job, no driver-side `.count()` splice. */
  val q97IntegrityAudit = QueryDef(
    "q97_integrity_audit",
    """WITH nv AS (SELECT vec_id,
      |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      |  FROM embeddings),
      |j AS (SELECT d.source, d.doc_id, d.text, nv.vec_id, nv.nrm
      |      FROM documents d LEFT JOIN nv ON d.doc_id = nv.vec_id)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_without_embedding,
      |  (SELECT count(*) FROM nv LEFT JOIN documents d2 ON nv.vec_id = d2.doc_id
      |   WHERE d2.doc_id IS NULL) AS orphan_embeddings,
      |  CAST(sum(CASE WHEN nrm IS NOT NULL AND nrm < 1e-9 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS zero_norm_vectors,
      |  CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS empty_texts,
      |  round(avg(nrm), 4) AS avg_norm
      |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    graft.functions.VectorFunctions.register(s)
    val nv = Tables.embeddings(s, dir).select(col("vec_id"),
      graft.functions.VectorFunctions.l2Norm(col("embedding")).as("nrm"))
    val docs = Tables.documents(s, dir)
    val orphanAgg = nv.join(docs.select(col("doc_id")),
        nv("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("orphan_embeddings"))
    docs.join(nv, docs("doc_id") === nv("vec_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("vec_id").isNull, 1L).otherwise(0L)).as("docs_without_embedding"),
        sum(when(col("nrm").isNotNull && col("nrm") < 1e-9, 1L).otherwise(0L))
          .as("zero_norm_vectors"),
        sum(when(col("text").isNull || length(trim(col("text"))) === 0, 1L)
          .otherwise(0L)).as("empty_texts"),
        round(avg(col("nrm")), 4).as("avg_norm"))
      .crossJoin(orphanAgg)
      .select(col("source"), col("n_docs"), col("docs_without_embedding"),
        col("orphan_embeddings"), col("zero_norm_vectors"),
        col("empty_texts"), col("avg_norm"))
      .orderBy(col("source"))
  }

  /** q117: mergeable-sketch rollup — THE 100 TB distinct-count pattern:
    * per-hour Datasketches HLL sketches of the user set are built ONCE
    * (one scan), then per-day distincts come from re-MERGING the hour
    * sketches (`hll_union_agg`), never from re-scanning raw events. The
    * q103/q56 contract style makes it oracle-checkable without DuckDB
    * having the same sketch: exact per-day distincts are the recomputable
    * content; `sketch_ok` witnesses the merged estimate within 5 % of
    * exact; `merge_consistent` witnesses that merging hour sketches lands
    * within 2 % of sketching the day directly (the reaggregation guarantee
    * that makes pre-computed sketch tables trustworthy — not exact
    * equality: a Datasketches union can finalize in a different sketch
    * mode than direct aggregation, measured ≤0.9 % apart at sf0.1). */
  val q117HllRollup = QueryDef(
    "q117_hll_rollup",
    """WITH h AS (SELECT date_trunc('day', ts) AS day,
      |    date_trunc('hour', ts) AS hour FROM events),
      |d AS (SELECT date_trunc('day', ts) AS day,
      |    count(DISTINCT user_id) AS exact_users FROM events GROUP BY 1)
      |SELECT CAST(d.day AS DATE) AS day,
      |  (SELECT count(DISTINCT hour) FROM h WHERE h.day = d.day) AS n_hours,
      |  exact_users, CAST(1 AS BIGINT) AS sketch_ok,
      |  CAST(1 AS BIGINT) AS merge_consistent
      |FROM d ORDER BY day""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"),
        date_trunc("hour", col("ts")).as("hour"), col("user_id"))
    // offline: one sketch per hour (what a 100 TB pipeline would persist)
    val hourly = ev.groupBy(col("day"), col("hour"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    // online: day distincts by merging the hour sketches — no raw re-scan
    val merged = hourly.groupBy(col("day"))
      .agg(count(lit(1)).as("n_hours"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    // witnesses: exact distincts + a direct day-level sketch
    val exact = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_est"))
    merged.join(exact, Seq("day"))
      .select(col("day").cast("date").as("day"), col("n_hours"),
        col("exact_users"),
        when(abs(col("est") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05, 1L).otherwise(0L)
          .as("sketch_ok"),
        when(abs(col("est") - col("direct_est")) <=
          col("exact_users").cast("double") * 0.02, 1L).otherwise(0L)
          .as("merge_consistent"))
      .orderBy(col("day"))
  }

  /** q118: distribution-drift monitoring via the Population Stability
    * Index — the standard "did my feature distribution move" check a
    * training-data pipeline runs between dataset versions: per event
    * type, `value` is bucketed into 10 fixed-width bins over the type's
    * global [min, max], proportions compared between the first and second
    * half of the time range, PSI = Σ (p_a − p_b)·ln(p_a/p_b) with
    * proportions clamped at 1e-6 so empty bins stay finite. The time
    * split avoids division entirely (`2·µs < min+max`) so both engines
    * assign every row identically; bin edges derive from min/max doubles
    * that are exact parquet values, so bucketing is bit-identical too.
    *
    * Scale shape: two scans (range + bucket counts), aggregates only —
    * the PSI itself is arithmetic over a types×10 frame. */
  val q118DriftPsi = QueryDef(
    "q118_drift_psi",
    """WITH b AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
      |r AS (SELECT min(us) AS mn, max(us) AS mx FROM b),
      |s AS (SELECT event_type, value,
      |        CASE WHEN us * 2 < r.mn + r.mx THEN 0 ELSE 1 END AS side
      |      FROM b, r),
      |vr AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax
      |       FROM s GROUP BY 1),
      |bk AS (SELECT s.event_type, side,
      |    CASE WHEN vmax = vmin THEN 0
      |         ELSE CAST(least(9, greatest(0,
      |           floor((value - vmin) / ((vmax - vmin) / 10)))) AS BIGINT)
      |    END AS bucket
      |  FROM s JOIN vr USING (event_type)),
      |c AS (SELECT event_type, side, bucket, count(*) AS n FROM bk GROUP BY 1,2,3),
      |tot AS (SELECT event_type, side, sum(n) AS t FROM c GROUP BY 1,2),
      |grid AS (SELECT g.event_type, bb.bucket
      |         FROM (SELECT DISTINCT event_type FROM b) g
      |         CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) bb),
      |p AS (SELECT f.event_type, f.bucket, ta.t AS na, tb.t AS nb,
      |    greatest(CAST(coalesce(ca.n, 0) AS DOUBLE) / ta.t, 1e-6) AS pa,
      |    greatest(CAST(coalesce(cb.n, 0) AS DOUBLE) / tb.t, 1e-6) AS pb
      |  FROM grid f
      |  JOIN tot ta ON ta.event_type = f.event_type AND ta.side = 0
      |  JOIN tot tb ON tb.event_type = f.event_type AND tb.side = 1
      |  LEFT JOIN c ca ON ca.event_type = f.event_type AND ca.side = 0
      |    AND ca.bucket = f.bucket
      |  LEFT JOIN c cb ON cb.event_type = f.event_type AND cb.side = 1
      |    AND cb.bucket = f.bucket)
      |SELECT event_type, CAST(any_value(na) AS BIGINT) AS n_first,
      |  CAST(any_value(nb) AS BIGINT) AS n_second,
      |  round(sum((pa - pb) * ln(pa / pb)), 4) AS psi
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val b = Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        unix_micros(col("ts")).as("__us"))
    val r = b.agg(min(col("__us")).as("__mn"), max(col("__us")).as("__mx"))
    val sd = b.crossJoin(broadcast(r))
      .select(col("event_type"), col("value"),
        when(col("__us") * 2 < col("__mn") + col("__mx"), 0).otherwise(1)
          .as("side"))
    val vr = sd.groupBy(col("event_type"))
      .agg(min(col("value")).as("__vmin"), max(col("value")).as("__vmax"))
    val bk = sd.join(broadcast(vr), Seq("event_type"))
      .select(col("event_type"), col("side"),
        when(col("__vmax") === col("__vmin"), 0L)
          .otherwise(least(lit(9), greatest(lit(0),
            floor((col("value") - col("__vmin")) /
              ((col("__vmax") - col("__vmin")) / 10)))).cast("long"))
          .as("bucket"))
    val c = bk.groupBy(col("event_type"), col("side"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("event_type"), col("side"))
      .agg(sum(col("n")).as("t"))
    val grid = sd.select(col("event_type")).distinct()
      .crossJoin(s.range(0, 10).select(col("id").as("bucket")))
    val p = grid
      .join(broadcast(tot.filter(col("side") === 0)
        .select(col("event_type"), col("t").as("__ta"))), Seq("event_type"))
      .join(broadcast(tot.filter(col("side") === 1)
        .select(col("event_type"), col("t").as("__tb"))), Seq("event_type"))
      .join(broadcast(c.filter(col("side") === 0)
        .select(col("event_type"), col("bucket"), col("n").as("__na"))),
        Seq("event_type", "bucket"), "left")
      .join(broadcast(c.filter(col("side") === 1)
        .select(col("event_type"), col("bucket"), col("n").as("__nb"))),
        Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("__ta"), col("__tb"),
        greatest(coalesce(col("__na"), lit(0L)).cast("double") / col("__ta"),
          lit(1e-6)).as("__pa"),
        greatest(coalesce(col("__nb"), lit(0L)).cast("double") / col("__tb"),
          lit(1e-6)).as("__pb"))
    p.groupBy(col("event_type"))
      .agg(first(col("__ta")).as("n_first"), first(col("__tb")).as("n_second"),
        round(sum((col("__pa") - col("__pb")) *
          log(col("__pa") / col("__pb"))), 4).as("psi"))
      .orderBy(col("event_type"))
  }

  /** q126: hourly volume-anomaly detection per event type — the alerting
    * pass a streaming-ingest monitor runs over landed event counts: bucket
    * events into hours, fit each type's count distribution, flag hours
    * whose z-score exceeds 2, report the anomaly count and the worst
    * excursion.
    *
    * Cross-engine determinism: mean/variance come from EXACT integer sums
    * (n, Σc, Σc²) with the two-pass formula written out in the query —
    * NOT the engines' built-in `stddev` (different accumulation orders and
    * Welford variants make those hash-unsafe) — so z-scores are the same
    * IEEE op sequence bit-for-bit in both engines and the |z|>2 threshold
    * can gate an exact integer count.
    *
    * Scale shape: one partial-aggregated groupBy to hourly counts (rows =
    * types × hours), then all statistics run on that tiny frame; the raw
    * event scan is a single map-side pass. */
  val q126HourlyAnomaly = QueryDef(
    "q126_hourly_anomaly",
    """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s1,
      |    CAST(sum(c * c) AS BIGINT) AS s2
      |  FROM h GROUP BY 1),
      |z AS (SELECT h.event_type, h.hr, h.c,
      |    (h.c - CAST(s.s1 AS DOUBLE) / s.n)
      |      / sqrt((s.s2 - CAST(s.s1 AS DOUBLE) * s.s1 / s.n)
      |             / (s.n - 1)) AS zs
      |  FROM h JOIN s ON h.event_type = s.event_type WHERE s.n > 1)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_hours,
      |  CAST(sum(CASE WHEN abs(zs) > 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_anomalies,
      |  round(max(abs(zs)), 4) AS max_abs_z
      |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val h = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val st = h.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    val z = h.join(broadcast(st.filter(col("n") > 1)), Seq("event_type"))
      .select(col("event_type"),
        ((col("c") - col("s1").cast("double") / col("n"))
          / sqrt((col("s2") - col("s1").cast("double") * col("s1") / col("n"))
            / (col("n") - 1))).as("zs"))
    z.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(abs(col("zs")) > 2, 1L).otherwise(0L)).as("n_anomalies"),
        round(max(abs(col("zs"))), 4).as("max_abs_z"))
      .orderBy(col("event_type"))
  }

  /** q128: per-type event freshness / completeness audit — the data-ops
    * pane for a landed event stream: hour coverage between first and last
    * event, total missing hours, the longest consecutive outage run, and
    * coverage in basis points. Everything derives from hour-truncated
    * timestamps and integer arithmetic (`timestampdiff` / `date_diff`
    * count identical boundary crossings on truncated inputs), so the
    * audit hashes identically across engines.
    *
    * Scale shape: one partial-aggregated groupBy to (type, hour) — rows
    * bounded by types × hours, corpus-independent — then a per-type lag
    * window and rollup over that tiny frame. */
  val q128FreshnessAudit = QueryDef(
    "q128_freshness_audit",
    """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, hr,
      |    lag(hr) OVER (PARTITION BY event_type ORDER BY hr) AS prev
      |  FROM h),
      |g AS (SELECT event_type, hr,
      |    CASE WHEN prev IS NULL THEN 0
      |      ELSE date_diff('hour', prev, hr) - 1 END AS gap_run
      |  FROM r)
      |SELECT event_type,
      |  min(hr) AS first_hr, max(hr) AS last_hr,
      |  count(*) AS present_hours,
      |  CAST(date_diff('hour', min(hr), max(hr)) + 1 AS BIGINT) AS span_hours,
      |  CAST(date_diff('hour', min(hr), max(hr)) + 1 AS BIGINT) - count(*)
      |    AS gap_hours,
      |  CAST(max(gap_run) AS BIGINT) AS max_gap_run,
      |  (count(*) * 10000)
      |    // (CAST(date_diff('hour', min(hr), max(hr)) + 1 AS BIGINT))
      |    AS coverage_bp
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("__c")).drop("__c")
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val g = h.withColumn("prev", lag(col("hr"), 1).over(w))
      .withColumn("gap_run",
        when(col("prev").isNull, lit(0L))
          .otherwise(expr("timestampdiff(HOUR, prev, hr) - 1")))
    g.groupBy(col("event_type"))
      .agg(min(col("hr")).as("first_hr"), max(col("hr")).as("last_hr"),
        count(lit(1)).as("present_hours"),
        max(col("gap_run")).as("max_gap_run"))
      .withColumn("span_hours",
        expr("timestampdiff(HOUR, first_hr, last_hr) + 1"))
      .withColumn("gap_hours", col("span_hours") - col("present_hours"))
      .withColumn("coverage_bp",
        expr("(present_hours * 10000) div span_hours"))
      .select(col("event_type"), col("first_hr"), col("last_hr"),
        col("present_hours"), col("span_hours"), col("gap_hours"),
        col("max_gap_run"), col("coverage_bp"))
      .orderBy(col("event_type"))
  }

  /** q129: merge-on-read DELETE via deletion vectors. lineitem lands in
    * a lake table, a predicate DELETE writes a (file key, row position)
    * sidecar — NOT ONE data file is rewritten (DeletionVectorSpec pins
    * that) — and the query reads the table through the DV broadcast
    * anti-join. The oracle computes the same aggregate over the raw
    * table with the delete predicate negated, so a hash match proves the
    * masked rows are exactly the predicate's rows. The 100 TB shape:
    * DELETE cost is one column-pruned scan + a tiny sidecar, reads pay a
    * map-side hash probe; a full rewrite would copy every affected file
    * (reference analog: DuckLake positional delete files). */
  val q129MorDelete = QueryDef(
    "q129_mor_delete",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem
      |WHERE NOT (l_discount < 0.02 OR l_quantity > 45)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"dv:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-dvq").toString)
      l.write("li", Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_discount")))
      l.deleteWhere("li",
        col("l_discount") < 0.02 || col("l_quantity") > 45)
      l
    })
    lake.read("li")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q130: the commit-log history surface, oracle-pinned. A
    * deterministic append → append → merge-on-read DELETE → compact
    * sequence produces a fully predictable `history()`: version numbers,
    * operation labels, derived add/remove deltas and live-file counts
    * (inputs are `repartition(1)` so every write lands exactly one file;
    * the compaction reads two tiny files that Spark's file-packing
    * merges into one task → one output file). The wall-clock `ts` column
    * is excluded — manifests are deliberately wall-clock-free, the
    * commit time is filesystem mtime (observability only). Reference
    * analog: DuckLake's snapshot/commit metadata tables. */
  val q130History = QueryDef(
    "q130_history",
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT),
      |   CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
      |  (1, 'append',  1, 0, 2, 3),
      |  (2, 'delete',  0, 0, 2, 3),
      |  (3, 'compact', 1, 2, 1, 3)
      |) AS t(version, operation, n_added, n_removed, n_live_files, n_columns)
      |ORDER BY version""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"hist:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-histq").toString)
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"))
      l.write("h", li.filter(col("l_orderkey") % 2 === 0).repartition(1))
      l.append("h", li.filter(col("l_orderkey") % 2 === 1).repartition(1))
      l.deleteWhere("h", col("l_quantity") >= 30)
      l.compact("h")
      l
    })
    lake.history("h")
      .select(col("version"), col("operation"), col("n_added"),
        col("n_removed"), col("n_live_files"), col("n_columns"))
      .orderBy(col("version"))
  }

  /** q132: per-file BLOOM skipping — the point-lookup complement of
    * q102's min/max bounds skipping. lineitem lands in three round-robin
    * appends so every file's `l_orderkey` range spans the whole table
    * (min/max bounds CANNOT prune an equality — exactly the
    * high-cardinality-scattered-column shape of `WHERE user_id = X` over
    * a time-partitioned 100 TB corpus), then
    * [[graft.catalog.GraftLake.buildBloomIndex]] builds one Bloom filter
    * per file and the equality probe plans only the files whose filter
    * admits the key — the in-query `require` proves files were actually
    * skipped, the oracle proves the skipping is invisible in results.
    * BloomIndexSpec pins conservatism (fresh appends kept, OR branches
    * kept, cross-domain probes refused). */
  val q132BloomSkipping = QueryDef(
    "q132_bloom_skipping",
    """WITH k AS (SELECT min(l_orderkey) AS k FROM lineitem)
      |SELECT l_linenumber, CAST(l_quantity AS BIGINT) AS qty
      |FROM lineitem, k WHERE l_orderkey = k.k
      |ORDER BY l_linenumber""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"bloom:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-bloomq").toString)
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      for (i <- 0 until 3)
        l.append("li", li.filter(col("l_orderkey") % 3 === i).repartition(4))
      l.buildBloomIndex("li", "l_orderkey")
      l
    })
    val k = Tables.lineitem(s, dir).agg(min(col("l_orderkey"))).head().getLong(0)
    val hit = lake.readWhere("li", col("l_orderkey") === k)
    require(hit.inputFiles.length < lake.read("li").inputFiles.length,
      s"bloom index must prune files (planned ${hit.inputFiles.length})")
    hit.select(col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
      .orderBy(col("l_linenumber"))
  }

  /** Incrementally maintained additive aggregate — materialized-view
    * maintenance over lake snapshots. Keeps `dest` equal to
    * `SELECT keys, count(*) AS n_rows, sum(c) AS sum_c… FROM src`
    * refreshed from snapshot DELTAS: each refresh reads ONLY the files
    * appended since the last refresh ([[graft.catalog.GraftLake
    * .readAppendsBetween]]), aggregates that delta, and merge-ADDS it
    * into `dest` by key (touched keys only — the upsert is
    * delta-key-sized). The 100 TB shape: a dashboard aggregate over an
    * ever-growing event table costs O(new data) per refresh instead of a
    * full re-scan — the exact-additive companion of the q117 mergeable-
    * sketch rollup. Correctness guard: additivity needs an APPEND-ONLY
    * interval, so any non-append commit between refreshes (upsert,
    * delete, compact, restore — from the O(interval) manifest-op labels,
    * [[graft.catalog.GraftLake.operationsBetween]]) triggers a full
    * rebuild instead of a wrong incremental answer. The refresh
    * watermark persists in a 1-row `{dest}_state` lake table, so
    * maintenance survives restarts. Returns the rows read this refresh
    * (0 = already current). */
  def refreshAdditiveAgg(lake: graft.catalog.GraftLake, src: String,
      dest: String, keys: Seq[String], sumCols: Seq[String]): Long = {
    val stateT = s"${dest}_state"
    val cur = lake.versions(src).lastOption.getOrElse(return 0L)
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
    val lastV: Option[Long] =
      if (!lake.tableExists(stateT)) None
      else lake.read(stateT).collect().headOption
        .map(_.getAs[Long]("src_version"))
    def saveState(s: SparkSession): Unit = {
      import s.implicits._
      lake.write(stateT, Seq((0, cur)).toDF("state_id", "src_version"),
        pks = Seq("state_id"))
    }
    val rebuild = lastV.isEmpty ||
      lake.operationsBetween(src, lastV.get, cur).exists(_._2 != "append")
    if (rebuild) {
      val srcDf = lake.read(src)
      if (lake.tableExists(dest)) lake.dropTable(dest)
      lake.write(dest, aggOf(srcDf), pks = keys)
      saveState(srcDf.sparkSession)
      lake.read(dest).agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0)
    } else if (lastV.get == cur) 0L
    else {
      val delta = lake.readAppendsBetween(src, lastV.get, cur)
      // the delta aggregate is key-sized and feeds the merge join AND the
      // processed-row count — materialize once, never re-scan the delta
      val d = aggOf(delta).localCheckpoint(true)
      val existing = lake.read(dest).select(
        keys.map(col) ++ (col("n_rows").as("__en") +:
          sumCols.map(c => col(s"sum_$c").as(s"__es_$c"))): _*)
      val merged = d.join(existing, keys, "left")
        .select(keys.map(col) ++
          ((col("n_rows") + coalesce(col("__en"), lit(0L))).as("n_rows") +:
            sumCols.map(c => (col(s"sum_$c") + coalesce(col(s"__es_$c"),
              lit(0L))).as(s"sum_$c"))): _*)
      lake.write(dest, merged, pks = keys)
      saveState(d.sparkSession)
      d.agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0)
    }
  }

  /** q135: merge-on-read UPDATE — q129's counterpart for updates. The
    * matching rows are masked by a deletion vector and re-inserted with
    * the assignment applied, in ONE commit; the in-query `require`
    * proves not one pre-existing data file was rewritten (the old file
    * set is a strict subset of the new). The oracle recomputes the same
    * aggregate over the raw table with the assignment as a CASE
    * expression, so a hash match proves exactly the predicate's rows
    * changed and `_inserted_at`-invisible re-inserts kept every other
    * value. The 100 TB shape: a selective UPDATE costs one
    * manifest-pruned scan + hit-sized writes, never a partition
    * rewrite (reference analog: DuckLake UPDATE = positional delete +
    * insert). */
  val q135MorUpdate = QueryDef(
    "q135_mor_update",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(CASE WHEN l_orderkey % 100 = 7 THEN l_quantity + 100
      |                     ELSE l_quantity END AS BIGINT)) AS BIGINT)
      |    AS total_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"upd:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-updq").toString)
      l.write("li", Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")))
      val before = l.read("li").inputFiles.toSet
      // ~1 % of rows: scale-proportional but comfortably under the DV
      // entry budget at every SF the harness runs (past the budget the
      // engine would — correctly — fold the DV into the files)
      val n = l.updateWhere("li", col("l_orderkey") % 100 === 7,
        Map("l_quantity" -> (col("l_quantity") + 100)))
      require(n > 0, "update must match rows")
      val after = l.read("li").inputFiles.toSet
      require(before.subsetOf(after) && after.size > before.size,
        "merge-on-read UPDATE must only ADD files, never rewrite")
      l
    })
    lake.read("li")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q136: RESTORE to an earlier snapshot as a NEW commit — Delta-style
    * rollback, metadata-only (files re-reference by their (rel, name)
    * identity and never move; the
    * in-query `require`s prove the restored live set IS the target
    * snapshot's file set and that history above the restore point still
    * reads). The sequence append → merge-on-read DELETE → append →
    * restore-to-the-DV-snapshot pins that the restored state carries the
    * TARGET's deletion-vector set (id=2 stays masked, id=4 is gone).
    * Reference analog: rolling a DuckLake catalog back to an earlier
    * snapshot id. */
  val q136Restore = QueryDef(
    "q136_restore",
    """SELECT * FROM (VALUES (CAST(1 AS INTEGER), 'a'),
      |                      (CAST(3 AS INTEGER), 'c')) AS t(id, v)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"restore:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-restq").toString)
      l.append("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
        .repartition(1))
      l.deleteWhere("t", col("id") === 2)
      val target = l.versions("t").last // the DV-carrying snapshot
      l.append("t", Seq((4, "d")).toDF("id", "v").repartition(1))
      val above = l.versions("t").last
      l.restore("t", target)
      require(l.history("t").collect().last.getString(2) == "restore")
      require(l.liveDvs("t").nonEmpty, "restore must carry the target's DVs")
      require(l.dataFiles("t").map(_.split('/').last).sorted.sameElements(
        l.readVersion("t", target).inputFiles
          .filterNot(_.contains("/_dv/")).map(_.split('/').last).sorted),
        "restored live set must BE the target's file set (zero-copy)")
      require(l.readVersion("t", above).count() == 3,
        "snapshots above the restore point must stay readable")
      l
    })
    lake.read("t").select(col("id"), col("v")).orderBy(col("id"))
  }

  /** q157: DEEP CLONE through the hash-checked gate — the source lands,
    * takes a MoR DELETE (live deletion vectors), and is cloned TWICE:
    * at the pre-delete snapshot (`c_full`) and at latest (`c_del`, DVs
    * carried). In-query contracts pin what the oracle cannot see: the
    * DV clone holds live DVs of its OWN (the copy, not a reference), the
    * pre-delete clone holds none, and a post-clone append to the source
    * changes NEITHER clone (independence — the point of a deep clone).
    * The oracle recomputes both clones' contents from the raw table. */
  val q157Clone = QueryDef(
    "q157_clone",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h))
      |SELECT 'at_delete' AS clone, count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total100
      |FROM seed WHERE o_orderkey % 100 <> 0
      |UNION ALL
      |SELECT 'full' AS clone, count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total100
      |FROM seed
      |ORDER BY clone""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"clone:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-cloneq").toString)
      val orders = Tables.orders(s, dir)
      val hmax = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
      l.append("src", orders.filter(col("o_orderkey") < hmax)
        .select(col("o_orderkey"), col("o_totalprice")).repartition(2))
      // ~1% slice: scale-proportional, comfortably under the DV entry
      // budget at every SF the harness runs (the q135 sizing rule — a
      // fixed-selectivity 10% predicate would fold its DV at
      // sf10+ and break the liveDvs contract below)
      l.deleteWhere("src", col("o_orderkey") % 100 === 0)
      require(l.liveDvs("src").nonEmpty, "the delete must be merge-on-read")
      l.cloneTable("src", "c_full", Some(0L))
      l.cloneTable("src", "c_del")
      require(l.liveDvs("c_del").nonEmpty,
        "the latest-snapshot clone must carry the DVs")
      require(l.liveDvs("c_full").isEmpty,
        "the pre-delete clone must carry none")
      val (nDel, nFull) = (l.read("c_del").count(), l.read("c_full").count())
      // independence: the source moves on, the clones must not
      l.append("src", Seq((999999999L, 1.0)).toDF("o_orderkey", "o_totalprice"))
      require(l.read("c_del").count() == nDel &&
        l.read("c_full").count() == nFull,
        "deep clones must be independent of the source's later commits")
      l
    })
    def agg(t: String, label: String) = lake.read(t)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("total100"))
      .select(lit(label).as("clone"), col("n"), col("total100"))
    agg("c_del", "at_delete").unionByName(agg("c_full", "full"))
      .orderBy(col("clone"))
  }

  /** q162: SHALLOW CLONE + vacuum pinning through the hash-checked gate.
    * The clone is a ZERO-COPY pinned reference to snapshot 0 of the
    * source; the in-query `require`s prove the round-11 contract — the
    * pin lands in the source's registry, vacuum refuses to retire the
    * pinned snapshot (manifest AND files) while the clone lives, the
    * clone is read-only and survives source evolution (MoR delete +
    * append + expireSnapshots), dropping a clone releases its pin, and
    * [[graft.catalog.GraftLake.materializeClone]] turns it into an
    * independent deep table and releases the pin — after which the same
    * vacuum that was refused retires the snapshot. The oracle recomputes
    * both relations from the raw rows: the clone must equal the
    * PRE-evolution seed; the source must show the evolution. */
  val q162ShallowClone = QueryDef(
    "q162_shallow_clone",
    """WITH h AS (SELECT max(o_orderkey) / 2 AS v FROM orders),
      |seed AS (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_orderkey < (SELECT v FROM h))
      |SELECT 'clone_v0' AS rel, count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total100
      |FROM seed
      |UNION ALL
      |SELECT 'source_final' AS rel, count(*) + 1 AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) + 100 AS BIGINT)
      |    AS total100
      |FROM seed WHERE o_orderkey % 50 <> 0
      |ORDER BY rel""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"shclone:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-shcloneq").toString)
      val orders = Tables.orders(s, dir)
      val hmax = orders.agg(max("o_orderkey")).head().getLong(0) / 2.0
      l.append("src", orders.filter(col("o_orderkey") < hmax)
        .select(col("o_orderkey"), col("o_totalprice")).repartition(2))
      val n0 = l.read("src").count()
      l.shallowClone("src", "sc", Some(0L))
      require(l.versions("sc").isEmpty,
        "shallow clone must carry no commits of its own (zero-copy)")
      require(l.pins("src") == Map("sc" -> 0L),
        "the pin must be recorded against the source")
      require(scala.util.Try(
        l.append("sc", Seq((1L, 1.0)).toDF("o_orderkey", "o_totalprice")))
        .isFailure, "a shallow clone is read-only until materialized")
      // the source moves on: ~2% MoR delete + one insert, then vacuum
      l.deleteWhere("src", col("o_orderkey") % 50 === 0)
      l.append("src", Seq((999999999L, 1.0)).toDF("o_orderkey", "o_totalprice"))
      l.expireSnapshots("src", 1)
      require(l.versions("src").contains(0L),
        "vacuum must refuse to retire the PINNED snapshot's manifest")
      require(l.read("sc").count() == n0,
        "the clone must survive source evolution AND vacuum")
      // a dropped clone releases its pin
      l.shallowClone("src", "sc2")
      require(l.pins("src").keySet == Set("sc", "sc2"))
      l.dropTable("sc2")
      require(l.pins("src") == Map("sc" -> 0L), "drop must unpin")
      // materialize: independent table, pin released, vacuum proceeds
      l.materializeClone("sc")
      require(l.pins("src").isEmpty, "materialize must release the pin")
      require(l.versions("sc").size == 1 && l.read("sc").count() == n0,
        "materialized clone must be an independent snapshot copy")
      l.expireSnapshots("src", 1)
      require(!l.versions("src").contains(0L),
        "once unpinned, the same vacuum retires the snapshot")
      require(l.read("sc").count() == n0,
        "the materialized clone must not depend on the vacuumed source")
      l
    })
    def agg(t: String, label: String) = lake.read(t)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("total100"))
      .select(lit(label).as("rel"), col("n"), col("total100"))
    agg("sc", "clone_v0").unionByName(agg("src", "source_final"))
      .orderBy(col("rel"))
  }

  /** q138: incrementally maintained additive aggregate
    * ([[refreshAdditiveAgg]]), proven incremental IN-QUERY: the source
    * lands in three appends with a refresh after each, and the
    * `require`s pin that refresh #2 and #3 process EXACTLY their
    * append's row count (delta reads, never a re-scan) and that a
    * refresh with nothing new reads zero rows. The oracle recomputes the
    * aggregate from the raw table in one shot, so a hash match proves
    * delta-maintenance ≡ full recompute. Integer sums only
    * (`floor(value*100)` as BIGINT — float sums are not hash-stable
    * across engines and not safely additive). */
  val q138IncrementalAgg = QueryDef(
    "q138_incremental_agg",
    """SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_v100
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"inc:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-incq").toString)
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("v100"))
      def batch(i: Int) = ev.filter(col("event_id") % 3 === i)
      val counts = (0 until 3).map(i => batch(i).count())
      l.append("ev", batch(0))
      val r0 = refreshAdditiveAgg(l, "ev", "ev_agg",
        Seq("event_type"), Seq("v100"))
      require(r0 == counts(0), s"initial build: $r0 != ${counts(0)}")
      l.append("ev", batch(1))
      val r1 = refreshAdditiveAgg(l, "ev", "ev_agg",
        Seq("event_type"), Seq("v100"))
      require(r1 == counts(1),
        s"refresh must read EXACTLY the delta: $r1 != ${counts(1)}")
      l.append("ev", batch(2))
      val r2 = refreshAdditiveAgg(l, "ev", "ev_agg",
        Seq("event_type"), Seq("v100"))
      require(r2 == counts(2), s"refresh 3: $r2 != ${counts(2)}")
      require(refreshAdditiveAgg(l, "ev", "ev_agg",
        Seq("event_type"), Seq("v100")) == 0L, "current state reads nothing")
      l
    })
    lake.read("ev_agg")
      .select(col("event_type"), col("n_rows"), col("sum_v100"))
      .orderBy(col("event_type"))
  }

  /** q139: the ADMIN SQL surface end-to-end — `OPTIMIZE`, `RESTORE TABLE
    * … VERSION AS OF`, and `VACUUM … KEEP n SNAPSHOTS` are parser-injected
    * statements (GraftSqlParser, the Delta mechanism) routing to the
    * engine's compaction / zero-copy restore / retention-bounded expiry.
    * The deterministic sequence append ×2 → OPTIMIZE → append → RESTORE
    * to the optimized snapshot → VACUUM pins every interaction: the
    * restore's target file survives the vacuum because its snapshot is
    * kept, the post-restore read is the VALUES oracle, and the in-query
    * `require`s pin file counts, retained versions and op labels. */
  val q139AdminSql = QueryDef(
    "q139_admin_sql",
    """SELECT * FROM (VALUES (CAST(1 AS INTEGER), 'a'),
      |                      (CAST(2 AS INTEGER), 'b'),
      |                      (CAST(3 AS INTEGER), 'c')) AS t(id, v)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"adminsql:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-admq").toString)
      val cat = s"admq${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", l.warehouseDir)
      l.append("t", Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(1))
      l.append("t", Seq((3, "c")).toDF("id", "v").repartition(1))
      s.sql(s"OPTIMIZE $cat.t")
      require(l.dataFiles("t").size == 1, "OPTIMIZE must compact to one file")
      val optimized = l.versions("t").last
      l.append("t", Seq((4, "d")).toDF("id", "v").repartition(1))
      s.sql(s"RESTORE TABLE $cat.t TO VERSION AS OF $optimized")
      s.sql(s"VACUUM $cat.t KEEP 3 SNAPSHOTS")
      require(l.versions("t").size == 3, "retention must keep exactly 3")
      require(l.history("t").collect().last.getString(2) == "restore")
      require(l.read("t").count() == 3,
        "the restore target file must survive the vacuum")
      l
    })
    lake.read("t").select(col("id"), col("v")).orderBy(col("id"))
  }

  /** q142: DROP COLUMN evolution — the column leaves the schema sidecar
    * with ZERO data rewritten (the in-query `require` pins the file set
    * unchanged); live reads never request it from parquet, a later
    * append lands without it, and the pre-drop snapshot still reads the
    * column under its own manifest schema (time-travel `require`). The
    * oracle pins the post-drop contents and column set. */
  val q142DropColumn = QueryDef(
    "q142_drop_column",
    """SELECT * FROM (VALUES (CAST(1 AS INTEGER), 'a'),
      |                      (CAST(2 AS INTEGER), 'b'),
      |                      (CAST(3 AS INTEGER), 'c')) AS t(id, v)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"dropcol:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-dropq").toString)
      l.append("t", Seq((1, "a", 9.5), (2, "b", 8.0)).toDF("id", "v", "dead")
        .repartition(1))
      val files = l.dataFiles("t").sorted
      val v0 = l.versions("t").head
      l.dropColumn("t", "dead")
      require(l.dataFiles("t").sorted.sameElements(files),
        "DROP COLUMN must rewrite nothing")
      require(!l.read("t").columns.contains("dead"))
      require(l.readVersion("t", v0).columns.contains("dead"),
        "the pre-drop snapshot keeps its own wider schema")
      l.append("t", Seq((3, "c")).toDF("id", "v").repartition(1))
      l
    })
    lake.read("t").select(col("id"), col("v")).orderBy(col("id"))
  }

  /** q143: metadata-derived change feed ([[graft.catalog.GraftLake
    * .tableChanges]]) — append two batches, merge-on-read DELETE ~1 % of
    * keys, merge-on-read UPDATE another ~1 %, then read the changes AFTER
    * the first batch's snapshot: commit 1 yields the second batch as
    * inserts, commit 2 the deleted rows as deletes, commit 3 the update's
    * preimages/postimages as a paired update_preimage/update_postimage —
    * all recovered from per-commit file/DV deltas alone (the feed never
    * scans or value-diffs the table; q86/q98 cover rewrite windows by key
    * diff, q168 streams captured rewrites). The oracle derives every
    * (commit, change_type) class arithmetically. */
  val q143ChangeFeed = QueryDef(
    "q143_change_feed",
    """WITH o AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |           FROM orders),
      |feed AS (
      |  SELECT 1 AS commit_seq, 'insert' AS change_type, price
      |  FROM o WHERE k % 4 >= 2
      |  UNION ALL
      |  SELECT 2, 'delete', price FROM o WHERE k % 100 = 7
      |  UNION ALL
      |  SELECT 3, 'update_preimage', price FROM o WHERE k % 100 = 3
      |  UNION ALL
      |  SELECT 3, 'update_postimage', round(price + 1, 2) FROM o WHERE k % 100 = 3)
      |SELECT commit_seq, change_type, count(*) AS n,
      |  round(sum(price), 2) AS price_sum
      |FROM feed GROUP BY commit_seq, change_type
      |ORDER BY commit_seq, change_type""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"cf:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-cfq").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("price"))
      l.append("cf_orders", o.filter(col("k") % 4 < 2))
      l.append("cf_orders", o.filter(col("k") % 4 >= 2))
      // ~1 % slices: scale-proportional, under the DV entry budget at
      // every SF the harness runs (q135's sizing rationale)
      require(l.deleteWhere("cf_orders", col("k") % 100 === 7) > 0,
        "delete must match rows")
      require(l.updateWhere("cf_orders", col("k") % 100 === 3,
        Map("price" -> (col("price") + 1))) > 0, "update must match rows")
      l
    })
    val vs = lake.versions("cf_orders")
    val feed = lake.tableChanges("cf_orders", vs.head, vs.last)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(graft.catalog.GraftLake.CommitVersionCol))
    feed.groupBy(col(graft.catalog.GraftLake.CommitVersionCol),
        col(graft.catalog.GraftLake.ChangeTypeCol).as("change_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price_sum"))
      .withColumn("commit_seq", dense_rank().over(w))
      .select(col("commit_seq"), col("change_type"), col("n"),
        col("price_sum"))
      .orderBy(col("commit_seq"), col("change_type"))
  }

  /** q171: ONLINE PARTITION-LAYOUT EVOLUTION — `ALTER TABLE t SET
    * PARTITIONED BY (…)` ([[graft.catalog.GraftLake.evolvePartitions]]),
    * Iceberg's partition-evolution capability on the incremental
    * rebucket machinery: a `year(d)`-partitioned table re-granularizes
    * to `month(d)` ONLINE (flip + per-directory-group migration —
    * completes under live writers), frozen MID-MIGRATION to land an
    * append through the mixed state, resumed through literal SQL. The
    * in-query requires pin: the flip commits first, the mixed state
    * reads exactly, the final directory set is uniformly month-layout,
    * and the pre-evolution snapshot time-travels under its own year
    * layout. The oracle reproduces the month-level rollup of the final
    * contents arithmetically. */
  val q171PartitionEvolution = QueryDef(
    "q171_partition_evolution",
    """WITH o AS (SELECT o_orderkey AS k, o_orderdate AS d,
      |                  round(o_totalprice, 2) AS price
      |           FROM orders WHERE o_orderkey % 6 IN (0, 3))
      |SELECT year(d) AS y, month(d) AS m, count(*) AS n,
      |       round(sum(price), 2) AS price_sum
      |FROM o GROUP BY year(d), month(d)
      |ORDER BY y, m""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderdate").as("d"),
        round(col("o_totalprice"), 2).as("price"))
    val lake = skipLakeMemo.computeIfAbsent(s"evo:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-evo").toString)
      l.write("evo_t", ord.filter(col("k") % 6 === 0),
        partitions = Seq("year(d)"))                       // v0, year layout
      val vPre = l.versions("evo_t").last
      val seedN = l.read("evo_t").count()
      // freeze the migration after one year-group: mixed state
      var calls = 0
      l.rebucketBeforeCommitHook = () =>
        { calls += 1; if (calls == 2) throw new RuntimeException("freeze") }
      try l.evolvePartitions("evo_t", Seq("month(d)"))
      catch { case e: RuntimeException if e.getMessage == "freeze" => () }
      finally l.rebucketBeforeCommitHook = () => ()
      require(l.readMeta("evo_t").partitions == Seq("month(d)"),
        "the flip commits first")
      require(l.read("evo_t").count() == seedN,
        "the mixed state reads every row exactly once")
      // an append lands THROUGH the mixed state (new layout)
      l.append("evo_t", ord.filter(col("k") % 6 === 3))
      // resume through literal SQL — catalog name PER DIR (catalog
      // instances cache by name; two SFs in one JVM must not cross wires)
      val cat = s"gevoq${catalogSeq.getAndIncrement()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", l.warehouseDir)
      s.sql(s"ALTER TABLE $cat.evo_t SET PARTITIONED BY (month(d))")
      val dirs = l.dataFiles("evo_t").map(p =>
        new org.apache.hadoop.fs.Path(p).getParent.getName.split('=').head)
        .toSet
      require(dirs == Set("__p_month_d"),
        s"the migration must complete to the month layout, got $dirs")
      require(l.readVersion("evo_t", vPre).count() == seedN,
        "the pre-evolution snapshot time-travels under its year layout")
      l
    })
    lake.read("evo_t")
      .groupBy(year(col("d")).cast("long").as("y"),
        month(col("d")).cast("long").as("m"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price_sum"))
      .orderBy(col("y"), col("m"))
  }

  /** q172: GUIDED DEPTH-CHANGE REBUILD — `REPLACE TABLE … PARTITIONED
    * BY (…) [AS SELECT …]` ([[graft.catalog.GraftLake.rebuildPartitioned]]):
    * the remedy the online evolution's depth refusal names. Unlike CTAS
    * it carries primary keys, constraints and properties forward and
    * keeps snapshot history. In-query `require`s pin the carried
    * metadata, the uniform two-expression layout, exact merge routing
    * after the rebuild, and pre-rebuild time travel; the oracle pins the
    * final contents. */
  val q172ReplaceRebuild = QueryDef(
    "q172_replace_rebuild",
    """WITH o AS (SELECT o_orderkey AS k, o_orderdate AS d,
      |                  round(o_totalprice, 2) AS price
      |           FROM orders WHERE o_orderkey % 6 = 1)
      |SELECT year(d) AS y, count(*) AS n,
      |       round(sum(CASE WHEN k % 30 = 1 THEN round(price * 2, 2)
      |                      ELSE price END), 2) AS price_sum
      |FROM o GROUP BY year(d)
      |ORDER BY y""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderdate").as("d"),
        round(col("o_totalprice"), 2).as("price"))
    val lake = skipLakeMemo.computeIfAbsent(s"rpl:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-rpl").toString)
      l.write("rpl_t", ord.filter(col("k") % 6 === 1),
        partitions = Seq("bucket(4, k)"), pks = Seq("k"))  // depth 1
      l.setTableProperty("rpl_t", "custom.tag", "carried")
      val vPre = l.versions("rpl_t").last
      val seedN = l.read("rpl_t").count()
      // the ONLINE path refuses the depth change, naming the statement
      val refusal = scala.util.Try(
        l.evolvePartitions("rpl_t", Seq("bucket(4, k)", "year(d)")))
      require(refusal.isFailure && refusal.failed.get.getMessage
        .contains("REPLACE TABLE"), "depth refusal must name the remedy")
      val cat = s"grplq${catalogSeq.getAndIncrement()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", l.warehouseDir)
      // depth 1 -> 2 through the named statement (content-preserving)
      s.sql(s"REPLACE TABLE $cat.rpl_t " +
        "PARTITIONED BY (bucket(4, k), year(d))")
      val meta = l.readMeta("rpl_t")
      require(meta.partitions == Seq("bucket(4, k)", "year(d)") &&
        meta.pks == Seq("k") &&
        meta.props.get("custom.tag").contains("carried"),
        "the rebuild must carry pks and properties forward")
      require(l.read("rpl_t").count() == seedN, "contents preserved")
      require(l.dataFiles("rpl_t").forall(p =>
        p.contains("__p_bucket_4_k=") && p.contains("__p_year_d=")),
        "uniform two-expression layout after the rebuild")
      require(l.readVersion("rpl_t", vPre).count() == seedN,
        "pre-rebuild snapshots time-travel under the old layout")
      // merges route exactly under the rebuilt layout (doubled price
      // for every 5th key — deterministic, oracle-reproducible)
      l.upsert("rpl_t", l.read("rpl_t").filter(col("k") % 30 === 1)
        .withColumn("price", round(col("price") * 2, 2)))
      require(l.read("rpl_t").count() == seedN,
        "merge exactly-once after the rebuild")
      l
    })
    lake.read("rpl_t")
      .groupBy(year(col("d")).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price_sum"))
      .orderBy(col("y"))
  }

  /** q173: STANDING TABLE-PROPERTY POLICIES — `graft.policy.*`
    * TBLPROPERTIES honored by every write path's post-commit hook
    * ([[graft.catalog.GraftLake.runStandingPolicies]]): plain appends
    * trigger auto-compaction and the bounded auto-rebucket doubling
    * without any pipeline config. In-query `require`s pin the compacted
    * file count, the doubled bucket layout, the bounded (one group per
    * write) drain, and exact contents; the oracle pins the final rows. */
  val q173StandingPolicies = QueryDef(
    "q173_standing_policies",
    """WITH o AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |           FROM orders WHERE o_orderkey % 4 = 2)
      |SELECT count(*) AS n, round(sum(price), 2) AS price_sum,
      |       count(DISTINCT k) AS n_keys
      |FROM o""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("price"))
      .filter(col("k") % 4 === 2)
    val lake = skipLakeMemo.computeIfAbsent(s"pol:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-pol").toString)
      val total = ord.count()
      val half = ord.filter(col("k") % 8 === 2)
      l.write("pol_t", half, partitions = Seq("bucket(2, k)"))
      // standing policies: compact at 6 files; double buckets past
      // half the table's rows per bucket, one group per write
      l.setTableProperty("pol_t", "graft.policy.autoCompact.minFiles", "6")
      l.setTableProperty("pol_t",
        "graft.policy.autoRebucket.targetRowsPerBucket",
        math.max(total / 3, 1L).toString)
      l.setTableProperty("pol_t",
        "graft.policy.autoRebucket.maxGroupsPerCall", "1")
      // plain appends — no pipeline, no operator calls: the properties
      // alone must compact and re-bucket
      val rest = ord.filter(col("k") % 8 === 6)
      val parts = 4
      (0 until parts).foreach(i =>
        l.append("pol_t", rest.filter(col("k") % 32 === (8 * i + 6))))
      require(l.readMeta("pol_t").partitions == Seq("bucket(4, k)"),
        s"standing policy must double the count, " +
          s"got ${l.readMeta("pol_t").partitions}")
      // drain any migration tail through further no-op-sized appends
      var guard = 0
      while (!l.dataFiles("pol_t").forall(_.contains("__p_bucket_4_k=")) &&
          guard < 6) {
        l.append("pol_t", ord.limit(0)) // empty append still runs policy
        guard += 1
      }
      require(l.dataFiles("pol_t").forall(_.contains("__p_bucket_4_k=")),
        "the bounded migration must drain across writes")
      require(l.liveFileCount("pol_t") < 6,
        s"standing compaction must bound files, got ${l.liveFileCount("pol_t")}")
      require(l.read("pol_t").count() == total, "exact contents")
      l
    })
    lake.read("pol_t").agg(count(lit(1)).as("n"),
      round(sum(col("price")), 2).as("price_sum"),
      countDistinct(col("k")).as("n_keys"))
  }

  /** q170: SQL-SURFACED CHANGE FEED — `SELECT … FROM
    * table_changes('cat.t', from, to)`, the TVF over
    * [[graft.catalog.GraftLake.tableChanges]] (DuckLake parity: its
    * `ducklake_table_changes(...)` is likewise a plain SQL function, so a
    * SQL-only consumer can ask "what changed between v0 and v2" without
    * Scala or a stream). Deterministic commits (v0 seed append, v1
    * append, v2 merge-on-read DELETE) let the oracle rebuild the feed
    * arithmetically; the TVF resolves its identifier through the
    * session's CatalogManager like every other graft statement. */
  val q170TableChangesSql = QueryDef(
    "q170_table_changes_sql",
    """WITH o AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |           FROM orders WHERE o_orderkey % 10 = 3)
      |SELECT CAST(1 AS BIGINT) AS _commit_version,
      |       'insert' AS _change_type, count(*) AS n,
      |       round(sum(price), 2) AS price_sum
      |FROM o WHERE k % 20 = 13
      |UNION ALL
      |SELECT 2, 'delete', count(*), round(sum(price), 2)
      |FROM o WHERE k % 100 = 23
      |ORDER BY _commit_version""".stripMargin) { (s, dir) =>
    val catKey = "spark.sql.catalog.gtvf"
    if (s.conf.getOption(s"$catKey.warehouse").isEmpty) {
      s.conf.set(catKey, classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"$catKey.warehouse",
        java.nio.file.Files.createTempDirectory("graft-gtvf").toString)
    }
    // rebuild per run (q168's discipline): version ids must be the
    // deterministic 0/1/2 the SQL below names, across SFs and re-runs
    val l = new graft.catalog.GraftLake(s, s.conf.get(s"$catKey.warehouse"))
    if (l.tableExists("chg")) l.dropTable("chg")
    val o = Tables.orders(s, dir).filter(col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("price"))
    l.append("chg", o.filter(col("k") % 20 === 3))   // v0 — seed
    l.append("chg", o.filter(col("k") % 20 === 13))  // v1 — insert wave
    require(l.deleteWhere("chg", col("k") % 100 === 23) > 0,
      "the MoR delete must match rows")               // v2 — dv-add
    // the upper bound exercises the TIMESTAMP form (an ISO instant an
    // hour from now resolves to the latest snapshot via versionAt —
    // "what changed since v0 as of now"), mixing with the integer form
    // on the lower bound; same window as (0, 2), so the oracle is
    // unchanged
    val toTs = java.time.Instant.now().plusSeconds(3600).toString
    s.sql(
      s"""SELECT _commit_version, _change_type, count(*) AS n,
         |       round(sum(price), 2) AS price_sum
         |FROM table_changes('gtvf.chg', 0, '$toTs')
         |GROUP BY _commit_version, _change_type
         |ORDER BY _commit_version""".stripMargin)
  }

  /** q144: RENAME COLUMN evolution — metadata-only (the physical parquet
    * name freezes at creation; the new name rides as schema metadata), so
    * the in-query `require` pins ZERO files rewritten, a pre-rename file
    * and a post-rename append read back under ONE logical column, the
    * pre-rename snapshot still presents the ORIGINAL name, and
    * merge-on-read UPDATE addresses the new name. The oracle pins the
    * final contents and column set. Reference analog: DuckLake renames
    * are catalog-metadata updates over stable column ids. */
  val q144RenameColumn = QueryDef(
    "q144_rename_column",
    """SELECT * FROM (VALUES (CAST(1 AS INTEGER), CAST(10.0 AS DOUBLE)),
      |                      (CAST(2 AS INTEGER), CAST(200.0 AS DOUBLE)),
      |                      (CAST(3 AS INTEGER), CAST(30.0 AS DOUBLE)))
      |  AS t(id, price)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"rencol:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-renq").toString)
      l.append("t", Seq((1, 10.0), (2, 20.0)).toDF("id", "amount")
        .repartition(1))
      val files = l.dataFiles("t").sorted
      val v0 = l.versions("t").head
      l.renameColumn("t", "amount", "price")
      require(l.dataFiles("t").sorted.sameElements(files),
        "RENAME COLUMN must rewrite nothing")
      require(l.read("t").columns.contains("price") &&
        !l.read("t").columns.contains("amount"))
      require(l.readVersion("t", v0).columns.contains("amount"),
        "the pre-rename snapshot keeps its own logical names")
      l.append("t", Seq((3, 30.0)).toDF("id", "price").repartition(1))
      require(l.updateWhere("t", col("id") === 2,
        Map("price" -> lit(200.0))) == 1L)
      l
    })
    lake.read("t").select(col("id"), col("price")).orderBy(col("id"))
  }

  /** q145: CHECK-constraint enforcement — land the orders slice, add
    * `CHECK (price >= 0)` (validated against every existing row), then
    * prove a violating batch aborts ATOMICALLY inside its own write job:
    * the in-query `require`s pin that the rejected batch left no rows, no
    * commit, and no files, while a subsequent valid batch lands. The
    * oracle pins the final contents arithmetically. Reference analog:
    * DuckLake inherits DuckDB's CHECK/NOT NULL enforcement at insert. */
  val q145CheckConstraints = QueryDef(
    "q145_check_constraints",
    """WITH o AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |           FROM orders)
      |SELECT count(*) AS n, round(sum(price), 2) AS price_sum,
      |  CAST(min(price) >= 0 AS INTEGER) AS all_valid
      |FROM (SELECT k, price FROM o
      |      UNION ALL
      |      SELECT k + 10000000, price + 1 FROM o WHERE k % 100 = 1)""".stripMargin
  ) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"chk:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-chkq").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("price"))
      l.append("t", o)
      l.addConstraint("t", "pos_price", "price >= 0")
      val versions0 = l.versions("t").size
      val files0 = l.dataFiles("t").size
      val rows0 = l.read("t").count()
      // a batch where SOME rows violate must land NOTHING
      val bad = o.filter(col("k") % 100 === 1)
        .select((col("k") + 10000000L).as("k"),
          when(col("k") % 200 === 1, -col("price") - 1)
            .otherwise(col("price") + 1).as("price"))
      val failed = try { l.append("t", bad); false } catch {
        case _: Exception => true
      }
      require(failed, "the violating batch must abort")
      require(l.versions("t").size == versions0 &&
        l.dataFiles("t").size == files0 && l.read("t").count() == rows0,
        "a violating batch must leave no commit, no files, no rows")
      // the corrected batch (all non-negative) lands
      l.append("t", o.filter(col("k") % 100 === 1)
        .select((col("k") + 10000000L).as("k"),
          round(col("price") + 1, 2).as("price")))
      l
    })
    lake.read("t").agg(count(lit(1)).as("n"),
      round(sum(col("price")), 2).as("price_sum"),
      (min(col("price")) >= 0).cast("int").as("all_valid"))
  }

  /** q147: `DESCRIBE DETAIL` — the one-row admin summary every lakehouse
    * exposes (snapshot span, live files, column/PK/constraint surfaces,
    * bloom indexes, DV entries, renamed columns), driven end-to-end
    * through SQL over a table exercising EVERY surface it reports: two
    * appends, a rename, a CHECK constraint, a bloom index, and a
    * merge-on-read delete. The oracle pins all deterministic fields
    * (bytes and wall-clock excluded by construction). */
  val q147DescribeDetail = QueryDef(
    "q147_describe_detail",
    """SELECT * FROM (VALUES
      |  ('t', CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT),
      |   CAST(3 AS BIGINT),
      |   'id', 'pos_price: CHECK (price >= 0)', 'id',
      |   CAST(1 AS BIGINT), 'amount -> price'))
      |  AS d(table_name, n_versions, n_live_files, n_rows, n_columns,
      |       primary_keys, constraints, bloom_indexed, n_dv_entries,
      |       renamed_columns)""".stripMargin) { (s, dir) =>
    val pair = detailMemo.computeIfAbsent(s"detail:$dir", _ => {
      import s.implicits._
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-detq").toString)
      val cat = s"detq${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", l.warehouseDir)
      l.write("t", Seq((1, 10.0), (2, 20.0)).toDF("id", "amount")
        .repartition(1), pks = Seq("id"))
      // the appended file spans two ids so the point delete below stays a
      // DV delete (a single-row file would take the metadata-only drop
      // and report zero DV entries — q153 covers that path)
      l.append("t", Seq((3, 30.0), (4, 40.0)).toDF("id", "amount")
        .repartition(1))
      l.renameColumn("t", "amount", "price")
      l.addConstraint("t", "pos_price", "price >= 0")
      l.buildBloomIndex("t", "id", expectedItemsPerFile = 100L)
      require(l.deleteWhere("t", col("id") === 3) == 1L)
      cat
    })
    s.sql(s"DESCRIBE DETAIL $pair.t")
      .select(col("table").as("table_name"), col("n_versions"),
        col("n_live_files"), col("n_rows"), col("n_columns"),
        col("primary_keys"), col("constraints"), col("bloom_indexed"),
        col("n_dv_entries"), col("renamed_columns"))
  }

  private val detailMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q148: row-level provenance ([[graft.catalog.GraftLake
    * .readWithProvenance]]) — three ingest batches land as three commits,
    * a merge-on-read DELETE masks ~1 % of rows, and every SURVIVING row
    * reports the commit that landed it: per-commit counts and sums come
    * back exactly as the batch arithmetic predicts, with the deleted
    * rows excluded from their original batches. Attribution costs one
    * manifest walk + a broadcast (file → commit) map over the normal
    * pruned scan — the lineage surface a training-data pipeline needs
    * ("which crawl batch contributed this document") with zero extra
    * bookkeeping at write time. */
  val q148Provenance = QueryDef(
    "q148_provenance",
    """WITH o AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |           FROM orders WHERE o_orderkey % 100 <> 7)
      |SELECT 1 AS commit_seq, count(*) AS n, round(sum(price), 2) AS price_sum
      |FROM o WHERE k % 3 = 0
      |UNION ALL
      |SELECT 2, count(*), round(sum(price), 2) FROM o WHERE k % 3 = 1
      |UNION ALL
      |SELECT 3, count(*), round(sum(price), 2) FROM o WHERE k % 3 = 2
      |ORDER BY commit_seq""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"prov:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-provq").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("price"))
      (0 to 2).foreach(m => l.append("prov", o.filter(col("k") % 3 === m)))
      require(l.deleteWhere("prov", col("k") % 100 === 7) > 0)
      l
    })
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(graft.catalog.GraftLake.CommitVersionCol))
    lake.readWithProvenance("prov")
      .groupBy(col(graft.catalog.GraftLake.CommitVersionCol))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price_sum"))
      .withColumn("commit_seq", dense_rank().over(w))
      .select(col("commit_seq"), col("n"), col("price_sum"))
      .orderBy(col("commit_seq"))
  }

  /** q149: metadata-only `count(*)` — every commit already records each
    * file's footer row count in the manifest stats
    * ([[graft.catalog.GraftLake.RowCountKey]]), so an exact live count is
    * Σ per-file counts minus the live DV entries: O(manifest + DV
    * sidecars), ZERO data files opened — at 100 TB the difference
    * between instant and a full scan. The scenario covers both halves
    * (two appends + a merge-on-read DELETE), the in-query `require`s pin
    * that the metadata path was used AND equals the scan count, and the
    * oracle pins the value arithmetically. Reference analog: DuckLake
    * answers count(*) from its catalog's per-file row counts. */
  val q149FastCount = QueryDef(
    "q149_fast_count",
    """SELECT CAST(count(*) AS BIGINT) AS n_live
      |FROM orders WHERE o_orderkey % 100 <> 7""".stripMargin) { (s, dir) =>
    import s.implicits._
    val lake = skipLakeMemo.computeIfAbsent(s"fastcount:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-fcq").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
      l.append("fc", o.filter(col("k") % 2 === 0))
      l.append("fc", o.filter(col("k") % 2 === 1))
      require(l.deleteWhere("fc", col("k") % 100 === 7) > 0)
      l
    })
    val fast = lake.rowCountFromStats("fc")
    require(fast.isDefined,
      "every live file must carry the footer row-count stat")
    require(fast.get == lake.read("fc").count(),
      "the metadata count must equal the scan count")
    Seq(fast.get).toDF("n_live")
  }

  /** q150: change-feed replication ([[replicateFromFeed]]) — seed a
    * replica from a snapshot, then keep it converged by consuming the
    * METADATA change feed for the window after it (batch-2 inserts, a
    * MoR DELETE, a MoR UPDATE whose per-key net event must be the
    * postimage). The in-query witness proves zero rows out of sync in
    * either direction; the oracle derives the converged state
    * arithmetically. Completes the q143 story: q98 replicates by
    * value-diffing snapshots (any ops); this consumes O(window delta)
    * metadata on append/MoR sources. */
  val q150FeedReplicate = QueryDef(
    "q150_feed_replicate",
    """WITH o AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      |           FROM orders),
      |live AS (SELECT k, CASE WHEN k % 100 = 3 THEN round(price + 1, 2)
      |                        ELSE price END AS price
      |         FROM o WHERE k % 100 <> 7)
      |SELECT count(*) AS n, round(sum(price), 2) AS price_sum FROM live""".stripMargin
  ) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"feedrep:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-feedrep").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        round(col("o_totalprice"), 2).as("price"))
      l.append("src", o.filter(col("k") % 4 < 2))
      val v0 = l.versions("src").last
      l.write("rep", l.readVersion("src", v0).select("k", "price"),
        pks = Seq("k"))
      l.append("src", o.filter(col("k") % 4 >= 2))
      require(l.deleteWhere("src", col("k") % 100 === 7) > 0)
      require(l.updateWhere("src", col("k") % 100 === 3,
        Map("price" -> (col("price") + 1))) > 0)
      replicateFromFeed(l, "src", l, "rep", Seq("k"), Seq("price"),
        v0, l.versions("src").last)
      val a = l.read("src").select("k", "price")
      val b = l.read("rep").select("k", "price")
      require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "the feed-fed replica must converge to the source")
      l
    })
    lake.read("rep").agg(count(lit(1)).as("n"),
      round(sum(col("price")), 2).as("price_sum"))
  }

  /** q151: per-partition statistics from metadata
    * ([[graft.catalog.GraftLake.partitionStats]]) — the SHOW PARTITIONS +
    * sizes pane: live file count and EXACT row count per partition
    * directory, computed from manifest footer counts minus each
    * partition's live DV entries, zero data files opened. The scenario
    * partitions orders three ways (one file each, pinned), masks ~1 % via
    * a merge-on-read DELETE, and the oracle derives every partition's
    * surviving count arithmetically. */
  val q151PartitionStats = QueryDef(
    "q151_partition_stats",
    """WITH o AS (SELECT o_orderkey AS k FROM orders),
      |g AS (SELECT k % 3 AS seg,
      |        count(CASE WHEN k % 100 <> 7 THEN 1 END) AS n_live
      |      FROM o GROUP BY 1)
      |SELECT '__p_seg=' || CAST(seg AS VARCHAR) AS part_dir,
      |  CAST(1 AS BIGINT) AS n_files, CAST(n_live AS BIGINT) AS n_rows
      |FROM g ORDER BY part_dir""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"pstats:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-pstats").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        (col("o_orderkey") % 3).as("seg")).repartition(1)
      l.write("po", o, partitions = Seq("seg"))
      require(l.deleteWhere("po", col("k") % 100 === 7) > 0)
      l
    })
    lake.partitionStats("po")
      .select(col("partition").as("part_dir"), col("n_files"), col("n_rows"))
      .orderBy(col("part_dir"))
  }

  /** q152: expectation audit ([[graft.catalog.GraftLake
    * .constraintReport]]) — measure CANDIDATE constraints against live
    * data before enforcing them (the Great-Expectations-shaped report
    * the blocking CHECK path deliberately isn't): per-check rows-examined
    * and violation counts, all checks in ONE aggregate pass. The
    * scenario plants known violations (~1 % negative prices) and the
    * oracle derives both checks' counts arithmetically. */
  val q152ExpectationAudit = QueryDef(
    "q152_expectation_audit",
    """WITH o AS (SELECT o_orderkey AS k,
      |  round(o_totalprice, 2)
      |    - CASE WHEN o_orderkey % 100 = 7 THEN 1000000 ELSE 0 END AS price
      |  FROM orders)
      |SELECT 'nonneg_price' AS constraint_name, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN price < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violations
      |FROM o
      |UNION ALL
      |SELECT 'price_cap', count(*),
      |  CAST(sum(CASE WHEN price > 400000 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM o
      |ORDER BY constraint_name""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"expect:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-expect").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        (round(col("o_totalprice"), 2) -
          when(col("o_orderkey") % 100 === 7, 1000000.0).otherwise(0.0))
          .as("price"))
      l.append("audit", o)
      l
    })
    lake.constraintReport("audit", Seq(
        "nonneg_price" -> "price >= 0",
        "price_cap" -> "price <= 400000"))
      .select(col("constraint_name"), col("n_rows"), col("n_violations"))
      .orderBy(col("constraint_name"))
  }

  /** q153: METADATA-ONLY DELETE ([[graft.catalog.GraftLake.deleteWhere]]'s
    * fast path) — the retention shape every 100 TB lake needs: `DELETE
    * WHERE o_orderdate < X` on a year-partitioned table retires the
    * covered partitions' files with ONE remove-only commit. No deletion
    * vector, no rewrite, no data scan: the manifest bounds plus the
    * zero-null witness ([[graft.catalog.GraftLake.NoNullsPrefix]]) prove
    * every row of those files matches, and [[graft.catalog.GraftLake
    * .fileAllMatcher]]'s dual pruner proves the remaining files match
    * nothing. The in-query `require`s pin the contract (files dropped,
    * zero DVs); the oracle pins the surviving rows. Reference analog:
    * DuckLake drops whole `ducklake_data_file` catalog rows when a DELETE
    * covers a file; the parquet stays behind for time travel. */
  val q153MetadataDelete = QueryDef(
    "q153_metadata_delete",
    """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY yr""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"mdel:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-mdelq").toString)
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
        .repartition(2)
      l.write("ret", o, partitions = Seq("yr"))
      val before = l.dataFiles("ret")
      // the synthetic orders span 1995..2001 at every SF
      val covered = before.count(f =>
        Seq("1995", "1996").exists(y => f.contains(s"yr=$y")))
      require(covered > 0, "the covered years must hold files")
      require(l.deleteWhere("ret", col("o_orderdate") < "1997-01-01") > 0L)
      require(l.liveDvs("ret").isEmpty,
        "metadata-only DELETE: no deletion vector may be written")
      require(l.dataFiles("ret").size == before.size - covered,
        "exactly the covered partitions' files must leave the live set")
      l
    })
    lake.read("ret")
      .groupBy(col("yr").cast("int").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy(col("yr"))
  }

  /** q155: COORDINATED MULTI-TABLE TRANSACTION ([[graft.catalog.GraftLake
    * .transact]]) — two tables ingest a batch each inside one transaction
    * (commits), then a second transaction writes BOTH tables and aborts:
    * every member rolls back via a compensating restore, so the final
    * contents reflect exactly the committed transaction. The in-query
    * `require`s pin the mechanics (the abort propagated, both commit logs
    * end in "restore", a [[graft.catalog.GraftLake.pin]] taken before the
    * abort still reads the same contents afterwards); the oracle pins the
    * surviving rows arithmetically. Honest contract vs DuckLake's
    * catalog-level ACID is documented on `transact` (single-process
    * coordination, compensation not erasure, pin for read consistency). */
  val q155Transaction = QueryDef(
    "q155_transaction",
    """WITH o AS (SELECT o_orderkey AS k,
      |    CAST(floor(o_totalprice) AS BIGINT) AS p FROM orders)
      |SELECT 'cold' AS tbl, count(*) AS n_rows,
      |  CAST(sum(p) AS BIGINT) AS price_units
      |FROM o WHERE k % 2 = 1
      |UNION ALL
      |SELECT 'hot', count(*), CAST(sum(p) AS BIGINT) FROM o WHERE k % 2 = 0
      |ORDER BY tbl""".stripMargin) { (s, dir) =>
    val lake = skipLakeMemo.computeIfAbsent(s"txn:$dir", _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-txnq").toString)
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        floor(col("o_totalprice")).cast("long").as("p"))
      l.append("hot", o.filter(col("k") % 4 === 0))
      l.append("cold", o.filter(col("k") % 4 === 1))
      // committed transaction — the DURABLE (cross-process: lock files +
      // journal) variant, so the oracle gates that path end-to-end; a
      // clean commit must leave zero journal/lock residue
      l.transactDurable(Seq("hot", "cold")) {
        l.append("hot", o.filter(col("k") % 4 === 2))
        l.append("cold", o.filter(col("k") % 4 === 3))
      }
      require(l.recoverStaleTransactions() == 0 &&
        !new java.io.File(s"${l.warehouseDir}/hot/_txn.lock").exists(),
        "a committed durable transaction must leave no journal/lock residue")
      val pins = l.pin(Seq("hot", "cold"))
      // aborted transaction: both members wrote, both must roll back
      val aborted = try {
        l.transact(Seq("hot", "cold")) {
          l.append("hot", o.filter(col("k") % 100 === 7))
          l.append("cold", o.filter(col("k") % 100 === 7))
          sys.error("abort after both members wrote")
        }
        false
      } catch { case _: RuntimeException => true }
      require(aborted, "the transaction body's failure must propagate")
      Seq("hot", "cold").foreach { t =>
        require(l.history(t).collect().last.getString(2) == "restore",
          s"'$t' must end in a compensating restore")
        require(l.readVersion(t, pins(t)).count() == l.read(t).count(),
          s"the pre-abort pin of '$t' must read the same contents")
      }
      l
    })
    def agg(t: String) = lake.read(t)
      .agg(count(lit(1)).as("n_rows"), sum(col("p")).as("price_units"))
      .select(lit(t).as("tbl"), col("n_rows"), col("price_units"))
    agg("cold").unionByName(agg("hot")).orderBy(col("tbl"))
  }

  val all: Seq[QueryDef] = Seq(q81Profile, q82EventFunnel, q83RollingWindow,
    q84Scd2, q85TimeTravel, q86SnapshotDiff, q87IncrementalRead,
    q88ZorderCompact, q91TopkAgg, q95CohortRetention, q97IntegrityAudit,
    q98CdcReplicate, q102FileSkipping, q104TemporalSkipping, q106SqlSkipping,
    q117HllRollup, q118DriftPsi, q126HourlyAnomaly, q128FreshnessAudit,
    q129MorDelete, q130History, q132BloomSkipping, q135MorUpdate, q136Restore, q157Clone,
    q162ShallowClone,
    q138IncrementalAgg, q139AdminSql, q142DropColumn, q143ChangeFeed,
    q144RenameColumn, q145CheckConstraints, q147DescribeDetail,
    q148Provenance, q149FastCount, q150FeedReplicate, q151PartitionStats,
    q152ExpectationAudit, q153MetadataDelete, q155Transaction,
    q164BucketPointLookup, q169Rebucket, q170TableChangesSql,
    q172ReplaceRebuild, q173StandingPolicies,
    q171PartitionEvolution)
}
