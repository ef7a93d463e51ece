package graft.catalog

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table metadata persisted alongside the data (the engine's schema
  * registry). The registry — not the parquet footers — is the source of
  * truth for column types, which is what makes in-place type *widening*
  * possible on an immutable file format: the logical type widens in the
  * registry and Spark 4's parquet reader performs the widened read
  * (int32 files under an int64 logical column, float under double).
  */
final case class TableMeta(
    schema: StructType,
    partitions: Seq[String],
    pks: Seq[String],
    constraints: Seq[(String, String)] = Nil,
    props: Map[String, String] = Map.empty) {
  def partitionExprs: Seq[PartitionExpr] = PartitionExpr.parseList(partitions)

  /** Change-data-feed capture: when set, every row-changing commit that
    * is not a plain append (upsert/MERGE, deletion-vector
    * UPDATE/DELETE, overwrite) WRITES its row-level
    * changes as parquet sidecars under `_changes/` in the same commit —
    * the Delta `_change_data` mechanism — so [[GraftLake.tableChanges]]
    * and the `graft-cdf` streaming source attribute those windows exactly
    * instead of failing fast. Off by default: capture costs one extra
    * change-sized write per rewriting commit. */
  def cdfEnabled: Boolean = props.get(TableMeta.CdfEnabledKey).contains("true")
}

object TableMeta {
  /** `ALTER TABLE t SET TBLPROPERTIES ('graft.enableChangeDataFeed'='true')` */
  val CdfEnabledKey = "graft.enableChangeDataFeed"
}

/** A minimal lakehouse table manager + writer: auto-create, schema
  * evolution (ADD COLUMN + type widening + incompatibility rejection),
  * expression partitioning, PK upsert with MERGE semantics, and the
  * `_inserted_at` system column.
  *
  * Reference behavior reproduced (SURVEY §2.5-2.6):
  *  - ensureTable: exists-check with engine-side caches and per-table
  *    locking; create-or-evolve; returns pre-existence which drives
  *    upsert-vs-append (DucklakeTableManager.java:91-179);
  *  - `_inserted_at TIMESTAMP` injected into every table, set at insert
  *    time, never modified by a merge-update (DucklakeWriter.java:146-148,
  *    205-214);
  *  - upsert = per-batch PK dedup (last wins) + MERGE INTO
  *    (DucklakeWriter.java:98-187), stored as DuckLake stores it: a
  *    deletion vector plus new data files; executed only when the table
  *    pre-existed AND PKs are configured, else plain append
  *    (DucklakeWriter.java:89-95);
  *  - nested types land as JSON strings ([[LandedTypes]]).
  *
  * Scale design (100 TB): the merge never rewrites a data file — a
  * column-pruned scan of the files that can hold a batch key, semi-joined
  * against the broadcast batch keys, finds the rows a deletion vector
  * masks, and the batch lands as new files beside them. The batch side of
  * the `_inserted_at` resolution join is the (small) incoming batch.
  */
final class GraftLake(private[graft] val spark: SparkSession,
    warehouse: String) {
  import GraftLake._

  val InsertedAtCol = "_inserted_at"

  /** Warehouse root this lake is bound to. */
  def warehouseDir: String = warehouse

  /** A writer of `df` into a staging directory, planned on the lake's
    * WRITE SESSION: a clone of the lake's session with three confs set
    * ([[GraftLake.writeSession]]). Every Parquet file the lake writes (data
    * files, DV and bloom sidecars, change files) is written this way, and
    * no session the application holds is changed. The three confs:
    *  - parquet timestamps forced to INT64 TIMESTAMP_MICROS: Spark's
    *    legacy INT96 default carries no usable column statistics, which
    *    would leave `_inserted_at` — the dominant pruning predicate of a
    *    time-partitioned corpus — invisible to data skipping;
    *  - the commit protocol swapped for
    *    [[org.apache.spark.sql.graft.StatsCommitProtocol]], which collects
    *    per-file bounds INSIDE the write job (executor-side footer reads
    *    at task commit) so [[commitVersion]] needs no second I/O pass;
    *  - the compression codec forced to zstd at Parquet's default level:
    *    snappy barely compresses document text, and a zstd file of it is
    *    about half the size.
    * `df`'s analyzed plan is re-bound, not re-analyzed; it optimizes and
    * runs under the write session. */
  private def lakeWriter(df: DataFrame): DataFrameWriter[Row] = {
    val ws = GraftLake.writeSession(spark)
    heldWriteSession = ws
    org.apache.spark.sql.graft.PlanBridge.rebound(ws, df).write.mode(SaveMode.Overwrite)
  }

  /** The write session last used, held so that the session cache (which
    * holds it weakly) keeps it while this lake lives. */
  @volatile private var heldWriteSession: SparkSession = _

  /** Write-side DISTRIBUTION for staged data writes (the Iceberg
    * hash `distribution-mode` analog; optimization guide §6: small
    * files hurt twice, and §2.4: share one exchange). Without it a
    * partitioned flush writes one file per (map task × touched partition)
    * — a 32-task batch into 16 buckets lands up to 512 near-empty files,
    * paid three more times downstream: per-file commit renames + footer
    * stats, manifest growth, and per-file open cost on every scan.
    *
    * Partitioned tables cluster the staged write by the partition output
    * columns with the AQE REBALANCE hint rather than a plain
    * `repartition(cols)`: small flushes coalesce to advisory-size
    * outputs, and a skewed hot partition still SPLITS across tasks
    * (`spark.sql.adaptive.optimizeSkewsInRebalancePartitions`), so one
    * giant partition cannot serialize a large flush the way hash
    * repartitioning would. The cost is one extra shuffle of the batch —
    * the documented Iceberg-hash-mode trade, and the batch is the SMALL
    * side of lake writes (flushes, merge deltas), never the table.
    *
    * Unpartitioned tables keep map-parallel writes (Iceberg's `none`
    * default): measured A/B on the bench host, rebalancing an
    * unpartitioned flush costs more than the small files it saves
    * (the shuffle serializes a medium batch into few tasks), and at
    * scale a map-parallel unpartitioned write already produces
    * right-sized files. */
  private def distributeForWrite(out: DataFrame, partCols: Seq[String]): DataFrame =
    if (partCols.isEmpty) out
    else
      // Column params, not names: the hint resolver PARSES string
      // parameters as SQL identifiers, so a partition output column
      // derived from an exotic source name (`__p_bucket_4_a:b`) would
      // throw at analysis — quoted Columns resolve structurally
      out.hint("rebalance", partCols.map(c => col(quoted(c))): _*)

  private def distributeForWrite(out: DataFrame, meta: TableMeta): DataFrame =
    distributeForWrite(out, meta.partitionExprs.map(_.outputName))

  private def tableDir(name: String) = s"$warehouse/$name"
  private def dataDir(name: String) = s"$warehouse/$name/data"
  private def metaPath(name: String) = new Path(s"$warehouse/$name/_graft_meta.json")

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- metadata registry ----

  def tableExists(name: String): Boolean = {
    val cacheKey = s"$warehouse/$name"
    if (verifiedTables.containsKey(cacheKey)) true
    else {
      val exists = fs(metaPath(name)).exists(metaPath(name))
      if (exists) verifiedTables.put(cacheKey, java.lang.Boolean.TRUE)
      exists
    }
  }

  def readMeta(name: String): TableMeta = {
    val cacheKey = s"$warehouse/$name"
    val cached = metaCache.get(cacheKey)
    if (cached != null) return cached
    val p = metaPath(name)
    val in = fs(p).open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val meta = parseMeta(raw)
    metaCache.put(cacheKey, meta)
    meta
  }

  private def writeMeta(name: String, meta: TableMeta): Unit = {
    val p = metaPath(name)
    val f = fs(p)
    val tmp = new Path(p.getParent, s".meta-${UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(renderMeta(meta).getBytes("UTF-8")) finally out.close()
    replaceAtomic(f, tmp, p)
    metaCache.put(s"$warehouse/$name", meta)
    verifiedTables.put(s"$warehouse/$name", java.lang.Boolean.TRUE)
  }

  /** Names of all tables in this warehouse (dirs with a meta sidecar). */
  def listTables(): Seq[String] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        f.exists(new Path(s.getPath, "_graft_meta.json")))
      .map(_.getPath.getName).sorted
  }

  def dropTable(name: String): Unit = {
    // a source with LIVE shallow clones must not disappear under them
    val held = pins(name)
    require(held.isEmpty,
      s"table '$name' is pinned by shallow clone(s) ${held.keys.mkString(", ")}" +
        " — drop or materialize them first")
    // dropping a shallow clone releases its pin on the source
    shallowInfo(name).foreach { case (src, _) => unpin(src, name) }
    val dir = new Path(tableDir(name))
    fs(dir).delete(dir, true)
    metaCache.remove(s"$warehouse/$name")
    verifiedTables.remove(s"$warehouse/$name")
    invalidateTable(name)
  }

  /** Drop this table's snapshot-state caches so the next read/commit
    * re-resolves from the filesystem — the recovery step after losing a
    * cross-process commit race. */
  private def invalidateTable(name: String): Unit = {
    GraftLake.shallowCache.remove(s"$warehouse/$name")
    GraftLake.dvBroadcastCache.keySet.removeIf(_.contains(s"#$warehouse/$name#"))
    // meta too: a CROSS-PROCESS rebucket/evolution behind a lost commit
    // race must be re-read from disk before the caller re-derives
    metaCache.remove(s"$warehouse/$name")
    lastVersionCache.remove(s"$warehouse/$name")
    liveSetCache.remove(s"$warehouse/$name")
    statsMapCache.remove(s"$warehouse/$name")
    dvSetCache.remove(s"$warehouse/$name")
    dvCountCache.remove(s"$warehouse/$name")
    conformCache.remove(s"$warehouse/$name")
    bloomCache.keySet.removeIf(_.startsWith(s"$warehouse/$name#"))
    layoutCache.remove(s"$warehouse/$name")
    typeStableCache.remove(s"$warehouse/$name")
  }

  // ---- DDL ----

  /** Create a table from a batch schema: landed types + `_inserted_at`. */
  def createTable(
      name: String,
      batchSchema: StructType,
      partitions: Seq[String] = Nil,
      pks: Seq[String] = Nil): TableMeta = {
    val landed = LandedTypes.landedSchema(batchSchema)
    val schema = StructType(
      landed.fields.toSeq :+ StructField(InsertedAtCol, TimestampType, nullable = true))
    partitions.foreach(PartitionExpr.parse) // validate specs eagerly
    val meta = TableMeta(schema, partitions, pks)
    val dd = new Path(dataDir(name))
    fs(dd).mkdirs(dd)
    writeMeta(name, meta)
    meta
  }

  /** Exists-check → create or evolve, under a per-table lock; returns
    * (meta, preExisted). Pre-existence drives upsert-vs-append. */
  def ensureTable(
      name: String,
      batchSchema: StructType,
      partitions: Seq[String] = Nil,
      pks: Seq[String] = Nil): (TableMeta, Boolean) = {
    val lock = tableLocks.computeIfAbsent(s"$warehouse/$name", _ => new Object)
    lock.synchronized {
      if (!tableExists(name))
        (graft.metrics.GraftMetrics.time(graft.metrics.GraftMetrics.CreateTable) {
          createTable(name, batchSchema, partitions, pks)
        }, false)
      else {
        val meta = readMeta(name)
        // evolution operates in LOGICAL space: an incoming column named
        // like a RENAMED column's logical name resolves to its frozen
        // physical field (widen/keep), never to a duplicate physical
        // column beside it
        val toPhys = GraftLake.logicalNamesOf(meta.schema).map(_.swap)
        val incoming0 = LandedTypes.landedSchema(batchSchema)
        val incoming =
          if (toPhys.isEmpty) incoming0
          else StructType(incoming0.fields.map { f =>
            toPhys.find(_._1.equalsIgnoreCase(f.name))
              .map(p => f.copy(name = p._2)).getOrElse(f)
          }.toSeq)
        val evolved = LandedTypes.evolve(
          StructType(meta.schema.filterNot(_.name == InsertedAtCol)), incoming)
        // Partition-expression SOURCE columns must never change type:
        // the stored partition value is a function of the column's TYPE,
        // not just its value — bucket() hashes the native type
        // (hash(42: INT) != hash(42L: LONG)) and a raw int→double
        // widening renders "42.0" beside old "42" directories — so a
        // widened source silently SPLITS the layout: new writes (and the
        // PK-functional merge fast path's scoped probe) target different
        // directories than the rows already stored, missing matches and
        // landing duplicate PKs. Mirrors the drop/rename guards on the
        // same columns; the incompatibility surfaces as the evolve
        // exception the ingest DLQ triage already classifies.
        meta.partitionExprs.flatMap(_.sourceColumns).distinct.foreach { sc =>
          val before = meta.schema.fields
            .find(_.name.equalsIgnoreCase(sc)).map(_.dataType)
          val after = evolved.fields
            .find(_.name.equalsIgnoreCase(sc)).map(_.dataType)
          if (before.nonEmpty && after.nonEmpty && before != after)
            throw new LandedTypes.SchemaEvolutionException(
              s"column '$sc' is a partition source column of '$name' and " +
                s"cannot change type (${before.get.simpleString} -> " +
                s"${after.get.simpleString}): partition values are " +
                "type-dependent, a widened source would split the stored " +
                "bucket/directory layout")
        }
        val withSys = StructType(
          evolved.fields.toSeq :+ meta.schema(InsertedAtCol))
        // a PK config arriving after auto-creation is adopted (the
        // reference keeps id-columns in connector config, not the table)
        val adoptedPks = if (meta.pks.isEmpty && pks.nonEmpty) pks else meta.pks
        val newMeta = meta.copy(schema = withSys, pks = adoptedPks)
        if (newMeta.pks != meta.pks && newMeta.schema == meta.schema)
          writeMeta(name, newMeta)
        if (newMeta.schema != meta.schema)
          graft.metrics.GraftMetrics.time(graft.metrics.GraftMetrics.EvolveSchema) {
            writeMeta(name, newMeta)
          }
        (newMeta, true)
      }
    }
  }

  /** DROP COLUMN evolution — ZERO data rewritten: the column leaves the
    * table's schema sidecar, so live reads simply never request it from
    * parquet (column pruning does the physical work), writes stop
    * landing it, and time travel keeps reading pre-drop snapshots under
    * their own wider manifest schema. A zero-delta commit pins the
    * schema boundary in the manifest chain. Guards: engine-managed
    * columns, primary-key members, partition-expression sources and the
    * last data column are not droppable. File-native caveat (no column
    * mapping, same as Hive/pre-mapping Delta): RE-ADDING a column with a
    * dropped name makes pre-drop files' old values visible again under
    * the new column — use a fresh name instead. */
  def dropColumn(name: String, column: String): Unit = writeLock(name) {
    val meta = readMeta(name)
    val logical = GraftLake.logicalNamesOf(meta.schema)
    val field = meta.schema.fields
      .find(f => logical.getOrElse(f.name, f.name).equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"table '$name' has no column '$column'"))
    val n = field.name
    require(n != InsertedAtCol && !n.startsWith("__p_"),
      s"'$n' is engine-managed and cannot be dropped")
    // a column squatting on a reserved stats namespace suppresses the
    // namespace's consumers for the whole table (shadow guards); DROPPING
    // it would turn any legacy manifest entry under the reserved key into
    // a trusted witness/row-count — refuse, the one evolution that can
    // never be made safe retroactively
    require(!n.toLowerCase(java.util.Locale.ROOT)
        .startsWith(GraftLake.NoNullsPrefix) &&
        !n.equalsIgnoreCase(GraftLake.RowCountKey),
      s"'$n' occupies a reserved stats namespace and cannot be dropped: " +
        "manifests written while it existed carry its bounds under a " +
        "reserved key, which would become indistinguishable from engine " +
        "metadata once the column is gone")
    require(!meta.pks.exists(_.equalsIgnoreCase(n)),
      s"'$n' is a primary-key column and cannot be dropped")
    require(!meta.partitionExprs.exists(
        _.sourceColumns.exists(_.equalsIgnoreCase(n))),
      s"'$n' is a partition source column and cannot be dropped")
    val remaining = meta.schema.fields.filterNot(_.name == n)
    require(remaining.exists(_.name != InsertedAtCol),
      s"cannot drop '$n': it is the table's last data column")
    val logicalN = logical.getOrElse(n, n).toLowerCase
    meta.constraints.foreach { case (cn, text) =>
      require(!constraintRefs(text).contains(logicalN),
        s"cannot drop '$column': constraint '$cn' references it — " +
          "drop the constraint first")
    }
    writeMeta(name, meta.copy(schema = StructType(remaining.toSeq)))
    commitVersion(name, Nil, Nil, op = "drop-column")
  }

  /** RENAME COLUMN evolution — metadata-only, ZERO data rewritten: the
    * PHYSICAL parquet column name is frozen at creation and the new name
    * is recorded as schema metadata ([[GraftLake.LogicalNameKey]]), so
    * every file ever written — before or after the rename — stays
    * uniformly readable, writes keep landing the physical name, stats /
    * bloom indexes / deletion vectors are untouched, and manifest-bounds
    * file skipping on the renamed column keeps working (pushed predicates
    * rewrite through the rename projection onto the physical attribute).
    * Time travel reads each snapshot under ITS manifest's mapping.
    * Guards mirror [[dropColumn]]: engine-managed, primary-key and
    * partition-source columns are not renameable, and the new name must
    * not collide with any current logical OR physical name (a physical
    * collision would alias two columns in the same parquet files).
    * Reference analog: DuckLake renames are catalog-metadata updates
    * against stable column ids — the data files never change. */
  def renameColumn(name: String, column: String, to: String): Unit =
    writeLock(name) {
      val meta = readMeta(name)
      require(to.nonEmpty && to.trim == to, s"invalid column name '$to'")
      val logical = GraftLake.logicalNamesOf(meta.schema)
      def logicalOf(f: StructField) = logical.getOrElse(f.name, f.name)
      val field = meta.schema.fields
        .find(f => logicalOf(f).equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(
          s"table '$name' has no column '$column'"))
      val cur = logicalOf(field)
      require(field.name != InsertedAtCol && !field.name.startsWith("__p_") &&
        !to.equalsIgnoreCase(InsertedAtCol) && !to.startsWith("__p_"),
        s"'$cur' is engine-managed or '$to' is a reserved name")
      require(!meta.pks.exists(_.equalsIgnoreCase(field.name)),
        s"'$cur' is a primary-key column and cannot be renamed")
      require(!meta.partitionExprs.exists(
          _.sourceColumns.exists(_.equalsIgnoreCase(field.name))),
        s"'$cur' is a partition source column and cannot be renamed")
      val taken = meta.schema.fields.filterNot(_ eq field)
        .flatMap(f => Seq(f.name, logicalOf(f)))
      require(!taken.exists(_.equalsIgnoreCase(to)),
        s"table '$name' already has a column named '$to'")
      meta.constraints.foreach { case (cn, text) =>
        require(!constraintRefs(text).contains(cur.toLowerCase),
          s"cannot rename '$cur': constraint '$cn' references it — " +
            "drop the constraint first")
      }
      val mb = new MetadataBuilder().withMetadata(field.metadata)
      val renamed =
        if (to == field.name) // renamed back to the physical original
          field.copy(metadata = mb.remove(GraftLake.LogicalNameKey).build())
        else
          field.copy(metadata =
            mb.putString(GraftLake.LogicalNameKey, to).build())
      val newSchema = StructType(meta.schema.fields.map(f =>
        if (f eq field) renamed else f).toSeq)
      writeMeta(name, meta.copy(schema = newSchema))
      commitVersion(name, Nil, Nil, op = "rename-column")
    }

  // ---- CHECK constraints ----

  /** Column names (lower-cased) a constraint expression references —
    * parsed with the session's SQL parser (the `expr()` Column wraps an
    * opaque node the tree walk cannot enter). */
  private def constraintRefs(text: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(text).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.toLowerCase
    }.toSet

  /** ADD CONSTRAINT … CHECK: `checkExpr` (SQL text over the table's
    * LOGICAL column names) must analyze, be deterministic, and hold on
    * every EXISTING row — the same contract as Delta's ADD CONSTRAINT —
    * then every subsequent write enforces it INSIDE the write job (a
    * conditional raise_error fused into the output projection: zero
    * extra passes, and a violating batch aborts before any commit, so
    * enforcement is atomic). SQL semantics: a NULL-valued check passes;
    * NOT NULL is `CHECK (c IS NOT NULL)`. Reference analog: DuckLake
    * inherits DuckDB's CHECK/NOT NULL enforcement at insert time. */
  def addConstraint(name: String, constraintName: String,
      checkExpr: String): Unit = writeLock(name) {
    val meta = readMeta(name)
    require(constraintName.nonEmpty && constraintName.trim == constraintName,
      s"invalid constraint name '$constraintName'")
    require(!meta.constraints.exists(_._1.equalsIgnoreCase(constraintName)),
      s"table '$name' already has a constraint '$constraintName'")
    // must analyze against the logical schema and be deterministic
    val probe = read(name).filter(expr(checkExpr))
    require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
      s"constraint '$constraintName' must be deterministic: $checkExpr")
    val violating = read(name)
      .filter(!coalesce(expr(checkExpr), lit(true))).limit(1).count()
    require(violating == 0L,
      s"cannot add constraint '$constraintName': existing rows violate " +
        s"CHECK ($checkExpr)")
    writeMeta(name, meta.copy(
      constraints = meta.constraints :+ (constraintName -> checkExpr)))
    commitVersion(name, Nil, Nil, op = "add-constraint")
  }

  /** DROP CONSTRAINT (metadata-only). */
  def dropConstraint(name: String, constraintName: String): Unit =
    writeLock(name) {
      val meta = readMeta(name)
      require(meta.constraints.exists(_._1.equalsIgnoreCase(constraintName)),
        s"table '$name' has no constraint '$constraintName'")
      writeMeta(name, meta.copy(constraints =
        meta.constraints.filterNot(_._1.equalsIgnoreCase(constraintName))))
      commitVersion(name, Nil, Nil, op = "drop-constraint")
    }

  /** Live CHECK constraints of a table (name → expression). */
  /** Set (or clear, with `value = null`) a table property — the generic
    * carrier for per-table flags like [[TableMeta.CdfEnabledKey]].
    * Metadata-only; SQL surface: `ALTER TABLE t SET TBLPROPERTIES
    * ('k'='v')`. */
  def setTableProperty(name: String, key: String, value: String): Unit =
    writeLock(name) {
      require(key != null && key.nonEmpty, "property key must be non-empty")
      val meta = readMeta(name)
      val props =
        if (value == null) meta.props - key else meta.props + (key -> value)
      writeMeta(name, meta.copy(props = props))
    }

  def constraints(name: String): Seq[(String, String)] =
    readMeta(name).constraints

  /** One-row admin summary of a table (the DESCRIBE DETAIL pane):
    * snapshot span, live file count and bytes, column/partition/PK/
    * constraint surfaces, bloom-indexed columns, live DV entries, and
    * renamed columns. O(live files) metadata only — no data scan. */
  def detail(name: String): DataFrame = {
    val meta = readMeta(name)
    val vs = versions(name)
    val (files, bytes, liveKeys, footerTotal) = vs.lastOption match {
      case None => (0L, 0L, Set.empty[String], Some(0L))
      case Some(v) =>
        val (_, resolved) = snapshotResolved(name, v)
        val f = fs(new Path(dataDir(name)))
        // Σ footer row counts, reusing the files already resolved —
        // None when a live file predates the stat or a column shadows it
        val total = footerRows(meta, statsFor(name, v), resolved.map(_._1))
        (resolved.size.toLong,
          resolved.map(r => f.getFileStatus(r._2).getLen).sum,
          resolved.map(r => GraftLake.fileKey(r._1)).toSet,
          total)
    }
    // ONE DV-sidecar job serves both the entry count and the row count
    val dvLiveEntries =
      liveDvEntriesByFile(name, liveDvs(name), liveKeys).values.sum
    val renamed = GraftLake.logicalNamesOf(meta.schema)
    val nRows = footerTotal.map(_ - dvLiveEntries).getOrElse(-1L)
    import spark.implicits._
    Seq((name, vs.size.toLong, vs.lastOption.getOrElse(-1L), files, nRows,
      bytes, meta.schema.fields.length.toLong,
      meta.partitions.mkString(", "), meta.pks.mkString(", "),
      meta.constraints.map { case (n, e) => s"$n: CHECK ($e)" }
        .mkString("; "),
      bloomIndexedColumns(name).sorted.mkString(", "),
      dvLiveEntries,
      renamed.toSeq.sorted.map { case (p, l) => s"$p -> $l" }
        .mkString(", ")))
      .toDF("table", "n_versions", "latest_version", "n_live_files",
        "n_rows", "total_bytes", "n_columns", "partition_exprs",
        "primary_keys", "constraints", "bloom_indexed", "n_dv_entries",
        "renamed_columns")
  }

  /** Non-blocking expectation audit — the report half of the constraint
    * story (enforcement blocks writes; this MEASURES data): one row per
    * check with the rows examined and the violation count, over the
    * table's live rows, computed in ONE aggregate job (a single pass
    * regardless of how many checks run — the 100 TB shape). `checks`
    * defaults to the table's registered constraints; pass candidates to
    * measure a constraint BEFORE adding it (the addConstraint
    * pre-validation workflow, with counts instead of a pass/fail).
    * Checks address LOGICAL column names; NULL evaluations pass, SQL
    * semantics. */
  def constraintReport(name: String,
      checks: Seq[(String, String)] = Nil): DataFrame = {
    val cs = if (checks.nonEmpty) checks else readMeta(name).constraints
    require(cs.nonEmpty,
      s"table '$name' has no constraints and no candidate checks were given")
    val df = read(name)
    // coalesce: sum over ZERO rows is NULL, and an empty table (the
    // brand-new-staging-table audit) must report 0, not NPE
    val aggs = count(lit(1)).as("__rows") +: cs.map { case (n, text) =>
      coalesce(sum(when(!coalesce(expr(text), lit(true)), 1L)
        .otherwise(0L)), lit(0L)).as(s"__v_$n")
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    import spark.implicits._
    cs.zipWithIndex.map { case ((n, text), i) =>
      (n, text, r.getLong(0), r.getLong(i + 1))
    }.toDF("constraint_name", "check_expr", "n_rows", "n_violations")
  }

  /** Fuse CHECK enforcement into a write plan: rows where any constraint
    * evaluates to FALSE abort the job via raise_error (NULL passes, SQL
    * semantics). Runs inside the write's own projection — no extra scan,
    * and a violation kills the staged write before any commit. The
    * invariant that makes enforcing REWRITES safe too: addConstraint
    * validated all existing rows, and every new/changed row passes
    * through here, so survivors of a rewrite always satisfy the live
    * constraint set. Constraints address LOGICAL names. */
  private def enforceConstraints(meta: TableMeta, df: DataFrame): DataFrame = {
    if (meta.constraints.isEmpty) return df
    val logicalDf = toLogical(meta.schema, df)
    // diagnostic struct: membership checked on the LOGICAL view, so a
    // renamed column's value still appears in the violation message
    val present = logicalDf.columns.map(_.toLowerCase).toSet
    val rowCols = GraftLake.logicalSchema(meta.schema).fieldNames.toSeq
      .filter(c => c != InsertedAtCol && present.contains(c.toLowerCase))
    val checked = meta.constraints.foldLeft(logicalDf) { case (d, (n, text)) =>
      d.filter(
        when(coalesce(expr(text), lit(true)), lit(true))
          .otherwise(raise_error(concat(
            lit(s"CHECK constraint '$n' ($text) violated by row "),
            to_json(struct(rowCols.map(c => col(quoted(c))): _*))))
            .cast("boolean")))
    }
    toPhysical(meta.schema, checked)
  }

  /** Rename a frame's physical columns to their logical names (no-op on
    * un-renamed tables). Applied at every user-facing read boundary;
    * engine internals stay purely physical. */
  private def toLogical(schema: StructType, df: DataFrame): DataFrame = {
    val m = GraftLake.logicalNamesOf(schema)
    if (m.isEmpty) df else df.withColumnsRenamed(m)
  }

  /** Rename a frame's logical columns to their physical names, for the
    * write paths. Idempotent: an already-physical frame passes through
    * (engine internals and double-wrapped paths stay correct). A frame
    * addressing one column by BOTH names is ambiguous and rejected; a
    * batch using only the pre-rename name lands into the column
    * by-physical-name (documented on [[renameColumn]], mirroring the
    * re-add caveat on [[dropColumn]]). */
  private def toPhysical(schema: StructType, df: DataFrame): DataFrame = {
    val m = GraftLake.logicalNamesOf(schema)
    if (m.isEmpty) df
    else {
      val cols = df.columns
      m.foreach { case (p, l) =>
        require(!(cols.exists(_.equalsIgnoreCase(p)) &&
            cols.exists(_.equalsIgnoreCase(l))),
          s"frame addresses column '$l' by both its name and its " +
            s"pre-rename name '$p'")
      }
      df.withColumnsRenamed(m.map(_.swap))
    }
  }

  /** Conform a frame to the table's PHYSICAL schema, resolving each field
    * from whichever of its physical or logical name the frame carries —
    * the write-path entry for frames that may come from either a user
    * (logical) or an engine-internal physical scan. Missing columns fail
    * loudly at resolution. */
  private def physicalSelect(meta: TableMeta, df: DataFrame): DataFrame = {
    val m = GraftLake.logicalNamesOf(meta.schema)
    if (m.isEmpty)
      df.select(meta.schema.fieldNames.map(n => col(quoted(n))): _*)
    else {
      val cols = df.columns.toSet
      df.select(meta.schema.fields.toSeq.map { f =>
        val logical = m.getOrElse(f.name, f.name)
        val src = if (cols.contains(f.name)) f.name else logical
        col(quoted(src)).as(f.name)
      }: _*)
    }
  }

  // ---- read ----

  private def partitionFields(meta: TableMeta): Seq[StructField] =
    GraftLake.partitionFields(meta)

  /** Absolute path of a manifest file identity: a committed file keeps
    * `data/<rel>/<name>` for its whole life. */
  private def refPath(name: String, ref: (String, String)): String =
    if (ref._1.isEmpty) s"${dataDir(name)}/${ref._2}"
    else s"${dataDir(name)}/${ref._1}/${ref._2}"

  /** Live (rel, name) files of snapshot `v` — the commit path's live-set
    * cache when it holds `v`, else one manifest-chain resolution. */
  private def liveFilesAt(name: String, v: Long): Vector[(String, String)] = {
    val cached = liveSetCache.get(s"$warehouse/$name")
    if (cached != null && cached._1 == v) cached._2
    else resolveManifest(name, v)._2
  }

  /** Deletion-vector files of snapshot `v`, cache-first like
    * [[liveFilesAt]]. */
  private def dvsAt(name: String, v: Long): Vector[String] = {
    val cached = dvSetCache.get(s"$warehouse/$name")
    if (cached != null && cached._1 == v) cached._2 else resolveDvs(name, v)
  }

  /** The rows of snapshot `version`'s live files (None: no commit yet,
    * an empty frame), generated partition columns included, deletion
    * vectors NOT applied: the one current-state scan every engine read,
    * SQL read and rewrite plans. `keep` narrows the file set; the scan
    * prunes further by manifest bounds, bloom sidecars and bucket
    * directories at planning time, and reads a mixed-layout file set
    * (mid-REBUCKET) through the recompute shape of [[manifestScan]]. */
  private def liveScan(name: String, meta: TableMeta, version: Option[Long],
      keep: ((String, String)) => Boolean = _ => true): DataFrame = {
    val full = StructType(meta.schema.fields.toSeq ++ partitionFields(meta))
    version match {
      case None => manifestScan(Nil, Map.empty, full, 0, None)
      case Some(v) =>
        manifestScan(liveFilesAt(name, v).filter(keep).map(refPath(name, _)),
          statsFor(name, v), full, meta.partitionExprs.size,
          Some(dataDir(name)), bloomPruner(name, _),
          bucketPrunerAt(name, v, meta, _), recomputeWith = Some(meta))
    }
  }

  /** [[liveScan]] of the latest snapshot this process knows of. */
  private def readInternal(name: String, meta: TableMeta): DataFrame =
    liveScan(name, meta, lastVersionCached(name))

  // ---- deletion vectors (merge-on-read DELETE) ----

  private def dvDir(name: String) = new Path(s"${tableDir(name)}/_dv")

  /** Deletion-vector files live at snapshot `version`, resolved along the
    * same delta chain as [[resolveManifest]] (full manifests anchor the
    * set; deltas apply dvAdd/dvRemove forward). */
  private def resolveDvs(name: String, version: Long): Vector[String] = {
    var deltas = List.empty[GraftLake.Manifest]
    var m = readManifestFile(name, version)
    while (m.dvs.isEmpty) {
      deltas = m :: deltas // oldest-first
      m = readManifestFile(name, m.base)
    }
    var set = m.dvs.get
    deltas.foreach { d =>
      val rm = d.dvRemove.toSet
      set = set.filterNot(rm.contains) ++ d.dvAdd
    }
    set.distinct.sorted
  }

  /** Deletion-vector files live at snapshot `version` (observability +
    * the SQL `VERSION AS OF` read rule). */
  def dvsAtVersion(name: String, version: Long): Vector[String] =
    resolveDvs(name, version)

  /** Schema recorded at snapshot `version` — manifests carry the schema
    * (and its RENAME metadata) at commit, so this is one manifest-header
    * read, no file resolution. */
  def schemaAtVersion(name: String, version: Long): StructType =
    readManifestFile(name, version).schema

  /** (appId → highest committed txnVersion) watermarks at `version`,
    * folded along the manifest chain like [[resolveDvs]]. */
  private def resolveTxns(name: String, version: Long): Map[String, Long] = {
    var deltas = List.empty[GraftLake.Manifest]
    var m = readManifestFile(name, version)
    while (m.txns.isEmpty) {
      deltas = m :: deltas // oldest-first
      m = readManifestFile(name, m.base)
    }
    var map = m.txns.get
    deltas.foreach(_.txn.foreach { case (a, v) =>
      map = map + (a -> math.max(v, map.getOrElse(a, Long.MinValue)))
    })
    map
  }

  /** Highest transaction version committed for `appId` on this table —
    * the reader half of [[appendIdempotent]]'s exactly-once contract. */
  def lastTxnVersion(name: String, appId: String): Option[Long] =
    latestVersion(name).flatMap(v => resolveTxns(name, v).get(appId))

  /** The `(appId, txnVersion)` that snapshot `version` itself committed
    * under; None for a commit outside the exactly-once path. */
  def commitTxn(name: String, version: Long): Option[(String, Long)] =
    readManifestFile(name, version).txn

  /** Live deletion-vector files of the LATEST snapshot — O(1) from the
    * commit cache on the hot path (every read goes through this). */
  def liveDvs(name: String): Vector[String] = {
    val key = s"$warehouse/$name"
    val last: Option[Long] = Option(lastVersionCache.get(key)).map(_.longValue())
      .orElse(latestVersion(name))
    last match {
      case None => Vector.empty
      case Some(v) =>
        val cached = dvSetCache.get(key)
        if (cached != null && cached._1 == v) cached._2
        else {
          val dvs = resolveDvs(name, v)
          dvSetCache.put(key, (v, dvs))
          dvs
        }
    }
  }

  /** Latest committed version, cache-first — the same O(1)-on-the-hot-
    * path discipline as [[liveDvs]] (one versions-dir listing only on a
    * cold start). For callers that must not pay a LIST per analysis. */
  private[graft] def lastVersionCached(name: String): Option[Long] = {
    val key = s"$warehouse/$name"
    Option(lastVersionCache.get(key)).map(_.longValue())
      .orElse(latestVersion(name))
  }

  /** Whether every live file of snapshot `v` sits under the CURRENT
    * layout's directory names — false during an incremental REBUCKET's
    * transient mixed state. O(live files) of in-memory string prefix
    * checks off the live-set cache, memoized per (version, layout). */
  private[graft] def liveSetConforms(name: String, v: Long): Boolean = {
    val meta = readMeta(name)
    if (meta.partitionExprs.isEmpty) return true
    val key = s"$warehouse/$name"
    val prefixes = GraftLake.layoutPrefixes(meta)
    // the memo keys on (version, LAYOUT): a cross-process layout flip
    // changes the verdict for the SAME version (post-flip, pre-first-
    // group every file is suddenly foreign) — a version-only memo would
    // serve the pre-flip "conforms" and let a bare catalog session plan
    // a directory scan the old-layout directories do not follow
    val memo = GraftLake.conformCache.get(key)
    if (memo != null && memo._1 == v && memo._3 == prefixes) return memo._2
    val ok = liveFilesAt(name, v).forall(r => GraftLake.relConforms(r._1, prefixes))
    GraftLake.conformCache.put(key, (v, ok, prefixes))
    ok
  }

  /** Filter out rows masked by deletion vectors: left-anti join on
    * (manifest file key, file-local row position) against the union of
    * the live DV files. The DV side is explicitly broadcast while its
    * entry count stays within `spark.graft.dv.maxEntries` — the invariant
    * every row-level write restores (a DV that takes the count past the
    * bound is folded right after its commit) — so the probe is a map-side hash lookup
    * with no shuffle of the (100 TB) data side, and expressions
    * downstream that depend on scan-task locality (`input_file_name`)
    * keep working. If the entry count nonetheless exceeds the bound (a
    * config lowered after commits), the hint is dropped and AQE picks the
    * join — a forced broadcast of an unbounded set can OOM the driver.
    * No-op when `dvs` is empty or the frame is a memory-backed empty
    * relation (no `_metadata` to key on). */
  private def applyDvs(name: String, df: DataFrame, dvs: Seq[String],
      partDepth: Int): DataFrame = {
    if (dvs.isEmpty) return df
    val isFileBacked = df.queryExecution.logical.collectFirst {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      case _: org.apache.spark.sql.execution.LogicalRDD => ()
    }.isEmpty
    if (!isFileBacked) return df
    if (dvEntryCountCached(name, dvs) <= dvMaxEntries) {
      // steady-state path: a codegen'd FILTER probing the cached
      // broadcast DV set — no join, no per-query broadcast-build job
      // (executors fetched the blocks at the first query after the DV
      // commit), scan stays single-source and whole-stage-codegen'd
      dvMaskFilter(name, dvs, df, GraftLake.dvKeyColumn(partDepth),
        col("_metadata.row_index"))
    } else
      // config-lowered bound after commits: an unbounded set must not be
      // collected to the driver — AQE picks the join
      dvAntiJoinFrames(df, dvFrame(name, dvs), partDepth, broadcastDv = false)
  }

  /** `df` without the rows whose (DV key, position) the cached broadcast
    * DV set of `dvs` masks. */
  private def dvMaskFilter(name: String, dvs: Seq[String], df: DataFrame,
      key: Column, pos: Column): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge
    df.filter(!PlanBridge.column(graft.functions.DvMasked(
      PlanBridge.expression(key), PlanBridge.expression(pos),
      dvBroadcastCached(name, dvs))))
  }

  /** Driver-built [[graft.functions.DvSet]] broadcast, memoized per
    * (SparkContext, table) on the exact DV file set — rebuilt only when a
    * DV commit changes the set; the dropped broadcast is reclaimed by the
    * ContextCleaner once the last plan referencing it goes away. The
    * caller has already bounded the entry count (`dvMaxEntries`), so the
    * collect is the same size the old broadcast join shipped. */
  private def dvBroadcastCached(name: String, dvs: Seq[String])
      : org.apache.spark.broadcast.Broadcast[graft.functions.DvSet] = {
    val set = dvs.toVector
    val key = s"${System.identityHashCode(spark.sparkContext)}#$warehouse/" +
      s"$name#${set.hashCode()}"
    val hit = GraftLake.dvBroadcastCache.get(key)
    if (hit != null && hit._1 == set) hit._2
    else {
      val entries = dvFrame(name, dvs).collect().iterator
        .map(r => (r.getString(0), r.getLong(1)))
      val b = spark.sparkContext.broadcast(graft.functions.DvSet.build(entries))
      // defensive bound, per-entry eviction (covers stopped contexts'
      // stale entries too — their broadcasts free once unreferenced)
      if (GraftLake.dvBroadcastCache.size() > 256) {
        val it = GraftLake.dvBroadcastCache.keySet().iterator()
        var n = 64
        while (n > 0 && it.hasNext) { it.next(); it.remove(); n -= 1 }
      }
      GraftLake.dvBroadcastCache.put(key, (set, b))
      b
    }
  }

  /** The DV key columns of a scan: manifest file key ([[keyC]]) and
    * file-local row position ([[posC]]). Both metadata derivations land in
    * ONE projection directly over the scan (hidden `_metadata` does not
    * resolve through arbitrary stacked plans). */
  private def withDvKeys(df: DataFrame, partDepth: Int): DataFrame =
    df.withColumns(Map(
      keyC -> GraftLake.dvKeyColumn(partDepth),
      posC -> col("_metadata.row_index")))

  /** The shared (file key, row position) LEFT ANTI join every DV-masking
    * consumer uses, over a [[withDvKeys]] frame; the key columns stay.
    * `broadcastDv` gates the hint: callers differ on the entry-count
    * source (the per-table cache for live reads, an uncached count for
    * change-feed windows whose subset must not evict it). */
  private def dvAntiJoin(keyed: DataFrame, dv: DataFrame,
      broadcastDv: Boolean): DataFrame = {
    val dvSide = if (broadcastDv) broadcast(dv) else dv
    keyed.join(dvSide,
      keyed(keyC) === dv("file_key") && keyed(posC) === dv("pos"), "left_anti")
  }

  /** [[dvAntiJoin]] over an unkeyed scan, key columns dropped. */
  private def dvAntiJoinFrames(df: DataFrame, dv: DataFrame, partDepth: Int,
      broadcastDv: Boolean): DataFrame =
    dvAntiJoin(withDvKeys(df, partDepth), dv, broadcastDv).drop(keyC, posC)

  /** The union of DV files as a (file_key, pos) frame. */
  private def dvFrame(name: String, dvs: Seq[String]): DataFrame =
    spark.read.schema(GraftLake.dvSchema)
      .parquet(dvs.map(d => s"${dvDir(name)}/$d"): _*)


  /** Total deleted-position count across the live DVs — parquet metadata
    * only (footer row counts), no data scan. */
  private def dvEntryCount(name: String, dvs: Seq[String]): Long =
    if (dvs.isEmpty) 0L else dvFrame(name, dvs).count()

  /** [[dvEntryCount]] memoized per table on the exact DV file set, so the
    * broadcast-safety check in [[applyDvs]] costs a footer-count job only
    * once per committed DV state, not once per read ([[noteDvCommit]]
    * carries it across this process's own DV commits). */
  private def dvEntryCountCached(name: String, dvs: Seq[String]): Long = {
    if (dvs.isEmpty) return 0L
    val key = s"$warehouse/$name"
    val c = dvCountCache.get(key)
    if (c != null && c._1 == dvs) c._2
    else {
      val n = dvEntryCount(name, dvs)
      dvCountCache.put(key, (dvs.toVector, n))
      n
    }
  }

  /** After a commit that added `n` DV entries to a live set of `before`
    * entries: the new set holds `before + n` (a hit scan reads through the
    * live DVs, so no entry repeats a masked position). */
  private def noteDvCommit(name: String, before: Long, n: Long): Unit =
    dvCountCache.put(s"$warehouse/$name", (liveDvs(name), before + n))

  /** DV key/position column names of [[withDvKeys]] frames. */
  private val keyC = GraftLake.DvKeyCol
  private val posC = GraftLake.DvPosCol

  /** The live rows of `name` through a manifest-pruned scan, with the DV
    * key/position metadata columns ([[keyC]]/[[posC]]) attached and any
    * live deletion vectors already masked away — the shared front
    * half of every merge-on-read DML. `keep` narrows the manifest's
    * (rel dir, file name) set the scan plans (a table without commits
    * reads whole, so a caller needing an exact file set still filters
    * on [[keyC]]); `within`, a lowered predicate the caller's rows
    * satisfy, further drops the files the read path's bucket pruner
    * proves hold none of them. None when the table is not file-backed
    * (nothing to mask positionally). */
  private def liveKeyedScanLocked(name: String, meta: TableMeta,
      keep: ((String, String)) => Boolean = _ => true,
      within: Option[org.apache.spark.sql.graft.PlanBridge.SimplePred] = None)
      : Option[DataFrame] = {
    val partDepth = meta.partitionExprs.size
    // manifest-driven pruning scan: a selective MoR DML on a 100 TB
    // table plans only the files whose bounds can match the predicate
    val last = lastVersionCached(name)
    val bucketK = for (v <- last; w <- within; k <- bucketPrunerAt(name, v, meta, w))
      yield k
    val base = liveScan(name, meta, last,
      ref => keep(ref) && bucketK.forall(_(GraftLake.fileKey(ref))))
    val fileBacked = base.queryExecution.logical.collectFirst {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      case _: org.apache.spark.sql.execution.LogicalRDD => ()
    }.isEmpty
    if (!fileBacked) return None
    val dvs0 = liveDvs(name)
    val keyed = withDvKeys(base, partDepth)
    // the live-read mask: the cached per-DV-state broadcast set as a
    // filter, so a statement under a DV state a read has built runs no
    // broadcast job; past the entry bound AQE picks the anti-join
    val masked =
      if (dvs0.isEmpty) keyed
      else if (dvEntryCountCached(name, dvs0) <= dvMaxEntries)
        dvMaskFilter(name, dvs0, keyed, col(keyC), col(posC))
      else dvAntiJoin(keyed, dvFrame(name, dvs0), broadcastDv = false)
    // LOGICAL view out: the callers filter user predicates and evaluate
    // user assignments against this frame ([[keyC]]/[[posC]] untouched)
    Some(toLogical(meta.schema, masked))
  }

  /** METADATA-ONLY DELETE fast path: when the manifest bounds PROVE the
    * predicate holds for every row of a file ([[GraftLake.fileAllMatcher]]
    * — zero-null witness included), the file is dropped wholesale — one
    * remove-only commit. NO data file is
    * opened, NO Spark job runs over table rows; the returned count comes
    * from the manifest's footer row counts minus the files' already-live
    * DV entries. The 100 TB shape this exists for: `DELETE WHERE
    * event_date < X` on a date-clustered table retires whole partitions in
    * O(metadata), where the DV path would write a hit-set the size of the
    * partitions and the COW path would rewrite them. Fires only when the
    * files OUTSIDE the proof also provably contain no matching row (the
    * same [[GraftLake.filePruner]] the read path trusts) — a mixed proof
    * falls back to the scan path, keeping the DV machinery the single
    * source of partial deletes. Returns None when the fast path does not
    * apply. Reference analog: DuckLake drops whole `ducklake_data_file`
    * rows from its catalog when a DELETE covers a file; the parquet stays
    * for time travel. */
  /** Lower a user-facing predicate Column into the pruning tree, keyed by
    * PHYSICAL column names — the ONE lowering every consumer (read-path
    * pruner, bloom probe, metadata-delete proof) must share, so they can
    * never disagree on which files a predicate covers. Logical names
    * resolve against the logical schema (renames ride the
    * logical→physical map); Columns wrapping catalyst expressions (the
    * SQL DML hands its conditions over via `byNameColumn`) don't
    * lower through the ColumnNode walk, so they re-resolve against an
    * empty frame, fold the analyzer's literal casts, and lower the
    * catalyst tree instead. Null-test leaves are stripped for tables
    * whose schema shadows the zero-null-witness namespace. */
  private def loweredPhysicalPredicate(meta: TableMeta,
      predicate: Column): org.apache.spark.sql.graft.PlanBridge.SimplePred = {
    val bridge = org.apache.spark.sql.graft.PlanBridge
    val zone = spark.conf.get("spark.sql.session.timeZone",
      java.time.ZoneId.systemDefault().getId)
    val renames = GraftLake.logicalNamesOf(meta.schema).map(_.swap)
    def phys(c: String): String =
      renames.find(_._1.equalsIgnoreCase(c)).map(_._2).getOrElse(c)
    val viaNode = bridge.simplePredicate(
      predicate, GraftLake.logicalSchema(meta.schema), zone)
    val lowered =
      if (viaNode != bridge.PUnknown) viaNode
      else scala.util.Try {
        val probe = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          GraftLake.logicalSchema(meta.schema)).filter(predicate)
        probe.queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            val folded = f.condition.transformUp {
              case e: org.apache.spark.sql.catalyst.expressions.Expression
                  if e.foldable && e.deterministic && !e.isInstanceOf[
                    org.apache.spark.sql.catalyst.expressions.Literal] =>
                org.apache.spark.sql.catalyst.expressions.Literal.create(
                  e.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
                  e.dataType)
            }
            bridge.catalystPredicate(folded)
        }.getOrElse(bridge.PUnknown)
      }.getOrElse(bridge.PUnknown)
    val mapped = bridge.mapPredCols(lowered, phys)
    if (GraftLake.nullWitnessShadowed(meta.schema))
      GraftLake.stripNullTests(mapped)
    else mapped
  }

  private def metadataDeleteLocked(name: String, meta: TableMeta,
      predicate: Column): Option[Long] = {
    val v = latestVersion(name).getOrElse(return None)
    // shadow guards: a user column occupying the row-count slot makes
    // footer counts unreadable, and one in the witness namespace makes
    // EVERY all-match proof untrustworthy (comparison leaves consult the
    // witness too, beyond the PNull/PNotNull strip in the lowering)
    if (rowCountShadowed(meta) ||
        GraftLake.nullWitnessShadowed(meta.schema)) return None
    val pred = loweredPhysicalPredicate(meta, predicate)
    val types: Map[String, DataType] = meta.schema.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    // NaN rows may sit outside a float/double column's min/max — never
    // accept an all-match proof on one
    def safeCol(c: String): Boolean =
      types.get(c.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(FloatType) | Some(DoubleType) => false
        case _ => true
      }
    val (_, files, _) = resolveManifest(name, v)
    val stats = statsFor(name, v)
    val allMatch = GraftLake.fileAllMatcher(pred, safeCol)
    val mayMatch = GraftLake.filePruner(pred)
    // bucket-dir disproof: a file in a bucket no equality candidate
    // hashes into provably holds zero matching rows — a point DELETE on
    // a bucketed table proves its untouched buckets clean without stats
    val bucketK = bucketPrunerAt(name, v, meta, pred)
    def statsOf(ref: (String, String)): Map[String, GraftLake.Bounds] =
      stats.getOrElse(GraftLake.fileKey(ref), Map.empty)
    val (drop, rest) = files.partition { ref =>
      val s = statsOf(ref)
      allMatch(s) && s.contains(GraftLake.RowCountKey)
    }
    if (rest.exists(ref => mayMatch(statsOf(ref)) &&
        bucketK.forall(_(GraftLake.fileKey(ref))))) return None
    // every un-dropped file provably matches nothing: a provable no-op
    // delete costs zero jobs and zero commits
    if (drop.isEmpty) return Some(0L)
    val dvs0 = liveDvs(name)
    // ONE bounded job over the DV sidecars (one row per data file the DVs
    // touch — metadata scale) serves BOTH needs, with the drop/rest key
    // classification done driver-side against in-memory sets rather than
    // shipping the (possibly huge) surviving-file list into a join:
    //  - `masked`: entries per dropped file, so the returned count equals
    //    footer rows minus rows an earlier MoR delete already removed;
    //  - `dvRemoved`: sidecars whose EVERY entry references a
    //    no-longer-live file ride out in the same commit — leaving them
    //    would pin the anti-join read plan and erode the dvMaxEntries
    //    budget forever (nothing else removes them short of an overwrite).
    val (masked: Map[String, Long], dvRemoved: Seq[String]) =
      if (dvs0.isEmpty) (Map.empty[String, Long], Nil)
      else {
        val dropKeys = drop.map(GraftLake.fileKey).toSet
        val liveKeys = rest.map(GraftLake.fileKey).toSet
        val perFile = dvFrame(name, dvs0)
          .withColumn("__dv", element_at(split(input_file_name(), "/"), -1))
          .groupBy(col("file_key"))
          .agg(count(lit(1)).as("n"), collect_set(col("__dv")).as("srcs"))
          .collect()
        // DV keys are URI-encoded, manifest keys are not (decodeKey)
        val m = perFile.iterator
          .map(r => (GraftLake.decodeKey(r.getString(0)), r))
          .filter(kr => dropKeys.contains(kr._1))
          .map(kr => kr._1 -> kr._2.getLong(1)).toMap
        val pinned = perFile.iterator
          .filter(r => liveKeys.contains(GraftLake.decodeKey(r.getString(0))))
          .flatMap(_.getSeq[String](2)).toSet
        (m, dvs0.filterNot(pinned))
      }
    val deleted = drop.map { ref =>
      (statsOf(ref).get(GraftLake.RowCountKey) match {
        case Some(GraftLake.NumBounds(lo, _)) => lo.toLong
        case _ => 0L
      }) - masked.getOrElse(GraftLake.fileKey(ref), 0L)
    }.sum
    commitVersion(name, Nil, drop, op = "delete", dvRemoved = dvRemoved)
    graft.metrics.GraftMetrics.op("metadataDelete").record(drop.size.toLong)
    Some(deleted)
  }

  /** TRUNCATE: remove EVERY live file in one remove-only commit —
    * O(metadata) at any table size, the unconditional twin of the
    * metadata-only DELETE (no proofs needed: everything goes). Old
    * snapshots stay time-travelable; the retention vacuum reaps them;
    * live DV sidecars are dropped in the same commit (all entries turn
    * inert with their files). The DSv2 `TRUNCATE TABLE` statement routes
    * here via [[org.apache.spark.sql.connector.catalog.TruncatableTable]].
    * Reference analog: DuckLake deletes the snapshot's data-file rows
    * from its catalog; the parquet stays for time travel. */
  def truncate(name: String): Unit = writeLock(name) {
    val v = latestVersion(name).getOrElse(return)
    val (_, files, _) = resolveManifest(name, v)
    val dvs = liveDvs(name)
    // no live files = already empty. Any remaining DV sidecars are inert
    // (their files are gone) but still pin the anti-join read plan and
    // count against the dvMaxEntries budget — clear them under the
    // feed-transparent "dv-clear" op (LogicalNoOps) rather than a
    // remove-nothing "truncate" commit the feed could not attribute.
    if (files.isEmpty) {
      if (dvs.nonEmpty)
        commitVersion(name, Nil, Nil, op = "dv-clear", dvRemoved = dvs)
      return
    }
    commitVersion(name, Nil, files, op = "truncate", dvRemoved = dvs)
  }

  /** DELETE: rows matching `predicate` (NULL keeps the row, SQL DELETE
    * semantics) leave the table by the cheapest route the hit set allows:
    *  - files the manifest bounds prove all-matching drop metadata-only
    *    ([[metadataDeleteLocked]]);
    *  - otherwise a deletion vector masks the hits — (file key, row
    *    position) pairs written as a parquet sidecar under `_dv/` and
    *    committed to the manifest — WITHOUT rewriting a single data file
    *    ([[writeRowLevel]]). A DELETE touching 0.001 % of rows costs one
    *    column-pruned scan + a tiny sidecar write (reference analog:
    *    DuckLake DELETE, which DuckDB executes as its own positional
    *    delete files);
    *  - a DV that takes the live entry count past
    *    `spark.graft.dv.maxEntries` (default 1M — the broadcast-safety
    *    bound) is folded into the files right after its commit
    *    ([[materializeDeletes]]), so DV probes stay map-side.
    * Reads apply DVs as a broadcast probe; [[compact]],
    * [[materializeDeletes]] or any full rewrite folds them back in. SQL
    * `DELETE FROM` runs here too. Returns the number of rows deleted
    * (already-deleted rows never re-enter a DV: the hit scan itself reads
    * through the live DVs). */
  def deleteWhere(name: String, predicate: Column): Long = writeLock(name) {
    metadataDeleteLocked(name, readMeta(name), predicate)
      .getOrElse(dmlWhere(name, _.filter(coalesce(predicate, lit(false)))))
  }

  private def dvMaxEntries: Long = spark.conf
    .getOption("spark.graft.dv.maxEntries").map(_.toLong).getOrElse(1000000L)

  /** Merge-on-read UPDATE: rows matching `predicate` are masked by a
    * deletion vector (their old file positions) and re-inserted with
    * `assignments` applied — WITHOUT rewriting any existing data file,
    * in ONE manifest commit (new data files + DV sidecar land in the
    * same version, so no read can observe the delete without the
    * re-insert). The 100 TB contract mirrors [[deleteWhere]]: a
    * selective UPDATE costs one manifest-pruned scan + hit-sized writes,
    * not a partition rewrite. SQL `UPDATE` runs here too.
    * All assignment right-hand sides evaluate against the OLD row
    * (simultaneous-assignment semantics) and cast to the column's landed
    * type; `_inserted_at` is preserved (W5). An update that moves rows
    * across partitions just lands the new rows in their new partitions —
    * the DV masks the old copies in place. A DV past
    * `spark.graft.dv.maxEntries` folds after the commit, as for
    * [[deleteWhere]]. Returns the rows updated. */
  def updateWhere(name: String, predicate: Column,
      assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    dmlWhere(name, _.filter(coalesce(predicate, lit(false))), assignments)
  }

  /** DELETE (`assignments` empty) or UPDATE of the live rows `hit`
    * selects, through [[writeRowLevel]]: one DV over the hit rows and,
    * for an UPDATE, those rows re-inserted with the assignments applied,
    * read back from only the files that hold them and matched to the
    * staged keys (`hit` is not evaluated a second time). `hit` and the
    * assignments resolve against the live rows after `bind` (see
    * [[writeRowLevel]]). On a table with change capture the hit rows are
    * the commit's `delete`, or `update_preimage` and `update_postimage`,
    * rows. Returns the rows hit. */
  private[graft] def dmlWhere(name: String, hit: DataFrame => DataFrame,
      assignments: Map[String, Column] = Map.empty,
      bind: DataFrame => DataFrame = identity): Long = writeLock(name) {
    val meta = readMeta(name)
    // assignments address LOGICAL names and evaluate against the logical
    // live view; the re-inserted rows convert back to physical at write
    val byField = landedAssignments(name, meta, assignments)
    val ct = GraftLake.ChangeTypeCol
    writeRowLevel(name, if (byField.isEmpty) "delete" else "update", bind) { live =>
      GraftLake.RowLevel(hit(live),
        rows = hitRows =>
          if (byField.isEmpty) None else hitRows.map(assign(meta, _, byField)),
        changes = hitRows => hitRows.map(old =>
          if (byField.isEmpty) old.withColumn(ct, lit("delete"))
          else assign(meta, old, Map.empty).withColumn(ct, lit("update_preimage"))
            .unionByName(assign(meta, old, byField)
              .withColumn(ct, lit("update_postimage")))))
    }
  }

  /** The one row-level write, behind DELETE, UPDATE, the general SQL
    * MERGE and CDC apply. Under the table's write lock, `plan` gets the
    * live rows ([[liveKeyedScanLocked]]; an empty frame of that shape for
    * a table without live files) after `bind`: the identity for the
    * engine's own predicates, an attribute re-binding for SQL, whose
    * resolved subqueries and actions cannot be retargeted by name. The
    * statement's hits are staged as ONE deletion vector; its rows (hit
    * rows read back from their files, when it asks for them) and its
    * change rows are written; and all of it lands in ONE commit under
    * `op`, so no read sees the mask without the rows. A statement without
    * a hit commits a plain `append`, and one with neither a hit nor a row
    * commits nothing. No existing data file is rewritten: a DV set now
    * past `spark.graft.dv.maxEntries` folds right after the commit
    * ([[materializeDeletes]]), as the upsert's does. Returns the rows
    * hit. */
  private[graft] def writeRowLevel(name: String, op: String,
      bind: DataFrame => DataFrame = identity)(
      plan: DataFrame => GraftLake.RowLevel): Long = writeLock(name) {
    val meta = readMeta(name)
    val scan = liveKeyedScanLocked(name, meta)
    val stmt = plan(bind(scan.getOrElse(toLogical(meta.schema,
      liveScan(name, meta, None).withColumns(Map(
        keyC -> lit(null).cast(StringType), posC -> lit(null).cast(LongType)))))))
    val stage = new Path(s"${tableDir(name)}/.dvstage-${UUID.randomUUID()}")
    try {
      val n = if (scan.isEmpty) 0L else stageDvKeys(stmt.hits, stage)
      lazy val hitRows = Option.when(n > 0L)(bind(rowsAtDvKeysLocked(name, meta,
        spark.read.schema(GraftLake.dvSchema).parquet(stage.toString))))
      val rows = stmt.rows(hitRows)
      if (n == 0L && rows.isEmpty) return 0L
      val (added, addedStats) = rows.fold(
        (Seq.empty[(String, String)], Map.empty[String, Map[String, GraftLake.Bounds]]))(r =>
        stageRowsLocked(name, meta, withPartitionCols(
          enforceConstraints(meta, physicalSelect(meta, r)), meta)))
      if (n == 0L && rowsIn(name, added, addedStats) == 0L) {
        discardUnpublished(name, added)
        return 0L
      }
      // the change plan reads the pre-commit live files
      val changeFiles =
        if (!meta.cdfEnabled) Nil
        else stmt.changes(hitRows).fold(Seq.empty[String])(writeChangeFiles(name, meta, _))
      val before = if (n == 0L) 0L else dvEntryCountCached(name, liveDvs(name))
      commitVersion(name, added, Nil, addedStats, op = if (n == 0L) "append" else op,
        dvAdded = if (n == 0L) Nil else publishDvStage(name, stage),
        changes = changeFiles, assumedLayout = Some(meta.partitions))
      if (n > 0L) {
        noteDvCommit(name, before, n)
        if (before + n > dvMaxEntries) materializeDeletesLocked(name)
      }
      n
    } finally fs(stage).delete(stage, true)
  }

  /** The live rows (logical view, DV key columns attached) at the staged
    * DV `keys`: the scan plans only the files holding them, and the
    * semi-join on the keys picks the exact rows. */
  private def rowsAtDvKeysLocked(name: String, meta: TableMeta,
      keys: DataFrame): DataFrame = {
    // per-partition distinct, no exchange: one job
    val hitFiles = keys.select("file_key").rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator).collect()
      .map(GraftLake.decodeKey).toSet
    val rows = liveKeyedScanLocked(name, meta,
      ref => hitFiles(GraftLake.fileKey(ref))).get
    rows.join(keys,
      rows(keyC) === keys("file_key") && rows(posC) === keys("pos"), "left_semi")
  }

  /** UPDATE assignments keyed by the LOGICAL column name they resolve to
    * (case-insensitively), each cast to its column's landed type. */
  private def landedAssignments(name: String, meta: TableMeta,
      assignments: Map[String, Column]): Map[String, Column] = {
    val logicalFields = GraftLake.logicalSchema(meta.schema)
    assignments.map { case (k, v) =>
      val field = logicalFields.fields.find(_.name.equalsIgnoreCase(k))
        .getOrElse(throw new IllegalArgumentException(
          s"table '$name' has no column '$k'"))
      require(!field.name.equalsIgnoreCase(InsertedAtCol),
        s"'$InsertedAtCol' is engine-managed and cannot be assigned")
      field.name -> v.cast(field.dataType)
    }
  }

  /** `df` on the table's logical columns, each column of `byField`
    * taking its value. */
  private def assign(meta: TableMeta, df: DataFrame,
      byField: Map[String, Column]): DataFrame =
    df.select(GraftLake.logicalSchema(meta.schema).fieldNames.toSeq.map(n =>
      byField.getOrElse(n, col(quoted(n))).as(n)): _*)

  // ---- per-file bloom skipping index ----

  private def bloomDir(name: String) = new Path(s"${tableDir(name)}/_bloom")

  /** Build (or rebuild) the per-file BLOOM skipping index for `column`:
    * one Bloom filter of the column's values per live data file, written
    * as a parquet sidecar under `_bloom/<column>/`. Equality predicates
    * on the column then skip files whose filter proves the value absent —
    * the point-lookup complement of the min/max bounds index, which is
    * useless for a high-cardinality column scattered across every file
    * (`WHERE user_id = X` over a time-partitioned 100 TB table matches
    * every file's [min,max] but only a handful of blooms).
    *
    * Build cost is ONE pass over the table: [[graft.functions.BloomAgg]]
    * builds map-side and merges fixed-size bitsets by OR, so the shuffle
    * carries bitsets, never values. Probe cost: the sidecar loads once
    * per build onto the driver (cached by mtime) — size it with
    * `expectedItemsPerFile`×`fpp` (defaults ≈ 120 KB/file at 1 % fpp;
    * at a million files budget driver memory accordingly, or index only
    * hot partitions' tables). Always CONSERVATIVE: files added after the
    * build have no filter and are kept; a false positive only costs I/O;
    * retired files' entries are simply never looked up. Reference analog:
    * DuckLake/parquet bloom filters consulted at scan planning. */
  def buildBloomIndex(name: String, column: String,
      expectedItemsPerFile: Long = 1000000L, fpp: Double = 0.01): Unit =
      writeLock(name) {
    val meta = readMeta(name)
    // resolve the user's LOGICAL name to the frozen physical field: the
    // sidecar is keyed physical, matching the scan-side probe rewrite
    val logical = GraftLake.logicalNamesOf(meta.schema)
    val field = meta.schema.fields
      .find(f => logical.getOrElse(f.name, f.name).equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"table '$name' has no column '$column'"))
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           DateType | TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"bloom index on '$column': unsupported type ${other.sql} " +
          "(integral, temporal and string columns only)")
    }
    val partDepth = meta.partitionExprs.size
    val blooms = readInternal(name, meta)
      .select(GraftLake.dvKeyColumn(partDepth).as("file_key"),
        col(quoted(field.name)).as("__v"))
      .groupBy(col("file_key"))
      .agg(graft.functions.BloomAggregate.bloomAgg(
        col("__v"), expectedItemsPerFile, fpp).as("bloom"))
    val stage = new Path(s"${tableDir(name)}/.bloomstage-${UUID.randomUUID()}")
    val dest = new Path(bloomDir(name), field.name)
    val f = fs(stage)
    try {
      lakeWriter(blooms).parquet(stage.toString)
      org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
      f.mkdirs(bloomDir(name))
      val old = new Path(s"${tableDir(name)}/.bloomold-${UUID.randomUUID()}")
      if (f.exists(dest)) renameOrFail(f, dest, old)
      renameOrFail(f, stage, dest)
      f.delete(old, true)
      // sizing params persist beside the filters (the `_` prefix keeps the
      // parquet reader from touching it) so incremental refreshes build
      // compatible filters for new files
      val pout = f.create(new Path(dest, "_params.json"), true)
      try pout.write(
        s"""{"expectedItemsPerFile":$expectedItemsPerFile,"fpp":$fpp}"""
          .getBytes("UTF-8"))
      finally pout.close()
      bloomCache.remove(s"$warehouse/$name#${field.name}")
    } finally f.delete(stage, true)
  }

  /** Incrementally extend every bloom sidecar to the live files it does
    * not yet cover — the 100 TB maintenance path: after appends, ONLY the
    * new files are scanned and bloomed (each file's filter is
    * independent, so fresh entries just land as new sidecar parts); a
    * full [[buildBloomIndex]] rebuild is never needed for growth, only
    * for re-sizing or after heavy rewrites. Filters for new files use the
    * sizing params persisted at build time. Returns column → number of
    * files newly indexed. Typical cadence: after each ingest batch or
    * from the auto-compaction hook. */
  def refreshBloomIndexes(name: String): Map[String, Long] = writeLock(name) {
    val cols = bloomIndexedColumns(name)
    if (cols.isEmpty) return Map.empty
    val meta = readMeta(name)
    val partDepth = meta.partitionExprs.size
    val liveRefs = latestVersion(name).fold(Vector.empty[(String, String)])(
      resolveManifest(name, _)._2)
    val liveKeys = liveRefs.map(GraftLake.fileKey)
    cols.map { c =>
      val dest = new Path(bloomDir(name), c)
      val f = fs(dest)
      val have = bloomMap(name, c).keySet
      val missing = liveKeys.filterNot(have)
      if (missing.isEmpty) c -> 0L
      else {
        val (expected, fpp) = readBloomParams(dest)
        val missingSet = missing.toSet
        val paths = liveRefs.filter(ref => missingSet.contains(GraftLake.fileKey(ref)))
          .map(refPath(name, _))
        // partition-source columns live in the data files themselves, so a
        // plain read of ONLY the missing files carries everything needed
        val blooms = manifestScan(paths, Map.empty, meta.schema, partDepth, None)
          .select(GraftLake.dvKeyColumn(partDepth).as("file_key"),
            col(quoted(c)).as("__v"))
          .groupBy(col("file_key"))
          .agg(graft.functions.BloomAggregate.bloomAgg(
            col("__v"), expected, fpp).as("bloom"))
        val stage = new Path(s"${tableDir(name)}/.bloomstage-${UUID.randomUUID()}")
        try {
          lakeWriter(blooms).parquet(stage.toString)
          org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
          f.listStatus(stage).toSeq
            .filter(_.getPath.getName.endsWith(".parquet"))
            .foreach { s =>
              renameOrFail(f, s.getPath,
                new Path(dest, s"refresh-${UUID.randomUUID()}.parquet"))
            }
          bloomCache.remove(s"$warehouse/$name#$c")
        } finally f.delete(stage, true)
        c -> missing.size.toLong
      }
    }.toMap
  }

  private def readBloomParams(dest: Path): (Long, Double) = {
    val p = new Path(dest, "_params.json")
    val f = fs(p)
    if (!f.exists(p)) (1000000L, 0.01)
    else {
      val in = f.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val exp = "\"expectedItemsPerFile\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(raw).map(_.group(1).toLong).getOrElse(1000000L)
      val fpp = "\"fpp\"\\s*:\\s*([0-9.eE+-]+)".r
        .findFirstMatchIn(raw).map(_.group(1).toDouble).getOrElse(0.01)
      (exp, fpp)
    }
  }

  /** Columns with an on-disk bloom sidecar. */
  def bloomIndexedColumns(name: String): Seq[String] = {
    val bd = bloomDir(name)
    val f = fs(bd)
    if (!f.exists(bd)) Nil
    else f.listStatus(bd).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Per-file keep/skip decision from the bloom sidecars for the
    * predicate's REQUIRED equality conjuncts (`col = literal` reachable
    * through AND only — a disjunct branch can't require anything). None
    * when no indexed column is usefully constrained. Domain guards keep
    * it exact: numeric probes only for integral/temporal columns with an
    * exactly-representable long literal (the [[graft.functions.BloomAgg]]
    * `putLong` domain — epoch days/micros for temporals), string probes
    * only for string columns via UTF-8 bytes. A file without an entry is
    * kept. */
  private[catalog] def bloomPruner(name: String,
      pred: org.apache.spark.sql.graft.PlanBridge.SimplePred)
      : Option[String => Boolean] = {
    import org.apache.spark.sql.graft.PlanBridge._
    val cols = bloomIndexedColumns(name)
    if (cols.isEmpty) return None
    val meta = readMeta(name)
    def requiredEqs(p: SimplePred): Seq[(String, Either[Double, String])] =
      p match {
        case PAnd(l, r) => requiredEqs(l) ++ requiredEqs(r)
        case PCmp("=", c, v) => Seq((c, Left(v)))
        case PStr("=", c, v) => Seq((c, Right(v)))
        case _ => Nil
      }
    val eqs = requiredEqs(pred).flatMap { case (c, v) =>
      cols.find(_.equalsIgnoreCase(c)).flatMap { indexed =>
        val dt = meta.schema.fields.find(_.name.equalsIgnoreCase(c))
          .map(_.dataType)
        (v, dt) match {
          case (Left(d), Some(ByteType | ShortType | IntegerType | LongType |
              DateType | TimestampType | TimestampNTZType))
              if d.isWhole && math.abs(d) <= 9.007199254740992e15 =>
            Some((indexed, Left(d.toLong)))
          case (Right(s), Some(StringType)) =>
            Some((indexed, Right(s)))
          case _ => None
        }
      }
    }
    if (eqs.isEmpty) return None
    val maps = eqs.map { case (c, v) => (bloomMap(name, c), v) }
    Some(fileKey => maps.forall { case (m, v) =>
      m.get(fileKey).forall { bf =>
        v match {
          case Left(l) => bf.mightContainLong(l)
          case Right(s) =>
            bf.mightContainBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    })
  }

  /** Driver-cached deserialized bloom sidecar of one column, reloaded
    * when the sidecar directory's mtime changes (rebuilds rename a fresh
    * directory in). A sidecar that can't be read — e.g. the instant a
    * concurrent rebuild has the old directory renamed away — degrades to
    * the empty map, which KEEPS every file (conservative: the index only
    * ever skips, never gates correctness). */
  private def bloomMap(name: String, column: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] =
    try {
      val key = s"$warehouse/$name#$column"
      val dest = new Path(bloomDir(name), column)
      val f = fs(dest)
      val mtime = f.getFileStatus(dest).getModificationTime
      val cached = bloomCache.get(key)
      if (cached != null && cached._1 == mtime) cached._2
      else {
        val m = spark.read.parquet(dest.toString)
          .select(col("file_key"), col("bloom"))
          .collect()
          .map(r => r.getString(0) ->
            org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1))))
          .toMap
        bloomCache.put(key, (mtime, m))
        m
      }
    } catch {
      case _: java.io.FileNotFoundException |
           _: org.apache.spark.sql.AnalysisException =>
        Map.empty
    }

  /** Rewrite ONLY the partitions whose files carry deletion-vector
    * entries (the whole table when unpartitioned), folding the deletes
    * into the data and clearing every DV — the bounded-rewrite pressure
    * valve that keeps DV probes broadcast-sized, and the only
    * copy-on-write a row-level statement ever causes. Partitions without
    * deleted rows are untouched. The rewrite masks its rows as every
    * live scan does: through the broadcast DV set within
    * `spark.graft.dv.maxEntries`, past it (the case an automatic fold
    * runs in) through the anti-join adaptive execution picks, so an
    * oversized DV set is never collected to the driver. */
  def materializeDeletes(name: String): Unit = writeLock(name) {
    materializeDeletesLocked(name)
  }

  private def materializeDeletesLocked(name: String): Unit = {
    val dvs = liveDvs(name)
    if (dvs.isEmpty) return
    val meta = readMeta(name)
    val live = lastVersionCached(name)
      .fold(Vector.empty[(String, String)])(liveFilesAt(name, _))
    val liveKeys = live.map(GraftLake.fileKey).toSet
    // the partition dirs that still hold live DV'd files (stale entries
    // for already-retired files are dropped with the DV clear); DV keys
    // spell them URI-encoded, the manifest decoded
    val rels = dvFrame(name, dvs).select("file_key").distinct()
      .collect().map(r => GraftLake.decodeKey(r.getString(0)))
      .filter(liveKeys).map(k => k.substring(0, k.lastIndexOf('/') max 0)).toSet
    if (rels.isEmpty) {
      commitVersion(name, Nil, Nil, op = "dv-clear", dvRemoved = dvs)
      return
    }
    val inScope = (ref: (String, String)) => rels(ref._1)
    val survivors = liveKeyedScanLocked(name, meta, inScope).get.drop(keyC, posC)
    val (added, addedStats) = stageRowsLocked(name, meta, withPartitionCols(
      enforceConstraints(meta, physicalSelect(meta, survivors)), meta))
    commitVersion(name, added, live.filter(inScope), addedStats, op = "materialize",
      dvRemoved = dvs, assumedLayout = Some(meta.partitions))
  }

  /** User-facing table view (generated partition columns hidden).
    * Deletion-vector-masked rows are filtered out. */
  def read(name: String): DataFrame = shallowInfo(name) match {
    // shallow clone: a zero-copy reference — resolve through the SOURCE's
    // pinned snapshot (the pin guarantees it is never vacuumed)
    case Some((src, v)) => readVersion(src, v)
    case None =>
      val meta = readMeta(name)
      // the FRESH latest version: a commit of another process is visible
      // to the next read, as the memo below promises
      def build(): DataFrame = toLogical(meta.schema,
        liveRows(name, meta, latestVersion(name))
          .select(meta.schema.fieldNames.map(n => col(quoted(n))): _*))
      // READ-PLAN memo (the Delta snapshot-cache pattern): building the
      // live view resolves the manifest, lists the live files'
      // directories and re-derives the DV mask on EVERY call — driver
      // work per read, paid several times per operation (probe scans,
      // final reads, feed epochs). The memo pins the built DataFrame to
      // (versions-dir mtime, own last version, meta instance): any
      // commit — own or foreign — creates a version file and bumps the
      // directory mtime, own commits additionally advance
      // lastVersionCache, and every metadata change swaps the cached
      // TableMeta instance, so ONE stat call replaces the per-read
      // resolution while cross-process commits stay immediately visible.
      // Plans only — every execution still scans parquet.
      val key = s"$warehouse/$name"
      val vd = versionsDir(name)
      val mtime =
        try fs(vd).getFileStatus(vd).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L }
      val own = Option(lastVersionCache.get(key)).fold(-1L)(_.longValue())
      val hit = readDfCache.get(key)
      if (hit != null && hit.mtime == mtime && hit.own == own &&
          (hit.meta eq meta) && (hit.df.sparkSession eq spark)) hit.df
      else {
        if (readDfCache.size > 512) readDfCache.clear()
        val df = build()
        readDfCache.put(key, GraftLake.ReadDfEntry(mtime, own, meta, df))
        df
      }
  }

  /** The one scan constructor of the lake: every read — engine or SQL,
    * current or `VERSION AS OF`, rewrite input or change window — plans
    * an EXPLICIT manifest file set here, never a listing of `data/`. A
    * V1 scan that keeps manifest-bounds file skipping at PLANNING time:
    * the relation's
    * [[org.apache.spark.sql.graft.GraftPruningFileIndex]] lowers whatever
    * data filters the optimizer pushes into the scan against `stats` and
    * drops provably-disjoint files. The v1 stack (not DSv2) because the
    * hidden `_metadata` columns the deletion-vector anti-join keys on
    * only resolve there — this is what lets a selective predicate over a
    * DV-carrying table still plan a task set proportional to the matching
    * key range (What DuckLake gets from merging positional-delete files
    * at scan without disabling pruning). */
  private def manifestScan(paths: Seq[String],
      stats: Map[String, Map[String, GraftLake.Bounds]],
      fullSchema: StructType, partDepth: Int,
      basePath: Option[String],
      bloomFor: org.apache.spark.sql.graft.PlanBridge.SimplePred =>
        Option[String => Boolean] = _ => None,
      bucketFor: org.apache.spark.sql.graft.PlanBridge.SimplePred =>
        Option[String => Boolean] = _ => None,
      recomputeWith: Option[TableMeta] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.graft.PlanBridge
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
    // MIXED-LAYOUT guard (mid-incremental-REBUCKET, or a crashed one):
    // files from two layouts carry CONFLICTING partition directory names
    // (`__p_bucket_8_id=` next to `__p_bucket_16_id=`), which Spark's
    // partition discovery refuses in one scan. Partition-source columns
    // are stored IN the data files, so the mixed shape reads every file
    // with NO directory-derived columns (basePath-free: each file is its
    // own leaf) and recomputes the generated `__p_*` columns from the
    // data under the CURRENT layout — one scan, both layouts, exact
    // values. File-key pruning (stats/bloom/bucket) still applies; only
    // directory-constant partition columns are traded for per-row
    // expressions, for the duration of the mixed state.
    for (m <- recomputeWith if partDepth > 0 &&
        !GraftLake.pathsConform(paths, m)) {
      val partNames = GraftLake.partitionFields(m).map(_.name).toSet
      val dataOnly = StructType(
        fullSchema.filterNot(f => partNames.contains(f.name)))
      val flat = manifestScan(paths, stats, dataOnly, partDepth,
        basePath = None, bloomFor, bucketFor)
      return withPartitionCols(flat, m)
        .select(fullSchema.fieldNames.map(n => col(quoted(n))): _*)
    }
    val index = pruningIndex(paths, stats, fullSchema, partDepth, basePath,
      bloomFor, bucketFor)
    val partSchema = index.partitionSpec().partitionColumns
    val dataSchema = StructType(
      fullSchema.filterNot(f => partSchema.fieldNames.contains(f.name)))
    val rel = HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat(), Map.empty)(spark)
    PlanBridge.ofRows(spark, LogicalRelation(rel))
  }

  /** The file index of [[manifestScan]] (and of the DSv2 table a session
    * without GraftExtensions scans): `paths` with their leaf statuses
    * from one listing per directory, pruned at planning time by the data
    * filters pushed into the scan, lowered against `stats` and the bloom
    * and bucket pruners. */
  private[catalog] def pruningIndex(paths: Seq[String],
      stats: Map[String, Map[String, GraftLake.Bounds]],
      fullSchema: StructType, partDepth: Int, basePath: Option[String],
      bloomFor: org.apache.spark.sql.graft.PlanBridge.SimplePred =>
        Option[String => Boolean] = _ => None,
      bucketFor: org.apache.spark.sql.graft.PlanBridge.SimplePred =>
        Option[String => Boolean] = _ => None)
      : org.apache.spark.sql.graft.GraftPruningFileIndex = {
    import org.apache.spark.sql.execution.datasources.FileStatusWithMetadata
    import org.apache.spark.sql.graft.PlanBridge
    val keepFor =
      (filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        if (filters.isEmpty) None
        else {
          val pred0 = filters.map(PlanBridge.catalystPredicate)
            .reduce(PlanBridge.PAnd(_, _))
          val pred =
            if (GraftLake.nullWitnessShadowed(fullSchema))
              GraftLake.stripNullTests(pred0)
            else pred0
          val keep = GraftLake.filePruner(pred)
          val bloomK = bloomFor(pred)
          val bucketK = bucketFor(pred)
          Some((f: FileStatusWithMetadata) => {
            val k = GraftLake.keyOfPath(f.getPath.toString, partDepth)
            keep(stats.getOrElse(k, Map.empty)) && bloomK.forall(_(k)) &&
              bucketK.forall(_(k))
          })
        }
    new org.apache.spark.sql.graft.GraftPruningFileIndex(spark,
      paths.map(new Path(_)), basePath.map("basePath" -> _).toMap,
      Some(fullSchema), keepFor)
  }

  /** [[liveScan]] of snapshot `v` with that snapshot's deletion vectors
    * applied. */
  private def liveRows(name: String, meta: TableMeta, v: Option[Long]): DataFrame =
    applyDvs(name, liveScan(name, meta, v),
      v.fold(Vector.empty[String])(dvsAt(name, _)), meta.partitionExprs.size)

  /** Full view incl. generated partition columns, with deletion vectors
    * applied — the plan the SQL read rule substitutes for every graft
    * relation. Planned against the latest manifest's file set, so file
    * skipping SURVIVES live deletion vectors: pushed predicates still
    * prune, and the DV mask applies per surviving file ((file, position)
    * keys of pruned files never match anything). */
  def readLiveFull(name: String): DataFrame = {
    shallowInfo(name).foreach { case (src, v) =>
      return readVersion(src, v)
    }
    val meta = readMeta(name)
    toLogical(meta.schema, liveRows(name, meta, latestVersion(name)))
  }

  /** A Spark v2 parquet table over an explicit manifest file set, its
    * file index `index` ([[pruningIndex]]: no directory listed beyond the
    * files' own, no listing job) — what a session without GraftExtensions
    * scans through [[GraftCatalog]]. */
  private[catalog] def scanTable(tableName: String, paths: Seq[String],
      schema: StructType,
      index: => org.apache.spark.sql.graft.GraftPruningFileIndex)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable =
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
        tableName, spark,
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(), paths,
        Some(schema),
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]) {
      override lazy val fileIndex
          : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
        index
    }

  /** [[scanTable]] of the latest snapshot's live files under `full` (the
    * catalog's logical view), pruned by manifest bounds, bloom sidecars
    * and bucket directories like [[liveScan]]. */
  private[catalog] def currentScanTable(name: String,
      full: StructType): org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable = {
    val meta = readMeta(name)
    val v = latestVersion(name)
    val paths = v.fold(Seq.empty[String])(liveFilesAt(name, _).map(refPath(name, _)))
    scanTable(name, paths, full, v match {
      case None => pruningIndex(Nil, Map.empty, full, 0, None)
      case Some(vv) => pruningIndex(paths, statsFor(name, vv), full,
        meta.partitionExprs.size, Some(dataDir(name)), bloomPruner(name, _),
        bucketPrunerAt(name, vv, meta, _))
    })
  }

  /** Data-skipping read: like `read(...).filter(predicate)` (identical
    * results, oracle-gated by q102) but the scan is PLANNED against the
    * manifest's per-file numeric bounds — files whose [min, max] ranges
    * cannot satisfy the predicate are never listed, opened, or scheduled.
    * With Z-order/range-clustered layout ([[compact]] `clusterBy`) this
    * is what turns clustering into real I/O savings: at 100 TB a
    * selective predicate plans a task set proportional to the MATCHING
    * key range, not the table. Supported pruning shapes: conjunctions /
    * disjunctions of `col <op> literal` on numeric, date, and timestamp
    * columns (temporal literals — Date/Timestamp/Instant/ISO strings —
    * lower to the epoch day/micros domain the manifest bounds use);
    * anything else falls back to keep-the-file (always safe — the full
    * predicate is re-applied row-level after the scan). */
  def readWhere(name: String, predicate: Column): DataFrame = {
    // shallow clone: correct-but-unpruned — the pinned snapshot read plus
    // a row filter (materialize for skipping-pruned scans)
    shallowInfo(name).foreach { case (src, v) =>
      return readVersion(src, v).filter(predicate)
    }
    val meta = readMeta(name)
    lastVersionCached(name) match {
      case None => read(name).filter(predicate)
      case Some(v) =>
        val stats = statsFor(name, v)
        // one shared lowering (logical names → physical-keyed pruning
        // tree) with the read pruner, bloom probe and metadata-delete
        // proof — they must never disagree on what a predicate covers
        val pred = loweredPhysicalPredicate(meta, predicate)
        val keep = GraftLake.filePruner(pred)
        val bloomK = bloomPruner(name, pred)
        val bucketK = bucketPrunerAt(name, v, meta, pred)
        val scan = liveScan(name, meta, Some(v), { ref =>
          val k = GraftLake.fileKey(ref)
          keep(stats.getOrElse(k, Map.empty)) && bloomK.forall(_(k)) &&
            bucketK.forall(_(k))
        })
        toLogical(meta.schema,
          applyDvs(name, scan, dvsAt(name, v), meta.partitionExprs.size))
          .filter(predicate)
          .select(GraftLake.logicalSchema(meta.schema).fieldNames
            .map(n => col(quoted(n))): _*)
    }
  }

  // ---- write ----

  private[graft] def withPartitionCols(df: DataFrame, meta: TableMeta): DataFrame =
    meta.partitionExprs.foldLeft(df)((d, e) =>
      d.withColumn(e.outputName, e.toColumn))

  /** The reference's single write entry (DucklakeWriter.write): ensure the
    * table, then MERGE when it pre-existed and PKs are configured, else
    * INSERT. `ordering` breaks ties for duplicate PKs within the batch
    * (e.g. the Kafka offset column); arrival order when empty. */
  def write(
      name: String,
      batch: DataFrame,
      partitions: Seq[String] = Nil,
      pks: Seq[String] = Nil,
      ordering: Seq[Column] = Nil,
      exclude: Seq[String] = Nil): Unit = {
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    // logical→physical before the evolution check (same reasoning as the
    // append path); toPhysical is idempotent, so the delegates' own
    // conversion is a no-op
    val batchP =
      if (tableExists(name)) toPhysical(readMeta(name).schema, batch)
      else batch
    val dataSchema = StructType(batchP.schema.filterNot(f => exclude.contains(f.name)))
    val (meta, preExisted) = ensureTable(name, dataSchema, partitions, pks)
    val effectivePks = if (meta.pks.nonEmpty) meta.pks else pks
    if (preExisted && effectivePks.nonEmpty) upsert(name, batchP, ordering)
    else append(name, batchP.drop(exclude: _*))
  }

  /** One write job per table at a time (the reference's flush lock,
    * DucklakeSinkTask.java:769-770): concurrent Spark jobs writing one
    * path share the committer's `_temporary` dir and clobber each other. */
  private def writeLock[T](name: String)(f: => T): T = {
    // every data-dir / manifest mutation funnels through here — ONE seam
    // makes shallow clones read-only without a guard per mutator (a
    // stray staged file in the clone's data dir would corrupt the
    // materialized table later). Two cached map gets steady-state.
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    rawWriteLock(name)(f)
  }

  /** The bare monitor, no writability guard — [[lockedAll]] (transact /
    * pin / clone) must be able to HOLD a shallow table's lock (e.g.
    * [[materializeClone]] locking the clone it is converting) without
    * implying a mutation. */
  private def rawWriteLock[T](name: String)(f: => T): T =
    tableLocks.computeIfAbsent(s"$warehouse/$name/__write", _ => new Object)
      .synchronized(f)

  /** Nested sorted-order lock acquisition shared by [[pin]] and
    * [[transact]] — both must see the same ordering discipline or the
    * deadlock-freedom argument breaks. */
  private def lockedAll[R](sortedNames: List[String])(f: => R): R =
    sortedNames match {
      case Nil => f
      case h :: t => rawWriteLock(h)(lockedAll(t)(f))
    }

  /** A thread inside [[transact]] — nested transact calls acquire locks
    * out of global sorted order (classic ABBA) and are refused. */
  private val inTransact = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Version-vector PIN for snapshot-consistent MULTI-TABLE reads: the
    * current version of every named table, captured under the SAME
    * sorted-order write locks [[transact]] uses — so a pin can never
    * observe a transaction's half-committed state (member A's new
    * snapshot beside member B's old one). Feed the entries to
    * [[readVersion]] and cross-table joins see one point in time even
    * while ingest keeps committing between the reads — the
    * report-over-moving-ingest consistency DuckLake gets from its
    * catalog-level snapshots, file-native here (a pin is just the version
    * vector; pinned snapshots stay readable until [[expireSnapshots]]
    * retention reaps them). */
  def pin(names: Seq[String]): Map[String, Long] = {
    val sorted = names.distinct.sorted
    lockedAll(sorted.toList) {
      sorted.map { n =>
        val vs = versions(n)
        require(vs.nonEmpty, s"cannot pin '$n': the table has no snapshot yet")
        n -> vs.last
      }.toMap
    }
  }

  /** COORDINATED multi-table write transaction: every named table's write
    * lock is held (in sorted order — deadlock-free so long as bodies only
    * write MEMBER tables; nested transact is refused outright, and a body
    * writing a non-member table re-introduces ABBA against another
    * transaction holding it) for the duration of `body`. If `body` throws
    * a non-fatal exception, every member that committed during it rolls
    * back: pre-existing tables via a compensating [[restore]] to their
    * pre-transaction version PLUS their pre-transaction schema/PK/
    * constraint registry (an aborted append's auto-evolution must not
    * survive), tables created inside via [[truncate]] (their created
    * schema remains). Honest contract, weaker than DuckLake's
    * catalog-level ACID (file-native manifests have no cross-table commit
    * record):
    *  - coordination and rollback are SINGLE-PROCESS (this JVM's locks);
    *    cross-process writers to member tables race normally;
    *  - no read isolation: an unpinned reader between two member commits
    *    observes table A's new snapshot before table B's — readers that
    *    need one point in time use [[pin]] + [[readVersion]];
    *  - rollback is COMPENSATION, not erasure: the aborted attempt stays
    *    in the commit history (op "restore") until retention reaps it; a
    *    rollback step that itself fails (e.g. the body vacuumed the
    *    pre-transaction snapshot) is attached as a suppressed exception;
    *  - fatal errors and control-flow throwables (non-local return)
    *    propagate WITHOUT compensation — rolling back heavy Spark jobs on
    *    an OOM/interrupt is unreliable, and a non-local return is not a
    *    failure. */
  def transact[T](names: Seq[String])(body: => T): T = {
    val sorted = names.distinct.sorted
    require(sorted.nonEmpty, "transact needs at least one member table")
    require(!inTransact.get,
      "nested transact is not supported: inner members would be locked " +
        "out of global sorted order (deadlock risk) — pass every member " +
        "to ONE transact call")
    // standing policies stay out of the transaction window (a policy
    // commit inside it would not be in the captured pre-versions), and
    // re-run per member AFTER the locks release — a table written only
    // through transactions must still get its standing maintenance
    val r = GraftLake.withPoliciesSuppressed {
      lockedAll(sorted.toList) { transactBody(sorted)(body) }
    }
    sorted.foreach(runStandingPolicies(_))
    r
  }

  /** [[transact]] for bodies whose member tables have a SINGLE writer —
    * this caller (the streaming-ingest shape: the pipeline owns both its
    * landing table and its index sidecar tables; foreachBatch serializes
    * its triggers). Commit-or-roll-back-together discipline is identical
    * to [[transact]]; the member WRITE LOCKS are not held by the
    * transaction, so the body may write members CONCURRENTLY (each write
    * takes its own table lock as usual — a transact body's thread-held
    * locks would deadlock its own worker threads). The caller asserts no
    * OTHER writer touches the members for the duration; a concurrent
    * [[pin]] may observe a partially-committed member set (use plain
    * transact when readers need that guarantee). */
  def transactOwned[T](names: Seq[String])(body: => T): T = {
    val sorted = names.distinct.sorted
    require(sorted.nonEmpty, "transact needs at least one member table")
    require(!inTransact.get, "nested transact is not supported")
    // standing table-property policies stay out of the transaction
    // window (a compaction/rebucket firing off a member's append inside
    // it would race the coordinator's own commits) and re-run per
    // member after it — unless an OUTER scope (the ingest pipeline's
    // flush) already suppresses, in which case its own post-flush
    // invocation governs
    val r = GraftLake.withPoliciesSuppressed { transactBody(sorted)(body) }
    sorted.foreach(runStandingPolicies(_))
    r
  }

  // ---- cross-process durable transactions (lock files + journal) ----

  private def txnJournalDir = new Path(s"$warehouse/_txn_journal")
  private def txnLockPath(name: String) =
    new Path(s"${tableDir(name)}/_txn.lock")
  private def txnLockTimeoutMs: Long = spark.conf
    .getOption("spark.graft.txn.lockTimeoutMs").map(_.toLong)
    .getOrElse(10L * 60 * 1000)

  /** Missed-heartbeat window after which a journaled coordinator is
    * considered gone and its transaction is compensated — CROSS-HOST
    * liveness (the pid check is single-host: a remote coordinator's pid
    * means nothing here, and waiting out the full lock timeout stalls
    * every writer for minutes). The coordinator renews the journal's
    * mtime every [[txnHeartbeatIntervalMs]]; a SUSPENDED (not dead)
    * coordinator stops renewing, gets taken over at this timeout, and on
    * resume is FENCED: its post-takeover commits are detected via the
    * broken locks and compensated (best-effort — the fence check and the
    * compensation are not one atomic step; a third coordinator's
    * concurrent state is left alone). */
  private def txnHeartbeatTimeoutMs: Long = spark.conf
    .getOption("spark.graft.txn.heartbeatTimeoutMs").map(_.toLong)
    .getOrElse(15000L)

  private def txnHeartbeatIntervalMs: Long = spark.conf
    .getOption("spark.graft.txn.heartbeatMs").map(_.toLong)
    .getOrElse(math.max(1000L, txnHeartbeatTimeoutMs / 3))

  /** Renew the coordinator lease: bump the journal's mtime (one metadata
    * call); filesystems without setTimes get an atomic same-content
    * rewrite instead. Best-effort — a missed beat only narrows the
    * takeover margin, never correctness. `stillBeating` gates the
    * rewrite FALLBACK right before it publishes: the coordinator joins
    * the beat thread before deleting the journal at commit, but a
    * fallback racing that shutdown must never re-create a journal the
    * commit just deleted (the next recovery would compensate an
    * already-committed transaction). */
  private def touchTxnJournal(p: Path,
      stillBeating: () => Boolean = () => true): Unit = {
    val f = fs(p)
    try f.setTimes(p, System.currentTimeMillis(), -1)
    catch {
      case e: Exception =>
        log.debug(s"lease renewal of $p: setTimes failed, rewriting the journal instead", e)
        try if (f.exists(p)) {
          val in = f.open(p)
          val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val tmp = new Path(txnJournalDir, s".${p.getName}.${UUID.randomUUID()}.tmp")
          val out = f.create(tmp, true)
          try out.write(raw.getBytes("UTF-8")) finally out.close()
          // re-check right before publishing: a stop (commit in progress)
          // or a takeover's journal delete between the read above and here
          // must win — the rewrite is only a lease renewal, never a
          // resurrection
          if (stillBeating() && f.exists(p)) replaceAtomic(f, tmp, p)
          else f.delete(tmp, false)
        } catch {
          case e2: Exception =>
            log.debug(s"lease renewal of $p skipped: the journal rewrite failed", e2)
        }
    }
  }

  /** [[transact]] upgraded to a CROSS-PROCESS contract — the reference
    * inherits multi-table ACID from its PostgreSQL catalog
    * (DucklakeConnectionFactory.java:64-70); this is the file-native
    * equivalent: per-member LOCK FILES (atomic create-if-absent, acquired
    * in the global sorted order) exclude other durable coordinators, and
    * a PERSISTED JOURNAL (`_txn_journal/<txnId>.json`, written before the
    * body runs: members, pre-versions, pre-meta) makes a crashed
    * coordinator's partial transaction detectable — the next durable
    * writer (or an explicit [[recoverStaleTransactions]]) compensates it
    * exactly like the in-process rollback (restore pre-versions, revert
    * registry evolution, reset exactly-once watermarks) and breaks the
    * dead locks. Takeover requires the holder process to be DEAD
    * (ProcessHandle liveness — a SINGLE-HOST check: coordinators on other
    * machines sharing the warehouse are protected only by the journal-age
    * timeout, so size `spark.graft.txn.lockTimeoutMs` (default 10 min)
    * comfortably above the longest transaction when multiple hosts
    * write). FENCING: before the coordinator commits (journal delete), it
    * re-verifies it still owns every member lock — if a takeover
    * (timeout misfire on a slow-but-alive coordinator, pid reuse) already
    * rolled the members back, the coordinator COMPENSATES its own
    * post-takeover commits back to the journaled pre-state (restoring
    * all-members-rolled-back, the recoverer's intent) and fails loudly
    * instead of leaving half a transaction. Remaining honest caveats:
    * plain single-table cross-process appends do not consult the locks
    * (they race normally, as before — and a rollback discards what they
    * wrote between the body's commits and the compensation, same as the
    * in-process contract); readers get no isolation (use [[pin]]). */
  def transactDurable[T](names: Seq[String])(body: => T): T = {
    val sorted = names.distinct.sorted
    require(sorted.nonEmpty, "transact needs at least one member table")
    require(!inTransact.get, "nested transact is not supported")
    recoverStaleTransactions() // heal any dead coordinator first
    val txnId = UUID.randomUUID().toString
    acquireTxnLocks(sorted, txnId)
    // standing policies stay out of the journal window: a policy commit
    // the journaled pre-versions know nothing about would be destroyed
    // (or compensated past) by crash recovery
    val out = try GraftLake.withPoliciesSuppressed { lockedAll(sorted.toList) {
      // journal INSIDE the in-process locks: the journaled pre-versions
      // must equal the ones transactBody captures — a same-process append
      // sneaking in between would otherwise be destroyed by crash
      // recovery (it restores the JOURNALED versions)
      val pre: Map[String, Option[Long]] =
        sorted.map(n => n -> versions(n).lastOption).toMap
      val preMeta: Map[String, Option[TableMeta]] =
        sorted.map(n =>
          n -> (if (pre(n).isDefined) scala.util.Try(readMeta(n)).toOption
                else None)).toMap
      writeTxnJournal(txnId, sorted, pre)
      // LEASE heartbeat: renew the journal's mtime while the body runs,
      // so takeover keys on MISSED HEARTBEATS (seconds) instead of total
      // journal age — a long healthy transaction never looks stale, and
      // a crashed/suspended remote coordinator is detected cross-host
      // without waiting out the full lock timeout
      val stopBeat = new java.util.concurrent.atomic.AtomicBoolean(false)
      val beat = new Thread(() => {
        val jp = new Path(txnJournalDir, s"$txnId.json")
        var interrupted = false
        while (!stopBeat.get && !interrupted) {
          try Thread.sleep(txnHeartbeatIntervalMs)
          catch { case _: InterruptedException => interrupted = true }
          if (!stopBeat.get && !interrupted)
            touchTxnJournal(jp, () => !stopBeat.get)
        }
      }, s"graft-txn-heartbeat-${txnId.take(8)}")
      beat.setDaemon(true)
      beat.start()
      // the beat must be fully STOPPED (joined, not just signalled)
      // before the fence check and the journal delete: on filesystems
      // where setTimes fails, a touch's read-then-rewrite fallback racing
      // the delete could re-create the journal, and the next recovery
      // would compensate an already-committed transaction
      def stopHeartbeat(): Unit = {
        stopBeat.set(true)
        beat.interrupt()
        try beat.join(10000)
        catch { case _: InterruptedException =>
          Thread.currentThread().interrupt() }
      }
      var journalLive = true
      try {
        val result =
          try transactBody(sorted)(body) finally stopHeartbeat()
        // FENCE: a takeover has already compensated the members and
        // deleted the journal; any commit this coordinator landed AFTER
        // the takeover must not survive as half a transaction — roll the
        // members back to the journaled pre-state (the recoverer's
        // intent) before failing. Best-effort: a third coordinator that
        // legitimately started after the takeover holds the locks now
        // and its state is left alone (compensation skips mismatches
        // conservatively by restoring only past our own pre-versions).
        if (!ownsAllTxnLocks(sorted, txnId)) {
          val fence = new IllegalStateException(
            s"transaction $txnId was fenced out: a recovery broke its " +
              "locks and rolled its members back — this coordinator's " +
              "post-takeover commits were compensated and its result is void")
          sorted.foreach { n =>
            try compensateMember(n, pre(n), preMeta(n))
            catch { case r: Throwable => fence.addSuppressed(r) }
          }
          throw fence
        }
        deleteTxnJournal(txnId)
        journalLive = false
        result
      } catch {
        case e: Throwable =>
          // in-process failure: transactBody compensated — UNLESS a
          // rollback step itself failed (tagged suppressed marker), in
          // which case the journal must SURVIVE as the retry record
          // (recoverStaleTransactions finishes the compensation once
          // this coordinator exits or the timeout passes)
          val rollbackIncomplete = e.getSuppressed.exists(
            _.isInstanceOf[GraftLake.RollbackStepFailed])
          if (journalLive && !rollbackIncomplete &&
              ownsAllTxnLocks(sorted, txnId))
            try deleteTxnJournal(txnId)
            catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      } finally stopHeartbeat() // idempotent; already joined on both paths
    } } finally releaseTxnLocks(sorted, txnId)
    // standing maintenance for tables written only through durable
    // transactions — after the journal is closed and every lock is
    // released (policy commits must never enter the recovery window);
    // reached only when the body committed, loud on malformed
    // properties like every other write path
    sorted.foreach(runStandingPolicies(_))
    out
  }

  private def atomicCreate(p: Path, content: String): Boolean = {
    val f = fs(p)
    if (f.getScheme == "file") {
      // POSIX createNewFile IS atomic; Hadoop's create(overwrite=false)
      // on the local FS is check-then-create (a TOCTOU window two racing
      // coordinators could both win)
      val jf = new java.io.File(p.toUri.getPath)
      jf.getParentFile.mkdirs()
      if (!jf.createNewFile()) return false
      java.nio.file.Files.write(jf.toPath, content.getBytes("UTF-8"))
      true
    } else {
      try {
        val out = f.create(p, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  private def acquireTxnLocks(sorted: Seq[String], txnId: String): Unit = {
    val me = ProcessHandle.current().pid()
    val deadline = System.nanoTime() +
      math.max(txnLockTimeoutMs, 60000L) * 1000000L
    val held = scala.collection.mutable.ListBuffer[String]()
    try sorted.foreach { n =>
      var got = false
      var waitMs = 50L
      while (!got) {
        got = atomicCreate(txnLockPath(n),
          s"""{"txn":"$txnId","pid":$me}""")
        if (!got) {
          // a holder exists: break it if ORPHANED (dead pid and/or no
          // journal — a coordinator that crashed between lock creation
          // and the journal write leaves a lock no journal-driven
          // recovery would ever see), run a full recovery sweep for
          // journaled dead holders, else back off and wait
          breakOrphanLock(n)
          recoverStaleTransactions()
          if (System.nanoTime() > deadline) throw new IllegalStateException(
            s"could not acquire transaction lock on '$n' (live holder)")
          Thread.sleep(waitMs)
          waitMs = math.min(waitMs * 2, 2000L) // exponential backoff
        }
      }
      held += n
    } catch {
      case e: Throwable => releaseTxnLocks(held.toSeq, txnId); throw e
    }
  }

  private val LockPid = """"pid":(\d+)""".r.unanchored
  private val LockTxn = """"txn":"([^"]+)"""".r.unanchored

  /** Break a lock whose holder died WITHOUT a journal (crash between lock
    * creation and the journal write): no compensation is needed — the
    * transaction never started mutating — the lock just has to go, or
    * every later coordinator waits out the full timeout against a ghost.
    * An unparseable (e.g. crash-mid-write, empty) lock is broken once its
    * mtime exceeds the takeover timeout. Journaled holders are left for
    * [[recoverStaleTransactions]] (which compensates BEFORE breaking). */
  private def breakOrphanLock(n: String): Unit = {
    val p = txnLockPath(n)
    val f = fs(p)
    try {
      if (!f.exists(p)) return
      val st = f.getFileStatus(p)
      val in = f.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val pid = LockPid.findFirstMatchIn(raw).map(_.group(1).toLong)
      val txn = LockTxn.findFirstMatchIn(raw).map(_.group(1))
      val journaled = txn.exists(t =>
        f.exists(new Path(txnJournalDir, s"$t.json")))
      if (journaled) return // recovery owns this case
      val alive = pid.exists(x =>
        ProcessHandle.of(x).map[java.lang.Boolean](h =>
          java.lang.Boolean.valueOf(h.isAlive)).orElse(java.lang.Boolean.FALSE))
      val ageMs = System.currentTimeMillis() - st.getModificationTime
      // dead-pid + no journal → safe after a short grace (the pid check is
      // single-host: a REMOTE coordinator between lock and journal write
      // would read as 'dead' — 5 s comfortably covers that ms-sized
      // window); unparseable/foreign locks only age out on the timeout
      if ((pid.isDefined && !alive && ageMs > 5000L) ||
        ageMs > txnLockTimeoutMs) f.delete(p, false)
    } catch { case _: java.io.IOException => () }
  }

  private def ownsAllTxnLocks(sorted: Seq[String], txnId: String): Boolean =
    sorted.forall { n =>
      val p = txnLockPath(n)
      val f = fs(p)
      f.exists(p) && {
        val in = f.open(p)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        raw.contains(s""""txn":"$txnId"""")
      }
    }

  private def releaseTxnLocks(sorted: Seq[String], txnId: String): Unit =
    sorted.foreach { n =>
      try {
        if (ownsAllTxnLocks(Seq(n), txnId))
          fs(txnLockPath(n)).delete(txnLockPath(n), false)
      } catch { case _: java.io.IOException => () }
    }

  private def writeTxnJournal(txnId: String, sorted: Seq[String],
      preVersions: Map[String, Option[Long]]): Unit = {
    val enc = java.util.Base64.getEncoder
    val members = sorted.map { n =>
      val pre = preVersions(n).getOrElse(-1L)
      val metaB64 =
        if (pre >= 0 || tableExists(n))
          scala.util.Try(enc.encodeToString(
            GraftLake.renderMeta(readMeta(n)).getBytes("UTF-8")))
            .getOrElse("")
        else ""
      s"""{"name":"$n","pre":$pre,"meta":"$metaB64"}"""
    }.mkString("[", ",", "]")
    val p = new Path(txnJournalDir, s"$txnId.json")
    val f = fs(p)
    f.mkdirs(txnJournalDir)
    val tmp = new Path(txnJournalDir, s".$txnId-${UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write((s"""{"txn":"$txnId","pid":${ProcessHandle.current().pid()},""" +
      s""""host":"${GraftLake.coordinatorHost(spark)}",""" +
      s""""members":$members}""").getBytes("UTF-8"))
    finally out.close()
    replaceAtomic(f, tmp, p)
  }

  private def deleteTxnJournal(txnId: String): Unit = {
    val p = new Path(txnJournalDir, s"$txnId.json")
    fs(p).delete(p, false)
  }

  private val JournalMember =
    """\{"name":"([^"]+)","pre":(-?\d+),"meta":"([^"]*)"\}""".r
  private val JournalHead = """"pid":(\d+)""".r.unanchored
  private val JournalHost = """"host":"([^"]*)"""".r.unanchored

  /** Detect and compensate transactions whose coordinator DIED (or whose
    * journal exceeded the takeover timeout): each member restores to its
    * journaled pre-version (truncate when it did not exist), registry
    * evolution reverts to the journaled meta, exactly-once watermarks
    * reset to the pre-version's — the same discipline as the in-process
    * rollback — then the dead coordinator's locks and journal are
    * removed. Returns how many transactions were compensated. Runs
    * automatically at the start of every [[transactDurable]]; public for
    * manual healing. */
  def recoverStaleTransactions(): Int = {
    val dir = txnJournalDir
    val f = fs(dir)
    if (!f.exists(dir)) return 0
    var recovered = 0
    f.listStatus(dir).filter(_.getPath.getName.endsWith(".json")).foreach { s =>
      val in = f.open(s.getPath)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val holderPid = JournalHead.findFirstMatchIn(raw).map(_.group(1).toLong)
      val holderHost = JournalHost.findFirstMatchIn(raw).map(_.group(1))
      val myHost = GraftLake.coordinatorHost(spark)
      val sameHost = holderHost.contains(myHost) && myHost.nonEmpty
      val alive = holderPid.exists(pid =>
        ProcessHandle.of(pid).map[java.lang.Boolean](h =>
          java.lang.Boolean.valueOf(h.isAlive)).orElse(java.lang.Boolean.FALSE))
      val age = System.currentTimeMillis() - s.getModificationTime
      // Takeover rules, keyed by the HOST the journal records:
      //  - same host: pid liveness is authoritative — a dead pid is taken
      //    over immediately, a LIVE pid is trusted (a driver GC pause or
      //    a silently-failing touchTxnJournal must never get a healthy
      //    local coordinator's committed work rolled back after it
      //    reported success); the full lock timeout stays as the pid-reuse
      //    safety net.
      //  - foreign/unknown host: the pid check is MEANINGLESS (another
      //    machine's pid number may or may not match a local process), so
      //    the missed-heartbeat age decides alone — a crashed OR suspended
      //    remote holder is detected in seconds instead of the lock
      //    timeout's minutes, and a suspended holder that resumes
      //    post-takeover is fenced by the broken locks.
      val stale =
        if (sameHost) !alive || age > math.max(txnHeartbeatTimeoutMs,
          txnLockTimeoutMs)
        else age > txnHeartbeatTimeoutMs
      if (stale) {
        val txnId = s.getPath.getName.stripSuffix(".json")
        val dec = java.util.Base64.getDecoder
        var allOk = true
        JournalMember.findAllMatchIn(raw).foreach { m =>
          val n = m.group(1)
          val pre = m.group(2).toLong
          val preMeta =
            if (m.group(3).isEmpty) None
            else scala.util.Try(GraftLake.parseMeta(
              new String(dec.decode(m.group(3)), "UTF-8"))).toOption
          invalidateTable(n) // the dead coordinator committed externally
          val memberOk =
            try {
              compensateMember(n, if (pre < 0) None else Some(pre), preMeta)
              true
            } catch {
              case scala.util.control.NonFatal(e) =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"recovery of '$n' (txn $txnId) failed: $e")
                false
            }
          // break the dead coordinator's lock ONLY once this member is
          // healed — a still-locked member keeps later coordinators out
          // of a half-compensated table until a retry heals it
          if (memberOk) {
            val lp = txnLockPath(n)
            try {
              if (f.exists(lp)) {
                val lin = f.open(lp)
                val lraw = try scala.io.Source.fromInputStream(lin, "UTF-8")
                  .mkString finally lin.close()
                if (lraw.contains(s""""txn":"$txnId"""")) f.delete(lp, false)
              }
            } catch { case _: java.io.IOException => () }
          } else allOk = false
        }
        // the journal is the RETRY RECORD: it leaves only when every
        // member compensated (a partial delete would freeze the failed
        // member's partial commit in place forever — atomicity violation)
        if (allOk) {
          f.delete(s.getPath, false)
          graft.metrics.GraftMetrics.op("txnRecovered").record(0L)
          recovered += 1
        }
      }
    }
    recovered
  }

  /** Roll ONE member back to a pre-transaction state: version restore
    * (truncate when it did not exist), registry-meta revert (restore
    * keeps the current schema by design — rollback must also revert
    * evolution), exactly-once watermark reset anchored by a full
    * manifest. The watermark reset is SKIPPED when the pre-version's
    * watermarks cannot be resolved (transient IO, corrupt manifest) —
    * defaulting to empty would wipe ALL watermarks and re-land every
    * already-committed idempotent batch on redelivery. Shared by the
    * in-process rollback, crash recovery and fencing self-compensation. */
  private def compensateMember(n: String, pre: Option[Long],
      preMeta: Option[TableMeta]): Unit = {
    if (versions(n).lastOption != pre) pre match {
      case Some(v) => restore(n, v)
      case None => if (tableExists(n)) truncate(n)
    }
    preMeta.foreach { m =>
      if (scala.util.Try(readMeta(n)).toOption.exists(_ != m))
        writeMeta(n, m)
    }
    val preT: Option[Map[String, Long]] = pre match {
      case Some(v) => scala.util.Try(resolveTxns(n, v)).toOption
      case None => Some(Map.empty[String, Long])
    }
    preT.foreach { pt =>
      val nowTxns = versions(n).lastOption
        .map(v => resolveTxns(n, v)).getOrElse(Map.empty)
      if (nowTxns != pt) writeLock(n) {
        commitVersion(n, Nil, Nil, op = "txn-rollback",
          txnsReset = Some(pt))
      }
    }
  }

  private def transactBody[T](sorted: Seq[String])(body: => T): T = {
    {
      val pre: Map[String, Option[Long]] =
        sorted.map(n => n -> versions(n).lastOption).toMap
      val preMeta: Map[String, Option[TableMeta]] =
        sorted.map(n =>
          n -> (if (pre(n).isDefined) scala.util.Try(readMeta(n)).toOption
                else None)).toMap
      inTransact.set(true)
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          // exactly-once watermarks as of the pre-transaction snapshot:
          // restore/truncate deliberately CARRY txn watermarks forward
          // (their own durability contract), but a transaction rollback
          // must revert them too — an aborted idempotent append whose
          // watermark survived would make the stream's REDELIVERY of that
          // batch silently no-op: the rolled-back data would never land
          // anywhere (permanent loss). Resolved HERE, not eagerly:
          // manifests are immutable, so the pre-version's watermarks read
          // the same now as they would have before the body — and the
          // happy path pays zero manifest walks
          sorted.foreach { n =>
            try compensateMember(n, pre(n), preMeta(n))
            catch {
              // the marker type lets transactDurable know its journal
              // must SURVIVE as the crash-recovery retry record
              case r: Throwable =>
                e.addSuppressed(new GraftLake.RollbackStepFailed(n, r))
            }
          }
          throw e
      } finally inTransact.set(false)
    }
  }

  /** Plain INSERT path (W3): conform + `_inserted_at = now()` + append.
    * The batch lands in a stage dir and its part files are renamed into
    * `data/` — the renames are how the commit knows EXACTLY which files it
    * added (the O(delta) manifest input) without ever listing the table. */
  def append(name: String, batch: DataFrame): Unit =
    appendTxn(name, batch, txn = None)

  /** Standing per-table maintenance policies carried as `graft.policy.*`
    * TABLE PROPERTIES — the IngestConfig policies (auto-compaction,
    * auto-rebucket, snapshot retention) for tables whose writers are NOT
    * the ingest pipeline: SQL INSERT/MERGE sessions, the streaming sink,
    * plain engine callers. Without this, only pipeline-fed tables get a
    * standing layout policy; a 100 TB table fed by the sink would
    * accumulate small files and oversized buckets with no one polling.
    * Probes are the same cheap signals the pipeline polls (commit-cache
    * file count; manifest footer row means; version count), run AFTER
    * the triggering write releases its lock. Execution failures of the
    * advisory kind (a lost rebucket race) defer to the next write;
    * malformed property VALUES fail loudly — a typo'd policy silently
    * not running is the worse failure.
    *
    * `exclude` lets the ingest pipeline keep its config-first contract:
    * it suppresses these hooks during its own flushes
    * ([[GraftLake.withPoliciesSuppressed]]) and re-invokes post-flush
    * with the kinds its IngestConfig already handled excluded. */
  private[graft] def runStandingPolicies(name: String,
      exclude: Set[String] = Set.empty): Unit = {
    if (GraftLake.policiesSuppressed.get()) return
    // an unreadable meta defers every policy like a failed execution
    // does: the triggering write has committed and must not fail, but the
    // stalled maintenance must be visible
    val props =
      try { if (!tableExists(name)) return else readMeta(name).props }
      catch {
        case scala.util.control.NonFatal(e) =>
          graft.metrics.GraftMetrics.op("policyDeferred").record(0L)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"standing policies of '$name' deferred to the next write: " +
              s"its metadata is unreadable: $e")
          return
      }
    if (!props.keysIterator.exists(_.startsWith("graft.policy."))) return
    def longProp(k: String): Option[Long] = props.get(k).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"table property $k of '$name' must be an integer, got '$v'")
      }
    }
    def intProp(k: String): Option[Int] = longProp(k).map { v =>
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"table property $k of '$name' is out of range: $v")
      v.toInt
    }
    def positive(k: String, v: Option[Long]): Unit = v.foreach(x =>
      require(x > 0, s"table property $k of '$name' must be positive, got $x"))
    // VALUES parse loudly, up front (a typo'd policy silently not
    // running is the worse failure) …
    val compactMin = intProp("graft.policy.autoCompact.minFiles")
    val compactTarget = longProp("graft.policy.autoCompact.targetRecordsPerFile")
    val rbkTarget = longProp("graft.policy.autoRebucket.targetRowsPerBucket")
    val rbkMax = intProp("graft.policy.autoRebucket.maxBuckets")
    val rbkGroups = intProp("graft.policy.autoRebucket.maxGroupsPerCall")
    val keepLast = intProp("graft.policy.retention.keepLast")
    val slack = intProp("graft.policy.retention.slack")
    // positivity is a PARSE-time failure too: a zero/negative bound
    // would otherwise trip an execution require that the advisory catch
    // converts into a silent every-write deferral — the exact "typo'd
    // policy silently not running" this loud path exists to prevent
    positive("graft.policy.autoCompact.minFiles", compactMin.map(_.toLong))
    positive("graft.policy.autoCompact.targetRecordsPerFile", compactTarget)
    positive("graft.policy.autoRebucket.targetRowsPerBucket", rbkTarget)
    positive("graft.policy.autoRebucket.maxBuckets", rbkMax.map(_.toLong))
    positive("graft.policy.autoRebucket.maxGroupsPerCall",
      rbkGroups.map(_.toLong))
    positive("graft.policy.retention.keepLast", keepLast.map(_.toLong))
    slack.foreach(x => require(x >= 0,
      s"table property graft.policy.retention.slack of '$name' must be " +
        s"non-negative, got $x"))
    // … but EXECUTION failures are advisory across all three kinds: the
    // triggering write has already committed, and an at-least-once
    // caller that sees its committed append "fail" on a lost
    // maintenance race would retry and duplicate. Defer to the next
    // write instead (the pipeline's own policy hooks use the same
    // discipline).
    def advisory(kind: String)(f: => Unit): Unit =
      try f catch {
        case scala.util.control.NonFatal(e) =>
          graft.metrics.GraftMetrics.op("policyDeferred").record(0L)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"standing $kind of '$name' deferred to the next write: $e")
      }
    // policies must not re-trigger off their own commits (compaction is
    // a rewrite, not an append — but guard the whole section anyway)
    GraftLake.policiesSuppressed.set(true)
    try {
      if (!exclude("autoCompact"))
        for (minFiles <- compactMin)
          if (liveFileCount(name) >= minFiles)
            advisory("auto-compaction") {
              graft.metrics.GraftMetrics.time(
                  graft.metrics.GraftMetrics.AutoCompact) {
                compact(name, compactTarget.getOrElse(maxRecordsPerFile))
              }
            }
      if (!exclude("autoRebucket"))
        for (target <- rbkTarget)
          try maybeAutoRebucket(name, target,
            rbkMax.getOrElse(65536), rbkGroups.getOrElse(4))
          catch {
            // the pipeline's counter name, NonFatal only (a fatal error
            // must fail the caller and not read as a benign deferral)
            case scala.util.control.NonFatal(e) =>
              graft.metrics.GraftMetrics.op("autoRebucketDeferred").record(0L)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"standing auto-rebucket of '$name' deferred to the " +
                  s"next write: $e")
          }
      if (!exclude("retention"))
        for (keep <- keepLast)
          if (versions(name).size >= keep + slack.getOrElse(16))
            advisory("retention") { expireSnapshots(name, keep) }
    } finally GraftLake.policiesSuppressed.set(false)
  }

  /** IDEMPOTENT append — the exactly-once upgrade for at-least-once
    * delivery (Delta's txnAppId/txnVersion pattern): the commit records
    * `(appId, txnVersion)` IN THE MANIFEST, atomically with the data, so
    * a redelivered batch (same app, same-or-lower version) is detected
    * and skipped — across restarts, checkpoint re-anchoring (expiry) and
    * repair, because the watermark is snapshot state, not a sidecar a
    * crash can decouple from the commit. Versions must be monotonic per
    * appId (Structured Streaming's batchId is). Returns true when the
    * batch applied, false when it was a duplicate. Keyed tables get the
    * same effect from PK upsert; this is the append-table half. */
  def appendIdempotent(name: String, batch: DataFrame, appId: String,
      txnVersion: Long, partitions: Seq[String] = Nil,
      pks: Seq[String] = Nil, legacyAppId: Option[String] = None): Boolean =
    writeLock(name) {
    if (applied(name, appId, txnVersion, legacyAppId)) false
    else {
      appendTxn(name, batch, Some((appId, txnVersion)), partitions, pks)
      true
    }
  }

  /** Whether the table's watermark for `appId` is at or past
    * `txnVersion`. `legacyAppId`: a PRIOR spelling of the same
    * idempotence scope (the sink's pre-normalization checkpoint-string
    * appId). When the current scope has no watermark yet, the legacy one
    * is adopted — otherwise an appId rename across an upgrade would reset
    * the watermark and let a WAL-replayed epoch land twice, the exact
    * duplicate the scope exists to prevent. Once a commit lands under the
    * new scope, the new watermark takes over and the legacy entry goes
    * inert. */
  private def applied(name: String, appId: String, txnVersion: Long,
      legacyAppId: Option[String] = None): Boolean =
    tableExists(name) && lastTxnVersion(name, appId).orElse(
      legacyAppId.filter(_ != appId).flatMap(lastTxnVersion(name, _))).exists(_ >= txnVersion)

  /** [[append]], or under `txn` the exactly-once append of
    * [[appendIdempotent]], that commits nothing when the staged files
    * hold no row. Returns the rows it committed, summed from the footer
    * row counts the write collected (no count job); None when `txn` is at
    * or below the table's watermark. */
  def appendCounted(name: String, batch: DataFrame,
      txn: Option[(String, Long)]): Option[Long] = writeLock(name) {
    if (txn.exists { case (app, v) => applied(name, app, v) }) None
    else Some(appendTxn(name, batch, txn, counted = true))
  }

  /** `counted`: count the rows staged and commit nothing when there are
    * none. Returns the rows committed when `counted`, else -1. */
  private def appendTxn(name: String, batch: DataFrame,
      txn: Option[(String, Long)], partitions: Seq[String] = Nil,
      pks: Seq[String] = Nil, counted: Boolean = false): Long = {
    val rows = try appendTxnOnce(name, batch, txn, partitions, pks, counted)
    catch {
      // the commit's layout validation refused the staged files (a
      // concurrent REBUCKET changed the partition layout while this
      // append was staging — commitVersion already deleted the staged
      // files): appends commute, so re-derive under the fresh
      // layout and retry once; a second refusal means rebuckets are
      // racing each other and deserves the loud failure
      case _: java.util.ConcurrentModificationException =>
        graft.metrics.GraftMetrics.op("appendLayoutRetry").record(0L)
        appendTxnOnce(name, batch, txn, partitions, pks, counted)
    }
    runStandingPolicies(name)
    rows
  }

  private def appendTxnOnce(name: String, batch: DataFrame,
      txn: Option[(String, Long)], partitions: Seq[String],
      pks: Seq[String], counted: Boolean): Long = {
    // before ensureTable: schema evolution must not touch a read-only
    // clone's meta either (writeLock would catch the data write later,
    // but by then the registry would have drifted)
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    // logical→physical BEFORE the evolution check: a renamed column's new
    // name must resolve to its frozen physical field, not add a column
    val batchP =
      if (tableExists(name)) toPhysical(readMeta(name).schema, batch)
      else batch
    val (meta, _) = ensureTable(name, batchP.schema, partitions, pks)
    val conformed = conformBatch(batchP, meta)
      .withColumn(InsertedAtCol, InsertStamp.now())
    val out = withPartitionCols(enforceConstraints(meta, conformed), meta)
    writeLock(name) {
      val (added, writeStats) = stageRowsLocked(name, meta, out)
      val rows = if (counted) rowsIn(name, added, writeStats) else -1L
      if (rows == 0) discardUnpublished(name, added)
      else commitVersion(name, added, Nil, writeStats, op = "append", txn = txn,
        assumedLayout = Some(meta.partitions))
      rows
    }
  }

  /** Rows in the data files `added`: their footer row counts, from the
    * write's `stats` or, for a file it did not report, its footer; a count
    * job only where a user column shadows the count key. */
  private def rowsIn(name: String, added: Seq[(String, String)],
      stats: Map[String, Map[String, GraftLake.Bounds]]): Long = {
    def count(s: Map[String, Map[String, GraftLake.Bounds]], ref: (String, String)) =
      s.get(GraftLake.fileKey(ref)).flatMap(_.get(GraftLake.RowCountKey)).collect {
        case GraftLake.NumBounds(n, _) => n.toLong
      }
    val missing = added.filter(count(stats, _).isEmpty)
    val footers = if (missing.isEmpty) Map.empty[String, Map[String, GraftLake.Bounds]]
      else boundsOf(name, missing)
    if (missing.forall(count(footers, _).isDefined))
      added.flatMap(r => count(stats, r).orElse(count(footers, r))).sum
    else spark.read.parquet(added.map(refPath(name, _)): _*).count()
  }

  /** `batch` cast to the table's landed data columns; the columns named in
    * `keep` pass through behind them. */
  private def conformBatch(batch: DataFrame, meta: TableMeta,
      keep: Seq[String] = Nil): DataFrame = {
    val landed = LandedTypes.toLanded(batch)
    LandedTypes.conform(landed, StructType(
      meta.schema.filterNot(_.name == InsertedAtCol) ++
        landed.schema.filter(f => keep.contains(f.name))))
  }

  /** MERGE path (W2/W4/W5), merge-on-read: the batch is PK-deduped
    * last-wins, the live rows holding a batch key are masked by ONE
    * deletion vector, and the batch lands beside them as new files — all
    * in one manifest commit, so no read sees the mask without the rows.
    * `_inserted_at` is preserved on update (each matched target row keeps
    * its own) and set on insert. No existing data file is rewritten or
    * moved: a flush writes its batch and one DV whatever the table size,
    * and a row that moves partition needs no scope (the DV masks its old
    * position wherever it lives). A live DV entry count past
    * `spark.graft.dv.maxEntries` folds the table's DVs back into its files
    * ([[materializeDeletes]]) right after the commit. */
  def upsert(name: String, batch: DataFrame, ordering: Seq[Column] = Nil): Unit = {
    upsertLocked(name, batch, ordering)
    runStandingPolicies(name)
  }

  /** [[upsert]] that REFUSES a batch with duplicate primary keys instead of
    * deduping it last-wins: returns false (table untouched) so the caller
    * can route to ANSI general-merge semantics. Keys compare as they land,
    * after the cast to the table's key types. A proven-unique batch also
    * skips the last-wins dedup window. */
  def upsertIfUniquePks(name: String, batch: DataFrame): Boolean = {
    val applied = upsertLocked(name, batch, Nil, refuseDuplicates = true)
    if (applied) runStandingPolicies(name)
    applied
  }

  /** Returns false only when `refuseDuplicates` is set and the batch holds
    * duplicate PKs (nothing written); true otherwise. */
  private def upsertLocked(name: String, batch: DataFrame,
      ordering: Seq[Column], refuseDuplicates: Boolean = false): Boolean =
      writeLock(name) {
    val meta = readMeta(name)
    require(meta.pks.nonEmpty, s"upsert on '$name' requires configured PKs")
    val pks = meta.pks
    val pkCols = pks.map(c => col(quoted(c)))
    val landed = toPhysical(meta.schema, batch)
    // the batch's landed keys: up to KeyProbeCap of them on the driver,
    // where they feed the probe as a local relation and, up to
    // BucketHashCap, pick the files that can hold one (bucket pruning); a
    // larger batch probes against its own keys
    val keys = conformBatch(landed, meta).select(pkCols: _*)
    val keyRows = keys.coalesce(1).limit(GraftLake.KeyProbeCap + 1).collect()
    val small = keyRows.length <= GraftLake.KeyProbeCap
    // a batch within KeyProbeCap is one task's work: coalesced at its
    // source, the last-wins window needs no exchange and its rows are
    // written without one (the writer's partition sort still gives each
    // touched bucket one file); a larger batch keeps its parallelism
    val batchP = if (small) landed.coalesce(1) else landed
    // W4: dedup duplicate PKs within the batch — last wins — on the keys
    // as they land (after the conform cast), ordered by `ordering` (e.g.
    // the Kafka offset, not landed: it rides through the conform as a
    // hidden column) or arrival order. Under `refuseDuplicates` the window
    // is skipped: the check below proves uniqueness first (or refuses).
    val deduped = enforceConstraints(meta,
      if (refuseDuplicates) conformBatch(batchP, meta)
      else {
        val ord = (if (ordering.nonEmpty) ordering
          else Seq(monotonically_increasing_id())).zipWithIndex
          .map { case (c, i) => s"__graft_ord_$i" -> c }
        val w = org.apache.spark.sql.expressions.Window.partitionBy(pkCols: _*)
          .orderBy(ord.map(o => col(o._1).desc): _*)
        conformBatch(batchP.withColumns(ord.toMap), meta, keep = ord.map(_._1))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn" +: ord.map(_._1): _*)
      })
    val distinctKeys = keyRows.distinctBy(GraftLake.groupingKey)
    if (refuseDuplicates && (
        if (small) distinctKeys.length != keyRows.length
        else !keys.groupBy(pkCols: _*).count()
          .filter(col("count") > 1).limit(1).isEmpty)) return false
    val keyFrame =
      if (small) broadcast(spark.createDataFrame(
        java.util.Arrays.asList(distinctKeys: _*), keys.schema))
      else keys
    val within =
      if (distinctKeys.length > GraftLake.BucketHashCap) None
      else scala.util.Try {
        val zone = spark.conf.get("spark.sql.session.timeZone",
          java.time.ZoneId.systemDefault().getId)
        distinctKeys.map(r => pks.indices.map(i => pkCols(i) === lit(r.get(i)))
          .reduce(_ && _)).reduceOption(_ || _)
          .map(org.apache.spark.sql.graft.PlanBridge.simplePredicate(_, meta.schema, zone))
      }.toOption.flatten // a key value without a literal form prunes nothing
    // the live rows holding a batch key, column-pruned by their consumers
    // and semi-joined map-side against the batch keys
    val matched = liveKeyedScanLocked(name, meta, within = within)
      .map(live => toPhysical(meta.schema, live).join(keyFrame, pks, "left_semi"))
    val nowExpr = InsertStamp.now()
    val dvStage = new Path(s"${tableDir(name)}/.dvstage-${UUID.randomUUID()}")
    val f = fs(dvStage)
    try {
      // the hit set is batch-bounded: one sidecar file in any session
      val n = matched.map(stageDvKeys(_, dvStage, oneFile = true)).getOrElse(0L)
      val tIns = "__graft_t_inserted_at"
      val fields = meta.schema.fieldNames.map(c => col(quoted(c))).toSeq
      // the batch rows, each with the `_inserted_at` of the target row it
      // matched (`tIns`, null for an insert): one output row per matched
      // target row, so a duplicate target PK becomes one copy of the
      // batch winner per target row, each keeping that row's own stamp
      val rows = (
        if (n == 0L) deduped.withColumn(tIns, lit(null).cast(TimestampType))
        else {
          val stamps = matched.get.select(pkCols :+ col(InsertedAtCol).as(tIns): _*)
          deduped.join(if (small) broadcast(stamps) else stamps, pks, "left_outer")
        })
        .withColumn(InsertedAtCol, coalesce(col(tIns), nowExpr))
        .select(fields :+ col(tIns): _*)
      // CHANGE CAPTURE: the matched rows are the preimages, the batch rows
      // the postimages (matched) and inserts — written before the commit
      // that references them
      val changeFiles =
        if (!meta.cdfEnabled) Nil
        else {
          val ct = GraftLake.ChangeTypeCol
          val post = rows.withColumn(ct, when(col(tIns).isNull, lit("insert"))
            .otherwise(lit("update_postimage"))).drop(tIns)
          writeChangeFiles(name, meta,
            if (n == 0L) post
            else matched.get.select(fields: _*)
              .withColumn(ct, lit("update_preimage")).unionByName(post))
        }
      val (added, addedStats) = stageRowsLocked(name, meta,
        withPartitionCols(rows.drop(tIns), meta), distribute = !small)
      val dvNames = if (n == 0L) Nil else publishDvStage(name, dvStage)
      val before = if (n == 0L) 0L else dvEntryCountCached(name, liveDvs(name))
      commitVersion(name, added, Nil, addedStats, op = "upsert",
        dvAdded = dvNames, changes = changeFiles,
        assumedLayout = Some(meta.partitions))
      if (n > 0L) {
        noteDvCommit(name, before, n)
        if (before + n > dvMaxEntries) materializeDeletesLocked(name)
      }
      true
    } finally f.delete(dvStage, true)
  }

  /** Stage the (file key, row position) of every row of `rows` (a
    * [[liveKeyedScanLocked]] frame) as a DV sidecar under `stage`;
    * returns their count, from the footer row counts the commit protocol
    * collected (a count job only where it collected none). `oneFile`, for
    * a hit set bounded by a batch, shuffles it into one file. Otherwise
    * REBALANCE, not repartition(1): AQE coalesces the typical tiny hit set
    * to one file, while an unexpectedly huge one keeps write parallelism —
    * and the scan keeps its own parallelism either way. AQE-off sessions
    * skip the (then-unresolvable) hint: a few more tiny sidecar files,
    * same contents. */
  private def stageDvKeys(rows: DataFrame, stage: Path,
      oneFile: Boolean = false): Long = {
    val hits = rows.select(col(keyC).as("file_key"), col(posC).as("pos"))
    val staged =
      if (oneFile) hits.repartition(1)
      else if (spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean)
        hits.hint("rebalance")
      else hits
    lakeWriter(staged).parquet(stage.toString)
    val stats = org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
    val files = fs(stage).listStatus(stage).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    val counts = files.map(stats.get(_).flatMap(_.get(GraftLake.RowCountKey)))
    if (counts.forall(_.isDefined)) counts.flatten.collect {
      case GraftLake.NumBounds(n, _) => n.toLong
    }.sum
    else spark.read.schema(GraftLake.dvSchema).parquet(stage.toString).count()
  }

  /** Move a [[stageDvKeys]] stage's files under `_dv/`; returns their
    * names for the commit's `dvAdded`. */
  private def publishDvStage(name: String, stage: Path): Seq[String] = {
    val f = fs(stage)
    val dd = dvDir(name)
    f.mkdirs(dd)
    f.listStatus(stage).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val dv = s"dv-${UUID.randomUUID()}.parquet"
        renameOrFail(f, s.getPath, new Path(dd, dv))
        dv
      }
  }

  /** Land `out` (physical columns, partition columns attached) through
    * the append machinery — stats collected by the commit protocol,
    * partition dirs derived from the row values — without committing.
    * Returns the commit's add-delta and its stats. `distribute = false`
    * writes `out` as it is partitioned, with no [[distributeForWrite]]
    * exchange: for a frame the caller already holds in one task, whose
    * write sorts by partition and so gives each partition one file. */
  private def stageRowsLocked(name: String, meta: TableMeta, out: DataFrame,
      distribute: Boolean = true)
      : (Seq[(String, String)], Map[String, Map[String, GraftLake.Bounds]]) = {
    val stage = new Path(s"${tableDir(name)}/.stage-${UUID.randomUUID()}")
    try {
      val arranged = if (distribute) distributeForWrite(out, meta) else out
      val writer = lakeWriter(arranged).option("maxRecordsPerFile", maxRecordsPerFile)
      val parted =
        if (meta.partitions.nonEmpty)
          writer.partitionBy(meta.partitionExprs.map(_.outputName): _*)
        else writer
      parted.parquet(stage.toString)
      val writeStats = org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
      (mergeStageInto(stage, new Path(dataDir(name))), writeStats)
    } finally fs(stage).delete(stage, true)
  }

  /** Replace the entire table contents with `df` (must carry exactly the
    * table's user schema — typed columns incl. `_inserted_at`). Staged
    * write committed as the table's whole live set; partition columns are
    * recomputed from the new row values. Its callers replace a table by
    * definition: `INSERT OVERWRITE`, a Complete-mode streaming sink, the
    * DLQ replay's rewrite of its own table, and (under a new layout)
    * REPLACE TABLE through [[rebuildPartitioned]]. Row-level statements
    * never come here ([[writeRowLevel]]).
    *
    * When the table has capture on, the attribution is DERIVED here by a
    * keyed diff against the pre-version — O(table), but so is a whole
    * replace — so the commit never poisons the change feed with an
    * uncapturable rewrite: PK tables diff by key (unchanged keys emit
    * nothing and keep their original `_inserted_at`, upsert parity;
    * changed keys emit update pre/postimages; vanished keys deletes; new
    * keys inserts), keyless tables emit the exact delete-all ∪ insert-all
    * set. Insert timestamps in the derived branches are frozen
    * driver-side (the table write and the change-file write are separate
    * jobs — per-job `current_timestamp()` would make the feed disagree
    * with the table). */
  def overwriteContents(name: String, df: DataFrame): Unit = {
    overwriteContentsLocked(name, df)
    runStandingPolicies(name)
  }

  private def overwriteContentsLocked(name: String, df: DataFrame,
      newPartitions: Option[Seq[String]] = None): Unit = writeLock(name) {
    val meta = readMeta(name)
    // the REPLACE TABLE … PARTITIONED BY rebuild ([[rebuildPartitioned]]):
    // reads of the PRE-version stay under the current meta; only the
    // staged write and the generated partition columns use the new
    // layout, and the metadata flips in the same locked section as the
    // commit
    val effMeta = newPartitions.fold(meta)(sp => meta.copy(partitions = sp))
    val projected0 = enforceConstraints(meta, physicalSelect(meta, df))
    val pks = meta.pks.flatMap(p =>
      meta.schema.fieldNames.find(_.equalsIgnoreCase(p)))
    // LAST-WINS PK dedup for the DERIVED capture below (the upsert's
    // row_number pattern): its full-outer keyed diff assumes unique PKs —
    // duplicate keys would land twice and fan out into duplicated
    // pre/postimages. Scoped to that branch ONLY: without capture, PKs
    // stay advisory and an overwrite lands the rows it is given.
    def dedupLastWins(d: DataFrame): DataFrame =
      if (pks.isEmpty) d
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pks.map(c => col(quoted(c))): _*)
          .orderBy(monotonically_increasing_id().desc)
        d.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    val partCols = meta.partitionExprs.map(_.outputName)
    val ct = GraftLake.ChangeTypeCol
    // BEFORE the swap: the change plan reads the pre-rewrite live files
    val (projected, changeFiles) =
      if (!meta.cdfEnabled) (projected0, Nil)
      else {
        val deduped = dedupLastWins(projected0)
        val frozen = InsertStamp.now()
        def freeze(d: DataFrame): DataFrame =
          if (meta.schema.fieldNames.contains(InsertedAtCol))
            d.withColumn(InsertedAtCol, frozen)
          else d
        if (versions(name).isEmpty) {
          // first-ever commit: the whole contents ARE the insert set
          val landed = freeze(deduped)
          (landed, writeChangeFiles(name, meta,
            landed.withColumn(ct, lit("insert"))))
        } else {
          val old = applyDvs(name, readInternal(name, meta),
            liveDvs(name), partCols.size)
            .select(meta.schema.fieldNames.map(n => col(quoted(n))): _*)
          if (pks.isEmpty) {
            val landed = freeze(deduped)
            (landed, writeChangeFiles(name, meta,
              old.withColumn(ct, lit("delete"))
                .unionByName(landed.withColumn(ct, lit("insert")))))
          } else {
            val nPrefix = "__graft_new_"
            val nPresent = s"${nPrefix}present__"
            val tPresent = "__graft_t_present__"
            val isPk = (n: String) => pks.exists(_.equalsIgnoreCase(n))
            val newRenamed = deduped.select(meta.schema.fieldNames.map {
              case n if isPk(n) => col(quoted(n))
              case n => col(quoted(n)).as(s"$nPrefix$n")
            }: _*).withColumn(nPresent, lit(true))
            val j = old.withColumn(tPresent, lit(true))
              .join(newRenamed, pks, "full_outer")
            val userCols = meta.schema.fieldNames
              .filterNot(n => isPk(n) || n == InsertedAtCol)
            val changed = userCols.map(n =>
              !(col(quoted(n)) <=> col(quoted(s"$nPrefix$n"))))
              .reduceOption(_ || _).getOrElse(lit(false))
            def oldCols = meta.schema.fieldNames.map(n => col(quoted(n)))
            def newCols(insert: Boolean) = meta.schema.fieldNames.map {
              case n if isPk(n) => col(quoted(n))
              case n if n == InsertedAtCol =>
                (if (insert) frozen else col(quoted(n))).as(InsertedAtCol)
              case n => col(quoted(s"$nPrefix$n")).as(n)
            }
            val matched = j.filter(
              col(tPresent).isNotNull && col(nPresent).isNotNull &&
                changed)
            val chg = matched.select(oldCols: _*)
                .withColumn(ct, lit("update_preimage"))
              .unionByName(matched.select(newCols(insert = false): _*)
                .withColumn(ct, lit("update_postimage")))
              .unionByName(j.filter(col(nPresent).isNull)
                .select(oldCols: _*).withColumn(ct, lit("delete")))
              .unionByName(j.filter(col(tPresent).isNull)
                .select(newCols(insert = true): _*)
                .withColumn(ct, lit("insert")))
            // the landed rows: the NEW contents, with matched keys keeping
            // the pre-version's _inserted_at (upsert parity — and exactly
            // what makes an unchanged key invisible to the feed)
            val landed = j.filter(col(nPresent).isNotNull)
              .select(meta.schema.fieldNames.map {
                case n if isPk(n) => col(quoted(n))
                case n if n == InsertedAtCol =>
                  coalesce(when(col(tPresent).isNotNull, col(quoted(n))),
                    frozen).as(InsertedAtCol)
                case n => col(quoted(s"$nPrefix$n")).as(n)
              }: _*)
            (landed, writeChangeFiles(name, meta, chg))
          }
        }
      }
    val out = withPartitionCols(projected, effMeta)
    val outPartCols = effMeta.partitionExprs.map(_.outputName)
    val stage = new Path(s"${tableDir(name)}/.stage-${UUID.randomUUID()}")
    val f = fs(stage)
    try {
      val writer = lakeWriter(distributeForWrite(out, outPartCols))
        .option("maxRecordsPerFile", maxRecordsPerFile)
      (if (outPartCols.nonEmpty) writer.partitionBy(outPartCols: _*)
       else writer).parquet(stage.toString)
      val writeStats = org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
      // layout rebuild: flip the registry in the same locked breath as
      // the commit (the crash-inconsistent window is this flip + the
      // commit, never the rewrite itself). A DV that landed since the
      // caller's pre-lock materializeDeletes must abort: its old-depth
      // keys would misresolve under the new depth during the window
      // (the content-preserving path validates the same way).
      newPartitions.foreach { _ =>
        // FRESH filesystem probe, not the in-process caches: the DV that
        // must abort here may have been committed by ANOTHER process
        // after the caller's materializeDeletes, and lastVersionCache
        // still holds this JVM's own older commit
        val dvsNow = versions(name).lastOption
          .map(v => resolveDvs(name, v)).getOrElse(Vector.empty)
        if (dvsNow.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"REPLACE TABLE $name: a deletion vector landed while the " +
              "rebuild was staging — re-run against the new state")
        writeMeta(name, effMeta)
      }
      // a whole-table replace removes the manifest's live set; the new
      // files land beside it in data/ and every old DV entry turns inert
      val removed = lastVersionCached(name)
        .fold(Vector.empty[(String, String)])(liveFilesAt(name, _))
      val added = mergeStageInto(stage, new Path(dataDir(name)))
      commitVersion(name, added, removed, writeStats, op = "overwrite",
        dvRemoved = liveDvs(name), changes = changeFiles,
        assumedLayout =
          if (newPartitions.isEmpty) Some(meta.partitions) else None)
    } finally f.delete(stage, true)
  }

  /** Compact a table's data files: rewrites each partition (or the whole
    * table) into ~`targetRecordsPerFile`-row files through a staged
    * write. The small-file antidote for streaming ingest — micro-batches
    * append many small files; compaction restores scan efficiency without
    * changing table contents. Run it per partition predicate at scale
    * (`predicate` limits the rewrite scope, e.g. yesterday's partition).
    *
    * Contents-preserving by construction: the predicate selects WHICH
    * PARTITIONS to rewrite (every partition with at least one matching
    * row), and those partitions are rewritten WHOLE — a predicate cutting
    * through the middle of a partition cannot drop its non-matching rows.
    * Unpartitioned tables always rewrite the full file set (there is no
    * sub-table swap unit), so the predicate only matters as an is-empty
    * no-op check there.
    *
    * The rewrite is sized from the manifest alone, with no count job: its
    * rows are bounded by the scoped files' footer row counts and its
    * input bytes by their listed sizes. A rewrite within both
    * `targetRecordsPerFile` rows and
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` bytes runs in ONE
    * task with no exchange and writes one file per partition. A larger
    * one rebalances (AQE on) or repartitions to ceil(rows / target)
    * tasks (AQE off; a count job only where a file lacks its footer count
    * or a user column shadows it). */
  def compact(name: String, targetRecordsPerFile: Long = maxRecordsPerFile,
      predicate: Option[Column] = None,
      clusterBy: Seq[String] = Nil): Unit = {
    // CONCURRENT-APPEND-SAFE: the (long) rewrite runs with NO table lock —
    // at scale, compaction must neither block nor be blocked by streaming
    // appends (the reference gets this from PG snapshot isolation +
    // serialization retries, DucklakeConnectionFactory.java:69-70). The
    // rewrite reads an EXPLICIT manifest file set (never the directory, so
    // mid-rewrite appends are invisible to it), and the short commit
    // section validates that every input file is still live and the DV
    // set unchanged — appends only ADD files, so appends always win and
    // coexist; a concurrent rewrite/delete invalidates and the compaction
    // retries from the new state (aborts after 5 lost attempts).
    var attempt = 0
    def once(): Boolean =
      try compactAttempt(name, targetRecordsPerFile, predicate, clusterBy)
      catch {
        // a CROSS-PROCESS writer won the manifest version race inside the
        // commit section; commitVersion already deleted its own files —
        // same answer as an in-process conflict: re-derive
        // from the winner's state and try again
        case _: java.util.ConcurrentModificationException => false
      }
    while (!once()) {
      attempt += 1
      graft.metrics.GraftMetrics.op("compactRetry").record(0L)
      if (attempt >= 5) throw new IllegalStateException(
        s"compaction of '$name' lost to concurrent rewrites $attempt times " +
          "— retry when the table quiesces")
    }
  }

  /** Test seam: runs between the lock-free rewrite and the commit-time
    * validation — the deterministic window a concurrency spec uses to
    * land an append (must coexist) or a rewrite (must force a retry)
    * mid-compaction. Production no-op. */
  private[graft] var compactBeforeCommitHook: () => Unit = () => ()

  /** One lock-free-rewrite + validate-and-commit attempt; false = lost a
    * conflict check (caller retries), true = committed or no-op. */
  private def compactAttempt(name: String, targetRecordsPerFile: Long,
      predicate: Option[Column], clusterBy: Seq[String]): Boolean = {
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    val meta = readMeta(name)
    val partCols = meta.partitionExprs.map(_.outputName)
    val v0 = latestVersion(name).getOrElse(return true) // no commits
    val refs0 = resolveManifest(name, v0)._2
    if (refs0.isEmpty) return true
    val dvs0 = dvsAtVersion(name, v0)
    // user-facing names are LOGICAL: the scope predicate filters the
    // logical view and clusterBy columns translate to their physical
    // names (the rewrite itself stays purely physical)
    val toPhys = GraftLake.logicalNamesOf(meta.schema).map(_.swap)
    def physName(c: String): String =
      toPhys.find(_._1.equalsIgnoreCase(c)).map(_._2).getOrElse(c)
    val clusterCols = clusterBy.map(physName)
    val dd = dataDir(name)
    val paths = refs0.map(refPath(name, _))
    val full = StructType(meta.schema.fields.toSeq ++ partitionFields(meta))
    // the pinned-snapshot scan (v0's files, v0's stats) — NOT the data
    // directory: concurrently appended files must not be read, rewritten
    // or retired by this compaction
    val scanOnly = manifestScan(paths, statsFor(name, v0), full,
      partCols.size, Some(dd), recomputeWith = Some(meta))
    // compaction MATERIALIZES deletion vectors for whatever it rewrites:
    // rows masked by a DV must not be copied into the compacted files
    val all = applyDvs(name, scanOnly, dvs0, partCols.size)
    val (scoped, scopedRefs) = (predicate, partCols) match {
      case (None, _) => (all, refs0)
      case (Some(p), Nil) =>
        // whole-table rewrite unit: an empty match is a no-op, anything
        // else must carry ALL rows or the swap would drop the rest
        if (toLogical(meta.schema, all).filter(p).isEmpty) return true
        (all, refs0)
      case (Some(p), pcs) =>
        val parts = toLogical(meta.schema, all).filter(p)
          .select(pcs.map(c => col(quoted(c))): _*).distinct().collect()
        if (parts.isEmpty) return true // nothing matches: no rewrite
        val scope = GraftLake.partitionScope(pcs, parts)
        // the files of the scoped partitions, off the DV-FREE scan
        // (input_file_name over a DV anti-join frame throws MULTI_SOURCES)
        val scopedFiles = scanOnly.filter(scope)
          .select(input_file_name().as("f")).distinct()
          .collect().map(r =>
            GraftLake.keyOfPath(r.getString(0), partCols.size)).toSet
        (all.filter(scope),
          refs0.filter(r => scopedFiles.contains(GraftLake.fileKey(r))))
    }
    val stage = new Path(s"${tableDir(name)}/.stage-${UUID.randomUUID()}")
    val projected = scoped
      .select(meta.schema.fieldNames.map(n => col(quoted(n))) ++
        partCols.map(c => col(quoted(c))): _*)
    // validate cluster columns BEFORE any write starts: z-values need an
    // orderable numeric domain, and half-compacted tables are the worst
    // failure mode. Temporal columns cluster on their epoch value (days /
    // micros) — the same domain the manifest bounds and the pruner use,
    // so time-range predicates skip files over a time-clustered layout.
    val zNumeric: Map[String, Column] = clusterCols.map { c =>
      val field = projected.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"compact clusterBy column '$c' does not exist in table '$name'"))
      val numeric = field.dataType match {
        case _: NumericType => col(quoted(c)).cast("double")
        case DateType => unix_date(col(quoted(c))).cast("double")
        case TimestampType => unix_micros(col(quoted(c))).cast("double")
        // any monotone map works for clustering; the session-zone cast is
        // monotone in the local datetime
        case TimestampNTZType =>
          unix_micros(col(quoted(c)).cast("timestamp")).cast("double")
        case other => throw new IllegalArgumentException(
          s"compact clusterBy column '$c' must be numeric or temporal for " +
            s"z-ordering, got ${other.sql} — drop it from clusterBy or cast it")
      }
      c -> numeric
    }.toMap
    // the rewrite's size from the manifest, with no job: its rows bounded
    // by the scoped files' footer row counts (DV-masked rows included;
    // None when a file lacks the count or a user column shadows it), its
    // bytes from the statuses the scan's file index listed
    val rowBound = footerRows(meta, statsFor(name, v0), scopedRefs)
    val inputBytes = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
        LogicalRelation, PartitioningAwareFileIndex}
      def bare(p: Path) = Path.getPathWithoutSchemeAndAuthority(p).toString
      val scopedPaths = scopedRefs.map(r => bare(new Path(refPath(name, r)))).toSet
      scanOnly.queryExecution.analyzed.collect { case l: LogicalRelation =>
        l.relation }.collect { case h: HadoopFsRelation => h.location }
        .collect { case i: PartitioningAwareFileIndex => i.allFiles() }.flatten
        .filter(f => scopedPaths.contains(bare(f.getPath))).map(_.getLen).sum
    }
    // a rewrite that fits one output file per partition and one task's
    // advisory input runs in one task with no exchange: the writer's
    // partition sort gives each partition one file, the layout a
    // rebalance would coalesce this input to anyway
    val oneTask = rowBound.exists(_ <= targetRecordsPerFile) &&
      inputBytes <= spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    // the REBALANCE hint only resolves under adaptive execution; when the
    // session runs AQE-off (e.g. inside the ingest trigger scope, which
    // trades AQE replanning latency away for bounded micro-batches) the
    // hint would be silently DROPPED and compaction would re-emit one
    // file per input task — so take an explicit output partition count
    // from the row bound instead (a count job only where there is none)
    val adaptiveOn = spark.conf
      .get("spark.sql.adaptive.enabled", "true").toBoolean
    def rebalanced(df: DataFrame): DataFrame =
      if (oneTask) df.coalesce(1)
      else if (adaptiveOn) {
        if (partCols.nonEmpty) df.hint("rebalance", partCols.map(col(_)): _*)
        else df.hint("rebalance")
      } else {
        val rows = rowBound.getOrElse(df.count())
        val n = math.max(1L, math.min(Int.MaxValue.toLong,
          (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)).toInt
        if (partCols.nonEmpty) df.repartition(n, partCols.map(c => col(quoted(c))): _*)
        else df.repartition(n)
      }
    val arranged =
      if (clusterCols.nonEmpty) {
        // Z-ORDER clustering: range-partition + sort by the interleaved
        // z-value so every output file covers a tight box over ALL cluster
        // columns — min/max footer pruning then skips files for predicates
        // on any of them. Bounds come from one tiny min/max agg.
        val boundExprs = clusterCols.flatMap(c =>
          Seq(min(zNumeric(c)), max(zNumeric(c))))
        val boundsRow = projected.agg(boundExprs.head, boundExprs.tail: _*).head()
        val boundsValid = (0 until 2 * clusterCols.size).forall(!boundsRow.isNullAt(_))
        if (!boundsValid) {
          // empty scope or all-null cluster column: no z-domain to spread
          // over — fall back to the plain rebalance arrangement instead of
          // NPE-ing mid-compaction
          rebalanced(projected)
        } else {
          val bounds = clusterCols.indices.map(i =>
            (boundsRow.getDouble(2 * i), boundsRow.getDouble(2 * i + 1)))
          val zv = graft.functions.ZOrder.zValue(
            clusterCols.map(zNumeric), bounds)
          projected.repartitionByRange((partCols.map(c => col(quoted(c))) :+ zv): _*)
            .sortWithinPartitions((partCols.map(c => col(quoted(c))) :+ zv): _*)
        }
      } else {
        // AQE rebalance: merges small shuffle partitions / splits skewed
        // ones to the advisory size, so output files coalesce without
        // hand-picking a partition count (partitioned tables rebalance per
        // partition key); AQE-off sessions get the counted repartition
        rebalanced(projected)
      }
    val writer = lakeWriter(arranged)
      .option("maxRecordsPerFile", targetRecordsPerFile)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    val writeStats = org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
    compactBeforeCommitHook()
    // COMMIT section — the only part under the table lock (microseconds
    // against the rewrite's seconds-to-minutes): validate, place, commit.
    // Appends that landed during the rewrite are untouched — their files
    // are neither read nor removed and stay live in the manifest.
    writeLock(name) {
      val vNow = latestVersion(name).getOrElse(-1L)
      val ok = vNow == v0 || {
        val liveNow = resolveManifest(name, vNow)._2.toSet
        scopedRefs.forall(liveNow.contains) &&
          liveDvs(name).toSet == dvs0.toSet
      }
      if (!ok) { fs(stage).delete(stage, true); return false }
      val added = mergeStageInto(stage, new Path(dd))
      // a whole-table rewrite (no predicate, or unpartitioned) leaves
      // every DV entry pointing at a removed file — drop them all; a
      // partition-scoped rewrite keeps the DVs (entries for the rewritten
      // partitions are inert, other partitions still need theirs)
      val fullRewrite = predicate.isEmpty || partCols.isEmpty
      commitVersion(name, added, scopedRefs, writeStats,
        op = if (clusterCols.nonEmpty) "zorder" else "compact",
        dvRemoved = if (fullRewrite) dvs0 else Nil,
        assumedLayout = Some(meta.partitions))
      fs(stage).delete(stage, true) // committer droppings (_SUCCESS etc.)
      true
    }
  }

  /** ONLINE re-bucketing — `OPTIMIZE t REBUCKET TO n`, INCREMENTAL: the
    * 100 TB layout policy this enables is "fix the bucket SIZE, grow the
    * bucket COUNT with the table" — without it, per-flush merge cost
    * grows with bucket size forever once a table outgrows its
    * creation-time n.
    *
    * Two phases, neither of which blocks readers or writers:
    *
    *  1. FLIP — one short-lock metadata commit: the registry and the
    *     manifest record the new `bucket(n, …)` layout (the meta is
    *     RE-READ inside the lock, and only the bucket spec is updated on
    *     it, so a concurrent metadata change — TBLPROPERTIES, constraint,
    *     rename — can never be clobbered). From this commit on, every
    *     writer stages under the new layout; writers that staged under
    *     the old one are refused by the commit-time layout validation
    *     and re-derive.
    *  2. MIGRATE — one commit PER OLD BUCKET directory: the bucket's live
    *     files are rewritten into the new layout and retired, validated
    *     compaction-style (inputs still live + DV set unchanged — never
    *     "live set == input set"), so a concurrent append conflicts with
    *     NOTHING and a rewrite/delete invalidates only the one bucket
    *     mid-split. The race window shrinks from O(table rewrite) to
    *     O(bucket rewrite): re-bucketing COMPLETES under sustained
    *     concurrent appends, which a monolithic whole-table swap loses
    *     to by construction (continuous ingest is the reference's core
    *     workload, DucklakeSinkTask.java:469-487).
    *
    * The transient MIXED state (some buckets migrated, some not) is
    * exact everywhere: directory names carry their own bucket count
    * (`__p_bucket_<k>_<cols>=`), so reads route through the recompute
    * scan shape ([[manifestScan]]), point lookups prune each file under
    * the count its directory carries ([[GraftLake.bucketKeyPruner]]),
    * the manifest-planned flush renders its wanted set per layout, and
    * the doubling identity `pmod(h, m·k) ≡ i (mod k)` keeps every
    * migration commit's fan-out bounded by the multiplier for
    * power-of-two growth. Deletion vectors fold into each migration
    * (content-preserving), so every commit is a logical no-op to the
    * change/append feeds. A crashed migration resumes on the next
    * `rebucket` call (same n: the flip no-ops, the remaining foreign
    * buckets migrate); snapshot reads of mid-split versions stay exact
    * forever (per-file layout attribution). */
  def rebucket(name: String, n: Int,
      maxGroupsPerCall: Int = Int.MaxValue): Unit = {
    require(n > 0, s"bucket count must be positive, got $n")
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    // PHASE 1 — flip, re-reading the meta INSIDE the lock: the routing
    // decision above may be stale, and a metadata-only change landing
    // during an earlier long rewrite must never be reverted
    writeLock(name) {
      val fresh = readMeta(name)
      val buckets = fresh.partitionExprs.zipWithIndex
        .collect { case (b: PartitionExpr.Bucket, i) => (b, i) }
      require(buckets.size == 1,
        s"REBUCKET needs exactly one bucket(…) partition expression; " +
          s"'$name' has ${buckets.size} (partitions: ${fresh.partitions.mkString(", ")})")
      val (b, bi) = buckets.head
      if (b.n != n) {
        val newMeta = fresh.copy(partitions = fresh.partitions
          .updated(bi, s"bucket($n, ${b.columns.mkString(", ")})"))
        // registry first, then manifest — both inside this lock section,
        // so commitVersionOnce renders the NEW layout into the manifest
        // the validation chain reads. An empty-delta rebucket commit is a
        // pure append-class manifest write: cross-process collisions
        // retry internally, nothing can be lost.
        writeMeta(name, newMeta)
        if (versions(name).nonEmpty)
          commitVersion(name, Nil, Nil, Map.empty, op = "rebucket")
      }
    }
    migrateLayout(name, maxGroupsPerCall)
  }

  /** ONLINE partition-layout EVOLUTION — the generalization of
    * [[rebucket]] to ANY same-depth layout change (`year(ts)` →
    * `month(ts)` re-granularization, a bucket-source column change,
    * raw-column swaps — Iceberg's partition-evolution capability,
    * expressed through the same flip + per-directory-group migration
    * machinery, so it too COMPLETES under live writers): the registry
    * and manifest flip to the new spec in one short-lock metadata
    * commit, then every foreign-layout directory group rewrites into
    * the new layout as its own commit. The transient mixed state rides
    * the same rails as a rebucket's (recompute scan shape, per-file
    * pruning conservatism, probe-path flushes), and inert deletion
    * vectors retire at completion.
    *
    * The expression COUNT must be preserved: file keys and
    * deletion-vector keys derive from a fixed number of path segments
    * ([[GraftLake.keyOfPath]]), so a depth change would mis-key every
    * pre-evolution file's DV entries (resurrected rows — the worst
    * failure class). Changing depth requires a table rebuild (CTAS). */
  def evolvePartitions(name: String, newSpecs: Seq[String]): Unit = {
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    newSpecs.foreach(PartitionExpr.parse) // syntax, before the lock
    writeLock(name) {
      val fresh = readMeta(name)
      // user-facing specs address LOGICAL column names; the stored spec
      // addresses the frozen physical fields (renames must not strand a
      // layout on a name the write path cannot resolve)
      val specs = translatePartitionSpecs(name, fresh, newSpecs,
        "partition evolution")
      val parsed = specs.map(PartitionExpr.parse)
      require(parsed.size == fresh.partitionExprs.size,
        s"partition evolution preserves the expression COUNT (file and " +
          s"deletion-vector keys are path-depth-derived): '$name' has " +
          s"${fresh.partitionExprs.size} expression(s), got ${parsed.size} " +
          "— changing depth requires a guided rebuild: REPLACE TABLE " +
          s"$name PARTITIONED BY (${newSpecs.mkString(", ")}) AS " +
          s"SELECT * FROM $name (carries primary keys, constraints and " +
          "properties forward; engine API rebuildPartitioned)")
      // a NEW expression whose generated directory NAME equals a
      // DIFFERENT old expression's would make old files falsely
      // "conform" (layout attribution is directory-name-based) — their
      // migration would silently skip and reads would serve the OLD
      // values as the new column's. Refuse the collision outright.
      fresh.partitionExprs.zip(parsed).foreach { case (o, nw) =>
        require(o == nw || o.outputName != nw.outputName,
          s"partition evolution of '$name': new expression " +
            s"'${specs(parsed.indexOf(nw))}' generates the same directory " +
            s"name '${nw.outputName}' as the current layout's " +
            s"'${fresh.partitions(fresh.partitionExprs.indexOf(o))}' — " +
            "files could not be attributed to either layout; pick a " +
            "different expression or rebuild (CREATE TABLE AS)")
      }
      if (fresh.partitions != specs) {
        writeMeta(name, fresh.copy(partitions = specs))
        if (versions(name).nonEmpty)
          commitVersion(name, Nil, Nil, Map.empty, op = "rebucket")
      }
    }
    migrateLayout(name)
  }

  /** Translate user-facing partition specs (LOGICAL column names) to
    * the stored form over the frozen physical fields, validating source
    * columns exist and are not engine-managed. Shared by
    * [[evolvePartitions]] and [[rebuildPartitioned]]. */
  private def translatePartitionSpecs(name: String, fresh: TableMeta,
      newSpecs: Seq[String], what: String): Seq[String] = {
    val toPhys = GraftLake.logicalNamesOf(fresh.schema).map(_.swap)
    def physName(c: String): String =
      toPhys.find(_._1.equalsIgnoreCase(c)).map(_._2).getOrElse(c)
    val specs = newSpecs.map(spec => PartitionExpr.parse(spec) match {
      case PartitionExpr.Raw(c) => physName(c)
      case PartitionExpr.Year(c) => s"year(${physName(c)})"
      case PartitionExpr.Month(c) => s"month(${physName(c)})"
      case PartitionExpr.Day(c) => s"day(${physName(c)})"
      case PartitionExpr.Bucket(n, cs) =>
        s"bucket($n, ${cs.map(physName).mkString(", ")})"
    })
    val parsed = specs.map(PartitionExpr.parse)
    parsed.flatMap(_.sourceColumns).distinct.foreach { c =>
      require(fresh.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"$what of '$name': source column '$c' does not exist")
      require(!c.equalsIgnoreCase(InsertedAtCol) && !c.startsWith("__p_"),
        s"$what of '$name': column '$c' is engine-managed")
    }
    require(parsed.map(_.outputName).distinct.size == parsed.size,
      s"$what of '$name': two expressions generate the same directory name")
    specs
  }

  /** GUIDED DEPTH-CHANGE REBUILD — the remedy [[evolvePartitions]]'
    * depth refusal names (`REPLACE TABLE t PARTITIONED BY (…) [AS
    * SELECT …]`): a whole-table rewrite under a layout of ANY
    * expression count that — unlike a CTAS rebuild — CARRIES primary
    * keys, CHECK constraints and table properties forward and keeps the
    * table's history (pre-rebuild snapshots time-travel under their own
    * recorded layouts; the rebuild is one more commit).
    *
    * Without `contents` the rebuild is CONTENT-PRESERVING and commits as
    * the logical-no-op class (`rebucket`) the change feed ignores — live
    * deletion vectors are materialized first, so the swap never leaves a
    * window where old-depth DV keys could misresolve under the new
    * depth. With `contents` (the AS SELECT form) the swap routes through
    * [[overwriteContents]] under the new layout: PK last-wins dedup and
    * cdf derived capture apply exactly as for any replace.
    *
    * O(table) by construction — this is a REBUILD, not the online
    * same-depth migration; the depth change is why the incremental path
    * is unavailable (path-depth-derived file/DV keys). The new-layout
    * stage is written OUTSIDE the lock from the pinned live set and
    * validated at commit (version unmoved, no DV churn), so the
    * crash-inconsistent window is the metadata flip + two renames, and
    * a lost race fails loudly for a plain re-run. */
  def rebuildPartitioned(name: String, newSpecs: Seq[String],
      contents: Option[DataFrame] = None): Unit = {
    require(tableExists(name), s"REPLACE TABLE: '$name' does not exist")
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    require(newSpecs.nonEmpty, s"REPLACE TABLE $name: empty partition spec")
    newSpecs.foreach(PartitionExpr.parse) // syntax first
    if (liveDvs(name).nonEmpty) materializeDeletes(name)
    val meta0 = readMeta(name)
    val specs = translatePartitionSpecs(name, meta0, newSpecs,
      "partition rebuild")
    contents match {
      case Some(df) =>
        overwriteContentsLocked(name, df,
          newPartitions = Some(specs))
        runStandingPolicies(name)
      case None =>
        val v0 = latestVersion(name).getOrElse(-1L)
        val refs0 =
          if (v0 >= 0) resolveManifest(name, v0)._2 else Vector.empty
        if (refs0.isEmpty) {
          // nothing to rewrite: pure metadata flip — but revalidate
          // INSIDE the lock: an append landing between the probe and
          // here would leave live old-depth files under new-depth
          // metadata (the exact mis-keying state this rebuild exists
          // to avoid)
          writeLock(name) {
            val stillEmpty = latestVersion(name)
              .forall(v => resolveManifest(name, v)._2.isEmpty)
            if (!stillEmpty)
              throw new java.util.ConcurrentModificationException(
                s"REPLACE TABLE $name: rows landed while the rebuild was " +
                  "staging — re-run against the new state")
            val fresh = readMeta(name)
            if (fresh.partitions != specs) {
              writeMeta(name, fresh.copy(partitions = specs))
              if (versions(name).nonEmpty)
                commitVersion(name, Nil, Nil, Map.empty, op = "rebucket")
            }
          }
          return
        }
        val newMeta = meta0.copy(partitions = specs)
        val partCols = newMeta.partitionExprs.map(_.outputName)
        val dd = dataDir(name)
        val paths = refs0.map { case (r, fn) =>
          if (r.isEmpty) s"$dd/$fn" else s"$dd/$r/$fn"
        }
        val full = StructType(
          meta0.schema.fields.toSeq ++ partitionFields(meta0))
        val projected = manifestScan(paths, statsFor(name, v0), full,
            meta0.partitionExprs.size, Some(dd), recomputeWith = Some(meta0))
          .select(meta0.schema.fieldNames.map(nm => col(quoted(nm))): _*)
        val out = withPartitionCols(projected, newMeta)
        val arranged = out.repartition(partCols.map(c => col(quoted(c))): _*)
        val stage = new Path(s"${tableDir(name)}/.stage-${UUID.randomUUID()}")
        lakeWriter(arranged).option("maxRecordsPerFile", maxRecordsPerFile)
          .partitionBy(partCols: _*).parquet(stage.toString)
        val writeStats =
          org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
        writeLock(name) {
          val vNow = latestVersion(name).getOrElse(-1L)
          if (vNow != v0 || liveDvs(name).nonEmpty ||
              readMeta(name).partitions != meta0.partitions) {
            fs(stage).delete(stage, true)
            throw new java.util.ConcurrentModificationException(
              s"REPLACE TABLE $name: the table changed while the rebuild " +
                "was staging — re-run when concurrent writers quiesce")
          }
          writeMeta(name, newMeta)
          val added = mergeStageInto(stage, new Path(dd))
          commitVersion(name, added, refs0, writeStats, op = "rebucket")
          fs(stage).delete(stage, true)
        }
    }
  }

  /** Phases 2–3 of every online layout change: migrate each
    * foreign-layout directory group as its own commit
    * ([[migrateOneForeignBucket]] — generic over WHAT changed, it groups
    * by rel dir), then retire deletion-vector sidecars the migration
    * made inert.
    *
    * `maxGroups` BOUNDS the rewrite work of one invocation: at most that
    * many groups commit before the call returns, leaving the (exact,
    * fully readable/mergeable) mixed state for the NEXT call to resume —
    * the amortization the auto-rebucket policy needs so a doubling never
    * stalls the triggering micro-batch for an O(table) rewrite. Returns
    * true when no foreign-layout group remains (migration complete). */
  private def migrateLayout(name: String,
      maxGroups: Int = Int.MaxValue): Boolean = {
    // migrate foreign-layout directory groups, one commit each, up to
    // the per-call budget
    var lastRel: Option[String] = None
    var fails = 0
    var committedGroups = 0
    var complete = false
    var more = maxGroups > 0
    while (more) migrateOneForeignBucket(name) match {
      case None => more = false; complete = true
      case Some((rel, committed)) =>
        if (committed) {
          fails = 0
          committedGroups += 1
          if (committedGroups >= maxGroups) more = false
        } else {
          graft.metrics.GraftMetrics.op("rebucketRetry").record(0L)
          fails = if (lastRel.contains(rel)) fails + 1 else 1
          if (fails >= 5) throw new IllegalStateException(
            s"layout migration of '$name': group '$rel' lost to concurrent " +
              s"rewrites $fails times — retry when its writers quiesce " +
              "(appends and DML on other buckets never conflict; only " +
              "rewrites/deletes touching this group's files or its " +
              "deletion vectors do)")
        }
        lastRel = Some(rel)
    }
    // exact-boundary drain detection: a call whose budget ran out ON the
    // last group would otherwise leave complete=false, and the NEXT call
    // commits zero groups with complete=true — the sweep below would be
    // skipped on both and inert sidecars would linger until the next
    // real migration. The probe is metadata-only (live refs vs the
    // current layout's prefixes).
    if (!complete && committedGroups > 0) {
      val meta = readMeta(name)
      val prefixes = GraftLake.layoutPrefixes(meta)
      complete = latestVersion(name).forall { v =>
        val cached = liveSetCache.get(s"$warehouse/$name")
        val refs = if (cached != null && cached._1 == v) cached._2
          else resolveManifest(name, v)._2
        refs.forall(r => GraftLake.relConforms(r._1, prefixes))
      }
    }
    // retire INERT deletion-vector sidecars: each migration folded its
    // group's masked rows out physically, so entries that reference only
    // retired files are dead weight — left live they would pin the
    // anti-join read plan, erode the dvMaxEntries budget and refuse
    // plain-session SQL reads forever (the old monolithic rewrite
    // dropped the whole set; the incremental one must prove inertness
    // per sidecar). Only when this call COMPLETED the migration AND
    // actually committed a group: a no-op resume (already-uniform
    // table, every maybeAutoRebucket probe) must not pay a full
    // DV-sidecar scan for nothing, and a budget-bounded partial call
    // defers the sweep to the completing call. Best-effort by
    // construction: the migration itself has already SUCCEEDED, so no
    // failure here — a lost commit race, a concurrently vacuumed
    // sidecar, a transient job error — may fail the caller; the drop
    // re-runs on the next migration or materializeDeletes.
    if (complete && committedGroups > 0) {
      try dropInertDvs(name)
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"inert-DV sweep of '$name' deferred (migration itself " +
              s"committed fine): $e")
      }
    }
    complete
  }

  /** Drop deletion-vector sidecars none of whose entries reference a
    * LIVE file — ONE batched job over all sidecars (input_file_name
    * attribution), run OUTSIDE the table lock; the remove-only commit (a
    * logical no-op: masked rows of retired files are invisible to every
    * reader already) takes the lock alone and skips if the DV set moved
    * meanwhile. */
  private def dropInertDvs(name: String): Unit = {
    val dvs0 = liveDvs(name)
    if (dvs0.isEmpty) return
    val v = latestVersion(name).getOrElse(return)
    val liveKeys = resolveManifest(name, v)._2.map(GraftLake.fileKey).toSet
    // sidecar → does ANY of its entries reference a live file
    val dd = dvDir(name)
    val byFile = spark.read.schema(GraftLake.dvSchema)
      .parquet(dvs0.map(d => s"$dd/$d"): _*)
      .select(input_file_name().as("f"), col("file_key"))
      .distinct().collect()
      .groupBy(r => new Path(r.getString(0)).getName)
      .view.mapValues(_.exists(r =>
        liveKeys.contains(GraftLake.decodeKey(r.getString(1)))))
      .toMap
    val inert = dvs0.filter(d => byFile.get(d).contains(false))
    if (inert.nonEmpty) writeLock(name) {
      // the verdicts were computed lock-free; a DV commit since makes
      // them stale — skip, the next sweep re-derives
      if (liveDvs(name).toSet == dvs0.toSet)
        commitVersion(name, Nil, Nil, Map.empty, op = "dv-clear",
          dvRemoved = inert)
    }
  }

  /** Test seam, as [[compactBeforeCommitHook]]: runs between each
    * migration's lock-free rewrite and its commit-time validation. */
  private[graft] var rebucketBeforeCommitHook: () => Unit = () => ()

  /** AUTO-REBUCKET policy probe: when the table's mean live rows per
    * bucket exceeds `targetRowsPerBucket`, double the bucket count (up
    * to `maxBuckets`) — the layout policy ("fix the bucket size, grow
    * the count") expressed as a post-flush check instead of an operator
    * someone must remember to run, mirroring auto-compaction. The signal
    * is METADATA-only (manifest footer row counts; zero data files
    * opened) and the doubling is the incremental [[rebucket]], which
    * completes under live writers. Returns true when migration work ran.
    * Tables without exactly one bucket expression, without complete
    * footer counts, or already at `maxBuckets` are left alone.
    *
    * `maxGroupsPerCall` bounds the REWRITE work of one invocation (the
    * 100 TB contract: a policy probe runs INSIDE the triggering
    * micro-batch, and an unbounded doubling would stall the stream for
    * an O(table) rewrite exactly when the table is largest — the policy
    * throttling the very stream it protects). With a bound, each flush
    * migrates at most that many old buckets and successive flushes
    * amortize the rewrite: an IN-FLIGHT migration (foreign-layout
    * groups remaining — also a crashed manual rebucket's) takes
    * priority over a new doubling probe and resumes here, so the mixed
    * state always drains even when the mean-size trigger has gone
    * quiet. Reads, merges and appends stay exact through every
    * intermediate state by the incremental rebucket's construction. */
  def maybeAutoRebucket(name: String, targetRowsPerBucket: Long,
      maxBuckets: Int = 65536,
      maxGroupsPerCall: Int = Int.MaxValue): Boolean = {
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    require(maxGroupsPerCall > 0, "maxGroupsPerCall must be positive")
    val meta = readMeta(name)
    val buckets = meta.partitionExprs
      .collect { case b: PartitionExpr.Bucket => b }
    if (buckets.size != 1) return false
    // resume an in-flight migration FIRST: once a doubling has flipped
    // the count, the mean-size probe below reads the NEW n (often below
    // target again) — without this branch a budget-bounded migration
    // would strand its unmigrated tail forever. The probe is
    // metadata-only: the cached live set against the current layout's
    // directory prefixes, zero data files opened.
    val hasForeign = latestVersion(name).exists { v =>
      val prefixes = GraftLake.layoutPrefixes(meta)
      val cached = liveSetCache.get(s"$warehouse/$name")
      val refs = if (cached != null && cached._1 == v) cached._2
        else resolveManifest(name, v)._2
      refs.exists(r => !GraftLake.relConforms(r._1, prefixes))
    }
    if (hasForeign) {
      graft.metrics.GraftMetrics.op("autoRebucketStep").record(0L)
      migrateLayout(name, maxGroupsPerCall)
      return true
    }
    val n = buckets.head.n
    if (n * 2 > maxBuckets) return false
    val rows = rowCountFromStats(name).getOrElse(return false)
    if (rows / n.toLong < targetRowsPerBucket) return false
    graft.metrics.GraftMetrics.op("autoRebucket").record(0L)
    rebucket(name, n * 2, maxGroupsPerCall)
    true
  }

  /** Rewrite ONE foreign-layout bucket directory into the current layout
    * as its own commit. None = nothing foreign remains (migration done);
    * Some((rel, true)) = that bucket committed; Some((rel, false)) = the
    * attempt lost a validation/commit race (caller decides retry/abort).
    *
    * Validation is compaction's, scoped to the GROUP: every input file
    * still live, the DV set unchanged, the layout unchanged. Appends —
    * which only ADD files — always coexist; that is the entire point. */
  private def migrateOneForeignBucket(name: String)
      : Option[(String, Boolean)] = {
    val meta = readMeta(name)
    val partCols = meta.partitionExprs.map(_.outputName)
    val v0 = latestVersion(name).getOrElse(return None)
    val refs0 = resolveManifest(name, v0)._2
    val prefixes = GraftLake.layoutPrefixes(meta)
    val foreign = refs0.filterNot(r => GraftLake.relConforms(r._1, prefixes))
    if (foreign.isEmpty) return None
    val rel = foreign.map(_._1).min
    val group = foreign.filter(_._1 == rel)
    val dvs0 = liveDvs(name)
    val dd = dataDir(name)
    val paths = group.map { case (r, fn) =>
      if (r.isEmpty) s"$dd/$fn" else s"$dd/$r/$fn"
    }
    val full = StructType(meta.schema.fields.toSeq ++ partitionFields(meta))
    // pinned scan of exactly this bucket's files; DVs fold in (their
    // masked rows must not reach the migrated files)
    val all = applyDvs(name,
      manifestScan(paths, statsFor(name, v0), full, partCols.size,
        Some(dd), recomputeWith = Some(meta)),
      dvs0, partCols.size)
    val projected = all
      .select(meta.schema.fieldNames.map(nm => col(quoted(nm))): _*)
    val out = withPartitionCols(projected, meta)
    // one task per destination bucket: a doubling split lands in exactly
    // (new n / old k) child directories, each as one right-sized file
    val arranged = out.repartition(partCols.map(c => col(quoted(c))): _*)
    val stage = new Path(s"${tableDir(name)}/.stage-${UUID.randomUUID()}")
    lakeWriter(arranged).option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*).parquet(stage.toString)
    val writeStats = org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
    rebucketBeforeCommitHook()
    writeLock(name) {
      val vNow = latestVersion(name).getOrElse(-1L)
      // DV validation is scoped to THIS group's files: the rewrite baked
      // dvs0's masks for exactly these files, so only churn whose
      // entries reference a group file can invalidate it. A table-global
      // set-equality here would let ANY concurrent MoR DELETE — on
      // buckets the migration isn't touching — burn one of the group's
      // five attempts: under sustained DML (a CDC-apply consumer, a core
      // reference workload shape) a group whose rewrite takes longer
      // than the delete interval could then NEVER commit. Churned
      // sidecars are read (added ones always exist; a removed one still
      // on disk proves its keys) — an unreadable removed sidecar stays
      // conservative and retries.
      val dvsNow = liveDvs(name).toSet
      val dvOk = dvsNow == dvs0.toSet || {
        val groupKeys = group.map(GraftLake.fileKey).toSet
        val churned = (dvsNow -- dvs0) ++ (dvs0.toSet -- dvsNow)
        val ddv = dvDir(name)
        try {
          !spark.read.schema(GraftLake.dvSchema)
            .parquet(churned.toSeq.map(d => s"$ddv/$d"): _*)
            .select("file_key").distinct().collect()
            .exists(r => groupKeys.contains(GraftLake.decodeKey(r.getString(0))))
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.debug(s"rebucket of '$name': churned DV sidecars unreadable, " +
              "treating the group as touched and retrying it", e)
            false
        }
      }
      val ok = (vNow == v0 || {
        val liveNow = resolveManifest(name, vNow)._2.toSet
        group.forall(liveNow.contains)
      }) && dvOk &&
        readMeta(name).partitions == meta.partitions
      if (!ok) { fs(stage).delete(stage, true); return Some((rel, false)) }
      val added = mergeStageInto(stage, new Path(dd))
      try commitVersion(name, added, group, writeStats, op = "rebucket",
        assumedLayout = Some(meta.partitions))
      catch {
        case _: java.util.ConcurrentModificationException =>
          // cross-process loser: commitVersion already deleted its files
          return Some((rel, false))
      }
      fs(stage).delete(stage, true) // committer droppings (_SUCCESS etc.)
      Some((rel, true))
    }
  }

  /** Live data files of the latest snapshot, as the scan names them
    * (observability / compaction policy input): deletion-vector sidecars
    * are not data files and DV-masked rows don't change which files are
    * live. */
  def dataFiles(name: String): Seq[String] =
    readInternal(name, readMeta(name)).inputFiles.toSeq

  /** Live file count of the latest snapshot — O(1) from the commit cache
    * on the hot path (one manifest-chain read on a cold start). The cheap
    * signal auto-compaction polls after every flush: a listing per
    * micro-batch would pay O(files) exactly when the table has the
    * small-file problem the policy exists to fix. */
  def liveFileCount(name: String): Int =
    lastVersionCached(name).fold(0)(liveFilesAt(name, _).size)

  // ---- snapshots / time travel ----
  //
  // DuckLake — the reference's storage layer — versions every commit in
  // its catalog database (ducklake_snapshot / ducklake_data_file); the
  // connector inherits snapshots for free. This engine reproduces the
  // capability file-native, Iceberg-style: part files are immutable, a
  // file's identity is its (relative partition path, file name) pair
  // (part-file NAMES repeat across partition dirs within one job — the
  // dynamic-partition writer resets its file counter per partition — so
  // the name alone is NOT unique), and a committed file keeps its path
  // `data/<rel>/<name>` for its whole life. The manifest is the ONLY
  // record of which files are live: a remove changes the manifest, never
  // the directory, and [[expireSnapshots]] deletes a file once no
  // retained snapshot and no `_pins/` entry references it. Every read,
  // current or time-travel, plans the resolved manifest's file list, so
  // a read planned before a rewrite keeps reading the files it planned.
  //
  // Scale: commits are O(delta), not O(table). Every writer knows exactly
  // which files it added (stage-dir renames) and which it removed, so the
  // commit writes a DELTA manifest `{base, add, remove}` against the
  // previous snapshot; a FULL manifest checkpoint lands every
  // [[GraftLake.checkpointInterval]] commits (and whenever the delta
  // would be bigger than the full list) to bound resolution chains.
  // An in-memory live-set cache makes the common commit path zero-read;
  // nothing on the hot path lists the data directory — the full recursive
  // listing survives only in [[repairTable]].

  private def versionsDir(name: String) = new Path(s"${tableDir(name)}/_versions")

  private def renameOrFail(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new IllegalStateException(
        s"FileSystem.rename failed: $src -> $dst (destination exists or " +
          "source vanished) — refusing to continue with a half-moved commit")

  /** Atomically replace `dst` with `src` — no delete-then-rename window.
    * A crash can leave either the old or the new content at `dst`, never
    * neither (POSIX rename semantics via FileContext OVERWRITE; HDFS
    * implements the same contract). delete+rename instead loses `dst`
    * entirely when the crash lands between the two calls — fatal when
    * `dst` is the only resolvable manifest of a kept snapshot. */
  private def replaceAtomic(f: FileSystem, src: Path, dst: Path): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options}
    val fc = FileContext.getFileContext(f.getUri, f.getConf)
    fc.rename(f.makeQualified(src), f.makeQualified(dst),
      Options.Rename.OVERWRITE)
  }

  /** Rename every staged part file into `target` keeping its partition
    * path, WITHOUT touching files already there (append semantics).
    * Returns the added (rel, name) identities — the commit's add-delta. */
  private def mergeStageInto(stage: Path, target: Path): Seq[(String, String)] = {
    val f = fs(target)
    val stageUri = f.makeQualified(stage).toUri
    val out = Seq.newBuilder[(String, String)]
    def move(q: Path): Unit = {
      if (f.getFileStatus(q).isDirectory) f.listStatus(q).foreach(s => move(s.getPath))
      else if (q.getName.endsWith(".parquet")) {
        val rel = stageUri.relativize(f.makeQualified(q.getParent).toUri)
          .getPath.stripSuffix("/")
        val destDir = if (rel.isEmpty) target else new Path(target, rel)
        f.mkdirs(destDir)
        renameOrFail(f, q, new Path(destDir, q.getName))
        out += ((rel, q.getName))
      } // _SUCCESS and committer droppings stay in the stage and die with it
    }
    move(stage)
    out.result()
  }

  /** Full recursive (rel, name) listing of a table's data directory,
    * with each file's modification time — O(table files), used ONLY by
    * [[repairTable]]'s orphan sweep, never by reads or commits. */
  private def listDataFiles(name: String): Seq[((String, String), Long)] = {
    val dd = new Path(dataDir(name))
    val f = fs(dd)
    val ddUri = f.makeQualified(dd).toUri
    def files(p: Path): Seq[((String, String), Long)] =
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) files(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet"))
          Seq(((ddUri.relativize(f.makeQualified(s.getPath.getParent).toUri)
            .getPath.stripSuffix("/"), s.getPath.getName), s.getModificationTime))
        else Nil
      }
    files(dd)
  }

  /** Aggregate prunable column bounds from a parquet file's footer —
    * O(footer), paid once per ADDED file at commit. Bounds land in the
    * column's canonical pruning domain (shared with
    * [[org.apache.spark.sql.graft.PlanBridge.simplePredicate]]):
    *  - plain int/long/float/double (incl. signed-int annotations): the
    *    value itself;
    *  - DATE (int32 days): epoch days;
    *  - TIMESTAMP int64, both adjusted-to-UTC (TimestampType —
    *    TIMESTAMP_MICROS is forced in the constructor) and NTZ
    *    (TimestampNTZType): epoch MICROS, normalized across
    *    MILLIS/MICROS/NANOS units.
    * Long-valued bounds outside ±2^53 are widened one ulp outward so the
    * double never understates the range (a rounded-up min could skip a
    * file that holds a matching row). Columns with a statless or all-null
    * row group, nested paths, NaN/±Inf bounds, or any other logical type
    * (decimal/string/NTZ/INT96) are omitted: a missing entry means
    * "cannot bound", which the pruner treats as keep-the-file. */
  private def footerStats(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Map[String, GraftLake.Bounds] =
    GraftLake.footerStats(p, conf)

  /** Footer bounds for a set of files. Small deltas (the merge/upsert hot
    * path) read CONCURRENTLY on the driver — one hadoop conf for the
    * batch, parallelism hiding the per-file open latency; a Spark job's
    * scheduling latency would dominate. Deltas past
    * `spark.graft.stats.distributedThreshold` (default 64 — a bulk load
    * or compaction) fan the footer reads out to EXECUTORS instead
    * ([[org.apache.spark.sql.graft.FooterStatsJob]]): at 100 TB a commit
    * adding thousands of files must not serialize its I/O through the
    * driver. Both paths run the same [[GraftLake.footerStats]] per file
    * (SnapshotSpec asserts stats parity). O(delta) either way. */
  private def boundsOf(name: String,
      refs: Seq[(String, String)]): Map[String, Map[String, GraftLake.Bounds]] =
      graft.metrics.GraftMetrics.time(graft.metrics.GraftMetrics.CollectStats) {
    def pathOf(ref: (String, String)): Path =
      if (ref._1.isEmpty) new Path(dataDir(name), ref._2)
      else new Path(s"${dataDir(name)}/${ref._1}", ref._2)
    val threshold = spark.conf.getOption("spark.graft.stats.distributedThreshold")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(64)
    if (refs.isEmpty) Map.empty
    else if (refs.size > threshold) {
      org.apache.spark.sql.graft.FooterStatsJob.run(spark,
        refs.map(r => GraftLake.fileKey(r) -> pathOf(r).toString),
        GraftLake.footerStats)
    } else {
      import scala.collection.parallel.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      refs.toVector.par.flatMap { ref =>
        val s = footerStats(pathOf(ref), conf)
        if (s.isEmpty) None else Some(GraftLake.fileKey(ref) -> s)
      }.seq.toMap
    }
  }

  /** Per-file bounds map of a snapshot: checkpoint stats + delta add
    * stats along the same chain [[resolveManifest]] walks. */
  private def resolveStats(name: String,
      version: Long): Map[String, Map[String, GraftLake.Bounds]] = {
    val top = readManifestFile(name, version)
    var deltas = List.empty[GraftLake.Manifest]
    var m = top
    while (m.files.isEmpty) {
      deltas = m :: deltas
      m = readManifestFile(name, m.base)
    }
    var stats = m.stats
    deltas.foreach { d =>
      stats = (stats -- d.remove.map(GraftLake.fileKey)) ++ d.stats
    }
    stats
  }

  /** Cached bounds map of a version (latest-version cache; older
    * versions resolve the chain). */
  private def statsFor(name: String,
      version: Long): Map[String, Map[String, GraftLake.Bounds]] = {
    val key = s"$warehouse/$name"
    val cached = statsMapCache.get(key)
    if (cached != null && cached._1 == version) cached._2
    else {
      val s = resolveStats(name, version)
      statsMapCache.put(key, (version, s))
      s
    }
  }

  /** Commit the next snapshot for `name` from the write's own delta.
    * Called at the end of every data mutation, inside its write lock.
    * O(delta) on the hot path: the previous live set comes from the
    * in-memory cache (or one manifest-chain read on a cold start), the
    * manifest written is a delta unless a checkpoint is due, and the
    * per-file bounds come from `writeStats` — collected INSIDE the write
    * job by [[org.apache.spark.sql.graft.StatsCommitProtocol]] — with a
    * footer read only for added files the write job didn't report
    * (rename-only paths, repair).
    *
    * CROSS-PROCESS concurrency (the per-JVM write lock cannot see other
    * drivers): the manifest create is no-overwrite, so the version
    * number itself is the optimistic lock — losing a race throws
    * [[java.nio.file.FileAlreadyExistsException]] from the filesystem.
    * A PURE APPEND (no removes, no DV change) commutes with any
    * concurrent commit, so it retries against the freshly re-read state
    * (its files are already uniquely named in `data/`). Anything else
    * (rewrites, deletes, restores) computed its delta against a state
    * that no longer exists — retrying could resurrect or lose rows — so
    * it fails fast with a ConcurrentModificationException; the caller
    * re-runs against the new state. */
  private def commitVersion(name: String, added: Seq[(String, String)],
      removed: Seq[(String, String)],
      writeStats: Map[String, Map[String, GraftLake.Bounds]] = Map.empty,
      op: String = "write",
      dvAdded: Seq[String] = Nil,
      dvRemoved: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      txnsReset: Option[Map[String, Long]] = None,
      changes: Seq[String] = Nil,
      assumedLayout: Option[Seq[String]] = None,
      addedAreNew: Boolean = true): Unit = {
    // single chokepoint for EVERY mutation path: a shallow clone is
    // read-only until materialized (its reads resolve through the
    // SOURCE's pinned manifest — a local commit would silently fork)
    require(shallowInfo(name).isEmpty,
      s"table '$name' is a SHALLOW clone (read-only reference) — run " +
        "materializeClone first to make it writable")
    // an upsert never retries: a match-less one computed its inserts
    // against a state a concurrent commit may have given the same keys
    val appendOnly = removed.isEmpty && dvAdded.isEmpty && dvRemoved.isEmpty &&
      op != "upsert"
    var attempt = 0
    var done = false
    // pure appends COMMUTE, and every collision means another writer made
    // progress — so their retries are deadlock-free and must be bounded
    // by TIME, not a count: under two busy cross-process appenders a
    // single commit can legitimately lose more rounds than any small
    // fixed cap (the opponent's whole batch train can land inside one
    // losing window). Non-appends keep the small cap: they fail fast
    // into the caller's re-derive-and-retry anyway.
    val appendDeadline = System.nanoTime() + spark.conf
      .getOption("spark.graft.commit.appendRetryTimeoutMs").map(_.toLong)
      .getOrElse(120000L) * 1000000L
    while (!done) {
      try { commitVersionOnce(name, added, removed, writeStats, op,
        dvAdded, dvRemoved, txn, txnsReset, changes, assumedLayout)
        done = true }
      catch {
        case e: java.util.ConcurrentModificationException =>
          // layout validation refused the commit (concurrent REBUCKET):
          // drop this commit's own files, as a lost rewrite race does,
          // then propagate — the caller re-derives under the new layout
          // (appends retry internally, see appendTxn)
          invalidateTable(name)
          if (addedAreNew) discardUnpublished(name, added)
          throw e
        case e: java.io.IOException
            if isManifestCollision(e) && (attempt < 5 ||
              (appendOnly && System.nanoTime() < appendDeadline)) =>
          graft.metrics.GraftMetrics.op("commitRetry").record(0L)
          // drop this table's caches either way: the retry (or the
          // caller's re-run) must see the winner's state
          invalidateTable(name)
          if (!appendOnly) {
            // no file moved, so the winner's live set is intact; only
            // this commit's own files go (no manifest references them)
            if (addedAreNew) discardUnpublished(name, added)
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit to '$name': a newer snapshot appeared " +
                s"while this ${op} was computing its delta — re-run " +
                s"against the new state (only pure appends retry " +
                s"automatically): $e")
          }
          attempt += 1
          // jittered backoff after repeated losses: two appenders in
          // lockstep would otherwise keep re-colliding on every round
          if (attempt >= 2) Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(1L, math.min(100L, 5L << math.min(attempt, 4))))
      }
    }
  }

  /** Best-effort delete of a lost commit's own files: written by this
    * commit and referenced by no manifest. */
  private def discardUnpublished(name: String, added: Seq[(String, String)]): Unit =
    added.foreach { ref =>
      val p = new Path(refPath(name, ref))
      try fs(p).delete(p, false)
      catch {
        case scala.util.control.NonFatal(e) =>
          log.debug(s"unpublished file $p left for the orphan reap", e)
      }
    }

  private def isManifestCollision(e: java.io.IOException): Boolean =
    e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
      e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
      Option(e.getMessage).exists(_.toLowerCase.contains("already exists"))

  /** Publish `body` at `target` with BOTH create-if-absent atomicity (the
    * manifest file name IS the optimistic version lock) and CONTENT
    * atomicity — a concurrent cross-process reader must never observe a
    * half-written manifest (create-then-write leaves a window in which
    * `v<N>.json` exists but is empty/truncated; a second driver resolving
    * the chain right then would die parsing it). Local FS: write a temp
    * file first, then HARD-LINK it to the target — `link(2)` fails if the
    * target exists (the lock) and makes the target appear with its FULL
    * content in one metadata operation. Other filesystems keep the direct
    * create-if-absent write (object stores publish on close) — and the
    * reader-side in-flight retry in [[readManifestFile]] guards whatever
    * window remains. */
  private def atomicClaim(f: FileSystem, target: Path, body: String): Unit = {
    def direct(): Unit = {
      val out = f.create(target, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    if (f.getScheme == "file") {
      val tgt = java.nio.file.Paths.get(target.toUri.getPath)
      val tmp = tgt.resolveSibling(s".${target.getName}.${UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
      try java.nio.file.Files.createLink(tgt, tmp)
      catch {
        // a "file"-scheme mount without link(2): the JDK's unix provider
        // reports that as FileSystemException (EPERM/EOPNOTSUPP), not
        // UnsupportedOperationException — fall back to the direct create
        // (the reader-side in-flight retry covers its window). The
        // COLLISION case stays the optimistic lock and must propagate,
        // as must plain IO failures on the collision subclass.
        case _: UnsupportedOperationException => direct()
        case e: java.nio.file.FileSystemException
            if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
          direct()
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else direct()
  }

  private def commitVersionOnce(name: String, added: Seq[(String, String)],
      removed: Seq[(String, String)],
      writeStats: Map[String, Map[String, GraftLake.Bounds]],
      op: String,
      dvAdded: Seq[String],
      dvRemoved: Seq[String],
      txn: Option[(String, Long)],
      txnsReset: Option[Map[String, Long]] = None,
      changes: Seq[String] = Nil,
      assumedLayout: Option[Seq[String]] = None): Unit =
      graft.metrics.GraftMetrics.time(graft.metrics.GraftMetrics.CommitVersion) {
    val vd = versionsDir(name)
    val f = fs(vd)
    f.mkdirs(vd)
    val key = s"$warehouse/$name"
    val last: Option[Long] = Option(lastVersionCache.get(key)).map(_.longValue())
      .orElse(latestVersion(name))
    // LAYOUT VALIDATION: a writer staged its files under the partition
    // layout it read at start; if a REBUCKET committed since (possibly in
    // another process — the writer's next claim necessarily observes the
    // rebucket's version first), those files sit in the OLD layout's
    // directories and adopting them would leave a mixed directory that
    // silently breaks bucket pruning and the merge fast path. Refuse
    // loudly; the caller invalidates and re-derives under the new layout.
    for (assumed <- assumedLayout; lv <- last;
         current <- layoutAt(name, lv))
      if (current != assumed)
        throw new java.util.ConcurrentModificationException(
          s"partition layout of '$name' changed while this $op was " +
            s"staging (was [${assumed.mkString(", ")}], now " +
            s"[${current.mkString(", ")}] — a concurrent REBUCKET): " +
            "re-derive against the new layout and retry")
    val (prevList, prevDepth) = last match {
      case None => (Vector.empty[(String, String)], 0)
      case Some(v) =>
        val cached = liveSetCache.get(key)
        if (cached != null && cached._1 == v) (cached._2, cached._3)
        else { val r = resolveManifest(name, v); (r._2, r._3) }
    }
    val prevStats = last.map(v => statsFor(name, v)).getOrElse(Map.empty)
    val next = last.getOrElse(-1L) + 1L
    val removedSet = removed.toSet
    val addedV = added.toVector.sorted
    val newList = ((prevList.filterNot(removedSet) ++ addedV).distinct: Vector[(String, String)]).sorted
    val addedStats = {
      val addedKeys = addedV.map(GraftLake.fileKey).toSet
      val fromWrite = writeStats.view.filterKeys(addedKeys).toMap
      val missing = addedV.filterNot(r => fromWrite.contains(GraftLake.fileKey(r)))
      // footer fallback ONLY for files the write job didn't report (a
      // reported-empty entry means "seen, nothing prunable" — re-reading
      // its footer would learn nothing) — the hot path leaves the
      // CollectStats sensor untouched, which is the observable contract
      // SnapshotSpec pins. Empty maps drop out at manifest rendering.
      if (missing.isEmpty) fromWrite else fromWrite ++ boundsOf(name, missing)
    }
    val newStats =
      (prevStats -- removed.map(GraftLake.fileKey)) ++ addedStats
    val meta = readMeta(name)
    val prevDvs: Vector[String] = last match {
      case None => Vector.empty
      case Some(v) =>
        val cached = dvSetCache.get(key)
        if (cached != null && cached._1 == v) cached._2 else resolveDvs(name, v)
    }
    val dvRemovedSet = dvRemoved.toSet
    val newDvs = (prevDvs.filterNot(dvRemovedSet) ++ dvAdded).distinct.sorted
    // a txn-watermark RESET (transaction rollback) must anchor a FULL
    // manifest: delta manifests fold watermarks forward with max(), so
    // only a full checkpoint can make one go DOWN
    val asFull = txnsReset.isDefined ||
      last.isEmpty || prevDepth + 1 >= checkpointInterval ||
      added.size + removed.size >= newList.size
    val body =
      if (asFull) GraftLake.renderManifest(next, meta, newList, newStats, op,
        dvs = newDvs,
        txns = txnsReset.getOrElse {
          val prevTxns = last.map(v => resolveTxns(name, v)).getOrElse(Map.empty)
          txn.fold(prevTxns) { case (a, v) =>
            prevTxns + (a -> math.max(v, prevTxns.getOrElse(a, Long.MinValue)))
          }
        },
        changes = changes)
      else GraftLake.renderDelta(next, meta, next - 1, prevDepth + 1,
        addedV, removed.sorted, addedStats, op,
        dvAdd = dvAdded, dvRemove = dvRemoved, txn = txn, changes = changes)
    val p = new Path(vd, s"v$next.json")
    atomicClaim(f, p, body)
    writeLastHint(name, next)
    lastVersionCache.put(key, java.lang.Long.valueOf(next))
    liveSetCache.put(key, (next, newList, if (asFull) 0 else prevDepth + 1))
    statsMapCache.put(key, (next, newStats))
    dvSetCache.put(key, (next, newDvs))
    layoutCache.put(key, (next, Some(meta.partitions)))
  }

  /** The partition layout recorded in snapshot `version`'s manifest
    * (None on pre-versioning manifests). One manifest read per (table,
    * version) — cached alongside the other per-version state. */
  private def layoutAt(name: String, version: Long): Option[Seq[String]] = {
    val key = s"$warehouse/$name"
    val c = layoutCache.get(key)
    if (c != null && c._1 == version) c._2
    else {
      val l = readManifestFile(name, version).partitionsOpt
      layoutCache.put(key, (version, l))
      l
    }
  }

  /** Whether every bucket-source column's TYPE is identical across the
    * retained manifest history. Hash-based bucket pruning and the
    * PK-functional merge probe-skip both re-hash values under the
    * CURRENT type — a table whose bucket source was widened BEFORE the
    * round-11 ensureTable guard has files hashed under the old type in
    * old directories, and both optimizations would silently route around
    * them (missed rows / duplicated PKs). Such tables keep the always-
    * correct probe/scan paths. One retained-chain walk per table; `true`
    * is sticky per version (the guard makes regression impossible). */
  private def bucketSourceTypesStable(name: String, meta: TableMeta): Boolean = {
    val srcCols = meta.partitionExprs
      .collect { case b: PartitionExpr.Bucket => b.columns }.flatten.distinct
    if (srcCols.isEmpty) return true
    val key = s"$warehouse/$name"
    val vs = versions(name)
    val last = vs.lastOption.getOrElse(return true)
    val c = typeStableCache.get(key)
    if (c != null && (c._2 || c._1 == last)) return c._2
    val curTypes = srcCols.flatMap(cn => meta.schema.fields
      .find(_.name.equalsIgnoreCase(cn)).map(cn -> _.dataType)).toMap
    val stable = vs.forall { v =>
      val sch = readManifestFile(name, v).schema
      srcCols.forall { cn =>
        sch.fields.find(_.name.equalsIgnoreCase(cn))
          .forall(f => curTypes.get(cn).contains(f.dataType))
      }
    }
    typeStableCache.put(key, (last, stable))
    stable
  }

  /** Bucket-directory pruner for reads of snapshot `version`, LAYOUT-
    * VERSIONED: hashes under the layout RECORDED in that snapshot's
    * manifest (current meta only as the pre-versioning fallback), so
    * time-travel reads across a REBUCKET prune with the n their files
    * were written under; disabled outright when a bucket source column's
    * type differs anywhere in retained history (see
    * [[bucketSourceTypesStable]]). Directory names additionally encode
    * the bucket count (`__p_bucket_<n>_<cols>=`), so a file from a
    * DIFFERENT layout can never be mis-pruned — its prefix mismatches
    * and the pruner keeps it. */
  private def bucketPrunerAt(name: String, version: Long, meta: TableMeta,
      pred: org.apache.spark.sql.graft.PlanBridge.SimplePred)
      : Option[String => Boolean] = {
    val layout = layoutAt(name, version).getOrElse(meta.partitions)
    val eff = if (layout == meta.partitions) meta
      else meta.copy(partitions = layout)
    if (eff.partitionExprs.exists(_.isInstanceOf[PartitionExpr.Bucket]) &&
        !bucketSourceTypesStable(name, eff)) None
    else GraftLake.bucketKeyPruner(eff, pred)
  }

  /** Read one manifest file verbatim. An unparseable read RETRIES
    * briefly: on filesystems without the hard-link publish
    * ([[atomicClaim]]) a concurrent writer's manifest can be observed
    * mid-write (exists but truncated) — it becomes whole milliseconds
    * later. On `file:` the hard-link publish makes a torn OBSERVATION
    * impossible (the target appears with its full content in one
    * metadata op), so a parse failure there is genuine corruption and
    * fails after ONE confirming re-read instead of stalling every reader
    * 5 s; elsewhere the window also closes early once the file's LENGTH
    * is stable across consecutive reads (an in-flight write grows; a
    * torn one does not). A file still unreadable at the end fails with a
    * diagnosis instead of a bare parser NPE. */
  private def readManifestFile(name: String, version: Long): GraftLake.Manifest = {
    val p = new Path(versionsDir(name), s"v$version.json")
    val f = fs(p)
    require(f.exists(p), s"table '$name' has no snapshot $version " +
      s"(have: ${versions(name).mkString(", ")})")
    val linkPublished = f.getScheme == "file"
    val deadline = System.nanoTime() +
      (if (linkPublished) 100000000L else 5000000000L) // 100 ms / 5 s
    var delayMs = 10L
    var lastLen = -1L
    var stableReads = 0
    while (true) {
      val in = f.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      try return GraftLake.parseManifest(raw)
      catch {
        case scala.util.control.NonFatal(e) =>
          if (raw.length.toLong == lastLen) stableReads += 1
          else { stableReads = 0; lastLen = raw.length.toLong }
          if (System.nanoTime() > deadline || stableReads >= 2)
            throw new IllegalStateException(
              s"manifest v$version of '$name' is unreadable — " +
                "truncated by a writer that crashed mid-commit, or corrupt " +
                s"(${raw.length} bytes, stable across re-reads); " +
                "delete it to fall back to the previous snapshot", e)
          Thread.sleep(delayMs)
          delayMs = math.min(delayMs * 2, 200L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Resolve a snapshot to (schema at commit, sorted live file list,
    * delta-chain depth): walk delta manifests back to the nearest full
    * checkpoint (bounded by [[GraftLake.checkpointInterval]]), then apply
    * the add/remove deltas forward. */
  private def resolveManifest(name: String,
      version: Long): (StructType, Vector[(String, String)], Int) = {
    val top = readManifestFile(name, version)
    var deltas = List.empty[GraftLake.Manifest]
    var m = top
    while (m.files.isEmpty) {
      deltas = m :: deltas // ends up oldest-first
      m = readManifestFile(name, m.base)
    }
    var set = m.files.get.toVector
    deltas.foreach { d =>
      val rm = d.remove.toSet
      set = set.filterNot(rm.contains) ++ d.add
    }
    (top.schema, set.sorted, deltas.size)
  }

  /** Commit log of a table, oldest first — the DESCRIBE-HISTORY
    * observability surface every lake exposes: one row per snapshot with
    * the operation that produced it, the commit wall-clock (manifest file
    * mtime — the filesystem's write is the commit point), the add/remove
    * delta and the resulting live-file count and column count.
    *
    * Deltas are DERIVED by diffing consecutive resolved file sets, not
    * read from the manifests — checkpoint rewrites and re-anchored
    * snapshots then report the same numbers as the deltas they replaced.
    * Admin-query cost model: O(versions × files) resolution — fine for an
    * audit pane, not a hot path. */
  /** Latest snapshot committed at or before `tsMillis` — timestamp time
    * travel, resolved from manifest file MODIFICATION TIMES (manifests
    * themselves are deliberately wall-clock-free so snapshot CONTENT is
    * deterministic; the commit instant is an attribute of the commit
    * FILE, the same source [[history]] reports and the same mechanism
    * Delta documents for its timestamp travel — copying manifest files
    * without preserving mtimes shifts the clock, not the data). ONE
    * directory listing, no manifest reads, no per-version RPCs.
    *
    * Commit instants are MONOTONE-ADJUSTED in version order before the
    * cut (Delta's timestamp-adjustment rule): [[expireSnapshots]]'s
    * re-anchor rewrites the oldest kept manifest, stamping it "now" —
    * without the adjustment a raw mtime cut could resolve PAST newer
    * snapshots to an older, freshly-rewritten one. After adjustment a
    * rewritten-era instant maps to the LATEST snapshot of that instant,
    * never to a snapshot that was superseded before it. */
  def versionAt(name: String, tsMillis: Long): Long = {
    val vd = versionsDir(name)
    val f = fs(vd)
    require(f.exists(vd), s"table '$name' has no snapshots")
    val stamped = f.listStatus(vd).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.endsWith(".json"))
          Some(n.stripPrefix("v").stripSuffix(".json").toLong ->
            st.getModificationTime)
        else None
      }.sortBy(_._1)
    require(stamped.nonEmpty, s"table '$name' has no snapshots")
    var adj = Long.MinValue
    val adjusted = stamped.map { case (v, ts) =>
      adj = math.max(adj, ts); (v, adj)
    }
    val at = adjusted.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"table '$name' has no snapshot at or before " +
        s"${new java.sql.Timestamp(tsMillis)} (first commit: " +
        s"${new java.sql.Timestamp(adjusted.head._2)})")
    at.map(_._1).max
  }

  def history(name: String): DataFrame = {
    val vs = versions(name)
    val f = fs(versionsDir(name))
    var prev = Set.empty[(String, String)]
    val rows = vs.map { v =>
      val m = readManifestFile(name, v)
      val live = resolveManifest(name, v)._2.toSet
      val ts = f.getFileStatus(new Path(versionsDir(name), s"v$v.json"))
        .getModificationTime
      val row = (v, new java.sql.Timestamp(ts), m.op,
        (live -- prev).size.toLong, (prev -- live).size.toLong,
        live.size.toLong, m.schema.fields.length.toLong)
      prev = live
      row
    }
    import spark.implicits._
    rows.toDF("version", "ts", "operation", "n_added", "n_removed",
      "n_live_files", "n_columns")
  }

  /** Operation labels of the commits in (fromExclusive, toInclusive] —
    * an O(interval) manifest-header read with NO file resolution (unlike
    * [[history]]), so incremental consumers can cheaply decide whether an
    * interval was append-only. */
  def operationsBetween(name: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, String)] =
    versions(name).filter(v => v > fromExclusive && v <= toInclusive)
      .map(v => v -> readManifestFile(name, v).op)

  /** Committed snapshot ids of a table, oldest first. */
  def versions(name: String): Seq[Long] = {
    // observable contract for the O(1)-probe spec and bench runs: the
    // hot paths (streaming polls, commit claims, liveFileCount) must
    // stop paying this listing once the `_last` hint is in play
    graft.metrics.GraftMetrics.op("versionsList").record(0L)
    val vd = versionsDir(name)
    val f = fs(vd)
    if (!f.exists(vd)) Nil
    else f.listStatus(vd).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
      }.sorted
  }

  private def lastHintPath(name: String) =
    new Path(versionsDir(name), "_last")

  /** Advisory latest-version hint (the Delta `_last_checkpoint`
    * mechanism): written best-effort after every manifest claim so
    * [[latestVersion]] can skip the `_versions/` directory LISTING —
    * which otherwise runs on every streaming poll, commit claim and
    * liveFileCount fallback, and at a commit-per-few-seconds pace with a
    * generous retention window dominates poll cost on object stores.
    * Non-atomic tears, crashes between claim and hint, and lost races
    * are all harmless: the hint only positions the DENSE forward
    * existence probe, and an unreadable/stale-beyond-probe hint falls
    * back to the listing (which stays the authority). */
  private def writeLastHint(name: String, v: Long): Unit =
    try {
      val vd = versionsDir(name)
      val f = fs(vd)
      val tmp = new Path(vd, s"._last.${UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!f.rename(tmp, lastHintPath(name))) {
        // LocalFS refuses rename-onto-existing: replace, then retry once;
        // the unprotected window is covered by the fallback contract
        f.delete(lastHintPath(name), false)
        if (!f.rename(tmp, lastHintPath(name))) f.delete(tmp, false)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.debug(s"'_last' hint of '$name' not written; readers list the versions instead", e)
    }

  /** Latest committed snapshot id WITHOUT listing `_versions/`: read the
    * advisory `_last` hint, verify it exists, then walk the DENSE id
    * sequence FORWARD past any staleness (commits claim `v(last+1).json`
    * exclusively, so ids never skip) — O(1 + hint lag) existence probes
    * against the listing's O(retained snapshots). A missing, torn or
    * vacuumed-away hint falls back to the listing, so the hint can never
    * change WHAT resolves — only what it costs. */
  def latestVersion(name: String): Option[Long] = {
    val vd = versionsDir(name)
    val hinted: Option[Long] =
      try {
        val f = fs(vd)
        val in = f.open(lastHintPath(name))
        val raw = try {
          val buf = new Array[Byte](32)
          val n = in.read(buf)
          if (n <= 0) "" else new String(buf, 0, n,
            java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        raw.trim.toLongOption
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.debug(s"'_last' hint of '$name' unreadable; listing the versions instead", e)
          None
      }
    hinted match {
      case Some(h) if fs(vd).exists(new Path(vd, s"v$h.json")) =>
        var v = h
        val f = fs(vd)
        while (f.exists(new Path(vd, s"v${v + 1}.json"))) v += 1
        Some(v)
      case _ => versions(name).lastOption
    }
  }

  /** (schema at commit, (rel,name) identity → absolute path) of a
    * snapshot. A retained snapshot's files are all at `data/<rel>/<name>`
    * (vacuum deletes only files no retained snapshot lists), so the one
    * check is that `version` is still retained: an expired one fails
    * naming the snapshots that are. */
  private def snapshotResolved(name: String,
      version: Long): (StructType, Seq[((String, String), Path)]) = {
    val (schema, files, _) = resolveManifest(name, version)
    (schema, files.map(ref => (ref, new Path(refPath(name, ref)))))
  }

  /** (schema at commit, resolved absolute file paths) of a snapshot.
    * Shared by [[readVersion]] and the DSv2 catalog's `VERSION AS OF`
    * table. */
  private[catalog] def snapshotFiles(name: String,
      version: Long): (StructType, Seq[String]) = {
    val (schema, resolved) = snapshotResolved(name, version)
    (schema, resolved.map(_._2.toString))
  }

  /** Read the table AS OF snapshot `version`: the manifest's file set
    * under the manifest's schema. Partition-source columns are stored in
    * the data files themselves (the generated `__p_*` dir columns are
    * copies), so the user view needs no partition reconstruction. */
  def readVersion(name: String, version: Long): DataFrame = {
    val (schema, paths) = snapshotFiles(name, version)
    // the manifest's schema carries the rename metadata AS OF that
    // commit, so time travel presents each snapshot's own logical names
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        GraftLake.logicalSchema(schema))
    val meta = readMeta(name)
    // THAT snapshot's layout depth, not the current one: DV keys are
    // path-depth-derived, and a depth REBUILD (REPLACE TABLE …
    // PARTITIONED BY) in later history must not make an older
    // snapshot's masks silently miss (rows would resurrect in time
    // travel). Pre-versioned-layout manifests fall back to current.
    val partDepth = layoutAt(name, version)
      .map(sp => PartitionExpr.parseList(sp).size)
      .getOrElse(meta.partitionExprs.size)
    // pruning-capable scan against THAT snapshot's per-file bounds
    // (resolveStats directly, not statsFor — the single-entry cache must
    // keep serving the latest version on the hot path).
    // bucket-dir pruning holds AS OF any snapshot because the layout is
    // VERSIONED: bucketPrunerAt hashes under the layout recorded in THAT
    // snapshot's manifest (a later REBUCKET doesn't confuse it), and it
    // disables itself when a bucket source column's type ever changed in
    // retained history
    val scan = manifestScan(paths, resolveStats(name, version), schema,
      partDepth, basePath = None, bloomPruner(name, _),
      bucketPrunerAt(name, version, meta, _))
    // apply the DELETION VECTORS OF THAT SNAPSHOT
    toLogical(schema, applyDvs(name, scan, resolveDvs(name, version), partDepth)
      .select(schema.fieldNames.map(n => col(quoted(n))): _*))
  }

  /** RESTORE the table to snapshot `version` as a NEW commit (Delta-style
    * RESTORE; reference analog: rolling a DuckLake catalog back to an
    * earlier snapshot id). Metadata-only: the commit re-references the
    * target snapshot's file set — files it needs that were since removed
    * are added back, files live now but absent from the target are
    * removed — and its deletion-vector set becomes the target's. No file
    * moves (a committed file keeps its `data/` path for life), so every
    * other snapshot stays readable: time travel both below and above the
    * restore point keeps working, and a later restore can roll forward
    * again. The CURRENT schema is kept (Delta semantics — restore moves
    * data, not schema evolution; files from a narrower schema read with
    * nulls as usual). The target snapshot must not have been expired by
    * `expireSnapshots`. */
  /** DEEP CLONE: materialize snapshot `version` (default: latest) of
    * `src` as the INDEPENDENT table `dst` — its own data files (copied by
    * a distributed job, one task per file group, never through the
    * driver), its own meta/registry (copied verbatim: the current
    * schema's widened reads cover snapshot-era physical types), its own
    * manifest chain starting at a self-contained v0. Per-file bounds
    * carry over from the source manifest — the clone re-reads ZERO
    * footers — and the snapshot's live deletion vectors copy too (their
    * (file key, pos) entries are layout-relative, so they stay valid
    * under the preserved relative layout). Unlike a shallow clone, the
    * result has no reference into `src`: vacuuming or dropping the source
    * can never break it. Reference analog: DuckLake snapshots + DuckDB's
    * COPY — the reference exports a snapshot by copying it. */
  def cloneTable(src: String, dst: String,
      version: Option[Long] = None): Unit = {
    require(src != dst, "clone target must differ from the source")
    // BOTH tables lock (sorted — the lockedAll deadlock discipline): the
    // source's lock keeps a concurrent expireSnapshots/rewrite from
    // vacuuming the very files the copy job is reading mid-flight
    lockedAll(Seq(src, dst).sorted.toList) {
    require(!tableExists(dst), s"clone target '$dst' already exists")
    require(shallowInfo(src).isEmpty,
      s"'$src' is a shallow clone — materialize it first, then clone")
    val v = version.getOrElse(versions(src).lastOption.getOrElse(
      throw new IllegalArgumentException(s"table '$src' has no snapshots")))
    val (_, resolved) = snapshotResolved(src, v)
    val stats = statsFor(src, v)
    val dvs = resolveDvs(src, v)
    // the clone IS the snapshot materialized: its data columns come from
    // the SNAPSHOT's manifest schema (current meta may have dropped or
    // renamed columns since — `VERSION AS OF v` would still show them,
    // and so must the clone); registry state (PKs, partitioning,
    // constraints) carries from the current meta but must be CONSISTENT
    // with that schema — refuse, never silently drop, when it references
    // columns the snapshot does not have
    val snapSchema = schemaAtVersion(src, v)
    val snapCols = snapSchema.fieldNames.map(_.toLowerCase).toSet
    val srcMeta = readMeta(src)
    val missingPk = srcMeta.pks.filterNot(c => snapCols.contains(c.toLowerCase))
    val missingPart = srcMeta.partitionExprs.flatMap(_.sourceColumns)
      .filterNot(c => snapCols.contains(c.toLowerCase))
    val missingCons = srcMeta.constraints.filter { case (_, text) =>
      !constraintRefs(text).subsetOf(snapCols)
    }
    require(missingPk.isEmpty && missingPart.isEmpty && missingCons.isEmpty,
      s"cannot clone '$src' at version $v: the current registry references " +
        s"columns the snapshot lacks (pks: ${missingPk.mkString(",")}; " +
        s"partition sources: ${missingPart.mkString(",")}; constraints: " +
        s"${missingCons.map(_._1).mkString(",")}) — clone the latest version " +
        "or drop the offending registry entries first")
    // distributed copy of data files (+ DV sidecars), preserving the
    // relative layout so manifest refs, stats keys and DV file keys all
    // stay byte-identical
    val dstData = dataDir(dst)
    val srcDvDir = dvDir(src).toString
    val dstDvDir = dvDir(dst).toString
    val work: Seq[(String, String)] =
      resolved.map { case ((rel, fn), at) =>
        val destDir = if (rel.isEmpty) dstData else s"$dstData/$rel"
        (at.toString, s"$destDir/$fn")
      } ++ dvs.map(d => (s"$srcDvDir/$d", s"$dstDvDir/$d"))
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    if (work.nonEmpty)
      spark.sparkContext
        .parallelize(work, math.min(work.size, 64))
        .foreachPartition { it =>
          it.foreach { case (from, to) =>
            val srcP = new Path(from); val dstP = new Path(to)
            val f = srcP.getFileSystem(hconf.value)
            f.mkdirs(dstP.getParent)
            org.apache.hadoop.fs.FileUtil.copy(f, srcP,
              dstP.getFileSystem(hconf.value), dstP, false, hconf.value)
          }
        }
    // meta lands AFTER the (long, failable) copy: a mid-copy failure
    // leaves stray files under a table that does not exist — retryable —
    // rather than a phantom zero-snapshot table that blocks the retry
    writeMeta(dst, srcMeta.copy(schema = snapSchema))
    commitVersion(dst, resolved.map(_._1), Nil, stats, op = "clone",
      dvAdded = dvs)
    }
  }

  // ---- SHALLOW clones: zero-copy snapshot references + vacuum pins ----

  private def shallowMarker(name: String) =
    new Path(s"${tableDir(name)}/_graft_shallow.json")
  private def pinsDir(name: String) = new Path(s"${tableDir(name)}/_pins")
  private val ShallowJson =
    """\{"src":"([^"]+)","version":(\d+)\}""".r

  /** (source table, pinned snapshot) when `name` is a SHALLOW clone —
    * cached per table; [[materializeClone]]/[[dropTable]] invalidate. */
  def shallowInfo(name: String): Option[(String, Long)] = {
    val key = s"$warehouse/$name"
    val cached = GraftLake.shallowCache.get(key)
    if (cached != null) return cached
    val p = shallowMarker(name)
    val f = fs(p)
    val info =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        raw.trim match {
          case ShallowJson(src, v) => Some((src, v.toLong))
          case other => throw new IllegalStateException(
            s"corrupt shallow-clone marker for '$name': $other")
        }
      }
    GraftLake.shallowCache.put(key, info)
    info
  }

  /** Vacuum pins on `name`'s snapshots: holder table → pinned version.
    * [[expireSnapshots]] keeps every pinned snapshot resolvable — its
    * manifest survives (re-anchored self-contained) and its files are
    * never vacuumed — until [[unpin]] (clone drop or materialize). */
  def pins(name: String): Map[String, Long] = {
    val pd = pinsDir(name)
    val f = fs(pd)
    if (!f.exists(pd)) Map.empty
    else f.listStatus(pd).toSeq.filter(_.getPath.getName.endsWith(".json"))
      .map { s =>
        val in = f.open(s.getPath)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        raw.trim match {
          case ShallowJson(holder, v) => holder -> v.toLong
          case other => throw new IllegalStateException(
            s"corrupt pin ${s.getPath}: $other")
        }
      }.toMap
  }

  private def writePin(src: String, holder: String, version: Long): Unit = {
    val pd = pinsDir(src)
    val f = fs(pd)
    f.mkdirs(pd)
    val p = new Path(pd, s"$holder.json")
    val tmp = new Path(pd, s".$holder-${UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(s"""{"src":"$holder","version":$version}""".getBytes("UTF-8"))
    finally out.close()
    replaceAtomic(f, tmp, p)
  }

  /** Release `holder`'s pin on `src` (no-op when absent). Public: a stale
    * pin left by a crashed clone drop is released manually. */
  def unpin(src: String, holder: String): Unit = {
    val p = new Path(pinsDir(src), s"$holder.json")
    fs(p).delete(p, false)
  }

  /** SHALLOW clone: `dst` becomes a ZERO-COPY read-only reference to
    * snapshot `version` of `src` — no data files copied, reads resolve
    * through the source's manifest. A PIN lands in the source's `_pins/`
    * BEFORE the clone exists (crash-safe direction: a stale pin makes
    * vacuum keep too much, never too little), and [[expireSnapshots]]
    * refuses to retire the pinned snapshot's manifest or files until the
    * clone is dropped (auto-unpin) or [[materializeClone]]d into an
    * independent table (deep-copy, then auto-unpin). Until then every
    * mutation of `dst` is refused at the commit chokepoint. The clone
    * SURVIVES source evolution — later schema changes, rewrites, even
    * vacuum — because it reads the pinned snapshot, never the live table.
    * Reference analog: DuckLake snapshot ids stay addressable while
    * retention holds them (ducklake catalog snapshots table); the pin is
    * that retention hold, file-native. */
  def shallowClone(src: String, dst: String,
      version: Option[Long] = None): Unit = {
    require(src != dst, "clone target must differ from the source")
    lockedAll(Seq(src, dst).sorted.toList) {
      require(!tableExists(dst), s"clone target '$dst' already exists")
      require(shallowInfo(src).isEmpty,
        s"'$src' is itself a shallow clone — materialize it first")
      val v = version.getOrElse(versions(src).lastOption.getOrElse(
        throw new IllegalArgumentException(s"table '$src' has no snapshots")))
      readManifestFile(src, v) // fail fast if already expired
      val snapSchema = schemaAtVersion(src, v)
      val srcMeta = readMeta(src)
      writePin(src, dst, v)
      writeMeta(dst, srcMeta.copy(schema = snapSchema))
      val p = shallowMarker(dst)
      val f = fs(p)
      val tmp = new Path(p.getParent, s".shallow-${UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(s"""{"src":"$src","version":$v}""".getBytes("UTF-8"))
      finally out.close()
      replaceAtomic(f, tmp, p)
      GraftLake.shallowCache.put(s"$warehouse/$dst", Some((src, v)))
    }
  }

  /** Turn a shallow clone into an INDEPENDENT table: the pinned
    * snapshot's files deep-copy in (the [[cloneTable]] distributed-copy
    * machinery — per-file bounds carried, DVs copied, zero footer
    * re-reads), the marker drops, and the source pin releases LAST (a
    * crash mid-way leaves a stale pin — vacuum keeps too much, never a
    * broken clone). After this, vacuum of the source can retire the
    * snapshot freely. */
  def materializeClone(name: String): Unit = {
    val (src, v) = shallowInfo(name).getOrElse(throw new IllegalArgumentException(
      s"table '$name' is not a shallow clone"))
    lockedAll(Seq(src, name).sorted.toList) {
      val (_, resolved) = snapshotResolved(src, v)
      val stats = statsFor(src, v)
      val dvs = resolveDvs(src, v)
      val dstData = dataDir(name)
      val srcDvDir = dvDir(src).toString
      val dstDvDir = dvDir(name).toString
      val work: Seq[(String, String)] =
        resolved.map { case ((rel, fn), at) =>
          val destDir = if (rel.isEmpty) dstData else s"$dstData/$rel"
          (at.toString, s"$destDir/$fn")
        } ++ dvs.map(d => (s"$srcDvDir/$d", s"$dstDvDir/$d"))
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      if (work.nonEmpty)
        spark.sparkContext
          .parallelize(work, math.min(work.size, 64))
          .foreachPartition { it =>
            it.foreach { case (from, to) =>
              val srcP = new Path(from); val dstP = new Path(to)
              val f = srcP.getFileSystem(hconf.value)
              f.mkdirs(dstP.getParent)
              org.apache.hadoop.fs.FileUtil.copy(f, srcP,
                dstP.getFileSystem(hconf.value), dstP, false, hconf.value)
            }
          }
      // marker off BEFORE the commit (the commit chokepoint refuses
      // shallow tables); a crash in the window between leaves an empty
      // zero-snapshot table whose copied files no manifest lists — drop
      // it and clone again: the still-held pin keeps the source snapshot
      // safe
      val mp = shallowMarker(name)
      fs(mp).delete(mp, false)
      GraftLake.shallowCache.put(s"$warehouse/$name", None)
      commitVersion(name, resolved.map(_._1), Nil, stats, op = "clone",
        dvAdded = dvs)
      unpin(src, name)
    }
  }

  def restore(name: String, version: Long): Unit = writeLock(name) {
    val cur = latestVersion(name).getOrElse(
      throw new IllegalArgumentException(s"table '$name' has no snapshots"))
    if (cur == version) return
    // FAILS FAST when the target was expired — before anything commits
    val targetRefs = resolveManifest(name, version)._2
    val curRefs = resolveManifest(name, cur)._2.toSet
    val addedRefs = targetRefs.filterNot(curRefs.contains)
    val removedRefs = curRefs.diff(targetRefs.toSet).toSeq.sorted
    // per-file bounds for the re-added files come from the TARGET
    // snapshot's own manifest — the restore commit re-reads no footers
    val tStats = resolveStats(name, version)
    val addStats = addedRefs.flatMap { ref =>
      tStats.get(GraftLake.fileKey(ref)).map(GraftLake.fileKey(ref) -> _)
    }.toMap
    val curDvs = liveDvs(name)
    val tDvs = resolveDvs(name, version)
    // the re-added files belong to retained snapshots: a lost commit race
    // must leave them in place
    commitVersion(name, addedRefs, removedRefs, addStats,
      op = "restore", dvAdded = tDvs.diff(curDvs), dvRemoved = curDvs.diff(tDvs),
      addedAreNew = false)
  }

  /** Audit view of a table's shape over time: (version, live file count,
    * column count, schema JSON) per committed snapshot — manifests carry
    * the schema at commit, so evolution history costs no extra
    * bookkeeping. */
  def schemaHistory(name: String): Seq[(Long, Int, Int, String)] =
    versions(name).map { v =>
      val (schema, files) = snapshotFiles(name, v)
      (v, files.size, schema.fields.length, schema.json)
    }

  /** Rows in data files ADDED between two snapshots (file-set difference
    * by unique part-file name, read under the newer snapshot's schema) —
    * the incremental-consumption primitive. EXACT change capture for
    * append-only tables (each commit's new files hold exactly its new
    * rows); after an upsert or a rewrite it is file-level, not row-level:
    * a rewrite's survivor rows reappear alongside the actual changes, and
    * an upsert's masked rows never show as gone — consumers
    * of merged tables should diff snapshots by key instead. */
  def readAppendsBetween(name: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"need fromVersion <= toVersion, got $fromVersion > $toVersion")
    val (schema, toResolved) = snapshotResolved(name, toVersion)
    // diff by (rel, name) identity — the NAME alone repeats across
    // partition dirs within one job, so it would conflate distinct files
    val fromRefs = resolveManifest(name, fromVersion)._2.toSet
    val fresh = toResolved.collect {
      case (ref, p) if !fromRefs.contains(ref) => p.toString
    }
    if (fresh.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        GraftLake.logicalSchema(schema))
    else toLogical(schema, manifestScan(fresh, Map.empty, schema, 0, None)
      .select(schema.fieldNames.map(n => col(quoted(n))): _*))
  }

  // ---- write-time change files (CDF through rewrite-class commits) ----

  private def changesDir(name: String) = new Path(s"${tableDir(name)}/_changes")

  /** Stage + publish the row-level CHANGE files of an imminent
    * rewrite-class commit ([[TableMeta.cdfEnabled]] tables only — the
    * Delta `_change_data` mechanism). `rows` carries the table's columns
    * (logical or physical names) plus `_change_type`
    * ('insert' | 'delete' | 'update_preimage' | 'update_postimage').
    * Returns the published file names; the caller records them in the
    * commit's manifest — the manifest is the atomic pointer, so a crash
    * (or a lost commit race) before the manifest lands leaves only
    * UNREFERENCED files, reaped by [[expireSnapshots]]' change vacuum.
    * Must run BEFORE the rewrite's stage/swap: the change plan reads the
    * pre-commit live files. */
  private def writeChangeFiles(name: String, meta: TableMeta,
      rows: DataFrame): Seq[String] = {
    val ct = GraftLake.ChangeTypeCol
    val out = toPhysical(meta.schema, rows)
      .select(meta.schema.fieldNames.map(n => col(quoted(n))).toSeq :+
        col(ct): _*)
    val stage = new Path(s"${tableDir(name)}/.chgstage-${UUID.randomUUID()}")
    val f = fs(stage)
    try {
      // rebalance, as in the DV staging paths: AQE coalesces the typical
      // batch-sized change set to one file without capping a huge one's
      // write parallelism
      val staged =
        if (spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean)
          out.hint("rebalance")
        else out
      lakeWriter(staged).parquet(stage.toString)
      org.apache.spark.sql.graft.StatsCommitProtocol.drain(stage)
      val cd = changesDir(name)
      f.mkdirs(cd)
      f.listStatus(stage).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { s =>
          val n = s"chg-${UUID.randomUUID()}.parquet"
          renameOrFail(f, s.getPath, new Path(cd, n))
          n
        }
    } finally f.delete(stage, true)
  }

  /** A commit's published change rows, read under `schema` (the feed's
    * toVersion-era physical schema: columns added since the commit read
    * null, and the registry's widened types apply — the same widened-read
    * contract the live scan uses). */
  private def changeFileRows(name: String, changeFiles: Seq[String],
      schema: StructType): DataFrame = {
    val withCt = StructType(schema.fields.toSeq :+
      StructField(GraftLake.ChangeTypeCol, StringType, nullable = false))
    spark.read.schema(withCt)
      .parquet(changeFiles.map(n => s"${changesDir(name)}/$n"): _*)
  }

  /** Row-level change feed between two snapshots, derived from commit
    * METADATA (per-commit file/DV deltas), never by diffing table
    * contents: each append-class commit's new files are its `insert`
    * rows, each merge-on-read commit's new deletion-vector entries are
    * its `delete` rows (a MoR UPDATE yields its preimages as deletes and
    * its postimages as inserts), and physically-churning but logically
    * no-op commits (`compact`, `zorder`, `dv-clear`, `materialize`)
    * contribute nothing.
    * Output: the table's columns at `toVersion` plus `_change_type`
    * ('insert' | 'delete') and `_commit_version`.
    *
    * Scale contract: cost is O(changed files + DV entries in the window)
    * — added files are scanned directly, deleted rows are recovered by
    * scanning ONLY the files the window's DVs reference (semi-join on
    * (file key, row position), DV side broadcast under the same
    * `spark.graft.dv.maxEntries` gate as live reads) — the table itself
    * is never scanned or value-diffed, which is what lets an incremental
    * consumer follow a 100 TB table whose per-commit delta is megabytes.
    * A merge-on-read UPDATE commit pairs into
    * 'update_preimage' (its new DV entries) / 'update_postimage' (its
    * added files). Rewrite-class commits (overwrite, restore, repair) and
    * upserts and general MERGEs with matches (their added files mix
    * updated and inserted rows) are attributable ONLY when the
    * commit carries WRITE-TIME CHANGE FILES ([[TableMeta.cdfEnabled]] —
    * the commit's manifest then references its complete row-level change
    * set under `_changes/`, read verbatim, O(changed rows)); otherwise
    * such windows fail fast: attribution through a rewrite is not
    * metadata-derivable — diff those windows by key instead
    * ([[graft.operators.AnalyticsOps]] snapshotDiff, q86/q98).
    * Reference: DuckLake's `ducklake_table_changes` function, which reads
    * the same per-snapshot file/delete metadata. */
  def tableChanges(name: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"need fromVersion <= toVersion, got $fromVersion > $toVersion")
    val vs = versions(name)
    require(vs.contains(fromVersion) && vs.contains(toVersion),
      s"table '$name' has no snapshot pair ($fromVersion, $toVersion)")
    val meta = readMeta(name)
    val partDepth = meta.partitionExprs.size
    val toSchema = resolveManifest(name, toVersion)._1
    val outSchema = StructType(toSchema.fields.toSeq ++ Seq(
      StructField(GraftLake.ChangeTypeCol, StringType, nullable = false),
      StructField(GraftLake.CommitVersionCol, LongType, nullable = false)))
    // O(delta) per commit: delta manifests carry their own add/remove and
    // dvAdd/dvRemove, so the walk never re-materializes the live set
    // except at full-checkpoint manifests (every checkpointInterval
    // commits) — the megabyte-delta 100 TB table stays megabyte-cheap
    var prevRefs = resolveManifest(name, fromVersion)._2.toSet
    var prevDvs = resolveDvs(name, fromVersion).toSet
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    vs.filter(v => v > fromVersion && v <= toVersion).foreach { v =>
      val m = readManifestFile(name, v)
      val (refs, added, removedRefs) = m.files match {
        case Some(full) =>
          val refSet = full.toSet
          (refSet, (refSet -- prevRefs).toSeq.sorted,
            (prevRefs -- refSet).toSeq.sorted)
        case None =>
          (prevRefs -- m.remove ++ m.add, m.add.sorted.toSeq,
            m.remove.sorted.toSeq)
      }
      val removedAny = removedRefs.nonEmpty
      val (dvs, dvAdded, dvRemovedAny) = m.dvs match {
        case Some(full) =>
          val dvSet = full.toSet
          (dvSet, (dvSet -- prevDvs).toSeq.sorted,
            (prevDvs -- dvSet).nonEmpty)
        case None =>
          (prevDvs -- m.dvRemove ++ m.dvAdd, m.dvAdd.sorted.toSeq,
            m.dvRemove.nonEmpty)
      }
      // a METADATA-ONLY DELETE or TRUNCATE (remove-only commit, no adds,
      // no new DVs) IS row-attributable: the removed files' still-unmasked
      // rows are exactly the deleted rows, readable from data/ while the
      // window is retained. Both may also drop now-inert DV sidecars in the same
      // commit — that removal clears nothing a reader could see, and the
      // emission below anti-joins the PRE-commit DV state regardless.
      val metadataDelete = removedAny && added.isEmpty && dvAdded.isEmpty &&
        (m.op == "delete" || m.op == "truncate")
      // an upsert's or a general MERGE's added files mix updated and
      // inserted rows: without change files only a match-less one (no
      // DV) is attributable
      val unpaired = (m.op == "upsert" || m.op == "merge") && dvAdded.nonEmpty
      if (m.changes.nonEmpty) {
        // write-time change files are the commit's AUTHORITATIVE,
        // complete row-level change set — read them verbatim and ignore
        // the file delta (a rewrite's added files mix carried-over and
        // new rows, an upsert's updated and inserted ones; only the change
        // files attribute them)
        pieces += changeFileRows(name, m.changes, toSchema)
          .withColumn(GraftLake.CommitVersionCol, lit(v))
      } else if (!GraftLake.LogicalNoOps(m.op)) {
        require(metadataDelete || (!removedAny && !dvRemovedAny && !unpaired),
          s"tableChanges on '$name': commit v$v ('${m.op}') rewrites files " +
            "or clears deletion vectors — row-level attribution through a " +
            "rewrite is not metadata-derivable; enable the change feed " +
            s"(table property ${TableMeta.CdfEnabledKey}) so such commits " +
            "write their changes, or diff the snapshots by key " +
            "(snapshotDiff)")
        // a MoR UPDATE pairs exactly: its DV entries are the preimages,
        // its added files the postimages (same commit, by construction)
        val (delType, insType) =
          if (m.op == "update") ("update_preimage", "update_postimage")
          else ("delete", "insert")
        if (added.nonEmpty)
          pieces += manifestScan(added.map(refPath(name, _)), Map.empty,
              toSchema, 0, None)
            .withColumn(GraftLake.ChangeTypeCol, lit(insType))
            .withColumn(GraftLake.CommitVersionCol, lit(v))
        if (dvAdded.nonEmpty) {
          // the DV entries reference files of commit v's era — key
          // them under THAT commit's layout depth (a later depth
          // REBUILD must not silently drop this window's deletes)
          val depthAtV = layoutAt(name, v)
            .map(sp => PartitionExpr.parseList(sp).size).getOrElse(partDepth)
          pieces += dvMaskedRows(name, toSchema, dvAdded, depthAtV)
            .withColumn(GraftLake.ChangeTypeCol, lit(delType))
            .withColumn(GraftLake.CommitVersionCol, lit(v))
        }
        if (metadataDelete) {
          val scan = manifestScan(removedRefs.map(refPath(name, _)),
            Map.empty, toSchema, 0, None)
          val rows =
            if (prevDvs.isEmpty) scan
            else {
              // anti-join the PRE-commit DV state: rows an earlier MoR
              // delete masked were already emitted in that commit's slice.
              // Uncached entry count, as in dvMaskedRows — a window subset
              // must not evict the live set's cache slot.
              val dvList = prevDvs.toSeq.sorted
              dvAntiJoinFrames(scan, dvFrame(name, dvList), partDepth,
                broadcastDv = dvEntryCount(name, dvList) <= dvMaxEntries)
            }
          pieces += rows
            .withColumn(GraftLake.ChangeTypeCol, lit("delete"))
            .withColumn(GraftLake.CommitVersionCol, lit(v))
        }
      }
      prevRefs = refs
      prevDvs = dvs
    }
    val out =
      if (pieces.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
      else pieces.reduce(_ unionByName _)
    toLogical(toSchema,
      out.select(outSchema.fieldNames.map(n => col(quoted(n))): _*))
  }

  /** One STREAMING micro-batch over the commit log, window
    * `(fromVersion, toVersion]` — the engine half of the `graft-cdf`
    * Structured-Streaming source ([[graft.streaming.GraftCdfSource]]).
    * Returns the rows ADDED by the window's pure-additive commits (no
    * files removed, no deletion vectors added — op-agnostic, so plain
    * appends, idempotent appends and match-less upserts all stream) as a
    * DataFrame whose plan is `isStreaming = true` (the contract
    * MicroBatchExecution asserts on a v1 `Source.getBatch` result — the
    * same `LogicalRelation(relation, isStreaming = true)` construction
    * Spark's own FileStreamSource uses). Version-offset batches survive
    * REWRITES:
    * content-preserving commits (`compact`, `zorder`, `dv-clear`,
    * `materialize`)
    * contribute nothing — their files are rearrangements of rows already
    * emitted — and row-changing commits (upsert and MERGE matches, MoR
    * update/delete, truncate, restore) FAIL FAST by default (row
    * attribution through a rewrite is not metadata-derivable;
    * `onRewrite = "skip"` downgrades them to no-ops for consumers that
    * accept documented at-least-once gaps). Emitted files never move, so
    * a slow consumer is immune to concurrent rewrites while its window is
    * retained.
    *
    * Bootstrap: when `fromVersion` equals the source's pinned
    * `bootstrapAt` floor (the `startingVersion=snapshot` mode — the
    * consumer has NOTHING yet), the first window commit contributes its
    * FULL RESOLVED live set (explicitly via the manifest chain — a delta
    * manifest's own add-list would under-emit the base) with that
    * snapshot's deletion vectors applied as the codegen'd
    * [[graft.functions.DvMasked]] FILTER (a filter preserves the
    * streaming relation shape; an unbounded DV set fails with guidance
    * to `materializeDeletes` first); later window commits stream as
    * deltas. Any other `fromVersion` absent from the chain means the
    * checkpoint's offset was expired by [[expireSnapshots]] — fail
    * loudly, never silently re-emit (the explicit `bootstrapAt` is what
    * keeps an expired offset from being MISREAD as a bootstrap). */
  /** The stream's schema-change policy over a commit window: under
    * `fail`, Some(message) for the first commit whose logical (name,
    * type) shape differs from the stream's advertised schema — the loud
    * option a REPLICATING consumer needs (conforming would silently drop
    * a column added mid-stream from every epoch until restart);
    * `conform` (None always) keeps the silent-projection behavior.
    * Returns the violation instead of throwing: the caller converts it
    * into an EXECUTION-time failure ([[failingStreamBatch]]) because a
    * restart's discarded catch-up getBatch may legitimately span an
    * old-shape committed window (the stream re-advertised the evolved
    * schema on restart) and must not crash at plan build. Runs on
    * manifests the batch walk reads anyway. */
  private def schemaPolicyViolation(name: String, window: Seq[Long],
      advertisedBase: Option[StructType],
      onSchemaChange: String,
      advertisedAt: Option[Long] = None): Option[String] = {
    if (onSchemaChange != "fail") return None
    advertisedBase.flatMap { adv =>
      val want = GraftLake.schemaShape(adv)
      // only commits AFTER the version at which the stream advertised its
      // schema are genuine MID-STREAM evolution; commits at or below it
      // (a startingVersion=0/timestamp backfill over a table that evolved
      // anywhere in retained history) pre-date the advertisement and
      // conform under the widened-read contract — failing on them would
      // brick every batch permanently, and the "restart the stream"
      // remedy could never fix it (a restart re-advertises the same
      // current schema)
      val scoped = advertisedAt.fold(window)(at => window.filter(_ > at))
      scoped.iterator.map { v =>
        v -> GraftLake.schemaShape(readManifestFile(name, v).schema)
      }.collectFirst { case (v, got) if got != want =>
        s"graft-cdf stream on '$name': commit v$v carries a DIFFERENT " +
          s"schema than the stream advertised at start (" +
          s"added: ${(got -- want).map(_._1).toSeq.sorted.mkString(", ")}; " +
          s"removed: ${(want -- got).map(_._1).toSeq.sorted.mkString(", ")}) " +
          "— onSchemaChange=fail refuses to silently conform. Restart " +
          "the stream to pick up the new schema, or set " +
          "onSchemaChange=conform to project every epoch to the " +
          "stream-start shape"
      }
    }
  }

  /** A streaming micro-batch that fails AT EXECUTION with `msg`, not at
    * plan build: Spark's v1 restart contract invokes getBatch ONCE for
    * the already-committed window and DISCARDS the result (source
    * catch-up, populateStartOffsets) — an eager refusal would crash a
    * healthy restart on a window it will never execute. A genuinely
    * replayed or progressing batch executes the plan and fails loudly. */
  private def failingStreamBatch(schema: StructType, msg: String): DataFrame = {
    val failing = spark.range(1)
      .select(schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
      .filter(raise_error(lit(msg)).cast("boolean").isNotNull)
    org.apache.spark.sql.graft.PlanBridge.streamify(failing)
  }

  private[graft] def streamAppendBatch(name: String, fromVersion: Long,
      toVersion: Long, onRewrite: String = "fail",
      bootstrapAt: Option[Long] = None,
      advertised: Option[StructType] = None,
      onSchemaChange: String = "conform",
      advertisedAt: Option[Long] = None): DataFrame = {
    val meta = readMeta(name)
    val vs = versions(name)
    val window = vs.filter(v => v > fromVersion && v <= toVersion)
    for (msg <- schemaPolicyViolation(name, window, advertised, onSchemaChange,
        advertisedAt))
      return failingStreamBatch(
        advertised.getOrElse(GraftLake.logicalSchema(meta.schema)), msg)
    val bootstrap = bootstrapAt.contains(fromVersion) && window.nonEmpty
    // a negative floor against a chain that still RETAINS its first-ever
    // commit (v0) is the legitimate "consumer has nothing, nothing was
    // ever expired" origin — `latest` pinned on a then-empty table lands
    // here when the first commit arrives
    val originFloor = fromVersion < 0 && vs.headOption.contains(0L)
    if (window.nonEmpty && !bootstrap && !originFloor &&
        !vs.contains(fromVersion))
      return failingStreamBatch(
        advertised.getOrElse(GraftLake.logicalSchema(meta.schema)),
        s"graft-cdf stream on '$name': offset v$fromVersion was expired " +
          "by expireSnapshots — restart the stream from a retained version")
    val out = Seq.newBuilder[(String, String)]
    if (bootstrap) // the backfill snapshot: the one necessarily-full read
      out ++= resolveManifest(name, window.head)._2
    // O(commit delta) steady state: a DELTA manifest carries its own
    // add/remove/dvAdd lists, so the walk needs NO prior state for it —
    // the live set is resolved ONLY when a FULL checkpoint manifest
    // appears in the window (1 in checkpointInterval commits), diffed
    // against the immediately preceding version. Resolving the live set
    // eagerly per trigger would make every epoch O(live files) — exactly
    // the cost a commit-log tail of a 100 TB table must not pay.
    var prevV: Option[Long] =
      if (bootstrap) Some(window.head)
      else if (originFloor || window.isEmpty) None
      else Some(fromVersion)
    val rest = if (bootstrap) window.tail else window
    // the unattributable-rewrite refusal must fail at EXECUTION, not
    // here: a restart's discarded catch-up getBatch can replay a window
    // the stream committed under DIFFERENT options (onRewrite=skip then,
    // fail now — or feed flipped) and must not crash at plan build; the
    // same v1-restart contract as the expired-offset and schema-policy
    // refusals above
    var refusal: Option[String] = None
    val it = rest.iterator
    while (it.hasNext && refusal.isEmpty) {
      val v = it.next()
      val m = readManifestFile(name, v)
      val (added, removed) = m.files match {
        case Some(full) =>
          val prevRefs = prevV
            .map(pv => resolveManifest(name, pv)._2.toSet).getOrElse(Set.empty)
          val s = full.toSet
          ((s -- prevRefs).toSeq.sorted, (prevRefs -- s).toSeq.sorted)
        case None => (m.add.sorted.toSeq, m.remove.sorted.toSeq)
      }
      val dvAdded = m.dvs match {
        case Some(full) =>
          val prevDvs = prevV
            .map(pv => resolveDvs(name, pv).toSet).getOrElse(Set.empty)
          (full.toSet -- prevDvs).toSeq.sorted
        case None => m.dvAdd.sorted.toSeq
      }
      if (GraftLake.LogicalNoOps(m.op)) () // content-preserving rearrangement
      else if (removed.isEmpty && dvAdded.isEmpty) out ++= added
      else if (onRewrite == "skip") () // documented at-least-once gap
      else refusal = Some(
        s"graft-cdf stream on '$name': commit v$v ('${m.op}') rewrites or " +
          "deletes rows — appends-mode cannot attribute it; use feed=cdf " +
          s"(with ${TableMeta.CdfEnabledKey} for exact rewrite attribution), " +
          "onRewrite=skip (documented at-least-once), or diff snapshots " +
          "by key")
      prevV = Some(v)
    }
    for (msg <- refusal)
      return failingStreamBatch(
        advertised.getOrElse(GraftLake.logicalSchema(meta.schema)), msg)
    val scan = streamingParquetScan(out.result().map(refPath(name, _)), meta.schema)
    val bootDvs =
      if (bootstrap) resolveDvs(name, window.head) else Nil
    val masked =
      if (bootDvs.isEmpty) scan
      else {
        // the snapshot's DVs mask only its own files; window-added files
        // have no entries, so one filter over the combined scan is exact
        require(dvEntryCount(name, bootDvs) <= dvMaxEntries,
          s"graft-cdf bootstrap of '$name': the starting snapshot " +
            s"carries more than $dvMaxEntries deletion-vector entries — " +
            "run materializeDeletes first, then start the stream")
        val b = dvBroadcastCached(name, bootDvs)
        import org.apache.spark.sql.graft.PlanBridge
        val probe = graft.functions.DvMasked(
          PlanBridge.expression(
            GraftLake.dvKeyColumn(meta.partitionExprs.size)),
          PlanBridge.expression(col("_metadata.row_index")), b)
        scan.filter(!PlanBridge.column(probe))
      }
    val logical = toLogical(meta.schema,
      masked.select(meta.schema.fieldNames.map(n => col(quoted(n))): _*))
    // conform to the stream's ADVERTISED shape (schema may have evolved
    // since stream start: extra columns drop, since-dropped ones null) —
    // MicroBatchExecution substitutes the batch against the advertised
    // attributes, so the column sets must match exactly
    advertised.fold(logical)(GraftLake.conformTo(logical, _))
  }

  /** One STREAMING CHANGE-FEED micro-batch, window `(fromVersion,
    * toVersion]` — the `feed=cdf` half of the `graft-cdf` source: the
    * table's columns plus `_change_type` ('insert' | 'delete') and
    * `_commit_version`, derived from commit METADATA by [[tableChanges]]
    * (append commits' new files → inserts, MoR commits' new DV entries →
    * deletes, metadata-only deletes → the retired files' unmasked rows;
    * content-preserving rewrites contribute nothing; rewrite-class
    * commits FAIL FAST — row attribution through a rewrite is not
    * metadata-derivable). A bootstrap floor emits the pinned snapshot's
    * live rows as `insert`s of the head commit, then the metadata walk
    * takes over. The composed plan (unions + the DV semi-join) is tagged
    * streaming via [[org.apache.spark.sql.graft.PlanBridge.streamify]].
    * Cost per epoch: O(changed files + DV entries in the window) — a
    * downstream CDC consumer follows a 100 TB table whose per-commit
    * delta is megabytes. */
  private[graft] def streamChangeBatch(name: String, fromVersion: Long,
      toVersion: Long, bootstrapAt: Option[Long] = None,
      advertised: Option[StructType] = None,
      onSchemaChange: String = "fail",
      advertisedAt: Option[Long] = None): DataFrame = {
    val vs = versions(name)
    val window = vs.filter(v => v > fromVersion && v <= toVersion)
    // the advertised CDF shape carries the two feed columns — strip them
    // before comparing against commit schemas
    for (msg <- schemaPolicyViolation(name, window,
        advertised.map(a => StructType(a.fields.filterNot(f =>
          f.name == GraftLake.ChangeTypeCol ||
            f.name == GraftLake.CommitVersionCol))),
        onSchemaChange, advertisedAt))
      return failingStreamBatch(
        advertised.getOrElse(
          GraftLake.cdfSchema(GraftLake.logicalSchema(readMeta(name).schema))),
        msg)
    val originFloor = fromVersion < 0 && vs.headOption.contains(0L)
    val bootstrap =
      (bootstrapAt.contains(fromVersion) || originFloor) && window.nonEmpty
    val meta = readMeta(name)
    if (window.nonEmpty && !bootstrap && !vs.contains(fromVersion))
      return failingStreamBatch(
        advertised.getOrElse(
          GraftLake.cdfSchema(GraftLake.logicalSchema(meta.schema))),
        s"graft-cdf stream on '$name': offset v$fromVersion was expired " +
          "by expireSnapshots — restart the stream from a retained version")
    // the ADVERTISED schema (stream-start shape) is what
    // MicroBatchExecution substitutes the batch plan against — fresh
    // meta may already have evolved past it
    val outSchema = advertised.getOrElse(
      GraftLake.cdfSchema(GraftLake.logicalSchema(meta.schema)))
    if (window.isEmpty)
      return org.apache.spark.sql.graft.PlanBridge.streamify(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema))
    val head = window.head
    val boot: Option[DataFrame] =
      if (!bootstrap) None
      else Some(readVersion(name, head) // the snapshot's LIVE rows, DV-masked
        .withColumn(GraftLake.ChangeTypeCol, lit("insert"))
        .withColumn(GraftLake.CommitVersionCol, lit(head)))
    val deltaFrom = if (bootstrap) head else fromVersion
    val deltas: Option[DataFrame] =
      if (deltaFrom >= toVersion) None
      else Some(tableChanges(name, deltaFrom, toVersion))
    // schema-evolving commits inside one window make the legs differ
    // (boot reads the HEAD-era schema, deltas the toVersion-era one, and
    // the source advertised the schema of stream START time): union with
    // missing-column tolerance and conform to the ADVERTISED shape —
    // columns a leg lacks read null, columns the advertisement lacks are
    // dropped (they only exist post-evolution; the consumer re-reads the
    // schema on restart, the standard streaming-evolution contract)
    val combined = (boot, deltas) match {
      case (Some(b), Some(d)) => b.unionByName(d, allowMissingColumns = true)
      case (Some(b), None) => b
      case (None, Some(d)) => d
      case (None, None) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    org.apache.spark.sql.graft.PlanBridge.streamify(
      GraftLake.conformTo(combined, outSchema))
  }

  /** Parquet scan of an explicit file list whose plan is tagged
    * `isStreaming = true` — what a v1 streaming `Source.getBatch` must
    * return (Spark's FileStreamSource builds the identical shape). Leaf
    * files are passed as roots, so no partition discovery runs; partition
    * SOURCE columns live in the data files themselves. An empty list
    * yields an empty streaming relation, not a LocalRelation (a
    * LocalRelation is not streaming and would fail MicroBatchExecution's
    * assertion). */
  private def streamingParquetScan(paths: Seq[String],
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val index = new org.apache.spark.sql.graft.GraftPruningFileIndex(
      spark, paths.map(new Path(_)), Map.empty, Some(schema), _ => None)
    val rel = HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat(), Map.empty)(spark)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      LogicalRelation(rel, isStreaming = true))
  }

  /** Exact `count(*)` from METADATA when every live file carries the
    * [[GraftLake.RowCountKey]] footer-count stat: Σ per-file row counts
    * minus live DV entries that reference live files (inert entries for
    * retired files don't subtract) — O(manifest + DV sidecars), zero
    * data files opened. `None` when any live file predates the row-count
    * stat (it gains one on its next rewrite); [[rowCountFast]] then
    * falls back to a scan count. DuckLake answers the same query from
    * its catalog's per-file row counts. */
  /** A user column shadowing [[GraftLake.RowCountKey]] occupies its
    * stats slot (footerStats only suppresses the synthetic entry), so
    * every metadata-count consumer must refuse the table. */
  private def rowCountShadowed(meta: TableMeta): Boolean =
    meta.schema.fieldNames.exists(_.equalsIgnoreCase(GraftLake.RowCountKey))

  /** Σ footer row counts of the files `refs` in `stats` (DV-masked rows
    * included); None when one lacks the count or a user column shadows
    * it. */
  private def footerRows(meta: TableMeta,
      stats: Map[String, Map[String, GraftLake.Bounds]],
      refs: Seq[(String, String)]): Option[Long] =
    if (rowCountShadowed(meta)) None
    else refs.foldLeft(Option(0L)) { (sum, r) =>
      for {
        s <- sum
        n <- stats.get(GraftLake.fileKey(r)).flatMap(_.get(GraftLake.RowCountKey))
          .collect { case GraftLake.NumBounds(n, _) => n.toLong }
      } yield s + n
    }

  /** Live DV entry count per data-file key, restricted to `liveKeys` —
    * inert entries for retired files never subtract. Bounded driver
    * collect: one row per data file the DVs touch. */
  private def liveDvEntriesByFile(name: String, dvs: Seq[String],
      liveKeys: Set[String]): Map[String, Long] =
    if (dvs.isEmpty) Map.empty
    else dvFrame(name, dvs).groupBy(col("file_key")).count().collect()
      .map(r => GraftLake.decodeKey(r.getString(0)) -> r.getLong(1))
      .filter(kn => liveKeys.contains(kn._1)).toMap

  def rowCountFromStats(name: String): Option[Long] = {
    val meta = readMeta(name)
    if (rowCountShadowed(meta)) return None
    val vs = versions(name)
    if (vs.isEmpty) return Some(0L)
    val v = vs.last
    val (_, files, _) = resolveManifest(name, v)
    val total = footerRows(meta, statsFor(name, v), files).getOrElse(return None)
    val masked = liveDvEntriesByFile(name, liveDvs(name),
      files.map(GraftLake.fileKey).toSet).values.sum
    Some(total - masked)
  }

  /** Metadata-only exact row count with a scan fallback. */
  def rowCountFast(name: String): Long =
    rowCountFromStats(name).getOrElse(read(name).count())

  /** Per-partition statistics from METADATA: one row per partition
    * directory with its live file count, exact row count (footer counts
    * minus that partition's live DV entries) and total bytes — the SHOW
    * PARTITIONS + sizes pane, O(manifest + DV sidecars + file statuses),
    * zero data files opened. Unpartitioned tables report one
    * `(partition = "")` row. Row counts are `-1` when any of the
    * partition's files predates the footer-count stat. */
  def partitionStats(name: String): DataFrame = {
    val vs = versions(name)
    val rows: Seq[(String, Long, Long, Long)] = vs.lastOption match {
      case None => Nil
      case Some(v) =>
        val (_, resolved) = snapshotResolved(name, v)
        val stats = statsFor(name, v)
        val f = fs(new Path(dataDir(name)))
        val liveKeys = resolved.map(r => GraftLake.fileKey(r._1)).toSet
        val maskedByKey = liveDvEntriesByFile(name, liveDvs(name), liveKeys)
        val shadowed = rowCountShadowed(readMeta(name))
        resolved.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (rel, fs0) =>
          val counts = fs0.map { case (ref, _) =>
            if (shadowed) -1L
            else stats.getOrElse(GraftLake.fileKey(ref), Map.empty)
              .get(GraftLake.RowCountKey) match {
              case Some(GraftLake.NumBounds(lo, _)) =>
                lo.toLong - maskedByKey.getOrElse(GraftLake.fileKey(ref), 0L)
              case _ => -1L
            }
          }
          (rel, fs0.size.toLong,
            if (counts.contains(-1L)) -1L else counts.sum,
            fs0.map(r => f.getFileStatus(r._2).getLen).sum)
        }
    }
    import spark.implicits._
    rows.toDF("partition", "n_files", "n_rows", "total_bytes")
  }

  /** Per-row provenance: the table's LIVE rows (deletion vectors
    * applied) with `_commit_version` — the snapshot that ADDED the row's
    * file — and `_source_file` attached. The training-data lineage
    * surface: which ingest batch/commit contributed each surviving row,
    * recoverable with no extra bookkeeping because commits are already
    * per-file deltas. Attribution is file-granular, so a rewrite
    * (compact/upsert) re-attributes its output rows to the rewrite
    * commit — `_inserted_at` stays the row-level ingest time across
    * rewrites. Cost: one manifest walk (history-shaped, driver-side) +
    * a broadcast of the (file, commit) map onto the normal pruned scan —
    * no shuffle of the data side. */
  def readWithProvenance(name: String): DataFrame = {
    val meta = readMeta(name)
    val vs = versions(name)
    // O(delta) per commit (full sets only at checkpoint manifests), and
    // LAST-WINS per file key: a file re-added by a later commit (RESTORE
    // re-references retired files under the same identity) must carry
    // one attribution, not fan the join out
    var prev = Set.empty[(String, String)]
    val attribution =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    vs.foreach { v =>
      val m = readManifestFile(name, v)
      val (refs, added) = m.files match {
        case Some(full) =>
          val refSet = full.toSet
          (refSet, (refSet -- prev).toSeq.sorted)
        case None => (prev -- m.remove ++ m.add, m.add.sorted.toSeq)
      }
      added.foreach(r => attribution(GraftLake.fileKey(r)) = v)
      prev = refs
    }
    val logicalCols = GraftLake.logicalSchema(meta.schema).fieldNames.toSeq
    liveKeyedScanLocked(name, meta) match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(GraftLake.logicalSchema(meta.schema).fields.toSeq ++ Seq(
            StructField(GraftLake.CommitVersionCol, LongType),
            StructField(GraftLake.SourceFileCol, StringType))))
      case Some(live) =>
        import spark.implicits._
        val attr = broadcast(attribution.toSeq
          .toDF("__prov_key", GraftLake.CommitVersionCol))
        live
          .join(attr, live(keyC) === attr("__prov_key"), "left")
          .withColumn(GraftLake.SourceFileCol, col(keyC))
          .select((logicalCols :+ GraftLake.CommitVersionCol :+
            GraftLake.SourceFileCol).map(n => col(quoted(n))): _*)
    }
  }

  /** The rows a set of deletion-vector files masks: scan ONLY the data
    * files the DVs reference, semi-join on (file key,
    * row position). The DV side broadcasts under the same entry-count
    * gate as live reads, so the probe is a map-side hash lookup. */
  private def dvMaskedRows(name: String, schema: StructType,
      dvs: Seq[String], partDepth: Int): DataFrame = {
    val dv = dvFrame(name, dvs)
    // bounded driver collect: one row per DATA FILE the window's DVs
    // touch (metadata-scale), never per deleted row
    val keys = dv.select(col("file_key")).distinct().collect()
      .map(_.getString(0)).toSeq.sorted
    val paths = keys.map(k => refPath(name, {
      val key = GraftLake.decodeKey(k)
      val idx = key.lastIndexOf('/')
      if (idx < 0) ("", key) else (key.substring(0, idx), key.substring(idx + 1))
    }))
    val keyed = withDvKeys(manifestScan(paths, Map.empty, schema, partDepth, None),
      partDepth)
    // the UNCACHED count: the per-table cache slot holds the LIVE DV
    // set's count, and a feed window's subset must not evict it (an
    // incremental consumer would force a recount on every live read)
    val dvSide =
      if (dvEntryCount(name, dvs) <= dvMaxEntries) broadcast(dv) else dv
    keyed.join(dvSide,
        keyed(keyC) === dv("file_key") && keyed(posC) === dv("pos"),
        "left_semi")
      .drop(keyC, posC)
  }

  /** Repair after a crash: rebuild the latest snapshot as a FULL
    * checkpoint manifest with every live file's bounds recomputed from its
    * footer, its deletion vectors (restricted to sidecars still on disk)
    * and its txn watermarks carried forward, then delete ORPHANS — part
    * files under `data/` that no retained manifest lists and that are
    * older than `spark.graft.vacuum.stageRetentionMs` (default 24 h), the
    * debris of a writer that died between landing its files and
    * committing. The manifest is the only live-file list, so an orphan was
    * never visible to any read and nothing is adopted: adopting `data/`
    * would resurrect removed files. Returns the new snapshot id. */
  def repairTable(name: String): Long = writeLock(name) {
    val key = s"$warehouse/$name"
    val last = latestVersion(name)
    val list = last.fold(Vector.empty[(String, String)])(resolveManifest(name, _)._2)
    // repair is the one O(table) path by design — refreshing every
    // file's bounds here keeps data skipping alive whatever the manifests
    // carried
    val stats = boundsOf(name, list)
    val next = last.getOrElse(-1L) + 1L
    val vd = versionsDir(name)
    val f = fs(vd)
    f.mkdirs(vd)
    // deletion vectors and txn watermarks are manifest state: dropping
    // them would resurrect deleted rows or re-apply committed idempotent
    // batches
    val dvs = last.map(resolveDvs(name, _)).getOrElse(Vector.empty)
      .filter(d => f.exists(new Path(dvDir(name), d)))
    val body = GraftLake.renderManifest(next, readMeta(name), list, stats,
      op = "repair", dvs = dvs,
      txns = last.map(resolveTxns(name, _)).getOrElse(Map.empty))
    atomicClaim(f, new Path(vd, s"v$next.json"), body)
    writeLastHint(name, next)
    lastVersionCache.put(key, java.lang.Long.valueOf(next))
    liveSetCache.put(key, (next, list, 0))
    statsMapCache.put(key, (next, stats))
    dvSetCache.put(key, (next, dvs))
    val referenced = versions(name).flatMap(resolveManifest(name, _)._2).toSet
    val cutoff = System.currentTimeMillis() - stageRetentionMs
    listDataFiles(name).foreach { case (ref, mtime) =>
      if (!referenced.contains(ref) && mtime < cutoff) {
        val p = new Path(refPath(name, ref))
        fs(p).delete(p, false)
      }
    }
    next
  }

  /** Age past which crashed writers' debris is reaped: staging
    * directories by [[expireSnapshots]], orphan data files by
    * [[repairTable]]. A live writer's files are always younger. */
  private def stageRetentionMs: Long = spark.conf
    .getOption("spark.graft.vacuum.stageRetentionMs").map(_.toLong)
    .getOrElse(24L * 3600 * 1000)

  /** Drop all but the last `keepLast` snapshots and physically delete
    * the data files an expired snapshot listed and no surviving one does
    * (the storage-bounding half of the snapshot contract). Only files a
    * manifest once listed are candidates, so a concurrent writer's
    * not-yet-committed files are never touched. The oldest KEPT manifest is first
    * rewritten as a full checkpoint if it is a delta — its resolution
    * chain may run through manifests about to be dropped.
    *
    * Contract with concurrent readers: expiry is fail-fast, not
    * fenced — a reader still holding an expired version (an open
    * [[readVersion]] DataFrame or an in-flight stream) fails at its next
    * resolution naming the retained snapshots (or with a file-not-found
    * mid-scan if the scan already resolved paths). Pick `keepLast` to cover your longest reader, as with every
    * lakehouse vacuum. */
  def expireSnapshots(name: String, keepLast: Int = 1): Unit = writeLock(name) {
    graft.metrics.GraftMetrics.time(graft.metrics.GraftMetrics.ExpireSnapshots) {
      expireSnapshotsLocked(name, keepLast)
    }
  }

  private def expireSnapshotsLocked(name: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"need keepLast >= 1, got $keepLast")
    val vs = versions(name)
    val (drop0, keepWindow) = vs.splitAt(math.max(0, vs.size - keepLast))
    // PINNED snapshots (live shallow clones) are excluded from expiry
    // wholesale: their manifests survive, their files are never vacuumed —
    // the retention hold the reference gets from its catalog's snapshot
    // table, file-native. Unpinned by clone drop / materialize.
    val pinnedVs = pins(name).values.toSet
    val drop = drop0.filterNot(pinnedVs)
    val keep = vs.filter(v => keepWindow.contains(v) || pinnedVs.contains(v))
    if (drop.isEmpty) return
    val f = fs(versionsDir(name))
    // re-anchor: every surviving snapshot whose chain predecessors are
    // about to be deleted (the oldest kept + each pinned survivor below
    // the keep window) becomes SELF-CONTAINED first. Atomic per manifest:
    // a crash leaves either the delta (still resolvable — predecessors are
    // deleted only below) or the checkpoint
    def ensureSelfContained(v: Long): Unit = {
      val m = readManifestFile(name, v)
      if (m.files.nonEmpty) return
      val (_, files, _) = resolveManifest(name, v)
      val st = resolveStats(name, v)
      val dv = resolveDvs(name, v)
      val p = new Path(versionsDir(name), s"v$v.json")
      val tmp = new Path(versionsDir(name), s".v$v-${UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(GraftLake.renderManifestWithSchema(v,
        m.schema, files, st, m.op, dvs = dv,
        txns = resolveTxns(name, v),
        changes = m.changes,
        partitions = m.partitionsOpt).getBytes("UTF-8")) finally out.close()
      replaceAtomic(f, tmp, p)
    }
    keep.filter(v => v == keepWindow.head || !keepWindow.contains(v))
      .foreach(ensureSelfContained)
    val referenced: Set[(String, String)] = keep.flatMap { v =>
      resolveManifest(name, v)._2
    }.toSet
    // every file a retained-until-now snapshot listed, one manifest read
    // per version (a delta applies to its base, the version before it)
    val listed = scala.collection.mutable.Set.empty[(String, String)]
    var prev = (-1L, Vector.empty[(String, String)])
    vs.foreach { v =>
      val m = readManifestFile(name, v)
      val files = m.files match {
        case Some(full) => full.toVector
        case None if prev._1 == m.base => prev._2.filterNot(m.remove.toSet) ++ m.add
        case None => resolveManifest(name, v)._2
      }
      listed ++= files
      prev = (v, files)
    }
    val referencedDvs: Set[String] = keep.flatMap { v =>
      resolveDvs(name, v)
    }.toSet
    // change files referenced by RETAINED manifests survive (a CDC
    // consumer can still read any retained window); expired versions'
    // files — and orphans from crashed or out-raced commits — are reaped
    val referencedChanges: Set[String] =
      keep.flatMap(v => readManifestFile(name, v).changes).toSet
    drop.foreach(v => f.delete(new Path(versionsDir(name), s"v$v.json"), false))
    // vacuum deletion-vector sidecars no kept snapshot references
    val dd = dvDir(name)
    if (f.exists(dd)) f.listStatus(dd).foreach { s =>
      if (!referencedDvs.contains(s.getPath.getName))
        f.delete(s.getPath, false)
    }
    val cd = changesDir(name)
    if (f.exists(cd)) f.listStatus(cd).foreach { s =>
      if (!referencedChanges.contains(s.getPath.getName))
        f.delete(s.getPath, false)
    }
    // staging droppings of CRASHED writers (kill -9 between a stage write
    // and its finally-delete): invisible to reads but they leak disk
    // forever. Age-gated — a live writer's stage is always younger than
    // the retention window (default 24 h; multi-hour 100 TB rewrites
    // refresh their dir mtimes as leaves land)
    val td = new Path(tableDir(name))
    val stagePrefixes =
      Seq(".stage-", ".dvstage-", ".updstage-", ".chgstage-")
    f.listStatus(td).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && stagePrefixes.exists(n.startsWith) &&
          System.currentTimeMillis() - s.getModificationTime > stageRetentionMs)
        f.delete(s.getPath, true)
    }
    (listed -- referenced).foreach { ref =>
      if (f.delete(new Path(refPath(name, ref)), false))
        graft.metrics.GraftMetrics.dataFilesVacuumed.increment()
    }
  }

  private def quoted(n: String): String = GraftLake.quoted(n)
}

object GraftLake {
  /** Logs the engine's best-effort fallbacks (at debug). */
  private[catalog] val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftLake])

  /** The most batch keys an upsert collects to the driver, where they
    * join its probe as a local relation. */
  private[catalog] val KeyProbeCap = 4096

  /** The most equality candidates [[bucketHashesFor]] hashes by default;
    * past it a predicate prunes no bucket. */
  private[catalog] val BucketHashCap = 256

  /** A key row as a value that compares like Spark's grouping does:
    * binary by content, NaN equal to NaN, -0.0 equal to 0.0. */
  private[catalog] def groupingKey(r: org.apache.spark.sql.Row): Seq[Any] =
    r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case d: Double if d.isNaN => Double.NaN.toString
      case d: Double if d == 0.0 => 0.0
      case x: Float if x.isNaN => Float.NaN.toString
      case x: Float if x == 0.0f => 0.0f
      case v => v
    }

  /** DV key/position column names of a keyed live scan: the manifest
    * file key and the file-local row position. */
  private[graft] val DvKeyCol = "__graft_dv_key"
  private[graft] val DvPosCol = "__graft_dv_pos"

  /** A row-level statement planned over the table's live rows (see
    * [[GraftLake.writeRowLevel]]): `hits`, the live rows it deletes or
    * replaces, their [[DvKeyCol]]/[[DvPosCol]] columns kept; `rows`, the
    * rows it appends, on the table's logical columns; `changes`, its
    * change rows (table columns plus `_change_type`), asked for only on a
    * table with change capture. Both are handed the hit rows read back
    * from only the files that hold them (None: nothing was hit), read
    * only if used: a statement whose new rows derive from its hits takes
    * them from there without evaluating its condition again. */
  private[graft] final case class RowLevel(hits: DataFrame,
      rows: (=> Option[DataFrame]) => Option[DataFrame] = _ => None,
      changes: (=> Option[DataFrame]) => Option[DataFrame] = _ => None)

  /** Commit ops that rearrange rows without changing them: the change
    * feed and the appends stream skip them. */
  private[catalog] val LogicalNoOps =
    Set("compact", "zorder", "dv-clear", "rebucket", "materialize")

  /** Change-feed metadata columns ([[GraftLake.tableChanges]]). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Reentrancy + scoping guard for [[GraftLake.runStandingPolicies]]:
    * true while a policy (or a caller that manages policies itself —
    * the ingest pipeline's flush, a durable transaction body) is on
    * this thread's stack, so policy-triggered writes never cascade. */
  private[catalog] val policiesSuppressed: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Run `f` with standing `graft.policy.*` hooks suppressed on this
    * thread (the ingest pipeline wraps its landing calls: its
    * IngestConfig owns policy timing there, re-invoking post-flush). */
  private[graft] def withPoliciesSuppressed[T](f: => T): T = {
    val prev = policiesSuppressed.get()
    policiesSuppressed.set(true)
    try f finally policiesSuppressed.set(prev)
  }

  private lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "" }

  /** The host name a durable transaction records in its journal. The
    * journal's host decides which takeover rule applies to it (same-host
    * pid liveness vs foreign-host heartbeat age). The conf override
    * exists so a single-machine spec can exercise the foreign-host path
    * (and so an operator can force distinct identities on hosts whose
    * names collide, e.g. containers all reporting `localhost`). */
  private[catalog] def coordinatorHost(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.txn.host").getOrElse(localHost)

  /** Hive-escaped `<name>=` prefixes of the layout's partition directory
    * components — the writer's own rendering, shared by every layout-
    * conformity check. */
  private[catalog] def layoutPrefixes(meta: TableMeta): Seq[String] =
    partitionFields(meta).map(f =>
      org.apache.spark.sql.graft.PlanBridge.escapePartitionValue(f.name) + "=")

  /** Whether a manifest REL dir (exactly `partDepth` components) obeys
    * the given layout's directory names. */
  private[catalog] def relConforms(rel: String, prefixes: Seq[String]): Boolean = {
    val segs = rel.split('/')
    segs.length == prefixes.size &&
      segs.zip(prefixes).forall { case (d, p) => d.startsWith(p) }
  }

  /** Whether every ABSOLUTE file path's partition components obey the
    * given table's CURRENT layout — false means the set spans layouts
    * (mid-incremental-REBUCKET) and needs the recompute scan shape. */
  private[catalog] def pathsConform(paths: Seq[String], meta: TableMeta): Boolean = {
    val prefixes = layoutPrefixes(meta)
    val depth = prefixes.size
    depth == 0 || paths.forall { p =>
      val segs = p.split('/')
      segs.length > depth && prefixes.indices.forall(i =>
        segs(segs.length - 1 - depth + i).startsWith(prefixes(i)))
    }
  }

  /** The change-feed schema over a table's (logical) base schema — ONE
    * definition shared by the `graft-cdf` provider, the source and
    * [[graft.catalog.GraftLake.streamChangeBatch]] (three hand-kept
    * copies would have to stay byte-identical or MicroBatchExecution's
    * schema assertion fails at runtime). */
  def cdfSchema(base: StructType): StructType =
    StructType(base.fields.toSeq ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))

  /** Select a frame into exactly `schema`'s columns: present columns
    * pass through (case-insensitively), absent ones read typed null —
    * the streaming batch-vs-advertised-schema bridge (schema evolution
    * between stream start and an epoch must not break the plan
    * substitution). */
  private[catalog] def conformTo(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    df.select(schema.fields.map { fd =>
      if (present.contains(fd.name.toLowerCase(java.util.Locale.ROOT)))
        col(s"`${fd.name.replace("`", "``")}`")
      else lit(null).cast(fd.dataType).as(fd.name)
    }.toIndexedSeq: _*)
  }

  /** Provenance column ([[GraftLake.readWithProvenance]]). */
  val SourceFileCol = "_source_file"

  /** Schema-metadata key carrying a column's LOGICAL name when it
    * differs from the frozen physical name. RENAME COLUMN is
    * metadata-only (Delta's name-mapping, DuckLake's column ids): the
    * parquet column name never changes, so every file ever written stays
    * uniformly readable, and the mapping travels inside the schema JSON —
    * through the meta sidecar AND every manifest — so time travel
    * reconstructs the logical names of any snapshot with no extra
    * bookkeeping. */
  val LogicalNameKey = "graft.logical_name"

  /** physical → logical column names of a schema (identity entries are
    * never stored). */
  /** Logical (name, type) shape of a schema — what the streaming
    * schema-change policy compares (case-folded names; nullability and
    * field order are presentation, not shape). */
  private[graft] def schemaShape(s: StructType): Set[(String, DataType)] =
    logicalSchema(s).fields.map(f => (f.name.toLowerCase, f.dataType)).toSet

  private[graft] def logicalNamesOf(schema: StructType): Map[String, String] =
    schema.fields.iterator.collect {
      case f if f.metadata.contains(LogicalNameKey) =>
        f.name -> f.metadata.getString(LogicalNameKey)
    }.toMap

  /** The user-visible schema: physical fields under their logical names. */
  private[graft] def logicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (f.metadata.contains(LogicalNameKey))
        f.copy(name = f.metadata.getString(LogicalNameKey))
      else f
    })

  /** Generated partition columns of a table (shared by the lake reader and
    * the DSv2 catalog so the naming/typing rules cannot drift). */
  private[catalog] def partitionFields(meta: TableMeta): Seq[StructField] =
    meta.partitionExprs.map {
      case PartitionExpr.Raw(c) => StructField(s"__p_$c", meta.schema(c).dataType)
      case e => StructField(e.outputName, IntegerType)
    }

  /** Engine-side caches, mirroring the reference's static verified-tables /
    * known-columns caches with per-table locks
    * (DucklakeTableManager.java:51-59, 96-145). */
  private val verifiedTables = new ConcurrentHashMap[String, java.lang.Boolean]()
  /** Shallow-clone marker verdicts (None = plain table) — read() is hot. */
  private val shallowCache =
    new ConcurrentHashMap[String, Option[(String, Long)]]()
  /** A transaction-rollback step that itself failed — the marker
    * [[transactDurable]] reads off the suppressed chain to know its
    * journal must survive as the crash-recovery retry record. */
  final class RollbackStepFailed(member: String, cause: Throwable)
    extends RuntimeException(s"rollback of member '$member' failed", cause)

  /** Broadcast DV sets, keyed `context#warehouse/table#dvSetHash` (a slot
    * PER DV STATE — live reads interleaved with time travel must not
    * thrash rebuilds), exact set verified on hit. Size-bounded with
    * per-entry eviction; dropped broadcasts are reclaimed by the
    * ContextCleaner once the last referencing plan goes away. */
  private val dvBroadcastCache = new ConcurrentHashMap[String,
    (Vector[String], org.apache.spark.broadcast.Broadcast[graft.functions.DvSet])]()
  private val metaCache = new ConcurrentHashMap[String, TableMeta]()
  private val tableLocks = new ConcurrentHashMap[String, Object]()

  /** The lake's write session for `spark` (see [[lakeWriter]]): the
    * timestamp type, the stats-collecting commit protocol and the zstd
    * codec set on a session derived from `spark`. */
  private[graft] def writeSession(spark: SparkSession): SparkSession =
    derivedSession(spark, Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.sources.commitProtocolClass" ->
        org.apache.spark.sql.graft.StatsCommitProtocol.className,
      "spark.sql.parquet.compression.codec" -> "zstd"))

  /** Sessions derived from a source session, per overlay: the source's
    * explicit confs at derivation, and the derived session. The source is
    * keyed weakly, and the derived session (which references its source)
    * is held weakly too; its users hold it while they live. */
  private val derived = new java.util.WeakHashMap[SparkSession, java.util.HashMap[
    Seq[(String, String)], (Map[String, String], java.lang.ref.WeakReference[SparkSession])]]()

  /** A clone of `spark` with `overlay` set, derived once per state of
    * `spark`'s explicit confs: a later conf change on `spark` derives a
    * new session, and `spark` itself is never changed. */
  private[graft] def derivedSession(spark: SparkSession,
      overlay: Seq[(String, String)]): SparkSession = {
    val confs = spark.conf.getAll
    derived.synchronized {
      val byOverlay = derived.computeIfAbsent(spark, _ => new java.util.HashMap())
      Option(byOverlay.get(overlay)).filter(_._1 == confs).flatMap(e => Option(e._2.get))
        .getOrElse {
          val s = org.apache.spark.sql.graft.PlanBridge.derive(spark, overlay)
          byOverlay.put(overlay, (confs, new java.lang.ref.WeakReference(s)))
          s
        }
    }
  }

  /** Snapshot-side caches: last committed version and its resolved live
    * file set + delta-chain depth, so the hot commit path reads nothing.
    * Only ever written under the table's write lock. */
  private val lastVersionCache = new ConcurrentHashMap[String, java.lang.Long]()

  /** [[GraftLake.read]]'s plan memo entry — see the call site for the
    * freshness argument (versions-dir mtime + own version + meta
    * identity). Holds a PLAN, never rows. */
  private[catalog] final case class ReadDfEntry(mtime: Long, own: Long,
      meta: TableMeta, df: DataFrame)
  private[catalog] val readDfCache = new ConcurrentHashMap[String, ReadDfEntry]()
  private val liveSetCache =
    new ConcurrentHashMap[String, (Long, Vector[(String, String)], Int)]()
  /** Per-file numeric column bounds of the latest version (file key →
    * col → (min, max)), maintained with the same delta discipline. */
  private val statsMapCache = new ConcurrentHashMap[
    String, (Long, Map[String, Map[String, GraftLake.Bounds]])]()
  /** Live deletion-vector file names (under `_dv/`) of the latest
    * version — consulted on EVERY read, so it must be an O(1) lookup on
    * the hot path (one manifest-chain read on a cold start). */
  private val dvSetCache = new ConcurrentHashMap[String, (Long, Vector[String])]()
  /** Memoized layout-conformity verdicts per (table, version) — whether
    * the live set obeys the current layout (false mid-incremental-
    * REBUCKET). Keyed on (version, layout prefixes): a same-process
    * commit moves the version, and a CROSS-process layout flip observed
    * at a stale version changes the prefixes — either invalidates. */
  private[catalog] val conformCache =
    new ConcurrentHashMap[String, (Long, Boolean, Seq[String])]()
  private val dvCountCache =
    new ConcurrentHashMap[String, (Vector[String], Long)]()
  /** table key → (version, that manifest's recorded partition layout). */
  private val layoutCache =
    new ConcurrentHashMap[String, (Long, Option[Seq[String]])]()
  /** table key → (last version seen, bucket-source types stable across
    * retained history). True is sticky per version — ensureTable rejects
    * partition-source type evolution, so stability cannot regress. */
  private val typeStableCache =
    new ConcurrentHashMap[String, (Long, Boolean)]()
  /** Deserialized bloom sidecars, keyed `warehouse/table#column` with the
    * sidecar directory mtime as the freshness token. */
  private val bloomCache = new ConcurrentHashMap[
    String, (Long, Map[String, org.apache.spark.util.sketch.BloomFilter])]()

  /** On-disk schema of a deletion-vector file: the (manifest file key,
    * file-local row position) pairs deleted from the referenced data
    * file. Parquet rather than a bitmap format so the DV itself is
    * written/read by ordinary distributed jobs. */
  private[catalog] val dvSchema = StructType(Seq(
    StructField("file_key", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Manifest file key of the file backing each row, derived from
    * `_metadata.file_path` by taking the last `partDepth + 1` path
    * segments (partition dirs + file name). Segment-count-based rather
    * than marker-string-based so it is exact for every warehouse path. */
  private[catalog] def dvKeyColumn(partDepth: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, substring_index}
    substring_index(col("_metadata.file_path"), "/", -(partDepth + 1))
  }

  /** Manifest key of a (rel, name) file identity. */
  private[catalog] def fileKey(ref: (String, String)): String =
    if (ref._1.isEmpty) ref._2 else s"${ref._1}/${ref._2}"

  /** A [[dvKeyColumn]] value (or a directory prefix of one) as the
    * manifest spells it: Spark renders `_metadata.file_path` URI-encoded,
    * so a partition value with a space or an escaped character differs
    * from its directory name until decoded. */
  private[catalog] def decodeKey(key: String): String =
    new Path(new java.net.URI(key)).toString

  /** Manifest file key of an absolute path: its last `partDepth + 1`
    * '/'-segments (partition dirs + file name) — the same segment-based
    * derivation as [[dvKeyColumn]]. */
  private[catalog] def keyOfPath(path: String, partDepth: Int): String = {
    var idx = path.length
    var n = partDepth + 1
    while (n > 0 && idx > 0) { idx = path.lastIndexOf('/', idx - 1); n -= 1 }
    if (idx < 0) path else path.substring(idx + 1)
  }

  /** Compile a lowered predicate ([[org.apache.spark.sql.graft.PlanBridge
    * .simplePredicate]]) into a per-file keep/skip decision over the
    * manifest's column bounds. Conservative by construction: any shape
    * the lowering could not express — and any column without bounds —
    * keeps the file; only provably-disjoint ranges skip. (The row-level
    * filter still runs after the scan, so pruning can never change
    * results, only I/O.) */
  private[catalog] def filePruner(
      p: org.apache.spark.sql.graft.PlanBridge.SimplePred)
      : Map[String, Bounds] => Boolean = {
    import org.apache.spark.sql.graft.PlanBridge._
    // a bound of the WRONG kind (schema drift between commit and read)
    // keeps the file — mis-typed stats must never skip data
    def num(c: String)(f: ((Double, Double)) => Boolean)
        : Map[String, Bounds] => Boolean =
      s => s.get(c).forall {
        case NumBounds(lo, hi) => f((lo, hi))
        case _ => true
      }
    def str(c: String)(f: ((String, String)) => Boolean)
        : Map[String, Bounds] => Boolean =
      s => s.get(c).forall {
        case StrBounds(lo, hi) => f((lo, hi))
        case _ => true
      }
    p match {
      case PAnd(l, r) =>
        val (pl, pr) = (filePruner(l), filePruner(r))
        s => pl(s) && pr(s)
      case POr(l, r) =>
        val (pl, pr) = (filePruner(l), filePruner(r))
        s => pl(s) || pr(s)
      case PCmp(">", c, v) => num(c)(_._2 > v)
      case PCmp(">=", c, v) => num(c)(_._2 >= v)
      case PCmp("<", c, v) => num(c)(_._1 < v)
      case PCmp("<=", c, v) => num(c)(_._1 <= v)
      case PCmp("=", c, v) => num(c)(r => r._1 <= v && v <= r._2)
      case PStr(">", c, v) => str(c)(r => strCmp(r._2, v) > 0)
      case PStr(">=", c, v) => str(c)(r => strCmp(r._2, v) >= 0)
      case PStr("<", c, v) => str(c)(r => strCmp(r._1, v) < 0)
      case PStr("<=", c, v) => str(c)(r => strCmp(r._1, v) <= 0)
      case PStr("=", c, v) =>
        str(c)(r => strCmp(r._1, v) <= 0 && strCmp(v, r._2) <= 0)
      // IS NULL: a file carrying the zero-null witness provably holds no
      // matching row — the common cleaning filter (`WHERE x IS NULL`)
      // scans only the files that might actually have nulls. Absence of
      // the witness (old manifests, all-null or bound-less columns,
      // schema-evolution files missing the column) keeps the file.
      case PNull(c) => s => !s.contains(NoNullsPrefix + c)
      // IS NOT NULL can never skip: "every row is null" is not witnessed
      case _ => _ => true
    }
  }

  /** Equality candidates for `c` implied by a lowered predicate: a
    * SUPERSET of the values `c` may take in any satisfying row — `None`
    * when unconstrained (or the shape cannot be analyzed). Raw values
    * stay in the lowering's domains (Double for [[org.apache.spark.sql
    * .graft.PlanBridge.PCmp]], String for PStr); conversion to a typed
    * hash input happens at the caller under the column's schema type.
    * Conservative by construction: AND narrows (one analyzable side
    * suffices — the true value set is contained in EACH side's), OR
    * needs both sides analyzable (one open disjunct admits any value). */
  private[catalog] def eqCandidates(
      p: org.apache.spark.sql.graft.PlanBridge.SimplePred,
      c: String): Option[Set[Any]] = {
    import org.apache.spark.sql.graft.PlanBridge._
    p match {
      case PAnd(l, r) => (eqCandidates(l, c), eqCandidates(r, c)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
      case POr(l, r) =>
        for { a <- eqCandidates(l, c); b <- eqCandidates(r, c) }
          yield a.union(b)
      case PCmp("=", cc, v) if cc.equalsIgnoreCase(c) => Some(Set(v))
      case PStr("=", cc, v) if cc.equalsIgnoreCase(c) => Some(Set(v))
      case _ => None
    }
  }

  /** Convert a lowered-domain literal back into the CATALYST-INTERNAL
    * value of the column's type — the exact input `pmod(hash(col), n)`
    * saw at write time. `None` whenever the round-trip is not provably
    * exact: non-integral doubles, values at/past ±2^53 (two longs
    * collapse onto one double there), fractional/decimal/boolean columns
    * (hash-sensitive normalization edge cases), non-UTF8_BINARY or
    * char/varchar strings. A `None` makes the caller keep every file —
    * pruning must never guess. */
  private[catalog] def internalHashValue(raw: Any, dt: DataType): Option[Any] = {
    val MaxExact = 9007199254740992.0 // 2^53
    def exactLong(d: Double): Option[Long] =
      if (d == math.rint(d) && !d.isInfinite && math.abs(d) < MaxExact)
        Some(d.toLong)
      else None
    (raw, dt) match {
      case (d: Double, ByteType) =>
        exactLong(d).filter(v => v >= Byte.MinValue && v <= Byte.MaxValue)
          .map(_.toByte)
      case (d: Double, ShortType) =>
        exactLong(d).filter(v => v >= Short.MinValue && v <= Short.MaxValue)
          .map(_.toShort)
      case (d: Double, IntegerType) =>
        exactLong(d).filter(v => v >= Int.MinValue && v <= Int.MaxValue)
          .map(_.toInt)
      case (d: Double, LongType) => exactLong(d)
      case (d: Double, DateType) => // lowered domain IS the internal (days)
        exactLong(d).filter(v => v >= Int.MinValue && v <= Int.MaxValue)
          .map(_.toInt)
      case (d: Double, TimestampType) => exactLong(d) // micros
      case (d: Double, TimestampNTZType) => exactLong(d)
      case (s: String, st: StringType)
          if org.apache.spark.sql.graft.PlanBridge.plainString(st) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
  }

  /** Bucket ids a lowered predicate allows for one `bucket(n, cols…)`
    * partition expression: `Some(ids)` when EVERY source column is
    * equality-constrained to exactly-convertible values (the hash is
    * Spark's own `Murmur3Hash` over the columns' native types — the same
    * expression [[PartitionExpr.Bucket.toColumn]] evaluated at write
    * time), `None` when unconstrained. `Some(empty)` is a provable
    * contradiction (e.g. `pk = 1 AND pk = 2`) — no file can match.
    * The candidate cross-product is capped (IN-lists lower to ≤64 ors
    * per column; a blow-up keeps every file). */
  /** Raw murmur3 hash values (BEFORE the pmod) the predicate's equality
    * candidates produce for one bucket expression — the layout-count-free
    * half of [[bucketIdsFor]]: the same hash set prunes under ANY bucket
    * count (`pmod(h, k)` per directory), which is what lets a point
    * lookup prune exactly over a MIXED-layout table mid-REBUCKET. */
  private[catalog] def bucketHashesFor(
      b: PartitionExpr.Bucket,
      pred: org.apache.spark.sql.graft.PlanBridge.SimplePred,
      fieldType: String => Option[DataType],
      cap: Int = BucketHashCap): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val dts: Seq[DataType] = b.columns.map(c => fieldType(c) match {
      case Some(t) => t
      case None => return None
    })
    val perCol: Seq[Set[Any]] = b.columns.zip(dts).map { case (c, dt) =>
      eqCandidates(pred, c) match {
        case None => return None
        case Some(raws) =>
          val internals = raws.flatMap(internalHashValue(_, dt))
          // any unconvertible candidate → the hash of SOME admissible
          // value is unknown → unconstrained
          if (internals.size != raws.size) return None
          internals
      }
    }
    if (perCol.exists(_.isEmpty)) return Some(Set.empty)
    if (perCol.map(_.size.toLong).product > cap) return None
    val combos = perCol.foldLeft(Seq(Seq.empty[Any])) { (acc, s) =>
      acc.flatMap(prefix => s.toSeq.map(prefix :+ _))
    }
    Some(combos.map { vs =>
      Murmur3Hash(
        vs.zip(dts).map { case (v, dt) => Literal(v, dt) }, 42)
        .eval(null).asInstanceOf[Int]
    }.toSet)
  }

  private[catalog] def pmod(h: Int, n: Int): Int = ((h % n) + n) % n

  private[catalog] def bucketIdsFor(
      b: PartitionExpr.Bucket,
      pred: org.apache.spark.sql.graft.PlanBridge.SimplePred,
      fieldType: String => Option[DataType],
      cap: Int = BucketHashCap): Option[Set[Int]] =
    bucketHashesFor(b, pred, fieldType, cap).map(_.map(pmod(_, b.n)))

  /** Compile a lowered (physical-keyed) predicate into a partition-DIRECTORY
    * pruning decision over the table's `bucket(…)` partition expressions,
    * keyed by manifest file key (`<partition dirs>/<file name>`). This is
    * the read-side dual of the bucketed MERGE fast path: per-file min/max
    * stats are USELESS on a hash-bucketed key (every bucket's [min, max]
    * spans the domain), but a PK point lookup / IN-list determines its
    * buckets exactly — at 100 TB, `WHERE pk = x` on a `bucket(n, pk)`
    * table must plan 1/n of the files, not all of them. `None` when no
    * bucket expression is equality-constrained (the common full-scan /
    * range-scan case costs two map lookups). Conservative everywhere:
    * unparseable directory components, unexpected key depth, or a
    * `__HIVE_DEFAULT_PARTITION__` (null-key) directory keep the file. */
  private[catalog] def bucketKeyPruner(meta: TableMeta,
      pred: org.apache.spark.sql.graft.PlanBridge.SimplePred)
      : Option[String => Boolean] = {
    val exprs = meta.partitionExprs
    if (exprs.isEmpty) return None
    def ft(c: String): Option[DataType] =
      meta.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    val esc = org.apache.spark.sql.graft.PlanBridge.escapePartitionValue(_)
    // per bucket expression: the RAW hash set — each directory then prunes
    // under the bucket count its OWN name carries (`__p_bucket_<k>_<cols>=`),
    // so mixed-layout tables (mid-incremental-REBUCKET, time travel across
    // one) prune exactly on every side: pmod(h, k) is computed per dir.
    // Hive escaping is per-character, so escape(a+b) == escape(a)+escape(b)
    // and the generic prefix/suffix decomposition below stays faithful to
    // the writer's rendering for any column spelling.
    val constrained: Seq[(Int, String, String, Set[Int])] =
      exprs.zipWithIndex.flatMap {
        case (b: PartitionExpr.Bucket, i) =>
          bucketHashesFor(b, pred, ft).map { hashes =>
            (i, esc("__p_bucket_"), esc(s"_${b.columns.mkString("_")}") + "=",
              hashes)
          }
        case _ => None
      }
    if (constrained.isEmpty) None
    else Some { key =>
      val parts = key.split('/')
      parts.length != exprs.size + 1 || constrained.forall {
        case (i, prefix, colsEq, hashes) =>
          val dir = parts(i)
          !dir.startsWith(prefix) || {
            // <prefix><k><colsEq><v> — anything unparseable keeps the file
            val rest = dir.substring(prefix.length)
            val kEnd = rest.indexOf(colsEq)
            kEnd <= 0 || {
              val kOpt = scala.util.Try(rest.substring(0, kEnd).toInt).toOption
              val vOpt = scala.util.Try(
                rest.substring(kEnd + colsEq.length).toInt).toOption
              (kOpt, vOpt) match {
                case (Some(k), Some(v)) if k > 0 =>
                  hashes.exists(h => pmod(h, k) == v)
                case _ => true
              }
            }
          }
      }
    }
  }

  /** Dual of [[filePruner]]: compile a lowered predicate into a per-file
    * ALL-ROWS-MATCH proof over the manifest bounds — the witness behind
    * the metadata-only DELETE. Sound because stored bounds can only
    * over-approximate the true value range (string truncation widens
    * outward — a truncated min is a prefix, so ≤ the true min, and
    * parquet's BinaryTruncator increments a truncated max; longs beyond
    * ±2^53 widen via [[loD]]/[[hiD]]): stored-range ⊆ predicate-region
    * implies true-range ⊆ predicate-region. Every comparison leaf
    * additionally requires (a) the column's zero-null witness
    * ([[NoNullsPrefix]] — a NULL never satisfies a predicate, yet parquet
    * min/max ignore nulls) and (b) `safeCol` — callers must exclude
    * float/double columns, whose NaN rows writers may leave outside
    * min/max. Anything unprovable returns false (the caller falls back to
    * scanning); unlike the pruner, FALSE is the conservative answer here. */
  private[catalog] def fileAllMatcher(
      p: org.apache.spark.sql.graft.PlanBridge.SimplePred,
      safeCol: String => Boolean): Map[String, Bounds] => Boolean = {
    import org.apache.spark.sql.graft.PlanBridge._
    def num(c: String)(f: ((Double, Double)) => Boolean)
        : Map[String, Bounds] => Boolean =
      s => safeCol(c) && s.contains(NoNullsPrefix + c) && (s.get(c) match {
        case Some(NumBounds(lo, hi)) => f((lo, hi))
        case _ => false
      })
    def str(c: String)(f: ((String, String)) => Boolean)
        : Map[String, Bounds] => Boolean =
      s => safeCol(c) && s.contains(NoNullsPrefix + c) && (s.get(c) match {
        case Some(StrBounds(lo, hi)) => f((lo, hi))
        case _ => false
      })
    p match {
      case PAnd(l, r) =>
        val (al, ar) = (fileAllMatcher(l, safeCol), fileAllMatcher(r, safeCol))
        s => al(s) && ar(s)
      case POr(l, r) =>
        val (al, ar) = (fileAllMatcher(l, safeCol), fileAllMatcher(r, safeCol))
        s => al(s) || ar(s)
      case PCmp(">", c, v) => num(c)(_._1 > v)
      case PCmp(">=", c, v) => num(c)(_._1 >= v)
      case PCmp("<", c, v) => num(c)(_._2 < v)
      case PCmp("<=", c, v) => num(c)(_._2 <= v)
      case PCmp("=", c, v) => num(c)(r => r._1 == v && r._2 == v)
      case PStr(">", c, v) => str(c)(r => strCmp(r._1, v) > 0)
      case PStr(">=", c, v) => str(c)(r => strCmp(r._1, v) >= 0)
      case PStr("<", c, v) => str(c)(r => strCmp(r._2, v) < 0)
      case PStr("<=", c, v) => str(c)(r => strCmp(r._2, v) <= 0)
      case PStr("=", c, v) =>
        str(c)(r => strCmp(r._1, v) == 0 && strCmp(r._2, v) == 0)
      // IS NOT NULL all-matches exactly when the zero-null witness is
      // present. Type-agnostic: null-ness is independent of the bounds
      // domain, so neither `safeCol` (NaN) nor bounds are required.
      case PNotNull(c) => s => s.contains(NoNullsPrefix + c)
      // IS NULL all-matches only on an all-null file — not witnessed
      case _ => _ => false
    }
  }

  /** Typed per-column file bounds. Numeric/temporal columns live in a
    * shared double domain ([[NumBounds]] — see [[footerStats]] for the
    * per-type encoding); string columns keep their parquet footer min/max
    * verbatim ([[StrBounds]]) and compare in unsigned UTF-8 byte order —
    * the SAME total order Spark's `UTF8String.compareTo` and parquet's
    * STRING column order define, so manifest-level pruning and row-level
    * filtering can never disagree (Java `String.compareTo` is UTF-16
    * code-unit order, which diverges above the BMP — never use it here). */
  sealed trait Bounds extends Serializable
  final case class NumBounds(lo: Double, hi: Double) extends Bounds
  final case class StrBounds(lo: String, hi: String) extends Bounds

  /** True when a schema field occupies the reserved zero-null-witness
    * namespace ([[NoNullsPrefix]]). New writes record NO stats for such a
    * column (footerStats dead-lists the name at the source), but a LEGACY
    * manifest may carry the column's own bounds under the reserved key —
    * indistinguishable from a genuine witness — so every null-test
    * lowering site must downgrade to keep-the-file for such a table. */
  private[catalog] def nullWitnessShadowed(schema: StructType): Boolean =
    schema.fieldNames.exists(
      _.toLowerCase(java.util.Locale.ROOT).startsWith(NoNullsPrefix))

  /** Downgrade null-test leaves to [[org.apache.spark.sql.graft
    * .PlanBridge.PUnknown]] (keep-the-file / unprovable) — applied when
    * [[nullWitnessShadowed]] holds for the table being pruned. */
  private[catalog] def stripNullTests(
      p: org.apache.spark.sql.graft.PlanBridge.SimplePred)
      : org.apache.spark.sql.graft.PlanBridge.SimplePred = {
    import org.apache.spark.sql.graft.PlanBridge._
    p match {
      case PAnd(l, r) => PAnd(stripNullTests(l), stripNullTests(r))
      case POr(l, r) => POr(stripNullTests(l), stripNullTests(r))
      case PNull(_) | PNotNull(_) => PUnknown
      case other => other
    }
  }

  /** Unsigned UTF-8 byte-order comparison (the string pruning domain). */
  private[catalog] def strCmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Long → conservative double LOWER bound: exact within ±2^53, else one
    * ulp below the nearest double (which may sit above the true value). */
  private[catalog] def loD(l: Long): Double = {
    val d = l.toDouble
    if (l >= -(1L << 53) && l <= (1L << 53)) d else Math.nextDown(d)
  }

  /** Long → conservative double UPPER bound (mirror of [[loD]]). */
  private[catalog] def hiD(l: Long): Double = {
    val d = l.toDouble
    if (l >= -(1L << 53) && l <= (1L << 53)) d else Math.nextUp(d)
  }

  /** Static footer-bounds extraction (runs on the driver for small deltas,
    * inside a Spark job for large ones, and executor-side at task commit
    * via [[org.apache.spark.sql.graft.StatsCommitProtocol]] — keep it free
    * of instance state). Public for the commit protocol (which lives under
    * `org.apache.spark.sql`); engine-internal otherwise. See the instance
    * method's doc for the domain rules. */
  /** Reserved per-file stats key carrying the file's footer ROW COUNT as
    * a degenerate `NumBounds(n, n)` — metadata-only `count(*)`
    * ([[GraftLake.rowCountFast]]) sums these across the live manifest.
    * Never emitted when a physical column shadows the name, and never
    * consulted by the pruner (predicates reference real columns). */
  val RowCountKey = "__graft_rows"

  /** Reserved per-file stats key PREFIX marking a column as having ZERO
    * nulls in the file: `__graft_nn:<col>` → degenerate `NumBounds(0, 0)`.
    * Parquet min/max bounds ignore nulls, so proving "every row of this
    * file satisfies the predicate" ([[fileAllMatcher]], the metadata-only
    * DELETE witness) additionally needs this marker — a row with a NULL in
    * a referenced column never satisfies a SQL predicate. Emitted only
    * when every row group reports an exact null count of zero, and never
    * when a footer field name collides with the prefix (the same
    * shadow-guard discipline as [[RowCountKey]]). Absence means "nulls
    * possible" — old manifests simply never qualify for the proof. */
  val NoNullsPrefix = "__graft_nn:"

  def footerStats(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Bounds] = try {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
      IntLogicalTypeAnnotation, StringLogicalTypeAnnotation,
      TimestampLogicalTypeAnnotation}
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    // read options over the conf in hand: the one-argument open builds a
    // fresh Hadoop Configuration (re-parsing the XML defaults) per file
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try {
      val acc = scala.collection.mutable.Map[String, Bounds]()
      val dead = scala.collection.mutable.Set[String]()
      // per-column null totals; None once any row group lacks the count
      val nulls = scala.collection.mutable.Map[String, Option[Long]]()
      reader.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { c =>
          val path = c.getPath.toArray
          // a user column occupying the reserved zero-null-witness
          // namespace must never land a stats entry — every PNull /
          // PNotNull consumer reads bare key presence as the witness, and
          // a bounds entry under that key would spoof it (the same
          // discipline RowCountKey applies, but enforced at the source)
          if (path.length == 1 && !dead(path(0)) &&
              !path(0).toLowerCase(java.util.Locale.ROOT)
                .startsWith(NoNullsPrefix)) {
            val col = path(0)
            val pt = c.getPrimitiveType
            val st = c.getStatistics
            nulls(col) =
              if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
                nulls.getOrElse(col, Some(0L)).map(_ + st.getNumNulls)
              else None
            val phys = pt.getPrimitiveTypeName
            // (bounds converter) for supported physical/logical pairs;
            // None = never prunable on this column
            val convert: Option[(Any, Any) => (Double, Double)] =
              (pt.getLogicalTypeAnnotation, phys) match {
                case (null, INT32 | FLOAT | DOUBLE) =>
                  Some((a, b) => (a.asInstanceOf[Number].doubleValue(),
                    b.asInstanceOf[Number].doubleValue()))
                case (null, INT64) =>
                  Some((a, b) => (loD(a.asInstanceOf[Number].longValue()),
                    hiD(b.asInstanceOf[Number].longValue())))
                case (i: IntLogicalTypeAnnotation, INT32) if i.isSigned =>
                  Some((a, b) => (a.asInstanceOf[Number].doubleValue(),
                    b.asInstanceOf[Number].doubleValue()))
                case (i: IntLogicalTypeAnnotation, INT64) if i.isSigned =>
                  Some((a, b) => (loD(a.asInstanceOf[Number].longValue()),
                    hiD(b.asInstanceOf[Number].longValue())))
                case (_: DateLogicalTypeAnnotation, INT32) =>
                  Some((a, b) => (a.asInstanceOf[Number].doubleValue(),
                    b.asInstanceOf[Number].doubleValue()))
                case (t: TimestampLogicalTypeAnnotation, INT64) =>
                  // both variants share the epoch-micros domain:
                  // adjusted-to-UTC stores instant micros, NTZ stores the
                  // local datetime's micros as if UTC — each matching the
                  // lowering PlanBridge applies for the corresponding
                  // Spark column type (lake-written files always carry
                  // the annotation their registry type implies).
                  // NANOS divides with floor (min) / ceil (max) so
                  // truncation widens outward
                  val toMicrosLo: Long => Long = t.getUnit match {
                    case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
                    case LogicalTypeAnnotation.TimeUnit.MICROS => identity
                    case LogicalTypeAnnotation.TimeUnit.NANOS =>
                      n => Math.floorDiv(n, 1000L)
                  }
                  val toMicrosHi: Long => Long = t.getUnit match {
                    case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
                    case LogicalTypeAnnotation.TimeUnit.MICROS => identity
                    case LogicalTypeAnnotation.TimeUnit.NANOS =>
                      n => -Math.floorDiv(-n, 1000L)
                  }
                  Some((a, b) =>
                    (loD(toMicrosLo(a.asInstanceOf[Number].longValue())),
                      hiD(toMicrosHi(b.asInstanceOf[Number].longValue()))))
                case _ => None // decimal/NTZ/INT96/unsigned: no bounds
              }
            val isString = (pt.getLogicalTypeAnnotation, phys) match {
              case (_: StringLogicalTypeAnnotation, BINARY) => true
              case _ => false
            }
            if (isString) {
              // footer min/max are valid bounds even when parquet-mr
              // truncated them (BinaryTruncator increments the last byte
              // of a truncated max, preserving the upper-bound contract)
              if (st == null || !st.hasNonNullValue) { dead += col; acc.remove(col) }
              else {
                val utf8 = java.nio.charset.StandardCharsets.UTF_8
                val b: Option[(String, String)] = try {
                  val mnB = st.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  val mxB = st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  val mn = new String(mnB, utf8)
                  val mx = new String(mxB, utf8)
                  // round-trip guard: bytes that are not valid UTF-8 decode
                  // with replacement chars, corrupting the byte order the
                  // pruner compares in; oversized bounds would bloat every
                  // manifest for marginal pruning value — drop the column
                  if (!java.util.Arrays.equals(mn.getBytes(utf8), mnB) ||
                      !java.util.Arrays.equals(mx.getBytes(utf8), mxB) ||
                      mn.length > 256 || mx.length > 256) None
                  else Some((mn, mx))
                } catch {
                  case e: Exception =>
                    log.debug(s"string bounds of '$col' in $p unreadable; the column is unbounded", e)
                    None
                }
                b match {
                  case None => dead += col; acc.remove(col)
                  case Some((mn, mx)) => acc.get(col) match {
                    case Some(StrBounds(omn, omx)) =>
                      acc(col) = StrBounds(
                        if (strCmp(mn, omn) < 0) mn else omn,
                        if (strCmp(mx, omx) > 0) mx else omx)
                    case _ => acc(col) = StrBounds(mn, mx)
                  }
                }
              }
            } else convert match {
              case None => () // unprunable columns never enter acc
              case Some(_) if st == null || !st.hasNonNullValue =>
                dead += col; acc.remove(col) // one unbounded group poisons the file
              case Some(conv) =>
                val (mn, mx) = try conv(st.genericGetMin, st.genericGetMax)
                  catch {
                    case e: Exception =>
                      log.debug(s"bounds of '$col' in $p unreadable; the column is unbounded", e)
                      (Double.NaN, Double.NaN)
                  }
                if (mn.isNaN || mx.isNaN || mn.isInfinite || mx.isInfinite) {
                  dead += col; acc.remove(col)
                } else acc.get(col) match {
                  case Some(NumBounds(omn, omx)) =>
                    acc(col) = NumBounds(math.min(omn, mn), math.max(omx, mx))
                  case _ => acc(col) = NumBounds(mn, mx)
                }
            }
          }
        }
      }
      val fieldNames = reader.getFooter.getFileMetaData.getSchema.getFields
        .asScala.map(_.getName)
      if (!fieldNames.exists(_.equalsIgnoreCase(RowCountKey))) {
        val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        acc(RowCountKey) = NumBounds(rows.toDouble, rows.toDouble)
      }
      if (!fieldNames.exists(_.toLowerCase(java.util.Locale.ROOT)
          .startsWith(NoNullsPrefix))) {
        // zero-null markers only for columns that also carry bounds — the
        // all-match proof needs both, and bound-less columns can't prove
        nulls.foreach {
          case (c, Some(0L)) if acc.contains(c) =>
            acc(NoNullsPrefix + c) = NumBounds(0, 0)
          case _ => ()
        }
      }
      acc.toMap
    } finally reader.close()
  } catch {
    // stats are advisory: a file without bounds is kept by every pruner
    case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"no footer stats for $p (the file will not be pruned): $e")
      Map.empty
  }

  /** A full manifest checkpoint lands every this-many commits; between
    * checkpoints manifests are O(delta) `{base, add, remove}` records, so
    * snapshot resolution reads at most this many manifest files. */
  val checkpointInterval = 20

  /** One parsed `_versions/v{N}.json`: full manifests carry `files`,
    * delta manifests carry `base` (always N−1) + `add`/`remove` and a
    * `depth` hint (distance to the nearest full checkpoint). `stats`
    * holds per-file numeric column bounds (full: all live files; delta:
    * added files) — the data-skipping half of the manifest. */
  private[catalog] final case class Manifest(
      version: Long,
      schema: StructType,
      files: Option[Vector[(String, String)]],
      base: Long,
      depth: Int,
      add: Vector[(String, String)],
      remove: Vector[(String, String)],
      stats: Map[String, Map[String, GraftLake.Bounds]] = Map.empty,
      op: String = "write",
      dvs: Option[Vector[String]] = None,
      dvAdd: Vector[String] = Vector.empty,
      dvRemove: Vector[String] = Vector.empty,
      txns: Option[Map[String, Long]] = None,
      txn: Option[(String, Long)] = None,
      // THIS commit's row-level change files under _changes/ (a
      // per-commit attribute even in full manifests, unlike files/dvs
      // which are snapshot state) — written by rewrite-class commits on
      // CDF-enabled tables; when present, the change feed reads them
      // INSTEAD of deriving the commit's changes from its file delta
      changes: Vector[String] = Vector.empty,
      // the partition LAYOUT the commit's files obey (raw spec strings) —
      // versioned here so bucket-directory pruning of a snapshot uses the
      // layout its files were actually written under (REBUCKET changes
      // it), and so a commit computed under a stale layout is refused
      // (commitVersionOnce validation). None on pre-versioning manifests.
      partitionsOpt: Option[Seq[String]] = None)

  /** ≈ reference file.size.bytes flush cap, expressed in records. */
  val maxRecordsPerFile = 5000000

  /** Affected-partition count above which a merge scope predicate
    * switches from the exact per-tuple OR-chain to per-column isin sets. */
  val maxExactPartitionPredicates = 64

  private[graft] def quoted(n: String): String = s"`${n.replace("`", "``")}`"

  /** Scope predicate over the partition columns for a collected set of
    * affected partition tuples. Small sets get the exact per-tuple
    * OR-chain; past [[maxExactPartitionPredicates]] tuples the OR-chain
    * would blow up the optimizer, so it switches to one `isin` set per
    * partition column — a (cartesian) superset of the exact tuple set:
    * still correct (extra partitions are rewritten unchanged), still
    * prunes at the scan, and O(distinct values per column) in size. Row
    * ordinals must match `partCols`. */
  private[graft] def partitionScope(partCols: Seq[String],
      parts: Array[org.apache.spark.sql.Row]): Column = {
    import org.apache.spark.sql.functions.{col, lit}
    if (parts.isEmpty) lit(false)
    else if (parts.length <= maxExactPartitionPredicates)
      parts.map { r =>
        partCols.zipWithIndex.map { case (c, i) =>
          if (r.isNullAt(i)) col(quoted(c)).isNull else col(quoted(c)) === lit(r.get(i))
        }.reduce(_ && _)
      }.reduce(_ || _)
    else
      partCols.zipWithIndex.map { case (c, i) =>
        val vals = parts.map(r => if (r.isNullAt(i)) null else r.get(i)).distinct
        val nonNull = vals.filter(_ != null)
        val base =
          if (nonNull.isEmpty) lit(false)
          else col(quoted(c)).isin(nonNull.toIndexedSeq: _*)
        if (vals.contains(null)) base || col(quoted(c)).isNull else base
      }.reduce(_ && _)
  }

  /** Clear caches (tests / external table mutation). */
  def invalidateCaches(): Unit = {
    verifiedTables.clear(); metaCache.clear(); shallowCache.clear()
    dvBroadcastCache.clear()
    lastVersionCache.clear(); liveSetCache.clear(); statsMapCache.clear()
    dvSetCache.clear(); dvCountCache.clear(); bloomCache.clear()
    layoutCache.clear(); typeStableCache.clear(); conformCache.clear()
    readDfCache.clear()
  }

  // -- meta (de)serialization: tiny hand-rolled JSON (schema via DataType.json) --

  private[catalog] def renderMeta(meta: TableMeta): String = {
    def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
    val cs =
      if (meta.constraints.isEmpty) ""
      else meta.constraints
        .map { case (n, e) => s"{${q("name")}:${q(n)},${q("expr")}:${q(e)}}" }
        .mkString(s""","constraints":[""", ",", "]")
    val ps =
      if (meta.props.isEmpty) ""
      else meta.props.toSeq.sorted
        .map { case (k, v) => s"${q(k)}:${q(v)}" }
        .mkString(s""","props":{""", ",", "}")
    s"""{"schema":${meta.schema.json},"partitions":${arr(meta.partitions)},"pks":${arr(meta.pks)}$cs$ps}"""
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def fileArr(files: Seq[(String, String)]): String =
    files.map { case (rel, fn) =>
      "{\"rel\":" + q(rel) + ",\"name\":" + q(fn) + "}"
    }.mkString("[", ",", "]")

  /** JSON object of per-file column bounds, restricted to `keys` (and to
    * files that have any stats — statless files simply don't prune).
    * Numeric bounds render as `[lo,hi]` numbers, string bounds as
    * `["lo","hi"]` — the element's JSON type IS the discriminator
    * [[parseManifest]] reads back. */
  private def statsObj(
      stats: Map[String, Map[String, GraftLake.Bounds]],
      keys: Seq[String]): String =
    keys.distinct.sorted.flatMap { k =>
      stats.get(k).filter(_.nonEmpty).map { s =>
        q(k) + ":" + s.toSeq.sortBy(_._1).map {
          case (c, NumBounds(mn, mx)) => q(c) + s":[$mn,$mx]"
          case (c, StrBounds(mn, mx)) => q(c) + s":[${q(mn)},${q(mx)}]"
        }.mkString("{", ",", "}")
      }
    }.mkString("{", ",", "}")

  /** Full snapshot manifest: version + schema at commit + live file list
    * (+ per-file numeric bounds for data skipping). */
  private[catalog] def renderManifest(version: Long, meta: TableMeta,
      files: Seq[(String, String)],
      stats: Map[String, Map[String, GraftLake.Bounds]] = Map.empty,
      op: String = "write",
      dvs: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      changes: Seq[String] = Nil): String =
    renderManifestWithSchema(version, meta.schema, files, stats, op, dvs,
      txns, changes, Some(meta.partitions))

  private def strArr(xs: Seq[String]): String =
    xs.map(q).mkString("[", ",", "]")

  private[catalog] def renderManifestWithSchema(version: Long,
      schema: StructType, files: Seq[(String, String)],
      stats: Map[String, Map[String, GraftLake.Bounds]] = Map.empty,
      op: String = "write",
      dvs: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      changes: Seq[String] = Nil,
      partitions: Option[Seq[String]] = None): String =
    s"""{"version":$version,"op":${q(op)},"schema":${schema.json},"files":${fileArr(files)}""" +
      s""","stats":${statsObj(stats, files.map(fileKey))}""" +
      (if (dvs.isEmpty) "" else s""","dvs":${strArr(dvs.sorted)}""") +
      (if (changes.isEmpty) "" else s""","changes":${strArr(changes.sorted)}""") +
      partitions.map(p => s""","partitions":${strArr(p)}""").getOrElse("") +
      (if (txns.isEmpty) "}"
       else txns.toSeq.sorted.map { case (a, v) => s"${q(a)}:$v" }
         .mkString(""","txns":{""", ",", "}}"))

  /** Delta snapshot manifest: O(commit delta), applied on top of `base`
    * (always version−1) at resolution time; `stats` covers the added
    * files only. `dvAdd`/`dvRemove` carry the commit's deletion-vector
    * delta (file names under `_dv/`). */
  private[catalog] def renderDelta(version: Long, meta: TableMeta,
      base: Long, depth: Int, add: Seq[(String, String)],
      remove: Seq[(String, String)],
      stats: Map[String, Map[String, GraftLake.Bounds]] = Map.empty,
      op: String = "write",
      dvAdd: Seq[String] = Nil,
      dvRemove: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      changes: Seq[String] = Nil): String =
    s"""{"version":$version,"op":${q(op)},"schema":${meta.schema.json},"base":$base,""" +
      s""""depth":$depth,"add":${fileArr(add)},"remove":${fileArr(remove)}""" +
      s""","stats":${statsObj(stats, add.map(fileKey))}""" +
      (if (dvAdd.isEmpty) "" else s""","dvAdd":${strArr(dvAdd.sorted)}""") +
      (if (dvRemove.isEmpty) "" else s""","dvRemove":${strArr(dvRemove.sorted)}""") +
      (if (changes.isEmpty) "" else s""","changes":${strArr(changes.sorted)}""") +
      s""","partitions":${strArr(meta.partitions)}""" +
      txn.map { case (a, v) => s""","txnApp":${q(a)},"txnV":$v""" }.getOrElse("") +
      "}"

  private[catalog] def parseManifest(raw: String): Manifest = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(raw)
    val schema = DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType]
    def refs(field: String): Vector[(String, String)] = {
      val fn = node.get(field)
      if (fn == null) Vector.empty
      else (0 until fn.size()).map { i =>
        (fn.get(i).get("rel").asText(), fn.get(i).get("name").asText())
      }.toVector
    }
    val stats: Map[String, Map[String, GraftLake.Bounds]] = {
      val sn = node.get("stats")
      if (sn == null) Map.empty
      else {
        val b = Map.newBuilder[String, Map[String, GraftLake.Bounds]]
        sn.fields().forEachRemaining { e =>
          val cols = Map.newBuilder[String, GraftLake.Bounds]
          e.getValue.fields().forEachRemaining { c =>
            val bounds: GraftLake.Bounds =
              if (c.getValue.get(0).isTextual)
                StrBounds(c.getValue.get(0).asText(), c.getValue.get(1).asText())
              else NumBounds(c.getValue.get(0).asDouble(),
                c.getValue.get(1).asDouble())
            cols += c.getKey -> bounds
          }
          b += e.getKey -> cols.result()
        }
        b.result()
      }
    }
    val version = node.get("version").asLong()
    // "op" is absent in pre-round-8 manifests — default matches the old
    // writers' only operation class
    val op = if (node.has("op")) node.get("op").asText() else "write"
    def strs(field: String): Vector[String] = {
      val fn = node.get(field)
      if (fn == null) Vector.empty
      else (0 until fn.size()).map(fn.get(_).asText()).toVector
    }
    val txns: Map[String, Long] = {
      val tn = node.get("txns")
      if (tn == null) Map.empty
      else {
        val b = Map.newBuilder[String, Long]
        tn.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      }
    }
    val partitionsOpt: Option[Seq[String]] =
      if (node.has("partitions")) Some(strs("partitions")) else None
    if (node.has("files"))
      // a full manifest is the dv/txn-resolution anchor: an absent field
      // (older writers) means "none", i.e. Some(∅)
      Manifest(version, schema, Some(refs("files")), -1L, 0,
        Vector.empty, Vector.empty, stats, op, dvs = Some(strs("dvs")),
        txns = Some(txns), changes = strs("changes"),
        partitionsOpt = partitionsOpt)
    else
      Manifest(version, schema, None, node.get("base").asLong(),
        if (node.has("depth")) node.get("depth").asInt() else 1,
        refs("add"), refs("remove"), stats, op,
        dvs = None, dvAdd = strs("dvAdd"), dvRemove = strs("dvRemove"),
        txn = if (node.has("txnApp"))
          Some((node.get("txnApp").asText(), node.get("txnV").asLong()))
        else None,
        changes = strs("changes"),
        partitionsOpt = partitionsOpt)
  }

  private[catalog] def parseMeta(raw: String): TableMeta = {
    // The schema value is itself JSON produced by StructType.json; use
    // Jackson for robust parsing.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(raw)
    val schema = DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType]
    def strs(field: String): Seq[String] = {
      val n = node.get(field)
      (0 until n.size()).map(i => n.get(i).asText())
    }
    val constraints = {
      val cn = node.get("constraints")
      if (cn == null) Nil
      else (0 until cn.size()).map(i =>
        (cn.get(i).get("name").asText(), cn.get(i).get("expr").asText()))
    }
    val props: Map[String, String] = {
      val pn = node.get("props")
      if (pn == null) Map.empty
      else {
        val b = Map.newBuilder[String, String]
        pn.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asText())
        b.result()
      }
    }
    TableMeta(schema, strs("partitions"), strs("pks"), constraints, props)
  }
}
