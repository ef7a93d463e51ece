package graft.catalog

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource-v2 TableCatalog over a graft warehouse: plug it into a
  * session and the full SQL surface addresses lake tables directly —
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/warehouse")
  * spark.sql("SELECT * FROM graft.users JOIN graft.orders ...")
  * spark.sql("INSERT INTO graft.raw_events SELECT ...")   // plain append
  * }}}
  *
  * Reads are the engine's manifest read ([[graft.plans
  * .ApplyGraftDeletionVectors]] substitutes it in a GraftExtensions
  * session; a bare session scans Spark's v2 parquet table over the
  * manifest's file list) under the registry's logical schema — so
  * widened columns read correctly. Writes route through the engine
  * ([[GraftLake]]) as a `V1Write`: INSERT INTO appends with expression
  * partitioning + `_inserted_at` stamping (partitioned tables included),
  * INSERT OVERWRITE replaces contents, and `MERGE INTO` works via
  * [[graft.plans.GraftExtensions]]. Schema evolution stays engine-driven.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def lake = new GraftLake(spark, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** Warehouse root this catalog is bound to (used by the SQL DML rewrite
    * rules to construct the engine writer for a resolved target table). */
  def warehouseDir: String = warehouse

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireRootNamespace(namespace)
    lake.listTables().map(t => Identifier.of(Array.empty, t)).toArray
  }

  /** Whether this session carries the engine read rule
    * [[graft.plans.ApplyGraftDeletionVectors]] — the ONE probe behind
    * every "this state needs the engine scan" refusal. A session that
    * configured only `spark.sql.catalog.*` (no GraftExtensions) scans the
    * plain DSv2 parquet table, which applies no deletion vectors, no
    * renames and no generated-column recompute: it would silently
    * resurrect deleted rows, the worst failure class there is — so such
    * tables REFUSE to load there. O(1) on the common path: `liveDvs` is
    * served from the commit cache, and the rule lookup is a list scan of
    * the session's post-hoc rules. */
  private def engineReadInstalled: Boolean =
    spark.sessionState.analyzer.postHocResolutionRules
      .exists(_.isInstanceOf[graft.plans.ApplyGraftDeletionVectors])

  private def requireEngineRead(name: String, state: String,
      remedy: String = ""): Unit =
    if (!engineReadInstalled) throw new IllegalStateException(
      s"graft table '$name' $state; reading it requires the session to " +
        "be built with graft.plans.GraftExtensions (spark.sql.extensions)" +
        remedy)

  private def requireDvCapable(name: String, dvs: Seq[String],
      schema: StructType): Unit = {
    val renamed = GraftLake.logicalNamesOf(schema)
    if (dvs.isEmpty && renamed.isEmpty) return
    requireEngineRead(name,
      if (dvs.nonEmpty) s"carries live deletion vectors (${dvs.size} file(s))"
      else s"has renamed columns (${renamed.values.mkString(", ")})",
      if (dvs.nonEmpty)
        ", or run GraftLake.materializeDeletes to fold the deletes " +
          "into the data"
      else "")
  }

  override def loadTable(ident: Identifier): Table = {
    requireRootNamespace(ident.namespace())
    if (!lake.tableExists(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name))
    // a SHALLOW clone reads as the source's pinned snapshot (read-only —
    // the SnapshotTable facade carries BATCH_READ only, so SQL writes are
    // refused by capability, matching the engine's commit chokepoint)
    lake.shallowInfo(ident.name).foreach { case (src, v) =>
      return loadTable(Identifier.of(Array.empty[String], src), v.toString)
    }
    val meta = lake.readMeta(ident.name)
    requireDvCapable(ident.name, lake.liveDvs(ident.name), meta.schema)
    // the relation's columns are the LOGICAL names; a session with the
    // extensions substitutes the engine read before any scan plans, so
    // the manifest scan below is only ever built for a bare session
    val full = StructType(
      GraftLake.logicalSchema(meta.schema).fields.toSeq ++
        GraftLake.partitionFields(meta))
    if (!engineReadInstalled)
      for (v <- lake.lastVersionCached(ident.name)
           if !lake.liveSetConforms(ident.name, v))
        // MIXED-layout state (mid-incremental-REBUCKET or mid-partition-
        // evolution): live files span two layouts whose directory names
        // conflict in Spark's partition discovery, and only the engine
        // scan recomputes the generated `__p_*` columns
        requireEngineRead(ident.name, "is mid-layout-migration (live " +
          "files span two partition layouts)",
          " — or let the migration finish")
    new GraftTable(ident.name, warehouse, full,
      () => lake.currentScanTable(ident.name, full))
  }

  /** `SELECT … FROM cat.t TIMESTAMP AS OF '…'` — resolves the latest
    * snapshot committed at or before the instant
    * ([[GraftLake.versionAt]]: manifest-file modification times, the
    * same source DESCRIBE HISTORY reports and the same mechanism Delta
    * documents) and serves it through the versioned path below. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    requireRootNamespace(ident.namespace())
    if (!lake.tableExists(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name))
    loadTable(ident,
      lake.versionAt(ident.name, timestampMicros / 1000L).toString)
  }

  /** `SELECT … FROM cat.t VERSION AS OF n` — a read-only table over the
    * snapshot's manifest file set under the manifest's schema (which may
    * predate later column evolution). Snapshot CONTENT stays fully
    * deterministic (manifests are wall-clock-free); timestamp travel
    * resolves through commit-file mtimes above. */
  override def loadTable(ident: Identifier, version: String): Table = {
    requireRootNamespace(ident.namespace())
    if (!lake.tableExists(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name))
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft time travel takes a numeric snapshot id " +
          s"(have: ${lake.versions(ident.name).mkString(", ")}), got '$version'")
    }
    val (schema, files) = lake.snapshotFiles(ident.name, v)
    requireDvCapable(ident.name, lake.dvsAtVersion(ident.name, v), schema)
    // logical names AS OF that snapshot (the manifest schema carries its
    // own rename metadata)
    val logical = GraftLake.logicalSchema(schema)
    new SnapshotTable(ident.name, v, warehouse, logical,
      () => lake.scanTable(s"${ident.name}@v$v", files, logical,
        lake.pruningIndex(files, Map.empty, logical, 0, None)))
  }

  /** Read-only snapshot facade: BATCH_READ only — writing to history is
    * not a thing. */
  private final class SnapshotTable(tableName: String, version: Long,
      wh: String, snapSchema: StructType, scan: () => ParquetTable)
      extends Table with SupportsRead with GraftTableIdentity {
    override def graftWarehouse: String = wh
    override def graftTableName: String = tableName
    override def graftVersion: Option[Long] = Some(version)
    override def name(): String = s"$tableName@v$version"
    override def schema(): StructType =
      org.apache.spark.sql.graft.PlanBridge.asNullable(snapSchema)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap) =
      scan().newScanBuilder(options)
    override def partitioning(): Array[Transform] = Array.empty
    override def properties(): util.Map[String, String] =
      Map("path" -> s"$wh/$tableName/data").asJava
  }

  /** Catalog table facade. Reads: a session with
    * [[graft.plans.GraftExtensions]] substitutes the engine read for the
    * relation before any scan plans; a bare session scans `scan()` — a
    * Spark v2 parquet table over the latest manifest's file list with
    * manifest-bounds file skipping (vectorized read, pushdown, partition
    * pruning over the generated `__p_*` columns). Writes route through the
    * engine as a [[org.apache.spark.sql.connector.write.V1Write]] — so SQL
    * `INSERT INTO` lands through [[GraftLake.append]] (expression
    * partitioning applied, `_inserted_at` stamped — the reference injects
    * it on every write path, DucklakeWriter.java:205-214) and
    * `INSERT OVERWRITE` through [[GraftLake.overwriteContents]]. The
    * generated `__p_*` and `_inserted_at` columns are system-managed:
    * values supplied for them by SQL writers are discarded. */
  private final class GraftTable(tableName: String, wh: String,
      fullSchema: StructType, scan: () => ParquetTable)
      extends Table with SupportsRead with SupportsWrite
      with org.apache.spark.sql.connector.catalog.TruncatableTable
      with GraftTableIdentity {
    override def graftWarehouse: String = wh
    override def graftTableName: String = tableName
    override def graftVersion: Option[Long] = None
    /** `TRUNCATE TABLE` lands as ONE remove-only commit — O(metadata) at
      * any size; old snapshots stay time-travelable. */
    override def truncateTable(): Boolean = {
      new GraftLake(SparkSession.active, wh).truncate(tableName)
      true
    }
    override def name(): String = tableName
    override def schema(): StructType =
      org.apache.spark.sql.graft.PlanBridge.asNullable(fullSchema)
    // AUTOMATIC_SCHEMA_EVOLUTION lets Spark's own analysis rule
    // (ResolveMergeIntoSchemaEvolution) route `MERGE … WITH SCHEMA
    // EVOLUTION` through alterTable below — matching the reference's
    // auto-evolution on every write (DucklakeTableManager.java:236-322)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    override def newScanBuilder(options: CaseInsensitiveStringMap) =
      scan().newScanBuilder(options)
    override def partitioning(): Array[Transform] =
      fullSchema.fieldNames.filter(_.startsWith("__p_"))
        .map(n => org.apache.spark.sql.connector.expressions.Expressions
          .identity(n): Transform)
    // engine table properties (TableMeta.props — e.g. change-feed
    // capture) surface through SHOW TBLPROPERTIES beside the data path
    override def properties(): util.Map[String, String] = {
      val meta = new GraftLake(SparkSession.active, wh).readMeta(tableName)
      (Map("path" -> s"$wh/$tableName/data") ++ meta.props).asJava
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        private var overwrite = false
        override def truncate(): WriteBuilder = { overwrite = true; this }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame, ow: Boolean): Unit = {
                // the session executing the write, not SparkSession.active —
                // in multi-session apps the active session may carry a
                // different conf/timezone than the one that owns this write
                val lake = new GraftLake(data.sparkSession, wh)
                val meta = lake.readMeta(tableName)
                val system = GraftLake.partitionFields(meta).map(_.name) :+ "_inserted_at"
                val userDf = data.drop(system.filter(data.columns.contains): _*)
                if (overwrite)
                  lake.overwriteContents(tableName,
                    userDf.withColumn("_inserted_at", InsertStamp.now()))
                else lake.append(tableName, userDf)
              }
            }
        }
      }
  }

  /** SQL `PARTITIONED BY` transform → the engine's expression-partition
    * spec string ([[PartitionExpr.parse]]): `bucket(n, c…)`,
    * `years/months/days(c)` (Spark's plural spellings and the singular
    * aliases), and identity columns. Anything else (hours, truncate,
    * nested references) has no engine layout and is refused loudly. */
  private def transformSpec(ident: Identifier, t: Transform): String = {
    def colOf(r: org.apache.spark.sql.connector.expressions.NamedReference)
        : String = {
      require(r.fieldNames.length == 1,
        s"graft table '${ident.name}': partition reference " +
          s"'${r.fieldNames.mkString(".")}' must be a top-level column")
      r.fieldNames.head
    }
    t.name.toLowerCase(java.util.Locale.ROOT) match {
      case "identity" => colOf(t.references.head)
      case "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString
        }.getOrElse(throw new IllegalArgumentException(
          s"graft table '${ident.name}': bucket transform needs a literal count"))
        s"bucket($n, ${t.references.map(colOf).mkString(", ")})"
      case "years" | "year" => s"year(${colOf(t.references.head)})"
      case "months" | "month" => s"month(${colOf(t.references.head)})"
      case "days" | "day" => s"day(${colOf(t.references.head)})"
      case other => throw new IllegalArgumentException(
        s"graft table '${ident.name}': unsupported partition transform " +
          s"'$other' (column | years(c) | months(c) | days(c) | bucket(n, c…))")
    }
  }

  override def createTable(
      ident: Identifier,
      columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireRootNamespace(ident.namespace())
    val schema = StructType(columns.toSeq.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    val props = properties.asScala
    val noSys = StructType(schema.filterNot(_.name == "_inserted_at"))
    // two spellings of one layout: SQL `PARTITIONED BY (bucket(8, id))`
    // transforms, or the 'partitions' table property (paren-aware split:
    // "bucket(16, id), year(ts)" is two specs) — not both
    val fromTransforms = partitions.toSeq.map(transformSpec(ident, _))
    val fromProp = props.get("partitions")
      .map(PartitionExpr.splitSpecs).getOrElse(Nil)
    require(fromTransforms.isEmpty || fromProp.isEmpty,
      s"graft table '${ident.name}': give the layout either as " +
        "PARTITIONED BY or as the 'partitions' property, not both")
    lake.createTable(ident.name, noSys,
      partitions = if (fromTransforms.nonEmpty) fromTransforms else fromProp,
      pks = props.get("pks").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil))
    // return a facade whose schema is exactly the DECLARED columns: CTAS
    // resolves its write against this very object, and the engine-managed
    // columns (`_inserted_at`, `__p_*`) must not be demanded from the
    // SELECT output — the V1 insert path stamps/derives them itself.
    // Subsequent statements loadTable() fresh and see the full schema.
    new GraftTable(ident.name, warehouse, schema,
      () => lake.scanTable(ident.name, Nil, schema,
        lake.pruningIndex(Nil, Map.empty, schema, 0, None)))
  }

  /** Schema evolution through the engine's evolve path ([[GraftLake
    * .ensureTable]] → [[LandedTypes.evolve]]): top-level ADD COLUMN and
    * type widening are accepted — exactly what `MERGE … WITH SCHEMA
    * EVOLUTION` produces for a source carrying new/wider columns. Added
    * columns land under the landed-type policy (nullable, nested data as
    * JSON strings), the same as ingest-driven evolution; anything else
    * (drops, renames, nested edits, system columns) is rejected. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireRootNamespace(ident.namespace())
    def topLevel(names: Array[String], what: String): String = {
      if (names.length != 1) throw new UnsupportedOperationException(
        s"graft table '${ident.name}': $what of nested field " +
          s"'${names.mkString(".")}' is not supported (nested data lands as JSON strings)")
      val n = names.head
      if (n == "_inserted_at" || n.startsWith("__p_"))
        throw new UnsupportedOperationException(
          s"graft table '${ident.name}': column '$n' is engine-managed and cannot be altered")
      n
    }
    val (drops, rest) = changes.partition(_.isInstanceOf[TableChange.DeleteColumn])
    drops.foreach { case d: TableChange.DeleteColumn =>
      lake.dropColumn(ident.name, topLevel(d.fieldNames, "DROP COLUMN"))
    }
    val (renames, rest2) = rest.partition(_.isInstanceOf[TableChange.RenameColumn])
    renames.foreach { case r: TableChange.RenameColumn =>
      lake.renameColumn(ident.name,
        topLevel(r.fieldNames, "RENAME COLUMN"), r.newName)
    }
    // `ALTER TABLE t SET/UNSET TBLPROPERTIES` — the carrier for per-table
    // flags like change-data-feed capture (TableMeta.CdfEnabledKey)
    val (props, others) = rest2.partition(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    props.foreach {
      case s: TableChange.SetProperty =>
        lake.setTableProperty(ident.name, s.property, s.value)
      case r: TableChange.RemoveProperty =>
        lake.setTableProperty(ident.name, r.property, null)
    }
    val incoming = others.map {
      case a: TableChange.AddColumn =>
        org.apache.spark.sql.types.StructField(
          topLevel(a.fieldNames, "ADD COLUMN"), a.dataType, nullable = true)
      case u: TableChange.UpdateColumnType =>
        org.apache.spark.sql.types.StructField(
          topLevel(u.fieldNames, "type change"), u.newDataType, nullable = true)
      case c => throw new UnsupportedOperationException(
        s"graft table '${ident.name}': unsupported table change $c " +
          "(only ADD COLUMN, DROP COLUMN and type widening evolve through the engine)")
    }
    if (incoming.nonEmpty) lake.ensureTable(ident.name, StructType(incoming))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    requireRootNamespace(ident.namespace())
    val existed = lake.tableExists(ident.name)
    if (existed) lake.dropTable(ident.name)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename is not supported")

  private def requireRootNamespace(namespace: Array[String]): Unit =
    require(namespace.isEmpty, s"graft catalog has a single flat namespace")

  // -- SupportsNamespaces (flat root namespace only) --
  override def listNamespaces(): Array[Array[String]] = Array(Array.empty)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    requireRootNamespace(namespace); Array.empty
  }
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    requireRootNamespace(namespace); Map.empty[String, String].asJava
  }
  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("flat namespace")
  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("flat namespace")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("flat namespace")
}

/** Identity surface of a graft-catalog DSv2 table, consumed by the
  * deletion-vector read rule ([[graft.plans.ApplyGraftDeletionVectors]]):
  * which lake table (and, for `VERSION AS OF` snapshots, which version)
  * a relation scans, so the rule can decide whether live deletion
  * vectors require the merge-on-read plan. */
trait GraftTableIdentity {
  def graftWarehouse: String
  def graftTableName: String
  /** Some(v) for a `VERSION AS OF` snapshot relation, None for current. */
  def graftVersion: Option[Long]
}
