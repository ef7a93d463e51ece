package graft.plans

import graft.catalog.{GraftCatalog, GraftLake, TableMeta}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, TimestampType}

/** Makes literal `MERGE INTO graft.t USING src ON ...` SQL execute against
  * graft lake tables (reference DucklakeWriter.java:151-168 — MERGE is the
  * reference's core write; here it becomes user-facing SQL).
  *
  * Spark's own row-level MERGE rewrite (`SupportsRowLevelOperations`) is a
  * group-based copy-on-write: the table scan defines replacement groups and
  * the whole scanned set is rewritten. Routing through the engine instead
  * keeps every MERGE merge-on-read. The *upsert-shaped* merge — the only
  * form the reference emits, and the overwhelmingly common form at ingest —
  * runs [[GraftLake.upsert]]'s batch-bounded path (a PK probe of only the
  * files that can hold a batch key, one deletion vector, the batch's rows).
  * General-form merges (extra conditions, DELETE actions, NOT MATCHED BY
  * SOURCE, partial update column lists) take the engine's one row-level
  * write ([[GraftLake.writeRowLevel]]): a deletion vector over the target
  * rows an action updates or deletes plus the updated and inserted rows,
  * in one commit, with ANSI multi-match detection. Neither rewrites a data
  * file.
  */
object RewriteGraftMerge extends Rule[LogicalPlan] {

  // `WITH SCHEMA EVOLUTION` merges are accepted too: the graft table
  // advertises AUTOMATIC_SCHEMA_EVOLUTION, so by the time this post-hoc
  // rule sees a resolved plan, Spark's ResolveMergeIntoSchemaEvolution has
  // already routed the source's new/wider columns through
  // GraftCatalog.alterTable (engine evolve path) and patched the target
  // relation — the merge itself then executes against the evolved schema.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case m: MergeIntoTable if m.resolved =>
      graftTarget(m.targetTable) match {
        case Some((cat, name)) =>
          GraftMergeCommand(cat.warehouseDir, name, m.targetTable, m.sourceTable,
            m.mergeCondition, m.matchedActions, m.notMatchedActions,
            m.notMatchedBySourceActions)
        case None => m
      }
    case d: DeleteFromTable if d.resolved =>
      graftTarget(d.table) match {
        case Some((cat, name)) =>
          GraftDeleteCommand(cat.warehouseDir, name, d.table,
            GraftDml.Shielded(d.condition))
        case None => d
      }
    case u: UpdateTable if u.resolved =>
      graftTarget(u.table) match {
        case Some((cat, name)) =>
          GraftUpdateCommand(cat.warehouseDir, name, u.table,
            GraftDml.ShieldedAssignments(u.assignments),
            u.condition.map(GraftDml.Shielded))
        case None => u
      }
  }

  /** The graft (catalog, table-name) behind a resolved target relation. */
  private def graftTarget(p: LogicalPlan): Option[(GraftCatalog, String)] = p match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation =>
      r.catalog.collect { case c: GraftCatalog =>
        (c, r.identifier.map(_.name).getOrElse(r.table.name))
      }
    case _ => None
  }
}

/** Expands `UPDATE SET *` / `INSERT *` in a MERGE over a graft table into
  * explicit by-name assignments of the table's USER columns. Spark's own
  * star expansion assigns every *target* column from the source — including
  * the engine-managed `_inserted_at` (and `__p_*` partition columns), which
  * sources never carry — so it fails analysis for every graft table. The
  * engine stamps/preserves those system columns on write instead, exactly
  * as it does for an explicit-assignment merge.
  *
  * Injected as a hint-resolution rule: the Hints batch runs before the
  * Resolution batch, which is the only window where the star actions are
  * still visible (ResolveReferences expands-and-throws inside one
  * Resolution iteration, before any extended resolution rule runs). At
  * that point the target is usually still an [[UnresolvedRelation]], so
  * graft-ness is decided by looking the identifier up in the session's
  * catalog manager. */
final case class ExpandGraftMergeStars(spark: SparkSession)
    extends Rule[LogicalPlan] {

  // `WITH SCHEMA EVOLUTION` star merges are left untouched: under the
  // evolution flag Spark's own expansion derives the assignments from the
  // SOURCE's columns (not every target column), so the engine-managed
  // `_inserted_at` is never assigned and no pre-expansion is needed.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case m: MergeIntoTable if hasStar(m) && !m.withSchemaEvolution =>
      (graftUserColumns(m.targetTable), sourceAlias(m.sourceTable)) match {
        case (Some(cols), Some(alias)) =>
          def assigns = cols.map(c => Assignment(
            UnresolvedAttribute(Seq(c)), UnresolvedAttribute(Seq(alias, c))))
          m.copy(
            matchedActions = m.matchedActions.map {
              case UpdateStarAction(cond) => UpdateAction(cond, assigns)
              case a => a
            },
            notMatchedActions = m.notMatchedActions.map {
              case InsertStarAction(cond) => InsertAction(cond, assigns)
              case a => a
            })
        case (Some(_), None) =>
          // Spark's own expansion would assign every target column from the
          // source — including `_inserted_at`, which sources never carry —
          // and fail with an opaque unresolved-column error; say why early
          throw new org.apache.spark.sql.graft.GraftAnalysisException(
            "UPDATE SET * / INSERT * on a graft table requires an aliased " +
              "USING source (e.g. `USING src AS s`); without the alias the " +
              "star cannot be expanded against the table's user columns")
        case _ => m
      }
  }

  private def hasStar(m: MergeIntoTable): Boolean =
    (m.matchedActions ++ m.notMatchedActions).exists {
      case _: UpdateStarAction | _: InsertStarAction => true
      case _ => false
    }

  /** Qualifier for the USING side: its alias when present (`USING src AS
    * s`; subqueries always get one — the parser auto-aliases), else the
    * table name itself for a bare `USING tbl`. None only for plans built
    * programmatically (e.g. `Dataset.mergeInto` with star actions), which
    * get the descriptive error above instead of Spark's opaque
    * `_inserted_at` resolution failure. */
  private def sourceAlias(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(ident, _) => Some(ident.name)
    case u: UnresolvedRelation => u.multipartIdentifier.lastOption
    case _ => None
  }

  /** User-facing columns of the merge target when it is a graft table
    * (system `_inserted_at` / `__p_*` excluded); None for non-graft. */
  private def graftUserColumns(p: LogicalPlan): Option[Seq[String]] = {
    def user(schema: org.apache.spark.sql.types.StructType) = Some(
      schema.fieldNames.toSeq.filterNot(n =>
        n == "_inserted_at" || n.startsWith("__p_")))
    p match {
      case SubqueryAlias(_, child) => graftUserColumns(child)
      case r: DataSourceV2Relation
          if r.catalog.exists(_.isInstanceOf[GraftCatalog]) =>
        user(r.schema)
      case u: UnresolvedRelation =>
        val mgr = PlanBridge.catalogManager(spark)
        val (catName, tbl) = u.multipartIdentifier match {
          case Seq(t) => (mgr.currentCatalog.name, t)
          case Seq(c, t) => (c, t)
          case _ => return None
        }
        try mgr.catalog(catName) match {
          case g: GraftCatalog =>
            user(g.loadTable(Identifier.of(Array.empty, tbl)).schema())
          case _ => None
        } catch { case _: Exception => None }
      case _ => None
    }
  }
}

/** Eagerly-executed command holding the resolved pieces of a MERGE over a
  * graft table. `target`/`source` are analyzed plans kept out of
  * `children` (leaf command) so the merge rewrite controls their use. */
final case class GraftMergeCommand(
    warehouse: String,
    table: String,
    target: LogicalPlan,
    source: LogicalPlan,
    cond: Expression,
    matched: Seq[MergeAction],
    notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(target, source)

  private val InsertedAt = "_inserted_at"

  /** Under change capture, the `_inserted_at` of INSERT-path rows is
    * frozen driver-side: the table write and the change-file write are
    * separate jobs, and each would otherwise evaluate CurrentTimestamp()
    * to its own instant — the feed's postimage must equal the table's
    * row. None (the per-query CurrentTimestamp) when capture is off. */
  @transient private var insertNow: Option[Expression] = None

  override def run(spark: SparkSession): Seq[Row] = {
    val lake = new GraftLake(spark, warehouse)
    val meta = lake.readMeta(table)
    if (meta.cdfEnabled) {
      val now = java.time.Instant.now()
      insertNow = Some(Literal(
        now.getEpochSecond * 1000000L + now.getNano / 1000L, TimestampType))
    }
    (matched ++ notMatched ++ notMatchedBySource).foreach {
      case _: UpdateStarAction | _: InsertStarAction =>
        throw new UnsupportedOperationException(
          "unresolved star action reached the graft merge rewrite")
      case _ => ()
    }
    upsertBatch(meta) match {
      // GraftLake.upsert dedups duplicate source PKs last-wins (by an
      // arbitrary order for a SQL source) — but ANSI MERGE either raises
      // the cardinality error (key present in target) or inserts every
      // unmatched row (key absent). A duplicate-key source must therefore
      // leave the fast path: `upsertIfUniquePks` checks the keys it
      // collects for its probe anyway (no extra job for a trigger-sized
      // source) and REFUSES a duplicate-key source untouched. Keys
      // are compared as they land, after the cast to the table's key
      // types: keys distinct as written but equal after it are
      // duplicates. The general rewrite then reproduces both ANSI
      // outcomes exactly — including persisting duplicate-key INSERTs,
      // because on the general path PKs are advisory, not a uniqueness
      // constraint (README "Capability determinations").
      //
      // The projected source is cached for the whole fast path: the
      // upsert's key collect materializes it, and its later jobs (the
      // probe join and the row write) read the cache instead of
      // re-executing the source plan — one source execution per MERGE, so
      // an expensive or nondeterministic source is scanned once and the
      // probe and the upsert observe the SAME data. The footprint is the
      // projected batch (table columns only), spilling to disk if needed.
      case Some(batch) =>
        val src = PlanBridge.ofRows(spark, batch).cache()
        try {
          // Sensor contract: mergeSqlUpsertPath counts APPLIED fast-path
          // merges only — a refused probe's time is general-path cost.
          val t0 = System.nanoTime()
          if (lake.upsertIfUniquePks(table, src))
            graft.metrics.GraftMetrics.op("mergeSqlUpsertPath")
              .record(System.nanoTime() - t0)
          else {
            generalMerge(spark, lake, meta)
            graft.metrics.GraftMetrics.op("mergeSqlGeneralPath")
              .record(System.nanoTime() - t0)
          }
        } finally src.unpersist()
      case _ =>
        graft.metrics.GraftMetrics.time("mergeSqlGeneralPath") {
          generalMerge(spark, lake, meta)
        }
    }
    Seq.empty
  }

  /** Opt-in strict-PK enforcement (`spark.graft.merge.strictPks=true`):
    * PKs are ADVISORY on the general merge path — ANSI semantics insert
    * every unmatched source row, duplicate key or not (README "Capability
    * determinations"). Under the flag, a statement that would persist
    * duplicate primary-key rows fails HERE, before any file is staged, so
    * the table is left untouched: its new `rows` must hold no key twice
    * and no key of a live row it leaves in place (`kept`). The price is
    * one extra execution of the merge plan plus a probe of the live rows
    * — paid only when the flag is on. */
  private def assertUniquePks(spark: SparkSession, meta: TableMeta,
      rows: org.apache.spark.sql.DataFrame,
      kept: org.apache.spark.sql.DataFrame): Unit = {
    if (meta.pks.isEmpty ||
      !spark.conf.get("spark.graft.merge.strictPks", "false").toBoolean) return
    val pkCols = meta.pks.map(n => col(GraftLake.quoted(n)))
    val duplicated = !rows.groupBy(pkCols: _*).count()
      .filter(col("count") > 1).limit(1).isEmpty
    if (duplicated || !rows.select(pkCols: _*)
        .join(kept.select(pkCols: _*), meta.pks).isEmpty)
      throw new IllegalStateException(
        s"MERGE into '$table': strict-pk mode (spark.graft.merge.strictPks) — " +
          s"the statement would persist duplicate primary-key rows on " +
          s"(${meta.pks.mkString(", ")}). Without the flag, PKs are advisory " +
          "on the general merge path and the duplicates would be inserted.")
  }

  // ---- upsert-shaped fast path ----

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def castTo(e: Expression, dt: DataType): Expression =
    if (PlanBridge.sameType(e.dataType, dt)) e
    else Cast(e, dt, Option(SQLConf.get.sessionLocalTimeZone))

  /** When the merge is exactly the engine upsert — `ON` equates precisely
    * the table's PKs to source expressions, one unconditional
    * matched-UPDATE and one unconditional not-matched-INSERT assign every
    * data column the same source value, and nothing touches system or
    * partition columns — return the equivalent batch plan for
    * [[GraftLake.upsert]]. Otherwise None (general rewrite). */
  private def upsertBatch(meta: TableMeta): Option[LogicalPlan] = {
    if (notMatchedBySource.nonEmpty || meta.pks.isEmpty) return None
    val up = matched match {
      case Seq(UpdateAction(None, as, _)) => as
      case _ => return None
    }
    val ins = notMatched match {
      case Seq(InsertAction(None, as)) => as
      case _ => return None
    }
    val tOut = target.outputSet
    val sOut = source.outputSet
    val eqs = conjuncts(cond).map {
      case EqualTo(l: Attribute, r) if tOut.contains(l) && r.references.subsetOf(sOut) => (l, r)
      case EqualTo(l, r: Attribute) if tOut.contains(r) && l.references.subsetOf(sOut) => (r, l)
      case _ => return None
    }
    val pkMap = eqs.map { case (a, e) => a.name.toLowerCase -> e }.toMap
    if (pkMap.size != eqs.size) return None
    val lowerPks = meta.pks.map(_.toLowerCase).toSet
    if (pkMap.keySet != lowerPks) return None

    def asMap(as: Seq[Assignment]): Option[Map[String, Expression]] = {
      val pairs = as.map {
        case Assignment(k: Attribute, v) if v.references.subsetOf(sOut) =>
          k.name.toLowerCase -> v
        case _ => return None
      }
      if (pairs.map(_._1).distinct.size != pairs.size) None else Some(pairs.toMap)
    }
    val upM = asMap(up).getOrElse(return None)
    val insM = asMap(ins).getOrElse(return None)
    // system/partition/PK columns must not be explicitly updated
    val touched = upM.keySet ++ insM.keySet
    if (touched.exists(k => k == InsertedAt || k.startsWith("__p_"))) return None
    // a PK assignment is allowed only as the no-op `pk = <join key>` —
    // star expansion emits exactly that; anything else rewrites the key
    for (pk <- lowerPks.intersect(upM.keySet))
      if (!upM(pk).semanticEquals(pkMap(pk))) return None
    val upData = upM -- lowerPks
    // inserted PKs must be the join keys themselves
    for (pk <- lowerPks)
      if (!insM.get(pk).exists(_.semanticEquals(pkMap(pk)))) return None

    val dataFields = GraftLake.logicalSchema(meta.schema).fields.toSeq
      .filterNot(f => lowerPks(f.name.toLowerCase) || f.name == InsertedAt)
    // every data column must get the same source value on both paths
    for (f <- dataFields) {
      val u = upData.getOrElse(f.name.toLowerCase, return None)
      val i = insM.getOrElse(f.name.toLowerCase, return None)
      if (!u.semanticEquals(i)) return None
    }
    if (insM.size != lowerPks.size + dataFields.size || upData.size != dataFields.size)
      return None

    val aliases =
      meta.pks.map(pk =>
        Alias(castTo(pkMap(pk.toLowerCase), GraftLake.logicalSchema(meta.schema)(pk).dataType), pk)()) ++
        dataFields.map(f =>
          Alias(castTo(upData(f.name.toLowerCase), f.dataType), f.name)())
    Some(Project(aliases, source))
  }

  // ---- general path: one row-level write ----

  /** Full MERGE semantics in one full-outer join of the table's live rows
    * (the keyed scan of [[GraftLake.writeRowLevel]], re-bound to the
    * target's attributes) with the source. Each joined row takes the class
    * of its first applicable action: matched pairs by the WHEN MATCHED
    * actions, source-only rows by the NOT MATCHED inserts, target-only rows
    * by the NOT MATCHED BY SOURCE actions. A target row an UPDATE or DELETE
    * fires on is a hit, masked by the statement's one deletion vector; the
    * updated rows and the kept inserts are its new rows, in the same
    * commit. A target row no action fires on is neither rewritten nor
    * masked, so no data file is rewritten on any layout (mid-REBUCKET
    * included), and a target row that several source rows match while no
    * matched action exists emits nothing, so it cannot fan out.
    * `_inserted_at` is preserved on update and stamped on insert unless
    * explicitly assigned. ANSI cardinality: with matched actions present,
    * >1 source match per target row is an error, checked on the row's DV
    * key and position before anything is staged. The rows an action fires
    * on are cached for the statement, so the join runs once. */
  private def generalMerge(spark: SparkSession, lake: GraftLake, meta: TableMeta): Unit = {
    val fields = GraftLake.logicalSchema(meta.schema).fields.toSeq
    val keyNames = Seq(GraftLake.DvKeyCol, GraftLake.DvPosCol)
    val keyCols = keyNames.map(n => col(GraftLake.quoted(n)))
    var acted: Option[org.apache.spark.sql.DataFrame] = None
    try lake.writeRowLevel(table, "merge", PlanBridge.rebind(target.output, _)) { live =>
      val tgt = PlanBridge.planOf(live)
      def tAttr(n: String): Attribute = tgt.output.find(_.name.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalStateException(s"target output missing column $n"))
      val tProj = Project(tgt.output :+ Alias(Literal(true), "__graft_t_present")(), tgt)
      val sProj = Project(source.output :+ Alias(Literal(true), "__graft_s_present")(), source)
      val joined = Join(tProj, sProj, FullOuter, Some(cond), JoinHint.NONE)
      val matchedP = And(IsNotNull(tProj.output.last), IsNotNull(sProj.output.last))
      val sourceOnly = IsNull(tProj.output.last)
      def byAction(f: Seq[MergeAction] => Expression): Expression =
        CaseWhen(Seq(matchedP -> f(matched), sourceOnly -> f(notMatched)),
          Some(f(notMatchedBySource)))
      val planned = PlanBridge.ofRows(spark, Project(
        keyNames.map(tAttr) ++
          fields.map(f => Alias(tAttr(f.name), s"__graft_old_${f.name}")()) ++
          fields.map(f => Alias(CaseWhen(Seq(
            matchedP -> valueOf(matched, f.name, f.dataType, tAttr(f.name), insertPath = false),
            sourceOnly -> valueOf(notMatched, f.name, f.dataType,
              Literal(null, f.dataType), insertPath = true)),
            Some(valueOf(notMatchedBySource, f.name, f.dataType, tAttr(f.name),
              insertPath = false))), s"__graft_new_${f.name}")()) :+
          Alias(byAction(classOf), "__graft_cls")() :+ Alias(matchedP, "__graft_matched")(),
        joined))
      val cls = col("__graft_cls")
      // the joined rows an action fires on, plus every matched pair when
      // the cardinality check needs them: cached for the statement, so its
      // check, DV stage, row write and change write run the join once
      val a = planned.filter(cls =!= "none" ||
        (lit(matched.nonEmpty) && col("__graft_matched"))).cache()
      acted = Some(a)
      if (matched.nonEmpty && !a.filter(col("__graft_matched")).groupBy(keyCols: _*)
          .count().filter(col("count") > 1).limit(1).isEmpty)
        throw new IllegalStateException(
          s"MERGE into '$table': a target row matched more than one source row " +
            "(ON condition must identify at most one source row per target row)")
      def image(rows: String, side: String) = a.filter(cls === rows)
        .select(fields.map(f => col(GraftLake.quoted(s"__graft_${side}_${f.name}")).as(f.name)): _*)
      val hits = a.filter(cls.isin("update", "delete"))
      val rows = image("update", "new").unionByName(image("insert", "new"))
      assertUniquePks(spark, meta, rows,
        live.join(hits.select(keyCols: _*), keyNames, "left_anti"))
      // change capture: update rows explode into preimage/postimage pairs,
      // delete rows carry their old values, insert rows their new ones
      val ct = GraftLake.ChangeTypeCol
      GraftLake.RowLevel(hits, rows = _ => Some(rows), changes = _ => Some(
        image("update", "old").withColumn(ct, lit("update_preimage"))
          .unionByName(image("update", "new").withColumn(ct, lit("update_postimage")))
          .unionByName(image("delete", "old").withColumn(ct, lit("delete")))
          .unionByName(image("insert", "new").withColumn(ct, lit("insert")))))
    }
    finally acted.foreach(_.unpersist())
  }

  // ---- shared action application ----

  private def condOf(a: MergeAction): Expression =
    a.condition.getOrElse(Literal.TrueLiteral)

  /** The class of the first applicable action — `update`, `delete` or
    * `insert` — or `none` when no action fires. */
  private def classOf(actions: Seq[MergeAction]): Expression = {
    val branches = actions.map {
      case d: DeleteAction => condOf(d) -> Literal("delete")
      case u: UpdateAction => condOf(u) -> Literal("update")
      case i: InsertAction => condOf(i) -> Literal("insert")
      case a => throw new UnsupportedOperationException(
        s"MERGE into '$table': unsupported action $a")
    }
    if (branches.isEmpty) Literal("none")
    else CaseWhen(branches, Some(Literal("none")))
  }

  private def assigned(as: Seq[Assignment], name: String): Option[Expression] =
    as.collectFirst {
      case Assignment(k: Attribute, v) if k.name.equalsIgnoreCase(name) => v
      case Assignment(k, _) if !k.isInstanceOf[Attribute] =>
        throw new UnsupportedOperationException(
          s"MERGE into '$table': nested-field assignment '${k.sql}' is not supported")
    }

  /** Column value under the first applicable action. */
  private def valueOf(actions: Seq[MergeAction], name: String, dt: DataType,
      fallback: Expression, insertPath: Boolean): Expression = {
    def insertDefault: Expression =
      if (name == InsertedAt) insertNow.getOrElse(
        Cast(CurrentTimestamp(), TimestampType,
          Option(SQLConf.get.sessionLocalTimeZone)))
      else Literal(null, dt)
    val branches = actions.map {
      case UpdateAction(c, as, _) =>
        c.getOrElse(Literal.TrueLiteral) ->
          assigned(as, name).map(castTo(_, dt)).getOrElse(fallback)
      case InsertAction(c, as) =>
        c.getOrElse(Literal.TrueLiteral) ->
          assigned(as, name).map(castTo(_, dt)).getOrElse(insertDefault)
      case d: DeleteAction =>
        condOf(d) -> fallback // dropped by keep expr; value irrelevant
      case a => throw new UnsupportedOperationException(
        s"MERGE into '$table': unsupported action $a")
    }
    val default = if (insertPath) Literal(null, dt) else fallback
    if (branches.isEmpty) default else CaseWhen(branches, Some(default))
  }
}
