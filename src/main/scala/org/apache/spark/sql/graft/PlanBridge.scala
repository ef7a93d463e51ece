package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Narrow bridge into Spark's `private[sql]` plan/column APIs, placed in
  * `org.apache.spark.sql` the same way other Spark extension libraries do
  * (the DSv2 extension surface has no public LogicalPlan→DataFrame hook).
  * Everything graft-specific stays in the `graft.*` packages; this object
  * only re-exposes three conversions.
  */
/** [[org.apache.spark.sql.AnalysisException]] carrying a plain descriptive
  * message and NO error class. Spark 4 exposes only error-class-keyed
  * public constructors; routing a custom message through a legacy
  * `_LEGACY_ERROR_TEMP_*` template couples the message to templates Spark
  * deletes between releases. The primary constructor accepts a bare
  * message and is reachable from a subclass in this bridge package, so
  * this survives error-framework churn. */
class GraftAnalysisException(msg: String)
  extends org.apache.spark.sql.AnalysisException(
    message = msg, line = None, startPosition = None, cause = None,
    errorClass = None, messageParameters = Map.empty, context = Array.empty)

object PlanBridge {

  /** Materialize an analyzed LogicalPlan as a DataFrame (Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s analyzed plan as a DataFrame of `spark`: it optimizes, plans
    * and runs under `spark`'s confs. The analyzed plan is reused as is. */
  def rebound(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df else ofRows(spark, planOf(df))

  /** A clone of `spark` (its confs, temporary views and functions as they
    * are now) with `overlay` set on the clone; `spark` is left as it is. */
  def derive(spark: SparkSession, overlay: Seq[(String, String)]): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession].cloneSession()
    overlay.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Run `body` with `spark` as the thread's active session and its SQL
    * confs as the thread's local properties, so that a job `body` starts
    * outside a SQL execution of its own (an RDD action) carries `spark`'s
    * confs too, not those of an enclosing execution. */
  def within[T](spark: SparkSession)(body: => T): T = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive(org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(s)(body))
  }

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].logicalPlan

  /** Rebind a streaming micro-batch DataFrame as a BATCH one over its
    * executed rows — `LogicalRDD.fromDataset(toRdd, isStreaming = false)`,
    * the exact construction Spark's own ForeachBatchSink uses to let user
    * code call batch writers on an epoch. A no-op wrapper for plans that
    * are already batch. */
  def unstream(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    if (!ds.isStreaming) df
    else classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** The dual of [[unstream]]: tag a BATCH DataFrame's rows as a
    * streaming micro-batch result (`isStreaming = true`) — what a v1
    * `Source.getBatch` must return when the batch is a composed plan
    * (joins/unions) rather than one file relation. The wrapped RDD is a
    * lazy DAG: planning happens here, execution when the epoch runs. */
  def streamify(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    if (ds.isStreaming) df
    else classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = true))
  }

  /** The last micro-batch's QueryExecution of a RUNNING streaming query —
    * spec-side visibility into what the engine actually planned for an
    * epoch (StreamingQueryWrapper is private[sql]; this package sits
    * inside the boundary). None before the first batch executes. */
  def lastStreamExecution(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.QueryExecution] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution)
    case _ => None
  }

  /** Re-target a RESOLVED predicate at a different DataFrame by column
    * NAME: every bound AttributeReference becomes an UnresolvedAttribute,
    * so the returned Column re-resolves against whatever frame it is
    * applied to (SQL `DELETE`/`UPDATE` hand their conditions and
    * assignments to the engine's own scan this way). A resolved subquery
    * is not retargeted: its plan keeps the attribute ids it was bound
    * to. */
  def byNameColumn(e: Expression): Column = column(e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
  })

  /** `df` with the columns named like `output` re-bound to its attribute
    * ids (names matched case-insensitively, each cast to its attribute's
    * type); `df`'s other columns follow unchanged. An expression resolved
    * against `output` — subqueries and their outer references included —
    * then evaluates over `df` as over the plan it was resolved against:
    * SQL `DELETE`/`UPDATE` hand a subquery condition to the engine's own
    * scan this way, where [[byNameColumn]] cannot. */
  def rebind(output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
    val plan = planOf(df)
    def named(n: String) = plan.output.find(_.name.equalsIgnoreCase(n))
    val bound = output.map { a =>
      val src = named(a.name).getOrElse(throw new GraftAnalysisException(
        s"column '${a.name}' is missing from the frame it is re-bound to"))
      val v = if (src.dataType.sameType(a.dataType)) src else Cast(src, a.dataType)
      Alias(v, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
    val rest = plan.output.filterNot(s => output.exists(_.name.equalsIgnoreCase(s.name)))
    ofRows(df.sparkSession, org.apache.spark.sql.catalyst.plans.logical.Project(
      bound ++ rest, plan))
  }

  /** Hive partition-path escaping — byte-identical to what Spark's own
    * partition writer produces for string values (ExternalCatalogUtils). */
  def escapePartitionValue(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** Nullability-insensitive type equality (DataType.sameType). */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** True iff the type is a plain UTF8_BINARY-collated StringType (not
    * char/varchar) — the only string domain pruning may reason in (the
    * collation check is `private[sql]`, hence bridged). */
  def plainString(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case st: org.apache.spark.sql.types.StringType =>
      st.isUTF8BinaryCollation &&
        !st.isInstanceOf[org.apache.spark.sql.types.CharType] &&
        !st.isInstanceOf[org.apache.spark.sql.types.VarcharType]
    case _ => false
  }

  /** Driver-side keys for the values of a column of type `dt`, with the
    * column's own SQL semantics, or None for a type they do not cover
    * (binary, collated strings, nested types). */
  def driverKeys(dt: org.apache.spark.sql.types.DataType): Option[DriverKeys] = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | DateType | TimestampType |
          TimestampNTZType | _: DecimalType => Some(new DriverKeys(dt))
      case _ if plainString(dt) => Some(new DriverKeys(dt))
      case _ => None
    }
  }

  /** `schema` with every field, nested ones included, nullable — the
    * shape Spark's file tables report (private[spark] on StructType). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The session's DSv2 catalog manager (private[sql] on SessionState). */
  def catalogManager(spark: SparkSession)
      : org.apache.spark.sql.connector.catalog.CatalogManager =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager

  /** Conservative lowering of a Column predicate into a comparison tree a
    * file-pruner can evaluate against min/max bounds. Spark 4 Columns
    * wrap `private[sql]` ColumnNode trees (the DSL's `>=`/`&&` become
    * `internal.UnresolvedFunction(">=")` / `("and")`), so the walk lives
    * in this bridge. Anything not a conjunction/disjunction of
    * `col <op> literal` — where the literal lowers into the column's
    * canonical pruning domain (see below) — lowers to [[PUnknown]]. */
  sealed trait SimplePred
  final case class PAnd(l: SimplePred, r: SimplePred) extends SimplePred
  final case class POr(l: SimplePred, r: SimplePred) extends SimplePred
  /** `op` ∈ <, <=, >, >=, = with the attribute on the LEFT. */
  final case class PCmp(op: String, col: String, value: Double) extends SimplePred
  /** String-column comparison; `value` compares in unsigned UTF-8 byte
    * order (Spark's default UTF8_BINARY collation — the same total order
    * parquet STRING min/max are computed in). Only lowered for columns
    * whose schema type is the default-collation StringType; any other
    * collation would sort differently and must not prune. */
  final case class PStr(op: String, col: String, value: String) extends SimplePred
  /** `col IS NULL`. Evaluable against the per-file zero-null witness
    * (`GraftLake.NoNullsPrefix`): a file carrying the witness provably
    * holds no matching row. Type-agnostic — null-ness is independent of
    * the bounds domain, so no collation/NaN caveats apply. */
  final case class PNull(col: String) extends SimplePred
  /** `col IS NOT NULL` — the witness dual: a file carrying the zero-null
    * witness provably matches on EVERY row. */
  final case class PNotNull(col: String) extends SimplePred
  case object PUnknown extends SimplePred

  /** Rewrite every column name in a lowered predicate (the RENAME COLUMN
    * logical→physical bridge: stats and bloom sidecars are keyed by the
    * frozen physical names). */
  def mapPredCols(p: SimplePred, f: String => String): SimplePred = p match {
    case PAnd(l, r) => PAnd(mapPredCols(l, f), mapPredCols(r, f))
    case POr(l, r) => POr(mapPredCols(l, f), mapPredCols(r, f))
    case PCmp(op, c, v) => PCmp(op, f(c), v)
    case PStr(op, c, v) => PStr(op, f(c), v)
    case PNull(c) => PNull(f(c))
    case PNotNull(c) => PNotNull(f(c))
    case PUnknown => PUnknown
  }

  /** Epoch micros of an instant (the timestamp pruning domain). Direct
    * arithmetic, not ChronoUnit.MICROS.between — the latter goes through
    * nanos and overflows past ±292 years. Throws ArithmeticException only
    * past ±292,000 years; callers Try-wrap to fall back to keep-the-file. */
  private def epochMicros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      i.getNano / 1000L)

  /** Parse a literal temporal string the way Spark's string→timestamp cast
    * does for the common ISO shapes: instant (trailing Z / offset), local
    * datetime (space or 'T' separator, optional fraction) in the session
    * zone, or bare date at midnight in the session zone. Anything else →
    * None (the caller falls back to keep-the-file). */
  private def parseInstant(s: String, zone: java.time.ZoneId)
      : Option[java.time.Instant] = {
    val t = s.trim
    def attempt[T](f: => T): Option[T] = scala.util.Try(f).toOption
    attempt(java.time.Instant.parse(t))
      .orElse(attempt(java.time.OffsetDateTime.parse(t).toInstant))
      .orElse(attempt(java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .atZone(zone).toInstant))
      .orElse(attempt(java.time.LocalDate.parse(t)
        .atStartOfDay(zone).toInstant))
  }

  /** Lower a predicate to the pruning tree, resolving literal values into
    * the referenced column's canonical bounds domain:
    *  - numeric columns (or columns absent from `schema`): the literal's
    *    double value — NaN / ±Infinity literals lower to [[PUnknown]]
    *    (min/max arithmetic on non-finite values would prune wrongly:
    *    Spark orders NaN above every double, while `min < NaN` is false);
    *  - `DateType`: epoch DAYS (from Date / LocalDate / ISO string);
    *  - `TimestampType`: epoch MICROS UTC (from Timestamp / Instant, or a
    *    string parsed in the session `zone`, mirroring Spark's cast);
    *  - `TimestampNTZType`: the local datetime's epoch micros as if UTC
    *    (the parquet NTZ annotation's own domain — zone-free).
    *  - default-collation `StringType`: the literal string verbatim
    *    ([[PStr]] — compared in unsigned UTF-8 byte order, matching both
    *    Spark's UTF8_BINARY row comparison and parquet's STRING column
    *    order; non-default collations lower to [[PUnknown]]).
    * Columns of any other type (decimal, nested) lower to [[PUnknown]] —
    * their files carry no bounds anyway. */
  def simplePredicate(c: Column,
      schema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType(),
      zone: String = "UTC"): SimplePred = {
    import org.apache.spark.sql.internal._
    import org.apache.spark.sql.types._
    val zoneId = scala.util.Try(java.time.ZoneId.of(zone))
      .getOrElse(java.time.ZoneOffset.UTC)
    val types: Map[String, DataType] =
      schema.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) ->
        f.dataType).toMap
    def finite(d: Double): Option[Double] =
      if (d.isNaN || d.isInfinite) None else Some(d)
    def lower(colName: String, v: Any): Option[Double] =
      types.get(colName.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(DateType) => v match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
          case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
          case s: String =>
            scala.util.Try(java.time.LocalDate.parse(s.trim)).toOption
              .map(_.toEpochDay.toDouble)
          case _ => None
        }
        case Some(TimestampType) =>
          val inst = v match {
            case t: java.sql.Timestamp => Some(t.toInstant)
            case i: java.time.Instant => Some(i)
            case s: String => parseInstant(s, zoneId)
            case _ => None
          }
          inst.flatMap(i =>
            scala.util.Try(epochMicros(i).toDouble).toOption)
        case Some(TimestampNTZType) =>
          // zoneless domain: the local datetime's micros as if UTC —
          // exactly what the parquet NTZ annotation stores, so no session
          // zone enters on either side of the comparison
          def attempt[T](f: => T): Option[T] = scala.util.Try(f).toOption
          val ldt = v match {
            case l: java.time.LocalDateTime => Some(l)
            case s: String =>
              val t = s.trim
              attempt(java.time.LocalDateTime.parse(t.replace(' ', 'T')))
                .orElse(attempt(java.time.LocalDate.parse(t).atStartOfDay))
            case _ => None
          }
          ldt.flatMap(l => scala.util.Try(
            epochMicros(l.toInstant(java.time.ZoneOffset.UTC)).toDouble).toOption)
        case None | Some(_: NumericType) => v match {
          case x: Number => finite(x.doubleValue())
          case d: scala.math.BigDecimal => finite(d.doubleValue)
          case _ => None
        }
        case _ => None // collated-string/decimal/nested: no bounds domain
      }
    // Build the comparison node for `col <op> literal`, routing string
    // columns to the PStr domain and everything else through `lower`.
    // The guard is EXPLICIT about what may prune in UTF-8 byte order:
    // the default UTF8_BINARY collation only (any other collation sorts
    // differently than the parquet footer min/max), and never
    // CharType/VarcharType (their pad/truncate read semantics shift
    // values relative to stored bounds). Do not collapse this back to
    // `st == StringType` — it only works while StringType.equals happens
    // to compare collation AND constraint, which is not a stable contract
    // across Spark upgrades.
    def cmp(op: String, colName: String, v: Any): SimplePred =
      types.get(colName.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(st: StringType)
            if st.isUTF8BinaryCollation && !st.isInstanceOf[CharType] &&
              !st.isInstanceOf[VarcharType] => v match {
          case s: String => PStr(op, colName, s)
          case _ => PUnknown
        }
        case _ => lower(colName, v).map(PCmp(op, colName, _)).getOrElse(PUnknown)
      }
    walkColumn(c)(cmp)
  }

  private def walkColumn(c: Column)(
      cmp: (String, String, Any) => SimplePred): SimplePred = {
    import org.apache.spark.sql.internal._
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case o => o
    }
    def attr(n: ColumnNode): Option[String] = n match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.nameParts.head)
      case _ => None
    }
    def litVal(n: ColumnNode): Option[Any] = n match {
      case l: Literal => Option(l.value)
      case _ => None
    }
    def walk(n: ColumnNode): SimplePred = n match {
      case f: UnresolvedFunction =>
        val args = f.arguments
        // the DSL emits camelCase ("isNull"), SQL registration lowercase
        f.functionName.toLowerCase(java.util.Locale.ROOT) match {
          case "and" if args.size == 2 => PAnd(walk(args(0)), walk(args(1)))
          case "or" if args.size == 2 => POr(walk(args(0)), walk(args(1)))
          case op @ ("<" | "<=" | ">" | ">=" | "=" | "==") if args.size == 2 =>
            val o = if (op == "==") "=" else op
            (attr(args(0)), litVal(args(1)), litVal(args(0)), attr(args(1))) match {
              case (Some(c0), Some(v), _, _) => cmp(o, c0, v)
              case (_, _, Some(v), Some(c1)) => cmp(flip(o), c1, v)
              case _ => PUnknown
            }
          // a bounded isin unfolds to an OR of equalities, mirroring the
          // catalyst path's In handling (one unliftable member keeps the
          // file — POr(PUnknown, _) compiles to keep)
          case "in" if args.size >= 2 && args.size <= 65 =>
            (attr(args.head), args.tail.map(litVal)) match {
              case (Some(c0), vs) if vs.forall(_.isDefined) =>
                vs.flatten.map(v => cmp("=", c0, v)).reduce(POr(_, _))
              case _ => PUnknown
            }
          case "isnull" if args.size == 1 =>
            attr(args.head).map(PNull(_): SimplePred).getOrElse(PUnknown)
          case "isnotnull" if args.size == 1 =>
            attr(args.head).map(PNotNull(_): SimplePred).getOrElse(PUnknown)
          // negation is lowered ONLY over the null tests (self-dual);
          // negated comparisons would need three-valued care (NOT (a > 5)
          // is not (a <= 5) when a is null) — keep-the-file instead
          case "!" | "not" if args.size == 1 => walk(args.head) match {
            case PNull(c) => PNotNull(c)
            case PNotNull(c) => PNull(c)
            case _ => PUnknown
          }
          case _ => PUnknown
        }
      case _ => PUnknown
    }
    walk(c.node)
  }

  /** Lower an optimizer-pushed catalyst predicate — resolved
    * `AttributeReference`s, constant-folded `Literal`s — into the pruning
    * tree: the SQL-surface twin of [[simplePredicate]]. Much simpler than
    * the Column walk because analysis already resolved types and folded
    * casts: a literal's internal value is ALREADY in the column's bounds
    * domain (`TimestampType`/NTZ → epoch micros, `DateType` → epoch days,
    * strings → UTF8String). Same conservative contract: any shape outside
    * and/or/IN over `attr <op> literal` lowers to [[PUnknown]]
    * (keep-the-file); non-finite numeric literals and non-UTF8_BINARY /
    * char/varchar string columns likewise. */
  def catalystPredicate(e: Expression): SimplePred = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Or => COr,
      EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual,
      AttributeReference, Literal => CLit}
    import org.apache.spark.sql.types._
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case o => o
    }
    def leaf(op: String, a: Expression, l: CLit): SimplePred = a match {
      case ar: AttributeReference if l.value != null =>
        ar.dataType match {
          case st: StringType
              if st.isUTF8BinaryCollation && !st.isInstanceOf[CharType] &&
                !st.isInstanceOf[VarcharType] =>
            l.dataType match {
              case ls: StringType if ls.isUTF8BinaryCollation =>
                PStr(op, ar.name, l.value.toString)
              case _ => PUnknown
            }
          case DateType | TimestampType | TimestampNTZType
              if l.dataType == ar.dataType =>
            l.value match {
              case n: Number => PCmp(op, ar.name, n.doubleValue())
              case _ => PUnknown
            }
          case _: NumericType if l.dataType.isInstanceOf[NumericType] =>
            val d = l.value match {
              case n: Number => Some(n.doubleValue())
              case dec: Decimal => Some(dec.toDouble)
              case _ => None
            }
            d.filter(v => !v.isNaN && !v.isInfinite)
              .map(PCmp(op, ar.name, _)).getOrElse(PUnknown)
          case _ => PUnknown
        }
      case _ => PUnknown
    }
    e match {
      case CAnd(a, b) => PAnd(catalystPredicate(a), catalystPredicate(b))
      case COr(a, b) => POr(catalystPredicate(a), catalystPredicate(b))
      case GreaterThan(a, l: CLit) => leaf(">", a, l)
      case GreaterThan(l: CLit, a) => leaf(flip(">"), a, l)
      case GreaterThanOrEqual(a, l: CLit) => leaf(">=", a, l)
      case GreaterThanOrEqual(l: CLit, a) => leaf(flip(">="), a, l)
      case LessThan(a, l: CLit) => leaf("<", a, l)
      case LessThan(l: CLit, a) => leaf(flip("<"), a, l)
      case LessThanOrEqual(a, l: CLit) => leaf("<=", a, l)
      case LessThanOrEqual(l: CLit, a) => leaf(flip("<="), a, l)
      case EqualTo(a, l: CLit) => leaf("=", a, l)
      case EqualTo(l: CLit, a) => leaf("=", a, l)
      // a bounded IN unfolds to an OR of equalities (one PUnknown member
      // keeps the file — POr(PUnknown, _) compiles to keep)
      case In(a, vs) if vs.nonEmpty && vs.size <= 64 &&
          vs.forall(_.isInstanceOf[CLit]) =>
        vs.map(v => leaf("=", a, v.asInstanceOf[CLit])).reduce(POr)
      // null tests lower type-agnostically (the witness is a null COUNT,
      // independent of the bounds domain); negation only over them
      case org.apache.spark.sql.catalyst.expressions.IsNull(
          a: AttributeReference) => PNull(a.name)
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference) => PNotNull(a.name)
      case org.apache.spark.sql.catalyst.expressions.Not(inner) =>
        catalystPredicate(inner) match {
          case PNull(c) => PNotNull(c)
          case PNotNull(c) => PNull(c)
          case _ => PUnknown
        }
      // `coalesce(p, false)` is TRUE iff p is TRUE (SQL DML null-keeps
      // semantics wrap conditions this way) — files where p can never be
      // true can't produce a row, so lowering to p is prune-safe
      case org.apache.spark.sql.catalyst.expressions.Coalesce(
          scala.collection.Seq(p, CLit(false, BooleanType))) =>
        catalystPredicate(p)
      case _ => PUnknown
    }
  }
}

/** Keys of one column's values on the driver: [[key]] maps a value as
  * `collect()` returns it to Spark's internal value, with floating zero and
  * NaN normalized as join keys are, so hash equality of keys is SQL `=`;
  * [[lt]] is SQL `<` on keys; [[member]] is the column `IN` a set of keys. */
final class DriverKeys private[graft] (val dataType: org.apache.spark.sql.types.DataType) {
  private val toInternal =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dataType)
  private val ordering =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dataType)

  def key(v: Any): Any = graft.functions.KeySet.normalize(toInternal(v))

  def lt(a: Any, b: Any): Boolean = ordering.lt(a, b)

  def member(spark: SparkSession, c: Column, keys: Iterable[Any]): Column =
    graft.functions.KeySet.member(spark, c, dataType, keys)
}
