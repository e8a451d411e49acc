package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, ReplaceExpressions, SimplifyCasts}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => CFilter}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import VersionedTable.ColStat

/** The data-skipping core: every reader that prunes directories on the
  * manifest statistics ([[VersionedTable.ColStat]], Delta's file
  * statistics) maps its predicate onto ONE model ([[Pred]]), converts
  * its literals through ONE stat-domain conversion ([[toStat]]), and
  * asks ONE evaluator ([[partition]]). The front ends are thin:
  *
  *  - v1 `Filter`s ([[fromFilters]]) — the DSv2 scan's plan-time
  *    pushdown and its runtime (dynamic-partition-pruning) filter;
  *  - a Catalyst `Column` ([[fromCondition]]) — DELETE/UPDATE
  *    discovery: constant-folded, then translated per conjunct to v1
  *    filters by Spark's own `DataSourceStrategy.translateFilter`;
  *  - caller-supplied tuples ([[fromTuples]], [[fromValues]]) — the public
  *    `pruneActive*`/`readPruned*` methods; an unconvertible bound
  *    fails loudly there, where a v1 or Catalyst shape only forfeits
  *    its skip.
  *
  * Pruning is a superset guarantee at directory granularity: every
  * caller still applies its row filter, so a shape the model cannot
  * express keeps directories, never drops an answer.
  */
private[graft] object DataSkipping {

  /** One conjunct over one top-level column, in the stat domain. */
  sealed trait Pred { def col: String }
  /** `lo <= col <= hi`; a strict bound relaxes to inclusive. */
  final case class Range(col: String, lo: Option[Any], hi: Option[Any]) extends Pred
  /** `col IN (...)`: distinct non-null members sorted under [[cmp]]
    * (a null member never matches — SQL IN). Built by the front ends.
    */
  final case class Members(col: String, sorted: IndexedSeq[Any]) extends Pred
  final case class NotNull(col: String) extends Pred
  final case class Null(col: String) extends Pred

  // ---- The stat domain ----------------------------------------------

  /** The indexed types, each column's stat kind, and the expression
    * whose min/max the index records: integral → "l" (Long),
    * timestamp → "l" (exact epoch micros — a seconds-truncated max
    * could wrongly prune the row holding it; NTZ through the writer
    * session's zone), fractional → "d" (Double), string → "s". Other
    * types are not indexed; readers keep their directories.
    */
  def statColumn(dt: DataType, c: Column): Option[(String, Column)] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(("l", c.cast("long")))
    case TimestampType | TimestampNTZType =>
      Some(("l", org.apache.spark.sql.functions.unix_micros(c.cast("timestamp"))))
    case FloatType | DoubleType => Some(("d", c.cast("double")))
    case StringType => Some(("s", c))
    case _ => None
  }

  /** A literal's value in the stat domain, or None for a type the index
    * does not hold. Timestamps go through Spark's own converters: a
    * `java.sql.Timestamp` is hybrid-Julian and rebases to the
    * proleptic-Gregorian micros the stats hold (arithmetic on
    * `getTime` is ten days off before 1582); a TIMESTAMP_NTZ wall time
    * converts through the CURRENT session zone, exact when reader and
    * writer agree on it (the engine pins UTC). Runtime-filter values
    * may arrive as Catalyst `UTF8String`s.
    */
  private def toStat(v: Any): Option[Any] = v match {
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      Some(n.asInstanceOf[Number].longValue)
    case n @ (_: Float | _: Double) => Some(n.asInstanceOf[Number].doubleValue)
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
    case ldt: java.time.LocalDateTime =>
      val zone = DateTimeUtils.getZoneId(SQLConf.get.sessionLocalTimeZone)
      Some(DateTimeUtils.instantToMicros(ldt.atZone(zone).toInstant))
    case _ => None
  }

  private def strict(v: Any): Any = toStat(v).getOrElse(
    throw new IllegalArgumentException("unsupported pruning bound type: " +
      (if (v == null) "null" else v.getClass.getName)))

  /** Stat-domain order — the order Spark's min/max computed the stats
    * in. Strings compare as UNSIGNED UTF-8 bytes (UTF-16 `compareTo`
    * disagrees for supplementary-plane characters); doubles in SQL
    * order (-0.0 = 0.0, NaN largest); mixed numeric kinds compare as
    * Double. String against numeric fails loudly.
    */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (_: String, _) | (_, _: String) => throw new IllegalArgumentException(
      s"cannot compare string and numeric pruning bounds ($a vs $b)")
    case _ => SQLOrderingUtil.compareDoubles(
      a.asInstanceOf[Number].doubleValue, b.asInstanceOf[Number].doubleValue)
  }

  private val order: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = cmp(a, b)
  }

  /** `col IN values` over non-null stat-domain values. */
  private def members(col: String, values: Seq[Any]): Members =
    Members(col, values.distinct.sorted(order).toIndexedSeq)

  // ---- Front ends ---------------------------------------------------

  /** The tuple APIs: inclusive ranges plus null-ness columns. */
  def fromTuples(ranges: Seq[(String, Option[Any], Option[Any])],
                 notNull: Seq[String] = Nil, isNull: Seq[String] = Nil): Seq[Pred] =
    ranges.map { case (c, lo, hi) => Range(c, lo.map(strict), hi.map(strict)) } ++
      notNull.map(NotNull) ++ isNull.map(Null)

  /** The tuple IN API: every non-null value must convert. */
  def fromValues(col: String, values: Seq[Any]): Members =
    members(col, values.filter(_ != null).map(strict))

  /** The v1 `Filter` mapping. Only top-level columns prune (a dotted
    * name is a nested field the index has no entry for); an IN list
    * with an unconvertible non-null member contributes nothing.
    */
  def fromFilters(fs: Seq[sources.Filter]): Seq[Pred] = fs.flatMap(fromFilter)

  def fromFilter(f: sources.Filter): Seq[Pred] = {
    def stat(v: Any)(mk: Any => Pred): Seq[Pred] = toStat(v).map(mk).toSeq
    f match {
      case sources.And(l, r) => fromFilter(l) ++ fromFilter(r)
      case _ if f.references.exists(_.contains(".")) => Nil
      case sources.EqualTo(a, v) => stat(v)(b => Range(a, Some(b), Some(b)))
      case sources.GreaterThan(a, v) => stat(v)(b => Range(a, Some(b), None))
      case sources.GreaterThanOrEqual(a, v) => stat(v)(b => Range(a, Some(b), None))
      case sources.LessThan(a, v) => stat(v)(b => Range(a, None, Some(b)))
      case sources.LessThanOrEqual(a, v) => stat(v)(b => Range(a, None, Some(b)))
      case sources.In(a, vs) =>
        val ms = vs.toSeq.filter(_ != null).map(toStat)
        if (ms.exists(_.isEmpty)) Nil else Seq(members(a, ms.flatten))
      case sources.IsNotNull(a) => Seq(NotNull(a))
      case sources.IsNull(a) => Seq(Null(a))
      case _ => Nil
    }
  }

  /** The Catalyst mapping: `condition` is analyzed against an empty
    * frame of `schema` (driver-side; nothing is listed or read), its
    * no-op casts dropped (IN with a null member casts the column to its
    * own type) and constant-folded so the analyzer's literal-side casts
    * become literals, split into conjuncts and translated one by one (one
    * untranslatable conjunct never discards the others) by Spark's own
    * `translateFilter`. Current-time functions take the command's
    * instant `now`, the one its scans use. A condition that fails
    * analysis yields nothing; the caller's real scan raises the proper
    * error.
    */
  def fromCondition(spark: SparkSession, condition: Column,
                    schema: StructType, now: java.time.Instant): Seq[Pred] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    try {
      val probe = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      val plan = ConstantFolding(SimplifyCasts(ReplaceExpressions(
        GraftSqlBridge.analyzed(GraftSqlBridge.atInstant(probe.filter(condition), now)))))
      val cond = plan.collectFirst { case f: CFilter => f.condition }
      fromFilters(cond.toSeq.flatMap(conjuncts)
        .flatMap(GraftSqlBridge.translateFilter))
    } catch { case NonFatal(_) => Nil }
  }

  // ---- The evaluator ------------------------------------------------

  /** Can a directory with these stats (None: none recorded) hold a row
    * satisfying every predicate? `preds` carry the stats' column names.
    * A column without a stat keeps; an ALL-NULL column matches no
    * bound, no IN and no IS NOT NULL; a zero null count matches no IS
    * NULL. IN is exact membership: the smallest member ≥ min must be ≤
    * max (one binary search).
    */
  private def mayMatch(preds: Seq[(String, Pred)],
                       stats: Option[Map[String, ColStat]]): Boolean =
    preds.forall { case (c, p) =>
      stats.flatMap(_.get(c)).forall { st =>
        val allNull = st.min == null
        p match {
          case Range(_, lo, hi) =>
            if (allNull) lo.isEmpty && hi.isEmpty
            else lo.forall(cmp(st.max, _) >= 0) && hi.forall(cmp(st.min, _) <= 0)
          case Members(_, ms) => !allNull && {
            val i = ms.search(st.min)(order).insertionPoint
            i < ms.length && cmp(ms(i), st.max) <= 0
          }
          case NotNull(_) => !allNull
          case Null(_) => st.nulls != 0L
        }
      }
    }

  /** Split `dirs` into (kept, skipped) under a conjunction of `preds`.
    * `physical` maps a predicate's logical column name to the name the
    * stats are keyed by (stable across renames), once per predicate.
    */
  def partition(preds: Seq[Pred], dirs: Seq[String],
                stats: String => Option[Map[String, ColStat]],
                physical: String => String = identity): (Seq[String], Seq[String]) = {
    val named = preds.map(p => (physical(p.col), p))
    dirs.partition(d => mayMatch(named, stats(d)))
  }
}
