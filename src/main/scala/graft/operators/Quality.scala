package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-quality operators (SURVEY.md §2.2 P7–P14, §2.4 A1/A7–A9/A13).
  *
  * The reference computes null counts with one `filter(isNull).count()`
  * job per column (`First experiment/GPT 5.py:124-126`) — an O(columns)
  * scan pattern that is fatal at scale. Everything here is the one-pass
  * aggregate-vector form the best reference variants already use
  * (`Third Experiment/GPT 5.py:210-212`), so a quality report over N
  * columns costs exactly one scan regardless of N.
  */
object Quality {

  /** One row, one column per input column, value = # of nulls.
    * Single scan; map-side partial aggregation; no shuffle of data rows.
    */
  def nullCountVector(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => sum(col(c).isNull.cast("long")).as(c)): _*)

  /** Null-or-NaN variant for double columns (P12). */
  def nullOrNanCountVector(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map { c =>
      val cc = col(c)
      sum((cc.isNull || isnan(cc)).cast("long")).as(c)
    }: _*)

  /** Keys occurring more than once, with their multiplicities (A1).
    * Partial-aggregates map-side, shuffles only (key, count) pairs.
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Row-drop policy for the clean (Silver) filter. The reference's 21
    * scripts disagree on semantics (SURVEY §4.3.6); we expose all three.
    */
  sealed trait CleanPolicy
  /** Drop a row if ANY of the columns is null (strictest — AND of isNotNull). */
  case object DropIfAnyNull extends CleanPolicy
  /** Drop a row only if ALL of the columns are null (OR of isNotNull). */
  case object DropIfAllNull extends CleanPolicy
  /** Keep everything. */
  case object KeepAll extends CleanPolicy

  def cleanFilter(cols: Seq[String], policy: CleanPolicy): Column = policy match {
    case DropIfAnyNull => cols.map(col(_).isNotNull).reduce(_ && _)
    case DropIfAllNull => cols.map(col(_).isNotNull).reduce(_ || _)
    case KeepAll       => lit(true)
  }

  def clean(df: DataFrame, cols: Seq[String], policy: CleanPolicy): DataFrame =
    df.filter(cleanFilter(cols, policy))

  private def nullAggs(metricCols: Seq[String]): Seq[Column] =
    metricCols.map(c => sum(col(c).isNull.cast("long")).as(s"nulls_$c"))

  /** Full quality report in ONE job (vs the reference's ~15 actions,
    * SURVEY §4.3.2): total rows, per-column null counts, duplicate-key
    * count, and completeness ratio per column. A pipeline that dedups
    * and writes anyway takes [[keepFirstReported]] instead: the same
    * row, observed on that write, with no job of its own.
    */
  def report(df: DataFrame, metricCols: Seq[String], keys: Seq[String]): DataFrame = {
    val dupAgg = countDistinct(col(keys.head), keys.tail.map(col): _*).as("distinct_keys")
    df.agg(count(lit(1)).as("total_rows"), (nullAggs(metricCols) :+ dupAgg): _*)
      .withColumn("duplicate_rows", col("total_rows") - col("distinct_keys"))
  }

  /** [[Dedup.keepFirst]] with the [[report]] of its input riding along
    * as `Dataset.observe` metrics: whichever action runs the returned
    * frame (a pipeline's Silver write) also fills the report, so the
    * report costs no scan of its own.
    *
    *  - `total_rows` and `nulls_<c>` are observed on `df`, below the
    *    window's shuffle;
    *  - `distinct_keys` is observed on keepFirst's output as the count
    *    of rows whose keys are all non-null: keepFirst leaves exactly
    *    one row per key (null keys group together), so this equals
    *    `countDistinct(keys)`, which ignores null keys — and DISTINCT
    *    aggregates are not allowed inside `observe`;
    *  - `duplicate_rows` is derived from the two, as in [[report]].
    *
    * The aggregates run as accumulators in shuffle-map stages (the
    * window's, and the write's own partitioning shuffle above it), so
    * they carry the caveat of Spark's SQL metrics: a stage re-executed
    * after a lost shuffle may count its re-run tasks twice.
    */
  def keepFirstReported(df: DataFrame, metricCols: Seq[String], keys: Seq[String],
                        order: Seq[Column]): (DataFrame, ObservedReport) = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val in = Observation(s"graft_quality_in_$id")
    val out = Observation(s"graft_quality_out_$id")
    val firsts = Dedup.keepFirst(
        df.observe(in, count(lit(1)).as("total_rows"), nullAggs(metricCols): _*), keys, order)
      .observe(out, count_if(keys.map(col(_).isNotNull).reduce(_ && _)).as("distinct_keys"))
    (firsts, new ObservedReport(df, metricCols, keys, in, out))
  }

  /** The pending report of [[keepFirstReported]]. `schema` is exactly
    * [[report]]'s (analysis only, no job).
    */
  final class ObservedReport private[Quality] (input: DataFrame, metricCols: Seq[String],
                                               keys: Seq[String], in: Observation,
                                               out: Observation) {
    private val scanned = report(input, metricCols, keys)
    val schema: StructType = scanned.schema

    /** The report row once the observing action's metrics arrived, or
      * None if they will not (see [[GraftSqlBridge.awaitObserved]]).
      */
    def await(): Option[Row] =
      for {
        i <- GraftSqlBridge.awaitObserved(in)
        o <- GraftSqlBridge.awaitObserved(out)
      } yield {
        val m = i ++ o + ("duplicate_rows" ->
          (i("total_rows").asInstanceOf[Long] - o("distinct_keys").asInstanceOf[Long]))
        new GenericRowWithSchema(schema.fieldNames.map(m), schema)
      }

    /** The same row from [[report]]: a job of its own over the input. */
    def scan(): Row = scanned.collect()(0)
  }

  /** Per-group z-score outliers: rows whose |value − μ_group| exceeds
    * `threshold` sample standard deviations. The standard two-pass
    * anomaly filter (metric spikes, corrupt-value detection) every
    * event pipeline needs before aggregating.
    *
    * Scale shape: pass 1 collapses to one (μ, σ) row PER GROUP — a
    * partial-aggregable groupBy whose output is #groups rows. The join
    * back carries no hint: #groups is small for type-like keys (AQE
    * measures the built side and broadcasts) but NOT bounded for
    * user-like keys, where a forced broadcast would be the exact
    * anti-pattern removeBoilerplate shed — AQE picks per-run. Pass 2
    * is a filter over the original rows. Groups with σ = 0 or a
    * single row yield no outliers by definition (null/zero σ compares
    * false, matching SQL semantics).
    */
  def zscoreOutliers(df: DataFrame, groupCol: String, valCol: String,
                     threshold: Double): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valCol)).as("__mu"), stddev_samp(col(valCol)).as("__sd"))
    df.join(stats, groupCol)
      // try_divide: σ = 0 → null zscore → filtered, instead of the
      // ANSI DIVIDE_BY_ZERO error a constant group would otherwise throw.
      .withColumn("zscore", try_divide(col(valCol) - col("__mu"), col("__sd")))
      .filter(abs(col("zscore")) > threshold)
      .drop("__mu", "__sd")
  }
}
