package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, SparkSession => CSparkSession}

/** Minimal `private[sql]` bridge: turn a hand-built logical plan into a
  * DataFrame. This is the standard extension-library shim (every Spark
  * connector that injects custom logical operators ships one) — the
  * constructor `Dataset.ofRows` is package-private, and the supported
  * alternative (parser extension + SQL syntax) would be far more
  * machinery for the same plan node.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A Column over a hand-built expression, and back. */
  def column(e: catalyst.expressions.Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): catalyst.expressions.Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan of `df` (for building new plan nodes on
    * top of already-resolved children).
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataFrame].queryExecution.analyzed

  /** `df` with every current-time expression evaluated at `now`: the
    * substitution Spark's `ComputeCurrentTime` makes once per query,
    * made once per command, so the several jobs of one command see one
    * instant. `df` itself when its plan has no current-time expression.
    */
  def atInstant(df: DataFrame, now: java.time.Instant): DataFrame = {
    import catalyst.expressions._, catalyst.util.DateTimeUtils._, types._
    val plan = analyzed(df)
    val current: catalyst.trees.TreePatternBits => Boolean =
      _.containsPattern(catalyst.trees.TreePattern.CURRENT_LIKE)
    if (!current(plan)) return df
    val micros = instantToMicros(now)
    val zone = df.sparkSession.conf.get("spark.sql.session.timeZone")
    ofRows(df.sparkSession, plan.transformDownWithSubqueriesAndPruning(current) { case p =>
      p.transformExpressionsWithPruning(current) {
        case _: CurrentTimestamp | _: Now => Literal.create(micros, TimestampType)
        case d: CurrentDate => Literal.create(microsToDays(micros, d.zoneId), DateType)
        case t: LocalTimestamp => Literal.create(
          localDateTimeToMicros(java.time.LocalDateTime.ofInstant(now, t.zoneId)), TimestampNTZType)
        case t: CurrentTime => Literal.create(truncateTimeToPrecision(
          instantToNanosOfDay(now, zone), t.precision), TimeType(t.precision))
        case _: CurrentTimeZone => Literal.create(zone, StringType)
      }
    })
  }

  /** Wait for a write-fused observation's metrics. The listener bus
    * delivers them asynchronously, so the common case is a handful of
    * milliseconds after the write action returns. None means they will
    * not come: the bound passed (the bus dropped the event, or the
    * query never ran), or Spark completed the observation with an
    * empty row because the observed node left the final plan (AQE
    * replaces a stage that produced no rows by an empty relation when
    * an operator above it, such as a partitioned write's sort, consumes
    * nothing). The caller then recomputes the figures with a scan of
    * its own rather than hang in the unbounded `Observation.get`.
    */
  def awaitObserved(obs: Observation, maxWaitMs: Long = 30000L): Option[Map[String, Any]] =
    scala.util.Try(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(maxWaitMs, "ms")))
      .toOption.filter(_.schema != null)
      .map(r => r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq))

  /** Spark's own Catalyst → v1 `Filter` translation of one predicate
    * (top-level columns only), the one the v1 pushdown path uses.
    */
  def translateFilter(e: catalyst.expressions.Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)

  /** The planner strategies an extensions object would inject — lets a
    * test assert the `spark.sql.extensions` wiring without building a
    * second SparkSession (the builder reuses the active one).
    */
  def plannerStrategies(e: SparkSessionExtensions,
                        spark: SparkSession): Seq[execution.SparkStrategy] =
    e.buildPlannerStrategies(spark.asInstanceOf[CSparkSession])
}
