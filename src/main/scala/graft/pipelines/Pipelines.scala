package graft.pipelines

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Joins, Quality, TimeAgg}
import graft.sources.{ColumnarJson, TableManager}

/** The three reference pipelines (SURVEY §3), re-expressed Spark-first.
  *
  * Differences from the reference, by design (SURVEY §4.3):
  *  - flattening happens on executors (ColumnarJson), not the driver;
  *  - the quality report and the row counts have no job of their own,
  *    not ~15 count() actions: they are observed on the Silver write
  *    (Quality.keepFirstReported) and describe the run that made them;
  *  - keep-first dedup is deterministic (explicit ordering);
  *  - the clean-row policy is an explicit parameter, not an accident
  *    of which LLM wrote the script.
  */
object AirQuality {
  val Pollutants = Seq("pm10", "pm2_5", "carbon_monoxide", "carbon_dioxide",
    "nitrogen_dioxide", "sulphur_dioxide", "ozone")
  val WeatherMetrics = Seq("temperature_2m", "relative_humidity_2m", "dew_point_2m",
    "apparent_temperature", "precipitation_probability", "rain", "wind_speed_10m")
}

/** Result bundle for a pipeline run: target row counts + the quality
  * report the reference prints (null counts, dup counts, retention).
  * `report` is a one-row local frame with [[Quality.report]]'s schema:
  * collecting it launches no job.
  */
case class PipelineResult(bronzeRows: Long, silverRows: Long, report: DataFrame)

private[pipelines] object RunMetrics {
  private lazy val log = org.apache.log4j.Logger.getLogger(getClass)

  /** `df` with its row count observed by whichever action runs it. */
  def counted(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"graft_rows_${java.util.UUID.randomUUID().toString.take(8)}")
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  /** The result from the Silver write's observations. `bronze` is the
    * observed Bronze input and the table it counts; None means Bronze is
    * the report's whole input, so its row count is `total_rows`. Should
    * the metrics not arrive, log a WARN and compute the same figures
    * with scans of their own (the report job plus counts).
    */
  def result(spark: SparkSession, pipeline: String, report: Quality.ObservedReport,
             silverRows: Observation, silverTable: String,
             bronze: Option[(Observation, DataFrame)] = None): PipelineResult = {
    def rows(obs: Observation) =
      GraftSqlBridge.awaitObserved(obs).map(_("rows").asInstanceOf[Long])
    val observed = for {
      rep <- report.await()
      b <- bronze.fold(Option(rep.getAs[Long]("total_rows")))(b => rows(b._1))
      s <- rows(silverRows)
    } yield (rep, b, s)
    val (rep, b, s) = observed.getOrElse {
      log.warn(s"$pipeline: the Silver write's metrics did not arrive (an empty " +
        "Silver write drops them); recomputing the quality report and row counts " +
        "with scans of their own")
      val rep = report.scan()
      (rep, bronze.fold(rep.getAs[Long]("total_rows"))(_._2.count()),
        spark.table(silverTable).count())
    }
    PipelineResult(b, s,
      spark.createDataFrame(java.util.Collections.singletonList(rep), report.schema))
  }
}

/** E1: ingest → Bronze (partitioned append) → quality → dedup/clean →
  * Silver. Canonical reference flow: `First experiment/GPT 5.py:70-172`.
  */
class BronzeSilverPipeline(spark: SparkSession, tables: TableManager,
                           cleanPolicy: Quality.CleanPolicy = Quality.DropIfAnyNull,
                           idempotentIngest: Boolean = false) {
  import AirQuality._

  def run(sourcePath: String, ingestionDate: String,
          bronzeTable: String = "air_quality_bronze",
          silverTable: String = "air_quality_silver"): PipelineResult = {
    val hourly = ColumnarJson.read(spark, sourcePath, Pollutants)
      .withColumn("ingestion_date", to_date(lit(ingestionDate)))
      .select(("time" +: Pollutants :+ "ingestion_date").map(col): _*)

    // Reference semantics = blind append (re-running a cell duplicates
    // Bronze); idempotentIngest replaces just this date's partition.
    if (idempotentIngest)
      tables.overwritePartitions(hourly, bronzeTable, partitionBy = Seq("ingestion_date"))
    else
      tables.append(hourly, bronzeTable, partitionBy = Seq("ingestion_date"))

    val bronze = spark.table(bronzeTable)
    val (firsts, report) = Quality.keepFirstReported(bronze, Pollutants, keys = Seq("time"),
      col("ingestion_date") +: Pollutants.map(col))
    val (silver, silverRows) = RunMetrics.counted(Quality.clean(firsts, Pollutants, cleanPolicy))
    tables.overwrite(silver, silverTable, partitionBy = Seq("ingestion_date"))

    RunMetrics.result(spark, "BronzeSilverPipeline", report, silverRows, silverTable)
  }
}

/** E2: ingest → (year, month) multi-avg → monthly table. Canonical:
  * `Second Experiment/Qwen3-235B-A22B-2507.py:125-163`.
  */
class MonthlyAggPipeline(spark: SparkSession, tables: TableManager) {
  import AirQuality._

  def run(sourcePath: String, monthlyTable: String = "air_quality_monthly_avg"): DataFrame = {
    val hourly = ColumnarJson.read(spark, sourcePath, Pollutants)
    // One row per month: a single sorted partition, not a global sort
    // (whose range partitioning runs a sampling job every call).
    val monthly = TimeAgg.monthlyAvg(hourly, "time", Pollutants)
      .coalesce(1).sortWithinPartitions(col("year"), col("month"))
    tables.overwrite(monthly, monthlyTable)
    spark.table(monthlyTable)
  }
}

/** E3: dual ingest → two Bronzes → inner join on time → quality →
  * dedup → merged Silver. Canonical: `Third Experiment/GPT 5.py:139-261`.
  */
class JoinedSilverPipeline(spark: SparkSession, tables: TableManager) {
  import AirQuality._

  def run(aqPath: String, wxPath: String, ingestionDate: String,
          aqBronze: String = "aq_bronze", wxBronze: String = "weather_bronze",
          silverTable: String = "air_quality_and_weather_silver"): PipelineResult = {
    def load(path: String, metrics: Seq[String]) =
      ColumnarJson.read(spark, path, metrics)
        .withColumn("ingestion_date", to_date(lit(ingestionDate)))
        .select(("time" +: metrics :+ "ingestion_date").map(col): _*)

    val aq = load(aqPath, Pollutants)
    val wx = load(wxPath, WeatherMetrics)
    tables.append(aq, aqBronze, partitionBy = Seq("ingestion_date"))
    tables.append(wx, wxBronze, partitionBy = Seq("ingestion_date"))

    // J4 disambiguation: keep one ingestion_date, drop the other side's.
    // The join reads all of aq Bronze: its row count is observed there.
    val (aqIn, aqRows) = RunMetrics.counted(spark.table(aqBronze))
    val joined = Joins.equi(aqIn, spark.table(wxBronze).drop("ingestion_date"), keys = Seq("time"))

    val metrics = Pollutants ++ WeatherMetrics
    val (firsts, report) = Quality.keepFirstReported(joined, metrics, keys = Seq("time"),
      col("ingestion_date") +: metrics.map(col))
    val (silver, silverRows) = RunMetrics.counted(firsts)
    tables.overwrite(silver, silverTable, partitionBy = Seq("ingestion_date"))

    RunMetrics.result(spark, "JoinedSilverPipeline", report, silverRows, silverTable,
      Some((aqRows, spark.table(aqBronze))))
  }
}

/** E4 — the training-data pipeline this engine ADDS on top of the
  * reference's E1–E3: the compose a pretraining-data run actually
  * ships. corpus → exact dedup (deterministic keep-first) →
  * language gate on the COMPUTED lang id (metadata lies; the router
  * decides) → per-source token-budget mixture (deterministic md5
  * admission) → sequence packing over the SURVIVORS → sharded JSONL
  * export — and the returned manifest is the EXPORT read back through
  * the quarantine parser joined to the packing offsets, so the gate
  * pins the full stage composition AND the roundtrip, not the stages
  * in isolation (each is separately oracle-gated already).
  *
  * Scale shape: every stage is the already-audited operator — keeper
  * sets and admission ranks flow as id-frames (text shuffles only
  * into the export write), no driver materialization anywhere.
  */
class TrainingDataPipeline(spark: SparkSession) {
  import graft.functions.TextFunctions
  import graft.operators.{Packing, Sampling}
  import graft.sources.Jsonl

  def run(docs: DataFrame, keepLang: String, budgets: Map[String, Long],
          seqLen: Long, exportPath: String, shards: Int): DataFrame = {
    // 1. Exact dedup, keep-first: min id per identical normalized text.
    val keepers = docs
      .groupBy(TextFunctions.fingerprint(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d1 = docs.join(keepers, Seq("doc_id"), "left_semi")
    // 2. Language gate (computed, not metadata).
    val d2 = d1.filter(TextFunctions.langId(col("text")) === keepLang)
    // 3. Per-source token budgets, deterministic admission.
    val sampled = Sampling.tokenBudgetSample(d2, "source", "doc_id", "text", budgets)
    val d3 = d2.join(sampled.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // 4. Export the survivors as sharded JSONL — the ONE action that
    //    executes the dedup→langid→budget chain.
    Jsonl.writeSharded(d3.select(col("doc_id"), col("text"), col("source")),
      exportPath, "doc_id", shards)
    // 5. Pack and build the manifest FROM THE EXPORT: the read-back is
    //    the durable copy of the survivors, so the packing offsets and
    //    the manifest derive from cheap file reads — evaluating the
    //    returned (lazy) frame re-reads the export, never re-runs the
    //    hygiene chain. (Same offsets by construction: identical docs,
    //    identical md5-of-id packing order.)
    val back = Jsonl.readSharded(spark, exportPath,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, source STRING"))
      .filter(col(Jsonl.CorruptCol).isNull)
    val packed = Packing.packSequences(back, "doc_id", "text", seqLen)
    back.select(col("doc_id"), col("source"), col("shard"),
        md5(col("text").cast("binary")).as("text_md5"))
      .join(packed.select(col("doc_id"), col("n_tokens"),
        col("begin_off"), col("seq_first")), Seq("doc_id"))
  }
}
