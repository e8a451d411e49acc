package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Quality}
import graft.pipelines._
import graft.sources.{ColumnarJson, TableManager}

class PipelinesSpec extends SparkSuite {

  lazy val tables = new TableManager(spark)

  /** The run's observed report and counts equal the scans they replace:
    * [[Quality.report]] over the same input, column by column, and the
    * tables' `count()`.
    */
  private def assertScannedEqual(r: PipelineResult, reportInput: DataFrame, metrics: Seq[String],
                                 bronzeTable: String, silverTable: String): Unit = {
    val want = Quality.report(reportInput, metrics, keys = Seq("time"))
    assert(r.report.schema === want.schema)
    val got = r.report.collect()
    assert(got.length === 1)
    val w = want.collect()(0)
    want.columns.foreach(c => assert(got(0).getAs[Any](c) === w.getAs[Any](c), c))
    assert(r.bronzeRows === spark.table(bronzeTable).count())
    assert(r.silverRows === spark.table(silverTable).count())
  }

  private def assertE1Scanned(r: PipelineResult, bronze: String, silver: String): Unit =
    assertScannedEqual(r, spark.table(bronze), AirQuality.Pollutants, bronze, silver)

  private def assertE3Scanned(r: PipelineResult, aq: String, wx: String, silver: String): Unit =
    assertScannedEqual(r, spark.table(aq).join(spark.table(wx).drop("ingestion_date"), Seq("time")),
      AirQuality.Pollutants ++ AirQuality.WeatherMetrics, aq, silver)

  test("E1 bronze→silver: clean payload keeps all rows") {
    val p = new BronzeSilverPipeline(spark, tables)
    val r = p.run(fixture("aq_clean_768h.json"), "2025-04-02",
      bronzeTable = "e1_bronze", silverTable = "e1_silver")
    assert(r.bronzeRows === 768)
    assert(r.silverRows === 768)
    val rep = r.report.collect()(0)
    assert(rep.getAs[Long]("total_rows") === 768)
    assert(rep.getAs[Long]("duplicate_rows") === 0)
    assertE1Scanned(r, "e1_bronze", "e1_silver")
  }

  test("E1 with nulls: DropIfAnyNull removes rows with any null pollutant") {
    val p = new BronzeSilverPipeline(spark, tables, Quality.DropIfAnyNull)
    val r = p.run(fixture("aq_with_nulls.json"), "2025-04-02",
      bronzeTable = "e1n_bronze", silverTable = "e1n_silver")
    assert(r.bronzeRows === 100)
    assert(r.silverRows === 0) // fixture has an all-null ozone column
    assertE1Scanned(r, "e1n_bronze", "e1n_silver")
  }

  test("E1 with nulls: DropIfAllNull keeps rows with any pollutant present") {
    val p = new BronzeSilverPipeline(spark, tables, Quality.DropIfAllNull)
    val r = p.run(fixture("aq_with_nulls.json"), "2025-04-02",
      bronzeTable = "e1o_bronze", silverTable = "e1o_silver")
    assert(r.silverRows === 100)
    assertE1Scanned(r, "e1o_bronze", "e1o_silver")
  }

  test("E1 idempotent re-ingest: rerunning a date does not duplicate Bronze") {
    val p = new BronzeSilverPipeline(spark, tables, idempotentIngest = true)
    val r1 = p.run(fixture("aq_clean_768h.json"), "2025-04-02",
      bronzeTable = "e1i_bronze", silverTable = "e1i_silver")
    assert(r1.bronzeRows === 768)
    assertE1Scanned(r1, "e1i_bronze", "e1i_silver")
    // same date again → partition replaced, not appended
    val r2 = p.run(fixture("aq_clean_768h.json"), "2025-04-02",
      bronzeTable = "e1i_bronze", silverTable = "e1i_silver")
    assert(r2.bronzeRows === 768)
    assertE1Scanned(r2, "e1i_bronze", "e1i_silver")
    // a different date still accumulates
    val r3 = p.run(fixture("aq_clean_768h.json"), "2025-04-03",
      bronzeTable = "e1i_bronze", silverTable = "e1i_silver")
    assert(r3.bronzeRows === 1536)
    assertE1Scanned(r3, "e1i_bronze", "e1i_silver")
  }

  test("E1 dedup: duplicate timestamps collapse deterministically") {
    val p = new BronzeSilverPipeline(spark, tables, Quality.KeepAll)
    val r = p.run(fixture("aq_dup_ts.json"), "2025-04-02",
      bronzeTable = "e1d_bronze", silverTable = "e1d_silver")
    assert(r.bronzeRows === 60) // 50 + 10 repeated hours
    assert(r.silverRows === 50)
    assertE1Scanned(r, "e1d_bronze", "e1d_silver")
    // deterministic: rerunning the dedup yields identical pm10 sum
    val s1 = spark.table("e1d_silver").agg(sum("pm10")).collect()(0).getDouble(0)
    val p2 = new BronzeSilverPipeline(spark, tables, Quality.KeepAll)
    tables.overwrite(spark.table("e1d_bronze"), "e1d_bronze2")
    val s2 = graft.operators.Dedup.keepFirst(spark.table("e1d_bronze2"), Seq("time"),
        col("ingestion_date") +: AirQuality.Pollutants.map(col))
      .agg(sum("pm10")).collect()(0).getDouble(0)
    assert(s1 === s2)
  }

  test("E2 monthly aggregation: 4416 hours → 6 month groups") {
    val p = new MonthlyAggPipeline(spark, tables)
    val monthly = p.run(fixture("aq_mar_aug_4416h.json"), monthlyTable = "e2_monthly")
    assert(monthly.count() === 6)
    assert(monthly.columns.contains("avg_pm10"))
    val months = monthly.select("month").collect().map(_.getInt(0)).sorted
    assert(months.toSeq === Seq(3, 4, 5, 6, 7, 8))
    // avg of avgs sanity: every avg within the generator's [0,100] range
    val row = monthly.filter(col("month") === 3).collect()(0)
    AirQuality.Pollutants.foreach { m =>
      val v = row.getAs[Double](s"avg_$m")
      assert(v > 0 && v < 100)
    }
  }

  test("E3 join pipeline: aligned payloads join 1:1; mismatch drops rows") {
    val p = new JoinedSilverPipeline(spark, tables)
    val r = p.run(fixture("aq_clean_768h.json"), fixture("wx_clean_768h.json"), "2025-04-02",
      aqBronze = "e3_aq", wxBronze = "e3_wx", silverTable = "e3_silver")
    assert(r.silverRows === 768)
    val silver = spark.table("e3_silver")
    assert(silver.columns.contains("pm10") && silver.columns.contains("temperature_2m"))
    assertE3Scanned(r, "e3_aq", "e3_wx", "e3_silver")

    // mismatched time axes: aq hours 0..49, wx hours 12..61 → 38 overlap
    val r2 = p.run(fixture("aq_dup_ts.json"), fixture("wx_mismatch.json"), "2025-04-03",
      aqBronze = "e3m_aq", wxBronze = "e3m_wx", silverTable = "e3m_silver")
    assert(r2.silverRows === 38)
    assertE3Scanned(r2, "e3m_aq", "e3m_wx", "e3m_silver")

    // nothing joins: the empty Silver write drops its observations, and
    // the figures come from the scans instead
    val r3 = p.run(fixture("aq_empty.json"), fixture("wx_clean_768h.json"), "2025-04-02",
      aqBronze = "e3e_aq", wxBronze = "e3e_wx", silverTable = "e3e_silver")
    assert((r3.bronzeRows, r3.silverRows) === ((0L, 0L)))
    assertE3Scanned(r3, "e3e_aq", "e3e_wx", "e3e_silver")
  }

  test("E1 observed report: a null time is no distinct key, as in countDistinct") {
    // t0 twice, t1 once, two null times: keepFirst keeps one row per
    // key (the nulls group together) → 3 Silver rows, 2 distinct keys.
    val dir = java.nio.file.Files.createTempDirectory("graft-e1-nullkey")
    val path = dir.resolve("aq.json")
    val t0 = "\"2025-03-01T00:00\""
    val t1 = "\"2025-03-01T01:00\""
    val metrics = AirQuality.Pollutants.zipWithIndex.map { case (m, i) =>
      s"\"$m\": [${(1 to 5).map(h => h * 10 + i).mkString(", ")}]" }
    java.nio.file.Files.writeString(path,
      s"""{"hourly": {"time": [$t0, null, $t1, null, $t0], ${metrics.mkString(", ")}}}""")
    val p = new BronzeSilverPipeline(spark, tables, Quality.KeepAll)
    val r = p.run(path.toString, "2025-04-02", bronzeTable = "e1k_bronze", silverTable = "e1k_silver")
    val rep = r.report.collect()(0)
    assert(rep.getAs[Long]("total_rows") === 5)
    assert(rep.getAs[Long]("distinct_keys") === 2)
    assert(rep.getAs[Long]("duplicate_rows") === 3)
    assert(r.silverRows === 3)
    assertE1Scanned(r, "e1k_bronze", "e1k_silver")
  }

  private def bronzeFrame(path: String, metrics: Seq[String], date: String): DataFrame =
    ColumnarJson.read(spark, path, metrics)
      .withColumn("ingestion_date", to_date(lit(date)))
      .select(("time" +: metrics :+ "ingestion_date").map(col): _*)

  /** The run's jobs, the jobs of reading its result afterwards, and the
    * jobs of `writes` (the same writes without observations) — each
    * measured on a second day, over tables the first day created.
    */
  private def budget(run: String => PipelineResult, writes: String => Unit): (Int, Int, Int) = {
    run("2025-04-02"); writes("2025-04-02")
    val (r, runJobs) = countingJobs(run("2025-04-03"))
    val (_, readJobs) = countingJobs((r.report.collect(), r.bronzeRows, r.silverRows))
    val (_, writeJobs) = countingJobs(writes("2025-04-03"))
    (runJobs, readJobs, writeJobs)
  }

  test("E1 job budget: the report and counts ride the Bronze and Silver writes") {
    import AirQuality.Pollutants
    val src = fixture("aq_dup_ts.json")
    val p = new BronzeSilverPipeline(spark, tables)
    val (runJobs, readJobs, writeJobs) = budget(
      p.run(src, _, bronzeTable = "e1j_bronze", silverTable = "e1j_silver"),
      { date =>
        tables.append(bronzeFrame(src, Pollutants, date), "e1w_bronze",
          partitionBy = Seq("ingestion_date"))
        tables.overwrite(Quality.clean(Dedup.keepFirst(spark.table("e1w_bronze"), Seq("time"),
            col("ingestion_date") +: Pollutants.map(col)), Pollutants, Quality.DropIfAnyNull),
          "e1w_silver", partitionBy = Seq("ingestion_date"))
      })
    assert(readJobs === 0)
    assert(runJobs <= writeJobs)
    assert((runJobs, writeJobs) === ((5, 5)))
  }

  test("E3 job budget: the report and counts ride the two appends and the Silver write") {
    import AirQuality.{Pollutants, WeatherMetrics}
    val (aqSrc, wxSrc) = (fixture("aq_dup_ts.json"), fixture("wx_mismatch.json"))
    val p = new JoinedSilverPipeline(spark, tables)
    val metrics = Pollutants ++ WeatherMetrics
    val (runJobs, readJobs, writeJobs) = budget(
      p.run(aqSrc, wxSrc, _, aqBronze = "e3j_aq", wxBronze = "e3j_wx", silverTable = "e3j_silver"),
      { date =>
        tables.append(bronzeFrame(aqSrc, Pollutants, date), "e3w_aq", partitionBy = Seq("ingestion_date"))
        tables.append(bronzeFrame(wxSrc, WeatherMetrics, date), "e3w_wx", partitionBy = Seq("ingestion_date"))
        val joined = spark.table("e3w_aq").join(spark.table("e3w_wx").drop("ingestion_date"), Seq("time"))
        tables.overwrite(Dedup.keepFirst(joined, Seq("time"), col("ingestion_date") +: metrics.map(col)),
          "e3w_silver", partitionBy = Seq("ingestion_date"))
      })
    assert(readJobs === 0)
    assert(runJobs <= writeJobs)
    assert((runJobs, writeJobs) === ((9, 9)))
  }

  test("E4 training pipeline: every stage filters and the export roundtrips") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val en = "the cat sat on the mat and that is fine for a test with words"
    val docs = Seq(
      (1L, "s0", en + " one"),
      (2L, "s0", en + " one"),                      // exact dup of 1 → dropped
      (3L, "s0", "der hund ist nicht mit von zu"),  // non-en → dropped
      (4L, "s0", en + " two two two"),
      (5L, "s1", en + " three")).toDF("doc_id", "source", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-e4-test").toString
    val r = new graft.pipelines.TrainingDataPipeline(spark)
      .run(docs, keepLang = "en",
        budgets = Map("s0" -> 1000L, "s1" -> 1000L),
        seqLen = 8, exportPath = out, shards = 2)
      .collect()
    val ids = r.map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 4L, 5L))           // 2 deduped, 3 lang-gated
    // Roundtripped text hashes equal the source rows'.
    val wantMd5 = docs.filter(col("doc_id").isin(1L, 4L, 5L))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("m"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    r.foreach(x => assert(x.getAs[String]("text_md5") === wantMd5(x.getLong(0))))
    // Offsets tile the packed stream: sorted begin_off + n_tokens chain.
    val spans = r.map(x =>
      (x.getAs[Long]("begin_off"), x.getAs[Long]("n_tokens"))).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((b1, n1), (b2, _)) => assert(b1 + n1 === b2)
      case _ =>
    }
    assert(spans.head._1 === 0L)
  }
}
