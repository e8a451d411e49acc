package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}

import graft.pipelines.{BronzeSilverPipeline, JoinedSilverPipeline, MonthlyAggPipeline}
import graft.sources.{ColumnarJson, TableManager}

/** The paper's pipeline, one simulated day per operation: E1
  * (Bronze → quality → keep-first → Silver), E3 (two Bronzes → join →
  * keep-first Silver), then E2 (monthly averages over every payload so
  * far), each quality report collected. Day 0, a 30-day backfill, and
  * days 1 and 2 run untimed as the warm-up.
  */
final class Medallion(spark: SparkSession, tr: Tracer, work: String, seed: Long) extends Workload {
  private val BackfillDays = 30
  private val WarmupDays = 3
  private val MaxDays = 200
  private val tables = new TableManager(spark)
  private val staged = s"$work/in/staged"
  private val aqDir = s"$work/in/aq"
  private val wxDir = s"$work/in/wx"
  private var days: IndexedSeq[Day] = IndexedSeq.empty
  private var loaded = 0
  private var sizedBytes = 0L
  private var sizedRows = 0L

  val setupReps = 3
  val Tables = Seq("air_quality_bronze", "air_quality_silver", "aq_bronze", "weather_bronze",
    "air_quality_and_weather_silver", "air_quality_monthly_avg")

  def setup(rep: Int): Unit = {
    Host.deleteRecursively(s"$work/in")
    Seq(staged, aqDir, wxDir).foreach(d => Files.createDirectories(Paths.get(d)))
    days = MedallionGen.days(seed, BackfillDays, MaxDays)
    days.indices.foreach { k =>
      Files.write(Paths.get(f"$staged/aq-$k%04d.json"), days(k).aq.json.getBytes("UTF-8"))
      Files.write(Paths.get(f"$staged/wx-$k%04d.json"), days(k).wx.json.getBytes("UTF-8"))
    }
  }

  private def loadDay(k: Int): Unit = {
    val aq = f"$aqDir/aq-$k%04d.json"
    val wx = f"$wxDir/wx-$k%04d.json"
    Files.copy(Paths.get(f"$staged/aq-$k%04d.json"), Paths.get(aq), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(f"$staged/wx-$k%04d.json"), Paths.get(wx), StandardCopyOption.REPLACE_EXISTING)
    val date = days(k).ingestion.toString
    tr.span("pipelines.BronzeSilverPipeline.run") {
      new BronzeSilverPipeline(spark, tables).run(aq, date).report.collect()
    }
    tr.span("pipelines.JoinedSilverPipeline.run") {
      new JoinedSilverPipeline(spark, tables).run(aq, wx, date).report.collect()
    }
    tr.span("pipelines.MonthlyAggPipeline.run") {
      new MonthlyAggPipeline(spark, tables).run(aqDir).collect()
    }
    loaded = k + 1
  }

  def warmup(): Unit = {
    (0 until WarmupDays).foreach(loadDay)
    // Input size: the day payloads' rows as compact Parquet, once.
    val sample = s"$work/in/sized"
    Seq(("aq", MedallionGen.Pollutants), ("wx", MedallionGen.Weather)).foreach { case (s, ms) =>
      ColumnarJson.read(spark, f"$staged/$s-0002.json", ms).coalesce(1).write.parquet(s"$sample/$s")
    }
    sizedBytes = Host.dirBytes(sample)
    sizedRows = days(2).rows
  }

  def op(i: Int): Op = {
    val k = i + WarmupDays
    require(k < MaxDays, s"medallion generated only $MaxDays days")
    Op("day", write = true, days(k).rows, () => loadDay(k),
      inputBytes = Stats.sizedBytes(days(k).rows, sizedBytes, sizedRows))
  }

  def tableDirs: Seq[String] = Tables.map(t => s"$work/wh/$t")
  def writeCompact(dst: String): Unit =
    Tables.foreach(t => spark.table(t).coalesce(1).write.parquet(s"$dst/$t"))

  // ---- model -------------------------------------------------------
  private type Vals = Seq[Option[Double]]
  private def hours(p: Payload): Seq[(LocalDateTime, Vals)] =
    p.times.indices.map(h => p.times(h) -> p.values.map(_(h)))
  /** Ascending, nulls first: Spark's default sort order. */
  private def lessVals(a: Vals, b: Vals): Boolean =
    a.zip(b).find { case (x, y) => x != y }.exists {
      case (None, _) => true
      case (_, None) => false
      case (Some(x), Some(y)) => x < y
    }
  private def epoch(t: LocalDateTime) = t.toEpochSecond(ZoneOffset.UTC)

  def check(): Seq[String] = {
    val ds = days.take(loaded)
    val aqByHour = ds.flatMap(d => hours(d.aq).map { case (t, v) => (t, d.ingestion, v) }).groupBy(_._1)
    val wxByHour = ds.flatMap(d => hours(d.wx)).groupBy(_._1)

    // E1: keep-first by ingestion_date (unique per hour: one payload per
    // day), then drop rows with any null.
    val e1 = aqByHour.values.map(_.minBy(_._2.toEpochDay))
      .filter(_._3.forall(_.isDefined))
      .map { case (t, d, v) => (epoch(t), d, v) }.toSet

    // E3: inner join on time, keep-first by (aq ingestion_date, pollutants, weather).
    val e3 = aqByHour.flatMap { case (t, aqs) =>
      wxByHour.get(t).toSeq.flatMap { wxs =>
        val cands = for (a <- aqs; w <- wxs) yield (a._2, a._3, w._2)
        Seq(cands.reduce { (x, y) =>
          if (x._1.isBefore(y._1)) x else if (y._1.isBefore(x._1)) y
          else if (lessVals(x._2 ++ x._3, y._2 ++ y._3) || x._2 ++ x._3 == y._2 ++ y._3) x else y
        }).map(c => (epoch(t), c._1, c._2 ++ c._3))
      }
    }.toSet

    // E2: averages over every payload row so far, nulls ignored.
    val monthly = ds.flatMap(d => hours(d.aq)).groupBy(h => (h._1.getYear, h._1.getMonthValue))
      .map { case (ym, hs) =>
        ym -> MedallionGen.Pollutants.indices.map { m =>
          val xs = hs.flatMap(_._2(m))
          if (xs.isEmpty) None else Some(xs.sum / xs.size)
        }
      }

    def vals(r: Row, cols: Seq[String]): Vals =
      cols.map(c => if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c)))
    def key(r: Row) = (r.getAs[java.sql.Timestamp]("time").getTime / 1000,
      r.getAs[java.sql.Date]("ingestion_date").toLocalDate)
    val gotE1 = spark.table("air_quality_silver").collect()
      .map(r => { val (t, d) = key(r); (t, d, vals(r, MedallionGen.Pollutants)) }).toSet
    val gotE3 = spark.table("air_quality_and_weather_silver").collect()
      .map(r => { val (t, d) = key(r); (t, d, vals(r, MedallionGen.Pollutants ++ MedallionGen.Weather)) }).toSet
    val gotE2 = spark.table("air_quality_monthly_avg").collect().map { r =>
      (r.getAs[Int]("year"), r.getAs[Int]("month")) -> vals(r, MedallionGen.Pollutants.map("avg_" + _))
    }.toMap

    def diff[T](name: String, want: Set[T], got: Set[T]): Seq[String] =
      if (want == got) Nil
      else Seq(s"$name: ${want.size} expected rows, ${got.size} got; " +
        s"missing e.g. ${(want -- got).take(2)}, unexpected e.g. ${(got -- want).take(2)}")
    val close = (a: Option[Double], b: Option[Double]) => (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case _ => a == b
    }
    val monthlyBad =
      if (gotE2.keySet != monthly.keySet) Seq(s"monthly groups ${gotE2.keySet} != ${monthly.keySet}")
      else monthly.collect { case (ym, want) if !want.zip(gotE2(ym)).forall(close.tupled) =>
        s"monthly $ym: expected $want got ${gotE2(ym)}" }.toSeq
    diff("air_quality_silver", e1, gotE1) ++
      diff("air_quality_and_weather_silver", e3, gotE3) ++ monthlyBad
  }
}
