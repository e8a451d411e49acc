package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime,
  CurrentTimeZone, CurrentTimestamp, LocalTimestamp, Now}
import org.apache.spark.sql.functions._
import graft.sources.{MergeAction, MergeClause, VersionedTable}

/** One instant per DML command: every Spark job a delete, update or
  * merge runs evaluates current-time functions at the same instant. A
  * current-time condition then cuts the rows once, an assigned current
  * time is one value, and the change data agrees with the table. Each
  * table holds 100,000 rows; row `k` expires `k` ms after the table was
  * written, so a command whose jobs each took their own "now" would see
  * more rows expired in every later job.
  */
class CommandInstantSpec extends SparkSuite {
  import spark.implicits._

  private val n = 100000L

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_instant").toString

  private def table(dir: String = tmpVt()): VersionedTable = {
    val vt = new VersionedTable(spark, dir)
    val base = System.currentTimeMillis()
    vt.append(spark.range(0, n, 1, 2).select(col("id").as("k"),
      timestamp_millis(col("id") + lit(base)).as("expires"),
      lit("live").as("state"), lit(null).cast("timestamp").as("ts")))
    vt
  }

  /** The change data of version `v`, replayed onto version `v - 1`,
    * gives the table at `v`: the feed records exactly what happened.
    */
  private def assertReplays(vt: VersionedTable, v: Int, ctx: String): Unit = {
    val cols = vt.readAt(v).columns.toSeq.map(col)
    val ch = vt.changes(v, v)
    def of(types: String*): DataFrame =
      ch.filter(col("_change_type").isin(types: _*)).select(cols: _*)
    val replayed = vt.readAt(v - 1).exceptAll(of("delete", "update_preimage"))
      .unionByName(of("insert", "update_postimage"))
    val table = vt.readAt(v)
    assert(replayed.exceptAll(table).isEmpty && table.exceptAll(replayed).isEmpty,
      s"$ctx: the change data replayed onto the parent gives ${replayed.count()} rows " +
        s"(${of("delete", "update_preimage").count()} removed), the table has ${table.count()}")
  }

  /** Updated rows: every expired key sits below every live one, no row is
    * lost or doubled, all updated rows carry one `ts`, and that instant is
    * the one the condition cut at.
    */
  private def assertOneCut(vt: VersionedTable, ctx: String): Unit = {
    val rows = vt.read().select("k", "state", "expires", "ts").collect()
    assert(rows.map(_.getLong(0)).distinct.length === n, ctx)
    val (expired, live) = rows.partition(_.getString(1) == "expired")
    assert(expired.nonEmpty && live.nonEmpty, ctx)
    assert(expired.map(_.getLong(0)).max < live.map(_.getLong(0)).min, s"$ctx: more than one cut")
    val stamps = expired.map(_.getTimestamp(3)).distinct
    assert(stamps.length === 1, s"$ctx: ${stamps.length} assigned instants")
    assert(expired.forall(_.getTimestamp(2).before(stamps.head)), ctx)
    assert(live.forall(!_.getTimestamp(2).before(stamps.head)), ctx)
  }

  test("delete: a current-time condition cuts once and the change data replays to the table") {
    for (dv <- Seq(false, true)) {
      val vt = table()
      val v = vt.delete(col("expires") < current_timestamp(), writeChangeData = true,
        useDeletionVectors = dv)
      val ctx = s"dv=$dv"
      assert(vt.history().filter(col("version") === v).head.getString(1) ===
        (if (dv) "delete-dv" else "delete"), ctx)
      val left = vt.read().select("k").as[Long].collect()
      val cut = left.min
      assert(cut > 0L && left.distinct.length === n - cut, s"$ctx: more than one cut")
      assertReplays(vt, v, ctx)
    }
  }

  test("update: a current-time condition and assignment see one instant") {
    for (dv <- Seq(false, true)) {
      val vt = table()
      val v = vt.update(col("expires") < current_timestamp(),
        Map("state" -> lit("expired"), "ts" -> current_timestamp()),
        writeChangeData = true, useDeletionVectors = dv)
      val ctx = s"dv=$dv"
      assert(vt.history().filter(col("version") === v).head.getString(1) ===
        (if (dv) "update-dv" else "update"), ctx)
      assertOneCut(vt, ctx)
      assertReplays(vt, v, ctx)
    }
  }

  test("mergeClauses: a current-time clause condition and assignment see one instant") {
    for (dv <- Seq(false, true)) {
      val vt = table()
      val v = vt.mergeClauses(spark.range(0, n, 1, 2).select(col("id").as("k")), Seq("k"),
        matched = Seq(MergeClause(Some(col("t.expires") < current_timestamp()),
          MergeAction.Update(Some(Map("state" -> lit("expired"), "ts" -> current_timestamp()))))),
        notMatched = Nil, writeChangeData = true, useDeletionVectors = dv)
      val ctx = s"dv=$dv"
      assert(vt.history().filter(col("version") === v).head.getString(1) ===
        (if (dv) "merge-dv" else "merge"), ctx)
      assertOneCut(vt, ctx)
      assertReplays(vt, v, ctx)
    }
  }

  test("SQL MERGE ... UPDATE SET t.ts = current_timestamp(): table rows equal the change data") {
    val dir = tmpVt()
    val vt = table(dir)
    vt.setProperties(Map("graft.deletionVectors" -> "true")) // its CDC is always written
    (0L until 1000L).toDF("k").createOrReplaceTempView("instant_src")
    spark.sql(s"""MERGE INTO '$dir' AS t USING instant_src AS s ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET t.ts = current_timestamp()""".stripMargin)
    val v = vt.latestVersion
    assert(vt.history().filter(col("version") === v).head.getString(1) === "merge-dv")
    val written = vt.read().filter(col("ts").isNotNull).select("k", "ts")
    val post = vt.changes(v, v).filter(col("_change_type") === "update_postimage")
      .select("k", "ts")
    assert(written.count() === 1000L)
    assert(written.select("ts").distinct().count() === 1L)
    assert(written.exceptAll(post).isEmpty && post.exceptAll(written).isEmpty,
      "table rows and change data differ")
  }

  test("atInstant replaces every current-time expression by the instant's literal") {
    val now = java.time.Instant.parse("2024-02-29T23:30:00.123456Z")
    val df = spark.sql("SELECT current_timestamp() AS a, now() AS b, current_date() AS c, " +
      "localtimestamp() AS d, current_timezone() AS e, " +
      "(SELECT max(current_timestamp()) FROM range(2)) AS f, CAST(current_time() AS STRING) AS g")
    val pinned = GraftSqlBridge.atInstant(df, now)
    val plan = GraftSqlBridge.analyzed(pinned)
    val left = (plan +: plan.subqueriesAll).flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: CurrentTimestamp | _: Now | _: CurrentDate | _: LocalTimestamp |
                _: CurrentTime | _: CurrentTimeZone) => e
    }))
    assert(left.isEmpty, left.mkString(", "))
    val r = pinned.head()
    val ts = java.sql.Timestamp.from(now)
    assert(r.getTimestamp(0) === ts && r.getTimestamp(1) === ts && r.getTimestamp(5) === ts)
    assert(r.getDate(2).toString === "2024-02-29")
    assert(r.getAs[java.time.LocalDateTime](3) ===
      java.time.LocalDateTime.parse("2024-02-29T23:30:00.123456"))
    assert(r.getString(4) === "UTC")
    assert(r.getString(6) === "23:30:00.123456")
    // a frame without current-time functions is returned as it is
    val plain = spark.range(3).toDF()
    assert(GraftSqlBridge.atInstant(plain, now) eq plain)
  }
}
