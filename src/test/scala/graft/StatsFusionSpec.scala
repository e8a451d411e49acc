package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Pins the write-fused commit statistics (stats/constraint aggregates
  * riding the payload write via Dataset.observe, and the grouped
  * one-job stats for multi-directory writes) to the exact values the
  * historical read-back scan recorded: hand-computed bounds, null
  * counts, metadata row counts, partition-tuple pruning, CHECK
  * violation aborts, and optimize-chunk stats. A drift in any of these
  * would silently mis-prune data-skipping reads — these assertions are
  * the contract the fusion must preserve.
  */
class StatsFusionSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_statsfusion").toString

  test("awaitObserved: a query that never runs yields None within the bound") {
    import org.apache.spark.sql.{GraftSqlBridge, Observation}
    val never = Observation("graft_await_never")
    spark.range(3).observe(never, count(lit(1)).as("n")) // never executed
    val t0 = System.nanoTime()
    assert(GraftSqlBridge.awaitObserved(never, maxWaitMs = 200L).isEmpty)
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(waitedMs >= 200L && waitedMs < 5000L, s"waited $waitedMs ms")
    // the same wait returns the metrics once the observed query runs
    val ran = Observation("graft_await_ran")
    spark.range(3).observe(ran, count(lit(1)).as("n")).collect()
    assert(GraftSqlBridge.awaitObserved(ran, maxWaitMs = 30000L) === Some(Map("n" -> 3L)))
  }

  test("observe-fused append records exact bounds, null counts, and row counts across types") {
    val dir = freshDir()
    val vt = new VersionedTable(spark, dir)
    val df = spark.range(0, 100)
      .select(
        col("id"),
        when(col("id") % 10 === 0, lit(null)).otherwise(col("id") * 1.5).as("price"),
        concat(lit("s"), lpad(col("id").cast("string"), 3, "0")).as("name"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
        lit(null).cast("long").as("alln"))
    vt.append(df)

    assert(vt.fastCount() === Some(100L))
    assert(vt.statRange("id") === Some((0L, 99L)))
    // nulls excluded from bounds: min non-null price is 1*1.5
    assert(vt.statRange("price") === Some((1.5, 148.5)))
    assert(vt.statRange("name") === Some(("s000", "s099")))
    // timestamps record exact epoch micros
    assert(vt.statRange("ts") ===
      Some((1700000000000000L, 1700000000000000L + 99L * 1000000L)))
    // an all-null column records explicit (null, null) — statRange has
    // no exact answer, and a range predicate over it prunes the dir
    assert(vt.statRange("alln") === None)
    val (keptNull, _) = vt.pruneActive("alln", Some(0L), Some(10L))
    assert(keptNull.isEmpty)
    // bounds drive pruning: a disjoint range keeps nothing
    val (keptLo, _) = vt.pruneActive("id", Some(500L), None)
    assert(keptLo.isEmpty)
    val (keptHit, _) = vt.pruneActive("id", Some(50L), Some(60L))
    assert(keptHit === vt.activeDirs())
  }

  test("CHECK violation counts ride the fused write and abort before publish") {
    val dir = freshDir()
    val vt = new VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    vt.addConstraint("v_pos", "v > 0")
    val bad = intercept[IllegalArgumentException] {
      vt.append(Seq((3L, -5.0), (4L, 30.0)).toDF("k", "v"))
    }
    assert(bad.getMessage.contains("v_pos"))
    assert(bad.getMessage.contains("1 row(s)"))
    // the aborted payload left no directory behind and the table is intact
    assert(vt.fastCount() === Some(2L))
    val stray = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
    assert(stray.length === vt.activeDirs().size)
    // a NULL constraint result passes (SQL semantics), so nullable rows append
    vt.append(Seq((5L, Option.empty[java.lang.Double])).toDF("k", "v"))
    assert(vt.fastCount() === Some(3L))
  }

  test("grouped split-write stats: one partitioned append prunes per partition tuple") {
    val dir = freshDir()
    val vt = new VersionedTable(spark, dir)
    vt.create(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType))),
      partitionCols = Seq("day"))
    vt.append(Seq(("a", 1L), ("a", 2L), ("b", 10L), ("c", 100L))
      .toDF("day", "n"))
    // one directory per distinct tuple, each with exact [min = max]
    assert(vt.activeDirs().size === 3)
    val (keptB, skippedB) = vt.pruneActive("day", Some("b"), Some("b"))
    assert(keptB.size === 1 && skippedB.size === 2)
    // per-directory n bounds recorded from the same grouped job
    val (keptN, _) = vt.pruneActive("n", Some(5L), Some(50L))
    assert(keptN.size === 1)
    assert(vt.fastCount() === Some(4L))
    assert(vt.statRange("n") === Some((1L, 100L)))
  }

  test("grouped optimize-chunk stats: chunk bounds stay exact and disjointly prunable") {
    val dir = freshDir()
    val vt = new VersionedTable(spark, dir)
    vt.append(spark.range(0, 1000).select(col("id"),
      (col("id") % 7).as("m")))
    vt.optimize("id", targetChunks = 4)
    val dirs = vt.activeDirs()
    assert(dirs.size === 4)
    assert(vt.fastCount() === Some(1000L))
    assert(vt.statRange("id") === Some((0L, 999L)))
    // a narrow range hits exactly one clustered chunk
    val (kept, skipped) = vt.pruneActive("id", Some(10L), Some(20L))
    assert(kept.size === 1 && skipped.size === 3)
  }

  test("cache-side chunk stats equal a read-back recount, incl. renamed columns") {
    // round-17 second pass: the rewrite's grouped stats job reads the
    // CACHED cluster frame (grouped by chunk id) instead of re-reading
    // the written files — the recorded per-directory stats must equal
    // what a scan of the written files recomputes, keyed by PHYSICAL
    // name on a renamed (column-mapped) table where the rewrite
    // back-renames (partial) or normalizes (full).
    val dir = freshDir()
    val vt = new VersionedTable(spark, dir)
    vt.append(spark.range(0, 300).select(col("id"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 2.0).as("price")))
    vt.renameColumn("price", "amount") // files keep spelling `price`
    vt.optimize("id", targetChunks = 3)
    val dirs = vt.activeDirs()
    assert(dirs.size === 3)
    // recorded metadata answers vs a full recount of the written files
    assert(vt.fastCount() === Some(300L))
    assert(vt.statRange("id") === Some((0L, 299L)))
    assert(vt.statRange("amount") === Some((2.0, 598.0)))
    assert(vt.fastNonNullCount("amount") === Some(240L))
    val readBack = vt.read()
    assert(readBack.count() === 300L)
    assert(readBack.agg(min(col("amount")), max(col("amount"))).head() ===
      org.apache.spark.sql.Row(2.0, 598.0))
    // per-chunk disjointness survives the rename
    val (kept, skipped) = vt.pruneActive("id", Some(250L), Some(260L))
    assert(kept.size === 1 && skipped.size === 2)
  }
}
