package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._

/** The DataSourceV2 face of the versioned table: transparent manifest
  * pruning for plain `.filter(...)` DataFrames and SQL alike, pinned
  * time travel via options, column pruning into the parquet reader.
  */
class GraftVtSourceSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_dsv2").toString

  /** Kept-directory count of the query's graftvt scan (the fileIndex
    * roots are exactly the directories the manifest prune admitted).
    */
  private def keptDirs(df: DataFrame): Int =
    scanOf(df).fileIndex.rootPaths.length

  private def scanOf(df: DataFrame): ParquetScan =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collectFirst {
      case s: graft.sources.GraftVtScan => s.parquet
      case p: ParquetScan => p
    }.get

  private def threeSliceTable(): (String, graft.sources.VersionedTable) = {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(i => (i, i / 10.0, s"a$i")).toDF("k", "x", "s"))
    vt.append((100L until 200L).map(i => (i, i / 10.0, s"b$i")).toDF("k", "x", "s"))
    vt.append((200L until 300L).map(i => (i, i / 10.0, s"c$i")).toDF("k", "x", "s"))
    (dir, vt)
  }

  test("plain filter prunes directories transparently and answers like a full scan") {
    val (dir, vt) = threeSliceTable()
    val t = spark.read.format("graftvt").load(dir)
    assert(t.count() === 300)
    assert(keptDirs(t) === 3) // no filter: every active dir scanned
    // A range hitting only the middle directory: 1 of 3 dirs survives
    // the MANIFEST prune — no readPruned call anywhere in sight.
    val q = t.filter(col("k").between(120L, 180L))
    assert(keptDirs(q) === 1)
    assert(q.select("k").collect().map(_.getLong(0)).toSet ===
      vt.read().filter(col("k").between(120L, 180L))
        .select("k").collect().map(_.getLong(0)).toSet)
    // The pushed range shows up in the scan (explain visibility) and
    // rows NOT matching inside the kept dir are still filtered
    // (superset guarantee: the row filter stays post-scan).
    assert(scanOf(q).pushedFilters.nonEmpty)
    assert(q.count() === 61)
    // Strict bounds relax but never leak rows.
    assert(t.filter(col("k") > 285L).count() === 14)
    assert(keptDirs(t.filter(col("k") > 285L)) === 1)
    // Disjoint range: zero dirs, zero rows, no error.
    val none = t.filter(col("k") >= 1000L)
    assert(keptDirs(none) === 0)
    assert(none.count() === 0)
    // String stats prune too.
    assert(keptDirs(t.filter(col("s") >= "b" && col("s") <= "bzz")) === 1)
    // IN-list envelope prunes under the stat-domain order.
    assert(keptDirs(t.filter(col("k").isin(110L, 150L, 199L))) === 1)
    assert(t.filter(col("k").isin(110L, 150L, 199L)).count() === 3)
    // An unindexed shape (disjunction) keeps everything — conservatively.
    assert(keptDirs(t.filter(col("k") === 5L || col("k") === 250L)) === 3)
    assert(t.filter(col("k") === 5L || col("k") === 250L).count() === 2)
  }

  test("the same pruning serves SQL text over a registered view") {
    val (dir, _) = threeSliceTable()
    spark.read.format("graftvt").load(dir).createOrReplaceTempView("vt_sql_spec")
    val q = spark.sql(
      "SELECT count(*) AS n, sum(x) AS sx FROM vt_sql_spec WHERE k >= 120 AND k <= 180")
    assert(keptDirs(q) === 1)
    val r = q.head
    assert(r.getLong(0) === 61)
    assert(math.abs(r.getDouble(1) - (120L to 180L).map(_ / 10.0).sum) < 1e-9)
  }

  test("column pruning reaches the parquet reader") {
    val (dir, _) = threeSliceTable()
    val t = spark.read.format("graftvt").load(dir).select("s")
    assert(scanOf(t).readDataSchema.fieldNames.toSeq === Seq("s"))
  }

  test("versionAsOf / timestampAsOf options time-travel; conflicts fail loudly") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    val tAfterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    vt.append(Seq((2L, "b")).toDF("k", "s"))
    vt.overwrite(Seq((9L, "z")).toDF("k", "s"))
    assert(spark.read.format("graftvt").load(dir).count() === 1)
    assert(spark.read.format("graftvt").option("versionAsOf", 1).load(dir).count() === 2)
    assert(spark.read.format("graftvt").option("versionAsOf", 0)
      .load(dir).select("k").head.getLong(0) === 1L)
    // ISO-8601 in the session zone (UTC) — the ONE format every
    // surface agrees on; bare epoch numerics are rejected loudly.
    val tAfterV0Iso = java.time.Instant.ofEpochMilli(tAfterV0)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    assert(spark.read.format("graftvt").option("timestampAsOf", tAfterV0Iso)
      .load(dir).count() === 1)
    val numericRejected = intercept[Exception] {
      spark.read.format("graftvt").option("timestampAsOf", tAfterV0.toString)
        .load(dir).collect()
    }
    assert(numericRejected.getMessage.contains("ambiguous numeric"))
    intercept[Exception] {
      spark.read.format("graftvt").option("versionAsOf", 0)
        .option("timestampAsOf", tAfterV0Iso).load(dir).collect()
    }
    intercept[Exception] {
      spark.read.format("graftvt").option("versionAsOf", 99).load(dir).collect()
    }
  }

  test("schema evolution: the latest snapshot pads old directories with null") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.append(Seq((2L, "b", 0.5)).toDF("k", "s", "score"))
    val t = spark.read.format("graftvt").load(dir)
    assert(t.columns.toSet === Set("k", "s", "score"))
    assert(t.filter(col("k") === 1L).select("score").head.isNullAt(0))
    // the old version still reads with its own shape
    assert(spark.read.format("graftvt").option("versionAsOf", 0)
      .load(dir).columns.toSeq === Seq("k", "s"))
  }

  test("timestamp-column range bounds prune in exact micros") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    def slice(d0: String, d1: String) =
      spark.sql(s"SELECT explode(sequence(TIMESTAMP'$d0', TIMESTAMP'$d1', " +
        "INTERVAL 1 DAY)) AS ts")
    vt.append(slice("1997-01-01", "1997-03-01"))
    vt.append(slice("1998-01-01", "1998-03-01"))
    vt.append(slice("1999-01-01", "1999-03-01"))
    vt.append(slice("1500-01-01", "1500-01-01"))
    val t = spark.read.format("graftvt").load(dir)
    val q = t.filter(col("ts") >= lit("1998-01-15").cast("timestamp") &&
      col("ts") < lit("1998-02-15").cast("timestamp"))
    assert(keptDirs(q) === 1)
    assert(q.count() === 31)
    // before 1582 a java.sql.Timestamp (hybrid Julian) and the stats'
    // proleptic-Gregorian micros differ by days: the bound must rebase
    val old = t.filter(col("ts") === to_timestamp(lit("1500-01-01 00:00:00")))
    assert(keptDirs(old) === 1)
    assert(old.count() === 1)
    val oldTs = java.sql.Timestamp.valueOf("1500-01-01 00:00:00")
    assert(vt.pruneActive("ts", Some(oldTs), Some(oldTs))._1.size === 1)
  }

  test("null-count stats: all-null dirs prune under ranges; IS [NOT] NULL prunes") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    // dir0: x fully null; dir1: x fully populated; dir2: x mixed
    vt.append((0L until 10L).map(k => (k, Option.empty[Long])).toDF("k", "x"))
    vt.append((10L until 20L).map(k => (k, Option(k * 10))).toDF("k", "x"))
    vt.append((20L until 30L).map(k =>
      (k, if (k % 2 == 0) Option(k * 10) else None)).toDF("k", "x"))
    // A range on x can never match the all-null dir: 2 of 3 kept.
    assert(vt.pruneActive("x", Some(0L), None)._1.size === 2)
    // IS NOT NULL skips the all-null dir; IS NULL skips the no-null dir.
    assert(vt.pruneActiveAll(Nil, notNullCols = Seq("x"))._1.size === 2)
    assert(vt.pruneActiveAll(Nil, isNullCols = Seq("x"))._1.size === 2)
    // ...and the same pruning reaches a plain DataFrame filter (Spark
    // pushes IsNotNull alongside every comparison).
    val t = spark.read.format("graftvt").load(dir)
    val qRange = t.filter(col("x") >= 0L)
    assert(keptDirs(qRange) === 2)
    assert(qRange.count() === 15)
    val qNull = t.filter(col("x").isNull)
    assert(keptDirs(qNull) === 2)
    assert(qNull.count() === 15)
    val qNotNull = t.filter(col("x").isNotNull)
    assert(keptDirs(qNotNull) === 2)
    assert(qNotNull.count() === 15)
    // metadata MIN/MAX stays honest: the all-null dir has no exact
    // bounds, so the range answer refuses rather than guessing
    assert(vt.statRange("x").isEmpty)
    assert(vt.statRange("k").contains((0L, 29L)))
  }

  test("df.write.format(graftvt) appends through the commit protocol; overwrite replaces") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s")) // bootstrap defines the schema
    Seq((2L, "b")).toDF("k", "s").write.format("graftvt").mode("append").save(dir)
    assert(vt.latestVersion === 1)
    assert(vt.read().count() === 2)
    assert(vt.history().filter(col("version") === 1)
      .select("op").head.getString(0) === "append")
    Seq((9L, "z")).toDF("k", "s").write.format("graftvt").mode("overwrite").save(dir)
    assert(vt.latestVersion === 2)
    assert(vt.read().select("k").head.getLong(0) === 9L)
    assert(vt.readAt(1).count() === 2) // history intact
    // a time-travelled load is read-only
    intercept[Exception] {
      spark.read.format("graftvt").option("versionAsOf", 0).load(dir)
        .write.format("graftvt").option("versionAsOf", 0).mode("append").save(dir)
    }
    // Narrowing through the v2 path is guarded by Spark's ANSI store
    // assignment (the cast to the table's int type is added at
    // analysis, with a RUNTIME overflow check) — so an in-range long
    // lands as int, and an overflowing one fails loudly rather than
    // truncating. Our own commit-time gate backs the Scala API paths.
    val intDir = tmpVt()
    new graft.sources.VersionedTable(spark, intDir)
      .append(Seq((1, "a")).toDF("k", "s"))
    Seq((2L, "b")).toDF("k", "s")
      .write.format("graftvt").mode("append").save(intDir)
    val t2 = new graft.sources.VersionedTable(spark, intDir)
    assert(t2.read().schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType)
    intercept[Exception] {
      Seq((3000000000L, "c")).toDF("k", "s") // > Int.MaxValue
        .write.format("graftvt").mode("append").save(intDir)
    }
    assert(t2.read().count() === 2) // the overflow write committed nothing
  }

  test("unfiltered COUNT/MIN/MAX push down completely: LocalTableScan, no parquet read") {
    val (dir, vt) = threeSliceTable()
    spark.read.format("graftvt").load(dir).createOrReplaceTempView("vt_agg_spec")
    val q = spark.sql(
      "SELECT count(*) AS n, count(s) AS ns, min(k) AS mn, max(k) AS mx, " +
        "min(x) AS mnx, max(s) AS mxs FROM vt_agg_spec")
    // the plan is a LocalTableScan — the aggregate was answered from
    // the manifest fold, no parquet scan exists anywhere in the plan
    val exec = q.queryExecution.executedPlan
    assert(exec.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.nonEmpty, exec.toString)
    assert(exec.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.isEmpty, exec.toString)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getString(5))).toSeq ===
      Seq((300L, 300L, 0L, 299L, 0.0, "c299")))
    // row-level mutations keep the metadata answers exact
    vt.delete(col("k") < 10L)
    vt.update(col("k") === 299L, Map("x" -> lit(9999.0)))
    spark.read.format("graftvt").load(dir).createOrReplaceTempView("vt_agg_spec")
    val q2 = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(x) AS mx FROM vt_agg_spec")
    assert(q2.queryExecution.executedPlan.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.nonEmpty)
    assert(q2.head === org.apache.spark.sql.Row(290L, 10L, 9999.0))
    // time travel serves the version's own metadata
    val q0 = spark.read.format("graftvt").option("versionAsOf", 2)
      .load(dir).agg(count(lit(1)), min(col("k")))
    assert(q0.head === org.apache.spark.sql.Row(300L, 0L))
  }

  test("filtered, grouped, or distinct aggregates fall back to the real scan") {
    val (dir, _) = threeSliceTable()
    spark.read.format("graftvt").load(dir).createOrReplaceTempView("vt_agg_fb")
    def isLocal(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.collectWithSubqueries {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l
      }.nonEmpty
    // a filter forces the scan path — and the answer is still right
    val f = spark.sql("SELECT count(*) AS n FROM vt_agg_fb WHERE k >= 150")
    assert(!isLocal(f) && f.head.getLong(0) === 150L)
    val g = spark.sql("SELECT s, count(*) FROM vt_agg_fb GROUP BY s LIMIT 1")
    assert(!isLocal(g))
    val d = spark.sql("SELECT count(DISTINCT k) AS n FROM vt_agg_fb")
    assert(!isLocal(d) && d.head.getLong(0) === 300L)
    // sum() has no metadata form — the whole aggregation falls back
    val sq = spark.sql("SELECT count(*) AS n, sum(k) AS s FROM vt_agg_fb")
    assert(!isLocal(sq) && sq.head.getLong(1) === (0L until 300L).sum)
    // an all-null column rejects min/max (no exact bounds) but the
    // scan still answers
    val dir2 = tmpVt()
    val vt2 = new graft.sources.VersionedTable(spark, dir2)
    vt2.append(Seq((1L, None: Option[String]), (2L, None)).toDF("k", "s"))
    val an = spark.read.format("graftvt").load(dir2)
      .agg(min(col("s")).as("mn"), count(lit(1)).as("n"))
    assert(!isLocal(an))
    assert(an.head.isNullAt(0) && an.head.getLong(1) === 2L)
    // COUNT(col) = rows - nulls IS metadata-answerable on that table
    val cn = spark.read.format("graftvt").load(dir2)
      .agg(count(col("s")).as("n"), count(col("k")).as("nk"))
    assert(isLocal(cn) && cn.head === org.apache.spark.sql.Row(0L, 2L))
  }

  test("runtime IN filters prune directories by exact membership, not envelope") {
    val (dir, vt) = threeSliceTable()
    // exact membership: {50, 250} envelopes [50, 250] which INTERSECTS
    // the middle directory [100, 200) — the envelope would keep all 3;
    // exact membership keeps exactly the two directories holding them
    val (kept, skipped) = vt.pruneActiveIn("k", Seq(50L, 250L))
    assert(kept.size === 2 && skipped.size === 1)
    // pruneActiveIn edge cases
    assert(vt.pruneActiveIn("k", Seq(105L))._1.size === 1)
    assert(vt.pruneActiveIn("k", Seq(9999L))._1.isEmpty)
    assert(vt.pruneActiveIn("k", Seq(null))._1.isEmpty) // IN (NULL): nothing
    // the scan applies a runtime filter and rebuilds over the survivors
    val df = spark.read.format("graftvt").load(dir)
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.GraftVtScan => s }.get
    assert(scan.filterAttributes().map(_.describe()).toSet === Set("k", "x", "s"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(50L, 250L))))
    assert(scan.runtimeKept === Some(2))
    assert(scan.parquet.fileIndex.rootPaths.length === 2)
    assert(scan.toBatch.planInputPartitions().nonEmpty)
  }

  test("a static IN list prunes directories by exact membership, not envelope") {
    val (dir, _) = threeSliceTable()
    // {50, 250} envelopes [50, 250], which intersects all three
    // directories; exact membership keeps the two holding a member
    val q = spark.read.format("graftvt").load(dir).filter(col("k").isin(50L, 250L))
    assert(keptDirs(q) === 2)
    assert(q.count() === 2)
  }

  test("a selective dimension filter dynamically prunes fact directories through a join") {
    val (dir, _) = threeSliceTable() // fact: 3 range-disjoint dirs on k
    import spark.implicits._
    // the dim must be a FILE relation: a local Seq collapses to a
    // LocalRelation whose filter constant-folds away, leaving no
    // selective predicate for the DPP planner to exploit
    val dimDir = java.nio.file.Files.createTempDirectory("vt_dpp_dim").toString
    (0L until 300L).map(i => (i, if (i < 100) "keep" else "drop"))
      .toDF("dk", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = spark.read.format("graftvt").load(dir)
    val joined = fact.join(dim.filter(col("tag") === "keep"),
      fact("k") === dim("dk"))
    // the pruning subquery is injected at optimization time
    assert(joined.queryExecution.optimizedPlan.toString.contains("dynamicpruning"))
    assert(joined.collect().length === 100)
    // after execution the scan was runtime-filtered down to the ONE
    // directory holding the surviving dim keys (k < 100)
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    val scan = finalPlan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case s: graft.sources.GraftVtScan => s }.get
    assert(scan.runtimeKept === Some(1))
    assert(scan.parquet.fileIndex.rootPaths.length === 1)
  }

  test("LIMIT plans only enough directories to cover the requested rows") {
    val (dir, _) = threeSliceTable() // 3 dirs × 100 recorded rows
    val t = spark.read.format("graftvt").load(dir)
    // 50 ≤ 100: one directory suffices; Spark's own Limit still applies
    val q50 = t.limit(50)
    assert(q50.count() === 50)
    assert(keptDirs(q50) === 1)
    // 150 needs two directories
    val q150 = t.limit(150)
    assert(q150.count() === 150)
    assert(keptDirs(q150) === 2)
    // larger than the table: every directory, full answer
    val qAll = t.limit(1000)
    assert(qAll.count() === 300)
    assert(keptDirs(qAll) === 3)
    // a filtered limit never cuts directories (the filter is post-scan;
    // the first directories might hold no matching rows)
    val qf = t.filter(col("x") >= 25.0).limit(10)
    assert(qf.count() === 10)
    assert(qf.collect().forall(_.getDouble(1) >= 25.0))
  }

  test("TIMESTAMP_NTZ columns prune through the session zone (the fixtures' encoding)") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    def slice(d0: String, d1: String) =
      spark.sql(s"SELECT explode(sequence(TIMESTAMP'$d0', TIMESTAMP'$d1', " +
        "INTERVAL 1 DAY)) AS ts").select(to_timestamp_ntz(col("ts")).as("ts"))
    vt.append(slice("1997-01-01", "1997-03-01"))
    vt.append(slice("1998-01-01", "1998-03-01"))
    vt.append(slice("1999-01-01", "1999-03-01"))
    spark.read.format("graftvt").load(dir).createOrReplaceTempView("vt_ntz_spec")
    val q = spark.sql("SELECT count(*) AS n FROM vt_ntz_spec " +
      "WHERE ts >= TIMESTAMP'1998-01-15' AND ts < TIMESTAMP'1998-02-15'")
    assert(keptDirs(q) === 1)
    assert(q.head.getLong(0) === 31)
  }
}
