package graft

import org.apache.spark.sql.functions._

/** SQL text drives the whole versioned maintenance surface: DESCRIBE
  * HISTORY, OPTIMIZE [ZORDER BY] [INTO n CHUNKS], VACUUM RETAIN, and
  * VERSION/TIMESTAMP AS OF time travel — against both bridge-named
  * tables (warehouse `<t>__versioned`) and quoted directory paths.
  */
class VersionedSqlSpec extends SparkSuite {
  import spark.implicits._

  private val tables = new graft.sources.TableManager(spark)

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_sql_spec").toString

  test("DESCRIBE HISTORY and VERSION AS OF work on a bridge-named table via SQL only") {
    val tbl = "vsql_bridge"
    try spark.catalog.dropTempView(tbl) catch { case _: Exception => () }
    val base = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl + "__versioned")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    tables.appendVersioned(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), tbl)
    tables.appendVersioned(Seq((3L, "c")).toDF("k", "s"), tbl)
    tables.versionedFor(tbl).overwrite(Seq((9L, "z")).toDF("k", "s"))
    tables.refreshVersioned(tbl)
    val hist = spark.sql(s"DESCRIBE HISTORY $tbl")
      .select("version", "op", "num_rows", "num_active_dirs")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(hist.toSeq === Seq((0, "append", 2L, 1), (1, "append", 1L, 2),
      (2, "overwrite", 1L, 1)))
    // Time travel through plain SELECT text.
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 0").head.getLong(0) === 2)
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1").head.getLong(0) === 3)
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 2").head.getLong(0) === 9L)
    // The un-travelled name still reads the latest snapshot (temp view).
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 1)
    // TIMESTAMP AS OF: an ISO-8601 literal after the last commit →
    // latest. Bare epoch numerics are rejected loudly (the native
    // catalog would cast the same number as SECONDS — ambiguous).
    val nowIso = java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 1000)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    assert(spark.sql(s"SELECT count(*) FROM $tbl TIMESTAMP AS OF '$nowIso'")
      .head.getLong(0) === 1)
    val numericRejected = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $tbl TIMESTAMP AS OF " +
        s"${System.currentTimeMillis()}").collect()
    }
    assert(numericRejected.getMessage.contains("ISO-8601"))
  }

  test("a quoted path addresses a versioned directory directly; graftvt.`path` travels") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.append(Seq((2L, "b")).toDF("k", "s"))
    val hist = spark.sql(s"DESCRIBE HISTORY '$dir'")
    assert(hist.count() === 2)
    assert(spark.sql(s"SELECT count(*) FROM graftvt.`$dir` VERSION AS OF 0")
      .head.getLong(0) === 1)
    assert(spark.sql(s"SELECT count(*) FROM graftvt.`$dir` VERSION AS OF 1")
      .head.getLong(0) === 2)
  }

  test("OPTIMIZE ZORDER BY through SQL makes pruning tight and preserves rows") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    // interleaved: every dir straddles the whole key range
    (0 until 3).foreach(i =>
      vt.append((0L until 300L).filter(_ % 3 == i).map(k => (k, s"r$k"))
        .toDF("k", "s")))
    assert(vt.pruneActive("k", Some(100L), Some(120L))._2.isEmpty)
    val out = spark.sql(s"OPTIMIZE '$dir' ZORDER BY (k) INTO 3 CHUNKS").head
    assert(out.getInt(0) === 3) // committed version
    assert(out.getInt(1) === 3) // post-optimize active dirs
    assert(vt.read().count() === 300)
    assert(vt.pruneActive("k", Some(100L), Some(120L))._1.size === 1)
    // multi-column form routes to the z-order rewrite
    val dir2 = tmpVt()
    val vt2 = new graft.sources.VersionedTable(spark, dir2)
    vt2.append((0L until 200L).map(i => (i, (i * 7) % 200)).toDF("a", "b"))
    spark.sql(s"OPTIMIZE '$dir2' ZORDER BY (a, b) INTO 4 CHUNKS")
    assert(vt2.read().count() === 200)
    assert(vt2.history().orderBy(col("version").desc)
      .select("op").head.getString(0) === "optimize")
  }

  test("bare OPTIMIZE bin-packs; VACUUM RETAIN reclaims through SQL") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    (0 until 6).foreach(i => vt.append(Seq((i.toLong, s"r$i")).toDF("k", "s")))
    assert(vt.activeDirs().size === 6)
    val out = spark.sql(s"OPTIMIZE '$dir' INTO 2 CHUNKS").head
    assert(out.getInt(1) === 2)
    assert(vt.read().count() === 6)
    // Without INTO, the chunk count comes from recorded bytes (tiny
    // table → 1 chunk) — just assert it runs and preserves rows.
    spark.sql(s"OPTIMIZE '$dir'")
    assert(vt.read().count() === 6)
    val removed = spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS").head.getInt(0)
    assert(removed > 0)
    assert(vt.read().count() === 6)
  }

  test("RESTORE TABLE ... TO VERSION AS OF rolls back as a new metadata commit") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v0
    vt.overwrite(Seq((9L, "z")).toDF("k", "s"))         // v1
    val out = spark.sql(s"RESTORE TABLE '$dir' TO VERSION AS OF 0").head
    assert(out.getInt(0) === 0 && out.getInt(1) === 2)
    assert(vt.read().count() === 2)
    assert(vt.readAt(1).count() === 1) // history preserved
    assert(spark.sql(s"DESCRIBE HISTORY '$dir'")
      .orderBy(col("version").desc).select("op").head.getString(0) === "restore")
  }

  test("OPTIMIZE ... WHERE scopes the rewrite to intersecting directories") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, s"r$k")).toDF("k", "s"))
    vt.append((100L until 200L).map(k => (k, s"r$k")).toDF("k", "s"))
    vt.append((200L until 300L).map(k => (k, s"r$k")).toDF("k", "s"))
    val keepFirst = vt.activeDirs().head
    val out = spark.sql(
      s"OPTIMIZE '$dir' WHERE k BETWEEN 120 AND 180 INTO 2 CHUNKS").head
    assert(out.getInt(1) === 4) // dir1, dir3 survive; middle → 2 chunks
    assert(vt.activeDirs().contains(keepFirst))
    assert(vt.read().count() === 300)
    // WHERE + multi-column ZORDER is rejected loudly
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE '$dir' WHERE k BETWEEN 0 AND 10 ZORDER BY (k, s)")
    }
    assert(e.getMessage.contains("not") && e.getMessage.toLowerCase.contains("supported"))
  }

  test("DESCRIBE DETAIL and CHECK constraints through SQL") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 10L).map(k => (k, s"r$k")).toDF("k", "s"))
    val d = spark.sql(s"DESCRIBE DETAIL '$dir'").head
    assert(d.getInt(0) === 0 && d.getInt(1) === 1 && d.getLong(2) === 10L)
    assert(d.getLong(3) > 0L && d.getInt(4) === 0)
    // ADD CONSTRAINT validates the existing table, then gates writes.
    val v = spark.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT pos CHECK (k >= 0)")
      .head.getInt(0)
    assert(v === 1)
    assert(spark.sql(s"DESCRIBE DETAIL '$dir'").head.getInt(4) === 1)
    intercept[Exception] { vt.append(Seq((-5L, "bad")).toDF("k", "s")) }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT neg CHECK (k < 5)")
    }
    spark.sql(s"ALTER TABLE '$dir' DROP CONSTRAINT pos")
    vt.append(Seq((-5L, "ok now")).toDF("k", "s"))
    assert(vt.read().count() === 11)
    // A non-versioned ALTER TABLE target still reaches Spark's own
    // parser (whatever it does with it — never our bridge error).
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE no_such_plain_table ADD CONSTRAINT c CHECK (x > 0)")
    }
    assert(!e.getMessage.contains("not a versioned table"))
  }

  test("CONVERT TO GRAFTVT turns a flat parquet directory into a table in place") {
    val dir = tmpVt()
    (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val out = spark.sql(s"CONVERT TO GRAFTVT '$dir'").head
    assert(out.getInt(0) === 0 && out.getLong(1) === 100L)
    val vt = new graft.sources.VersionedTable(spark, dir)
    assert(vt.read().count() === 100)
    assert(vt.history().select("op").head.getString(0) === "convert")
    // a full citizen afterwards: appends, stats pruning, DSv2, streaming
    vt.append(Seq((200L, "new")).toDF("k", "s"))
    assert(vt.read().count() === 101)
    assert(vt.pruneActive("k", Some(200L), None)._1.size === 1)
    assert(spark.read.format("graftvt").load(dir).count() === 101)
    // converting again (or a nested layout) fails loudly
    assert(intercept[Exception] { spark.sql(s"CONVERT TO GRAFTVT '$dir'") }
      .getMessage.contains("transaction log"))
    val nested = tmpVt()
    (0L until 10L).map(k => (k, k % 2)).toDF("k", "p")
      .write.partitionBy("p").parquet(s"$nested/data")
    assert(intercept[Exception] { spark.sql(s"CONVERT TO GRAFTVT '$nested'") }
      .getMessage.contains("nested") ||
      intercept[Exception] { spark.sql(s"CONVERT TO GRAFTVT '$nested'") }
        .getMessage.contains("no *.parquet"))
  }

  test("convert fails loudly and writes no log when a file cannot be moved") {
    val local = tmpVt()
    (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s")
      .repartition(3).write.mode("overwrite").parquet(local)
    val refused = new java.io.File(local).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).min
    val dir = FaultFileSystem.bind(spark, local)
    FaultFileSystem.failRename = _.getName == refused
    val e = try intercept[IllegalArgumentException](
        graft.sources.VersionedTable.convert(spark, dir))
      finally FaultFileSystem.failRename = _ => false
    assert(e.getMessage.contains(refused), e.getMessage)
    assert(!new java.io.File(local, "_graft_log").exists())
    assert(new java.io.File(local, refused).exists())
  }

  test("loud errors: unversioned names, malformed bounds; plain SQL is untouched") {
    val e = intercept[Exception] { spark.sql("DESCRIBE HISTORY no_such_vt_table") }
    assert(e.getMessage.contains("not a versioned table"))
    // statements that merely CONTAIN the keywords still parse normally
    assert(spark.sql("SELECT 'OPTIMIZE t' AS s").head.getString(0) === "OPTIMIZE t")
    assert(spark.sql("SELECT 1 AS optimize").head.getInt(0) === 1)
  }
}
