package graft

import org.apache.spark.sql.functions._

/** Merge-on-read DELETE via deletion vectors: a selective delete
  * commits a (dir, file, row-index) sidecar instead of rewriting
  * directories — every data file stays byte-identical, every reader
  * folds the hidden rows away, OPTIMIZE compacts the debt, vacuum
  * reclaims unreferenced sidecars.
  */
class DeletionVectorSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_dv_spec").toString

  private def dataFiles(dir: String): Set[(String, Long, Long)] = {
    val local = new java.io.File(dir)
    local.listFiles().filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getParentFile.getName + "/" + f.getName,
        f.lastModified(), f.length())).toSet
  }

  test("dv delete hides rows; every data file stays byte-identical") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val before = dataFiles(dir)
    val v = vt.delete(col("k") % 3 === 0, useDeletionVectors = true)
    assert(v === 2)
    assert(dataFiles(dir) === before) // names, mtimes, and sizes pinned
    assert(vt.history().orderBy("version").collect().map(_.getString(1)).toSeq
      === Seq("append", "append", "delete-dv"))
    // answers equal the CoW recomputation
    val expect = (0L until 200L).filter(_ % 3 != 0)
    assert(vt.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
      === expect)
    // time travel still serves the pre-delete rows
    assert(vt.readAt(1).count() === 200)
    // COUNT(*) stays metadata-exact (recorded rows minus DV counts);
    // bounds and per-column counts honestly decline
    assert(vt.fastCount() === Some(expect.size.toLong))
    assert(vt.statRange("k") === None)
    assert(vt.fastNonNullCount("k") === None)
    assert(vt.detail().head.getLong(2) === expect.size.toLong)
  }

  test("dv deletes compose; a later CoW mutation folds and clears them") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, "x")).toDF("k", "s"))
    vt.delete(col("k") < 10L, useDeletionVectors = true)
    vt.delete(col("k") >= 90L, useDeletionVectors = true) // second DV, same dir
    assert(vt.read().count() === 80)
    assert(vt.fastCount() === Some(80L))
    // a dv delete of ALREADY-hidden rows is a no-op (no double commit)
    val vNow = vt.latestVersion
    assert(vt.delete(col("k") < 5L, useDeletionVectors = true) === vNow)
    // CoW update reads folded (hidden rows cannot resurrect) and the
    // rewritten directory's DV entries die with it
    vt.update(col("k") < 50L, Map("s" -> lit("u")))
    assert(vt.read().count() === 80)
    assert(vt.read().filter(col("s") === "u").count() === 40) // 10..49
    assert(vt.dvsAt(vt.latestVersion).isEmpty)
    assert(vt.fastNonNullCount("k") === Some(80L))
  }

  test("the DSv2 scan folds DVs VECTORIZED: BatchScan stays, answers exact") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.delete(col("k") % 7 === 0, useDeletionVectors = true)
    val t = spark.read.format("graftvt").load(dir)
    val expect = (0L until 200L).filter(_ % 7 != 0)
    assert(t.count() === expect.size)
    assert(t.filter(col("k") < 100L).count() === expect.count(_ < 100L))
    // the DV fold rides the parquet BatchScan (row-index filtering),
    // NOT the row-based V1 relation
    val plan = t.filter(col("k") < 100L).queryExecution.executedPlan
    val batchScans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(batchScans.nonEmpty)
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s
    }.isEmpty)
    // filters still pushed to the inner parquet scans
    assert(batchScans.head.scan.asInstanceOf[graft.sources.GraftVtScan]
      .parquet.pushedFilters.nonEmpty)
    // the exec stays COLUMNAR: DV'd files filter at batch granularity,
    // the DV-free majority keeps vectorized + whole-stage untouched
    assert(batchScans.head.supportsColumnar)
    // full values (not just counts) are exact through the fold
    assert(t.select("k").collect().map(_.getLong(0)).sorted === expect.toArray)
    // unfiltered COUNT(*) still answers from metadata (LocalTableScan)
    val cnt = t.groupBy().count()
    val local = cnt.queryExecution.executedPlan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }
    assert(local.nonEmpty)
    assert(cnt.head.getLong(0) === expect.size.toLong)
    // time travel to the pre-delete version uses the plain parquet path
    val t1 = spark.read.format("graftvt").option("versionAsOf", 1).load(dir)
    assert(t1.count() === 200)
  }

  test("DV debt has no budget: heavy hidden sets still read through the vectorized scan") {
    // pre-r15 this size class dropped to a row-based V1 fold (or made
    // streams refuse); with per-file bitmap sidecars the partitions
    // carry PATHS and every executor decodes its own file — the plan
    // shape is identical to a light DV and the answer stays exact
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 30000L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.delete(col("k") % 3 =!= 0L, useDeletionVectors = false) // keep table small
    vt.delete(col("k") % 2 === 0L && col("k") % 3 === 0L,
      useDeletionVectors = true) // 5000 hidden rows in one sidecar
    val t = spark.read.format("graftvt").load(dir)
    assert(t.count() === 5000)
    val exec = t.filter(col("k") > 0L).queryExecution.executedPlan
    // the DSv2 batch scan serves it — no V1 RowDataSourceScan anywhere
    assert(exec.collect {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s
    }.isEmpty)
    assert(exec.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.nonEmpty)
    assert(t.select("k").collect().map(_.getLong(0)).sorted ===
      (0L until 30000L).filter(k => k % 3 == 0 && k % 2 != 0).toArray)
  }

  test("schema evolution composes with the DV fold: old dirs pad nulls") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 50L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType))))
    vt.append((50L until 100L).map(k => (k, k * 1.0, s"x$k")).toDF("k", "p", "s"))
    // one DV delete spanning BOTH the pre-evolution and post-evolution
    // directories: the vectorized fold must read the old dir with the
    // evolved schema (s as null) and both folded
    vt.delete(col("k") % 5 === 0, useDeletionVectors = true)
    val t = spark.read.format("graftvt").load(dir)
    assert(t.count() === 80)
    val got = t.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
      .toMap
    assert(got(1L) === null)        // pre-evolution row pads null
    assert(got(51L) === "x51")      // post-evolution row serves the value
    assert(!got.contains(5L) && !got.contains(50L)) // hidden on both sides
    assert(t.filter(col("s").isNull).count() === 40)
  }

  test("columnar DV filter: dense deletes, strings, whole-files hidden") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    // several files per dir (repartition), string + double + long cols
    vt.append(spark.range(0, 10000).toDF("k")
      .withColumn("s", concat(lit("v"), col("k")))
      .withColumn("p", col("k") * 1.5).repartition(4))
    vt.setProperties(Map("graft.deletionVectors.maxFraction" -> "0.95"))
    // dense delete: 90% hidden — some batches/files end up fully hidden
    vt.delete(col("k") % 10 =!= 0, useDeletionVectors = true)
    val t = spark.read.format("graftvt").load(dir)
    val got = t.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = (0L until 10000L by 10)
      .map(k => (k, s"v$k", k * 1.5))
    assert(got.sortBy(_._1).toSeq === want)
    // sparse delete on top (second sidecar on the same dir): both fold
    vt.setProperties(Map("graft.deletionVectors.maxFraction" -> "0.99"))
    vt.delete(col("k") === 5000L, useDeletionVectors = true)
    assert(spark.read.format("graftvt").load(dir).count() === 999)
    assert(spark.read.format("graftvt").load(dir)
      .agg(sum("k")).head.getLong(0) === want.map(_._1).sum - 5000L)
  }

  test("OPTIMIZE WHERE __dv_fraction compacts exactly the debt-heavy dirs") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((200L until 300L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.delete(col("k") < 40L, useDeletionVectors = true)   // dir1: 0.40 debt
    vt.delete(col("k").between(100L, 104L), useDeletionVectors = true) // dir2: 0.05
    assert(vt.dvsAt(vt.latestVersion).size === 2)
    def files() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    val before = files()
    // debt threshold 0.2: ONLY the 40%-hidden directory rewrites
    val v1 = vt.optimizeDvDebt(0.2, targetChunks = 1)
    val dvsLeft = vt.dvsAt(v1)
    assert(dvsLeft.size === 1) // dir2's small debt survives untouched
    assert(vt.read().count() === 255)
    // the untouched dirs' files are byte-identical (low-debt + clean)
    assert(files().intersect(before).size >= 2)
    // SQL form sweeps the rest; a second sweep is a metadata no-op
    spark.sql(s"OPTIMIZE '$dir' WHERE __dv_fraction >= 0.01 INTO 1 CHUNKS")
    assert(vt.dvsAt(vt.latestVersion).isEmpty)
    assert(vt.read().count() === 255)
    val vNow = vt.latestVersion
    assert(vt.optimizeDvDebt(0.01, 1) === vNow)
  }

  test("merge-on-read MERGE: matched rows hidden, source appended, files intact") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p"))
    def dataFiles() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    val before = dataFiles()
    val src = Seq((10L, -1.0), (110L, -2.0), (500L, 5.0)).toDF("k", "p")
    val v = vt.merge(src, Seq("k"), useDeletionVectors = true)
    assert(vt.history().filter(col("version") === v)
      .head.getAs[String]("op") === "merge-dv")
    assert(before.subsetOf(dataFiles())) // originals byte-identical
    assert(vt.dvsAt(v).keySet.size === 2) // one DV per touched dir
    val got = vt.read().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 201)
    assert(got(10L) === -1.0 && got(110L) === -2.0 && got(500L) === 5.0)
    assert(got(11L) === 11.0) // untouched rows intact
    assert(vt.fastCount() === Some(201L)) // metadata-exact through the DV
    // exact CDC: one pre+post pair per match, one insert
    val cdc = vt.changes(v, v).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc === Map("update_preimage" -> 2L, "update_postimage" -> 2L,
      "insert" -> 1L))
    // a dominant-match merge declines the DV and rewrites (policy)
    val big = (0L until 200L).map(k => (k, 9.9)).toDF("k", "p")
    val v2 = vt.merge(big, Seq("k"), useDeletionVectors = true)
    assert(vt.history().filter(col("version") === v2)
      .head.getAs[String]("op") === "merge")
    assert(vt.dvsAt(v2).isEmpty) // the rewrite folded the DV debt away
    assert(vt.read().count() === 201)
    assert(vt.read().filter(col("p") === 9.9).count() === 200)
  }

  test("mutations on a renamed table with outstanding DVs fold and alias") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.renameColumn("k", "id")
    vt.delete(col("id") < 10L, useDeletionVectors = true)
    // a second DV mutation reads the FOLDED, ALIASED snapshot (the
    // tagged fold must serve logical names with sidecars outstanding)
    vt.delete(col("id") >= 95L, useDeletionVectors = true)
    assert(vt.read().count() === 85)
    vt.update(col("id") === 50L, Map("p" -> lit(-1.0)),
      useDeletionVectors = true)
    assert(vt.read().filter(col("p") === -1.0).head.getLong(0) === 50L)
    // merge through the renamed key with DVs outstanding
    vt.merge(Seq((50L, 77.0), (1000L, 1.0)).toDF("id", "p"), Seq("id"),
      useDeletionVectors = true)
    val got = vt.read().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 86)
    assert(got(50L) === 77.0 && got(1000L) === 1.0)
  }

  test("DVs and renames compose on the vectorized path") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.renameColumn("k", "id")
    vt.delete(col("id") % 5 === 0, useDeletionVectors = true)
    val t = spark.read.format("graftvt").load(dir)
    val expect = (0L until 200L).filter(_ % 5 != 0)
    assert(t.columns.toSeq === Seq("id", "p"))
    assert(t.count() === expect.size)
    // a filter on the LOGICAL name prunes dirs AND pushes to parquet
    // under the physical name, on the BatchScan path
    val q = t.filter(col("id").between(20L, 140L))
    assert(q.collect().map(_.getLong(0)).sorted ===
      expect.filter(k => k >= 20 && k <= 140).toArray)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val inner = scans.head.scan.asInstanceOf[graft.sources.GraftVtScan].parquet
    assert(inner.pushedFilters.exists(_.references.contains("k"))) // physical
  }

  test("snapshot-init streaming over a DV'd table serves the folded rows") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.delete(col("k") % 3 === 0, useDeletionVectors = true)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graftvt").load(dir).writeStream
      .option("checkpointLocation", tmpVt())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sunk ++= b.collect().map(_.getLong(0)); ()
      }.start()
    q.processAllAvailable()
    // a post-start append still tails in (clean batch after a DV'd one)
    vt.append(Seq((500L, 1.0)).toDF("k", "p"))
    q.processAllAvailable(); q.stop()
    val expect = (0L until 200L).filter(_ % 3 != 0) :+ 500L
    assert(sunk.sorted === expect.sorted.toArray)
  }

  test("runtime (DPP) pruning composes with the DV fold") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    // 3 range-disjoint fact dirs; DV on the FIRST (the one DPP keeps)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((200L until 300L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.delete(col("k") % 10 === 0, useDeletionVectors = true)
    val dimDir = tmpVt()
    (0L until 300L).map(i => (i, if (i < 100) "keep" else "drop"))
      .toDF("dk", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = spark.read.format("graftvt").load(dir)
    val joined = fact.join(dim.filter(col("tag") === "keep"),
      fact("k") === dim("dk"))
    // 100 keep-keys minus the 10 DV-hidden multiples of 10 below 100
    assert(joined.collect().length === 90)
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    val scan = finalPlan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case s: graft.sources.GraftVtScan => s }.get
    assert(scan.runtimeKept === Some(1)) // runtime-pruned to the DV'd dir
  }

  test("LIMIT pushdown under DVs covers with effective rows") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 2.0)).toDF("k", "p"))   // 100 rows
    vt.append((100L until 200L).map(k => (k, k * 2.0)).toDF("k", "p")) // 100 rows
    vt.setProperties(Map("graft.deletionVectors.maxFraction" -> "0.95"))
    // hide 90 of the first directory's rows: a raw recorded-rows prefix
    // of LIMIT 50 would stop at dir 1 (100 recorded) and serve only 10
    vt.delete(col("k") < 90L, useDeletionVectors = true)
    assert(vt.dvsAt(vt.latestVersion).nonEmpty) // DV, not a rewrite
    val t = spark.read.format("graftvt").load(dir)
    val got = t.limit(50).collect()
    assert(got.length === 50)
    assert(got.map(_.getLong(0)).forall(k => k >= 90L))
  }

  test("changes() serves the dv delete exactly and folds later synthesis") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 50L).map(k => (k, k * 1.0)).toDF("k", "p")) // v0
    vt.delete(col("k") < 5L, useDeletionVectors = true)             // v1
    val dv = vt.changes(1, 1).collect()
    assert(dv.map(r => (r.getLong(0), r.getString(2))).sorted.toSeq ===
      (0L until 5L).map((_, "delete")))
    // an overwrite's removed-dir synthesis reads the dir FOLDED — the
    // five already-deleted rows are not re-reported
    vt.overwrite(Seq((999L, 0.0)).toDF("k", "p"))                   // v2
    val ow = vt.changes(2, 2).collect()
    assert(ow.count(_.getString(2) == "delete") === 45)
    assert(ow.count(_.getString(2) == "insert") === 1)
  }

  test("OPTIMIZE compacts DVs away; vacuum reclaims unreferenced sidecars") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.delete(col("k") % 2 === 0, useDeletionVectors = true)
    assert(vt.dvsAt(vt.latestVersion).nonEmpty)
    vt.optimize("k", 2)
    assert(vt.dvsAt(vt.latestVersion).isEmpty)
    assert(vt.read().count() === 50)
    assert(vt.statRange("k") === Some((1L, 99L))) // bounds exact again
    def dvDirs() = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("dv-"))
    assert(dvDirs() === 1)
    vt.vacuum(1)
    assert(dvDirs() === 0)
    assert(vt.read().count() === 50)
  }

  test("dv update hides originals and appends images; files intact; count exact") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val before = dataFiles(dir)
    val v = vt.update(col("k") % 10 === 0, Map("p" -> lit(-5.0)),
      useDeletionVectors = true)
    assert(v === 2)
    // the ORIGINAL files are untouched; ONE new directory (the images)
    assert(before.subsetOf(dataFiles(dir)))
    assert(vt.activeDirs().size === 3)
    assert(vt.history().orderBy("version").collect().map(_.getString(1)).toSeq
      === Seq("append", "append", "update-dv"))
    // values: every %10 key updated, everything else untouched
    assert(vt.read().filter(col("p") === -5.0).count() === 20)
    assert(vt.read().count() === 200)
    assert(vt.fastCount() === Some(200L)) // hidden == appended: exact
    // exact CDC pre/post images
    val ch = vt.changes(2, 2)
    assert(ch.filter(col("_change_type") === "update_preimage").count() === 20)
    assert(ch.filter(col("_change_type") === "update_postimage")
      .filter(col("p") === -5.0).count() === 20)
    // constraints validate the NEW images and abort cleanly pre-publish
    vt.addConstraint("p_floor", "p >= -100")
    val vNow = vt.latestVersion
    intercept[Exception](vt.update(col("k") === 1L,
      Map("p" -> lit(-1000.0)), useDeletionVectors = true))
    assert(vt.latestVersion === vNow)
    // a CoW pass over the dv'd dirs folds first: no resurrection
    vt.update(col("k") < 50L, Map("p" -> lit(7.0)))
    assert(vt.read().count() === 200)
    assert(vt.read().filter(col("p") === 7.0).count() === 50)
    assert(vt.read().filter(col("p") === -5.0).count() === 15) // 100..190 %10
  }

  test("a dv update on a current-time condition hides and re-appends the same rows") {
    // Row k expires k ms after `start`: every job the update runs plans a
    // later current_timestamp() and sees more rows expired, so the hidden
    // rows and their appended images must come from one evaluation.
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    val n = 100000L
    vt.append(spark.range(0, n, 1, 2).select(col("id").as("k"), lit("live").as("state")))
    val start = System.currentTimeMillis() - 100L
    val v = vt.update(col("k") < unix_millis(current_timestamp()) - lit(start),
      Map("state" -> lit("expired")), useDeletionVectors = true)
    assert(vt.history().filter(col("version") === v).head.getString(1) === "update-dv")
    val rows = vt.read().collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("state")))
    assert(rows.length === n)
    assert(rows.map(_._1).distinct.length === n) // no row lost, none doubled
    val expired = rows.collect { case (k, "expired") => k }
    assert(expired.nonEmpty)
    assert(expired.max < rows.collect { case (k, "live") => k }.min) // one cut
    val ch = vt.changes(v, v)
    assert(ch.filter(col("_change_type") === "update_preimage").count() === expired.length)
    assert(ch.filter(col("_change_type") === "update_postimage").count() === expired.length)
  }

  test("DV-vs-rewrite policy: dominant matches rewrite; the threshold is tunable") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val before = dataFiles(dir)
    // 90% of the directory matches: an ever-growing sidecar would be
    // strictly worse than the rewrite — the engine rewrites
    vt.delete(col("k") < 90L, useDeletionVectors = true)
    assert(vt.history().orderBy("version").collect().map(_.getString(1)).last
      === "delete")
    assert(dataFiles(dir) !== before)
    assert(vt.read().count() === 10)
    assert(vt.dvsAt(vt.latestVersion).isEmpty)
    // with the threshold raised, the same shape commits a sidecar
    val dir2 = tmpVt()
    val vt2 = new graft.sources.VersionedTable(spark, dir2)
    vt2.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt2.setProperties(Map("graft.deletionVectors.maxFraction" -> "0.95"))
    val before2 = dataFiles(dir2)
    vt2.delete(col("k") < 90L, useDeletionVectors = true)
    assert(vt2.history().orderBy("version").collect().map(_.getString(1)).last
      === "delete-dv")
    assert(dataFiles(dir2) === before2)
    assert(vt2.read().count() === 10)
    // cumulative debt counts: a second small DV pushing PAST the
    // default threshold on vt's twin rewrites instead
    val dir3 = tmpVt()
    val vt3 = new graft.sources.VersionedTable(spark, dir3)
    vt3.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt3.delete(col("k") < 40L, useDeletionVectors = true)  // 0.40: DV
    assert(vt3.dvsAt(vt3.latestVersion).nonEmpty)
    vt3.delete(col("k") >= 80L, useDeletionVectors = true) // 0.40+0.20: rewrite
    assert(vt3.history().orderBy("version").collect().map(_.getString(1)).last
      === "delete")
    assert(vt3.dvsAt(vt3.latestVersion).isEmpty)
    assert(vt3.read().count() === 40)
  }

  test("DV mutations ride the disjoint-writer retry: non-matching appends pass, conflicts are loud") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    // a concurrent append of rows the condition CANNOT match lands
    // between the DV write and its publish: the retry proves
    // disjointness (exact scan of the winner's added dirs) and commits
    val racer = new graft.sources.VersionedTable(spark, dir)
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append((1000L until 1010L).map(k => (k, 0.0)).toDF("k", "p"))
    }
    vt.delete(col("k") < 10L, useDeletionVectors = true)
    assert(vt.history().orderBy("version").collect().map(_.getString(1)).toSeq
      === Seq("append", "append", "delete-dv"))
    assert(vt.read().count() === 100) // 90 survivors + 10 raced-in rows
    // a concurrent append of MATCHING data fails loudly — committing
    // the DV would silently miss rows the delete never saw
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((5L, 5.0)).toDF("k", "p")) // k=5 < 20: matches
    }
    val e = intercept[IllegalStateException] {
      vt.delete(col("k") < 20L, useDeletionVectors = true)
    }
    assert(e.getMessage.contains("may match"))
    // nothing half-committed: the loser's sidecar never published
    assert(vt.history().orderBy("version").collect().map(_.getString(1)).last
      === "append")
    assert(vt.read().filter(col("k") === 5L).count() === 1)
    // the same rules hold for the DV update
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append((2000L until 2005L).map(k => (k, 0.0)).toDF("k", "p"))
    }
    vt.update(col("k") === 15L, Map("p" -> lit(-9.0)),
      useDeletionVectors = true)
    assert(vt.history().orderBy("version").collect().map(_.getString(1)).last
      === "update-dv")
    assert(vt.read().filter(col("p") === -9.0).count() === 1)
  }

  test("a concurrent DV attachment to a read directory conflicts loudly; disjoint DVs retry through") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))   // dir A
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p")) // dir B
    val racer = new graft.sources.VersionedTable(spark, dir)
    // CASE 1: a racing DV DELETE on the SAME directory this copy-on-
    // write delete read must fail loudly — the loser's rewrite was
    // computed from the pre-DV fold and would resurrect the winner's
    // deleted rows.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.delete(col("k") < 5L, useDeletionVectors = true) // DV on dir A
    }
    val e1 = intercept[IllegalStateException] {
      vt.delete(col("k") < 10L) // CoW, touches dir A
    }
    assert(e1.getMessage.contains("deletion vector"))
    // the winner's DV held: k < 5 stays hidden, nothing resurrected
    assert(vt.read().count() === 195)
    // CASE 2: two racing DV mutations on ONE directory must not both
    // commit — dvRowsByDir would double-count and COUNT(*) would lie.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.delete(col("k") >= 20L && col("k") < 25L,
        useDeletionVectors = true) // second DV, also dir A
    }
    val e2 = intercept[IllegalStateException] {
      vt.delete(col("k") >= 10L && col("k") < 15L,
        useDeletionVectors = true) // DV, dir A
    }
    assert(e2.getMessage.contains("deletion vector"))
    assert(vt.read().count() === 190) // 5 + 5 hidden, loser never landed
    assert(vt.fastCount() === Some(190L)) // metadata count stays exact
    // CASE 3: a racing DV on a DISJOINT directory retries through —
    // the overwhelmingly common case, no spurious failure.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.delete(col("k") >= 190L, useDeletionVectors = true) // dir B
    }
    vt.delete(col("k") < 30L, useDeletionVectors = true) // dir A only
    assert(vt.read().count() === 160) // 30 + 10 hidden across both dirs
    assert(vt.fastCount() === Some(160L))
    // CASE 4: a concurrent RESTORE resets the DV map — unprovable,
    // loud.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.restore(2)
    }
    val e3 = intercept[IllegalStateException] {
      vt.delete(col("k") === 50L, useDeletionVectors = true)
    }
    assert(e3.getMessage.contains("reset"))
  }

  test("restore rolls the DV state back with the data") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 40L).map(k => (k, "a")).toDF("k", "s")) // v0
    vt.delete(col("k") < 10L, useDeletionVectors = true)        // v1: 30 rows
    vt.delete(col("k") >= 30L, useDeletionVectors = true)       // v2: 20 rows
    assert(vt.read().count() === 20)
    vt.restore(1)                                               // v3 = v1 state
    assert(vt.read().count() === 30)
    assert(vt.fastCount() === Some(30L))
    vt.restore(0)                                               // v4 = no DVs
    assert(vt.read().count() === 40)
    assert(vt.dvsAt(vt.latestVersion).isEmpty)
    assert(vt.fastNonNullCount("k") === Some(40L))
  }

  test("a STRUCT-projecting DV'd read stays columnar and exact (selection views, not row fall-off)") {
    // pre-r15 any nested type in the projection dropped the WHOLE
    // batch — clean majority included — onto the row path
    // (all-or-nothing columnarOk); the zero-copy selection view reads
    // every type, so only the parquet reader's own nested-columnar
    // support decides
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 300L).map(k => (k, (k * 2, s"s$k"), Seq(k, k + 1)))
      .toDF("k", "st", "arr")
      .withColumn("mp", org.apache.spark.sql.functions.map(lit("a"), col("k"))))
    vt.delete(col("k") % 3L === 1L, useDeletionVectors = true)
    val t = spark.read.format("graftvt").load(dir)
    val q = t.select("k", "st", "arr").filter(col("k") < 250L)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.supportsColumnar,
      "nested projection must keep the DV'd scan columnar")
    val rows = q.collect().map(r => (r.getLong(0),
      r.getStruct(1).getLong(0), r.getStruct(1).getString(1),
      r.getSeq[Long](2).toList)).sortBy(_._1)
    val want = (0L until 250L).filter(_ % 3 != 1)
      .map(k => (k, k * 2, s"s$k", List(k, k + 1)))
    assert(rows.toList === want.toList)
    // a STORED map column rides the same view
    val m = t.select("k", "mp").filter(col("k") < 9L)
      .collect().map(r => (r.getLong(0), r.getMap[String, Long](1)("a")))
      .sortBy(_._1).toList
    assert(m === (0L until 9L).filter(_ % 3 != 1).map(k => (k, k)).toList)
  }

  test("bitmap codec roundtrips, unions, and rejects foreign bytes") {
    import graft.sources.GraftDvBitmap
    def rt(a: Array[Long]): Array[Long] = {
      val bos = new java.io.ByteArrayOutputStream()
      GraftDvBitmap.encode(a, new java.io.DataOutputStream(bos))
      GraftDvBitmap.decode(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray)))
    }
    assert(rt(Array.emptyLongArray) === Array.emptyLongArray)
    val dense = Array.tabulate(10000)(_.toLong * 3)
    assert(rt(dense) === dense)
    val sparse = Array(0L, 127L, 128L, 1L << 20, 1L << 45, Long.MaxValue - 1)
    assert(rt(sparse) === sparse)
    assert(GraftDvBitmap.union(Seq(Array(1L, 5L, 9L), Array(5L, 7L),
      Array.emptyLongArray)) === Array(1L, 5L, 7L, 9L))
    intercept[Exception] {
      GraftDvBitmap.decode(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream("PAR1nope".getBytes)))
    }
  }

  test("coalesceDv merges stacked sidecars metadata-only: k sidecars become 1, reads identical") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 200L).map(k => (k, k * 1.0)).toDF("k", "p")) // v0
    vt.delete(col("k") < 20L, useDeletionVectors = true)             // v1
    vt.delete(col("k") >= 180L, useDeletionVectors = true)           // v2
    vt.delete(col("k") % 50L === 25L, useDeletionVectors = true)     // v3
    val theDir = vt.dvsAt(3).keys.head
    assert(vt.dvsAt(3)(theDir).size === 3)
    val before = vt.read().orderBy("k").collect().map(_.getLong(0)).toSeq
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    val v = vt.coalesceDv()
    assert(v === 4)
    assert(vt.history().orderBy("version").collect().last
      .getAs[String]("op") === "coalesce-dv")
    // ONE sidecar now serves the directory; rows, metadata count, and
    // the vectorized read are unchanged; data files untouched
    assert(vt.dvsAt(4)(theDir).size === 1)
    assert(vt.read().orderBy("k").collect().map(_.getLong(0)).toSeq === before)
    assert(vt.fastCount() === Some(before.size.toLong))
    dataFiles.foreach { case (p, ts) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.lastModified() === ts, s"rewritten: $p")
    }
    // time travel pre-coalesce still reads the ORIGINAL sidecars
    assert(spark.read.format("graftvt").option("versionAsOf", 3).load(dir)
      .count() === before.size.toLong)
    // the coalesce emits no row changes
    assert(vt.changes(4, 4).count() === 0L)
    // idempotent: a second sweep finds nothing to merge
    assert(vt.coalesceDv() === 4)
  }

  test("a pre-bitmap (positions parquet) sidecar fails loudly, never as an empty hidden set") {
    val dir = java.nio.file.Files.createTempDirectory("vt_dv_oldfmt").toString
    val fake = new java.io.File(dir, "dv-v00001-deadbeef")
    fake.mkdirs()
    java.nio.file.Files.write(fake.toPath.resolve("part-00000.parquet"),
      "PAR1".getBytes)
    val e = intercept[IllegalArgumentException] {
      graft.sources.GraftDvBitmap.listBitmaps(spark,
        new org.apache.hadoop.fs.Path(dir), Seq("dv-v00001-deadbeef"))
    }
    assert(e.getMessage.contains("pre-bitmap"))
  }

  test("a live sidecar missing on disk fails loudly, never as an empty hidden set") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p")) // v0
    vt.delete(col("k") < 7L, useDeletionVectors = true)              // v1
    val sc = vt.dvsAt(1).values.flatten.head
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root, sc), true)
    val fresh = new graft.sources.VersionedTable(spark, dir)
    val e = intercept[IllegalStateException] { fresh.read().count() }
    assert(e.getMessage.contains(sc) && e.getMessage.contains("missing on disk"))
    // collect, not count: COUNT(*) is answered from the log alone
    val e2 = intercept[IllegalStateException] {
      spark.read.format("graftvt").load(dir).collect()
    }
    assert(e2.getMessage.contains(sc))
  }

  test("an in-flight DV mutation retries THROUGH a concurrent coalesce-dv (maintenance never kills writers)") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 200L).map(k => (k, k * 1.0)).toDF("k", "p")) // v0
    vt.delete(col("k") < 10L, useDeletionVectors = true)             // v1
    vt.delete(col("k") >= 190L, useDeletionVectors = true)           // v2
    val racer = new graft.sources.VersionedTable(spark, dir)
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      assert(racer.coalesceDv() === 3) // wins the slot mid-flight
    }
    // loses slot 3, retries, commits at 4 — NOT the loud dvReset abort
    val v = vt.delete(col("k") === 100L, useDeletionVectors = true)
    assert(v === 4)
    assert(vt.read().count() === 179)
    assert(vt.fastCount() === Some(179L))
  }

  test("opt-in auto-coalesce: a delete stream keeps sidecars bounded, zero manual calls") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 400L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.setProperties(Map("graft.autoCoalesce.minSidecars" -> "2"))
    // four DV deletes: every time a directory stacks 2 sidecars, the
    // post-commit hook coalesces them in the same session
    (0L until 4L).foreach(i =>
      vt.delete(col("k") === i, useDeletionVectors = true))
    val dvs = vt.dvsAt(vt.latestVersion)
    assert(dvs.values.forall(_.distinct.size <= 1),
      s"sidecars not bounded: $dvs")
    assert(vt.history().filter(col("op") === "coalesce-dv").count() >= 2)
    assert(vt.read().count() === 396)
    assert(vt.fastCount() === Some(396L))
    // without the property nothing triggers (the default is manual)
    val dir2 = tmpVt()
    val vt2 = new graft.sources.VersionedTable(spark, dir2)
    vt2.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    (0L until 3L).foreach(i =>
      vt2.delete(col("k") === i, useDeletionVectors = true))
    assert(vt2.dvsAt(vt2.latestVersion).values.head.distinct.size === 3)
  }

  test("opt-in auto-optimize: DV debt past the fraction threshold is rewritten away") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.setProperties(Map("graft.autoOptimize.dvFraction" -> "0.3"))
    // 20% hidden: below the threshold, the debt stays
    val v1 = vt.delete(col("k") < 20L, useDeletionVectors = true)
    assert(vt.dvsAt(vt.latestVersion).nonEmpty)
    assert(vt.latestVersion === v1) // no maintenance commit happened
    // cumulative 35%: the post-commit hook rewrites the debt away
    vt.delete(col("k") >= 85L, useDeletionVectors = true)
    assert(vt.dvsAt(vt.latestVersion).isEmpty, "debt not cleared")
    assert(vt.history().filter(col("op") === "optimize").count() === 1)
    assert(vt.read().orderBy("k").collect().map(_.getLong(0)).toSeq
      === (20L until 85L))
    assert(vt.fastCount() === Some(65L))
    // a triggered optimize never cascades more maintenance commits:
    // exactly delete, delete(+dv), optimize beyond the property commit
    assert(vt.history().count() === 5) // append, props, dv, dv, optimize
  }

  test("auto-maintenance losing its race never fails the committed mutation") {
    val dir = tmpVt()
    // a coalesce that ALWAYS loses (simulated race loss — conflicts are
    // GraftConflictException by contract): the hook must swallow it —
    // the user's delete already committed
    val vt = new graft.sources.VersionedTable(spark, dir) {
      override def coalesceDv(minSidecars: Int, maxRetries: Int): Int =
        throw new graft.sources.GraftConflictException(
          "simulated lost maintenance race")
    }
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.setProperties(Map("graft.autoCoalesce.minSidecars" -> "2"))
    (0L until 3L).foreach(i =>
      vt.delete(col("k") === i, useDeletionVectors = true))
    // every delete committed; the sidecars simply stayed stacked
    assert(vt.read().count() === 97)
    assert(vt.dvsAt(vt.latestVersion).values.head.distinct.size === 3)
  }

  test("a NON-conflict maintenance failure propagates distinctly — and the mutation stays committed") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.setProperties(Map("graft.autoCoalesce.minSidecars" -> "2"))
    // a genuine invariant violation inside the hook must surface —
    // never silently dropped like a race loss — but as the dedicated
    // post-commit type (NOT an IllegalStateException a retry loop
    // could mistake for a slot conflict), carrying the committed
    // version so the caller knows NOT to re-run the mutation
    vt.autoMaintainFault =
      () => throw new RuntimeException("injected invariant violation")
    val e = intercept[graft.sources.GraftPostCommitMaintenanceException] {
      vt.delete(col("k") === 0L, useDeletionVectors = true)
    }
    vt.autoMaintainFault = () => ()
    assert(e.getMessage.contains("COMMITTED"))
    assert(e.committedVersion === vt.latestVersion)
    // the delete is durably in the log, applied exactly once
    assert(vt.read().count() === 99)
    assert(vt.history().orderBy(org.apache.spark.sql.functions.desc("version"))
      .head.getString(1) === "delete-dv")
    // ...and a conflict-typed fault from the same seam stays silent
    vt.autoMaintainFault = () => throw new graft.sources.GraftConflictException(
      "injected race loss")
    assert(vt.delete(col("k") === 1L, useDeletionVectors = true) ===
      vt.latestVersion)
    assert(vt.read().count() === 98)
  }

  test("OPTIMIZE ... WHERE __dv_sidecars >= n drives coalesceDv through SQL") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.delete(col("k") < 5L, useDeletionVectors = true)
    vt.delete(col("k") >= 95L, useDeletionVectors = true)
    val d = vt.dvsAt(2).keys.head
    assert(vt.dvsAt(2)(d).size === 2)
    // below the threshold: committed version unchanged, nothing merged
    val none = spark.sql(s"OPTIMIZE '$dir' WHERE __dv_sidecars >= 3").head
    assert(none.getInt(0) === 2 && none.getInt(1) === 0)
    val got = spark.sql(s"OPTIMIZE '$dir' WHERE __dv_sidecars >= 2").head
    assert(got.getInt(0) === 3 && got.getInt(1) === 1)
    assert(vt.dvsAt(3)(d).size === 1)
    assert(vt.read().count() === 90)
  }

  /** Inputs a per-file fold can get wrong — (case, SQL conf held while
    * the checks run, DV deletes of `k % m == r` as (m, r), rename the
    * value column). Every case starts from ONE data file of 4,000 rows
    * sorted by `k` in several row groups, so a pushed-down `k` bound
    * skips whole row groups and the row index must stay the position
    * in the file, not in what the scan returned.
    */
  private val foldCases: Seq[(String, Map[String, String], Seq[(Long, Long)], Boolean)] = Seq(
    ("a file of several row groups read under a pushed-down predicate",
      Map.empty, Seq((7L, 3L)), false),
    ("a file split across tasks",
      Map("spark.sql.files.maxPartitionBytes" -> "2048"), Seq((7L, 3L)), false),
    ("one file hidden by two sidecars", Map.empty, Seq((7L, 3L), (11L, 5L)), false),
    ("a renamed column and mergeSchema reads", Map.empty, Seq((7L, 3L)), true))

  for ((name, conf, hides, rename) <- foldCases)
    test(s"per-file DV fold, $name: readAt, changes, dv update and mergeClauses match the model") {
      import graft.sources.{MergeAction, MergeClause}
      val dir = tmpVt()
      val vt = new graft.sources.VersionedTable(spark, dir)
      spark.conf.set("parquet.block.size", "4096")
      try vt.append(spark.range(0L, 4000L, 1L, 1)
        .select(col("id").as("k"), (col("id") * 1.0).as("p")))
      finally spark.conf.unset("parquet.block.size")
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      val rowGroups = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
        try r.getRowGroups.size finally r.close()
      }
      assert(rowGroups.toSeq.size === 1 && rowGroups.head >= 3, rowGroups.toSeq)
      def op(v: Int): String = vt.history().filter(col("version") === v).head.getString(1)
      var model = (0L until 4000L).map(k => k -> k * 1.0).toMap
      hides.foreach { case (m, r) =>
        assert(op(vt.delete(col("k") % m === r, useDeletionVectors = true)) === "delete-dv")
        model = model.filter { case (k, _) => k % m != r }
      }
      assert(vt.dvsAt(vt.latestVersion).values.map(_.size).toSeq === Seq(hides.size))
      val vc = if (rename) { vt.renameColumn("p", "q"); "q" } else "p"
      def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
        df.select(col("k"), col(vc)).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        assert(rows(vt.readAt(vt.latestVersion)) === model)
        assert(rows(vt.readAt(vt.latestVersion).filter(col("k") >= 2500L)) ===
          model.filter(_._1 >= 2500L))
        // the update's discovery scan pushes the same kind of bound
        val vu = vt.update(col("k") >= 3000L && col("k") % 5 === 0L,
          Map(vc -> (col(vc) + lit(0.5))), useDeletionVectors = true)
        assert(op(vu) === "update-dv")
        model = model.map { case (k, x) => k -> (if (k >= 3000L && k % 5 == 0) x + 0.5 else x) }
        assert(rows(vt.readAt(vu)) === model)
        val vm = vt.mergeClauses((1000L until 1100L).map(k => (k, -1.0 * k)).toDF("k", vc),
          Seq("k"), Seq(MergeClause(None, MergeAction.Update(None))),
          Seq(MergeClause(None, MergeAction.Insert(None))), useDeletionVectors = true)
        assert(op(vm) === "merge-dv")
        model = model ++ (1000L until 1100L).map(k => k -> -1.0 * k)
        assert(rows(vt.readAt(vm)) === model)
        // a copy-on-write update removes the DV'd directory: the change
        // feed synthesizes its delete images from a folded read of it
        val before = model
        val vw = vt.update(col("k") < 100L, Map(vc -> lit(0.0)))
        assert(op(vw) === "update")
        model = model.map { case (k, x) => k -> (if (k < 100L) 0.0 else x) }
        assert(rows(vt.readAt(vw)) === model)
        val feed = vt.changes(vw, vw)
        val deleted = rows(feed.filter(col("_change_type") === "delete"))
        val inserted = rows(feed.filter(col("_change_type") === "insert"))
        assert(deleted.forall { case (k, x) => before.get(k).contains(x) })
        assert(before -- deleted.keys ++ inserted === model)
      } finally conf.keys.foreach(spark.conf.unset)
    }
}
