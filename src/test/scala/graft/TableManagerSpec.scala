package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableManager

class TableManagerSpec extends SparkSuite {
  import spark.implicits._

  lazy val tables = new TableManager(spark)

  test("append creates then accumulates; partition pruning works") {
    val d1 = Seq((1L, "2025-01-01"), (2L, "2025-01-01")).toDF("id", "d")
      .withColumn("d", col("d").cast("date"))
    val d2 = Seq((3L, "2025-01-02")).toDF("id", "d")
      .withColumn("d", col("d").cast("date"))
    tables.append(d1, "tm_append", Seq("d"))
    tables.append(d2, "tm_append", Seq("d"))
    assert(spark.table("tm_append").count() === 3)
    // partition filter prunes: only one partition dir scanned
    val pruned = spark.table("tm_append").filter(col("d") === lit("2025-01-02").cast("date"))
    assert(pruned.count() === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("PartitionFilters: []"))
  }

  test("insertInto appends by position") {
    val d = Seq((10L, "x")).toDF("id", "s")
    tables.overwrite(d, "tm_insert")
    tables.insertInto(Seq((11L, "y")).toDF("id", "s"), "tm_insert")
    assert(spark.table("tm_insert").count() === 2)
  }

  test("create from StructType via DDL; exists reflects catalog") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType), StructField("d", DateType)))
    assert(!tables.exists("tm_ddl"))
    tables.create("tm_ddl", schema, partitionBy = Seq("d"))
    assert(tables.exists("tm_ddl"))
    assert(tables.schemaOf("tm_ddl").fieldNames.toSet === Set("k", "v", "d"))
  }

  test("alignToSchema pads missing columns with typed nulls and reorders") {
    val target = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType), StructField("c", StringType)))
    val df = Seq((1.5, 7L)).toDF("b", "a") // wrong order, no c
    val aligned = tables.alignToSchema(df, target)
    assert(aligned.columns.toSeq === Seq("a", "b", "c"))
    val row = aligned.collect()(0)
    assert(row.getLong(0) === 7L && row.getDouble(1) === 1.5 && row.isNullAt(2))
  }

  test("appendEvolving widens the table when new columns arrive") {
    tables.overwrite(Seq((1L, 2.0)).toDF("id", "v"), "tm_evolve")
    tables.appendEvolving(Seq((2L, 3.0, "new")).toDF("id", "v", "extra"), "tm_evolve")
    val t = spark.table("tm_evolve")
    assert(t.count() === 2)
    assert(t.columns.contains("extra"))
    assert(t.filter(col("id") === 1L).collect()(0).isNullAt(t.columns.indexOf("extra")))
    // old-schema write still appends (missing col → null)
    tables.appendEvolving(Seq((3L, 4.0)).toDF("id", "v"), "tm_evolve")
    assert(spark.table("tm_evolve").count() === 3)
  }

  test("appendEvolving widens incoming narrower numerics losslessly") {
    tables.overwrite(Seq((1L, 2.0)).toDF("id", "v"), "tm_widen") // id: long, v: double
    val narrow = Seq((2, 3.5f)).toDF("id", "v") // int arrives where long lives; float where double
    tables.appendEvolving(narrow, "tm_widen")
    val t = spark.table("tm_widen")
    assert(t.schema("id").dataType === LongType && t.schema("v").dataType === DoubleType)
    assert(t.filter(col("id") === 2L).collect()(0).getDouble(1) === 3.5)
  }

  test("appendEvolving refuses narrowing and reinterpreting casts loudly") {
    tables.overwrite(Seq((1, 2.0f)).toDF("id", "v"), "tm_narrow") // id: int, v: float
    // long into int would truncate row-by-row; double into float loses
    // mantissa — both must fail BEFORE any file is written.
    val wide = Seq((5000000000L, 3.0)).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      tables.appendEvolving(wide, "tm_narrow")
    }
    assert(e.getMessage.contains("narrow") && e.getMessage.contains("id"))
    assert(spark.table("tm_narrow").count() === 1, "failed append must not write")
    // Cross-family reinterpretation (string where a numeric lives) is
    // schema drift, not evolution — same loud failure.
    val drift = Seq(("oops", 1.0f)).toDF("id", "v")
    intercept[IllegalStateException] {
      tables.appendEvolving(drift, "tm_narrow")
    }
  }

  test("filesPerPartition salts an oversized partition over parallel write tasks") {
    def filesIn(table: String, sub: String): Int = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location.getPath
      Option(new java.io.File(loc, sub).listFiles()).toSeq.flatten
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    // 10k rows, ALL in one partition value — the hot-day shape.
    val hot = spark.range(10000).select(col("id"), lit("d1").as("p"))
    tables.append(hot, "tm_salt_default", Seq("p"))
    assert(filesIn("tm_salt_default", "p=d1") === 1) // aligned write: one task, one file
    // At test scale AQE would legitimately coalesce the four tiny salt
    // buckets back into one task (they're all far below the advisory
    // size — exactly the right call for genuinely-small partitions).
    // Shrink the advisory size so the buckets count as full, the way a
    // genuinely oversized partition's would.
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "1KB"))
      tables.append(hot, "tm_salt_4", Seq("p"), filesPerPartition = 4)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(filesIn("tm_salt_4", "p=d1") >= 2,
      "salted write should spread the hot partition over multiple files")
    assert(filesIn("tm_salt_4", "p=d1") <= 4)
    assert(spark.table("tm_salt_4").count() === 10000)
  }

  test("appendEvolving widens metadata-only: pre-existing files are never rewritten") {
    def dataFiles(table: String): Map[String, (Long, Long)] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location.getPath
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(loc))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    tables.overwrite(Seq((1L, 2.0)).toDF("id", "v"), "tm_evolve_meta")
    val before = dataFiles("tm_evolve_meta")
    assert(before.nonEmpty)
    tables.appendEvolving(Seq((2L, 3.0, "new")).toDF("id", "v", "extra"), "tm_evolve_meta")
    val after = dataFiles("tm_evolve_meta")
    // Every old file still there, same mtime and size — the widening
    // only paid for the new files plus a catalog update.
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file was rewritten: $p")
    }
    assert(after.size > before.size)
    // Old rows scan as null in the added column; new rows carry it.
    val t = spark.table("tm_evolve_meta")
    assert(t.filter(col("id") === 1L).collect()(0).isNullAt(t.columns.indexOf("extra")))
    assert(t.filter(col("id") === 2L).collect()(0)
      .getString(t.columns.indexOf("extra")) === "new")
    // rewriteHistory = true still produces the same table content.
    tables.overwrite(Seq((1L, 2.0)).toDF("id", "v"), "tm_evolve_rw")
    tables.appendEvolving(Seq((2L, 3.0, "new")).toDF("id", "v", "extra"), "tm_evolve_rw",
      rewriteHistory = true)
    val a = spark.table("tm_evolve_meta").orderBy("id").collect().map(_.toSeq)
    val b = spark.table("tm_evolve_rw").orderBy("id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("appendEvolving widens a db-qualified table name") {
    // The ALTER path must quote name parts separately — `db.tbl` as a
    // single backticked identifier is "table not found".
    tables.overwrite(Seq((1L, 2.0)).toDF("id", "v"), "default.tm_evolve_q")
    tables.appendEvolving(Seq((2L, 3.0, "x")).toDF("id", "v", "extra"),
      "default.tm_evolve_q")
    assert(spark.table("default.tm_evolve_q").columns.contains("extra"))
    assert(spark.table("default.tm_evolve_q").count() === 2)
  }

  test("appendEvolving widens a PARTITIONED table in place") {
    tables.append(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), "tm_evolve_part",
      partitionBy = Seq("p"))
    tables.appendEvolving(Seq((3L, 9.5, "a")).toDF("id", "score", "p"), "tm_evolve_part",
      partitionBy = Seq("p"))
    val t = spark.table("tm_evolve_part")
    // Added data column sits before the partition column in the schema
    // and old rows read as null.
    assert(t.columns.toSeq === Seq("id", "score", "p"))
    assert(t.count() === 3)
    assert(t.filter(col("id") === 3L).collect()(0).getDouble(1) === 9.5)
    assert(t.filter(col("id") === 1L).collect()(0).isNullAt(1))
  }

  test("alignToSchemaRenamed matches renamed columns by token multiset") {
    val target = StructType(Seq(
      StructField("avg_x", DoubleType), StructField("n", LongType),
      StructField("missing", StringType)))
    // x_avg should rename to avg_x; junk is an extra with no match → dropped
    val df = Seq((1.5, 7L, "z")).toDF("x_avg", "n", "junk")
    val aligned = tables.alignToSchemaRenamed(df, target)
    assert(aligned.columns.toSeq === Seq("avg_x", "n", "missing"))
    val row = aligned.collect()(0)
    assert(row.getDouble(0) === 1.5 && row.getLong(1) === 7L && row.isNullAt(2))
    // exact-name match always wins over a rename candidate
    val both = Seq((1.0, 2.0)).toDF("avg_x", "x_avg")
    assert(tables.alignToSchemaRenamed(both,
      StructType(Seq(StructField("avg_x", DoubleType)))).collect()(0).getDouble(0) === 1.0)
    // two missing targets sharing one token key: NEITHER may claim the
    // single source column (no silent data duplication)
    val ambiguous = tables.alignToSchemaRenamed(
      Seq(Tuple1(5.0)).toDF("b__a"),
      StructType(Seq(StructField("a_b", DoubleType), StructField("b_a", DoubleType))))
    val arow = ambiguous.collect()(0)
    assert(arow.isNullAt(0) && arow.isNullAt(1))
  }

  test("ensureTable: creates, no-ops on compatible, repairs on incompatible") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    assert(tables.ensureTable("tm_ensure", schema) === true)   // created
    tables.insertInto(Seq((1L, 2.0)).toDF("k", "v"), "tm_ensure")
    assert(tables.ensureTable("tm_ensure", schema) === false)  // compatible: kept
    assert(spark.table("tm_ensure").count() === 1)
    val changed = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    assert(tables.ensureTable("tm_ensure", changed) === true)  // repaired: dropped+recreated
    assert(spark.table("tm_ensure").count() === 0)
    assert(tables.schemaOf("tm_ensure")("v").dataType === StringType)
    intercept[IllegalStateException] {
      tables.ensureTable("tm_ensure", schema, repair = false)
    }
  }

  test("permanent view reads through the catalog and survives table rewrites") {
    tables.overwrite(Seq((1L, 10.0), (2L, 0.5)).toDF("id", "score"), "tm_viewbase")
    tables.createOrReplaceView("tm_view", "SELECT id, score FROM tm_viewbase WHERE score > 1")
    assert(spark.table("tm_view").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(spark.catalog.tableExists("tm_view"))
    // view tracks the table: rewrite the base, view reflects it
    tables.overwrite(Seq((3L, 5.0)).toDF("id", "score"), "tm_viewbase")
    assert(spark.table("tm_view").collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("overwritePartitions replaces only the partitions present in df") {
    val d = (v: String, day: String) => Seq((v, day)).toDF("v", "d")
      .withColumn("d", col("d").cast("date"))
    tables.append(d("a1", "2025-01-01"), "tm_dynpart", Seq("d"))
    tables.append(d("b1", "2025-01-02"), "tm_dynpart", Seq("d"))
    // re-ingest day 1 with new content: day 1 replaced, day 2 untouched
    tables.overwritePartitions(d("a2", "2025-01-01"), "tm_dynpart", Seq("d"))
    val r = spark.table("tm_dynpart").orderBy("d").collect()
      .map(x => (x.getString(0), x.getDate(1).toString)).toSeq
    assert(r === Seq(("a2", "2025-01-01"), ("b1", "2025-01-02")))
    // idempotent: same call again changes nothing
    tables.overwritePartitions(d("a2", "2025-01-01"), "tm_dynpart", Seq("d"))
    assert(spark.table("tm_dynpart").count() === 2)
  }

  test("upsert replaces matching keys, keeps the rest, appends new") {
    tables.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "tm_upsert")
    tables.upsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "tm_upsert", keys = Seq("k"))
    val r = spark.table("tm_upsert").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(r === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // idempotent: same upsert again changes nothing
    tables.upsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "tm_upsert", keys = Seq("k"))
    assert(spark.table("tm_upsert").count() === 3)
  }

  test("describeDetail reports files, bytes, schema, and partitioning") {
    val df = Seq((1L, "a", "2025-01-01"), (2L, "b", "2025-01-02")).toDF("id", "s", "d")
    tables.overwrite(df, "tm_detail", partitionBy = Seq("d"))
    val r = tables.describeDetail("tm_detail").collect()(0)
    assert(r.getAs[String]("table_name") === "tm_detail")
    assert(r.getAs[Long]("num_files") >= 2)     // one file per partition dir
    assert(r.getAs[Long]("size_bytes") > 0)
    assert(r.getAs[String]("partition_columns") === "d")
    assert(r.getAs[String]("schema").contains("id:bigint"))
  }

  test("compact reduces file count and clusters rows") {
    val df = spark.range(1000).withColumn("v", rand(7)).repartition(8)
    tables.overwrite(df, "tm_compact")
    tables.compact("tm_compact", numFiles = 1, clusterBy = Seq("v"))
    assert(spark.table("tm_compact").count() === 1000)
    val files = spark.table("tm_compact").inputFiles
    assert(files.length === 1)
  }

  test("compactToBytes derives the file count from table bytes") {
    val df = spark.range(3000).withColumn("v", rand(11)).repartition(8)
    tables.overwrite(df, "tm_compact_bytes")
    val bytes = tables.describeDetail("tm_compact_bytes")
      .select("size_bytes").head.getLong(0)
    // ceil(b / ceil(b/3)) = 3 for any b >= 3
    val derived = tables.compactToBytes("tm_compact_bytes", (bytes + 2) / 3)
    assert(derived === 3)
    assert(spark.table("tm_compact_bytes").inputFiles.length === 3)
    assert(spark.table("tm_compact_bytes").count() === 3000)
    // a target larger than the table compacts to one file
    assert(tables.compactToBytes("tm_compact_bytes", bytes * 10) === 1)
    assert(spark.table("tm_compact_bytes").inputFiles.length === 1)
  }

  test("overwritePartitions is dynamic even when the frame belongs to another session") {
    // foreachBatch hands TableManager a frame bound to the streaming
    // engine's CLONED session; the dynamic-overwrite conf must follow
    // the FRAME's session or the write silently runs static and an
    // empty/partial batch wipes unrelated partitions. newSession()
    // shares the catalog but isolates conf — the same shape.
    tables.overwrite(
      Seq((1L, "p0"), (2L, "p1")).toDF("k", "p"), "tm_xsession", partitionBy = Seq("p"))
    val other = spark.newSession()
    import other.implicits._
    val foreign = Seq((9L, "p1")).toDF("k", "p")
    assert(foreign.sparkSession ne spark)
    tables.overwritePartitions(foreign, "tm_xsession", Seq("p"))
    // p0 must survive; p1 is replaced
    val rows = spark.table("tm_xsession").select("k", "p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "p0"), (9L, "p1")))
  }

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_spec").toString

  test("versioned table: append extends history, overwrite resets, readAt time-travels") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    assert(vt.latestVersion === -1)
    assert(vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s")) === 0)
    assert(vt.append(Seq((3L, "c")).toDF("k", "s")) === 1)
    assert(vt.overwrite(Seq((9L, "z")).toDF("k", "s")) === 2)
    assert(vt.readAt(0).count() === 2)
    assert(vt.readAt(1).count() === 3)
    assert(vt.readAt(2).collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(vt.read().count() === 1) // latest
    val hist = vt.history().orderBy("version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(hist.toSeq === Seq((0, "append", 2L, 1), (1, "append", 1L, 2),
      (2, "overwrite", 1L, 1)))
    // An append is metadata + its own files only: v1's payload dir
    // holds just the 1 new row (no snapshot copy of v0).
    val v1Dir = new java.io.File(dir).listFiles()
      .find(_.getName.startsWith("v00001-")).get
    assert(spark.read.parquet(v1Dir.toString).count() === 1)
  }

  test("versioned table: old versions keep their schema; evolution widens later reads") {
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.append(Seq((2L, "b", 0.5)).toDF("k", "s", "score"))
    assert(vt.readAt(0).columns.toSeq === Seq("k", "s"))
    val now = vt.read()
    assert(now.columns.toSet === Set("k", "s", "score"))
    // the pre-evolution row pads null
    assert(now.filter(col("k") === 1L).select("score").head.isNullAt(0))
  }

  test("versioned table: crash leftovers are invisible; racing commits get one winner") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    // Crash artifacts: an orphan data dir (payload written, manifest
    // never published) and a .tmp manifest — neither may change what
    // readers see; vacuum reclaims the orphan.
    val orphan = java.nio.file.Paths.get(dir, "v00001-deadbeef")
    java.nio.file.Files.createDirectory(orphan)
    java.nio.file.Files.write(orphan.resolve("garbage"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_log", "00000001.json.tmp"),
      "{not json".getBytes)
    assert(vt.latestVersion === 0)
    assert(vt.append(Seq((2L, "b")).toDF("k", "s")) === 1)
    assert(vt.read().count() === 2)
    assert(vt.vacuum(keepLast = 10) === 1) // exactly the orphan
    // the crashed commit's .tmp manifest is swept too (its target slot
    // 00000001 was decided by the successful append above)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_graft_log", "00000001.json.tmp")))
    assert(vt.read().count() === 2)
    // TWO writers race the same next version: exactly one publishes,
    // the loser fails loudly (its unique payload dir means neither can
    // clobber the other's data — only the manifest rename arbitrates).
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        val d = Seq((10L + i, s"race$i")).toDF("k", "s")
        barrier.await()
        try vt.append(d)
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.size === 1, s"exactly one racer must lose: $errors")
    assert(errors.peek().isInstanceOf[IllegalStateException])
    assert(errors.peek().getMessage.contains("concurrent commit"))
    assert(vt.latestVersion === 2)
    assert(vt.read().count() === 3) // prior 2 + the single winner
  }

  test("versioned table: appendWithRetry gives every concurrent writer a commit") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append(Seq((0L, "base")).toDF("k", "s"))
    val writers = 4
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        val d = Seq((100L + i, s"w$i")).toDF("k", "s")
        barrier.await()
        try versions.add(vt.appendWithRetry(d))
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"all writers must eventually commit: $errors")
    // Four distinct versions, 1..4 in some order; every row present —
    // each retry re-read the winner's active set, so nothing clobbered.
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.map(_.toInt).toSet === Set(1, 2, 3, 4))
    assert(vt.latestVersion === 4)
    assert(vt.read().count() === 5)
    assert(vt.read().select("s").collect().map(_.getString(0)).toSet ===
      Set("base", "w0", "w1", "w2", "w3"))
  }

  test("versioned table: vacuum drops old manifests and unreferenced data") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))   // v0
    vt.overwrite(Seq((2L, "b")).toDF("k", "s")) // v1 — v0's dir now unreferenced by latest
    vt.append(Seq((3L, "c")).toDF("k", "s"))   // v2
    val removed = vt.vacuum(keepLast = 2) // keep v1, v2 → v00000 reclaimed
    assert(removed === 1)
    assert(vt.read().count() === 2)
    assert(vt.readAt(1).count() === 1)
    intercept[IllegalArgumentException] { vt.readAt(0) }
    // history lists only the surviving versions
    assert(vt.history().select("version").collect().map(_.getInt(0)).toSeq === Seq(1, 2))
  }

  test("appendVersioned bridges the managed path: racing appenders both commit, name reads latest") {
    val tbl = "tm_spec_versioned"
    val base = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl + "__versioned")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    val writers = 3
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        val d = Seq((i.toLong, s"writer$i")).toDF("k", "s")
        barrier.await()
        try tables.appendVersioned(d, tbl)
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"every racing appender must commit: $errors")
    tables.refreshVersioned(tbl)
    // The catalog name serves the union of all three commits.
    assert(spark.table(tbl).select("s").collect().map(_.getString(0)).toSet ===
      Set("writer0", "writer1", "writer2"))
    val vt = tables.versionedFor(tbl)
    assert(vt.latestVersion === 2)
    // A fourth, sequential append lands as v3 and the refreshed name
    // sees all four rows; earlier versions time-travel unchanged.
    tables.appendVersioned(Seq((9L, "late")).toDF("k", "s"), tbl)
    assert(spark.table(tbl).count() === 4)
    assert(vt.readAt(2).count() === 3)
    assert(vt.history().count() === 4)
  }

  test("data skipping: manifest stats prune directories a range predicate cannot touch") {
    val vt = tables.versioned(tmpVt())
    // three appends with disjoint key ranges + a string label
    vt.append((0L until 100L).map(i => (i, i / 10.0, s"a$i")).toDF("k", "x", "s"))
    vt.append((100L until 200L).map(i => (i, i / 10.0, s"b$i")).toDF("k", "x", "s"))
    vt.append((200L until 300L).map(i => (i, i / 10.0, s"c$i")).toDF("k", "x", "s"))
    // numeric range hitting only the middle directory
    val (kept, skipped) = vt.pruneActive("k", Some(120L), Some(180L))
    assert(kept.size === 1 && skipped.size === 2, s"$kept / $skipped")
    // pruned read + filter == full read + filter (superset guarantee)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("k").between(120, 180)).select("k").collect()
        .map(_.getLong(0)).toSet
    assert(rows(vt.readPruned("k", Some(120L), Some(180L))) === rows(vt.read()))
    // boundary inclusivity: a range touching a directory's max keeps it
    assert(vt.pruneActive("k", Some(99L), Some(99L))._1.size === 1)
    // fractional and string kinds prune too
    assert(vt.pruneActive("x", Some(25.0), None)._2.size === 2)
    assert(vt.pruneActive("s", Some("b"), Some("bzzz"))._1.size === 1)
    // string-vs-numeric bound mismatch fails loudly
    intercept[IllegalArgumentException] { vt.pruneActive("s", Some(5L), None) }
    // unknown column: everything kept (conservative)
    assert(vt.pruneActive("nope", Some(0L), None)._1.size === 3)
    // empty intersection: zero kept, readPruned returns an empty frame
    assert(vt.readPruned("k", Some(1000L), None).count() === 0)
    // overwrite drops removed directories' stats from the snapshot
    vt.overwrite((500L until 510L).map(i => (i, 0.0, "z")).toDF("k", "x", "s"))
    assert(vt.pruneActive("k", Some(0L), Some(300L))._1.isEmpty)
    assert(vt.pruneActive("k", Some(505L), None)._1.size === 1)
  }

  test("data skipping survives the checkpoint: stats ride the full-active-set snapshot") {
    val vt = new graft.sources.VersionedTable(spark, tmpVt(), checkpointInterval = 4)
    (0 until 9).foreach(i =>
      vt.append(Seq((i * 100L, (i * 100 + 99).toLong)).toDF("lo", "hi")
        .selectExpr("explode(sequence(lo, hi)) AS k")))
    // v8 resolves via the v8 checkpoint (interval 4) + 0 deltas; the
    // pruning index must still know every directory's bounds.
    val (kept, skipped) = vt.pruneActive("k", Some(250L), Some(260L))
    assert(kept.size === 1 && skipped.size === 8)
    assert(vt.readPruned("k", Some(250L), Some(260L))
      .filter(col("k").between(250, 260)).count() === 11)
  }

  test("optimize: one-commit range-chunked rewrite; pruning becomes tight afterwards") {
    val vt = tables.versioned(tmpVt())
    // interleaved appends: every directory straddles the full key
    // range, so pre-optimize pruning can skip NOTHING
    (0 until 4).foreach(i =>
      vt.append((0L until 400L).filter(_ % 4 == i).map(k => (k, s"r$k"))
        .toDF("k", "s")))
    assert(vt.pruneActive("k", Some(100L), Some(120L))._2.isEmpty)
    val before = vt.read().select("k").collect().map(_.getLong(0)).sorted
    val v = vt.optimize("k", targetChunks = 4)
    // same rows, one commit, history records the op
    val after = vt.read().select("k").collect().map(_.getLong(0)).sorted
    assert(after.toSeq === before.toSeq)
    assert(vt.history().filter(col("version") === v)
      .select("op").head.getString(0) === "optimize")
    // pre-optimize versions still time-travel
    assert(vt.readAt(v - 1).count() === 400)
    // range-disjoint chunks: a narrow range now keeps ~1 of 4 dirs
    val (kept, skipped) = vt.pruneActive("k", Some(100L), Some(120L))
    assert(kept.size <= 2 && skipped.nonEmpty, s"$kept / $skipped")
    assert(vt.readPruned("k", Some(100L), Some(120L))
      .filter(col("k").between(100, 120)).count() === 21)
    // vacuum reclaims the pre-optimize directories
    assert(vt.vacuum(keepLast = 1) === 4)
    assert(vt.read().count() === 400)
    // degenerate inputs fail loudly / behave
    intercept[IllegalArgumentException] { vt.optimize("s", 2) }
    assert(vt.optimize("k", 1) > v) // single-chunk compaction commits fine
    assert(vt.read().count() === 400)
  }

  test("readAtTimestamp: newest version at-or-before the clock, loud outside the window") {
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    vt.append(Seq((2L, "b")).toDF("k", "s"))
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    vt.overwrite(Seq((9L, "z")).toDF("k", "s"))
    assert(vt.readAtTimestamp(t0).count() === 1)       // only v0 existed
    assert(vt.readAtTimestamp(t1).count() === 2)       // v1's append visible
    assert(vt.readAtTimestamp(System.currentTimeMillis()).count() === 1) // v2 overwrite
    intercept[IllegalArgumentException] { vt.readAtTimestamp(t0 - 60000) }
  }

  test("appendStreamBatch: exactly-once per (app, batch), interleaving writers unaffected") {
    val vt = tables.versioned(tmpVt())
    def df(tag: String) = Seq((1L, tag)).toDF("k", "s")
    assert(vt.appendStreamBatch(df("b0"), "appA", 0L) === Some(0))
    // replay of batch 0: skipped, no version, no rows
    assert(vt.appendStreamBatch(df("b0-replay"), "appA", 0L) === None)
    assert(vt.read().count() === 1)
    // next batch commits; an out-of-band plain append interleaves
    assert(vt.appendStreamBatch(df("b1"), "appA", 1L) === Some(1))
    vt.append(df("plain"))
    // replay of batch 1 AFTER the interleaved commit: the walk skips
    // the untagged manifest and still finds appA's newest batch id
    assert(vt.appendStreamBatch(df("b1-replay"), "appA", 1L) === None)
    // a DIFFERENT app's batch 0 is its own stream — commits fine
    assert(vt.appendStreamBatch(df("appB-b0"), "appB", 0L) === Some(3))
    assert(vt.read().select("s").collect().map(_.getString(0)).toSet ===
      Set("b0", "b1", "plain", "appB-b0"))
    // stale-batch replay (id below the newest committed) also skips
    assert(vt.appendStreamBatch(df("b0-late"), "appA", 0L) === None)
  }

  test("appendStreamBatch txn tags survive checkpoints and vacuum (no full-log walk)") {
    val vt = new graft.sources.VersionedTable(spark, tmpVt(), checkpointInterval = 3)
    def df(tag: String) = Seq((1L, tag)).toDF("k", "s")
    (0 to 6).foreach(b => vt.appendStreamBatch(df(s"b$b"), "appA", b.toLong))
    // the checkpoint at v6 folded appA's newest batch id; replays of
    // any stale batch skip without walking manifests below it
    assert(vt.appendStreamBatch(df("replay"), "appA", 6L) === None)
    assert(vt.appendStreamBatch(df("replay"), "appA", 2L) === None)
    // vacuum away the early manifests: the cutoff checkpoint still
    // carries the txn map, so replay protection survives retention
    vt.vacuum(keepLast = 2)
    assert(vt.appendStreamBatch(df("replay"), "appA", 6L) === None)
    assert(vt.read().count() === 7)
    // a genuinely new batch still commits
    assert(vt.appendStreamBatch(df("b7"), "appA", 7L).isDefined)
    assert(vt.read().count() === 8)
  }

  test("versioned table: 100 appends — delta manifests stay O(1), checkpoints bound replay") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir, checkpointInterval = 10)
    (0 until 100).foreach(i => vt.append(Seq((i.toLong, s"r$i")).toDF("k", "s")))
    assert(vt.latestVersion === 99)
    val log = java.nio.file.Paths.get(dir, "_graft_log")
    def size(name: String): Long = java.nio.file.Files.size(log.resolve(name))
    // DELTA manifests: the 100th commit's manifest is the same size as
    // the 2nd's (each lists exactly one added dir) — the former
    // full-active-set log grew every manifest linearly, O(N²) total.
    val m1 = size("00000001.json"); val m99 = size("00000099.json")
    assert(m99 <= m1 + 8, s"manifest 99 ($m99 B) must not outgrow manifest 1 ($m1 B)")
    // Interval checkpoints exist (written by the commit winner) and
    // carry the full active set of their version.
    (10 to 90 by 10).foreach(v =>
      assert(java.nio.file.Files.exists(log.resolve(f"$v%08d.checkpoint.json")),
        s"missing checkpoint at $v"))
    // The _last_checkpoint hint points at the newest one — the Delta
    // trick that makes latestVersion O(interval) existence probes
    // instead of a full log listing per read.
    assert(new String(java.nio.file.Files.readAllBytes(
      log.resolve("_last_checkpoint"))).contains("90"))
    // A torn/garbage hint must not break reads (verified + fallback).
    java.nio.file.Files.write(log.resolve("_last_checkpoint"), "{gar".getBytes)
    assert(vt.latestVersion === 99)
    java.nio.file.Files.write(log.resolve("_last_checkpoint"),
      """{"version":90}""".getBytes)
    // readAt equality around a checkpoint boundary: the version before,
    // at, and after checkpoint 90 each serve exactly their snapshot.
    assert(vt.readAt(89).count() === 90)
    assert(vt.readAt(90).count() === 91)
    assert(vt.readAt(91).count() === 92)
    assert(vt.read().count() === 100)
    // history: one row per version, active-dir count climbing 1..100.
    val hist = vt.history().orderBy("version")
      .select("version", "num_active_dirs").collect()
    assert(hist.length === 100)
    assert(hist.map(_.getInt(1)).toSeq === (1 to 100))
    // Vacuum to the last 5: the cutoff version gets checkpointed so it
    // stays resolvable once the delta chain before it is gone.
    val removed = vt.vacuum(keepLast = 5)
    assert(removed === 0) // appends never unreference a directory
    assert(java.nio.file.Files.exists(log.resolve(f"${95}%08d.checkpoint.json")))
    // vacuum re-points the hint at the newest surviving checkpoint.
    assert(new String(java.nio.file.Files.readAllBytes(
      log.resolve("_last_checkpoint"))).contains("95"))
    assert(!java.nio.file.Files.exists(log.resolve("00000094.json")))
    assert(vt.readAt(95).count() === 96)
    assert(vt.readAt(99).count() === 100)
    intercept[IllegalArgumentException] { vt.readAt(94) }
    assert(vt.history().orderBy("version")
      .select("version", "num_active_dirs").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      (95 to 99).map(v => (v, v + 1)))
    // Overwrite after vacuum: the delta removes all 100 dirs; the data
    // stays readable for time travel until the next vacuum reclaims it.
    vt.overwrite(Seq((0L, "fresh")).toDF("k", "s"))
    assert(vt.read().count() === 1)
    assert(vt.readAt(99).count() === 100)
    assert(vt.vacuum(keepLast = 1) === 100)
    assert(vt.read().count() === 1)
  }

  test("merge: upsert semantics, touched-directory pruning, time travel intact") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    // Three RANGE-DISJOINT directories (k in [0,10), [10,20), [20,30)).
    (0 until 3).foreach(i =>
      vt.append((i * 10 until i * 10 + 10).map(k => (k.toLong, s"v$k", 0))
        .toDF("k", "s", "gen")))
    // Source touches only the middle range: update k=12/17, insert k=13x
    // — wait, 13 exists; insert a key INSIDE the middle span that's new.
    val src = Seq((12L, "u12", 1), (17L, "u17", 1), (15L, "fresh", 1))
      .toDF("k", "s", "gen")
    // k=15 exists too (0..29 are all present) — make the insert truly new:
    val src2 = src.union(Seq((115L, "new115", 1)).toDF("k", "s", "gen"))
    val vPre = vt.latestVersion
    vt.merge(src2, Seq("k"))
    val c = vt.history().filter(col("version") === vPre + 1).head()
    assert(c.getString(1) === "merge")
    // Span [12, 115] intersects dirs 2 and 3 but provably not [0,10):
    // the merge commit must have REMOVED exactly 2 directories.
    val snap = vt.read().collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(snap.size === 31) // 30 original + 1 genuinely new key
    assert(snap(12L) === (("u12", 1)) && snap(17L) === (("u17", 1)))
    assert(snap(15L) === (("fresh", 1))) // existing key: updated, not duplicated
    assert(snap(115L) === (("new115", 1)))
    assert(snap(3L) === (("v3", 0)) && snap(25L) === (("v25", 0)))
    // Untouched directory survives: pre-merge version still reads original rows.
    val pre = vt.readAt(vPre).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pre(12L) === "v12" && pre.size === 30)
    // Directory-level write amplification: 3 dirs before, merge removed
    // only the 2 intersecting ones (the [0,10) dir is byte-identical).
    val hist = vt.history().orderBy("version").collect()
    assert(hist.last.getInt(3) === 2) // num_active_dirs: 1 untouched + 1 merged
  }

  test("merge on an empty table appends; mismatched schema fails loudly") {
    val vt = tables.versioned(tmpVt())
    val v = vt.merge(Seq((1L, "a")).toDF("k", "s"), Seq("k"))
    assert(v === 0 && vt.read().count() === 1)
    val bad = Seq((1L, "a", 9)).toDF("k", "s", "extra")
    val e = intercept[IllegalArgumentException] { vt.merge(bad, Seq("k")) }
    assert(e.getMessage.contains("schema"))
  }

  test("changes: CDC merge serves exact row-level feed; optimize emits nothing; vacuum reclaims cdf dirs") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "x")) // v0
    vt.append(Seq((3L, "c", 30.0)).toDF("k", "s", "x"))                  // v1
    vt.optimize("k", targetChunks = 1)                                   // v2: no changes
    val vM = vt.merge(Seq((2L, "B", 22.0), (9L, "i", 90.0)).toDF("k", "s", "x"),
      Seq("k"), writeChangeData = true)                                  // v3
    val ch = vt.changes(0, vM)
      .select(col("_commit_version"), col("_change_type"), col("k"), col("s"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(ch === Set(
      (0, "insert", 1L, "a"), (0, "insert", 2L, "b"),
      (1, "insert", 3L, "c"),
      (3, "update_preimage", 2L, "b"), (3, "update_postimage", 2L, "B"),
      (3, "insert", 9L, "i")))
    // Coarse fallback: a merge WITHOUT CDC reports rewritten rows as
    // delete+insert pairs (documented trade-off).
    val vM2 = vt.merge(Seq((3L, "C", 33.0)).toDF("k", "s", "x"), Seq("k"))
    val coarse = vt.changes(vM2, vM2)
      .groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(coarse("insert") >= 1 && coarse("delete") >= 1)
    // Vacuum away everything before the last version: the CDC directory
    // of the vacuumed merge is reclaimed with its manifest.
    val fsRoot = new java.io.File(dir)
    def cdfDirs() = fsRoot.listFiles().filter(_.getName.startsWith("cdf-v")).length
    assert(cdfDirs() === 1)
    vt.vacuum(keepLast = 1)
    assert(cdfDirs() === 0)
    intercept[IllegalArgumentException] { vt.changes(0, vM) }
    assert(vt.read().count() === 4) // 1,2,3(C),9
  }

  test("optimizeZOrder: both dimensions prunable, rows preserved, nulls survive") {
    val vt = tables.versioned(tmpVt())
    // 32×32 grid of (a, b) — appended in a-interleaved stripes so the
    // pre-optimize layout prunes NOTHING on either column — plus one
    // null-b row that must survive the rewrite.
    val grid = for (a <- 0 until 32; b <- 0 until 32)
      yield (a.toLong, Option((b * 100).toLong))
    val df = (grid :+ ((99L, Option.empty[Long]))).toDF("a", "b")
    // (the null-b row has a = 99 → stripe 3)
    (0 until 4).foreach(i => vt.append(df.filter(col("a") % 4 === i)))
    assert(vt.pruneActive("a", Some(0L), Some(3L))._2.isEmpty) // nothing skips
    vt.optimizeZOrder(Seq("a", "b"), targetChunks = 16, bitsPerCol = 4)
    // Narrow range on EACH dimension now skips most chunks...
    val (kA, sA) = vt.pruneActive("a", Some(0L), Some(3L))
    val (kB, sB) = vt.pruneActive("b", Some(0L), Some(300L))
    assert(sA.length >= 8, s"a-pruning kept ${kA.length}, skipped ${sA.length}")
    assert(sB.length >= 8, s"b-pruning kept ${kB.length}, skipped ${sB.length}")
    // ...and the pruned reads still answer exactly.
    assert(vt.readPruned("a", Some(0L), Some(3L))
      .filter(col("a").between(0L, 3L)).count() === 4 * 32)
    assert(vt.readPruned("b", Some(0L), Some(300L))
      .filter(col("b").between(0L, 300L)).count() === 4 * 32)
    // Row preservation incl. the null key; ONE commit did the rewrite.
    assert(vt.read().count() === 32 * 32 + 1)
    assert(vt.read().filter(col("b").isNull).count() === 1)
    assert(vt.history().filter(col("op") === "optimize").count() === 1)
    intercept[IllegalArgumentException] {
      vt.optimizeZOrder(Seq("a"), 4) // one column → use optimize()
    }
  }

  test("mergeVersioned/deleteVersioned drive the commit protocol through the catalog name") {
    val tbl = "tm_spec_upsert"
    val base = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl + "__versioned")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    tables.appendVersioned(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), tbl)
    tables.mergeVersioned(Seq((2L, "B"), (3L, "c")).toDF("k", "s"), tbl, Seq("k"))
    assert(spark.table(tbl).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    tables.deleteVersioned(col("k") === 1L, tbl)
    assert(spark.table(tbl).select("k").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L))
    assert(tables.versionedFor(tbl).history().count() === 3)
  }

  test("fastCount: metadata-only COUNT(*) agrees with scans at every version") {
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))   // v0
    vt.append(Seq((4L, "d")).toDF("k", "s"))                         // v1
    vt.merge(Seq((2L, "B"), (9L, "i")).toDF("k", "s"), Seq("k"))     // v2
    vt.delete(col("k") === 1L)                                       // v3
    vt.optimize("k", targetChunks = 2)                               // v4
    val vR = vt.restore(1)                                           // v5
    for (v <- 0 to vR)
      assert(vt.fastCount(Some(v)) === Some(vt.readAt(v).count()),
        s"fastCount disagrees with the scan at version $v")
    // survives checkpoint resolution (interval commits) and vacuum
    (0 until 12).foreach(i => vt.append(Seq((50L + i, "x")).toDF("k", "s")))
    vt.vacuum(keepLast = 2)
    assert(vt.fastCount() === Some(vt.read().count()))
    // Metadata MIN/MAX from the same fold — exact through the delete
    // (the rewrite re-computed its directory's bounds) and both string
    // and integral kinds.
    // (the restore at v5 reinstated k=1 "a"; appends added 50..61 "x")
    assert(vt.statRange("k") === Some((1L, 61L)))
    assert(vt.statRange("s") === Some(("a", "x")))
    assert(vt.statRange("nope") === None)
    // and exactness THROUGH a delete: drop the max key, bounds follow
    vt.delete(col("k") === 61L)
    assert(vt.statRange("k") === Some((1L, 60L)))
  }

  test("optimize(1) never duplicates null-key rows; growing vacuum retention is safe") {
    // Regression 1: with no cuts (targetChunks=1) the single chunk holds
    // every row INCLUDING null keys — the old filter+union path wrote
    // null-key rows twice and committed the duplicates.
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((Option(1L), "a"), (Option.empty[Long], "n1"),
      (Option.empty[Long], "n2")).toDF("k", "s"))
    vt.optimize("k", targetChunks = 1)
    assert(vt.read().count() === 3)
    assert(vt.read().filter(col("k").isNull).count() === 2)
    // and with real cuts, nulls still land exactly once (last chunk)
    vt.append((10L until 30L).map(k => (Option(k), s"v$k")).toDF("k", "s"))
    vt.optimize("k", targetChunks = 4)
    assert(vt.read().count() === 23)
    assert(vt.read().filter(col("k").isNull).count() === 2)
    // Regression 2: vacuum with a LARGER keepLast than an earlier vacuum
    // must clamp to the surviving floor, not walk off the deleted log.
    val vt2 = tables.versioned(tmpVt())
    (0 until 10).foreach(i => vt2.append(Seq((i.toLong, "x")).toDF("k", "s")))
    vt2.vacuum(keepLast = 2)   // keeps v8, v9
    val removed = vt2.vacuum(keepLast = 5) // grown window: no-op, no crash
    assert(removed === 0)
    assert(vt2.read().count() === 10)
    assert(vt2.readAt(8).count() === 9)
  }

  test("delete-all keeps the table readable; merge survives evolved touched dirs; empty merge is a no-op") {
    // 1. Emptying the table must leave an empty FRAME, not a broken table.
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    val vEmpty = vt.delete(col("k") >= 0L)
    assert(vt.read().count() === 0)
    assert(vt.read().columns.toSeq === Seq("k", "s")) // schema survives
    assert(vt.fastCount() === Some(0L))
    vt.append(Seq((2L, "b")).toDF("k", "s")) // and writes keep working
    assert(vt.read().count() === 1 && vEmpty >= 0)
    // 2. Merge whose key span touches only a PRE-EVOLUTION directory:
    // the old dir lacks `extra` and must be padded with typed nulls.
    val vt2 = tables.versioned(tmpVt())
    vt2.append((0L until 10L).map(k => (k, s"v$k")).toDF("k", "s"))
    vt2.append((100L until 110L).map(k => (k, s"v$k", k * 2)).toDF("k", "s", "extra"))
    vt2.merge(Seq((3L, "U3", Option(33L)), (5L, "U5", Option.empty[Long]))
      .toDF("k", "s", "extra"), Seq("k"))
    val m = vt2.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(m(3L) === (("U3", Some(33L))) && m(5L) === (("U5", None)))
    assert(m(4L) === (("v4", None)) && m(105L) === (("v105", Some(210L))))
    assert(m.size === 20)
    // 3. An empty merge source commits nothing (no stat-less dir).
    val before = vt2.latestVersion
    assert(vt2.merge(Seq.empty[(Long, String, Option[Long])]
      .toDF("k", "s", "extra"), Seq("k")) === before)
    assert(vt2.latestVersion === before)
  }

  test("detail: pure-metadata table report through mixed ops, checkpoints, vacuum") {
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    vt.append(Seq((3L, "c")).toDF("k", "s"))
    vt.addConstraint("k_pos", "k > 0")
    val d1 = vt.detail().head
    assert(d1.getInt(0) === 2 && d1.getInt(1) === 2) // version, dirs
    assert(d1.getLong(2) === 3L)                     // rows from metadata
    assert(d1.getLong(3) > 0L)                       // bytes recorded
    assert(d1.getInt(4) === 1)                       // constraints
    // bytes follow a rewrite (optimize) and time travel reads old sizes
    val sizeBefore = d1.getLong(3)
    vt.optimize("k", targetChunks = 1)
    val d2 = vt.detail().head
    assert(d2.getInt(1) === 1 && d2.getLong(2) === 3L && d2.getLong(3) > 0L)
    assert(vt.detail(Some(2)).head.getLong(3) === sizeBefore)
    // survives checkpoint + vacuum resolution
    (0 until 12).foreach(i => vt.append(Seq((10L + i, "x")).toDF("k", "s")))
    vt.vacuum(keepLast = 2)
    val d3 = vt.detail().head
    assert(d3.getLong(2) === 15L && d3.getLong(3) > 0L && d3.getInt(4) === 1)
  }

  test("pruneActiveAll: conjunctive ranges intersect per-column prunes on a zordered table") {
    val vt = tables.versioned(tmpVt())
    val grid = for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong * 10)
    vt.append(grid.toDF("a", "b"))
    vt.optimizeZOrder(Seq("a", "b"), targetChunks = 16, bitsPerCol = 4)
    val keptA = vt.pruneActive("a", Some(0L), Some(3L))._1.toSet
    val keptB = vt.pruneActive("b", Some(0L), Some(30L))._1.toSet
    val (keptBoth, skipped) = vt.pruneActiveAll(Seq(
      ("a", Some(0L), Some(3L)), ("b", Some(0L), Some(30L))))
    // the conjunction is exactly the per-column intersection...
    assert(keptBoth.toSet === (keptA intersect keptB))
    assert(keptBoth.size < math.min(keptA.size, keptB.size) ||
      keptBoth.size <= 2, s"both=${keptBoth.size} a=${keptA.size} b=${keptB.size}")
    assert(skipped.size >= 12)
    // ...and the pruned read still answers exactly.
    assert(vt.readPrunedAll(Seq(("a", Some(0L), Some(3L)), ("b", Some(0L), Some(30L))))
      .filter(col("a") <= 3L && col("b") <= 30L).count() === 16)
  }

  test("publish: simultaneous claims of one version slot have EXACTLY one winner") {
    // Regression for the local-filesystem TOCTOU: rename(2) REPLACES an
    // existing target, so exists-then-rename let two racers both "win"
    // a slot and silently drop a manifest (caught as a 1-in-3 suite
    // flake). atomicClaim hard-links instead — link(2) fails EEXIST in
    // the kernel. Hammer the window: per round, 8 barrier-released
    // threads race plain append() toward the SAME version; exactly one
    // may win, and every round's winner must be durable.
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((0L, "base")).toDF("k", "s"))
    val rounds = 12; val racers = 8
    for (r <- 1 to rounds) {
      val barrier = new java.util.concurrent.CyclicBarrier(racers)
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val losses = new java.util.concurrent.atomic.AtomicInteger
      val threads = (0 until racers).map(i => new Thread(() => {
        val d = Seq((r * 100L + i, s"r$r-w$i")).toDF("k", "s")
        barrier.await()
        try { vt.append(d); wins.incrementAndGet() }
        catch { case _: IllegalStateException => losses.incrementAndGet() }
      }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get() === 1, s"round $r: ${wins.get()} writers won one slot")
      assert(losses.get() === racers - 1)
      assert(vt.latestVersion === r)
    }
    assert(vt.read().count() === 1L + rounds) // every winner's rows, none lost
  }

  test("restore: metadata-only rollback, stats restored, vacuum keeps re-referenced dirs") {
    val base = tmpVt()
    val vt = tables.versioned(base)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v0
    vt.append(Seq((3L, "c")).toDF("k", "s"))            // v1
    vt.delete(col("k") === 2L)                          // v2 rewrites v0's dir
    assert(vt.read().count() === 2)
    // Restore writes NO data — same payload directories before/after.
    val dirsBefore = new java.io.File(base).listFiles().count(_.getName.startsWith("v"))
    val vR = vt.restore(1)
    assert(new java.io.File(base).listFiles()
      .count(_.getName.startsWith("v")) === dirsBefore)
    assert(vt.read().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // History preserved: the pre-restore (deleted) state still reads.
    assert(vt.readAt(vR - 1).count() === 2)
    // The re-added directory's data-skipping stats rode the restore.
    assert(vt.pruneActive("k", Some(100L), Some(200L))._1.isEmpty)
    // Vacuum protects re-referenced directories; the delete's rewrite
    // directory is now unreferenced and reclaimed.
    assert(vt.vacuum(keepLast = 1) === 1)
    assert(vt.read().count() === 3)
    intercept[IllegalArgumentException] { vt.restore(0) } // vacuumed
  }

  test("CHECK constraints: enforced in the stats job, SQL null semantics, log-durable") {
    val base = tmpVt()
    val vt = tables.versioned(base)
    def payloadDirs() =
      new java.io.File(base).listFiles().count(_.getName.startsWith("v"))
    vt.append(Seq((1L, Option(10.0)), (2L, Option.empty[Double])).toDF("k", "x"))
    vt.addConstraint("x_positive", "x > 0") // null x passes (SQL CHECK)
    assert(vt.currentConstraints === Map("x_positive" -> "x > 0"))
    vt.append(Seq((3L, Option(5.0)), (4L, Option.empty[Double])).toDF("k", "x"))
    // A violating append aborts BEFORE publish: no version, no rows, no
    // orphan payload directory.
    val before = vt.latestVersion
    val dirsBefore = payloadDirs()
    val e = intercept[IllegalArgumentException] {
      vt.append(Seq((5L, Option(-1.0))).toDF("k", "x"))
    }
    assert(e.getMessage.contains("x_positive"))
    assert(vt.latestVersion === before && vt.read().count() === 4)
    assert(payloadDirs() === dirsBefore)
    // merge validates its new rows too
    intercept[IllegalArgumentException] {
      vt.merge(Seq((1L, Option(-9.0))).toDF("k", "x"), Seq("k"))
    }
    // a constraint the existing data violates cannot be added;
    // duplicate names fail loudly
    intercept[IllegalArgumentException] { vt.addConstraint("imp", "k > 100") }
    intercept[IllegalArgumentException] { vt.addConstraint("x_positive", "x > 1") }
    // durability: past a checkpoint and a vacuum, the constraint still
    // binds (it rides the checkpointed snapshot, not driver memory)
    (0 until 12).foreach(i => vt.append(Seq((100L + i, Option(1.0))).toDF("k", "x")))
    vt.vacuum(keepLast = 2)
    intercept[IllegalArgumentException] {
      vt.append(Seq((999L, Option(-2.0))).toDF("k", "x"))
    }
    // drop: the same write now commits
    vt.dropConstraint("x_positive")
    vt.append(Seq((999L, Option(-2.0))).toDF("k", "x"))
    assert(vt.read().filter(col("x") < 0).count() === 1)
    intercept[IllegalArgumentException] { vt.dropConstraint("x_positive") }
  }

  test("delete: touched dirs only, null condition keeps, no-op skips commit, CDC exact") {
    val vt = tables.versioned(tmpVt())
    // Range-disjoint dirs [0,10) and [10,20); a NULL flag on k=3.
    vt.append((0 until 10).map(k =>
      (k.toLong, if (k == 3) Option.empty[String] else Some(s"f$k"))).toDF("k", "flag"))
    vt.append((10 until 20).map(k => (k.toLong, Some(s"f$k"))).toDF("k", "flag"))
    // Condition is NULL on k=3 (flag IS NULL): that row must be KEPT.
    val vD = vt.delete(col("k") < 5 && col("flag").startsWith("f"),
      writeChangeData = true)
    assert(vD === 2)
    val left = vt.read().select("k").collect().map(_.getLong(0)).toSet
    assert(left === (Set(3L) ++ (5L until 20L))) // 0,1,2,4 deleted; 3 kept
    // Only the lower dir was rewritten: 2 active dirs, upper untouched.
    assert(vt.history().orderBy(col("version").desc)
      .select("num_active_dirs").head.getInt(0) === 2)
    // CDC serves exactly the deleted rows.
    val cdc = vt.changes(vD, vD).select("_change_type", "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cdc === Set(("delete", 0L), ("delete", 1L), ("delete", 2L), ("delete", 4L)))
    // No matches → no commit at all.
    assert(vt.delete(col("k") > 1000) === vD)
    assert(vt.latestVersion === vD)
    // Deleting a whole directory's rows drops the dir without writing
    // an empty replacement.
    val vAll = vt.delete(col("k") >= 10)
    assert(vt.history().orderBy(col("version").desc)
      .select("num_active_dirs").head.getInt(0) === 1)
    assert(vt.readAt(vAll).count() === 6) // 3,5,6,7,8,9
  }

  test("versioned append: narrowing/reinterpreting schema fails at COMMIT, widening casts") {
    val vt = tables.versioned(tmpVt())
    vt.append(Seq((1L, "a", 10L)).toDF("k", "s", "n"))
    // int into a long column WIDENS: accepted and physically cast, so
    // the mergeSchema read never reconciles int against long.
    vt.append(Seq((2, "b", 20)).toDF("k", "s", "n"))
    val now = vt.read()
    assert(now.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(now.schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(now.select("n").collect().map(_.getLong(0)).toSet === Set(10L, 20L))
    // long into an int column NARROWS: rejected loudly at commit time
    // (previously committed fine and only broke a later mergeSchema read).
    val intTable = tables.versioned(tmpVt())
    intTable.append(Seq((1, "a")).toDF("k", "s"))
    val eNarrow = intercept[IllegalStateException] {
      intTable.append(Seq((2L, "b")).toDF("k", "s"))
    }
    assert(eNarrow.getMessage.contains("narrow"))
    assert(intTable.latestVersion === 0) // nothing committed
    // cross-family reinterpretation (string into long): rejected too,
    // on the retrying paths as well.
    val eFamily = intercept[IllegalStateException] {
      vt.appendWithRetry(Seq(("3", "c", 30L)).toDF("k", "s", "n"))
    }
    assert(eFamily.getMessage.contains("reinterpret"))
    intercept[IllegalStateException] {
      vt.appendStreamBatch(Seq(("4", "d", 40L)).toDF("k", "s", "n"), "app", 0L)
    }
    // New columns still pass (evolution), missing columns still pad.
    vt.append(Seq((5L, "e", 50L, 0.5)).toDF("k", "s", "n", "score"))
    assert(vt.read().count() === 3)
  }

  test("merge: conjunctive multi-key pruning touches strictly fewer dirs than key-head") {
    val vt = tables.versioned(tmpVt())
    // Three dirs: A and B OVERLAP on k1 (head-key pruning alone would
    // touch both) but are disjoint on k2; C is disjoint on k1.
    vt.append((0 until 10).map(i => (i.toLong, i.toLong, s"a$i")).toDF("k1", "k2", "v"))
    vt.append((0 until 10).map(i => (i.toLong, (i + 100).toLong, s"b$i")).toDF("k1", "k2", "v"))
    vt.append((0 until 10).map(i => ((i + 100).toLong, i.toLong, s"c$i")).toDF("k1", "k2", "v"))
    // Source hits dir A only under the (k1, k2) conjunction.
    val src = Seq((3L, 3L, "UPD")).toDF("k1", "k2", "v")
    vt.merge(src, Seq("k1", "k2"))
    // Conjunctive pruning rewrote ONLY dir A: active = 3 - 1 + 1 = 3
    // (head-key-only pruning would rewrite A and B → 2 dirs).
    assert(vt.history().orderBy(col("version").desc)
      .select("num_active_dirs").head.getInt(0) === 3)
    val rows = vt.read().collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length === 30)
    assert(rows.count(_._3 == "UPD") === 1)
    assert(!rows.exists(r => r._1 == 3L && r._2 == 3L && r._3 == "a3"))
    // An all-null key column means NO source row can match: nothing is
    // rewritten, every source row inserts (active grows by 1).
    val nullKey = Seq((Option.empty[Long], Option(7L), "INS")).toDF("k1", "k2", "v")
    vt.merge(nullKey, Seq("k1", "k2"))
    assert(vt.history().orderBy(col("version").desc)
      .select("num_active_dirs").head.getInt(0) === 4)
    assert(vt.read().count() === 31)
  }

  test("schema rides the log: reads plan without footer merges, evolution recorded") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.append(Seq((2L, "b", 0.5)).toDF("k", "s", "score")) // evolves
    // The log carries each version's schema: manifests record it, so a
    // read needs NO parquet footers at plan time. Prove it by making
    // every footer unreadable EXCEPT through the recorded schema: the
    // read must still resolve its columns (the scan itself would fail,
    // but schema resolution is the plan-time contract).
    val now = vt.read()
    assert(now.columns.toSeq === Seq("k", "s", "score"))
    assert(now.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    assert(vt.readAt(0).columns.toSeq === Seq("k", "s")) // old shape preserved
    // evolution pads null for pre-evolution rows under the explicit schema
    assert(now.filter(col("k") === 1L).select("score").head.isNullAt(0))
    // the manifest JSON itself records the evolved schema
    val m1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", "00000001.json")))
    assert(m1.contains("\"schema\"") && m1.contains("score"))
    // checkpoints carry it across the delta horizon
    val vt2 = new graft.sources.VersionedTable(spark, tmpVt(), checkpointInterval = 2)
    vt2.append(Seq((1L, "a")).toDF("k", "s"))
    (0 until 4).foreach(i => vt2.append(Seq((10L + i, "x", i.toDouble))
      .toDF("k", "s", "score")))
    assert(vt2.read().columns.toSeq === Seq("k", "s", "score"))
    // restore rolls the schema back with the data
    val vRestore = vt.restore(0)
    assert(vt.readAt(vRestore).columns.toSeq === Seq("k", "s"))
    // ...and a post-restore append evolves from the RESTORED shape
    vt.append(Seq((3L, "c")).toDF("k", "s"))
    assert(vt.read().columns.toSeq === Seq("k", "s"))
  }

  test("racing evolving appends: the retried schema is the UNION; type conflicts are loud") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    // Two writers concurrently evolve with DIFFERENT new columns: the
    // loser's retried manifest must record the union — re-publishing
    // its pre-race schema would hide the winner's column from readers.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      Seq((2L, "b", 7L)).toDF("k", "s", "x"),
      Seq((3L, "c", 0.5)).toDF("k", "s", "y")).map(df => new Thread(() => {
        barrier.await()
        try new graft.sources.VersionedTable(spark, dir).appendWithRetry(df)
        catch { case t: Throwable => errs.add(t) }
      }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"disjoint evolving appends must both land: ${errs.peek()}")
    val now = vt.read()
    assert(now.columns.toSet === Set("k", "s", "x", "y"))
    assert(now.count() === 3)
    assert(now.filter(col("k") === 2L).select("x").head.getLong(0) === 7L)
    assert(now.filter(col("k") === 3L).select("y").head.getDouble(0) === 0.5)
    // The SAME new column with INCOMPATIBLE types: exactly one lands,
    // the other fails loudly (raced → retry conflict; sequential → the
    // widening gate) — never a silently mismatched schema.
    val dir2 = tmpVt()
    val vt2 = tables.versioned(dir2)
    vt2.append(Seq((1L, "a")).toDF("k", "s"))
    val barrier2 = new java.util.concurrent.CyclicBarrier(2)
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts2 = Seq(
      Seq((2L, "b", 7)).toDF("k", "s", "z"),
      Seq((3L, "c", "seven")).toDF("k", "s", "z")).map(df => new Thread(() => {
        barrier2.await()
        try new graft.sources.VersionedTable(spark, dir2).appendWithRetry(df)
        catch { case t: Throwable => errs2.add(t) }
      }))
    ts2.foreach(_.start()); ts2.foreach(_.join())
    assert(errs2.size === 1, s"exactly one conflicting append must fail, got ${errs2.size}")
    assert(errs2.peek().isInstanceOf[IllegalStateException])
    val zType = vt2.read().schema("z").dataType
    assert(zType === org.apache.spark.sql.types.IntegerType ||
      zType === org.apache.spark.sql.types.StringType)
    assert(vt2.read().count() === 2)
  }

  test("merge retry: disjoint concurrent commits retry through, overlapping fail loudly") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append((0 until 10).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    vt.append((100 until 110).map(i => (i.toLong, s"b$i")).toDF("k", "v"))
    val racer = tables.versioned(dir)
    val src = Seq((3L, "UPD")).toDF("k", "v")
    // Disjoint winner: an append of far-away keys lands between the
    // merge's snapshot read and its publish — the merge re-reads the
    // log, proves disjointness from manifest stats, and re-commits.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((500L, "r500")).toDF("k", "v"))
    }
    val vMerge = vt.merge(src, Seq("k"))
    assert(vMerge === 3) // v2 = racer's append, v3 = the retried merge
    val rows = vt.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows(3L) === "UPD")
    assert(rows(500L) === "r500") // the winner's rows survive
    assert(rows.size === 21)
    // Overlapping ADD: the winner appends the merged key itself — the
    // merge result never saw it, so the retry must fail loudly.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((3L, "hot")).toDF("k", "v"))
    }
    val eAdd = intercept[IllegalStateException] { vt.merge(src, Seq("k")) }
    assert(eAdd.getMessage.contains("added data that may match"))
    // Overlapping REWRITE: the winner deletes a row from a directory the
    // merge read — re-committing would resurrect it.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.delete(col("k") === 1L)
    }
    val eRm = intercept[IllegalStateException] { vt.merge(src, Seq("k")) }
    assert(eRm.getMessage.contains("rewrote directories"))
    vt.beforePublish = () => ()
    // both losers reclaimed what they wrote
    assert(unreferencedDirs(dir).isEmpty)
  }

  test("optimize retry: a compaction survives concurrent appends, loses to input rewrites") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    (0 until 3).foreach(i =>
      vt.append((0 until 90).filter(_ % 3 == i).map(j => (j.toLong, s"r$j"))
        .toDF("k", "v")))
    val racer = tables.versioned(dir)
    // A plain append lands mid-rewrite (the common ingestion race): the
    // optimize retries through and the winner's rows stay active.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((500L, "mid-rewrite")).toDF("k", "v"))
    }
    val vOpt = vt.optimize("k", targetChunks = 2)
    assert(vOpt === 4) // v3 = racer's append, v4 = the retried optimize
    assert(vt.read().count() === 91)
    assert(vt.read().filter(col("v") === "mid-rewrite").count() === 1)
    // the append's directory is still active alongside the 2 chunks
    assert(vt.activeDirs().size === 3)
    // a concurrent schema EVOLUTION also rides through — the optimize
    // commit records no schema, so the fold keeps the new column
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType))))
    }
    vt.compact(targetChunks = 1)
    assert(vt.read().schema.fieldNames.contains("extra"))
    assert(vt.read().filter(col("extra").isNull).count() === 91)
    // an intervening DELETE rewrote the optimize's inputs: loud
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.delete(col("k") === 1L)
    }
    val e = intercept[IllegalStateException] { vt.optimize("k", 2) }
    assert(e.getMessage.contains("rewrote directories"))
    vt.beforePublish = () => ()
    assert(vt.read().count() === 90) // the delete's state, never resurrected
  }

  test("delete retry: exact added-data check; two live writers both land when disjoint") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append((0 until 10).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    val racer = tables.versioned(dir)
    // Winner appends non-matching rows: the delete scans exactly those
    // directories, finds no match, and retries through.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((500L, "r500")).toDF("k", "v"))
    }
    val vDel = vt.delete(col("k") < 3L)
    assert(vDel === 2)
    assert(vt.read().select("k").collect().map(_.getLong(0)).toSet ===
      (Set(500L) ++ (3L until 10L)))
    // Winner appends a MATCHING row: committing the delete would let it
    // silently survive the predicate — loud failure.
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((600L, "hot")).toDF("k", "v"))
    }
    val e = intercept[IllegalStateException] { vt.delete(col("k") >= 500L) }
    assert(e.getMessage.contains("added data that may match"))
    vt.beforePublish = () => ()
    assert(unreferencedDirs(dir).isEmpty) // the loser reclaimed its rewrite
    // Integration: two REAL concurrent merges on disjoint key ranges —
    // with the retry protocol both always land, whatever the interleave.
    val dir2 = tmpVt()
    val vt2 = tables.versioned(dir2)
    vt2.append((0 until 50).map(i => (i.toLong, "x")).toDF("k", "v"))
    vt2.append((1000 until 1050).map(i => (i.toLong, "y")).toDF("k", "v"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      (0L, "lo"), (1000L, "hi")).map { case (k0, tag) => new Thread(() => {
        barrier.await()
        try new graft.sources.VersionedTable(spark, dir2)
          .merge(Seq((k0, tag)).toDF("k", "v"), Seq("k"))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"disjoint merges must both land: ${errs.peek()}")
    val m = vt2.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(m(0L) === "lo" && m(1000L) === "hi" && m.size === 100)
  }

  test("optimizeWhere rewrites only in-scope directories; others stay byte-identical") {
    val dir = tmpVt()
    val vt = tables.versioned(dir)
    vt.append((0L until 100L).map(k => (k, s"r$k")).toDF("k", "s"))
    vt.append((100L until 200L).map(k => (k, s"r$k")).toDF("k", "s"))
    vt.append((200L until 300L).map(k => (k, s"r$k")).toDF("k", "s"))
    val before = vt.activeDirs().sorted
    def fileState(dirName: String): Set[(String, Long, Long)] =
      new java.io.File(dir, dirName).listFiles()
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val outOfScope = Seq(before.head, before.last)
    val outStates = outOfScope.map(d => d -> fileState(d)).toMap
    // Scope hits only the middle directory; rewrite it into 2 chunks.
    val v = vt.optimizeWhere("k", 2, "k", Some(120L), Some(180L))
    val after = vt.activeDirs()
    assert(after.size === 4, s"1 + 2 chunks + 1, got $after") // dir1, dir3, 2 chunks
    outOfScope.foreach { d =>
      assert(after.contains(d), s"out-of-scope $d must stay active")
      assert(fileState(d) === outStates(d), s"$d must stay byte-identical")
    }
    assert(vt.read().count() === 300)
    assert(vt.read().select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 300L))
    // the scoped chunks are range-disjoint: pruning inside the scope is
    // now tighter than one whole-slice directory
    assert(vt.pruneActive("k", Some(120L), Some(145L))._1.size === 1)
    // time travel to the pre-optimize version still works
    assert(vt.readAt(v - 1).count() === 300)
    // nothing in scope → no commit
    assert(vt.optimizeWhere("k", 2, "k", Some(5000L), Some(6000L)) === v)
  }
}
