package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{MergeAction, MergeClause}

/** METADATA-ONLY type widening (`VersionedTable.widenColumn`, catalog
  * `ALTER TABLE ... ALTER COLUMN ... TYPE`, and MERGE schema
  * evolution's widening arm): the commit records the wide type, old
  * files keep their narrow pages and UPCAST at scan (Spark 4 parquet
  * reader), new files write wide, time travel keeps per-version types,
  * stat pruning keeps working in the normalized stats domain, and
  * every lossy or impossible change refuses loudly.
  */
class WidenColumnSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_widen_spec").toString

  test("widenColumn int->long is metadata-only; both read paths upcast old files") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1, 1.5f), (2, 2.5f)).toDF("k", "v"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          buf += ((f.getPath.toString, f.getModificationTime))
      }
      buf.sortBy(_._1).toSeq
    }
    val before = dataFiles
    val preV = vt.latestVersion
    vt.widenColumn("k", LongType)
    vt.widenColumn("v", DoubleType)
    assert(dataFiles === before) // no file touched
    assert(vt.tableSchema().fields.map(_.dataType).toSeq
      === Seq(LongType, DoubleType))
    // DSv1 fold read AND the DSv2 vectorized scan both upcast
    assert(vt.read().orderBy("k").collect().map(r => (r.getLong(0),
      r.getDouble(1))).toSeq === Seq((1L, 1.5), (2L, 2.5)))
    val dsv2 = spark.read.format("graftvt").load(dir)
    assert(dsv2.schema.fields.map(_.dataType).toSeq === Seq(LongType, DoubleType))
    assert(dsv2.orderBy("k").collect().map(r => (r.getLong(0),
      r.getDouble(1))).toSeq === Seq((1L, 1.5), (2L, 2.5)))
    // time travel keeps the narrow pre-widen type
    assert(vt.readAt(preV).schema.fields.map(_.dataType).toSeq
      === Seq(IntegerType, FloatType))
    // wide appends + long-range values land after the widening
    vt.append(Seq((3_000_000_000L, 9.5)).toDF("k", "v"))
    assert(vt.read().count() === 3)
    assert(vt.read().agg(max(col("k"))).head.getLong(0) === 3_000_000_000L)
    // stat pruning stays correct across the mixed narrow/wide dirs
    val (kept, skipped) = vt.pruneActiveAll(
      Seq(("k", Some(3_000_000_000L), None)))
    assert(kept.size === 1 && skipped.size === 1)
  }

  test("narrowing, incompatible, and partition-column changes refuse loudly") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a", 1)).toDF("k", "s", "p"))
    assert(intercept[IllegalArgumentException] {
      vt.widenColumn("k", IntegerType) // narrowing
    }.getMessage.contains("lossless"))
    assert(intercept[IllegalArgumentException] {
      vt.widenColumn("k", DoubleType) // long->double is lossy
    }.getMessage.contains("lossless"))
    assert(intercept[IllegalArgumentException] {
      vt.widenColumn("s", LongType) // incompatible
    }.getMessage.contains("lossless"))
    assert(intercept[IllegalArgumentException] {
      vt.widenColumn("missing", LongType)
    }.getMessage.contains("does not exist"))
    // partition columns refuse (identity dirs are named by the value's
    // written rendering)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft.widen_part")
    spark.sql("""CREATE TABLE graft.widen_part (k BIGINT, p INT)
                |USING graftvt PARTITIONED BY (p)""".stripMargin)
    spark.sql("INSERT INTO graft.widen_part VALUES (1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val pdir = cat.tableDir(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array.empty, "widen_part")).toString
    val pvt = new graft.sources.VersionedTable(spark, pdir)
    assert(intercept[IllegalArgumentException] {
      pvt.widenColumn("p", LongType)
    }.getMessage.contains("partition"))
    spark.sql("DROP TABLE graft.widen_part")
  }

  test("catalog SQL: ALTER TABLE ... ALTER COLUMN ... TYPE widens metadata-only") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft.widen_t")
    spark.sql("CREATE TABLE graft.widen_t (k INT, v FLOAT) USING graftvt")
    spark.sql("INSERT INTO graft.widen_t VALUES (1, 1.5), (2, 2.5)")
    spark.sql("ALTER TABLE graft.widen_t ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO graft.widen_t VALUES (3000000000, 9.5)")
    assert(spark.table("graft.widen_t").schema("k").dataType === LongType)
    assert(spark.sql("SELECT max(k) FROM graft.widen_t").head.getLong(0)
      === 3_000_000_000L)
    // narrowing refuses: Spark's own analyzer rejects non-upcasts for
    // v2 ALTER COLUMN TYPE before the catalog sees them; widenColumn's
    // allowlist backs it for any analyzer gap
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.widen_t ALTER COLUMN k TYPE INT")
    }
    assert(e.getMessage.contains("lossless") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    spark.sql("DROP TABLE graft.widen_t")
  }

  test("widening composes with deletion vectors in both orders") {
    // DV debt first, widen after: the folded read imposes the WIDE
    // schema on narrow DV'd files — upcast under the selection view
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0 until 100).map(i => (i, i * 1.0f)).toDF("k", "v"))
    vt.delete(col("k") < 10, useDeletionVectors = true)
    vt.widenColumn("k", LongType)
    assert(vt.read().agg(sum(col("k"))).head.getLong(0)
      === (10L until 100L).sum)
    assert(vt.fastCount() === Some(90L))
    val dsv2 = spark.read.format("graftvt").load(dir)
    assert(dsv2.schema("k").dataType === LongType)
    assert(dsv2.count() === 90)
    // widen first, DV-mutate after: the sidecar positions address the
    // same files regardless of the read type
    vt.delete(col("k") >= 95L, useDeletionVectors = true)
    assert(vt.read().count() === 85)
    assert(vt.readAt(1).count() === 90) // time travel across both
    // and an EVOLVE-WIDEN merge over the DV'd narrow files: the folded
    // tagged read imposes the re-widened schema under selection views
    vt.mergeClauses(Seq((50L, 5.5), (200L, 2.5)).toDF("k", "v"), Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      evolveSchema = true, useDeletionVectors = true)
    assert(vt.tableSchema()("v").dataType === DoubleType)
    assert(vt.read().count() === 86)
    assert(vt.read().filter(col("k") === 50L).head.getDouble(1) === 5.5)
  }

  test("partial rewrites and auto-compaction read narrow and wide files under the widened type") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    (0 until 6).foreach(d =>
      vt.append((d * 500 until (d + 1) * 500).map(i => (i, s"r$i")).toDF("k", "s")))
    vt.widenColumn("k", LongType)
    val wide = (0L until 500L).map(i => (3_000_000_000L + i, s"w$i"))
    vt.append(wide.toDF("k", "s"))
    var model = (0 until 3000).map(i => (i.toLong, s"r$i")) ++ wide
    // DV debt on a narrow directory and on the wide one
    val hide = (col("k") < 500L || col("k") >= 3_000_000_000L) && col("k") % 10 === 0L
    vt.delete(hide, useDeletionVectors = true)
    model = model.filterNot { case (k, _) => (k < 500L || k >= 3_000_000_000L) && k % 10 == 0 }
    def check(): Unit = {
      val df = vt.read()
      assert(df.schema.fields.map(_.dataType).toSeq === Seq(LongType, StringType))
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        === model.sortBy(_._1))
    }
    val dvV = vt.optimizeDvDebt(0.05, 1)
    assert(vt.history().filter(col("version") === dvV).head.getString(1) === "optimize")
    check()
    // scope: the last two narrow directories and the debt rewrite's
    // wide one
    val whereV = vt.optimizeWhere("k", 2, "k", Some(2000L), None)
    assert(whereV === dvV + 1)
    check()
    vt.setProperties(Map("graft.autoCompact.minFiles" -> "2"))
    val more = (0L until 100L).map(i => (4_000_000_000L + i, s"m$i"))
    val appended = vt.append(more.toDF("k", "s"))
    model ++= more
    assert(vt.latestVersion === appended + 1) // the fold committed
    assert(vt.activeDirs().size === 1)
    check()
  }

  test("MERGE schema evolution widens existing columns the source spells wider") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1, 10.0f), (2, 20.0f)).toDF("k", "v"))
    // source: long keys (one beyond int range), double values
    val src = Seq((1L, 100.0), (3_000_000_000L, 50.0)).toDF("k", "v")
    val preV = vt.latestVersion
    val v = vt.mergeClauses(src, Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      evolveSchema = true)
    assert(v === preV + 1) // widening rode the merge commit
    assert(vt.tableSchema().fields.map(_.dataType).toSeq
      === Seq(LongType, DoubleType))
    assert(vt.read().orderBy("k").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((1L, 100.0), (2L, 20.0), (3_000_000_000L, 50.0)))
    // without the flag the source long key casts to the int table type
    // (unchanged pre-widening behavior: no silent schema drift)
    val dir2 = tmpVt()
    val vt2 = new graft.sources.VersionedTable(spark, dir2)
    vt2.append(Seq((1, 10.0f)).toDF("k", "v"))
    vt2.mergeClauses(Seq((1L, 99.0)).toDF("k", "v"), Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Nil)
    assert(vt2.tableSchema().fields.map(_.dataType).toSeq
      === Seq(IntegerType, FloatType))
    assert(vt2.read().head.getFloat(1) === 99.0f)
  }
}
