package graft

import org.apache.spark.sql.functions._
import graft.sources.{MergeAction, MergeClause}

/** MERGE schema evolution (Delta's withSchemaEvolution; SQL
  * `MERGE WITH SCHEMA EVOLUTION INTO`): new source columns join the
  * table as a metadata-only widening carried ON the merge commit
  * itself; star forms expand over the source's columns; existing files
  * read the new columns as null. Pinned interactions: ×deletion
  * vectors, ×column mapping (rename), ×time travel, ×concurrent
  * schema change, and the unchanged strict contract without the flag.
  */
class MergeEvolveSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_mrgev_spec").toString

  private def seed(dir: String): graft.sources.VersionedTable = {
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"),
      (4L, 40.0, "b"), (7L, 70.0, "z")).toDF("k", "v", "cat"))
    vt
  }

  // source carries a NEW column `tag` the table does not have
  private val evoSrc = Seq((1L, 100.0, "x", "t1"), (5L, 50.0, "new", "t5"))

  private def rows4(vt: graft.sources.VersionedTable) =
    vt.read().orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1),
      if (r.isNullAt(2)) null else r.getString(2),
      if (r.isNullAt(3)) null else r.getString(3))).toSeq

  test("star-form evolution: new column added on the merge commit, old rows read null") {
    val dir = tmpVt()
    val vt = seed(dir)
    val preVersion = vt.latestVersion
    val src = evoSrc.toDF("k", "v", "cat", "tag")
    val v = vt.mergeClauses(src, Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      evolveSchema = true)
    // ONE commit: the schema evolution rode the merge, no separate alter
    assert(v === preVersion + 1)
    assert(vt.tableSchema().fieldNames.toSeq === Seq("k", "v", "cat", "tag"))
    assert(rows4(vt) === Seq(
      (1L, 100.0, "x", "t1"),   // matched: UPDATE SET * incl. the new col
      (2L, 20.0, "b", null),    // untouched: new col reads null
      (3L, 30.0, "a", null),
      (4L, 40.0, "b", null),
      (5L, 50.0, "new", "t5"),  // inserted with the new col
      (7L, 70.0, "z", null)))
    // time travel: the pre-merge version keeps its own 3-column schema
    assert(vt.readAt(preVersion).schema.fieldNames.toSeq === Seq("k", "v", "cat"))
    assert(vt.history().filter(col("op") === "alter").count() === 0)
  }

  test("without the flag the strict star contract is unchanged") {
    val dir = tmpVt()
    val vt = seed(dir)
    val e = intercept[IllegalArgumentException] {
      vt.mergeClauses(evoSrc.toDF("k", "v", "cat", "tag"), Seq("k"),
        matched = Seq(MergeClause(None, MergeAction.Update(None))),
        notMatched = Seq(MergeClause(None, MergeAction.Insert(None))))
    }
    assert(e.getMessage.contains("source schema = table schema"))
  }

  test("explicit assignments and column-list inserts may reference evolved columns") {
    val dir = tmpVt()
    val vt = seed(dir)
    vt.mergeClauses(evoSrc.toDF("k", "v", "cat", "tag"), Seq("k"),
      matched = Seq(MergeClause(Some(expr("s.v > t.v")),
        MergeAction.Update(Some(Map("tag" -> expr("s.tag")))))),
      notMatched = Seq(MergeClause(None,
        MergeAction.Insert(Some(Map("k" -> expr("s.k"), "tag" -> expr("s.tag")))))),
      evolveSchema = true)
    val got = vt.read().orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getString(3))).toSeq
    assert(got === Seq((1L, "t1"), (2L, null), (3L, null), (4L, null),
      (5L, "t5"), (7L, null)))
    // the UPDATE touched only `tag`; v/cat carried
    assert(vt.read().filter(col("k") === 1L).head.getDouble(1) === 10.0)
  }

  test("evolution composes with deletion vectors: merge-on-read, data files untouched") {
    val dir = tmpVt()
    val vt = seed(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.toString.contains("cdf-"))
          buf += ((f.getPath.toString, f.getModificationTime))
      }
      buf.sortBy(_._1).toSeq
    }
    val before = dataFiles
    vt.mergeClauses(evoSrc.toDF("k", "v", "cat", "tag"), Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      useDeletionVectors = true, evolveSchema = true)
    assert(vt.history().orderBy(desc("version")).head.getString(1) === "merge-dv")
    // every pre-merge data file survives byte-identical (new ones appended)
    val after = dataFiles
    assert(before.forall(after.contains), s"rewritten: $before vs $after")
    assert(rows4(vt).filter(t => Seq(1L, 2L, 5L).contains(t._1)) === Seq(
      (1L, 100.0, "x", "t1"), (2L, 20.0, "b", null), (5L, 50.0, "new", "t5")))
    // metadata COUNT stays exact under the evolved DV'd snapshot
    assert(vt.read().count() === 6)
  }

  test("evolution respects column mapping: fresh names work, physical residue fails loudly") {
    val dir = tmpVt()
    val vt = seed(dir)
    vt.renameColumn("cat", "category")
    // a fresh name evolves fine on a renamed table
    vt.mergeClauses(evoSrc.toDF("k", "v", "category", "tag"), Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      evolveSchema = true)
    assert(vt.tableSchema().fieldNames.toSeq === Seq("k", "v", "category", "tag"))
    assert(rows4(vt).head === ((1L, 100.0, "x", "t1")))
    // but `cat` — the renamed column's PHYSICAL name, whose bytes live
    // in every active directory — is refused, not silently mis-bound
    val e = intercept[IllegalArgumentException] {
      vt.mergeClauses(Seq((1L, 1.0, "boom")).toDF("k", "v", "cat"), Seq("k"),
        matched = Seq(MergeClause(None, MergeAction.Update(None))),
        notMatched = Nil, evolveSchema = true)
    }
    assert(e.getMessage.contains("resurface") && e.getMessage.contains("cat"))
  }

  test("a no-op merge evolves nothing") {
    val dir = tmpVt()
    val vt = seed(dir)
    val pre = vt.latestVersion
    // matched rows exist but no clause claims them (condition false);
    // nothing inserted — no commit, no schema change
    val v = vt.mergeClauses(Seq((1L, 1.0, "x", "t")).toDF("k", "v", "cat", "tag"),
      Seq("k"),
      matched = Seq(MergeClause(Some(expr("s.v > 1000")),
        MergeAction.Update(None))),
      notMatched = Nil, evolveSchema = true)
    assert(v === pre)
    assert(vt.tableSchema().fieldNames.toSeq === Seq("k", "v", "cat"))
  }

  test("a concurrent schema change conflicts loudly with a carried evolution") {
    val dir = tmpVt()
    val vt = seed(dir)
    val racer = new graft.sources.VersionedTable(spark, dir)
    vt.beforePublish = () => {
      racer.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("other",
          org.apache.spark.sql.types.StringType))))
      vt.beforePublish = () => ()
    }
    val e = intercept[IllegalStateException] {
      vt.mergeClauses(evoSrc.toDF("k", "v", "cat", "tag"), Seq("k"),
        matched = Seq(MergeClause(None, MergeAction.Update(None))),
        notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("schema"))
  }

  test("a concurrent SCHEMA-IDENTICAL append retries through a carried evolution") {
    val dir = tmpVt()
    val vt = seed(dir)
    val racer = new graft.sources.VersionedTable(spark, dir)
    // every append carries a schemaJson of the (unchanged) table schema
    // — its PRESENCE alone must not read as a schema conflict, or an
    // evolving merge could never land under a plain ingestion stream.
    // Keys far from the merge's span, so the added-data detector passes.
    vt.beforePublish = () => {
      racer.append(Seq((1000L, 0.5, "q")).toDF("k", "v", "cat"))
      vt.beforePublish = () => ()
    }
    val v = vt.mergeClauses(evoSrc.toDF("k", "v", "cat", "tag"), Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      evolveSchema = true)
    assert(v === vt.latestVersion)
    assert(vt.tableSchema().fieldNames.toSeq === Seq("k", "v", "cat", "tag"))
    // both writes survived: the racer's row (tag null) and the merge's
    val got = rows4(vt)
    assert(got.contains((1000L, 0.5, "q", null)))
    assert(got.contains((5L, 50.0, "new", "t5")))
    assert(got.contains((1L, 100.0, "x", "t1")))
  }

  test("a concurrent duplicate (app,batch) racer resolves as a SKIP, never a double-commit") {
    val dir = tmpVt()
    val vt = seed(dir)
    val racer = new graft.sources.VersionedTable(spark, dir)
    val src = evoSrc.toDF("k", "v", "cat", "tag")
    def mergeIt(t: graft.sources.VersionedTable): Int =
      t.mergeClauses(src, Seq("k"),
        matched = Seq(MergeClause(None, MergeAction.Update(None))),
        notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
        evolveSchema = true, txn = Some(("dup-app", 7L)))
    // the twin lands the SAME (app, batch) while ours is in flight: the
    // retry loop must re-check the txn tag and return gracefully as a
    // skip — not fail loudly, and above all not commit the batch twice
    vt.beforePublish = () => {
      mergeIt(racer)
      vt.beforePublish = () => ()
    }
    val v = mergeIt(vt)
    assert(v === vt.latestVersion)
    assert(vt.history().filter(col("op").isin("merge", "merge-dv")).count()
      === 1)
    assert(rows4(vt).count(_._1 == 5L) === 1)
    assert(unreferencedDirs(dir).isEmpty) // the skip reclaimed its payload
  }

  test("streaming CDC apply: micro-batched evolved upserts, exactly-once on full replay") {
    val dir = tmpVt()
    val vt = seed(dir)
    // two disjoint-key micro-batches carrying the NEW column
    val b0 = Seq((1L, 100.0, "x", "t1")).toDF("k", "v", "cat", "tag")
    val b1 = Seq((5L, 50.0, "new", "t5")).toDF("k", "v", "cat", "tag")
    val staged = java.nio.file.Files.createTempDirectory("vt_smrg_spec").toString
    b0.coalesce(1).write.mode("append").parquet(staged)
    // distinct mtime slots so maxFilesPerTrigger delivers b0 first
    new java.io.File(staged).listFiles().foreach(_.setLastModified(
      System.currentTimeMillis() - 120000L))
    b1.coalesce(1).write.mode("append").parquet(staged)
    def stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val ckpt = java.nio.file.Files.createTempDirectory("vt_smrg_ck").toString
    graft.streaming.StreamingJobs.runMergeToVersionedTable(spark, stream,
      dir, Seq("k"), app = "spec-cdc", evolveSchema = true,
      statePartitions = Some(4), checkpoint = Some(ckpt))
    assert(rows4(vt) === Seq(
      (1L, 100.0, "x", "t1"), (2L, 20.0, "b", null), (3L, 30.0, "a", null),
      (4L, 40.0, "b", null), (5L, 50.0, "new", "t5"), (7L, 70.0, "z", null)))
    val vAfter = vt.latestVersion
    // RESTART on the same stable checkpoint: nothing new to deliver,
    // zero new commits — exactly-once across restarts
    graft.streaming.StreamingJobs.runMergeToVersionedTable(spark, stream,
      dir, Seq("k"), app = "spec-cdc", evolveSchema = true,
      statePartitions = Some(4), checkpoint = Some(ckpt))
    assert(vt.latestVersion === vAfter)
    assert(rows4(vt).size === 6)
    // a txn replay (crash between the merge commit and the checkpoint
    // write) heals as a SKIP: batch 0 re-offered under the same app id
    // leaves the version untouched
    val replayV = vt.mergeClauses(b0, Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
      evolveSchema = true, txn = Some(("spec-cdc", 0L)))
    assert(replayV === vAfter)
    // the UNSAFE configuration — an app id that already committed
    // batches, re-run WITHOUT a stable checkpoint (batch ids restart
    // at 0, every batch would silently skip) — is refused up front
    val unsafe = intercept[IllegalArgumentException] {
      graft.streaming.StreamingJobs.runMergeToVersionedTable(spark, stream,
        dir, Seq("k"), app = "spec-cdc", evolveSchema = true,
        statePartitions = Some(4))
    }
    assert(unsafe.getMessage.contains("checkpoint"))
    // a different app id is NOT a replay: its merge applies (no-op row
    // set here, but the txn namespace separation is the point)
    val v2 = vt.mergeClauses(b0, Seq("k"),
      matched = Seq(MergeClause(None, MergeAction.Update(None))),
      notMatched = Nil, evolveSchema = true, txn = Some(("other-app", 0L)))
    assert(v2 === vAfter + 1)
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION INTO routes the exact upsert to the clause engine") {
    val dir = tmpVt()
    val vt = seed(dir)
    evoSrc.toDF("k", "v", "cat", "tag").createOrReplaceTempView("mrgev_src")
    // the exact two-clause upsert normally rides the specialized path;
    // WITH SCHEMA EVOLUTION must route it to the general clause engine
    val plan = spark.sessionState.sqlParser.parsePlan(
      s"""MERGE WITH SCHEMA EVOLUTION INTO '$dir' t USING mrgev_src s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val g = plan.asInstanceOf[graft.plans.GraftMergeClauses]
    assert(g.evolveSchema)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO '$dir' t USING mrgev_src s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(vt.tableSchema().fieldNames.toSeq === Seq("k", "v", "cat", "tag"))
    assert(rows4(vt).filter(t => Seq(1L, 5L).contains(t._1)) === Seq(
      (1L, 100.0, "x", "t1"), (5L, 50.0, "new", "t5")))
    // without the modifier the exact upsert still rides the specialized plan
    assert(spark.sessionState.sqlParser.parsePlan(
      s"""MERGE INTO '$dir' t USING mrgev_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .isInstanceOf[graft.plans.GraftMerge])
  }
}
