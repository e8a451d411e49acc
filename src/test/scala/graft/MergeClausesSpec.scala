package graft

import org.apache.spark.sql.functions._
import graft.sources.{MergeAction, MergeClause}

/** The full MERGE clause surface — conditional UPDATE/DELETE, column-
  * list INSERT, NOT MATCHED BY SOURCE — on both commit shapes
  * (copy-on-write and merge-on-read), through the Scala API and the
  * SQL frontend. First-match-wins ordering, carried-row identity, the
  * insert-only append shape, exact CDC on the DV shape, and the loud
  * failures (unreachable clause, multi-match source, unsupported
  * action) are all pinned.
  */
class MergeClausesSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_mrgcl_spec").toString

  private def seed(dir: String): graft.sources.VersionedTable = {
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"),
      (4L, 40.0, "b"), (7L, 70.0, "z")).toDF("k", "v", "cat"))
    vt
  }

  private val srcRows =
    Seq((1L, 100.0, "x"),  // matched, s.v > t.v      → UPDATE
      (2L, 5.0, "del"),    // matched, cat = 'del'    → DELETE
      (3L, 1.0, "keep"),   // matched, no clause      → carried
      (5L, 50.0, "new"),   // unmatched, s.v > 0      → INSERT (k, v)
      (6L, -1.0, "neg"))   // unmatched, cond false   → dropped

  private def rows(vt: graft.sources.VersionedTable) =
    vt.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq

  private val matchedClauses = Seq(
    MergeClause(Some(expr("s.v > t.v")),
      MergeAction.Update(Some(Map("v" -> expr("s.v"), "cat" -> expr("s.cat"))))),
    MergeClause(Some(expr("s.cat = 'del'")), MergeAction.Delete))
  private val notMatchedClauses = Seq(
    MergeClause(Some(expr("s.v > 0")),
      MergeAction.Insert(Some(Map("k" -> expr("s.k"), "v" -> expr("s.v"))))))

  // expected final state for the shared clause set WITHOUT any NMBS
  // clause: 1 updated, 2 deleted, 3/4/7 carried, 5 inserted (cat null)
  private val expectedNoNmbs = Seq((1L, 100.0, "x"), (3L, 30.0, "a"),
    (4L, 40.0, "b"), (5L, 50.0, null), (7L, 70.0, "z"))

  test("copy-on-write multi-clause merge: first-match-wins, carry, column-list insert") {
    val dir = tmpVt()
    val vt = seed(dir)
    val v = vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
      matchedClauses, notMatchedClauses)
    assert(v === 1)
    assert(rows(vt) === expectedNoNmbs)
    assert(vt.history().orderBy("version").collect().map(_.getAs[String]("op"))
      .toSeq === Seq("append", "merge"))
  }

  test("NOT MATCHED BY SOURCE updates and deletes unmatched target rows") {
    val dir = tmpVt()
    val vt = seed(dir)
    vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
      matchedClauses, notMatchedClauses,
      notMatchedBySource = Seq(
        MergeClause(Some(expr("t.k = 4")),
          MergeAction.Update(Some(Map("cat" -> lit("stale"))))),
        MergeClause(None, MergeAction.Delete)))
    // 4 → cat=stale (first NMBS clause), 7 → deleted (second)
    assert(rows(vt) === Seq((1L, 100.0, "x"), (3L, 30.0, "a"),
      (4L, 40.0, "stale"), (5L, 50.0, null)))
  }

  test("merge-on-read shape: data files untouched, exact CDC, metadata count stays exact") {
    val dir = tmpVt()
    val vt = seed(dir)
    val dataFiles = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
      matchedClauses, notMatchedClauses, useDeletionVectors = true)
    assert(vt.history().orderBy("version").collect().map(_.getAs[String]("op"))
      .toSeq === Seq("append", "merge-dv"))
    assert(rows(vt) === expectedNoNmbs)
    // pre-merge data files byte-identical (DV hides, never rewrites)
    dataFiles.foreach { case (p, ts) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.lastModified() === ts, s"rewritten: $p")
    }
    // metadata-only COUNT(*) stays exact under the DV
    assert(vt.fastCount() === Some(expectedNoNmbs.size.toLong))
    // the commit's CDC is exact: update pre+post, one delete, one insert
    val cdc = vt.changes(1, 1).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc === Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L, "insert" -> 1L))
  }

  test("insert-only outcome commits append-shaped: no rewrite, no removed dirs") {
    val dir = tmpVt()
    val vt = seed(dir)
    val v = vt.mergeClauses(Seq((5L, 50.0, "new")).toDF("k", "v", "cat"),
      Seq("k"), matchedClauses, notMatchedClauses)
    assert(v === 1)
    val h = vt.history().orderBy("version").collect()
    assert(h.map(_.getAs[String]("op")).toSeq === Seq("append", "merge"))
    // both the seed dir and the insert payload are active: nothing removed
    assert(h.last.getAs[Int]("num_active_dirs") === 2)
    assert(rows(vt).size === 6)
    // a merge where no clause fires at all is a no-op, not a commit
    val v2 = vt.mergeClauses(Seq((6L, -1.0, "neg")).toDF("k", "v", "cat"),
      Seq("k"), matchedClauses, notMatchedClauses)
    assert(v2 === 1 && vt.latestVersion === 1)
  }

  test("no-NOT-MATCHED clause sets ride the left-outer shape with identical semantics") {
    // without INSERT clauses the join drops to LEFT OUTER (broadcastable
    // at scale — full outer never is); outcomes must be unchanged
    val dir = tmpVt()
    val vt = seed(dir)
    vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
      matchedClauses, notMatched = Nil,
      notMatchedBySource = Seq(
        MergeClause(Some(expr("t.k = 7")), MergeAction.Delete)))
    // 1 updated, 2 deleted, 3/4 carried, 7 NMBS-deleted, NO inserts
    assert(rows(vt) === Seq((1L, 100.0, "x"), (3L, 30.0, "a"), (4L, 40.0, "b")))
  }

  test("insert-only clause sets anti-join the target keys: append shape, no target row read") {
    val dir = tmpVt()
    val vt = seed(dir)
    val v = vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
      matched = Nil, notMatched = notMatchedClauses)
    assert(v === 1)
    val h = vt.history().orderBy("version").collect().last
    assert(h.getAs[String]("op") === "merge")
    assert(h.getAs[Int]("num_active_dirs") === 2) // nothing removed
    // matched keys 1/2/3 untouched; 5 inserted; 6 dropped (cond false)
    assert(rows(vt) === Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"),
      (4L, 40.0, "b"), (5L, 50.0, null), (7L, 70.0, "z")))
  }

  test("SQL frontend: full clause surface with aliases over a quoted path") {
    val dir = tmpVt()
    val vt = seed(dir)
    srcRows.toDF("k", "v", "cat").createOrReplaceTempView("mrgcl_src")
    spark.sql(
      s"""MERGE INTO '$dir' AS t USING mrgcl_src AS s ON t.k = s.k
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v, cat = s.cat
         |WHEN MATCHED AND s.cat = 'del' THEN DELETE
         |WHEN NOT MATCHED AND s.v > 0 THEN INSERT (k, v) VALUES (s.k, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.k = 7 THEN DELETE""".stripMargin)
    assert(rows(vt) === Seq((1L, 100.0, "x"), (3L, 30.0, "a"),
      (4L, 40.0, "b"), (5L, 50.0, null)))
    // the exact upsert form still routes to the specialized plan;
    // clause forms route to the general one
    val parser = spark.sessionState.sqlParser
    assert(parser.parsePlan(
      s"""MERGE INTO '$dir' t USING mrgcl_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .isInstanceOf[graft.plans.GraftMerge])
    val general = parser.parsePlan(
      s"""MERGE INTO '$dir' t USING mrgcl_src s ON t.k = s.k
         |WHEN MATCHED AND t.v < 0 THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .asInstanceOf[graft.plans.GraftMergeClauses]
    assert(general.matched.size === 1 && general.notMatched.size === 1 &&
      general.targetAlias === "t" && general.sourceAlias === "s")
  }

  test("loud failures: unsupported action, unreachable clause, multi-match source") {
    val dir = tmpVt()
    val vt = seed(dir)
    srcRows.toDF("k", "v", "cat").createOrReplaceTempView("mrgcl_src2")
    val badAction = intercept[Exception] {
      spark.sql(s"""MERGE INTO '$dir' t USING mrgcl_src2 s ON t.k = s.k
                   |WHEN MATCHED THEN INSERT *""".stripMargin)
    }
    assert(badAction.getMessage.contains("UPDATE SET"))
    val unreachable = intercept[Exception] {
      spark.sql(s"""MERGE INTO '$dir' t USING mrgcl_src2 s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN MATCHED AND s.v > 0 THEN DELETE""".stripMargin)
    }
    assert(unreachable.getMessage.contains("unreachable"))
    val multi = intercept[Exception] {
      vt.mergeClauses(Seq((1L, 1.0, "p"), (1L, 2.0, "q")).toDF("k", "v", "cat"),
        Seq("k"), matchedClauses, notMatchedClauses)
    }
    assert(multi.getMessage.contains("more than one"))
    // upsert merge shares the refusal, in both commit shapes: it once
    // wrote both source rows for key 1
    val before = vt.latestVersion
    Seq(false, true).foreach { dv =>
      val upsertMulti = intercept[Exception] {
        vt.merge(Seq((1L, 1.0, "a"), (1L, 2.0, "b")).toDF("k", "v", "cat"),
          Seq("k"), useDeletionVectors = dv)
      }
      assert(upsertMulti.getMessage.contains("more than one"), s"dv=$dv")
    }
    assert(vt.latestVersion === before)
    // alias colliding with a key column is rejected, not mis-resolved
    val collide = intercept[Exception] {
      vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
        matchedClauses, notMatchedClauses, targetAlias = "k")
    }
    assert(collide.getMessage.contains("collides"))
    // non-deterministic clause expressions are rejected up front: the
    // classification is evaluated more than once (counts/CDC vs the
    // copy-on-write carried recompute)
    val nonDet = intercept[Exception] {
      vt.mergeClauses(srcRows.toDF("k", "v", "cat"), Seq("k"),
        Seq(MergeClause(Some(expr("rand() < 0.5")), MergeAction.Delete)),
        notMatched = Nil)
    }
    assert(nonDet.getMessage.contains("deterministic"))
  }

  test("trailing junk that is a string literal is rejected, not dropped") {
    // the masker blanks string literals to spaces, so a masked-text-only
    // tail check would read `DELETE 'junk'` as `DELETE` — the parser
    // must validate action tails against the RAW text too
    val dir = tmpVt()
    seed(dir)
    val parser = spark.sessionState.sqlParser
    def rejects(actionTail: String): Unit = {
      val e = intercept[Exception] {
        parser.parsePlan(
          s"""MERGE INTO '$dir' t USING mrgcl_junk s ON t.k = s.k
             |$actionTail""".stripMargin)
      }
      assert(e.getMessage.contains("unexpected text after") ||
        e.getMessage.contains("supports"), s"$actionTail -> ${e.getMessage}")
    }
    rejects("WHEN MATCHED THEN DELETE 'junk'")
    rejects("WHEN MATCHED THEN UPDATE SET * 'junk'")
    rejects("WHEN NOT MATCHED THEN INSERT * 'junk'")
    rejects("WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k) 'junk'")
    // trailing COMMENTS stay legal — they are spaces in the masked text
    // and complete comment tokens in the raw one
    val ok = parser.parsePlan(
      s"""MERGE INTO '$dir' t USING mrgcl_junk s ON t.k = s.k
         |WHEN MATCHED THEN DELETE -- cleanup
         |WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k) /* note */""".stripMargin)
      .asInstanceOf[graft.plans.GraftMergeClauses]
    assert(ok.matched.size === 1 && ok.notMatched.size === 1)
  }

  test("alias-qualified SET targets parse (the alias is redundant and stripped)") {
    val dir = tmpVt()
    val vt = seed(dir)
    srcRows.toDF("k", "v", "cat").createOrReplaceTempView("mrgcl_src3")
    spark.sql(
      s"""MERGE INTO '$dir' AS t USING mrgcl_src3 AS s ON t.k = s.k
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET t.v = s.v""".stripMargin)
    assert(rows(vt).find(_._1 == 1L).map(_._2) === Some(100.0))
  }

  test("a source with a current-time column is read once: table rows equal the change data") {
    for (dv <- Seq(false, true)) {
      val vt = new graft.sources.VersionedTable(spark, tmpVt())
      val old = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
      vt.append((0L until 200L).map(k => (k, old)).toDF("k", "ts"))
      // every job plans its own current_timestamp(): re-read per job, the
      // payload and the change data would carry different stamps
      val v = vt.merge((100L until 300L).toDF("k").withColumn("ts", current_timestamp()),
        Seq("k"), writeChangeData = true, useDeletionVectors = dv)
      val written = vt.read().filter(col("k") >= 100L)
      val changed = vt.changes(v, v)
        .filter(col("_change_type").isin("update_postimage", "insert")).select("k", "ts")
      assert(written.count() === 200L, s"dv=$dv")
      assert(written.select("ts").distinct().count() === 1L, s"dv=$dv")
      assert(written.exceptAll(changed).isEmpty && changed.exceptAll(written).isEmpty,
        s"dv=$dv: table rows and change data differ")
    }
  }

  test("a current-time clause condition claims one set: no row lost, change data exact") {
    for (dv <- Seq(false, true)) {
      val vt = new graft.sources.VersionedTable(spark, tmpVt())
      val n = 100000L
      vt.append(spark.range(0, n, 1, 2).select(col("id").as("k"), lit(1.0).as("v")))
      // every row matches; row k expires k ms after `start`, so each job
      // the merge runs sees more rows expired
      val start = System.currentTimeMillis() - 100L
      val v = vt.mergeClauses(
        spark.range(0, n, 1, 2).select(col("id").as("k"), lit(2.0).as("v")), Seq("k"),
        matched = Seq(MergeClause(
          Some(col("t.k") < unix_millis(current_timestamp()) - lit(start)), MergeAction.Delete)),
        notMatched = Nil, writeChangeData = true, useDeletionVectors = dv)
      val left = vt.read().select("k").as[Long].collect()
      val deleted = vt.changes(v, v).filter(col("_change_type") === "delete")
        .select("k").as[Long].collect()
      assert(deleted.nonEmpty, s"dv=$dv")
      assert(left.length + deleted.length === n, s"dv=$dv: rows lost without a change record")
      assert(deleted.max < left.min, s"dv=$dv")
    }
  }
}
