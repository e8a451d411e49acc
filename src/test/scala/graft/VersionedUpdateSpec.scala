package graft

import org.apache.spark.sql.functions._

/** The third row-level mutation — copy-on-write UPDATE — and the SQL
  * DML frontend (UPDATE / DELETE FROM / MERGE INTO) over versioned
  * tables.
  */
class VersionedUpdateSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_upd_spec").toString

  test("update rewrites only matching rows; non-matching and NULL-condition rows survive") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, null, 30.0))
      .toDF("k", "s", "p"))
    val v = vt.update(col("s") === "a", Map("p" -> (col("p") + 100)))
    assert(v === 1)
    val rows = vt.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    // k=3's condition is NULL (s is null) → NOT updated, SQL semantics
    assert(rows === Seq((1L, "a", 110.0), (2L, "b", 20.0), (3L, null, 30.0)))
    // time travel still serves the pre-update rows
    assert(vt.readAt(0).filter(col("k") === 1).head.getDouble(2) === 10.0)
  }

  test("update touches only the directories holding matching rows") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 50L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 150L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val before = vt.activeDirs()
    vt.update(col("k") >= 100L, Map("p" -> lit(-1.0)))
    val after = vt.activeDirs()
    // the first directory was never rewritten — its name stays active
    assert(after.contains(before.head))
    assert(!after.contains(before.last))
    assert(vt.read().filter(col("p") === -1.0).count() === 50)
    assert(vt.read().count() === 100)
    // no match → no commit
    val v = vt.latestVersion
    assert(vt.update(col("k") === 99999L, Map("p" -> lit(0.0))) === v)
  }

  test("delete/update discovery scans only the stats-admitted directories") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    // a CLUSTERED table: 4 range-disjoint chunks on k, so a narrow
    // range predicate admits strictly fewer than the active set
    vt.append((0L until 4000L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.optimize("k", 4)
    val active = vt.activeDirs()
    assert(active.size === 4)
    // DELETE WHERE k < 100: the discovery read's candidate set must be
    // exactly the pruneActiveAll-admitted directories (1 of 4), never
    // the whole table — the 100 TB scale contract.
    val (admitted, _) = vt.pruneActive("k", None, Some(99L))
    vt.delete(col("k") < 100L)
    assert(vt.lastDiscoveryDirs.toSet === admitted.toSet)
    assert(vt.lastDiscoveryDirs.size < active.size)
    assert(vt.read().count() === 3900)
    // UPDATE with a conjunctive predicate: the translatable conjunct
    // (k >= 3900) prunes even though k % 7 = 0 cannot translate.
    val activeNow = vt.activeDirs()
    vt.update(col("k") >= 3900L && col("k") % 7 === 0, Map("p" -> lit(-1.0)))
    assert(vt.lastDiscoveryDirs.size < activeNow.size)
    assert(vt.read().filter(col("p") === -1.0).count() ===
      (3900L until 4000L).count(_ % 7 == 0))
    // a provably-matchless predicate commits nothing and reads nothing
    val v = vt.latestVersion
    assert(vt.delete(col("k") > 1000000L) === v)
    assert(vt.lastDiscoveryDirs.isEmpty)
    // an untranslatable predicate falls back to the full active set
    vt.delete(col("k") % 9999 === 1234)
    assert(vt.lastDiscoveryDirs.toSet === vt.activeDirs(Some(v)).toSet)
    // IN keys scattered across the chunks: exactly the directories whose
    // [min, max] holds a member, not every directory in the envelope
    val keys = Seq(500L, 3500L)
    val holding = keys.flatMap(k => vt.pruneActive("k", Some(k), Some(k))._1).toSet
    assert(vt.pruneActive("k", Some(keys.min), Some(keys.max))._1.size > holding.size)
    vt.delete(col("k").isin(keys: _*))
    assert(vt.lastDiscoveryDirs.toSet === holding)
    assert(vt.read().filter(col("k").isin(keys: _*)).isEmpty)
  }

  test("update casts assigned values to the column's physical type; schema never drifts") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1, 5), (2, 6)).toDF("k", "v")) // both int
    vt.update(col("k") === 1, Map("v" -> lit(123L))) // long literal
    assert(vt.read().schema("v").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(vt.read().filter(col("k") === 1).head.getInt(1) === 123)
    // unknown column fails loudly
    val e = intercept[IllegalArgumentException] {
      vt.update(lit(true), Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("update validates CHECK constraints on the NEW values and aborts before publish") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"))
    vt.addConstraint("pos", "p >= 0")
    val v = vt.latestVersion
    intercept[IllegalArgumentException] {
      vt.update(col("k") === 1L, Map("p" -> lit(-5.0)))
    }
    assert(vt.latestVersion === v) // nothing committed
    assert(vt.read().filter(col("k") === 1L).head.getDouble(1) === 10.0)
  }

  test("update with writeChangeData serves exact pre/postimages through changes()") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "p"))
    val v = vt.update(col("k") <= 2L, Map("p" -> (col("p") * 2)),
      writeChangeData = true)
    val cdc = vt.changes(v, v).orderBy("_change_type", "k").collect()
      .map(r => (r.getString(r.fieldIndex("_change_type")), r.getLong(0),
        r.getDouble(1))).toSeq
    assert(cdc === Seq(
      ("update_postimage", 1L, 20.0), ("update_postimage", 2L, 40.0),
      ("update_preimage", 1L, 10.0), ("update_preimage", 2L, 20.0)))
  }

  test("concurrent append of non-matching data retries through; matching data fails loudly") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 20L).map(k => (k, k * 1.0)).toDF("k", "p"))
    // disjoint winner: lands mid-update, cannot match k < 10 → retry wins
    vt.beforePublish = () => {
      new graft.sources.VersionedTable(spark, dir)
        .append(Seq((500L, 0.0)).toDF("k", "p"))
      vt.beforePublish = () => ()
    }
    vt.update(col("k") < 10L, Map("p" -> lit(-1.0)))
    assert(vt.read().count() === 21)
    assert(vt.read().filter(col("p") === -1.0).count() === 10)
    // overlapping winner: adds a row the condition matches → loud
    vt.beforePublish = () => {
      new graft.sources.VersionedTable(spark, dir)
        .append(Seq((5L, 999.0)).toDF("k", "p"))
      vt.beforePublish = () => ()
    }
    val e = intercept[IllegalStateException] {
      vt.update(col("k") < 10L, Map("p" -> lit(-2.0)))
    }
    assert(e.getMessage.contains("may match"))
  }

  test("SQL UPDATE / DELETE FROM / MERGE INTO drive the mutations over a quoted path") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "p"))
    // literals containing clause keywords must not confuse the parser
    spark.sql(s"UPDATE '$dir' SET s = 'WHERE SET', p = p + 1 WHERE k <= 2")
    val rows = vt.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows === Seq((1L, "WHERE SET", 11.0), (2L, "WHERE SET", 21.0),
      (3L, "c", 30.0)))
    spark.sql(s"DELETE FROM '$dir' WHERE k = 2")
    assert(vt.read().count() === 2)
    // MERGE with a subquery source and aliases; upsert form only
    Seq((3L, "C!", 333.0), (9L, "new", 900.0)).toDF("k", "s", "p")
      .createOrReplaceTempView("vt_upd_src")
    spark.sql(
      s"""MERGE INTO '$dir' t USING (SELECT * FROM vt_upd_src) src
         |ON t.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val merged = vt.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(merged === Seq((1L, "WHERE SET", 11.0), (3L, "C!", 333.0),
      (9L, "new", 900.0)))
    // unsupported WHEN forms fail loudly, never silently approximate
    // (matched-DELETE itself is a supported clause — MergeClausesSpec)
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO '$dir' t USING vt_upd_src src ON t.k = src.k
                   |WHEN MATCHED THEN UPSERT EVERYTHING""".stripMargin)
    }
    assert(e.getMessage.contains("UPDATE SET"))
    // UPDATE without WHERE touches every row; DELETE FROM empties
    spark.sql(s"UPDATE '$dir' SET p = 0")
    assert(vt.read().agg(sum("p")).head.getDouble(0) === 0.0)
    spark.sql(s"DELETE FROM '$dir'")
    assert(vt.read().count() === 0)
  }

  test("SQL DML over bridge-named tables refreshes the catalog view; plain tables untouched") {
    val tbl = "vdml_bridge"
    try spark.catalog.dropTempView(tbl) catch { case _: Exception => () }
    val base = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl + "__versioned")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    val tables = new graft.sources.TableManager(spark)
    tables.appendVersioned(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), tbl)
    spark.sql(s"UPDATE $tbl SET p = p * 10 WHERE k = 1")
    // the refreshed view serves the post-update snapshot through SQL
    assert(spark.sql(s"SELECT p FROM $tbl WHERE k = 1").head.getDouble(0) === 100.0)
    spark.sql(s"DELETE FROM $tbl WHERE k = 2")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 1)
    // a non-versioned target falls through to Spark's own parser:
    // its error, not our bridge error
    val e = intercept[Exception] {
      spark.sql("UPDATE definitely_not_a_table SET x = 1")
    }
    assert(!e.getMessage.contains("not a versioned table"))
    // ...and DML keywords inside literals never trigger the intercept
    assert(spark.sql("SELECT 'UPDATE t SET x = 1' AS s").head.getString(0)
      === "UPDATE t SET x = 1")
  }

  test("mutations are schema-aware: evolved columns assignable, dropped ones invisible") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p")) // dir1: (k, p)
    // metadata-only evolution: no file holds `tag` yet
    vt.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType))))
    // UPDATE can assign the evolved column even though dir1 predates it
    vt.update(col("k") === 1L, Map("tag" -> lit("hot")))
    val rows = vt.read().orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(rows === Seq((1L, "hot"), (2L, null)))
    // DELETE on the evolved column works the same way
    vt.delete(col("tag") === "hot")
    assert(vt.read().count() === 1)
    // after a DROP, the rewrite payload must NOT carry the dropped
    // column's residual bytes
    vt.dropColumns(Seq("tag"))
    vt.update(col("k") === 2L, Map("p" -> lit(99.0)))
    assert(vt.read().schema.fieldNames.toSeq === Seq("k", "p"))
    assert(vt.read().head.getDouble(1) === 99.0)
    // a rewritten directory physically holds only the live schema, so
    // re-adding the name is allowed once every ghost dir is rewritten
    vt.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType))))
    assert(vt.read().filter(col("tag").isNull).count() === 1)
  }

  test("a partial OPTIMIZE sheds a dropped column's bytes like a DML rewrite") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    (0 until 4).foreach(d => vt.append((d * 100 until (d + 1) * 100)
      .map(i => (i.toLong, i * 1.5, s"t$i")).toDF("k", "p", "tag")))
    vt.dropColumns(Seq("tag"))
    val before = vt.activeDirs().toSet
    val v = vt.optimizeWhere("k", 1, "k", Some(0L), Some(150L))
    val rewritten = vt.activeDirs().filterNot(before)
    assert(rewritten.size === 1 && vt.activeDirs().size === 3)
    val path = new org.apache.hadoop.fs.Path(dir, rewritten.head)
    assert(spark.read.parquet(path.toString).schema.fieldNames.toSeq === Seq("k", "p"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, f"_graft_log/$v%08d.json"))
    val c = try graft.sources.VersionedTable.decodeCommit(in) finally in.close()
    assert(c.addedStats(rewritten.head).keySet === Set("k", "p"))
    // the two untouched directories still hold `tag`: re-adding it stays
    // refused until they are rewritten too
    val tag = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    assert(intercept[IllegalArgumentException](vt.addColumns(tag))
      .getMessage.contains("still live"))
    vt.optimizeWhere("k", 1, "k", Some(200L), None)
    vt.addColumns(tag)
    assert(vt.read().filter(col("tag").isNull).count() === 400)
    assert(vt.read().agg(sum(col("p"))).head.getDouble(0) === (0 until 400).map(_ * 1.5).sum)
  }

  test("mutations on a created-but-never-written table are clean no-ops / inserts") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.DoubleType))))
    assert(vt.update(col("k") === 1L, Map("p" -> lit(0.0))) === 0) // no-op
    assert(vt.delete(col("k") === 1L) === 0)                       // no-op
    // merge into the empty table: pure insert
    vt.merge(Seq((5L, 50.0)).toDF("k", "p"), Seq("k"))
    assert(vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((5L, 50.0)))
  }

  test("retried append cannot resurrect a concurrently dropped column") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a", "t1")).toDF("k", "s", "tag"))
    val racer = new graft.sources.VersionedTable(spark, dir)
    // the racer drops `tag` between this append's write and publish
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.dropColumns(Seq("tag"))
    }
    val e = intercept[IllegalStateException] {
      vt.appendWithRetry(Seq((2L, "b", "t2")).toDF("k", "s", "tag"))
    }
    assert(e.getMessage.contains("concurrently dropped"))
    assert(!vt.read().schema.fieldNames.contains("tag")) // drop holds
    // a disjoint-schema retried append still rides through
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(Seq((9L, "z")).toDF("k", "s"))
    }
    vt.appendWithRetry(Seq((3L, "c")).toDF("k", "s"))
    assert(vt.read().count() === 3)
  }

  test("fastNonNullCount answers COUNT(col) from the manifest fold only") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("k", "s"))
    vt.append(Seq((4L, None: Option[String]), (5L, None)).toDF("k", "s"))
    assert(vt.fastNonNullCount("s") === Some(2L))
    assert(vt.fastNonNullCount("k") === Some(5L))
    assert(vt.fastNonNullCount("s", Some(0)) === Some(2L))
    assert(vt.fastNonNullCount("nope") === None)
    assert(vt.fastCount() === Some(5L))
  }
}
