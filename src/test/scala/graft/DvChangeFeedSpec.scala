package graft

import org.apache.spark.sql.functions._

/** The one change feed — batch `readChangeFeed`, its streaming form and
  * [[graft.sources.VersionedTable.changes]], which is the batch feed
  * over its own handle. A commit that persisted change data (every
  * merge-on-read command, a copy-on-write one with `writeChangeData`)
  * serves it, each row typed by its embedded `_change_type`; any other
  * commit synthesizes inserts and deletes from its added and removed
  * directories, folding deletion vectors when a rewrite removes (or a
  * restore re-adds) a DV'd directory. Every case asserts hand-written
  * rows.
  */
class DvChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_dvcdf_spec").toString

  private def cdf(dir: String, from: Int, to: Int) =
    spark.read.format("graftvt")
      .option("readChangeFeed", "true")
      .option("startingVersion", from).option("endingVersion", to)
      .load(dir)

  private def sig(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, String, Int)] =
    df.select("k", "p", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
      .toSeq.sorted

  test("batch CDF serves update-dv and merge-dv commits from their CDC") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))   // v0
    vt.update(col("k") < 5L, Map("p" -> lit(-1.0)),
      useDeletionVectors = true)                                        // v1
    vt.merge(Seq((50L, -2.0), (500L, 5.0)).toDF("k", "p"), Seq("k"),
      useDeletionVectors = true)                                        // v2
    assert(vt.history().orderBy("version").collect().map(_.getAs[String]("op"))
      .toSeq === Seq("append", "update-dv", "merge-dv"))
    val want = ((0L until 5L).flatMap(k => Seq(
      (k, k * 1.0, "update_preimage", 1), (k, -1.0, "update_postimage", 1))) ++
      Seq((50L, 50.0, "update_preimage", 2), (50L, -2.0, "update_postimage", 2),
        (500L, 5.0, "insert", 2))).sorted
    assert(sig(cdf(dir, 1, 2)) === want)
    assert(sig(vt.changes(1, 2)) === want)
  }

  test("CDF folds DVs when a rewrite removes a DV'd directory") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 50L).map(k => (k, k * 1.0)).toDF("k", "p"))    // v0
    vt.delete(col("k") < 5L, useDeletionVectors = true)                // v1
    vt.overwrite(Seq((999L, 0.0)).toDF("k", "p"))                      // v2
    // the five DV-hidden rows are NOT re-reported as deletes
    val want = ((5L until 50L).map(k => (k, k * 1.0, "delete", 2)) :+
      ((999L, 0.0, "insert", 2))).sorted
    assert(sig(cdf(dir, 2, 2)) === want)
    assert(sig(vt.changes(2, 2)) === want)
  }

  test("CDF serves renamed tables under the logical names") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 40L).map(k => (k, k * 1.0)).toDF("k", "p"))    // v0
    vt.renameColumn("p", "price")                                       // v1
    vt.delete(col("k") < 3L, useDeletionVectors = true)                 // v2
    vt.append(Seq((100L, 9.0)).toDF("k", "price"))                      // v3
    val feed = spark.read.format("graftvt")
      .option("readChangeFeed", "true")
      .option("startingVersion", 2).option("endingVersion", 3)
      .load(dir)
    assert(feed.columns.toSeq ===
      Seq("k", "price", "_change_type", "_commit_version"))
    val got = feed.select("k", "price", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
      .toSeq.sorted
    val want = ((0L until 3L).map(k => (k, k * 1.0, "delete", 2)) :+
      ((100L, 9.0, "insert", 3))).sorted
    assert(got === want)
    assert(sig(vt.changes(2, 3).withColumnRenamed("price", "p")) === want)
  }

  test("changes() on a surviving range works after vacuum deleted early manifests") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 10L).map(k => (k, k * 1.0)).toDF("k", "p"))    // v0
    vt.append((10L until 20L).map(k => (k, k * 1.0)).toDF("k", "p"))   // v1
    vt.append((20L until 30L).map(k => (k, k * 1.0)).toDF("k", "p"))   // v2
    vt.append((30L until 40L).map(k => (k, k * 1.0)).toDF("k", "p"))   // v3
    val want = (20L until 40L).map(k => (k, k * 1.0, "insert", (k / 10).toInt))
    vt.vacuum(keepLast = 2) // manifests 0..1 gone; v2..v3 survive
    // neither feed needs the vacuumed history below the range
    assert(sig(vt.changes(2, 3)) === want)
    assert(sig(cdf(dir, 2, 3)) === want)
    // at the floor: an append removes nothing, so its feed needs no
    // state of the vacuumed version before it
    vt.delete(col("k") === 35L)                                         // v4
    vt.vacuum(keepLast = 2) // manifests 0..2 gone; v3..v4 survive
    val floor = (30L until 40L).map(k => (k, k * 1.0, "insert", 3)) ++
      (30L until 40L).map(k => (k, k * 1.0, "delete", 4)) ++
      (30L until 40L).filter(_ != 35L).map(k => (k, k * 1.0, "insert", 4))
    assert(sig(vt.changes(3, 4)) === floor.sorted)
    assert(sig(cdf(dir, 3, 4)) === floor.sorted)
    // v4's deletes are rows of v3's directory under v3's deletion
    // vectors; once v3 is vacuumed too, the feed of v4 fails loudly
    // instead of dropping them: changes() at the call, the DSv2 feed
    // when it plans, both naming the version asked for and the one gone
    vt.vacuum(keepLast = 1)
    val want4 = "the change feed of version 4 needs version 3, which was vacuumed"
    assert(intercept[IllegalArgumentException](vt.changes(4, 4)).getMessage
      .contains(want4))
    val e = intercept[Exception](cdf(dir, 4, 4).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(want4)), e.toString)
  }

  /** Every row a change-feed stream from `from` delivers once the
    * table's current commits are processed.
    */
  private def streamed(dir: String, from: Int): Seq[(Long, Double, String, Int)] = {
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String, Int)]
    val q = spark.readStream.format("graftvt")
      .option("readChangeFeed", "true").option("startingVersion", from.toString)
      .load(dir).writeStream
      .option("checkpointLocation", tmpVt())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sunk ++= b.select("k", "p", "_change_type", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    sunk.toSeq.sorted
  }

  test("copy-on-write delete, update and merge with writeChangeData serve their CDC") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 10L).map(k => (k, k * 1.0)).toDF("k", "p"))    // v0
    vt.delete(col("k") < 2L, writeChangeData = true)                    // v1
    vt.update(col("k") === 5L, Map("p" -> lit(-5.0)),
      writeChangeData = true)                                           // v2
    vt.merge(Seq((7L, 70.0), (20L, 20.0)).toDF("k", "p"), Seq("k"),
      writeChangeData = true)                                           // v3
    assert(vt.history().orderBy("version").collect().map(_.getAs[String]("op"))
      .toSeq === Seq("append", "delete", "update", "merge"))
    // the rows each command changed, not the rewritten directories
    val want = Seq(
      (0L, 0.0, "delete", 1), (1L, 1.0, "delete", 1),
      (5L, 5.0, "update_preimage", 2), (5L, -5.0, "update_postimage", 2),
      (7L, 7.0, "update_preimage", 3), (7L, 70.0, "update_postimage", 3),
      (20L, 20.0, "insert", 3)).sorted
    assert(sig(cdf(dir, 1, 3)) === want)
    assert(streamed(dir, 1) === want)
    assert(sig(vt.changes(1, 3)) === want)
  }

  test("a merge-on-read clause merge serves its MATCHED DELETE rows") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 20L).map(k => (k, k * 1.0)).toDF("k", "p"))    // v0
    vt.mergeClauses(Seq((3L, -1.0), (4L, 40.0), (30L, 30.0)).toDF("k", "p"),
      Seq("k"),
      matched = Seq(
        graft.sources.MergeClause(Some(col("s.p") < 0),
          graft.sources.MergeAction.Delete),
        graft.sources.MergeClause(None, graft.sources.MergeAction.Update(
          Some(Map("p" -> col("s.p")))))),
      notMatched = Seq(graft.sources.MergeClause(None,
        graft.sources.MergeAction.Insert(None))),
      useDeletionVectors = true)                                        // v1
    assert(vt.history().orderBy("version").collect().map(_.getAs[String]("op"))
      .toSeq === Seq("append", "merge-dv"))
    val want = Seq(
      (3L, 3.0, "delete", 1),
      (4L, 4.0, "update_preimage", 1), (4L, 40.0, "update_postimage", 1),
      (30L, 30.0, "insert", 1)).sorted
    assert(sig(cdf(dir, 1, 1)) === want)
    assert(streamed(dir, 1) === want)
    assert(sig(vt.changes(1, 1)) === want)
  }

  test("changes() serves the schema of its last version; a vacuumed start fails at the call") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "p", "tag")) // v0
    vt.dropColumns(Seq("tag"))                                          // v1
    vt.append(Seq((3L, 3.0)).toDF("k", "p"))                            // v2
    val feed = vt.changes(0, 2)
    assert(feed.columns.toSeq === Seq("k", "p", "_change_type", "_commit_version"))
    assert(sig(feed) === Seq((1L, 1.0, "insert", 0), (2L, 2.0, "insert", 0),
      (3L, 3.0, "insert", 2)))
    // before the drop, the column is still there
    assert(vt.changes(0, 0).columns.toSeq ===
      Seq("k", "p", "tag", "_change_type", "_commit_version"))
    vt.vacuum(keepLast = 1) // manifests 0..1 gone
    intercept[IllegalArgumentException] { vt.changes(0, 2) }
    assert(sig(vt.changes(2, 2)) === Seq((3L, 3.0, "insert", 2)))
  }

  test("changes() attributes a restore-re-added directory to the restore version") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 5L).map(k => (k, k * 1.0)).toDF("k", "p"))     // v0: dirA
    vt.overwrite((10L until 13L).map(k => (k, k * 1.0)).toDF("k", "p")) // v1: -dirA +dirB
    vt.restore(0)                                                       // v2: -dirB +dirA
    val got = sig(vt.changes(0, 2))
    // dirA rows: insert@0, delete@1, insert@2 — the dir NAME says v0,
    // so the commit version must come from the log, not the path
    val aRow = got.filter(_._1 == 0L).map(x => (x._3, x._4)).sorted
    assert(aRow === Seq(("delete", 1), ("insert", 0), ("insert", 2)))
    val bRow = got.filter(_._1 == 10L).map(x => (x._3, x._4)).sorted
    assert(bRow === Seq(("delete", 2), ("insert", 1)))
  }

  test("streaming CDF: a DV DELETE lands mid-stream, sink equals batch CDF") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 60L).map(k => (k, k * 1.0)).toDF("k", "p"))    // v0
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String, Int)]
    val q = spark.readStream.format("graftvt")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(dir).writeStream
      .option("checkpointLocation", tmpVt())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sunk ++= b.select("k", "p", "_change_type", "_commit_version")
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
        ()
      }.start()
    q.processAllAvailable()
    vt.delete(col("k") % 6 === 0, useDeletionVectors = true)           // v1
    vt.update(col("k") === 1L, Map("p" -> lit(-9.0)),
      useDeletionVectors = true)                                        // v2
    q.processAllAvailable(); q.stop()
    val want = ((0L until 60L).map(k => (k, k * 1.0, "insert", 0)) ++
      (0L until 60L by 6L).map(k => (k, k * 1.0, "delete", 1)) ++
      Seq((1L, 1.0, "update_preimage", 2), (1L, -9.0, "update_postimage", 2))).sorted
    assert(sunk.sorted.toSeq === want)
    assert(sig(cdf(dir, 0, 2)) === want)
  }
}
