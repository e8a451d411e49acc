package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The versioned table as a STREAMING SOURCE: offsets are log
  * versions, each commit's added rows arrive exactly once in commit
  * order, compactions never replay, and non-append mutations fail
  * loudly unless ignoreChanges opts into the documented duplication.
  */
class GraftVtStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_stream").toString

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("vt_stream_ckpt").toString

  test("incremental reads: each append arrives exactly once, across triggers") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v0
    vt.append(Seq((3L, "c")).toDF("k", "s"))            // v1
    val sink = s"vt_stream_sink_${System.nanoTime}"
    val q = spark.readStream.format("graftvt").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).count() === 3) // the initial snapshot
      vt.append(Seq((4L, "d"), (5L, "e")).toDF("k", "s")) // v2
      q.processAllAvailable()
      val rows = spark.table(sink).select("k").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq === Seq(1L, 2L, 3L, 4L, 5L)) // no dup, no loss
      // a compaction rewrites the same rows: nothing may replay
      vt.optimize("k", 2)
      vt.append(Seq((6L, "f")).toDF("k", "s"))
      q.processAllAvailable()
      assert(spark.table(sink).select("k").collect().map(_.getLong(0)).sorted
        .toSeq === (1L to 6L))
    } finally q.stop()
  }

  test("startingVersion=latest skips history; a number starts mid-log") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "old")).toDF("k", "s")) // v0
    vt.append(Seq((2L, "mid")).toDF("k", "s")) // v1
    val sink = s"vt_stream_latest_${System.nanoTime}"
    val q = spark.readStream.format("graftvt")
      .option("startingVersion", "latest").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).count() === 0) // history skipped
      vt.append(Seq((3L, "new")).toDF("k", "s"))
      q.processAllAvailable()
      assert(spark.table(sink).select("s").head.getString(0) === "new")
    } finally q.stop()
    val sink2 = s"vt_stream_from1_${System.nanoTime}"
    val q2 = spark.readStream.format("graftvt")
      .option("startingVersion", 1).load(dir)
      .writeStream.format("memory").queryName(sink2)
      .option("checkpointLocation", ckpt()).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(sink2).select("k").collect().map(_.getLong(0)).sorted
        .toSeq === Seq(2L, 3L)) // v1 and v2, not v0
    } finally q2.stop()
  }

  test("non-append mutations fail loudly; ignoreChanges opts into duplication") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 10L).map(k => (k, s"r$k")).toDF("k", "s"))
    val sink = s"vt_stream_mut_${System.nanoTime}"
    val q = spark.readStream.format("graftvt").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt()).start()
    try {
      q.processAllAvailable()
      vt.delete(col("k") < 2L) // rewrites the directory
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage.contains("append-only") ||
        Option(e.getCause).exists(_.getMessage.contains("append-only")))
    } finally q.stop()
    // ignoreChanges + explicit startingVersion: the log REPLAY serves
    // v0's dir AND v1's rewrite — survivors arrive again (10 + 8 rows),
    // the documented duplication the option opts into.
    val sink2 = s"vt_stream_ic_${System.nanoTime}"
    val q2 = spark.readStream.format("graftvt")
      .option("ignoreChanges", "true").option("startingVersion", 0).load(dir)
      .writeStream.format("memory").queryName(sink2)
      .option("checkpointLocation", ckpt()).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(sink2).count() === 18)
    } finally q2.stop()
  }

  test("maxVersionsPerTrigger bounds each micro-batch by commit count") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    (0 until 4).foreach(i => vt.append(Seq((i.toLong, s"r$i")).toDF("k", "s")))
    val sink = s"vt_stream_mvpt_${System.nanoTime}"
    // explicit startingVersion = log-replay semantics: the cap splits
    // per commit (the DEFAULT snapshot-initial batch is deliberately
    // uncapped — one snapshot, however many commits built it)
    val q = spark.readStream.format("graftvt")
      .option("startingVersion", 0)
      .option("maxVersionsPerTrigger", 1).load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).count() === 4)
      // 4 commits at 1 version/trigger → at least 4 separate batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
  }

  test("default initial batch is the SNAPSHOT: mutated history streams fine") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 10L).map(k => (k, s"r$k")).toDF("k", "s"))
    vt.delete(col("k") < 3L)                      // history holds a mutation
    vt.overwrite((100L until 105L).map(k => (k, s"o$k")).toDF("k", "s"))
    val sink = s"vt_snap_init_${System.nanoTime}"
    // NO startingVersion: the first batch serves the CURRENT snapshot —
    // a log replay would fail loudly on the delete/overwrite commits.
    val q = spark.readStream.format("graftvt").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).select("k").collect().map(_.getLong(0)).sorted
        .toSeq === (100L until 105L))
      vt.append(Seq((200L, "new")).toDF("k", "s")) // the tail still streams
      q.processAllAvailable()
      assert(spark.table(sink).count() === 6)
    } finally q.stop()
    // an EXPLICIT startingVersion keeps log-replay semantics (loud on
    // the mutation commits, as the append-only contract requires)
    val sink2 = s"vt_snap_replay_${System.nanoTime}"
    val q2 = spark.readStream.format("graftvt")
      .option("startingVersion", 0).load(dir)
      .writeStream.format("memory").queryName(sink2)
      .option("checkpointLocation", ckpt()).start()
    try {
      val e = intercept[Exception] { q2.processAllAvailable() }
      assert(e.getMessage.contains("append-only") ||
        Option(e.getCause).exists(_.getMessage.contains("append-only")))
    } finally q2.stop()
  }

  test("readChangeFeed batch: tagged add/remove rows equal the changes() API") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v0: 2 inserts
    vt.delete(col("k") === 1L)                          // v1: rewrite dir
    vt.append(Seq((3L, "c")).toDF("k", "s"))            // v2: 1 insert
    val cdf = spark.read.format("graftvt")
      .option("readChangeFeed", "true").load(dir)
    assert(cdf.columns.toSeq ===
      Seq("k", "s", "_change_type", "_commit_version"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    val want = Seq((1L, "insert", 0), (2L, "insert", 0),
      (1L, "delete", 1), (2L, "delete", 1), (2L, "insert", 1),
      (3L, "insert", 2)).sorted
    assert(canon(cdf).toSeq === want)
    assert(canon(vt.changes(0, 2)).toSeq === want)
    // version-bounded form + column pruning through the synthetic cols
    val only1 = spark.read.format("graftvt")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 1).load(dir)
    val rows1 = only1.select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    // v1's coarse synthesis: removed dir (k=1,2 delete) + survivor dir (k=2 insert)
    assert(rows1.toSeq ===
      Seq((1L, "delete"), (2L, "delete"), (2L, "insert")))
    assert(only1.groupBy("_change_type").count().collect().length === 2)
  }

  test("readChangeFeed streaming: mutations stream as tagged changes, no loud failure") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val sink = s"vt_cdf_stream_${System.nanoTime}"
    val q = spark.readStream.format("graftvt")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).count() === 2) // two inserts
      vt.delete(col("k") === 1L) // plain stream would fail loudly here
      q.processAllAvailable()
      val rows = spark.table(sink).select("k", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
      assert(rows.toSeq === Seq((1L, "delete", 1), (1L, "insert", 0),
        (2L, "delete", 1), (2L, "insert", 0), (2L, "insert", 1)))
    } finally q.stop()
  }

  test("checkpoint restart resumes from the committed offset, no replay") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    val checkpoint = ckpt()
    // memory sinks refuse recovery — a parquet FILE sink exercises the
    // real restart path (offset log consulted, batch replayed or not).
    val out = java.nio.file.Files.createTempDirectory("vt_stream_out").toString
    def run(): Unit = {
      val q = spark.readStream.format("graftvt").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 1)
    vt.append(Seq((2L, "b")).toDF("k", "s"))
    // Restart against the SAME checkpoint: only the new commit arrives —
    // exactly once across process restarts.
    run()
    assert(spark.read.parquet(out).select("k").collect().map(_.getLong(0))
      .sorted.toSeq === Seq(1L, 2L))
  }
}
