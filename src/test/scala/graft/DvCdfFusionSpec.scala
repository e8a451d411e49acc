package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Round-18 optimization: the DV sidecar write and the exact-CDC
  * payload write are FUSED into one job — the bitmap emission rides
  * the CDC parquet write as a pass-through above the (dir, file)
  * shuffle ([[graft.sources.GraftDvBitmap.fuseWrite]]), so a DV
  * mutation scans its matches once instead of a bitmap job followed by
  * a second read of the persisted matches. These specs pin:
  *
  *  1. the single-pass property itself (job count of a DV delete — a
  *     reintroduced separate bitmap job fails the bound);
  *  2. that both outputs of the one pass are exact: decoded bitmap
  *     positions equal the matched rows' positions, and the CDC feed
  *     equals the deleted rows;
  *  3. refusal hygiene for the now-optimistic CDC: a policy-refused or
  *     match-free DV attempt reclaims the CDC directory along with the
  *     sidecar (nothing left for vacuum).
  */
class DvCdfFusionSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_dvcdf_fusion").toString

  private def dirsWith(dir: String, prefix: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).toSeq

  test("DV delete: one fused pass emits exact bitmaps AND exact CDC") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val (v, jobs) = countingJobs {
      vt.delete(col("k") < 10L, useDeletionVectors = true)
    }
    // Single-pass pin: the whole DELETE (discovery scan + the ONE
    // fused sidecar+CDC job + publish) runs within this job budget —
    // measured 3 with the fusion in place; a reintroduced separate
    // bitmap job (or a reintroduced persist materialization of the
    // matches) pushes it past the bound.
    assert(jobs <= 4, s"DV delete ran $jobs jobs — the sidecar+CDC " +
      "fusion (one job for both outputs) has regressed")
    // output 1: the bitmap hides exactly the matched positions
    val dv = vt.dvsAt(v).values.flatten.toSeq.distinct
    assert(dv.size === 1)
    val hidden = hiddenPositions(new Path(dir), dv).size.toLong
    assert(hidden === 10L)
    assert(vt.read().count() === 90L)
    // output 2: the CDC carries exactly the deleted rows
    val feed = vt.changes(v, v)
    assert(feed.filter(col("_change_type") === "delete").count() === 10L)
    assert(feed.select("k").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 10L))
  }

  test("DV merge: fused pass keeps CDC pre/post/insert exact") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 40L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val src = ((30L until 50L).map(k => (k, -1.0))).toDF("k", "p")
    val v = vt.merge(src, Seq("k"), useDeletionVectors = true)
    assert(vt.history().filter(col("version") === v)
      .head.getString(1) === "merge-dv")
    val feed = vt.changes(v, v)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map(
      "update_preimage" -> 10L, "update_postimage" -> 10L, "insert" -> 10L))
    // pre-images carry the OLD values even though they passed through
    // the fused (dir, file) shuffle
    assert(feed.filter(col("_change_type") === "update_preimage")
      .select(sum("p")).head.getDouble(0) === (30L until 40L).map(_.toDouble).sum)
    assert(vt.read().count() === 50L)
  }

  test("refused / match-free DV attempts reclaim the optimistic CDC too") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 90L).map(k => (k, k * 1.0)).toDF("k", "p"))
    // 2/3 matched: over the 0.5 fraction => refusal, copy-on-write
    vt.delete(col("k") % 3 =!= 0L, useDeletionVectors = true)
    // match-free: "raced to nothing", no commit
    val vNow = vt.latestVersion
    assert(vt.delete(col("k") % 999 === 998L, useDeletionVectors = true) === vNow)
    assert(vt.update(col("k") % 999 === 998L, Map("p" -> lit(0.0)),
      useDeletionVectors = true) === vNow)
    assert(dirsWith(dir, "dv-").isEmpty, "sidecar leaked")
    // every surviving cdf-* directory must be referenced by a commit —
    // the refused attempts' optimistic CDC writes were all reclaimed
    val logDir = new org.apache.hadoop.fs.Path(dir, "_graft_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = (0 to vt.latestVersion).flatMap { v =>
      val in = fs.open(new org.apache.hadoop.fs.Path(logDir, f"$v%08d.json"))
      try graft.sources.VersionedTable.decodeCommit(in).cdf finally in.close()
    }.toSet
    val onDisk = dirsWith(dir, "cdf-").toSet
    assert(onDisk === referenced,
      s"unreferenced CDC directories leaked: ${onDisk -- referenced}")
  }
}
