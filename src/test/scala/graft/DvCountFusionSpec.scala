package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Round-17 optimization: the DV-vs-rewrite policy counts ride the
  * bitmap write job ([[graft.sources.GraftDvBitmap.fuseWrite]] returns
  * the per-directory hidden counts) instead of a separate groupBy(dir)
  * count pass over the matches. These specs pin the fused counts'
  * exactness and the optimistic-write fallback hygiene: a sidecar the
  * policy refuses (or that turns out empty) is reclaimed, never leaked
  * for vacuum to find.
  */
class DvCountFusionSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_dv_fusion").toString

  /** Writes a sidecar the way the DV mutations do: one action over the
    * fused frame, then the per-directory counts.
    */
  private def fusedWrite(root: Path, dvName: String,
                         triples: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    val (fused, counts) = graft.sources.GraftDvBitmap.fuseWrite(spark, root, dvName, triples)
    fused.write.format("noop").mode("overwrite").save()
    counts()
  }

  private def dvDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dv-"))
      .map(_.getName).toSeq

  test("bitmap write returns exact per-directory counts, positions deduped") {
    val dir = tmpVt()
    val root = new Path(dir)
    val triples = Seq(
      ("v00001-aaa", "f1.parquet", 3L),
      ("v00001-aaa", "f1.parquet", 3L), // duplicate position: counted once
      ("v00001-aaa", "f1.parquet", 7L),
      ("v00001-aaa", "f2.parquet", 0L),
      ("v00002-bbb", "f9.parquet", 5L),
      ("v00002-bbb", "f9.parquet", 6L))
      .toDF("__graft_dv_dir", "__graft_dv_file", "__graft_dv_pos")
    val counts = fusedWrite(root, "dv-v00003-test", triples)
    assert(counts === Map("v00001-aaa" -> 3L, "v00002-bbb" -> 2L))
    // the decoded bitmaps agree with the returned counts — the fused
    // numbers ARE what the sidecar hides, not an estimate of it
    val recount = hiddenPositions(root, Seq("dv-v00003-test"))
      .groupBy(_._1).map { case (d, ps) => d -> ps.size.toLong }
    assert(recount === counts)
  }

  test("empty triple frame returns no counts") {
    val dir = tmpVt()
    val counts = fusedWrite(new Path(dir), "dv-v00001-none",
      Seq.empty[(String, String, Long)]
        .toDF("__graft_dv_dir", "__graft_dv_file", "__graft_dv_pos"))
    assert(counts.isEmpty)
  }

  test("policy-refused DV delete falls back to rewrite, no sidecar leaks") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 90L).map(k => (k, k * 1.0)).toDF("k", "p"))
    // 2/3 of the rows: over the 0.5 default fraction => copy-on-write
    val v = vt.delete(col("k") % 3 =!= 0L, useDeletionVectors = true)
    assert(vt.history().filter(col("version") === v)
      .head.getString(1) === "delete")
    assert(vt.dvsAt(vt.latestVersion).isEmpty)
    assert(dvDirs(dir).isEmpty) // the optimistic sidecar was reclaimed
    assert(vt.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 90L).filter(_ % 3 == 0L))
  }

  test("match-free DV delete and update commit nothing, no sidecar leaks") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 50L).map(k => (k, k * 1.0)).toDF("k", "p"))
    val vNow = vt.latestVersion
    // a modulo condition defeats stats pruning (the dirs stay
    // candidates) but matches no row: the DV path must conclude
    // "raced to nothing", commit nothing, and reclaim its sidecar
    assert(vt.delete(col("k") % 999 === 998L,
      useDeletionVectors = true) === vNow)
    assert(vt.update(col("k") % 999 === 998L, Map("p" -> lit(0.0)),
      useDeletionVectors = true) === vNow)
    assert(vt.latestVersion === vNow)
    assert(dvDirs(dir).isEmpty)
  }

  test("multi-directory DV delete records exact per-dir counts") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.append((100L until 200L).map(k => (k, k * 1.0)).toDF("k", "p"))
    vt.delete(col("k") % 5 === 0L, useDeletionVectors = true)
    // metadata COUNT subtracts the recorded per-dir DV counts — wrong
    // fused counts would surface here without any scan
    assert(vt.fastCount() === Some(160L))
    assert(vt.read().count() === 160L)
  }
}
