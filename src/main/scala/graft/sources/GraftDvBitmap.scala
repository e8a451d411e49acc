package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** PER-FILE deletion-vector sidecars (Delta's bitmap layout,
  * re-expressed): a DV commit's sidecar `dv-vNNNNN-xxxx` is a
  * DIRECTORY holding `<dataDir>/<dataFile>.dvb` — one compact sorted
  * position set per deleted-from data file — instead of one
  * (dir, file, pos) parquet all readers must join or the driver must
  * collect.
  *
  * Why per FILE: every consumer's unit of work is a file. The
  * vectorized scan plans one-file partitions, so a partition now
  * carries only the PATHS of its own file's bitmaps (bytes of task
  * descriptor: tens, not millions) and the executor decodes exactly
  * what it filters — no driver collect, no inline-position budget, no
  * stream/change-feed refusal under debt, and a table's total hidden
  * count stops mattering to any single machine. N DV commits against
  * one file simply stack N small bitmaps; [[GraftDvBitmap.union]]
  * merges them at read time and `coalesceDv` merges them at rest.
  *
  * Encoding (`.dvb`): magic `GDV1`, varlong count, then the SORTED
  * DISTINCT row indices delta-encoded as varlongs — ~1-2 bytes per
  * deleted row on clustered deletes, never worse than ~9. Row indices
  * are per-file and monotone, exactly what the two-pointer filter in
  * the read path consumes.
  */
private[graft] object GraftDvBitmap {

  private val Magic = 0x47445631 // "GDV1"

  /** Serializable Hadoop conf carrier for executor-side FS access (the
    * task must resolve the same FileSystem the driver planned with).
    */
  final class SerConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  def encode(sortedDistinct: Array[Long], out: java.io.DataOutputStream): Unit = {
    out.writeInt(Magic)
    writeVarLong(out, sortedDistinct.length.toLong)
    var prev = 0L
    var i = 0
    while (i < sortedDistinct.length) {
      writeVarLong(out, sortedDistinct(i) - prev)
      prev = sortedDistinct(i)
      i += 1
    }
  }

  def decode(in: java.io.DataInputStream): Array[Long] = {
    val magic = in.readInt()
    require(magic == Magic, f"not a GDV1 deletion-vector bitmap (magic 0x$magic%08x)")
    val n = readVarLong(in)
    require(n >= 0 && n <= Int.MaxValue, s"corrupt bitmap count $n")
    val arr = new Array[Long](n.toInt)
    var prev = 0L
    var i = 0
    while (i < n) {
      prev += readVarLong(in)
      arr(i.toInt) = prev
      i += 1
    }
    arr
  }

  private def writeVarLong(out: java.io.DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.writeByte(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.writeByte(v.toInt)
  }

  private def readVarLong(in: java.io.DataInputStream): Long = {
    var v = 0L
    var shift = 0
    var b = 0
    do {
      b = in.readUnsignedByte()
      v |= (b & 0x7fL) << shift
      shift += 7
      require(shift <= 70, "corrupt varlong in deletion-vector bitmap")
    } while ((b & 0x80) != 0)
    v
  }

  /** Load one bitmap file. */
  def load(conf: Configuration, path: String): Array[Long] = {
    val p = new Path(path)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(p.getFileSystem(conf).open(p)))
    try decode(in) finally in.close()
  }

  /** Load + union several bitmaps of ONE file into a sorted distinct
    * array (k is the number of DV commits that touched the file —
    * small; `coalesceDv` keeps it at 1 at rest).
    */
  def loadUnion(conf: Configuration, paths: Seq[String]): Array[Long] =
    paths match {
      case Seq() => Array.emptyLongArray
      case Seq(one) => load(conf, one)
      case many => union(many.map(load(conf, _)))
    }

  def union(arrays: Seq[Array[Long]]): Array[Long] = {
    val all = Array.concat(arrays: _*)
    java.util.Arrays.sort(all)
    // in-place dedup of the sorted concat
    var w = 0
    var i = 0
    while (i < all.length) {
      if (w == 0 || all(w - 1) != all(i)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == all.length) all else java.util.Arrays.copyOf(all, w)
  }

  /** Write one sidecar from the (dir, file, pos) triple frame —
    * executor-side, one task per hash bucket of (dir, file), each
    * group streamed out as one `.dvb` under
    * `<root>/<dvName>/<dir>/<file>.dvb`. Deleted-rows-sized shuffle,
    * no driver involvement beyond the job.
    *
    * Returns the PER-DIRECTORY hidden-row counts (post-dedup, i.e.
    * exactly the positions the bitmaps encode), so callers that need
    * the DV-vs-rewrite policy numbers and the commit's `dvDirRows` do
    * not pay a SECOND pass over the triples for a `groupBy(dir)`
    * count. Counts ride a collection accumulator fed once per flushed
    * bitmap; accumulator updates inside ACTIONS are applied exactly
    * once per successful task (restarted/speculative duplicates are
    * discarded by the DAGScheduler), so the counts are exact under
    * retries.
    */
  def write(spark: SparkSession, root: Path, dvName: String,
            triples: DataFrame): Map[String, Long] = {
    val (fused, finish) = fuseWrite(spark, root, dvName, triples)
    fused.foreachPartition { it: Iterator[Row] => while (it.hasNext) it.next() }
    finish()
  }

  /** Pass-through iterator that streams each (dir, file) group of the
    * sorted input out as one `.dvb` bitmap while yielding every row
    * unchanged — the machinery [[write]] consumes for its own sake and
    * [[fuseWrite]] hands to a downstream writer in the same task.
    * Input MUST arrive sorted by (dir, file, pos) within the partition.
    *
    * Each bitmap is staged at an ATTEMPT-UNIQUE temp name and renamed
    * into place (the log store's put() pattern): a zombie or
    * speculative duplicate attempt that keeps writing after the job
    * succeeded can then never tear a published sidecar — its late
    * bytes land in its own temp, and a failed rename-over-existing
    * just means the identical-bytes twin already won.
    */
  private def emitting(it: Iterator[Row], base: String, conf: SerConf,
                       dirCounts: org.apache.spark.util.CollectionAccumulator[(String, Long)],
                       dirIdx: Int, fileIdx: Int, posIdx: Int): Iterator[Row] =
    new Iterator[Row] {
      private var cur: (String, String) = null
      private val buf = scala.collection.mutable.ArrayBuffer[Long]()
      private val attempt = java.util.UUID.randomUUID().toString.take(8)
      private def flush(): Unit = if (cur != null) {
        val dirPath = new Path(base, cur._1)
        val target = new Path(dirPath, cur._2 + ".dvb")
        val staged = new Path(dirPath, s".${cur._2}.dvb-$attempt.tmp")
        val fs = target.getFileSystem(conf.value)
        val os = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(fs.create(staged, true)))
        try encode(buf.toArray, os) finally os.close()
        if (!fs.rename(staged, target)) {
          fs.delete(staged, false)
          // benign only when a duplicate attempt's identical bytes
          // already occupy the target; any other rename failure must
          // fail the task, or the commit would publish a sidecar
          // name with no bitmap behind it
          if (!fs.exists(target)) throw new java.io.IOException(
            s"bitmap publish failed: rename $staged -> $target " +
              "returned false and no bitmap exists at the target")
        }
        dirCounts.add((cur._1, buf.length.toLong))
        buf.clear()
        cur = null
      }
      def hasNext: Boolean = if (it.hasNext) true else { flush(); false }
      def next(): Row = {
        val r = it.next()
        val key = (r.getString(dirIdx), r.getString(fileIdx))
        if (key != cur) { flush(); cur = key }
        val pos = r.getLong(posIdx)
        // input is sorted: dedup by peeking the tail
        if (buf.isEmpty || buf.last != pos) buf += pos
        r
      }
    }

  /** The FUSED form of [[write]]: attaches the bitmap emission to `df`
    * (which must carry `__graft_dv_dir`/`__graft_dv_file`/
    * `__graft_dv_pos` alongside any payload columns) as a narrow
    * pass-through above the (dir, file) shuffle, and returns the
    * re-grouped rows plus a thunk yielding the per-directory hidden-row
    * counts. The caller runs exactly ONE action over the returned frame
    * — the DV mutation paths make it the CDC payload write, so one job
    * and one pass over the matches produce BOTH outputs instead of a
    * bitmap job followed by a second read of the persisted matches
    * (guide §1.2). Retry-safe for the same reasons as [[write]]: the
    * shuffle+sort is deterministic, bitmaps stage at attempt-unique
    * names, and the counts accumulator (fed once per flushed bitmap in
    * the action's result stage) is applied exactly once per successful
    * task.
    */
  def fuseWrite(spark: SparkSession, root: Path, dvName: String,
                df: DataFrame): (DataFrame, () => Map[String, Long]) = {
    import org.apache.spark.sql.functions.col
    val conf = new SerConf(spark.sessionState.newHadoopConf())
    val base = new Path(root, dvName).toString
    val dirCounts =
      spark.sparkContext.collectionAccumulator[(String, Long)](
        s"graft.dv.dirRows.$dvName")
    val part = df
      .withColumn("__graft_dv_dir", col("__graft_dv_dir").cast("string"))
      .withColumn("__graft_dv_file", col("__graft_dv_file").cast("string"))
      .withColumn("__graft_dv_pos", col("__graft_dv_pos").cast("long"))
      .repartition(col("__graft_dv_dir"), col("__graft_dv_file"))
      .sortWithinPartitions("__graft_dv_dir", "__graft_dv_file",
        "__graft_dv_pos")
    val schema = part.schema
    val (di, fi, pi) = (schema.fieldIndex("__graft_dv_dir"),
      schema.fieldIndex("__graft_dv_file"), schema.fieldIndex("__graft_dv_pos"))
    val out = part.mapPartitions(it => emitting(it, base, conf, dirCounts,
      di, fi, pi))(org.apache.spark.sql.Encoders.row(schema))
    import scala.jdk.CollectionConverters._
    (out.toDF(), () => dirCounts.value.asScala.toSeq.groupBy(_._1)
      .map { case (d, xs) => d -> xs.iterator.map(_._2).sum })
  }

  /** The (dir, file, pos) frame of the given sidecars — the fold/anti-
    * join consumers' view, decoded DISTRIBUTEDLY: the driver lists the
    * bitmap files (metadata-sized), executors decode their contents.
    */
  def asFrame(spark: SparkSession, root: Path, sidecars: Seq[String])
      : DataFrame = {
    import spark.implicits._
    val conf = new SerConf(spark.sessionState.newHadoopConf())
    val entries = listBitmaps(spark, root, sidecars)
    // partitions SCALE with the listing (~64 bitmap decodes per task,
    // floor 32 tasks): a flat cap would serialize entries/32 file
    // opens per task on a many-bitmap table's mutation-discovery fold
    spark.sparkContext.parallelize(entries,
      math.max(1, math.min(entries.size, math.max(32, entries.size / 64))))
      .flatMap { case (dir, file, path) =>
        load(conf.value, path).iterator.map(pos => (dir, file, pos))
      }
      .toDF("__graft_dv_dir", "__graft_dv_file", "__graft_dv_pos")
  }

  /** List every bitmap of the given sidecars as (dataDir, dataFile,
    * bitmapPath) — driver-side, #bitmap-files-sized (metadata, not
    * positions). A sidecar the log names but the filesystem lacks, or
    * one in the pre-bitmap positions-parquet layout, fails LOUDLY:
    * reading either as an empty hidden set would silently resurrect
    * deleted rows.
    */
  def listBitmaps(spark: SparkSession, root: Path, sidecars: Seq[String])
      : Seq[(String, String, String)] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sidecars.flatMap { sc =>
      val base = new Path(root, sc)
      if (!fs.exists(base)) throw new IllegalStateException(
        s"deletion-vector sidecar $base is named by the transaction log " +
          "but missing on disk; its deleted rows cannot be hidden")
      val entries = fs.listStatus(base).toSeq
      require(!entries.exists(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet")),
        s"deletion-vector sidecar $sc under $root is in the " +
          "pre-bitmap (positions parquet) layout, which this reader " +
          "does not read")
      entries.filter(_.isDirectory).flatMap { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".dvb"))
          .map(f => (d.getPath.getName,
            f.getPath.getName.stripSuffix(".dvb"),
            f.getPath.toString))
      }
    }
  }

  /** `"<dir>/<file>" -> bitmap paths` for the given sidecars,
    * restricted to `dirs` — what the vectorized scan ships in its
    * one-file partitions.
    */
  def pathsByFile(spark: SparkSession, root: Path, sidecars: Seq[String],
                  dirs: Seq[String]): Map[String, Seq[String]] = {
    val dirSet = dirs.toSet
    listBitmaps(spark, root, sidecars)
      .filter { case (d, _, _) => dirSet.contains(d) }
      .groupBy { case (d, f, _) => d + "/" + f }
      .map { case (k, vs) => k -> vs.map(_._3) }
  }
}
