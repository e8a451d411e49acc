package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String

/** PER-FILE deletion-vector sidecars (Delta's bitmap layout,
  * re-expressed): a DV commit's sidecar `dv-vNNNNN-xxxx` is a
  * DIRECTORY holding `<dataDir>/<dataFile>.dvb` — one compact sorted
  * position set per deleted-from data file — instead of one
  * (dir, file, pos) parquet all readers must join or the driver must
  * collect.
  *
  * Why per FILE: every consumer's unit of work is a file. Both read
  * paths share ONE per-file fold: the driver ships bitmap PATHS keyed
  * `"<dir>/<file>"` ([[pathsByFile]]), and the task that reads a data
  * file decodes exactly that file's bitmaps ([[loadUnion]]) and drops
  * the rows whose row index they hold — the DSv2 scan in its one-file
  * partitions ([[GraftVtDvBatch]]), every internal read as a scan-side
  * predicate ([[keep]]). No join, shuffle or broadcast of
  * positions, no driver collect, and a table's total hidden count
  * never concentrates on one machine. N DV commits against one file
  * simply stack N small bitmaps; [[union]] merges them at read time
  * and [[writeUnions]] (`coalesceDv`) merges them at rest.
  *
  * Encoding (`.dvb`): magic `GDV1`, varlong count, then the SORTED
  * DISTINCT row indices delta-encoded as varlongs — ~1-2 bytes per
  * deleted row on clustered deletes, never worse than ~9. Row indices
  * are per-file and monotone, exactly what the read-path filters
  * consume.
  */
private[graft] object GraftDvBitmap {

  private val Magic = 0x47445631 // "GDV1"

  /** Serializable Hadoop conf carrier for executor-side FS access (the
    * task must resolve the same FileSystem the driver planned with).
    * Tasks receive it through [[shippedConf]].
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

  /** The session's Hadoop conf as every task that touches a sidecar
    * receives it: one broadcast, fetched once per executor, instead of
    * a copy serialized into each task.
    */
  def shippedConf(spark: SparkSession): Broadcast[SerConf] =
    spark.sparkContext.broadcast(new SerConf(spark.sessionState.newHadoopConf()))

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

  /** Write one file's bitmap to `target`, staged at an
    * ATTEMPT-UNIQUE temp name and renamed into place (the log store's
    * put() pattern): a zombie or speculative duplicate attempt that
    * keeps writing after the job succeeded can then never tear a
    * published sidecar — its late bytes land in its own temp, and a
    * failed rename-over-existing just means the identical-bytes twin
    * already won.
    */
  private def publish(conf: Configuration, target: Path,
                      sortedDistinct: Array[Long]): Unit = {
    val staged = new Path(target.getParent,
      s".${target.getName}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val fs = target.getFileSystem(conf)
    val os = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(staged, true)))
    try encode(sortedDistinct, os) finally os.close()
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
  }

  /** Write one sidecar `<root>/<dvName>` holding, per data file, the
    * union of the bitmaps `byFile` lists for it (keyed `"<dir>/<file>"`,
    * as [[pathsByFile]] returns them). One narrow job: each task decodes
    * a file's bitmaps and writes its one `.dvb` in-task, so no position
    * crosses a shuffle or the driver.
    */
  def writeUnions(spark: SparkSession, root: Path, dvName: String,
                  byFile: Map[String, Seq[String]]): Unit = {
    val conf = shippedConf(spark)
    val base = new Path(root, dvName).toString
    spark.sparkContext.parallelize(byFile.toSeq,
        math.max(1, math.min(byFile.size, spark.sparkContext.defaultParallelism)))
      .foreach { case (key, paths) =>
        val hc = conf.value.value
        publish(hc, new Path(base, key + ".dvb"), loadUnion(hc, paths))
      }
  }

  /** Pass-through iterator that streams each (dir, file) group of the
    * sorted input out as one `.dvb` bitmap ([[publish]]) while yielding
    * every row unchanged — the machinery [[fuseWrite]] hands to a
    * downstream writer in the same task. Input MUST arrive sorted by
    * (dir, file, pos) within the partition.
    */
  private def emitting(it: Iterator[Row], base: String, conf: Broadcast[SerConf],
                       dirCounts: org.apache.spark.util.CollectionAccumulator[(String, Long)],
                       dirIdx: Int, fileIdx: Int, posIdx: Int): Iterator[Row] =
    new Iterator[Row] {
      private var cur: (String, String) = null
      private val buf = scala.collection.mutable.ArrayBuffer[Long]()
      private def flush(): Unit = if (cur != null) {
        publish(conf.value.value, new Path(base, s"${cur._1}/${cur._2}.dvb"), buf.toArray)
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

  /** Write one sidecar from `df`'s (dir, file, pos) triples, FUSED
    * into the caller's action: attaches the bitmap emission to `df`
    * (which must carry `__graft_dv_dir`/`__graft_dv_file`/
    * `__graft_dv_pos` alongside any payload columns) as a narrow
    * pass-through above the (dir, file) shuffle, and returns the
    * re-grouped rows plus a thunk yielding the per-directory hidden-row
    * counts. The caller runs exactly ONE action over the returned frame
    * — the DV mutation paths make it the CDC payload write, so one job
    * and one pass over the matches produce BOTH outputs instead of a
    * bitmap job followed by a second read of the persisted matches
    * (guide §1.2). Retry-safe: the shuffle+sort is deterministic,
    * bitmaps stage at attempt-unique names ([[publish]]), and the
    * counts accumulator (fed once per flushed bitmap in the action's
    * result stage) is applied exactly once per successful task.
    */
  def fuseWrite(spark: SparkSession, root: Path, dvName: String,
                df: DataFrame): (DataFrame, () => Map[String, Long]) = {
    import org.apache.spark.sql.functions.col
    val conf = shippedConf(spark)
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

  /** The per-file fold as a scan-side predicate ([[GraftDvKeep]]) over
    * a read's file path and per-file row index: true unless `byFile`'s
    * bitmaps ([[pathsByFile]]) hide the row.
    */
  def keep(spark: SparkSession, byFile: Map[String, Seq[String]],
           file: Column, pos: Column): Column =
    GraftSqlBridge.column(GraftDvKeep(GraftSqlBridge.expression(file),
      GraftSqlBridge.expression(pos), byFile, shippedConf(spark)))

  /** List every bitmap of the given sidecars as (dataDir, dataFile,
    * bitmapPath) — driver-side, #bitmap-files-sized (metadata, not
    * positions): what both read paths' fold ([[pathsByFile]]) and
    * [[writeUnions]] ship to the tasks that decode. A sidecar the log
    * names but the filesystem lacks, or one in the pre-bitmap
    * positions-parquet layout, fails LOUDLY: reading either as an empty
    * hidden set would silently resurrect deleted rows.
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
    * one-file partitions and [[keep]] in its predicate. Keys and the
    * restriction use the directory's last path component, the part a
    * sidecar spells: a shallow clone names the source's directories by
    * absolute path.
    */
  def pathsByFile(spark: SparkSession, root: Path, sidecars: Seq[String],
                  dirs: Seq[String]): Map[String, Seq[String]] = {
    val dirSet = dirs.map(d => new Path(d).getName).toSet
    listBitmaps(spark, root, sidecars)
      .filter { case (d, _, _) => dirSet.contains(d) }
      .groupBy { case (d, f, _) => d + "/" + f }
      .map { case (k, vs) => k -> vs.map(_._3) }
  }
}

/** [[GraftDvBitmap.keep]]'s predicate. A task carries only the paths
  * (the Hadoop conf rides a broadcast) and deserializes its own copy of
  * the plan, so the cache is the task's own: rows of one file arrive
  * together, each file's bitmaps decode once, and a row costs one
  * file-key check plus one position probe. Deterministic (filters above
  * it still push into the parquet scan, whose row index stays the file
  * position under row-group skipping and splits) and generated inline,
  * so the filter stays in whole-stage code.
  */
private[sources] final case class GraftDvKeep(file: Expression, pos: Expression,
                                              byFile: Map[String, Seq[String]],
                                              conf: Broadcast[GraftDvBitmap.SerConf])
    extends BinaryExpression with Predicate {
  @transient private var lastFile: UTF8String = _
  @transient private var hidden: Array[Long] = _

  def keep(path: UTF8String, p: Long): Boolean = {
    if (!path.equals(lastFile)) {
      val s = path.toString
      hidden = byFile.get(s.substring(s.lastIndexOf('/', s.lastIndexOf('/') - 1) + 1))
        .fold(Array.emptyLongArray)(GraftDvBitmap.loadUnion(conf.value.value, _))
      lastFile = path.clone() // the row's bytes may be reused for the next row
    }
    hidden.length == 0 || java.util.Arrays.binarySearch(hidden, p) < 0
  }

  override def left: Expression = file
  override def right: Expression = pos
  override protected def nullSafeEval(f: Any, p: Any): Any =
    keep(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvKeep", this)
    defineCodeGen(ctx, ev, (f, p) => s"$ref.keep($f, $p)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftDvKeep = copy(file = l, pos = r)
}
