package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.{DataType, StructType}

/** The VECTORIZED deletion-vector read path (Delta's row-index
  * filtering, re-expressed over the stock DSv2 parquet machinery): the
  * scan's kept directories split per directory — DV-free ones read
  * through the untouched [[org.apache.spark.sql.execution.datasources
  * .v2.parquet.ParquetScan]] batch, and each DV-bearing directory's
  * files become ONE-file input partitions whose reader asks the
  * parquet reader to fill the temporary row-index column
  * (`ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME` — the same
  * public mechanism `_metadata.row_index` rides) and drops the rows
  * whose (file, index) the sidecar hides. Parquet filter pushdown,
  * row-group skipping, and the vectorized reader all apply to BOTH
  * sides; only the final batch→row boundary is paid, and only on the
  * DV'd files. Each partition ships exactly its own file's bitmap
  * PATHS; its reader decodes them ([[GraftDvBitmap.loadUnion]]) and
  * matches the sorted positions with a two-pointer (the reader streams
  * indices in increasing order per file), so no task carries another
  * file's deletes. Every internal read shares this per-file fold — the
  * same paths and in-task decode, applied as a scan-side predicate
  * ([[GraftDvBitmap.keep]]).
  */
private[sources] class GraftVtDvBatch(clean: Batch, dv: Batch,
                                      dvPaths: Map[String, Seq[String]],
                                      dataTypes: Array[DataType],
                                      conf: Broadcast[GraftDvBitmap.SerConf])
    extends Batch {

  private val cleanFactory = clean.createReaderFactory()
  private val dvFactory = dv.createReaderFactory()

  /** Whether the WHOLE batch can stay COLUMNAR: exactly when both
    * parquet factories report columnar support (their check reads
    * conf + schema, not the partition — nested projections qualify
    * whenever the nested vectorized reader does). When true, DV'd
    * files filter at BATCH granularity through zero-copy selection
    * views ([[GraftVtSelectedVector]] — every type, nested included)
    * and the DV-free majority keeps the untouched vectorized +
    * whole-stage path; when false (the parquet reader itself declined
    * the schema), everything reads rows (the exec node requires
    * all-or-nothing columnar across one batch's partitions).
    */
  private val columnarOk: Boolean =
    try {
      val dummy = FilePartition(0, Array.empty)
      cleanFactory.supportColumnarReads(dummy) &&
        dvFactory.supportColumnarReads(dummy)
    } catch { case _: Exception => false }

  override def planInputPartitions(): Array[InputPartition] = {
    val cleanParts: Array[InputPartition] =
      if (columnarOk) clean.planInputPartitions()
      else clean.planInputPartitions().map {
        case fp: FilePartition => GraftVtRowOnlyPartition(fp)
        case other => other
      }
    val dvParts: Array[InputPartition] = dv.planInputPartitions().flatMap {
      case fp: FilePartition =>
        GraftVtFoldedRead.dvPartitionsFor(fp.files.toSeq, dvPaths)
      case other => Seq(other) // defensive: clean path
    }
    cleanParts ++ dvParts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftVtDvReaderFactory(cleanFactory, dvFactory, dataTypes,
      conf, columnarOk)
}

/** One DV'd parquet file (possibly a byte-range split of it) plus the
  * PATHS of exactly that file's bitmap sidecars — the task descriptor
  * carries file names, never positions; the executor that reads the
  * file decodes its own bitmaps ([[GraftDvBitmap.loadUnion]]).
  */
private[sources] case class GraftVtDvPartition(inner: FilePartition,
                                               dvPaths: Seq[String])
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** A DV-free file partition forced onto the row-based read path —
  * planned when the SAME batch also contains DV partitions, because
  * the exec node requires all-or-nothing columnar across a batch's
  * partitions.
  */
private[sources] case class GraftVtRowOnlyPartition(inner: FilePartition)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Files of a commit's persisted change data: each row carries its
  * change type as a data column, read in the position the injected
  * `_change_type` takes for every other partition — so they read
  * columnar exactly when plain files do, unless `rowOnly` (the batch
  * also holds DV partitions).
  */
private[sources] case class GraftVtCdcPartition(inner: FilePartition,
                                                rowOnly: Boolean)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** The change feed's dispatching factory: plain file partitions
  * delegate untouched; CDC partitions read through the factory whose
  * data columns end in the embedded `_change_type`; DV-fold partitions
  * filter the prior snapshot's hidden rows by row index (a removed
  * DV'd directory must not re-report rows an earlier DV delete already
  * emitted) — their reader's schema appends the row index AFTER the
  * data columns, BEFORE the injected cdf partition columns, and the
  * projection drops exactly that marker.
  */
private[sources] class GraftVtCdfReaderFactory(plain: PartitionReaderFactory,
                                               cdc: PartitionReaderFactory,
                                               dv: PartitionReaderFactory,
                                               dataTypes: Array[DataType],
                                               cdfTypes: Array[DataType],
                                               conf: Broadcast[GraftDvBitmap.SerConf])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case c: GraftVtCdcPartition => cdc.createReader(c.inner)
      case d: GraftVtDvPartition =>
        new GraftVtFilteringReader(dv.createReader(d.inner),
          dataTypes ++ cdfTypes,
          GraftVtFilteringReader.skipOne(dataTypes.length, cdfTypes.length),
          GraftVtFilteringReader.dvKeep(
            GraftDvBitmap.loadUnion(conf.value.value, d.dvPaths), dataTypes.length))
      case r: GraftVtRowOnlyPartition => plain.createReader(r.inner)
      case other => plain.createReader(other)
    }

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case c: GraftVtCdcPartition => !c.rowOnly && cdc.supportColumnarReads(c.inner)
    case _: GraftVtDvPartition | _: GraftVtRowOnlyPartition => false
    case other => plain.supportColumnarReads(other)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case c: GraftVtCdcPartition if !c.rowOnly => cdc.createColumnarReader(c.inner)
      case _: GraftVtCdcPartition | _: GraftVtDvPartition |
           _: GraftVtRowOnlyPartition =>
        throw new UnsupportedOperationException(
          "marker partitions read row-based")
      case other => plain.createColumnarReader(other)
    }
}

/** Dispatching factory: DV partitions get the filtering reader over
  * the parquet factory's row reader (which reads through the
  * vectorized reader internally when enabled); everything else
  * delegates to the clean factory untouched. Declared row-based for
  * every partition — [[org.apache.spark.sql.execution.datasources.v2
  * .DataSourceV2ScanExecBase]] requires all-or-nothing columnar, and
  * the DV side must see individual rows to drop hidden ones.
  */
private[sources] class GraftVtDvReaderFactory(clean: PartitionReaderFactory,
                                              dv: PartitionReaderFactory,
                                              dataTypes: Array[DataType],
                                              conf: Broadcast[GraftDvBitmap.SerConf],
                                              columnarDv: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case d: GraftVtDvPartition =>
        new GraftVtDvRowReader(dv.createReader(d.inner),
          GraftDvBitmap.loadUnion(conf.value.value, d.dvPaths), dataTypes)
      case r: GraftVtRowOnlyPartition => clean.createReader(r.inner)
      case other => clean.createReader(other)
    }

  /** With `columnarDv` the whole batch stays columnar (DV files filter
    * at batch granularity); otherwise DV and row-only partitions read
    * as rows and DV-free batches keep whatever the clean factory
    * reports (the planner plans row-only markers exactly when a batch
    * mixes).
    */
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: GraftVtDvPartition => columnarDv
    case _: GraftVtRowOnlyPartition => false
    case other => clean.supportColumnarReads(other)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case d: GraftVtDvPartition if columnarDv =>
        new GraftVtDvColumnarReader(dv.createColumnarReader(d.inner),
          GraftDvBitmap.loadUnion(conf.value.value, d.dvPaths), dataTypes)
      case _: GraftVtDvPartition | _: GraftVtRowOnlyPartition =>
        throw new UnsupportedOperationException(
          "DV/row-only partitions read row-based")
      case other => clean.createColumnarReader(other)
    }
}

/** Filters the inner reader's rows with `keep` and projects a marker
  * column back off: the output row is the input's fields at
  * `outIndices` (typed by `outTypes`), which the callers build as
  * "everything except the marker index". Shared by the batch scan's
  * and the change feed's DV row-index filters.
  */
private[sources] class GraftVtFilteringReader(
    inner: PartitionReader[InternalRow],
    outTypes: Array[DataType], outIndices: Array[Int],
    keep: InternalRow => Boolean)
    extends PartitionReader[InternalRow] {

  private val proj = UnsafeProjection.create(
    outIndices.zip(outTypes).map { case (i, dt) =>
      BoundReference(i, dt, nullable = true)
    }.toIndexedSeq)
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (inner.next()) {
      val r = inner.get()
      if (keep(r)) {
        row = proj(r)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = inner.close()
}

private[sources] object GraftVtFilteringReader {

  /** Everything except the marker at `skipIdx`: [0, skipIdx) ++
    * (skipIdx, skipIdx + 1 + trailing].
    */
  def skipOne(skipIdx: Int, trailing: Int): Array[Int] =
    (Array.range(0, skipIdx) ++
      Array.range(skipIdx + 1, skipIdx + 1 + trailing))

  /** The hidden-position predicate: indices increase monotonically
    * within one file's range, so a forward pointer into the sorted
    * hidden array suffices — O(rows + hidden), no per-row search.
    */
  def dvKeep(hidden: Array[Long], idxAt: Int): InternalRow => Boolean = {
    var ptr = 0
    r => {
      val idx = r.getLong(idxAt)
      while (ptr < hidden.length && hidden(ptr) < idx) ptr += 1
      ptr >= hidden.length || hidden(ptr) != idx
    }
  }
}

/** Skips the hidden rows and projects the temporary row-index column
  * back off — the batch scan's DV filter (no trailing partition
  * columns).
  */
private[sources] class GraftVtDvRowReader(inner: PartitionReader[InternalRow],
                                          hidden: Array[Long],
                                          dataTypes: Array[DataType])
    extends GraftVtFilteringReader(inner, dataTypes,
      Array.range(0, dataTypes.length),
      GraftVtFilteringReader.dvKeep(hidden, dataTypes.length))

/** A zero-copy SELECTION view of a column vector: accesses remap
  * through `sel` (the surviving row ids of a DV-filtered batch) at
  * read time, for EVERY type — structs wrap their children recursively
  * (the final `getStruct` builds a ColumnarRow over THIS vector, whose
  * field reads come back through the remapped children; the same
  * composition serves intervals and variants), while arrays and maps
  * delegate whole handles (`getArray`/`getMap` are built by the inner
  * vector and never consult the parent again). This is what keeps a
  * projection with nested/map columns COLUMNAR on the DV path — the
  * pre-r15 copy path handled atomic types only and dropped the whole
  * batch, clean majority included, to rows otherwise. The view borrows
  * the inner reader's vectors (valid until its next batch, the same
  * contract as the zero-copy pass-through), so `close()` is a no-op.
  */
private[sources] class GraftVtSelectedVector(
    inner: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(inner.dataType) {
  import org.apache.spark.sql.types._

  override def close(): Unit = () // inner vectors stay owned by their reader
  // conservative over-approximations: a subset can only have fewer
  // nulls; consumers use these to SKIP null checks, never to add them
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = inner.numNulls()
  override def isNullAt(rowId: Int): Boolean = inner.isNullAt(sel(rowId))
  override def getBoolean(rowId: Int): Boolean = inner.getBoolean(sel(rowId))
  override def getByte(rowId: Int): Byte = inner.getByte(sel(rowId))
  override def getShort(rowId: Int): Short = inner.getShort(sel(rowId))
  override def getInt(rowId: Int): Int = inner.getInt(sel(rowId))
  override def getLong(rowId: Int): Long = inner.getLong(sel(rowId))
  override def getFloat(rowId: Int): Float = inner.getFloat(sel(rowId))
  override def getDouble(rowId: Int): Double = inner.getDouble(sel(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    inner.getArray(sel(rowId))
  override def getMap(rowId: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    inner.getMap(sel(rowId))
  override def getDecimal(rowId: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(sel(rowId), precision, scale)
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    inner.getUTF8String(sel(rowId))
  override def getBinary(rowId: Int): Array[Byte] = inner.getBinary(sel(rowId))

  // Children are remapped ONLY for the types whose final accessors
  // compose over getChild with the PARENT's row id (struct fields,
  // interval parts, variant value/metadata); array/map element vectors
  // are reached through inner-built handles and must stay raw.
  private val wrapKids: Boolean = dataType() match {
    case _: StructType | CalendarIntervalType | VariantType => true
    case _ => false
  }
  private val kidCache =
    new java.util.HashMap[Integer, org.apache.spark.sql.vectorized.ColumnVector]()
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    if (!wrapKids) inner.getChild(ordinal)
    else { // single task thread: a plain memo avoids an alloc per field access
      var k = kidCache.get(ordinal)
      if (k == null) {
        k = new GraftVtSelectedVector(inner.getChild(ordinal), sel)
        kidCache.put(ordinal, k)
      }
      k
    }
}

/** The COLUMNAR DV filter: each incoming batch's trailing row-index
  * vector drives the same sorted-positions two-pointer as the row
  * reader; a batch with no hidden rows passes through ZERO-COPY (its
  * vectors re-wrapped without the index column), a batch with hits
  * serves its surviving rows through zero-copy SELECTION views
  * ([[GraftVtSelectedVector]] — every type, nested included). Only the
  * DV'd files ever pay the remap — the DV-free majority of the table
  * reads through the stock columnar path untouched, so whole-stage
  * codegen and batch processing survive an outstanding DV.
  */
private[sources] class GraftVtDvColumnarReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    hidden: Array[Long], dataTypes: Array[DataType])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val width = dataTypes.length
  private var ptr = 0
  private var out: ColumnarBatch = _

  override def next(): Boolean = {
    out = null
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val idxCol = b.column(width)
      val keep = new Array[Int](n)
      var m = 0
      var i = 0
      while (i < n) {
        val idx = idxCol.getLong(i)
        while (ptr < hidden.length && hidden(ptr) < idx) ptr += 1
        if (ptr >= hidden.length || hidden(ptr) != idx) {
          keep(m) = i; m += 1
        }
        i += 1
      }
      if (m == n) {
        // nothing hidden here: re-wrap the inner vectors minus the
        // index column — zero copy, vectors stay owned by the inner
        // reader (consumed before the next call per reader contract)
        out = new ColumnarBatch(
          Array.tabulate[ColumnVector](width)(b.column), n)
        return true
      }
      if (m > 0) {
        val sel = java.util.Arrays.copyOf(keep, m)
        out = new ColumnarBatch(Array.tabulate[ColumnVector](width)(c =>
          new GraftVtSelectedVector(b.column(c), sel)), m)
        return true
      }
      // whole batch hidden: keep scanning
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = out
  override def close(): Unit = inner.close()
}

/** The change feed's three reader factories (plain / embedded-type /
  * row-index schemas) plus the types the DV projection needs — built
  * once at scan construction, shipped to the batch and the micro-batch
  * stream.
  */
private[sources] case class GraftVtCdfReaders(
    mkPlain: () => PartitionReaderFactory,
    mkCdc: () => PartitionReaderFactory,
    mkDv: () => PartitionReaderFactory,
    dataTypes: Array[DataType],
    cdfTypes: Array[DataType],
    conf: Broadcast[GraftDvBitmap.SerConf]) {
  def mkFactory(): PartitionReaderFactory =
    new GraftVtCdfReaderFactory(mkPlain(), mkCdc(), mkDv(),
      dataTypes, cdfTypes, conf)
}

private[sources] object GraftVtFoldedRead {

  /** The read-schema tail the parquet readers fill with per-file row
    * indices — nullable (the vectorized reader's column check rejects
    * a required column absent from the file; the generator fills it
    * either way).
    */
  val RowIndexField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)

  def withRowIndex(schema: StructType): StructType =
    StructType(schema.fields :+ RowIndexField)

  /** One-file DV partitions for the given files: the bitmap-path
    * slice is keyed `"<dir>/<file>"` — the ONE construction every
    * DV-planning path (batch scan, plain stream, change feed) shares,
    * so the keying convention cannot drift between them. Partitions
    * carry PATHS (tens of bytes); the executors decode.
    */
  def dvPartitionsFor(files: Seq[org.apache.spark.sql.execution.datasources.PartitionedFile],
                      dvPaths: Map[String, Seq[String]]): Seq[InputPartition] =
    files.map { f =>
      val p = f.toPath
      GraftVtDvPartition(FilePartition(0, Array(f)),
        dvPaths.getOrElse(p.getParent.getName + "/" + p.getName,
          Seq.empty)): InputPartition
    }
}
