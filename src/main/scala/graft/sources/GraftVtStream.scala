package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** Stream OFFSET = a committed version number: the transaction log IS
  * the write-ahead log a streaming source needs, so offsets are exact,
  * replayable, and human-readable (`{"version": 7}` = "everything
  * through commit 7 has been served").
  */
case class GraftVtOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** The change feed — batch `readChangeFeed`, its streaming form and
  * [[VersionedTable.changes]] — and the plain stream's file planning:
  * the parquet files one commit contributes, each tagged with the
  * (change-type, commit-version) PARTITION VALUES the reader appends to
  * every row — constants never touch the data files, exactly how a
  * partitioned table serves its partition columns. `cdfCols` is the
  * REQUESTED subset (column pruning may drop either), in
  * [[cdfSchema]] order.
  */
private[sources] object GraftVtChangeFiles {

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  val cdfSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(ChangeType,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(CommitVersion,
      org.apache.spark.sql.types.IntegerType, nullable = false)))

  /** The injected values of `cdfCols`; `changeType = None` leaves the
    * type out, for files that carry it as a data column.
    */
  def partitionValues(cdfCols: Seq[String], changeType: Option[String],
                      version: Int): InternalRow =
    InternalRow.fromSeq(cdfCols.flatMap {
      case ChangeType =>
        changeType.map(org.apache.spark.unsafe.types.UTF8String.fromString)
      case CommitVersion => Some(version)
    })

  /** One directory's contribution to a change feed at one commit:
    * PLAIN directories serve every row under the injected type;
    * DV-FOLD directories filter the `dvVersion` snapshot's hidden rows
    * by row index first (a removed DV'd directory must not re-report
    * rows an earlier DV delete already emitted; a restore can re-add
    * directories WITH sidecars); CDC directories are a commit's
    * persisted change data, each row typed by its embedded
    * `_change_type` column.
    */
  sealed trait ChangeUnit
  case class PlainChange(dir: String, changeType: String) extends ChangeUnit
  case class DvFoldChange(dir: String, changeType: String, dvVersion: Int)
      extends ChangeUnit
  case class CdcChange(dir: String) extends ChangeUnit

  /** The change units commit `v` contributes, decided by its manifest:
    * an `optimize` commit nothing (identical data by contract); a
    * commit that persisted change data that directory, whatever its
    * op; any other commit `insert` from its added directories and
    * `delete` from its removed ones, each folded under the deletion
    * vectors of the version it was visible at (rewritten-but-unchanged
    * rows appear as delete+insert pairs), so removals fail loudly once
    * the version before `v` is vacuumed.
    */
  def changeDirs(vt: VersionedTable, v: Int): Seq[ChangeUnit] = {
    val c = vt.commitAt(v)
    def synthesis(dirs: Seq[String], changeType: String, dvVersion: Int) =
      if (dirs.isEmpty) Nil
      else {
        val dvs = vt.dvsAt(dvVersion)
        dirs.map(d =>
          if (dvs.contains(d)) DvFoldChange(d, changeType, dvVersion)
          else PlainChange(d, changeType))
      }
    if (c.op == "optimize") Nil
    else c.cdf match {
      case Some(d) => Seq(CdcChange(d))
      case None =>
        require(c.removed.isEmpty || vt.hasManifest(v - 1), s"the change feed of version $v " +
          s"needs version ${v - 1}, which was vacuumed: version $v removed directories whose " +
          s"rows it reports as deletes of version ${v - 1}; start after version $v")
        synthesis(c.added, "insert", v) ++ synthesis(c.removed, "delete", v - 1)
    }
  }

  private def filesUnder(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                         d: String, v: Int, changeType: Option[String],
                         cdfCols: Seq[String]): Seq[PartitionedFile] = {
    val p = new Path(root, d)
    require(fs.exists(p),
      s"data directory $d of version $v was vacuumed; its rows cannot " +
        "be served — start from a retained version")
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => PartitionedFile(partitionValues(cdfCols, changeType, v),
        org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty[String],
        st.getModificationTime, st.getLen, Map.empty))
  }

  /** The files of `dirs` at version `v`, without change-feed columns:
    * what the plain row stream serves.
    */
  def filesOf(spark: SparkSession, root: Path, dirs: Seq[String],
              v: Int): Seq[PartitionedFile] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.flatMap(d => filesUnder(fs, root, d, v, None, Nil))
  }

  /** Plan the change units of versions `vs` into input partitions:
    * plain files pack normally, CDC files pack the same way for the
    * reader of their embedded type, DV-fold directories go one file per
    * partition with exactly that file's hidden positions. DV partitions
    * read rows, so when a batch holds any, the others are marked
    * row-only (the exec node needs uniform columnar support).
    */
  def planUnits(spark: SparkSession, root: Path, vt: VersionedTable,
                unitsByVersion: Seq[(Int, Seq[ChangeUnit])],
                cdfCols: Seq[String]): Array[InputPartition] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val plain = Seq.newBuilder[PartitionedFile]
    val cdc = Seq.newBuilder[PartitionedFile]
    val dvParts = Array.newBuilder[InputPartition]
    unitsByVersion.foreach { case (v, units) =>
      units.foreach {
        case PlainChange(d, t) =>
          plain ++= filesUnder(fs, root, d, v, Some(t), cdfCols)
        case CdcChange(d) => cdc ++= filesUnder(fs, root, d, v, None, cdfCols)
        case DvFoldChange(d, t, dvV) =>
          // bitmap paths, never positions: debt size is irrelevant to
          // the feed — each partition's executor decodes its own file
          dvParts ++= GraftVtFoldedRead.dvPartitionsFor(
            filesUnder(fs, root, d, v, Some(t), cdfCols),
            vt.dvBitmapPaths(vt.dvsAt(dvV), Seq(d)))
      }
    }
    val dv = dvParts.result()
    def pack(files: Seq[PartitionedFile])(wrap: FilePartition => InputPartition) =
      FilePartition.getFilePartitions(spark, files, maxBytes).map(wrap).toArray
    pack(plain.result())(fp =>
      if (dv.nonEmpty) GraftVtRowOnlyPartition(fp) else fp) ++
      pack(cdc.result())(GraftVtCdcPartition(_, rowOnly = dv.nonEmpty)) ++ dv
  }
}

/** BATCH change feed — Delta's
  * `spark.read.option("readChangeFeed", true).option("startingVersion",
  * a).option("endingVersion", b)`: one Batch whose partitions are the
  * change files of versions [a, b], change-type and commit-version
  * injected as partition values. The plan-time cost is the manifest
  * fold; only the commits' own directories are read.
  */
private[sources] class GraftVtCdfBatch(spark: SparkSession,
                                       vt: VersionedTable, rootPath: String,
                                       fromV: Int, toV: Int,
                                       cdfCols: Seq[String],
                                       readers: GraftVtCdfReaders)
    extends org.apache.spark.sql.connector.read.Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val root = new Path(rootPath)
    val units = (fromV to toV).map(v =>
      (v, GraftVtChangeFiles.changeDirs(vt, v)))
    GraftVtChangeFiles.planUnits(spark, root, vt, units, cdfCols)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readers.mkFactory()
}

/** The versioned table as a STREAMING SOURCE (Delta's streaming reads):
  * `spark.readStream.format("graftvt").load(dir)` serves each commit's
  * added rows exactly once, in commit order — micro-batch (start, end]
  * replays the delta manifests of versions start+1..end and reads ONLY
  * the directories those commits added (never a snapshot rescan; at
  * 100 TB the incremental read costs the new data alone). Exactly-once
  * falls out of the offsets being log versions: Structured Streaming
  * checkpoints the offset, and replaying (start, end] is deterministic
  * from the immutable manifests.
  *
  * Commit-kind semantics (Delta's contract):
  *  - `append` commits stream their added directories;
  *  - `optimize` commits are SKIPPED — a compaction rewrites the same
  *    rows (dataChange = false), and replaying them would duplicate;
  *  - `alter` (schema) commits add no rows; whether the stream
  *    continues is the SCHEMA-CHANGE CONTRACT below;
  *  - any other mutation (overwrite / merge / delete / restore) fails
  *    LOUDLY unless `option("ignoreChanges", "true")`, which then
  *    streams the commit's added directories — rewritten-but-unchanged
  *    rows arrive again, the same documented duplication Delta's
  *    ignoreChanges accepts.
  *
  * SCHEMA-CHANGE CONTRACT: the read schema is PINNED at stream start.
  * A mid-stream schema commit that stays servable under the pinned
  * schema — ADD COLUMNS (new columns are simply never projected),
  * DROP (missing columns pad null), RENAME (metadata-only; bytes keep
  * their physical names) — is served transparently. A change the
  * pinned schema CANNOT serve — a type WIDENING (new files spell a
  * pinned column wider than the pinned type), or an overwrite's
  * incompatible schema under ignoreChanges — fails at the first batch
  * that crosses it with an explicit "schema changed at version N —
  * restart the stream" error, never a raw parquet cast failure
  * ([[assertSchemaServable]]).
  *
  * Options: `startingVersion` (a number = first version to serve,
  * inclusive; `"latest"` = only commits after stream start; default 0
  * — the whole table as the initial batch, Delta's initial snapshot),
  * `maxVersionsPerTrigger` (admission control: at most that many
  * commits per micro-batch, bounding batch size by write cadence).
  *
  * Readers are stock [[ParquetPartitionReaderFactory]] instances over
  * [[FilePartition]]s sized by `spark.sql.files.maxPartitionBytes` —
  * the same vectorized read path as the batch scan. The read schema is
  * pinned at stream start (columns appended later are not served
  * mid-stream — Delta pins the query schema the same way).
  */
class GraftVtMicroBatchStream(spark: SparkSession, vt: VersionedTable,
                              rootPath: String, dataSchema: StructType,
                              readSchema: StructType,
                              options: Map[String, String],
                              mkReaderFactory: () => PartitionReaderFactory,
                              changeFeed: Boolean = false,
                              cdfCols: Seq[String] = Nil,
                              mkDvReaderFactory: Option[() => PartitionReaderFactory] = None,
                              dvTypes: Array[org.apache.spark.sql.types.DataType] = Array.empty,
                              cdfReaders: Option[GraftVtCdfReaders] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val root = new Path(rootPath)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Initial-batch semantics: WITHOUT `startingVersion` the first
    * micro-batch serves the CURRENT SNAPSHOT (Delta's initial snapshot
    * — correct even when history contains overwrites/merges/deletes,
    * which a log replay would refuse) and the stream tails commits
    * after it; an EXPLICIT `startingVersion` asks for the log replay
    * from that version (`"latest"` = tail only).
    */
  private val snapshotInit: Boolean = !options.contains("startingversion")
  private val startingVersion: Int = options.get("startingversion") match {
    case Some(v) if v.trim.equalsIgnoreCase("latest") => vt.latestVersion + 1
    case Some(v) => v.trim.toInt
    case None => 0
  }
  private val maxVersionsPerTrigger: Option[Int] =
    options.get("maxversionspertrigger").map(_.trim.toInt)
  private val ignoreChanges: Boolean =
    options.get("ignorechanges").exists(_.trim.toBoolean)

  override def initialOffset(): Offset = GraftVtOffset(startingVersion - 1)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled form")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVtOffset].version
    val latest = vt.latestVersion
    // The snapshot-initial batch is ONE snapshot at the stream-start
    // version, never capped: capping would pin an older snapshot and
    // then replay the pre-stream commits it omitted — including
    // mutations the snapshot semantics exist to fold away.
    if (snapshotInit && s < 0 && !changeFeed) GraftVtOffset(latest)
    else GraftVtOffset(maxVersionsPerTrigger
      .map(m => math.min(latest, s + m)).getOrElse(latest).max(s))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset = {
    val m = """\{\s*"version"\s*:\s*(-?\d+)\s*\}""".r
    json.trim match {
      case m(v) => GraftVtOffset(v.toInt)
      case other => throw new IllegalArgumentException(
        s"not a graftvt offset: $other")
    }
  }

  /** The parquet files commit `v` streams on a PLAIN row stream —
    * append-only history required unless ignoreChanges (the change
    * feed plans through [[GraftVtChangeFiles.planUnits]] instead).
    */
  private def filesOf(v: Int): Seq[PartitionedFile] = {
    val c = vt.commitAt(v)
    val dirs: Seq[String] = c.op match {
      case "append" | "convert" => c.added
      case "optimize" => Nil // dataChange = false: same rows, never replay
      case "constraint" | "properties" => Nil // metadata-only commits
      // a schema commit adds/removes no rows; whether the stream can
      // keep serving its PINNED schema past it is decided by the
      // schema-change guard in planInputPartitions, never by a raw
      // parquet cast failure rows later
      case "alter" => Nil
      case _ if ignoreChanges => c.added
      case other => throw new IllegalStateException(
        s"streaming read of $rootPath hit a '$other' commit at version $v — " +
          "a streamed table must be append-only past the stream's start; " +
          "set option(\"ignoreChanges\", \"true\") to receive the commit's " +
          "rewritten rows (rows the rewrite did not change arrive AGAIN), " +
          "or option(\"readChangeFeed\", \"true\") for tagged changes")
    }
    GraftVtChangeFiles.filesOf(spark, root, dirs, v)
  }

  /** MID-STREAM SCHEMA-CHANGE GUARD (Delta's contract): the read
    * schema is PINNED at stream start; a schema commit arriving
    * mid-stream either keeps being served under the pinned schema
    * (add / drop / rename — all servable: extra columns prune, missing
    * ones pad null, renames move no bytes) or fails HERE with an
    * explicit "restart the stream" error — never rows later as a raw
    * parquet cast failure when the first wide-typed file arrives.
    * Every commit carrying a recorded schema is checked (alter,
    * overwrite-under-ignoreChanges, merge-borne evolution, and the
    * appends that follow them), so the guard fires at the earliest
    * version the divergence is visible.
    */
  private def assertSchemaServable(v: Int, recorded: Option[String]): Unit =
    recorded.foreach(j => vt.streamSchemaViolation(readSchema, j).foreach(
      detail => throw new IllegalStateException(
        s"the schema of $rootPath changed at version $v in a way this " +
          s"stream cannot serve ($detail); streaming reads pin their " +
          "schema at stream start — restart the stream (and downstream " +
          "consumers) to adopt the new schema")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVtOffset].version
    val e = end.asInstanceOf[GraftVtOffset].version
    if (snapshotInit && s < 0 && !changeFeed)
      assertSchemaServable(e, vt.snapshotSchemaJson(e))
    else (s + 1 to e).foreach(v => assertSchemaServable(v, vt.commitSchemaJson(v)))
    if (changeFeed)
      // the change feed plans through the shared unit planner: commits
      // serve their persisted CDC, removed/restored DV'd directories
      // fold by row index
      return GraftVtChangeFiles.planUnits(spark, root, vt,
        (s + 1 to e).map(v => (v, GraftVtChangeFiles.changeDirs(vt, v))),
        cdfCols)
    // Each planned file carries the VERSION whose DV state governs it:
    // the snapshot-initial batch folds the snapshot version's DVs; a
    // replayed commit's added directories fold that commit's own DV
    // state (a RESTORE can re-add directories WITH sidecars).
    val files: Seq[(Int, PartitionedFile)] =
      if (snapshotInit && s < 0)
        // The initial batch IS the snapshot at `e`: active directories,
        // not a commit-by-commit replay — a historical overwrite or
        // merge is already folded into the active set.
        GraftVtChangeFiles.filesOf(spark, root, vt.activeDirs(Some(e)), e)
          .map((e, _))
      else (s + 1 to e).flatMap(v => filesOf(v).map((v, _)))
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    // ONE snapshot fold per distinct version in the batch — the
    // per-file predicate below must not re-fold the manifest log for
    // every planned file (O(files × log length) I/O at planning time)
    val dvByV: Map[Int, Map[String, Seq[String]]] =
      files.map(_._1).distinct.map(v => v -> vt.dvsAt(v)).toMap
    if (mkDvReaderFactory.isEmpty ||
        !files.exists { case (v, f) =>
          dvByV(v).contains(f.toPath.getParent.getName) })
      return FilePartition.getFilePartitions(spark, files.map(_._2),
        maxBytes).toArray
    // DV-bearing directories in this batch: their files become one-file
    // DV partitions (row-index filtered, exactly the batch scan's
    // mechanism); everything else packs normally but rides row-only
    // markers — one batch must be uniformly (non-)columnar. Partitions
    // carry bitmap PATHS only, so debt size never concentrates
    // anywhere: no budget, no refusal.
    val clean = Seq.newBuilder[PartitionedFile]
    val dvParts = Array.newBuilder[InputPartition]
    files.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (v, vfiles) =>
      val dvs = dvByV(v)
      val (dvFiles, rest) = vfiles.map(_._2)
        .partition(f => dvs.contains(f.toPath.getParent.getName))
      clean ++= rest
      if (dvFiles.nonEmpty) {
        val dirs = dvFiles.map(_.toPath.getParent.getName).distinct
        dvParts ++= GraftVtFoldedRead.dvPartitionsFor(dvFiles,
          vt.dvBitmapPaths(vt.dvsAt(v), dirs))
      }
    }
    val cleanParts: Array[InputPartition] =
      FilePartition.getFilePartitions(spark, clean.result(), maxBytes)
        .map(GraftVtRowOnlyPartition(_): InputPartition).toArray
    cleanParts ++ dvParts.result()
  }

  /** Delegated to the batch [[org.apache.spark.sql.execution
    * .datasources.v2.parquet.ParquetScan]]'s own factory: its
    * createReaderFactory prepares the broadcast hadoop conf (read
    * support class, requested-schema JSON, timezone/rebase settings)
    * that a hand-built [[ParquetPartitionReaderFactory]] would have to
    * replicate key by key — and the factory is file-agnostic, so it
    * reads any [[FilePartition]] this stream plans.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    if (changeFeed) cdfReaders.fold(mkReaderFactory())(_.mkFactory())
    else mkDvReaderFactory match {
      case Some(mkDv) =>
        // dispatching factory: DV partitions filter hidden rows, clean
        // partitions (and whole DV-free batches) delegate untouched
        new GraftVtDvReaderFactory(mkReaderFactory(), mkDv(), dvTypes,
          GraftDvBitmap.shippedConf(spark))
      case None => mkReaderFactory()
    }

  override def commit(end: Offset): Unit = () // the engine's checkpoint is the record
  override def stop(): Unit = ()
  override def toString: String = s"GraftVtStream($rootPath from v$startingVersion)"
}
