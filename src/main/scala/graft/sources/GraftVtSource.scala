package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, NoopCache}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 face of [[VersionedTable]] — `format("graftvt")`, so
  * data skipping is TRANSPARENT: a plain
  * {{{ spark.read.format("graftvt").load(dir).filter($"k".between(a, b)) }}}
  * (and the same query through SQL over a registered view) prunes
  * whole data directories from MANIFEST statistics before any parquet
  * footer opens, through the same data-skipping core ([[DataSkipping]])
  * as [[VersionedTable.readPrunedAll]] — but without the caller knowing
  * the pruning API exists. This is how
  * Delta serves its skipping: the relation participates in planning,
  * Catalyst hands the scan its filters, and the scan consults the log.
  * The reference's own reads are exactly this shape (a date-scoped
  * monitoring view — `First experiment/Claude Sonnet 4.py:660-678`).
  *
  * Mechanics: [[GraftVtScanBuilder]] implements
  * `SupportsPushDownFilters`; the pushed conjuncts map onto the core's
  * predicate model ([[DataSkipping.fromFilters]]: ranges, exact IN
  * lists, null-ness) and the scan is a stock [[ParquetScan]] over ONLY the kept directories — so parquet
  * row-group skipping, vectorized reading, and whole-stage codegen all
  * apply unchanged within them. Every filter is also RETAINED
  * post-scan (manifest pruning is a superset guarantee, directory
  * granularity), so no supported-filter-shape subtlety can change
  * answers. Column pruning rides `SupportsPushDownRequiredColumns`
  * into the parquet reader.
  *
  * Time travel: `option("versionAsOf", v)` / `option("timestampAsOf",
  * "<ISO-8601>")` — ISO only (bare epoch numerics are rejected: they
  * meant different units on different surfaces); resolved ONCE per
  * load and pinned, so schema inference and scan planning cannot
  * straddle a concurrent commit.
  */
class GraftVtDataSource extends TableProvider with DataSourceRegister
    with GraftVtSinkProvider {

  override def shortName(): String = "graftvt"

  // One load = one snapshot: memoized so inferSchema and getTable see
  // the SAME pinned version even if a writer commits between the calls.
  private var pinned: Option[(VersionedTable, Int, String)] = None

  private def resolve(options: CaseInsensitiveStringMap)
      : (VersionedTable, Int, String) = synchronized {
    pinned.getOrElse {
      val spark = SparkSession.active
      val path = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException(
          "graftvt needs a table directory: " +
            "spark.read.format(\"graftvt\").load(dir)"))
      val vt = new VersionedTable(spark, path)
      val vAsOf = Option(options.get("versionAsOf")).map(_.trim.toInt)
      val tsAsOf = Option(options.get("timestampAsOf")).map(_.trim)
      require(vAsOf.isEmpty || tsAsOf.isEmpty,
        "specify versionAsOf OR timestampAsOf, not both")
      val v = (vAsOf, tsAsOf) match {
        case (Some(ver), _) => ver
        case (_, Some(ts)) =>
          vt.versionAtTimestamp(GraftVtTime.parseTimestampAsOf(ts))
        case _ =>
          // v = -1: an UNINITIALIZED directory. Tolerated here (not an
          // error) because the streaming-WRITE path builds the table
          // before it can fall back to the V1 sink that will CREATE it;
          // reads of the stub fail with the explanatory name below.
          vt.latestVersion
      }
      require(v >= 0 || (vAsOf.isEmpty && tsAsOf.isEmpty),
        s"$path has no committed versions")
      val r = (vt, v, path)
      pinned = Some(r)
      r
    }
  }

  private def changeFeed(opts: CaseInsensitiveStringMap): Boolean =
    Option(opts.get("readChangeFeed")).exists(_.trim.toBoolean)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (vt, v, _) = resolve(options)
    if (v < 0) return new StructType() // uninitialized: sink-creation path
    // the LOG-recorded schema — a readAt-based inference would list
    // every active directory on every load
    val base = vt.tableSchema(Some(v))
    if (changeFeed(options))
      StructType(base.fields ++ GraftVtChangeFiles.cdfSchema.fields)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (vt, v, path) = resolve(opts)
    if (v < 0) return new GraftVtUninitializedTable(path)
    val travelled = opts.containsKey("versionAsOf") || opts.containsKey("timestampAsOf")
    new GraftVtTable(vt, v, path, schema, travelled || changeFeed(opts),
      changeFeed(opts))
  }
}

/** The table of a directory with NO committed versions. It supports
  * nothing — which is exactly what routes `writeStream.format("graftvt")
  * .start(dir)` to the V1 sink fallback that will CREATE the table on
  * its first micro-batch; any read of it fails with this name in the
  * message.
  */
private[sources] class GraftVtUninitializedTable(path: String) extends Table {
  override def name(): String =
    s"graftvt.`$path` (no committed versions yet — append/CREATE first)"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.noneOf(classOf[TableCapability])
}

private[sources] class GraftVtTable(vt: VersionedTable, version: Int,
                                    rootPath: String, schema: StructType,
                                    timeTravelled: Boolean,
                                    changeFeed: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graftvt.`$rootPath` (version $version)"
  override def schema(): StructType = schema

  /** User TBLPROPERTIES from the transaction log (plus the provider
    * Spark expects every V2 table to report) — what `loadTable(...)
    * .properties()` and SHOW TBLPROPERTIES serve.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    vt.tableProperties(Some(version)).foreach { case (k, v) => m.put(k, v) }
    m.put("provider", "graftvt")
    m
  }

  /** The declared identity partitioning (empty when unpartitioned) —
    * DESCRIBE TABLE and SHOW CREATE read it from here.
    */
  override def partitioning(): Array[Transform] =
    vt.partitionColumns(Some(version)).map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def capabilities(): util.Set[TableCapability] =
    // BATCH_WRITE routes DataFrameWriter.save here; V1_BATCH_WRITE
    // tells the planner the produced Write is the V1 fallback shape;
    // MICRO_BATCH_READ serves spark.readStream (GraftVtMicroBatchStream).
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftVtScanBuilder(vt, version, rootPath, schema, options, changeFeed)

  /** Write path (`df.write.format("graftvt").mode(...)` over an
    * EXISTING table): append rides the table's one commit loop with
    * retries ([[VersionedTable.appendWithRetry]] — racing writers all
    * land), overwrite replaces the active set as one commit through the
    * same loop without retries. A V1 fallback write: the commit protocol needs the whole
    * payload written before one atomic manifest publish, which is
    * exactly the InsertableRelation shape — a per-partition DataWriter
    * commit would buy nothing (parquet tasks already write files; the
    * TRANSACTION is the manifest). Time-travelled loads reject writes
    * (history is immutable — same as Delta); fresh directories
    * bootstrap through the Scala API, whose append defines the schema
    * the v2 path then validates against.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!timeTravelled,
      s"cannot write to a time-travelled load of $rootPath: versions are " +
        "immutable — load the table without versionAsOf/timestampAsOf")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        replace = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              if (replace) vt.overwrite(data)
              else vt.appendWithRetry(data)
              ()
            }
        }
    }
  }
}

/** The pushdown site: maps the pushed conjuncts onto the data-skipping
  * core's predicates, prunes the version's active directories on the
  * manifest log, and builds a stock parquet scan over the survivors.
  */
private[sources] class GraftVtScanBuilder(vt: VersionedTable, version: Int,
                                          rootPath: String,
                                          tableSchema: StructType,
                                          options: CaseInsensitiveStringMap,
                                          changeFeed: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  // In change-feed mode tableSchema carries the two synthetic columns;
  // the BASE schema is what the parquet files actually hold.
  private val baseSchema: StructType = StructType(tableSchema.fields
    .filterNot(f => changeFeed &&
      GraftVtChangeFiles.cdfSchema.fieldNames.contains(f.name)))

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var allFilters: Array[Filter] = Array.empty
  private var preds: Seq[DataSkipping.Pred] = Nil

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allFilters = filters
    preds = DataSkipping.fromFilters(filters.toSeq)
    // Report the conjuncts that contributed pruning information
    // (explain shows them as PushedFilters); EVERY filter is returned
    // as post-scan — the manifest prune is a superset at directory
    // granularity, never a row filter. A change-feed scan prunes
    // nothing (its unit is a commit), so it reports nothing.
    pushed =
      if (changeFeed) Array.empty
      else filters.filter(DataSkipping.fromFilter(_).nonEmpty)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- Aggregate pushdown: metadata-only answers ---------------------
  // Delta answers `SELECT count(*) FROM t` from its log; so does this
  // source — COUNT(*), COUNT(col), MIN(col), MAX(col) with no GROUP BY
  // and no filters resolve ENTIRELY from the manifest fold
  // ([[VersionedTable.fastCount]]/[[VersionedTable.fastNonNullCount]]/
  // [[VersionedTable.statRange]]: per-directory exact stats computed at
  // write time), and the scan collapses to a [[LocalScan]] — the plan
  // shows a LocalTableScan, NO parquet footer ever opens. At 100 TB
  // that's a few KB of log instead of a full-table scan. Catalyst only
  // attempts aggregate pushdown when NO post-scan filters remain, and
  // this source retains EVERY filter post-scan, so a filtered aggregate
  // can never take this path — correctness is structural. Any
  // unanswerable piece (a directory predating stats, an unsupported
  // column type, DISTINCT, GROUP BY) rejects the WHOLE aggregation and
  // the ordinary scan path serves it.
  private var aggAnswer: Option[(StructType, InternalRow)] = None

  private def aggColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[StructField] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      baseSchema.fields.find(_.name.equalsIgnoreCase(r.fieldNames()(0)))
    case _ => None
  }

  /** The internal-row value of a column's metadata MIN or MAX, in the
    * column's physical type. NTZ bounds were recorded through the
    * writer session's timezone, so they are only served when the
    * current session runs UTC (the engine's pinned zone) — anything
    * else falls back to the scan.
    */
  private def statInternal(f: StructField, isMin: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    val utcSession = SparkSession.active.sessionState.conf
      .sessionLocalTimeZone == "UTC"
    vt.statRange(f.name, Some(version)).flatMap { case (lo, hi) =>
      val v = if (isMin) lo else hi
      f.dataType match {
        case ByteType => Some(v.asInstanceOf[Number].byteValue)
        case ShortType => Some(v.asInstanceOf[Number].shortValue)
        case IntegerType => Some(v.asInstanceOf[Number].intValue)
        case LongType => Some(v.asInstanceOf[Number].longValue)
        case TimestampType => Some(v.asInstanceOf[Number].longValue)
        case TimestampNTZType if utcSession =>
          Some(v.asInstanceOf[Number].longValue)
        case FloatType => Some(v.asInstanceOf[Number].floatValue)
        case DoubleType => Some(v.asInstanceOf[Number].doubleValue)
        case StringType =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(
            v.asInstanceOf[String]))
        case _ => None
      }
    }
  }

  private def answerAggregation(agg: Aggregation)
      : Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.types._
    if (changeFeed) return None
    if (preds.nonEmpty) return None
    if (agg.groupByExpressions().nonEmpty) return None
    val funcs = agg.aggregateExpressions()
    if (funcs.isEmpty) return None
    val parts: Seq[Option[(StructField, Any)]] = funcs.toSeq.map {
      case _: CountStar =>
        vt.fastCount(Some(version)).map(n =>
          (StructField("count(*)", LongType, nullable = false), n: Any))
      case c: Count if !c.isDistinct =>
        aggColumn(c.column()).flatMap(f =>
          vt.fastNonNullCount(f.name, Some(version)).map(n =>
            (StructField(s"count(${f.name})", LongType, nullable = false),
              n: Any)))
      case m: Min =>
        aggColumn(m.column()).flatMap(f => statInternal(f, isMin = true)
          .map(v => (StructField(s"min(${f.name})", f.dataType), v)))
      case m: Max =>
        aggColumn(m.column()).flatMap(f => statInternal(f, isMin = false)
          .map(v => (StructField(s"max(${f.name})", f.dataType), v)))
      case _ => None
    }
    if (parts.exists(_.isEmpty)) None
    else {
      val ps = parts.flatten
      Some((StructType(ps.map(_._1)), InternalRow.fromSeq(ps.map(_._2))))
    }
  }

  // ---- Limit pushdown: plan only enough directories -----------------
  // `SELECT * FROM t LIMIT n` needs ANY n rows, so the scan keeps the
  // shortest active-dir prefix whose RECORDED row counts reach n and
  // never plans the rest — on a 10k-directory table a LIMIT 10 opens
  // one directory. Catalyst only pushes a limit when no post-scan
  // filters remain, and this source retains every filter post-scan, so
  // a filtered limit can never take this path; the guard below repeats
  // that structurally. PARTIAL push: Spark keeps its own Limit on top
  // (the kept prefix may overshoot), this only bounds planned input.
  private var limitRows: Option[Int] = None

  override def pushLimit(n: Int): Boolean = {
    if (changeFeed || n <= 0 || preds.nonEmpty) return false
    limitRows = Some(n)
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** The shortest active-dir prefix whose recorded EFFECTIVE rows
    * (recorded minus DV-hidden — a deletion vector hides recorded
    * rows, so the raw count would under-cover the limit) reach `n`; a
    * directory with unrecorded rows counts as 0 (conservative — the
    * walk continues past it, never stops short of provable coverage).
    */
  private def limitPrefix(active: Seq[String], n: Int): Seq[String] = {
    val snapRows = vt.dirRowCounts(Some(version))
    val dvHidden = vt.dvRowCountsAt(version)
    var acc = 0L
    val kept = Vector.newBuilder[String]
    var i = 0
    while (i < active.length && acc < n) {
      val d = active(i)
      kept += d
      acc += math.max(0L,
        snapRows.getOrElse(d, 0L) - dvHidden.getOrElse(d, 0L))
      i += 1
    }
    kept.result()
  }

  // Spark probes supportCompletePushDown and pushAggregation with the
  // same Aggregation in one planning pass — memoize on its rendering so
  // the manifest fold runs once, not once per probe.
  private var aggProbe: Option[(String, Option[(StructType, InternalRow)])] = None

  private def answerMemo(agg: Aggregation): Option[(StructType, InternalRow)] = {
    val key = agg.toString
    if (!aggProbe.exists(_._1 == key))
      aggProbe = Some((key, answerAggregation(agg)))
    aggProbe.get._2
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggAnswer = answerMemo(agg)
    aggAnswer.isDefined
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerMemo(agg).isDefined

  override def build(): Scan = {
    val spark = SparkSession.active
    aggAnswer match {
      case Some((schema, row)) =>
        return new GraftVtAggregateScan(schema, Array(row), rootPath)
      case None => ()
    }
    if (changeFeed) {
      // Change feed: the scan serves versions' added/removed files with
      // (_change_type, _commit_version) injected as PARTITION VALUES —
      // the reader appends them per row exactly as a partitioned table
      // serves its partition columns; the parquet files hold only the
      // base schema. Manifest pruning does not apply (the unit is a
      // commit, not the active set); filters stay post-scan as always.
      val dataCols = StructType(required.fields.filterNot(f =>
        GraftVtChangeFiles.cdfSchema.fieldNames.contains(f.name)))
      // in cdfSchema order, whatever the requested order: a CDC file's
      // embedded type then sits exactly where the injected one would
      val cdfCols = GraftVtChangeFiles.cdfSchema.fieldNames
        .filter(required.fieldNames.contains).toSeq
      val cdfStruct = StructType(cdfCols.map(n =>
        GraftVtChangeFiles.cdfSchema(n)))
      // physical schemas like the batch scan: every data file and CDC
      // sidecar spells the STABLE physical names whatever renames came
      // later — rows are positional, the reported schema stays logical
      val physBase = vt.physicalize(baseSchema)
      val physDataCols = vt.physicalize(StructType(dataCols.fields.map(f =>
        baseSchema.fields.find(_.name.equalsIgnoreCase(f.name)).getOrElse(f))))
      val emptyIndex = new InMemoryFileIndex(spark, Nil,
        options.asScala.toMap, Some(physBase), NoopCache, None, None)
      def mkCdfScan(readData: StructType,
                    partition: StructType = cdfStruct): ParquetScan =
        ParquetScan(spark,
          spark.sessionState.newHadoopConfWithOptions(options.asScala.toMap),
          emptyIndex,
          dataSchema = physBase,
          readDataSchema = readData,
          readPartitionSchema = partition,
          pushedFilters = Array.empty,
          options = options)
      val readerScan = mkCdfScan(physDataCols)
      // the CDC factory reads a requested change type from the files'
      // own column, so only the commit version is injected; the DV
      // factory appends the row index AFTER the data columns, BEFORE
      // the injected cdf partition columns
      val (cdcType, cdcInjected) = cdfStruct.fields
        .partition(_.name == GraftVtChangeFiles.ChangeType)
      val cdfReaders = GraftVtCdfReaders(
        mkPlain = () => readerScan.createReaderFactory(),
        mkCdc = () => mkCdfScan(StructType(physDataCols.fields ++
          cdcType.map(_.copy(nullable = true))), StructType(cdcInjected))
          .createReaderFactory(),
        mkDv = () => mkCdfScan(GraftVtFoldedRead.withRowIndex(physDataCols))
          .createReaderFactory(),
        dataTypes = physDataCols.fields.map(_.dataType),
        cdfTypes = cdfStruct.fields.map(_.dataType),
        conf = GraftDvBitmap.shippedConf(spark))
      val fromV = Option(options.get("startingVersion")).map(_.trim.toInt)
        .getOrElse(0)
      val toV = Option(options.get("endingVersion")).map(_.trim.toInt)
        .getOrElse(version)
      new GraftVtScan(spark, vt, rootPath, baseSchema,
        StructType(dataCols.fields ++ cdfStruct.fields), dataCols,
        options.asScala.toMap, readerScan,
        cdf = Some((fromV, toV, cdfCols)), cdfReaders = Some(cdfReaders))
    } else {
      val keptAll =
        if (preds.isEmpty) vt.activeDirs(Some(version))
        else vt.skip(preds, Some(version))._1
      val kept = limitRows.fold(keptAll)(limitPrefix(keptAll, _))
      val dvs = vt.dvsAt(version)
      val l2p = vt.renamesAt(version)
      // Every DV'd read is VECTORIZED, whatever the debt: partitions
      // carry bitmap PATHS, executors decode exactly their own file's
      // hidden rows ([[GraftDvBitmap]]) — there is no inline budget,
      // no driver collect, and no row-fold fallback. Renames don't
      // change this: the inner parquet scans read the PHYSICAL schema
      // (identical types and order — InternalRows are positional) and
      // the scan reports the logical one.
      // Physicalize once: schema the files spell, projection in file
      // names, pushed filters with attributes re-addressed (an
      // untranslatable conjunct just drops — every filter is retained
      // post-scan, so parquet-level pushdown is only ever a bonus).
      // The INNER scans get ALL pushed conjuncts, not just the
      // manifest-prunable subset: parquet's own row-group/page skipping
      // handles shapes (string prefix, IN lists, OR trees) the
      // directory-stats index never indexes.
      val physTable = vt.physicalize(tableSchema)
      val physRequired = vt.physicalize(StructType(required.fields.map(f =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(f.name)).getOrElse(f))))
      val physPushed =
        if (l2p.isEmpty) allFilters
        else allFilters.flatMap(GraftVtFilters.toPhysicalFilter(_, l2p))
      val cleanKept = kept.filterNot(dvs.contains)
      val paths = cleanKept.map(n => new Path(new Path(rootPath), n)).toSeq
      val index = new InMemoryFileIndex(spark, paths,
        options.asScala.toMap, Some(physTable), NoopCache, None, None)
      val parquet = ParquetScan(spark,
        spark.sessionState.newHadoopConfWithOptions(options.asScala.toMap),
        index,
        dataSchema = physTable,
        readDataSchema = physRequired,
        readPartitionSchema = new StructType(),
        pushedFilters = physPushed,
        options = options)
      new GraftVtScan(spark, vt, rootPath, physTable, required, physRequired,
        options.asScala.toMap, parquet,
        version = version, staticKept = kept, staticPushed = physPushed,
        dvMap = dvs)
    }
  }
}

/** A completely-pushed-down aggregate answered from the manifest fold:
  * one pre-computed row, planned as a LocalTableScan — the table's
  * data is never touched.
  */
private[graft] class GraftVtAggregateScan(schema: StructType,
                                          answer: Array[InternalRow],
                                          rootPath: String) extends LocalScan {
  override def rows(): Array[InternalRow] = answer
  override def readSchema(): StructType = schema
  override def description(): String = s"GraftVtMetadataAggregate $rootPath"
}

/** The produced Scan: BATCH reads delegate wholesale to the stock
  * [[ParquetScan]] over the manifest-pruned directories (vectorized
  * reads, row-group skipping, reported statistics — so joins against
  * the table still broadcast when small); STREAMING reads hand the
  * table to [[GraftVtMicroBatchStream]], whose offsets are log
  * versions. `parquet` is exposed for plan assertions (the pruning
  * gates count its file-index roots).
  *
  * RUNTIME filtering ([[SupportsRuntimeFiltering]] — Spark's
  * dynamic-partition-pruning hook for v2 sources): when this table is
  * the big side of a join whose other side carries a selective filter,
  * Spark executes the small side first and hands the join keys' value
  * set here as an IN filter BEFORE this scan plans its partitions. The
  * filters map through the same data-skipping core as plan-time
  * pushdown ([[DataSkipping.fromFilters]] — an IN list prunes by EXACT
  * membership, tighter than a [min, max] envelope for scattered key
  * sets), the inner parquet scan rebuilds
  * over the survivors, and `toBatch` (re-invoked by `BatchScanExec`
  * after `filter`) plans only them. At 100 TB this is the star-join
  * shape: a dimension filter skips fact directories wholesale. Pruning
  * stays a SUPERSET guarantee — the join itself drops any surviving
  * non-matching rows, so a conservative keep can never change answers.
  */
private[graft] class GraftVtScan(spark: SparkSession, vt: VersionedTable,
                                   rootPath: String, physTable: StructType,
                                   required: StructType,
                                   physRequired: StructType,
                                   optionsMap: Map[String, String],
                                   parquet0: ParquetScan,
                                   cdf: Option[(Int, Int, Seq[String])] = None,
                                   version: Int = -1,
                                   staticKept: Seq[String] = Nil,
                                   staticPushed: Array[Filter] = Array.empty,
                                   dvMap: Map[String, Seq[String]] = Map.empty,
                                   cdfReaders: Option[GraftVtCdfReaders] = None)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  @volatile private var current: ParquetScan = parquet0
  @volatile private var currentKept: Seq[String] = staticKept
  /** Test/gate seam: Some(kept count) once a runtime filter pruned. */
  @volatile private[graft] var runtimeKept: Option[Int] = None

  def parquet: ParquetScan = current

  private def dvKeptOf(kept: Seq[String]): Seq[String] =
    if (dvMap.isEmpty) Nil else kept.filter(dvMap.contains)

  /** Bitmap PATHS listed ONCE per scan over the initially-kept DV'd
    * directories (a runtime filter only shrinks the kept set, and
    * pruned directories' files are simply never planned) —
    * metadata-sized; the executors decode the positions.
    */
  private lazy val dvBitmapPaths: Map[String, Seq[String]] =
    vt.dvBitmapPaths(vt.dvsAt(version), dvKeptOf(staticKept))

  private def mkParquetScan(dirs: Seq[String], readSchema: StructType)
      : ParquetScan = {
    val paths = dirs.map(n => new Path(new Path(rootPath), n)).toSeq
    val index = new InMemoryFileIndex(spark, paths, optionsMap,
      Some(physTable), NoopCache, None, None)
    ParquetScan(spark,
      spark.sessionState.newHadoopConfWithOptions(optionsMap),
      index,
      dataSchema = physTable,
      readDataSchema = readSchema,
      readPartitionSchema = new StructType(),
      pushedFilters = staticPushed,
      options = new CaseInsensitiveStringMap(optionsMap.asJava))
  }

  /** Runtime-filterable columns: every top-level column the manifest
    * stats can index — restricted to the scan's OUTPUT (Spark resolves
    * these against the pruned read schema; reporting a pruned-away
    * column is an analysis error). A change-feed scan reports none
    * (its unit is a commit, not the active set).
    */
  override def filterAttributes(): Array[NamedReference] =
    if (cdf.isDefined || version < 0) Array.empty
    else readSchema().fields.collect {
      case f if DataSkipping.statColumn(f.dataType,
          org.apache.spark.sql.functions.col(f.name)).isDefined =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit = {
    if (cdf.isDefined || version < 0) return
    val preds = DataSkipping.fromFilters(filters.toSeq)
    val kept =
      if (preds.isEmpty) currentKept
      else currentKept.intersect(vt.skip(preds, Some(version))._1)
    if (kept.size < currentKept.size) {
      current = mkParquetScan(kept.filterNot(dvMap.contains), physRequired)
      currentKept = kept
    }
    runtimeKept = Some(kept.size)
  }

  override def readSchema(): StructType = required

  override def toBatch: org.apache.spark.sql.connector.read.Batch = cdf match {
    case None =>
      val dvd = dvKeptOf(currentKept)
      if (dvd.isEmpty) parquet.toBatch
      else {
        // DV'd directories read through their OWN parquet scan with the
        // row-index column appended; the combined batch filters their
        // hidden rows per file and serves DV-free directories untouched.
        val dvScan = mkParquetScan(dvd,
          GraftVtFoldedRead.withRowIndex(physRequired))
        new GraftVtDvBatch(parquet.toBatch, dvScan.toBatch,
          dvBitmapPaths, physRequired.fields.map(_.dataType),
          GraftDvBitmap.shippedConf(spark))
      }
    case Some((fromV, toV, cdfCols)) =>
      new GraftVtCdfBatch(spark, vt, rootPath, fromV, toV, cdfCols,
        cdfReaders.get)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    cdf match {
      case None =>
        new GraftVtMicroBatchStream(spark, vt, rootPath, physTable,
          physRequired, optionsMap, () => parquet.createReaderFactory(),
          // a second factory whose read schema appends the row-index
          // column — what DV partitions (snapshot-init over a DV'd
          // table, a restore's re-added sidecarred dirs) read through
          mkDvReaderFactory = Some(() => mkParquetScan(Nil,
            GraftVtFoldedRead.withRowIndex(physRequired)).createReaderFactory()),
          dvTypes = physRequired.fields.map(_.dataType))
      case Some((_, _, cdfCols)) =>
        new GraftVtMicroBatchStream(spark, vt, rootPath, physTable,
          physRequired, optionsMap, () => parquet.createReaderFactory(),
          changeFeed = true, cdfCols = cdfCols, cdfReaders = cdfReaders)
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    if (dvKeptOf(currentKept).isEmpty) parquet.estimateStatistics()
    else new org.apache.spark.sql.connector.read.Statistics {
      // the parquet scan's byte count misses the DV'd directories and
      // its row estimate would include hidden rows — serve the
      // manifest's exact numbers instead (rows minus hidden)
      private val (rowsOpt, bytesOpt) = vt.dirStats(version, currentKept)
      override def sizeInBytes(): java.util.OptionalLong =
        bytesOpt.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        rowsOpt.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }

  override def description(): String = {
    val dvd = dvKeptOf(currentKept)
    val tag = if (dvd.isEmpty) "" else s" [dv-folded ${dvd.size} dirs]"
    "GraftVt " + parquet.description() + tag
  }
}

/** The ONE user-facing `TIMESTAMP AS OF` bound parser — shared by the
  * DSv2 `timestampAsOf` option and the SQL-text substitution frontend
  * ([[graft.plans.VersionedSql.timestampBound]]), so the same string
  * means the same instant on every surface.
  */
private[graft] object GraftVtTime {

  /** Parse an ISO-8601 local timestamp (`2026-01-01 12:00:00[.SSS]`,
    * `T` separator tolerated, date-only = midnight) to epoch millis in
    * the SESSION timezone — exactly the zone Spark resolves a native
    * catalog's `TIMESTAMP AS OF '<literal>'` in, so the two surfaces
    * pin the same version for the same string. Bare epoch numerics are
    * rejected loudly: the same number meant epoch MILLIseconds here
    * while a native catalog `TIMESTAMP AS OF <n>` casts it as epoch
    * SECONDS — an ambiguity no unit choice removes; `versionAsOf`
    * serves exact pinning.
    */
  def parseTimestampAsOf(ts0: String): Long = {
    val ts = ts0.trim
    require(ts.toLongOption.isEmpty && ts.toDoubleOption.isEmpty,
      s"ambiguous numeric timestampAsOf bound '$ts': pass an ISO-8601 " +
        "timestamp ('2026-01-01 12:00:00') — bare epoch numbers meant " +
        "different units on different surfaces; use versionAsOf to pin " +
        "an exact version")
    val norm = ts.replace(' ', 'T')
    val full = if (norm.matches("\\d{4}-\\d{2}-\\d{2}")) norm + "T00:00:00" else norm
    val ldt =
      try java.time.LocalDateTime.parse(full)
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"cannot parse timestampAsOf bound '$ts0' as an ISO-8601 " +
              "timestamp ('2026-01-01 12:00:00')", e)
      }
    val zone = java.time.ZoneId.of(
      SparkSession.active.sessionState.conf.sessionLocalTimeZone)
    ldt.atZone(zone).toInstant.toEpochMilli
  }
}

/** v1-Filter rewriting for the inner parquet scan (manifest pruning
  * lives in [[DataSkipping]]).
  */
private[sources] object GraftVtFilters {

  /** Re-address a pushed filter's attributes LOGICAL → PHYSICAL so
    * parquet-level pushdown (row-group/page skipping) keeps working on
    * a renamed table — the files spell physical names. `None` for any
    * shape not enumerated: the conjunct simply drops from the inner
    * scan's pushed set, and since every filter is retained post-scan,
    * a dropped conjunct only forfeits a skip, never an answer. A
    * dotted name maps its FIRST segment (renames are top-level-only).
    */
  def toPhysicalFilter(f: Filter, l2p: Map[String, String]): Option[Filter] = {
    def m(a: String): String = {
      val (head, rest) = a.indexOf('.') match {
        case -1 => (a, "")
        case i => (a.substring(0, i), a.substring(i))
      }
      val mapped = l2p.getOrElse(head,
        l2p.collectFirst { case (k, v) if k.equalsIgnoreCase(head) => v }
          .getOrElse(head))
      mapped + rest
    }
    f match {
      case EqualTo(a, v) => Some(EqualTo(m(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(m(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(m(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(m(a), v))
      case LessThan(a, v) => Some(LessThan(m(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(m(a), v))
      case In(a, vs) => Some(In(m(a), vs))
      case IsNull(a) => Some(IsNull(m(a)))
      case IsNotNull(a) => Some(IsNotNull(m(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(m(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(m(a), v))
      case StringContains(a, v) => Some(StringContains(m(a), v))
      case And(l, r) => for {
        l2 <- toPhysicalFilter(l, l2p); r2 <- toPhysicalFilter(r, l2p)
      } yield And(l2, r2)
      case Or(l, r) => for {
        l2 <- toPhysicalFilter(l, l2p); r2 <- toPhysicalFilter(r, l2p)
      } yield Or(l2, r2)
      case Not(c) => toPhysicalFilter(c, l2p).map(Not)
      case t: AlwaysTrue => Some(t)
      case ff: AlwaysFalse => Some(ff)
      case _ => None
    }
  }
}
