package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Managed-table layer over Parquet — the stand-in for the reference's
  * Delta sinks (SURVEY §2.1 S6, S8–S15). Delta jars are unavailable
  * offline; the interface keeps Delta-swappable semantics:
  * append/overwrite/partitionBy/insertInto, exists/DDL-create,
  * mergeSchema emulation via explicit schema alignment
  * (`Second Experiment/GPT 5 nano.py:106-175`), and OPTIMIZE/ZORDER
  * approximated by repartition + sortWithinPartitions compaction.
  */
class TableManager(spark: SparkSession) {

  /** Backtick-quote a possibly-qualified name part by part:
    * `db.tbl` → `` `db`.`tbl` `` — quoting the whole string would turn
    * the dot into part of a single identifier and break every
    * SQL-string path for qualified names.
    */
  private def quoted(table: String): String =
    table.split('.').map(p => s"`$p`").mkString(".")

  def exists(table: String): Boolean = spark.catalog.tableExists(table)

  def schemaOf(table: String): StructType = spark.table(table).schema

  /** Drop `table` from the catalog AND delete its warehouse directory.
    * With the default in-memory catalog the table ENTRY dies with the
    * session but the warehouse FILES survive — a bare re-create over
    * the leftovers would accumulate or conflict. One implementation
    * for every harness/probe/spec that needs a re-runnable sink.
    */
  def reset(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
  }

  /** Align the write distribution with the table's partition layout:
    * without this, EVERY write task holds rows of EVERY partition
    * value, so a dynamic-partition write emits tasks × partitions
    * files — the classic small-file blowup (and a metastore/commit
    * storm to match). Shuffling on the partition columns first sends
    * each value to one task → one file per partition, with AQE
    * coalescing the tiny ones.
    *
    * `filesPerPartition > 1` handles the OTHER failure mode — a
    * partition value too large for one write task (a hot ingestion
    * day at corpus scale): rows are additionally spread over that
    * many salt buckets, derived deterministically from a hash of the
    * row's non-partition hashable columns (layout-independent, no
    * RNG), so each partition value is written by up to that many
    * parallel tasks instead of one.
    *
    * Degenerate-salt caveat: rows that are FULLY identical outside the
    * partition columns all hash to one salt bucket, so a hot partition
    * made of exact duplicates still writes as one task. That is
    * deliberate — the deterministic alternatives (monotonic ids,
    * partition-local counters) change bucket assignment with the
    * physical layout and make re-runs non-reproducible; exact-dup-heavy
    * feeds should dedup upstream (the corpus funnel's first stage).
    * The all-map-columns fallback below is the one case with NO salt
    * available at all, and it logs loudly instead of degrading
    * silently.
    */
  private def alignWrite(df: DataFrame, partitionBy: Seq[String],
                         filesPerPartition: Int = 1): DataFrame =
    if (partitionBy.isEmpty) df
    else if (filesPerPartition <= 1) df.repartition(partitionBy.map(col): _*)
    else {
      // Salt from the hashABLE columns only: a row with a map column
      // would fail analysis if hashed whole.
      val saltCols = df.schema.fields
        .filter(f => !partitionBy.contains(f.name) && SchemaCompat.hashable(f.dataType))
        .map(f => col(f.name))
      // All-map payload: no deterministic salt available — fall back
      // to the unsalted aligned write rather than a nondeterministic
      // one, and say so (the caller asked for spreading it won't get).
      if (saltCols.isEmpty) {
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"filesPerPartition=$filesPerPartition requested but no " +
            "hashable non-partition columns exist to salt on; writing " +
            "one task per partition value")
        df.repartition(partitionBy.map(col): _*)
      }
      else df.repartition(partitionBy.map(col) :+
        pmod(xxhash64(struct(saltCols.toIndexedSeq: _*)), lit(filesPerPartition.toLong)): _*)
    }

  /** S8: partitioned append (creates the table on first write).
    * `filesPerPartition` pre-salts oversized partition values — see
    * [[alignWrite]].
    */
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
             filesPerPartition: Int = 1): Unit = {
    val w = alignWrite(df, partitionBy, filesPerPartition)
      .write.format("parquet").mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(table)
  }

  /** S10: overwrite. When `partitionBy` is omitted and the table
    * already exists, its catalog partition columns are preserved — a
    * full-table rewrite must never silently flatten a partitioned
    * table, and this is the primitive every rewrite path
    * (upsert/appendEvolving/compact) goes through.
    */
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    val parts = effectivePartitions(table, partitionBy)
    val w = alignWrite(df, parts).write.format("parquet").mode(SaveMode.Overwrite)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(table)
  }

  /** S11: position-based insert into an existing table. */
  def insertInto(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).insertInto(table)

  /** S12: DDL creation from a StructType (reference builds the CREATE
    * TABLE string from the schema: `Third Experiment/GPT 5.py:113-137`).
    */
  def create(table: String, schema: StructType, partitionBy: Seq[String] = Nil): Unit = {
    val cols = schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val part = if (partitionBy.nonEmpty) partitionBy.mkString(" PARTITIONED BY (", ", ", ")") else ""
    spark.sql(s"CREATE TABLE IF NOT EXISTS ${quoted(table)} ($cols) USING PARQUET$part")
  }

  /** Project/pad `df` to an exact target schema: missing columns become
    * typed nulls, extra columns are dropped, order matches. The core of
    * the reference's schema-reconciliation subsystem
    * (`Second Experiment/GPT 5 nano.py:150-170`).
    */
  def alignToSchema(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** `alignToSchema` with rename reconciliation: a df column missing
    * from `target` whose underscore-token multiset equals a missing
    * target column's is treated as that column renamed — the
    * `x_avg` ↔ `avg_x` matching the reference performs when
    * reconciling against the live table
    * (`Second Experiment/GPT 5 nano.py:106-175`). Only unambiguous
    * (single-candidate) matches rename; everything else falls back to
    * add-missing-as-typed-null / drop-extra / reorder / cast.
    */
  def alignToSchemaRenamed(df: DataFrame, target: StructType): DataFrame = {
    def key(n: String) = n.toLowerCase.split('_').filter(_.nonEmpty).sorted.mkString("_")
    val present = df.columns.toSet
    val extras = df.columns.filterNot(target.fieldNames.contains)
    val extraByKey: Map[String, String] =
      extras.groupBy(key).collect { case (k, Array(one)) => k -> one }
    // Ambiguity must be checked on BOTH sides: two missing target
    // columns sharing one token key must not both receive the same
    // source column's data.
    val missingKeyCounts = target.fields.filterNot(f => present.contains(f.name))
      .groupBy(f => key(f.name)).map { case (k, fs) => k -> fs.length }
    df.select(target.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else extraByKey.get(key(f.name)) match {
        case Some(src) if missingKeyCounts(key(f.name)) == 1 =>
          col(src).cast(f.dataType).as(f.name)
        case _ => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Schema-compat check with drop-and-recreate repair (the reference's
    * validate-then-rebuild path: `Third Experiment/GPT 5.py:100-137`).
    * Compatible = same field count, every expected field present with
    * the same dataType (order-insensitive). Returns true when the
    * table was (re)created. With `repair=false` an incompatible table
    * raises instead of being dropped.
    */
  def ensureTable(table: String, schema: StructType,
                  partitionBy: Seq[String] = Nil, repair: Boolean = true): Boolean = {
    if (!exists(table)) { create(table, schema, partitionBy); return true }
    val actual = schemaOf(table)
    val compatible = actual.fields.length == schema.fields.length &&
      schema.fields.forall(f => actual.find(_.name == f.name).exists(_.dataType == f.dataType))
    if (compatible) false
    else if (repair) {
      spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
      create(table, schema, partitionBy)
      true
    } else throw new IllegalStateException(
      s"table $table schema ${actual.simpleString} incompatible with expected ${schema.simpleString}")
  }

  /** S9 (`mergeSchema`) emulation: append with schema evolution. New
    * columns in `df` widen the table; missing columns become nulls.
    *
    * Widening is METADATA-ONLY by default: parquet is schema-on-read,
    * so `ALTER TABLE ... ADD COLUMNS` updates the catalog and every
    * pre-existing file scans as null for the added columns — the cost
    * of evolving is the NEW files alone, exactly Delta's mergeSchema
    * cost model. At corpus scale this is the difference between a
    * one-column widening being free and being a full-table rewrite.
    * Set `rewriteHistory = true` for the old physical path — every
    * file rewritten to carry the merged schema — when the directory
    * must be handed to a reader that can't pad missing parquet
    * columns. (Both paths are non-atomic without a transaction log —
    * the documented Delta gap.)
    */
  def appendEvolving(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
                     rewriteHistory: Boolean = false): Unit = {
    if (!exists(table)) { append(df, table, partitionBy); return }
    val existing = schemaOf(table)
    checkNoNarrowing(df.schema, existing, table)
    val newCols = df.schema.fields.filterNot(f => existing.fieldNames.contains(f.name))
    if (newCols.isEmpty) {
      append(alignToSchema(df, existing), table, partitionBy)
    } else if (rewriteHistory) {
      val merged = StructType(existing.fields ++ newCols)
      val old = alignToSchema(spark.table(table), merged)
      val incoming = alignToSchema(df, merged)
      // Two-phase rewrite: materialize the merged history (checkpoint
      // severs the plan's reference to the table being overwritten),
      // then overwrite the target.
      val staged = old.union(incoming).localCheckpoint(true)
      overwrite(staged, table, partitionBy)
    } else {
      val colsSql = newCols.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE ${quoted(table)} ADD COLUMNS ($colsSql)")
      // Align to the POST-ALTER catalog schema (for a partitioned
      // table the added data columns land before the partition
      // columns, not at the very end).
      append(alignToSchema(df, schemaOf(table)), table, partitionBy)
    }
  }

  /** Loud guard for [[appendEvolving]] — the shared widening-cast
    * policy ([[SchemaCompat.checkNoNarrowing]], also enforced by the
    * versioned commit protocol): incoming columns may be NARROWER than
    * the table (int into long — `alignToSchema`'s cast widens
    * losslessly) but never WIDER (long into int would truncate
    * silently row by row), and cross-family / unranked type changes
    * are rejected — use `ensureTable`'s repair path deliberately
    * instead.
    */
  private def checkNoNarrowing(incoming: StructType, table: StructType,
                               tableName: String): Unit =
    SchemaCompat.checkNoNarrowing(incoming, table, tableName)

  /** Dynamic partition overwrite: replace ONLY the partitions present
    * in `df`, leaving all others — the idempotent re-ingestion
    * primitive (re-running a day's load must not duplicate Bronze;
    * the reference's blind `append` does:
    * `First experiment/GPT 5.py:114`). Uses Spark's dynamic
    * partitionOverwriteMode, scoped to this call.
    */
  def overwritePartitions(df: DataFrame, table: String, partitionBy: Seq[String],
                          filesPerPartition: Int = 1): Unit = {
    if (!exists(table)) { append(df, table, partitionBy, filesPerPartition); return }
    // The "replace only df's partitions" contract holds ONLY when the
    // table is physically partitioned by the requested columns: on an
    // unpartitioned table the dynamic overwrite degrades to a silent
    // FULL-TABLE replace (every idempotent micro-batch commit would
    // erase all earlier batches), and on a differently-partitioned
    // table it replaces the wrong slices. Fail loudly instead.
    val actual = spark.catalog.listColumns(table).filter(_.isPartition).collect()
      .map(_.name).toSeq
    // EXACT set equality, not subset: passing Seq("day") against a
    // (day, hour) table would pass a subset check, but the dynamic
    // overwrite then replaces at (day, hour) granularity — a different
    // contract than the caller asked for (a re-run of one day would
    // keep the hours it didn't touch instead of replacing the day).
    require(partitionBy.toSet == actual.toSet,
      s"overwritePartitions($table) requires the table to be partitioned by " +
        s"exactly [${partitionBy.mkString(", ")}] but it is partitioned by " +
        s"[${actual.mkString(", ")}] — a dynamic overwrite here would replace " +
        "at a different granularity (or the whole table), not the intended " +
        "partitions; recreate the sink table with the right layout")
    // Scope the overwrite mode on the DATAFRAME's session, not this
    // manager's: inside foreachBatch the batch frame is bound to the
    // streaming engine's CLONED session, and a conf set on the outer
    // session would leave the clone in STATIC mode — where an empty
    // trailing micro-batch silently wipes the whole table.
    val sess = df.sparkSession
    val prev = sess.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      alignWrite(alignToSchema(df, schemaOf(table)),
          spark.catalog.listColumns(table).filter(_.isPartition).collect()
            .map(_.name).toSeq, filesPerPartition)
        .write.mode(SaveMode.Overwrite).insertInto(table)
    finally prev match {
      case Some(v) => sess.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => sess.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** MERGE-style upsert without a transaction log: rows of `df` replace
    * same-key rows of `table`, everything else is kept, result
    * rewritten atomically-per-session (the documented non-atomic gap
    * vs Delta MERGE, same as [[appendEvolving]]'s rewrite). Incoming
    * rows are aligned to the table schema first.
    */
  def upsert(df: DataFrame, table: String, keys: Seq[String],
             partitionBy: Seq[String] = Nil): Unit = {
    if (!exists(table)) { append(df, table, partitionBy); return }
    val target = schemaOf(table)
    val incoming = alignToSchema(df, target)
    val kept = spark.table(table).join(incoming.select(keys.map(col): _*), keys, "left_anti")
    val staged = kept.union(incoming).localCheckpoint(true)
    overwrite(staged, table, partitionBy)
  }

  /** The partition columns a rewrite must preserve: the caller's, or
    * (default) whatever the catalog says an existing table is already
    * partitioned by.
    */
  private def effectivePartitions(table: String, partitionBy: Seq[String]): Seq[String] =
    if (partitionBy.nonEmpty || !exists(table)) partitionBy
    else spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).partitionColumnNames

  /** S14 (second half): permanent catalog view — survives the session
    * when the catalog does (hive metastore in PipelineRunner), unlike
    * `createOrReplaceTempView`. The reference's monitoring view:
    * `First experiment/Claude Sonnet 4.py:660-678`.
    */
  def createOrReplaceView(name: String, viewSql: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW `$name` AS $viewSql")

  /** Bucketed write: pre-shuffles into `numBuckets` hash buckets on
    * `bucketBy` (sorted within files). Two tables bucketed the same way
    * join WITHOUT a shuffle — the co-located-join layout for fact
    * tables that are joined repeatedly on the same key at scale.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** S15 (the history / time-travel half): a versioned-snapshot table
    * rooted at `dir` — `DESCRIBE HISTORY` / `VERSION AS OF` semantics
    * through a manifest log instead of a Delta transaction log; see
    * [[VersionedTable]]. Appends cost only their new files; old
    * versions stay readable until `vacuum`.
    */
  def versioned(dir: String): VersionedTable = new VersionedTable(spark, dir)

  /** The [[VersionedTable]] backing `table`'s versioned mode: rooted in
    * the session warehouse under `<table>__versioned`, so the managed
    * name and the transaction log live side by side.
    */
  def versionedFor(table: String): VersionedTable =
    versioned(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table + "__versioned").toString)

  /** OPT-IN versioned mode for the managed warehouse path — the bridge
    * between the [[append]]-style catalog surface E1/E3 use and the
    * [[VersionedTable]] commit protocol. A plain parquet
    * `saveAsTable(Append)` has no atomicity story: two concurrent
    * appenders can interleave half-written file sets, and a reader mid-
    * append sees a torn table (the reference's own blind append —
    * `First experiment/GPT 5.py:114` — shares the gap). Here every
    * append is an atomic manifest commit with the optimistic-
    * concurrency loser retry, so N racing writers all land and every
    * reader sees some complete committed version; the catalog name is
    * refreshed to the LATEST snapshot after each commit (temp view —
    * with a shared metastore this would instead re-point an external
    * table's location at the new manifest, same one-pointer-swap
    * idea). Time travel / history / vacuum come free via
    * [[versionedFor]]. Returns the committed version.
    */
  def appendVersioned(df: DataFrame, table: String, maxRetries: Int = 5): Int = {
    val vt = versionedFor(table)
    val v = vt.appendWithRetry(df, maxRetries)
    refreshVersioned(table)
    v
  }

  /** MERGE (upsert) into a versioned managed table — the named-table
    * face of [[VersionedTable.merge]]: copy-on-write, stats-pruned
    * touched set, one atomic commit; the catalog view then reads the
    * merged snapshot. Returns the committed version.
    */
  def mergeVersioned(source: DataFrame, table: String,
                     keys: Seq[String]): Int = {
    val v = versionedFor(table).merge(source, keys)
    refreshVersioned(table)
    v
  }

  /** DELETE from a versioned managed table ([[VersionedTable.delete]]
    * through the catalog name): rewrites only directories holding
    * matches, then re-points the view. Returns the committed version
    * (unchanged when nothing matched).
    */
  def deleteVersioned(condition: org.apache.spark.sql.Column,
                      table: String): Int = {
    val v = versionedFor(table).delete(condition)
    refreshVersioned(table)
    v
  }

  /** (Re)expose `table`'s versioned snapshot under its catalog name —
    * also the recovery path when a reader session starts fresh.
    * Synchronized per-session: two racing appenders both re-register
    * the view after committing; the view is a plain "latest snapshot"
    * pointer, so last-writer-wins is correct AS LONG AS each register
    * reads the log after its own commit — which both do.
    */
  def refreshVersioned(table: String): Unit =
    versionedFor(table).read().createOrReplaceTempView(table)

  /** S15/S13 (DESCRIBE DETAIL stand-in): one-row table report —
    * format, location, schema string, file count, total bytes,
    * partition columns — assembled from the catalog plus a filesystem
    * walk of the table location (the offline equivalent of Delta's
    * `DESCRIBE DETAIL`; history tracking itself needs a transaction
    * log and stays out of scope — documented in BASELINE.md).
    */
  def describeDetail(table: String): DataFrame = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    val loc = meta.location.toString
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(loc), true)
    var nFiles = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !f.getPath.getName.startsWith("_")) {
        nFiles += 1; bytes += f.getLen
      }
    }
    import spark.implicits._
    Seq((table, meta.provider.getOrElse("parquet"), loc,
      spark.table(table).schema.simpleString,
      nFiles, bytes, meta.partitionColumnNames.mkString(",")))
      .toDF("table_name", "format", "location", "schema",
        "num_files", "size_bytes", "partition_columns")
  }

  /** S15 stand-in for OPTIMIZE [ZORDER]: compact to `numFiles` and
    * cluster rows within partitions by `clusterBy` for data-skipping-
    * friendly layout.
    */
  def compact(table: String, numFiles: Int, clusterBy: Seq[String] = Nil,
              partitionBy: Seq[String] = Nil): Unit = {
    val df = spark.table(table)
    val re = df.repartition(numFiles)
    val clustered =
      if (clusterBy.nonEmpty) re.sortWithinPartitions(clusterBy.map(col): _*) else re
    // Materialize (and sever lineage from the table) before overwrite.
    val staged = clustered.localCheckpoint(true)
    overwrite(staged, table, partitionBy)
  }

  /** OPTIMIZE's REAL contract — a target file SIZE, not a file count
    * (Delta's default ~1 GB): file count is derived from the table's
    * current bytes via [[describeDetail]]'s filesystem walk, then
    * compacted through [[compact]]. Returns the derived count. Sizing
    * from pre-compaction bytes is the same approximation OPTIMIZE
    * makes (re-encoded files shift a few percent); what matters at
    * scale is the ORDER of the count — a 10 TB table at 1 GB targets
    * ~10k files, not 8 shards-worth of giants or a million shards.
    */
  def compactToBytes(table: String, targetFileBytes: Long,
                     clusterBy: Seq[String] = Nil,
                     partitionBy: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val bytes = describeDetail(table).select(col("size_bytes")).head.getLong(0)
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    compact(table, n, clusterBy, partitionBy)
    n
  }
}
