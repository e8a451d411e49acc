package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Regenerates the `plans/r17` before/after plan evidence
  * for the round-17 engine-internal optimizations. These paths have no
  * single gate query whose `.explain` shows them (they execute inside
  * commit/merge machinery), so the dumps reconstruct each shape on a
  * demo frame: the physical plan the old code ran as a separate job
  * vs. the plan the fused code runs. Usage:
  * `runMain graft.PlanDumps [outDir]` (default `plans/r17`).
  */
object PlanDumps {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "plans/r17"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def w(name: String, s: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, name), s.getBytes("UTF-8"))
    def fmt(d: org.apache.spark.sql.Dataset[_]): String =
      d.queryExecution.explainString(ExplainMode.fromString("formatted"))

    val tmp = java.nio.file.Files.createTempDirectory("plans_r17").toString
    val df = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).cast("double").as("price"),
      concat(lit("s"), col("id").cast("string")).as("name"))
    val dir = tmp + "/v00000-demo"
    df.write.parquet(dir)

    val statCols = Seq(min(col("id").cast("long")), max(col("id").cast("long")),
      min(col("price").cast("double")), max(col("price").cast("double")),
      min(col("name")), max(col("name")),
      sum(when(col("id").isNull, 1L).otherwise(0L)),
      sum(when(col("price").isNull, 1L).otherwise(0L)),
      sum(when(col("name").isNull, 1L).otherwise(0L)),
      sum(when(expr("price >= 0") <=> lit(false), 1L).otherwise(0L)))
    val rb = spark.read.parquet(dir).agg(count(lit(1)), statCols: _*)
    w("commit_stats_before.txt",
      "# BEFORE (rounds <=16): every versioned-table commit ran this\n" +
      "# SEPARATE aggregate job over the just-written directory (plus a\n" +
      "# driver-side schema-inference footer read from spark.read.parquet)\n" +
      "# to record row count, min/max/null-count skipping stats, and CHECK\n" +
      "# violation counts. One extra full read pass of every committed\n" +
      "# byte, one extra driver-sequenced job per commit (k jobs for k\n" +
      "# partition tuples / OPTIMIZE chunks).\n\n" + fmt(rb))

    val obs = org.apache.spark.sql.Observation("plans_demo")
    val aggsAfter = (count(lit(1)) +: statCols).zipWithIndex
      .map { case (a, i) => a.as(s"_$i") }
    val od = df.observe(obs, aggsAfter.head, aggsAfter.tail: _*)
    w("commit_stats_after.txt",
      "# AFTER (round 17): the same aggregates ride the payload WRITE job\n" +
      "# as a CollectMetrics node directly under the file write (result\n" +
      "# stage: accumulator updates deduplicate per partition, exact under\n" +
      "# task retries). The read-back job and its footer read are gone —\n" +
      "# commit write I/O halves at table scale. Multi-directory writes\n" +
      "# (partitioned appends, OPTIMIZE/ZORDER chunks) run ONE grouped\n" +
      "# stats job keyed by parent directory instead of one per directory.\n" +
      "# (Plan below is the written frame; the write command wraps it.)\n\n" +
      fmt(od))

    val src = spark.range(0, 500).select(col("id").as("k"), (col("id") * 2).as("v"))
    val spanBefore = src.agg(min(col("k").cast("long")), max(col("k").cast("long")))
    val dupBefore = src.groupBy(col("k")).count()
      .filter(col("count") > 1).limit(1)
    w("merge_span_before.txt",
      "# BEFORE: mergeClauses ran TWO full passes over the cached merge\n" +
      "# source — a global key-span aggregate (touched-directory pruning):\n\n" +
      fmt(spanBefore) +
      "\n\n# ...and a separate groupBy(keys) duplicate-key gate job:\n\n" +
      fmt(dupBefore))

    val grouped = src.groupBy(col("k")).agg(count(lit(1)).as("__graft_kn"))
    val fused = grouped.agg(min(col("k").cast("long")),
      max(col("k").cast("long")), max(col("__graft_kn")))
    w("merge_span_after.txt",
      "# AFTER: when any MATCHED / NOT MATCHED BY SOURCE clause exists\n" +
      "# (the duplicate gate is needed), the span folds over the grouped\n" +
      "# counts in ONE pass — min over distinct keys == min over rows, and\n" +
      "# the keyed shuffle is the one the duplicate gate already paid.\n" +
      "# Insert-only merges keep the global aggregate (no keyed shuffle).\n\n" +
      fmt(fused))

    // ---- DV mutation: per-directory policy counts ride the bitmap
    // write (VersionedTable.commitMutation, shared by every DML command)
    val matched = spark.read.parquet(dir)
      .withColumn("__graft_file", input_file_name())
      .withColumn("__graft_pos", monotonically_increasing_id())
      .filter(col("id") % 7 === 0)
    val dirOf = element_at(split(col("__graft_file"), "/"), -2)
    val countJob = matched.groupBy(dirOf.as("__graft_dv_dir")).count()
    w("dv_counts_before.txt",
      "# BEFORE (rounds <=16): every merge-on-read mutation (DELETE /\n" +
      "# UPDATE / MERGE via deletion vectors, in all four code paths) ran\n" +
      "# this SEPARATE groupBy(directory).count() job over the persisted\n" +
      "# matched rows FIRST — to decide the DV-vs-rewrite policy and to\n" +
      "# record the commit's per-directory hidden counts — and only then\n" +
      "# ran the bitmap-write job over the very same rows. Two full\n" +
      "# passes over the matches per mutation.\n\n" + fmt(countJob))
    val triples = matched.select(
      dirOf.as("__graft_dv_dir"),
      element_at(split(col("__graft_file"), "/"), -1).as("__graft_dv_file"),
      col("__graft_pos").as("__graft_dv_pos"))
      .repartition(col("__graft_dv_dir"), col("__graft_dv_file"))
      .sortWithinPartitions("__graft_dv_dir", "__graft_dv_file",
        "__graft_dv_pos")
    w("dv_counts_after.txt",
      "# AFTER (round 17): the sidecar is written OPTIMISTICALLY and the\n" +
      "# per-directory counts ride the bitmap-write job itself — one\n" +
      "# (dir, count) tuple per flushed bitmap into a collection\n" +
      "# accumulator (exact-once per successful task inside actions), so\n" +
      "# the separate count job is gone: ONE pass over the matches per\n" +
      "# mutation. The policy is checked from the returned counts; a\n" +
      "# refused or empty sidecar is deleted before any commit exists.\n" +
      "# (Plan below is the single remaining pass — the bitmap write's\n" +
      "# shuffle+sort; foreachPartition wraps it.)\n\n" + fmt(triples))

    // ---- the layout rewrite: chunk stats from the cache, not a re-read
    val chunkDemo = tmp + "/chunks"
    df.withColumn("__graft_chunk", (col("id") % 3).cast("long"))
      .write.partitionBy("__graft_chunk").parquet(chunkDemo)
    val readBack = spark.read.parquet(chunkDemo + "/__graft_chunk=0",
      chunkDemo + "/__graft_chunk=1")
      .groupBy(regexp_extract(input_file_name(), "/([^/]+)/[^/]+$", 1)
        .as("__graft_stats_dir"))
      .agg(count(lit(1)), statCols: _*)
    w("optimize_stats_before.txt",
      "# BEFORE (this round's first pass): OPTIMIZE/ZORDER/auto-compaction\n" +
      "# computed per-chunk skipping stats with ONE grouped job — but that\n" +
      "# job RE-READ every byte the rewrite had just written (scan of the\n" +
      "# renamed chunk directories, grouped by parent dir):\n\n" +
      fmt(readBack))
    val cacheSide = df.withColumn("__graft_chunk", (col("id") % 3).cast("long"))
      .groupBy(col("__graft_chunk"))
      .agg(count(lit(1)), statCols: _*)
    w("optimize_stats_after.txt",
      "# AFTER (round 17, second pass): the grouped stats job aggregates\n" +
      "# the CACHED cluster frame by chunk id — the frame the write itself\n" +
      "# serialized (persisted for the quantile pass already) — and keys\n" +
      "# the results back to directories through the chunk ids the staging\n" +
      "# layout recorded. Same aggregates, same rows (parquet round-trips\n" +
      "# every indexed type losslessly); the full re-read of the rewritten\n" +
      "# table per OPTIMIZE is gone.\n\n" + fmt(cacheSide))
    println(s"PLANS WRITTEN to $out")
    spark.stop()
  }
}
