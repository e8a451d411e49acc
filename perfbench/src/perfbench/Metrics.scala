package perfbench

/** The metric names the benchmark reports: `BENCHMARK.json` lists the
  * same names, and `run.py` refuses a run whose output differs from it.
  */
object Metrics {
  final case class M(name: String, unit: String, better: String = "lower")

  /** Gated end-to-end metrics. The wall-clock latencies and rows_per_s
    * are reported beside them but not gated: on a shared virtual machine
    * they follow the CPU the hypervisor steals (README.md, "Steadiness").
    */
  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s"), M("op_cpu_ms", "ms"),
    M("write_amp", "x"), M("space_amp", "x"), M("peak_rss_mb", "MB"))

  /** Per-span quantities kept for each span (at most 128 metrics in
    * all): those an optimisation of that layer is most likely to move.
    */
  val Spans: Seq[(String, Seq[String])] = {
    val pipeline = Seq("ms_p50", "jobs", "stages", "tasks", "exec_ms", "driver_ms", "bytes_written", "gc_ms")
    val vtWrite = Seq("ms_p50", "jobs", "driver_ms", "exec_ms", "fs_write_ops", "bytes_written")
    val vtRead = Seq("ms_p50", "jobs", "driver_ms", "fs_read_ops")
    Seq("BronzeSilver", "JoinedSilver", "MonthlyAgg").map(p => s"pipelines.${p}Pipeline.run" -> pipeline) ++
      (("VersionedTable.append" -> vtWrite) +:
        Seq("merge", "mergeClauses", "delete", "update").flatMap(f =>
          Seq("cow", "dv").map(m => s"VersionedTable.$f.$m" -> vtWrite))) ++
      Seq("read", "read_at", "changes", "history").map(f => s"VersionedTable.$f" -> vtRead) ++
      Seq("IncrementalDedup.appendBatch" ->
            Seq("ms_p50", "jobs", "stages", "exec_ms", "shuffle_bytes", "driver_ms", "gc_ms"),
          "TableManager.overwrite" -> Seq("ms_p50", "jobs", "bytes_written"),
          "IncrementalDedup.keepDecision" -> Seq("ms_p50", "jobs"))
  }

  /** Modules inside the medallion pipeline spans. */
  val Modules: Seq[String] = Seq("pipelines", "sources.ColumnarJson", "sources.TableManager",
    "operators.Quality", "operators.Dedup", "operators.Joins", "operators.TimeAgg")

  val Ratios: Seq[M] = Seq(
    M("VersionedTable.dv.commit_ratio", "ratio", "higher"),
    M("VersionedTable.read.rows_examined_per_returned", "ratio"),
    M("VersionedTable.maintenance.commits", "count"),
    M("VersionedTable.maintenance.bytes_rewritten", "bytes"),
    M("VersionedTable.checkpoints", "count"),
    M("IncrementalDedup.append.growth", "ratio"),
    M("spark.error_logs", "count"),
    M("trace_overhead", "ratio"))

  def unitOf(quantity: String): String = quantity match {
    case q if q.endsWith("ms") || q == "ms_p50" => "ms"
    case q if q.endsWith("bytes") || q == "bytes_written" => "bytes"
    case _ => "count"
  }

  val PerLayer: Seq[M] =
    Spans.flatMap { case (s, qs) => qs.map(q => M(s"$s.$q", unitOf(q))) } ++
      Modules.map(m => M(s"jobs.$m", "count")) ++
      Modules.map(m => M(s"driver_self_ms.$m", "ms")) ++
      Ratios
}
