package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: `run` is timed, `verify` checks its result
  * afterwards, outside the timer, and returns mismatches. `inputBytes`
  * is the size of the rows it hands in, as compact Parquet.
  */
final case class Op(kind: String, write: Boolean, rows: Long, run: () => Any,
                    verify: Any => Seq[String] = _ => Nil, inputBytes: Double = 0.0)

trait Workload {
  /** How many times `setup` runs; set-up time is the median. Each call
    * starts from nothing and the last one's state is kept.
    */
  def setupReps: Int
  def setup(rep: Int): Unit
  /** Untimed operations that warm the JVM and the caches, plus the
    * one-time input sizing behind `Op.inputBytes`.
    */
  def warmup(): Unit
  def op(i: Int): Op
  /** Operations per block of the mix, which holds each kind once. The
    * timed phase runs at least one; write_amp and space_amp are taken
    * after the first.
    */
  def blockSize: Int = 1
  /** Output checks after the timed phase: mismatches, empty when correct. */
  def check(): Seq[String]
  def tableDirs: Seq[String]
  /** Rewrites the current live data once as compact Parquet under `dst`. */
  def writeCompact(dst: String): Unit
  /** Workload-specific per-layer values (ratios and counts), given the
    * (kind, ms) of every operation that succeeded.
    */
  def layerExtras(opMs: Seq[(String, Double)]): Map[String, Double] = Map.empty
}

/** Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>
  *
  * A closed loop with one client: one thread issues the next
  * operation when the previous one returns, for `seconds` seconds.
  */
object Main {
  /** `vt_corpus_mixed` is `vt_mixed` and `corpus_incremental` run as one
    * mix (`Mixed`); the two also run alone.
    */
  val Workloads = Seq("medallion", "vt_corpus_mixed", "vt_mixed", "corpus_incremental")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, resultFile) = args
    require(Workloads.contains(workload), s"unknown workload $workload (have ${Workloads.mkString(", ")})")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = Host.loadavg()

    // Two task threads: with the driver thread, the JIT and the GC they
    // fit a four-core box, so a run measures the program rather than
    // its own threads queueing for cores.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/wh")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark.sparkContext)
    tr.start()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val wl: Workload = workload match {
      case "medallion" => new Medallion(spark, tr, work, seed)
      case "vt_mixed" => new VtMixed(spark, tr, work, seed)
      case "corpus_incremental" => new Corpus(spark, tr, work, seed)
      case _ => new Mixed(new VtMixed(spark, tr, work, seed), new Corpus(spark, tr, work, seed))
    }
    val setupRepS = (0 until wl.setupReps).map(r => Host.timeS(wl.setup(r)))
    val warmupS = Host.timeS(wl.warmup())
    val setupS = sessionS + Stats.median(setupRepS) + warmupS

    // Timed phase: at least one block, then operations until the
    // deadline (the one running at the deadline completes). With
    // tracing, blocks alternate traced/untraced (at least one of each),
    // so every kind is traced and the overhead is measured inside one
    // run. Each operation also records the CPU time of the whole process
    // but the JIT compiler (Host.jitCpuNs) and the CPU the hypervisor
    // stole from the machine meanwhile.
    val samples = mutable.ArrayBuffer[(Op, Double, Boolean, Boolean)]() // op, ms, ok, traced
    val ends = mutable.ArrayBuffer[(Long, Fs)]()
    val opHost = mutable.ArrayBuffer[(Double, Double, Double)]() // process CPU ms, steal ms, others' cores
    val mismatches = mutable.ArrayBuffer[String]()
    val errors = mutable.ArrayBuffer[String]()
    val cpu0 = Host.cpu()
    val fs0 = Fs.now()
    val loadStart = Host.loadavg()
    val t0 = System.nanoTime()
    var deadline = t0 + (seconds * 1e9).toLong
    var pausedNs = 0L
    var amp = (0L, 0L, 0.0) // on-disk bytes, compact bytes, seconds to rewrite
    val compactDir = s"$work/compact"
    var i = 0
    val minOps = wl.blockSize * (if (trace) 2 else 1)
    while (System.nanoTime() < deadline || i < minOps) {
      val op = wl.op(i)
      val traced = trace && i / wl.blockSize % 2 == 0
      tr.enabled = traced
      tr.opId = i
      val h0 = Host.cpu()
      val j0 = Host.jitCpuNs()
      val c0 = Host.processCpuNs()
      val s = System.nanoTime()
      val res = try Right(tr.span(s"op.${op.kind}")(op.run())) catch { case e: Throwable => Left(e) }
      val end = System.nanoTime()
      val c1 = Host.processCpuNs() - (Host.jitCpuNs() - j0)
      ends += ((end, Fs.now()))
      val h1 = Host.cpu()
      opHost += (((c1 - c0) / 1e6, (h1._3 - h0._3) * 1000 / Host.ClockTicks,
        (h1._1 - h0._1 - (h1._2 - h0._2)) / Host.ClockTicks / ((end - s) / 1e9)))
      tr.enabled = false
      res match {
        case Right(v) =>
          samples += ((op, (end - s) / 1e6, true, traced))
          mismatches ++= op.verify(v).map(m => s"op $i (${op.kind}): $m")
        case Left(e) =>
          samples += ((op, (end - s) / 1e6, false, traced))
          errors += s"op $i (${op.kind}) failed: $e"
          e.printStackTrace()
      }
      i += 1
      // The amplification figures are taken where every run gets to,
      // after the first block: how many operations fit in the deadline
      // varies, and bytes written and on disk grow with them. The clock
      // pauses meanwhile.
      if (i == wl.blockSize) {
        val p = System.nanoTime()
        val onDisk = wl.tableDirs.map(Host.dirBytes).sum
        val rewriteS = Host.timeS(wl.writeCompact(compactDir))
        amp = (onDisk, Host.dirBytes(compactDir), rewriteS)
        pausedNs = System.nanoTime() - p
        deadline += pausedNs
      }
    }
    val timedS = (ends.last._1 - t0 - pausedNs) / 1e9
    val fsFirst = ends(wl.blockSize - 1)._2 - fs0
    val cpu1 = Host.cpu()
    val loadEnd = Host.loadavg()
    val othersCpuS = (cpu1._1 - cpu0._1 - (cpu1._2 - cpu0._2)) / Host.ClockTicks
    val othersCores = othersCpuS / ((System.nanoTime() - t0) / 1e9)
    val stealCores = (cpu1._3 - cpu0._3) / Host.ClockTicks / ((System.nanoTime() - t0) / 1e9)

    tr.enabled = trace
    val checkS = Host.timeS(mismatches ++= wl.check())
    tr.enabled = false
    tr.finish()

    val failed = samples.count(!_._3)
    // Latency and throughput use every operation of the timed phase,
    // each kind weighing the same (Stats.balancedMedian).
    def ms(p: ((Op, Double, Boolean, Boolean)) => Boolean): Seq[(String, Double)] =
      samples.filter(p).map(s => s._1.kind -> (if (s._3) s._2 else Double.PositiveInfinity)).toSeq
    val timedOps = (s: (Op, Double, Boolean, Boolean)) => trace || !s._4
    val latencies = ms(timedOps)
    val throughput = Stats.mixRowsPerS(samples.filter(s => s._3 && timedOps(s))
      .map(s => (s._1.kind, s._1.rows, s._2)).toSeq)
    // CPU per operation: the process's CPU time does not count what the
    // hypervisor of a shared machine steals, which wall time does
    // (README.md, "Steadiness").
    val opCpu = samples.zip(opHost).filter { case (s, _) => s._3 && timedOps(s) }
      .map { case (s, h) => s._1.kind -> h._1 }.toSeq
    val inputBytes = samples.take(wl.blockSize).filter(_._3).map(_._1.inputBytes).sum
    val writeAmp = Stats.writeAmp(fsFirst.bytesWritten, inputBytes)
    val ncpu = Runtime.getRuntime.availableProcessors()
    val contended = othersCores > Host.OthersCoresLimit || loadStart > Host.LoadPerCpuLimit * ncpu

    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.balancedMedian(latencies),
      "op_cpu_ms" -> Stats.meanOfKindMedians(opCpu),
      "rows_per_s" -> throughput,
      "write_amp" -> writeAmp,
      "space_amp" -> amp._1.toDouble / amp._2,
      "peak_rss_mb" -> Host.peakRssMb())

    // Report: every end-to-end figure with its unit and sample count,
    // including the ones that exist only for some workloads.
    val report = mutable.LinkedHashMap[String, Any]()
    def timing(name: String, xs: Seq[(String, Double)]): Unit = if (xs.nonEmpty) {
      report(s"${name}_p50_ms") = Map("value" -> Stats.balancedMedian(xs), "unit" -> "ms", "n" -> xs.size)
      report(s"${name}_tail_ms") = Stats.tail(xs.map(_._2)) match {
        case Some((p, v)) => Map("value" -> v, "unit" -> "ms", "percentile" -> p, "n" -> xs.size)
        case None => Map("value" -> null, "unit" -> "ms", "n" -> xs.size,
          "note" -> "fewer than 11 samples: no percentile has 10 beyond it")
      }
    }
    timing("op", latencies)
    report("op_cpu_ms") = Map("value" -> e2e("op_cpu_ms"), "unit" -> "ms", "n" -> opCpu.size,
      "kinds" -> opCpu.map(_._1).distinct.size)
    if (wl.blockSize > 1) {
      timing("write", ms(s => s._1.write && timedOps(s)))
      timing("read", ms(s => !s._1.write && timedOps(s)))
    }
    report("rows_per_s") = Map("value" -> e2e("rows_per_s"), "unit" -> "rows/s",
      "n" -> samples.count(s => s._3 && timedOps(s)))
    report("write_amp") = Map("value" -> writeAmp, "unit" -> "x", "bytes_written" -> fsFirst.bytesWritten,
      "input_bytes" -> inputBytes.toLong, "ops" -> wl.blockSize)
    report("space_amp") = Map("value" -> e2e("space_amp"), "unit" -> "x", "on_disk_bytes" -> amp._1,
      "compact_bytes" -> amp._2, "ops" -> wl.blockSize)
    report("setup_s") = Map("value" -> setupS, "unit" -> "s", "session_s" -> sessionS,
      "setup_reps_s" -> setupRepS, "warmup_s" -> warmupS)
    report("peak_rss_mb") = Map("value" -> e2e("peak_rss_mb"), "unit" -> "MB")
    report("fail_ratio") = Map("value" -> failed.toDouble / samples.size, "unit" -> "ratio", "n" -> samples.size)
    report("spark_error_logs") = Map("value" -> tr.errorLogs.get, "unit" -> "count",
      "samples" -> tr.errorSamples.asScala.toSeq)
    report("phases_s") = Map("timed" -> timedS, "check" -> checkS, "compact" -> amp._3)
    report("ops") = Map("value" -> samples.size, "unit" -> "count", "block" -> wl.blockSize)
    if (trace) {
      report("jobs_by_module") = tr.jobsByModule.asScala.map { case (k, v) => k -> v.get }.toMap
      report("driver_self_ms_by_module") = tr.driverSelfByModule.asScala.map { case (k, v) => k -> v.get }.toMap
    }
    report("ops_by_kind") = samples.groupBy(_._1.kind).map { case (k, v) => k -> v.size }

    val contention = Map("contended" -> contended, "loadavg_before" -> loadBefore,
      "loadavg_timed_start" -> loadStart, "loadavg_timed_end" -> loadEnd,
      "others_cpu_s" -> othersCpuS, "others_cores" -> othersCores, "steal_cores" -> stealCores, "ncpu" -> ncpu,
      "thresholds" -> Map("others_cores" -> Host.OthersCoresLimit, "loadavg_per_cpu" -> Host.LoadPerCpuLimit))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Metrics.EndToEnd.map(m => (m.name, e2e(m.name), m.unit))
      else {
        val layer = perLayer(tr, samples.toSeq, wl)
        Metrics.PerLayer.map(m => (m.name, layer.getOrElse(m.name, 0.0), m.unit))
      }
    val correct = mismatches.isEmpty && errors.isEmpty

    if (trace) Host.writeSpans(tr, resultFile.stripSuffix(".json") + ".spans.jsonl")
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (trace) 1 else 0),
      "correct" -> correct, "attempted" -> samples.size, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "report" -> report, "contention" -> contention,
      "samples" -> samples.zip(opHost).map { case (s, h) => Map("kind" -> s._1.kind, "ms" -> s._2,
        "ok" -> s._3, "traced" -> s._4, "cpu_ms" -> h._1, "steal_ms" -> h._2, "others_cores" -> h._3) },

      "mismatches" -> mismatches.take(20).toSeq, "errors" -> errors.take(20).toSeq)
    Files.write(Paths.get(resultFile), Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }

  private def perLayer(tr: Tracer, samples: Seq[(Op, Double, Boolean, Boolean)],
                       wl: Workload): Map[String, Double] = {
    val self = tr.selfMs
    val byName = tr.spans.groupBy(_.name)
    def q(s: Span, quantity: String): Double = quantity match {
      case "ms_p50" => s.durMs
      case "self_ms" => self(s.id)
      case "jobs" => s.jobs.toDouble
      case "stages" => s.stages.toDouble
      case "tasks" => s.tasks.toDouble
      case "exec_ms" => s.execMs.toDouble
      case "driver_ms" => s.driverMs
      case "sched_wait_ms" => s.schedWaitMs.toDouble
      case "shuffle_bytes" => s.shuffleBytes.toDouble
      case "input_rows" => s.inputRows.toDouble
      case "bytes_written" => s.fs.bytesWritten.toDouble
      case "fs_read_ops" => s.fs.readOps.toDouble
      case "fs_write_ops" => s.fs.writeOps.toDouble
      case "gc_ms" => s.gcMs.toDouble
    }
    // Per call: the median over the span's calls.
    val spanVals = Metrics.Spans.flatMap { case (name, qs) =>
      val ss = byName.getOrElse(name, Nil).toSeq
      qs.map(x => s"$name.$x" -> (if (ss.isEmpty) 0.0 else Stats.median(ss.map(q(_, x)))))
    }
    val tracedOps = samples.count(s => s._4 && s._3).max(1)
    val modules = Metrics.Modules.flatMap { m =>
      Seq(s"jobs.$m" -> Option(tr.jobsByModule.get(m)).map(_.get).getOrElse(0L).toDouble / tracedOps,
        s"driver_self_ms.$m" -> Option(tr.driverSelfByModule.get(m)).map(_.get).getOrElse(0L).toDouble / tracedOps)
    }
    // Tracing overhead: traced over untraced median latency, per kind
    // where a kind ran both ways, then the median over kinds.
    val ratios = samples.filter(_._3).groupBy(_._1.kind).values.flatMap { ks =>
      val (t, u) = ks.partition(_._4)
      if (t.isEmpty || u.isEmpty) None else Some(Stats.median(t.map(_._2).toSeq) / Stats.median(u.map(_._2).toSeq))
    }.toSeq
    val overhead = if (ratios.isEmpty) 0.0 else Stats.median(ratios)
    (spanVals ++ modules).toMap ++ wl.layerExtras(samples.filter(_._3).map(s => s._1.kind -> s._2)) ++ Map(
      "spark.error_logs" -> tr.errorLogs.get.toDouble,
      "trace_overhead" -> overhead)
  }
}

object Host {
  val ClockTicks = 100.0
  /** A run is contended when other processes used more than this many
    * cores on average during the timed phase ...
    */
  val OthersCoresLimit = 0.25
  /** ... or the 1-minute load average per CPU exceeded this when the
    * timed phase began.
    */
  val LoadPerCpuLimit = 1.5

  def timeS(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  def loadavg(): Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  /** (busy jiffies of the whole machine, jiffies used by this process,
    * jiffies stolen from the machine's CPUs by the hypervisor).
    */
  def cpu(): (Long, Long, Long) = {
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    val self = read("/proc/self/stat").split("\\) ", 2)(1).split(' ')
    (busy, self(11).toLong + self(12).toLong, if (f.length > 7) f(7) else 0L)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this process, ended ones included. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** CPU time of the JIT compiler's threads, in ns: how fast the JVM
    * compiles what has just run warm is not the program's cost.
    */
  def jitCpuNs(): Long = {
    val tasks = Option(new File("/proc/self/task").list()).map(_.toSeq).getOrElse(Nil)
    tasks.iterator.map { t =>
      try {
        val st = read(s"/proc/self/task/$t/stat")
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0L
        else {
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          ((f(11).toLong + f(12).toLong) * 1e9 / ClockTicks).toLong
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended
    }.sum
  }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(c => dirBytes(c.getPath)).sum
  }

  def deleteRecursively(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => deleteRecursively(c.getPath)))
    f.delete()
  }

  def writeSpans(tr: Tracer, path: String): Unit = {
    val self = tr.selfMs
    val lines = tr.spans.map { s =>
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "self_ms" -> self(s.id),
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks, "exec_ms" -> s.execMs,
        "driver_ms" -> s.driverMs, "sched_wait_ms" -> s.schedWaitMs, "shuffle_bytes" -> s.shuffleBytes,
        "input_rows" -> s.inputRows, "bytes_written" -> s.fs.bytesWritten,
        "fs_read_ops" -> s.fs.readOps, "fs_write_ops" -> s.fs.writeOps, "gc_ms" -> s.gcMs,
        "error_logs" -> s.errorLogs))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers, strings). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => if (d.isInfinite || d.isNaN) java.lang.Double.valueOf(Double.MaxValue) else java.lang.Double.valueOf(d)
    case x: Int => java.lang.Integer.valueOf(x)
    case x: Long => java.lang.Long.valueOf(x)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case o => o.toString
  }
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}
