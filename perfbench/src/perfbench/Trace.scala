package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Layout, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Hadoop's always-on `FileSystem` byte statistics, summed over schemes,
  * and filesystem calls as [[CountingLocalFileSystem]] counts them.
  */
final case class Fs(bytesRead: Long, bytesWritten: Long, readOps: Long, writeOps: Long) {
  def -(o: Fs): Fs = Fs(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten,
    readOps - o.readOps, writeOps - o.writeOps)
}

object Fs {
  @annotation.nowarn("cat=deprecation")
  def now(): Fs = FileSystem.getAllStatistics.asScala.foldLeft(
      Fs(0, 0, CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get)) { (a, s) =>
    Fs(a.bytesRead + s.getBytesRead, a.bytesWritten + s.getBytesWritten,
      a.readOps + s.getReadOps + s.getLargeReadOps, a.writeOps + s.getWriteOps)
  }
}

object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** One call the benchmark made into the program. Counters are
  * inclusive: a job, task or log event adds to its span and to every
  * ancestor. Times are wall-clock ms so they line up with the
  * listener's job intervals.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startMs: Long, val startNs: Long, fs0: Fs, gc0: Long) {
  var endMs = 0L
  var endNs = 0L
  var fs = Fs(0, 0, 0, 0)
  var gcMs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execMs = 0L
  var schedWaitMs = 0L
  var shuffleBytes = 0L
  var inputRows = 0L
  var errorLogs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private[perfbench] def close(): Unit = {
    endMs = System.currentTimeMillis(); endNs = System.nanoTime()
    fs = Fs.now() - fs0
    gcMs = Jvm.gcMs() - gc0
  }
  def durMs: Double = (endNs - startNs) / 1e6
  /** Wall time outside every job: planning, filesystem work, commit protocol. */
  def driverMs: Double = synchronized {
    (endMs - startMs) - Stats.unionLength(jobIntervals.toSeq, startMs, endMs)
  }.toDouble
}

/** Spans around the benchmark's calls into the program, tied to Spark
  * jobs by a local property, plus the two always-on counters: ERROR log
  * events and (inside pipeline spans) driver stack samples. Everything
  * stays in memory until the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val SpanKey = "perfbench.span"

  @volatile var enabled = false
  @volatile var opId = 0
  private var nextId = 0
  private var stack: List[Span] = Nil
  @volatile private var open: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  val spans = mutable.ArrayBuffer[Span]()

  val errorLogs = new AtomicLong()
  val errorSamples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Jobs and RUNNABLE driver samples inside `pipelines.*` spans, by the
    * innermost `graft.*` class that made them.
    */
  val jobsByModule = new ConcurrentHashMap[String, AtomicLong]()
  val driverSelfByModule = new ConcurrentHashMap[String, AtomicLong]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(-1), opId,
        System.currentTimeMillis(), System.nanoTime(), Fs.now(), Jvm.gcMs())
      nextId += 1
      byId.put(s.id, s)
      spans += s
      stack = s :: stack
      open = stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.close()
        stack = stack.tail
        open = stack
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def chain(id: Int): List[Span] = {
    val s = byId.get(id)
    if (s == null) Nil else s :: chain(s.parent)
  }
  private def inPipeline(c: Seq[Span]) = c.exists(_.name.startsWith("pipelines."))

  private def bump(m: ConcurrentHashMap[String, AtomicLong], k: String, by: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(by)

  private val jobChain = new ConcurrentHashMap[Int, List[Span]]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageChain = new ConcurrentHashMap[Int, List[Span]]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  private val executionSite = new ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      sid.map(id => chain(id.toInt)).filter(_.nonEmpty).foreach { c =>
        jobChain.put(e.jobId, c)
        jobStart.put(e.jobId, e.time)
        e.stageInfos.foreach(si => stageChain.putIfAbsent(si.stageId, c))
        c.foreach(s => s.synchronized(s.jobs += 1))
        if (inPipeline(c)) {
          // A SQL job's own call site is often an adaptive-execution
          // thread; the query's call site is on the submitting thread.
          val site = e.stageInfos.sortBy(-_.stageId).map(_.details).find(_.nonEmpty).getOrElse("")
          val sqlSite = Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(executionSite.get(id.toLong)))
          bump(jobsByModule, Tracer.moduleOfCallSite(sqlSite.getOrElse(site)), 1)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobChain.get(e.jobId)).foreach { c =>
        val t0: Long = jobStart.get(e.jobId)
        c.foreach(s => s.synchronized(s.jobIntervals += ((t0, e.time))))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageChain.get(e.stageInfo.stageId)).foreach(_.foreach(s => s.synchronized(s.stages += 1)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageChain.get(e.stageId)).foreach { c =>
        val m = e.taskMetrics
        val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(e.taskInfo.launchTime)
        val wait = math.max(0L, e.taskInfo.launchTime - submit)
        c.foreach { s =>
          s.synchronized {
            s.tasks += 1
            s.schedWaitMs += wait
            if (m != null) {
              s.execMs += m.executorRunTime
              s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
              s.inputRows += m.inputMetrics.recordsRead
            }
          }
        }
      }
  }

  private val appender = new AbstractAppender("perfbench-error-count", null,
      null.asInstanceOf[Layout[_ <: java.io.Serializable]], true, Property.EMPTY_ARRAY) {
    override def append(event: LogEvent): Unit =
      if (event.getLevel.isMoreSpecificThan(Level.ERROR)) {
        errorLogs.incrementAndGet()
        if (errorSamples.size < 5)
          errorSamples.add(Option(event.getMessage).map(_.getFormattedMessage).getOrElse("").take(200))
        open.foreach(s => s.synchronized(s.errorLogs += 1))
      }
  }

  private val driverThread = Thread.currentThread()
  private val sampler = new Thread("perfbench-stack-sampler") {
    override def run(): Unit = {
      var last = System.nanoTime()
      while (!isInterrupted) {
        try Thread.sleep(10) catch { case _: InterruptedException => return }
        val now = System.nanoTime()
        val c = open
        if (enabled && inPipeline(c) && driverThread.getState == Thread.State.RUNNABLE)
          bump(driverSelfByModule, Tracer.moduleOfStack(driverThread.getStackTrace),
            (now - last) / 1000000L)
        last = now
      }
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.addAppender(appender)
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Stops sampling and waits until the listener has seen every event. */
  def finish(): Unit = {
    sampler.interrupt()
    sampler.join()
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
  }

  def selfMs: Map[Int, Double] =
    Stats.selfTimes(spans.toSeq.map(s => (s.id, s.parent, s.startNs, s.endNs)))
      .map { case (k, v) => k -> v / 1e6 }
}

object Tracer {
  /** `graft.pipelines.*` is one module; elsewhere the module is the
    * package-qualified class, e.g. `operators.Quality`.
    */
  def moduleOfClass(cls: String): String = {
    val c = cls.stripPrefix("graft.").takeWhile(_ != '$')
    if (c.startsWith("pipelines.")) "pipelines" else c
  }

  def moduleOfStack(frames: Array[StackTraceElement]): String =
    frames.find(_.getClassName.startsWith("graft."))
      .map(f => moduleOfClass(f.getClassName)).getOrElse("other")

  /** Innermost `graft.*` frame of a Spark long call site
    * ("graft.operators.Quality$.report(Quality.scala:63)" per line).
    */
  def moduleOfCallSite(site: String): String =
    site.split('\n').map(_.trim).find(_.startsWith("graft."))
      .map(l => moduleOfClass(l.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")))
      .getOrElse("other")
}
