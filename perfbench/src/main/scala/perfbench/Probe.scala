package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts whole-stage codegen compiles, their time and their failures from
  * Spark's own log events. The code generator logs every successful
  * compile ("Code generated in N ms", INFO) and every failed one (ERROR);
  * the session runs at WARN, so the appender gets a logger entry of its
  * own at INFO and forwards WARN and above to the root appenders as
  * before. */
object Codegen {
  private val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  val compiles = new AtomicLong
  val failures = new AtomicLong
  val compileMs = new DoubleAdder

  private object Appender extends AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    private val Generated = """Code generated in ([0-9.]+) ms.*""".r
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) failures.incrementAndGet()
      else e.getMessage.getFormattedMessage match {
        case Generated(ms) => compiles.incrementAndGet(); compileMs.add(ms.toDouble)
        case _ =>
      }
  }

  /** Install after the session exists: Spark configures log4j on start-up. */
  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    Appender.start()
    cfg.addAppender(Appender)
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(Appender, Level.INFO, null)
    cfg.getRootLogger.getAppenders.values.asScala.foreach(a => lc.addAppender(a, Level.WARN, null))
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def snapshot: (Long, Double, Long) = (compiles.get, compileMs.sum, failures.get)
}

/** Process-level counters read from the JVM's management beans. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Sum of each heap pool's peak since start (an upper bound on the peak
    * of the whole heap). */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
  /** Block until the JIT has compiled nothing for a second (at most 10 s):
    * background compilation left over from a warm-up would otherwise
    * compete with the timed work for cores. */
  def awaitJitQuiet(): Unit = {
    val (quietMs, maxMs) = (1000L, 10000L)
    val end = System.currentTimeMillis() + maxMs
    var last = jitMs
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - quietSince < quietMs && System.currentTimeMillis() < end) {
      Thread.sleep(100)
      val now = jitMs
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }
  /** CPU time of the whole process (all threads: tasks, JIT, GC), seconds. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  /** CPU time the hypervisor gave other guests while this one wanted it
    * (the `steal` column of /proc/stat, all CPUs), seconds; 0 where the
    * kernel does not report it. A run with much steal ran on a busy host. */
  def hostStealS: Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().take(1).toSeq.headOption.map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    }
  }
  /** Peak resident set size of this process (Linux `VmHWM`), or 0 where
    * the kernel does not report it. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }
}

/** One span of the traced run: a named interval, optionally nested. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, durMs: Double,
    attrs: Map[String, Any])

/** In-memory span store for the traced run; written out once at the end. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  def add(parent: Int, name: String, startMs: Long, durMs: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, parent, name, startMs, durMs, attrs)
    id
  }
  def timed[T](parent: Int, name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try f finally add(parent, name, t0, (System.nanoTime() - n0) / 1e6, attrs)
  }
  def all: Seq[Span] = synchronized(spans.toList)
}

/** Task-level totals from a SparkListener; `snapshot` returns the running
  * sums so callers attribute work to an interval by difference. */
final class TaskTotals extends SparkListener {
  private val c = mutable.LinkedHashMap[String, Double](
    "jobs" -> 0, "stages" -> 0, "tasks" -> 0, "shuffle_read_bytes" -> 0,
    "shuffle_write_bytes" -> 0, "spill_bytes" -> 0, "executor_run_ms" -> 0,
    "executor_cpu_ns" -> 0, "task_gc_ms" -> 0)
  private def add(k: String, v: Double): Unit = c(k) = c(k) + v
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    add("stages", 1)
    add("tasks", s.numTasks)
    Option(s.taskMetrics).foreach { m =>
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("executor_run_ms", m.executorRunTime)
      add("executor_cpu_ns", m.executorCpuTime)
      add("task_gc_ms", m.jvmGCTime)
    }
  }
  def snapshot: Map[String, Double] = synchronized(c.toMap)
}

/** Progress reports of every streaming query, keyed by query id, plus a
  * span per micro-batch with its `durationMs` phases as children. */
final class ProgressLog(tracer: Tracer, names: String => String) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val byQuery = mutable.HashMap[String, mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    synchronized(byQuery.getOrElseUpdate(p.id.toString, mutable.ArrayBuffer()) += p)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val id = tracer.add(0, s"${names(p.id.toString)}.batch", start,
      d.getOrElse("triggerExecution", 0L).toDouble,
      Map("batch" -> p.batchId, "rows" -> p.numInputRows))
    d.foreach { case (k, v) => if (k != "triggerExecution") tracer.add(id, k, start, v.toDouble) }
  }
  def progress(queryId: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(byQuery.get(queryId).map(_.toList).getOrElse(Nil))
}

object Probe {
  /** Attach both listeners for a traced run. */
  def attach(spark: SparkSession, tracer: Tracer, names: String => String): (TaskTotals, ProgressLog) = {
    val tasks = new TaskTotals
    val prog = new ProgressLog(tracer, names)
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(prog)
    (tasks, prog)
  }
}
