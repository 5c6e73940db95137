package lhbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One call into a layer: its name (`jobs.transform`, `query.q104...`), the
  * cycle / pass / wave it belongs to, and its wall interval.
  */
final class Span(val id: Long, val name: String, val tag: String) {
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  var wallMs: Double = Double.NaN
  var failed: Boolean = false
  def close(): Unit = wallMs = (System.nanoTime() - t0) / 1e6
  def endMs: Long = startMs + wallMs.toLong
}

/** Spark work attributed to one span by [[SpanListener]]. */
final class SparkWork {
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
}

/** A SQL execution (one action: planning, its jobs, output commit). */
final case class Execution(id: Long, start: Long, details: String, plan: String) {
  var end: Long = -1L
}

/** Attributes Spark jobs, stages and tasks to the active span. The caller
  * thread sets [[SpanListener.Key]] as a local property before each layer
  * call; Spark copies local properties to every job the call submits,
  * including jobs run by streaming and AQE threads started inside the call.
  */
final class SpanListener extends SparkListener {
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()
  val executions = new ConcurrentHashMap[Long, Execution]()

  def of(spanId: Long): SparkWork = work.computeIfAbsent(spanId, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanListener.Key)))
    p.foreach { s =>
      val id = s.toLong
      jobSpan.put(e.jobId, (id, e.time))
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, start) =>
      val w = of(id)
      w.synchronized { w.jobIntervals += ((start, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val w = of(id)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId,
        Execution(s.executionId, s.time, s.details, s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      Option(executions.get(s.executionId)).foreach(_.end = s.time)
    case _ =>
  }
}

object SpanListener {
  val Key = "lhbench.span"

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** The innermost `graft.` frame of a long-form call site. */
  def graftFrame(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
}

/** The benchmark's accounting of layer calls: every call is a span, counted
  * as attempted and, if it throws, as failed; a stopped SparkContext ends
  * the workload as aborted. With tracing on, the listener attributes Spark
  * work to spans and the spans are kept for the trace artifact.
  */
final class Tracer(val traced: Boolean, watchdog: Watchdog) {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  var attempted = 0L
  var failed = 0L
  var aborted = false
  val errors = mutable.ArrayBuffer.empty[String]
  private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = {
    sc = context
    if (traced) sc.addSparkListener(listener)
  }

  /** Run one layer call as a span. Returns None when it failed. */
  def call[A](name: String, tag: String)(f: => A): Option[A] = {
    if (aborted) return None
    val s = new Span(ids.incrementAndGet(), name, tag)
    attempted += 1
    if (traced) sc.setLocalProperty(SpanListener.Key, s.id.toString)
    watchdog.arm(name, tag)
    try Some(f)
    catch {
      case e: Throwable =>
        s.failed = true
        failed += 1
        errors += s"$name[$tag]: $e"
        System.err.println(s"[lhbench] $name[$tag] FAILED: $e")
        if (sc.isStopped) aborted = true
        None
    } finally {
      s.close()
      watchdog.disarm(name, s.wallMs)
      if (traced) sc.setLocalProperty(SpanListener.Key, null)
      spans += s
    }
  }

  /** Record a failed output check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      errors += s"check $what: $detail"
      System.err.println(s"[lhbench] check $what FAILED $detail")
    }
  }

  def drain(): Unit = if (traced && !sc.isStopped) org.apache.spark.LhbenchBus.drain(sc)

  /** The six span measures summed over `ss`; `lessMs` is time inside the
    * spans that belongs to the benchmark itself (the feed generator).
    */
  def measures(ss: Seq[Span], lessMs: Double = 0.0): Map[String, Double] = {
    val works = ss.map(s => s -> listener.of(s.id))
    val wall = ss.map(_.wallMs).sum - lessMs
    val jobsMs = works.map { case (_, w) => SpanListener.unionMs(w.jobIntervals.toSeq) }.sum
    Map(
      "wall_ms" -> wall,
      "driver_ms" -> math.max(0.0, wall - jobsMs),
      "jobs" -> works.map(_._2.jobIntervals.size).sum.toDouble,
      "tasks" -> works.map(_._2.tasks).sum.toDouble,
      "exec_cpu_ms" -> works.map(_._2.cpuNs).sum / 1e6,
      "shuffle_bytes" -> works.map(_._2.shuffleBytes).sum.toDouble)
  }

  /** SQL executions that started inside a span (one caller thread, so
    * containment in time is attribution).
    */
  def executionsIn(s: Span): Seq[Execution] =
    listener.executions.values().asScala.toSeq
      .filter(x => x.start >= s.startMs && x.start <= s.endMs + 1)
}

/** Stall capture: while a layer call runs longer than `factor` times the
  * median of earlier calls of the same name (at least `minSamples` of
  * them), dump every thread's stack once and count the call as a stall.
  * Tells commit or filesystem stalls (driver threads parked in I/O) apart
  * from engine regressions (executor threads busy in operators).
  */
final class Watchdog(factor: Double = 4.0, minSamples: Int = 3) extends Thread("lhbench-watchdog") {
  setDaemon(true)
  private val history = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  @volatile private var current: (String, String, Long, Double) = null
  @volatile private var dumped = false
  @volatile private var running = true
  val dumps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val stalls = new AtomicLong(0)

  def arm(name: String, tag: String): Unit = synchronized {
    val h = history.getOrElse(name, mutable.ArrayBuffer.empty[Double])
    val limit =
      if (h.size < minSamples) Double.PositiveInfinity
      else factor * Stats.median(h.toSeq)
    dumped = false
    current = (name, tag, System.nanoTime(), limit)
  }

  def disarm(name: String, wallMs: Double): Unit = synchronized {
    current = null
    history.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += wallMs
  }

  override def run(): Unit = while (running) {
    Thread.sleep(50)
    val c = current
    if (c != null && !dumped) {
      val (name, tag, t0, limit) = c
      val ms = (System.nanoTime() - t0) / 1e6
      if (ms > limit) {
        dumped = true
        stalls.incrementAndGet()
        val sb = new StringBuilder(s"$name[$tag] at ${ms.toLong} ms (limit ${limit.toLong} ms)\n")
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          sb ++= s"\"${t.getName}\" ${t.getState}\n"
          st.take(40).foreach(f => sb ++= s"    at $f\n")
        }
        dumps.add(sb.toString)
      }
    }
  }

  def shutdown(): Unit = { running = false; join(2000) }
}

object Stats {
  /** Median, the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least `beyond` samples above it,
    * with the percentile it stands for; None with too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    if (s.size <= beyond) None
    else {
      val i = s.size - 1 - beyond
      Some((s(i), 100.0 * (i + 1) / s.size))
    }
  }
}
