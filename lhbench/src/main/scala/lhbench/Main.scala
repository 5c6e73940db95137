package lhbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark workload. Set-up is session start plus [[prepare]],
  * repeated with a fresh instance each time (the median is reported), then
  * one [[warmup]] of the last instance, which is measured and checked.
  */
trait Workload {
  /** Make this workload's inputs under `dir`. */
  def prepare(spark: SparkSession, t: Tracer, dir: String): Unit
  /** Warm the paths [[measure]] will run (JIT, codegen, file caches). */
  def warmup(spark: SparkSession, t: Tracer): Unit
  /** Closed loop, one caller, until `seconds` have passed. */
  def measure(spark: SparkSession, t: Tracer, seconds: Double): Unit
  /** Output checks, outside the timed region; failures go to `t.check`. */
  def check(spark: SparkSession, t: Tracer): Unit
  /** End-to-end metrics other than set-up time and memory. */
  def e2e: Map[String, Double]
  /** Per-layer metrics from the traced run. */
  def layers(t: Tracer, spark: SparkSession): Map[String, Double]
  /** Raw latency samples (ms) for the trace artifact. */
  def samples: Map[String, Seq[Double]]
  /** Probes that run in the traced run only, after the checks; they may
    * replace the session and return the one to stop at the end.
    */
  def probes(spark: SparkSession, t: Tracer, session: Int => SparkSession): SparkSession = spark
  /** Oracle checks the run leaves for run.py, as a JSON array of
    * `{"tables": <input dir>, "outputs": <output dir>}`.
    */
  def pending: String = "[]"
}

/** `lhbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file>`: runs one workload in this JVM at
  * `local[nproc]` and writes its metrics and pending checks to `--out` as
  * JSON, and its spans, samples and stall dumps to `<work>/trace.json`
  * (with Spark work per span when `--trace 1`).
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors

    def session(c: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$c]")
        .appName("lhbench")
        .config("spark.sql.shuffle.partitions", c.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "localhost")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      GraftSession.tune(s)
    }
    def make(): Workload = workload match {
      case "tfl_poll_cycle" => new PollCycle(seed)
      case "batch_queries" => new BatchQueries(seed)
      case "dedup_stream" => new DedupWaves(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val watchdog = new Watchdog()
    watchdog.start()
    val tracer = new Tracer(traced, watchdog)
    var spark: SparkSession = null
    var w: Workload = null
    val setups = (1 to SetupRepeats).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) { graft.core.TransientCache.clear(); spark.stop() }
      spark = session(cores)
      tracer.attach(spark.sparkContext)
      w = make()
      w.prepare(spark, tracer, s"$work/rep$rep")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    if (!tracer.aborted) w.warmup(spark, tracer)
    val warmS = (System.nanoTime() - w0) / 1e9
    // after a fixed amount of work, so it does not move with how many
    // iterations the measured phase fits in
    val retainedMb = Heap.retainedMb
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    if (!tracer.aborted) w.measure(spark, tracer, seconds)
    val jitMs = jit.getTotalCompilationTime - jit0
    val e2e = w.e2e
    if (!tracer.aborted) w.check(spark, tracer)
    tracer.drain()
    if (traced && !tracer.aborted) spark = w.probes(spark, tracer, session)
    tracer.drain()
    val layerMetrics = if (traced && !tracer.aborted) w.layers(tracer, spark) else Map.empty[String, Double]
    spark.stop()
    watchdog.shutdown()

    val metrics: Map[String, Double] =
      if (tracer.aborted) Map.empty
      else if (traced)
        layerMetrics ++ Map("ops.stalls" -> watchdog.stalls.get.toDouble) ++
          e2e.get("latency_p50_s").map("trace.latency_p50_s" -> _)
      else
        e2e ++ Map("setup_s" -> (Stats.median(setups) + warmS), "heap_retained_mb" -> retainedMb)

    {
      val j = new StringBuilder("{")
      j ++= s""""workload":${Json.str(workload)},"seed":$seed,"setup_s":${Json.arr(setups)},"warmup_s":$warmS,"jit_ms_while_measuring":$jitMs,"jit_ms_before":$jit0,"rss_peak_mb":${Rss.peakMb},"heap_retained_mb":$retainedMb,"""
      j ++= s""""e2e":${Json.obj(e2e)},"stalls":${watchdog.stalls.get},"""
      j ++= s""""stall_dumps":${Json.strs(watchdog.dumps.asScala.toSeq)},"""
      j ++= s""""errors":${Json.strs(tracer.errors.toSeq)},"""
      j ++= s""""tails":{${w.samples.map { case (k, v) =>
        s"${Json.str(k)}:${Stats.tail(v).map { case (x, pct) => s"""{"value_ms":$x,"percentile":$pct,"n":${v.size}}""" }.getOrElse("null")}"
      }.mkString(",")}},"""
      j ++= s""""samples_ms":{${w.samples.map { case (k, v) => s"${Json.str(k)}:${Json.arr(v)}" }.mkString(",")}},"""
      j ++= s""""spans":[${tracer.spans.map { s =>
        val m = if (traced) tracer.measures(Seq(s)) else Map("wall_ms" -> s.wallMs)
        s"""{"name":${Json.str(s.name)},"tag":${Json.str(s.tag)},"start_ms":${s.startMs},""" +
          s""""failed":${s.failed},"measures":${Json.obj(m)}}"""
      }.mkString(",")}]}"""
      Files.write(Paths.get(s"$work/trace.json"), j.toString.getBytes(UTF_8))
    }
    val out =
      s"""{"correct":${tracer.failed == 0 && !tracer.aborted},"attempted":${tracer.attempted},""" +
        s""""failed":${tracer.failed},"aborted":${tracer.aborted},""" +
        s""""metrics":${Json.obj(metrics)},""" +
        s""""pending":${w.pending}}"""
    Files.write(Paths.get(a("out")), out.getBytes(UTF_8))
  }
}

object Rss {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Heap {
  /** Heap still in use after full collections: what set-up and warm-up
    * leave retained (cached blocks, driver-side state, leaks), in MB.
    */
  def retainedMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(200)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
