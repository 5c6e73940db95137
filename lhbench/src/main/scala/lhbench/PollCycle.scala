package lhbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ingest.{Config, Http}
import graft.jobs.Jobs
import graft.lineage.BufferSink

/** One arrival prediction as the feed serves it. `None` fields are JSON
  * nulls; `badTs` stands for a malformed `timestamp` string.
  */
final case class Prediction(stop: Option[String], line: Option[String],
    platform: String, destination: String, ttl: Long, badTs: Boolean)

/** Seeded stand-in for the TfL `/StopPoint/{id}/Arrivals` API, served
  * through the engine's own [[Http.Transport]] contract. Every prediction of
  * one poll carries the poll instant as its `timestamp` (the time the feed
  * produced the prediction) and `asOf + timeToStation` as `expectedArrival`.
  * Each poll injects dirty rows at seeded, known counts: malformed
  * timestamps, null stop ids, null line ids and out-of-range
  * `timeToStation` values, one defect per row.
  */
final class ArrivalsFeed(seed: Long, stops: Seq[String]) {
  private val lines = Seq("central", "victoria", "jubilee", "northern")
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
  /** Every prediction served so far, with its poll instant (epoch s). */
  val served = mutable.ArrayBuffer.empty[(Long, Prediction)]
  var generatorNs = 0L

  def poll(asOf: Instant): Seq[Prediction] = {
    val rng = new SplittableRandom(seed * 1000003L ^ asOf.getEpochSecond)
    val clean = stops.flatMap { s =>
      Seq.fill(15 + rng.nextInt(21)) {
        val l = lines(rng.nextInt(lines.size))
        Prediction(Some(s), Some(l), s"Platform ${1 + rng.nextInt(4)}",
          s"${l.capitalize} Terminus ${1 + rng.nextInt(2)}", rng.nextInt(1800).toLong, badTs = false)
      }
    }.toArray
    val n = clean.length
    val picks = Iterator.continually(rng.nextInt(n)).distinct
    def dirty(k: Int)(f: Prediction => Prediction): Unit =
      picks.take(k).foreach(i => clean(i) = f(clean(i)))
    dirty(1 + rng.nextInt(3))(_.copy(badTs = true))
    dirty(rng.nextInt(3))(_.copy(stop = None))
    dirty(rng.nextInt(2))(_.copy(line = None))
    dirty(rng.nextInt(3))(p => p.copy(ttl = if (rng.nextBoolean()) -1L - rng.nextInt(60) else 3601L + rng.nextInt(600)))
    clean.toSeq
  }

  /** The transport for one poll: bodies are generated on the first request
    * and the generator's own time is accumulated in [[generatorNs]].
    */
  def transport(asOf: Instant): Http.Transport = {
    lazy val byStop: Map[String, String] = {
      val t0 = System.nanoTime()
      val rows = poll(asOf)
      rows.foreach(p => served += ((asOf.getEpochSecond, p)))
      val ts = iso.format(asOf)
      val bodies = rows.zipWithIndex.groupBy { case (_, i) => stops(i % stops.size) }
        .map { case (s, rs) => s -> rs.map { case (p, _) => json(p, asOf, ts) }.mkString("[", ",", "]") }
      generatorNs += System.nanoTime() - t0
      bodies
    }
    url => {
      val t0 = System.nanoTime()
      val stop = url.split("/").takeRight(2).head
      val body = byStop.getOrElse(stop, "[]")
      generatorNs += System.nanoTime() - t0
      Http.Response(200, body)
    }
  }

  private def json(p: Prediction, asOf: Instant, ts: String): String = {
    def q(v: Option[String]) = v.map(s => "\"" + s + "\"").getOrElse("null")
    val arrival = iso.format(asOf.plusSeconds(p.ttl))
    s"""{"naptanId":${q(p.stop)},"lineId":${q(p.line)},"lineName":${q(p.line.map(_.capitalize))},""" +
      s""""platformName":"${p.platform}","destinationName":"${p.destination}",""" +
      s""""timeToStation":${p.ttl},"timestamp":"${if (p.badTs) "not-a-timestamp" else ts}",""" +
      s""""expectedArrival":"$arrival","vehicleId":"v${p.ttl % 97}"}"""
  }
}

/** Expected expectation failures over a set of served predictions,
  * computed without Spark: the staging rules (null key, malformed
  * timestamp) and the mart's gap rule (each key's arrivals after its first
  * form gap rows, grouped by hour).
  */
object ExpectedChecks {
  def apply(served: Seq[(Long, Prediction)]): Map[String, Long] = {
    val preds = served.map(_._2)
    val valid = served.collect { case (t, p) if !p.badTs => (p.line, p.stop, t) }
    val gapKeys = valid.groupBy(v => (v._1, v._2)).toSeq.flatMap { case (k, vs) =>
      vs.map(_._3).sorted.drop(1).map(t => (k, t / 3600))
    }.distinct
    val n = preds.size
    Map(
      "stg.not_null_line_id" -> preds.count(_.line.isEmpty).toLong,
      "stg.not_null_stop_id" -> preds.count(_.stop.isEmpty).toLong,
      "stg.not_null_event_ts" -> preds.count(_.badTs).toLong,
      "fct.not_null_line_id" -> gapKeys.count(_._1._1.isEmpty).toLong,
      "fct.not_null_stop_id" -> gapKeys.count(_._1._2.isEmpty).toLong,
      "fct.not_null_hour" -> 0L, "fct.not_null_avg_headway_s" -> 0L,
      "fct.not_null_p50_headway_s" -> 0L, "fct.not_null_p90_headway_s" -> 0L) ++
      // the two warning checks run on a 10k-row sample: exact only while
      // the staging table fits in the sample
      (if (n <= 10000) Map(
        "gx.between_time_to_station_s_0.0_3600.0" ->
          preds.count(p => p.ttl < 0 || p.ttl > 3600).toLong,
        "gx.not_null_line_id" -> preds.count(_.line.isEmpty).toLong)
      else Map.empty)
  }
}

/** `tfl_poll_cycle`: the paper's own traffic, closed loop with one caller.
  * Each cycle lands one poll through `Jobs.ingest`, then runs the full
  * `Jobs.transform` and `Jobs.transformIncremental` for the poll's date.
  * Polls are two simulated minutes apart; set-up lands a history and the
  * warm-up cycles up to 23:56, so the second measured cycle crosses into a
  * new date and the incremental job reads its last-arrival state table.
  */
final class PollCycle(seed: Long) extends Workload {
  import PollCycle._
  private val day = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val firstRunPoll: Instant = Instant.parse("2026-03-14T23:58:00Z")
  private var dir = ""
  private var feed: ArrivalsFeed = _
  private val lineage = new BufferSink
  private var tracked = 0
  private var nextPoll = firstRunPoll
  private var lastResults: Seq[graft.quality.Expectations.Result] = Seq.empty
  private val ingestRows = mutable.ArrayBuffer.empty[Long]
  private var measuredFrom = 0
  private var generatorBefore = 0L
  val full = mutable.ArrayBuffer.empty[Double]
  val incr = mutable.ArrayBuffer.empty[Double]
  val cycles = mutable.ArrayBuffer.empty[Double]

  private def raw = s"$dir/raw"
  private def silver = s"$dir/silver"

  private def cycle(spark: SparkSession, t: Tracer, asOf: Instant, tag: String): Option[(Double, Double, Double)] = {
    val g0 = feed.generatorNs
    val c0 = System.nanoTime()
    val date = day.format(asOf)
    for {
      n <- t.call("jobs.ingest", tag)(Jobs.ingest(spark, raw, asOf, feed.transport(asOf)))
      ingestMs = t.spans.last.wallMs - (feed.generatorNs - g0) / 1e6
      _ = ingestRows += n
      r <- t.call("jobs.transform", tag) {
        tracked += 1; Jobs.transform(spark, raw, silver, lineage)
      }
      fullMs = t.spans.last.wallMs
      _ = lastResults = r
      _ <- t.call("jobs.transform_incremental", tag) {
        tracked += 1; Jobs.transformIncremental(spark, raw, silver, date, lineage = lineage)
      }
      incrMs = t.spans.last.wallMs
    } yield {
      val cycleMs = (System.nanoTime() - c0) / 1e6 - (feed.generatorNs - g0) / 1e6
      (ingestMs + fullMs, ingestMs + incrMs, cycleMs)
    }
  }

  private def history = (HistoryPolls to 1 by -1).map(i => firstRunPoll.minusSeconds(120L * (i + WarmCycles)))
  private def warmPolls = (WarmCycles to 1 by -1).map(i => firstRunPoll.minusSeconds(120L * i))

  def prepare(spark: SparkSession, t: Tracer, root: String): Unit = {
    dir = root
    feed = new ArrivalsFeed(seed, Config.stopIds())
    history.foreach(a => t.call("jobs.ingest", "history")(Jobs.ingest(spark, raw, a, feed.transport(a)))
      .foreach(ingestRows += _))
  }

  /** Full cycles on the polls just before the measured ones: the first
    * cycles of a JVM run up to 1.3x slower while the JIT compiles.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit =
    warmPolls.foreach(a => cycle(spark, t, a, "warmup"))

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Unit = {
    measuredFrom = ingestRows.size
    generatorBefore = feed.generatorNs
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && !t.aborted) {
      cycle(spark, t, nextPoll, s"cycle$i").foreach { case (f, n, c) => full += f; incr += n; cycles += c }
      nextPoll = nextPoll.plusSeconds(120)
      i += 1
    }
  }

  def check(spark: SparkSession, t: Tracer): Unit = {
    val served = feed.served.toSeq
    t.check("ingest.rows", ingestRows.sum == served.size,
      s"ingested ${ingestRows.sum} vs generated ${served.size}")
    val expected = ExpectedChecks(served)
    val names = Seq("stg", "stg", "stg", "fct", "fct", "fct", "fct", "fct", "fct", "gx", "gx")
    val actual = lastResults.zip(names).map { case (r, p) => s"$p.${r.name}" -> r.failures }.toMap
    expected.foreach { case (k, v) =>
      t.check(s"quality.$k", actual.get(k).contains(v), s"engine ${actual.get(k)} vs generator $v")
    }
    val events = lineage.events
    t.check("lineage.events", events.size == 2 * tracked &&
      events.groupBy(_.runId).values.forall(_.map(_.eventType).sorted == Seq("COMPLETE", "START")),
      s"${events.size} events for $tracked tracked calls")
    val byDate = spark.read.option("basePath", s"$silver/fct_headways_by_date")
      .parquet(s"$silver/fct_headways_by_date/date=*").drop("date")
    val flat = spark.read.parquet(s"$silver/fct_headways")
    val cols = flat.columns.map(col).toSeq
    val a = byDate.select(cols: _*)
    val same = a.count() == flat.count() && a.exceptAll(flat).isEmpty && flat.exceptAll(a).isEmpty
    t.check("mart.by_date_equals_full", same, "union of fct_headways_by_date differs from fct_headways")
    val dates = new java.io.File(s"$silver/state_last_arrival").list()
    t.check("mart.crossed_midnight", dates != null && dates.length >= 2, "run did not reach a second date")
  }

  def e2e: Map[String, Double] = {
    Map("latency_p50_s" -> Stats.median(full.toSeq) / 1e3,
      "cycle_p50_s" -> Stats.median(cycles.toSeq) / 1e3)
  }

  def samples: Map[String, Seq[Double]] =
    Map("poll_full_ms" -> full.toSeq, "poll_incr_ms" -> incr.toSeq, "cycle_ms" -> cycles.toSeq)

  def layers(t: Tracer, spark: SparkSession): Map[String, Double] = {
    val measured = t.spans.filter(_.tag.startsWith("cycle")).toSeq
    val transportMs = (feed.generatorNs - generatorBefore) / 1e6
    def span(name: String, lessMs: Double = 0.0): Map[String, Double] =
      t.measures(measured.filter(_.name == name), lessMs).map { case (k, v) => s"$name.$k" -> v }
    val transformSpans = measured.filter(_.name == "jobs.transform")
    val phases = mutable.Map("stg_ms" -> 0.0, "mart_ms" -> 0.0, "quality_ms" -> 0.0)
    transformSpans.foreach { s =>
      t.executionsIn(s).filter(_.end > 0).foreach { x =>
        val frame = SpanListener.graftFrame(x.details)
        val phase =
          if (frame.startsWith("graft.quality.")) "quality_ms"
          else if (x.plan.contains("fct_headways")) "mart_ms"
          else "stg_ms"
        phases(phase) += (x.end - x.start).toDouble
      }
    }
    val rawFiles = Option(new java.io.File(raw).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).count(_.getName.startsWith("arrivals_"))
    span("jobs.ingest", transportMs) ++ span("jobs.transform") ++ span("jobs.transform_incremental") ++
      phases.map { case (k, v) => s"jobs.transform.$k" -> v } ++
      Map("ingest.transport_ms" -> transportMs,
        "ingest.rows" -> ingestRows.drop(measuredFrom).sum.toDouble,
        "raw.files" -> rawFiles.toDouble,
        "quality.failures" -> lastResults.map(_.failures).sum.toDouble,
        "lineage.events" -> lineage.events.size.toDouble)
  }
}

object PollCycle {
  val HistoryPolls = 6
  val WarmCycles = 6
}
