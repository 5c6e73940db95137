package graft

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{FctHeadways, IncrementalHeadways}
import graft.ingest.SyntheticArrivals
import graft.jobs.Jobs

/** Incremental mart maintenance must be EXACTLY the full recompute,
  * date by date — including the cross-midnight lag boundary, the case
  * that makes naive per-partition recompute wrong.
  */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sameFrames(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("forDate over 3 dates unions to the full recompute (boundary exact)") {
    // events straddling midnight: each key's first event of a date gaps
    // back to the previous date's last event
    val ev = Tables3DayFixture()
    val full = FctHeadways(ev)
    val dates = Seq("2026-03-01", "2026-03-02", "2026-03-03")
    val inc = dates.map(d => IncrementalHeadways.forDate(ev, ev, d))
      .reduce(_ unionByName _)
    sameFrames(full, inc)
    // and the midnight boundary actually exercises: date-2 must contain an
    // hour-0 row whose gap reaches back into date-1
    val d2h0 = IncrementalHeadways.forDate(ev, ev, "2026-03-02")
      .filter(col("hour") === lit("2026-03-02 00:00:00").cast("timestamp_ntz"))
    assert(d2h0.count() > 0, "midnight-straddling gap must land in date-2 hour 0")
  }

  private def Tables3DayFixture(): DataFrame = {
    val base = Instant.parse("2026-03-01T22:00:00Z")
    // two keys, one event every 40 min from 22:00 of day 1 through 22:40
    // of day 3 → plenty of cross-midnight pairs, nothing past day 3
    (0 until 74).flatMap { i =>
      val ts = java.sql.Timestamp.from(base.plusSeconds(i * 2400L))
      Seq(("central", "s1", ts), ("victoria", "s2", ts))
    }.toDF("line_id", "stop_id", "event_ts")
  }

  test("Jobs.transformIncremental: per-date partitions equal full transform") {
    val root = TestSpark.freshDir("graft-inc")
    val raw = s"$root/raw"
    // ingest two dates of synthetic polls (same generator as JobsSpec)
    val days = Seq("2025-11-20", "2025-11-21")
    days.foreach { d =>
      (0 until 3).foreach { i =>
        val at = Instant.parse(s"${d}T10:00:00Z").plusSeconds(i * 120L)
        Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
      }
    }
    days.foreach(d => Jobs.transformIncremental(spark, raw, s"$root/silver", d))
    Jobs.transform(spark, raw, s"$root/silver_full")
    val inc = spark.read
      .option("basePath", s"$root/silver/fct_headways_by_date")
      .parquet(s"$root/silver/fct_headways_by_date/date=*")
      .drop("date")
    val full = spark.read.parquet(s"$root/silver_full/fct_headways")
    sameFrames(full, inc)

    // the maintained last-arrival state: one partition per processed date,
    // one row per key, holding exactly max(event_ts) ≤ that date
    val state = spark.read.parquet(s"$root/silver/state_last_arrival/date=${days.last}")
    val expect = graft.etl.IncrementalHeadways.lastArrivalState(
      spark.read.option("basePath", s"$root/silver/stg_arrivals_by_date")
        .parquet(s"$root/silver/stg_arrivals_by_date/date=*")
        .select("line_id", "stop_id", "event_ts"))
    sameFrames(state, expect)
    assert(state.groupBy("line_id", "stop_id").count()
      .filter(col("count") > 1).count() == 0, "state is one row per key")

    // day-2 re-run consumes the day-1 STATE (not the staged history) and
    // stays byte-equal: delete the staged day-1 partition, rerun day 2 —
    // only the state can supply the boundary now
    val mart2 = spark.read.parquet(s"$root/silver/fct_headways_by_date/date=${days.last}")
      .collect().toSet
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/silver/stg_arrivals_by_date/date=${days.head}"))
    Jobs.transformIncremental(spark, raw, s"$root/silver", days.last)
    val mart2b = spark.read.parquet(s"$root/silver/fct_headways_by_date/date=${days.last}")
      .collect().toSet
    assert(mart2 == mart2b,
      "state-backed rerun must reproduce the staged-history result exactly")
  }

  test("transformIncremental on a date with no raw files writes empty partitions") {
    val root = TestSpark.freshDir("graft-inc-empty")
    val raw = s"$root/raw"
    (0 until 3).foreach { i =>
      val at = Instant.parse("2025-11-20T10:00:00Z").plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }
    Jobs.transformIncremental(spark, raw, s"$root/silver", "2025-11-20")
    Jobs.transformIncremental(spark, raw, s"$root/silver", "2025-11-21")
    def read(table: String, d: String) = spark.read.parquet(s"$root/silver/$table/date=$d")
    assert(read("stg_arrivals_by_date", "2025-11-21").isEmpty)
    assert(read("fct_headways_by_date", "2025-11-21").isEmpty)
    // the state carries the previous date's keys forward unchanged
    sameFrames(read("state_last_arrival", "2025-11-21"),
      read("state_last_arrival", "2025-11-20"))
  }

  test("state path consults staged partitions NEWER than the state (crash gap)") {
    val root = TestSpark.freshDir("graft-inc-gap")
    val raw = s"$root/raw"
    val days = Seq("2025-11-20", "2025-11-21", "2025-11-22")
    days.foreach { d =>
      (0 until 3).foreach { i =>
        val at = Instant.parse(s"${d}T10:00:00Z").plusSeconds(i * 120L)
        Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
      }
    }
    // day 1 transformed normally; day 2 STAGED but its transform "crashed"
    // before the state write (simulated: stage only); day 3 must still
    // gap back to day 2's arrivals, not day 1's, and the advanced state
    // must absorb day 2
    Jobs.transformIncremental(spark, raw, s"$root/silver", days.head)
    graft.etl.StgArrivals.fromRaw(
        spark.read.parquet(s"$raw/date=${days(1)}/arrivals_*.parquet"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/silver/stg_arrivals_by_date/date=${days(1)}")
    Jobs.transformIncremental(spark, raw, s"$root/silver", days.last)
    // reference: full pipeline in a clean dir with day 2 transformed too
    days.foreach(d => Jobs.transformIncremental(spark, raw, s"$root/clean", d))
    val got = spark.read.parquet(s"$root/silver/fct_headways_by_date/date=${days.last}")
    val expect = spark.read.parquet(s"$root/clean/fct_headways_by_date/date=${days.last}")
    sameFrames(got, expect)
    val state = spark.read.parquet(s"$root/silver/state_last_arrival/date=${days.last}")
    val cleanState = spark.read.parquet(s"$root/clean/state_last_arrival/date=${days.last}")
    sameFrames(state, cleanState)
  }
}
