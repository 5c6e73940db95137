package graft


import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schemas
import graft.etl.{FctHeadways, StgArrivals}

/** Golden-fixture tests for the reference's analytical core
  * (FIXTURES.md §4): hand-computable headways, dirty-data tolerance, and
  * the zero-files fallback.
  */
class HeadwaysSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rawRows = Seq(
    // central/stopA: arrivals at :00, +120s, +240s → headways 120, 120
    ("stopA", "central", "P1", "Dest", 100L, "2025-11-20T10:00:00Z"),
    ("stopA", "central", "P1", "Dest", 100L, "2025-11-20T10:02:00Z"),
    ("stopA", "central", "P1", "Dest", 100L, "2025-11-20T10:04:00Z"),
    // central/stopB: one arrival → no headway row
    ("stopB", "central", "P2", "Dest", 200L, "2025-11-20T10:00:30Z"),
    // victoria/stopA: 240s apart crossing the hour boundary → the gap is
    // bucketed to the hour of the LATER arrival
    ("stopA", "victoria", "P1", "Dest", 60L, "2025-11-20T10:58:00Z"),
    ("stopA", "victoria", "P1", "Dest", 60L, "2025-11-20T11:02:00Z"),
    // dirty data: malformed timestamp + null timestamp → dropped by the
    // mart's event_ts IS NOT NULL filter
    ("stopA", "central", "P1", "Dest", 100L, "not-a-timestamp"),
    ("stopB", "victoria", null, "Dest", 100L, null))

  private def raw = rawRows
    .toDF("stopId", "lineId", "platformName", "destinationName", "timeToStation", "timestamp")

  test("staging: typed casts, try_cast nulls malformed timestamps") {
    val stg = StgArrivals.fromRaw(raw)
    assert(stg.schema.fieldNames.toSeq == Schemas.stgArrivals.fieldNames.toSeq)
    assert(stg.count() == 8)
    assert(stg.filter(col("event_ts").isNull).count() == 2)
    val t = stg.filter(col("stop_id") === "stopA" && col("line_id") === "central")
      .select(min("time_to_station_s")).head().getInt(0)
    assert(t == 100)
  }

  test("headways: golden values (avg/p50/p90, hour bucketing, group grain)") {
    val fct = FctHeadways(StgArrivals.fromRaw(raw))
      .orderBy("line_id", "stop_id", "hour")
    val rows = fct.collect()
    // stopB/central has 1 arrival → excluded; victoria/stopB has only a
    // null-ts arrival → excluded; so: central/stopA@10h and victoria/stopA@11h
    assert(rows.length == 2)
    val Row(l1, s1, h1, avg1, p50a, p90a) = rows(0)
    assert((l1, s1) == ("central", "stopA"))
    // NTZ hour comes back as LocalDateTime ("T"-separated ISO)
    assert(h1.toString.replace('T', ' ').startsWith("2025-11-20 10:00"))
    assert(avg1 == 120.0 && p50a == 120.0 && p90a == 120.0)
    val Row(l2, s2, h2, avg2, _, _) = rows(1)
    assert((l2, s2) == ("victoria", "stopA"))
    assert(h2.toString.replace('T', ' ').startsWith("2025-11-20 11:00"), "gap buckets to later arrival's hour")
    assert(avg2 == 240.0)
  }

  test("discrete quantile picks actual elements (uneven gaps)") {
    // gaps 60s, 120s, 300s → p50 = 2nd element (ceil(0.5*3)=2) = 120;
    // p90 = ceil(2.7)=3rd = 300
    val uneven = Seq(
      ("s", "l", "2025-11-20T10:00:00Z"),
      ("s", "l", "2025-11-20T10:01:00Z"),
      ("s", "l", "2025-11-20T10:03:00Z"),
      ("s", "l", "2025-11-20T10:08:00Z"))
      .toDF("stopId", "lineId", "timestamp")
      .withColumn("platformName", lit("P")).withColumn("destinationName", lit("D"))
      .withColumn("timeToStation", lit(1L))
    val r = FctHeadways(StgArrivals.fromRaw(uneven)).head()
    assert(r.getAs[Double]("avg_headway_s") == 160.0)
    assert(r.getAs[Double]("p50_headway_s") == 120.0)
    assert(r.getAs[Double]("p90_headway_s") == 300.0)
  }

  test("zero-files fallback: empty typed relation, not an error (H6)") {
    val tmp = TestSpark.freshDir("graft-empty-raw")
    val stg = StgArrivals(spark, tmp)
    assert(stg.schema == Schemas.stgArrivals)
    assert(stg.count() == 0)
    val fct = FctHeadways(stg)
    assert(fct.count() == 0)
  }
}
