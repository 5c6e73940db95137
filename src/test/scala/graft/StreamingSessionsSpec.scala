package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Tables
import graft.streaming.Sessions

/** Streaming session operators: the native session_window aggregation and
  * watermark-bounded streaming dedup, each checked against its exact batch
  * equivalent over the same files.
  */
class StreamingSessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.freshDir

  test("streaming session_window agg equals the batch sessionAgg") {
    val root = freshDir("graft-sess")
    val ev = Tables.events(spark, TestSpark.sfDir).select("user_id", "ts")
    // two files so the source has multiple splits to discover
    ev.limit(400).write.parquet(s"$root/in/a")
    ev.exceptAll(ev.limit(400)).write.parquet(s"$root/in/b")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$root/in/*")
    val agg = Sessions.sessionAgg(stream)
    assert(agg.isStreaming)
    val q = agg.writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
    val streamed = spark.table("sess_stream")
    val batch = Sessions.sessionAgg(spark.read.parquet(s"$root/in/*"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("session_window boundary: an exactly-gap-length silence does NOT split") {
    import spark.implicits._
    val base = java.time.LocalDateTime.of(2026, 5, 1, 12, 0, 0)
    val df = Seq(
      (1L, base),
      (1L, base.plusMinutes(30)),                  // exactly the gap
      (1L, base.plusMinutes(60).plusNanos(1000)))  // 30min + 1µs since prev
      .toDF("user_id", "ts")
    val out = Sessions.sessionAgg(df, "30 minutes")
      .orderBy("session_start").collect()
    // pins the engine rule the q61 oracle must encode: merge at <= gap,
    // split strictly beyond — same strict-gap rule as the lag-based q45
    assert(out.length == 2, out.mkString("; "))
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(1).getAs[Long]("n_events") == 1L)
  }

  test("stream-stream interval join matches the batch range join") {
    val root = freshDir("graft-ssj")
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp").as("ts"))
      .filter(col("ts").isNotNull)
    ev.filter(col("event_type") === "purchase").write.parquet(s"$root/p")
    ev.filter(col("event_type") === "click").write.parquet(s"$root/c")
    val pStream = spark.readStream
      .schema(spark.read.parquet(s"$root/p").schema).parquet(s"$root/p")
    val cStream = spark.readStream
      .schema(spark.read.parquet(s"$root/c").schema).parquet(s"$root/c")
    val joined = Sessions.clickPurchaseJoin(pStream, cStream)
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
    val streamed = spark.table("ssj")
    val batch = Sessions.clickPurchaseJoin(
      spark.read.parquet(s"$root/p"), spark.read.parquet(s"$root/c"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-static enrichment join matches the batch join") {
    import org.apache.spark.sql.functions.broadcast
    val root = freshDir("graft-ssj2")
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "user_id", "event_type", "ts")
    ev.write.parquet(s"$root/in")
    // static dimension: a per-event-type label table (broadcast side)
    import spark.implicits._
    val dim = Seq(("click", "engagement"), ("purchase", "revenue"),
      ("view", "engagement")).toDF("event_type", "category")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$root/in")
      .join(broadcast(dim), Seq("event_type"), "left")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
    val streamed = spark.table("enriched")
    val batch = spark.read.parquet(s"$root/in").join(broadcast(dim), Seq("event_type"), "left")
    assert(streamed.count() == ev.count(), "left join preserves every stream row")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup within watermark drops exact duplicates, keeps state bounded") {
    val root = freshDir("graft-sdedup")
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"))
      .filter(col("ts").isNotNull)
    // write the same rows twice — a replayed snapshot, the reference's
    // at-least-once ingest failure mode
    ev.write.parquet(s"$root/in/a")
    ev.write.parquet(s"$root/in/b")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$root/in/*")
    val deduped = Sessions.streamingDedup(stream, Seq("event_id"), "ts")
    assert(deduped.isStreaming)
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
    val got = spark.table("dedup_stream")
    assert(got.count() == ev.count(), "each event_id exactly once")
    assert(got.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
  }
}
