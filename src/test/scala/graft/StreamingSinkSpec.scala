package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.IdempotentSink

/** Exactly-once contract of the idempotent foreachBatch sink: replayed
  * batchIds never duplicate rows, a crash before the commit rename leaves
  * no visible data, and the end-to-end stream restart adds nothing.
  */
class StreamingSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  test("replayed batchId is skipped — no duplicates, first write wins") {
    val out = freshDir("graft-sink")
    val w = IdempotentSink.writer(out)
    w(Seq(1, 2, 3).toDF("x"), 7L)
    // the replay after a post-commit failure re-sends the SAME batch data;
    // a different frame here just proves the skip is on batchId, not data
    w(Seq(4, 5, 6, 7).toDF("x"), 7L)
    val got = spark.read.parquet(out)
    assert(got.count() == 3)
    assert(got.select(sum($"x")).head().getLong(0) == 6L)
  }

  test("crash before rename leaves nothing visible; retry completes cleanly") {
    val out = freshDir("graft-sink")
    // simulate attempt 1 dying after the scratch write, before the rename
    Seq(9, 9).toDF("x").write.parquet(s"$out/.inflight-3")
    // nothing visible: no committed batch=* dir exists yet (dot-dirs are
    // invisible to Spark's file index by default)
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("batch=")))
    IdempotentSink.writer(out)(Seq(1, 2).toDF("x"), 3L)
    val got = spark.read.parquet(out)
    assert(got.count() == 2, "retry must overwrite the dead scratch dir")
    assert(new java.io.File(s"$out/.inflight-3").exists() == false)
  }

  test("dest dir without commit marker is rebuilt — object-store partial-rename case") {
    val out = freshDir("graft-sink")
    // simulate a crash mid-"rename" on an object store: batch=5 exists,
    // half-populated, but the marker (written last) never landed
    Seq(9).toDF("x").write.parquet(s"$out/batch=5")
    assert(IdempotentSink.committedBatches(spark, out).isEmpty)
    IdempotentSink.writer(out)(Seq(1, 2, 3).toDF("x"), 5L)
    assert(IdempotentSink.committedBatches(spark, out) == Seq(5L))
    val got = spark.read.parquet(out)
    assert(got.count() == 3, "unmarked partial dest must be replaced, not trusted")
    // and now that the marker exists, a replay is a no-op
    IdempotentSink.writer(out)(Seq(7, 8).toDF("x"), 5L)
    assert(spark.read.parquet(out).count() == 3)
    assert(IdempotentSink.readCommitted(spark, out).count() == 3)
  }

  test("stream restart over the same checkpoint appends nothing") {
    val root = freshDir("graft-sink-e2e")
    Seq(1, 2, 3).toDF("x").write.parquet(s"$root/in/a")
    Seq(4, 5).toDF("x").write.parquet(s"$root/in/b")
    def run(): Unit = {
      val q = spark.readStream.schema("x int").parquet(s"$root/in/*")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(IdempotentSink.writer(s"$root/out"))
        .start()
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    run()
    val first = spark.read.parquet(s"$root/out").count()
    assert(first == 5)
    run() // restart: no new files → no new batches → no new rows
    assert(spark.read.parquet(s"$root/out").count() == first)
    // batch is a discoverable partition column for downstream pruning
    assert(spark.read.parquet(s"$root/out").columns.contains("batch"))
  }

  test("composed streaming mart: 3 waves, kill-and-restart, forced replay — equals batch gaps") {
    import java.time.Instant
    import graft.streaming.HeadwaysStream
    val root = freshDir("graft-mart-e2e")
    val raw = s"$root/raw"; val out = s"$root/mart"; val ckpt = s"$root/ckpt"
    val t0 = Instant.parse("2025-11-20T10:00:00Z")
    // raw snapshots with strictly time-ordered events per key across
    // waves: the incremental path's cross-batch late-drop policy then
    // never fires, which is what makes exact batch-equality the right
    // assertion (the policy itself is covered in JobsSpec)
    def ingestWave(wave: Int): Unit = (0 until 2).foreach { i =>
      val n = wave * 2 + i
      val ts = t0.plusSeconds(n * 120L).toString
      val tmp = s"$root/tmp_w${wave}_$i"
      Seq(("940GZZLUOXC", "central", "p1", "Epping", 30L, ts),
          ("940GZZLUVIC", "victoria", "p2", "Walthamstow", 45L, ts))
        .toDF("stopId", "lineId", "platformName", "destinationName",
          "timeToStation", "timestamp")
        .coalesce(1).write.parquet(tmp)
      // raw-zone contract: each snapshot is a single arrivals_*.parquet
      // FILE (the streaming pathGlobFilter keys on the leaf file name)
      val dateDir = new java.io.File(s"$raw/date=2025-11-20"); dateDir.mkdirs()
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(dateDir, s"arrivals_w${wave}_$i.parquet")))
    }
    def runCycle(tag: String): Unit = {
      val q = HeadwaysStream.startIncrementalMart(spark, raw, out, ckpt)
      try {
        assert(q.awaitTermination(120000), s"$tag: query did not terminate")
        assert(q.exception.isEmpty, s"$tag failed: ${q.exception}")
      } finally if (q.isActive) q.stop()
    }
    // 3 ingest waves; a FRESH AvailableNow query per wave is a
    // kill-and-restart cycle over the same checkpoint
    (0 until 3).foreach { wave => ingestWave(wave); runCycle(s"wave $wave") }
    val ids = IdempotentSink.committedBatches(spark, out)
    assert(ids.size >= 3, s"expected ≥3 committed batches, got $ids")

    // force an at-least-once replay: drop the newest STREAMING commit so
    // the restart reprocesses the final batch under the same batchId —
    // the sink's marker must swallow it
    val replayed = ids.max
    assert(new java.io.File(s"$ckpt/commits/$replayed").delete(),
      "streaming checkpoint commit must exist to be dropped")
    // also drop the Hadoop checksum sidecar, or the replay's commit
    // rename fails on the stale .crc
    new java.io.File(s"$ckpt/commits/.$replayed.crc").delete()
    runCycle("forced replay")
    assert(IdempotentSink.committedBatches(spark, out) == ids,
      "replay must commit no new batch")

    // byte-equality with the batch recompute: same gap rows, same values
    // (files arrived in event order, so the cross-batch late-drop policy
    // never fires and the two paths agree exactly)
    val streamed = IdempotentSink.readCommitted(spark, out)
      .select("line_id", "stop_id", "event_ts", "headway_s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("line_id", "stop_id").orderBy("event_ts")
    val batch = graft.etl.StgArrivals(spark, raw)
      .filter(col("event_ts").isNotNull)
      .select(col("line_id"), col("stop_id"), col("event_ts"))
      .withColumn("prev_ts", lag("event_ts", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("line_id"), col("stop_id"), col("event_ts"),
        ((unix_micros(col("event_ts")) - unix_micros(col("prev_ts")))
          .cast("double") / 1e6).as("headway_s"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed mart must equal the batch recompute byte-for-byte")
  }
}
