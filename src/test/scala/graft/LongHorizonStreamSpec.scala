package graft


import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{IdempotentSink, NearDupStream}

/** Long-horizon stream-cost flatness at spec scale: 24 near-dup admission
  * waves (3 full compaction cadence cycles at `compactEvery = 8`; cycle 0
  * grows the ledger, later cycles replay its texts so the ledger is
  * constant), asserting the per-cycle Spark task SUM does not trend
  * upward. Without compaction every wave reads one more ledger `batch=`
  * dir per ledger and the sums climb by ~cadence² per cycle; with it,
  * cost is a bounded sawtooth — wave `8 + p` and wave `16 + p` face the
  * same number of un-absorbed dirs and must run the same plan shape.
  * The tier-scale version (50 waves, wall-clock gates, both streaming
  * paths) is `graft.tools.BenchStreamLong` / BENCH_STREAM_LONG.json.
  */
class LongHorizonStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("24 waves with cadence compaction: per-wave task counts are " +
      "phase-flat across cycles; ledger dirs stay bounded") {
    val root = TestSpark.freshDir("graft-longhorizon")
    val out = s"$root/out"; val bands = s"$root/bands"; val sets = s"$root/sets"
    val cadence = 8
    val waves = 3 * cadence
    val w = NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5,
      compactEvery = cadence)

    val taskCount = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        taskCount.addAndGet(sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    val tasks = Array.ofDim[Long](waves)
    try {
      (0 until waves).foreach { b =>
        // cycle 0 grows the ledger (unique docs, all admitted); every
        // later wave REPLAYS cycle-0 texts under fresh ids — rejected as
        // near-dups, ledger constant — so any cross-cycle task growth is
        // stream-AGE cost, not data growth
        val src = b % cadence
        val docs = (0 until 2).map { j =>
          (b * 10L + j, s"wave $src doc $j carries its own words about " +
            s"signal box ${src * 7 + j} platform ${src + j} depot ${j * 3 + src} " +
            "and a long enough tail of filler tokens to shingle cleanly")
        }.toDF("doc_id", "text")
        Thread.sleep(300) // settle the async listener bus between waves
        val t0 = taskCount.get()
        w(docs, b.toLong)
        Thread.sleep(300)
        tasks(b) = taskCount.get() - t0
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    // compaction cadence fired: at most one cycle of un-absorbed dirs
    // remains per ledger (dir-count boundedness is WHAT compaction buys)
    assert(IdempotentSink.committedBatches(spark, bands).size <= cadence,
      "band ledger dirs must stay bounded by the cadence")
    assert(IdempotentSink.committedBatches(spark, sets).size <= cadence,
      "sset ledger dirs must stay bounded by the cadence")

    // cycle-aligned flatness, cycle 1 vs cycle 2 (cycle 0 is cold start:
    // empty-ledger fast paths before the first compaction has run). The
    // comparison is over whole-cycle TASK SUMS: wave k and wave
    // k + cadence face the same number of un-absorbed dirs, so equal-
    // cycle sums mean stream age added no per-wave cost; per-wave counts
    // individually jitter a few stages on AQE/broadcast decisions.
    // Without compaction the ledger-side scans alone add one task per
    // accumulated dir per wave — cycle 2 would exceed cycle 1 by
    // ~cadence² tasks per ledger, far past this bound.
    val cycle1 = tasks.slice(cadence, 2 * cadence).sum
    val cycle2 = tasks.slice(2 * cadence, 3 * cadence).sum
    assert(cycle2 <= cycle1 * 1.15,
      s"per-cycle task total trends upward: cycle1=$cycle1 cycle2=$cycle2 " +
        s"(all: ${tasks.toSeq})")
  }
}
