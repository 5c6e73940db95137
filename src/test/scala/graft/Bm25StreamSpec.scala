package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Bm25Stream, IdempotentSink}
import graft.text.Retrieval

/** Streaming BM25 index maintenance: ledger-scored results equal the
  * from-scratch corpus pass after every wave, restarts and replays add
  * nothing, the partial-commit window is consistent (a doc is invisible
  * until its stats land), and the compacted postings ledger serves the
  * term filter bucket-pruned and exchange-free.
  */
class Bm25StreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  private val terms = Seq("spark", "merge", "stream")

  private def fromScratch(docs: org.apache.spark.sql.DataFrame) =
    Retrieval.bm25(docs, "text", "doc_id", terms)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private val waves = Seq(
    Seq((0L, "spark stream spark"), (1L, "merge of things"),
      (2L, "no query words here at all")),
    Seq((10L, "stream stream stream merge"), (11L, "spark")),
    Seq((20L, "merge merge spark stream"), (21L, "padding words only"),
      (22L, "spark spark spark spark")))

  test("3 waves, kill/restart per wave: ledger scores == from-scratch after every wave") {
    val root = freshDir("graft-bm25-stream")
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    val p = s"$root/postings"; val st = s"$root/stats"; val t = s"$root/totals"
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(Bm25Stream.writer(p, st, t, "text", "doc_id"))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    var sofar: Seq[(Long, String)] = Nil
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle() // fresh AvailableNow query per wave = kill-and-restart
      sofar ++= w
      val expect = rows(fromScratch(sofar.toDF("doc_id", "text")))
      val got = rows(Bm25Stream.score(spark, p, st, t, terms))
      assert(got == expect, s"wave $i: ledger scores diverge from scratch")
    }
    // restart with no new input: no new ledger batches, scores unchanged
    val batches = IdempotentSink.committedBatches(spark, p)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, p) == batches)
    assert(rows(Bm25Stream.score(spark, p, st, t, terms))
      == rows(fromScratch(sofar.toDF("doc_id", "text"))))
  }

  test("partial-commit window: postings without stats are invisible; replay completes") {
    val root = freshDir("graft-bm25-crash")
    val p = s"$root/postings"; val st = s"$root/stats"; val t = s"$root/totals"
    val w = Bm25Stream.writer(p, st, t, "text", "doc_id")
    w(waves(0).toDF("doc_id", "text"), 0L)
    val afterW0 = rows(Bm25Stream.score(spark, p, st, t, terms))
    // crash window: wave 1's POSTINGS commit, then the writer dies before
    // stats/totals — simulated by committing the postings delta directly
    val (p1, _) = graft.text.IncrementalBm25.indexWave(
      waves(1).toDF("doc_id", "text"), "text", "doc_id")
    IdempotentSink.writer(p)(p1, 1L)
    // consistency claim: the torn wave's docs are INVISIBLE (no stats row
    // to join, and the df prune keeps idf pure), totals unchanged —
    // scores are exactly the wave-0 corpus
    assert(rows(Bm25Stream.score(spark, p, st, t, terms)) == afterW0,
      "postings-without-stats must not perturb scoring")
    // second crash window: stats land too, totals still missing — per-doc
    // math (tf/df/dl) is complete for the wave, normalization constants
    // (N/Σdl) lag by exactly the in-flight wave
    val (_, st1) = graft.text.IncrementalBm25.indexWave(
      waves(1).toDF("doc_id", "text"), "text", "doc_id")
    IdempotentSink.writer(st)(st1, 1L)
    val lagged = rows(graft.text.IncrementalBm25.scoreFromIndex(
      Bm25Stream.ledgerPostings(spark, p), Bm25Stream.ledgerStats(spark, st),
      terms, totalsLedger = Some(Bm25Stream.ledgerTotals(spark, t))))
    val expectLagged = rows(graft.text.IncrementalBm25.scoreFromIndex(
      Bm25Stream.ledgerPostings(spark, p), Bm25Stream.ledgerStats(spark, st),
      terms,
      totalsLedger = Some(graft.text.IncrementalBm25.totalsDelta(
        waves(0).toDF("doc_id", "text")
          .select($"doc_id", org.apache.spark.sql.functions.size(
            graft.text.TextFunctions.tokens(
              org.apache.spark.sql.functions.lower($"text"))).as("dl")),
        0L))))
    assert(lagged == expectLagged,
      "stats-without-totals must score with the previous corpus' N/Σdl")
    // replay of the full batch: postings + stats markers hit (no
    // rewrite), totals rebuilt from the identical recomputation
    w(waves(1).toDF("doc_id", "text"), 1L)
    val expect = rows(fromScratch((waves(0) ++ waves(1)).toDF("doc_id", "text")))
    assert(rows(Bm25Stream.score(spark, p, st, t, terms)) == expect)
    // double replay: pure no-op
    w(waves(1).toDF("doc_id", "text"), 1L)
    assert(rows(Bm25Stream.score(spark, p, st, t, terms)) == expect)
  }

  test("compaction: identical scores; term read bucket-pruned and exchange-free") {
    val root = freshDir("graft-bm25-compact")
    val p = s"$root/postings"; val st = s"$root/stats"; val t = s"$root/totals"
    val w = Bm25Stream.writer(p, st, t, "text", "doc_id")
    waves.zipWithIndex.foreach { case (wave, i) =>
      w(wave.toDF("doc_id", "text"), i.toLong) }
    val before = rows(Bm25Stream.score(spark, p, st, t, terms))
    Bm25Stream.compactLedgers(spark, p, st, t)
    assert(rows(Bm25Stream.score(spark, p, st, t, terms)) == before,
      "compaction must not change scores")
    // the 100 TB contract, pinned on the standalone index sub-plans (AQE
    // off for deterministic shapes — stage wrapping hides scans from
    // whole-plan traversal, and the composed plan legitimately exchanges
    // the tiny tf frame to doc_id for the dl join):
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      import org.apache.spark.sql.functions.{col, min => fmin, count => fcount, lit}
      // part 1: tf collapse — the token-bucketed scan reads ONLY the query
      // terms' buckets (bucket pruning on the isin filter) and the
      // (doc_id, token) groupBy runs on the bucket partitioning, zero
      // Exchange anywhere in the sub-plan
      val tfPlan = Bm25Stream.ledgerPostings(spark, p)
        .filter(col("token").isin(terms: _*))
        .groupBy("doc_id", "token").agg(fmin(col("tf")).as("tf"))
      // part 2: df — groupBy(token) likewise exchange-free
      val dfPlan = Bm25Stream.ledgerPostings(spark, p)
        .filter(col("token").isin(terms: _*))
        .groupBy("token").agg(fcount(lit(1)).as("df"))
      Seq("tf" -> tfPlan, "df" -> dfPlan).foreach { case (tag, q) =>
        q.write.format("noop").mode("overwrite").save()
        val plan = q.queryExecution.executedPlan
        val scans = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        assert(scans.nonEmpty, s"[$tag] no file scan in:\n$plan")
        scans.foreach { f =>
          val s = f.toString
          val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)"
            .r.findFirstMatchIn(s)
          assert(sel.isDefined, s"[$tag] postings scan not bucket-pruned:\n$s")
          assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
            s"[$tag] expected a strict bucket subset:\n$s")
        }
        val shuffles = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"[$tag] compacted postings must aggregate exchange-free:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // stream continues post-compaction; a second compaction absorbs it
    val extra = Seq((30L, "spark merge"), (31L, "quiet")).toDF("doc_id", "text")
    w(extra, 3L)
    val expect = rows(fromScratch(
      (waves.flatten ++ Seq((30L, "spark merge"), (31L, "quiet")))
        .toDF("doc_id", "text")))
    assert(rows(Bm25Stream.score(spark, p, st, t, terms)) == expect)
    Bm25Stream.compactLedgers(spark, p, st, t)
    assert(rows(Bm25Stream.score(spark, p, st, t, terms)) == expect)
  }
}
