package graft


import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KernelCounter
import graft.streaming.NearDupStream

/** Pins the streaming writers' ONE-KERNEL-PASS-PER-WAVE claim with a
  * direct instrument ([[KernelCounter]] counts per-document sketch-kernel
  * evaluations — MinHashSig/SigSize/SigSet/ShingleSet): each wave's
  * shingle-hashing kernel runs EXACTLY once per wave document — not 4×
  * (the pre-one-pass shape: twice inside admission, twice re-sketching
  * admitted docs for the ledger writes), and never over the ledgered
  * corpus (history is parquet rows, only the arriving wave is sketched).
  * Commit cb0ea97's 4×→1 claim, previously evidenced only by wave walls.
  */
class KernelPassesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog and then runs far away " +
      "into the deep green forest before the sun sets tonight",
    "completely different words about spark engines processing massive " +
      "parquet datasets with shuffles joins and windows",
    "entirely novel content mentioning trains stations and platforms " +
      "arriving every few minutes across the network tonight")

  private def counted(f: => Unit): Long = {
    KernelCounter.reset()
    KernelCounter.enabled = true
    try { f; KernelCounter.count } finally KernelCounter.enabled = false
  }

  test("exact writer: one MinHashSigSet evaluation per wave doc, ledger " +
      "never re-sketched") {
    val root = freshDir("graft-kernel-exact")
    val w = NearDupStream.writer(s"$root/out", s"$root/bands", s"$root/sets",
      "text", "doc_id", threshold = 0.5)
    val wave0 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val n0 = counted(w(wave0, 0L))
    assert(n0 == texts.size,
      s"wave 0 must sketch each doc exactly once: $n0 evals for ${texts.size} docs")
    // wave 1 against a NON-EMPTY ledger: still exactly wave-sized — the
    // corpus side joins from parquet rows, never re-hashing a token
    val wave1 = Seq((10L, texts(0).replace("green", "dark")),
      (11L, texts(1))).toDF("doc_id", "text")
    val n1 = counted(w(wave1, 1L))
    assert(n1 == 2, s"wave 1 must sketch only its own 2 docs: $n1 evals")
  }

  test("approx writer: one MinHashSig evaluation per wave doc") {
    val root = freshDir("graft-kernel-approx")
    val w = NearDupStream.approxWriter(s"$root/out", s"$root/bands",
      s"$root/sigs", "text", "doc_id", threshold = 0.5)
    val wave0 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    assert(counted(w(wave0, 0L)) == texts.size)
    val wave1 = Seq((10L, texts(2))).toDF("doc_id", "text")
    assert(counted(w(wave1, 1L)) == 1,
      "non-empty ledgers must not add kernel evaluations")
  }

  test("cluster writer: one MinHashSig evaluation per wave doc") {
    val root = freshDir("graft-kernel-clusters")
    val w = NearDupStream.clusterWriter(s"$root/labels", s"$root/merges",
      s"$root/bands", s"$root/sigs", "text", "doc_id", threshold = 0.5)
    val wave0 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    assert(counted(w(wave0, 0L)) == texts.size)
    val wave1 = Seq((10L, texts(0)), (11L, texts(2)))
      .toDF("doc_id", "text")
    assert(counted(w(wave1, 1L)) == 2,
      "fold against existing cluster state must sketch only the wave")
  }

  test("knownRows threads the wave count into the broadcast gate: " +
      "constructing the approx admission plan schedules zero jobs") {
    import org.apache.spark.sql.functions.col
    val sk = graft.dedup.Dedup.MinHashLsh.sigsFor(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "text", "doc_id").persist()
    val n = sk.count()
    val bands = graft.dedup.Dedup.MinHashLsh.bandRowsOfSigs(sk.limit(0))
    val sigs = sk.limit(0).select(col("id"), col("sig"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // without knownRows the gate counts sk at CONSTRUCTION time — one
      // driver-blocking job per wave; with it, construction is lazy
      // listener events post asynchronously: settle, then read
      def settled(): Int = { Thread.sleep(1000); jobs.get() }
      jobs.set(0)
      val lazyPlan = graft.dedup.Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, bands, sigs, threshold = 0.5, knownRows = Some(n))
      assert(settled() == 0,
        s"knownRows construction must schedule no jobs: ${jobs.get()}")
      jobs.set(0)
      graft.dedup.Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, bands, sigs, threshold = 0.5)
      assert(settled() >= 1,
        "without knownRows the gate count runs at construction (the " +
          "behavior the writers now avoid)")
      // and the threaded-count plan still answers correctly
      val got = lazyPlan.collect().map(r => r.getLong(0) ->
        r.getBoolean(1)).toMap
      assert(got == Map(0L -> true, 1L -> true, 2L -> true), s"$got")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      sk.unpersist()
    }
  }
}
