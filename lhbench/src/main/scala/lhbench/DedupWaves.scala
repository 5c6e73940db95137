package lhbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup
import graft.dedup.Dedup.MinHashLsh
import graft.streaming.{DedupStream, IdempotentSink, NearDupStream}

/** `dedup_stream`: closed loop, one caller. Each wave the generator lands
  * one seeded file of `WaveDocs` documents (ascending ids), then one
  * `Trigger.AvailableNow` query runs `DedupStream.writer` and one runs
  * `NearDupStream.writer`; every `CompactEvery` waves both ledgers are
  * compacted between waves, as `tools/BenchStream` does. Committed state
  * grows every wave and every wave reads it.
  */
final class DedupWaves(seed: Long) extends Workload {
  import DedupWaves._
  private var dir = ""
  private var texts: Array[String] = Array.empty
  private var waves = 0
  val latency = mutable.ArrayBuffer.empty[Double]
  private var compaction = 0.0
  /** Wave latencies with the compaction time spread evenly over the waves,
    * so the median does not depend on where the compacting waves rank.
    */
  private def cycles: Seq[Double] = latency.toSeq.map(_ + compaction / latency.size)

  private def in = s"$dir/in"
  private def out = s"$dir/survivors"
  private def ledger = s"$dir/ledger"
  private def verdicts = s"$dir/verdicts"
  private def bands = s"$dir/bands"
  private def sets = s"$dir/sets"

  private def wave(spark: SparkSession, k: Int): DataFrame = {
    import spark.implicits._
    (k * WaveDocs until (k + 1) * WaveDocs).map(i => (i.toLong, texts(i))).toDF("doc_id", "text")
  }

  /** Land wave `k` atomically: write it beside the input dir, then rename. */
  private def land(spark: SparkSession, k: Int): Unit = {
    wave(spark, k).coalesce(1).write.parquet(s"$dir/staging/w$k")
    new java.io.File(in).mkdirs()
    require(new java.io.File(s"$dir/staging/w$k").renameTo(new java.io.File(s"$in/w$k")))
  }

  private def runQuery(spark: SparkSession, ckpt: String, f: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema("doc_id long, text string").parquet(s"$in/*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
    require(q.awaitTermination(120000), "query did not terminate")
    q.exception.foreach(e => throw e)
    // back-to-back AvailableNow runs on one checkpoint race the old
    // query's deregistration: wait until it is gone
    while (spark.streams.active.nonEmpty) Thread.sleep(5)
  }

  private def step(spark: SparkSession, t: Tracer, k: Int, tag: String): Option[(Double, Double)] = {
    land(spark, k)
    val t0 = System.nanoTime()
    for {
      _ <- t.call("streaming.dedup_wave", tag)(
        runQuery(spark, s"$dir/ckpt_dedup", DedupStream.writer(out, ledger, "text", "doc_id")))
      _ <- t.call("streaming.neardup_wave", tag)(
        runQuery(spark, s"$dir/ckpt_neardup",
          NearDupStream.writer(verdicts, bands, sets, "text", "doc_id", threshold = Threshold)))
      lat = (System.nanoTime() - t0) / 1e6
      _ <- if (k % CompactEvery == CompactEvery - 1) t.call("streaming.compaction", tag) {
        require(DedupStream.compactLedger(spark, ledger).isDefined)
        val (b, s) = NearDupStream.compactLedgers(spark, bands, sets)
        require(b.isDefined && s.isDefined)
      } else Some(())
    } yield { waves = k + 1; (lat, (System.nanoTime() - t0) / 1e6) }
  }

  private var root = ""

  def prepare(spark: SparkSession, t: Tracer, dir: String): Unit = {
    root = dir
    texts = Corpus.texts(seed, MaxWaves * WaveDocs, nearDup = 0.08, exact = 0.04)
  }

  /** Waves up to the first compaction in their own directories; the run
    * then starts from empty stream state.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit = {
    dir = s"$root/warmup"
    for (k <- 0 until CompactEvery) step(spark, t, k, "warmup")
    dir = s"$root/run"
  }

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && !t.aborted && k < MaxWaves) {
      step(spark, t, k, s"wave$k").foreach { case (l, c) => latency += l; compaction += c - l }
      k += 1
    }
  }

  def check(spark: SparkSession, t: Tracer): Unit = {
    import spark.implicits._
    val docs = texts.take(waves * WaveDocs).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toSeq.toDF("doc_id", "text").cache()
    // exact dedup: streamed survivors == one batch Dedup.exact
    val streamed = IdempotentSink.readCommitted(spark, out).select("fp", "keep_id")
    val batch = Dedup.exact(docs, "text", "doc_id").select("fp", "keep_id")
    t.check("stream.survivors_equal_batch",
      streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed survivors differ from Dedup.exact")
    // near-dup: streamed verdicts == the batch-sequential ledger recompute
    // over the same waves, ledgers accumulating through parquet
    val accB = s"$dir/check/bands"; val accS = s"$dir/check/sets"
    NearDupStream.ledgerBands(spark, s"$dir/check/empty_b").write.parquet(accB)
    NearDupStream.ledgerSets(spark, s"$dir/check/empty_s").write.parquet(accS)
    val expected = (0 until waves).map { k =>
      val w = docs.filter(col("doc_id") >= k * WaveDocs && col("doc_id") < (k + 1) * WaveDocs)
      val vDir = s"$dir/check/v$k"
      MinHashLsh.nearDupIncrementalLedger(w, "text", "doc_id",
        spark.read.parquet(accB), spark.read.parquet(accS), threshold = Threshold).write.parquet(vDir)
      val v = spark.read.parquet(vDir)
      val admitted = w.join(v.filter(col("admitted")).select("doc_id"), Seq("doc_id"))
      MinHashLsh.bandsFor(admitted, "text", "doc_id").write.mode("append").parquet(accB)
      MinHashLsh.setsFor(admitted, "text", "doc_id").write.mode("append").parquet(accS)
      graft.core.TransientCache.clear()
      v
    }.reduce(_ unionByName _)
    val got = NearDupStream.verdicts(spark, verdicts).select("doc_id", "admitted", "first_match")
    t.check("stream.verdicts_equal_batch",
      got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streamed near-dup verdicts differ from the batch-sequential recompute")
    t.check("stream.every_doc_decided", got.count() == docs.count(),
      s"${got.count()} verdicts for ${docs.count()} documents")
    docs.unpersist()
  }

  def e2e: Map[String, Double] =
    Map("latency_p50_s" -> Stats.median(latency.toSeq) / 1e3,
      "cycle_p50_s" -> Stats.median(cycles) / 1e3)

  def samples: Map[String, Seq[Double]] = Map("wave_ms" -> latency.toSeq, "cycle_ms" -> cycles)

  def layers(t: Tracer, spark: SparkSession): Map[String, Double] = {
    val measured = t.spans.filter(_.tag.startsWith("wave")).toSeq
    val spans = Seq("streaming.dedup_wave", "streaming.neardup_wave", "streaming.compaction").flatMap { n =>
      t.measures(measured.filter(_.name == n)).collect { case (k, v) if k != "jobs" => s"$n.$k" -> v }
    }.toMap
    def files(p: String): Seq[java.io.File] = {
      val f = new java.io.File(p)
      if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(c => files(c.getPath))
    }
    // per-batch slivers under the ledger dirs plus each ledger's current
    // compacted table in the warehouse
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val tables = Seq(ledger, bands, sets).flatMap(l =>
      graft.streaming.LedgerCompaction.currentCompaction(spark, l).map(x => s"$warehouse/${x._2.toLowerCase}"))
    val ledgerFiles = (Seq(ledger, bands, sets) ++ tables).flatMap(files)
      .filter(f => f.getName.endsWith(".parquet"))
    val offered = waves * WaveDocs
    val admitted = NearDupStream.verdicts(spark, verdicts).filter(col("admitted")).count()
    spans ++ Map(
      "streaming.ledger_bytes" -> ledgerFiles.map(_.length).sum.toDouble,
      "streaming.ledger_files" -> ledgerFiles.size.toDouble,
      "streaming.admit_ratio" -> (if (offered == 0) 0.0 else admitted.toDouble / offered))
  }
}

object DedupWaves {
  val WaveDocs = 150
  val MaxWaves = 200
  val CompactEvery = 3
  val Threshold = 0.5
}
