package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup
import graft.streaming.{CurationStream, IdempotentSink}
import graft.text.TextFunctions

/** End-to-end streaming curation (quality → exact-dup ledger → approx
  * near-dup admission): stream verdicts equal the batch-sequential
  * composition of the stage kernels after every wave (the composition
  * itself is oracle-gated as q116), planted outcomes land in the right
  * stage, crash-window replays heal, and compaction changes nothing.
  */
class CurationStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  private val longA = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val nearA = longA.replace("omicron", "replaced")
  private val longB = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
  private val junk = "spam spam spam spam" // diversity 0.25 -> fails quality

  private val waves: Seq[Seq[(Long, String)]] = Seq(
    Seq((1L, longA), (2L, longA), (3L, junk)),
    Seq((10L, nearA), (11L, longB), (12L, junk)),
    Seq((20L, longA), (21L, nearA), (22L, longB + " nineteen")))

  /** Batch-sequential reference: the q116 composition with in-memory
    * ledgers, one fold per wave. */
  private def sequential(upTo: Int): Seq[Seq[Any]] = {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var fps = none.select(TextFunctions.fingerprint(col("text")).as("fp"))
    var bands = Dedup.MinHashLsh.bandsForApprox(none, "text", "doc_id")
    var sigs = Dedup.MinHashLsh.sigsFor(none, "text", "doc_id")
    var out: DataFrame = null
    waves.take(upTo).foreach { w =>
      val scored = w.toDF("doc_id", "text").select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val exactNew = scored.filter(col("quality") >= 0.7)
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .join(fps, Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1).drop("rn")
        .persist()
      val sk = Dedup.MinHashLsh.sigsFor(exactNew, "text", "doc_id").persist()
      val verdict = Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, bands, sigs, 0.5).persist()
      val waveOut = scored.select(col("doc_id"), col("quality"),
          (col("quality") >= 0.7).as("q_pass"))
        .join(exactNew.select(col("doc_id"), lit(true).as("en")),
          Seq("doc_id"), "left")
        .join(verdict.select(col("doc_id"), col("admitted").as("adm"),
          col("first_match")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("q_pass"),
          coalesce(col("en"), lit(false)).as("exact_new"),
          coalesce(col("adm"), lit(false)).as("admitted"),
          col("first_match"))
      out = if (out == null) waveOut.localCheckpoint()
        else out.unionByName(waveOut).localCheckpoint()
      fps = fps.unionByName(exactNew.select("fp")).localCheckpoint()
      val admittedSk = sk.join(
        verdict.filter(col("admitted")).select(col("doc_id").as("id")),
        Seq("id"))
      bands = bands.unionByName(Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
        .localCheckpoint()
      sigs = sigs.unionByName(admittedSk.select("id", "sig")).localCheckpoint()
      verdict.unpersist(); sk.unpersist(); exactNew.unpersist()
    }
    out.orderBy("doc_id").collect().toSeq.map(_.toSeq)
  }

  private def got(verdictDir: String): Seq[Seq[Any]] =
    CurationStream.verdicts(spark, verdictDir)
      .select("doc_id", "quality", "q_pass", "exact_new", "admitted",
        "first_match") // drop the batch partition column
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)

  test("3 waves, kill/restart per wave: stream verdicts == batch-sequential composition") {
    val root = freshDir("graft-curation-stream")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val fps = s"$root/fps"; val bands = s"$root/bands"; val sigs = s"$root/sigs"
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(CurationStream.writer(out, fps, bands, sigs,
          "text", "doc_id"))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle()
      assert(got(out) == sequential(i + 1),
        s"stream verdicts diverge from the sequential composition after wave $i")
    }
    // planted outcomes land in the right stage
    val v = CurationStream.verdicts(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(v(1L).getAs[Boolean]("admitted"), "first long doc admits")
    assert(v(2L).getAs[Boolean]("q_pass") && !v(2L).getAs[Boolean]("exact_new"),
      "within-wave exact dup dies at the fingerprint stage")
    assert(!v(3L).getAs[Boolean]("q_pass"), "junk dies at the quality gate")
    assert(v(10L).getAs[Boolean]("exact_new") &&
      !v(10L).getAs[Boolean]("admitted") &&
      v(10L).getAs[Long]("first_match") == 1L,
      "near-dup passes quality+fp but is rejected by admission against doc 1")
    assert(v(11L).getAs[Boolean]("admitted"), "unrelated doc admits")
    assert(v(20L).getAs[Boolean]("q_pass") && !v(20L).getAs[Boolean]("exact_new"),
      "cross-wave exact dup dies at the fingerprint ledger")
    assert(v(21L).getAs[Boolean]("q_pass") && !v(21L).getAs[Boolean]("exact_new"),
      "copy of a REJECTED doc still dies at the fp ledger (SEEN, not admitted)")
    // restart with no new input: nothing appended
    val batches = IdempotentSink.committedBatches(spark, out)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, out) == batches)
  }

  /** Batch-sequential reference for the DECONTAM pipeline: the q119
    * composition (quality → contamination gate → exact → admission)
    * with in-memory ledgers. */
  private def sequentialDecontam(upTo: Int,
      benchGrams: DataFrame): Seq[Seq[Any]] = {
    import graft.pipeline.Curation
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var fps = none.select(TextFunctions.fingerprint(col("text")).as("fp"))
    var bands = Dedup.MinHashLsh.bandsForApprox(none, "text", "doc_id")
    var sigs = Dedup.MinHashLsh.sigsFor(none, "text", "doc_id")
    var out: DataFrame = null
    waves.take(upTo).foreach { w =>
      val scored = w.toDF("doc_id", "text").select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val qp = scored.filter(col("quality") >= 0.7)
      val flags = Curation.contaminationFlags(
        qp.select("doc_id", "text"), benchGrams, "text", "doc_id").persist()
      val exactNew = qp
        .join(flags.filter(!col("contaminated")).select("doc_id"),
          Seq("doc_id"))
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .join(fps, Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1).drop("rn")
        .persist()
      val sk = Dedup.MinHashLsh.sigsFor(exactNew, "text", "doc_id").persist()
      val verdict = Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, bands, sigs, 0.5).persist()
      val waveOut = scored.select(col("doc_id"), col("quality"),
          (col("quality") >= 0.7).as("q_pass"))
        .join(flags, Seq("doc_id"), "left")
        .join(exactNew.select(col("doc_id"), lit(true).as("en")),
          Seq("doc_id"), "left")
        .join(verdict.select(col("doc_id"), col("admitted").as("adm"),
          col("first_match")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("q_pass"),
          col("n_shared_grams"),
          coalesce(!col("contaminated"), lit(false)).as("clean"),
          coalesce(col("en"), lit(false)).as("exact_new"),
          coalesce(col("adm"), lit(false)).as("admitted"),
          col("first_match"))
      out = if (out == null) waveOut.localCheckpoint()
        else out.unionByName(waveOut).localCheckpoint()
      fps = fps.unionByName(exactNew.select("fp")).localCheckpoint()
      val admittedSk = sk.join(
        verdict.filter(col("admitted")).select(col("doc_id").as("id")),
        Seq("id"))
      bands = bands.unionByName(Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
        .localCheckpoint()
      sigs = sigs.unionByName(admittedSk.select("id", "sig")).localCheckpoint()
      verdict.unpersist(); sk.unpersist(); exactNew.unpersist()
      flags.unpersist()
    }
    out.orderBy("doc_id").collect().toSeq.map(_.toSeq)
  }

  private def gotDecontam(verdictDir: String): Seq[Seq[Any]] =
    CurationStream.verdictsDecontam(spark, verdictDir)
      .select("doc_id", "quality", "q_pass", "n_shared_grams", "clean",
        "exact_new", "admitted", "first_match")
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)

  test("decontam pipeline: 3 waves, kill/restart per wave — stream verdicts == sequential composition; contaminated docs never enter ledgers") {
    val root = freshDir("graft-curation-decontam")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val fps = s"$root/fps"; val bands = s"$root/bands"; val sigs = s"$root/sigs"
    // the benchmark shares its leading 5-gram with longB — docs 11 and 22
    // (longB variants) are contaminated; the longA family is clean
    val bench = Seq((900L, "one two three four five benchmark suffix words"))
      .toDF("doc_id", "text")
    CurationStream.writeBenchGrams(bench, "text", "doc_id", s"$root/bg")
    val bg = spark.read.parquet(s"$root/bg")
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(CurationStream.decontamWriter(out, fps, bands, sigs,
          s"$root/bg", "text", "doc_id"))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle()
      assert(gotDecontam(out) == sequentialDecontam(i + 1, bg),
        s"stream verdicts diverge from the sequential composition after wave $i")
    }
    val v = CurationStream.verdictsDecontam(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // stage attribution: contamination fires between quality and exact
    assert(v(11L).getAs[Boolean]("q_pass") && !v(11L).getAs[Boolean]("clean")
      && v(11L).getAs[Long]("n_shared_grams") > 0
      && !v(11L).getAs[Boolean]("exact_new")
      && !v(11L).getAs[Boolean]("admitted"),
      "benchmark-overlapping doc dies at the contamination gate")
    assert(!v(22L).getAs[Boolean]("clean"),
      "extended copy of contaminated text is still contaminated")
    assert(v(1L).getAs[Boolean]("clean") && v(1L).getAs[Boolean]("admitted"),
      "clean doc flows through all four stages")
    assert(v(10L).getAs[Boolean]("clean") && v(10L).getAs[Boolean]("exact_new")
      && !v(10L).getAs[Boolean]("admitted")
      && v(10L).getAs[Long]("first_match") == 1L,
      "clean near-dup still dies at admission, not before")
    assert(!v(3L).getAs[Boolean]("q_pass")
      && v(3L).isNullAt(v(3L).fieldIndex("n_shared_grams")),
      "quality failures never reach the gram pass (NULL attribution)")
    // the ledger-exclusion contract: contaminated docs left NO state
    val fpB = Seq(longB).toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).as[String].head()
    assert(!graft.streaming.DedupStream.ledgerFps(spark, fps)
      .select("fp").as[String].collect().contains(fpB),
      "contaminated doc's fingerprint leaked into the fp ledger")
    val sigIds = graft.streaming.NearDupStream.ledgerSigs(spark, sigs)
      .select("id").as[Long].collect().toSet
    assert(!sigIds.contains(11L) && !sigIds.contains(22L),
      "contaminated doc leaked into the admission ledgers")
  }

  test("crash window: verdict committed, all ledgers missing — replay heals identically") {
    val root = freshDir("graft-curation-crash")
    val out = s"$root/out"; val fps = s"$root/fps"
    val bands = s"$root/bands"; val sigs = s"$root/sigs"
    val w = CurationStream.writer(out, fps, bands, sigs, "text", "doc_id")
    w(waves(0).toDF("doc_id", "text"), 0L)
    w(waves(1).toDF("doc_id", "text"), 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(fps, bands, sigs).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/batch=1"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/_committed-1"), false)
    }
    val before = got(out)
    w(waves(1).toDF("doc_id", "text"), 1L) // replay: verdict marker hit
    assert(got(out) == before, "replay must not change verdicts")
    Seq(fps, bands, sigs).foreach { d =>
      assert(IdempotentSink.committedBatches(spark, d) == Seq(0L, 1L),
        s"ledger $d not healed") }
    w(waves(2).toDF("doc_id", "text"), 2L)
    assert(got(out) == sequential(3))
  }

  test("invariant pin: a sink append never invalidates a cached plan reading that ledger") {
    // CurationStream.writer's bands/sigs appends read the persisted
    // sk/exactNew frames, whose LINEAGE includes the fps ledger dir the
    // fps append touched moments earlier. That is safe only because
    // (a) IdempotentSink writes through a scratch `.inflight-*` path, so
    // the write-path recacheByPath never matches a cached plan's
    // `batch=N` root paths, and (b) the cached plan's file listing is
    // frozen at plan build. This test pins BOTH halves of the invariant
    // directly: if a future sink change writes into the ledger dir (or a
    // batch=N path) without the scratch indirection, the cache entry
    // drops and/or the cached read sees the new batch, and this fails —
    // before the real symptom (admitted docs producing EMPTY bands/sigs
    // appends) could silently ship.
    val root = freshDir("graft-curation-recache")
    val fpsDir = s"$root/fps"
    IdempotentSink.writer(fpsDir)(Seq("fp-a").toDF("fp"), 0L)
    val ledger = graft.streaming.DedupStream.ledgerFps(spark, fpsDir).persist()
    try {
      assert(ledger.count() == 1) // materialize the cache
      IdempotentSink.writer(fpsDir)(Seq("fp-b").toDF("fp"), 1L)
      assert(spark.sharedState.cacheManager.lookupCachedData(
          ledger.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined,
        "sink append invalidated a cached ledger plan — the .inflight " +
          "scratch-path property of IdempotentSink broke")
      assert(ledger.select("fp").as[String].collect().toSeq == Seq("fp-a"),
        "cached ledger plan re-listed the appended batch — frozen-listing " +
          "property broke")
    } finally ledger.unpersist()
  }

  test("compaction: verdicts of subsequent waves unchanged") {
    val root = freshDir("graft-curation-compact")
    val out = s"$root/out"; val fps = s"$root/fps"
    val bands = s"$root/bands"; val sigs = s"$root/sigs"
    val w = CurationStream.writer(out, fps, bands, sigs, "text", "doc_id")
    w(waves(0).toDF("doc_id", "text"), 0L)
    w(waves(1).toDF("doc_id", "text"), 1L)
    CurationStream.compactLedgers(spark, fps, bands, sigs)
    w(waves(2).toDF("doc_id", "text"), 2L)
    assert(got(out) == sequential(3),
      "post-compaction wave must see identical ledger state")
  }
}
