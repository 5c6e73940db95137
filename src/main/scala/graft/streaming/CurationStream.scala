package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType,
  StructField, StructType}

import graft.dedup.Dedup

/** END-TO-END streaming curation: quality gate → exact dedup against the
  * fingerprint ledger of every SEEN survivor → approximate near-dup
  * admission against the sig/band ledgers of every ADMITTED doc — the
  * full training-data ingest path as ONE exactly-once `foreachBatch`
  * pipeline (the streaming form of q116, which gates the composed stage
  * semantics hash-exact against a four-wave unrolled DuckDB oracle).
  *
  * Stage choices, and why these ledgers hold what they hold:
  *  - the FP ledger records every exact-stage survivor (SEEN, not just
  *    admitted): an identical copy of a doc that later failed near-dup
  *    admission is rejected at the cheap fingerprint anti-join instead of
  *    re-running banding + estimator verify for the same inevitable
  *    verdict;
  *  - the band/sig ledgers hold ADMITTED docs only — the admission
  *    contract ([[NearDupStream]]): "near-dup of anything admitted",
  *    256 B/doc state, no token-sized ledger anywhere in the pipeline.
  *
  * Verdict rows carry STAGE ATTRIBUTION — (doc_id, quality, q_pass,
  * exact_new, admitted, first_match) — so downstream consumers can split
  * rejects by cause without re-deriving anything.
  *
  * Exactly-once by [[Wave]]'s argument: every stage reads COMMITTED
  * ledger state only, so the whole verdict is a pure function of (batch,
  * committed ledgers); the verdict commits FIRST, the ledgers LAST
  * (bands → sigs → fps), derived from the committed verdict rows. The fp
  * ledger commits after the band/sig deltas because they project the
  * exact stage's output, which reads that ledger: with the wave's own
  * fingerprints committed, a replay would find its exact-new docs
  * "already seen" and commit empty band/sig deltas.
  */
object CurationStream {

  val VerdictSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("quality", DoubleType),
    StructField("q_pass", BooleanType),
    StructField("exact_new", BooleanType),
    StructField("admitted", BooleanType),
    StructField("first_match", LongType)))

  /** [[VerdictSchema]] plus the decontamination stage's attribution:
    * shared-gram count and the clean flag (non-NULL/true only for
    * quality passers — the stage's input). */
  val VerdictSchemaDecontam: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("quality", DoubleType),
    StructField("q_pass", BooleanType),
    StructField("n_shared_grams", LongType),
    StructField("clean", BooleanType),
    StructField("exact_new", BooleanType),
    StructField("admitted", BooleanType),
    StructField("first_match", LongType)))

  /** Committed per-doc verdicts across all batches. */
  def verdicts(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir, Some(VerdictSchema))

  /** Committed per-doc verdicts of a [[decontamWriter]] pipeline. */
  def verdictsDecontam(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir,
      Some(VerdictSchemaDecontam))

  /** Build the benchmark gram ledger a [[decontamWriter]] probes — the
    * distinct hashed n-grams of the eval set, written ONCE at pipeline
    * setup (a benchmark is fixed data; the stream never re-grams it).
    */
  def writeBenchGrams(benchmark: DataFrame, textCol: String, idCol: String,
      dir: String, n: Int = 5): Unit =
    graft.pipeline.Curation.benchGramSet(benchmark, textCol, idCol, n)
      .write.mode("overwrite").parquet(dir)

  /** Compact all three ledgers on the usual maintenance cadence: fps
    * fp-bucketed ([[DedupStream.compactLedger]]), bands/sigs via
    * [[NearDupStream.compactLedgersApprox]]. */
  def compactLedgers(spark: SparkSession, fpsDir: String, bandsDir: String,
      sigsDir: String, buckets: Int = 8): Unit = {
    DedupStream.compactLedger(spark, fpsDir, buckets)
    NearDupStream.compactLedgersApprox(spark, bandsDir, sigsDir, buckets)
    ()
  }

  /** The `foreachBatch` function:
    * {{{
    * docs.writeStream.foreachBatch(CurationStream.writer(
    *   out, fps, bands, sigs, "text", "doc_id"))
    * }}}
    */
  def writer(verdictDir: String, fpsDir: String, bandsDir: String,
      sigsDir: String, textCol: String, idCol: String,
      qualityThreshold: Double = 0.7, simThreshold: Double = 0.5,
      portable: Boolean = false,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    Wave.writer(compactEvery)(compactLedgers(_, fpsDir, bandsDir, sigsDir)) { w =>
      val scored = w.keep(scoredWave(w.batch, textCol, idCol))
      val exactNew = w.keep(firstNewPerFp(
        scored.filter(col("quality") >= qualityThreshold), w.spark, fpsDir))
      val sk = w.keep(NearDupStream.sigSketch(exactNew, "text", "id", portable))
      val admission = Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, NearDupStream.ledgerBandsApprox(w.spark, bandsDir),
        NearDupStream.ledgerSigs(w.spark, sigsDir), simThreshold, w.keep,
        hotBandCap = 4096)
      val verdict = w.keep(scored
        .select(col("id").as("doc_id"), col("quality"),
          (col("quality") >= qualityThreshold).as("q_pass"))
        .join(exactNew.select(col("id").as("doc_id"),
          lit(true).as("en")), Seq("doc_id"), "left")
        .join(admission.select(col("doc_id"),
          col("admitted").as("adm"), col("first_match")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("q_pass"),
          coalesce(col("en"), lit(false)).as("exact_new"),
          coalesce(col("adm"), lit(false)).as("admitted"),
          col("first_match")))
      commitLedgers(w, verdictDir, fpsDir, bandsDir, sigsDir, scored, sk,
        verdict)
    }

  /** [[writer]] with the remaining production stage composed in: quality
    * gate → BENCHMARK DECONTAMINATION against the gram ledger
    * [[writeBenchGrams]] built at setup → exact dedup → approx near-dup
    * admission (the streaming form of q119, which gates the composed
    * semantics hash-exact against a four-wave unrolled DuckDB oracle).
    *
    * Decontamination runs BEFORE the dedup ledgers on purpose: a
    * contaminated doc never enters the fp/band/sig ledgers, so eval-set
    * text can never become the retained survivor that knocks out a CLEAN
    * near-copy. The stage is ledger-FREE on the stream side — the gram
    * set is fixed at-rest state probed via broadcast — so the per-wave
    * cost over [[writer]] is one map-side gram pass on that wave's
    * quality survivors, and the exactly-once argument is unchanged (the
    * verdict stays a pure function of (batch, committed ledgers, static
    * gram set)).
    */
  def decontamWriter(verdictDir: String, fpsDir: String, bandsDir: String,
      sigsDir: String, benchGramsDir: String, textCol: String,
      idCol: String, qualityThreshold: Double = 0.7,
      simThreshold: Double = 0.5, gramN: Int = 5,
      portable: Boolean = false,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    Wave.writer(compactEvery)(compactLedgers(_, fpsDir, bandsDir, sigsDir)) { w =>
      val scored = w.keep(scoredWave(w.batch, textCol, idCol))
      val qp = scored.filter(col("quality") >= qualityThreshold)
      // static at-rest state: never appended by this pipeline, so the
      // cached flags plan is safe from recacheByPath invalidation
      val benchGrams = w.spark.read.parquet(benchGramsDir)
      // a leaf, not a kept persist: the gram/broadcast subtree would
      // otherwise be re-ANALYZED by each of the wave's ~6 commit actions
      // (persist substitutes the cache only after analysis) — measured
      // +17 s/wave at sf0.1 with CPU flat, the q119 fold's driver-analysis
      // lesson in streaming form
      val flags = w.own(graft.pipeline.Curation.contaminationFlags(
        qp.select("id", "text"), benchGrams, "text", "id", gramN)
        .localCheckpoint())
      val exactNew = w.keep(firstNewPerFp(
        qp.join(flags.filter(!col("contaminated")).select("id"), Seq("id")),
        w.spark, fpsDir))
      val sk = w.keep(NearDupStream.sigSketch(exactNew, "text", "id", portable))
      val admission = Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, NearDupStream.ledgerBandsApprox(w.spark, bandsDir),
        NearDupStream.ledgerSigs(w.spark, sigsDir), simThreshold, w.keep,
        hotBandCap = 4096)
      val verdict = w.keep(scored
        .select(col("id").as("doc_id"), col("quality"),
          (col("quality") >= qualityThreshold).as("q_pass"))
        .join(flags.select(col("id").as("doc_id"),
          col("n_shared_grams"), col("contaminated")), Seq("doc_id"), "left")
        .join(exactNew.select(col("id").as("doc_id"),
          lit(true).as("en")), Seq("doc_id"), "left")
        .join(admission.select(col("doc_id"),
          col("admitted").as("adm"), col("first_match")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("q_pass"),
          col("n_shared_grams"),
          // flags rows exist iff q_pass — already (q_pass AND clean)
          coalesce(!col("contaminated"), lit(false)).as("clean"),
          coalesce(col("en"), lit(false)).as("exact_new"),
          coalesce(col("adm"), lit(false)).as("admitted"),
          col("first_match")))
      commitLedgers(w, verdictDir, fpsDir, bandsDir, sigsDir, scored, sk,
        verdict)
    }

  /** Quality + fingerprint in one pass over the batch source; every
    * downstream frame reads this (kept) frame, whose lineage is the batch
    * source only. */
  private def scoredWave(batch: DataFrame, textCol: String,
      idCol: String): DataFrame =
    batch.select(col(idCol).as("id"), col(textCol).as("text"),
      graft.text.TextFunctions.qualityScore(col(textCol)).as("quality"),
      graft.text.TextFunctions.fingerprint(col(textCol)).as("fp"))

  /** The exact stage: `docs` whose fingerprint the committed fp ledger
    * lacks, one per fingerprint (smallest id). */
  private def firstNewPerFp(docs: DataFrame, spark: SparkSession,
      fpsDir: String): DataFrame =
    docs
      .join(DedupStream.ledgerFps(spark, fpsDir).select("fp").distinct(),
        Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("id")))
      .filter(col("rn") === 1).drop("rn")

  /** Commit the verdict, then the bands → sigs → fps ledger deltas derived
    * from the committed verdict rows joined to the kept wave frames. */
  private def commitLedgers(w: Wave, verdictDir: String, fpsDir: String,
      bandsDir: String, sigsDir: String, scored: DataFrame, sk: DataFrame,
      verdict: DataFrame): Unit = {
    w.commit(verdictDir, verdict)
    val durable = w.committed(verdictDir)
    val admittedSk = sk.join(durable.filter(col("admitted"))
      .select(col("doc_id").as("id")), Seq("id"))
    w.commit(bandsDir, Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
    w.commit(sigsDir, admittedSk.select("id", "sig"))
    w.commit(fpsDir, scored.join(durable.filter(col("exact_new"))
      .select(col("doc_id").as("id")), Seq("id")).select("fp"))
  }
}
