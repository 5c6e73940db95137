package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType,
  StructField, StructType}

import graft.dedup.Dedup

/** Streaming MULTIMODAL near-dup admission: the streaming form of
  * [[graft.dedup.Dedup.fingerprintAdmit]] (q114), closing the
  * incremental/streaming gap for the media family — each micro-batch's
  * media documents are admitted unless their 64-bit perceptual
  * fingerprint (image dHash, audio fingerprint, any
  * [[graft.dedup.Dedup.hammingPairs]]-compatible sketch) lies within
  * `maxHamming` of anything ALREADY ADMITTED or a smaller id in the same
  * batch, with exactly-once output. Decode/fingerprint extraction is a
  * stateless per-batch map ([[imageWriter]] runs the real ImageIO →
  * dHash pass inline); admission state is the fingerprints, never the
  * payloads.
  *
  * State = ONE persisted chunk ledger (the [[DedupStream]] argument
  * against state stores): (chunk, ckey, id, fp) pigeonhole rows of
  * admitted docs, 4 rows × 16 bytes per doc — the fingerprint rides in
  * the row, so admission is a single candidate equi-join + aggregate
  * with no lookaside sig/sset ledger (8-byte fingerprints are cheaper
  * denormalized than joined). [[compactLedger]] absorbs the per-batch
  * dirs into ONE (chunk, ckey)-bucketed table, so the per-batch
  * candidate join's ledger side plans with zero Exchange (spec-pinned).
  * Hot buckets cannot develop: admitted fingerprints are pairwise
  * > maxHamming apart by construction, so no two ledger rows ever share
  * an identical fingerprint.
  *
  * Exactly-once across crash/replay by [[Wave]]'s argument: admission is
  * a pure function of (batch fingerprints, COMMITTED ledger), the verdict
  * commits first, and the chunk delta is derived from the committed
  * verdict rows.
  */
object MediaDedupStream {

  val ChunksSchema: StructType = StructType(Seq(
    StructField("chunk", IntegerType),
    StructField("ckey", LongType),
    StructField("id", LongType),
    StructField("fp", LongType)))

  private val VerdictSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("admitted", BooleanType),
    StructField("first_match", LongType)))

  /** Committed chunk ledger (typed-empty on cold start): the
    * (chunk, ckey)-bucketed compacted table unioned with dirs committed
    * since — the table alone, partitioning intact, once fully compacted. */
  def ledgerChunks(spark: SparkSession, chunksDir: String): DataFrame =
    LedgerCompaction.read(spark, chunksDir, ChunksSchema)

  /** Committed verdicts across all batches. */
  def verdicts(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir, Some(VerdictSchema))

  /** Compact the chunk ledger into one (chunk, ckey)-bucketed table —
    * same maintenance cadence and crash-safety contract as
    * [[DedupStream.compactLedger]]. */
  def compactLedger(spark: SparkSession, chunksDir: String,
      buckets: Int = 8): Option[String] =
    LedgerCompaction.compact(spark, chunksDir, ChunksSchema,
      Seq("chunk", "ckey"), buckets)

  /** `first_match` value marking a QUARANTINED doc — one whose
    * fingerprint is null (e.g. an undecodable payload in [[imageWriter]]).
    * Real doc ids are non-negative, dup rejects carry the matched id, so
    * -1 is unambiguous: consumers can split decode-rejects from
    * dup-rejects on `first_match = -1` alone. */
  val QuarantinedMatch: Long = -1L

  /** The `foreachBatch` function over batches that already carry a
    * fingerprint column:
    * {{{
    * fps.writeStream.foreachBatch(
    *   MediaDedupStream.writer(out, chunks, "doc_id", "dhash"))
    * }}}
    * Emits one (doc_id, admitted, first_match) verdict row per batch doc
    * under `verdictDir/batch=<id>` and the chunk rows of ADMITTED docs
    * under `chunksDir/batch=<id>`.
    *
    * NULL fingerprints are QUARANTINED, not thrown on: a long-running
    * stream must never hard-fail inside the micro-batch (the batch could
    * then never commit and every replay would re-throw — the
    * [[graft.dedup.IncrementalClusters]] principle). A null-fp doc gets a
    * verdict row (admitted=false, first_match=[[QuarantinedMatch]]) and
    * never enters the admission kernel or the ledger, so it can neither
    * be admitted nor block a later doc. Replay-deterministic: quarantine
    * is a pure function of the batch.
    */
  def writer(verdictDir: String, chunksDir: String, idCol: String,
      fpCol: String, maxHamming: Int = 3,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    Wave.writer(compactEvery)(compactLedger(_, chunksDir)) { w =>
      val all = w.keep(w.batch.select(col(idCol).as("id"), col(fpCol).as("fp")))
      val fps = all.filter(col("fp").isNotNull)
      val quarantined = all.filter(col("fp").isNull)
        .select(col("id").as("doc_id"), lit(false).as("admitted"),
          lit(QuarantinedMatch).as("first_match"))
      // hotChunkCap = 4096: the long-lived at-rest chunk ledger is the
      // hot-bucket-guard exposure (an adversarial storm can fix one
      // 16-bit chunk value and stay admitted — Dedup.fingerprintMatches)
      val verdict = w.keep(Dedup.fingerprintAdmit(fps, "id", "fp",
        ledgerChunks(w.spark, chunksDir), maxHamming,
        scope = w.keep, hotChunkCap = 4096).unionByName(quarantined))
      w.commit(verdictDir, verdict)
      val admitted = fps.join(
        NearDupStream.admittedIds(w, verdictDir), Seq("id"))
      w.commit(chunksDir, Dedup.fingerprintChunkRows(admitted, "id", "fp"))
    }

  /** Incremental media CLUSTER maintenance — [[NearDupStream.clusterWriter]]
    * with the fingerprint edge kernel
    * ([[graft.dedup.Dedup.fingerprintVerifiedPairs]]): each wave's
    * hamming-≤-`maxHamming` edges fold into the SAME label/merge cluster
    * ledgers as the text and semantic families
    * ([[graft.dedup.IncrementalClusters]] is edge-source-agnostic), so
    * cluster assignments ([[NearDupStream.clusterAssignments]]) stay
    * current per wave instead of re-running the corpus-wide pair plan.
    * The chunk ledger here holds ALL docs (clusters are over the full
    * corpus), unlike [[writer]]'s admitted-only ledger. Gated by q115
    * (the batch fold against q85's brute-force closure oracle) and the
    * MediaDedupStreamSpec wave-parity case. Same labels → merges →
    * chunks commit order and replay argument as the text cluster
    * writers: the fold is eager and its label/merge outputs are
    * driver-built frames with no ledger lineage.
    */
  def clusterWriter(labelsDir: String, mergesDir: String, chunksDir: String,
      idCol: String, fpCol: String, maxHamming: Int = 3,
      compactEvery: Int = 16): (DataFrame, Long) => Unit =
    Wave.writer(compactEvery)(
        compactClusterLedgers(_, labelsDir, mergesDir, chunksDir)) { w =>
      val fps = w.keep(w.batch.select(col(idCol).as("id"), col(fpCol).as("fp")))
      val edges = w.keep(Dedup.fingerprintVerifiedPairs(
        fps, "id", "fp", ledgerChunks(w.spark, chunksDir), maxHamming,
        scope = w.keep, hotChunkCap = 4096))
      val (labelRows, mergeRows) =
        graft.dedup.IncrementalClusters.foldEdgeFrame(
          fps, edges, NearDupStream.ledgerLabels(w.spark, labelsDir),
          NearDupStream.ledgerMerges(w.spark, mergesDir), w.keep)
      w.commit(labelsDir, w.own(labelRows))
      w.commit(mergesDir, w.own(mergeRows))
      w.commit(chunksDir, Dedup.fingerprintChunkRows(fps, "id", "fp"))
    }

  /** Cluster-ledger maintenance for the media deployment: the shared
    * cluster state ([[NearDupStream.compactClusterState]]), chunks
    * (chunk, ckey)-bucketed. */
  def compactClusterLedgers(spark: SparkSession, labelsDir: String,
      mergesDir: String, chunksDir: String, buckets: Int = 8)
      : (Option[String], Option[String], Option[String]) = {
    val (l, m) = NearDupStream.compactClusterState(spark, labelsDir,
      mergesDir, buckets)
    (l, m, compactLedger(spark, chunksDir, buckets))
  }

  /** [[writer]] over RAW IMAGE batches (doc_id, bytes): the real
    * ImageIO-decode → dHash pass runs inline as a stateless
    * partition-local map (bytes never on the driver, decoded exactly
    * once per batch — admission state is fingerprints, not payloads).
    * An UNDECODABLE payload (ImageIO returns null or throws) maps to a
    * null fingerprint and is QUARANTINED by [[writer]]
    * (admitted=false, first_match=[[QuarantinedMatch]]) rather than
    * thrown on — a throw here would wedge the stream permanently: the
    * batch could never commit and every replay would re-decode the same
    * poison payload and re-throw. */
  def imageWriter(verdictDir: String, chunksDir: String,
      maxHamming: Int = 3, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      import batch.sparkSession.implicits._
      val fps = batch.select(col("doc_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            // NonFatal, not just IOException: codec plugins throw
            // unchecked exceptions on adversarial payloads too
            // (ArrayIndexOutOfBounds, CMMException, IllegalArgument...) —
            // any of them uncaught is the poison-pill wedge the
            // quarantine contract exists to close
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
            (id, if (img == null) None
                 else Some(graft.multimodal.Multimodal.dHash64(img)))
          }
        }.toDF("doc_id", "dhash")
      writer(verdictDir, chunksDir, "doc_id", "dhash", maxHamming,
        compactEvery)(fps, batchId)
    }
}
