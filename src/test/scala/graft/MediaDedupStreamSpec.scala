package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{IdempotentSink, MediaDedupStream}

/** Streaming multimodal (fingerprint) near-dup admission: verdicts equal
  * the brute-force reference protocol after every wave, kill/restart and
  * crash-window replays add nothing, compaction preserves results and
  * makes the candidate join's ledger side exchange-free, and the raw-image
  * writer decodes real PNGs inline.
  */
class MediaDedupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  /** Brute-force reference: reject iff within maxH of an ADMITTED doc or a
    * smaller-id doc of the same wave (raw); first_match = min matching id. */
  private def reference(waves: Seq[Seq[(Long, Long)]],
      maxH: Int): Map[Long, Option[Long]] = {
    val ledger = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val out = scala.collection.mutable.Map.empty[Long, Option[Long]]
    waves.foreach { w =>
      val verdicts = w.map { case (id, fp) =>
        val ms = (ledger.iterator ++ w.iterator.filter(_._1 < id))
          .filter(m => java.lang.Long.bitCount(fp ^ m._2) <= maxH)
          .map(_._1).toSeq
        (id, fp, if (ms.isEmpty) None else Some(ms.min))
      }
      verdicts.foreach { case (id, fp, fm) =>
        out(id) = fm
        if (fm.isEmpty) ledger += ((id, fp))
      }
    }
    out.toMap
  }

  private def got(verdictDir: String): Map[Long, Option[Long]] =
    MediaDedupStream.verdicts(spark, verdictDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.get(r.fieldIndex("first_match"))).map(_.asInstanceOf[Long]))
      .toMap

  // fingerprints with planted relations: hamming(a,b) via bit twiddles
  private val waves: Seq[Seq[(Long, Long)]] = Seq(
    Seq((1L, 0x0000000000000000L), (2L, 0xFFFFFFFFFFFFFFFFL),
      (3L, 0x00000000000000F0L)), // 3 far from both (hamming 4 to doc 1)
    Seq((10L, 0x0000000000000001L), // 1 bit from doc 1 -> reject, fm=1
      (11L, 0x0F0F0F0F0F0F0F0FL), // far from everything -> admit
      (12L, 0x0000000000000003L)), // 2 bits from 10 (RAW smaller id) -> reject, fm=10
    Seq((20L, 0xFFFFFFFFFFFFFFFEL), // 1 bit from doc 2 -> reject, fm=2
      (21L, 0x0F0F0F0F0F0F0F00L), // hamming 4 from 11 -> admit
      (22L, 0x00000000000000F1L))) // 1 bit from 3 (admitted) -> reject, fm=3

  test("3 waves, kill/restart per wave: verdicts == brute-force reference") {
    val root = freshDir("graft-media-stream")
    val in = s"$root/in"; val out = s"$root/out"
    val chunks = s"$root/chunks"; val ckpt = s"$root/ckpt"
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, dhash long")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(MediaDedupStream.writer(out, chunks, "doc_id", "dhash"))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "dhash").write.parquet(s"$in/wave$i")
      runCycle() // fresh AvailableNow query per wave = kill-and-restart
      assert(got(out) == reference(waves.take(i + 1), 3),
        s"verdicts diverge from the reference protocol after wave $i")
    }
    // ledger holds exactly the admitted docs' chunk rows (4 per doc)
    val admitted = reference(waves, 3).collect { case (id, None) => id }.toSet
    val ledgerIds = MediaDedupStream.ledgerChunks(spark, chunks)
      .select("id").as[Long].collect()
    assert(ledgerIds.toSet == admitted)
    assert(ledgerIds.length == admitted.size * 4)
    // restart with no new input: nothing appended
    val batches = IdempotentSink.committedBatches(spark, out)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, out) == batches)
  }

  test("crash window: verdict committed, chunks missing — replay completes identically") {
    val root = freshDir("graft-media-crash")
    val out = s"$root/out"; val chunks = s"$root/chunks"
    val w = MediaDedupStream.writer(out, chunks, "doc_id", "dhash")
    w(waves(0).toDF("doc_id", "dhash"), 0L)
    // simulate the crash: run wave 1's verdict sink only (the real writer
    // dies between the two sinks) by replaying AFTER deleting the chunk
    // batch + marker
    w(waves(1).toDF("doc_id", "dhash"), 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$chunks/batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$chunks/_committed-1"), false)
    val verdictsAfterCrash = got(out)
    // replay: verdict marker hit (no rewrite), chunk batch rebuilt from
    // the identical recomputation
    w(waves(1).toDF("doc_id", "dhash"), 1L)
    assert(got(out) == verdictsAfterCrash, "replay must not change verdicts")
    assert(got(out) == reference(waves.take(2), 3))
    assert(IdempotentSink.committedBatches(spark, chunks) == Seq(0L, 1L))
    // wave 2 admits against the healed ledger
    w(waves(2).toDF("doc_id", "dhash"), 2L)
    assert(got(out) == reference(waves, 3))
  }

  test("compaction: verdicts unchanged, candidate join ledger-side exchange-free") {
    val root = freshDir("graft-media-compact")
    val out = s"$root/out"; val chunks = s"$root/chunks"
    val w = MediaDedupStream.writer(out, chunks, "doc_id", "dhash")
    waves.take(2).zipWithIndex.foreach { case (wv, i) =>
      w(wv.toDF("doc_id", "dhash"), i.toLong) }
    assert(MediaDedupStream.compactLedger(spark, chunks).isDefined)
    assert(MediaDedupStream.ledgerChunks(spark, chunks).count() ==
      reference(waves.take(2), 3).count(_._2.isEmpty) * 4)
    // wave 2 against the compacted ledger: same verdicts as uncompacted
    w(waves(2).toDF("doc_id", "dhash"), 2L)
    assert(got(out) == reference(waves, 3))
    // the 100 TB contract: the admission plan's ledger side arrives
    // pre-bucketed on (chunk, ckey) — no ShuffleExchange above the scan
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val verdict = graft.dedup.Dedup.fingerprintAdmit(
        waves(2).toDF("doc_id", "dhash"), "doc_id", "dhash",
        MediaDedupStream.ledgerChunks(spark, chunks))
      verdict.write.format("noop").mode("overwrite").save()
      // "exchange-free" means the LEDGER ROWS never reshuffle: no
      // ShuffleExchange whose input is the ledger scan through only
      // row-preserving ops (project/filter/union). Shuffles of DERIVED
      // data (the candidate pairs' groupBy) are wave-sized and fine —
      // here the planner broadcasts the wave probe, so the ledger
      // streams through the join with zero exchange of any kind.
      import org.apache.spark.sql.execution._
      def isLedgerRows(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.toString.contains("graft_ledger_")
        case _: ProjectExec | _: FilterExec | _: UnionExec |
             _: ColumnarToRowExec | _: InputAdapter |
             _: WholeStageCodegenExec =>
          p.children.exists(isLedgerRows)
        case _ => false // join/aggregate boundary: no longer the ledger
      }
      val reshuffled = verdict.queryExecution.executedPlan.exists {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          isLedgerRows(e.child)
        case _ => false
      }
      assert(!reshuffled, "compacted chunk ledger must never reshuffle:\n" +
        verdict.queryExecution.executedPlan)
      val scans = verdict.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("graft_ledger_") => f }
      assert(scans.nonEmpty, "expected a compacted-table scan in the plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("clusterWriter: ledger-maintained clusters == from-scratch after every wave; kill/restart adds nothing") {
    val root = freshDir("graft-media-clusters")
    val labels = s"$root/labels"; val merges = s"$root/merges"
    val chunks = s"$root/chunks"
    val w = MediaDedupStream.clusterWriter(labels, merges, chunks,
      "doc_id", "dhash", compactEvery = 2)
    def fromScratch(upTo: Int): Map[Long, (Long, Long)] = {
      val fps = waves.take(upTo).flatten.toDF("doc_id", "dhash")
      val pairs = graft.dedup.Dedup.hammingClusterEdges(
        fps, "doc_id", "dhash", maxHamming = 3)
      val cc = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .toDF("doc_id", "comp")
      val sizes = cc.groupBy("comp").count()
      cc.join(sizes, "comp").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("comp"), r.getAs[Long]("count")))).toMap
    }
    waves.zipWithIndex.foreach { case (wv, i) =>
      w(wv.toDF("doc_id", "dhash"), i.toLong)
      val got = graft.streaming.NearDupStream
        .clusterAssignments(spark, labels, merges).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("comp"), r.getAs[Long]("csize")))).toMap
      assert(got == fromScratch(i + 1),
        s"ledger clusters diverge from from-scratch after wave $i")
      // replay the wave (kill/restart): markers hit, nothing changes
      w(wv.toDF("doc_id", "dhash"), i.toLong)
      assert(graft.streaming.NearDupStream
        .clusterAssignments(spark, labels, merges).collect()
        .map(r => r.getAs[Long]("doc_id")).toSet == got.keySet)
    }
  }

  test("imageWriter: real PNG decode inline, verdicts match the dHash protocol") {
    val root = freshDir("graft-media-image")
    val out = s"$root/out"; val chunks = s"$root/chunks"
    val docs = Seq(
      (0L, "alpha doc"), (1L, "alpha doc"), // identical text -> identical PNG
      (2L, "gamma completely different")).toDF("doc_id", "text")
    val media = graft.multimodal.Multimodal.syntheticPngTable(spark, docs)
    MediaDedupStream.imageWriter(out, chunks)(media, 0L)
    val v = got(out)
    assert(v(1L) == Some(0L), "identical image must reject with first_match=0")
    assert(v(0L).isEmpty, "first copy admits")
    // second wave: the same image as doc 0 arrives again -> rejected
    // against the LEDGER
    MediaDedupStream.imageWriter(out, chunks)(
      graft.multimodal.Multimodal.syntheticPngTable(spark,
        Seq((10L, "alpha doc")).toDF("doc_id", "text")), 1L)
    assert(got(out)(10L) == Some(0L))
  }

  test("imageWriter: undecodable payload is quarantined, stream does not wedge") {
    val root = freshDir("graft-media-poison")
    val out = s"$root/out"; val chunks = s"$root/chunks"
    val goodPng = graft.multimodal.Multimodal.syntheticPngTable(spark,
      Seq((0L, "alpha doc")).toDF("doc_id", "text"))
      .select("doc_id", "bytes")
    val poison = Seq(
      (1L, Array[Byte](0x13, 0x37, -1, 0, 42)), // garbage, not an image
      (2L, Array.empty[Byte]))                   // empty payload
      .toDF("doc_id", "bytes")
    // the poison batch must COMMIT (no throw), quarantining the bad docs
    MediaDedupStream.imageWriter(out, chunks)(
      goodPng.unionByName(poison), 0L)
    val v = MediaDedupStream.verdicts(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("admitted"),
          Option(r.get(r.fieldIndex("first_match")))))).toMap
    assert(v(0L) == ((true, None)), "decodable doc admits normally")
    assert(v(1L) == ((false, Some(MediaDedupStream.QuarantinedMatch))))
    assert(v(2L) == ((false, Some(MediaDedupStream.QuarantinedMatch))))
    // quarantined docs never enter the ledger
    assert(MediaDedupStream.ledgerChunks(spark, chunks)
      .select("id").as[Long].collect().toSet == Set(0L))
    // replay is deterministic: marker hit, verdicts unchanged
    MediaDedupStream.imageWriter(out, chunks)(
      goodPng.unionByName(poison), 0L)
    assert(MediaDedupStream.verdicts(spark, out).count() == 3)
    // a later wave is unaffected by the quarantine rows: a dup of the
    // admitted doc still rejects against the ledger
    MediaDedupStream.imageWriter(out, chunks)(
      graft.multimodal.Multimodal.syntheticPngTable(spark,
        Seq((10L, "alpha doc")).toDF("doc_id", "text"))
        .select("doc_id", "bytes"), 1L)
    assert(MediaDedupStream.verdicts(spark, out).collect()
      .find(_.getAs[Long]("doc_id") == 10L)
      .exists(r => !r.getAs[Boolean]("admitted") &&
        r.getAs[Long]("first_match") == 0L))
  }

  test("imageWriter: a codec plugin throwing an UNCHECKED exception is " +
      "quarantined too") {
    // the JDK's own readers wrap most decode errors in IIOException
    // (checked), but third-party codec plugins leak unchecked throws
    // (ArrayIndexOutOfBounds, CMMException, IllegalArgument...) on
    // adversarial payloads. Register one that does exactly that for a
    // magic byte pattern — ImageIO.read dispatches to it through the
    // JVM-global registry (local-mode executors share the JVM), so this
    // drives the REAL decode seam, not a mock of it.
    val registry = javax.imageio.spi.IIORegistry.getDefaultInstance
    val spi = new PoisonImageReaderSpi
    registry.registerServiceProvider(spi)
    try {
      val root = freshDir("graft-media-poison-unchecked")
      val out = s"$root/out"; val chunks = s"$root/chunks"
      val goodPng = graft.multimodal.Multimodal.syntheticPngTable(spark,
        Seq((0L, "alpha doc")).toDF("doc_id", "text"))
        .select("doc_id", "bytes")
      val poison = Seq(
        (1L, "GRFT".getBytes("UTF-8") ++ Array[Byte](1, 2, 3)))
        .toDF("doc_id", "bytes")
      // must COMMIT (no throw) despite the plugin's unchecked throw
      MediaDedupStream.imageWriter(out, chunks)(
        goodPng.unionByName(poison), 0L)
      val v = MediaDedupStream.verdicts(spark, out).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("admitted"),
            Option(r.get(r.fieldIndex("first_match")))))).toMap
      assert(v(0L) == ((true, None)), "decodable doc admits normally")
      assert(v(1L) == ((false, Some(MediaDedupStream.QuarantinedMatch))),
        s"unchecked-throwing payload must quarantine: $v")
      assert(MediaDedupStream.ledgerChunks(spark, chunks)
        .select("id").as[Long].collect().toSet == Set(0L))
    } finally registry.deregisterServiceProvider(spi)
  }
}

/** Test-only ImageIO plugin claiming payloads that start with "GRFT" and
  * throwing an UNCHECKED exception from read() — the adversarial-codec
  * shape MediaDedupStreamSpec's quarantine-totality case drives through
  * the real ImageIO dispatch. */
class PoisonImageReaderSpi extends javax.imageio.spi.ImageReaderSpi(
    "graft-test", "1.0", Array("grft-poison"), Array("grft"),
    Array("image/x-grft-poison"), classOf[PoisonImageReader].getName,
    Array[Class[_]](classOf[javax.imageio.stream.ImageInputStream]),
    null, false, null, null, null, null, false, null, null, null, null) {
  override def canDecodeInput(source: Object): Boolean = source match {
    case s: javax.imageio.stream.ImageInputStream =>
      s.mark()
      try {
        val b = new Array[Byte](4)
        s.readFully(b)
        java.util.Arrays.equals(b, "GRFT".getBytes("UTF-8"))
      } catch { case _: Exception => false }
      finally s.reset()
    case _ => false
  }
  override def createReaderInstance(ext: Object): javax.imageio.ImageReader =
    new PoisonImageReader(this)
  override def getDescription(l: java.util.Locale): String =
    "graft test: unchecked-throwing poison reader"
}

class PoisonImageReader(spi: javax.imageio.spi.ImageReaderSpi)
    extends javax.imageio.ImageReader(spi) {
  override def getNumImages(allowSearch: Boolean): Int = 1
  override def getWidth(i: Int): Int = 1
  override def getHeight(i: Int): Int = 1
  override def getImageTypes(i: Int)
      : java.util.Iterator[javax.imageio.ImageTypeSpecifier] =
    java.util.Collections.emptyIterator()
  override def getStreamMetadata: javax.imageio.metadata.IIOMetadata = null
  override def getImageMetadata(i: Int): javax.imageio.metadata.IIOMetadata =
    null
  override def read(i: Int, p: javax.imageio.ImageReadParam)
      : java.awt.image.BufferedImage =
    throw new ArrayIndexOutOfBoundsException(
      "adversarial codec plugin: unchecked throw from decode")
}
