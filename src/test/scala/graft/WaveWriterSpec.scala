package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Bm25Stream, CurationStream, DedupStream,
  IdempotentSink, MediaDedupStream, NearDupStream, SemanticStream}

/** Every ledger writer in `graft.streaming`, through one table:
  *
  *  - crash windows: after waves 0 and 1 (run in a reference root and
  *    copied to a second one), each prefix of wave 1's commit order is
  *    kept in the copy, the later sinks' `_committed-1` markers and
  *    `batch=1` dirs are deleted, and wave 1 replays; every sink must then
  *    hold exactly the reference's rows, and still after wave 2 on both;
  *  - persists: no wave (replays included, and a wave whose input column
  *    throws) leaves a persistent RDD behind — [[TransientCacheSpec]]'s
  *    order-independent gauge, diffed around every wave.
  */
class WaveWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A writer under test: its sink dirs in commit order, and the writer
    * over a root dir. */
  private case class Writer(name: String, sinks: Seq[String],
      input: () => Input, make: String => (DataFrame, Long) => Unit)

  /** Three waves, and per writer a wave whose `poisonCol` throws on one
    * row. All are parquet-backed, as a file source's micro-batches are, so
    * the throw happens in tasks, not while planning. Each writer gets its
    * own poison files: a plan another test leaked would otherwise be
    * cached already, and its persist would add nothing to the gauge. */
  private case class Input(waves: Seq[DataFrame], poison: String => DataFrame)

  private lazy val inputs = TestSpark.freshDir("graft-wave-inputs")

  private def input(tag: String, waves: Seq[DataFrame], poison: DataFrame,
      poisonId: String, poisonCol: String): Input = {
    def landed(name: String, df: DataFrame) = {
      df.write.parquet(s"$inputs/$tag-$name")
      spark.read.parquet(s"$inputs/$tag-$name")
    }
    Input(waves.zipWithIndex.map { case (w, i) => landed(s"w$i", w) },
      writer => landed(s"poison-$writer", poison).withColumn(poisonCol,
        when(col(poisonId) === 31L, raise_error(lit("poisoned row")))
          .otherwise(col(poisonCol))))
  }

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest before the sun sets tonight"
  private val other = "completely different words about spark engines " +
    "processing massive parquet datasets with shuffles joins and windows"
  private val fresh = "entirely novel content mentioning trains stations and " +
    "platforms arriving every few minutes across the network tonight"
  private val longB = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"

  // near-dups within and across waves, an exact copy, a low-quality doc
  // and a benchmark-contaminated family (longB), so every stage of every
  // text writer reads the ledgers wave 0 committed
  private lazy val text = input("text", Seq(
    Seq(0L -> base, 1L -> other, 2L -> "spam spam spam spam"),
    Seq(10L -> base.replace("green", "dark"), 11L -> fresh,
      12L -> fresh.replace("minutes", "moments"), 13L -> base, 14L -> longB),
    Seq(20L -> fresh.replace("network", "district"),
      21L -> other.replace("windows", "sinks"), 22L -> (longB + " nineteen")))
    .map(_.toDF("doc_id", "text")),
    Seq(30L -> fresh, 31L -> other).toDF("doc_id", "text"), "doc_id", "text")

  private lazy val benchGrams = {
    val dir = s"$inputs/bench-grams"
    CurationStream.writeBenchGrams(
      Seq((900L, "one two three four five benchmark suffix words"))
        .toDF("doc_id", "text"), "text", "doc_id", dir)
    dir
  }

  // hamming relations as in MediaDedupStreamSpec: rejects against the
  // ledger and within the wave, and admits
  private lazy val media = input("media", Seq(
    Seq(1L -> 0x0L, 2L -> 0xFFFFFFFFFFFFFFFFL, 3L -> 0xF0L),
    Seq(10L -> 0x1L, 11L -> 0x0F0F0F0F0F0F0F0FL, 12L -> 0x3L),
    Seq(20L -> 0xFFFFFFFFFFFFFFFEL, 21L -> 0x0F0F0F0F0F0F0F00L, 22L -> 0xF1L))
    .map(_.toDF("doc_id", "fp")),
    Seq(30L -> 0x7L, 31L -> 0x8L).toDF("doc_id", "fp"), "doc_id", "fp")

  // SemanticStreamSpec's unit vectors: vy/vx share cell 1 at cos 0.92, vz
  // bridges them, vw/vu share cell 2 at cos 0.9
  private val vx = Seq(1f, 0f, 0f, 0f)
  private val vy = Seq(0.92f, 0.392f, 0f, 0f)
  private val vz = Seq(0.97979f, 0.200041f, 0f, 0f)
  private val vw = Seq(0f, 1f, 0f, 0f)
  private val vu = Seq(0f, 0.9f, 0.43589f, 0f)
  private lazy val centroids = Seq((1, vx), (2, vw)).toDF("cell", "cvec")
  private lazy val evalSet = Seq((100L, vu)).toDF("vec_id", "embedding")
  private lazy val vectors = input("vec", Seq(
    Seq(0L -> vx, 1L -> vw),
    Seq(10L -> vy, 11L -> vx, 12L -> vu),
    Seq(20L -> vz, 21L -> vu))
    .map(_.toDF("vec_id", "embedding")),
    Seq(30L -> vy, 31L -> vw).toDF("vec_id", "embedding"), "vec_id",
    "embedding")

  private val writers: Seq[Writer] = Seq(
    Writer("DedupStream.writer", Seq("survivors", "fps"), () => text,
      r => DedupStream.writer(s"$r/survivors", s"$r/fps", "text", "doc_id")),
    Writer("NearDupStream.writer", Seq("verdicts", "bands", "sets"),
      () => text, r => NearDupStream.writer(s"$r/verdicts", s"$r/bands",
        s"$r/sets", "text", "doc_id")),
    Writer("NearDupStream.approxWriter", Seq("verdicts", "bands", "sigs"),
      () => text, r => NearDupStream.approxWriter(s"$r/verdicts",
        s"$r/bands", s"$r/sigs", "text", "doc_id")),
    Writer("NearDupStream.clusterWriter",
      Seq("labels", "merges", "bands", "sigs"), () => text,
      r => NearDupStream.clusterWriter(s"$r/labels", s"$r/merges",
        s"$r/bands", s"$r/sigs", "text", "doc_id", threshold = 0.35)),
    Writer("NearDupStream.clusterWriterExact",
      Seq("labels", "merges", "bands", "sets"), () => text,
      r => NearDupStream.clusterWriterExact(s"$r/labels", s"$r/merges",
        s"$r/bands", s"$r/sets", "text", "doc_id", threshold = 0.35)),
    Writer("SemanticStream.writer",
      Seq("labels", "merges", "members", "reps", "fps"), () => vectors,
      r => SemanticStream.writer(s"$r/labels", s"$r/merges", s"$r/members",
        s"$r/reps", s"$r/fps", "embedding", "vec_id", centroids)),
    Writer("SemanticStream.admitWriter", Seq("verdicts", "reps"),
      () => vectors, r => SemanticStream.admitWriter(s"$r/verdicts",
        s"$r/reps", "embedding", "vec_id", centroids, evalSet,
        dupThreshold = 0.89)),
    Writer("CurationStream.writer", Seq("verdicts", "bands", "sigs", "fps"),
      () => text, r => CurationStream.writer(s"$r/verdicts", s"$r/fps",
        s"$r/bands", s"$r/sigs", "text", "doc_id")),
    Writer("CurationStream.decontamWriter",
      Seq("verdicts", "bands", "sigs", "fps"), () => text,
      r => CurationStream.decontamWriter(s"$r/verdicts", s"$r/fps",
        s"$r/bands", s"$r/sigs", benchGrams, "text", "doc_id")),
    Writer("MediaDedupStream.writer", Seq("verdicts", "chunks"),
      () => media, r => MediaDedupStream.writer(s"$r/verdicts",
        s"$r/chunks", "doc_id", "fp")),
    Writer("MediaDedupStream.clusterWriter",
      Seq("labels", "merges", "chunks"), () => media,
      r => MediaDedupStream.clusterWriter(s"$r/labels", s"$r/merges",
        s"$r/chunks", "doc_id", "fp")),
    Writer("Bm25Stream.writer", Seq("postings", "stats", "totals"),
      () => text, r => Bm25Stream.writer(s"$r/postings", s"$r/stats",
        s"$r/totals", "text", "doc_id")))

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  /** Run one wave and assert it left no persistent RDD behind. */
  private def wave(w: (DataFrame, Long) => Unit, batch: DataFrame,
      batchId: Long, what: String): Unit = {
    val before = persisted
    w(batch, batchId)
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"$what left persisted RDDs $leaked")
  }

  /** Every sink's committed rows, batch column included. */
  private def state(root: String, sinks: Seq[String]): Map[String, Seq[String]] =
    sinks.map { s =>
      s -> IdempotentSink.readCommitted(spark, s"$root/$s")
        .collect().map(_.toString).sorted.toSeq
    }.toMap

  writers.foreach { wr =>
    test(s"${wr.name}: every commit-order prefix replays to the uncrashed " +
        "ledgers, and no wave leaks a persist, a throwing one included") {
      val in = wr.input()
      val ref = TestSpark.freshDir("graft-wave-ref")
      val crashed = TestSpark.freshDir("graft-wave-crash")
      val wRef = wr.make(ref)
      val wCrashed = wr.make(crashed)
      val fs = new Path(crashed)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (i <- 0 to 1) wave(wRef, in.waves(i), i, s"wave $i")
      // the run to crash: a copy of the reference after waves 0 and 1
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(ref), new java.io.File(crashed))
      val want = state(ref, wr.sinks)
      assert(want.values.exists(_.nonEmpty), "the fixture commits rows")
      for (k <- wr.sinks.indices) {
        val lost = wr.sinks.drop(k)
        for (s <- lost) {
          assert(fs.delete(new Path(s"$crashed/$s/_committed-1"), false))
          assert(fs.delete(new Path(s"$crashed/$s/batch=1"), true))
        }
        wave(wCrashed, in.waves(1), 1L, s"replay losing ${lost.mkString(",")}")
        assert(state(crashed, wr.sinks) == want,
          s"replay after a kill that lost ${lost.mkString(", ")}")
      }
      wave(wRef, in.waves(2), 2L, "reference wave 2")
      wave(wCrashed, in.waves(2), 2L, "wave 2")
      assert(state(crashed, wr.sinks) == state(ref, wr.sinks),
        "the wave after the replays")
      val before = persisted
      val thrown = intercept[Exception](wCrashed(in.poison(wr.name), 3L))
      assert(Iterator.iterate[Throwable](thrown)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("poisoned row")),
        s"the wave failed on its poisoned row: $thrown")
      val leaked = persisted -- before
      assert(leaked.isEmpty, s"the throwing wave left persisted RDDs $leaked")
    }
  }
}
