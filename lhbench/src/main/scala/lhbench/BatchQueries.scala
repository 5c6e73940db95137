package lhbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.TransientCache

/** `batch_queries`: passes over the flagship headway mart and the most
  * expensive incremental LLM-pipeline queries, each through
  * `SparkEntry.queries` into the noop sink with `TransientCache.clear()`
  * before it. Closed loop, one caller. Inputs are generated from the seed
  * at `Docs` documents (sf0.1 has 5000), with embeddings and events scaled
  * alike.
  */
final class BatchQueries(seed: Long) extends Workload {
  import BatchQueries._
  private var dir = ""
  private val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val persistedAfterClear = mutable.ArrayBuffer.empty[Double]
  private val ckptAfterClear = mutable.ArrayBuffer.empty[Double]
  private val serial = mutable.Map.empty[String, Double]
  private def in = s"$dir/in"

  private def clear(spark: SparkSession, t: Tracer, tag: String): Unit = {
    t.call("core.cache_clear", tag)(TransientCache.clear())
    if (t.traced) {
      persistedAfterClear += spark.sparkContext.getPersistentRDDs.size.toDouble
      ckptAfterClear += spark.sparkContext.getCheckpointDir.map { d =>
        val f = new java.io.File(new java.net.URI(d))
        Option(f.list()).map(_.length).getOrElse(0)
      }.getOrElse(0).toDouble
    }
  }

  def prepare(spark: SparkSession, t: Tracer, root: String): Unit = {
    dir = root
    Corpus.documents(spark, seed, Docs).coalesce(1).write.parquet(s"$in/documents.parquet")
    Corpus.embeddings(spark, seed, Docs * 2 / 5).coalesce(1).write.parquet(s"$in/embeddings.parquet")
    Corpus.events(spark, seed, Docs * 20, Docs * 3 / 10).coalesce(1).write.parquet(s"$in/events.parquet")
  }

  /** Two passes (the first cold pass runs ~2x slower than steady state,
    * the second ~1.4x); the first writes every query's output for the
    * oracle check.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit = {
    Queries.foreach { q =>
      TransientCache.clear()
      t.call(s"query.$q", "warmup")(SparkEntry.queries(q)(spark, in).write.parquet(s"$dir/out/$q"))
    }
    Queries.foreach { q =>
      TransientCache.clear()
      t.call(s"query.$q", "warmup")(SparkEntry.queries(q)(spark, in).write.format("noop").mode("overwrite").save())
    }
    TransientCache.clear()
  }

  /** Whole passes until `seconds` have passed. */
  def measure(spark: SparkSession, t: Tracer, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (((System.nanoTime() - t0) / 1e9 < seconds || i % Queries.size != 0) && !t.aborted) {
      val q = Queries(i % Queries.size)
      clear(spark, t, s"pass${i / Queries.size}")
      t.call(s"query.$q", s"pass${i / Queries.size}")(
        SparkEntry.queries(q)(spark, in).write.format("noop").mode("overwrite").save())
      if (!t.spans.last.failed)
        walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty[Double]) += t.spans.last.wallMs
      i += 1
    }
  }

  /** The outputs [[warmup]] wrote are compared with DuckDB by run.py. */
  def check(spark: SparkSession, t: Tracer): Unit = {
    val sql = Queries.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    Files.write(Paths.get(s"$dir/out/oracle_sql.json"), sql.getBytes(UTF_8))
  }

  override def pending: String =
    s"""[{"tables":${Json.str(in)},"outputs":${Json.str(s"$dir/out")}}]"""

  private def perQueryMedian: Map[String, Double] = walls.map { case (q, ws) => q -> Stats.median(ws.toSeq) }.toMap

  /** Latency is the median over queries of each query's median call;
    * the cycle is one pass, the sum of those medians.
    */
  def e2e: Map[String, Double] = {
    Map("latency_p50_s" -> Stats.median(perQueryMedian.values.toSeq) / 1e3,
      "cycle_p50_s" -> perQueryMedian.values.sum / 1e3)
  }

  def samples: Map[String, Seq[Double]] = walls.map { case (q, w) => q -> w.toSeq }.toMap

  def layers(t: Tracer, spark: SparkSession): Map[String, Double] = {
    val measured = t.spans.filter(_.tag.startsWith("pass")).toSeq
    val perQuery = Queries.flatMap { q =>
      t.measures(measured.filter(_.name == s"query.$q")).collect {
        case (k, v) if k != "jobs" => s"query.$q.$k" -> v
      }
    }.toMap
    perQuery ++ Map(
      "core.cache_clear_ms" -> measured.filter(_.name == "core.cache_clear").map(_.wallMs).sum,
      "core.persisted_after_clear" -> (if (persistedAfterClear.isEmpty) 0.0 else persistedAfterClear.max),
      "core.ckpt_dirs_after_clear" -> (if (ckptAfterClear.isEmpty) 0.0 else ckptAfterClear.max)) ++
      serial.map { case (q, r) => s"query.$q.serial_ratio" -> r }
  }

  /** One pass at `local[1]` beside the measured `local[nproc]` passes: the
    * single-threaded baseline, as a per-query wall ratio.
    */
  override def probes(spark: SparkSession, t: Tracer,
      session: Int => SparkSession): SparkSession = {
    TransientCache.clear()
    spark.stop()
    val one = session(1)
    t.attach(one.sparkContext)
    val med = perQueryMedian
    Queries.foreach { q =>
      TransientCache.clear()
      t.call(s"serial.$q", "serial")(SparkEntry.queries(q)(one, in).write.format("noop").mode("overwrite").save())
        .foreach(_ => med.get(q).foreach(m => serial(q) = t.spans.last.wallMs / m))
    }
    TransientCache.clear()
    one
  }
}

object BatchQueries {
  val Docs = 500
  val Queries: Seq[String] = Seq("q07_headways", "q104_incremental_neardup",
    "q106_incremental_neardup_approx", "q112_semantic_admit_incr", "q113_bm25_incremental",
    "q124_semantic_admit_decontam")
}
