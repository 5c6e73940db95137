package lhbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generators for the LLM-pipeline tables, shaped like the engine's
  * sf0.1 test tables: documents of 10-100 words over a 30-word vocabulary
  * with planted near-duplicates (an earlier text plus " dup") and exact
  * copies, 64-dimension unit embeddings around 10 labelled centroids, and
  * an events stream spread over 30 days.
  */
object Corpus {
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "big", "line", "part", "scan", "sort",
    "order", "query", "filter", "join", "group", "hash", "key", "row", "agg",
    "batch", "fast", "slow", "customer", "the", "a")
  private val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")

  /** Texts in id order; `nearDup` and `exact` are the shares of documents
    * copied from an earlier one.
    */
  def texts(seed: Long, n: Int, nearDup: Double = 0.05, exact: Double = 0.002): Array[String] = {
    val rng = new SplittableRandom(seed)
    val out = new Array[String](n)
    for (i <- 0 until n) {
      val r = rng.nextDouble()
      out(i) =
        if (i > 0 && r < exact) out(rng.nextInt(i))
        else if (i > 0 && r < exact + nearDup) out(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    out
  }

  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val rows = texts(seed, n).zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(i.toLong, t, langs(rng.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int = 64, labels: Int = 10): DataFrame = {
    val rng = new SplittableRandom(seed ^ 0xe3bL)
    def unit(v: Array[Double]): Array[Double] = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u = 1.0 - rng.nextDouble(); val w = rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * w)
    }
    val centroids = Array.fill(labels)(unit(Array.fill(dim)(gauss())))
    val rows = (0 until n).map { i =>
      val l = rng.nextInt(labels)
      val v = unit(centroids(l).map(_ + 0.35 * gauss()))
      org.apache.spark.sql.Row(i.toLong, v.map(_.toFloat).toSeq, l)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  def events(spark: SparkSession, seed: Long, n: Int, users: Int): DataFrame = {
    val rng = new SplittableRandom(seed ^ 0xe7e17L)
    val start = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
    val spanUs = 30L * 86400L * 1000000L
    val ts = Array.fill(n)(rng.nextLong(spanUs)).sorted
    val types = Seq("signup", "click", "error", "view", "purchase")
    val rows = (0 until n).map { i =>
      org.apache.spark.sql.Row(i.toLong, start.plusNanos(ts(i) * 1000L), rng.nextInt(users).toLong,
        types(rng.nextInt(types.size)), rng.nextInt(56022) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
  }
}
