package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sampling.Sampling

/** Sampling + compaction properties: seed reproducibility, per-stratum
  * rates, frequent-items recall, and lossless small-file compaction.
  */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("seeded sample is reproducible and near the requested fraction") {
    val docs = Tables.documents(spark, dir)
    val a = Sampling.seeded(docs, 0.3, seed = 7L).select("doc_id").collect().toSet
    val b = Sampling.seeded(docs, 0.3, seed = 7L).select("doc_id").collect().toSet
    assert(a == b, "same seed, same sample")
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.3) < 0.15, s"got ${a.size / n}")
    val c = Sampling.seeded(docs, 0.3, seed = 8L).select("doc_id").collect().toSet
    assert(a != c, "different seed, different sample")
  }

  test("stratified sample respects per-stratum fractions") {
    val docs = Tables.documents(spark, dir)
    val fr = Map("en" -> 0.2, "de" -> 1.0)
    val got = Sampling.stratified(docs.filter(col("lang").isin("en", "de")),
      "lang", fr, seed = 42L)
    val full = docs.filter(col("lang") === "de").count()
    assert(got.filter(col("lang") === "de").count() == full,
      "fraction 1.0 keeps the whole stratum")
    val enRate = got.filter(col("lang") === "en").count().toDouble /
      docs.filter(col("lang") === "en").count()
    assert(enRate > 0.05 && enRate < 0.4, s"en rate $enRate far from 0.2")
  }

  test("stratifiedByHash: deterministic, near-rate, engine-independent formula") {
    val docs = Tables.documents(spark, dir)
    val fr = Map("en" -> 0.2, "de" -> 1.0)
    val got = Sampling.stratifiedByHash(
      docs.filter(col("lang").isin("en", "de")), "lang", "doc_id", fr, seed = 42L)
    assert(got.filter(col("lang") === "de").count() ==
      docs.filter(col("lang") === "de").count(), "rate 1.0 keeps the stratum")
    val enIds = got.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val enAll = docs.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0))
    val rate = enIds.size.toDouble / enAll.length
    assert(rate > 0.1 && rate < 0.3, s"en rate $rate far from 0.2")
    // the membership rule is plain arithmetic any engine reproduces —
    // recompute it here, row for row
    def member(id: Long): Boolean =
      Math.floorMod(Math.floorMod(id, 1L << 31) * 2654435761L + 42L,
        1L << 20) < 0.2 * (1L << 20)
    assert(enAll.filter(member).toSet == enIds)
    // strata missing from the map are dropped, like sampleBy
    assert(Sampling.stratifiedByHash(docs, "lang", "doc_id", fr, 42L)
      .filter(!col("lang").isin("en", "de")).count() == 0)
  }

  test("heavyHitters: exact counts, exactly the > support*N token set") {
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
    val total = toks.count()
    val got = Sampling.heavyHitters(toks, "token", 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy("token").count()
      .filter(col("count") > lit(total * 0.02))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, "two-pass sketch+verify must equal the full group-by")
  }

  test("frequent-items sketch contains every truly frequent token") {
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
    val total = toks.count()
    val sketch = Sampling.frequentValues(toks, "token", 0.02)
      .select(explode(col("token_freqItems")).as("token"))
      .collect().map(_.getString(0)).toSet
    // KPS guarantee: no false negatives above the support threshold
    val trulyFrequent = toks.groupBy("token").count()
      .filter(col("count") > lit(total * 0.02)).collect().map(_.getString(0))
    trulyFrequent.foreach(t => assert(sketch.contains(t), s"missing frequent token $t"))
  }

  test("compaction merges small files losslessly to the computed count") {
    val root = TestSpark.freshDir("graft-compact")
    val docs = Tables.documents(spark, dir)
    docs.repartition(17).write.parquet(s"$root/zone")
    val before = spark.read.parquet(s"$root/zone")
    val beforeRows = before.count()
    val nFiles = new java.io.File(s"$root/zone").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles == 17)
    val nOut = graft.core.Layout.compact(spark, s"$root/zone", targetBytes = 1L << 40)
    assert(nOut == 1, "tiny input compacts to a single file")
    val after = spark.read.parquet(s"$root/zone")
    assert(after.count() == beforeRows)
    assert(after.exceptAll(docs).isEmpty && docs.exceptAll(after).isEmpty)
    val filesAfter = new java.io.File(s"$root/zone").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter == 1)
  }

  test("compaction aborts (keeping tmp) when the swap is blocked") {
    val root = TestSpark.freshDir("graft-compact-abort")
    val docs = Tables.documents(spark, dir)
    docs.limit(50).repartition(3).write.parquet(s"$root/zone")
    // interrupted-run leftover: a destination NAME occupied by a non-empty
    // directory (non-recursive delete/rename can't displace it)
    docs.limit(7).coalesce(1)
      .write.parquet(s"$root/zone/part-compact-00000.parquet")
    intercept[java.io.IOException] {
      graft.core.Layout.compact(spark, s"$root/zone", targetBytes = 1L << 40)
    }
    // the rows survive in the temp dir — recovery is finishing the swap
    val tmp = new java.io.File(s"$root/zone__compact_tmp")
    assert(tmp.isDirectory, "temp dir left intact for recovery")
    assert(spark.read.parquet(tmp.toString).count() == 57)
  }
}
