package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TransientCache
import graft.streaming.NearDupStream

/** The cache-lifecycle contract behind the engine's compute-once persists
  * (round 11): [[TransientCache]] releases exactly what registered with
  * it — an unregistered persist (fixture memoization) survives — and a
  * streaming near-dup wave leaves NO cache entries behind (its internal
  * mid-frames ride a tracked per-wave scope, not the session-lifetime
  * registry, so an unbounded stream cannot accumulate entries).
  */
class TransientCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("clear() unpersists registered frames; unregistered persists survive") {
    TransientCache.clear() // isolate from other suites
    val registered = TransientCache.persist(
      Seq(1L, 2L, 3L).toDF("a").withColumn("b", col("a") * 2))
    val fixture = Seq(4L, 5L).toDF("m").persist() // memoized-style, unregistered
    try {
      registered.count(); fixture.count()
      assert(registered.storageLevel != StorageLevel.NONE, "registered cached")
      assert(fixture.storageLevel != StorageLevel.NONE, "fixture cached")
      TransientCache.clear()
      assert(registered.storageLevel == StorageLevel.NONE,
        "clear() must release registered frames")
      assert(fixture.storageLevel != StorageLevel.NONE,
        "clear() must NOT touch unregistered (memoized fixture) persists")
      // idempotent re-registration: a second persist of the same plan
      // re-registers (the first entry was drained), second clear releases
      val again = TransientCache.persist(
        Seq(1L, 2L, 3L).toDF("a").withColumn("b", col("a") * 2))
      again.count()
      assert(again.storageLevel != StorageLevel.NONE)
      TransientCache.clear()
      assert(again.storageLevel == StorageLevel.NONE)
    } finally { fixture.unpersist(); TransientCache.clear() }
  }

  test("persist is idempotent on an already-cached semantically-equal plan") {
    TransientCache.clear()
    val a = TransientCache.persist(Seq(7L).toDF("x"))
    a.count()
    // same logical plan: CacheManager lookup reports the existing level,
    // so no second persist / registry entry is created
    val b = TransientCache.persist(Seq(7L).toDF("x"))
    assert(b.storageLevel != StorageLevel.NONE)
    TransientCache.clear()
    assert(a.storageLevel == StorageLevel.NONE &&
      b.storageLevel == StorageLevel.NONE)
  }

  test("a streaming near-dup wave leaves no cache entries behind") {
    TransientCache.clear()
    // order-independent gauge: other suites' session-lifetime entries
    // (memoized fixtures) may be live — diff the persistent-RDD set
    // around the wave instead of asserting emptiness
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val root = TestSpark.freshDir("graft-wavescope")
    val in = s"$root/in"
    Seq((0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text").write.parquet(s"$in/wave0")
    val q = spark.readStream.schema("doc_id long, text string")
      .parquet(s"$in/*")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(NearDupStream.writer(s"$root/out", s"$root/bands",
        s"$root/sets", "text", "doc_id", threshold = 0.5))
      .start()
    assert(q.awaitTermination(120000), "query did not terminate")
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    // the wave persisted its sketch frame, verdict, and the admission
    // plan's scoped mid-frames (banded rows, candidate pairs) — ALL must
    // be released with the wave: a leaked entry here is an unbounded
    // stream's memory leak
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"a completed wave must release every persist it took; leaked RDDs: $leaked")
  }
}
