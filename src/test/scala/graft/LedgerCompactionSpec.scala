package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.{IdempotentSink, LedgerCompaction}

/** The [[LedgerCompaction]] contract windows, each forced directly:
  * the stalled-reader re-plan (two generations landing between a read's
  * marker resolution and its plan build), the sweep crash window (table
  * dropped, marker left), and cross-database marker resolution.
  */
class LedgerCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("k", LongType)))

  import TestSpark.freshDir

  private def writeBatch(dir: String, id: Long, ks: Seq[Long]): Unit =
    IdempotentSink.writer(dir)(ks.toDF("k"), id)

  private def compact(dir: String) =
    LedgerCompaction.compact(spark, dir, schema, Seq("k"), 2)

  test("stalled reader: two generations completing between marker " +
      "resolution and plan build → read re-plans, rows complete") {
    val dir = freshDir("graft-ledger-race")
    writeBatch(dir, 0L, Seq(1L, 2L))
    writeBatch(dir, 1L, Seq(3L))
    // the hook fires inside read() after the (stale) resolve; it lands TWO
    // further generations, whose sweep deletes the batch dirs the stale
    // plan would have scanned — without the re-plan the read's action
    // would FileNotFound; with it, every committed row must come back
    var fired = false
    LedgerCompaction.readRaceHook = () => if (!fired) {
      fired = true
      assert(compact(dir).isDefined) // generation 1 absorbs batches 0-1
      writeBatch(dir, 2L, Seq(4L))
      assert(compact(dir).isDefined) // generation 2; sweep kills dirs <= 1
    }
    try {
      val got = LedgerCompaction.read(spark, dir, schema)
        .as[Long].collect().toSet
      assert(fired, "race hook must have fired")
      assert(got == Set(1L, 2L, 3L, 4L),
        s"re-planned read must serve the complete committed ledger: $got")
    } finally LedgerCompaction.readRaceHook = () => ()
  }

  test("sweep crash window: a marker whose table is already dropped " +
      "resumes cleanly on the next compaction") {
    val dir = freshDir("graft-ledger-sweepcrash")
    writeBatch(dir, 0L, Seq(1L))
    val t1 = compact(dir).get // generation 1
    writeBatch(dir, 1L, Seq(2L))
    assert(compact(dir).isDefined) // generation 2 (gen 1 deferred)
    writeBatch(dir, 2L, Seq(3L))
    // simulate the sweep dying between its table drop and its marker
    // delete: gen 1's table and location are gone, the marker remains
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        t1.split('.').last)).location)
    spark.sql(s"DROP TABLE IF EXISTS ${t1.split('.').map(p => s"`$p`").mkString(".")}")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // generation 3's sweep hits the orphaned marker: DROP IF EXISTS and
    // the location delete no-op, the marker is removed — no wedge, no leak
    assert(compact(dir).isDefined)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_compactedtable-"))
    assert(markers.length == 2,
      s"only the newest two generations' markers may remain: ${markers.toSeq}")
    assert(LedgerCompaction.read(spark, dir, schema).as[Long].collect().toSet
      == Set(1L, 2L, 3L), "ledger rows intact through the crashed sweep")
  }

  test("a corrupt NEWEST generation surfaces as its own error immediately, " +
      "not as a 64-retry timeout") {
    val dir = freshDir("graft-ledger-corrupt")
    writeBatch(dir, 0L, Seq(1L))
    val t1 = compact(dir).get
    writeBatch(dir, 1L, Seq(2L))
    val t2 = compact(dir).get // newest generation
    assert(t2 != t1)
    // destroy generation 2's table AND data directory, marker left — a
    // genuine corruption (no newer generation exists), not a sweep race
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        t2.split('.').last)).location)
    spark.sql(s"DROP TABLE IF EXISTS ${t2.split('.').map(p => s"`$p`").mkString(".")}")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      LedgerCompaction.read(spark, dir, schema).collect()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(!e.isInstanceOf[IllegalStateException],
      s"must rethrow the root cause, not the retry-loop timeout: $e")
    assert(secs < 30,
      f"permanent failure must surface immediately, took $secs%.1f s")
  }

  test("compactor lease: a concurrent compactor defers cleanly; a stale " +
      "lease is stolen and released") {
    val dir = freshDir("graft-ledger-lease")
    writeBatch(dir, 0L, Seq(1L, 2L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(dir, "_compacting")
    // another compactor "is running": its lease exists and is fresh —
    // this invocation must defer WITHOUT writing a generation, and the
    // ledger must stay fully readable
    fs.create(lease, false).close()
    assert(compact(dir).isEmpty,
      "second compactor must defer (no generation) while the lease is held")
    assert(LedgerCompaction.currentCompaction(spark, dir).isEmpty,
      "deferred compactor must not have written a generation")
    assert(LedgerCompaction.read(spark, dir, schema)
      .as[Long].collect().toSet == Set(1L, 2L), "ledger readable throughout")
    // the holder crashed: its lease ages past the timeout — the next
    // invocation steals it, compacts, and releases the lease
    fs.setTimes(lease, System.currentTimeMillis() - 60L * 60 * 1000, -1)
    assert(compact(dir).isDefined, "stale lease must be stolen")
    assert(!fs.exists(lease), "lease released after compaction")
    assert(LedgerCompaction.read(spark, dir, schema)
      .as[Long].collect().toSet == Set(1L, 2L))
    // and with the lease gone, normal operation resumes
    writeBatch(dir, 1L, Seq(3L))
    assert(compact(dir).isDefined)
    assert(LedgerCompaction.read(spark, dir, schema)
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("lease staleness reads the embedded create timestamp, not mtime: " +
      "a copy-based-rename store can't starve steals") {
    val dir = freshDir("graft-ledger-lease-ts")
    writeBatch(dir, 0L, Seq(1L, 2L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(dir, "_compacting")
    // a dead holder's lease whose CREATE timestamp (embedded, second
    // line) is hours old while the file mtime is FRESH — what an object
    // store's copy-based rename produces after a failed steal attempt
    // refreshed the file. Staleness must come from the body: the lease
    // is stolen, not deferred to forever.
    val o = fs.create(lease, false)
    try o.write(s"dead-holder\n${System.currentTimeMillis() - 2L * 60 * 60 * 1000}"
      .getBytes("UTF-8")) finally o.close()
    assert(compact(dir).isDefined,
      "body-stale lease must be stolen despite fresh mtime")
    assert(!fs.exists(lease), "lease released after compaction")
    assert(LedgerCompaction.read(spark, dir, schema)
      .as[Long].collect().toSet == Set(1L, 2L))
    // and the inverse: a FRESH embedded timestamp defends the lease even
    // when the file mtime is ancient (mtime is only the fallback for
    // foreign/empty lease files) — the deferring compactor returns the
    // CURRENT generation and writes no new one
    val genBefore = LedgerCompaction.currentCompaction(spark, dir)
    writeBatch(dir, 1L, Seq(3L))
    val o2 = fs.create(lease, false)
    try o2.write(s"live-holder\n${System.currentTimeMillis()}"
      .getBytes("UTF-8")) finally o2.close()
    fs.setTimes(lease, System.currentTimeMillis() - 60L * 60 * 1000, -1)
    assert(compact(dir) == genBefore.map(_._2),
      "body-fresh lease must defer despite stale mtime")
    assert(LedgerCompaction.currentCompaction(spark, dir).map(_._1)
      == genBefore.map(_._1),
      "deferring compactor must not write a new generation")
    fs.delete(lease, false)
  }

  test("lease ownership: an overrun (stolen-from) holder never deletes " +
      "the thief's lease") {
    val dir = freshDir("graft-ledger-lease-token")
    writeBatch(dir, 0L, Seq(1L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(dir, "_compacting")
    // simulate the overrun-holder window from inside the holder's own
    // body: the transform hook runs mid-compaction, where it replaces the
    // holder's lease with a thief's (what a timeout-steal does). The
    // holder's release must then find a foreign token and LEAVE IT —
    // the pre-fix unconditional finally-delete admitted a third writer
    val swap: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => {
        fs.delete(lease, false)
        val o = fs.create(lease, false)
        try o.write("thief-token".getBytes("UTF-8")) finally o.close()
        df
      }
    assert(LedgerCompaction.compact(spark, dir, schema, Seq("k"), 2,
      swap).isDefined)
    assert(fs.exists(lease),
      "the thief's lease must survive the stolen-from holder's release")
    val in = fs.open(lease)
    val held =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(held == "thief-token", s"lease content intact: $held")
    fs.delete(lease, false)
    // sanity: with the foreign lease cleared, compaction resumes normally
    writeBatch(dir, 1L, Seq(2L))
    assert(compact(dir).isDefined)
    assert(LedgerCompaction.read(spark, dir, schema)
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("cross-database: a reader and sweeper whose current database " +
      "differs from the compactor's resolve the marker-stored table") {
    val dir = freshDir("graft-ledger-xdb")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_xdb")
    spark.catalog.setCurrentDatabase("graft_xdb")
    val t1 =
      try { writeBatch(dir, 0L, Seq(1L, 2L)); compact(dir).get }
      finally spark.catalog.setCurrentDatabase("default")
    assert(t1.startsWith("graft_xdb."),
      s"marker must store the db-qualified name: $t1")
    // reader in another database resolves the qualified table (bucketed
    // catalog scan, not the location fallback)
    assert(LedgerCompaction.read(spark, dir, schema).as[Long].collect().toSet
      == Set(1L, 2L))
    // two more generations from THIS database: the sweep must drop the
    // graft_xdb table and its directory, not a same-named default-db ghost
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        t1.split('.').last, Some("graft_xdb"))).location)
    writeBatch(dir, 1L, Seq(3L))
    assert(compact(dir).isDefined)
    writeBatch(dir, 2L, Seq(4L))
    assert(compact(dir).isDefined)
    assert(!spark.catalog.tableExists(t1), s"swept cross-db table: $t1")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(loc), s"swept cross-db table directory: $loc")
    assert(LedgerCompaction.read(spark, dir, schema).as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L))
  }
}
