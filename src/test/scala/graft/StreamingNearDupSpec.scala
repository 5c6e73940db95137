package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{IdempotentSink, LedgerCompaction, NearDupStream}

/** Streaming near-dup admission: cross-wave rejection against the
  * admitted ledgers, within-batch smaller-id tie-break, kill/restart
  * adds nothing, and the crash window between verdict and ledger
  * commits replays identically — [[StreamingDedupSpec]]'s proof shape
  * on the near-dup operator.
  */
class StreamingNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest before the sun sets tonight"
  private val nearDup = base.replace("green", "dark")
  private val other = "completely different words about spark engines " +
    "processing massive parquet datasets with shuffles joins and windows"
  private val otherNear = other.replace("windows", "sinks")

  test("3 waves: ledger rejection, within-batch tie-break, restart no-op") {
    val root = freshDir("graft-neardup-stream")
    val in = s"$root/in"; val out = s"$root/out"
    val bands = s"$root/bands"; val sets = s"$root/sets"
    val ckpt = s"$root/ckpt"
    // wave 0: base + other admitted; wave 1: near-dup of base (reject vs
    // ledger) + a fresh doc and its within-batch near-dup (smaller id
    // admitted, larger rejected); wave 2: near-dup of the wave-1 ADMITTED
    // doc — proves wave-1 admissions entered the ledger
    val fresh = "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight"
    val freshNear = fresh.replace("minutes", "moments")
    val waves = Seq(
      Seq((0L, base), (1L, other)),
      Seq((10L, nearDup), (11L, fresh), (12L, freshNear)),
      Seq((20L, fresh.replace("network", "district"))))
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(NearDupStream.writer(out, bands, sets,
          "text", "doc_id", threshold = 0.5))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle() // fresh AvailableNow query per wave = kill-and-restart
    }
    val got = NearDupStream.verdicts(spark, out)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("admitted"),
          Option(r.getAs[java.lang.Long]("first_match")).map(_.toLong))))
      .toMap
    assert(got(0L) == ((true, None)) && got(1L) == ((true, None)),
      s"wave-0 docs admitted: $got")
    assert(got(10L) == ((false, Some(0L))),
      s"near-dup of admitted base rejected with its match: $got")
    assert(got(11L) == ((true, None)), s"fresh doc admitted: $got")
    assert(got(12L) == ((false, Some(11L))),
      s"within-batch near-dup rejected toward the smaller id: $got")
    assert(got(20L) == ((false, Some(11L))),
      s"wave-2 near-dup of the wave-1 ADMISSION rejected: $got")
    // ledgers hold exactly the admitted docs' rows
    assert(NearDupStream.ledgerSets(spark, sets)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 11L))
    assert(NearDupStream.ledgerBands(spark, bands)
      .select("id").distinct().as[Long].collect().toSet == Set(0L, 1L, 11L))
    // restart with no new input: nothing appended anywhere
    val batches = IdempotentSink.committedBatches(spark, out)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, out) == batches)
    assert(NearDupStream.verdicts(spark, out).count() == 6)
  }

  test("crash between verdict commit and ledger commits replays identically") {
    val root = freshDir("graft-neardup-crash")
    val out = s"$root/out"; val bands = s"$root/bands"; val sets = s"$root/sets"
    val w = NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5)
    w(Seq((0L, base)).toDF("doc_id", "text"), 0L)
    w(Seq((1L, other), (2L, nearDup)).toDF("doc_id", "text"), 1L)
    val fs = new org.apache.hadoop.fs.Path(bands)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window: batch 1's verdict committed, both ledgers died
    for (dir <- Seq(bands, sets)) {
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_committed-1"), false))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=1"), true))
    }
    // replay: verdict skips on its marker, ledgers rebuild identically —
    // the recompute sees the same COMMITTED (batch-0) ledgers
    w(Seq((1L, other), (2L, nearDup)).toDF("doc_id", "text"), 1L)
    val admitted = NearDupStream.verdicts(spark, out)
      .filter(org.apache.spark.sql.functions.col("admitted"))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(0L, 1L), s"base once, other once: $admitted")
    assert(NearDupStream.ledgerSets(spark, sets)
      .select("id").as[Long].collect().toSet == Set(0L, 1L))
    // a third near-dup arriving later is rejected against the rebuilt ledger
    w(Seq((3L, otherNear)).toDF("doc_id", "text"), 2L)
    val v3 = NearDupStream.verdicts(spark, out)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 3L).head()
    assert(!v3.getAs[Boolean]("admitted") && v3.getAs[Long]("first_match") == 1L)
  }

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Boolean]("admitted"),
        Option(r.getAs[java.lang.Long]("first_match")).map(_.toLong)))).toMap

  test("ledger compaction: identical verdicts, exchange-free ledger joins, second-generation sweep") {
    val root = freshDir("graft-neardup-compact")
    val out = s"$root/out"; val bands = s"$root/bands"; val sets = s"$root/sets"
    val w = NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5)
    w(Seq((0L, base), (1L, other)).toDF("doc_id", "text"), 0L)
    val fresh = "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight"
    w(Seq((2L, fresh)).toDF("doc_id", "text"), 1L)

    // probe admission computed against raw per-batch dirs, then against
    // the compacted tables — verdicts must be identical
    val probe = Seq((10L, nearDup), (11L, otherNear),
      (12L, "wholly new words on ledgers buckets and generations")
    ).toDF("doc_id", "text")
    def admit() = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedger(
      probe, "text", "doc_id",
      NearDupStream.ledgerBands(spark, bands),
      NearDupStream.ledgerSets(spark, sets), 0.5)
    val before = verdictMap(admit())
    assert(before(10L) == ((false, Some(0L))) && before(11L) == ((false, Some(1L)))
      && before(12L) == ((true, None)), s"probe sanity: $before")

    val (tb1, ts1) = NearDupStream.compactLedgers(spark, bands, sets)
    assert(tb1.isDefined && ts1.isDefined)
    val after = admit()
    assert(verdictMap(after) == before,
      "compaction must not change admission verdicts")

    // the 100 TB contract: with both ledgers fully compacted, the
    // candidate join (bucketed on (band, bkey) — its exact join key) and
    // the sset verification join (bucketed on id) plan with NO
    // ShuffleExchange above either ledger's table scan; only the
    // batch-bounded sides exchange
    after.write.format("noop").mode("overwrite").save()
    val ledgerShuffled = after.queryExecution.executedPlan.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.toString.contains("graft_ledger_")
          case _ => false
        }
      case _ => false
    }
    assert(!ledgerShuffled,
      s"compacted ledgers must join exchange-free:\n${after.queryExecution.executedPlan}")

    // the stream continues against the table-resident ledgers
    w(probe, 2L)
    val got = verdictMap(NearDupStream.verdicts(spark, out))
    assert(got(10L) == ((false, Some(0L))) && got(11L) == ((false, Some(1L)))
      && got(12L) == ((true, None)), s"post-compaction wave: $got")

    // second generation absorbs the post-compaction batch; the first
    // generation's tables are deferred one sweep, then dropped
    w(Seq((20L, "completely fresh sentence about signals depots and " +
      "overnight maintenance windows rolling through")).toDF("doc_id", "text"), 3L)
    val (tb2, ts2) = NearDupStream.compactLedgers(spark, bands, sets)
    assert(tb2 != tb1 && ts2 != ts1, "new generation, new tables")
    assert(spark.catalog.tableExists(tb1.get) && spark.catalog.tableExists(ts1.get),
      "previous generation deferred until the next lands")
    // doc 12 was ADMITTED by the wave above, so re-probing it now rejects
    // it against its own ledger entry — the generation switch must serve
    // exactly that updated state
    assert(verdictMap(admit()) == Map(10L -> ((false, Some(0L))),
      11L -> ((false, Some(1L))), 12L -> ((false, Some(12L)))),
      "admission reflects the post-wave ledger across generations")
    w(Seq((30L, "yet another unrelated paragraph describing timetables " +
      "junctions and river crossings after midnight")).toDF("doc_id", "text"), 4L)
    val (tb3, ts3) = NearDupStream.compactLedgers(spark, bands, sets)
    assert(tb3 != tb2 && ts3 != ts2)
    assert(!spark.catalog.tableExists(tb1.get) && !spark.catalog.tableExists(ts1.get),
      "two-generations-old tables swept")
    // ledgers still hold exactly the admitted ids
    assert(NearDupStream.ledgerSets(spark, sets)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 2L, 12L, 20L, 30L))
  }

  test("compactEvery: the writer self-compacts both ledgers on cadence") {
    val root = freshDir("graft-neardup-autocompact")
    val out = s"$root/out"; val bands = s"$root/bands"; val sets = s"$root/sets"
    val w = NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5,
      compactEvery = 2)
    w(Seq((0L, base)).toDF("doc_id", "text"), 0L)
    assert(LedgerCompaction.currentCompaction(spark, bands).isEmpty)
    w(Seq((1L, other)).toDF("doc_id", "text"), 1L) // cadence → generation 1
    assert(LedgerCompaction.currentCompaction(spark, bands).isDefined &&
      LedgerCompaction.currentCompaction(spark, sets).isDefined,
      "both ledgers compacted at the cadence point")
    // admission vs the table-resident ledgers still rejects near-dups
    w(Seq((2L, nearDup), (3L, otherNear)).toDF("doc_id", "text"), 2L)
    val got = NearDupStream.verdicts(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap
    assert(got == Map(0L -> true, 1L -> true, 2L -> false, 3L -> false),
      s"got $got")
    assert(NearDupStream.ledgerSets(spark, sets)
      .select("id").as[Long].collect().toSet == Set(0L, 1L))
  }

  test("compaction completing between admission plan build and action changes nothing") {
    val root = freshDir("graft-neardup-concurrent")
    val out = s"$root/out"; val bands = s"$root/bands"; val sets = s"$root/sets"
    val w = NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5)
    w(Seq((0L, base), (1L, other)).toDF("doc_id", "text"), 0L)
    val probe = Seq((10L, nearDup), (11L, "fully unrelated payload about " +
      "compaction generations markers and sweeps")).toDF("doc_id", "text")
    // the admission plan resolves both ledgers' markers + dir listings NOW;
    // a compaction (and, for the second reader, the sweep of the dirs the
    // previous generation absorbed) completes before the action — the
    // deferred-cleanup contract keeps every planned path readable
    val r1 = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedger(
      probe, "text", "doc_id",
      NearDupStream.ledgerBands(spark, bands),
      NearDupStream.ledgerSets(spark, sets), 0.5)
    NearDupStream.compactLedgers(spark, bands, sets)
    val expected = Map(10L -> ((false, Some(0L))), 11L -> ((true, None)))
    assert(verdictMap(r1) == expected, "reader over raw dirs survives generation 1")

    w(probe, 1L) // admits 11 against the compacted ledgers, adds a fresh dir
    val r2 = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedger(
      Seq((20L, otherNear), (21L, "never seen sentence naming rivers " +
        "bridges and tunnels at dawn")).toDF("doc_id", "text"),
      "text", "doc_id",
      NearDupStream.ledgerBands(spark, bands),
      NearDupStream.ledgerSets(spark, sets), 0.5)
    NearDupStream.compactLedgers(spark, bands, sets) // generation 2 + sweep
    assert(verdictMap(r2) == Map(20L -> ((false, Some(1L))), 21L -> ((true, None))),
      "reader holding generation 1 + fresh dirs survives generation 2's sweep")
  }

  test("pre-upgrade ledger batches: verdicts identical to an all-new-schema " +
      "run; compaction retains AND backfills kpfx/sz") {
    import org.apache.spark.sql.functions.col
    val fresh = "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight"
    val waves = Seq(
      Seq((0L, base), (1L, other)),
      Seq((10L, nearDup), (11L, fresh), (12L, fresh.replace("minutes", "moments"))),
      Seq((20L, otherNear), (21L, fresh.replace("network", "district"))))
    // run the 3 waves with compaction after wave 1; wave 0 optionally
    // written the way a pre-upgrade binary persisted it: 3-column band
    // rows (the ledger state a live deployment upgrades from)
    def run(root: String, legacyWave0: Boolean) = {
      val out = s"$root/out"; val bands = s"$root/bands"; val sets = s"$root/sets"
      val w = NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5)
      waves.zipWithIndex.foreach { case (rows, i) =>
        val df = rows.toDF("doc_id", "text")
        if (i == 0 && legacyWave0) {
          // the pre-upgrade writer's protocol, verbatim, minus the two
          // columns its bandsFor did not emit (empty ledger → all admitted)
          IdempotentSink.writer(out)(
            df.select(col("doc_id"),
              org.apache.spark.sql.functions.lit(true).as("admitted"),
              org.apache.spark.sql.functions.lit(null).cast("long")
                .as("first_match")), 0L)
          IdempotentSink.writer(bands)(
            graft.dedup.Dedup.MinHashLsh.bandsFor(df, "text", "doc_id")
              .select("band", "bkey", "id"), 0L)
          IdempotentSink.writer(sets)(
            graft.dedup.Dedup.MinHashLsh.setsFor(df, "text", "doc_id"), 0L)
        } else w(df, i.toLong)
        if (i == 1) assert(
          NearDupStream.compactLedgers(spark, bands, sets)._1.isDefined)
      }
      (verdictMap(NearDupStream.verdicts(spark, out)),
        NearDupStream.ledgerBands(spark, bands))
    }
    val (vNew, bandsNew) = run(freshDir("graft-neardup-allnew"), legacyWave0 = false)
    val (vMix, bandsMix) = run(freshDir("graft-neardup-mixed"), legacyWave0 = true)
    assert(vMix == vNew,
      s"mixed pre/post-upgrade ledger changed verdicts: $vMix vs $vNew")
    assert(vNew(10L) == ((false, Some(0L))) && vNew(12L) == ((false, Some(11L)))
      && vNew(20L) == ((false, Some(1L))) && vNew(21L) == ((false, Some(11L))),
      s"cross-wave and within-batch rejections sanity: $vNew")
    // the compacted generation RETAINS the evolved columns...
    assert(Seq("kpfx", "sz").forall(bandsMix.columns.contains),
      s"post-compaction ledger schema lost kpfx/sz: ${bandsMix.columns.toSeq}")
    // ...and the backfill reconstructed the legacy wave-0 rows EXACTLY:
    // both runs' band ledgers hold identical full rows (compaction-
    // absorbed wave 0+1; wave 2's dir rows written by the same writer)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Int]("band"), r.getAs[Long]("bkey"),
        r.getAs[Long]("id"),
        Option(r.getAs[scala.collection.Seq[Long]]("kpfx")).map(_.toList),
        Option(r.getAs[java.lang.Integer]("sz")).map(_.toInt))).toSet
    assert(rows(bandsMix) == rows(bandsNew),
      "backfill must reconstruct kpfx/sz bit-identically to the new-schema run")
    assert(rows(bandsMix).forall(r => r._4.isDefined && r._5.isDefined),
      "no null kpfx/sz may survive a compaction's backfill")
  }

  test("approx mode: 3 waves — estimator rejections, tie-break, restart " +
      "no-op, 256 B sig ledger, compaction parity + exchange-free joins") {
    import org.apache.spark.sql.functions.col
    val root = freshDir("graft-neardup-approx")
    val in = s"$root/in"; val out = s"$root/out"
    val bands = s"$root/bands"; val sigs = s"$root/sigs"
    val ckpt = s"$root/ckpt"
    val fresh = "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight"
    // exact duplicates make the estimator deterministic (identical
    // signatures → est 1.0); near-dup estimates are parity-tested below
    val waves = Seq(
      Seq((0L, base), (1L, other)),
      Seq((10L, base), (11L, fresh), (12L, fresh)),
      Seq((20L, fresh)))
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(NearDupStream.approxWriter(out, bands, sigs,
          "text", "doc_id", threshold = 0.5))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle()
    }
    val got = verdictMap(NearDupStream.verdicts(spark, out))
    assert(got(0L) == ((true, None)) && got(1L) == ((true, None)),
      s"wave-0 docs admitted: $got")
    assert(got(10L) == ((false, Some(0L))),
      s"duplicate of admitted base rejected with its match: $got")
    assert(got(11L) == ((true, None)), s"fresh doc admitted: $got")
    assert(got(12L) == ((false, Some(11L))),
      s"within-batch duplicate rejected toward the smaller id: $got")
    assert(got(20L) == ((false, Some(11L))),
      s"wave-2 duplicate of the wave-1 ADMISSION rejected: $got")
    // the signature ledger holds exactly the admitted docs — and ONLY
    // (id, sig): no shingle set is persisted anywhere in this mode
    val sigLedger = NearDupStream.ledgerSigs(spark, sigs)
    assert(sigLedger.select("id").as[Long].collect().toSet == Set(0L, 1L, 11L))
    assert(sigLedger.columns.toSeq == Seq("id", "sig"),
      s"sig ledger must carry signatures only: ${sigLedger.columns.toSeq}")
    assert(NearDupStream.ledgerBandsApprox(spark, bands)
      .select("id").distinct().as[Long].collect().toSet == Set(0L, 1L, 11L))
    // restart with no new input: nothing appended anywhere
    val batches = IdempotentSink.committedBatches(spark, out)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, out) == batches)
    // compaction: probe verdicts identical before/after, then the 100 TB
    // plan gate — both compacted ledgers join with zero Exchange above
    // their table scans (bands on (band, bkey), sigs on id)
    val probe = Seq((30L, base),
      (31L, "wholly new words on ledgers buckets and generations"))
      .toDF("doc_id", "text")
    def admit() = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedgerApprox(
      probe, "text", "doc_id",
      NearDupStream.ledgerBandsApprox(spark, bands),
      NearDupStream.ledgerSigs(spark, sigs), 0.5)
    val before = verdictMap(admit())
    assert(before == Map(30L -> ((false, Some(0L))), 31L -> ((true, None))),
      s"probe sanity: $before")
    val (tb, ts) = NearDupStream.compactLedgersApprox(spark, bands, sigs)
    assert(tb.isDefined && ts.isDefined)
    val after = admit()
    assert(verdictMap(after) == before,
      "compaction must not change approx admission verdicts")
    after.write.format("noop").mode("overwrite").save()
    val ledgerShuffled = after.queryExecution.executedPlan.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.toString.contains("graft_ledger_")
          case _ => false
        }
      case _ => false
    }
    assert(!ledgerShuffled,
      s"compacted approx ledgers must join exchange-free:\n${after.queryExecution.executedPlan}")
    // the stream continues against the table-resident ledgers
    probe.write.parquet(s"$in/wave3")
    runCycle()
    val got2 = verdictMap(NearDupStream.verdicts(spark, out))
    assert(got2(30L) == ((false, Some(0L))) && got2(31L) == ((true, None)),
      s"post-compaction wave: $got2")
  }

  test("approx mode: crash between verdict commit and ledger commits " +
      "replays identically") {
    val root = freshDir("graft-neardup-approx-crash")
    val out = s"$root/out"; val bands = s"$root/bands"; val sigs = s"$root/sigs"
    val w = NearDupStream.approxWriter(out, bands, sigs, "text", "doc_id", 0.5)
    w(Seq((0L, base)).toDF("doc_id", "text"), 0L)
    w(Seq((1L, other), (2L, base)).toDF("doc_id", "text"), 1L)
    val fs = new org.apache.hadoop.fs.Path(bands)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window: batch 1's verdict committed, both ledgers died
    for (dir <- Seq(bands, sigs)) {
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_committed-1"), false))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=1"), true))
    }
    // replay: verdict skips on its marker, ledgers rebuild identically —
    // the recompute sees the same COMMITTED (batch-0) ledgers
    w(Seq((1L, other), (2L, base)).toDF("doc_id", "text"), 1L)
    val got = verdictMap(NearDupStream.verdicts(spark, out))
    assert(got == Map(0L -> ((true, None)), 1L -> ((true, None)),
      2L -> ((false, Some(0L)))), s"replayed verdicts: $got")
    assert(NearDupStream.ledgerSigs(spark, sigs)
      .select("id").as[Long].collect().toSet == Set(0L, 1L))
    // a duplicate arriving later is rejected against the rebuilt ledger
    w(Seq((3L, other)).toDF("doc_id", "text"), 2L)
    val v3 = verdictMap(NearDupStream.verdicts(spark, out))(3L)
    assert(v3 == ((false, Some(1L))), s"post-replay rejection: $v3")
  }

  test("approx mode wave parity: streamed verdicts ≡ batch-sequential " +
      "ledger recompute on waves with genuine near-dups") {
    import org.apache.spark.sql.functions.col
    import graft.dedup.Dedup.MinHashLsh
    val root = freshDir("graft-neardup-approx-parity")
    val out = s"$root/out"; val bands = s"$root/bands"; val sigs = s"$root/sigs"
    val fresh = "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight"
    // near-dups (1-token changes) exercise genuine estimator values, not
    // just the deterministic est-1.0 duplicates; whatever the estimator
    // decides, streamed and batch paths must decide IDENTICALLY
    val waves = Seq(
      Seq((0L, base), (1L, other)),
      Seq((10L, nearDup), (11L, fresh), (12L, fresh.replace("minutes", "moments"))),
      Seq((20L, otherNear), (21L, fresh.replace("network", "district"))))
    val w = NearDupStream.approxWriter(out, bands, sigs, "text", "doc_id", 0.5)
    waves.zipWithIndex.foreach { case (rows, i) =>
      w(rows.toDF("doc_id", "text"), i.toLong)
    }
    // batch-sequential recompute against accumulating PARQUET ledgers
    // (the BenchStream section-C shape: materialize per wave, never chain
    // live plans through the ledger paths a later write would invalidate)
    val accBands = s"$root/accBands"; val accSigs = s"$root/accSigs"
    NearDupStream.ledgerBandsApprox(spark, s"$root/_emptyB").write.parquet(accBands)
    NearDupStream.ledgerSigs(spark, s"$root/_emptyS").write.parquet(accSigs)
    val batchVerdicts = waves.zipWithIndex.map { case (rows, i) =>
      val wave = rows.toDF("doc_id", "text")
      val vDir = s"$root/probeV_$i"
      MinHashLsh.nearDupIncrementalLedgerApprox(wave, "text", "doc_id",
        spark.read.parquet(accBands), spark.read.parquet(accSigs), 0.5)
        .write.parquet(vDir)
      val v = spark.read.parquet(vDir)
      val admitted = wave.join(
        v.filter(col("admitted")).select(col("doc_id")), Seq("doc_id"))
      MinHashLsh.bandsForApprox(admitted, "text", "doc_id")
        .write.mode("append").parquet(accBands)
      MinHashLsh.sigsFor(admitted, "text", "doc_id")
        .write.mode("append").parquet(accSigs)
      v
    }.reduce(_ unionByName _)
    assert(verdictMap(NearDupStream.verdicts(spark, out))
        == verdictMap(batchVerdicts),
      "streamed approx verdicts must equal the batch-sequential recompute")
  }

  // ---- incremental CLUSTER maintenance (clusterWriter) --------------------

  // bridge fixture with pinned band structure (probed once, deterministic
  // forever — xxhash sketches have no runtime randomness): pBridge and
  // qBridge share ZERO signature bands (est 0); their concatenation
  // cBridge agrees with pBridge on 19/32 components and with qBridge on
  // 13/32, each across ≥ 1 full band — so at threshold 0.35 a late-
  // arriving cBridge genuinely MERGES two existing clusters through
  // mid-range estimator values, not just est-1.0 duplicates
  private val pBridge = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu anchor beacon copper jungle"
  private val qBridge = "ember falcon garnet harbor island jasper kestrel " +
    "lantern marble nectar onyx prism quartz raven saddle timber umber " +
    "velvet willow zephyr basalt cinder dorsal ellipse fjord glacier " +
    "hollow ingot emblem"
  private val cBridge = pBridge + " " + qBridge
  private val rText = "granite rivers wander beneath silver bridges while " +
    "lanterns glow over quiet harbours and distant bells mark the passing " +
    "hours tonight"

  private val clusterWaves: Seq[Seq[(Long, String)]] = Seq(
    Seq((0L, pBridge), (1L, other)), // two singletons
    Seq((10L, qBridge), (11L, pBridge)), // 11 clusters with 0 (dup); 10 alone
    Seq((20L, cBridge)), // bridges {0,11} and {10} → merge (10→0)
    Seq((5L, "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight"),
      (6L, "entirely novel content mentioning trains stations and " +
        "platforms arriving every few minutes across the network tonight")),
    Seq((2L, "entirely novel content mentioning trains stations and " +
      "platforms arriving every few minutes across the network tonight")),
    // a SMALLER id arriving later relabels {5,6} to 2 → merge (5→2)
    Seq((50L, rText), (51L, rText)),
    Seq((40L, rText)), // merge (50→40)
    Seq((35L, rText))) // merge (40→35): depth-2 chain 50→40→35

  private val expectedClusters: Set[(Long, Long, Long)] = Set(
    (0L, 0L, 4L), (10L, 0L, 4L), (11L, 0L, 4L), (20L, 0L, 4L),
    (2L, 2L, 3L), (5L, 2L, 3L), (6L, 2L, 3L),
    (35L, 35L, 4L), (40L, 35L, 4L), (50L, 35L, 4L), (51L, 35L, 4L))

  private def clusterSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("comp"),
      r.getAs[Long]("csize"))).toSet

  /** From-scratch reference: the corpus-wide estimator pair plan + CC +
    * csize — what q107 computes, over exactly the docs the stream saw. */
  private def scratchClusters(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val pairs = graft.dedup.Dedup.MinHashLsh.nearDupPairsApprox(
      docs, "text", "doc_id", threshold = 0.35)
    val cc = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
    cc.withColumn("csize", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("comp"), col("csize"))
  }

  test("cluster stream: wave folds, cross-cluster bridge merge, depth-2 " +
      "merge chain, restart no-op, parity with from-scratch closure, " +
      "compaction closure-form rewrite") {
    import org.apache.spark.sql.functions.col
    val root = freshDir("graft-neardup-clusters")
    val in = s"$root/in"; val labels = s"$root/labels"
    val merges = s"$root/merges"; val bands = s"$root/bands"
    val sigs = s"$root/sigs"; val ckpt = s"$root/ckpt"
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(NearDupStream.clusterWriter(labels, merges, bands,
          sigs, "text", "doc_id", threshold = 0.35))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    clusterWaves.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle() // fresh AvailableNow query per wave = kill-and-restart
    }
    val got = clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
    assert(got == expectedClusters, s"ledger-maintained clusters: $got")
    // parity with the corpus-wide from-scratch pair plan + closure
    val allDocs = clusterWaves.flatten.toDF("doc_id", "text")
    assert(got == clusterSet(scratchClusters(allDocs)),
      "incremental ledger must equal the from-scratch q107 closure")
    // every doc labeled exactly once (singletons included, with themselves)
    val lbl = NearDupStream.ledgerLabels(spark, labels)
    assert(lbl.count() == clusterWaves.flatten.size)
    assert(lbl.filter(col("id") === 1L).head().getAs[Long]("label") == 1L)
    // the raw merge ledger carries the un-collapsed history incl. a chain
    val rawMerges = NearDupStream.ledgerMerges(spark, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rawMerges == Set(10L -> 0L, 5L -> 2L, 50L -> 40L, 40L -> 35L),
      s"merge history: $rawMerges")
    // restart with no new input: nothing appended anywhere
    val batches = IdempotentSink.committedBatches(spark, labels)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, labels) == batches)
    // compaction: assignments identical; merges rewritten to depth-1
    // closure form (the 50→40→35 chain collapses); labels resolved
    val t = NearDupStream.compactClusterLedgers(spark, labels, merges,
      bands, sigs)
    assert(t._1.isDefined && t._2.isDefined && t._3.isDefined && t._4.isDefined)
    assert(clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
        == expectedClusters,
      "compaction must not change cluster assignments")
    val closed = NearDupStream.ledgerMerges(spark, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(closed == Set(10L -> 0L, 5L -> 2L, 50L -> 35L, 40L -> 35L),
      s"closure-form merges: $closed")
    assert(NearDupStream.ledgerLabels(spark, labels)
      .filter(col("id") === 50L).head().getAs[Long]("label") == 35L,
      "labels compaction resolves stored labels through the closure")
    // stream continues against the compacted (bucketed) ledgers
    Seq((60L, rText)).toDF("doc_id", "text").write.parquet(s"$in/wave9")
    runCycle()
    val got2 = clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
    assert(got2 == expectedClusters.map {
      case (d, 35L, _) => (d, 35L, 5L)
      case o => o
    } + ((60L, 35L, 5L)), s"post-compaction wave: $got2")
  }

  test("EXACT cluster stream: wave folds with real-Jaccard verification, " +
      "bridge merge, restart no-op, from-scratch parity, compaction") {
    import org.apache.spark.sql.functions.col
    val root = freshDir("graft-neardup-clusters-exact")
    val in = s"$root/in"; val labels = s"$root/labels"
    val merges = s"$root/merges"; val bands = s"$root/bands"
    val sets = s"$root/sets"; val ckpt = s"$root/ckpt"
    def runCycle(): Unit = {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(NearDupStream.clusterWriterExact(labels, merges,
          bands, sets, "text", "doc_id", threshold = 0.5))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    // exact contract: base/nearDup verify on REAL jaccard (1-token change,
    // well above 0.5); cross-wave merge via a later small id (cluster
    // {10,11} relabels to 2 when its duplicate arrives)
    val waves = Seq(
      Seq((0L, base), (1L, other)),
      Seq((10L, otherNear), (11L, nearDup)), // 11 joins {0}; 10 joins {1}
      Seq((2L, other.replace("joins", "unions")))) // merges {1,10} → 1... then 2<10? comp stays 1
    waves.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").write.parquet(s"$in/wave$i")
      runCycle()
    }
    val got = clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
    // from-scratch EXACT closure over everything the stream saw
    val allDocs = waves.flatten.toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.MinHashLsh.nearDupPairs(
      allDocs, "text", "doc_id", threshold = 0.5)
    val cc = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
    val scratch = clusterSet(cc
      .withColumn("csize",
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).over(w))
      .select(col("id").as("doc_id"), col("comp"), col("csize")))
    assert(got == scratch,
      s"exact incremental ledger must equal the from-scratch closure: " +
        s"$got vs $scratch")
    assert(got.exists(_._1 == 0L) && got.exists(_._1 == 11L),
      s"the base/nearDup pair must cluster under exact verification: $got")
    // restart no-op, then compaction parity
    val batches = IdempotentSink.committedBatches(spark, labels)
    runCycle()
    assert(IdempotentSink.committedBatches(spark, labels) == batches)
    val t = NearDupStream.compactClusterLedgersExact(spark, labels, merges,
      bands, sets)
    assert(t._1.isDefined && t._3.isDefined && t._4.isDefined)
    assert(clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
      == got, "compaction must not change exact cluster assignments")
    // the sset ledger exists in this mode (the exact contract's price)
    assert(NearDupStream.ledgerSets(spark, sets).count() ==
      waves.flatten.size)
  }

  test("cluster writer crash windows: every commit-order prefix replays " +
      "identically") {
    val root = freshDir("graft-neardup-clusters-crash")
    val labels = s"$root/labels"; val merges = s"$root/merges"
    val bands = s"$root/bands"; val sigs = s"$root/sigs"
    val w = NearDupStream.clusterWriter(labels, merges, bands, sigs,
      "text", "doc_id", threshold = 0.35)
    val fs = new org.apache.hadoop.fs.Path(labels)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def kill(dir: String, batch: Long): Unit = {
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_committed-$batch"), false))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$batch"), true))
    }
    w(Seq((0L, pBridge), (1L, other)).toDF("doc_id", "text"), 0L)
    w(Seq((10L, qBridge), (11L, pBridge)).toDF("doc_id", "text"), 1L)
    // the bridge wave: run once, then simulate BOTH crash windows of the
    // labels → merges → bands → sigs order and replay each time
    val bridge = Seq((20L, cBridge)).toDF("doc_id", "text")
    w(bridge, 2L)
    // window A: labels committed, merges + bands + sigs lost — the lost
    // merge row must re-derive even though the wave's labels are visible
    for (d <- Seq(merges, bands, sigs)) kill(d, 2L)
    w(bridge, 2L)
    // window B: labels + merges committed, bands + sigs lost
    for (d <- Seq(bands, sigs)) kill(d, 2L)
    w(bridge, 2L)
    val got = clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
    assert(got == Set((0L, 0L, 4L), (10L, 0L, 4L), (11L, 0L, 4L),
      (20L, 0L, 4L)), s"post-replay clusters: $got")
    val m = NearDupStream.ledgerMerges(spark, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m == Set(10L -> 0L), s"merge rows after replays: $m")
    // ledgers track ALL docs (clustering has no admission filter)
    assert(NearDupStream.ledgerSigs(spark, sigs)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 10L, 11L, 20L))
    // a later wave keeps folding correctly against the replayed state
    w(Seq((30L, pBridge)).toDF("doc_id", "text"), 3L)
    val got2 = clusterSet(NearDupStream.clusterAssignments(spark, labels, merges))
    assert(got2 == Set((0L, 0L, 5L), (10L, 0L, 5L), (11L, 0L, 5L),
      (20L, 0L, 5L), (30L, 0L, 5L)), s"post-crash continuation: $got2")
  }
}
