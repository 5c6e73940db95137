package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.SemanticDedup
import graft.similarity.Ann
import graft.streaming.{NearDupStream, SemanticStream}

/** Streaming semantic duplicate clusters ([[SemanticStream]]): wave folds
  * against frozen centroids, identical-vector fps stars, cross-cluster
  * bridge merges, kill/restart no-op, parity with the from-scratch
  * SemDeDup run, ledger compaction, and every crash window of the
  * labels → merges → members → reps → fps commit order —
  * [[StreamingNearDupSpec]]'s proof shape on the semantic operator.
  */
class SemanticStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.freshDir

  // dim-4 fixture with pinned cosine structure (all unit-norm, so the
  // thresholds are exact dot products): vx/vy share cell 1 at cos 0.92
  // (separate at t=0.97); vz is their normalized midpoint, cos ≈ 0.9798
  // to BOTH — a genuine bridge. vw/vu share cell 2 at cos 0.9. zero is
  // the undefined-cosine singleton.
  private val c1 = Seq(1f, 0f, 0f, 0f)
  private val c2 = Seq(0f, 1f, 0f, 0f)
  private val vx = Seq(1f, 0f, 0f, 0f)
  private val vy = Seq(0.92f, 0.392f, 0f, 0f)
  private val vz = Seq(0.97979f, 0.200041f, 0f, 0f)
  private val vw = Seq(0f, 1f, 0f, 0f)
  private val vu = Seq(0f, 0.9f, 0.43589f, 0f)
  private val zero = Seq(0f, 0f, 0f, 0f)

  private def centroids = Seq((1, c1), (2, c2)).toDF("cell", "cvec")

  private val waves: Seq[Seq[(Long, Seq[Float])]] = Seq(
    Seq((0L, vx), (1L, vw)), // two singletons in different cells
    Seq((10L, vy), (11L, vx)), // 11 fps-stars to 0; 10 alone (cos 0.92)
    Seq((20L, vz)), // bridges {0,11} and {10} → merge (10→0)
    Seq((5L, vu), (6L, vu)), // within-wave identical pair
    Seq((2L, vu)), // smaller id arriving later relabels {5,6} → merge (5→2)
    Seq((99L, zero))) // zero vector: null sim, always a singleton

  private def outSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"),
      r.getAs[Any]("centroid_sim"), r.getAs[Boolean]("keep"))).toSet

  /** From-scratch reference: [[SemanticDedup.fromIndex]] over exactly the
    * vectors the stream saw, same frozen centroids. */
  private def scratch(vecs: Seq[(Long, Seq[Float])]) =
    SemanticDedup.fromIndex(
      Ann.indexWithCentroids(vecs.toDF("vec_id", "embedding"), centroids),
      threshold = 0.97)

  test("semantic cluster stream: fps stars, bridge merge, late smaller id, " +
      "restart no-op, parity with from-scratch SemDeDup, compaction") {
    val root = freshDir("graft-semantic-stream")
    val in = s"$root/in"; val labels = s"$root/labels"
    val merges = s"$root/merges"; val members = s"$root/members"
    val reps = s"$root/reps"; val fps = s"$root/fps"; val ckpt = s"$root/ckpt"
    def runCycle(): Unit = {
      val q = spark.readStream
        .schema("vec_id long, embedding array<float>")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(SemanticStream.writer(labels, merges, members, reps,
          fps, "embedding", "vec_id", centroids, threshold = 0.97))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("vec_id", "embedding").write.parquet(s"$in/wave$i")
      runCycle() // fresh AvailableNow query per wave = kill-and-restart
    }
    val got = outSet(
      SemanticStream.semanticAssignments(spark, members, labels, merges))
    assert(got == outSet(scratch(waves.flatten)),
      s"ledger-maintained output vs from-scratch: $got")
    // hand-pinned structure: one 4-cluster through the bridge (exemplar =
    // farthest from centroid = vy's doc 10), the relabeled {2,5,6} with
    // the identical-sim tie broken to the smaller id, and the zero-vector
    // singleton with null sim
    val clusters = got.groupBy(_._2).map { case (c, rows) =>
      c -> rows.map(_._1) }
    assert(clusters(0L) == Set(0L, 10L, 11L, 20L), s"$clusters")
    assert(clusters(2L) == Set(2L, 5L, 6L), s"$clusters")
    assert(got.filter(_._4).map(_._1) == Set(10L, 2L, 1L, 99L),
      s"keepers: ${got.filter(_._4)}")
    assert(got.find(_._1 == 99L).get._3 == null, "zero vector: null sim")
    // restart with nothing new: a fresh AvailableNow run adds nothing
    runCycle()
    assert(outSet(SemanticStream.semanticAssignments(
      spark, members, labels, merges)) == got)
    // compaction: merges rewritten to depth-1 closure form, reps
    // cell-bucketed, output unchanged; a later wave still folds
    val (tl, tm, tmm, tr, tf) = SemanticStream.compactSemanticLedgers(
      spark, labels, merges, members, reps, fps)
    assert(tl.isDefined && tm.isDefined && tmm.isDefined &&
      tr.isDefined && tf.isDefined)
    assert(outSet(SemanticStream.semanticAssignments(
      spark, members, labels, merges)) == got)
    val mrows = NearDupStream.ledgerMerges(spark, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mrows == Set(10L -> 0L, 5L -> 2L), s"closure-form merges: $mrows")
    // the reps ledger holds one row per DISTINCT nonzero vector,
    // first-seen min id
    val repIds = SemanticStream.ledgerReps(spark, reps)
      .select("rep").as[Long].collect().toSet
    assert(repIds == Set(0L, 1L, 10L, 20L, 5L), s"rep ids: $repIds")
    // post-compaction wave: an identical vector fps-stars to its rep and
    // joins the existing cluster
    Seq((30L, vx)).toDF("vec_id", "embedding").write.parquet(s"$in/wave9")
    runCycle()
    val got2 = outSet(SemanticStream.semanticAssignments(
      spark, members, labels, merges))
    assert(got2 == outSet(scratch(waves.flatten :+ (30L -> vx))),
      s"post-compaction fold parity: $got2")
  }

  test("semantic writer crash windows: every commit-order prefix replays " +
      "identically") {
    val root = freshDir("graft-semantic-crash")
    val labels = s"$root/labels"; val merges = s"$root/merges"
    val members = s"$root/members"; val reps = s"$root/reps"
    val fps = s"$root/fps"
    val w = SemanticStream.writer(labels, merges, members, reps, fps,
      "embedding", "vec_id", centroids, threshold = 0.97)
    val fs = new org.apache.hadoop.fs.Path(labels)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def kill(dir: String, batch: Long): Unit = {
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_committed-$batch"), false))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$batch"), true))
    }
    w(Seq((0L, vx), (1L, vw)).toDF("vec_id", "embedding"), 0L)
    w(Seq((10L, vy), (11L, vx)).toDF("vec_id", "embedding"), 1L)
    // the bridge wave: run once, then simulate EVERY crash window of the
    // labels → merges → members → reps → fps order and replay each time
    val bridge = Seq((20L, vz)).toDF("vec_id", "embedding")
    w(bridge, 2L)
    for (window <- Seq(
        Seq(merges, members, reps, fps), // labels committed, rest lost
        Seq(members, reps, fps),
        Seq(reps, fps),
        Seq(fps))) { // reps committed, fps lost — the order-critical one
      window.foreach(kill(_, 2L))
      w(bridge, 2L)
    }
    val got = outSet(SemanticStream.semanticAssignments(
      spark, members, labels, merges))
    assert(got == outSet(scratch(Seq(0L -> vx, 1L -> vw, 10L -> vy,
      11L -> vx, 20L -> vz))), s"post-replay parity: $got")
    val m = NearDupStream.ledgerMerges(spark, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m == Set(10L -> 0L), s"merge rows after replays: $m")
    // every distinct vector reached the pairwise state exactly once per
    // vector (the reps-before-fps commit order's whole point)
    val repRows = SemanticStream.ledgerReps(spark, reps)
      .select("rep").as[Long].collect().toSeq
    assert(repRows.toSet == Set(0L, 1L, 10L, 20L), s"rep rows: $repRows")
    val fpRows = SemanticStream.ledgerFps(spark, fps)
      .select("rep").as[Long].collect().toSet
    assert(fpRows == Set(0L, 1L, 10L, 20L), s"fp reps: $fpRows")
    // a later wave keeps folding correctly against the replayed state
    w(Seq((30L, vx)).toDF("vec_id", "embedding"), 3L)
    val got2 = outSet(SemanticStream.semanticAssignments(
      spark, members, labels, merges))
    assert(got2 == outSet(scratch(Seq(0L -> vx, 1L -> vw, 10L -> vy,
      11L -> vx, 20L -> vz, 30L -> vx))), s"post-crash continuation: $got2")
  }

  test("centroid retrain-and-remap: versioned commit, reps remapped, " +
      "post-retrain folds keep working, second retrain is bit-identical") {
    import graft.streaming.IdempotentSink
    val root = freshDir("graft-semantic-retrain")
    val in = s"$root/in"; val labels = s"$root/labels"
    val merges = s"$root/merges"; val members = s"$root/members"
    val reps = s"$root/reps"; val fps = s"$root/fps"
    val centDir = s"$root/centroids"; val ckpt = s"$root/ckpt"
    // seed version 0 with the initial frozen coordinate system
    IdempotentSink.writer(centDir)(centroids, 0L)
    def runCycle(): Unit = {
      val cent = SemanticStream.currentCentroids(spark, centDir).get._2
      val q = spark.readStream
        .schema("vec_id long, embedding array<float>")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(SemanticStream.writer(labels, merges, members, reps,
          fps, "embedding", "vec_id", cent, threshold = 0.97))
        .start()
      assert(q.awaitTermination(120000), "query did not terminate")
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    waves.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("vec_id", "embedding").write.parquet(s"$in/wave$i")
      runCycle()
    }
    assert(SemanticStream.currentCentroids(spark, centDir).get._1 == 0L)
    // retrain (5 reps → ⌈√5⌉ = 3 centroids drawn by md5(id) order, cells
    // numbered by rep order among the drawn) and remap — expectation
    // recomputed here by INDEPENDENT driver-side brute force (java md5 +
    // plain scala cosine, argmax ties to the highest cell)
    val repVecs = Map(0L -> vx, 1L -> vw, 5L -> vu, 10L -> vy, 20L -> vz)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val drawnIds = repVecs.keys.toSeq.sortBy(id => (md5hex(id.toString), id))
      .take(3).sorted
    val cells = drawnIds.zipWithIndex.map { case (id, i) => (i + 1, id) }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def d(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    val expected = repVecs.map { case (id, v) =>
      id -> cells.maxBy { case (c, cid) => (cos(v, repVecs(cid)), c) }._1
    }
    // CRASH WINDOW between the version commit (step 2) and the remap
    // (step 3), simulated for real: derive and COMMIT the retrain table
    // as v1 ourselves, then "die" before any remap — the re-run below
    // must HEAL BY CONTENT (deterministic retrain over unchanged reps
    // re-derives byte-identical centroids, detected equal to committed
    // v1), reuse version 1 instead of minting v2, and proceed to remap
    IdempotentSink.writer(centDir, onReplay = _ => ())(
      graft.similarity.Ann.retrainCentroids(
        SemanticStream.ledgerReps(spark, reps)
          .select(org.apache.spark.sql.functions.col("rep").as("vec_id"),
            org.apache.spark.sql.functions.col("ce").as("embedding")),
        refineIters = 0).select("cell", "cvec"), 1L)
    val v1 = SemanticStream.retrainAndRemap(spark, centDir, reps,
      refineIters = 0)
    assert(v1 == 1L,
      s"heal must reuse the committed-but-unremapped version: $v1")
    val after = SemanticStream.ledgerReps(spark, reps)
      .select("rep", "cell").as[(Long, Int)].collect().toMap
    assert(after == expected, s"remapped cells: $after vs $expected")
    // the pipeline keeps folding under the NEW coordinate system: an
    // identical vector fps-stars to its rep and joins the existing
    // cluster, whatever its cell is now called
    Seq((31L, vu)).toDF("vec_id", "embedding").write.parquet(s"$in/wave9")
    runCycle()
    val got = outSet(SemanticStream.semanticAssignments(
      spark, members, labels, merges))
    val cluster31 = got.find(_._1 == 31L).get._2
    assert(cluster31 == got.find(_._1 == 5L).get._2,
      s"post-retrain arrival must join its identical vector's cluster: $got")
    // a second retrain re-derives from the remapped ledger: same rep set,
    // same draw — CONTENT-EQUAL to committed v1, so the no-op cadence is
    // VERSION-STABLE (no v2 with identical bytes) and the idempotent
    // re-remap changes nothing
    val v2 = SemanticStream.retrainAndRemap(spark, centDir, reps,
      refineIters = 0)
    assert(v2 == 1L, s"no-op cadence must be version-stable: $v2")
    assert(IdempotentSink.committedBatches(spark, centDir) == Seq(0L, 1L),
      "no centroid version beyond the healed one may exist")
    val after2 = SemanticStream.ledgerReps(spark, reps)
      .select("rep", "cell").as[(Long, Int)].collect().toMap
    assert(after2 == expected, "the re-remap is an exact no-op")
  }

  test("drift-triggered retrain policy: a planted drift arc trips the " +
      "occupancy trigger, a uniform ledger never does") {
    import graft.streaming.IdempotentSink
    val rnd = new scala.util.Random(4242L)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    def repsDF(cells: Seq[Int]) = cells.zipWithIndex.map { case (c, i) =>
      val v = vec()
      (c, i.toLong, v, v.map(x => x.toDouble * x).sum)
    }.toDF("cell", "rep", "ce", "cn2")

    // UNIFORM: 64 reps spread evenly over 8 cells → max/mean = 1, the
    // monitor aggregate runs and nothing else happens
    val uRoot = freshDir("graft-sem-drift-uniform")
    IdempotentSink.writer(s"$uRoot/reps")(
      repsDF((0 until 64).map(_ % 8 + 1)), 0L)
    assert(SemanticStream.retrainIfDrifted(spark, s"$uRoot/centroids",
      s"$uRoot/reps", maxOverMean = 4.0).isEmpty,
      "uniform occupancy must never fire the trigger")
    assert(SemanticStream.currentCentroids(spark,
      s"$uRoot/centroids").isEmpty, "no retrain side effects on uniform")

    // DRIFT ARC: 56 of 64 reps piled into one stale cell (the shape
    // arriving vectors take under a frozen draw that never anticipated
    // them) → max/mean ≈ 7 > 4, the retrain fires, and the redraw from
    // the (uniformly distributed) vectors rebalances the cells so the
    // NEXT cadence does not fire again
    val dRoot = freshDir("graft-sem-drift-arc")
    IdempotentSink.writer(s"$dRoot/reps")(
      repsDF((0 until 56).map(_ => 1) ++ (0 until 8).map(_ % 8 + 2)), 0L)
    val (_, maxPre, meanPre) = SemanticStream.cellOccupancy(spark,
      s"$dRoot/reps")
    assert(maxPre / meanPre > 4.0, s"fixture skew: $maxPre/$meanPre")
    val fired = SemanticStream.retrainIfDrifted(spark, s"$dRoot/centroids",
      s"$dRoot/reps", maxOverMean = 4.0, refineIters = 0)
    assert(fired == Some(0L), s"drift must fire the retrain: $fired")
    val (cellsPost, maxPost, meanPost) = SemanticStream.cellOccupancy(spark,
      s"$dRoot/reps")
    assert(maxPost / meanPost <= 4.0,
      s"retrain must rebalance: $maxPre/$meanPre -> $maxPost/$meanPost " +
        s"over $cellsPost cells")
    assert(SemanticStream.retrainIfDrifted(spark, s"$dRoot/centroids",
      s"$dRoot/reps", maxOverMean = 4.0, refineIters = 0).isEmpty,
      "the next cadence after a rebalancing retrain must not fire")
  }

  test("semantic admission stream with eval gate: wave verdicts ≡ " +
      "sequential batch composition, contaminated vectors never ledger, " +
      "shield exclusion, crash-window heal, replay no-op") {
    val root = freshDir("graft-sem-admit-stream")
    val verdicts = s"$root/verdicts"; val reps = s"$root/reps"
    val evalSet = Seq((100L, vx)).toDF("vec_id", "embedding")
    // dup 0.89 / decontam 0.97: vx is contaminated (cos 1 to eval);
    // vy is clean (0.92 < 0.97) but WOULD be vx's dup (0.92 ≥ 0.89) —
    // only vx's exclusion admits it; vu is vw's dup (cos ≈ 0.9 ≥ 0.89)
    val w = SemanticStream.admitWriter(verdicts, reps, "embedding",
      "vec_id", centroids, evalSet,
      dupThreshold = 0.89, decontamThreshold = 0.97, compactEvery = 0)
    val waves = Seq(
      Seq((0L, vx), (1L, vw)),
      Seq((10L, vy), (11L, vx)),
      Seq((20L, vy), (21L, vu), (99L, zero)))

    // sequential batch-composition reference: same waves through
    // SemanticDedup.semanticAdmitDecontam, corpus = prior admissions
    var refCorpus = spark.emptyDataset[(Long, Seq[Float])]
      .toDF("vec_id", "embedding")
    val expected = scala.collection.mutable.Buffer[(Long, Boolean, Long, Boolean, Long)]()
    waves.foreach { rows =>
      val wave = rows.toDF("vec_id", "embedding")
      val v = SemanticDedup.semanticAdmitDecontam(wave, refCorpus, evalSet,
        dupThreshold = 0.89, decontamThreshold = 0.97, centroids).collect()
      expected ++= v.map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      val admitted = v.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
      refCorpus = refCorpus.unionByName(
        rows.filter(r => admitted(r._1)).toDF("vec_id", "embedding"))
    }

    waves.zipWithIndex.foreach { case (rows, i) =>
      w(rows.toDF("vec_id", "embedding"), i.toLong) }
    def streamVerdicts() = SemanticStream.admitVerdicts(spark, verdicts)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Boolean]("admitted"),
        Option(r.getAs[Any]("first_match")).fold(-1L)(_.asInstanceOf[Long]),
        r.getAs[Boolean]("contaminated"),
        Option(r.getAs[Any]("eval_match")).fold(-1L)(_.asInstanceOf[Long])))
      .toSet
    assert(streamVerdicts() == expected.toSet,
      "stream verdicts must equal the sequential batch composition")
    // the three contracts the fixture pins
    val byId = streamVerdicts().map(t => t._1 -> t).toMap
    assert(byId(0L) == ((0L, false, -1L, true, 100L)), "vx contaminated")
    assert(byId(10L) == ((10L, true, -1L, false, -1L)),
      "vy admits ONLY because contaminated vx never entered the ledger")
    assert(byId(21L)._2 == false && byId(21L)._3 == 1L, "vu is vw's dup")
    assert(byId(99L) == ((99L, true, -1L, false, -1L)), "zero admits clean")
    val ledger = SemanticStream.ledgerReps(spark, reps)
      .select("rep").collect().map(_.getLong(0)).toSet
    assert(ledger == Set(1L, 10L),
      "ledger = admitted distinct nonzero reps; contaminated and zero " +
        s"vectors never enter: $ledger")

    // crash window: verdicts committed, reps delta lost → replay heals
    val fs = new org.apache.hadoop.fs.Path(reps).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$reps/batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$reps/_committed-1"), false)
    w(waves(1).toDF("vec_id", "embedding"), 1L)
    assert(SemanticStream.ledgerReps(spark, reps)
      .select("rep").collect().map(_.getLong(0)).toSet == Set(1L, 10L),
      "replay must re-derive the lost reps delta from committed verdicts")
    // full replay no-op: markers everywhere → byte-identical state
    val before = streamVerdicts()
    w(waves(0).toDF("vec_id", "embedding"), 0L)
    assert(streamVerdicts() == before, "marker-gated replay is a no-op")
  }
}
