package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schemas
import graft.ingest.{Http, SyntheticArrivals}
import graft.jobs.Jobs
import graft.quality.Expectations
import graft.quality.Expectations.{Between, NotNull, Warning}
import graft.streaming.HeadwaysStream

/** End-to-end pipeline tests: ingest → raw zone → transform → silver →
  * quality gate, the align CLI job, the streaming variant, and the HTTP
  * retry policy — all offline via the synthetic transport.
  */
class JobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = Instant.parse("2025-11-20T10:00:00Z")

  /** Three 2-minute polls into `raw`, like the reference's cron; returns
    * the rows ingested.
    */
  private def ingestThreePolls(raw: String): Long = (0 until 3).map { i =>
    val at = t0.plusSeconds(i * 120L)
    Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
  }.sum

  /** The transform's 11 checks recomputed the direct way: one
    * `Expectations.run` scan per group over the written tables, GX on its
    * 10k sample.
    */
  private def checksByScan(silver: String): Seq[Expectations.Result] = {
    val stg = spark.read.parquet(s"$silver/stg_arrivals")
    val fct = spark.read.parquet(s"$silver/fct_headways")
    Expectations.run(stg,
      Seq(NotNull("line_id"), NotNull("stop_id"), NotNull("event_ts"))) ++
      Expectations.run(fct, Seq(
        NotNull("line_id"), NotNull("stop_id"), NotNull("hour"),
        NotNull("avg_headway_s"), NotNull("p50_headway_s"), NotNull("p90_headway_s"))) ++
      Expectations.run(stg, Seq(
        Between("time_to_station_s", 0, 3600, Warning),
        NotNull("line_id", Warning)), sample = Some(10000))
  }

  test("ingest appends hive-date-partitioned snapshots; transform builds silver; checks pass") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val raw = s"$root/raw"
    val n = ingestThreePolls(raw)
    assert(n > 0)
    val files = new java.io.File(s"$raw/date=2025-11-20").listFiles()
    assert(files != null && files.count(_.getName.endsWith(".parquet")) >= 1)

    val results = Jobs.transform(spark, raw, s"$root/silver")
    assert(results.size == 11, "9 dbt not_null + 2 GX checks")
    // dirty synthetic data nulls some event_ts upstream, but staged/mart
    // key columns must hold
    val fct = spark.read.parquet(s"$root/silver/fct_headways")
    assert(fct.count() > 0)
    assert(fct.columns.toSeq == Seq("line_id", "stop_id", "hour",
      "avg_headway_s", "p50_headway_s", "p90_headway_s"))
    assert(results.filter(_.name.startsWith("not_null_p")).forall(_.passed))
  }

  test("transform's observed checks equal one Expectations.run scan per group") {
    val root = Files.createTempDirectory("graft-checks").toString
    val raw = s"$root/raw"
    ingestThreePolls(raw)
    val results = Jobs.transform(spark, raw, s"$root/silver")
    assert(results.exists(_.failures > 0), "the synthetic polls carry dirty rows")
    assert(results == checksByScan(s"$root/silver"))
  }

  test("above 10k staged rows the GX checks count only their 10k sample") {
    val root = Files.createTempDirectory("graft-checks-big").toString
    val raw = s"$root/raw"
    // one raw snapshot of 10,050 rows in one file, so staging is one file
    // in row order and the 10k sample is its first 10,000 rows. Rows 0-9
    // and the last 50 are out of range; line ids are null at 7, 1007, ...,
    // 10007: 10 in the sample, 11 in the table
    val rows = (0 until 10050).map { i =>
      val ttl = if (i < 10) -1L else if (i >= 10000) 4000L else (i % 1800).toLong
      Schemas.Arrival(Some(SyntheticArrivals.Stops(i % 10)),
        if (i % 1000 == 7) None else Some(SyntheticArrivals.Lines(i % 3)),
        Some("Platform 1"), Some("Terminus"), Some(ttl),
        Some(t0.plusSeconds(i.toLong).toString))
    }
    import spark.implicits._
    val tmp = s"$root/tmp"
    rows.toDF().coalesce(1).write.parquet(tmp)
    val dateDir = new java.io.File(s"$raw/date=2025-11-20"); dateDir.mkdirs()
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assert(part.renameTo(new java.io.File(dateDir, "arrivals_20251120_100000.parquet")))

    val results = Jobs.transform(spark, raw, s"$root/silver")
    assert(results == checksByScan(s"$root/silver"))
    // the staging not_null tests count the whole table, GX the sample
    assert(results.take(3).find(_.name == "not_null_line_id").get.failures == 11)
    assert(results.drop(9).map(r => r.name -> r.failures) == Seq(
      "between_time_to_station_s_0.0_3600.0" -> 10L, "not_null_line_id" -> 10L))
  }

  test("transform over an empty raw zone returns 11 passing checks") {
    val root = Files.createTempDirectory("graft-empty").toString
    val results = Jobs.transform(spark, s"$root/raw", s"$root/silver")
    assert(results.map(_.name) == checksByScan(s"$root/silver").map(_.name))
    assert(results.size == 11 && results.forall(r => r.passed && r.failures == 0))
    assert(spark.read.parquet(s"$root/silver/fct_headways").isEmpty)
  }

  test("transform on three polls runs as at most 5 Spark jobs") {
    val root = Files.createTempDirectory("graft-jobcount").toString
    val raw = s"$root/raw"
    ingestThreePolls(raw)
    val sc = spark.sparkContext
    def inGroup[A](group: String)(body: => A): A = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    val group = s"transform-${java.util.UUID.randomUUID()}"
    inGroup(group)(Jobs.transform(spark, raw, s"$root/silver"))
    // the status tracker is fed asynchronously but in order: once a later
    // fence job shows up, every job of the transform has too
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    inGroup(fence)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    // the staging write, the mart write's shuffle and write stages, then
    // the sampled GX pass's limit and count: a schema-inference or
    // dbt-check job would push this past 5
    assert(jobs.nonEmpty && jobs.length <= 5, s"${jobs.length} jobs: ${jobs.sorted.toSeq}")
  }

  test("align writes one flat snapshot for the requested line, enriched via broadcast lookup") {
    val root = Files.createTempDirectory("graft-align").toString
    val df = Jobs.align(spark, "central", root, t0, SyntheticArrivals.transport(t0),
      stops = SyntheticArrivals.Stops.map(s => s -> s"Station $s"))
    assert(df.filter(col("line_id") =!= "central").count() == 0)
    // output schema IS the documented CLI-bronze contract
    assert(df.schema.fieldNames.toSeq ==
      graft.core.Schemas.alignedArrivals.fieldNames.toSeq)
    // J1 enrichment: stop metadata joined in, with coalesce fallback
    assert(df.filter(col("stationName").startsWith("Station ")).count() > 0)
    // tz-aware ts derives from expectedArrival
    assert(df.filter(col("expectedArrival_ts").isNull).count() <
      df.count(), "expectedArrival parses for most rows")
    // raw column is valid JSON round-trippable to the payload fields
    val raw = df.select("raw").head().getString(0)
    assert(raw.contains("\"lineId\":\"central\"") && raw.contains("\"vehicleId\""))
  }

  test("streaming AvailableNow recompute matches the batch transform") {
    val root = Files.createTempDirectory("graft-stream").toString
    val raw = s"$root/raw"
    (0 until 2).foreach { i =>
      val at = t0.plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }
    val q = HeadwaysStream.start(spark, raw, s"$root/silver", s"$root/ckpt")
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$root/silver/fct_headways")
    Jobs.transform(spark, raw, s"$root/silver_batch")
    val batch = spark.read.parquet(s"$root/silver_batch/fct_headways")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental stream: per-key gap state matches the batch mart's gaps") {
    val root = Files.createTempDirectory("graft-incr").toString
    val raw = s"$root/raw"
    (0 until 3).foreach { i =>
      val at = t0.plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }
    val q = HeadwaysStream.startIncremental(spark, raw, s"$root/gaps", s"$root/ckpt")
    q.awaitTermination(60000)
    val gaps = spark.read.parquet(s"$root/gaps")
    assert(gaps.count() > 0)
    // single AvailableNow batch: every staged arrival after the first of
    // its (line, stop) key emits exactly one gap
    val stg = graft.etl.StgArrivals(spark, raw).filter(col("event_ts").isNotNull)
    val expected = stg.count() -
      stg.select("line_id", "stop_id").distinct().count()
    assert(gaps.count() == expected, s"gaps=${gaps.count()} expected=$expected")
    assert(gaps.filter(col("headway_s") < 0).count() == 0, "gaps never negative")
  }

  test("watermarked windowed aggregation over the raw stream") {
    val root = Files.createTempDirectory("graft-window").toString
    val raw = s"$root/raw"
    (0 until 2).foreach { i =>
      val at = t0.plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }
    val agg = HeadwaysStream.windowedArrivalCounts(spark, raw)
    assert(agg.isStreaming, "windowed agg must be a streaming frame")
    // complete mode keeps open windows visible, so the streamed state can
    // be compared exactly against the batch-equivalent aggregation
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
    val streamed = spark.table("win_counts")
      .select("hour", "line_id", "n_arrivals")
    val batchEquiv = graft.etl.StgArrivals(spark, raw)
      .filter(col("event_ts").isNotNull)
      .groupBy(org.apache.spark.sql.functions
        .window(col("event_ts"), "1 hour")("start").as("hour"), col("line_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_arrivals"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batchEquiv).isEmpty &&
      batchEquiv.exceptAll(streamed).isEmpty,
      "streamed windowed counts must equal the batch aggregation")
  }

  test("ingest is idempotent under replay: same poll instant writes once") {
    val root = Files.createTempDirectory("graft-replay").toString
    val raw = s"$root/raw"
    Jobs.ingest(spark, raw, t0, SyntheticArrivals.transport(t0))
    val rowsAfterFirst = graft.etl.StgArrivals(spark, raw).count()
    // scheduler retry / operator re-run of the same poll
    Jobs.ingest(spark, raw, t0, SyntheticArrivals.transport(t0))
    val files = new java.io.File(s"$raw/date=2025-11-20").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"replay must not append a duplicate snapshot: ${files.toSeq}")
    assert(graft.etl.StgArrivals(spark, raw).count() == rowsAfterFirst)
  }

  test("http retry: retryable statuses retried with backoff, fatal not") {
    var calls = 0
    val flaky: Http.Transport = { _ =>
      calls += 1
      if (calls < 3) Http.Response(503, "") else Http.Response(200, "ok")
    }
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val policy = Http.Policy(retries = 3, backoffMillis = 100, sleeper = sleeps += _)
    assert(Http.fetch("u", flaky, policy).get == "ok")
    assert(sleeps.toSeq == Seq(100L, 200L), "exponential backoff")

    calls = 0
    val fatal: Http.Transport = { _ => calls += 1; Http.Response(404, "") }
    assert(Http.fetch("u", fatal, policy).isFailure)
    assert(calls == 1, "non-retryable status fails fast")
  }

  test("fetchMany isolates per-element failures") {
    val t: Http.Transport = { u =>
      if (u.contains("bad")) throw new RuntimeException("boom")
      else Http.Response(200, "ok")
    }
    val p = Http.Policy(retries = 1, backoffMillis = 0, sleeper = _ => ())
    val r = Http.fetchMany(Seq("good1", "bad", "good2"), t, p)
    assert(r.count(_._2.isSuccess) == 2)
    assert(r.count(_._2.isFailure) == 1)
  }

  test("fetchMany keys: distinct per query variant, credentials masked") {
    val t: Http.Transport = { u => Http.Response(200, u.takeRight(1)) }
    val p = Http.Policy(retries = 0, backoffMillis = 0, sleeper = _ => ())
    val urls = Seq(
      "https://x/api?page=1&app_id=ID&app_key=SECRET",
      "https://x/api?page=2&app_id=ID&app_key=SECRET")
    val r = Http.fetchMany(urls, t, p)
    // pagination variants stay distinguishable, but the key itself is
    // structurally log-safe — no caller can leak credentials via it
    assert(r.map(_._1) == Seq(
      "https://x/api?page=1&app_id=***&app_key=***",
      "https://x/api?page=2&app_id=***&app_key=***"))
    assert(r.map(_._2.get) == Seq("T", "T")) // transport saw the REAL url
    assert(Http.redact(urls.head) == "https://x/api?<redacted>")
  }
}
