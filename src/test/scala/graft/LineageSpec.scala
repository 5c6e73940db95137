package graft

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.SyntheticArrivals
import graft.jobs.Jobs
import graft.lineage.{BufferSink, Lineage, LineageListener, RunEvent}

/** OpenLineage-shaped emission (SURVEY S12): one START/COMPLETE run-event
  * pair per tracked job carrying dataset URIs, FAIL on error, and the
  * plan-derived per-action listener.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = Instant.parse("2025-11-20T10:00:00Z")

  test("transform emits one START/COMPLETE pair with dataset URIs") {
    val root = TestSpark.freshDir("graft-lineage")
    val raw = s"$root/raw"
    Jobs.ingest(spark, raw, t0, SyntheticArrivals.transport(t0))
    val sink = new BufferSink
    Jobs.transform(spark, raw, s"$root/silver", lineage = sink)

    val es = sink.events
    assert(es.map(_.eventType) == Seq("START", "COMPLETE"),
      s"exactly one ordered pair, got ${es.map(_.eventType)}")
    assert(es.map(_.runId).distinct.size == 1, "one runId ties the pair")
    assert(es.forall(_.job == "graft.transform"))
    assert(es.head.eventTimeMs <= es.last.eventTimeMs)
    val done = es.last
    assert(done.inputs == Seq(raw))
    assert(done.outputs == Seq(s"$root/silver/stg_arrivals", s"$root/silver/fct_headways"))
    // the JSON carries the OpenLineage core fields
    val json = done.toJson
    Seq("\"eventType\":\"COMPLETE\"", "\"run\":{\"runId\":", "\"job\":",
      "\"inputs\":", "\"outputs\":", "\"producer\":\"graft-lineage\"")
      .foreach(f => assert(json.contains(f), s"missing $f in $json"))
  }

  test("a failing job emits START then FAIL and rethrows") {
    val sink = new BufferSink
    intercept[RuntimeException] {
      Lineage.tracked(sink, "boom", Seq("in"), Seq("out")) {
        throw new RuntimeException("boom")
      }
    }
    assert(sink.events.map(_.eventType) == Seq("START", "FAIL"))
    assert(sink.events.map(_.runId).distinct.size == 1)
  }

  test("listener derives datasets from the executed plan (scan in, insert out)") {
    val root = TestSpark.freshDir("graft-lineage-listener")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(s"$root/src")

    val sink = new BufferSink
    val listener = new LineageListener(sink)
    spark.listenerManager.register(listener)
    try {
      spark.read.parquet(s"$root/src").filter($"id" > 0)
        .write.parquet(s"$root/dst")
      // listener-bus delivery is async — poll briefly
      def hit: Option[RunEvent] = sink.events.find(e =>
        e.eventType == "COMPLETE" &&
          e.inputs.exists(_.contains("src")) &&
          e.outputs.exists(_.contains("dst")))
      val deadline = System.currentTimeMillis() + 15000
      while (hit.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(hit.isDefined,
        s"expected a COMPLETE event with src input and dst output, got ${sink.events}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("HttpLineageSink: POSTs OpenLineage JSON to a collector, retries a " +
      "transient 503, and never throws when the collector is down") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicInteger
    val received = new ConcurrentLinkedQueue[(String, String)] // (auth, body)
    val fails = new AtomicInteger(1) // exactly one 503, then 200s
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/lineage",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        if (fails.getAndDecrement() > 0) ex.sendResponseHeaders(503, -1)
        else {
          received.add((ex.getRequestHeaders.getFirst("Authorization"), body))
          ex.sendResponseHeaders(200, -1)
        }
        ex.close()
      })
    server.start()
    try {
      val sink = new graft.lineage.HttpLineageSink(
        s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/lineage",
        apiKey = Some("marquez-key"), backoffMs = 20)
      val out = graft.lineage.Lineage.tracked(sink, "nightly_transform",
        Seq("raw/arrivals"), Seq("marts/fct_headways")) { 42 }
      assert(out == 42)
      assert(sink.flush(20000), "deliveries must drain")
      assert(sink.droppedCount == 0, "the transient 503 must be retried")
      import scala.jdk.CollectionConverters._
      val bodies = received.asScala.toSeq
      assert(bodies.size == 2, s"START + COMPLETE expected: $bodies")
      assert(bodies.forall(_._1 == "Bearer marquez-key"),
        "API key travels in the Authorization header")
      assert(bodies.exists(_._2.contains("\"eventType\":\"START\"")))
      val complete = bodies.map(_._2)
        .find(_.contains("\"eventType\":\"COMPLETE\""))
      assert(complete.isDefined)
      assert(complete.get.contains("\"name\":\"nightly_transform\"") &&
        complete.get.contains("\"name\":\"raw/arrivals\"") &&
        complete.get.contains("\"name\":\"marts/fct_headways\"") &&
        complete.get.contains("\"producer\":\"graft-lineage\""),
        s"OpenLineage core fields expected: ${complete.get}")
    } finally server.stop(0)
    // collector down: emit must not throw into the job path; the event is
    // dropped (and counted) after the bounded retries
    val dead = new graft.lineage.HttpLineageSink(
      "http://127.0.0.1:1/api/v1/lineage", maxAttempts = 2, backoffMs = 10)
    graft.lineage.Lineage.tracked(dead, "job", Seq.empty, Seq.empty) { () }
    assert(dead.flush(20000))
    assert(dead.droppedCount == 2L, s"dropped: ${dead.droppedCount}")
  }

  test("HttpLineageSink: a black-holed collector cannot accumulate " +
      "unbounded in-flight retries — the cap drops the newest, counted") {
    // a raw socket that ACCEPTS connections and never responds: every
    // delivery stays in flight until the (long) response timeout — the
    // shape under which an uncapped sink pins one retry chain per emit
    // and grows without bound
    val hole = new java.net.ServerSocket(0, 128,
      java.net.InetAddress.getByName("127.0.0.1"))
    try {
      val sink = new graft.lineage.HttpLineageSink(
        s"http://127.0.0.1:${hole.getLocalPort}/api/v1/lineage",
        maxAttempts = 1, timeoutMs = 60000, maxInflight = 8)
      val e = graft.lineage.RunEvent("START", "rid", "stormjob",
        System.currentTimeMillis(), Seq.empty, Seq.empty)
      (1 to 100).foreach(_ => sink.emit(e)) // emit() must never block
      assert(sink.inflightCount <= 8,
        s"in-flight must stay under the cap: ${sink.inflightCount}")
      assert(sink.droppedCount == 92L,
        s"every emit past the cap drops, counted: ${sink.droppedCount}")
      assert(!sink.flush(200), "the black-holed deliveries remain pending")
      assert(sink.inflightCount <= 8)
    } finally hole.close()
  }
}
