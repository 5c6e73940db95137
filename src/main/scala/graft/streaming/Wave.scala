package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Leaves

/** One micro-batch of a ledger writer: the skeleton every streaming
  * `foreachBatch` writer in this package shares. A writer is
  * {{{
  * Wave.writer(compactEvery)(compactLedgers(_, dirA, dirB)) { w =>
  *   val sk = w.keep(sketch(w.batch))
  *   val verdict = w.keep(admit(sk, ledgers, scope = w.keep))
  *   w.commit(verdictDir, verdict)
  *   w.commit(dirA, rowsA(sk.join(w.committed(verdictDir), "id")))
  * }
  * }}}
  * and the skeleton owns the parts that make it exactly-once and
  * bounded-memory.
  *
  * '''Commit order.''' The order of the body's [[commit]] calls IS the
  * writer's crash-window order; each commit is one [[IdempotentSink]]
  * batch, with no cross-sink transaction. Every admission in this package
  * is a pure function of (batch, COMMITTED ledgers) — ledgers are read
  * through [[LedgerCompaction.read]] / [[IdempotentSink.readCommitted]],
  * so a half-written batch is invisible — and `foreachBatch` replays
  * batch N before N+1 ever runs. So a replay after a kill between any
  * two commits re-derives identical rows: committed sinks skip on their
  * markers and the rest rebuild. Verdicts therefore commit FIRST and
  * ledgers LAST: a committed ledger without its verdict would make the
  * replay reject the batch's own documents against themselves. For the
  * same reason a ledger that the wave's own frames read must commit after
  * every delta derived from those frames — a replay would otherwise read
  * the wave's own rows back (the fp ledger in [[CurationStream]]).
  *
  * '''Replay rule.''' On a marker hit, the wave's FIRST commit evaluates
  * the source batch (`batch.foreach`) and later commits do nothing. The
  * batch frame may carry an upstream stateful operator of the caller's
  * stream, whose state stores Spark only commits once every partition ran
  * (see [[IdempotentSink.writer]]), so it is evaluated once. The writers'
  * own plans are stateless joins over the batch and the ledgers; the
  * sink's default full evaluation would pay the most expensive plan again
  * for a discarded result — in the crash window, against ledgers that
  * already hold this batch's rows.
  *
  * '''Durable re-read.''' A ledger commit appends to a dir that the
  * in-memory verdict plan scans, and `CacheManager.recacheByPath` fires
  * for every cached plan whose scan roots overlap a written path. A
  * ledger delta derived from that verdict plan could then be re-derived
  * against ledgers already containing this batch, so every document
  * rejects against itself. Ledger deltas are derived from
  * [[committed]], the verdict rows as landed on disk: the lineage is
  * severed, and on a replay whose verdict marker exists the batch dir is
  * present and identical, so the read is the same either way. Frames whose
  * lineage reads only the batch source (the kept sketches) are never
  * invalidated by the appends and can be joined freely. Writers whose
  * commits all read frames materialized before the first append (eager
  * folds, driver-built label/merge deltas) need no re-read.
  *
  * '''Persists.''' [[keep]] persists for this wave only: the default
  * session-lifetime cache would gain entries every wave, forever, on an
  * unbounded stream. It is also the `scope` the engine operators take for
  * their multiply-consumed mid-frames. Everything kept or owned
  * ([[own]]) is released when the body ends, newest first, also when it
  * throws.
  *
  * '''Compaction cadence.''' After a body that returns normally, `compact`
  * runs once every `compactEvery` waves (`batchId % compactEvery ==
  * compactEvery - 1`; 0 disables it). Running inside the batch function
  * satisfies [[LedgerCompaction]]'s single-writer, between-micro-batches
  * contract by construction: `foreachBatch` IS the micro-batch. A replayed
  * batch may re-trigger a compaction, which is an idempotent re-invocation.
  */
final class Wave private (val batch: DataFrame, val batchId: Long) {
  def spark: SparkSession = batch.sparkSession

  private var held = List.empty[() => Unit]
  private val schemas = scala.collection.mutable.Map.empty[String, StructType]

  /** Persist `df` for this wave; released when the wave ends. */
  def keep(df: DataFrame): DataFrame = {
    val p = df.persist()
    hold(p.unpersist())
    p
  }

  /** Own a checkpoint-backed leaf — a `localCheckpoint` the body cut, or
    * one an operator returned (the eager folds' deltas): its blocks are
    * freed ([[Leaves.release]]) when the wave ends, not when the
    * ContextCleaner gets to it; a frame that is not checkpoint-backed
    * releases nothing. Pass the leaf or a projection of it, never a frame
    * over the batch: a `foreachBatch` batch is itself a `LogicalRDD`, and
    * the release would walk the stream's lineage. */
  def own(leaf: DataFrame): DataFrame = {
    hold(Leaves.release(leaf))
    leaf
  }

  /** Commit `df` as this wave's batch of the sink at `dir` through
    * [[IdempotentSink]]; on a marker hit only the wave's first commit
    * evaluates the source batch (the replay rule above). */
  def commit(dir: String, df: DataFrame): Unit = {
    val firstCommit = schemas.isEmpty
    val onReplay: DataFrame => Unit =
      if (firstCommit) _ => batch.foreach(_ => ()) else _ => ()
    schemas(dir) = df.schema
    IdempotentSink.writer(dir, onReplay)(df, batchId)
  }

  /** This wave's rows as committed under `dir`, read with the schema
    * [[commit]] wrote (no inference job). */
  def committed(dir: String): DataFrame =
    spark.read.schema(schemas(dir)).parquet(s"$dir/batch=$batchId")

  private def hold(release: => Unit): Unit = held ::= (() => release)

  private def release(): Unit = {
    val rs = held
    held = Nil
    rs.foreach(_())
  }
}

object Wave {

  /** The `foreachBatch` function running `body` once per micro-batch. */
  def writer(compactEvery: Int)(compact: SparkSession => Unit)(
      body: Wave => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val w = new Wave(batch, batchId)
      try body(w) finally w.release()
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        compact(batch.sparkSession)
    }
}
