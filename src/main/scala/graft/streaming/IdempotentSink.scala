package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Exactly-once parquet sink for `foreachBatch` pipelines.
  *
  * Structured Streaming's contract for `foreachBatch` is at-least-once: a
  * micro-batch that fails mid-write is REPLAYED with the same `batchId`
  * after restart, so a plain `append` duplicates every row the first
  * attempt already landed. The standard fix is to make the write
  * idempotent on `batchId`, which is what this sink does:
  *
  *  1. a replayed batch whose COMMIT MARKER (`_committed-<id>`) exists is
  *     SKIPPED — the previous attempt finished the whole sequence below;
  *  2. any `batch=<id>` directory present WITHOUT its marker is a partial
  *     leftover (a crash mid-rename on an object store, where "rename" is
  *     a non-atomic O(data) copy) and is deleted before the retry;
  *  3. data is written to a scratch directory under the sink root
  *     (same filesystem → same-volume rename);
  *  4. the scratch dir is renamed to `batch=<id>`;
  *  5. the marker is created LAST — visibility is gated on the marker,
  *     never on directory existence, so the protocol is correct on both
  *     POSIX/HDFS (where the rename alone is atomic) and object stores
  *     (where it is not).
  *
  * The layout doubles as a partition scheme: downstream batch reads of
  * `outDir` discover `batch` as a partition column and prune on it.
  * Markers are `_`-prefixed, which Spark's file listing hides, so they
  * never pollute reads. Readers needing strict batch isolation on object
  * stores should read via [[readCommitted]], which filters to marked
  * batches. Failure-atomicity of the swap follows the same rename-check
  * discipline as [[graft.core.Layout.compact]] (a false return aborts
  * loudly rather than losing rows).
  */
object IdempotentSink {

  private def markerPath(root: Path, batchId: Long) =
    new Path(root, s"_committed-$batchId")

  /** The `foreachBatch` function: `stream.writeStream.foreachBatch(writer(dir))`.
    *
    * `onReplay` runs INSTEAD of the write when the batch's marker already
    * exists (a replayed batch whose data is durable). The default fully
    * evaluates the frame (see the marker-hit branch below), which for an
    * expensive stateless plan pays the whole computation again for a
    * discarded result. The ledger writers commit through [[Wave.commit]],
    * whose replay rule (in [[Wave]]'s scaladoc) picks a cheaper action.
    */
  def writer(outDir: String,
      onReplay: DataFrame => Unit = _.foreach(_ => ())): (DataFrame, Long) => Unit =
    (df, batchId) => {
    val spark = df.sparkSession
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new Path(root, s"batch=$batchId")
    val marker = markerPath(root, batchId)
    if (!fs.exists(marker)) {
      // no marker → the previous attempt died somewhere before step 5;
      // whatever partial dest it left is untrustworthy — rebuild it
      if (fs.exists(dest)) fs.delete(dest, true)
      val scratch = new Path(root, s".inflight-$batchId")
      df.write.mode(SaveMode.Overwrite).parquet(scratch.toString)
      if (!fs.rename(scratch, dest))
        throw new java.io.IOException(
          s"idempotent sink: rename $scratch -> $dest failed; " +
            "scratch left intact for inspection")
      fs.create(marker, true).close()
    } else {
      // marker hit (replayed batch): the DATA is already committed, but
      // by default the batch is still fully evaluated — an upstream
      // STATEFUL operator (flatMapGroupsWithState, windowed agg)
      // re-computes this batch's state updates during replay, and Spark
      // refuses to commit the batch unless every partition's state store
      // committed (STATE_STORE_COMMIT_VALIDATION_FAILED otherwise). A
      // zero-effect action runs all partitions without writing a byte;
      // `onReplay` lets stateless pipelines substitute a cheaper one.
      onReplay(df)
    }
    ()
  }

  /** Batch ids whose commit marker exists — the set a strict reader trusts. */
  def committedBatches(spark: SparkSession, outDir: String): Seq[Long] = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("_committed-") =>
        n.stripPrefix("_committed-").toLong }
      .sorted
  }

  /** Read only marker-committed batches. On POSIX/HDFS this equals a plain
    * read of `outDir`; on object stores it additionally excludes any batch
    * directory a crashed writer half-copied into place.
    *
    * The read is built from the committed paths DIRECTLY (`basePath` keeps
    * `batch` as a partition column), never by listing `outDir` and
    * filtering: a whole-dir read would schema-infer over unmarked partial
    * batches — a truncated parquet footer fails the read before any
    * partition filter applies — and an `isin` over years of batch ids
    * would grow an unbounded predicate. Path-based reads have neither
    * problem: uncommitted dirs are never listed, and cost scales with the
    * committed count only.
    *
    * Zero committed batches: the sink owns the schema — there is nothing
    * trustworthy to infer it from — so callers that know their sink's
    * schema pass it as `schema` and get a TYPED empty frame their
    * downstream `select`/joins accept; without it the fallback is an
    * empty 0-column frame (which a `.select("fp")` would reject — the
    * schema parameter exists precisely so callers need not special-case
    * the cold start themselves).
    */
  def readCommitted(spark: SparkSession, outDir: String,
      schema: Option[StructType] = None): DataFrame = {
    val ids = committedBatches(spark, outDir)
    if (ids.isEmpty)
      schema.fold(spark.emptyDataFrame)(s =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s))
    else spark.read.option("basePath", outDir)
      .parquet(ids.map(id => s"$outDir/batch=$id"): _*)
  }
}
