package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Schemas}

/** Typed staging model — the engine's `stg_arrivals`
  * (reference `dbt_project/models/staging/stg_arrivals.sql:18-40`).
  *
  * Raw hive-partitioned parquet glob (`date=.../arrivals_&#42;.parquet`) → 7
  * typed columns:
  *  - explicit casts to the declared types (P3)
  *  - fault-tolerant timestamp parse: malformed → NULL, never an error
  *    (P4/F5, DuckDB `try_cast`)
  *  - `ingested_at = current_timestamp()` (F3 — nondeterministic by design;
  *    excluded from golden-hash comparisons per SURVEY H5)
  *  - zero-files fallback to an empty typed relation (S9/P6/H6: the
  *    reference's Jinja glob-count guard, reproduced as a runtime FS check
  *    because Catalyst cannot plan a nonexistent path)
  *
  * The raw zone is read with its declared schema ([[Schemas.rawArrivals]]),
  * so no Spark job runs just to infer it from the snapshot footers.
  *
  * Scale notes: the select is a pure projection over the scan — Catalyst
  * pushes column pruning into parquet, and hive partition discovery on
  * `date=` directories gives partition pruning for free the moment a date
  * filter is applied downstream (the reference writes the partition but
  * never prunes on it; we keep the layout so incremental marts can).
  */
object StgArrivals {

  /** True if the glob matches at least one file (reference
    * `stg_arrivals.sql:5-14`, compile-time `glob()` count).
    */
  def globNonEmpty(spark: SparkSession, pattern: String): Boolean = {
    val path = new Path(pattern)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(path)
    matches != null && matches.nonEmpty
  }

  /** Build the staging frame from a raw zone directory
    * (`{raw}/date=YYYY-MM-DD/arrivals_*.parquet`).
    */
  def apply(spark: SparkSession, rawDir: String): DataFrame = {
    GraftSession.tune(spark)
    val pattern = s"$rawDir/date=*/arrivals_*.parquet"
    if (!globNonEmpty(spark, pattern)) Schemas.emptyRelation(spark, Schemas.stgArrivals)
    else fromRaw(spark.read.schema(Schemas.rawArrivals).parquet(pattern))
  }

  /** The typed projection itself, reusable over any frame with the raw
    * arrival columns (reference `stg_arrivals.sql:18-25`).
    */
  def fromRaw(raw: DataFrame): DataFrame =
    raw.select(
      col("lineId").cast("string").as("line_id"),
      col("stopId").cast("string").as("stop_id"),
      col("platformName").as("platform_name"),
      col("destinationName").as("destination_name"),
      col("timeToStation").cast("int").as("time_to_station_s"),
      expr("try_cast(timestamp as timestamp)").as("event_ts"),
      current_timestamp().as("ingested_at"))
}
