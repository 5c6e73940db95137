package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Data-quality expectations as data — the engine's reimplementation of the
  * reference's two validation layers (SURVEY A5-A7):
  *
  *  - dbt `not_null` schema tests ×9 (`dbt_project/models/schema.yml:7-37`,
  *    compiled to count-failing-rows SQL);
  *  - Great Expectations runtime checks (`tfl_transform_dag.py:50-61`):
  *    `ExpectColumnValuesToBeBetween(time_to_station_s, 0, 3600)` and
  *    `ExpectColumnValuesToNotBeNull(line_id)`, both warning severity, on a
  *    ≤10k-row sample.
  *
  * Design: each check is a conditional-count expression, so N checks
  * against one frame cost one pass regardless of N. Two ways to run that
  * pass:
  *
  *  - [[check]] / [[run]]: a dedicated aggregation job over the frame;
  *  - [[observe]]: the counts ride an action the caller already runs (a
  *    table write, say) through `Dataset.observe` — no extra job, no
  *    extra scan. The transform job runs its dbt tests this way while
  *    writing its staging and mart tables.
  *
  * GX parity notes: `Between` checks only non-null values (GX semantics —
  * nulls are the `NotNull` check's business); `sample` reproduces the
  * reference's `limit 10000` pre-check sampling.
  */
object Expectations {

  sealed trait Severity
  case object Error extends Severity
  case object Warning extends Severity

  sealed trait Expectation {
    def name: String
    def severity: Severity
    /** 1 when the row fails the expectation, else 0. */
    def failureFlag: Column
  }

  /** Reference dbt `not_null` / GX `ExpectColumnValuesToNotBeNull`. */
  final case class NotNull(column: String, severity: Severity = Error)
      extends Expectation {
    val name = s"not_null_$column"
    def failureFlag: Column = when(col(column).isNull, 1L).otherwise(0L)
  }

  /** Reference GX `ExpectColumnValuesToBeBetween` (null-tolerant). */
  final case class Between(column: String, lo: Double, hi: Double,
      severity: Severity = Warning) extends Expectation {
    val name = s"between_${column}_${lo}_$hi"
    def failureFlag: Column =
      when(col(column).isNotNull && (col(column) < lo || col(column) > hi), 1L)
        .otherwise(0L)
  }

  final case class Result(name: String, failures: Long, passed: Boolean,
      severity: Severity)

  /** One-pass evaluation → tidy frame (check_name, failures, passed),
    * ordered by check name for deterministic output.
    */
  def check(df: DataFrame, expectations: Seq[Expectation],
      sample: Option[Int] = None): DataFrame = {
    val sampled = sample.fold(df)(df.limit)
    val aggs = expectations.map(e => sum(e.failureFlag).as(e.name))
    val oneRow = sampled.agg(aggs.head, aggs.tail: _*)
    // pivot the single row of counts into (check_name, failures) rows
    val stackExpr = expectations
      .map(e => s"'${e.name}', `${e.name}`").mkString(", ")
    oneRow
      .selectExpr(s"stack(${expectations.size}, $stackExpr) as (check_name, failures)")
      .withColumn("failures", coalesce(col("failures"), lit(0L)))
      .withColumn("passed", col("failures") === 0L)
      .orderBy("check_name")
  }

  /** Driver-side evaluation for jobs that gate on severity (TransformJob). */
  def run(df: DataFrame, expectations: Seq[Expectation],
      sample: Option[Int] = None): Seq[Result] = {
    val byName = expectations.map(e => e.name -> e).toMap
    check(df, expectations, sample).collect().toSeq.map { r =>
      result(byName(r.getString(0)), r.getLong(1))
    }
  }

  private def result(e: Expectation, failures: Long): Result =
    Result(e.name, failures, failures == 0L, e.severity)

  /** Expectations attached to `frame` through `Dataset.observe`: whatever
    * action consumes `frame` (exactly one) computes the failure counts on
    * the side. [[results]] blocks until that action has finished; calling
    * it before running it blocks forever.
    */
  final class Observed private[Expectations] (val frame: DataFrame,
      observation: Observation, expectations: Seq[Expectation]) {
    private lazy val metrics = observation.get

    /** What [[run]] returns over the rows the action saw: same results,
      * same order (by check name).
      */
    def results: Seq[Result] = expectations.sortBy(_.name).map { e =>
      // sum over zero rows is null, as in check's coalesce
      result(e, Option(metrics(e.name)).fold(0L)(_.asInstanceOf[Long]))
    }
  }

  /** Attach `expectations` to `df`; write or collect [[Observed.frame]]
    * instead of `df`, then read the results.
    */
  def observe(df: DataFrame, expectations: Seq[Expectation]): Observed = {
    val observation = Observation()
    val aggs = expectations.map(e => sum(e.failureFlag).as(e.name))
    new Observed(df.observe(observation, aggs.head, aggs.tail: _*),
      observation, expectations)
  }
}
