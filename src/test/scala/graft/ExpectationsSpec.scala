package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.quality.Expectations
import graft.quality.Expectations._

/** The reference's quality surface: dbt not_null semantics, GX
  * null-tolerant bounds, 10k sampling, severity routing (SURVEY A5-A7).
  */
class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(
    (Some(1), Some(10.0)), (Some(2), None), (None, Some(-5.0)),
    (Some(4), Some(3601.0)), (Some(5), Some(1800.0)))
    .toDF("id", "v")

  test("NotNull counts null rows") {
    val r = Expectations.run(df, Seq(NotNull("id"), NotNull("v")))
    assert(r.find(_.name == "not_null_id").get.failures == 1)
    assert(r.find(_.name == "not_null_v").get.failures == 1)
    assert(!r.find(_.name == "not_null_id").get.passed)
  }

  test("Between is null-tolerant (GX semantics): nulls don't fail bounds") {
    val r = Expectations.run(df, Seq(Between("v", 0, 3600)))
    // -5 and 3601 fail; the NULL does not
    assert(r.head.failures == 2)
  }

  test("all checks evaluate in one pass and pass on clean data") {
    val clean = Seq((1, 100.0), (2, 200.0)).toDF("id", "v")
    val r = Expectations.run(clean,
      Seq(NotNull("id"), NotNull("v"), Between("v", 0, 3600)))
    assert(r.forall(_.passed))
    assert(r.map(_.name) == r.map(_.name).sorted)
  }

  test("sampling caps the checked rows (reference limit 10000)") {
    val big = (1 to 100).map(i => (i, i.toDouble)).toDF("id", "v")
    val r = Expectations.run(big, Seq(Between("v", 0, 50)), sample = Some(10))
    // only the first 10 rows are inspected — none exceed 50
    assert(r.head.failures == 0)
  }

  test("observed checks ride the consuming action and equal run's results") {
    val checks = Seq(NotNull("v", Warning), NotNull("id"), Between("v", 0, 3600))
    val observed = Expectations.observe(df, checks)
    assert(observed.frame.collect().length == 5)
    assert(observed.results == Expectations.run(df, checks))
    // over zero rows every count is 0, not null
    val none = Expectations.observe(df.filter("id > 100"), checks)
    assert(none.frame.collect().isEmpty)
    assert(none.results == Expectations.run(df.filter("id > 100"), checks))
    assert(none.results.forall(_.passed))
  }

  test("severity is carried through for warn-vs-error routing") {
    val r = Expectations.run(df, Seq(
      NotNull("id", Warning), Between("v", 0, 3600, Warning)))
    assert(r.forall(_.severity == Warning))
  }
}
