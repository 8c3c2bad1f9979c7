package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.quality.Checks
import graft.tools.Profile

/** The 37 checks' shared verdict against each check's own violation
  * query, on the fixture models with seeded faults, and the verdict's
  * job budget: one aggregate per model plus the collect. */
class ChecksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val m = Pipeline.buildModels(
    TaxiFixturesData.rawYellow(spark), TaxiFixturesData.rawGreen(spark),
    TaxiFixturesData.rawFhv(spark), TaxiFixturesData.rawFhvhv(spark))

  /** `model` plus one copy of a row with `column` set to `value`. */
  private def fault(model: DataFrame, column: String, value: Column): DataFrame =
    model.unionByName(model.limit(1)
      .withColumn(column, value.cast(model.schema(column).dataType)))

  /** A fct_trips frame of `n` valid rows, the first `bad` with a
    * non-positive fare. */
  private def fctWithBadFares(n: Int, bad: Int): DataFrame = spark.range(n).select(
    col("id").cast("string").as("trip_id"), lit("yellow").as("taxi_type"),
    lit(java.sql.Timestamp.valueOf("2024-01-01 07:00:00")).as("pickup_datetime"),
    lit(true).as("is_high_quality_trip"),
    when(col("id") < bad, lit(0.0)).otherwise(lit(10.0)).as("fare_amount"),
    lit(12.0).as("total_amount"), lit(20.0).as("avg_speed_mph"))

  /** Every check's verdict equals its violation query's emptiness; the
    * set is built without a job and judged in at most 8 (one aggregate
    * per model and the collect). The models are materialized first, as
    * `Pipeline.run` reads stored tables, so their own shuffles stay out
    * of the count. Returns the failed names. */
  private def judge(models: DataFrame*): Set[String] = {
    val Seq(stgYellow, unified, enriched, cleaned, fct, daily, monthly) =
      models.map(_.localCheckpoint())
    val sc = spark.sparkContext
    val (checks, built) = Profile.record(sc) {
      Checks.all(stgYellow, unified, enriched, cleaned, fct, daily, monthly)
    }
    assert(checks.size == 37)
    assert(built.jobs.isEmpty, s"Checks.all ran jobs: ${built.jobs.map(_.site)}")
    val (verdicts, judged) = Profile.record(sc)(checks.map(c => c.name -> c.passed))
    assert(judged.jobs.size <= 8, s"37 verdicts ran ${judged.jobs.size} jobs")
    checks.zip(verdicts).foreach { case (c, (_, passed)) =>
      assert(passed == c.violations.isEmpty, s"${c.name}: passed=$passed")
    }
    verdicts.collect { case (n, false) => n }.toSet
  }

  test("fused verdicts match each violation query on seeded faults") {
    val failed = judge(
      fault(m.stgYellow, "dropoff_location_id", lit(null)),
      // a NULL taxi_type fails not_null but passes accepted_values
      fault(m.unified, "taxi_type", lit(null)),
      fault(fault(m.enriched, "is_high_quality_trip", lit(null)), "pickup_hour", lit(24)),
      fault(m.cleaned, "trip_id", lit(null)),
      fault(fault(m.fctTrips, "pickup_datetime", lit(null)), "taxi_type", lit("limo")),
      fault(fault(m.fctDaily, "trip_date", lit(null)), "total_trips", lit(-1)),
      fault(m.fctMonthly, "total_trips", lit(null)))
    assert(failed == Set(
      "stg_yellow.dropoff_location_id.not_null",
      "int_unified.taxi_type.not_null",
      "int_enriched.is_high_quality_trip.not_null",
      "int_enriched.pickup_hour.accepted_range_0_23",
      "int_cleaned.trip_id.not_null",
      "fct_trips.pickup_datetime.not_null",
      "fct_trips.taxi_type.accepted_values",
      "fct_daily.trip_date.not_null",
      "fct_daily.total_trips.accepted_range_min0",
      "fct_monthly.total_trips.not_null"))
  }

  test("assert_positive_fare: 5% passes, 6% fails, an empty fct passes") {
    def failedWith(fct: DataFrame) = judge(m.stgYellow, m.unified, m.enriched,
      m.cleaned, fct, m.fctDaily, m.fctMonthly)
    assert(failedWith(fctWithBadFares(20, 1)).isEmpty)
    assert(failedWith(fctWithBadFares(50, 3)) == Set("assert_positive_fare"))
    assert(failedWith(m.fctTrips.limit(0)).isEmpty)
  }
}
