package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.quality.Checks
import graft.quality.Checks.Layer
import graft.tools.Profile

/** The 37 checks' two evaluators against each other and against each
  * check's own violation query, on the fixture models with seeded
  * faults: the action's shared verdict (`Checks.all`) and its job
  * budget, one aggregate per model plus the collect; and the observer's
  * verdict, read from metrics observed on one write of each model. */
class ChecksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val m = Pipeline.buildModels(
    TaxiFixturesData.rawYellow(spark), TaxiFixturesData.rawGreen(spark),
    TaxiFixturesData.rawFhv(spark), TaxiFixturesData.rawFhvhv(spark))

  /** `model` plus one copy of a row with each of `values`' columns set. */
  private def fault(model: DataFrame, values: (String, Column)*): DataFrame =
    model.unionByName(values.foldLeft(model.limit(1)) { case (row, (c, v)) =>
      row.withColumn(c, v.cast(model.schema(c).dataType))
    })

  private def nulls(columns: String*): Seq[(String, Column)] = columns.map(_ -> lit(null))

  /** A fct_trips frame of `n` valid rows, the first `bad` with a
    * non-positive fare. */
  private def fctWithBadFares(n: Int, bad: Int): DataFrame = spark.range(n).select(
    col("id").cast("string").as("trip_id"), lit("yellow").as("taxi_type"),
    lit(java.sql.Timestamp.valueOf("2024-01-01 07:00:00")).as("pickup_datetime"),
    lit(true).as("is_high_quality_trip"),
    when(col("id") < bad, lit(0.0)).otherwise(lit(10.0)).as("fare_amount"),
    lit(12.0).as("total_amount"), lit(20.0).as("avg_speed_mph"))

  /** The failed names from `Checks.all` and from an observer tapping
    * each model once, which must agree in names and order. Every
    * check's verdict equals its violation query's emptiness; the set is
    * built without a job and judged in at most 8 (one aggregate per
    * model and the collect). The models are materialized first, as
    * `Pipeline.run` reads stored tables, so their own shuffles stay out
    * of the count. */
  private def judge(models: DataFrame*): Seq[String] = {
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
    val failed = verdicts.collect { case (n, false) => n }

    val observer = Checks.observer()
    Seq(stgYellow, unified, enriched, cleaned, fct, daily, monthly).zip(Layer.values.toSeq)
      .foreach { case (model, layer) =>
        observer.tap(layer, model).write.format("noop").mode("overwrite").save()
      }
    assert(observer.failed() == failed)
    failed
  }

  test("fused verdicts match each violation query on seeded faults") {
    val failed = judge(
      fault(m.stgYellow, "dropoff_location_id" -> lit(null)),
      // a NULL taxi_type fails not_null but passes accepted_values
      fault(m.unified, "taxi_type" -> lit(null)),
      fault(m.enriched, "is_high_quality_trip" -> lit(null), "pickup_hour" -> lit(24)),
      fault(m.cleaned, "trip_id" -> lit(null)),
      fault(fault(m.fctTrips, "pickup_datetime" -> lit(null)), "taxi_type" -> lit("limo")),
      fault(fault(m.fctDaily, "trip_date" -> lit(null)), "total_trips" -> lit(-1)),
      fault(m.fctMonthly, "total_trips" -> lit(null)))
    assert(failed == Seq(
      "stg_yellow.dropoff_location_id.not_null",
      "int_unified.taxi_type.not_null",
      "int_enriched.is_high_quality_trip.not_null",
      "int_enriched.pickup_hour.accepted_range_0_23",
      "int_cleaned.trip_id.not_null",
      "fct_trips.taxi_type.accepted_values",
      "fct_trips.pickup_datetime.not_null",
      "fct_daily.trip_date.not_null",
      "fct_daily.total_trips.accepted_range_min0",
      "fct_monthly.total_trips.not_null"))
  }

  test("every one of the 37 checks fails on its own fault") {
    val badFares = m.fctTrips.unionByName(m.fctTrips.withColumn("fare_amount", lit(0.0)))
    val failed = judge(
      fault(fault(m.stgYellow, nulls("trip_id", "vendor_id", "pickup_datetime",
        "dropoff_datetime", "pickup_location_id", "dropoff_location_id",
        "trip_distance_miles", "total_amount", "year", "month"): _*),
        "trip_distance_miles" -> lit(-1), "total_amount" -> lit(-0.5)),
      fault(fault(m.unified, nulls("trip_id", "taxi_type", "pickup_datetime"): _*),
        "taxi_type" -> lit("limo")),
      fault(fault(m.enriched, nulls("trip_id", "is_high_quality_trip"): _*),
        "time_of_day" -> lit("Dawn"), "pickup_hour" -> lit(-1)),
      fault(m.cleaned, "trip_id" -> lit(null)),
      fault(fault(badFares, nulls("trip_id", "taxi_type", "pickup_datetime",
        "is_high_quality_trip"): _*), "taxi_type" -> lit("limo"), "avg_speed_mph" -> lit(0.0)),
      fault(fault(m.fctDaily, nulls("trip_date", "taxi_type", "total_trips"): _*),
        "total_trips" -> lit(-1)),
      fault(fault(m.fctMonthly, nulls("year", "month", "taxi_type", "total_trips"): _*),
        "total_trips" -> lit(-1)))
    val all = Checks.all(m.stgYellow, m.unified, m.enriched, m.cleaned, m.fctTrips,
      m.fctDaily, m.fctMonthly).map(_.name)
    assert(failed == all)
  }

  test("assert_positive_fare: 5% passes, 6% fails, an empty fct passes") {
    def failedWith(fct: DataFrame) = judge(m.stgYellow, m.unified, m.enriched,
      m.cleaned, fct, m.fctDaily, m.fctMonthly)
    assert(failedWith(fctWithBadFares(20, 1)).isEmpty)
    assert(failedWith(fctWithBadFares(50, 3)) == Seq("assert_positive_fare"))
    assert(failedWith(m.fctTrips.limit(0)).isEmpty)
    assert(failedWith(fctWithBadFares(0, 0)).isEmpty)
  }
}
