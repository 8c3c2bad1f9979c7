package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks: each check is a DataFrame of VIOLATING rows — the
  * dbt convention (`dbt test` fails when the compiled SELECT is non-empty,
  * SURVEY.md §3 entry point 3). `Checks.all` ports all 37 declared tests:
  * 35 generic (`dbt/models/{staging,intermediate,marts}/schema.yml`) + 2
  * singular (`dbt/tests/marts/assert_*.sql`).
  *
  * Each violation query is a filter directly over the model DataFrame, so
  * Catalyst fuses it with the model plan and pushes predicates into the
  * scan. The verdicts do not run those queries one by one: the first
  * `passed` of a set built by [[all]] runs ONE Spark action — one
  * conditional-count aggregate per distinct model, all unioned and
  * collected together — and every check of the set reads its verdict
  * from that result (one scan per model, one job per model plus the
  * collect, where a job per check paid Spark's fixed per-job cost 37
  * times).
  */
object Checks {

  /** One declared test. `violations` is lazy; `passed` is true exactly
    * when `violations` is empty, read from the shared verdict of the set
    * the check was declared in. */
  final class Check private[quality] (val name: String, val violations: DataFrame,
                                       verdict: () => Boolean) {
    def passed: Boolean = verdict()
  }

  /** A declared test over one model: its violating rows and the
    * aggregate over the model that counts them (0 ⇔ passed). */
  private final case class Declared(name: String, model: DataFrame,
                                    violations: DataFrame, failures: Column)

  /** A row-level test: the rows where `violating` is true. A NULL
    * predicate is not a violation, in the filter as in the count. */
  private def rowTest(name: String, model: DataFrame, violating: Column): Declared =
    Declared(name, model, model.filter(violating), count(when(violating, 1)))

  private def notAccepted(column: String, values: Seq[String]): Column =
    !col(column).isin(values: _*)

  private def outOfRange(column: String, min: Option[Double], max: Option[Double]): Column = {
    val c = col(column)
    val conds: Seq[Column] =
      min.map(m => c < m).toSeq ++ max.map(m => c > m).toSeq
    c.isNotNull && conds.reduce(_ || _)
  }

  private val invalidSpeed: Column =
    col("avg_speed_mph") <= 0 || col("avg_speed_mph") > 100

  private val nonPositiveFare: Column =
    col("fare_amount") <= 0 || col("total_amount") <= 0

  /** `problem_count * 100.0 / total_count`; NULL over zero rows, which
    * then passes the `> 5.0` test (an empty mart has no bad fares). */
  private def farePercentage(problem: Column, total: Column): Column =
    try_divide(problem * 100.0, total)

  /** Generic test: `not_null` — violating rows have a null column. */
  def notNull(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNull)

  /** Generic test: `accepted_values`. dbt compiles this to
    * `GROUP BY col HAVING col NOT IN (...)` where a NULL passes under
    * three-valued logic (nullability is the separate `not_null` test), so
    * NULL rows are NOT violations here. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[String]): DataFrame =
    df.filter(notAccepted(column, values))

  /** Generic test: `dbt_utils.accepted_range` (inclusive bounds; null
    * passes, matching dbt_utils' `where column is not null` template). */
  def acceptedRange(df: DataFrame, column: String,
                    min: Option[Double] = None, max: Option[Double] = None): DataFrame =
    df.filter(outOfRange(column, min, max))

  /** Singular: `assert_positive_fare.sql` — fails only if >5% of fct_trips
    * rows have non-positive fare/total. The reference crosses two global
    * single-row aggregates (J1, SURVEY §2.3); both counts come from ONE
    * aggregate here, so the upstream chain is scanned once, and the
    * frame stays lazy (building it runs no job). */
  def assertPositiveFare(fctTrips: DataFrame): DataFrame =
    fctTrips.agg(
      count(when(nonPositiveFare, 1)).as("problem_count"),
      count(lit(1)).as("total_count"))
      .withColumn("problem_percentage",
        farePercentage(col("problem_count"), col("total_count")))
      .filter(col("problem_percentage") > 5.0)

  /** Singular: `assert_valid_speed.sql` — any row with speed <= 0 or > 100. */
  def assertValidSpeed(fctTrips: DataFrame): DataFrame =
    fctTrips.filter(invalidSpeed)

  private val taxiTypes = Seq("yellow", "green", "fhv", "fhvhv")
  private val timesOfDay = Seq("Morning", "Afternoon", "Evening", "Night")

  /** All 37 declared tests over the built models, keyed by layer.
    * Building the set runs no Spark job. */
  def all(stgYellow: DataFrame, unified: DataFrame, enriched: DataFrame,
          cleaned: DataFrame, fct: DataFrame, daily: DataFrame,
          monthly: DataFrame): Seq[Check] = {

    def notNullTest(prefix: String, model: DataFrame, c: String) =
      rowTest(s"$prefix.$c.not_null", model, col(c).isNull)

    // staging (12) — declared on the yellow model only (schema.yml:8-63)
    val staging =
      Seq("trip_id", "vendor_id", "pickup_datetime", "dropoff_datetime",
        "pickup_location_id", "dropoff_location_id", "trip_distance_miles",
        "total_amount", "year", "month")
        .map(c => notNullTest("stg_yellow", stgYellow, c)) ++
      Seq("trip_distance_miles", "total_amount")
        .map(c => rowTest(s"stg_yellow.$c.accepted_range_min0", stgYellow,
          outOfRange(c, Some(0), None)))

    // intermediate (9) — schema.yml:4-45
    val intermediate = Seq(
      notNullTest("int_unified", unified, "trip_id"),
      notNullTest("int_unified", unified, "taxi_type"),
      rowTest("int_unified.taxi_type.accepted_values", unified,
        notAccepted("taxi_type", taxiTypes)),
      notNullTest("int_unified", unified, "pickup_datetime"),
      notNullTest("int_enriched", enriched, "trip_id"),
      notNullTest("int_enriched", enriched, "is_high_quality_trip"),
      rowTest("int_enriched.time_of_day.accepted_values", enriched,
        notAccepted("time_of_day", timesOfDay)),
      rowTest("int_enriched.pickup_hour.accepted_range_0_23", enriched,
        outOfRange("pickup_hour", Some(0), Some(23))),
      notNullTest("int_cleaned", cleaned, "trip_id"))

    // marts (14) — schema.yml:4-87
    val marts = Seq(
      notNullTest("fct_trips", fct, "trip_id"),
      notNullTest("fct_trips", fct, "taxi_type"),
      rowTest("fct_trips.taxi_type.accepted_values", fct,
        notAccepted("taxi_type", taxiTypes)),
      notNullTest("fct_trips", fct, "pickup_datetime"),
      notNullTest("fct_trips", fct, "is_high_quality_trip"),
      notNullTest("fct_daily", daily, "trip_date"),
      notNullTest("fct_daily", daily, "taxi_type"),
      notNullTest("fct_daily", daily, "total_trips"),
      rowTest("fct_daily.total_trips.accepted_range_min0", daily,
        outOfRange("total_trips", Some(0), None)),
      notNullTest("fct_monthly", monthly, "year"),
      notNullTest("fct_monthly", monthly, "month"),
      notNullTest("fct_monthly", monthly, "taxi_type"),
      notNullTest("fct_monthly", monthly, "total_trips"),
      rowTest("fct_monthly.total_trips.accepted_range_min0", monthly,
        outOfRange("total_trips", Some(0), None)))

    // singular (2) — dbt/tests/marts/
    val positiveFare = Declared("assert_positive_fare", fct, assertPositiveFare(fct),
      when(farePercentage(count(when(nonPositiveFare, 1)), count(lit(1))) > 5.0, 1L)
        .otherwise(0L))
    val singular = Seq(positiveFare, rowTest("assert_valid_speed", fct, invalidSpeed))

    val declared = staging ++ intermediate ++ marts ++ singular
    lazy val failures = failureCounts(declared)
    declared.map(d => new Check(d.name, d.violations, () => failures(d.name) == 0L))
  }

  /** Every declared test's failure count from ONE action: one aggregate
    * per distinct model (a model shared by several tests is scanned
    * once), tagged with the model's index, unioned and collected. */
  private def failureCounts(declared: Seq[Declared]): Map[String, Long] = {
    val models = declared.map(_.model).distinct
    val tests = models.map(m => declared.filter(_.model eq m))
    val perModel = models.zip(tests).zipWithIndex.map { case ((m, ts), i) =>
      m.agg(array(ts.map(_.failures): _*).as("failures"))
        .select(lit(i).as("model"), col("failures"))
    }
    perModel.reduce(_ union _).collect().flatMap { r =>
      tests(r.getInt(0)).map(_.name).zip(r.getSeq[Long](1))
    }.toMap
  }
}
