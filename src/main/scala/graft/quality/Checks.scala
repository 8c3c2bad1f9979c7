package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Data-quality checks: each check is a DataFrame of VIOLATING rows — the
  * dbt convention (`dbt test` fails when the compiled SELECT is non-empty,
  * SURVEY.md §3 entry point 3). 37 tests are declared once: 35 generic
  * (`dbt/models/{staging,intermediate,marts}/schema.yml`) + 2 singular
  * (`dbt/tests/marts/assert_*.sql`), each with its name, the model layer
  * it reads and the aggregate that counts its failures (0 ⇔ passed).
  *
  * Two evaluators share that list:
  *  - [[all]] over seven built model frames: the first `passed` of the
  *    set runs ONE Spark action — one conditional-count aggregate per
  *    distinct model, all unioned and collected together — and every
  *    check of the set reads its verdict from that result.
  *  - [[observer]] for a refresh that writes the models anyway: each
  *    layer's counts ride the write that produces its rows as observed
  *    metrics (one `Observation` per layer), so the verdicts cost no job
  *    of their own.
  * Both give the failed names in declaration order.
  */
object Checks {

  /** The model a test reads, in [[all]]'s argument order. */
  object Layer extends Enumeration {
    val StgYellow, Unified, Enriched, Cleaned, Fct, Daily, Monthly = Value
  }

  /** One declared test. `violations` is lazy; `passed` is true exactly
    * when `violations` is empty, read from the shared verdict of the set
    * the check was declared in. */
  final class Check private[quality] (val name: String, query: () => DataFrame,
                                       verdict: () => Boolean) {
    lazy val violations: DataFrame = query()
    def passed: Boolean = verdict()
  }

  /** A declared test: the layer it reads, its violating rows over that
    * layer's model, and the aggregate over the model that counts them
    * (0 ⇔ passed). */
  private final case class Declared(name: String, layer: Layer.Value,
                                    violations: DataFrame => DataFrame, failures: Column)

  /** A row-level test: the rows where `violating` is true. A NULL
    * predicate is not a violation, in the filter as in the count. */
  private def rowTest(name: String, layer: Layer.Value, violating: Column): Declared =
    Declared(name, layer, _.filter(violating), count(when(violating, 1)))

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

  /** The 37 tests, in declaration order. */
  private val declared: Seq[Declared] = {
    import Layer._

    def notNullTest(prefix: String, layer: Layer.Value, c: String) =
      rowTest(s"$prefix.$c.not_null", layer, col(c).isNull)

    // staging (12) — declared on the yellow model only (schema.yml:8-63)
    val staging =
      Seq("trip_id", "vendor_id", "pickup_datetime", "dropoff_datetime",
        "pickup_location_id", "dropoff_location_id", "trip_distance_miles",
        "total_amount", "year", "month")
        .map(c => notNullTest("stg_yellow", StgYellow, c)) ++
      Seq("trip_distance_miles", "total_amount")
        .map(c => rowTest(s"stg_yellow.$c.accepted_range_min0", StgYellow,
          outOfRange(c, Some(0), None)))

    // intermediate (9) — schema.yml:4-45
    val intermediate = Seq(
      notNullTest("int_unified", Unified, "trip_id"),
      notNullTest("int_unified", Unified, "taxi_type"),
      rowTest("int_unified.taxi_type.accepted_values", Unified,
        notAccepted("taxi_type", taxiTypes)),
      notNullTest("int_unified", Unified, "pickup_datetime"),
      notNullTest("int_enriched", Enriched, "trip_id"),
      notNullTest("int_enriched", Enriched, "is_high_quality_trip"),
      rowTest("int_enriched.time_of_day.accepted_values", Enriched,
        notAccepted("time_of_day", timesOfDay)),
      rowTest("int_enriched.pickup_hour.accepted_range_0_23", Enriched,
        outOfRange("pickup_hour", Some(0), Some(23))),
      notNullTest("int_cleaned", Cleaned, "trip_id"))

    // marts (14) — schema.yml:4-87
    val marts = Seq(
      notNullTest("fct_trips", Fct, "trip_id"),
      notNullTest("fct_trips", Fct, "taxi_type"),
      rowTest("fct_trips.taxi_type.accepted_values", Fct,
        notAccepted("taxi_type", taxiTypes)),
      notNullTest("fct_trips", Fct, "pickup_datetime"),
      notNullTest("fct_trips", Fct, "is_high_quality_trip"),
      notNullTest("fct_daily", Daily, "trip_date"),
      notNullTest("fct_daily", Daily, "taxi_type"),
      notNullTest("fct_daily", Daily, "total_trips"),
      rowTest("fct_daily.total_trips.accepted_range_min0", Daily,
        outOfRange("total_trips", Some(0), None)),
      notNullTest("fct_monthly", Monthly, "year"),
      notNullTest("fct_monthly", Monthly, "month"),
      notNullTest("fct_monthly", Monthly, "taxi_type"),
      notNullTest("fct_monthly", Monthly, "total_trips"),
      rowTest("fct_monthly.total_trips.accepted_range_min0", Monthly,
        outOfRange("total_trips", Some(0), None)))

    // singular (2) — dbt/tests/marts/
    val positiveFare = Declared("assert_positive_fare", Fct, assertPositiveFare,
      when(farePercentage(count(when(nonPositiveFare, 1)), count(lit(1))) > 5.0, 1L)
        .otherwise(0L))
    val singular = Seq(positiveFare, rowTest("assert_valid_speed", Fct, invalidSpeed))

    staging ++ intermediate ++ marts ++ singular
  }

  /** All 37 declared tests over the built models, keyed by layer.
    * Building the set runs no Spark job. */
  def all(stgYellow: DataFrame, unified: DataFrame, enriched: DataFrame,
          cleaned: DataFrame, fct: DataFrame, daily: DataFrame,
          monthly: DataFrame): Seq[Check] = {
    val models = Seq(stgYellow, unified, enriched, cleaned, fct, daily, monthly)
    lazy val failures = failureCounts(models)
    declared.map(d => new Check(d.name, () => d.violations(models(d.layer.id)),
      () => failures(d.name) == 0L))
  }

  /** Every declared test's failure count from ONE action: one aggregate
    * per distinct model (a model shared by several layers is scanned
    * once), tagged with the model's index, unioned and collected. */
  private def failureCounts(models: Seq[DataFrame]): Map[String, Long] = {
    val distinct = models.distinct
    val tests = distinct.map(m => declared.filter(d => models(d.layer.id) eq m))
    val perModel = distinct.zip(tests).zipWithIndex.map { case ((m, ts), i) =>
      m.agg(array(ts.map(_.failures): _*).as("failures"))
        .select(lit(i).as("model"), col("failures"))
    }
    perModel.reduce(_ union _).collect().flatMap { r =>
      tests(r.getInt(0)).map(_.name).zip(r.getSeq[Long](1))
    }.toMap
  }

  /** A fresh observer for one refresh. */
  def observer(): Observer = new Observer

  /** The 37 verdicts as observed metrics on the queries that write the
    * models. [[tap]] puts one `Observation` per layer on that layer's
    * model frame, counting each of its tests' failures; [[failed]] reads
    * them once those queries have run.
    *
    * A tap counts every row that flows through it, exactly once, when
    * the tapped frame is evaluated once: Catalyst pushes no filter
    * through the observation, so a tap below a filter (`clean`) still
    * sees every row above it, and a tap below `.cache()` reports when
    * the query that fills the cache finishes. The observations' names
    * carry an id unique to this observer, so two refreshes in one
    * session never share one, and a tapped plan never matches an older
    * refresh's cached plan. */
  final class Observer private[quality] {
    private val id = java.util.UUID.randomUUID().toString.replace("-", "")
    private val observations =
      Layer.values.toSeq.map(l => Observation(s"checks_${l}_$id"))

    /** `model` with `layer`'s failure counts observed on it. */
    def tap(layer: Layer.Value, model: DataFrame): DataFrame = {
      val metrics = declared.filter(_.layer == layer).map(d => d.failures.as(d.name))
      model.observe(observations(layer.id), metrics.head, metrics.tail: _*)
    }

    /** The failed tests' names, in declaration order. Call it only once
      * a query over every tapped layer has finished (successfully or
      * not): an observation whose query never ran blocks. A query that
      * ran no task reports no metrics at all; a missing count reads as
      * 0, as the action's count over no rows does. */
    def failed(): Seq[String] = {
      val counts = observations.map(_.get)
      declared.filterNot(d => counts(d.layer.id).get(d.name).forall(_ == 0L)).map(_.name)
    }
  }
}
