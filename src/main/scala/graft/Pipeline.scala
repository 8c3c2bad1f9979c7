package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Intermediate, Marts, Staging}
import graft.quality.Checks
import graft.quality.Checks.Layer
import graft.write.IncrementalWriter

/** In-process DAG runner — replaces the reference's Airflow + dbt `ref()`
  * graph (`airflow/dags/nyc_taxi_pipeline.py:85`) with ordinary function
  * composition over lazy DataFrames (SURVEY §3: "this whole path collapses
  * to in-process Catalyst").
  *
  * Layers mirror the medallion exactly: raw (partitioned parquet) →
  * staging (incremental delete+insert on trip_id) → intermediate (lazy
  * views — never materialized, Catalyst fuses them) → marts (full-rebuild
  * tables). `fct_trips` is cached before the two aggregate marts since
  * both consume it (the reference materializes it as a table for the same
  * reason).
  *
  * The 37 dbt tests are counted on the mart writes as they run (see
  * [[run]]).
  *
  * Models that share no edge run side by side, as dbt does with
  * `threads: 4` (`dbt/profiles.yml:13`): the four raw tables resolve at
  * once, then the four staging feeds run at once, then `fct_trips_daily`
  * and `fct_trips_monthly` at once. Each is a short chain of small Spark
  * jobs, so overlapping them overlaps their fixed per-job driver cost;
  * the jobs themselves are the same.
  */
object Pipeline {

  final case class Layout(root: String) {
    def raw(feed: String): String = s"$root/raw/${feed}_trips"
    def staging(feed: String): String = s"$root/staging/stg_${feed}_trips"
    def mart(name: String): String = s"$root/marts/$name"
  }

  final case class BuiltModels(
    stgYellow: DataFrame, stgGreen: DataFrame, stgFhv: DataFrame, stgFhvhv: DataFrame,
    unified: DataFrame, enriched: DataFrame, cleaned: DataFrame,
    fctTrips: DataFrame, fctDaily: DataFrame, fctMonthly: DataFrame)

  /** Build every model as a lazy DataFrame from the four raw tables. */
  def buildModels(rawYellow: DataFrame, rawGreen: DataFrame,
                  rawFhv: DataFrame, rawFhvhv: DataFrame): BuiltModels = {
    val sy = Staging.yellow(rawYellow)
    val sg = Staging.green(rawGreen)
    val sf = Staging.fhv(rawFhv)
    val sh = Staging.fhvhv(rawFhvhv)
    val uni = Intermediate.unify(sy, sg, sf, sh)
    val enr = Intermediate.enrich(uni)
    val cln = Intermediate.clean(enr)
    val fct = Marts.fctTrips(cln)
    BuiltModels(sy, sg, sf, sh, uni, enr, cln, fct,
      Marts.fctTripsDaily(fct), Marts.fctTripsMonthly(fct))
  }

  /** Full run with storage: staging incremental write, marts CTAS rebuild
    * and the 37 quality checks. Returns the failed check names, in
    * [[Checks.all]]'s order.
    *
    * The checks run no Spark job of their own: their failure counts are
    * observed on the three mart writes ([[Checks.Observer]]). The
    * `fct_trips` write evaluates every row of `stg_yellow`, the unified,
    * enriched and cleaned models and `fct_trips` itself, in one stage;
    * each aggregate-mart write evaluates every row of its mart. The
    * counts are read once all three writes have returned.
    *
    * Every raw table resolves before anything is written, so a missing
    * one fails the run with storage untouched. A failing feed or mart
    * fails the run only after its siblings have finished. The caller's
    * job group, description and scheduler pool reach every job. */
  def run(spark: SparkSession, layout: Layout): Seq[String] = {
    val feeds = Seq("yellow", "green", "fhv", "fhvhv")
    val raws = concurrently(feeds.map(f => () => Tables.parquet(spark, layout.raw(f))))

    // staging: incremental cut + delete+insert per feed (S10/P3)
    val staged = concurrently(feeds.zip(raws).map { case (feed, raw) => () =>
      val transform: DataFrame => DataFrame = feed match {
        case "yellow" => Staging.yellow
        case "green"  => Staging.green
        case "fhv"    => Staging.fhv
        case "fhvhv"  => Staging.fhvhv
      }
      val cut = IncrementalWriter.incrementalCut(spark, raw, layout.staging(feed))
      IncrementalWriter.deleteInsert(spark, transform(cut), layout.staging(feed), "trip_id")
      Tables.parquet(spark, layout.staging(feed))
    })

    // each model is tapped for its checks below the write that evaluates it
    val checks = Checks.observer()
    val uni = checks.tap(Layer.Unified, Intermediate.unify(
      checks.tap(Layer.StgYellow, staged(0)), staged(1), staged(2), staged(3)))
    val enr = checks.tap(Layer.Enriched, Intermediate.enrich(uni))
    val cln = checks.tap(Layer.Cleaned, Intermediate.clean(enr))
    val fct = checks.tap(Layer.Fct, Marts.fctTrips(cln)).cache()
    try {
      IncrementalWriter.overwriteTable(fct, layout.mart("fct_trips"))
      concurrently(Seq(
        ("fct_trips_daily", Layer.Daily, Marts.fctTripsDaily _),
        ("fct_trips_monthly", Layer.Monthly, Marts.fctTripsMonthly _)).map {
        case (name, layer, model) => () =>
          IncrementalWriter.overwriteTable(checks.tap(layer, model(fct)), layout.mart(name))
      })
      checks.failed()
    } finally fct.unpersist()
  }

  /** Run `bodies` side by side, one thread each, and return their results
    * in order once all have finished; if any failed, rethrow the first
    * failure with the others attached as suppressed. The threads are new
    * for each call, created by the caller's thread, so they inherit its
    * `SparkContext` local properties (job group, description, scheduler
    * pool) and a `cancelJobGroup` reaches their jobs — the long-lived
    * threads of a shared pool carry whatever they were created with. */
  private def concurrently[T](bodies: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(bodies.size)
    try {
      val outcomes = bodies
        .map(body => pool.submit(new Callable[T] { def call(): T = body() }))
        .map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.map(_.get)
      }
    } finally pool.shutdownNow()
  }
}
