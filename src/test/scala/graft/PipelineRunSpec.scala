package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Ingest
import graft.model.{Intermediate, Marts, Staging}
import graft.quality.Checks
import graft.tools.Profile

/** `Pipeline.run` against storage: refreshes over ingested fixture feeds
  * leave the marts a from-scratch build would, their observed check
  * verdicts equal the checks action's over the stored tables, and the
  * steps it runs side by side fail, finish and carry the caller's job
  * group as one serial run would. */
class PipelineRunSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val feeds = Seq("yellow", "green", "fhv", "fhvhv")

  private def fixture(feed: String): DataFrame = feed match {
    case "yellow" => TaxiFixturesData.rawYellow(spark)
    case "green" => TaxiFixturesData.rawGreen(spark)
    case "fhv" => TaxiFixturesData.rawFhv(spark)
    case "fhvhv" => TaxiFixturesData.rawFhvhv(spark)
  }

  /** Columns a corrected re-delivery changes: every positive fare goes up
    * by one, so `trip_id` (pickup time and zones) stays the same. */
  private val fares = Map("yellow" -> Seq("fare_amount", "total_amount"),
    "green" -> Seq("fare_amount", "total_amount"), "fhv" -> Nil,
    "fhvhv" -> Seq("base_passenger_fare"))

  /** Deliver 2024-`month` of `only` through `Ingest.ingestMonth`; the
    * ingest actions, in feed order. */
  private def deliver(layout: Pipeline.Layout, month: Int, mode: Ingest.Mode,
                      corrected: Boolean = false, only: Seq[String] = feeds): Seq[String] =
    only.map { feed =>
      val src = s"${layout.root}/_incoming/${feed}_$month${if (corrected) "_fix" else ""}"
      val rows = fixture(feed).filter(col("month") === month).drop("year", "month", "loaded_at")
      val out = if (!corrected) rows else fares(feed).foldLeft(rows) { (df, c) =>
        df.withColumn(c, when(col(c) > 0, col(c) + 1.0).otherwise(col(c)))
      }
      out.write.mode("overwrite").parquet(src)
      Ingest.ingestMonth(spark, src, layout.raw(feed), feed, 2024, month, mode).action
    }

  private def newLayout(name: String): Pipeline.Layout =
    Pipeline.Layout(Files.createTempDirectory(name).toString)

  private val Stamps = Set("loaded_at", "created_at")

  /** Row count and the sum of a 64-bit hash of every row over `cols`. */
  private def sig(df: DataFrame, cols: Seq[String]): Row =
    df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()

  /** The marts on disk and `failed` against a from-scratch
    * `Pipeline.buildModels` over the raw tables, stamps aside. */
  private def assertMatchesScratch(layout: Pipeline.Layout, failed: Seq[String]): Unit = {
    val raws = feeds.map(f => spark.read.parquet(layout.raw(f)))
    val m = Pipeline.buildModels(raws(0), raws(1), raws(2), raws(3))
    Seq("fct_trips" -> m.fctTrips, "fct_trips_daily" -> m.fctDaily,
      "fct_trips_monthly" -> m.fctMonthly).foreach { case (name, want) =>
      val got = spark.read.parquet(layout.mart(name))
      val cols = got.columns.filterNot(Stamps).sorted.toSeq
      val (g, w) = (sig(got, cols), sig(want, cols))
      assert(g.getLong(0) > 0, s"$name is empty")
      assert(g == w, s"$name differs from a from-scratch build")
    }
    val scratchFailed = Checks.all(m.stgYellow, m.unified, m.enriched, m.cleaned,
      m.fctTrips, m.fctDaily, m.fctMonthly).filterNot(_.passed).map(_.name)
    assert(failed.sorted == scratchFailed.sorted)
  }

  /** Every file under `root` with its size and modification time. */
  private def listing(root: String): Map[Path, (Long, Long)] =
    Files.walk(Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap

  test("backfill, a re-delivered refresh and its repeat each equal a from-scratch build") {
    val layout = newLayout("graft_run")
    assert(deliver(layout, 1, Ingest.Skip).forall(_ == "appended"))
    val backfill = Pipeline.run(spark, layout)
    assert(backfill.isEmpty, s"failed checks: $backfill")
    assertMatchesScratch(layout, backfill)
    // the fixtures hold 2024-02 rows for yellow and green only
    Seq("appended", "skipped_existing").foreach { second =>
      assert(deliver(layout, 1, Ingest.Overwrite, corrected = true).forall(_ == "overwritten"))
      assert(deliver(layout, 2, Ingest.Skip, only = Seq("yellow", "green")) == Seq(second, second))
      val failed = Pipeline.run(spark, layout)
      assert(failed.isEmpty, s"failed checks: $failed")
      assertMatchesScratch(layout, failed)
    }
  }

  /** The 37 checks' failed names by the action, over the stored staging
    * tables and aggregate marts. */
  private def scratchChecks(layout: Pipeline.Layout): Seq[String] = {
    val staged = feeds.map(f => spark.read.parquet(layout.staging(f)))
    val uni = Intermediate.unify(staged(0), staged(1), staged(2), staged(3))
    val enr = Intermediate.enrich(uni)
    val cln = Intermediate.clean(enr)
    Checks.all(staged(0), uni, enr, cln, Marts.fctTrips(cln),
      spark.read.parquet(layout.mart("fct_trips_daily")),
      spark.read.parquet(layout.mart("fct_trips_monthly"))).filterNot(_.passed).map(_.name)
  }

  /** Append one copy of a stored staging row, edited, to the feed's
    * staging table in 2023-12, a month no cut reaches. */
  private def seedStaging(layout: Pipeline.Layout, feed: String)
                         (edit: DataFrame => DataFrame): Unit = {
    val path = layout.staging(feed)
    val stored = spark.read.parquet(path)
    val row = stored.limit(1).collect()
    edit(spark.createDataFrame(java.util.Arrays.asList(row: _*), stored.schema))
      .withColumn("year", lit(2023)).withColumn("month", lit(12))
      .write.mode("append").partitionBy("year", "month").parquet(path)
  }

  test("seeded faults: the observed verdicts equal the action's, and no checks job runs") {
    val layout = newLayout("graft_run_faults")
    deliver(layout, 1, Ingest.Skip)
    assert(Pipeline.run(spark, layout).isEmpty)
    def ts(s: String) = lit(java.sql.Timestamp.valueOf(s))
    // stg_yellow: a NULL dropoff zone
    seedStaging(layout, "yellow")(_.withColumn("dropoff_location_id", lit(null).cast("long")))
    // unified and enriched only: a NULL trip_id at 3,000 mph, which clean drops
    seedStaging(layout, "green")(_.withColumn("trip_id", lit(null).cast("string"))
      .withColumn("pickup_datetime", ts("2023-12-01 10:00:00"))
      .withColumn("dropoff_datetime", ts("2023-12-01 10:01:00"))
      .withColumn("trip_distance_miles", lit(50.0)))
    // through to the daily mart: a NULL pickup time
    seedStaging(layout, "fhvhv")(_.withColumn("pickup_datetime", lit(null).cast("timestamp")))
    val (failed, run) = Profile.record(spark.sparkContext)(Pipeline.run(spark, layout))
    assert(failed == Seq(
      "stg_yellow.dropoff_location_id.not_null",
      "int_unified.trip_id.not_null",
      "int_unified.pickup_datetime.not_null",
      "int_enriched.trip_id.not_null",
      "fct_trips.pickup_datetime.not_null",
      "fct_daily.trip_date.not_null"))
    assert(failed == scratchChecks(layout))
    assert(run.jobs.nonEmpty)
    assert(!run.jobs.exists(_.site.contains("at Checks.scala")),
      run.jobs.map(_.site).mkString("\n"))
    // cleaned and fct: a NULL trip_id with no speed, which clean keeps
    seedStaging(layout, "fhv")(_.withColumn("trip_id", lit(null).cast("string")))
    val more = Pipeline.run(spark, layout)
    assert(more.diff(failed) == Seq("int_cleaned.trip_id.not_null", "fct_trips.trip_id.not_null"))
    assert(more == scratchChecks(layout))
  }

  test("over tables that hold no rows the run returns the action's verdicts") {
    val layout = newLayout("graft_run_empty")
    val staging: Map[String, DataFrame => DataFrame] = Map("yellow" -> Staging.yellow,
      "green" -> Staging.green, "fhv" -> Staging.fhv, "fhvhv" -> Staging.fhvhv)
    feeds.foreach { feed =>
      val none = fixture(feed).limit(0)
      none.write.parquet(layout.raw(feed))
      staging(feed)(none).write.parquet(layout.staging(feed))
    }
    val failed = Await.result(Future(Pipeline.run(spark, layout))(ExecutionContext.global),
      5.minutes)
    assert(spark.read.parquet(layout.mart("fct_trips")).isEmpty)
    assert(failed.isEmpty)
    assert(failed == scratchChecks(layout))
  }

  test("a missing raw table fails the run before anything is written") {
    val layout = newLayout("graft_run_missing")
    deliver(layout, 1, Ingest.Skip)
    Pipeline.run(spark, layout)
    val before = listing(s"${layout.root}/staging") ++ listing(s"${layout.root}/marts")
    deliver(layout, 2, Ingest.Skip, only = Seq("yellow", "green"))
    Files.walk(Paths.get(layout.raw("fhvhv"))).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
    intercept[AnalysisException](Pipeline.run(spark, layout))
    assert(listing(s"${layout.root}/staging") ++ listing(s"${layout.root}/marts") == before)
  }

  test("a failing feed fails the run only after the other feeds have finished") {
    val layout = newLayout("graft_run_blocked")
    deliver(layout, 1, Ingest.Skip)
    val blocked = Paths.get(layout.staging("yellow"))
    Files.createDirectories(blocked.getParent)
    Files.write(blocked, "not a table".getBytes)
    intercept[Exception](Pipeline.run(spark, layout))
    // the status tracker lags the scheduler by the listener bus
    ListenerBridge.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    feeds.tail.foreach(f => assert(spark.read.parquet(layout.staging(f)).count() > 0, f))
    assert(Files.isRegularFile(blocked))
    assert(!Files.exists(Paths.get(layout.mart("fct_trips"))))
  }

  test("every job of a run carries the caller's job group") {
    val layout = newLayout("graft_run_group")
    deliver(layout, 1, Ingest.Skip)
    val sc = spark.sparkContext
    val groups = mutable.Buffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("pipeline-run", "Pipeline.run under a job group")
    try Pipeline.run(spark, layout)
    finally {
      sc.clearJobGroup()
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(groups.nonEmpty)
    assert(groups.forall(_.contains("pipeline-run")), groups)
  }
}
