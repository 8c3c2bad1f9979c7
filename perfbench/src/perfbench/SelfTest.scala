package perfbench

import graft.Pipeline
import graft.ingest.Ingest

/** The benchmark's own tests, run by `python3 perfbench/run.py
  * --self-test`:
  *
  *  - `IntervalSpec`: self time is taken against the union of intervals
  *    — disjoint, overlapping, nested and touching cases pinned.
  *  - `ReplaySpec`: the traced run's step-by-step replay of
  *    `Pipeline.run` gives the same marts and the same failed checks as
  *    `Pipeline.run` itself, over two nightly refreshes, so an edit
  *    to `Pipeline.run` breaks this test instead of leaving the spans
  *    out of date. It also checks that the tracer saw the jobs, tasks
  *    and filesystem calls of the spans it recorded.
  *
  * Arguments: the generated etl corpus directory and a scratch root. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => Main.log(s"  $e"); false }
    Main.log(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def intervalSpec(): Unit = {
    import Intervals._
    check("disjoint intervals add up")(unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    check("overlapping intervals count once")(unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    check("nested interval adds nothing")(unionLength(Seq((0L, 100L), (10L, 20L))) == 100)
    check("chain of overlaps, unsorted")(
      unionLength(Seq((50L, 150L), (0L, 100L), (10L, 20L))) == 150)
    check("touching intervals join")(unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    check("empty and inverted intervals are ignored")(
      unionLength(Seq((5L, 5L), (9L, 3L))) == 0 && unionLength(Nil) == 0)
    // two identical overlapping jobs filling the window: subtracting the
    // sum of their walls would give -10; the union gives 0
    check("uncovered time never goes negative")(uncovered(0, 10, Seq((0L, 10L), (0L, 10L))) == 0)
    check("uncovered time clips to the window")(
      uncovered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L), (90L, 120L))) == 60)
  }

  def replaySpec(data: String, root: String): Unit = {
    val a = Main.Args("etl_refresh", 7, 0, trace = true, data, root, "", System.currentTimeMillis)
    val spark = Main.session(a)
    try {
      val tr = new Tracer(spark.sparkContext, enabled = true)
      val src = EtlRefresh.prepare(spark, data, s"$root/src", 7)
      val Seq(m1, m2, m3) = src.months.take(3)
      val plain = Pipeline.Layout(s"$root/plain")
      val replay = Pipeline.Layout(s"$root/replay")
      val off = new Tracer(spark.sparkContext, enabled = false)
      check("backfill ingests every feed")(
        EtlRefresh.backfill(spark, src, plain, m1).isEmpty &&
          EtlRefresh.backfill(spark, src, replay, m1).isEmpty)
      for ((prev, ym) <- Seq(m1 -> m2, m2 -> m3)) {
        var (fa, fb) = (Seq.empty[String], Seq.empty[String])
        val errs =
          EtlRefresh.refresh(spark, off, src, plain, prev, ym, { fa = Pipeline.run(spark, plain); fa }) ++
            EtlRefresh.refresh(spark, tr, src, replay, prev, ym,
              { fb = EtlRefresh.replayRun(spark, replay, tr); fb })
        check(s"refresh $ym: ingests and failed checks as expected")(errs.isEmpty)
        check(s"refresh $ym: same failed checks (${fa.sorted.mkString(",")})")(
          fa.nonEmpty && fa.sorted == fb.sorted)
        Seq("fct_trips", "fct_trips_daily", "fct_trips_monthly").foreach { m =>
          check(s"refresh $ym: same $m")(EtlRefresh.same(
            spark.read.parquet(plain.mart(m)), spark.read.parquet(replay.mart(m))))
        }
      }
      check("refreshed marts equal a from-scratch build")(
        EtlRefresh.martsMatchScratch(spark, replay).isEmpty)
      val t = tr.totals()
      check("every replay span recorded")(Seq("ingest.month", "write.incremental_cut",
        "write.delete_insert", "write.overwrite_table.fct_trips", "quality.checks")
        .forall(s => t.get(s).exists(_.calls > 0)))
      check("jobs, tasks and cpu attributed")(t("write.delete_insert").jobs > 0 &&
        t("write.delete_insert").tasks >= t("write.delete_insert").jobs && t("quality.checks").cpuS > 0)
      check("driver time within wall time")(t.values.forall(c => c.driverS >= 0 && c.driverS <= c.wallS + 0.01 * c.calls))
      check("driver filesystem calls counted")(t("ingest.month").fsOps > 0 && t("ingest.month").fsLists > 0)
      // nested spans: the child's time and fs calls leave the parent's
      tr.span("write.snapshot.expire") {
        tr.span("sources.snapshot_read")(Ingest.ingestMonth(spark, src.month("fhv", m1._1, m1._2),
          s"$root/nested", "fhv", m1._1, m1._2))
      }
      val n = tr.totals()
      check("parent of a nested span keeps only its own work")(
        n("write.snapshot.expire").jobs == 0 && n("write.snapshot.expire").fsOps == 0 &&
          n("sources.snapshot_read").jobs > 0 && n("write.snapshot.expire").wallS >= n("sources.snapshot_read").wallS)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    intervalSpec()
    replaySpec(args(0), args(1))
    if (failures > 0) {
      Main.log(s"$failures check(s) failed")
      sys.exit(1)
    }
  }
}
