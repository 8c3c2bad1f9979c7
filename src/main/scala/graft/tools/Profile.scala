package graft.tools

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBridge
import graft.{Bench, SparkEntry, TransientCache}

/** Per-entry profiler: where one graded entry's wall time goes. Runs
  * the named entries in a bench session (same session, same warmup and
  * shared-fixture prewarm as [[graft.Bench]], same `noop` sink) under a
  * job listener and prints, per rep of each entry:
  *  - wall time;
  *  - the union of the Spark job intervals;
  *  - driver time outside jobs (planning, manifest and sidecar reads,
  *    directory listing, commit metadata) — wall minus the union, so
  *    overlapping jobs (a broadcast or subquery beside the scan) are
  *    counted once and the figure is never negative;
  *  - job count, task count and executor CPU;
  *  - one line per job: start offset, duration, tasks, CPU, and the
  *    SQL execution (or call site) that ran it.
  * With `explain`, each entry's formatted plan is printed once, outside
  * the timed window.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.tools.Profile
  * <entry,entry,...> [reps] [explain]"` (cores: `SPARK_GRAFT_CPUS` or
  * 4, as in Bench). */
object Profile {

  /** One job of a profiled run; times are the listener clock (ms). */
  final case class Job(site: String, start: Long, end: Long, tasks: Long, cpuNs: Long)

  /** One profiled run of one entry (ms, listener clock). */
  final case class Run(start: Long, wallMs: Long, unionMs: Long, jobs: Seq[Job]) {
    def driverMs: Long = wallMs - unionMs
    def tasks: Long = jobs.map(_.tasks).sum
    def cpuNs: Long = jobs.map(_.cpuNs).sum
  }

  /** Length covered by the union of half-open intervals [start, end). */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Job intervals, task counts and executor CPU of the jobs started
    * while it is registered. */
  private final class Recorder extends SparkListener {
    private val started = mutable.Map.empty[Int, (String, Long)]
    private val ended = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val tasks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    private val cpu = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    private val queries = mutable.Map.empty[String, String]

    // A job's own call site (its stage name) names AQE's
    // stage-submission thread for most SQL jobs; the SQL execution it
    // belongs to names the action that started it (`save`, a commit's
    // `collect`, ...).
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: SparkListenerSQLExecutionStart => synchronized {
        queries(q.executionId.toString) = s"query ${q.executionId}: ${q.description}" }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(queries.get)
        .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("?")
      started(e.jobId) = (site, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended(e.jobId) = e.time
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        tasks(j) += 1
        Option(e.taskMetrics).foreach(m => cpu(j) += m.executorCpuTime)
      }
    }

    /** The run over [t0, t1); a job still open at t1 is cut there. */
    def result(t0: Long, t1: Long): Run = synchronized {
      val jobs = started.toSeq.sortBy(_._2._2).map { case (id, (site, s)) =>
        Job(site, s, ended.getOrElse(id, t1), tasks(id), cpu(id))
      }
      val clipped = jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      Run(t0, t1 - t0, unionLength(clipped), jobs)
    }
  }

  /** `body` under a job recorder: its result, and the jobs it started
    * (its own and any other thread's) with their times, tasks and CPU.
    * Wall time and job intervals share the listener's clock, so the
    * union can never exceed the wall. */
  def record[T](sc: SparkContext)(body: => T): (T, Run) = {
    ListenerBridge.drain(sc) // earlier work's events stay out
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val t0 = System.currentTimeMillis
      val out = body
      val t1 = System.currentTimeMillis
      ListenerBridge.drain(sc)
      (out, rec.result(t0, t1))
    } finally sc.removeSparkListener(rec)
  }

  /** One rep of `entry` through the bench's `noop` sink. */
  def run(spark: SparkSession, sfDir: String, entry: String,
          explain: Boolean = false): Run = {
    val fn = SparkEntry.queries.getOrElse(entry,
      sys.error(s"no such entry: $entry (${SparkEntry.queries.size} known)"))
    try {
      val (df, r) = record(spark.sparkContext) {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      if (explain) df.explain("formatted")
      r
    } finally TransientCache.drain()
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: Profile <entry,entry,...> [reps] [explain]"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such entries: ${unknown.mkString(", ")}")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(1)
    val explain = args.drop(1).contains("explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val spark = Bench.session()
    val (fixtureS, pairsS) = Bench.prewarm(spark, sfDir)
    println(f"[profile] $sfDir: prewarm fixture $fixtureS%.2f s, pairs $pairsS%.2f s")
    def s(ms: Long): Double = ms / 1e3
    (1 to reps).foreach { rep =>
      names.foreach { name =>
        try {
          val r = run(spark, sfDir, name, explain && rep == 1)
          println(f"[profile] $name rep $rep: wall ${s(r.wallMs)}%.3f s, " +
            f"jobs (union) ${s(r.unionMs)}%.3f s, driver outside jobs " +
            f"${s(r.driverMs)}%.3f s, ${r.jobs.size} jobs, ${r.tasks} tasks, " +
            f"cpu ${r.cpuNs / 1e9}%.3f s")
          r.jobs.foreach { j =>
            println(f"[profile]   +${s(j.start - r.start)}%7.3f s ${s(j.end - j.start)}%7.3f s " +
              f"${j.tasks}%5d tasks cpu ${j.cpuNs / 1e9}%7.3f s  ${j.site}")
          }
        } catch { case e: Exception =>
          println(s"[profile] $name rep $rep failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
