package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: one workload, one seed, one run. Launched by
  * `perfbench/run.py`, which generates the inputs, builds the classes,
  * and turns the JSON file this writes into the benchmark's result line.
  *
  * Arguments (all required): `--workload --seed --seconds --trace --data
  * --root --out --launched-ms`. `--data` holds the generated corpus,
  * `--root` is the run's scratch root (every write of the run lands under
  * it), `--out` the JSON file to write, `--launched-ms` the wall clock
  * (epoch ms) at which `run.py` launched this JVM.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, root: String, out: String, launchedMs: Long)

  /** What a workload hands back. `setupS` is the duration of its
    * set-up, in seconds; `ops` maps an op type to its
    * latencies in seconds; `envBefore` is the environment stamp taken
    * just before the first timed op. */
  final case class Outcome(setupS: Double, envBefore: Map[String, Double], measuredS: Double,
                           ops: Map[String, Seq[Double]], attempted: Int,
                           errors: Seq[String], detail: Map[String, Double])

  /** Every span the tracer can record, in the benchmark's layer order. */
  val Spans: Seq[String] = Seq(
    "ingest.month", "write.incremental_cut", "write.delete_insert",
    "write.overwrite_table.fct_trips", "write.overwrite_table.fct_daily",
    "write.overwrite_table.fct_monthly", "quality.checks",
    "write.snapshot.merge", "write.snapshot.delete", "write.snapshot.update",
    "write.snapshot.append", "write.snapshot.compact", "write.snapshot.expire",
    "sources.snapshot_read", "sql.time_travel") ++ QueryMix.Families.map("query." + _)
  /** Table-state gauges `table_query_mix` reports (zero elsewhere). */
  val Gauges: Seq[String] = Seq("table.disk_mb", "table.live_mb", "table.data_dirs")
  val Counters: Seq[String] = Seq("calls", "wall_s", "driver_s", "jobs", "tasks", "cpu_s",
    "shuffle_mb", "written_mb", "fs_ops", "fs_lists")

  private val born = System.nanoTime

  /** Progress line in the JVM's log, stamped with seconds since start. */
  def log(msg: String): Unit = println(f"[perfbench ${(System.nanoTime - born) / 1e9}%7.2f] $msg")

  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .config("spark.local.dir", s"${a.root}/spark-local")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = graft.GraftSession.configure(b, cores.max(4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tune(spark)
  }

  /** Run a workload's set-up; its result and its duration in seconds. */
  def setUp[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    val dt = (System.nanoTime - t0) / 1e9
    log(f"set-up $dt%.2f s")
    (r, dt)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("root"), kv("out"), kv("launched-ms").toLong)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis - a.launchedMs) / 1e3
    log("session up")
    try {
      val tracer = new Tracer(spark.sparkContext, a.trace)
      val o = a.workload match {
        case "etl_refresh" => EtlRefresh.run(spark, tracer, a)
        case "table_query_mix" => TableMix.run(spark, tracer, a)
        case w => sys.error(s"unknown workload $w")
      }
      log("verdict done")
      val env1 = Env.stamp(spark)
      Files.writeString(Paths.get(a.out), Json.render(report(a, o, tracer, sessionS, env1)))
    } finally spark.stop()
  }

  private def report(a: Args, o: Outcome, tracer: Tracer, sessionS: Double,
                     envAfter: Map[String, Double]): Map[String, Any] = {
    val perType = o.ops.filter(_._2.nonEmpty).map { case (k, v) => k -> Stats.median(v) }
    val all = o.ops.values.flatten.toSeq
    val opP50 = Stats.geomean(perType.values.toSeq)
    val setupS = sessionS + o.setupS
    val e2e = Map("setup_s" -> setupS, "op_p50_s" -> opP50, "ops_per_s" -> all.size / o.measuredS)
    // per-workload figures named after the op they time, each with its
    // sample count; p90 only where >= 10 samples lie beyond it
    val detail = o.detail ++ (o.ops + ("all" -> all)).flatMap { case (k, v) =>
      Seq(s"${k}_p50_s" -> Stats.median(v), s"${k}_n" -> v.size.toDouble) ++
        (if (v.size >= 100) Seq(s"${k}_p90_s" -> Stats.quantile(v, 0.9)) else Nil)
    } ++ Map("session_s" -> sessionS, "workload_setup_s" -> o.setupS) ++
      o.envBefore.map { case (k, v) => s"env_before.$k" -> v } ++
      envAfter.map { case (k, v) => s"env_after.$k" -> v }
    val layers = if (!a.trace) Map.empty[String, Double] else {
      val t = tracer.totals()
      val unknown = t.keySet -- Spans
      require(unknown.isEmpty, s"spans missing from Main.Spans: $unknown")
      Spans.flatMap { s =>
        Counters.map(c => s"$s.$c" -> t.get(s).map(_.get(c)).getOrElse(0.0))
      }.toMap ++ Gauges.map(g => g -> o.detail.getOrElse(g, 0.0)) + ("trace.op_p50_s" -> opP50)
    }
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "measured_s" -> o.measuredS,
      "attempted" -> o.attempted, "errors" -> o.errors,
      "metrics" -> (if (a.trace) layers else e2e),
      "detail" -> detail)
  }
}

object Stats {
  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(v: Seq[Double], q: Double): Double = {
    val s = v.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(v: Seq[Double]): Double = math.exp(v.map(math.log).sum / v.size)
}

/** Environment stamp taken before and after the timed loop: for reading
  * the numbers, never for adjusting them. */
object Env {
  def stamp(spark: SparkSession): Map[String, Double] = {
    val load = scala.io.Source.fromFile("/proc/loadavg")
    val load1 = try load.getLines().next().split(" ")(0).toDouble finally load.close()
    Map("nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "loadavg_1m" -> load1, "cpu_probe_s" -> cpuProbe(spark))
  }

  /** A fixed data-free job whose time depends only on machine speed
    * (run once untimed first, so JIT warm-up stays out of it). */
  def cpuProbe(spark: SparkSession): Double = {
    probeJob(spark)
    val t0 = System.nanoTime
    probeJob(spark)
    (System.nanoTime - t0) / 1e9
  }

  private def probeJob(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    spark.range(0L, 5000000L, 1L, 4).select(sum(pmod(xxhash64(col("id")), lit(1000L)))).collect()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => q(other.toString)
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
