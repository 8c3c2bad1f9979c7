package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Settings chosen for the 100 TB design point (see SURVEY.md §4):
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * UTC session zone (oracle parity — raw taxi timestamps are zone-less,
  * `/root/reference/spark/conf/spark-defaults.conf:19-20` enables AQE the
  * same way), and shuffle partitions sized to the local core count rather
  * than Spark's default 200 (on a real cluster this would be
  * `executors * cores * 2-3`, with AQE coalescing the excess).
  */
object GraftSession {

  /** Apply graft's standard confs to an existing builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long (ns since
      // epoch) and normalize in Tables.events — Spark has no ns timestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")

  /** Local session: the one place a graft main or test builds a
    * session (the mains under `graft.tools`, Bench, Verify, the tests). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors().min(32)): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft")
        .withExtensions(new graft.expr.GraftExtensions),
      shufflePartitions = cores.max(4)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ensure graft confs on a session built elsewhere (an external
    * harness's, the benchmark's); runtime-settable confs only. */
  def tune(spark: SparkSession): SparkSession = {
    graft.expr.NativeFunctions.register(spark)
    // extraOptimizations is the post-build path for optimizer rules
    // (withExtensions only works at session build time; the driver owns
    // the harness sessions)
    if (!spark.experimental.extraOptimizations.contains(graft.expr.RewriteComposedCosine))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.expr.RewriteComposedCosine
    // extraStrategies is the matching post-build path for planner
    // strategies (the custom Sessionize whole-operator node)
    if (!spark.experimental.extraStrategies.contains(graft.plans.SessionizeStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.SessionizeStrategy
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}
