package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-comparator shape guard over the ENTIRE graded surface.
  *
  * The authoritative correctness gate compares Spark output against the
  * DuckDB oracle through a pandas sort/hash, which (a) crashes with
  * `unhashable type: numpy.ndarray` on array/map/struct columns and
  * (b) hash-mismatches DECIMAL columns (Decimal object vs float64
  * coercion renders differently per engine). Round 7 shipped three
  * value-correct entries red for exactly these reasons
  * (`ev_user_profile`, `emb_random_proj`, `corpus_shuffle`), because the
  * local DuckDB mirror tolerated shapes the driver cannot. This spec
  * makes that class of bug a build failure: every graded entry's output
  * schema must consist solely of atomic, non-decimal columns.
  *
  * Schema extraction is analysis-only (`df.schema` plans but does not
  * run pure queries); entries with eager side effects (writers,
  * streaming) execute at sf0.001 where they are cheap.
  */
class EntryShapeSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("bench environment canary: fixture-ratio policy") {
    // broad machine drift shows up as the shared fixtures running slow
    // vs their trailing medians; the factor is the max ratio, ignores
    // sub-second medians (noise, not machine speed), failed fixtures
    // (-1 sentinel), and absent history
    assert(Bench.envFactorOf(30.0, 40.0, Some(25.0), Some(25.0)) == 1.6)
    assert(Bench.envFactorOf(30.0, 20.0, Some(25.0), Some(25.0)) == 1.2)
    assert(Bench.envFactorOf(30.0, 40.0, None, None) == 1.0)
    assert(Bench.envFactorOf(-1.0, -1.0, Some(25.0), Some(25.0)) == 1.0)
    assert(Bench.envFactorOf(5.0, 40.0, Some(0.5), Some(25.0)) == 1.6,
      "sub-second fixture median must not dominate the factor")
    // run-level inflation is the MEDIAN of the probe-ratio profile: one
    // contended probe cannot brand a clean run; sustained slowness moves
    // it; failed probes (<= 0) and an empty profile are neutral
    assert(Bench.inflationOf(Seq.empty) == 1.0)
    assert(Bench.inflationOf(Seq(1.0, 1.05, 4.0)) == 1.05,
      "one outlier probe must not flag the run")
    assert(Bench.inflationOf(Seq(1.5, 1.6, 1.4, 1.02)) == 1.45,
      "sustained slowness must move the median (conventional even-size " +
        "median: mean of the two middle elements, not the upper one — " +
        "the upper-middle alone biases a ~6-probe profile upward)")
    assert(Bench.inflationOf(Seq(-1.0, 1.2)) == 1.2)
    assert(Bench.inflationOf(Seq(1.0, 2.0)) == 1.5,
      "even-size median averages the middle pair")
  }

  test("profile: driver time is wall minus the UNION of job intervals") {
    import graft.tools.Profile.unionLength
    assert(unionLength(Seq.empty) == 0L)
    assert(unionLength(Seq((0L, 10L), (20L, 25L))) == 15L, "disjoint jobs add up")
    assert(unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L,
      "nested jobs count once")
    // a broadcast (and a subquery) running beside the scan job: summing
    // the job times overshoots the wall, the union does not
    val wall = 1000L
    val overlapping = Seq((0L, 700L), (100L, 600L), (500L, 900L))
    assert(wall - overlapping.map { case (s, e) => e - s }.sum < 0)
    assert(unionLength(overlapping) == 900L)
    assert(wall - unionLength(overlapping) == 100L)
    assert(unionLength(Seq((5L, 5L), (9L, 3L))) == 0L, "empty intervals cover nothing")
  }

  test("profile smoke: one cheap entry records jobs inside its wall") {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists, s"$sfDir missing")
    val r = graft.tools.Profile.run(TestSpark.spark, sfDir, "tpch_q14_promo")
    assert(r.jobs.nonEmpty, "a noop write runs at least one job")
    assert(r.wallMs >= r.unionMs && r.unionMs >= 0, r.toString)
    assert(r.tasks >= r.jobs.size, r.toString)
  }

  test("flagship SparkEntry.entry returns rows") {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists, s"$sfDir missing")
    assert(SparkEntry.entry(TestSpark.spark).count() > 0,
      "SparkEntry.entry returned no rows")
  }

  test("every graded entry has a DuckDB oracle and vice versa") {
    // an entry without an oracle silently downgrades to the driver's
    // weaker rows-only check; an oracle without an entry is dead SQL
    // that drifts unnoticed — both are build failures
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"graded entries missing an oracleSql mirror: ${noOracle.toSeq.sorted.mkString(", ")}")
    val noEntry = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noEntry.isEmpty,
      s"oracle SQL with no graded entry: ${noEntry.toSeq.sorted.mkString(", ")}")
  }

  test("every graded output column is an atomic, non-decimal type") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists, s"$sfDir missing")
    val spark = TestSpark.spark
    def atomic(dt: DataType): Boolean = dt match {
      case StringType | BooleanType | IntegerType | LongType | ShortType |
           ByteType | FloatType | DoubleType | DateType | TimestampType |
           TimestampNTZType => true // NTZ entries have always graded green
      case _ => false // ArrayType, MapType, StructType, DecimalType, BinaryType, …
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sfDir).schema.fields.collect {
        case f if !atomic(f.dataType) =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"graded entries must emit only atomic non-decimal columns (the driver's " +
        s"pandas comparator crashes on arrays and hash-mismatches decimals); " +
        s"offenders:\n  ${offenders.mkString("\n  ")}")
  }
}
