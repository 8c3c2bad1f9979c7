package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.write.IncrementalWriter

/** Schema-drift behavior of deleteInsert — the reference's
  * `on_schema_change='append_new_columns'` (`stg_nyc_taxi__yellow_trips
  * .sql:5`) plus the single-action incrementalCut. */
class WriterEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("deleteInsert appends new batch columns, nulls for history") {
    val path = Files.createTempDirectory("graft_evo").toString + "/t"
    val t0 = Seq(("k1", 1.0, 2024, 1), ("k2", 2.0, 2024, 1), ("k3", 3.0, 2024, 2))
      .toDF("trip_id", "fare", "year", "month")
    IncrementalWriter.deleteInsert(spark, t0, path, "trip_id")
    // batch replaces k2, adds a new column, touches only month 1
    val batch = Seq(("k2", 20.0, "extra", 2024, 1))
      .toDF("trip_id", "fare", "surcharge_note", "year", "month")
    IncrementalWriter.deleteInsert(spark, batch, path, "trip_id")
    val got = spark.read.option("mergeSchema", "true").parquet(path)
    assert(got.columns.toSet ==
      Set("trip_id", "fare", "surcharge_note", "year", "month"))
    val byKey = got.collect().map(r =>
      r.getString(r.fieldIndex("trip_id")) ->
        (r.getDouble(r.fieldIndex("fare")),
          Option(r.get(r.fieldIndex("surcharge_note"))))).toMap
    assert(byKey("k2") == ((20.0, Some("extra"))))
    assert(byKey("k1") == ((1.0, None)))   // survivor in rewritten partition
    assert(byKey("k3") == ((3.0, None)))   // untouched partition
  }

  test("deleteInsert pads columns the batch dropped with nulls") {
    val path = Files.createTempDirectory("graft_evo2").toString + "/t"
    val t0 = Seq(("k1", 1.0, "keep", 2024, 1))
      .toDF("trip_id", "fare", "legacy_col", "year", "month")
    IncrementalWriter.deleteInsert(spark, t0, path, "trip_id")
    val batch = Seq(("k2", 2.0, 2024, 1)).toDF("trip_id", "fare", "year", "month")
    IncrementalWriter.deleteInsert(spark, batch, path, "trip_id")
    val got = spark.read.option("mergeSchema", "true").parquet(path)
    val k2 = got.filter($"trip_id" === "k2").head()
    assert(k2.isNullAt(k2.fieldIndex("legacy_col")))
    assert(got.count() == 2)
  }

  test("deleteInsert with a key the batch carries twice: the expected table, one job fewer") {
    val path = Files.createTempDirectory("graft_dupkey").toString + "/t"
    val history = Seq(("k1", 1.0, 2024, 1), ("k2", 2.0, 2024, 1), ("k3", 3.0, 2024, 2))
    IncrementalWriter.deleteInsert(spark, history.toDF("trip_id", "fare", "year", "month"),
      path, "trip_id")
    // k2 twice (both rows land), k2 matching a target row, k4 new
    val batch = Seq(("k2", 20.0, 2024, 1), ("k2", 21.0, 2024, 1), ("k4", 4.0, 2024, 1))
    val (_, run) = graft.tools.Profile.record(spark.sparkContext)(IncrementalWriter.deleteInsert(
      spark, batch.toDF("trip_id", "fare", "year", "month"), path, "trip_id"))
    val keys = batch.map(_._1).toSet
    val want = (history.filterNot(r => keys(r._1)) ++ batch).sorted
    val got = spark.read.parquet(path).select("trip_id", "fare", "year", "month")
      .as[(String, Double, Int, Int)].collect().toSeq.sorted
    assert(got == want)
    // 7 jobs while the target's schema took an inference job and the
    // broadcast keys a distinct aggregate: the probe's 2 and the write's 3
    assert(run.jobs.size == 5, run.jobs.map(j => s"${j.site} (${j.tasks} tasks)"))
  }

  test("deleteInsert refuses a plain file at its path, naming it, and leaves it unchanged") {
    val path = Files.createTempDirectory("graft_notable").toString + "/t"
    val file = java.nio.file.Paths.get(path)
    Files.write(file, "not a table".getBytes)
    val stamp = Files.getLastModifiedTime(file)
    assert(!IncrementalWriter.tableExists(spark, path))
    val e = intercept[IllegalArgumentException](IncrementalWriter.deleteInsert(spark,
      Seq(("k1", 1.0, 2024, 1)).toDF("trip_id", "fare", "year", "month"), path, "trip_id"))
    assert(e.getMessage.contains(path), e.getMessage)
    assert(new String(Files.readAllBytes(file)) == "not a table")
    assert(Files.getLastModifiedTime(file) == stamp)
  }

  test("raw append tolerates schema drift across months (accept-any-schema)") {
    val base = Files.createTempDirectory("graft_drift")
    val raw = s"$base/raw"
    Seq(("t1", 1.0)).toDF("id", "fare")
      .write.parquet(s"$base/m1.parquet")
    Seq(("t2", 2.0, "card")).toDF("id", "fare", "payment_kind")
      .write.parquet(s"$base/m2.parquet")
    import graft.ingest.Ingest
    assert(Ingest.ingestMonth(spark, s"$base/m1.parquet", raw, "yellow", 2024, 1).rows == 1)
    assert(Ingest.ingestMonth(spark, s"$base/m2.parquet", raw, "yellow", 2024, 2).rows == 1)
    val got = IncrementalWriter.readMerged(spark, raw)
    assert(got.columns.contains("payment_kind"))
    // plain read would pick one footer's schema — readMerged is the
    // documented reader contract for append-evolved raw tables
    val m1 = got.filter($"year" === 2024 && $"month" === 1).head()
    assert(m1.isNullAt(m1.fieldIndex("payment_kind")))
  }

  test("freshnessDays reports age of max(loaded_at); None when empty") {
    val now = System.currentTimeMillis()
    val df = Seq(
      new java.sql.Timestamp(now - 5 * 86400000L),
      new java.sql.Timestamp(now - 3 * 86400000L)).toDF("loaded_at")
    val age = IncrementalWriter.freshnessDays(df).get
    assert(age >= 2.9 && age <= 3.1, s"expected ~3 days, got $age")
    val empty = Seq.empty[java.sql.Timestamp].toDF("loaded_at")
    assert(IncrementalWriter.freshnessDays(empty).isEmpty)
  }

  test("freshnessStatus classifies pass/warn/error at the declared thresholds") {
    val now = System.currentTimeMillis()
    def at(daysOld: Double) =
      Seq(new java.sql.Timestamp(now - (daysOld * 86400000L).toLong)).toDF("loaded_at")
    assert(IncrementalWriter.freshnessStatus(at(1.0)) == "pass")
    assert(IncrementalWriter.freshnessStatus(at(3.0)) == "warn")
    assert(IncrementalWriter.freshnessStatus(at(6.0)) == "error")
    // an empty source has no freshness evidence at all ⇒ error
    assert(IncrementalWriter.freshnessStatus(
      Seq.empty[java.sql.Timestamp].toDF("loaded_at")) == "error")
  }

  test("incrementalCut single-action max(struct) picks calendar max") {
    val path = Files.createTempDirectory("graft_cut").toString + "/t"
    Seq(("a", 2023, 12), ("b", 2024, 1), ("c", 2024, 3))
      .toDF("k", "year", "month")
      .write.partitionBy("year", "month").parquet(path)
    val src = Seq(("x", 2024, 2), ("y", 2024, 3), ("z", 2024, 4), ("w", 2023, 11))
      .toDF("k", "year", "month")
    val cut = IncrementalWriter.incrementalCut(spark, src, path)
    assert(cut.select("k").as[String].collect().toSet == Set("y", "z"))
  }

  // The listing-only probes against the answers a scan gives: a
  // partition-pruned count, and the max (year, month) over the rows.
  private def scanExists(path: String, y: Int, m: Int): Boolean =
    new java.io.File(path).exists &&
      spark.read.parquet(path).filter($"year" === y && $"month" === m).limit(1).count() > 0

  private def scanMax(path: String): Option[(Int, Int)] =
    if (!new java.io.File(path).exists) None
    else Option(spark.read.parquet(path).agg(max(struct($"year", $"month"))).head().getStruct(0))
      .map(r => (r.getInt(0), r.getInt(1)))

  /** The (year, month) the cut keeps from, read off its survivors over
    * a grid of months that spans every partition of the tests. */
  private def cutFrom(path: String): Option[(Int, Int)] = {
    val grid = (for (y <- 2022 to 2026; m <- 1 to 12) yield (y, m)).toDF("year", "month")
    val (kept, run) = graft.tools.Profile.record(spark.sparkContext)(
      IncrementalWriter.incrementalCut(spark, grid, path))
    assert(run.jobs.isEmpty, s"incrementalCut ran ${run.jobs.size} jobs")
    val got = kept.as[(Int, Int)].collect().toSeq
    if (got.size == grid.count()) None else Some(got.min)
  }

  private def probe(path: String, y: Int, m: Int): Boolean = {
    val (present, run) = graft.tools.Profile.record(spark.sparkContext)(
      IncrementalWriter.partitionExists(spark, path, y, m))
    assert(run.jobs.isEmpty, s"partitionExists ran ${run.jobs.size} jobs")
    present
  }

  /** A table of three months with rows, plus the partitions a scan
    * ignores: one with only `_SUCCESS` and a checksum, one whose only
    * file has zero rows, and a NULL year. Months 01 and 04 are spelled
    * zero-padded. */
  private def edgeTable(): String = {
    val base = Files.createTempDirectory("graft_probe")
    val path = s"$base/t"
    Seq(("a", 2023, 12), ("b", 2024, 3)).toDF("k", "year", "month")
      .write.partitionBy("year", "month").parquet(path)
    def dataFile(df: org.apache.spark.sql.DataFrame, name: String): java.nio.file.Path = {
      df.coalesce(1).write.parquet(s"$base/$name")
      Files.list(java.nio.file.Paths.get(s"$base/$name")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val one = dataFile(Seq("c").toDF("k"), "one")
    val none = dataFile(Seq.empty[String].toDF("k"), "none")
    def place(file: java.nio.file.Path, dir: String): Unit = {
      val d = Files.createDirectories(java.nio.file.Paths.get(s"$path/$dir"))
      Files.copy(file, d.resolve("part-00000.parquet"))
    }
    place(one, "year=2024/month=01")
    place(one, "year=2024/month=04")
    place(none, "year=2024/month=9")
    place(one, "year=__HIVE_DEFAULT_PARTITION__/month=12")
    val marks = Files.createDirectories(java.nio.file.Paths.get(s"$path/year=2025/month=1"))
    Files.createFile(marks.resolve("_SUCCESS"))
    Files.createFile(marks.resolve(".part-00000.parquet.crc"))
    path
  }

  test("partitionExists matches a partition-pruned count, with no Spark job") {
    val path = edgeTable()
    val cases = Seq(
      (2024, 3) -> true,   // present
      (2024, 2) -> false,  // absent
      (2024, 1) -> true,   // month=01
      (2024, 4) -> true,   // month=04
      (2025, 1) -> false,  // only _SUCCESS and a .crc
      (2024, 9) -> false,  // only a zero-row file
      (2023, 12) -> true,
      (0, 12) -> false)    // only under a NULL year, which equals no year
    cases.foreach { case ((y, m), want) =>
      assert(scanExists(path, y, m) == want, s"scan ($y, $m)")
      assert(probe(path, y, m) == want, s"probe ($y, $m)")
    }
    val missing = Files.createTempDirectory("graft_probe_none").toString + "/t"
    assert(!scanExists(missing, 2024, 1) && !probe(missing, 2024, 1))
  }

  test("incrementalCut's cut matches max(year, month) over the rows, with no Spark job") {
    val path = edgeTable()
    // the zero-row 2024-09 and marker-only 2025-01 hold no row: 2024-04 is the max
    assert(scanMax(path) == Some((2024, 4)))
    assert(cutFrom(path) == scanMax(path))
    val missing = Files.createTempDirectory("graft_cut_none").toString + "/t"
    assert(scanMax(missing).isEmpty && cutFrom(missing).isEmpty)
  }

  test("overwritePartitions replaces only the batch's partitions and leaves the session conf alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    def table(): String = {
      val path = Files.createTempDirectory("graft_dyn").toString + "/t"
      IncrementalWriter.overwriteTablePartitioned(
        Seq(("a", 1.0, 2024, 1), ("b", 2.0, 2024, 2)).toDF("k", "v", "year", "month"), path)
      path
    }
    def rows(path: String): Set[(String, Double, Int)] =
      spark.read.parquet(path).select("k", "v", "month").as[(String, Double, Int)].collect().toSet
    val batch = Seq(("b", 20.0, 2024, 2)).toDF("k", "v", "year", "month")
    val want = Set(("a", 1.0, 1), ("b", 20.0, 2))
    spark.conf.set(key, "static")
    try {
      val one = table()
      IncrementalWriter.overwritePartitions(batch, one)
      assert(rows(one) == want)
      assert(spark.conf.get(key) == "static")
      // two writers in one session, and a reader of the session conf
      // for as long as they write: the mode is never switched under
      // another write, not even for a moment
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val paths = Seq(table(), table())
      @volatile var writing = true
      val seen = Future {
        var modes = Set(spark.conf.get(key))
        while (writing) { Thread.sleep(1); modes += spark.conf.get(key) }
        modes
      }
      try Await.result(Future.traverse(paths)(p =>
        Future(IncrementalWriter.overwritePartitions(batch, p))), 2.minutes)
      finally writing = false
      paths.foreach(p => assert(rows(p) == want, p))
      assert(Await.result(seen, 1.minute) == Set("static"))
      assert(spark.conf.get(key) == "static")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
