package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Profile
import graft.write.IncrementalWriter

/** `Tables.parquet` against `spark.read.parquet`, shape by shape: the same
  * relation, schema and rows, no Spark job and no extra listing; where
  * Spark's answer is in doubt, Spark's own answer or error. */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def listings[T](body: => T): (T, Long) = ListingCountingFs.listings(spark)(body)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** One parquet file at `<dir>/t.parquet`, as the corpus lays its tables out. */
  private def singleFile(): String = {
    val dir = tmp("graft_pq_single")
    Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "name", "v")
      .coalesce(1).write.parquet(s"$dir/w")
    val part = Files.list(Paths.get(s"$dir/w")).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get
    Files.move(part, Paths.get(s"$dir/t.parquet"))
    s"$dir/t.parquet"
  }

  /** A TIMESTAMP(NANOS) column, as the corpus's `events.parquet` carries. */
  private def nanos(): String = {
    val file = s"${tmp("graft_pq_nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000000L).foreach { case (id, ts) =>
      w.write(groups.newGroup().append("id", id).append("ts", ts))
    } finally w.close()
    file
  }

  /** One file whose column names differ only in case. */
  private def caseTwins(): String = {
    val file = s"${tmp("graft_pq_twins")}/t.parquet"
    val schema = MessageTypeParser.parseMessageType("message t { required int64 id; required int64 ID; }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("ID", 2L))
    finally w.close()
    file
  }

  /** Hive `year=/month=` directories, one spelled `month=01` and one NULL. */
  private def hive(): String = {
    val root = tmp("graft_pq_hive")
    Seq("month=01" -> 1, "month=2" -> 2, "month=__HIVE_DEFAULT_PARTITION__" -> 3)
      .foreach { case (dir, k) =>
        Seq((k, s"r$k")).toDF("k", "s").write.parquet(s"$root/year=2024/$dir")
      }
    root
  }

  /** A staging table whose first file (path order) carries a column an
    * `append_new_columns` delete+insert added; later files lack it. */
  private def drifted(): String = {
    val path = s"${tmp("graft_pq_drift")}/stg"
    IncrementalWriter.deleteInsert(spark,
      Seq(("k1", 1.0, 2024, 1), ("k2", 2.0, 2024, 2)).toDF("trip_id", "fare", "year", "month"),
      path, "trip_id")
    IncrementalWriter.deleteInsert(spark,
      Seq(("k1", 10.0, "note", 2024, 1)).toDF("trip_id", "fare", "surcharge_note", "year", "month"),
      path, "trip_id")
    path
  }

  private def zeroRows(): String = {
    val dir = s"${tmp("graft_pq_zero")}/t"
    Seq.empty[(Long, String)].toDF("id", "s").write.parquet(dir)
    dir
  }

  private val readable: Seq[(String, () => String)] = Seq(
    "a single-file corpus table" -> singleFile _,
    "a TIMESTAMP(NANOS) file" -> nanos _,
    "a hive year=/month= table with month=01 and a NULL partition" -> hive _,
    "a drifted staging table after an append_new_columns deleteInsert" -> drifted _,
    "a zero-row file" -> zeroRows _)

  readable.foreach { case (shape, make) =>
    test(s"$shape: Spark's relation, schema and rows, no job, no extra listing") {
      val path = make()
      val sc = spark.sparkContext
      val ((plain, plainLists), plainRun) = Profile.record(sc)(listings(spark.read.parquet(path)))
      val ((ours, ourLists), ourRun) = Profile.record(sc)(listings(Tables.parquet(spark, path)))
      assert(ours.schema == plain.schema)
      assert(ours.schema.fieldNames.toSeq == plain.schema.fieldNames.toSeq)
      assert(ours.queryExecution.analyzed.sameResult(plain.queryExecution.analyzed))
      assert(rows(ours) == rows(plain))
      assert(plainRun.jobs.nonEmpty, "spark.read.parquet inferred without a job")
      assert(ourRun.jobs.isEmpty, ourRun.jobs.map(_.site))
      assert(plainLists > 0, "the counting filesystem saw no listing")
      assert(ourLists <= plainLists, s"$ourLists listings against Spark's $plainLists")
    }
  }

  private val refused: Seq[(String, () => String)] = Seq(
    "a missing path" -> (() => s"${tmp("graft_pq_missing")}/absent"),
    "an empty dir" -> (() => tmp("graft_pq_empty")),
    "a dir of only _SUCCESS and .crc files" -> (() => {
      val dir = tmp("graft_pq_marker")
      Files.write(Paths.get(s"$dir/_SUCCESS"), Array.emptyByteArray)
      Files.write(Paths.get(s"$dir/._SUCCESS.crc"), Array[Byte](1, 2, 3, 4))
      dir
    }),
    "a file whose column names differ only in case" -> caseTwins _)

  refused.foreach { case (shape, make) =>
    test(s"$shape: Spark's own AnalysisException") {
      val path = make()
      val plain = intercept[AnalysisException](spark.read.parquet(path))
      val ours = intercept[AnalysisException](Tables.parquet(spark, path))
      assert(ours.getCondition == plain.getCondition)
      assert(ours.getMessage == plain.getMessage)
    }
  }

  test("an empty dir fails as Spark's schema inference does") {
    val e = intercept[AnalysisException](Tables.parquet(spark, tmp("graft_pq_empty2")))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }

  test("mergeSchema on the session: Spark's merged schema and rows") {
    val path = drifted()
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val plain = spark.read.parquet(path)
      val ours = Tables.parquet(spark, path)
      assert(ours.schema == plain.schema)
      assert(ours.columns.contains("surcharge_note"))
      assert(rows(ours) == rows(plain))
    } finally spark.conf.unset(key)
  }
}
