package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.write.IncrementalWriter

/** Batch ingest of one (feed, year, month) file into the partitioned raw
  * layer — the Spark-first restatement of
  * `scripts/nyc_taxi/ingest_spark_bulk.py`:
  *
  *  - S1 fetch: the reference GETs monthly parquet from the TLC CDN with a
  *    404-is-success skip (`:87-115`); here the source is a URI/path the
  *    executors can read (local file in tests; any Hadoop-FS URI — s3a,
  *    hdfs — in production). No driver-side byte shuffling: Spark's
  *    parquet reader pulls straight from the source, unlike the
  *    reference's driver-download + object-store staging hop (S2), which
  *    at 100 TB would bottleneck on the driver NIC.
  *  - S3 scan with schema inference (`:136-139`): [[graft.Tables.parquet]]
  *    reads the source's schema from its first file's footer on the
  *    driver, where `spark.read.parquet` would run a Spark job for it.
  *  - metadata stamp: `year`, `month` literals + `loaded_at`
  *    current_timestamp (`:141-144`).
  *  - S5 idempotency probe / S6 overwrite (`:59-81,96-106`): `skip` mode
  *    no-ops when the partition holds a row; `overwrite` replaces exactly
  *    that partition via dynamic partition overwrite. The probe
  *    ([[IncrementalWriter.partitionExists]]) reads the raw table's
  *    directory listing and that partition's parquet footers on the
  *    driver — no Spark job, where the reference runs a `COUNT(*)`.
  *    The probe asks the reference's question, "does the partition hold
  *    a row?", so a month whose source holds no row is never skipped: its
  *    write lands no `year=/month=` directory, and every later `Skip`
  *    ingest of it reads the source again and reports `appended` with 0
  *    rows, as the reference's `COUNT(*) > 0` probe does.
  */
object Ingest {

  sealed trait Mode
  case object Skip extends Mode
  case object Overwrite extends Mode

  final case class Result(feed: String, year: Int, month: Int,
                          action: String, rows: Long)

  /** Ingest one monthly file. `sourcePath` absent/unreadable mirrors the
    * reference's 404 ⇒ skip-as-success (`ingest_spark_bulk.py:165-168`). */
  def ingestMonth(spark: SparkSession, sourcePath: String, rawTablePath: String,
                  feed: String, year: Int, month: Int,
                  mode: Mode = Skip): Result = {
    val exists = IncrementalWriter.partitionExists(spark, rawTablePath, year, month)
    if (exists && mode == Skip)
      return Result(feed, year, month, "skipped_existing", 0L)

    val src =
      try Tables.parquet(spark, sourcePath)
      catch {
        case e: Exception if e.getMessage != null &&
          (e.getMessage.contains("Path does not exist") ||
           e.getMessage.contains("PATH_NOT_FOUND")) =>
          return Result(feed, year, month, "skipped_missing_source", 0L)
      }

    // row count piggybacks on the write itself (Observation metric) — no
    // re-scan of the just-written partition.
    val obs = org.apache.spark.sql.Observation(s"ingest_${feed}_${year}_$month")
    val stamped = stamp(src, year, month).observe(obs, count(lit(1)).as("rows"))
    if (exists) IncrementalWriter.overwritePartitions(stamped, rawTablePath)
    else IncrementalWriter.appendPartitioned(stamped, rawTablePath)
    // an empty source produces a zero-task write, which reports NO
    // observed metrics at all (not a zero) — treat absence as 0 rows.
    val rows = obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
    Result(feed, year, month, if (exists) "overwritten" else "appended", rows)
  }

  /** Metadata stamp (`ingest_spark_bulk.py:141-144`). */
  def stamp(df: DataFrame, year: Int, month: Int): DataFrame =
    df.withColumn("year", lit(year))
      .withColumn("month", lit(month))
      .withColumn("loaded_at", current_timestamp())
}
