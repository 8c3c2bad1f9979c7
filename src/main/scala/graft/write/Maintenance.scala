package graft.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Tables

/** Table-maintenance operations every partitioned lakehouse needs at
  * scale, kept separate from the write path so they can run on their own
  * cadence (the reference delegates this to Iceberg's maintenance; here
  * it is explicit over plain partitioned parquet).
  */
object Maintenance {

  /** Compact a (year, month)-partitioned table in place: rewrite every
    * partition's accumulated small files (each incremental append adds at
    * least one file per touched partition) into one file per partition.
    * At 100 TB the small-file population is what kills scan planning —
    * file listing and footer reads scale with file COUNT, not bytes.
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String): (Long, Long) = {
    val df = Tables.parquet(spark, path)
    val before = df.inputFiles.length.toLong
    val cols = df.columns
    // Rewrite through a staging location, then swap by renames only: the
    // live dir moves ASIDE (never deleted before the replacement is in
    // place), so a crash at any point leaves a complete copy at `path` or
    // at `path_old` — recoverable, never gone. On HDFS/local FS each
    // rename is atomic (the swap as a whole is not: a reader racing the
    // two renames can see `path` briefly absent); on object stores
    // "rename" is copy+delete and callers should front this with a
    // catalog/manifest pointer swap instead.
    val tmp = path + "_compacting"
    val old = path + "_old"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (pathP, tmpP, oldP) = (new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(old))
    // SINGLE-WRITER contract, enforced: the rename-aside swap assumes no
    // concurrent compactor (two swaps interleaving can drop the live dir).
    // The lock is an atomic create-exclusive marker — the same primitive
    // SnapshotTable commits on — so a second compactor fails fast instead
    // of corrupting. Concurrent WRITERS remain the caller's contract: use
    // SnapshotTable when multiple writers are possible.
    val lockP = new org.apache.hadoop.fs.Path(path + "_compact_lock")
    val lockOut =
      try fs.create(lockP, /*overwrite=*/ false)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(
          s"another compaction holds $lockP (single-writer contract); " +
            "remove the marker only if its owner is dead")
      }
    lockOut.close()
    try {
      fs.delete(tmpP, true)
      fs.delete(oldP, true)
      // staging dir is invisible until the rename swap — committer v2
      // is safe here for the same reason as snapshot _data dirs (see
      // WriteDistribution.freshDir): a crashed rewrite leaves tmp
      // debris, never a partial live table
      WriteDistribution.freshDir(df.repartition(col("year"), col("month")))
        .partitionBy("year", "month").parquet(tmp)
      require(fs.rename(pathP, oldP), s"rename $path -> $old failed")
      require(fs.rename(tmpP, pathP), s"rename $tmp -> $path failed")
      fs.delete(oldP, true)
      // content must be invariant; column set too
      val compacted = Tables.parquet(spark, path)
      require(compacted.columns.sorted.sameElements(cols.sorted),
        "compaction changed the schema")
      (before, compacted.inputFiles.length.toLong)
    } finally fs.delete(lockP, false)
  }

  /** Row-count + per-partition file/row profile of a partitioned table —
    * the planning-relevant statistics a maintenance job reports. */
  def partitionProfile(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.parquet(spark, path)
      .groupBy(col("year"), col("month"))
      .agg(count(lit(1)).as("rows"))
      .orderBy("year", "month")
  }
}
