package graft.write

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shuffle that feeds every partitioned write, with a skew escape
  * hatch.
  *
  * Default shape (`splitsPerPartition = 1`): hash-repartition on the
  * partition columns — each (year, month) directory's rows land in ONE
  * task, producing one file per partition instead of the
  * N_tasks × N_partitions small-file spray an unshuffled
  * `partitionBy` write emits.
  *
  * The 100 TB caveat: one task per partition is also one TASK per
  * partition. A month of a 100 TB table can be multiple terabytes —
  * funneled through a single write task, that's the straggler that
  * holds the whole stage (and an executor-memory/shuffle-spill hazard).
  * Setting `graft.write.splitsPerPartition = n` fans each partition out
  * to `n` parallel writers by salting the repartitioning key with a
  * DETERMINISTIC within-partition split — `xxhash64(whole row) mod n` —
  * so a replayed or retried write lands the identical layout (no
  * `rand()`: a recomputed shuffle block must re-hash to the same
  * split, or a task retry could duplicate/lose rows under
  * non-deterministic repartitioning — Spark's own rand-repartition
  * correctness trap). Cost: `n` files per touched partition, so size
  * it to target-file-size ≈ partition-bytes / n, and let compaction
  * ([[SnapshotTable.commitCompactFiles]]) fold history later.
  *
  * One knob, read from the session conf at write time, so bulk
  * backfills can raise it for the fat-partition load and drop back to
  * 1 for trickle ingest without touching call sites. */
object WriteDistribution {

  /** Session conf: writers per partition directory (default 1). */
  val SplitsConf = "graft.write.splitsPerPartition"

  /** DataFrameWriter for a FRESH, invisible-until-referenced directory
    * (snapshot `_data`/staged dirs): Hadoop FileOutputCommitter
    * algorithm 2, which renames task output into the destination at
    * TASK commit instead of the v1 serial per-task rename loop at JOB
    * commit on the driver — measured 1.30 → 1.00 s on the 84-dir
    * partitioned append at sf0.1 (OPTIMIZATION_r18.md, E1 vs A2), and at the
    * 10⁴–10⁵ files of a real bulk load the v1 driver loop is the
    * classic commit wall. v2's caveat — a failed JOB leaves
    * already-committed task files visible in the destination — cannot
    * bite here: every snapshot write targets a fresh directory that no
    * manifest references until the commit point, so a crashed write
    * leaves unreferenced debris for [[SnapshotTable.vacuum]], never
    * partial table state. The in-place raw layer (`IncrementalWriter`
    * appends/overwrites to LIVE destinations) deliberately keeps the
    * default committer: there, v2 would turn a crashed job into
    * visible partial data. Passed per-write (an option, not a mutation
    * of the shared hadoopConf) so concurrent sessions/tests cannot
    * race on it. */
  def freshDir(df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")

  def splitsPerPartition(df: DataFrame): Int = {
    val raw = df.sparkSession.conf.get(SplitsConf, "1")
    val n = try raw.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"$SplitsConf must be a positive int, got '$raw'")
    }
    require(n >= 1, s"$SplitsConf must be >= 1, got $n")
    n
  }

  /** Co-locate rows for a `partitionBy(partCols)` write: one task per
    * partition by default, up to `n` salted tasks per partition when
    * the skew knob is set ("up to": two splits can hash-collide into
    * one shuffle bucket — harmless, they just share a writer). The
    * salted shape passes an EXPLICIT partition count: a bare
    * `repartition(cols)` is AQE-coalescable, and coalescing would
    * quietly fuse the splits back into the single fat task the knob
    * exists to break up (at 100 TB the advisory size would stop that,
    * but the contract should not depend on data volume). */
  def byPartition(df: DataFrame, partCols: Seq[String]): DataFrame = {
    val n = splitsPerPartition(df)
    if (n == 1) df.repartition(partCols.map(col): _*)
    else {
      // Spark refuses hashing MapType (no canonical element order), so
      // map-bearing columns are excluded from the salt struct rather
      // than failing every write with an unrelated-looking analysis
      // error; the salt stays deterministic over the remaining columns.
      import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
      def hasMap(dt: DataType): Boolean = dt match {
        case _: MapType => true
        case s: StructType => s.fields.exists(f => hasMap(f.dataType))
        case a: ArrayType => hasMap(a.elementType)
        case _ => false
      }
      val hashable = df.schema.fields.filterNot(f => hasMap(f.dataType))
        .map(_.name).toIndexedSeq
      require(hashable.nonEmpty,
        s"$SplitsConf > 1 needs at least one non-map column to derive " +
          "the deterministic within-partition split from; this frame's " +
          "columns are all map-typed")
      val salt = pmod(
        xxhash64(struct(hashable.map(c => col(s"`$c`")): _*)),
        lit(n))
      val shuffleN = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      df.repartition(shuffleN, (partCols.map(col) :+ salt): _*)
    }
  }
}
