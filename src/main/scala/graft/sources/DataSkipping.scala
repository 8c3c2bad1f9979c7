package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FILE-level min/max data skipping — the Delta/Iceberg capability
  * plain parquet directories lack: a persisted per-file stats index
  * consulted at PLANNING time, so a selective predicate on a clustered
  * column reads only the files whose [min, max] ranges overlap it.
  * Parquet's own row-group pruning still needs every file OPENED
  * (footer fetch per file — at 100 TB that is millions of object-store
  * reads per query); file skipping prunes from one metadata-sized index
  * before any file is touched, which is why every table format ships
  * it.
  *
  * Two pieces:
  *  - [[buildStats]] writes the per-file (file, min, max) index for a
  *    column — one scan at index-build time, amortized across every
  *    later query (the trigram/IVF stored-index contract).
  *  - [[read]] returns a DataFrame whose scan resolves through
  *    [[MinMaxFileIndex]]: Catalyst hands the scan's data filters to
  *    the index, which drops every file whose stored range cannot
  *    satisfy them. Pruning is CONSERVATIVE — only simple comparison
  *    conjuncts on the indexed column prune, anything else keeps the
  *    file — so results are always exactly the plain read's.
  *
  * Supported index columns: int/long/short/byte/float/double/decimal,
  * plus date and timestamp. Stored bounds use the COLUMN TYPE'S
  * CATALYST-INTERNAL unit — days since epoch for dates, MICROSECONDS
  * for timestamps (what a pushed-down filter Literal carries), raw
  * value otherwise — so the stored range and the probe literal always
  * compare in the same unit. Anything else (strings, arrays) is
  * rejected loudly at build time rather than mis-pruned at read time. */
object DataSkipping {

  /** The indexed column rendered in its Catalyst-internal unit, so the
    * stored bounds compare 1:1 with filter Literal internals: dates →
    * days since epoch (`Literal(Int)`), timestamps → µs since epoch
    * (`Literal(Long)`; NTZ reinterprets through the session zone, which
    * GraftSession pins to UTC — the same zone the NTZ literal's
    * internal µs assume), numerics → the value itself. */
  private[sources] def statColumn(dt: DataType, c: Column): Column = dt match {
    case DateType => unix_date(c)
    case TimestampType => unix_micros(c)
    case TimestampNTZType =>
      // the NTZ → TS cast reinterprets the wall-clock value through the
      // SESSION zone; an NTZ filter literal's internal µs are zone-less
      // (wall time as-if-UTC), so any non-UTC session would store bounds
      // shifted relative to every probe — silent mis-pruning. Same
      // loud-rejection policy as unsupported types: refuse at build
      // time. (GraftSession pins UTC; this guards direct callers.)
      val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      require(tz == "UTC",
        s"DataSkipping over a TIMESTAMP_NTZ column requires " +
          s"spark.sql.session.timeZone=UTC (got '$tz'): the NTZ cast " +
          "reinterprets via the session zone while probe literals carry " +
          "zone-less micros, so non-UTC bounds would mis-prune")
      unix_micros(c.cast(TimestampType))
    case _: NumericType => c
    case other => throw new IllegalArgumentException(
      s"DataSkipping supports numeric/date/timestamp index columns; got $other " +
        "(a min/max range on any other type cannot be compared against " +
        "pushed-down filter literals without unit ambiguity)")
  }

  /** Build + persist the per-file stats index for `column` over the
    * parquet directory `dataPath`. One scan; the index is file-count
    * sized, and the write SHARDS across the aggregation's tasks (at
    * millions of files a single-task index write would bottleneck the
    * build and produce one giant file). */
  def buildStats(spark: SparkSession, dataPath: String, column: String,
                 statsPath: String): Unit = {
    val df = graft.Tables.parquet(spark, dataPath)
    val c = statColumn(df.schema(column).dataType, col(column))
    df.groupBy(input_file_name().as("file"))
      .agg(min(c).cast("double").as("mn"), max(c).cast("double").as("mx"))
      .write.mode("overwrite").parquet(statsPath)
  }

  /** Read `dataPath` through the stats index: scans resolve through a
    * [[MinMaxFileIndex]] that prunes non-overlapping files at planning
    * time. */
  def read(spark: SparkSession, dataPath: String, column: String,
           statsPath: String): DataFrame = {
    val stats = loadStats(spark, statsPath)
    val index = new MinMaxFileIndex(spark, new Path(dataPath), column, stats)
    // the plain read's data schema, from the index's own listing; on a
    // hive-partitioned root the two pruning layers COMPOSE — partition
    // predicates prune directories in the base listing, min/max stats
    // prune the surviving files
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema(spark, index, dataPath),
      None, new ParquetFileFormat, Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** The data schema `spark.read.parquet(dataPath)` infers, from the
    * footer of `index`'s listing; where that is in doubt, the plain
    * read's schema, which [[HadoopFsRelation]] lines up with the
    * partition columns as the plain read does. */
  private def dataSchema(spark: SparkSession, index: InMemoryFileIndex,
                         dataPath: String): StructType =
    graft.Tables.footerSchema(spark, index).getOrElse(graft.Tables.parquet(spark, dataPath).schema)

  /** Load a persisted min/max index into its driver-side form
    * (normalized path → (min, max)) — file-count sized. Shared by
    * [[read]] and the `graft` format's snapshot index
    * ([[graft.sources.SnapshotFileIndex]]). */
  private[sources] def loadStats(spark: SparkSession,
                                 statsPath: String): Map[String, (Double, Double)] =
    try graft.Tables.parquet(spark, statsPath)
      .collect()
      .flatMap { r =>
        // an all-null indexed column yields null bounds: no range to
        // prune on — skip the row, and the absent-entry default keeps
        // the file (conservative), instead of an NPE at index load
        for (mn <- Option(r.get(1)); mx <- Option(r.get(2)))
          yield normalize(r.getString(0)) ->
            ((mn.asInstanceOf[Double], mx.asInstanceOf[Double]))
      }.toMap
    catch {
      // a fileless stats dir (an index built over zero rows) carries
      // no schema to infer — treat as an empty index: every file kept
      case _: org.apache.spark.sql.AnalysisException =>
        Map.empty[String, (Double, Double)]
    }

  /** input_file_name() and FileStatus render the same local file as
    * `file:///x` vs `file:/x`; compare by URI path only. */
  private[sources] def normalize(uri: String): String =
    new Path(uri).toUri.getPath

  // ---- Bloom-filter file skipping (point lookups on UNCLUSTERED data,
  // where every file spans the full value range and min/max never
  // prunes: a specific key lives in ~one file, and a per-file Bloom
  // filter knows which — Parquet's own bloom_filter_enabled at the
  // table-format level) ----

  /** Build + persist per-file Bloom filters for `column` (hashed with
    * the same seeded xxhash64 the probe side uses). One scan; the index
    * is files × filter-bytes and the write shards across the
    * aggregation's tasks — at the defaults a filter is ~117 KB, so a
    * million-file table's index is ~100 GB: a `coalesce(1)` funnel here
    * would be the build's bottleneck AND produce one unsplittable
    * index file the probe job couldn't parallelize over. */
  def buildBloomStats(spark: SparkSession, dataPath: String, column: String,
                      statsPath: String, expectedPerFile: Long = 100000L,
                      fpp: Double = 0.01): Unit = {
    require(expectedPerFile > 0 && fpp > 0 && fpp < 1,
      s"invalid bloom sizing: items=$expectedPerFile fpp=$fpp")
    val numBits = math.ceil(
      -expectedPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    graft.Tables.parquet(spark, dataPath)
      .groupBy(input_file_name().as("file"))
      .agg(expr(s"bloom_filter_agg(xxhash64($column), " +
        s"CAST($expectedPerFile AS BIGINT), CAST($numBits AS BIGINT))").as("bf"))
      .write.mode("overwrite").parquet(statsPath)
  }

  /** Read `dataPath` through the Bloom index: equality/IN predicates on
    * the indexed column drop every file whose filter proves the probed
    * keys absent. A Bloom "maybe" keeps the file (false positives cost
    * a read, never a wrong result); non-equality predicates prune
    * nothing.
    *
    * The filters themselves NEVER land on the driver: each probe runs
    * as a distributed pass over the stats parquet ([[probeProvenAbsent]])
    * and ships back only the pruned files' NAMES. Driver residency is
    * O(pruned file paths), not O(files × filter bytes) — the difference
    * between megabytes and ~100 GB at a million files. */
  def readBloom(spark: SparkSession, dataPath: String, column: String,
                statsPath: String): DataFrame = {
    val index = new BloomFileIndex(spark, new Path(dataPath), column, statsPath)
    require(index.partitionSchema.isEmpty,
      s"DataSkipping.readBloom expects an unpartitioned layout at $dataPath")
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema(spark, index, dataPath),
      None, new ParquetFileFormat, Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** Distributed Bloom probe: evaluate every per-file filter WHERE THE
    * INDEX BYTES LIVE (executor-side deserialize + membership test) and
    * return only the normalized paths of files PROVEN to contain none
    * of some conjunct's probed values — the semi-join formulation of
    * "which files can this point lookup skip". A null/absent filter
    * keeps its file (never provable-absent). One job per distinct probe;
    * the stats parquet is file-count sized and splittable, so the pass
    * parallelizes like any scan. */
  private[graft] def probeProvenAbsent(spark: SparkSession, statsPath: String,
                                         conjuncts: Seq[Seq[Long]]): Set[String] = {
    import spark.implicits._
    val cj = conjuncts.map(_.toArray).toArray // plain arrays serialize lean
    graft.Tables.parquet(spark, statsPath)
      .selectExpr("file", "bf")
      .as[(String, Array[Byte])]
      .filter { (row: (String, Array[Byte])) =>
        row._2 != null && {
          val bf = org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(row._2))
          cj.exists(hashes => !hashes.exists(bf.mightContainLong))
        }
      }
      .map(_._1)
      .collect()
      .map(normalize)
      .toSet
  }

  /** The equality/IN probe values a conjunct set implies for `column` —
    * one Seq per CONJUNCT (each must be satisfiable independently), so
    * a file is prunable when ANY conjunct's whole value set is proven
    * absent. Non-equality shapes contribute nothing (conservative). */
  private[sources] def probedValues(column: String,
                                    filters: Seq[Expression]): Seq[Seq[Any]] =
    filters.flatMap {
      case EqualTo(a: AttributeReference, l @ Literal(v, _))
          if a.name == column && v != null => Some(Seq[Any](l))
      case EqualTo(l @ Literal(v, _), a: AttributeReference)
          if a.name == column && v != null => Some(Seq[Any](l))
      case org.apache.spark.sql.catalyst.expressions.In(a: AttributeReference, vs)
          if a.name == column && vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.collect { case l @ Literal(v, _) if v != null => l: Any })
      case org.apache.spark.sql.catalyst.expressions.InSet(a: AttributeReference, _)
          // InSet holds internal values without their Literal types;
          // reconstructing the hash input is type-fragile — keep the file
          => None
      case _ => None
    }

  /** The [lo, hi] interval (+ inclusivity) a conjunct set implies for
    * `column`; files whose stored range sits strictly outside drop.
    * Only top-level comparison conjuncts contribute — disjunctions or
    * expressions over other columns are ignored (conservative).
    *
    * Literal INTERNALS are already in the unit [[statColumn]] stored:
    * date literals carry days (Int), timestamp literals carry µs
    * (Long), numerics carry themselves — so no conversion happens here
    * and none may be added on one side only. */
  private[sources] def implied(column: String, filters: Seq[Expression]):
      (Option[Double], Option[Double]) = {
    var lo: Option[Double] = None
    var hi: Option[Double] = None
    def tightenLo(v: Double): Unit = if (lo.forall(_ < v)) lo = Some(v)
    def tightenHi(v: Double): Unit = if (hi.forall(_ > v)) hi = Some(v)
    def num(v: Any): Option[Double] = v match {
      case null => None
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Byte => Some(b.toDouble)
      case f: Float => Some(f.toDouble)
      case d: Double => Some(d)
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _ => None
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case GreaterThan(a: AttributeReference, Literal(v, _)) if a.name == column =>
        num(v).foreach(tightenLo)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if a.name == column =>
        num(v).foreach(tightenLo)
      case LessThan(a: AttributeReference, Literal(v, _)) if a.name == column =>
        num(v).foreach(tightenHi)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if a.name == column =>
        num(v).foreach(tightenHi)
      case EqualTo(a: AttributeReference, Literal(v, _)) if a.name == column =>
        num(v).foreach { x => tightenLo(x); tightenHi(x) }
      case EqualTo(Literal(v, _), a: AttributeReference) if a.name == column =>
        num(v).foreach { x => tightenLo(x); tightenHi(x) }
      case GreaterThan(Literal(v, _), a: AttributeReference) if a.name == column =>
        num(v).foreach(tightenHi)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if a.name == column =>
        num(v).foreach(tightenHi)
      case LessThan(Literal(v, _), a: AttributeReference) if a.name == column =>
        num(v).foreach(tightenLo)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) if a.name == column =>
        num(v).foreach(tightenLo)
      case _ => ()
    }
    filters.foreach(walk)
    (lo, hi)
  }

  /** The probe-side hash of a literal — the SAME seeded xxhash64 the
    * build side aggregated, evaluated on the driver. */
  private[graft] def probeHash(lit: Literal): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(lit), 42L)
      .eval(null).asInstanceOf[Long]
}

/** File index pruning on per-file Bloom filters for one indexed column:
  * a file drops only when EVERY value of some equality/IN conjunct is
  * proven absent from it. Files missing from the index are kept.
  *
  * LAZY by construction: this index holds only the stats PATH.
  * Construction and non-equality scans never touch the stats parquet;
  * an equality probe runs one distributed membership pass
  * ([[DataSkipping.probeProvenAbsent]]) and retains only the pruned
  * files' paths, memoized per distinct probe for the plan's lifetime
  * (Catalyst calls `listFiles` more than once while planning). */
class BloomFileIndex(spark: SparkSession, root: Path, column: String,
                     statsPath: String)
    extends InMemoryFileIndex(spark, Seq(root), Map.empty, None) {

  private val probeCache =
    scala.collection.concurrent.TrieMap.empty[Seq[Seq[Long]], Set[String]]

  /** Names only — a ScaleToolsSpec pin asserts driver residency tracks
    * this (pruned-path bytes), never the index's filter bytes. */
  private[sources] def prunedPathBytes: Long =
    probeCache.values.flatten.map(_.length.toLong).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val conjuncts = DataSkipping.probedValues(column, dataFilters)
      .filter(_.nonEmpty)
      .map(_.map(v => DataSkipping.probeHash(v.asInstanceOf[Literal])))
    if (conjuncts.isEmpty) base
    else {
      val pruned = probeCache.getOrElseUpdate(conjuncts,
        DataSkipping.probeProvenAbsent(spark, statsPath, conjuncts))
      base.map { pd =>
        PartitionDirectory(pd.values, pd.files.filterNot(f =>
          pruned(DataSkipping.normalize(f.getPath.toString))))
      }
    }
  }
}

/** File index with per-file min/max pruning on one indexed column.
  * `stats` maps normalized file paths to their stored (min, max);
  * files ABSENT from the index are kept (safe on late-arriving files —
  * rebuild the index to regain their pruning). The strict-inequality
  * boundary is deliberately NOT exploited (a `>` bound prunes like
  * `>=`): boundary files cost one extra read, never a wrong result.
  * Driver residency is 3 doubles + one path per file — fine even at
  * millions of files (unlike Bloom filter bytes, which stay off the
  * driver entirely; see [[BloomFileIndex]]). */
class MinMaxFileIndex(spark: SparkSession, root: Path, column: String,
                      stats: Map[String, (Double, Double)])
    extends InMemoryFileIndex(spark, Seq(root), Map.empty, None) {

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val (lo, hi) = DataSkipping.implied(column, dataFilters)
    if (lo.isEmpty && hi.isEmpty) base
    else base.map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { f =>
        stats.get(DataSkipping.normalize(f.getPath.toString)) match {
          case Some((mn, mx)) => lo.forall(mx >= _) && hi.forall(mn <= _)
          case None => true
        }
      })
    }
  }
}
