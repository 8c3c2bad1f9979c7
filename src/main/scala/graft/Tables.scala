package graft

import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver's synthetic corpus (`TESTDATA.md`):
  * `region nation customer supplier part orders lineitem events documents
  * embeddings`, one parquet per table under `sfDir`.
  *
  * Scans are the plain parquet relation `spark.read.parquet` builds (see
  * [[parquet]]), so Catalyst keeps full predicate pushdown / column
  * pruning into the parquet reader — at 100 TB that scan pruning is the
  * single biggest lever, so nothing here materializes, caches, or
  * repartitions eagerly.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Exactly what `spark.read.parquet(path)` returns — the same relation,
    * schema, rows and plan — without its schema-inference Spark job.
    * Spark's non-merging inference reads ONE footer, yet submits a job
    * to do it; here that footer is read on the driver. The path is
    * listed once, as `DataSource` lists it, and the relation is built
    * over that listing, as `DataSource.resolveRelation` builds it. The
    * footer is the one Spark's inference picks (`ParquetUtils.inferSchema`):
    * `_common_metadata`, else `_metadata`, else the first data file in
    * path order — on a table whose files disagree (an `append_new_columns`
    * delete+insert, a drifted raw append) that first file decides the
    * schema, as it does in Spark; read such a table through
    * [[graft.write.IncrementalWriter.readMerged]] for the superset.
    *
    * Where Spark's answer is not certain to be this one, Spark answers:
    * a missing path, a glob, a listing without a data file, a footer
    * that does not read, a duplicate column name, or
    * `spark.sql.parquet.mergeSchema` on — each delegates to
    * `spark.read.parquet`, with its own result or its own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    def plain = spark.read.parquet(path)
    if (path.exists("{}[]*?\\".contains(_))) return plain
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(root)
    if (!fs.exists(qualified)) return plain
    val options = Map("path" -> path)
    val index = new InMemoryFileIndex(spark, Seq(qualified), options, None,
      FileStatusCache.getOrCreate(spark))
    footerSchema(spark, index) match {
      case Some(dataSchema) =>
        spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
          dataSchema, None, new ParquetFileFormat, CaseInsensitiveMap(options))(spark))
      case None => plain
    }
  }

  /** The data schema Spark's parquet inference gives `index`'s listing,
    * read from one footer on the driver and made nullable, as
    * `DataSource` makes it; None where [[parquet]] lets Spark answer. */
  private[graft] def footerSchema(spark: SparkSession,
                                  index: PartitioningAwareFileIndex): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val schemaFile = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
    // the converter Spark's inference builds: the session's parquet
    // settings, the converter's defaults for the rest
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    def distinct(names: Seq[String]) = {
      val keys = if (conf.caseSensitiveAnalysis) names
        else names.map(_.toLowerCase(java.util.Locale.ROOT))
      keys.distinct.size == keys.size
    }
    schemaFile.flatMap { f =>
      val file = HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf())
      Try(ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(file, SKIP_ROW_GROUPS)),
        converter)).toOption
    }.filter(s => distinct(s.fieldNames) && distinct(index.partitionSchema.fieldNames))
      .map(SqlBridge.asNullable)
  }

  /** Spread a scan across the session's cores when the source yields
    * fewer splits than the available parallelism (e.g. one giant parquet
    * row group — unsplittable, so the whole fused codegen stage above it
    * would run on ONE core). The explicit width pins the exchange against
    * AQE re-coalescing. On a healthy multi-file/multi-row-group layout
    * (any real 100 TB table) the guard makes this a no-op, so downstream
    * plans keep plain scan → compute with no extra exchange. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // File-count heuristic from the (already-listed) read relation —
    // df.rdd.getNumPartitions would force a full physical planning pass
    // per call just to read a number. File count lower-bounds the split
    // count (a multi-row-group file yields more splits), so the guard can
    // only over-trigger, and only on few-files inputs where the extra
    // exchange is cheap; on any healthy many-file layout it is a no-op.
    if (df.inputFiles.length >= (target + 1) / 2) df
    else df.repartition(target)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` is parquet TIMESTAMP(NANOS); Spark reads it as long ns
    * (via `spark.sql.legacy.parquet.nanosAsLong`). Normalize to a µs
    * TimestampType column so downstream operators and the DuckDB oracle
    * agree (the corpus carries no sub-µs components). */
  def events(s: SparkSession, d: String): DataFrame = {
    GraftSession.tune(s)
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      // integral `div`, NOT `/`: true division would round-trip the
      // ~1.7e18 ns epoch value through a double (53-bit mantissa) and
      // corrupt the microsecond truncation by a few hundred ns.
      // (cast to NTZ — the engine's canonical zone-less timestamp type,
      // matching how DuckDB reads the same parquet; session is UTC.)
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _        => df
    }
  }
}
