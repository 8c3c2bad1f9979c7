package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.write.{SnapshotScanSpec, SnapshotTable}

/** `spark.read.format("graft")` — the DataSource surface over
  * [[graft.write.SnapshotTable]], closing the gap between this engine's
  * Scala snapshot API and the reference's primary entry point (SQL over
  * a catalog: `dbt/profiles.yml:4–13` pins Trino on an Iceberg catalog;
  * ad-hoc reads are `README.md:163–167`). With it, the versioned table
  * is reachable from pure SQL:
  *
  * {{{
  *   spark.read.format("graft").load(root)                       // current
  *   spark.read.format("graft").option("versionAsOf", 3).load(root)
  *   spark.read.format("graft").option("tag", "audited").load(root)
  *   spark.read.format("graft").option("branch", "wip").load(root)
  *   sql("CREATE TABLE trips USING graft OPTIONS (path '...')")  // then SELECT
  * }}}
  *
  * Options: `versionAsOf` / `timestampAsOf` / `tag` / `branch` (at most
  * one — `timestampAsOf` resolves through [[SnapshotTable.versionAt]],
  * the Iceberg/Delta `TIMESTAMP AS OF` shape), `metadata` =
  * `history|tags|branches|fsck|files|detail|constraints|properties|colops` (the table's introspection frames
  * as relations — Iceberg's metadata-table idea; `files` is the CURRENT
  * snapshot's live physical files), `changelogFrom`[/`To`]
  * (the insert/delete row diff, [[SnapshotTable.changelog]]) and
  * `incrementalFrom`[/`To`] (appended rows only, O(new data),
  * [[SnapshotTable.appendsBetween]] — refused across non-append
  * commits), and `partcols` (comma list — normally unnecessary: the
  * manifest records the writer's partition columns and the format
  * discovers them ([[SnapshotTable.storedPartCols]]); the option exists
  * for fresh tables with a non-default layout and pre-recording
  * history, and a wrong value fails loudly at parse).
  *
  * ONE read path: the format resolves the snapshot (version, tag,
  * timestamp or branch head) and takes the scan the table's read
  * selector chooses — the same one [[SnapshotTable.read]] and the commit
  * paths get:
  *
  *  - a [[HadoopFsRelation]] over a [[SnapshotFileIndex]] ([[fastIndex]])
  *    when every dir is hive-partitioned, the sidecars unify additively,
  *    no merge-on-read deletes are pending and no column-mapping op
  *    would change a dir — a real `FileSourceScanExec` with vectorized
  *    parquet, pushed data filters, partition pruning against the
  *    snapshot's own listing (masked partitions' files are never even
  *    candidates) and, where dirs carry min/max stats indexes, FILE
  *    pruning at planning ([[SnapshotTable.readSkipping]] from SQL);
  *  - otherwise the per-entry fold, wrapped in [[GraftSnapshotRelation]]
  *    with source filters translated so pushdown still reaches the
  *    inner parquet scans — correct always, without the single scan.
  *
  * Design note — why DSv1 `RelationProvider` + `HadoopFsRelation`
  * rather than a DSv2 `TableProvider`: a DSv2 implementation must
  * re-build the scan machinery (its own `Batch`/`PartitionReader`
  * columnar plumbing, filter/column pushdown negotiation, and vectorized
  * parquet wiring) to reach the plan quality `FileSourceScanExec`
  * already has; serving the snapshot as a FILE INDEX instead reuses
  * Spark's entire parquet execution path — whole-stage codegen,
  * vectorization, runtime filters, AQE — and leaves this format
  * responsible only for WHICH files compose the snapshot, which is the
  * actual table-format concern (the same architecture Delta Lake used
  * for years via `TahoeFileIndex`). The DSv2-only conveniences (SQL
  * `VERSION AS OF` syntax, DELETE/UPDATE/MERGE/INSERT resolution) are
  * served by the [[graft.sql]] analyzer rules when the session is built
  * with `GraftExtensions` — literal SQL lowered onto the commit
  * protocol — and by read options + the Scala commit API otherwise.
  *
  * Both carry [[SnapshotTable.read]]'s column order: data columns in
  * era order, then the partition columns — the order a compaction keeps.
  * Freshness note: a table registered in the session catalog caches its
  * resolved relation like any file-based source — after an external
  * commit, `REFRESH TABLE` picks up the new version (DataFrame reads
  * via `.load()` resolve per call and need no refresh). */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- streaming sink (`df.writeStream.format("graft")`): the
  // snapshot table as a NATIVE stream target — each micro-batch is one
  // batch-id-tagged commitAppend, so a user reaching the format by name
  // gets the same exactly-once table→table hop as the
  // [[graft.streaming.StreamingEvents.appendStream]] helper without
  // switching to the foreachBatch API. Append output mode only (the
  // table's streaming write IS an append lineage; Update/Complete
  // semantics belong to the IVM/upsert helpers, which carry key
  // context a sink signature doesn't). Exactly-once under the engine's
  // at-least-once redelivery: the batch id rides the commit's op tag,
  // so a batch replayed after a crash between commit and checkpoint
  // write is recognized and skipped, never double-appended. ----

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      sys.error("writeStream.format(\"graft\") needs a path: " +
        ".option(\"path\", <table root>) or .start(<table root>)"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode — " +
        "aggregation maintenance belongs to the IVM/upsert streaming " +
        "helpers (graft.streaming.StreamingEvents), which know the keys")
    val partCols = GraftDataSource.resolvePartCols(spark, root, parameters)
    // a .partitionBy() that disagrees with the table's recorded layout
    // would commit dirs whose hive nesting contradicts every manifest —
    // refuse; omitting partitionBy defers to the table (the normal use)
    require(partitionColumns.isEmpty || partitionColumns == partCols,
      s"partitionBy(${partitionColumns.mkString(", ")}) does not match " +
        s"the table's partition columns (${partCols.mkString(", ")}); " +
        "omit partitionBy — the snapshot table partitions every commit " +
        "by its recorded layout")
    new GraftStreamSink(spark, GraftDataSource.openTable(spark, root, parameters))
  }

  // ---- streaming source (`spark.readStream.format("graft")`): the
  // snapshot table as a STREAM, the capability that turns committed
  // tables into pipeline stages (Delta/Iceberg streaming sources).
  // Snapshot versions ARE the offsets — each micro-batch is
  // `appendsBetween(lastVersion, currentVersion)`, O(new data), and the
  // batch boundary is the commit boundary, so combined with the
  // exactly-once append sink ([[graft.streaming.StreamingEvents
  // .appendStream]]) a table→table hop is exactly-once end to end.
  // `option("startingVersion", v)` starts from version v's appends;
  // "earliest" makes the FIRST batch the full snapshot (initial load)
  // with increments after; the default streams only commits made after
  // the stream starts. A non-append commit (overwrite/merge/rollback/
  // compact) inside a streamed interval fails the query loudly with
  // appendsBetween's refusal — restart from a fresh checkpoint with
  // "earliest" to re-baseline, the same contract Delta exposes as its
  // overwrite-in-source error. ----

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    ("graft", schema.getOrElse {
      val spark = sqlContext.sparkSession
      val root = parameters.getOrElse("path",
        sys.error("readStream.format(\"graft\") needs a path: .load(<table root>)"))
      val t = GraftDataSource.openTable(spark, root, parameters)
      t.readVersion(t.currentVersion.getOrElse(sys.error(
        s"no snapshot at $root — the streaming source needs an existing " +
          "table (commit an initial version first)"))).schema
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      sys.error("readStream.format(\"graft\") needs a path: .load(<table root>)"))
    val t = GraftDataSource.openTable(spark, root, parameters)
    val cur = t.currentVersion.getOrElse(sys.error(
      s"no snapshot at $root — the streaming source needs an existing table"))
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    val startV = parameters.get("startingVersion").map(_.trim) match {
      case Some("earliest") | Some("0") => 0
      case Some(v) => v.toInt
      case None => parameters.get("startingTimestamp") match {
        // the version live AT that wall-clock (commits after it stream);
        // a timestamp predating all history degrades to "earliest" —
        // everything after that time IS the whole table
        case Some(raw) =>
          t.versionAt(GraftDataSource.parseTimestamp(raw)).getOrElse(0)
        case None => cur // stream only what commits after this point
      }
    }
    // refuse a start beyond the table's head LOUDLY, at stream start: a
    // typo'd startingVersion=100 on a 3-version table would checkpoint
    // 100 as the first offset and then silently stream nothing until
    // version 100 exists — versions 4..99 permanently skipped by that
    // checkpoint. (A restart resumes from the CHECKPOINTED offset and
    // never re-evaluates the start option, so this guard can only fire
    // on a fresh stream — it can never refuse a valid resume.)
    require(startV <= cur,
      s"startingVersion/startingTimestamp resolves to v$startV but the " +
        s"table at $root is at v$cur — a beyond-head start would " +
        "checkpoint a future offset and silently skip every version " +
        s"committed before v$startV arrives")
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.trim.toLong)
    require(maxVersions.forall(_ >= 1), "maxVersionsPerTrigger must be >= 1")
    new GraftStreamSource(spark, t,
      schema.getOrElse(t.readVersion(cur).schema), startV, maxVersions)
  }

  /** `df.write.format("graft")` — the DataFrame write surface onto the
    * commit protocol (every save IS a snapshot commit, retried through
    * [[SnapshotTable.commitWithRetry]] under contention):
    *
    *  - `Append` → [[SnapshotTable.commitAppend]]; with
    *    `option("branch", b)` → [[SnapshotTable.commitAppendToBranch]]
    *    (main untouched — the WAP load shape);
    *  - `Overwrite` → [[SnapshotTable.commitOverwrite]]; with
    *    `option("partitionOverwriteMode", "dynamic")` →
    *    [[SnapshotTable.commitOverwritePartitions]] (only the batch's
    *    partitions replaced, history kept);
    *  - `ErrorIfExists` (the default) → initial load, refused if the
    *    table already has a snapshot; `Ignore` → initial load or no-op.
    *
    * SQL `INSERT INTO` a registered graft table needs the
    * [[graft.sql.GraftDmlRule]] (session built with `GraftExtensions`),
    * which lowers it onto [[SnapshotTable.commitAppend]]; WITHOUT the
    * rule it is refused — the fast-path relation would otherwise take
    * Spark's raw-file insert path, writing parquet underneath the
    * commit protocol (a correctness hazard, see
    * [[SnapshotFileIndex.rootPaths]]). */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      sys.error("format(\"graft\") needs a path: .save(<table root>)"))
    require(!parameters.keySet.exists(Set("versionAsOf", "timestampAsOf",
        "tag", "metadata", "changelogFrom", "incrementalFrom")),
      "versionAsOf/timestampAsOf/tag/metadata/changelogFrom/incrementalFrom " +
        "are read options — history is written by committing, not by " +
        "writing into a version")
    val t = GraftDataSource.openTable(spark, root, parameters)
    val exists = t.currentVersion.isDefined
    (mode, parameters.get("branch")) match {
      case (Append, Some(b)) =>
        t.commitWithRetry()(t.commitAppendToBranch(b, data))
      // Ignore's contract is "skip when the target exists, never fail
      // on it" — an existing branch is the target here; a MISSING
      // branch is a different error and still raises (named for what it
      // is, not as a SaveMode refusal)
      case (Ignore, Some(b)) if t.branchHead(b).isDefined => ()
      case (_, Some(b)) if t.branchHead(b).isEmpty => sys.error(
        s"branch '$b' does not exist at $root — createBranch it first " +
          "(branch writes land on an existing lineage)")
      case (_, Some(b)) => sys.error(
        s"branch '$b' writes support SaveMode.Append only (a branch is a " +
          "lineage of commits; overwrite semantics belong to fastForward)")
      case (Append, None) => t.commitWithRetry()(t.commitAppend(data))
      case (Overwrite, None) =>
        if (exists && parameters.get("partitionOverwriteMode")
            .exists(_.equalsIgnoreCase("dynamic")))
          t.commitWithRetry()(t.commitOverwritePartitions(data))
        else t.commitWithRetry()(t.commitOverwrite(data))
      case (ErrorIfExists, None) =>
        if (exists) sys.error(s"snapshot table already exists at $root " +
          "(SaveMode.ErrorIfExists); use Append/Overwrite")
        else t.commitOverwrite(data)
      case (Ignore, None) => if (!exists) { t.commitOverwrite(data); () }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      sys.error("format(\"graft\") needs a path: .load(<table root>)"))
    val t = GraftDataSource.openTable(spark, root, parameters)
    // metadata tables (Iceberg's tbl.history/refs idea as an option):
    // introspection frames served through [[GraftSnapshotRelation]] — tiny,
    // driver-built, no file scan
    // ONE snapshot selector at a time, checked up front so no
    // combination silently wins over another (a changelog read with a
    // stray versionAsOf must refuse, not ignore the versionAsOf)
    val pinned = Seq("versionAsOf", "timestampAsOf", "tag", "branch",
      "changelogFrom", "incrementalFrom").filter(parameters.contains)
    require(pinned.size <= 1,
      "at most one of versionAsOf/timestampAsOf/tag/branch/changelogFrom/" +
        s"incrementalFrom, got: ${pinned.mkString(", ")}")
    parameters.get("metadata").foreach { kind =>
      require(pinned.isEmpty,
        "metadata tables take no time-travel/CDC options")
      import spark.implicits._
      val df = kind match {
        case "history" => t.describeHistory()
        case "tags" => t.tags.toDF("name", "version")
        case "branches" => t.branches.toDF("name", "head")
        case "fsck" => t.fsck().toDF("problem")
        case "detail" => // DESCRIBE DETAIL's row through the option surface
          val dd = t.detail
          Seq((("graft"): String, dd.location, dd.version, dd.committedAtMs,
            dd.numEntries, dd.borrowedDirs, dd.borrowedBy, dd.numFiles,
            dd.sizeBytes, dd.numRows, dd.partitionColumns.mkString(",")))
            .toDF("format", "location", "version", "committed_at_ms",
              "num_entries", "num_borrowed_dirs", "num_borrowed_by",
              "num_files", "size_bytes", "num_rows", "partition_columns")
        case "constraints" => t.constraints.toDF("name", "check_sql")
        case "properties" => t.properties.toSeq.sorted.toDF("key", "value")
        case "colops" => // the live column-mapping history, oldest first
          t.columnOps.zipWithIndex.map {
            case (SnapshotTable.ColRename(f, to), i) => (i, "rename", f, to)
            case (SnapshotTable.ColDrop(n), i) => (i, "drop", n, "")
            case (SnapshotTable.ColWiden(n, tp), i) => (i, "widen", n, tp)
            case (SnapshotTable.ColAdd(n, tp), i) => (i, "add", n, tp)
          }.toDF("ordinal", "op", "column", "arg")
        case "files" => // Iceberg's files table: the CURRENT snapshot's
          // physical composition — one row per LIVE data file (files of
          // dynamically-overwritten partitions are excluded by their
          // entry's mask, exactly as the read path excludes them),
          // O(files) driver metadata, no scan
          val spec = t.scanSpecVersion(t.currentVersion
            .getOrElse(sys.error(s"no snapshot at $root")))
          spec.dirs.flatMap { d =>
            val p = new Path(d.path)
            val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            // compare against the QUALIFIED root: listFiles returns
            // fully-qualified paths (file:/...), so an unqualified
            // string compare would never terminate the ancestor walk at
            // the data dir and would collect every ancestor segment —
            // harmless until a table root contains '=' in a directory
            // name, which would then corrupt the value tuple and list
            // masked files as live
            val qRoot = dfs.makeQualified(p).toString
            val it = dfs.listFiles(p, /*recursive=*/ true)
            val buf = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
            while (it.hasNext) {
              val st = it.next()
              val name = st.getPath.getName
              // partition values from the file's hive path segments
              // (masks are value tuples in partition-column order = the
              // hive nesting order); flat layouts have no segments and
              // their masks are row filters, so every file stays listed
              val segs = Iterator.iterate(st.getPath.getParent)(_.getParent)
                .takeWhile(q => q != null && q.toString != qRoot)
                .map(_.getName).toSeq.reverse
              val values = segs.collect { case s if s.contains('=') =>
                SnapshotFileIndex.unescape(s.substring(s.indexOf('=') + 1)) }
              if (!name.startsWith("_") && !name.startsWith(".") &&
                  !d.excluded.contains(values))
                buf += ((p.getName, st.getPath.toString, st.getLen))
            }
            buf.toList
          }.toDF("dir", "file", "size_bytes")
        case other => sys.error(s"unknown metadata table '$other' " +
          "(expected history | tags | branches | fsck | files | detail | constraints | properties | colops)")
      }
      return new GraftSnapshotRelation(spark, df)
    }
    // CDC surfaces: the row-level changelog between two versions, or the
    // appended rows along an append-only chain (O(new data)) — the
    // format's incremental-read options, Iceberg's changelog scan /
    // incremental read shape. Served via [[GraftSnapshotRelation]]: both are
    // derived frames (exceptAll diff / multi-dir union), not a listing.
    def currentV = t.currentVersion.getOrElse(sys.error(s"no snapshot at $root"))
    for (k <- Seq("changelogTo", "incrementalTo"))
      require(!parameters.contains(k) ||
          parameters.contains(k.stripSuffix("To") + "From"),
        s"$k needs ${k.stripSuffix("To")}From")
    parameters.get("changelogFrom").foreach { f =>
      return new GraftSnapshotRelation(spark, t.changelog(f.trim.toInt,
        parameters.get("changelogTo").map(_.trim.toInt).getOrElse(currentV)))
    }
    parameters.get("incrementalFrom").foreach { f =>
      return new GraftSnapshotRelation(spark, t.appendsBetween(f.trim.toInt,
        parameters.get("incrementalTo").map(_.trim.toInt).getOrElse(currentV)))
    }
    val scan = parameters.get("branch") match {
      case Some(b) => t.scanBranch(b)
      case None =>
        val v = parameters.get("versionAsOf").map(_.trim.toInt)
          .orElse(parameters.get("timestampAsOf").map { raw =>
            val ts = GraftDataSource.parseTimestamp(raw)
            t.versionAt(ts).getOrElse(sys.error(
              s"no snapshot at $root committed at or before $raw"))
          })
          .orElse(parameters.get("tag").map(tag => t.resolveTag(tag)
            .getOrElse(sys.error(s"no tag '$tag' at $root"))))
          .getOrElse(t.currentVersion
            .getOrElse(sys.error(s"no snapshot at $root")))
        t.scanVersion(v)
    }
    // the caller's options reach the parquet reader (rebase modes,
    // ignoreCorruptFiles, ...); Scala reads carry none
    scan.fold[BaseRelation](_.copy(options = parameters)(spark),
      new GraftSnapshotRelation(spark, _))
  }
}

object GraftDataSource {

  /** Every field nullable (Spark's `asNullable` is private). */
  private[sources] def nullable(s: StructType): StructType =
    StructType(s.map(_.copy(nullable = true)))

  /** The single-scan relation over the snapshot's file index, iff the
    * snapshot qualifies: no pending deletes, sidecar schemas that unify
    * additively (see [[unifySchemas]] — identical, or later eras
    * strictly ADD columns), every partition column present, and
    * strictly hive-layout dirs. None → the read selector folds per
    * entry. Called only by that selector
    * ([[graft.write.SnapshotTable]]'s `scan`).
    *
    * Nullability is reported as NULLABLE everywhere — Spark's own
    * convention for file-based relations. Sidecars record whatever the
    * writing frame declared (a local Seq-built frame says NOT NULL, a
    * parquet-round-tripped rewrite says nullable), so a catalog entry
    * pinned at CREATE time would otherwise mismatch the relation after
    * the first copy-on-write commit and break resolution. */
  private[graft] def fastIndex(spark: SparkSession, spec: SnapshotScanSpec,
                               partCols: Seq[String]): Option[HadoopFsRelation] = {
    if (spec.hasDeletes || spec.dirs.isEmpty) return None
    val ddls = spec.dirs.map(_.schemaDdl)
    if (ddls.exists(_.isEmpty)) return None
    val dirSchemas = ddls.map(d => StructType.fromDDL(d.get))
    // a live column-mapping op (rename/drop/widen/add) whose read-time
    // fold would CHANGE any dir's physical schema needs the per-entry
    // fold; once compaction rewrites the files under
    // the logical names and types (and clears the history), the file
    // index serves again. The check mirrors the fold exactly: only
    // ops AFTER the dir's recorded era, each guarded on presence.
    import graft.write.SnapshotTable.{ColRename, ColDrop, ColWiden, ColAdd}
    val foldTouches = spec.dirs.zip(dirSchemas).exists { case (d, s) =>
      spec.colOps.drop(d.era).exists {
        case ColRename(f, _) => s.fieldNames.contains(f)
        case ColDrop(n) => s.fieldNames.contains(n)
        case ColWiden(n, t) => s.fieldNames.contains(n) &&
          s(n).dataType.catalogString != t
        case ColAdd(n, _) => !s.fieldNames.contains(n)
      }
    }
    if (foldTouches) return None
    val full = unifySchemas(dirSchemas.distinct).getOrElse(return None)
    if (!partCols.forall(full.fieldNames.contains)) return None
    val partitionSchema = StructType(partCols.map(c => full(c)))
    // the fold's column order (data columns in era order, then the
    // partition columns), which a compaction keeps
    val dataSchema = StructType(dirSchemas
      .flatMap(_.fieldNames.filterNot(partCols.contains)).distinct.map(full(_)))
    SnapshotFileIndex.list(spark, spec, partitionSchema).map(leaves =>
      HadoopFsRelation(new SnapshotFileIndex(spark, spec, partitionSchema, leaves),
        nullable(partitionSchema), nullable(dataSchema), None,
        new ParquetFileFormat, Map.empty[String, String])(spark))
  }

  /** ADDITIVE schema unification — the common long-lived-table shape
    * (daily appends, a column added mid-history) stays on the fast
    * path: if one sidecar schema contains every other's fields with
    * identical names and types, that widest schema serves the whole
    * snapshot — the parquet reader fills absent columns with nulls,
    * exactly `unionByName(allowMissingColumns)`'s typed-null padding,
    * with zero footer reads. Anything non-additive (a type change, two
    * eras each carrying a column the other lacks) returns None →
    * per-entry fold, which is always correct. */
  private[graft] def unifySchemas(schemas: Seq[StructType]): Option[StructType] = {
    val widest = schemas.maxBy(_.size)
    val ok = schemas.forall(_.forall(f =>
      widest.find(_.name == f.name).exists(_.dataType == f.dataType)))
    if (!ok) None
    else Some(StructType(widest.map { f =>
      // non-nullable ONLY when every era has the column AND declares it
      // required: a column absent from any era reads padding nulls, and
      // one nullable era's files may hold real nulls — either way a
      // required-typed read plan would be wrong (Catalyst folds
      // `IS NULL` to false on non-nullable columns, and the vectorized
      // reader refuses required-but-absent columns)
      f.copy(nullable = !schemas.forall(s =>
        s.fieldNames.contains(f.name) && !s(f.name).nullable))
    }))
  }

  /** The named [[graft.write.ConditionalStore]] a `pointer` option
    * selects, resolved from [[graft.write.GraftStores]]; an
    * unregistered name refuses with the registration hook named. */
  private[graft] def resolveStore(parameters: Map[String, String]): Option[graft.write.ConditionalStore] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("pointer") => v
    }.map(n => graft.write.GraftStores.resolve(n).getOrElse(sys.error(
      s"no ConditionalStore registered under '$n' — register the " +
        "deployment's catalog-backed store at startup " +
        s"(graft.write.GraftStores.register(\"$n\", store))")))

  /** Partition-column resolution: an explicit `partcols` option wins
    * (validated against the manifest by the table itself — a mismatch is
    * a loud parse error), else the columns RECORDED in the table's
    * current manifest (resolved through the table's store for CAS-mode
    * tables — their head manifest is named by the pointer value, not a
    * CURRENT file), else the `year,month` default for a fresh table.
    * This is why reading an existing table needs no layout knowledge. */
  private[graft] def resolvePartCols(spark: SparkSession, root: String,
                                       parameters: Map[String, String]): Seq[String] =
    parameters.get("partcols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(SnapshotTable.storedPartCols(spark, root, resolveStore(parameters)))
      .getOrElse(Seq("year", "month"))

  /** Open the table behind `root` under the options — the ONE
    * construction seam for every format/catalog path: partition columns
    * resolved as [[resolvePartCols]], and a `pointer` option selects a
    * NAMED conditional-write store from [[graft.write.GraftStores]]
    * (the CAS commit-arbitration mode for object stores; an
    * unregistered name refuses with the registration hook named). The
    * option rides `CREATE TABLE ... USING graft OPTIONS (path ...,
    * pointer 'name')` storage properties, so SQL verbs, format
    * reads/writes, and both streaming edges all arbitrate through the
    * same store. */
  private[graft] def openTable(spark: SparkSession, root: String,
                               parameters: Map[String, String]): SnapshotTable =
    new SnapshotTable(spark, root, resolvePartCols(spark, root, parameters),
      resolveStore(parameters))

  /** `timestampAsOf` accepts epoch millis, an ISO-8601 instant
    * (`2026-08-14T12:00:00Z`), or a local `yyyy-MM-dd HH:mm:ss[.f]`
    * timestamp (session-zone-free — interpreted in the JVM default
    * zone, same as `java.sql.Timestamp.valueOf`). */
  private[graft] def parseTimestamp(raw: String): Long = {
    val s = raw.trim
    s.toLongOption.getOrElse {
      try java.time.Instant.parse(s).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.valueOf(s).getTime
      }
    }
  }

  /** `org.apache.spark.sql.sources.Filter` → Column, recursively — the
    * DSv1 pushdown bridge for [[GraftSnapshotRelation]]. Untranslatable filters
    * return None and are simply not pushed (Spark re-applies every
    * filter on top of a DSv1 scan, so this is a performance choice,
    * never a correctness one). */
  private[sources] def filterToColumn(f: Filter): Option[Column] = {
    def c(name: String): Column = col(s"`$name`")
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case StringContains(a, v) => Some(c(a).contains(v))
      case And(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
      case Or(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
      case Not(inner) => filterToColumn(inner).map(!_)
      case _ => None
    }
  }
}

/** The snapshot table as a DSv1 streaming [[org.apache.spark.sql.execution.streaming.Source]]:
  * offsets are snapshot VERSIONS (monotonic by the commit protocol), so
  * `getOffset` is one metadata read and `getBatch(v_a, v_b)` is
  * [[SnapshotTable.appendsBetween]] — the appended dirs alone, never a
  * table diff. `startVersion = 0` ("earliest") makes the first batch
  * the FULL snapshot at the stream's first observed version
  * ([[SnapshotTable.readVersion]] — any chain shape is fine for the
  * initial load), with O(new data) increments after; a positive
  * `startVersion` streams appends since that version. Restart recovery
  * is the checkpoint's last offset — versions are durable and
  * immutable, so replays are exact. Batches are marked streaming via
  * [[org.apache.spark.sql.graft.StreamingBridge]] with zero per-row
  * conversion. */
private[sources] class GraftStreamSource(spark: SparkSession,
                                         t: SnapshotTable,
                                         override val schema: StructType,
                                         startVersion: Int,
                                         maxVersionsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit}
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}

  private def toVersion(o: V1Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case s: SerializedOffset => s.json.trim.toInt
    case other => other.json.trim.toInt // LongOffset json is the bare number
  }

  override def getOffset: Option[V1Offset] =
    t.currentVersion.map(v => LongOffset(v.toLong))

  // ---- Trigger.AvailableNow support (without it the engine falls back
  // to a fallible single-batch guess and warns): `prepare` pins the
  // stream's end at the version current WHEN THE TRIGGER FIRES — later
  // concurrent commits wait for the next run, which is exactly the
  // trigger's contract — and `latestOffset` serves that pinned end.
  // Versions are immutable and monotonic, so the pin is exact. ----

  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = t.currentVersion.map(_.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: V2Offset, limit: ReadLimit): V2Offset = {
    val cur = t.currentVersion.map(_.toLong)
    val pinned = availableNowEnd.fold(cur)(end => cur.map(math.min(_, end)))
    val committed = Option(startOffset).map {
      case l: LongOffset => l.offset
      case o => o.json.trim.toLong
    }
    // rate limiting (`maxVersionsPerTrigger`): cap each micro-batch at N
    // source versions past the last committed offset, so a long backfill
    // streams as bounded batches instead of one giant one — Delta's
    // maxFilesPerTrigger idea at this protocol's natural granularity.
    // Under AvailableNow the engine keeps asking until the pinned end is
    // reached, so the cap bounds batch SIZE, never completeness.
    def capTo(from: Long) = maxVersionsPerTrigger.fold(pinned)(m =>
      pinned.map(v => math.min(v, from + m)))
    committed match {
      // steady state: progress is measured from the CHECKPOINTED offset,
      // never from startVersion — a restarted query resumes exactly
      // where it left off and streams every version committed while it
      // was down (re-filtering on startVersion here would silently skip
      // them: the start option only chooses where a FRESH stream begins)
      case Some(c) => capTo(c).filter(_ > c).map(LongOffset(_)).orNull
      // fresh "earliest" stream: the first batch is the full snapshot
      case None if startVersion == 0 =>
        capTo(0L).map(LongOffset(_)).orNull
      // fresh default ("latest") stream: surface the start position
      // ITSELF as the first offset — its batch is empty, but
      // checkpointing it makes the start DURABLE, so a restart resumes
      // from here instead of re-pinning to whatever is current then
      case None => if (pinned.isDefined) LongOffset(startVersion.toLong) else null
    }
  }

  override def reportLatestOffset(): V2Offset = getOffset.orNull

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val to = toVersion(end)
    val batch = start.map(toVersion).orElse(Some(startVersion).filter(_ > 0)) match {
      case Some(from) if from >= to => // defensive: an empty replay window
        t.readVersion(to).limit(0)
      case Some(from) => t.appendsBetween(from, to)
      case None => t.readVersion(to) // "earliest": the initial full snapshot
    }
    // the stream's schema is pinned at start; a column rename/drop
    // landing mid-stream makes this select fail — name the cause
    // instead of surfacing a bare unresolved-column error
    val aligned =
      try batch.select(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            "streaming source schema no longer matches the table " +
              s"(columns now: ${batch.columns.mkString(", ")}; stream " +
              s"started with: ${schema.fieldNames.mkString(", ")}) — a " +
              "column rename/drop landed mid-stream; restart the query " +
              "to adopt the new schema", e)
      }
    org.apache.spark.sql.graft.StreamingBridge.streamingDataFrame(
      spark, aligned.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

/** The snapshot table as a DSv1 streaming [[org.apache.spark.sql.execution.streaming.Sink]]:
  * `addBatch` = one batch-id-tagged [[SnapshotTable.commitAppend]]
  * through [[graft.streaming.StreamingEvents.appendApplyBatch]], which
  * skips an already-applied batch id (the at-least-once replay case —
  * a crash between the commit and the engine's checkpoint write
  * redelivers the batch; the op tag proves it landed) and skips empty
  * batches (no data-file-less commits). The incoming frame is bound to
  * the micro-batch's incremental execution, so its physical rows are
  * re-wrapped as a batch plan first ([[org.apache.spark.sql.graft.StreamingBridge.batchDataFrame]]
  * — the engine's own ForeachBatchSink technique); commit contention
  * with concurrent batch writers is ordinary
  * [[SnapshotTable.commitWithRetry]] arbitration. */
private[sources] class GraftStreamSink(spark: SparkSession, t: SnapshotTable)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.StreamingBridge.batchDataFrame(
      spark, data.queryExecution.toRdd, data.schema)
    // retry-safe: each attempt re-reads the last-applied batch tag, so
    // a retry after losing a race to a concurrent batch writer either
    // re-lands against the new current or recognizes its own commit
    t.commitWithRetry() {
      graft.streaming.StreamingEvents.appendApplyBatch(t, batch, batchId)
      t.currentVersion.getOrElse(0)
    }
    ()
  }

  override def toString: String = s"GraftSink[${t.location}]"
}

/** One hive leaf directory of the resolved snapshot: its typed partition
  * values (as a catalyst row), the same values string-rendered (for
  * exclusion-mask matching), and its data files. */
private[sources] case class SnapshotLeaf(row: InternalRow,
                                         values: Seq[String],
                                         files: Seq[FileStatus])

/** The snapshot-resolved [[FileIndex]] behind the `graft` format's fast
  * path: the listing IS the snapshot (immutable — a data dir never
  * changes after commit, so `refresh` is a no-op), exclusion masks from
  * dynamic partition overwrites are dropped at listing time, and
  * `listFiles` evaluates Catalyst partition filters against the typed
  * partition values — the same pruning contract as Spark's own
  * `InMemoryFileIndex`, minus any filesystem scan at query time (the
  * listing is built once per relation from O(partitions) metadata). */
private[sources] class SnapshotFileIndex(spark: SparkSession,
                                         spec: SnapshotScanSpec,
                                         override val partitionSchema: StructType,
                                         leaves: Seq[SnapshotLeaf]) extends FileIndex {

  // Deliberately EMPTY: Spark's DSv1 insert analysis routes `INSERT
  // INTO` over a HadoopFsRelation to a raw-file write into
  // `rootPaths.head` — which here would drop parquet files inside a
  // committed, immutable `_data` dir, corrupting every version that
  // references it (rows appearing in history, bypassing the commit
  // protocol entirely). With no root path the insert fails loudly at
  // planning instead; reads never consult rootPaths (listFiles serves
  // from the resolved snapshot listing), and refresh-by-path is
  // meaningless for an immutable snapshot. Writes go through
  // `df.write.format("graft")` or the Scala commit API.
  override def rootPaths: Seq[Path] = Seq.empty

  /** Per-column merged min/max stats across the snapshot's dirs (file
    * paths are globally unique, so per-dir maps union cleanly). Loaded
    * lazily ONCE per relation — file-count-sized driver state, the
    * [[MinMaxFileIndex]] contract. */
  private lazy val colStats: Map[String, Map[String, (Double, Double)]] =
    spec.dirs.flatMap(_.stats).groupBy(_._1).map { case (column, paths) =>
      column -> paths.map(_._2)
        .map(p => DataSkipping.loadStats(spark, p))
        .foldLeft(Map.empty[String, (Double, Double)])(_ ++ _)
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected =
      if (partitionFilters.isEmpty) leaves
      else {
        // bind by NAME to the partition schema — the filter expressions
        // carry the relation's attributes, the rows are ours
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(CatalystAnd).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        leaves.filter(l => bound.eval(l.row))
      }
    // min/max FILE pruning through the snapshot's stats indexes — the
    // readSkipping capability, reached from spark.read/SQL: for every
    // indexed column the data filters imply a range on, drop files
    // whose stored [min, max] cannot overlap it. Absent entries keep
    // their file (conservative — same contract as MinMaxFileIndex);
    // unindexed snapshots skip this entirely.
    val pruners = colStats.flatMap { case (column, stats) =>
      val (lo, hi) = DataSkipping.implied(column, dataFilters)
      if (lo.isEmpty && hi.isEmpty) None else Some((stats, lo, hi))
    }
    selected.map { l =>
      val kept =
        if (pruners.isEmpty) l.files
        else l.files.filter { f =>
          val path = DataSkipping.normalize(f.getPath.toString)
          pruners.forall { case (stats, lo, hi) =>
            stats.get(path) match {
              case Some((mn, mx)) => lo.forall(mx >= _) && hi.forall(mn <= _)
              case None => true
            }
          }
        }
      PartitionDirectory(l.row, kept.toArray)
    }
  }

  override def inputFiles: Array[String] =
    leaves.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = () // a snapshot's dirs are immutable

  override def sizeInBytes: Long = leaves.flatMap(_.files.map(_.getLen)).sum
}

private[sources] object SnapshotFileIndex {

  /** Walk every data dir's hive tree (`partCol=value` levels, one per
    * partition column), returning the leaf listing — or None if ANY dir
    * deviates from the layout (flat/clustered commit styles), which
    * sends the read down the per-entry fold. Excluded partition
    * tuples (dynamic-overwrite masks) are dropped here, so a masked
    * partition's files never reach the scan at all. */
  def list(spark: SparkSession, spec: SnapshotScanSpec,
           partitionSchema: StructType): Option[Seq[SnapshotLeaf]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val nParts = partitionSchema.size

    def typedRow(values: Seq[String]): InternalRow =
      InternalRow.fromSeq(values.zipWithIndex.map { case (s, i) =>
        if (s == "__HIVE_DEFAULT_PARTITION__") null
        else Cast(Literal(UTF8String.fromString(s), StringType),
          partitionSchema(i).dataType, zone).eval(null)
      })

    def leavesOf(dir: SnapshotScanSpec.Dir): Option[Seq[SnapshotLeaf]] = {
      val fs = new Path(dir.path).getFileSystem(conf)

      def recurse(p: Path, depth: Int, values: Seq[String]): Option[Seq[SnapshotLeaf]] =
        if (depth == nParts) {
          if (dir.excluded.contains(values)) Some(Seq.empty) // masked out
          else {
            val files = fs.listStatus(p).filter(st => st.isFile &&
              !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
            Some(Seq(SnapshotLeaf(typedRow(values), values, files.toSeq)))
          }
        } else {
          val pre = partitionSchema(depth).name + "="
          val children = fs.listStatus(p).filter { st =>
            val n = st.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          }
          // every visible child must be a <partCol>= directory, else
          // this is not a hive-layout dir
          if (!children.forall(st => st.isDirectory &&
              st.getPath.getName.startsWith(pre))) None
          else children.foldLeft(Option(Seq.empty[SnapshotLeaf])) { (acc, st) =>
            acc.flatMap { got =>
              val value = unescape(st.getPath.getName.substring(pre.length))
              recurse(st.getPath, depth + 1, values :+ value).map(got ++ _)
            }
          }
        }

      recurse(new Path(dir.path), 0, Seq.empty)
    }

    spec.dirs.foldLeft(Option(Seq.empty[SnapshotLeaf])) { (acc, d) =>
      acc.flatMap(got => leavesOf(d).map(got ++ _))
    }
  }

  /** Hive path-name unescaping (%XX sequences) — partition values are
    * written path-escaped by every engine; the common case (digits,
    * letters) passes through untouched. */
  private[sources] def unescape(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        if (ch == '%' && i + 3 <= s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(ch); i += 1 }
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }
}

/** The `graft` format's relation over a derived frame: the read
  * selector's per-entry fold (any snapshot the file-listing relation
  * cannot express), a metadata table, a changelog or an incremental
  * read — with DSv1 source filters translated back to Columns so predicate
  * pushdown and column pruning still reach the INNER parquet scans via
  * Catalyst. `needConversion = false` + `toRdd`: rows flow through as
  * InternalRow with zero per-row conversion. */
private[sources] class GraftSnapshotRelation(spark: SparkSession, df: DataFrame)
    extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = spark.sqlContext
  // asNullable: same catalog-stability rationale as the fast path
  override val schema: StructType = GraftDataSource.nullable(df.schema)
  override val needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(GraftDataSource.filterToColumn)
      .foldLeft(df)((d, c) => d.filter(c))
    // Spark re-applies all filters above a DSv1 scan, so partial
    // translation is safe; empty requiredColumns (count(*)) yields
    // zero-field rows, which is exactly what the counter wants
    val pruned = filtered.select(requiredColumns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    pruned.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
