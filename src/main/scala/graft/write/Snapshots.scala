package graft.write

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned table over plain partitioned parquet — the
  * capability the reference inherits from Iceberg for free (every write
  * is a snapshot commit, `scripts/nyc_taxi/ingest_spark_bulk.py:146–152`;
  * `trino/catalog/iceberg.properties:13–14` pins the catalog that makes
  * `rollback_to_snapshot` a one-liner). Graft's in-place writers
  * ([[IncrementalWriter]]) have no versioned recovery: a bad load is
  * permanent. This class adds the Iceberg-shaped contract with a
  * manifest-file design:
  *
  *  - Data is IMMUTABLE: every commit writes a fresh
  *    `_data/d<version>_<uuid>` directory (the uuid suffix keeps two
  *    racing writers off each other's parquet writes); nothing ever
  *    rewrites history. Each dir carries its writer's schema in an
  *    `_graft_schema.ddl` sidecar, so reads plan with an explicit
  *    schema — zero planning-time footer reads — instead of
  *    mergeSchema inference.
  *  - A manifest (`_manifests/v<version>.txt`) lists the data
  *    directories composing that snapshot, each with an excluded
  *    partition set (how dynamic partition overwrite masks replaced
  *    months without touching their files).
  *  - `_manifests/CURRENT` names the live version; readers resolve it,
  *    writers flip it last — one atomic overwrite-capable rename
  *    ([[graft.util.AtomicFlip.writeAtomic]]), monotonic, so a reader
  *    never observes a missing or torn pointer.
  *  - [[rollbackTo]] is ITSELF a commit whose entries are the target
  *    version's — history is preserved (Iceberg semantics), data moves
  *    zero bytes, and the rollback is visible in [[history]].
  *  - Named refs: immutable [[tag]]s and movable branch lineages
  *    ([[createBranch]]/[[fastForward]]), both retained through
  *    [[expire]]. Main is one lineage among them: every commit, head
  *    read and maintenance walk takes a lineage ([[Branch]]) and runs
  *    the same code for main and for a branch.
  *
  * Commit protocol (optimistic, single-winner CAS): data dir first
  * (invisible until referenced), then the manifest for version
  * `base + 1` — where `base` is the version the entries were computed
  * AGAINST, never a re-read — published atomically WITH its content via
  * [[graft.util.AtomicFlip.publishExclusive]] (local: `link(2)`, EEXIST
  * = lost; HDFS-class: no-overwrite rename — either way the manifest
  * can never be observed half-written). Exactly one of N racing writers
  * wins; losers get [[SnapshotConflictException]] and retry from the
  * new current ([[commitWithRetry]] automates the repair-aware loop) —
  * then the CURRENT flip. A crash between manifest publish and CURRENT
  * flip leaves an orphan manifest that blocks the next commit;
  * [[repair]] re-points CURRENT at the newest complete manifest,
  * mirroring how a catalog recovers.
  *
  * This holds on filesystems with atomic create/rename (HDFS, local,
  * most POSIX). On S3-class object stores create-exclusive is not
  * atomic; production tables there put the version pointer in a catalog
  * with a conditional write (what Iceberg's HMS/REST catalogs do) and
  * keep everything else here unchanged. The constructor PROBES the
  * root's scheme and refuses known non-atomic stores with a clear error
  * (opt back in via `graft.snapshots.allow.nonatomic=true` once the
  * pointer lives in such a catalog) — fail-fast at open beats a
  * silently unsafe flip under concurrency.
  *
  * At 100 TB the unit of work per commit is one data directory's write:
  * commit metadata is O(retained versions × data dirs), never O(files),
  * and rollback/time-travel never rewrite data. [[expire]] bounds the
  * retained history like Iceberg's `expire_snapshots`.
  */
class SnapshotTable(spark: SparkSession, root: String,
                    partCols: Seq[String] = Seq("year", "month"),
                    pointer: Option[ConditionalStore] = None) {
  require(partCols.nonEmpty, "partCols must be non-empty")

  /** The table's root directory — what a catalog entry records. */
  def location: String = root

  private val manifestDir = new Path(root, "_manifests")
  private val dataDir = new Path(root, "_data")
  private val statsDir = new Path(root, "_stats")
  private val fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Commit-safety probe (fail-fast at OPEN, not corrupt at commit): the
  // protocol's two primitives — create-exclusive as the commit point and
  // atomic rename as the pointer flip — do not exist on S3-class object
  // stores (rename there is copy+delete; create is last-writer-wins), so
  // two racing writers would BOTH believe they won and the CURRENT flip
  // could be observed half-complete. The reference runs its warehouse on
  // MinIO/S3 but gets safety from an Iceberg CATALOG's conditional
  // write, not from the store (`trino/catalog/iceberg.properties`,
  // `scripts/nyc_taxi/ingest_spark_bulk.py:123–133`); the equivalent
  // deployment here keeps the pointer in such a catalog and sets
  // `graft.snapshots.allow.nonatomic=true` to acknowledge the contract
  // moved off the filesystem.
  {
    val scheme = Option(new Path(root).toUri.getScheme).getOrElse(fs.getScheme)
    // TLS variants (s3a-over-https is still "s3a", but wasb has a
    // distinct "wasbs" scheme) count too — a secure connection to a
    // non-atomic store is still a non-atomic store. A table opened WITH
    // a conditional-write pointer is exempt: the commit point moved off
    // the filesystem onto the store's CAS ([[CasVersionPointer]]), which
    // is exactly the deployment this refusal points at.
    val unsafe =
      Set("s3", "s3a", "s3n", "gs", "oss", "swift", "cos", "wasb", "wasbs")
    val conf = spark.sparkContext.hadoopConfiguration
    require(pointer.isDefined || !unsafe.contains(scheme) ||
        conf.getBoolean("graft.snapshots.allow.nonatomic", false),
      s"SnapshotTable at $root: scheme '$scheme' lacks atomic rename/" +
        "create-exclusive, so the commit protocol cannot guarantee a " +
        "single winner. Open the table with a ConditionalStore pointer " +
        "(catalog CAS — see VersionPointer.scala), or set " +
        "graft.snapshots.allow.nonatomic=true once the pointer lives in " +
        "such a catalog, or use an HDFS/POSIX-semantics filesystem.")
  }

  /** Commit arbitration (see [[VersionPointer]]): filesystem
    * create-exclusive + CURRENT file by default; catalog-style
    * conditional-write CAS when a [[ConditionalStore]] was passed. */
  private val vp: VersionPointer = pointer match {
    case Some(st) => new CasVersionPointer(fs,
      spark.sparkContext.hadoopConfiguration, manifestDir, st)
    case None => new FsVersionPointer(fs,
      spark.sparkContext.hadoopConfiguration, manifestDir)
  }

  import Branch.{Main, Named}

  /** One data directory + the partitions masked out of it (a dynamic
    * partition overwrite excludes the replaced partitions from every
    * OLDER dir instead of deleting their files). Partition values render
    * as colon-joined strings, entries as `dir|p1,p2`.
    *
    * `era` = how many column-mapping ops ([[Manifest.colOps]]) were
    * already in force when this dir was WRITTEN: the read-time fold
    * applies only `colOps.drop(era)`, so a dir written after a
    * drop-then-re-add (or a rename whose source name was later reused)
    * is never mis-folded as old-era data. `-1` = "stamp me at commit"
    * (every fresh write); legacy manifests parse as era 0, which is
    * exact for them (the fold's per-op presence guards make
    * over-application a no-op on guard-clean dirs). */
  private case class Entry(dir: String, excluded: Set[Seq[String]],
                           era: Int = -1)

  /** A merge-on-read delete: every key tuple stored in `dir` suppresses
    * matching rows — but only in the first `appliesTo` entries of the
    * manifest (the entries that existed when the delete was committed;
    * newer entries carry the keys' REPLACEMENT rows and must not be
    * suppressed). The positional scope is Iceberg's sequence-number
    * idea collapsed onto this manifest's ordered entry list. */
  private case class DeleteRef(dir: String, keyCols: Seq[String], appliesTo: Int,
                               era: Int = -1)

  /** A merge-on-read PREDICATE delete (Iceberg's other delete-file
    * flavor, collapsed to metadata: the predicate is a SQL string in the
    * manifest itself — no data dir at all, because unlike equality
    * deletes the "delete file" here is one expression, not a key set).
    * Rows where the predicate is TRUE are suppressed in the first
    * `appliesTo` entries; rows where it is NULL are KEPT (delete only
    * what provably matches — the purge contract). Same positional
    * scoping as [[DeleteRef]]. */
  private case class PredDelete(sql: String, appliesTo: Int)

  /** `ts` = commit wall-clock millis (0 for pre-round-12 manifests —
    * the parser treats the line as optional, so old tables read
    * unchanged and [[versionAt]] falls back to file modification time
    * for them). Never part of manifest EQUALITY anywhere (the
    * append-chain check compares entries/deletes), so replays and
    * rewrites stay timestamp-independent. */
  private case class Manifest(version: Int, parent: Int, op: String,
                              entries: Seq[Entry],
                              deletes: Seq[DeleteRef] = Seq.empty,
                              predDeletes: Seq[PredDelete] = Seq.empty,
                              ts: Long = 0L,
                              partColsLine: Seq[String] = Seq.empty,
                              constraints: Seq[(String, String)] = Seq.empty,
                              colOps: Seq[SnapshotTable.ColOp] = Seq.empty,
                              properties: Seq[(String, String)] = Seq.empty)

  // ---- manifest serialization (line format: trivially greppable and
  // parseable with zero dependencies; values are ints, dir names, and
  // partition-value tuples, none of which need escaping) ----

  private def render(m: Manifest): String = {
    val lines = Seq(s"version=${m.version}", s"parent=${m.parent}", s"op=${m.op}") ++
      m.entries.map(e =>
        s"entry=${e.dir}|${e.excluded.map(_.mkString(":")).toSeq.sorted.mkString(",")}|${e.era}") ++
      m.deletes.map(d =>
        s"delete=${d.dir}|${d.keyCols.mkString(",")}|${d.appliesTo}|${d.era}") ++
      // appliesTo FIRST: the predicate SQL may itself contain '|' (a
      // string literal), so the fixed-shape field leads and the sql is
      // everything after the first separator
      m.predDeletes.map(p => s"pdelete=${p.appliesTo}|${p.sql}") ++
      // name FIRST (validated [A-Za-z0-9_]+, never contains '|'); the
      // CHECK sql is everything after the first separator
      m.constraints.map { case (n, sql) => s"constraint=$n|$sql" } ++
      // ordered column-mapping history; names validated [A-Za-z0-9_]+
      // at DDL time, so the '|' split below is unambiguous
      m.colOps.map {
        case SnapshotTable.ColRename(f, t) => s"colop=rename|$f|$t"
        case SnapshotTable.ColDrop(n) => s"colop=drop|$n"
        case SnapshotTable.ColWiden(n, t) => s"colop=widen|$n|$t"
        case SnapshotTable.ColAdd(n, t) => s"colop=add|$n|$t"
      } ++
      // versioned table properties (Delta's TBLPROPERTIES as commit
      // metadata): key validated [A-Za-z0-9_.-]+, value may hold '='
      // but not '|' or newlines (checked at set time)
      m.properties.map { case (k, v) => s"prop=$k|$v" } ++
      (if (m.ts > 0) Seq(s"ts=${m.ts}") else Seq.empty) ++
      // the writer's partition columns ride every manifest: a reader
      // opened with DIFFERENT partCols would evaluate exclusion masks
      // against the wrong columns — silently wrong rows; recording them
      // makes the mismatch a loud parse-time error and lets the `graft`
      // format self-discover the layout (no partcols option needed)
      (if (m.partColsLine.nonEmpty)
        Seq(s"partcols=${m.partColsLine.mkString(",")}") else Seq.empty)
    lines.mkString("", "\n", "\n")
  }

  /** Version `v` of lineage `b` — the one manifest parser. */
  private def parse(v: Int, b: Branch = Main): Manifest = {
    val label = b.label(v)
    val text = SnapshotTable.readText(fs, vp.manifestPath(b, v))
    val kv = text.linesIterator.filter(_.nonEmpty).toSeq.map { l =>
      val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
    }
    def one(k: String) = kv.collectFirst { case (`k`, v0) => v0 }
      .getOrElse(sys.error(s"manifest $label missing $k"))
    val entries = kv.collect { case ("entry", spec) =>
      val bar = spec.indexOf('|')
      val last = spec.lastIndexOf('|')
      // 3-field form dir|masks|era; legacy 2-field dir|masks → era 0.
      // The last field is an era ONLY when it parses as an int: a legacy
      // 2-field line whose mask VALUES contain '|' (string partition
      // values) would otherwise have its mask tail consumed as a bogus
      // era (or throw) — non-numeric tails fall back to the legacy
      // read. (A legacy mask whose last '|'-segment is itself all
      // digits is irreducibly ambiguous; current writers always emit
      // the 3-field form, so the ambiguity is confined to pre-era
      // manifests with numeric string partition values.)
      val eraOpt =
        if (last > bar) spec.substring(last + 1).toIntOption else None
      val (exclSpec, era) = eraOpt match {
        case Some(e) => (spec.substring(bar + 1, last), e)
        case None => (spec.substring(bar + 1), 0)
      }
      val excl = exclSpec.split(",").filter(_.nonEmpty)
        .map(_.split(":").toSeq).toSet
      Entry(spec.substring(0, bar), excl, era)
    }
    val deletes = kv.collect { case ("delete", spec) =>
      val parts = spec.split("\\|", -1)
      require(parts.length == 3 || parts.length == 4,
        s"malformed delete line in $label: $spec")
      DeleteRef(parts(0), parts(1).split(",").filter(_.nonEmpty).toSeq,
        parts(2).toInt, if (parts.length == 4) parts(3).toInt else 0)
    }
    val predDeletes = kv.collect { case ("pdelete", spec) =>
      val bar = spec.indexOf('|')
      require(bar > 0, s"malformed pdelete line in $label: $spec")
      PredDelete(spec.substring(bar + 1), spec.substring(0, bar).toInt)
    }
    val constraints = kv.collect { case ("constraint", spec) =>
      val bar = spec.indexOf('|')
      require(bar > 0, s"malformed constraint line in $label: $spec")
      (spec.substring(0, bar), spec.substring(bar + 1))
    }
    val colOps = kv.collect { case ("colop", spec) =>
      spec.split("\\|", -1) match {
        case Array("rename", f, t) => SnapshotTable.ColRename(f, t)
        case Array("drop", n) => SnapshotTable.ColDrop(n)
        case Array("widen", n, t) => SnapshotTable.ColWiden(n, t)
        case Array("add", n, t) => SnapshotTable.ColAdd(n, t)
        case _ => sys.error(s"malformed colop line in $label: $spec")
      }
    }
    val properties = kv.collect { case ("prop", spec) =>
      val bar = spec.indexOf('|')
      require(bar > 0, s"malformed prop line in $label: $spec")
      (spec.substring(0, bar), spec.substring(bar + 1))
    }
    val m = Manifest(one("version").toInt, one("parent").toInt, one("op"), entries,
      deletes, predDeletes,
      kv.collectFirst { case ("ts", v0) => v0.toLong }.getOrElse(0L),
      kv.collectFirst { case ("partcols", v0) =>
        v0.split(",").map(_.trim).filter(_.nonEmpty).toSeq }.getOrElse(Seq.empty),
      constraints, colOps, properties)
    // fail-fast on a partition-column mismatch: masks and partition
    // probes are expressed over the WRITER's columns (pre-partcols-line
    // history can't be checked — best effort, like the ts fallback)
    require(m.partColsLine.isEmpty || m.partColsLine == partCols,
      s"table at $root was committed with partition columns " +
        s"(${m.partColsLine.mkString(", ")}) but this handle was opened " +
        s"with (${partCols.mkString(", ")}) — exclusion masks would apply " +
        "to the wrong columns; open with the recorded columns " +
        "(SnapshotTable.storedPartCols discovers them)")
    m
  }

  // ---- pointer (delegated to the arbitration seam, [[VersionPointer]]) ----

  /** The live version, if the table exists. */
  def currentVersion: Option[Int] = vp.head(Main)

  /** Diagnostics (CAS mode): full parentfile-chain walks performed by
    * this handle — each is O(retained versions) metadata reads, so the
    * memoization contract ("one walk per head move, not per call") is
    * what keeps history()/metadata tables cheap at streaming commit
    * rates. 0 in Fs mode (fixed names need no walk). */
  private[graft] def chainWalkCount: Int = vp match {
    case c: CasVersionPointer => c.chainWalks
    case _ => 0
  }

  // ---- commits ----

  /** Version prefix for human debugging + a uuid suffix so two RACING
    * writers targeting the same next version never collide on the
    * parquet write itself (dir names are decided BEFORE the manifest
    * race picks the winner; the loser's dir becomes orphan debris
    * [[vacuum]] collects) — the same reason Iceberg writes
    * uuid-suffixed data files. */
  private def dataDirName(version: Int): String =
    f"d$version%05d" + "_" + java.util.UUID.randomUUID.toString.take(8)

  /** The data dir names snapshot `v` references (test/debug
    * introspection — names are attempt-unique, so asserting on layout
    * must go through the manifest, not guessed literals). */
  private[graft] def dataDirs(v: Int): Seq[String] = parse(v).entries.map(_.dir)

  /** Write-time type enforcement for live widenings: a frame still
    * carrying the PRE-widen type is cast up before it lands, so the
    * dir's bytes agree with the era it is stamped at. Without this a
    * narrow write stamped post-widen would skip the read fold and a
    * SINGLE-entry table (one commitOverwrite) would read the narrow
    * type — disagreeing with the SQL-altered catalog schema; multi-dir
    * tables only happened to agree via unionByName coercion. Only the
    * loss-free [[widenings]] are cast (an unrelated type mismatch keeps
    * today's unionByName semantics rather than risking a lossy cast). */
  private def castToWidened(df: DataFrame,
                            ops: Seq[SnapshotTable.ColOp]): DataFrame =
    ops.foldLeft(df) {
      case (d, SnapshotTable.ColWiden(n, t)) if d.columns.contains(n) &&
          widenings.getOrElse(d.schema(n).dataType.catalogString, Set.empty)
            .contains(t) =>
        d.withColumn(n, col(n).cast(t))
      case (d, _) => d
    }

  /** Conform a frame to the gating manifest's column-mapping `ops`
    * before it lands: refuse a write whose frame reuses a RETIRED
    * column name (the `from` of a rename or a dropped column — the
    * read-time fold would rename/hide the new column as if it were
    * old-era data: silent corruption; loud by design, and a
    * full-rewrite compaction clears the mapping history and frees the
    * names), then cast up to the live widenings ([[castToWidened]]).
    * Every fresh data write funnels through here. */
  private def conform(df: DataFrame, ops: Seq[SnapshotTable.ColOp],
                      what: String): DataFrame = {
    if (ops.isEmpty) return df
    val retired = SnapshotTable.retiredNames(ops)
    val bad = df.columns.filter(retired)
    require(bad.isEmpty,
      s"$what refused: column(s) ${bad.mkString(", ")} were renamed or " +
        "dropped on this table — the read-time column mapping would " +
        "misinterpret them as old-era data. Compact (commitCompactFiles) " +
        "to materialize the mapping and free the names, or use the " +
        "current column names")
    castToWidened(df, ops)
  }

  /** Write a fresh data dir for `version`, gated by `gate` — the
    * manifest whose column-mapping ops and CHECK constraints the write
    * must satisfy ([[gateOf]]). */
  private def writeData(df0: DataFrame, version: Int, gate: Manifest): String = {
    val df = conform(df0, gate.colOps, "commit")
    val dir = dataDirName(version)
    val dataP = new Path(dataDir, dir).toString
    // co-locate each output partition's rows: 1 file per partition, not
    // N_tasks × N_partitions small files (same rationale as
    // IncrementalWriter.byPartition); fat partitions fan out via
    // WriteDistribution's graft.write.splitsPerPartition knob
    WriteDistribution.freshDir(WriteDistribution.byPartition(df, partCols))
      .partitionBy(partCols: _*).parquet(dataP)
    writeSchemaSidecar(dir, df.schema)
    enforceConstraints(dir, gate.constraints)
    dir
  }

  // ---- schema-in-metadata (the Iceberg/Delta capability mergeSchema
  // emulates expensively): each data dir records its writer's schema in
  // an underscore-prefixed sidecar (invisible to parquet scans), so
  // reads plan with an EXPLICIT schema — zero footer reads at planning
  // time — instead of mergeSchema's footer fetch of every file, which
  // at 100 TB is millions of object-store reads per query. Dirs without
  // a sidecar (pre-sidecar history, purge twins from older binaries)
  // fall back to mergeSchema: always correct, just slower. Schema
  // EVOLUTION across dirs is the read selector's ([[scan]]): the
  // sidecars' additive union, or unionByName in the per-entry fold. ----

  /** Resolve an entry's dir token to its data location. Plain names
    * live under this table's `_data`; an ABSOLUTE URI is a BORROWED
    * dir — a [[shallowClone]] entry referencing the source table's
    * files in place. Borrowed dirs are strictly read-only to this
    * table: no write targets one (new commits always mint local dirs),
    * and no maintenance can collect one — [[vacuum]]/[[expire]] sweep
    * by LISTING the local `_data` (absolute paths never appear there)
    * and [[purge]] refuses borrowed entries outright. */
  private def dirPath(dir: String): Path = {
    val p = new Path(dir)
    if (p.isAbsolute) p else new Path(dataDir, dir)
  }

  private def isBorrowed(dir: String): Boolean = new Path(dir).isAbsolute

  private def schemaSidecarPath(dir: String) =
    new Path(dirPath(dir), "_graft_schema.ddl")

  private def writeSchemaSidecar(dir: String,
                                 schema: org.apache.spark.sql.types.StructType): Unit = {
    val out = fs.create(schemaSidecarPath(dir), true)
    try out.write(schema.toDDL.getBytes("UTF-8")) finally out.close()
  }

  // ---- row-count sidecar (the Iceberg/Delta metadata-count
  // capability): each data dir records its exact row count, LAZILY —
  // the first [[countFast]] that needs a missing count runs one
  // distributed footer job per uncounted dir ([[distributedCount]]:
  // parquet count(*) short-circuits to footer row counts in TASKS) and
  // persists the sidecar for every later call. The commit path pays
  // NOTHING: the round-13 implementation re-opened every just-written
  // footer serially on the driver (O(files-per-commit) driver round
  // trips — tens of minutes on a 10⁴–10⁵-file bulk load against an
  // object store), and the first round-14 cut counted at write time
  // (observation metrics / a post-write job), which measured ~40%
  // overhead on commit-heavy workloads — a per-commit synchronous wait
  // the commit path doesn't need for BEST-EFFORT metadata. ----

  private def rowsSidecarPath(dir: String) =
    new Path(dirPath(dir), "_graft_rows")

  private def writeRowsSidecar(dir: String, rows: Option[Long]): Unit =
    rows.foreach { n =>
      try {
        val out = fs.create(rowsSidecarPath(dir), true)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
      } catch {
        // the count is an optimization, never a correctness
        // dependency — a failed sidecar write leaves the dir unknown
        // rather than failing the commit
        case _: Exception => ()
      }
    }

  /** Exact row count of a written dir as ONE distributed job: parquet
    * `count(*)` short-circuits to per-file footer row counts evaluated
    * IN TASKS, so the cost is a footer read per file spread across the
    * cluster — never a serial driver loop and never a data scan. */
  private def distributedCount(dataP: String): Option[Long] =
    try Some(graft.Tables.parquet(spark, dataP).count())
    catch { case _: Exception => None }

  /** A dir's recorded row count, if its sidecar exists and parses. */
  private def dirRows(dir: String): Option[Long] =
    SnapshotTable.readTextIfExists(fs, rowsSidecarPath(dir)).flatMap(_.trim.toLongOption)

  /** `count(*)` from metadata — O(entries) sidecar reads once counts
    * are recorded, never a data scan, exact or absent: `None` whenever
    * any retained mask or merge-on-read delete could make the visible
    * count differ from the recorded physical counts (exclusion masks
    * hide whole partitions inside a dir; deletes suppress rows —
    * neither is derivable from a per-dir total). Column-mapping ops
    * never change row counts, so a live mapping does not decline.
    * Compaction (which folds masks and delete debt into one fresh dir)
    * restores fast counting.
    *
    * A dir WITHOUT a recorded count (fresh commit under the default
    * lazy policy, pre-sidecar history) is counted here on first use —
    * one distributed footer job (row counts from parquet footers, read
    * in tasks; no data decode) — and the sidecar is persisted
    * best-effort so later calls are pure metadata reads. Borrowed
    * (shallow-clone) dirs are counted but never written into (they
    * belong to the source table). At 100 TB this is the
    * difference between a dashboard's `count(*)` being a metadata read
    * and a full scan. */
  def countFast: Option[Long] = {
    val m = parse(currentVersion.getOrElse(return None))
    if (m.deletes.nonEmpty || m.predDeletes.nonEmpty ||
        m.entries.exists(_.excluded.nonEmpty)) return None
    val counts = m.entries.map { e =>
      dirRows(e.dir).orElse {
        distributedCount(dirPath(e.dir).toString).map { n =>
          if (!isBorrowed(e.dir)) writeRowsSidecar(e.dir, Some(n))
          n
        }
      }
    }
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** A dir's recorded schema sidecar DDL, if any — the one sidecar
    * reader (scan specs and single-dir reads both come through here). */
  private def schemaDdl(dir: String): Option[String] =
    SnapshotTable.readTextIfExists(fs, schemaSidecarPath(dir))

  /** One data dir as a plain parquet scan: planned under its recorded
    * schema (zero footer reads), or schema-merged for pre-sidecar dirs. */
  private def scanDir(path: String, ddl: Option[String]): DataFrame =
    ddl.fold(spark.read.option("mergeSchema", "true").parquet(path))(d =>
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(d))
        .parquet(path))

  private def readDir(dir: String): DataFrame =
    scanDir(dirPath(dir).toString, schemaDdl(dir))

  /** A lineage with no commit yet: version 0, nothing in it. */
  private val emptyHead = Manifest(0, 0, "empty", Seq.empty)

  /** The head a commit on lineage `b` is computed against, read ONCE
    * per commit attempt: everything the commit needs of it — entries,
    * deletes, metadata, the write gate — comes from this one manifest.
    * Main's empty table reads as [[emptyHead]]; a missing branch
    * refuses. A concurrent count-based [[expire]] (or a branch drop)
    * can delete the just-read head's manifest between the head read and
    * this parse — a retention/commit interleaving, not a damaged table —
    * so a vanished file surfaces as the retryable
    * [[SnapshotConflictException]] (recompute from the new head)
    * instead of a raw FileNotFoundException. Read paths keep
    * [[parse]]: for a reader, a vanished version IS "expired". */
  private def headOf(b: Branch): Manifest = (vp.head(b), b) match {
    case (None, Main) => emptyHead
    case (None, Named(name)) => sys.error(s"no branch '$name' at $root")
    case (Some(v), _) => try parse(v, b) catch {
      case e: java.io.FileNotFoundException =>
        // the just-read head vanished: a concurrent expire retired it
        // (head moved on), or a delayed CURRENT flip regressed the
        // pointer onto an already-expired version (the stress-fuzz
        // finding; flipCurrent now self-heals, but a commit racing the
        // window must not livelock on the stale pointer). repair()
        // promotes the newest live manifest either way, so the
        // caller's retry reads a live head instead of re-throwing
        // forever.
        try repair() catch { case _: Exception => () }
        throw new SnapshotConflictException(
          s"manifest ${b.label(v)} vanished under a concurrent retention " +
            "while a commit was being computed against it — re-read the " +
            s"head and retry (${e.getMessage})")
    }
  }

  /** Lineage `b`'s head for a commit that needs existing state. */
  private def liveHead(b: Branch = Main): Manifest = {
    val m = headOf(b)
    if (m eq emptyHead) sys.error(s"no snapshot at $root")
    m
  }

  /** The manifest whose column-mapping ops and CHECK constraints gate
    * a data write computed against `head` on lineage `b`. The column
    * mapping is always the head's own: the commit stamps the new dir
    * with the head's era and reads it under the head's mapping. The
    * CHECK constraints are the head's on main and MAIN's current set
    * for a branch write (table-wide — see the CHECK constraints
    * section). */
  private def gateOf(b: Branch, head: Manifest): Manifest =
    if (b == Main) head else head.copy(constraints = headOf(Main).constraints)

  /** A commit's op tag on lineage `b`: `op` on main, `branch_<op>` on a
    * branch. */
  private def opOn(b: Branch, op: String): String =
    if (b == Main) op else s"branch_$op"

  /** THE manifest builder, for every commit on main and on branches,
    * [[createBranch]]'s fork and [[fastForward]]'s marker included:
    * `state` (entries, deletes, constraints, column mapping,
    * properties) as the version after `parent`, with its op, commit
    * time and partition columns. A commit derives `state` from the head
    * it read, so what it does not override carries forward. Fresh
    * writes (era -1) are stamped with the op-list length they were
    * written under; entries and deletes copied from older manifests
    * keep their recorded era — see Entry.era. */
  private def successor(parent: Manifest, op: String, state: Manifest): Manifest = {
    val era = state.colOps.length
    state.copy(version = parent.version + 1, parent = parent.version, op = op,
      entries = state.entries.map(e => if (e.era >= 0) e else e.copy(era = era)),
      deletes = state.deletes.map(d => if (d.era >= 0) d else d.copy(era = era)),
      ts = System.currentTimeMillis(), partColsLine = partCols)
  }

  /** The commit point, a compare-and-swap on lineage `b`'s version
    * number: `parent` is the head the caller's `state` was computed
    * AGAINST (not a re-read of the head — re-reading here would let a
    * commit that interleaved between the caller's read and this publish
    * silently vanish from the new manifest: a lost update that a
    * RE-numbered publish would never catch). If anyone committed
    * `parent + 1` first, the publish refuses and the caller must
    * recompute from the new head. Atomic-with-content arbitration
    * through the version pointer — create-exclusive manifest (+ the
    * CURRENT flip on main) in Fs mode, one conditional put in CAS mode:
    * either way the manifest appears fully written or not at all and
    * exactly one racing writer wins. */
  private def commit(parent: Manifest, op: String, state: Manifest,
                     b: Branch = Main): Int = {
    val m = successor(parent, op, state)
    if (!vp.publish(b, m.version, render(m).getBytes("UTF-8")))
      throw new SnapshotConflictException(
        s"commit of ${b.label(m.version)} under $manifestDir lost the race " +
          "(or an orphan manifest exists — run repair()) — re-read the head " +
          "and retry")
    m.version
  }

  /** The predicate selecting the rows of partitions `parts` (value
    * tuples, string-rendered; non-empty): a disjunction of
    * per-partition conjunctions over the partition columns. */
  private def inPartitions(parts: Set[Seq[String]]): org.apache.spark.sql.Column =
    parts.toSeq
      .map(vals => partCols.zip(vals)
        .map { case (c, x) => col(c).cast("string") === x }.reduce(_ && _))
      .reduce(_ || _)

  /** The copy-on-write partition rewrite, the one commit shape behind
    * dynamic overwrite, MERGE, DELETE, UPDATE and scoped compaction:
    * `head`'s state with `parts` masked out of every entry (their files
    * stay for time travel) and `replacement`, the dir holding their
    * new rows, appended. Deletes carry: a rewrite materializes pending
    * merge-on-read deletes only for the partitions it rewrote. */
  private def rewritePartitions(head: Manifest, parts: Set[Seq[String]],
                                replacement: Option[String]): Manifest =
    head.copy(entries = head.entries.map(e => e.copy(excluded = e.excluded ++ parts)) ++
      replacement.map(Entry(_, Set.empty)))

  /** Full-table snapshot (CTAS / dbt `table` materialization shape).
    * `opTag` rides the manifest's op line — a caller-visible marker in
    * [[history]] that survives restarts, which is how the streaming IVM
    * loop records its last-applied batch id WITH the state it produced
    * (one durable object, no second file to fall out of sync). */
  def commitOverwrite(df: DataFrame, opTag: String = "overwrite"): Int = {
    require(opTag.nonEmpty && !opTag.exists(c => c == '\n' || c == '\r'),
      s"opTag must be a non-empty single line: '$opTag'")
    val pm = headOf(Main)
    commit(pm, opTag, pm.copy(
      entries = Seq(Entry(writeData(df, pm.version + 1, pm), Set.empty)),
      deletes = Seq.empty, predDeletes = Seq.empty))
  }

  /** Append snapshot: previous entries plus one new directory. `opTag`
    * (default "append") rides the manifest's op line, same contract as
    * [[commitOverwrite]]'s — how the streaming append loop records its
    * batch id WITH the data it landed (one durable object).
    *
    * FAST-APPEND RETRY (Iceberg's fast-append): appends commute, so a
    * loser of the commit race re-targets the new head METADATA-ONLY —
    * the already-written data dir is reused, never rewritten. At a
    * contended 100 TB ingest edge (N streaming sinks on one table)
    * this turns conflict cost from "rewrite the batch" into "re-read
    * one manifest". The internal retry refuses (falls through to the
    * caller's [[commitWithRetry]], which re-runs the data write) if
    * the table's constraint set or column mapping moved since the
    * write — the dir was validated/stamped against the old sets, and
    * a full re-attempt re-validates rather than publishing stale. */
  def commitAppend(df: DataFrame, opTag: String = "append"): Int = {
    require(opTag.nonEmpty && !opTag.exists(c => c == '\n' || c == '\r'),
      s"opTag must be a non-empty single line: '$opTag'")
    val pm0 = headOf(Main)
    val dir = writeData(df, pm0.version + 1, pm0)
    appendRaceHook() // test seam: inject a concurrent commit here
    var pm = pm0
    var attempts = 0
    while (true) {
      try {
        return commit(pm, opTag, pm.copy(
          entries = pm.entries :+ Entry(dir, Set.empty, era = pm0.colOps.length)))
      } catch {
        case e: SnapshotConflictException =>
          attempts += 1
          // recovery is best-effort: any failure here (a torn orphan
          // manifest repair cannot parse, a vanished CURRENT) rethrows
          // the ORIGINAL conflict for the caller's full retry loop
          val recovered =
            try {
              repair() // a crashed winner's un-flipped manifest blocks everyone
              val newBase = currentVersion.getOrElse(0)
              if (attempts >= 5 || newBase <= pm.version) None
              else {
                val newPm = parse(newBase)
                // zombie/split-brain dedup: if a commit that landed
                // since OUR base carries this very opTag, a concurrent
                // attempt of the SAME batch already published — the
                // metadata-only retry would land it twice. Refuse the
                // fast path and fall through to the caller, whose
                // tag-keyed dedup (findLatestOp, the streaming IVM
                // contract) skips the replay. The identity-free default
                // tag "append" is exempt: it names no batch, so op
                // equality there means only "another append landed" —
                // exactly the commuting case fast-append exists for.
                def sameTagLanded: Boolean = opTag != "append" && {
                  var v = newBase
                  var found = false
                  while (v > pm.version && !found) {
                    val m = parse(v)
                    if (m.op == opTag) found = true
                    v = m.parent
                  }
                  found
                }
                // metadata moved under us → the dir's validation/era
                // is stale; let the caller re-write and re-validate
                if (newPm.constraints != pm0.constraints ||
                    newPm.colOps != pm0.colOps || sameTagLanded) None
                else Some(newPm)
              }
            } catch { case _: Exception => None }
          pm = recovered.getOrElse(throw e)
      }
    }
    -1 // unreachable
  }

  /** Dynamic partition overwrite as a snapshot: the partitions present
    * in `df` are masked out of every older entry (their files stay on
    * disk for time travel) and the new directory carries their
    * replacement — the reference's ingest overwrite mode
    * (`ingest_spark_bulk.py:71–81`) with history. */
  def commitOverwritePartitions(df: DataFrame): Int =
    overwritePartitionsOn(Main, df)

  /** The overwrite-partitions commit on main or a branch: mask the
    * partitions present in `df` out of every previous entry, append the
    * replacement dir. */
  private def overwritePartitionsOn(b: Branch, df: DataFrame): Int = {
    val pm = headOf(b)
    val touched = partTuples(df)
    require(touched.nonEmpty, "batch has no partitions")
    commit(pm, opOn(b, "overwrite_partitions"), rewritePartitions(pm, touched,
      Some(writeData(df, pm.version + 1, gateOf(b, pm)))), b)
  }

  /** The distinct partition-value tuples of `df`, string-rendered — the
    * shape exclusion masks are expressed in. REFUSES a NULL partition
    * value loudly: the mask line serializes null as the string "null"
    * while the read-side equality predicate (`col === null`) is never
    * true, so a null-partition mask would silently drop non-matching
    * rows or mask nothing at all — the exact silent-divergence class
    * this engine refuses elsewhere. Make partition columns non-null
    * (coalesce a sentinel) or use a full-table commit. */
  private def partTuples(df: DataFrame): Set[Seq[String]] = {
    val tuples: Set[Seq[String]] = df
      .select(partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partCols.indices.map(r.getString): Seq[String]).toSet
    require(tuples.forall(t => !t.contains(null)),
      s"NULL partition-column value among the touched partitions " +
        s"(${partCols.mkString(", ")}): partition masks cannot name the " +
        "null partition — make partition columns non-null (coalesce a " +
        "sentinel value) or use a full-table commit")
    tuples
  }

  /** MERGE's no-duplicate-source-keys contract, enforced INSIDE the
    * merge plan (SQL MERGE raises on multiple source matches; a silent
    * double-insert is the divergence class this engine refuses
    * elsewhere — [[graft.operators.Merge.upsert]] has the same guard).
    *
    * The round-13 shape was a SEPARATE groupBy/limit(1)/collect
    * pre-pass — a second full shuffle of the batch before every merge.
    * Now the batch is pre-aggregated by its keys (one hash aggregation
    * whose output partitioning the locate join immediately REUSES, so
    * at scale the batch is shuffled exactly once) and the first key
    * aggregation is topped by a FILTER that raises on count > 1.
    * A Filter's condition evaluates on every row no matter what the
    * consumer prunes (the guard cannot be projected away), and it
    * passes the aggregation's key attributes — and therefore its hash
    * partitioning — through UNTOUCHED, which is what lets the locate
    * join skip its own exchange (wrapping the key column in the guard
    * expression instead would break alias-aware partitioning
    * propagation and re-shuffle; plan-pinned in ScaleToolsSpec). Every
    * merge path's first executed job scans the guarded batch, so a
    * duplicate key always surfaces before anything is written; the
    * per-row cost of a clean batch is one `count > 1` comparison
    * (CaseWhen evaluates the raise branch only when taken). Data
    * columns fold with `first()` — consumed only when count == 1,
    * where first() IS the row, so no nondeterminism escapes. */
  private[graft] def uniqueKeyed(batch: DataFrame, keyCols: Seq[String],
                                 op: String): DataFrame = {
    val counter = "__graft_key_n"
    require(!batch.columns.exists(_.equalsIgnoreCase(counter)),
      s"batch columns may not use the reserved name '$counter'")
    keyCols.foreach(k => require(batch.columns.exists(_.equalsIgnoreCase(k)),
      s"$op key column '$k' is not a column of the batch " +
        s"(${batch.columns.mkString(", ")})"))
    val dataCols = batch.columns
      .filterNot(c => keyCols.exists(_.equalsIgnoreCase(c)))
    val aggExprs = count(lit(1)).as(counter) +:
      dataCols.map(c => first(col(s"`$c`")).as(c)).toSeq
    val agg = batch.groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val msg = concat(
      lit(s"$op batch has multiple rows for key (${keyCols.mkString(", ")}) = ("),
      concat_ws(", ", keyCols.map(c => col(s"`$c`").cast("string")): _*),
      lit("); deduplicate the batch first (MERGE semantics forbid " +
        "multiple matches per key)"))
    agg.filter(when(col(counter) > 1, raise_error(msg).cast("boolean"))
        .otherwise(lit(true)))
      .select(batch.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
  }

  /** The duplicate-guarded keyed batch, PERSISTED for the commit's
    * lifetime: every merge shape consumes the batch from several jobs
    * (locate pass, replacement write, insert routing), and an un-cached
    * guarded plan would re-run the key aggregation once per job — the
    * regression the first cut of this change measured at 1.3–1.6x on
    * the merge family. Unpersisted on every exit path; the in-plan
    * raise is translated back to the eager IllegalArgumentException
    * contract. */
  private def withUniqueKeyed[T](batch0: DataFrame, keyCols: Seq[String],
                                 op: String)(body: DataFrame => T): T =
    dupKeyTranslated {
      val batch = uniqueKeyed(batch0, keyCols, op)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body(batch) finally { batch.unpersist(); () }
    }

  /** Translate the in-plan duplicate-key raise (fired inside whichever
    * merge job first hashes the guarded batch) back into the eager
    * contract callers pin: IllegalArgumentException with the refusal
    * text, before anything committed. */
  private def dupKeyTranslated[T](body: => T): T =
    try body catch {
      case e: Throwable =>
        // deepest cause first: the raise itself, not a job-failure
        // wrapper quoting it inside a stack dump
        val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).toSeq
        msgs.reverse.find(_.contains("multiple rows for key")) match {
          case Some(m) =>
            val at = m.indexOf("batch has multiple rows for key")
            val lineStart = math.max(0, m.lastIndexOf('\n', math.max(at, 0)) + 1)
            throw new IllegalArgumentException(
              m.substring(lineStart)
                .replace("[USER_RAISED_EXCEPTION] ", "").trim, e)
          case None => throw e
        }
    }

  /** Snapshot MERGE (upsert by key) — `MERGE INTO t USING batch WHEN
    * MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` as one commit
    * (the Iceberg/Delta upsert shape; the versioned twin of
    * [[IncrementalWriter.deleteInsert]]): current rows whose `keyCols`
    * tuple appears in `batch` are replaced by the batch's rows,
    * unmatched batch rows are inserted, everything else is untouched.
    *
    * Copy-on-write scoped to TOUCHED PARTITIONS: only partitions that
    * receive batch rows or hold a matched key are rewritten (masked out
    * of every older entry, exactly the dynamic-overwrite mechanism, so
    * time travel to pre-merge versions still works); untouched
    * partitions move zero bytes. Cost shape at 100 TB: one column-
    * pruned key-locate pass over the current state (`keyCols` +
    * partition columns only — a parquet scan of a few columns, and the
    * anti/semi joins broadcast when the batch is small), plus a
    * read+write of the touched partitions — the standard copy-on-write
    * MERGE cost; a daily upsert touching a handful of partitions pays
    * for those partitions, never the table. Keys that MOVE partitions
    * are handled (the old row's partition is rewritten too). A batch
    * carrying duplicate keys is REFUSED up front (it would silently
    * insert both rows — the same loud contract as
    * [[graft.operators.Merge.upsert]]). */
  def commitMerge(batch0: DataFrame, keyCols: Seq[String]): Int =
    mergeOn(Main, batch0, keyCols, "commitMerge")

  /** The copy-on-write MERGE commit on main or a branch. */
  private def mergeOn(b: Branch, batch0: DataFrame,
                      keyCols: Seq[String], api: String): Int = {
    require(keyCols.nonEmpty, s"$api needs at least one key column")
    withUniqueKeyed(batch0, keyCols, api) { batch =>
      val pm = liveHead(b)
      val cur = snapshot(pm)
      val keys = batch.select(keyCols.map(col): _*).distinct()
      // partitions needing a rewrite: where batch rows land ∪ where
      // matched (old) rows live — computed with partition cols + keys
      // only, so the scan prunes to those columns
      val touched = partTuples(
        batch.select(partCols.map(col): _*)
          .unionByName(cur.join(keys, keyCols, "leftsemi")
            .select(partCols.map(col): _*)))
      require(touched.nonEmpty, "merge batch is empty")
      // the touched partitions' surviving rows (matched keys dropped) +
      // the whole batch = the replacement dir's contents
      val kept = cur.filter(inPartitions(touched)).join(keys, keyCols, "left_anti")
      val newData = kept.unionByName(batch, allowMissingColumns = true)
      commit(pm, opOn(b, "merge"), rewritePartitions(pm, touched,
        Some(writeData(newData, pm.version + 1, gateOf(b, pm)))), b)
    }
  }

  /** MERGE-ON-READ upsert — the other side of the COW/MOR trade-off
    * [[commitMerge]] sits on (Iceberg v2's equality deletes): instead
    * of rewriting every touched partition, the commit writes ONLY the
    * batch plus a key-frame "delete file", and reads suppress matching
    * rows in the pre-merge entries at query time. Write cost is
    * O(batch) — a daily upsert touching 0.1% of keys on a 100 TB table
    * stops paying partition rewrites — while reads pay one
    * broadcast-class anti-join per accumulated delete until a
    * [[commitCompact]]/[[commitCompactZ]] materializes the state and
    * clears the debt (the standard MOR maintenance loop). The delete's
    * scope is positional (`appliesTo` = the entry count at merge time),
    * so the batch's own replacement rows are never suppressed and
    * stacked MOR merges compose (a later merge's keys suppress earlier
    * batches too). Same matched-update/unmatched-insert semantics as
    * [[commitMerge]]; results are identical — only the cost shape
    * differs. */
  def commitMergeMor(batch0: DataFrame, keyCols: Seq[String]): Int = {
    require(keyCols.nonEmpty, "commitMergeMor needs at least one key column")
    withUniqueKeyed(batch0, keyCols, "commitMergeMor") { batch =>
      // an empty batch would land an empty data dir + empty delete frame —
      // a no-op commit whose dirs fsck would flag as damage (same guard
      // shape as commitMerge's touched.nonEmpty)
      require(!batch.isEmpty, "merge batch is empty")
      val m = liveHead()
      val delDir = "del" + f"${m.version + 1}%05d" + "_" +
        java.util.UUID.randomUUID.toString.take(8)
      val keys = batch.select(keyCols.map(col): _*).distinct()
      // the key-frame write is the FIRST job to hash the guarded batch
      // here: if the duplicate-key raise fires mid-write, remove the
      // half-written delete frame so the refusal leaves zero debris
      try WriteDistribution.freshDir(keys).parquet(new Path(dataDir, delDir).toString)
      catch { case e: Throwable =>
        fs.delete(new Path(dataDir, delDir), true); throw e }
      writeSchemaSidecar(delDir, keys.schema)
      commit(m, "merge_mor", m.copy(
        entries = m.entries :+ Entry(writeData(batch, m.version + 1, m), Set.empty),
        deletes = m.deletes :+ DeleteRef(delDir, keyCols, m.entries.size)))
    }
  }

  /** GENERAL MERGE — the full SQL `MERGE INTO` clause surface as ONE
    * copy-on-write commit: ordered `WHEN MATCHED [AND cond] THEN
    * UPDATE SET star | UPDATE SET assignments | DELETE`, `WHEN NOT
    * MATCHED [AND cond] THEN INSERT star | INSERT (cols) VALUES
    * (exprs)`, and `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
    * | UPDATE SET assignments` (Iceberg/Delta MERGE semantics; the canonical
    * unconditional upsert shape keeps its dedicated fast paths
    * [[commitMerge]]/[[commitMergeMor]]). First-applicable-clause
    * semantics per row, NULL conditions treated as not-applicable
    * (act only on what provably matches — the engine-wide contract).
    *
    * NAMESPACE: matched-clause conditions and update right-hand sides
    * are Columns over the joined row — TARGET columns by their own
    * names, SOURCE columns prefixed [[SnapshotTable.SrcPrefix]]
    * (`__graft_src_`). Insert conditions see bare SOURCE names;
    * by-source delete conditions see bare TARGET names. (The SQL rule
    * rewrites `t.x`/`s.x` qualifiers into this namespace; Scala callers
    * wanting the plain upsert should use [[commitMerge]].)
    *
    * Cost shape at 100 TB: one left-outer locate join of the current
    * state against the (typically broadcast-class) batch, column-pruned
    * to the clauses' references + keys + partition columns, then a
    * read+write of ONLY the partitions holding a changed row or an
    * insert — the standard COW MERGE floor. Rows that move partition
    * compose with the masking exactly as [[commitMerge]]'s moved keys.
    * A merge where no clause fires anywhere is a no-op (current
    * version, no empty commit). Duplicate source keys are refused up
    * front (SQL MERGE's multiple-match error). */
  def commitMergeGeneral(batch0: DataFrame, keyCols: Seq[String],
                         clauses: Seq[SnapshotTable.MergeWhen],
                         evolveSchema: Boolean = false): Int =
   withUniqueKeyed(batch0, keyCols, "commitMergeGeneral") { batch =>
    import SnapshotTable._
    require(keyCols.nonEmpty, "commitMergeGeneral needs at least one key column")
    require(clauses.nonEmpty, "commitMergeGeneral needs at least one WHEN clause")
    val pm = liveHead()
    val cur = snapshot(pm)
    require(cur.columns.forall(!_.startsWith(SnapshotTable.SrcPrefix)),
      s"table columns may not start with the reserved merge prefix " +
        s"'${SnapshotTable.SrcPrefix}' (they would collide with the " +
        "join namespace)")
    val matched = clauses.collect {
      case c: WhenMatchedUpdateAll => c
      case c: WhenMatchedUpdate => c
      case c: WhenMatchedDelete => c
    }
    val insertCs = clauses.collect {
      case c: WhenNotMatchedInsertAll => c
      case c: WhenNotMatchedInsert => c
    }
    val bySource = clauses.collect {
      case c: WhenNotMatchedBySourceDelete => c
      case c: WhenNotMatchedBySourceUpdate => c
    }
    // SET/INSERT columns not yet on the table: refused without the
    // evolution flag; under WITH SCHEMA EVOLUTION they JOIN the schema
    // (Delta semantics — the explicit-list counterpart of the
    // UPDATE SET * / INSERT * paths below), added in first-appearance
    // order with survivors reading typed NULLs.
    val explicitSets =
      matched.collect { case WhenMatchedUpdate(sets, _) => sets }.flatten ++
      bySource.collect { case WhenNotMatchedBySourceUpdate(sets, _) => sets }.flatten
    val explicitInserts =
      insertCs.collect { case WhenNotMatchedInsert(sets, _) => sets }.flatten
    (explicitSets ++ explicitInserts).foreach { case (n, _) =>
      require(evolveSchema || cur.columns.exists(_.equalsIgnoreCase(n)),
        s"MERGE SET/INSERT column '$n' is not a column of the table at " +
          s"$root (add WITH SCHEMA EVOLUTION to create it)")
    }
    val pref = SrcPrefix
    val src = batch.select(batch.columns.map(c =>
      col(s"`$c`").as(pref + c)).toIndexedSeq: _*)
    val joined = cur.join(src,
      keyCols.map(k => col(k) === col(pref + k)).reduce(_ && _), "left_outer")
    // the evolving columns, first appearance wins the name's casing;
    // each types from its FIRST assignment — SET right-hand sides
    // resolve over the joined namespace, INSERT values over bare
    // source names (exactly the frames they will run against)
    val newExplicit: Seq[org.apache.spark.sql.types.StructField] =
      (explicitSets.map(_._1) ++ explicitInserts.map(_._1))
        .filterNot(n => cur.columns.exists(_.equalsIgnoreCase(n)))
        .foldLeft(Vector.empty[String])((acc, n) =>
          if (acc.exists(_.equalsIgnoreCase(n))) acc else acc :+ n)
        .map { n =>
          val dt = explicitSets.collectFirst {
            case (m, v) if m.equalsIgnoreCase(n) =>
              joined.select(v).schema.head.dataType
          }.orElse(explicitInserts.collectFirst {
            case (m, v) if m.equalsIgnoreCase(n) =>
              batch.select(v).schema.head.dataType
          }).get
          org.apache.spark.sql.types.StructField(n, dt, nullable = true)
        }
    // the output schema: table columns, then the evolving ones
    val outFields = cur.schema.fields ++ newExplicit
    def isNewField(n: String): Boolean =
      newExplicit.exists(_.name.equalsIgnoreCase(n))
    val isMatched = col(pref + keyCols.head).isNotNull
    // first-applicable-clause flags: clause i fires iff its gate holds,
    // its condition is provably TRUE, and no earlier clause fired
    def applyFlags(conds: Seq[Option[org.apache.spark.sql.Column]],
                   gate: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
      var prior: org.apache.spark.sql.Column = lit(false)
      conds.map { c =>
        val here = gate && !prior && coalesce(c.getOrElse(lit(true)), lit(false))
        prior = prior || here
        here
      }
    }
    // the catch-alls are unreachable: matched/bySource/insertCs are
    // pre-filtered by the collects above — stated so the compiler's
    // exhaustiveness check stays useful elsewhere
    val mFlags = applyFlags(matched.map {
      case WhenMatchedUpdateAll(c) => c
      case WhenMatchedUpdate(_, c) => c
      case WhenMatchedDelete(c) => c
      case other => sys.error(s"unreachable merge clause in matched: $other")
    }, isMatched)
    val sFlags = applyFlags(bySource.map {
      case WhenNotMatchedBySourceDelete(c) => c
      case WhenNotMatchedBySourceUpdate(_, c) => c
      case other => sys.error(s"unreachable merge clause in bySource: $other")
    }, !isMatched)
    val deleted = (matched.zip(mFlags).collect {
      case (_: WhenMatchedDelete, f) => f
    } ++ bySource.zip(sFlags).collect {
      case (_: WhenNotMatchedBySourceDelete, f) => f
    }).reduceOption(_ || _).getOrElse(lit(false))
    val updatedFlag = (matched.zip(mFlags).collect {
      case (_: WhenMatchedUpdateAll, f) => f
      case (_: WhenMatchedUpdate, f) => f
    } ++ bySource.zip(sFlags).collect {
      case (_: WhenNotMatchedBySourceUpdate, f) => f
    }).reduceOption(_ || _).getOrElse(lit(false))
    // per-column value with first-match folding (flags are mutually
    // exclusive — matched and by-source gates are disjoint and each
    // group is first-match within itself — so fold order only has to
    // respect clause order). An EVOLVING column's base is a typed NULL
    // (target rows don't carry it yet) and UPDATE SET * only feeds it
    // when the batch actually has the column.
    def valueOf(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
      val base: org.apache.spark.sql.Column =
        if (isNewField(f.name)) lit(null).cast(f.dataType)
        else col(s"`${f.name}`")
      (matched.zip(mFlags) ++ bySource.zip(sFlags))
        .foldRight(base) {
        case ((WhenMatchedUpdateAll(_), ap), acc) =>
          if (isNewField(f.name) &&
              !batch.columns.exists(_.equalsIgnoreCase(f.name))) acc
          else when(ap, col(pref + f.name).cast(f.dataType)).otherwise(acc)
        case ((WhenMatchedUpdate(sets, _), ap), acc) =>
          sets.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, v)) => when(ap, v.cast(f.dataType)).otherwise(acc)
            case None => acc
          }
        case ((WhenNotMatchedBySourceUpdate(sets, _), ap), acc) =>
          sets.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, v)) => when(ap, v.cast(f.dataType)).otherwise(acc)
            case None => acc
          }
        case (_, acc) => acc
      }
    }
    // source rows with no target match, routed to the FIRST insert
    // clause whose condition holds; explicit column lists project the
    // assigned values (cast to the target types — the OUTPUT schema's,
    // so an evolving column's values type consistently across clauses)
    // and unassigned target columns arrive as NULL via the union's
    // padding
    val unmatchedSrc = batch.join(
      cur.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
    // pad missing OUTPUT columns with typed NULLs (extra source columns
    // stay — additive schema evolution, same as the upsert path), so a
    // keys-only source or a partial insert list still speaks the
    // table's schema: an unassigned partition column then surfaces as
    // the clear NULL-partition refusal, not a resolution error
    def padToTarget(df: DataFrame): DataFrame =
      outFields
        .filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val inserts: DataFrame = padToTarget(
      if (insertCs.isEmpty) unmatchedSrc.limit(0)
      else {
        var prior: org.apache.spark.sql.Column = lit(false)
        insertCs.map { c =>
          val condC = coalesce((c match {
            case WhenNotMatchedInsertAll(cc) => cc
            case WhenNotMatchedInsert(_, cc) => cc
            case other => sys.error(s"unreachable merge clause in inserts: $other")
          }).getOrElse(lit(true)), lit(false))
          val here = !prior && condC
          prior = prior || condC
          val base = unmatchedSrc.filter(here)
          c match {
            case WhenNotMatchedInsertAll(_) => base
            case WhenNotMatchedInsert(sets, _) =>
              base.select(sets.map { case (n, v) =>
                val f = outFields.find(_.name.equalsIgnoreCase(n)).get
                v.cast(f.dataType).as(f.name)
              }.toIndexedSeq: _*)
            case other => sys.error(s"unreachable merge clause in inserts: $other")
          }
        }.reduce(_.unionByName(_, allowMissingColumns = true))
      })
    // touched partitions: where a clause fires on an existing row, or
    // where an insert lands — one column-pruned locate pass each
    val touched = partTuples(
      joined.filter(deleted || updatedFlag).select(partCols.map(col): _*)
        .unionByName(inserts.select(partCols.map(col): _*)))
    if (touched.isEmpty) return pm.version // nothing fired anywhere: no-op
    // WITH SCHEMA EVOLUTION: UPDATE SET * also carries NEW source
    // columns onto updated rows (non-updated survivors read them as
    // typed NULLs); without the flag, new source columns still join
    // the schema through inserts — the engine's always-on additive
    // evolution — but updated rows keep only the table's columns
    val updateAllAny = matched.zip(mFlags).collect {
      case (_: WhenMatchedUpdateAll, f) => f
    }.reduceOption(_ || _).getOrElse(lit(false))
    val evolvedCols =
      if (!evolveSchema) Seq.empty
      else batch.schema.fields
        .filterNot(f => cur.columns.exists(_.equalsIgnoreCase(f.name)) ||
          isNewField(f.name)) // explicitly-assigned ones flow via valueOf
        .map(f => when(updateAllAny, col(pref + f.name))
          .otherwise(lit(null).cast(f.dataType)).as(f.name)).toSeq
    val survivors = joined.filter(inPartitions(touched)).filter(!deleted)
      .select(outFields.map(f => valueOf(f).as(f.name)).toSeq
        ++ evolvedCols: _*)
    val replacement = survivors.unionByName(inserts, allowMissingColumns = true)
    commit(pm, "merge", rewritePartitions(pm, touched,
      Some(writeData(replacement, pm.version + 1, pm))))
  }

  /** Row-level DELETE as ONE commit — `DELETE FROM t WHERE cond` with
    * history (the Iceberg capability behind the reference's row-level
    * deletes; its partition-scoped flavor is
    * `ingest_spark_bulk.py:71–81`). COPY-ON-WRITE scoped to touched
    * partitions, with a metadata-only fast path:
    *
    *  - partitions where EVERY row matches are masked out of their
    *    entries (the dynamic-overwrite mechanism) and move ZERO bytes —
    *    `DELETE WHERE month = 7` on a month-partitioned 100 TB table is
    *    pure metadata, exactly Iceberg's partition-aligned delete;
    *  - partitions with survivors are rewritten without the matching
    *    rows (one read+write of those partitions — the standard COW
    *    floor);
    *  - untouched partitions are untouched.
    *
    * Rows where `condition` is NULL are KEPT (delete only what provably
    * matches — the [[purge]] contract). A condition matching nothing is
    * a no-op: returns the current version, no empty commit. Older
    * versions still read the deleted rows (time travel; [[purge]] is
    * the history-wide erasure). Pending merge-on-read deletes carry
    * through for the untouched entries, same as [[commitMerge]]. */
  def commitDelete(condition: org.apache.spark.sql.Column): Int = {
    val pm = liveHead()
    val cur = snapshot(pm)
    val cond = coalesce(condition, lit(false))
    // touched partitions: one column-pruned pass (the scan reads only
    // partCols + the condition's columns), driver holds partition
    // tuples; NULL partition values among the matches are refused
    // (partTuples) — a null-partition mask would silently lose the
    // partition's NON-matching rows
    val profile = partTuples(cur.filter(cond))
    if (profile.isEmpty) return pm.version // nothing matches: no-op, no commit
    val kept = cur.filter(inPartitions(profile)).filter(!cond)
    // partitions with survivors need the rewrite; fully-deleted ones
    // are metadata-only (mask, no bytes moved)
    val partial = partTuples(kept)
    commit(pm, "delete", rewritePartitions(pm, profile,
      if (partial.isEmpty) None // whole partitions gone: zero data movement
      else Some(writeData(kept.filter(inPartitions(partial)), pm.version + 1, pm))))
  }

  /** Row-level UPDATE as ONE commit — `UPDATE t SET col = expr, ...
    * WHERE cond` with history: the third row-DML verb of the
    * Iceberg/Delta capability set the reference inherits (alongside
    * [[commitDelete]] and [[commitMerge]]; the capability class behind
    * `ingest_spark_bulk.py:71–81`'s row-level ops). COPY-ON-WRITE
    * scoped to touched partitions via [[commitDelete]]'s partition-
    * profile machinery: one column-pruned locate pass (partition
    * columns + the condition's columns — the scan prunes to those),
    * then a read+write of ONLY the partitions holding matching rows,
    * with the SET applied to matching rows and survivors carried
    * unchanged. Unlike DELETE there is no metadata-only shortcut — an
    * update never empties a partition, so every touched partition is
    * rewritten (the standard COW UPDATE floor); untouched partitions
    * move zero bytes.
    *
    * SQL UPDATE semantics throughout: every assignment's right-hand
    * side reads the PRE-update row (`SET a = b, b = a` swaps), each
    * assignment is cast to its column's existing type (the
    * Delta/Iceberg implicit cast — the table's schema never drifts
    * from an UPDATE), rows where `condition` is NULL are KEPT
    * UNCHANGED (update only what provably matches — the
    * [[commitDelete]]/[[purge]] contract), and a condition matching
    * nothing is a no-op: returns the current version, no empty commit.
    * An assignment may change PARTITION columns — the row's old
    * partition is in the touched profile (it held the matching row)
    * and the rewrite lands the row under its new partition values
    * inside the replacement dir, so moves compose with the masking
    * exactly as [[commitMerge]]'s moved keys do. Older versions still
    * read the pre-update rows (time travel); pending merge-on-read
    * deletes carry through for untouched entries, same as
    * [[commitMerge]]. */
  def commitUpdate(condition: org.apache.spark.sql.Column,
                   assignments: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    require(assignments.nonEmpty, "commitUpdate needs at least one SET assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      s"duplicate SET column among (${assignments.map(_._1).mkString(", ")})")
    val pm = liveHead()
    val cur = snapshot(pm)
    val byName = assignments.toMap
    assignments.foreach { case (c, _) =>
      require(cur.columns.contains(c),
        s"SET column '$c' is not a column of the table at $root " +
          s"(columns: ${cur.columns.mkString(", ")})")
    }
    val cond = coalesce(condition, lit(false))
    val profile = partTuples(cur.filter(cond))
    if (profile.isEmpty) return pm.version // nothing matches: no-op, no commit
    // one select over the touched rows: every assignment RHS resolves
    // against the ORIGINAL columns (pre-update row), matching rows take
    // the cast assignment, survivors pass through — column order and
    // names preserved, so the replacement dir's schema is the table's
    val updated = cur.filter(inPartitions(profile)).select(cur.schema.fields.map { f =>
      byName.get(f.name)
        .map(a => when(cond, a.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    }.toIndexedSeq: _*)
    commit(pm, "update", rewritePartitions(pm, profile,
      Some(writeData(updated, pm.version + 1, pm))))
  }

  /** MERGE-ON-READ row-level DELETE — the predicate itself IS the
    * commit: one `pdelete` manifest line carrying the condition's SQL,
    * zero data movement, O(metadata) cost regardless of how many rows
    * match (the other side of [[commitDelete]]'s COW trade-off, exactly
    * the [[commitMerge]]/[[commitMergeMor]] pair's shape). Reads
    * suppress matching rows in the pre-delete entries at query time —
    * a codegen'd row filter, cheaper than the key-frame anti-join —
    * until [[commitCompact]]/[[commitCompactZ]] materializes the state
    * and clears the debt. Positional scoping (`appliesTo` = entry count
    * now) keeps later-appended rows visible even if they match the
    * predicate: the delete speaks only about data that existed when it
    * was committed, which is what DELETE means. NULL-condition rows are
    * kept. The condition must be expressible/round-trippable as SQL
    * over the table's columns (checked at commit time, fail-fast). */
  def commitDeleteMor(condition: org.apache.spark.sql.Column): Int = {
    val m = liveHead()
    // render the condition to SQL by ANALYZING it against the current
    // state and taking the resolved Filter's condition — one step both
    // fail-fasts (an unresolvable predicate dies here, at commit, not
    // on every future read) and yields canonical, re-parseable SQL.
    // Analysis only; nothing executes.
    val analyzed = snapshot(m).filter(condition).queryExecution.analyzed
    val sql = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
    }.getOrElse(sys.error("delete predicate did not analyze to a Filter"))
    require(!sql.exists(c => c == '\n' || c == '\r'),
      s"delete predicate renders to multi-line SQL (unsupported): $sql")
    // the round trip must PARSE too (sql -> expr is the read path)
    expr(sql)
    commit(m, "delete_mor",
      m.copy(predDeletes = m.predDeletes :+ PredDelete(sql, m.entries.size)))
  }

  /** Append-only incremental read: the rows INSERTED between `fromV`
    * and `toV`, read from the appended data dirs alone — O(new data),
    * never a diff of two full versions (the scale path [[changelog]]
    * cannot offer: its `exceptAll` reads both versions end to end,
    * which for a daily append on a 100 TB table means two full scans
    * to discover one day's rows). Every commit on the `fromV → toV`
    * chain must be APPEND-SHAPED — the parent's entries appear
    * unchanged (same dirs, same masks) as a prefix of the child's —
    * which holds for [[commitAppend]], [[commitAppendClustered]], and
    * [[publishStaged]]; any overwrite/merge/rollback/compact commit in
    * between fails loudly with a pointer at [[changelog]] (refusing
    * beats silently wrong increments). Chain walk is O(commits)
    * metadata reads; expired intermediate manifests fail loudly. */
  def appendsBetween(fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    parse(fromV) // must still exist — anchors the walk
    var v = toV
    var newDirs = List.empty[Entry]
    while (v != fromV) {
      val m = parse(v)
      require(m.parent >= fromV,
        s"v$fromV is not an ancestor of v$toV (chain jumps to v${m.parent})")
      val pm = parse(m.parent)
      val pEntries = pm.entries
      require(m.entries.take(pEntries.size) == pEntries &&
          m.deletes == pm.deletes && m.predDeletes == pm.predDeletes,
        s"v$v (op=${m.op}) is not an append commit — its parent's entries " +
          "or merge-on-read deletes changed (overwrite/merge/rollback/compact " +
          "in the chain); use changelog() for general version diffs")
      newDirs = m.entries.drop(pEntries.size).toList ++ newDirs
      v = m.parent
    }
    require(newDirs.nonEmpty, s"no data appended between v$fromV and v$toV")
    // fold under the END version's column mapping, from each dir's own
    // recorded era (the op list only grows along a valid append chain,
    // so toV's list extends every appended dir's)
    val tm = parse(toV)
    snapshot(tm.copy(entries = newDirs, deletes = Seq.empty, predDeletes = Seq.empty))
  }

  /** Run a commit with bounded conflict retries — the loser's side of
    * the optimistic protocol. `attempt` is any commit call on this
    * table (it re-reads CURRENT on every evaluation, so each retry
    * targets a fresh version). On [[SnapshotConflictException]] the
    * helper first runs [[repair]] — the loser can only make progress
    * once CURRENT advances past the contested version, and a winner
    * that CRASHED between manifest create and pointer flip never
    * advances it; repair finishes that flip — then backs off and
    * retries. Two live writers therefore both land (v+1 and v+2), and
    * a crashed winner's durable commit is finished rather than fought.
    * Exhausting `maxAttempts` rethrows the last conflict. */
  def commitWithRetry(maxAttempts: Int = 5)(attempt: => Int): Int = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var n = 0
    while (true) {
      try return attempt
      catch {
        case e: SnapshotConflictException =>
          n += 1
          if (n >= maxAttempts) throw e
          repair()
          Thread.sleep(math.min(5L << n, 200L)) // capped exponential backoff
      }
    }
    -1 // unreachable
  }

  /** Snapshot-native compaction (Iceberg's `rewrite_data_files`, the
    * maintenance op the reference gets from its catalog,
    * `trino/catalog/iceberg.properties:13–14`): ONE new commit whose
    * single entry is the CURRENT state rewritten into a range-clustered
    * dir with its commit-time stats index. Without it, a table taking
    * daily [[commitAppend]]s accumulates one data dir per commit
    * forever — a year of appends makes every read a 365-way union with
    * per-dir partition discovery; after compaction the read is one
    * clustered dir and [[readSkipping]] prunes files on `clusterCol`.
    * History is PRESERVED: pre-compaction versions stay time-travelable
    * until [[expire]] reclaims their dirs (the old dirs are untouched —
    * compaction rewrites no history, it adds a commit). Exclusion masks
    * are folded in (the rewrite materializes the masked state), so the
    * compacted entry carries none. An ordinary optimistic commit: safe
    * under concurrency via create-exclusive, no table lock needed.
    * Cost: one read+write of the live bytes — the same floor as any
    * engine's rewrite_data_files. */
  def commitCompact(clusterCol: String, nFiles: Int = 8): Int = {
    val pm = liveHead()
    // full rewrite materializes the column mapping → clear the history
    commit(pm, "compact", pm.copy(
      entries = Seq(writeClustered(snapshot(pm), pm.version + 1, pm, clusterCol, nFiles)),
      deletes = Seq.empty, predDeletes = Seq.empty, colOps = Seq.empty))
  }

  /** Plain bin-packing compaction (Delta's clause-less `OPTIMIZE`): the
    * CURRENT state rewritten into ONE hive-partitioned data dir — no
    * re-clustering, just the small-files debt paid down. A table taking
    * per-micro-batch [[commitAppend]]s accumulates one dir (and at
    * least one file per touched partition) per commit; this folds them
    * — and any exclusion masks / MOR delete debt — into a single entry
    * whose layout matches a fresh [[commitOverwrite]], so partition
    * pruning and the one-file-per-partition write shape are restored.
    * History preserved, ordinary optimistic commit, cost = one
    * read+write of the live bytes (the rewrite_data_files floor). Use
    * [[commitCompact]]/[[commitCompactZ]] instead when reads filter on
    * non-partition columns and deserve a stats-indexed clustering. */
  def commitCompactFiles(): Int = {
    val pm = liveHead()
    // full rewrite materializes the column mapping (the rewrite reads
    // the FOLDED current state, so files land under logical names) →
    // clear the history, restoring the fast path and freeing retired
    // names for reuse
    commit(pm, "compact", pm.copy(
      entries = Seq(Entry(writeData(snapshot(pm), pm.version + 1, pm), Set.empty)),
      deletes = Seq.empty, predDeletes = Seq.empty, colOps = Seq.empty))
  }

  /** PARTITION-SCOPED bin-packing compaction (Delta's `OPTIMIZE ...
    * WHERE`): rewrite ONLY the partitions matching a partition-column
    * predicate, mask them out of the older entries, leave everything
    * else untouched — at 100 TB "compact the hot month the streaming
    * sink fragmented" must not cost a full-table rewrite. The predicate
    * is REQUIRED to reference partition columns only (checked against
    * the analyzed condition's references, fail-fast): a row-level
    * predicate would force a full locate scan just to choose
    * partitions — the caller should say which partitions they mean.
    * Rows in the rewritten partitions materialize any pending MOR
    * delete debt (the rewrite reads the current state); untouched
    * entries keep their positional-scoped deletes — same carry rules
    * as [[commitUpdate]]. A predicate matching no partitions is a
    * no-op (current version, no empty commit). */
  def commitCompactFilesWhere(condition: org.apache.spark.sql.Column): Int = {
    val pm = liveHead()
    val cur = snapshot(pm)
    val cond = coalesce(condition, lit(false))
    val refs = cur.filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSet
    }.getOrElse(Set.empty[String])
    require(refs.nonEmpty && refs.subsetOf(partCols.toSet),
      s"scoped compaction takes a PARTITION predicate over " +
        s"(${partCols.mkString(", ")}); got columns (${refs.toSeq.sorted.mkString(", ")})")
    val profile = partTuples(cur.filter(cond))
    if (profile.isEmpty) return pm.version // nothing to compact: no-op
    commit(pm, "compact", rewritePartitions(pm, profile,
      Some(writeData(cur.filter(inPartitions(profile)), pm.version + 1, pm))))
  }

  /** Multi-dimensional snapshot compaction — Delta's `OPTIMIZE ZORDER
    * BY` over the versioned table: the CURRENT state rewritten into ONE
    * Z-ordered dir ([[IncrementalWriter.overwriteZOrdered]]) carrying a
    * min/max stats index for EVERY cluster column, as one commit.
    * Where [[commitCompact]] makes one column's per-file ranges
    * disjoint (perfect pruning there, none elsewhere), the Z-curve
    * keeps every clustered column's per-file range narrow
    * (~n^(1/dims) of its domain), so [[readSkipping]] prunes files on
    * predicates over ANY of them — the layout a 100 TB table wants when
    * queries filter on more than one dimension. History preserved,
    * masks folded in, same optimistic commit as [[commitCompact]]. */
  def commitCompactZ(clusterCols: Seq[String], nFiles: Int = 8): Int = {
    val pm = liveHead()
    val dir = dataDirName(pm.version + 1)
    val dataP = new Path(dataDir, dir).toString
    val cur = snapshot(pm)
    IncrementalWriter.overwriteZOrdered(cur, dataP, clusterCols, nFiles, freshDir = true)
    writeSchemaSidecar(dir, cur.schema)
    enforceConstraints(dir, pm.constraints)
    clusterCols.foreach(c => graft.sources.DataSkipping.buildStats(
      spark, dataP, c, statsPath(dir, c).toString))
    // full rewrite materializes the column mapping → clear the history
    commit(pm, "compact_z", pm.copy(entries = Seq(Entry(dir, Set.empty)),
      deletes = Seq.empty, predDeletes = Seq.empty, colOps = Seq.empty))
  }

  // ---- clustered commits with a commit-time stats index (the
  // Iceberg-style composition of the two metadata pieces this engine
  // ships separately: snapshot versioning over immutable data dirs +
  // file-level min/max skipping). Each clustered commit range-clusters
  // its data dir on `clusterCol` (disjoint per-file ranges — the
  // skipping precondition) and builds the per-file (min, max) index for
  // that dir WHILE the rows are hot, so every later read prunes files
  // at planning time without a separate index build. Clustered and
  // hive-partitioned commit styles are alternatives, not mixable: the
  // clustered layout has no partition directories for
  // commitOverwritePartitions' exclusion masks to name. ----

  /** A dir's stats-index directory. Borrowed (shallow-clone) dirs map
    * into the SOURCE table's `_stats`, so a clone reuses every index
    * the source already built — read-only reuse; a clone never writes
    * there ([[buildStatsIndex]] skips borrowed dirs). */
  private def statsDirPath(dir: String): Path = {
    val p = new Path(dir)
    if (p.isAbsolute) new Path(new Path(p.getParent.getParent, "_stats"), p.getName)
    else new Path(statsDir, dir)
  }

  private def statsPath(dir: String, column: String): Path =
    new Path(statsDirPath(dir), column)

  /** Full-table clustered snapshot: data range-clustered on
    * `clusterCol` into `nFiles` disjoint-range files + the dir's stats
    * index, one commit. */
  def commitOverwriteClustered(df: DataFrame, clusterCol: String,
                               nFiles: Int = 8): Int = {
    val pm = headOf(Main)
    commit(pm, "overwrite_clustered", pm.copy(
      entries = Seq(writeClustered(df, pm.version + 1, pm, clusterCol, nFiles)),
      deletes = Seq.empty, predDeletes = Seq.empty))
  }

  /** Append a clustered data dir (its own stats index) to the current
    * snapshot's entries. */
  def commitAppendClustered(df: DataFrame, clusterCol: String,
                            nFiles: Int = 8): Int = {
    val pm = headOf(Main)
    commit(pm, "append_clustered", pm.copy(entries =
      pm.entries :+ writeClustered(df, pm.version + 1, pm, clusterCol, nFiles)))
  }

  private def writeClustered(df0: DataFrame, version: Int, gate: Manifest,
                             clusterCol: String, nFiles: Int): Entry = {
    val df = conform(df0, gate.colOps, "clustered commit")
    val dir = dataDirName(version)
    val dataP = new Path(dataDir, dir).toString
    IncrementalWriter.overwriteClustered(df, dataP, clusterCol, nFiles, freshDir = true)
    writeSchemaSidecar(dir, df.schema)
    enforceConstraints(dir, gate.constraints)
    graft.sources.DataSkipping.buildStats(spark, dataP, clusterCol,
      statsPath(dir, clusterCol).toString)
    Entry(dir, Set.empty)
  }

  /** Read the CURRENT snapshot through each data dir's stats index:
    * predicates on `clusterCol` prune non-overlapping files per dir at
    * planning time, before any footer opens — the versioned-table read
    * path a selective query wants at 100 TB. A dir committed without a
    * `clusterCol` index reads plain (conservative); partition-exclusion
    * masks (dynamic-overwrite history) are applied per dir exactly as
    * [[readVersion]] applies them, so the two commit styles COMPOSE:
    * a hive-partitioned table indexed post-hoc by [[buildStatsIndex]]
    * prunes files AND honors its masks. Results always equal
    * [[read]]'s. */
  def readSkipping(clusterCol: String): DataFrame =
    readSkippingVersion(
      currentVersion.getOrElse(sys.error(s"no snapshot at $root")), clusterCol)

  /** Time-traveled skipping read: [[readSkipping]] against snapshot
    * `v` — stats indexes live per immutable data dir, so every retained
    * version prunes with the same indexes its dirs were committed (or
    * post-hoc built) with. */
  def readSkippingVersion(v: Int, clusterCol: String): DataFrame =
    snapshot(parse(v), Some(clusterCol))

  /** Build the per-file min/max stats index on `column` for every data
    * dir of the CURRENT snapshot that lacks one — the post-hoc indexing
    * path for hive-partitioned commit styles ([[commitAppend]],
    * [[commitOverwritePartitions]]), whose writers don't range-cluster
    * and so can't build the index at commit time the way clustered
    * commits do. Data dirs are IMMUTABLE, so an index built once stays
    * valid for every version referencing the dir; later commits' new
    * dirs read plain until indexed (conservative). Pruning power over a
    * non-clustered dir depends on how `column` correlates with file
    * layout (per-partition files prune perfectly on columns aligned
    * with the partitioning; random layouts prune little) — correctness
    * never depends on it. One scan per missing dir; returns how many
    * indexes were built. */
  def buildStatsIndex(column: String): Int = {
    val m = parse(currentVersion.getOrElse(sys.error(s"no snapshot at $root")))
    // borrowed (shallow-clone) dirs are skipped rather than indexed:
    // building would write into the SOURCE table's _stats, and borrowed
    // dirs are read-only by contract — a clone that wants indexes on
    // its own terms localizes first (commitCompactFiles)
    val missing = m.entries.map(_.dir).distinct.filterNot(isBorrowed)
      .filterNot(d => fs.exists(statsPath(d, column)))
    missing.foreach { d =>
      graft.sources.DataSkipping.buildStats(spark,
        dirPath(d).toString, column, statsPath(d, column).toString)
    }
    missing.size
  }

  // ---- write–audit–publish (the Iceberg WAP workflow): a batch lands
  // in `_data` with NO manifest referencing it — invisible to every
  // reader — gets audited as the WOULD-BE table state, and only then
  // becomes a commit. A failed audit is discarded with
  // [[abandonStaged]]; maintenance ([[vacuum]]/[[expire]]) deliberately
  // SKIPS `w_*` dirs, so a concurrently-running cleanup can never
  // destroy a batch mid-audit (Iceberg WAP snapshots likewise live in
  // table metadata and survive maintenance). ----

  /** Stage an append invisibly: the data dir is written (partitioned,
    * same layout as a real append) but referenced by nothing. `name`
    * keys the staged dir (`w_<name>`); staging an existing name fails
    * loudly (parquet errorifexists) rather than silently merging. */
  def stageAppend(df0: DataFrame, name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"stage name must be [A-Za-z0-9_]+: '$name'")
    val gate = headOf(Main)
    val df = conform(df0, gate.colOps, "stage")
    val dir = s"w_$name"
    WriteDistribution.freshDir(WriteDistribution.byPartition(df, partCols))
      .partitionBy(partCols: _*).parquet(new Path(dataDir, dir).toString)
    writeSchemaSidecar(dir, df.schema)
    enforceConstraints(dir, gate.constraints)
    dir
  }

  /** The would-be state if `stagedDir` published now: current snapshot
    * plus the staged rows — what the audit step queries. Readable even
    * before any commit exists (a first-load audit). */
  def readWithStaged(stagedDir: String): DataFrame = {
    // the staged dir joins as the last entry, written under the current
    // column mapping (stageAppend conforms it) and after every pending
    // delete's scope — exactly what publishStaged would commit
    val m = currentVersion.fold(emptyHead)(parse(_))
    snapshot(m.copy(entries = m.entries :+ Entry(stagedDir, Set.empty, m.colOps.size)))
  }

  /** Publish a staged dir as a real append commit — zero data movement
    * (the bytes are already in `_data`); the manifest flip is the only
    * thing the audit gate defers. The stage was gated against the head
    * at staging time, so the head it publishes on gates it again: a
    * rename, drop or widening since then refuses a stage whose schema
    * sidecar still carries the retired name or the narrower type, and
    * a CHECK added since then refuses a stage holding a violating row.
    * A refusal writes nothing and leaves the stage pending
    * ([[abandonStaged]] discards it). */
  def publishStaged(stagedDir: String): Int = {
    require(fs.exists(new Path(dataDir, stagedDir)),
      s"no staged dir '$stagedDir' under $dataDir (abandoned or never staged)")
    val pm = headOf(Main)
    require(!pm.entries.exists(_.dir == stagedDir), s"'$stagedDir' is already published")
    if (pm.colOps.nonEmpty) {
      val staged = readDir(stagedDir)
      require(conform(staged, pm.colOps, "publish").schema == staged.schema,
        s"publish refused: '$stagedDir' was staged before a widening of one " +
          "of its columns and holds the narrower type — abandon it and " +
          "stage the batch again")
    }
    violation(stagedDir, pm.constraints).foreach(v =>
      throw new IllegalArgumentException(s"publish refused: $v — " +
        s"'$stagedDir' stays staged (abandonStaged discards it)"))
    commit(pm, "publish_append",
      pm.copy(entries = pm.entries :+ Entry(stagedDir, Set.empty)))
  }

  // ---- CHECK constraints (Delta's table constraints, over the
  // manifest protocol): named boolean predicates every NEW data dir
  // must satisfy before its commit publishes. Versioned WITH the
  // table — the set rides each manifest and carries forward
  // automatically through every commit, so time travel shows each
  // version under its own era's constraints and expire needs no side
  // store. Table-wide, like Iceberg schema metadata: the set lives on
  // the MAIN lineage (branch manifests don't carry it) and branch
  // writes are gated by main's current set at write time, so a
  // fast-forward can never publish rows main's constraints refuse.
  // SQL-standard CHECK semantics: a row violates only when the
  // predicate is provably FALSE — NULL passes (write NOT NULL as
  // `c IS NOT NULL`). Enforcement reads back the JUST-WRITTEN dir,
  // pruned to the predicate's columns: it never re-runs the caller's
  // upstream plan (no recompute/double-execution hazard) and never
  // scans old data — at 100 TB a constrained daily append validates
  // one day's new files, not the table. ----

  /** The current version's constraints, `(name, CHECK sql)`. */
  def constraints: Seq[(String, String)] =
    currentVersion.map(parse(_).constraints).getOrElse(Seq.empty)

  /** Add a named CHECK constraint — one commit. The predicate is
    * analyzed against the current schema (unresolvable CHECKs die
    * here, not on every future write) and EXISTING data must already
    * satisfy it (Delta's ADD CONSTRAINT contract: otherwise the new
    * version would both declare and violate the constraint); the
    * validation scan prunes to the predicate's columns. */
  def addConstraint(name: String, checkSql: String): Int = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+: '$name'")
    val m = liveHead()
    require(!m.constraints.exists(_._1 == name),
      s"constraint '$name' already exists on $root (drop it first)")
    val cur = snapshot(m)
    // canonicalize exactly as MOR predicate deletes do: analyze, take
    // the resolved Filter's condition, require single-line, re-parse
    val analyzed = cur.filter(expr(checkSql)).queryExecution.analyzed
    val sql = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
    }.getOrElse(sys.error("CHECK predicate did not analyze to a Filter"))
    require(!sql.exists(c => c == '\n' || c == '\r'),
      s"CHECK predicate renders to multi-line SQL (unsupported): $sql")
    expr(sql)
    val bad = cur.filter(expr(sql) === lit(false)).limit(1).collect()
    require(bad.isEmpty,
      s"cannot add constraint '$name': existing rows violate CHECK ($sql), " +
        s"e.g. ${bad.headOption.getOrElse("")}")
    commit(m, s"add_constraint_$name",
      m.copy(constraints = m.constraints :+ (name -> sql)))
  }

  /** Remove a named constraint — one commit; older versions keep it. */
  def dropConstraint(name: String): Int = {
    val m = liveHead()
    require(m.constraints.exists(_._1 == name),
      s"no constraint '$name' on $root " +
        s"(have: ${m.constraints.map(_._1).mkString(", ")})")
    commit(m, s"drop_constraint_$name",
      m.copy(constraints = m.constraints.filterNot(_._1 == name)))
  }

  // ---- column mapping (Delta's RENAME/DROP COLUMN without rewrite):
  // the manifest carries an ORDERED rename/drop history applied to
  // each data dir's physical schema at read time, so schema surgery on
  // a 100 TB table is one metadata commit — no data moves. Old dirs
  // keep their physical names; new writes use the current logical
  // names (and are refused if they reuse a retired name, which would
  // make the fold ambiguous). Time travel shows each version under its
  // own era's mapping. A full-rewrite compaction materializes the
  // mapping into the files and CLEARS the history, restoring the
  // format's single-scan fast path and freeing retired names. ----

  /** The current version's column-mapping history, oldest first. */
  def columnOps: Seq[SnapshotTable.ColOp] =
    currentVersion.map(parse(_).colOps).getOrElse(Seq.empty)

  /** Columns whose SQL text would make a rename/drop unsound: CHECK
    * constraints and retained MOR predicate deletes are stored as SQL
    * over the era's names and are NOT rewritten — refuse instead. */
  private def referencedByStoredSql(m: Manifest, colName: String): Boolean = {
    val cur = snapshot(m)
    (m.constraints.map(_._2) ++ m.predDeletes.map(_.sql)).exists { sql =>
      cur.filter(expr(sql)).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name).toSet
      }.getOrElse(Set.empty[String]).contains(colName)
    }
  }

  private def requireMappableColumn(m: Manifest, name: String,
                                    verb: String): Unit = {
    require(!partCols.contains(name),
      s"cannot $verb partition column '$name': the directory layout, " +
        "exclusion masks, and partition probes are keyed on it")
    require(m.deletes.forall(!_.keyCols.contains(name)),
      s"cannot $verb '$name': retained merge-on-read deletes key on it " +
        "(commitCompact to materialize the delete debt first)")
    require(!referencedByStoredSql(m, name),
      s"cannot $verb '$name': a CHECK constraint or retained predicate " +
        "delete references it (drop the constraint / compact the debt first)")
  }

  /** Rename a column — one metadata commit, zero data movement
    * (Delta's `RENAME COLUMN` under column mapping). The old name
    * becomes RETIRED: new writes may not use it until a full-rewrite
    * compaction clears the mapping history. */
  def renameColumn(from: String, to: String): Int = {
    Seq(from, to).foreach(n => require(
      n.nonEmpty && n.forall(c => c.isLetterOrDigit || c == '_'),
      s"column name must be [A-Za-z0-9_]+: '$n'"))
    val m = liveHead()
    val schema = snapshot(m).columns.toSet
    require(schema.contains(from), s"no column '$from' to rename " +
      s"(have: ${schema.toSeq.sorted.mkString(", ")})")
    require(!schema.contains(to),
      s"rename target '$to' already exists")
    requireMappableColumn(m, from, "rename")
    commit(m, s"rename_column_${from}_to_$to",
      m.copy(colOps = m.colOps :+ SnapshotTable.ColRename(from, to)))
  }

  /** Drop a column — one metadata commit, zero data movement (Delta's
    * `DROP COLUMN` under column mapping). The bytes stay in old files
    * (time travel still reads them; [[purge]]-grade physical erasure
    * needs compaction) and the name is RETIRED until a full-rewrite
    * compaction clears the history. */
  def dropColumn(name: String): Int = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"column name must be [A-Za-z0-9_]+: '$name'")
    val m = liveHead()
    val schema = snapshot(m).columns.toSet
    require(schema.contains(name), s"no column '$name' to drop " +
      s"(have: ${schema.toSeq.sorted.mkString(", ")})")
    require(schema.size > 1, "cannot drop the last data column")
    requireMappableColumn(m, name, "drop")
    commit(m, s"drop_column_$name",
      m.copy(colOps = m.colOps :+ SnapshotTable.ColDrop(name)))
  }

  /** Add a column explicitly — one metadata commit (`ALTER TABLE ...
    * ADD COLUMN`): every dir written before it reads the column as
    * typed NULLs; later writes carry real values. This is the
    * sanctioned way to RE-INTRODUCE a dropped name: the ordered,
    * era-scoped fold keeps old-era bytes hidden while the new column
    * starts fresh. (Plain additive evolution — just writing the new
    * column — still works too; ADD COLUMN makes the schema change a
    * committed, time-travelable event instead of a side effect.) */
  def addColumn(name: String, typeDdl: String): Int =
    addColumns(Seq(name -> typeDdl))

  /** Add SEVERAL columns as ONE metadata commit (the stock `ALTER TABLE
    * ... ADD COLUMNS (a int, b string)` shape): one manifest, N ColAdds
    * appended in order, a single era step — so N columns never cost N
    * commits or N read-fold eras. Same semantics per column as
    * [[addColumn]]. */
  def addColumns(cols: Seq[(String, String)]): Int = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    cols.foreach { case (name, _) =>
      require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
        s"column name must be [A-Za-z0-9_]+: '$name'")
    }
    require(cols.map(_._1.toLowerCase).distinct.size == cols.size,
      s"duplicate column among (${cols.map(_._1).mkString(", ")})")
    val m = liveHead()
    val cur = snapshot(m)
    cols.foreach { case (name, _) =>
      require(!cur.columns.contains(name), s"column '$name' already exists")
    }
    val adds = cols.map { case (name, typeDdl) =>
      SnapshotTable.ColAdd(name,
        org.apache.spark.sql.types.DataType.fromDDL(typeDdl).catalogString)
    }
    commit(m, s"add_column_${cols.map(_._1).mkString("_")}",
      m.copy(colOps = m.colOps ++ adds))
  }

  // ---- versioned table properties (Delta's TBLPROPERTIES as commit
  // metadata): free-form key→value pairs riding every manifest, so
  // properties are time-travelable with the data and expire needs no
  // side store. ----

  /** The current version's properties. */
  def properties: Map[String, String] =
    currentVersion.map(parse(_).properties.toMap).getOrElse(Map.empty)

  /** Upsert properties — one commit. */
  def setProperties(kvs: Seq[(String, String)]): Int = {
    require(kvs.nonEmpty, "setProperties needs at least one pair")
    kvs.foreach { case (k, v) =>
      require(k.nonEmpty && k.forall(c => c.isLetterOrDigit ||
          c == '_' || c == '.' || c == '-'),
        s"property key must be [A-Za-z0-9_.-]+: '$k'")
      require(!v.contains('|') && !v.exists(c => c == '\n' || c == '\r'),
        s"property value for '$k' may not contain '|' or newlines")
    }
    val m = liveHead()
    val merged = (m.properties.filterNot(p => kvs.exists(_._1 == p._1)) ++ kvs)
      .sortBy(_._1)
    commit(m, "set_properties", m.copy(properties = merged))
  }

  /** Remove properties — one commit; unknown keys refuse loudly. */
  def unsetProperties(keys: Seq[String]): Int = {
    require(keys.nonEmpty, "unsetProperties needs at least one key")
    val m = liveHead()
    val missing = keys.filterNot(k => m.properties.exists(_._1 == k))
    require(missing.isEmpty,
      s"no such propert${if (missing.size == 1) "y" else "ies"}: " +
        s"${missing.mkString(", ")} " +
        s"(have: ${m.properties.map(_._1).mkString(", ")})")
    commit(m, "unset_properties",
      m.copy(properties = m.properties.filterNot(p => keys.contains(p._1))))
  }

  /** Loss-free widenings by catalog type string — the closed set a
    * [[widenColumn]] will commit (Delta's type widening's numeric
    * core). Long→double is EXCLUDED: longs above 2^53 lose precision. */
  private val widenings: Map[String, Set[String]] = Map(
    "tinyint" -> Set("smallint", "int", "bigint", "double"),
    "smallint" -> Set("int", "bigint", "double"),
    "int" -> Set("bigint", "double"),
    "float" -> Set("double"))

  /** Widen a column's type in place — one metadata commit, zero data
    * movement (Delta's type widening over the manifest protocol): old
    * dirs read-CAST up through the column-mapping fold, new writes
    * land wide (narrow late arrivals still fold up — correct either
    * way). Only the loss-free [[widenings]] commit; anything else is
    * a rewrite the caller must do deliberately. Unlike rename/drop the
    * name is NOT retired. A full-rewrite compaction materializes the
    * wide type into the files and clears the mapping. */
  def widenColumn(name: String, toDdl: String): Int = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"column name must be [A-Za-z0-9_]+: '$name'")
    val m = liveHead()
    val cur = snapshot(m)
    require(cur.columns.contains(name), s"no column '$name' to widen " +
      s"(have: ${cur.columns.sorted.mkString(", ")})")
    require(!partCols.contains(name),
      s"cannot widen partition column '$name': partition values are " +
        "directory strings keyed on the writer's type rendering")
    val fromT = cur.schema(name).dataType.catalogString
    val toT = org.apache.spark.sql.types.DataType.fromDDL(toDdl).catalogString
    require(widenings.get(fromT).exists(_.contains(toT)),
      s"'$fromT' -> '$toT' is not a loss-free widening " +
        s"(allowed from '$fromT': ${widenings.getOrElse(fromT, Set.empty)
          .toSeq.sorted.mkString(", ")})")
    commit(m, s"widen_column_${name}_to_$toT",
      m.copy(colOps = m.colOps :+ SnapshotTable.ColWiden(name, toT)))
  }

  /** The first of `cons` that a row of data dir `dir` provably
    * violates, described with that row. Reads the written parquet back
    * pruned to each CHECK's columns; never re-executes the writer's
    * upstream plan. */
  private def violation(dir: String, cons: Seq[(String, String)]): Option[String] =
    if (cons.isEmpty) None
    else {
      val written = readDir(dir)
      cons.iterator.flatMap { case (name, sql) =>
        written.filter(expr(sql) === lit(false)).limit(1).collect().headOption
          .map(row => s"constraint '$name' CHECK ($sql) is violated, e.g. by row $row")
      }.nextOption()
    }

  /** Gate a just-written data dir on the gating manifest's constraints
    * `cons`: any provably-FALSE row deletes the dir and refuses the
    * commit before its manifest exists (nothing to roll back — the dir
    * was invisible). */
  private def enforceConstraints(dir: String, cons: Seq[(String, String)]): Unit =
    violation(dir, cons).foreach { v =>
      fs.delete(new Path(dataDir, dir), true)
      fs.delete(new Path(statsDir, dir), true)
      throw new IllegalArgumentException(s"commit refused: $v")
    }

  /** Metadata-only table detail (Delta's `DESCRIBE DETAIL`): the
    * CURRENT version's shape — entry/file/byte counts, partition
    * columns, constraints, and how many dirs are borrowed from a
    * shallow-clone source. One manifest parse + one recursive listing
    * per referenced dir, never a data scan — runnable on a 100 TB
    * table as cheaply as on a test fixture. */
  def detail: SnapshotTable.Detail = {
    val v = currentVersion.getOrElse(sys.error(s"no snapshot at $root"))
    val m = parse(v)
    var files = 0L
    var bytes = 0L
    m.entries.map(_.dir).distinct.foreach { d =>
      val p = dirPath(d)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) {
            files += 1; bytes += st.getLen
          }
        }
      }
    }
    SnapshotTable.Detail(root, v, m.ts, m.entries.size,
      m.entries.count(e => isBorrowed(e.dir)), files, bytes, partCols,
      m.constraints, m.properties, countFast.getOrElse(-1L),
      // REGISTERED lease files, no liveness probe: detail must stay
      // metadata-only and local — validating each lease means remote
      // exists()/listStatus() against every clone's filesystem, which
      // turns DESCRIBE DETAIL into a multi-minute stall when one is
      // unreachable. Stale leases (swept at the next maintenance
      // consultation) may inflate this count briefly.
      if (!fs.exists(borrowedByDir)) 0
      else fs.listStatus(borrowedByDir)
        .count(_.getPath.getName.endsWith(".txt")))
  }

  // ---- named refs (Iceberg tags): immutable name → version pointers,
  // retained through expire like Iceberg's ref-aware expire_snapshots.
  // Storage and arbitration live in the version pointer: TAG_ files
  // under create-exclusive in Fs mode, ref lines of the pointer value
  // under CAS in conditional-store mode — refs follow the commit point
  // onto the catalog, exactly where Iceberg keeps them (a CAS
  // deployment exists because the store has no create-exclusive, so a
  // ref FILE there would be the unsafe primitive the mode removes). ----

  private def tagRef(name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"tag name must be [A-Za-z0-9_]+: '$name'")
    s"tag/$name"
  }

  /** Pin `name` to an existing version. Tags are IMMUTABLE (re-tagging
    * an existing name fails — single-winner create, same authority as
    * the commit point); [[expire]] retains tagged versions. */
  def tag(name: String, v: Int): Unit = {
    parse(v) // must exist
    // single-winner create through the pointer's arbiter; only the
    // already-exists outcome means an immutability violation — a
    // genuine I/O failure propagates as itself from inside the create,
    // never masquerading as "tag exists"
    if (!vp.refCreate(tagRef(name), v.toString))
      throw new IllegalArgumentException(
        s"tag '$name' already exists (tags are immutable; pick a new name)")
  }

  /** Remove a tag, releasing its retention pin (Iceberg's
    * `remove_tag`): the next [[expire]] may reclaim the version the tag
    * protected. Immutability is about the POINTER, not the name's
    * lifetime — a live tag is never silently re-pointed; dropping and
    * re-creating is two loud, auditable operations (the re-create goes
    * through [[tag]]'s create-exclusive like any other). No-op if the
    * tag does not exist (idempotent, like DROP ... IF EXISTS). */
  def dropTag(name: String): Unit =
    vp.refDrop(tagRef(name))

  /** The version a tag pins, if the tag exists. */
  def resolveTag(name: String): Option[Int] =
    vp.refGet(tagRef(name)).map(_.trim.toInt)

  /** Time travel by name. */
  def readTag(name: String): DataFrame =
    readVersion(resolveTag(name)
      .getOrElse(sys.error(s"no tag '$name' at $root")))

  /** All tags, (name, version), sorted by name. */
  def tags: Seq[(String, Int)] =
    vp.refList().collect { case (n, v) if n.startsWith("tag/") =>
      (n.stripPrefix("tag/"), v.trim.toInt) }.sortBy(_._1)

  // ---- branches (Iceberg branch refs): MOVABLE named lineages over
  // the same immutable data dirs — the complement of tags (immutable
  // pointers). A branch forks from a main version and takes its own
  // commits — append, dynamic partition overwrite, and COW merge, the
  // full multi-batch-load write surface. Main is just another ref
  // ([[Branch]]: `Main` or `Named(name)`): a branch commit runs the same
  // code as its main twin ([[commit]], [[successor]], the shared write
  // shapes), and the lineage it passes decides only which head the
  // commit reads ([[headOf]]) and which version namespace the pointer's
  // one publish arbitrates — the PER-BRANCH namespace gives branch
  // commits the same single-winner CAS as main commits with zero
  // version-number collisions against main. Data writes on a branch
  // conform to the branch head's column mapping and are gated by MAIN's
  // CHECK constraints ([[gateOf]]). Main never sees branch state until
  // [[fastForward]] publishes the branch head's entries as an ordinary
  // main commit — zero data movement, arbitrated by main's own CAS.
  // This is the mechanism behind branch-based WAP (`spark.wap.branch`):
  // stage a whole multi-commit load on a branch, audit readBranch,
  // publish or drop. Maintenance ([[expire]], [[vacuum]], [[purge]],
  // [[fsck]]) walks main and every branch through one retained-manifest
  // walk ([[retained]]), so branch-referenced dirs are live. Storage and
  // arbitration live in the version pointer (same seam as tags):
  // numbered create-exclusive files in Fs mode; attempt-unique chained
  // manifests with a CAS'd `branch/<name>` ref in conditional-store
  // mode. ----

  /** All branches, (name, head branch-version), sorted by name. */
  def branches: Seq[(String, Int)] =
    vp.branchList().flatMap(n => branchHead(n).map(n -> _))

  /** Fork a branch from main version `fromV`. Exactly one of N
    * concurrent creators wins (single-winner publish through the
    * pointer's arbiter — the tag primitive); the fork point is
    * recorded in the first branch manifest's op. */
  def createBranch(name: String, fromV: Int): Unit = {
    val m = parse(fromV) // must exist
    // the fork carries the fork point's schema metadata (column
    // mapping, constraints, properties), so a branch read folds old
    // dirs exactly as a main read of the fork version would — without
    // it a branch forked after a rename would surface PHYSICAL names
    if (!vp.publish(Named(name), 1,
        render(successor(emptyHead, s"branch_from_$fromV", m)).getBytes("UTF-8")))
      throw new IllegalArgumentException(
        s"branch '$name' already exists (drop it first or pick a new name)")
  }

  /** The branch's head (its newest branch-version), if it exists. */
  def branchHead(name: String): Option[Int] = vp.head(Named(name))

  /** The branch's current state. */
  def readBranch(name: String): DataFrame = snapshot(headOf(Named(name)))

  /** Append a batch to a branch — main is untouched; the branch head
    * advances. */
  def commitAppendToBranch(name: String, df: DataFrame): Int = {
    val b = Named(name)
    val pm = headOf(b)
    commit(pm, opOn(b, "append"), pm.copy(entries = pm.entries :+
      Entry(writeData(df, pm.version + 1, gateOf(b, pm)), Set.empty)), b)
  }

  /** Dynamic partition overwrite ON A BRANCH — the write shape a
    * branch-based WAP load actually needs when a partition re-arrives
    * mid-load (the same masking mechanism as
    * [[commitOverwritePartitions]], scoped to the branch lineage; main
    * never sees it until [[fastForward]]). */
  def commitOverwritePartitionsToBranch(name: String, df: DataFrame): Int =
    overwritePartitionsOn(Named(name), df)

  /** Copy-on-write MERGE (upsert by key) ON A BRANCH — completes the
    * branch write surface ([[commitMerge]] semantics against the
    * branch's state; same duplicate-key refusal). */
  def commitMergeToBranch(name: String, batch0: DataFrame,
                          keyCols: Seq[String]): Int =
    mergeOn(Named(name), batch0, keyCols, "commitMergeToBranch")

  /** Race-injection seam for the check→publish window of strict
    * [[fastForward]] — a no-op in production; tests override it to
    * interleave a main commit between the strictness check and the
    * publish and pin that the CAS (not the check) refuses. The window
    * is real under concurrency but nanoseconds wide, so only an
    * injected interleaving exercises it deterministically. */
  protected def raceWindowHook(): Unit = ()

  /** Test seam for [[commitAppend]]'s fast-append retry: runs between
    * the data write and the first commit attempt. */
  protected def appendRaceHook(): Unit = ()

  /** The branch's fork point against main: the newest `branch_from_<v>`
    * or `rebased_to_<v>` marker in its lineage — each [[fastForward]]
    * records the main version it published, so repeated branch → main
    * sync cycles on a KEPT branch check strictness against the version
    * they last synced to, not the original fork. */
  private def branchForkPoint(name: String): Int =
    vp.versions(Named(name)).reverseIterator
      .map(parse(_, Named(name)).op)
      .collectFirst {
        case op if op.startsWith("branch_from_") =>
          op.stripPrefix("branch_from_").toInt
        case op if op.startsWith("rebased_to_") =>
          op.stripPrefix("rebased_to_").toInt
      }
      .getOrElse(sys.error(s"branch '$name' has no fork marker at $root"))

  /** Publish the branch's state onto main as ONE ordinary commit, zero
    * data movement (the dirs are already in `_data`). `strict` (the
    * default, Iceberg's fast-forward contract) refuses when main moved
    * past the branch's fork point — publishing would silently discard
    * main's newer commits from the CURRENT state (they stay
    * time-travelable, but that is rollback semantics, which a caller
    * must opt into with `strict = false`). Returns the new main
    * version. The branch is left intact ([[dropBranch]] when done) and
    * its fork point ADVANCES: a `rebased_to_<newMain>` marker lands in
    * the branch lineage, so the next strict fast-forward on the kept
    * branch checks against the version this publish created — repeated
    * branch → main sync cycles need no drop+recreate dance. (If a
    * racing branch commit takes the marker's slot, the marker is simply
    * skipped — the fork point stays put and the next strict publish
    * refuses conservatively; never unsafe.) */
  def fastForward(name: String, strict: Boolean = true): Int = {
    val bm = headOf(Named(name))
    // STRICT mode's CAS base is the CHECKED fork version, never a
    // re-read of CURRENT: commit()'s own contract says `parent` is the
    // head the state was computed against, and a re-read here would let
    // a main commit that interleaves between this check and the publish
    // become the base — the publish would then land on top of it and
    // silently roll it out of CURRENT state, the exact outcome strict
    // mode exists to refuse. With the checked head as the base, the
    // create-exclusive on fork+1 itself catches the interleaver
    // (SnapshotConflictException), closing the check→publish window.
    val main = headOf(Main)
    if (strict) {
      val fork = branchForkPoint(name)
      require(main.version == fork,
        s"fast-forward of '$name' refused: main moved v$fork -> v${main.version} " +
          "since the fork; rebase the branch or publish with strict = false " +
          "(rollback semantics for main's newer commits)")
      raceWindowHook()
    }
    // publish the BRANCH's state with its schema metadata: its entries'
    // op eras index into its colOps list, and the published state must
    // read on main exactly as it read on the branch (in strict mode
    // this equals the fork's = main's metadata anyway; under FORCE the
    // branch's wins, consistent with its rollback semantics)
    val newMain = commit(main, s"fast_forward_$name", bm)
    // advance the fork point: same state, marker op — a reader of the
    // branch sees identical state, and the marker's single-winner
    // publish is best-effort (a concurrent branch commit winning the
    // slot leaves the old fork point, which only REFUSES more — the
    // racing commit's rows were not in what main just received)
    vp.publish(Named(name), bm.version + 1,
      render(successor(bm, s"rebased_to_$newMain", bm)).getBytes("UTF-8"))
    newMain
  }

  /** Delete a branch's manifests. Its unpublished data dirs become
    * unreferenced debris that [[vacuum]] collects. */
  def dropBranch(name: String): Unit = vp.dropBranch(name)

  /** Main and every branch: the lineages maintenance walks. */
  private def lineages: Seq[Branch] = Main +: vp.branchList().map(Named(_))

  /** THE retained-manifest walk: lineage `b`'s retained manifests,
    * oldest first, each parsed once per call. Every maintenance op reads
    * main and each branch through it — a branch is a promise its state
    * stays readable until dropped, so its dirs are as live as main's. */
  private def retained(b: Branch): Seq[Manifest] = vp.versions(b).map(parse(_, b))

  /** Every lineage's retained manifests, main's first. */
  private def allRetained(): Seq[Manifest] = lineages.flatMap(retained)

  /** The data dirs a manifest references: entries and MOR key-delete
    * frames. */
  private def dirsOf(m: Manifest): Seq[String] =
    m.entries.map(_.dir) ++ m.deletes.map(_.dir)

  /** Whether a manifest references a dir borrowed from a shallow-clone
    * source. */
  private def borrows(m: Manifest): Boolean = dirsOf(m).exists(isBorrowed)

  /** Re-point the table at snapshot `v`'s state — a NEW commit with
    * `v`'s entries, zero data movement, history preserved. */
  def rollbackTo(v: Int): Int = {
    val m = parse(v) // throws if expired/never existed
    // RESTORE semantics (Delta's): the target version's WHOLE state
    // becomes current — its schema era (colOps), CHECK constraints,
    // and properties included, not just its data. Carrying the head's
    // metadata instead would show the restored rows under a schema
    // they never had (and readVersion of the new head would disagree
    // with readVersion of the restore target).
    commit(headOf(Main), s"rollback_to_$v", m)
  }

  // ---- reads ----

  /** The live snapshot. */
  def read(): DataFrame =
    readVersion(currentVersion.getOrElse(sys.error(s"no snapshot at $root")))

  /** Time travel: the table exactly as of version `v`. */
  def readVersion(v: Int): DataFrame = snapshot(parse(v))

  /** THE snapshot read selector — the Scala reads, the commit paths'
    * current-state reads and the `graft` format all resolve a manifest
    * to its scan here, from one [[SnapshotScanSpec]]: Left is the single
    * `FileSourceScanExec` relation [[graft.sources.GraftDataSource.fastIndex]]
    * builds (partition and min/max file pruning against the snapshot's
    * own listing, masks applied there); Right is the per-entry [[fold]],
    * only where that relation declines — pending merge-on-read deletes,
    * a column-mapping op the fold would change, flat or clustered dirs,
    * missing or non-additive sidecars. Both carry the fold's column
    * order: data columns in era order (the first entry's, then each
    * later era's new ones), then the partition columns — the hive-read
    * order a compacted table's one dir has, so compaction keeps it.
    * `skipOn` is [[readSkipping]]'s column. */
  private def scan(m: Manifest, skipOn: Option[String] = None)
      : Either[org.apache.spark.sql.execution.datasources.HadoopFsRelation, DataFrame] = {
    require(m.entries.nonEmpty, s"v${m.version} at $root is an empty snapshot")
    val spec = toScanSpec(m)
    graft.sources.GraftDataSource.fastIndex(spark, spec, partCols)
      .toLeft(fold(m, spec, skipOn))
  }

  private def snapshot(m: Manifest, skipOn: Option[String] = None): DataFrame =
    scan(m, skipOn).fold(spark.baseRelationToDataFrame, identity)

  /** One scan per data dir — plain under its recorded schema, or through
    * its stats index on `skipOn` when it has one — with masks, the
    * column-mapping fold and merge-on-read deletes applied, unioned by
    * name (typed-null padding, see [[IncrementalWriter.readMerged]]),
    * partition columns last. Each delete suppresses key matches only
    * in the entries that PRECEDED it (`appliesTo` — newer entries carry
    * the replacement rows); its key frame is built once per read and,
    * key-frame-sized, broadcasts under AQE until a compaction clears
    * the debt. */
  private def fold(m: Manifest, spec: SnapshotScanSpec,
                   skipOn: Option[String]): DataFrame = {
    // key frames fold too: a delete committed before a rename stores
    // its keys under the era's names; the anti-join must see them
    // under the same logical names as the data side
    val keyFrames = m.deletes.map(d =>
      d -> applyColOps(readDir(d.dir), opsSince(m, d.era)))
    val folded = m.entries.zip(spec.dirs).zipWithIndex.map { case ((e, d), i) =>
      val raw = skipOn.flatMap(c => d.stats.find(_._1 == c)) match {
        case Some((c, stats)) =>
          graft.sources.DataSkipping.read(spark, d.path, c, stats)
        case None => scanDir(d.path, d.schemaDdl)
      }
      val df = applyColOps(raw, opsSince(m, e.era))
      val masked = excludePred(e).fold(df)(p => df.filter(!p))
      val keyed = keyFrames.filter(_._1.appliesTo > i).foldLeft(masked) {
        case (acc, (k, keys)) => acc.join(keys, k.keyCols, "left_anti")
      }
      // predicate deletes are pure row filters (no join, no data dir):
      // codegen'd into the scan stage, and the NOT-coalesce keeps rows
      // where the predicate is NULL (delete only what provably matches)
      m.predDeletes.filter(_.appliesTo > i).foldLeft(keyed) { (acc, p) =>
        acc.filter(!coalesce(expr(p.sql), lit(false)))
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // a flat dir, a later era's new column or a key anti-join can put a
    // partition column before a data column
    val order = folded.columns.filterNot(partCols.contains) ++
      partCols.filter(folded.columns.contains)
    if (order.sameElements(folded.columns)) folded
    else folded.select(order.map(col): _*)
  }

  /** Apply the manifest's column-mapping history to one dir's frame:
    * each rename/drop fires only when the dir's PHYSICAL schema still
    * carries the old name — dirs written after the op already use the
    * current names and pass through untouched. Folding per-dir BEFORE
    * the union is what lets eras with different physical names align
    * under one logical schema. Pure projection: stays inside
    * whole-stage codegen, zero data movement. */
  private def applyColOps(df: DataFrame,
                          ops: Seq[SnapshotTable.ColOp]): DataFrame =
    ops.foldLeft(df) {
      case (d, SnapshotTable.ColRename(f, t)) if d.columns.contains(f) =>
        d.withColumnRenamed(f, t)
      case (d, SnapshotTable.ColDrop(n)) if d.columns.contains(n) => d.drop(n)
      case (d, SnapshotTable.ColWiden(n, t)) if d.columns.contains(n) &&
          d.schema(n).dataType.catalogString != t =>
        d.withColumn(n, col(n).cast(t))
      case (d, SnapshotTable.ColAdd(n, t)) if !d.columns.contains(n) =>
        d.withColumn(n, lit(null).cast(t))
      case (d, _) => d
    }

  /** The ops a dir written at `era` still needs folded (fresh, unstamped
    * era -1 behaves as 0 — all ops, each guarded by column presence). */
  private def opsSince(m: Manifest, era: Int): Seq[SnapshotTable.ColOp] =
    m.colOps.drop(math.max(era, 0))

  /** An entry's partition-exclusion mask as a predicate over the data
    * frame (disjunction of per-partition conjunctions), or None for an
    * unmasked entry. Sits on partition columns, so it prunes
    * directories at listing time on hive-layout dirs and degrades to a
    * row filter on clustered (flat) dirs, where the partition columns
    * are ordinary data columns. */
  private def excludePred(e: Entry): Option[org.apache.spark.sql.Column] =
    e.excluded.toSeq
      .map(vals => partCols.zip(vals)
        .map { case (c, x) => col(c).cast("string") === x }
        .reduce(_ && _))
      .reduceOption(_ || _)

  /** The newest commit (walking the parent chain back from CURRENT)
    * whose op tag satisfies `p`, as (version, op) — O(1) manifest reads
    * in the steady state where the matching commit is at or near the
    * head, which is the streaming-IVM high-water-mark probe's shape
    * (the IVM commit almost always IS the current commit). A chain
    * broken by an expired intermediate manifest falls back to one full
    * scan of the retained history (correct, never wrong — just the
    * O(versions) cost this walk exists to avoid). */
  def findLatestOp(p: String => Boolean): Option[(Int, String)] = {
    try {
      var v = currentVersion
      while (v.isDefined) {
        val m = parse(v.get)
        if (p(m.op)) return Some((m.version, m.op))
        if (m.parent <= 0) return None
        v = Some(m.parent)
      }
      None
    } catch {
      case _: java.io.FileNotFoundException =>
        history.reverseIterator
          .collectFirst { case (ver, op, _) if p(op) => (ver, op) }
    }
  }

  /** The newest version committed at or before `tsMillis` — timestamp
    * time travel's resolution step (Iceberg/Delta `TIMESTAMP AS OF`).
    * Manifests record their commit wall-clock (the `ts` line, stamped
    * since round 12 and PRESERVED through [[purge]]'s rewrites);
    * pre-stamp manifests fall back to file modification time, which is
    * best-effort (a purge rewrite refreshes it). None if the table has
    * no commit that old. O(retained versions) metadata reads. */
  def versionAt(tsMillis: Long): Option[Int] =
    retained(Main).filter(commitTimeOf(_) <= tsMillis).map(_.version).maxOption

  /** Time travel by wall-clock: the table as of `tsMillis`. */
  def readAsOf(tsMillis: Long): DataFrame =
    readVersion(versionAt(tsMillis).getOrElse(sys.error(
      s"no snapshot at $root committed at or before $tsMillis")))

  /** Change-data capture between two snapshots: every row of `toV` not
    * in `fromV` as an `insert`, every row of `fromV` not in `toV` as a
    * `delete` (Iceberg's incremental-read / changelog surface — what a
    * downstream consumer tails instead of re-reading the table).
    * MULTISET semantics via `exceptAll`: duplicate rows diff by count,
    * and an unchanged row never appears. Both versions must share a
    * schema (align evolved versions first). Scale shape: each direction
    * is one hash-aggregation shuffle over the version pair — no join
    * blowup, no key assumptions. */
  def changelog(fromV: Int, toV: Int): DataFrame = {
    // across a column-mapping boundary the two versions' LOGICAL
    // schemas differ by name or type — a diff between them has no
    // well-defined row identity; refuse rather than emit a confusing
    // union/except type error (or silently wrong casts)
    require(parse(fromV).colOps == parse(toV).colOps,
      s"changelog across a column rename/drop/widen boundary " +
        s"(v$fromV vs v$toV) is not supported — diff within one schema " +
        "era, or compact first")
    val a = readVersion(fromV)
    val b = readVersion(toV)
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"changelog needs a shared schema between v$fromV and v$toV")
    b.exceptAll(a.select(b.columns.map(col).toIndexedSeq: _*)).withColumn("op", lit("insert"))
      .unionByName(
        a.exceptAll(b.select(a.columns.map(col).toIndexedSeq: _*)).withColumn("op", lit("delete")))
  }

  /** CDC consumer — the downstream-materialization side of the
    * [[changelog]] contract: applying `changelog(from, to)` to
    * `readVersion(from)` reproduces `readVersion(to)` as a multiset
    * (delete rows removed occurrence-for-occurrence via `exceptAll`,
    * insert rows appended). This is how a derived table at another
    * site/engine follows a snapshot table incrementally instead of
    * re-reading it. Two hash-agg shuffles (the exceptAll), one union. */
  def applyChangelog(base: DataFrame, log: DataFrame): DataFrame = {
    val cols = base.columns
    require(log.columns.contains("op"), "changelog frame must carry an op column")
    val del = log.filter(col("op") === "delete").select(cols.map(col).toIndexedSeq: _*)
    val ins = log.filter(col("op") === "insert").select(cols.map(col).toIndexedSeq: _*)
    base.exceptAll(del).unionByName(ins)
  }

  /** DESCRIBE HISTORY as a DataFrame — the metadata-introspection
    * surface (Delta's `DESCRIBE HISTORY`, Iceberg's snapshots table): one
    * row per retained snapshot with its op, parent, entry count, and
    * merge-on-read delete count (key-frame deletes + predicate deletes).
    * O(retained versions) metadata reads, no data scan. */
  def describeHistory(): DataFrame = {
    import spark.implicits._
    retained(Main)
      .map(m => (m.version, m.op, m.parent, m.entries.size,
        m.deletes.size + m.predDeletes.size))
      .toDF("version", "op", "parent", "n_entries", "n_deletes")
  }

  /** (version, op, parent) for every retained snapshot, oldest first. */
  def history: Seq[(Int, String, Int)] =
    retained(Main).map(m => (m.version, m.op, m.parent))

  /** Expire history: keep the newest `keepLast` snapshots, delete older
    * manifests and any data directory no retained snapshot references —
    * Iceberg's `expire_snapshots`, the operation that stops a daily
    * 100 TB pipeline's storage growing without bound. The live version
    * and every TAGGED version are always retained (Iceberg's ref-aware
    * expire: a tag is a promise the snapshot stays readable).
    *
    * NEVER-referenced dirs (no retained OR expired manifest names them)
    * are swept only when older than `olderThanMs` (default 1 h): every
    * commit writes its data dir BEFORE publishing its manifest, so a
    * LIVE writer's dir is, by definition, momentarily unreferenced — an
    * unguarded sweep would delete it and let the commit then publish a
    * manifest over missing data (the corruption only [[fsck]] would
    * catch). Dirs referenced by the EXPIRED manifests themselves carry
    * no such ambiguity (they were committed) and are reclaimed
    * immediately. Same retention idea as Iceberg's
    * `remove_orphan_files(older_than)` / Delta `VACUUM`'s window. */
  def expire(keepLast: Int,
             olderThanMs: Long = SnapshotTable.DefaultOrphanAgeMs): Unit = {
    require(keepLast >= 1, "keepLast must be >= 1")
    expireTo(olderThanMs)(_.map(_.version).takeRight(keepLast).toSet)
  }

  /** A manifest's commit wall-clock: its `ts` stamp, or its file
    * modification time for pre-stamp history (best-effort — a purge
    * rewrite refreshes mtime; stamped ts survives). */
  private def commitTimeOf(m: Manifest): Long =
    if (m.ts > 0) m.ts
    else fs.getFileStatus(vp.manifestPath(Main, m.version)).getModificationTime

  /** Age-based retention — Iceberg's `expire_snapshots(older_than)`:
    * expire every snapshot committed at or before `tsMillis`, keeping
    * the live version and every tagged version regardless (and
    * branch-referenced dirs, as always). The natural cron form of
    * [[expire]] now that manifests stamp their commit time: "retain 7
    * days of time travel" is one call with `now - 7d`, independent of
    * commit frequency. Same orphan-dir age guard. */
  def expireOlderThan(tsMillis: Long,
                      olderThanMs: Long = SnapshotTable.DefaultOrphanAgeMs): Unit =
    expireTo(olderThanMs)(_.filter(commitTimeOf(_) > tsMillis).map(_.version).toSet)

  /** The retention core: `keepBase` picks the versions to keep from
    * main's retained manifests (oldest first); the live version, tagged
    * versions and the head frontier are kept on top. One walk of every
    * lineage's retained manifests serves the whole call. */
  private def expireTo(olderThanMs: Long)(keepBase: Seq[Manifest] => Set[Int]): Unit = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    var ms = retained(Main)
    var cur = currentVersion.getOrElse(return)
    if (!ms.exists(_.version == cur)) {
      // CURRENT points at a version with no manifest: a delayed flip
      // regressed the pointer onto an expired slot (stress-fuzz
      // finding). Heal first — retention must never compute against a
      // phantom head (parsing it crashes; guessing around it could
      // delete live state).
      repair()
      ms = retained(Main)
      cur = currentVersion.getOrElse(return)
      require(ms.exists(_.version == cur),
        s"CURRENT v$cur has no manifest even after repair() at $root — " +
          "inspect fsck() before running retention")
    }
    val versions = ms.map(_.version)
    // keepBase/tag entries can reference phantoms too (a caller's cur
    // read raced the same window); keep decisions only over versions
    // that exist
    val keepR = (keepBase(ms) + cur ++ tags.map(_._2)).filter(versions.contains)
    // THE HEAD FRONTIER IS NEVER EXPIRABLE: a manifest numbered above
    // every kept version is either an in-flight commit inside its
    // create→flip window or a crashed winner awaiting repair()'s
    // promote — both look like "newest manifest, CURRENT still behind".
    // keepBase need not name them (an age cut stops below them), so
    // treating frontier versions as dead would delete a LIVE commit's manifest:
    // the publisher's flip then lands CURRENT on a phantom and every
    // subsequent commit fails parsing it (stress-fuzz finding).
    val keep0 = keepR ++ versions.filter(_ > keepR.max)
    // CAS mode resolves version → manifest file by walking the head's
    // parentfile chain, so retention must stay CONTIGUOUS from the head
    // down: expiring a MIDDLE version (possible when a tag pins
    // something older than the window) would strand every version below
    // the gap — the tag's "stays readable" promise silently broken, and
    // the orphan sweep would then collect the stranded manifests and
    // dirs as debris. A tag pinning an old version therefore pins
    // everything newer too (storage cost, never a correctness gap); Fs
    // mode resolves by fixed names and keeps the sparse retention.
    val keep =
      if (pointer.isDefined && keep0.nonEmpty)
        keep0 ++ versions.filter(_ >= keep0.min)
      else keep0
    val (kept, dead) = ms.partition(m => keep(m.version))
    // branch-referenced dirs are LIVE regardless of main retention, and
    // so are dirs a live shallow clone borrows — the lease back-pointer
    // is the clone's promise-of-need, held until it localizes or is
    // dropped
    val live = kept ++ vp.branchList().flatMap(n => retained(Named(n)))
    val referenced = live.flatMap(dirsOf).toSet ++ borrowedProtectedDirs()
    // committed-then-expired dirs: reclaimable with no age check — their
    // manifests prove no writer is mid-commit on them
    val deadReferenced = dead.flatMap(dirsOf).toSet -- referenced
    dead.foreach(m => vp.delete(m.version))
    val cutoff = System.currentTimeMillis() - olderThanMs
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { st =>
        val p = st.getPath
        // staged WAP dirs (`w_*`) are unreferenced BY DESIGN until
        // their publish — maintenance must not destroy a pending batch
        // mid-audit (Iceberg WAP snapshots likewise survive
        // maintenance); abandonStaged() is the deliberate discard
        if (!referenced(p.getName) && !p.getName.startsWith("w_") &&
            (deadReferenced(p.getName) || st.getModificationTime < cutoff)) {
          fs.delete(p, true)
          // a clustered dir's stats index dies with its data dir
          fs.delete(new Path(statsDir, p.getName), true)
        }
      }
    // if THIS table is a clone and this expire just retired its last
    // borrowing manifest (the localize recipe: commitCompactFiles +
    // expire), hand the borrowed dirs back to their owner's retention
    releaseIfLocalized(live)
  }

  /** Remove ORPHAN data directories — `_data/d*` dirs referenced by no
    * retained manifest, the debris a writer crashed between data write
    * and manifest create leaves behind (`expire` only collects dirs
    * that WERE referenced). Never touches a referenced dir OR a staged
    * write–audit–publish dir (`w_*` — pending-by-design until publish;
    * [[abandonStaged]] is the deliberate discard); this is Delta's
    * `VACUUM` for the invisible-write case.
    *
    * RETENTION CONTRACT: only dirs older than `olderThanMs` (default
    * 1 h, by modification time — the same mechanism as the
    * manifest-temp sweep) are collected. An unreferenced dir is NOT
    * proof of a crash: every commit writes its data dir BEFORE
    * publishing its manifest, so a live writer's dir is unreferenced
    * for the duration of its write, and the retry loop
    * ([[commitWithRetry]]) makes in-flight unreferenced dirs routine
    * under contention. Sweeping one would let the writer's commit
    * SUCCEED over deleted data — a corrupted version only [[fsck]]
    * notices later. With the default window, vacuum is safe to run
    * concurrently with writers whose data write takes under an hour;
    * pass a larger window if commits can run longer, and `0` only on a
    * table known to have no writer in flight. (Iceberg's
    * `remove_orphan_files(older_than)` draws the same line.) Returns
    * the removed dir names. */
  def vacuum(olderThanMs: Long = SnapshotTable.DefaultOrphanAgeMs): Seq[String] = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    sweep(System.currentTimeMillis() - olderThanMs, allRetained())
  }

  /** [[vacuum]]'s sweep below `cutoff`, against the retained manifests
    * `live` of every lineage. */
  private def sweep(cutoff: Long, live: Seq[Manifest]): Seq[String] = {
    // crash debris from the atomic-publish protocol: a writer that died
    // between staging its `.…tmp` and the link/rename leaves the temp
    // behind. An IN-FLIGHT publish's temp is milliseconds old, so only
    // temps older than the retention window are swept (metadata-sized
    // files; the sweep is one listing).
    if (fs.exists(manifestDir)) {
      fs.listStatus(manifestDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") && n.endsWith(".tmp") &&
            st.getModificationTime < cutoff)
          fs.delete(st.getPath, false)
      }
    }
    // CAS-mode loser/crash debris: attempt manifests no retained commit
    // references (an Fs-mode table never has any — create-exclusive
    // refuses losers a file). Same age window as every other sweep.
    vp.orphanManifests().foreach { p =>
      try { if (fs.getFileStatus(p).getModificationTime < cutoff)
        fs.delete(p, false) }
      catch { case _: java.io.FileNotFoundException => () } // raced away
    }
    val orphans = orphanDirs(cutoff, sweepStaleLeases = true, live)
    orphans.foreach { p =>
      fs.delete(p, true)
      fs.delete(new Path(statsDir, p.getName), true)
    }
    orphans.map(_.getName)
  }

  /** DRY RUN of [[vacuum]]'s orphan sweep: the dir names a vacuum with
    * this window WOULD remove, touching nothing — what an operator
    * checks before running maintenance on a table with writers around
    * (Delta's `VACUUM ... DRY RUN`). Read-only, one listing. */
  def vacuumPreview(olderThanMs: Long = SnapshotTable.DefaultOrphanAgeMs): Seq[String] = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    // read-only by contract: the preview must not even sweep stale
    // lease debris (a preview run concurrent with maintenance stays
    // correct; a lease swept here is benign but breaks the promise)
    orphanDirs(System.currentTimeMillis() - olderThanMs,
      sweepStaleLeases = false, allRetained()).map(_.getName)
  }

  /** The `_data` dirs older than `cutoff` that no manifest of `live`
    * (every lineage's retained manifests) references — candidates for
    * [[vacuum]]'s sweep and [[vacuumPreview]]'s report.
    * `sweepStaleLeases` follows the caller's mutability contract. */
  private def orphanDirs(cutoff: Long, sweepStaleLeases: Boolean,
                         live: Seq[Manifest]): Seq[Path] = {
    if (!fs.exists(dataDir)) return Seq.empty
    val referenced = live.flatMap(dirsOf).toSet ++
      borrowedProtectedDirs(sweepStaleLeases)
    fs.listStatus(dataDir)
      .filter(st => !referenced(st.getPath.getName) &&
        !st.getPath.getName.startsWith("w_") &&
        st.getModificationTime < cutoff)
      .map(_.getPath).toSeq
  }

  /** All pending staged (write–audit–publish) dir names, sorted. */
  def stagedDirs: Seq[String] = stagedIn(allRetained())

  /** The `w_*` dirs no manifest of `live` publishes, sorted. */
  private def stagedIn(live: Seq[Manifest]): Seq[String] = {
    val published = live.flatMap(_.entries.map(_.dir)).toSet
    if (!fs.exists(dataDir)) Seq.empty
    else fs.listStatus(dataDir).map(_.getPath.getName)
      .filter(n => n.startsWith("w_") && !published(n)).sorted.toSeq
  }

  /** Deliberately discard a staged batch (the failed-audit path) —
    * the ONLY way a pending stage leaves disk besides [[publishStaged]]:
    * [[vacuum]] and [[expire]] skip `w_*` dirs precisely so maintenance
    * can never destroy a batch mid-audit. A no-op if already gone;
    * refuses to delete a PUBLISHED stage's dir (it is table data now). */
  def abandonStaged(stagedDir: String): Unit = {
    require(stagedDir.startsWith("w_"), s"not a staged dir name: '$stagedDir'")
    require(!allRetained().exists(_.entries.exists(_.dir == stagedDir)),
      s"'$stagedDir' is published — its files are table data (expire/rollback " +
        "manage committed history)")
    fs.delete(new Path(dataDir, stagedDir), true)
    ()
  }

  // ---- borrow leases: the shallow-clone back-pointer that makes
  // SOURCE-side retention clone-aware (round 17; previously the hazard
  // was only documented and detected after the fact by the clone's
  // fsck). One lease file per live clone under this table's
  // `_borrowed_by/`; [[expire]]/[[vacuum]] retain leased dirs, [[purge]]
  // refuses while any lease is live, and a clone releases its leases
  // automatically once localized (or by being dropped — a lease whose
  // clone root no longer holds manifests is swept at the next
  // consultation). ----

  private val borrowedByDir = new Path(root, "_borrowed_by")
  private val borrowMarkerPath = new Path(root, "_borrow_lease.txt")

  /** Live borrow leases on THIS table: one per shallow clone still
    * borrowing data dirs from it. Listing VALIDATES each lease — a
    * lease whose clone root no longer holds a `_manifests` dir was
    * dropped (tables are dropped by deleting their directory; the
    * catalog unbind keeps files) and is swept here, so an abandoned
    * clone cannot pin this table's retention forever. A lease older
    * than the orphan-age window whose clone `_manifests` is EMPTY is
    * a crashed clone attempt (registration precedes the v1 publish,
    * and a published clone always holds at least its v1 manifest file
    * in both Fs and CAS modes) — swept too, so an aborted clone needs
    * no manual cleanup; a YOUNG empty-manifests lease is a clone
    * publish in flight and counts as alive (the same
    * presumed-live-writer age logic as [[vacuum]]'s). A clone root
    * that cannot be PROBED (unreachable filesystem) counts as alive:
    * failing safe retains a few dirs; failing unsafe breaks a live
    * clone's reads. This public form is the MAINTENANCE consultation
    * (it sweeps stale lease files); the read-only [[vacuumPreview]]
    * lists without sweeping, and [[detail]] counts registered lease
    * FILES without probing at all (metadata-only by contract). */
  def borrowLeases(): Seq[SnapshotTable.BorrowLease] =
    borrowLeases(sweepStale = true)

  private def borrowLeases(sweepStale: Boolean): Seq[SnapshotTable.BorrowLease] = {
    if (!fs.exists(borrowedByDir)) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(borrowedByDir).toSeq
      .filter(_.getPath.getName.endsWith(".txt")).sortBy(_.getPath.getName)
      .flatMap { st =>
        val lines = SnapshotTable.readSmall(fs, st.getPath)
          .map(_.linesIterator.toSeq).getOrElse(Seq.empty)
        val cloneRoot = lines.collectFirst {
          case l if l.startsWith("clone=") => l.stripPrefix("clone=") }
        val dirs = lines.collect {
          case l if l.startsWith("dir=") => l.stripPrefix("dir=") }.toSet
        cloneRoot match {
          case Some(cr) if dirs.nonEmpty =>
            val alive =
              try {
                val cp = new Path(cr)
                val cfs = cp.getFileSystem(conf)
                val man = new Path(cp, "_manifests")
                if (!cfs.exists(man)) false // dropped (dir deleted)
                else if (st.getModificationTime >
                    System.currentTimeMillis() -
                      SnapshotTable.DefaultOrphanAgeMs)
                  true // young: a clone publish may be in flight
                // old lease: empty `_manifests` = a crashed clone
                // attempt (a published clone always holds >= its v1
                // manifest file); a missing `_borrow_lease.txt` marker
                // = the clone considers itself LOCALIZED (its release
                // deletes leases then the marker — a lease surviving a
                // transient delete failure heals here instead of
                // pinning retention forever). The age floor keeps both
                // probes off the creation window, where lease precedes
                // marker and manifest alike.
                else cfs.listStatus(man).nonEmpty &&
                  cfs.exists(new Path(cp, "_borrow_lease.txt"))
              } catch { case _: Exception => true } // unreachable: fail safe
            if (alive)
              Some(SnapshotTable.BorrowLease(
                st.getPath.getName.stripSuffix(".txt"), cr, dirs))
            else { if (sweepStale) fs.delete(st.getPath, false); None }
          case _ => // malformed debris (our writer never produces this)
            if (sweepStale) fs.delete(st.getPath, false); None
        }
      }
  }

  /** Dir names live clones borrow — retention treats them as
    * referenced. `sweepStale` must be false on read-only surfaces. */
  private def borrowedProtectedDirs(sweepStale: Boolean = true): Set[String] =
    borrowLeases(sweepStale).flatMap(_.dirs).toSet

  /** Release this table's OUTBOUND borrow leases once nothing it
    * retains still borrows — called automatically at the end of
    * [[expire]]/[[expireOlderThan]] (localize = [[commitCompactFiles]]
    * + expire of the borrowing history, so the expire that retires the
    * last borrowing manifest is exactly when the source becomes free to
    * reclaim). Safe to call any time: a no-op unless this table was
    * created by [[shallowClone]] and every retained manifest (main and
    * branch) references only owned dirs. */
  def releaseBorrowLeasesIfLocalized(): Unit = releaseIfLocalized(allRetained())

  /** The release, against `live` — every lineage's retained manifests,
    * walked only when this table holds a lease marker. */
  private def releaseIfLocalized(live: => Seq[Manifest]): Unit = {
    if (!fs.exists(borrowMarkerPath)) return
    if (live.exists(borrows)) return
    val conf = spark.sparkContext.hadoopConfiguration
    SnapshotTable.readSmall(fs, borrowMarkerPath).foreach {
      _.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { s =>
        try { val p = new Path(s); p.getFileSystem(conf).delete(p, false); () }
        catch { case _: Exception => () } // owner gone: nothing to release
      }
    }
    fs.delete(borrowMarkerPath, false)
    ()
  }

  /** LOCALIZE a shallow clone in one call — the remedy every borrow
    * refusal names: rewrite the current state into owned dirs
    * ([[commitCompactFiles]]), expire the (necessarily borrowing)
    * older history, and release the borrow lease(s), after which this
    * table owns every byte it references and the source's retention is
    * free of it. DESTROYS the clone's own version history by design
    * (keepLast = 1): every pre-localize version references borrowed
    * dirs, so "localized" and "time-travel into the borrowing era"
    * cannot coexist. Refuses loudly if a tag or branch pins borrowing
    * history (expire keeps tagged versions — the tag's promise wins;
    * drop it first). A no-op on a table that borrows nothing. */
  def localize(olderThanMs: Long = SnapshotTable.DefaultOrphanAgeMs): Unit = {
    def borrowsNow: Boolean = allRetained().exists(borrows)
    // keyed on the MANIFESTS, not the lease marker: a borrowing clone
    // without a marker (created by a pre-lease build, or the marker
    // lost out of band) must still localize — purge's refusal names
    // this call as the remedy, and a marker-gated no-op would loop the
    // operator between the two forever. A non-borrowing table only
    // sweeps any leftover marker (release is marker-guarded).
    if (!borrowsNow) { releaseBorrowLeasesIfLocalized(); return }
    commitCompactFiles()
    expire(keepLast = 1, olderThanMs = olderThanMs) // auto-releases when free
    if (borrowsNow) {
      // name exactly the pinning refs, not every ref on the table: a
      // tag on any still-retained borrowing version (CAS contiguity
      // can retain untagged borrowers above a pin — the tag below is
      // still the one to drop), and any branch whose lineage borrows
      val borrowing = retained(Main).filter(borrows).map(_.version).toSet
      val pinTags = tags.collect { case (n, v) if borrowing(v) => n }.sorted
      val pinBranches = vp.branchList()
        .filter(n => retained(Named(n)).exists(borrows)).sorted
      val pinNames = pinTags.map("tag '" + _ + "'") ++
        pinBranches.map("branch '" + _ + "'")
      val pins = if (pinNames.nonEmpty) pinNames.mkString(", ")
        else "a ref this listing could not attribute (inspect history)"
      sys.error(s"localize at $root: borrowing history is still retained " +
        s"after compact+expire — pinned by $pins; drop or fast-forward " +
        "those refs, then localize() again")
    }
  }

  /** Register leases + the local marker for a clone at `cloneRoot`
    * borrowing `borrowedUris`; returns every path written so a failed
    * clone publish can roll them back (no debris on refusal). */
  private def registerCloneLeases(cloneRoot: String, cloneFs: FileSystem,
                                  borrowedUris: Seq[String]): Seq[Path] = {
    if (borrowedUris.isEmpty) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val leases = SnapshotTable.registerBorrow(conf, cloneRoot, borrowedUris)
    val marker = new Path(cloneRoot, "_borrow_lease.txt")
    graft.util.AtomicFlip.writeAtomic(cloneFs, conf, marker,
      leases.map(_.toString).mkString("\n").getBytes("UTF-8"))
    leases :+ marker
  }

  /** Deep clone: copy the whole table (manifests + data) to `destRoot`
    * and return a table handle over the copy — the `CREATE TABLE ...
    * CLONE` shape (Delta/Snowflake). DEEP (files duplicated) so the
    * clone's lifecycle is fully independent: expiring or corrupting the
    * clone can never delete a data directory the source still
    * references, which is the shallow-clone hazard. Cost is one
    * filesystem copy of the referenced bytes — no Spark job, no
    * recompute of the commits that built the source.
    *
    * A CAS-mode source needs `destPointer`: its commit arbiter is a
    * store value, not a file the copy can carry — the clone's store
    * cell is seeded with the source's current pointer (head + refs;
    * the copied manifest/branch FILES keep their names, so the seeded
    * value resolves against the copied tree verbatim) and the clone
    * then arbitrates independently through its own cell. Omitting it
    * refuses loudly; so does a non-empty destination store (seeding
    * over a live pointer would orphan that table's history). */
  def deepClone(destRoot: String,
                destPointer: Option[ConditionalStore] = None): SnapshotTable = {
    val dst = new Path(destRoot)
    val dfs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (pointer, destPointer) match {
      case (Some(_), None) => sys.error(
        s"deep clone of the CAS-mode table at $root needs a destination " +
          "ConditionalStore (deepClone(destRoot, Some(store))): the " +
          "version pointer lives in the source's store, not in a file " +
          "the copy can carry")
      case (None, Some(_)) => sys.error(
        s"destPointer passed but the table at $root is " +
          "filesystem-arbitrated — a deep clone keeps the source's " +
          "arbitration mode (clone plainly, or rebuild via commits to a " +
          "CAS-mode table to convert)")
      case _ => ()
    }
    if (dfs.exists(dst)) dfs.delete(dst, true)
    dfs.mkdirs(dst.getParent)
    SnapshotTable.copyTreeParallel(fs, new Path(root), dfs, dst,
      spark.sparkContext.hadoopConfiguration)
    // the copy must not inherit the source's lease bookkeeping: copied
    // `_borrowed_by/` leases name clones of the SOURCE (none of them
    // read the copy's dirs), and a copied `_borrow_lease.txt` is
    // actively dangerous — the copy's localize would release the
    // ORIGINAL table's leases while it still borrows. Scrub both; the
    // adopt step below re-registers fresh leases in the copy's own name
    // if it still borrows (deep clone OF a live shallow clone copies
    // manifests whose borrowed absolute URIs pass through verbatim).
    dfs.delete(new Path(dst, "_borrowed_by"), true)
    dfs.delete(new Path(dst, "_borrow_lease.txt"), false)
    val cloned = (pointer, destPointer) match {
      case (Some(srcStore), Some(dstStore)) =>
        val cur = srcStore.get().getOrElse(
          sys.error(s"no committed version at $root to clone"))
        require(dstStore.putIf(None, cur),
          s"destination ConditionalStore is not empty — seeding it would " +
            "orphan the table it already points at")
        new SnapshotTable(spark, destRoot, partCols, destPointer)
      case _ => new SnapshotTable(spark, destRoot, partCols)
    }
    cloned.adoptBorrowLeases()
    cloned
  }

  /** Register fresh leases (in THIS table's name) for every borrowed
    * dir its retained manifests reference — the [[deepClone]]-of-a-
    * shallow-clone path, where the copied manifests still point into
    * the original owner's `_data`. No-op on a fully-owned table. */
  private def adoptBorrowLeases(): Unit = {
    val borrowed = allRetained().flatMap(dirsOf).filter(isBorrowed).distinct
    if (borrowed.nonEmpty) {
      registerCloneLeases(
        fs.makeQualified(new Path(root)).toString, fs, borrowed)
      ()
    }
  }

  /** SHALLOW clone: a new table whose first version REFERENCES the
    * source's current data dirs in place — zero data bytes move, one
    * manifest write, O(metadata) whatever the table size (Delta's
    * `CREATE TABLE ... SHALLOW CLONE`, Iceberg snapshot-ref tables).
    * At 100 TB this is how a dev/test/experiment copy is actually
    * made: the deep copy is a multi-hour distributed job; this is one
    * metadata commit.
    *
    * The clone starts at v1 = the source's CURRENT state (entries,
    * exclusion masks, MOR deletes, and CHECK constraints all carried;
    * history, tags, and branches do NOT transfer — clone the state,
    * not the lineage). Afterwards the two tables diverge freely: new
    * commits on either side mint their OWN local data dirs, and the
    * clone's maintenance can never touch the source's files — borrowed
    * dirs live outside the clone's `_data`, so [[vacuum]]/[[expire]]
    * (which sweep by local listing) cannot collect them, and [[purge]]
    * refuses until the clone localizes ([[commitCompactFiles]] rewrites
    * the current state into owned dirs, after which [[expire]] retires
    * the borrowing manifests).
    *
    * THE shallow-clone hazard (Delta's unsolved one): the SOURCE's
    * retention reclaiming a dir the clone still borrows breaks the
    * clone's reads. HERE the clone registers a borrow lease under each
    * owner's `_borrowed_by/` at clone time (create-exclusive, BEFORE
    * the clone's v1 publishes, so no live-but-unprotected window):
    * owner [[expire]]/[[vacuum]] retain every leased dir, owner
    * [[purge]] refuses loudly naming the clone and the remedy, and the
    * lease is released automatically when the clone localizes
    * ([[commitCompactFiles]] + [[expire]] of the borrowing history) or
    * is dropped (directory deleted — the owner sweeps the stale lease
    * at its next maintenance; a CRASHED clone attempt's lease is
    * likewise swept once it is older than the orphan-age window with
    * no published manifest behind it, no manual cleanup needed). The
    * clone's [[fsck]] still names a missing borrowed dir after
    * out-of-band damage.
    *
    * `destPointer` selects the CLONE's arbitration mode, independent of
    * the source's (a clone starts its own lineage, so no pointer state
    * transfers — unlike [[deepClone]], which copies history and must
    * keep the mode): None = filesystem arbitration (the constructor's
    * scheme probe still refuses non-atomic stores), Some(store) = the
    * clone's v1 publishes through the store's CAS. The CAS form is how
    * a zero-copy dev/experiment clone of a production table is made on
    * an object store — the Fs form cannot exist there at all. */
  def shallowClone(destRoot: String,
                   destPointer: Option[ConditionalStore] = None): SnapshotTable = {
    val m = liveHead()
    val dst = new Path(destRoot)
    val dfs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!dfs.exists(dst) || dfs.listStatus(dst).isEmpty,
      s"shallow clone destination exists and is non-empty: $destRoot")
    // borrowed dirs ride the manifest line format: the fully-qualified
    // URI must stay parseable (dir is everything before the first '|')
    def borrow(d: String): String = {
      val q = fs.makeQualified(dirPath(d)).toString
      require(!q.contains('|') && !q.exists(c => c == '\n' || c == '\r'),
        s"cannot shallow-clone: source dir path not manifest-safe: $q")
      q
    }
    val cm = successor(emptyHead, s"shallow_clone_v${m.version}", m.copy(
      entries = m.entries.map(e => e.copy(dir = borrow(e.dir))),
      deletes = m.deletes.map(d => d.copy(dir = borrow(d.dir)))))
    // lease registration order: the clone's `_manifests` dir FIRST (the
    // owner's stale-lease probe keys on its existence — registering
    // before it exists would let a concurrent owner vacuum sweep the
    // fresh lease as stale), then the lease(s), then the v1 publish —
    // so there is never a live-but-unprotected clone. A refused publish
    // rolls the registration back (loud refusal, no lease debris).
    val cloneManifests = new Path(dst, "_manifests")
    dfs.mkdirs(cloneManifests)
    val borrowedUris = (cm.entries.map(_.dir) ++ cm.deletes.map(_.dir))
      .filter(isBorrowed).distinct
    val leaseWrites = registerCloneLeases(
      dfs.makeQualified(dst).toString, dfs, borrowedUris)
    // v1 publishes through the clone's own pointer — create-exclusive +
    // CURRENT flip, or one CAS from the empty store cell: the same
    // commit point every later write on the clone uses. A refusal means
    // the destination holds a lineage already. Two clones racing to the
    // SAME destination share one lease file (ids are destRoot hashes),
    // so the loser must not delete the winner's protection: if the
    // clone's own v1 manifest exists under its `_manifests`, a racer
    // won and the lease stays; otherwise (the store points at some
    // other table) no clone exists here and the lease rolls back.
    val cloned = new SnapshotTable(spark, destRoot, partCols, destPointer)
    if (!cloned.vp.publish(Main, 1, render(cm).getBytes("UTF-8"))) {
      val winnerExists =
        try dfs.exists(cloned.vp.manifestPath(Main, 1))
        catch { case _: Exception => false }
      if (!winnerExists) leaseWrites.foreach { p =>
        try { p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, false); () }
        catch { case _: Exception => () }
      }
      sys.error(s"shallow clone destination is not empty — it already holds " +
        s"a table, and publishing v1 over it would orphan that lineage ($destRoot)")
    }
    cloned
  }

  /** Right-to-be-forgotten erasure: rewrite EVERY retained version so
    * no row matching `condition` survives anywhere in history — the
    * compliance operation time travel makes hard (a DELETE commit only
    * changes the current version; the old manifests still reference the
    * old files). Each referenced data dir is rewritten ONCE (dirs shared
    * across versions pay once, not per version) to a purged twin, every
    * manifest is swapped to reference the twins, and the originals are
    * removed. Version numbers, ops, parents, and partition-exclusion
    * masks are preserved; readers before/after see identical history
    * minus the erased rows. Rows where the condition evaluates NULL are
    * KEPT (erase only what is proven to match). Clustered dirs are
    * re-clustered on their indexed column and their stats indexes
    * rebuilt, so skipping reads keep pruning after the purge.
    *
    * SINGLE-WRITER operation like compaction: it mutates history in
    * place — take the table offline for it (any staged-but-unpublished
    * dirs are vacuumed first: erasure must cover unreferenced bytes
    * too, and a pending stage cannot outrank a deletion request). Cost:
    * one read+write of the referenced bytes (the floor for physical
    * erasure); at 100 TB this is the batch job compliance teams
    * actually schedule, which is why sharing rewritten dirs across
    * versions matters. Returns the number of data dirs rewritten. */
  def purge(condition: org.apache.spark.sql.Column): Int = {
    // one walk serves the whole purge: the steps below sweep dirs and
    // stages but never touch a retained manifest until the rewrite
    val walk = lineages.map(b => b -> retained(b))
    val live = walk.flatMap(_._2)
    require(walk.head._2.nonEmpty, s"no snapshots at $root")
    // live shallow clones read this table's dirs in place — the
    // rewrite-and-delete below would yank bytes out from under them
    // (and the erasure would NOT reach the clones' own lineages, so it
    // would not even be complete). Refuse before the destructive
    // pre-steps below, naming each clone and the remedy.
    val leases = borrowLeases()
    require(leases.isEmpty,
      s"purge refused: ${leases.size} live shallow clone(s) still " +
        s"borrow this table's data dirs — " +
        leases.map(_.cloneRoot).sorted.mkString(", ") + ". Localize " +
        "each clone (localize() on the clone) or drop it (delete its " +
        "directory), then purge; the erasure must also be run on any " +
        "localized clone that copied matching rows.")
    // MOR KEY-delete files hold raw key tuples the erasure condition
    // cannot be evaluated against (they lack the data columns), and the
    // per-dir rewrite below cannot apply positional delete scopes —
    // materialize first, then purge, rather than risk a wrong erasure.
    // PREDICATE deletes (pdelete lines) are fine: they carry no row
    // data, and the rewrite preserves each manifest's entry order and
    // count, so their positional scopes stay valid — matching rows are
    // physically erased from the dirs while the predicates keep
    // filtering reads exactly as before.
    require(live.forall(_.deletes.isEmpty),
      "purge over merge-on-read deletes is not supported: " +
        "commitCompact to materialize the debt, expire() the " +
        "delete-carrying history, and fast-forward or drop branches — " +
        "then purge")
    // erasure must also cover bytes no manifest references — staged
    // (write–audit–publish) and crashed-writer dirs are invisible to
    // readers but still on disk. vacuum() deliberately spares w_* dirs
    // for maintenance, but a deletion request outranks a pending stage:
    // drop them explicitly here. Age window 0: purge is single-writer/
    // offline by contract, so no in-flight dir exists to protect.
    sweep(System.currentTimeMillis(), live)
    stagedIn(live).foreach(d => fs.delete(new Path(dataDir, d), true))
    // branch manifests reference dirs too — erasure must cover every
    // lineage, not just main's
    val dirs = live.flatMap(_.entries.map(_.dir)).distinct
    // borrowed (shallow-clone) dirs belong to the SOURCE table:
    // rewriting-and-deleting them here would erase rows from a table
    // this handle does not own. Localize first, then purge.
    require(dirs.forall(!isBorrowed(_)),
      "purge on a shallow clone is not supported while it still borrows " +
        "the source's data dirs: run localize() (compact + expire of " +
        "the borrowing history + lease release), then purge — erasure " +
        "on the SOURCE table is the source owner's operation")
    // the per-dir rewrite evaluates `condition` against RAW physical
    // schemas; with a live column mapping the logical names the caller
    // uses would not resolve (or worse, resolve wrongly) on old-era
    // dirs — materialize the mapping first
    require(live.forall(_.colOps.isEmpty),
      "purge over a live column rename/drop history is not supported: " +
        "commitCompactFiles() to materialize the mapping, expire() the " +
        "mapped history, then purge")
    val mapping = dirs.map { dir =>
      val purged = s"p$dir"
      val src = new Path(dataDir, dir)
      val dst = new Path(dataDir, purged)
      fs.delete(dst, true)
      val kept = spark.read.option("mergeSchema", "true").parquet(src.toString)
        .filter(!coalesce(condition, lit(false)))
      val dirStats = new Path(statsDir, dir)
      val statCols =
        if (fs.exists(dirStats))
          fs.listStatus(dirStats).map(_.getPath.getName).toSeq.sorted
        else Seq.empty
      if (statCols.nonEmpty) {
        // clustered dir: preserve the layout contract (disjoint ranges
        // on the first indexed column) and rebuild every stats index
        val nFiles = math.max(1, fs.listStatus(src)
          .count(_.getPath.getName.endsWith(".parquet")))
        IncrementalWriter.overwriteClustered(kept, dst.toString, statCols.head, nFiles, freshDir = true)
      } else {
        WriteDistribution.freshDir(WriteDistribution.byPartition(kept, partCols))
          .partitionBy(partCols: _*).parquet(dst.toString)
      }
      // a dir whose EVERY row matched still needs a schema-bearing
      // (zero-row) file — an empty directory breaks the parquet read of
      // any version referencing it
      val hasData = fs.exists(dst) &&
        fs.listStatus(dst).exists(!_.getPath.getName.startsWith("_"))
      if (!hasData)
        kept.limit(0).coalesce(1).write.mode("overwrite").parquet(dst.toString)
      writeSchemaSidecar(purged, kept.schema)
      if (statCols.nonEmpty && hasData)
        statCols.foreach(c => graft.sources.DataSkipping.buildStats(
          spark, dst.toString, c, statsPath(purged, c).toString))
      dir -> purged
    }.toMap
    // swap every retained manifest's entry dirs in one bulk rewrite per
    // lineage: Fs mode does one atomic overwrite-rename per manifest (a
    // reader racing the purge sees each version's old or new manifest
    // in full, never a missing/torn one); CAS mode rebuilds each chain
    // copy-on-write under fresh attempt-unique names and swaps with ONE
    // CAS — in-place overwrites have no atomic primitive on the object
    // stores CAS mode serves, so a racing reader could otherwise
    // observe a missing manifest and a crash mid-write could lose one.
    def swapDirs(m: Manifest): Array[Byte] =
      render(m.copy(entries = m.entries.map(e => e.copy(dir = mapping(e.dir)))))
        .getBytes("UTF-8")
    walk.foreach { case (b, ms) =>
      if (ms.nonEmpty) vp.rewriteAll(b, ms.map(m => m.version -> swapDirs(m)).toMap)
    }
    dirs.foreach { d =>
      fs.delete(new Path(dataDir, d), true)
      fs.delete(new Path(statsDir, d), true)
    }
    mapping.size
  }

  /** Consistency audit (fsck) — METADATA-ONLY, read-only, safe on a
    * live table: walks every retained manifest and reports structural
    * problems as human-readable strings (empty = healthy). Catches what
    * the individual ops assume: an unparseable or version-mismatched
    * manifest, a referenced data dir that is missing or empty (a read
    * of that version would fail), a CURRENT pointer that is
    * unparseable, behind the newest manifest (crashed writer —
    * [[repair]] fixes), or pointing at a missing manifest, a tag
    * naming an expired version, and dangling stats dirs (index without
    * its data — harmless debris, reported so maintenance can collect).
    * Cost is O(retained versions × entries) metadata reads + one
    * listing per dir, never a data scan — runnable as a cron on a
    * 100 TB table. */
  def fsck(): Seq[String] = {
    val problems = scala.collection.mutable.ListBuffer.empty[String]
    // the retained-manifest walk, each parse caught so one damaged
    // manifest is reported rather than ending the audit
    val walk = lineages.map(b => b -> vp.versions(b))
    val versions = walk.head._2
    val parsed = walk.flatMap { case (b, vs) =>
      vs.flatMap { v =>
        try {
          val m = parse(v, b)
          if (m.version != v)
            problems += s"manifest ${b.label(v)} declares version=${m.version}"
          Some(m)
        } catch { case e: Exception =>
          problems += s"manifest ${b.label(v)} unreadable: ${e.getMessage}"
          None
        }
      }
    }
    // predicate deletes are manifest-borne SQL — an unparseable one
    // breaks every read of its version, so it is structural damage
    // (parse check only: analysis needs a data schema, and fsck's
    // contract is metadata-only)
    parsed.foreach { m =>
      m.predDeletes.foreach { p =>
        try { expr(p.sql); () }
        catch { case e: Exception =>
          problems += s"v${m.version} predicate delete unparseable " +
            s"('${p.sql}'): ${e.getMessage.linesIterator.next()}"
        }
      }
    }
    val referenced = parsed.flatMap(dirsOf).toSet
    referenced.toSeq.sorted.foreach { d =>
      val p = dirPath(d)
      // a missing BORROWED dir means the shallow-clone source
      // vacuumed/expired/purged it out from under this table — the
      // clone-invalidation hazard fsck exists to surface
      if (!fs.exists(p)) problems +=
        (if (isBorrowed(d))
          s"borrowed data dir missing (source table reclaimed it?): $d"
        else s"referenced data dir missing: $d")
      else if (!fs.listStatus(p).exists(!_.getPath.getName.startsWith("_")))
        problems += s"referenced data dir empty (no data files): $d"
    }
    val cur =
      try currentVersion
      catch { case e: Exception =>
        problems += s"CURRENT unreadable: ${e.getMessage}"; None }
    (cur, versions.lastOption) match {
      case (Some(c), _) if !versions.contains(c) =>
        problems += s"CURRENT points at missing manifest v$c"
      case (Some(c), Some(newest)) if c < newest =>
        problems += s"CURRENT (v$c) is behind newest manifest v$newest — run repair()"
      case (None, Some(newest)) =>
        problems += s"no CURRENT but manifests exist up to v$newest — run repair()"
      case _ => ()
    }
    tags.foreach { case (name, v) =>
      if (!versions.contains(v)) problems += s"tag '$name' names missing version v$v"
    }
    if (fs.exists(statsDir))
      fs.listStatus(statsDir).map(_.getPath.getName).sorted.foreach { d =>
        if (!fs.exists(new Path(dataDir, d)))
          problems += s"dangling stats index (no data dir): $d"
      }
    problems.toSeq
  }

  // ---- read-surface introspection: the resolved dir list + masks +
  // sidecar schemas + stats indexes, what [[scan]] chooses a scan from
  // and the `graft` format's `files` metadata table lists. ----

  private def toScanSpec(m: Manifest): SnapshotScanSpec =
    SnapshotScanSpec(
      m.entries.map { e =>
        val dirStats = statsDirPath(e.dir)
        val stats =
          if (!fs.exists(dirStats)) Seq.empty
          else fs.listStatus(dirStats)
            .map(st => st.getPath.getName -> st.getPath.toString)
            .sortBy(_._1).toSeq
        SnapshotScanSpec.Dir(dirPath(e.dir).toString, e.excluded,
          schemaDdl(e.dir), stats, math.max(e.era, 0))
      },
      m.deletes.nonEmpty || m.predDeletes.nonEmpty,
      m.colOps)

  private[graft] def scanSpecVersion(v: Int): SnapshotScanSpec = toScanSpec(parse(v))

  /** Version `v`'s scan as [[scan]] chooses it — the `graft` format's
    * entry to the selector. */
  private[graft] def scanVersion(v: Int) = scan(parse(v))

  /** The branch head's scan as [[scan]] chooses it. */
  private[graft] def scanBranch(name: String) = scan(headOf(Named(name)))

  /** Crash recovery: if an orphan manifest exists past CURRENT (a
    * writer died between manifest create and pointer flip), re-point
    * CURRENT at the newest manifest — the write WAS durable, finish it. */
  def repair(): Unit = {
    // the walk PARSES every retained manifest, so a torn or foreign
    // file (an empty create-exclusive husk) throws here instead of
    // being promoted — only a fully-written, durable commit may become
    // CURRENT (publishExclusive is atomic-with-content, so a real
    // winner's manifest always parses)
    val latest = retained(Main).map(_.version).maxOption
    (latest, currentVersion) match {
      case (Some(l), Some(c)) if l > c => vp.promote(l)
      case (Some(l), None) => vp.promote(l)
      case _ => ()
    }
  }
}

/** A resolved snapshot's physical read surface, what
  * [[SnapshotTable]]'s read selector chooses a scan from: one entry per
  * data dir with its exclusion mask (partition-value tuples,
  * string-rendered) and schema sidecar DDL, plus whether merge-on-read
  * deletes are pending (which forces the per-entry fold — deletes are
  * join/filter semantics a file listing cannot express). */
private[graft] case class SnapshotScanSpec(dirs: Seq[SnapshotScanSpec.Dir],
                                           hasDeletes: Boolean,
                                           // the column-mapping history:
                                           // a dir whose sidecar still
                                           // carries a retired name or a
                                           // pre-widening type needs the
                                           // read-time fold, not the
                                           // file index
                                           colOps: Seq[SnapshotTable.ColOp] = Seq.empty)

private[graft] object SnapshotScanSpec {
  /** `stats` = the dir's persisted min/max indexes as
    * (column → stats-parquet path) — what [[graft.sources.DataSkipping]]
    * built at commit time or post hoc ([[SnapshotTable.buildStatsIndex]]);
    * the format's file index prunes files through them at planning. */
  case class Dir(path: String, excluded: Set[Seq[String]],
                 schemaDdl: Option[String],
                 stats: Seq[(String, String)] = Seq.empty,
                 era: Int = 0)
}

object SnapshotTable {
  /** Name prefix under which SOURCE columns appear in the joined
    * namespace of [[SnapshotTable.commitMergeGeneral]]'s matched-clause
    * conditions and update right-hand sides (target columns keep their
    * bare names). */
  val SrcPrefix = "__graft_src_"

  /** Recursive tree copy with FILE-LEVEL PARALLELISM — [[SnapshotTable.deepClone]]'s
    * copy engine. `FileUtil.copy` walks the tree serially on the driver:
    * one open/copy/close round trip per file, which for a snapshot table
    * (one file per partition per retained version, plus manifests) is
    * hundreds of serial round trips — measured 1.1–1.3 s on the sf0.1
    * three-version fixture locally, and against an object store each
    * round trip is a network RTT, so a 10⁴-file table would take hours
    * serially. Directory structure is recreated first (cheap, preserves
    * empty dirs — a metadata-only table's `_data` must exist in the
    * copy), then the files copy on a bounded thread pool: local disks
    * and object stores both serve concurrent streams far better than
    * one at a time. Same tree, same bytes, ~min(16, files)× less
    * wall-clock. First failure cancels the pool and rethrows. */
  private[graft] def copyTreeParallel(srcFs: FileSystem, src: Path,
                                      dstFs: FileSystem, dst: Path,
                                      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val qSrc = srcFs.makeQualified(src)
    val files = scala.collection.mutable.ArrayBuffer.empty[Path]
    def rel(p: Path): String =
      qSrc.toUri.relativize(srcFs.makeQualified(p).toUri).getPath
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (st.isDirectory) {
        val r = rel(st.getPath)
        dstFs.mkdirs(if (r.isEmpty) dst else new Path(dst, r))
        srcFs.listStatus(st.getPath).foreach(walk)
      } else files += st.getPath
    walk(srcFs.getFileStatus(qSrc))
    if (files.isEmpty) return
    // FileUtil.copy streams through io.file.buffer.size, whose Hadoop
    // default is 4 KB — hundreds of tiny read/write syscalls per
    // parquet file. 1 MB turns each file into a couple of syscalls.
    val copyConf = new org.apache.hadoop.conf.Configuration(conf)
    copyConf.setInt("io.file.buffer.size", 1024 * 1024)
    val threads = math.min(16, files.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            require(org.apache.hadoop.fs.FileUtil.copy(
              srcFs, f, dstFs, new Path(dst, rel(f)),
              /*deleteSource=*/ false, copyConf),
              s"deep clone copy failed: $f")
            ()
          }
        })
      }
      futures.foreach(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  /** One ordered WHEN clause of [[SnapshotTable.commitMergeGeneral]] —
    * the general SQL MERGE surface. Per-row, the FIRST clause whose
    * gate (matched / not-matched / not-matched-by-source) and condition
    * hold is applied; a NULL condition counts as not-applicable.
    * Condition/assignment namespaces: matched clauses see target
    * columns bare and source columns as [[SrcPrefix]]`<name>`; insert
    * conditions see bare SOURCE names; by-source conditions see bare
    * TARGET names. */
  sealed trait MergeWhen
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET *`. */
  case class WhenMatchedUpdateAll(cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ...` —
    * right-hand sides see the PRE-merge row (both sides' columns). */
  case class WhenMatchedUpdate(sets: Seq[(String, org.apache.spark.sql.Column)],
                               cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  case class WhenMatchedDelete(cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT *`. */
  case class WhenNotMatchedInsertAll(cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs)` —
    * values see SOURCE columns (bare names); unassigned target columns
    * insert as NULL. */
  case class WhenNotMatchedInsert(sets: Seq[(String, org.apache.spark.sql.Column)],
                                  cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`. */
  case class WhenNotMatchedBySourceDelete(cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr,
    * ...` — right-hand sides see TARGET columns only (no source row
    * exists for these). */
  case class WhenNotMatchedBySourceUpdate(sets: Seq[(String, org.apache.spark.sql.Column)],
                                          cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeWhen

  /** One step of a table's column-mapping history ([[SnapshotTable.renameColumn]] /
    * [[SnapshotTable.dropColumn]]): applied IN ORDER to each data
    * dir's physical schema at read time, so renames and drops are
    * metadata-only — no data rewrite, whatever the table size. */
  sealed trait ColOp
  case class ColRename(from: String, to: String) extends ColOp
  case class ColDrop(name: String) extends ColOp
  /** In-place type widening (`toDdl` = catalog string, e.g. "bigint"):
    * old dirs read-cast up, new writes land wide. Only loss-free
    * widenings are committable ([[SnapshotTable.widenColumn]]). */
  case class ColWiden(name: String, toDdl: String) extends ColOp
  /** Explicit ADD COLUMN: dirs written before it read the column as
    * typed NULLs; later writes carry real values. Also re-legitimizes
    * a previously dropped name (the ordered fold keeps old-era data
    * hidden while the new column starts fresh). */
  case class ColAdd(name: String, ddl: String) extends ColOp

  /** Names a write may NOT use under this op history: rename sources
    * and dropped columns — unless a LATER add (or rename onto the
    * name) re-introduced them, which restores the name for new data
    * while the fold keeps old-era bytes mapped away. */
  def retiredNames(ops: Seq[ColOp]): Set[String] = ops.foldLeft(Set.empty[String]) {
    case (s, ColRename(f, t)) => s + f - t
    case (s, ColDrop(n)) => s + n
    case (s, ColAdd(n, _)) => s - n
    case (s, _) => s
  }

  /** One row of [[SnapshotTable.detail]]: the current version's
    * metadata-derived shape. `borrowedDirs > 0` marks a live shallow
    * clone (some state is referenced from the source table in place);
    * `borrowedBy > 0` marks the OTHER side — clones registered as
    * borrowing THIS table's dirs (counted from the local lease files,
    * no liveness probe: stale leases inflate it until the next
    * maintenance sweep), i.e. retention is pinned and purge will
    * refuse until they localize or drop. */
  case class Detail(location: String, version: Int, committedAtMs: Long,
                    numEntries: Int, borrowedDirs: Int,
                    numFiles: Long, sizeBytes: Long,
                    partitionColumns: Seq[String],
                    constraints: Seq[(String, String)],
                    properties: Seq[(String, String)] = Seq.empty,
                    numRows: Long = -1L, // -1 = not metadata-derivable
                    borrowedBy: Int = 0)

  /** The partition columns recorded in the table's CURRENT manifest
    * (the `partcols` line every commit stamps since round 12) — how a
    * reader that doesn't know the layout (the `graft` DataSource
    * format) discovers it before constructing a handle. None when the
    * table doesn't exist yet or its head predates the line. Two
    * metadata reads, no table construction (constructing with guessed
    * columns is exactly the mismatch this exists to avoid). Pass the
    * table's [[ConditionalStore]] for a CAS-mode table — there the head
    * manifest's name lives in the store's pointer value, not in a
    * CURRENT file (without it, discovery would silently miss and the
    * caller would fall back to guessed columns). */
  def storedPartCols(spark: org.apache.spark.sql.SparkSession,
                     root: String,
                     store: Option[ConditionalStore] = None): Option[Seq[String]] = {
    val manifestDir = new Path(root, "_manifests")
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val headManifest: Option[String] = store match {
      case Some(st) =>
        // CAS pointer value's first line is "<version>|<manifestFile>"
        st.get().map(_.takeWhile(_ != '\n')).flatMap { line =>
          val bar = line.indexOf('|')
          if (bar > 0) Some(line.substring(bar + 1)) else None
        }
      case None =>
        readTextIfExists(fs, new Path(manifestDir, "CURRENT")).map(_.trim.toInt)
          .map(cur => f"v$cur%05d.txt")
    }
    for {
      name <- headManifest
      text <- readTextIfExists(fs, new Path(manifestDir, name))
      line <- text.linesIterator.find(_.startsWith("partcols="))
    } yield line.stripPrefix("partcols=")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** A live shallow clone's registration under the OWNER table's
    * metadata (`_borrowed_by/<id>.txt`) — the back-pointer that makes
    * the owner's retention clone-aware: [[SnapshotTable.expire]] /
    * [[SnapshotTable.vacuum]] treat every leased dir as referenced, and
    * [[SnapshotTable.purge]] refuses while any lease is live. `dirs`
    * are the owner-local `_data` dir names the clone borrows. */
  case class BorrowLease(id: String, cloneRoot: String, dirs: Set[String])

  /** Lease file name for a clone root: a content hash of the qualified
    * root, so re-registering the SAME clone is idempotent-by-name and
    * two different clones can never share a file. */
  private[graft] def leaseIdFor(cloneRoot: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(cloneRoot.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
  }

  /** Register `cloneRoot` as a borrower of `borrowedUris` (absolute
    * `<owner>/_data/<dir>` URIs) under each OWNER'S `_borrowed_by` —
    * grouped by owner because a clone of a clone borrows the ORIGINAL
    * table's dirs (absolute stays absolute), so the chain's leases all
    * land on the table that actually owns the bytes. Create-exclusive
    * per lease file; an existing lease for the SAME clone root is a
    * stale predecessor (the caller proved the destination empty) and is
    * replaced. Returns the qualified lease paths (the clone's marker
    * records them so localize/drop can release). */
  private[graft] def registerBorrow(conf: org.apache.hadoop.conf.Configuration,
                                    cloneRoot: String,
                                    borrowedUris: Seq[String]): Seq[Path] = {
    val id = leaseIdFor(cloneRoot)
    borrowedUris.map(u => new Path(u))
      .groupBy(_.getParent.getParent) // <owner>/_data/<dir> → owner root
      .toSeq.sortBy(_._1.toString)
      .map { case (ownerRoot, dirPaths) =>
        val ofs = ownerRoot.getFileSystem(conf)
        val leaseDir = new Path(ownerRoot, "_borrowed_by")
        ofs.mkdirs(leaseDir)
        val lease = new Path(leaseDir, s"$id.txt")
        val bytes = (s"clone=$cloneRoot" +:
          dirPaths.map(p => s"dir=${p.getName}").distinct.sorted)
          .mkString("\n").getBytes("UTF-8")
        if (!graft.util.AtomicFlip.publishExclusive(ofs, lease, bytes)) {
          // the id is a cloneRoot hash, so an existing file is a stale
          // predecessor for the SAME destination or a racer to it.
          // Never delete-then-recreate (a concurrent owner expire
          // could observe the gap and reclaim borrowed dirs out from
          // under the eventual winner) and never drop the existing
          // dirs (a same-destination racer may win the v1 publish
          // with THOSE dirs): UNION the dir sets and replace
          // atomically — over-protecting a few dirs until the lease
          // releases is safe; under-protecting breaks a live clone.
          // read-merge-replace is not CAS, so a concurrent merger's
          // rename can drop OUR dirs — re-read after the write and
          // retry until ours are visible (each racer merges what it
          // read, so the content only grows; convergence is bounded
          // by the racer count)
          val mine = dirPaths.map(p => s"dir=${p.getName}").toSet
          var landed = false
          while (!landed) {
            val existingLines = readSmall(ofs, lease)
              .map(_.linesIterator.toSeq).getOrElse(Seq.empty)
            val existingRoot = existingLines.collectFirst {
              case l if l.startsWith("clone=") => l.stripPrefix("clone=") }
            require(existingRoot.forall(_ == cloneRoot),
              s"borrow-lease collision at $lease: registered to " +
                s"'${existingRoot.getOrElse("<unreadable>")}', not '$cloneRoot'")
            val merged = (s"clone=$cloneRoot" +:
              (existingLines.filter(_.startsWith("dir=")) ++ mine)
                .distinct.sorted)
              .mkString("\n").getBytes("UTF-8")
            graft.util.AtomicFlip.writeAtomic(ofs, conf, lease, merged)
            landed = readSmall(ofs, lease)
              .exists(c => mine.subsetOf(c.linesIterator.toSet))
          }
        }
        ofs.makeQualified(lease)
      }
  }

  /** A metadata file's text (manifest, pointer, tag, sidecar) — the
    * one metadata reader; every failure propagates, a missing file as
    * FileNotFoundException. */
  private[write] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** [[readText]] where a missing file is an answer: one open, with
    * only FileNotFoundException mapped to None. */
  private[write] def readTextIfExists(fs: FileSystem, p: Path): Option[String] =
    try Some(readText(fs, p))
    catch { case _: java.io.FileNotFoundException => None }

  /** Best-effort small-file read (None on any failure — lease parsing
    * must never make maintenance throw on debris). */
  private[write] def readSmall(fs: FileSystem, p: Path): Option[String] =
    try Some(readText(fs, p)) catch { case _: Exception => None }

  /** Default retention window for the orphan-dir sweeps ([[SnapshotTable.vacuum]],
    * [[SnapshotTable.expire]]): an unreferenced `_data` dir younger than this is
    * presumed to belong to a LIVE writer (data lands before the manifest
    * publishes) and is left alone. One hour matches the manifest-temp
    * sweep and bounds the commit duration maintenance can run
    * concurrently with. */
  val DefaultOrphanAgeMs: Long = 3600L * 1000
}

/** A second writer committed the same version first — re-read and retry. */
class SnapshotConflictException(msg: String) extends RuntimeException(msg)
