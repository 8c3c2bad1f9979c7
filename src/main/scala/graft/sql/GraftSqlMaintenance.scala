package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.sources.GraftDataSource
import graft.write.SnapshotTable

/** SQL maintenance verbs for graft snapshot tables — the PARSER layer
  * on top of [[GraftSqlExtensions]]' analyzer rules. The analyzer rules
  * could only lower statements Spark's own parser produces (time
  * travel, DML); the operational verbs every versioned-table stack
  * ships as SQL (Delta's `VACUUM`/`OPTIMIZE`/`RESTORE`/`DESCRIBE
  * HISTORY`, Iceberg's branch/tag DDL) have no stock grammar at all, so
  * this parser recognizes them FIRST and delegates every other
  * statement untouched — the exact architecture of Delta's
  * `DeltaSqlParser` (public technique: a delegating
  * [[ParserInterface]] injected via `injectParser`).
  *
  * {{{
  *   VACUUM t [RETAIN 48 HOURS] [DRY RUN]         -- vacuum / vacuumPreview
  *   OPTIMIZE t                                   -- commitCompactFiles
  *   OPTIMIZE t WHERE month = 7                   -- commitCompactFilesWhere
  *                                                --  (partition predicate)
  *   OPTIMIZE t ZORDER BY (c1)                    -- commitCompact (range)
  *   OPTIMIZE t ZORDER BY (c1, c2) [INTO 8 FILES] -- commitCompactZ
  *   DESCRIBE HISTORY t                           -- describeHistory
  *   RESTORE [TABLE] t TO VERSION AS OF 3         -- rollbackTo
  *   RESTORE [TABLE] t TO TIMESTAMP AS OF '...'   -- versionAt + rollbackTo
  *   ALTER TABLE t CREATE BRANCH b [AS OF VERSION 3]
  *   ALTER TABLE t CREATE TAG g   [AS OF VERSION 3]
  *   ALTER TABLE t DROP BRANCH b | DROP TAG g
  *   ALTER TABLE t FAST FORWARD BRANCH b [FORCE]  -- fastForward (strict
  *                                                --  unless FORCE)
  *   ALTER TABLE t LOCALIZE                       -- localize (a shallow
  *                                                --  clone owns all bytes)
  *   ALTER TABLE t ADD CONSTRAINT c CHECK (expr)  -- addConstraint
  *   ALTER TABLE t DROP CONSTRAINT c              -- dropConstraint
  *   ALTER TABLE t RENAME COLUMN a TO b           -- renameColumn (metadata-only)
  *   ALTER TABLE t DROP COLUMN c                  -- dropColumn (metadata-only)
  *   ALTER TABLE t ALTER COLUMN c TYPE bigint     -- widenColumn (metadata-only)
  *   CREATE TABLE t SHALLOW CLONE s LOCATION 'p'  -- shallowClone (zero-copy)
  *   CREATE TABLE t [DEEP] CLONE s LOCATION 'p'   -- deepClone
  *   DESCRIBE DETAIL t                            -- detail (one row)
  * }}}
  *
  * Dispatch is on the leading keyword: `VACUUM`/`OPTIMIZE`/`RESTORE`
  * have no Spark meaning, so a malformed one gets THIS grammar's error,
  * never a confusing delegate parse failure; `DESCRIBE` falls through
  * unless its second word is `HISTORY` or `DETAIL`; `ALTER TABLE` falls through
  * unless the clause is one of the branch/tag shapes above (which stock
  * Spark would reject anyway); `CREATE` falls through unless it is the
  * `... CLONE ... LOCATION` shape. Table names are handed to the DELEGATE's
  * `parseMultipartIdentifier`, so backticks and db qualifiers parse
  * exactly as Spark parses them. Whether the target actually IS a
  * graft table is checked at EXECUTION (the commands refuse loudly on
  * non-graft providers) — parse-time has no session to ask.
  *
  * At 100 TB every command here is metadata-sized on the driver except
  * the OPTIMIZE rewrite itself, which is the distributed
  * read+cluster+write any engine's rewrite_data_files pays — and it
  * commits through the same optimistic CAS as every other writer, so
  * maintenance never locks the table. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    maintenancePlan(sqlText, delegate).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  // Grammar, one anchored case-insensitive regex per verb. Identifiers
  // are captured lazily up to the next keyword and re-parsed by the
  // delegate (so `db.t` and backticked names work); ref names are the
  // [A-Za-z0-9_]+ the engine's own tag/branch validation enforces.
  private val Vacuum =
    """(?is)\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val OptimizeZ =
    """(?is)\s*OPTIMIZE\s+(.+?)\s+ZORDER\s+BY\s+\(?\s*([^()]+?)\s*\)?(?:\s+INTO\s+(\d+)\s+FILES)?\s*;?\s*""".r
  private val OptimizeWhere =
    """(?is)\s*OPTIMIZE\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val OptimizePlain = """(?is)\s*OPTIMIZE\s+(.+?)\s*;?\s*""".r
  private val DescHistory = """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*""".r
  private val DescDetail = """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*""".r
  private val RestoreV =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTs =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val CreateRef =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+CREATE\s+(BRANCH|TAG)\s+([A-Za-z0-9_]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r
  private val DropRef =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+(BRANCH|TAG)\s+([A-Za-z0-9_]+)\s*;?\s*""".r
  private val FastForward =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+FAST\s+FORWARD\s+BRANCH\s+([A-Za-z0-9_]+)(\s+FORCE)?\s*;?\s*""".r
  private val Localize =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+LOCALIZE\s*;?\s*""".r
  private val AddConstraint =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraint =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s*;?\s*""".r
  // NOTE: ADD COLUMN(S) and SET/UNSET TBLPROPERTIES are deliberately
  // NOT parsed here — stock Spark's grammar covers them and its v1
  // execution works on ordinary parquet tables, so intercepting them at
  // parse time broke valid statements on NON-graft tables (a behavior
  // regression for every table in an extensions-enabled session). They
  // lower for graft targets via a provider-keyed post-hoc resolution
  // rule over Spark's own parsed-and-resolved commands instead
  // ([[GraftCatalogDdlRule]]), the exact [[GraftDmlRule]] architecture.
  private val WidenCol =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+ALTER\s+COLUMN\s+([A-Za-z0-9_]+)\s+TYPE\s+([A-Za-z0-9_() ,]+?)\s*;?\s*""".r
  private val RenameCol =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+RENAME\s+COLUMN\s+([A-Za-z0-9_]+)\s+TO\s+([A-Za-z0-9_]+)\s*;?\s*""".r
  private val DropCol =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+COLUMN\s+([A-Za-z0-9_]+)\s*;?\s*""".r
  // Clone idents are restricted to identifier-shaped tokens (word
  // chars, dots, backticks): a lazy `.+?` here fully matched valid
  // stock SQL — `CREATE TABLE x (a INT, clone STRING) USING parquet
  // LOCATION '/p'` — capturing `x (a INT,` as the table and erroring a
  // legitimate statement out of the delegate's reach.
  private val ShallowClone =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+SHALLOW\s+CLONE\s+([\w.`]+)\s+LOCATION\s+'([^']+)'(?:\s+POINTER\s+'([^']+)')?\s*;?\s*""".r
  private val DeepClone =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+(?:DEEP\s+)?CLONE\s+([\w.`]+)\s+LOCATION\s+'([^']+)'(?:\s+POINTER\s+'([^']+)')?\s*;?\s*""".r

  private val GrammarHelp =
    "graft maintenance grammar: VACUUM t [RETAIN n HOURS] [DRY RUN] | " +
      "OPTIMIZE t [WHERE partPred | ZORDER BY (c1, ...) [INTO n FILES]] | " +
      "DESCRIBE HISTORY t | DESCRIBE DETAIL t | " +
      "RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF ... | " +
      "CREATE TABLE t [SHALLOW] CLONE s LOCATION 'p' [POINTER 'store'] | " +
      "ALTER TABLE t CREATE|DROP BRANCH|TAG name [AS OF VERSION n] | " +
      "ALTER TABLE t FAST FORWARD BRANCH b [FORCE] | " +
      "ALTER TABLE t LOCALIZE | " +
      "ALTER TABLE t ADD CONSTRAINT c CHECK (expr) | DROP CONSTRAINT c | " +
      "ALTER TABLE t RENAME COLUMN a TO b | DROP COLUMN c | " +
      "ALTER COLUMN c TYPE widerType " +
      "(ADD COLUMN(S) and SET/UNSET TBLPROPERTIES are stock Spark " +
      "grammar, lowered for graft tables by GraftCatalogDdlRule)"

  /** The maintenance statement `sqlText` encodes, if any. `None` means
    * "not ours — delegate". A statement whose LEADING keyword is ours
    * but whose tail is malformed errors HERE with the grammar, because
    * the delegate could only produce a less helpful failure. */
  private[sql] def maintenancePlan(sqlText: String,
                                   delegate: ParserInterface): Option[LogicalPlan] = {
    val head = sqlText.trim.takeWhile(!_.isWhitespace).toUpperCase
    def ident(s: String): Seq[String] = delegate.parseMultipartIdentifier(s.trim)
    head match {
      case "VACUUM" => sqlText match {
        case Vacuum(tbl, retain, dry) =>
          Some(GraftVacuumCommand(ident(tbl),
            Option(retain).map(_.toLong * 3600L * 1000L),
            dryRun = dry != null))
        case _ => sys.error(s"cannot parse VACUUM statement; $GrammarHelp")
      }
      case "OPTIMIZE" =>
        def noCombo(tbl: String): String = {
          require(!"""(?i)\b(WHERE|ZORDER)\b""".r.findFirstIn(tbl).isDefined,
            "OPTIMIZE supports WHERE or ZORDER BY, not both (a scoped " +
              "rewrite and a clustered rewrite are different layouts)")
          tbl
        }
        sqlText match {
          case OptimizeZ(tbl, cols, n) =>
            val cs = cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
              .filter(_.nonEmpty).toSeq
            require(cs.nonEmpty, "OPTIMIZE ... ZORDER BY needs >= 1 column")
            Some(GraftOptimizeCommand(ident(noCombo(tbl)), cs,
              Option(n).map(_.toInt).getOrElse(8), None))
          case OptimizeWhere(tbl, cond) =>
            Some(GraftOptimizeCommand(ident(noCombo(tbl)), Seq.empty, 0,
              Some(cond.trim)))
          case OptimizePlain(tbl) =>
            Some(GraftOptimizeCommand(ident(tbl), Seq.empty, 0, None))
          case _ => sys.error(s"cannot parse OPTIMIZE statement; $GrammarHelp")
        }
      case "RESTORE" => sqlText match {
        case RestoreV(tbl, v) =>
          Some(GraftRestoreCommand(ident(tbl), Some(v.toInt), None))
        case RestoreTs(tbl, ts) =>
          Some(GraftRestoreCommand(ident(tbl), None, Some(ts)))
        case _ => sys.error(s"cannot parse RESTORE statement; $GrammarHelp")
      }
      case "DESC" | "DESCRIBE" => sqlText match {
        case DescHistory(tbl) => Some(GraftDescribeHistoryCommand(ident(tbl)))
        case DescDetail(tbl) => Some(GraftDescribeDetailCommand(ident(tbl)))
        case _ => None // every other DESCRIBE is Spark's
      }
      case "ALTER" => sqlText match {
        case CreateRef(tbl, kind, name, v) =>
          Some(GraftRefCommand(ident(tbl), kind.toUpperCase, "CREATE", name,
            Option(v).map(_.toInt)))
        case DropRef(tbl, kind, name) =>
          Some(GraftRefCommand(ident(tbl), kind.toUpperCase, "DROP", name, None))
        case FastForward(tbl, name, force) =>
          Some(GraftFastForwardCommand(ident(tbl), name, strict = force == null))
        case Localize(tbl) =>
          Some(GraftLocalizeCommand(ident(tbl)))
        case AddConstraint(tbl, name, check) =>
          Some(GraftConstraintCommand(ident(tbl), "ADD", name, Some(check.trim)))
        case DropConstraint(tbl, name) =>
          Some(GraftConstraintCommand(ident(tbl), "DROP", name, None))
        case RenameCol(tbl, from, to) =>
          Some(GraftColumnCommand(ident(tbl), from, renameTo = Some(to)))
        case WidenCol(tbl, name, toType) =>
          Some(GraftColumnCommand(ident(tbl), name,
            widenTo = Some(toType.trim)))
        case DropCol(tbl, name) =>
          Some(GraftColumnCommand(ident(tbl), name))
        case _ => None // every other ALTER is Spark's (incl. ADD
                       // COLUMN(S) and SET/UNSET TBLPROPERTIES — see
                       // the grammar note above)
      }
      case "CREATE" =>
        // belt-and-braces on top of the identifier-shaped captures: if a
        // captured token still fails the delegate's identifier parse,
        // the statement was never a clone — delegate it instead of
        // erroring valid stock SQL out of Spark's reach
        def cloneCmd(tbl: String, src: String, loc: String,
                     pointer: Option[String],
                     shallow: Boolean): Option[LogicalPlan] =
          scala.util.Try(
            GraftCloneCommand(ident(tbl), ident(src), loc, shallow,
              pointer)).toOption
        sqlText match {
          // SHALLOW first: the DeepClone pattern's optional DEEP keyword
          // would otherwise swallow "SHALLOW" into the table name
          case ShallowClone(tbl, src, loc, ptr) =>
            cloneCmd(tbl, src, loc, Option(ptr), shallow = true)
          case DeepClone(tbl, src, loc, ptr) =>
            cloneCmd(tbl, src, loc, Option(ptr), shallow = false)
          case _ => None // every other CREATE is Spark's
        }
      case _ => None
    }
  }

  /** Catalog entry for `nameParts`, refused loudly unless it is a graft
    * table — maintenance on a parquet/Delta/view target must never
    * silently no-op. */
  private[sql] def requireGraft(session: SparkSession,
                                nameParts: Seq[String]): CatalogTable =
    GraftSqlSupport.graftCatalogTable(session, UnresolvedRelation(nameParts))
      .getOrElse(sys.error(
        s"${nameParts.mkString(".")} is not a graft table (maintenance " +
          "commands operate on tables CREATEd USING graft)"))

  private[sql] def open(session: SparkSession,
                        nameParts: Seq[String]): (CatalogTable, SnapshotTable) = {
    val ct = requireGraft(session, nameParts)
    (ct, GraftSqlSupport.tableFor(session, ct))
  }

  private[sql] def refresh(session: SparkSession, ct: CatalogTable): Unit =
    session.catalog.refreshTable(ct.identifier.quotedString)
}

/** `VACUUM t [RETAIN n HOURS] [DRY RUN]` — sweep (or list, for DRY RUN)
  * never-referenced data dirs and stale publish temps older than the
  * retention window. Returns one row per dir, like Delta's VACUUM. */
case class GraftVacuumCommand(nameParts: Seq[String], retainMs: Option[Long],
                              dryRun: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("dir", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (_, t) = GraftSqlParser.open(session, nameParts)
    val ms = retainMs.getOrElse(SnapshotTable.DefaultOrphanAgeMs)
    (if (dryRun) t.vacuumPreview(ms) else t.vacuum(ms)).map(Row(_))
  }
}

/** `OPTIMIZE t [WHERE partPred | ZORDER BY (cols) [INTO n FILES]]` —
  * one compaction commit: bin-packing (no clause), partition-scoped
  * bin-packing (WHERE — partition-column predicates only, checked at
  * commit), range-clustered + stats-indexed (one ZORDER col), or
  * Z-ordered + stats-indexed (several). Returns the committed
  * version. */
case class GraftOptimizeCommand(nameParts: Seq[String], zorderCols: Seq[String],
                                nFiles: Int, whereSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val v = t.commitWithRetry()((zorderCols, whereSql) match {
      case (Seq(), None) => t.commitCompactFiles()
      case (Seq(), Some(w)) =>
        t.commitCompactFilesWhere(org.apache.spark.sql.functions.expr(w))
      case (Seq(c), _) => t.commitCompact(c, nFiles)
      case (cs, _) => t.commitCompactZ(cs, nFiles)
    })
    GraftSqlParser.refresh(session, ct)
    Seq(Row(v))
  }
}

/** `RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF ...` — Delta's RESTORE
  * over the snapshot protocol: [[SnapshotTable.rollbackTo]] commits a
  * NEW version whose entries are the target's, so history (including
  * the mistake being undone) stays time-travelable. Returns
  * (restored_to, version). */
case class GraftRestoreCommand(nameParts: Seq[String], version: Option[Int],
                               timestamp: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", IntegerType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val target = version.getOrElse {
      val ms = GraftDataSource.parseTimestamp(timestamp.get)
      t.versionAt(ms).getOrElse(sys.error(
        s"no snapshot at or before ${timestamp.get} " +
          s"(earliest retained version postdates it)"))
    }
    val v = t.commitWithRetry()(t.rollbackTo(target))
    GraftSqlParser.refresh(session, ct)
    Seq(Row(target, v))
  }
}

/** `DESCRIBE HISTORY t` — the commit lineage as rows (version, op,
  * parent, n_entries, n_deletes), newest last; metadata-sized. */
case class GraftDescribeHistoryCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("parent", IntegerType, nullable = false)(),
    AttributeReference("n_entries", IntegerType, nullable = false)(),
    AttributeReference("n_deletes", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (_, t) = GraftSqlParser.open(session, nameParts)
    t.describeHistory().collect().toSeq
  }
}

/** `ALTER TABLE t CREATE|DROP BRANCH|TAG name [AS OF VERSION n]` —
  * Iceberg's ref DDL over the engine's tag/branch primitives. CREATE
  * defaults to the current version; DROP TAG releases the retention
  * pin, DROP BRANCH removes the lineage's manifests (its dirs await
  * expire/vacuum). */
case class GraftRefCommand(nameParts: Seq[String], kind: String, action: String,
                           refName: String, asOfVersion: Option[Int])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val (_, t) = GraftSqlParser.open(session, nameParts)
    def at = asOfVersion.orElse(t.currentVersion).getOrElse(
      sys.error(s"table ${nameParts.mkString(".")} has no snapshot yet"))
    (action, kind) match {
      case ("CREATE", "BRANCH") => t.createBranch(refName, at)
      case ("CREATE", "TAG") => t.tag(refName, at)
      case ("DROP", "BRANCH") => t.dropBranch(refName)
      case ("DROP", "TAG") => t.dropTag(refName)
      case _ => sys.error(s"unsupported ref DDL: $action $kind")
    }
    Seq.empty
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` / `DROP CONSTRAINT
  * name` — Delta's table-constraint DDL over the versioned manifest
  * set: ADD validates existing data first and every later commit
  * enforces the CHECK on its new data dir before publishing. Returns
  * the committed version. */
case class GraftConstraintCommand(nameParts: Seq[String], action: String,
                                  conName: String, checkSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val v = t.commitWithRetry()(action match {
      case "ADD" => t.addConstraint(conName, checkSql.get)
      case "DROP" => t.dropConstraint(conName)
    })
    GraftSqlParser.refresh(session, ct)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` / `DROP COLUMN c` / `ALTER
  * COLUMN c TYPE wider` — schema surgery as ONE metadata commit, no
  * data rewrite (Delta's column mapping + type widening re-expressed
  * over the manifest protocol: [[SnapshotTable.renameColumn]] /
  * [[SnapshotTable.dropColumn]] / [[SnapshotTable.widenColumn]]).
  * Stock Spark only supports these clauses on v2 catalogs; here they
  * are intercepted and refused loudly on non-graft targets, which for
  * the v1 tables this engine serves is strictly more helpful than the
  * delegate's v2-only failure. Returns the committed version. */
case class GraftColumnCommand(nameParts: Seq[String], colName: String,
                              renameTo: Option[String] = None,
                              widenTo: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val v = t.commitWithRetry()((renameTo, widenTo) match {
      case (Some(to), _) => t.renameColumn(colName, to)
      case (_, Some(toT)) => t.widenColumn(colName, toT)
      case _ => t.dropColumn(colName)
    })
    // the catalog pinned the schema at CREATE time and Spark refuses a
    // relation whose inferred schema drifted from it — apply the same
    // surgery to the STORED schema (preserving the catalog's own field
    // order and partition placement). alterTable, not
    // alterTableDataSchema: the latter hard-refuses drops.
    def ddlType(s: String) = org.apache.spark.sql.types.DataType.fromDDL(s)
    val surgered = ct.schema.fields.toSeq.flatMap { f =>
      if (f.name != colName) Some(f)
      else (renameTo, widenTo) match {
        case (Some(to), _) => Some(f.copy(name = to))
        case (_, Some(toT)) => Some(f.copy(dataType = ddlType(toT)))
        case _ => None
      }
    }
    session.sessionState.catalog.alterTable(
      ct.copy(schema = StructType(surgered)))
    GraftSqlParser.refresh(session, ct)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t ADD COLUMN[S] (c1 t1, c2 t2, ...)` on a GRAFT table —
  * stock Spark grammar, intercepted after resolution by
  * [[GraftCatalogDdlRule]] (never at parse time: non-graft tables keep
  * Spark's own v1 execution). All added columns land as ONE metadata
  * commit ([[SnapshotTable.addColumns]] — one manifest, N ColAdds, one
  * era step), and the catalog schema follows. Returns the committed
  * version. */
case class GraftAddColumnsCommand(nameParts: Seq[String],
                                  cols: Seq[(String, String)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val v = t.commitWithRetry()(t.addColumns(cols))
    GraftSqlSupport.syncCatalogSchema(session, ct, t)
    GraftSqlParser.refresh(session, ct)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES('k'='v', ...)` / `UNSET
  * TBLPROPERTIES [IF EXISTS] ('k', ...)` on a GRAFT table — stock Spark
  * grammar, intercepted after resolution by [[GraftCatalogDdlRule]]
  * (never at parse time: non-graft tables keep Spark's own v1 catalog
  * execution). Properties land as VERSIONED commit metadata
  * ([[SnapshotTable.setProperties]]): they ride the manifest, time
  * travel with the data, and need no catalog side store. Surfaced by
  * `DESCRIBE DETAIL` and the Scala `properties` API. `ifExists` (the
  * stock UNSET modifier) skips unknown keys instead of refusing; an
  * UNSET whose keys ALL miss is a no-op (current version, no empty
  * commit). */
case class GraftPropertiesCommand(nameParts: Seq[String],
                                  kvs: Seq[(String, String)], set: Boolean,
                                  ifExists: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val v = t.commitWithRetry() {
      if (set) t.setProperties(kvs)
      else {
        val keys =
          if (!ifExists) kvs.map(_._1)
          else { val have = t.properties.keySet; kvs.map(_._1).filter(have) }
        if (keys.isEmpty) t.currentVersion.getOrElse(0)
        else t.unsetProperties(keys)
      }
    }
    GraftSqlParser.refresh(session, ct)
    Seq(Row(v))
  }
}

/** Provider-keyed POST-HOC resolution rule for the ALTER verbs stock
  * Spark both parses AND executes on v1 tables — `SET TBLPROPERTIES`,
  * `UNSET TBLPROPERTIES`, `ADD COLUMN(S)`. Intercepting these in the
  * delegating parser (as every verb with NO stock grammar is) broke
  * them for NON-graft tables: the parser sees no catalog, so a parquet
  * table's valid statement reached a graft command that refused it at
  * execution. Instead this rule runs after Spark's own resolution has
  * lowered the statement to its v1 command
  * ([[org.apache.spark.sql.execution.command.AlterTableSetPropertiesCommand]]
  * et al.) and swaps in the graft commit command ONLY when the target's
  * catalog provider is `graft` — every other table keeps stock
  * behavior, stock errors, stock everything. Same architecture as
  * [[GraftDmlRule]]. */
class GraftCatalogDdlRule(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.execution.command.{AlterTableAddColumnsCommand, AlterTableSetPropertiesCommand, AlterTableUnsetPropertiesCommand}

  private def graftParts(ident: TableIdentifier): Option[Seq[String]] = {
    val parts = ident.database.toSeq :+ ident.table
    GraftSqlSupport.graftCatalogTable(session, UnresolvedRelation(parts))
      .map(_ => parts)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case AlterTableSetPropertiesCommand(ident, props, false)
        if graftParts(ident).isDefined =>
      GraftPropertiesCommand(graftParts(ident).get, props.toSeq.sorted,
        set = true)
    case AlterTableUnsetPropertiesCommand(ident, keys, ifExists, false)
        if graftParts(ident).isDefined =>
      GraftPropertiesCommand(graftParts(ident).get, keys.map(_ -> ""),
        set = false, ifExists = ifExists)
    case AlterTableAddColumnsCommand(ident, cols)
        if graftParts(ident).isDefined =>
      // NOT NULL adds are refused loudly: every pre-add row reads the
      // new column as NULL by construction (metadata-only add), so a
      // non-nullable declaration would be false the moment it commits
      cols.filterNot(_.nullable).foreach(f => sys.error(
        s"ADD COLUMN ${f.name} NOT NULL is not supported on graft " +
          "tables: rows written before the add read the column as NULL " +
          "(metadata-only add). Add it nullable, backfill, then enforce " +
          s"with ADD CONSTRAINT ... CHECK (${f.name} IS NOT NULL)"))
      GraftAddColumnsCommand(graftParts(ident).get,
        cols.map(f => f.name -> f.dataType.catalogString))
  }
}

/** `DESCRIBE DETAIL t` — Delta's one-row table detail, metadata-only
  * ([[SnapshotTable.detail]]): version, commit wall-clock, entry /
  * borrowed-dir / file / byte counts, partition columns, and the
  * CHECK constraint set. `num_borrowed_dirs > 0` identifies a live
  * shallow clone; `num_borrowed_by > 0` identifies the other side —
  * live clones still borrowing THIS table's dirs (retention pinned,
  * purge will refuse until they localize or drop). */
case class GraftDescribeDetailCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("committed_at_ms", LongType, nullable = false)(),
    AttributeReference("num_entries", IntegerType, nullable = false)(),
    AttributeReference("num_borrowed_dirs", IntegerType, nullable = false)(),
    AttributeReference("num_borrowed_by", IntegerType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (_, t) = GraftSqlParser.open(session, nameParts)
    val d = t.detail
    Seq(Row("graft", d.location, d.version, d.committedAtMs, d.numEntries,
      d.borrowedDirs, d.borrowedBy, d.numFiles, d.sizeBytes, d.numRows,
      d.partitionColumns.mkString(","),
      d.constraints.map { case (n, sql) => s"$n CHECK ($sql)" }.mkString("; "),
      d.properties.map { case (k, v) => s"$k=$v" }.mkString("; ")))
  }
}

/** `CREATE TABLE t [SHALLOW|DEEP] CLONE s LOCATION 'path'` — Delta's
  * CLONE DDL over the snapshot protocol. SHALLOW references the
  * source's current data dirs in place (one metadata commit, zero
  * bytes moved — the 100 TB dev-copy path); DEEP (the default, like
  * Delta) copies files for a fully independent lifecycle. The clone is
  * registered in the catalog as a graft table at `path`. Returns the
  * clone's version (always 1 for shallow). */
case class GraftCloneCommand(nameParts: Seq[String], srcParts: Seq[String],
                             location: String, shallow: Boolean,
                             pointer: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (_, src) = GraftSqlParser.open(session, srcParts)
    // POINTER 'store' makes the CLONE CAS-mode: its commit arbitration
    // lives in the named (or path-shaped, auto-opened durable file)
    // ConditionalStore — the only clone shape possible on object
    // stores. The option rides the catalog registration too, so every
    // later SQL verb on the clone resolves the same store.
    val store = pointer.map(n => graft.write.GraftStores.resolve(n)
      .getOrElse(sys.error(
        s"no ConditionalStore registered under '$n' — register the " +
          "deployment's catalog-backed store at startup " +
          s"(graft.write.GraftStores.register(\"$n\", store)), or use a " +
          "path-shaped name (file:/...) for a durable file-backed cell")))
    val clone =
      if (shallow) src.shallowClone(location, store)
      else src.deepClone(location, store)
    val name = nameParts.map(p => s"`$p`").mkString(".")
    // the registration statement is GENERATED SQL: a quote inside the
    // location/pointer value must not terminate the string literal
    // (standard SQL escaping — double the quote), and Spark's default
    // string-literal lexer also treats backslash as an escape
    // (unescapeSQLString turns '\t' into a TAB), so backslashes must
    // be doubled too or the table registers under a DIFFERENT path
    // than the clone was created at
    def q(s: String): String = s.replace("\\", "\\\\").replace("'", "''")
    val ptrOpt = pointer.map(n => s", pointer '${q(n)}'").getOrElse("")
    session.sql(
      s"CREATE TABLE $name USING graft OPTIONS (path '${q(location)}'$ptrOpt)")
    Seq(Row(clone.currentVersion.getOrElse(0)))
  }
}

/** `ALTER TABLE t LOCALIZE` — [[SnapshotTable.localize]]: make a
  * shallow clone own every byte it references (compact + expire of the
  * borrowing history + borrow-lease release), freeing the source's
  * retention. A no-op on a table that borrows nothing; refuses loudly
  * when a tag/branch pins borrowing history. Returns the resulting
  * version. */
case class GraftLocalizeCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    t.localize()
    GraftSqlParser.refresh(session, ct)
    Seq(Row(t.currentVersion.getOrElse(0)))
  }
}

/** `ALTER TABLE t FAST FORWARD BRANCH b [FORCE]` — publish a branch's
  * lineage onto main. Strict by default (refuses when main moved past
  * the fork — the checked-fork CAS base); FORCE opts into the rebase
  * semantics. Returns the published main version. */
case class GraftFastForwardCommand(nameParts: Seq[String], branch: String,
                                   strict: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ct, t) = GraftSqlParser.open(session, nameParts)
    val v = t.fastForward(branch, strict)
    GraftSqlParser.refresh(session, ct)
    Seq(Row(v))
  }
}
