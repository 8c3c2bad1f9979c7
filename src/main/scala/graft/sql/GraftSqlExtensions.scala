package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, UnresolvedCatalogRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, TimestampType}

import graft.sources.GraftDataSource
import graft.write.SnapshotTable

/** SQL syntax for graft snapshot tables — the analyzer-rule layer that
  * closes the DSv1 trade documented at
  * [[graft.sources.GraftDataSource]] ("the DSv2-only conveniences are
  * served by read options and the Scala commit API"): with these rules
  * injected (`SparkSession.builder.withExtensions(new
  * graft.expr.GraftExtensions)` or `--conf
  * spark.sql.extensions=graft.expr.GraftExtensions`), a registered
  * graft table takes the LITERAL SQL the reference's users write
  * against their Iceberg catalog (`dbt/profiles.yml:4–13` pins Trino
  * on Iceberg; Iceberg serves all of the below):
  *
  * {{{
  *   SELECT ... FROM t VERSION AS OF 3          -- time travel
  *   SELECT ... FROM t TIMESTAMP AS OF '2026-08-14T12:00:00Z'
  *   INSERT INTO t SELECT ...                   -- commitAppend
  *   INSERT OVERWRITE t SELECT ...              -- commitOverwrite[Partitions]
  *   DELETE FROM t WHERE cond                   -- commitDelete (COW or MOR)
  *   UPDATE t SET x = f(x) WHERE cond           -- commitUpdate
  *   MERGE INTO t USING s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *           -- commitMerge (upsert)
  * }}}
  *
  * ARCHITECTURE — intercept-and-lower, the same shape Delta Lake used
  * for years on DSv1: Spark's parser already produces the logical
  * nodes ([[RelationTimeTravel]], [[DeleteFromTable]], [[UpdateTable]],
  * [[MergeIntoTable]], [[InsertIntoStatement]]); for v1 sources the
  * built-in analyzer would refuse them ("only supported with v2
  * tables") or, for INSERT, take the raw-file path that writes parquet
  * UNDERNEATH the commit protocol. These resolution rules fire first
  * (custom rules run inside the same fixed-point Resolution batch,
  * before the postHoc v1 insert analysis), recognize targets whose
  * session-catalog entry has `provider = graft`, and replace the whole
  * statement with a [[LeafRunnableCommand]] that executes the engine's
  * OWN commit — atomic, versioned, conflict-checked, retried
  * ([[SnapshotTable.commitWithRetry]]). Non-graft tables never match:
  * every rule keys on the catalog provider, so parquet/Delta/v2 tables
  * keep Spark's stock behavior and error messages.
  *
  * Condition/assignment expressions are rebuilt BY NAME
  * ([[GraftSqlSupport.byName]]): the analyzer may have resolved them
  * against the statement's own relation instance (exprIds foreign to
  * the frame the commit will read), so every attribute is re-anchored
  * as an [[UnresolvedAttribute]] and re-resolves against the table's
  * read — same trick as rewriting `WHERE t.x > 1` to `WHERE x > 1`.
  * Subqueries in DML conditions are refused loudly (the commit API
  * takes a self-contained predicate; correlated rewrites are a
  * different machine).
  *
  * At 100 TB nothing here touches data on the driver: each command
  * lowers onto the same commit plans the Scala API uses (COW scoped to
  * touched partitions, MOR as pure metadata, merge shuffled by key),
  * and the rules themselves are O(plan) name lookups. */
object GraftSqlSupport {

  private def isGraft(ct: CatalogTable): Boolean =
    ct.provider.exists(_.equalsIgnoreCase("graft"))

  /** The session-catalog entry behind a DML target / FROM relation, if
    * it is a graft table. Handles every resolution stage the fixed
    * point can present: the raw [[UnresolvedRelation]] (first
    * iteration), the catalog shape ([[UnresolvedCatalogRelation]]),
    * and the fully-resolved [[LogicalRelation]] (which records its
    * [[CatalogTable]]) — each possibly under [[SubqueryAlias]]es.
    * Temp views never match (a view is not a table; DML on one should
    * keep Spark's own refusal). */
  def graftCatalogTable(session: SparkSession, plan: LogicalPlan): Option[CatalogTable] = {
    def lookup(nameParts: Seq[String]): Option[CatalogTable] = {
      val catalog = session.sessionState.catalog
      if (catalog.isTempView(nameParts)) None
      else {
        val ident = nameParts match {
          case Seq(t) => Some(TableIdentifier(t))
          case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
          case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
            Some(TableIdentifier(t, Some(db)))
          case _ => None
        }
        ident.flatMap { id =>
          try {
            if (catalog.tableExists(id)) Some(catalog.getTableMetadata(id))
            else None
          } catch { case _: Exception => None }
        }.filter(isGraft)
      }
    }
    plan match {
      case SubqueryAlias(_, child) => graftCatalogTable(session, child)
      case u: UnresolvedRelation => lookup(u.multipartIdentifier)
      case UnresolvedCatalogRelation(ct, _, _) => Some(ct).filter(isGraft)
      case lr: LogicalRelation => lr.catalogTable.filter(isGraft)
      case _ => None
    }
  }

  /** Table root: the `path` OPTION wins (how `CREATE TABLE ... USING
    * graft OPTIONS (path ...)` records it), else the catalog location. */
  def rootOf(ct: CatalogTable): String =
    ct.storage.properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.orElse(ct.storage.locationUri.map(u => new Path(u).toString))
      .getOrElse(sys.error(s"graft table ${ct.identifier} records no path"))

  /** Open the [[SnapshotTable]] behind a catalog entry — partition
    * columns AND the optional named `pointer` store discovered exactly
    * as the read format discovers them (one construction seam:
    * [[GraftDataSource.openTable]]), so a CAS-mode table declared with
    * `OPTIONS (path ..., pointer 'name')` arbitrates through its store
    * from every SQL verb. */
  def tableFor(session: SparkSession, ct: CatalogTable): SnapshotTable =
    GraftDataSource.openTable(session, rootOf(ct), ct.storage.properties)

  /** Rebuild an analyzer expression as a by-name [[Column]] that
    * re-resolves against the table's own read frame: resolved
    * attributes (foreign exprIds) and qualified references (`t.x`)
    * both become bare-name [[UnresolvedAttribute]]s. Subqueries are
    * refused — the commit API takes a self-contained predicate. */
  def byName(e: Expression): Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"subqueries are not supported in graft DML conditions (got: ${e.sql}); " +
        "materialize the subquery and MERGE, or filter in Scala via the commit API")
    SqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
      case u: UnresolvedAttribute => UnresolvedAttribute(Seq(u.nameParts.last))
    })
  }

  /** `TIMESTAMP AS OF <expr>` → the format's `timestampAsOf` option
    * string. String literals pass through (the option parser takes ISO
    * instants, local timestamps, and epoch millis); any other foldable
    * expression is evaluated as a timestamp and passed as epoch
    * millis. */
  def timestampOption(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case Literal(micros: Long, TimestampType) => (micros / 1000L).toString
    case other if other.resolved && other.foldable =>
      val v = Cast(other, TimestampType,
        Some(java.util.TimeZone.getDefault.getID)).eval(null)
      require(v != null, s"TIMESTAMP AS OF evaluated to NULL: ${other.sql}")
      (v.asInstanceOf[Long] / 1000L).toString
    case other => sys.error(
      s"TIMESTAMP AS OF needs a literal or foldable timestamp, got: ${other.sql}")
  }

  /** A resolved relation plan for a catalog graft table with extra read
    * options (the time-travel selectors), built DIRECTLY against the
    * format — no re-entrant analyzer call, same relation the catalog
    * itself would serve. */
  def relationPlan(session: SparkSession, ct: CatalogTable,
                   extra: Map[String, String]): LogicalPlan = {
    val params = ct.storage.properties.filterNot {
      case (k, _) => k.equalsIgnoreCase("path")
    } ++ extra + ("path" -> rootOf(ct))
    LogicalRelation(
      new GraftDataSource().createRelation(session.sqlContext, params), false)
  }

  /** Last name part of an attribute-shaped expression (`k`, `t.k`),
    * or a loud refusal for anything else. */
  def attrName(e: Expression, where: String): String = e match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => sys.error(s"$where must be a column reference, got: ${other.sql}")
  }

  private[sql] def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The upsert key columns of a MERGE condition — a conjunction of
    * same-named target/source equalities (`t.k = s.k [AND ...]`), the
    * canonical upsert shape [[SnapshotTable.commitMerge]] serves.
    * Anything richer is refused with the supported shape named. */
  def mergeKeys(cond: Expression): Seq[String] = conjuncts(cond).map {
    case EqualTo(l, r) =>
      val ln = attrName(l, "MERGE ON")
      val rn = attrName(r, "MERGE ON")
      require(ln.equalsIgnoreCase(rn),
        s"MERGE ON equality must join same-named key columns (got $ln = $rn); " +
          "alias the source column to the target's name")
      ln
    case other => sys.error(
      s"MERGE ON supports only conjunctions of key equalities, got: ${other.sql}")
  }

  /** Which side a MERGE-clause expression's columns resolve against —
    * the rewrite target of [[mergeNamespace]]. */
  sealed trait MergeNs
  /** Matched clauses: target columns bare, source columns prefixed
    * [[SnapshotTable.SrcPrefix]] (the joined-frame namespace). */
  case object JoinedNs extends MergeNs
  /** NOT MATCHED insert conditions: source columns bare; target
    * references are invalid SQL (all NULL) and refused. */
  case object SourceNs extends MergeNs
  /** NOT MATCHED BY SOURCE conditions: target columns bare; source
    * references refused. */
  case object TargetNs extends MergeNs

  /** Rewrite a MERGE-clause expression into the namespace
    * [[SnapshotTable.commitMergeGeneral]] expects: each attribute is
    * assigned a side — by its qualifier when present (`t.x` / `s.x`),
    * by unique schema membership when bare — and re-anchored as an
    * UnresolvedAttribute under the side's name (source side prefixed in
    * the joined namespace). Ambiguous bare names (both schemas carry
    * the column, joined namespace) are refused with the fix named —
    * qualify — rather than silently picking a side. Subqueries are
    * refused as in [[byName]]. */
  def mergeNamespace(e: Expression, tgtCols: Seq[String], srcCols: Seq[String],
                     tgtAliases: Set[String], srcAliases: Set[String],
                     ns: MergeNs): Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"subqueries are not supported in graft MERGE clauses (got: ${e.sql})")
    def rewrite(nameParts: Seq[String]): Seq[String] = {
      val name = nameParts.last
      val qual =
        if (nameParts.size > 1) Some(nameParts.init.last.toLowerCase) else None
      def srcName = srcCols.find(_.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"MERGE clause references '$name', not a source column " +
          s"(source has: ${srcCols.mkString(", ")})"))
      def tgtName = tgtCols.find(_.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"MERGE clause references '$name', not a table column " +
          s"(table has: ${tgtCols.mkString(", ")})"))
      val isSrc: Boolean = qual match {
        case Some(q) if srcAliases(q) && tgtAliases(q) =>
          sys.error(s"qualifier '$q' names both MERGE sides — alias them apart")
        case Some(q) if srcAliases(q) => true
        case Some(q) if tgtAliases(q) => false
        case Some(q) => sys.error(
          s"unknown qualifier '$q' in MERGE clause (target aliases: " +
            s"${tgtAliases.mkString(", ")}; source: ${srcAliases.mkString(", ")})")
        case None => ns match {
          case SourceNs => true
          case TargetNs => false
          case JoinedNs =>
            val inT = tgtCols.exists(_.equalsIgnoreCase(name))
            val inS = srcCols.exists(_.equalsIgnoreCase(name))
            if (inT && inS) sys.error(
              s"column '$name' is ambiguous in this MERGE clause (both the " +
                "table and the source have it) — qualify it with an alias")
            else if (inS) true
            else if (inT) false
            else sys.error(s"unknown column '$name' in MERGE clause")
        }
      }
      (ns, isSrc) match {
        case (SourceNs, false) => sys.error(
          s"a NOT MATCHED insert condition can only reference SOURCE " +
            s"columns; '$name' is the table's")
        case (TargetNs, true) => sys.error(
          s"a NOT MATCHED BY SOURCE condition can only reference TABLE " +
            s"columns; '$name' is the source's")
        case (JoinedNs, true) => Seq(SnapshotTable.SrcPrefix + srcName)
        case (_, true) => Seq(srcName)
        case (_, false) => Seq(tgtName)
      }
    }
    SqlBridge.column(e.transform {
      case a: AttributeReference =>
        UnresolvedAttribute(rewrite(a.qualifier.lastOption.toSeq :+ a.name))
      case u: UnresolvedAttribute => UnresolvedAttribute(rewrite(u.nameParts))
    })
  }

  /** After a commit that may have widened the schema additively (a
    * MERGE whose source carried new columns), add the new fields to
    * the CATALOG's pinned schema — Spark refuses a relation whose
    * inferred schema drifted from the catalog's, so without this the
    * very next `spark.table(name)` read would fail. Name-keyed (pinned
    * fields keep their definitions); metadata-sized (one manifest/sidecar
    * read). */
  def syncCatalogSchema(session: SparkSession, ct: CatalogTable,
                        t: SnapshotTable): Unit = {
    val after = t.read().schema
    def pinned(name: String) = ct.schema.find(_.name.equalsIgnoreCase(name))
    // the relation serves the table's read order (new data columns
    // before the partition columns) — mirror that order or Spark
    // refuses the schema as mismatched. An empty catalog schema is
    // inferred per read and needs no sync.
    if (ct.schema.nonEmpty && after.exists(f => pinned(f.name).isEmpty))
      session.sessionState.catalog.alterTable(ct.copy(schema =
        org.apache.spark.sql.types.StructType(
          after.fields.map(f => pinned(f.name).getOrElse(f)))))
  }

  /** The alias/table names a MERGE clause may use to qualify a plan's
    * columns (lowercased): subquery aliases plus the relation's own
    * last name part. */
  def aliasesOf(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, child) => aliasesOf(child) + id.name.toLowerCase
    case u: UnresolvedRelation => Set(u.multipartIdentifier.last.toLowerCase)
    case UnresolvedCatalogRelation(ct, _, _) => Set(ct.identifier.table.toLowerCase)
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.table.toLowerCase).toSet
    case _ => Set.empty
  }
}

/** A general-MERGE WHEN clause as captured at RULE time: raw (possibly
  * unresolved) expressions plus the statement's alias context —
  * resolution into [[SnapshotTable.commitMergeGeneral]]'s namespace
  * happens at RUN time, where both frames' schemas exist. */
object RawMergeClause {
  sealed trait Clause { def cond: Option[Expression] }
  case class UpdateAll(cond: Option[Expression]) extends Clause
  case class Update(sets: Seq[(String, Expression)],
                    cond: Option[Expression]) extends Clause
  case class MatchedDelete(cond: Option[Expression]) extends Clause
  case class InsertAll(cond: Option[Expression]) extends Clause
  case class Insert(sets: Seq[(String, Expression)],
                    cond: Option[Expression]) extends Clause
  case class BySourceDelete(cond: Option[Expression]) extends Clause
  case class BySourceUpdate(sets: Seq[(String, Expression)],
                            cond: Option[Expression]) extends Clause
}

/** `SELECT ... FROM t VERSION AS OF n | TIMESTAMP AS OF ts` on graft
  * catalog tables: the parser's [[RelationTimeTravel]] (which v1
  * sources cannot resolve) lowers onto the format's
  * `versionAsOf`/`timestampAsOf` read options — the identical snapshot
  * resolution, now reachable as literal SQL. */
class GraftTimeTravelRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftSqlSupport._
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case RelationTimeTravel(u: UnresolvedRelation, ts, version)
        if graftCatalogTable(session, u).isDefined =>
      val ct = graftCatalogTable(session, u).get
      val extra = (ts, version) match {
        case (None, Some(v)) => Map("versionAsOf" -> v)
        case (Some(e), None) => Map("timestampAsOf" -> timestampOption(e))
        case _ => sys.error("exactly one of VERSION AS OF / TIMESTAMP AS OF")
      }
      SubqueryAlias(u.multipartIdentifier.last, relationPlan(session, ct, extra))
  }
}

/** SQL DML on graft catalog tables — DELETE / UPDATE / MERGE / INSERT
  * statements lower onto the engine's commit protocol (see
  * [[GraftSqlSupport]] for the architecture note). */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftSqlSupport._

  private def mor(conf: String): Boolean =
    session.conf.get(conf, "cow") match {
      case "cow" => false
      case "mor" => true
      case other => sys.error(s"$conf must be 'cow' or 'mor', got '$other'")
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {

    case DeleteFromTable(target, cond)
        if graftCatalogTable(session, target).isDefined =>
      GraftDeleteCommand(graftCatalogTable(session, target).get,
        byName(cond), mor("spark.graft.sql.deleteMode"))

    case UpdateTable(target, assignments, cond)
        if graftCatalogTable(session, target).isDefined =>
      val sets = assignments.map { a =>
        attrName(a.key, "UPDATE SET target") -> byName(a.value)
      }
      GraftUpdateCommand(graftCatalogTable(session, target).get,
        cond.map(byName).getOrElse(lit(true)), sets)

    case MergeIntoTable(target, source, mergeCond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if graftCatalogTable(session, target).isDefined =>
      val ct = graftCatalogTable(session, target).get
      val keys = mergeKeys(mergeCond)
      val canonical = matched == Seq(UpdateStarAction(None)) &&
        notMatched == Seq(InsertStarAction(None)) && notMatchedBySource.isEmpty
      if (canonical)
        // the unconditional upsert keeps its dedicated fast paths (COW
        // touched-partition rewrite or MOR metadata commit). WITH
        // SCHEMA EVOLUTION is accepted as written: the upsert's
        // unionByName already carries new source columns onto both
        // updated and inserted rows — the engine's additive evolution
        // IS the flag's semantics here.
        GraftMergeCommand(ct, source, keys, mor("spark.graft.sql.mergeMode"))
      else {
        // the general clause surface (conditional clauses, matched
        // DELETE, NOT MATCHED BY SOURCE DELETE) — copy-on-write only
        require(!mor("spark.graft.sql.mergeMode"),
          "conditional/DELETE MERGE clauses are copy-on-write only; " +
            "set spark.graft.sql.mergeMode=cow for this statement")
        val m = matched.map {
          case UpdateStarAction(c) => RawMergeClause.UpdateAll(c)
          case DeleteAction(c) => RawMergeClause.MatchedDelete(c)
          case UpdateAction(c, assigns, _) => RawMergeClause.Update(
            assigns.map(a => attrName(a.key, "UPDATE SET target") -> a.value), c)
          case other => sys.error(s"unsupported WHEN MATCHED action: $other")
        }
        val nm = notMatched.map {
          case InsertStarAction(c) => RawMergeClause.InsertAll(c)
          case InsertAction(c, assigns) => RawMergeClause.Insert(
            assigns.map(a => attrName(a.key, "INSERT column") -> a.value), c)
          case other => sys.error(s"unsupported WHEN NOT MATCHED action: $other")
        }
        val bs = notMatchedBySource.map {
          case DeleteAction(c) => RawMergeClause.BySourceDelete(c)
          case UpdateAction(c, assigns, _) => RawMergeClause.BySourceUpdate(
            assigns.map(a => attrName(a.key, "UPDATE SET target") -> a.value), c)
          case other => sys.error("unsupported WHEN NOT MATCHED BY SOURCE " +
            s"action: $other")
        }
        GraftMergeGeneralCommand(ct, source, keys, m ++ nm ++ bs,
          aliasesOf(target), aliasesOf(source), withSchemaEvolution)
      }

    case InsertIntoStatement(target, partSpec, userCols, query,
        overwrite, ifPartitionNotExists, byNameIns)
        if graftCatalogTable(session, target).isDefined =>
      require(partSpec.isEmpty,
        "INSERT ... PARTITION (...) is not supported on graft tables — " +
          "partitions are derived from row values; write the partition " +
          "columns as data")
      require(userCols.isEmpty,
        "INSERT with an explicit column list is not supported on graft " +
          "tables — provide every column (positionally, or INSERT ... BY NAME)")
      require(!ifPartitionNotExists,
        "IF NOT EXISTS is not supported on graft INSERT")
      GraftInsertCommand(graftCatalogTable(session, target).get, query,
        overwrite, byNameIns)
  }
}

/** `DELETE FROM t WHERE cond` → [[SnapshotTable.commitDelete]] (COW,
  * touched partitions only) or [[SnapshotTable.commitDeleteMor]]
  * (metadata-only predicate commit) per
  * `spark.graft.sql.deleteMode` = cow|mor. */
case class GraftDeleteCommand(table: CatalogTable, condition: Column,
                              mor: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftSqlSupport.tableFor(session, table)
    t.commitWithRetry()(
      if (mor) t.commitDeleteMor(condition) else t.commitDelete(condition))
    session.catalog.refreshTable(table.identifier.quotedString)
    Seq.empty
  }
}

/** `UPDATE t SET x = f(x) [WHERE cond]` → [[SnapshotTable.commitUpdate]]
  * (COW scoped to matching partitions; RHS sees pre-update values —
  * standard SQL UPDATE semantics). */
case class GraftUpdateCommand(table: CatalogTable, condition: Column,
                              sets: Seq[(String, Column)]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftSqlSupport.tableFor(session, table)
    t.commitWithRetry()(t.commitUpdate(condition, sets))
    session.catalog.refreshTable(table.identifier.quotedString)
    Seq.empty
  }
}

/** Canonical SQL upsert → [[SnapshotTable.commitMerge]] (COW) or
  * [[SnapshotTable.commitMergeMor]] per `spark.graft.sql.mergeMode`.
  * The source plan is re-analyzed at run time (it may reference any
  * table, including graft ones); duplicate source keys are refused by
  * the commit itself — MERGE's multiple-match error. */
case class GraftMergeCommand(table: CatalogTable, source: LogicalPlan,
                             keys: Seq[String], mor: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val batch = SqlBridge.ofRows(session, source)
    val t = GraftSqlSupport.tableFor(session, table)
    t.commitWithRetry()(
      if (mor) t.commitMergeMor(batch, keys) else t.commitMerge(batch, keys))
    GraftSqlSupport.syncCatalogSchema(session, table, t)
    session.catalog.refreshTable(table.identifier.quotedString)
    Seq.empty
  }
}

/** General SQL MERGE → [[SnapshotTable.commitMergeGeneral]]: ordered
  * conditional WHEN MATCHED UPDATE/DELETE clauses, conditional NOT
  * MATCHED INSERT *, and NOT MATCHED BY SOURCE DELETE, each lowered
  * onto one copy-on-write commit scoped to the partitions a clause
  * actually touches. Clause expressions were captured raw at rule time;
  * here — where the table's and the source's schemas both exist — each
  * is assigned its side (by qualifier or unique membership,
  * [[GraftSqlSupport.mergeNamespace]]) and rebuilt over the commit's
  * join namespace. Duplicate source keys are refused by the commit
  * itself (SQL MERGE's multiple-match error). */
case class GraftMergeGeneralCommand(table: CatalogTable, source: LogicalPlan,
                                    keys: Seq[String],
                                    clauses: Seq[RawMergeClause.Clause],
                                    tgtAliases: Set[String],
                                    srcAliases: Set[String],
                                    evolveSchema: Boolean = false) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    import GraftSqlSupport._
    import graft.write.SnapshotTable._
    val batch = SqlBridge.ofRows(session, source)
    val t = GraftSqlSupport.tableFor(session, table)
    val tgtCols = t.read().columns.toSeq
    val srcCols = batch.columns.toSeq
    def rw(e: Expression, ns: MergeNs): Column =
      mergeNamespace(e, tgtCols, srcCols, tgtAliases, srcAliases, ns)
    val when: Seq[MergeWhen] = clauses.map {
      case RawMergeClause.UpdateAll(c) =>
        WhenMatchedUpdateAll(c.map(rw(_, JoinedNs)))
      case RawMergeClause.Update(sets, c) =>
        WhenMatchedUpdate(sets.map { case (n, v) => n -> rw(v, JoinedNs) },
          c.map(rw(_, JoinedNs)))
      case RawMergeClause.MatchedDelete(c) =>
        WhenMatchedDelete(c.map(rw(_, JoinedNs)))
      case RawMergeClause.InsertAll(c) =>
        WhenNotMatchedInsertAll(c.map(rw(_, SourceNs)))
      case RawMergeClause.Insert(sets, c) =>
        WhenNotMatchedInsert(sets.map { case (n, v) => n -> rw(v, SourceNs) },
          c.map(rw(_, SourceNs)))
      case RawMergeClause.BySourceDelete(c) =>
        WhenNotMatchedBySourceDelete(c.map(rw(_, TargetNs)))
      case RawMergeClause.BySourceUpdate(sets, c) =>
        WhenNotMatchedBySourceUpdate(sets.map { case (n, v) => n -> rw(v, TargetNs) },
          c.map(rw(_, TargetNs)))
    }
    t.commitWithRetry()(t.commitMergeGeneral(batch, keys, when, evolveSchema))
    GraftSqlSupport.syncCatalogSchema(session, table, t)
    session.catalog.refreshTable(table.identifier.quotedString)
    Seq.empty
  }
}

/** `INSERT INTO | OVERWRITE t [BY NAME] SELECT ...` → the commit
  * protocol's load surface: append ([[SnapshotTable.commitAppend]]),
  * full overwrite ([[SnapshotTable.commitOverwrite]]), or — under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`, Spark's own
  * switch — dynamic partition overwrite
  * ([[SnapshotTable.commitOverwritePartitions]]). Without this rule an
  * INSERT would take Spark's raw-file path and write parquet underneath
  * the snapshot manifests (the hazard the format's save surface
  * documents); with it, SQL INSERT IS a commit. Positional inserts are
  * renamed to the table's column order after an arity check (the
  * catalog schema — data columns first, partition columns last);
  * `BY NAME` reorders by name with an exact column-set check. An
  * INSERT INTO an empty table is the initial load. */
case class GraftInsertCommand(table: CatalogTable, query: LogicalPlan,
                              overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    val df0 = SqlBridge.ofRows(session, query)
    val t = GraftSqlSupport.tableFor(session, table)
    // target schema: the live table's when it has a snapshot (survives
    // additive evolution), else the catalog's. Store-assignment CASTS
    // are applied per column — SQL `VALUES (9, 90.0, ...)` literals
    // arrive as DECIMAL and must land as the table's declared types,
    // exactly as Spark's own v1 insert preprocessing casts them.
    val target: Seq[org.apache.spark.sql.types.StructField] =
      if (t.currentVersion.isDefined) t.read().schema.fields.toSeq
      else table.schema.fields.toSeq
    val batch: DataFrame =
      if (target.isEmpty) df0 // fresh table, no recorded schema
      else if (byName) {
        val have = df0.schema.fieldNames.toSet
        val want = target.map(_.name)
        require(have == want.toSet,
          s"INSERT BY NAME columns ${have.toSeq.sorted.mkString(", ")} != " +
            s"table columns ${want.sorted.mkString(", ")}")
        df0.select(target.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      } else {
        require(df0.schema.size == target.size,
          s"INSERT arity ${df0.schema.size} != table arity ${target.size} " +
            s"(${target.map(_.name).mkString(", ")}); use INSERT ... BY NAME " +
            "to match by column name")
        df0.select(df0.columns.zip(target).map { case (c, f) =>
          col(s"`$c`").cast(f.dataType).as(f.name) }.toIndexedSeq: _*)
      }
    val dynamic = session.conf
      .get("spark.sql.sources.partitionOverwriteMode", "static")
      .equalsIgnoreCase("dynamic")
    t.commitWithRetry()(
      if (t.currentVersion.isEmpty) t.commitOverwrite(batch)
      else if (overwrite && dynamic) t.commitOverwritePartitions(batch)
      else if (overwrite) t.commitOverwrite(batch)
      else t.commitAppend(batch))
    session.catalog.refreshTable(table.identifier.quotedString)
    Seq.empty
  }
}
