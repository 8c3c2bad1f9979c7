package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator Catalyst extension exemplar: gap-based
  * sessionization as a FIRST-CLASS plan node — logical node, planner
  * strategy, and physical operator, registered through
  * `SparkSessionExtensions` (the (c) tier of the extension ladder;
  * the expression/rule/aggregator tiers are
  * [[graft.expr.CosineSimilarity]] / [[graft.expr.RewriteComposedCosine]]
  * / [[graft.expr.TopKAggregator]]).
  *
  * Why a custom operator at all: the composable formulation
  * ([[graft.operators.Events.sessionize]]) needs a `lag` window THEN a
  * running-sum window — two sorted window evaluations. This node
  * declares its requirements (`ClusteredDistribution` on the keys,
  * intra-partition order by (keys, ts)) and assigns session indexes in
  * ONE linear per-partition pass: same single shuffle, one sort, no
  * window machinery, O(1) state per partition. At 100 TB the win is
  * the removed second window pass over every event.
  *
  * Semantics: within each key, a new session starts when
  * `ts − previous ts > gapUs` (strictly greater — the
  * [[graft.operators.Events.sessionize]] convention); `session_idx` is
  * 1-based per key. NULL timestamps sort first; a row whose PREDECESSOR
  * has a null timestamp always opens a new session — exactly the lag
  * formulation's behavior, where `lag(ts)` returns the null and
  * `prev.isNull` fires `is_new` (so each null row is its own session
  * and the first real timestamp starts fresh rather than being glued to
  * the nulls by an overflowing `t − Long.MinValue` subtraction). */
case class SessionizeNode(keys: Seq[Expression], ts: Expression, gapUs: Long,
                          sessionAttr: AttributeReference, child: LogicalPlan)
    extends UnaryNode {
  require(gapUs > 0, "gap must be positive")
  override def output: Seq[Attribute] = child.output :+ sessionAttr
  override def producedAttributes: AttributeSet = AttributeSet(sessionAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): SessionizeNode =
    copy(child = newChild)
}

/** Physical gap-sessionizer. Declares distribution + ordering needs so
  * EnsureRequirements plans exactly one hash exchange and one sort;
  * execution is a streaming per-partition pass appending the running
  * session index. */
case class SessionizeExec(keys: Seq[Expression], ts: Expression, gapUs: Long,
                          sessionAttr: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ sessionAttr
  override def producedAttributes: AttributeSet = AttributeSet(sessionAttr :: Nil)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(keys))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) :+ SortOrder(ts, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val boundKeys = keys.map(BindReferences.bindReference(_, child.output))
    val boundTs = BindReferences.bindReference(ts, child.output)
    val outAttrs = child.output :+ sessionAttr
    val gap = gapUs
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(boundKeys)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val idxRow = new GenericInternalRow(1)
      var curKey: UnsafeRow = null
      var lastTs = 0L
      var lastTsNull = true
      var idx = 0L
      iter.map { row =>
        val k = keyProj(row)
        val tv = boundTs.eval(row)
        if (curKey == null || !k.equals(curKey)) {
          curKey = k.copy() // the projection reuses its buffer; detach
          idx = 1L
        } else if (lastTsNull || tv == null ||
            tv.asInstanceOf[Long] - lastTs > gap) {
          // lastTsNull fires is_new exactly like `lag` returning null
          // in the window formulation — no Long.MinValue sentinel, so
          // no overflow on the null→non-null transition. (The tv==null
          // arm is defensive: nulls sort first under the required
          // ordering, so a null can't follow a non-null within a key.)
          idx += 1L
        }
        lastTsNull = tv == null
        if (!lastTsNull) lastTs = tv.asInstanceOf[Long]
        idxRow.setLong(0, idx)
        outProj(joined(row, idxRow))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SessionizeExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node onto its exec — injected
  * via [[graft.expr.GraftExtensions]]. */
object SessionizeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SessionizeNode(keys, ts, gap, attr, child) =>
      SessionizeExec(keys, ts, gap, attr, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Public API: append a per-key 1-based `session_idx` column. */
object Sessionize {
  def apply(df: DataFrame, keyCols: Seq[String], tsCol: String,
            gapMinutes: Int): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val child = df.queryExecution.analyzed
    def attrOf(name: String): Attribute = child.output.find(_.name == name)
      .getOrElse(sys.error(s"Sessionize: no column '$name' in ${child.output.map(_.name)}"))
    val sessionAttr = AttributeReference("session_idx", LongType, nullable = false)()
    org.apache.spark.sql.graft.SqlBridge.ofRows(spark,
      SessionizeNode(keyCols.map(attrOf), attrOf(tsCol),
        gapMinutes * 60L * 1000000L, sessionAttr, child))
  }
}
