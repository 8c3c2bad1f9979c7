package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two Spark-internal calls graft's custom plans need — both
  * `private[sql]`, both the standard externally-used shapes (every
  * DSv1 table format's DML lowering does exactly these two things),
  * reached through the same namespace technique as [[StreamingBridge]]:
  *
  *  - `Dataset.ofRows`: turn a [[LogicalPlan]] back into a
  *    [[DataFrame]] — a parsed statement's source/query, so a lowered
  *    MERGE / INSERT command ([[graft.sql.GraftSqlSupport]]) can hand it
  *    to the commit API (analysis runs inside the command's own
  *    execution, not re-entrantly inside the analyzer rule), and a
  *    custom logical node ([[graft.plans.Sessionize]]);
  *  - `ExpressionUtils.column`: wrap a catalyst [[Expression]] as a
  *    public [[Column]] so DML conditions/assignments rebuilt by name
  *    re-resolve against the table's read frame.
  *
  * Nothing else is reached through this bridge. */
object SqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
