package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The three Spark-internal calls graft's custom plans and reads need —
  * each `private[sql]` or `private[spark]`, each a standard
  * externally-used shape (every DSv1 table format's DML lowering does
  * the first two; every file relation built outside `DataSource` the
  * third), reached through the same namespace technique as
  * [[StreamingBridge]]:
  *
  *  - `Dataset.ofRows`: turn a [[LogicalPlan]] back into a
  *    [[DataFrame]] — a parsed statement's source/query, so a lowered
  *    MERGE / INSERT command ([[graft.sql.GraftSqlSupport]]) can hand it
  *    to the commit API (analysis runs inside the command's own
  *    execution, not re-entrantly inside the analyzer rule), and a
  *    custom logical node ([[graft.plans.Sessionize]]);
  *  - `ExpressionUtils.column`: wrap a catalyst [[Expression]] as a
  *    public [[Column]] so DML conditions/assignments rebuilt by name
  *    re-resolve against the table's read frame;
  *  - `StructType.asNullable`: the data schema `DataSource` gives a
  *    file relation, for [[graft.Tables.parquet]]'s footer schema.
  *
  * Nothing else is reached through this bridge. */
object SqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def asNullable(schema: StructType): StructType = schema.asNullable
}
