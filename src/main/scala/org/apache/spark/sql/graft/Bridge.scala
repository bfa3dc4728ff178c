package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ExpressionColumnNode}

/** Expression ↔ Column bridge for Spark 4's split Column API.
  *
  * Spark 4 made `Column` a backend-agnostic wrapper over `ColumnNode`;
  * building a Column from a Catalyst `Expression` (and back) is
  * `private[sql]`, so custom codegen expressions need this one-file
  * residence in the `org.apache.spark.sql` namespace — the same pattern
  * public Spark extension libraries use.
  */
object Bridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))
  def expression(c: Column): Expression = ColumnNodeExpression(c.node)

  /** Analyzed logical plan of a DataFrame (attributes resolved, ready to
    * be wired as a child of a custom logical node). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over a custom logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` as a leaf over its executed RDD — the plan `Dataset.checkpoint`
    * builds, without the storage. The plan runs here (its shuffles
    * materialize once, AQE stages included); every consumer of the
    * returned frame, however many references it holds, then reads
    * those shuffle outputs, with `df`'s statistics carried over (and its
    * output partitioning where the plan reports one; an adaptive plan
    * reports none, so consumers exchange as they need). Nothing is
    * pinned: the shuffle files live as long as the returned frame is
    * reachable, like any shuffle's. */
  def executedLeaf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.queryExecution
    val rdd = org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      qe, Some("executedLeaf"))(qe.executedPlan.execute())
    ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds,
        ds.isStreaming))
  }

  /** Register a SQL function on an EXISTING session (SparkSessionExtensions
    * only applies at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
  }

  /** The session planner's strategies, extension-injected ones included
    * (SessionState is private[sql]). */
  def plannerStrategies(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies
}
