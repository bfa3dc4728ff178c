package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution

/** The few Spark internals the benchmark needs, reached from inside the
  * `org.apache.spark` namespace where they are visible. */
object Internals {

  /** Block until every posted listener event has been delivered, so a
    * listener's totals cover all work issued so far. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  private def classic(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  /** Force physical planning (analysis, optimization, planning) only. */
  def forcePlan(df: DataFrame): Unit = classic(df).queryExecution.executedPlan

  /** Run the query's physical plan as one SQL execution (the same
    * execution id and listener events a Dataset action gets) and fold
    * each output partition with `f`; results come back in partition
    * order. */
  def foldPartitions[T: scala.reflect.ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => T): Array[T] = {
    val qe = classic(df).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val rdd: RDD[InternalRow] = qe.toRdd
      rdd.mapPartitions(it => Iterator.single(f(it))).collect()
    }
  }

  def analyzed(df: DataFrame): LogicalPlan = classic(df).queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
