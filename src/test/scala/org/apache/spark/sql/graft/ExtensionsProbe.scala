package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** What a [[SparkSessionExtensions]] would inject into a session, and a
  * session built without any (both private[sql]). */
object ExtensionsProbe {
  def strategies(e: SparkSessionExtensions, s: SparkSession): Seq[SparkStrategy] =
    e.buildPlannerStrategies(s)

  def optimizerRules(e: SparkSessionExtensions, s: SparkSession)
      : Seq[Rule[LogicalPlan]] =
    e.buildOptimizerRules(s)

  /** A session sharing `s`'s context and state, with no extensions. Only
    * the primary constructor (private) takes the shared state, so it is
    * reached by reflection; the public paths would build a second
    * SharedState or replace the default session. */
  def withoutExtensions(s: SparkSession): SparkSession = {
    val c = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classOf[org.apache.spark.sql.classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }
}
