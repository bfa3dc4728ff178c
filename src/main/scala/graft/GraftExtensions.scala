package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions._
import graft.plans.{AsOfJoinPushdown, AsOfJoinStrategy}

/** Session extensions: the SQL surface for the engine's custom
  * expressions, and the planner hooks of the as-of join operator
  * ([[graft.plans.AsOfJoinStrategy]], [[graft.plans.AsOfJoinPushdown]]).
  *
  * Two registration paths:
  *  - `spark.sql.extensions=graft.GraftExtensions` (or
  *    `builder.withExtensions(new GraftExtensions)`) at session build;
  *  - [[GraftExtensions.register]] on an already-running session.
  *
  * Functions: `graft_dot_product(a, b)`, `graft_simhash64(hashes)`,
  * `graft_minhash_signature(hashes, n)`, `graft_shingles(tokens, n)`,
  * `graft_hash_value(id)`, `graft_hash_bucket(id, n)`,
  * `graft_media_meta(binary)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => AsOfJoinPushdown)
  }
}

object GraftExtensions {

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** The deterministic sampling hash as an expression tree of built-in
    * operators — SQL users get bit-identical split/sample assignment
    * (two-step prime reduction, see [[graft.ext.Sampling.hashBucket]])
    * without the Column API. */
  private def hashValueExpr(id: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Multiply, Pmod}
    import org.apache.spark.sql.types.LongType
    val p = Literal(graft.ext.Sampling.HashPrime)
    Pmod(Multiply(Pmod(Cast(id, LongType), p),
      Literal(graft.ext.Sampling.HashMult)), p)
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot_product" ->
      ((c: Seq[Expression]) => DotProduct(c(0), c(1))),
    "graft_simhash64" ->
      ((c: Seq[Expression]) => SimHash64(c.head)),
    "graft_minhash_signature" ->
      ((c: Seq[Expression]) => MinHashSignature(c(0), intArg(c(1)))),
    "graft_shingles" ->
      ((c: Seq[Expression]) => Shingles(c(0), intArg(c(1)))),
    "graft_hash_value" ->
      ((c: Seq[Expression]) => hashValueExpr(c(0))),
    "graft_hash_bucket" ->
      ((c: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Pmod}
        import org.apache.spark.sql.types.LongType
        Pmod(hashValueExpr(c(0)), Cast(c(1), LongType))
      }),
    "graft_media_meta" ->
      ((c: Seq[Expression]) => MediaMetaExpr(c.head)))

  /** Install everything [[GraftExtensions]] injects on an already-running
    * session. Idempotent: functions are replaced in place, and the
    * strategy and rule (always installed together) are added only when
    * the planner lacks the strategy. */
  def register(spark: SparkSession): Unit = {
    val bridge = org.apache.spark.sql.graft.Bridge
    all.foreach { case (name, builder) =>
      bridge.registerFunction(spark, name, builder)
    }
    if (!bridge.plannerStrategies(spark).contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies :+= AsOfJoinStrategy
      spark.experimental.extraOptimizations :+= AsOfJoinPushdown
    }
  }
}
