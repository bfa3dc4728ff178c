package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class Catalyst operator — the engine's one
  * general as-of join, built on the SURVEY §2.9 "whole-operator"
  * extension path (logical node + planner strategy + physical plan)
  * because Spark lacks the operator and composing it costs something
  * real at 100 TB:
  *
  *  - a join+window form materializes |L|·|matching R| rows;
  *  - a union+mapPartitions form is linear but ALWAYS repartitions both
  *    sides and round-trips every row through `Row` objects — it cannot
  *    tell Catalyst "I need clustering on the keys and (key, time)
  *    order", so pre-bucketed/sorted inputs pay two avoidable exchanges.
  *
  * [[AsOfJoinExec]] declares those requirements instead and lets
  * EnsureRequirements plan them: unpartitioned children get one exchange
  * each, co-bucketed children (Export.writeBucketed tables) get ZERO —
  * asserted in PlansSpec. Execution is a single streaming merge of the
  * two sorted partitions: O(|L|+|R|), no buffering beyond one right row.
  *
  * Semantics (the SQL `r.key = l.key AND r.time <= l.time` match): the
  * comparison is inclusive, unmatched left rows survive with nulls, a
  * right row with a null key or a null time never matches (filtered out
  * in [[AsOfJoin.apply]]), and ties at equal (key, time) resolve to the
  * sort-greatest right row (the required right ordering appends every
  * orderable right column, making the pick deterministic).
  *
  * The strategy and the pushdown rule register through
  * [[graft.GraftExtensions]].
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Injected by
  * [[graft.GraftExtensions]], at session build or on a running session. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Cluster each side on its keys; EnsureRequirements co-partitions the
    * two sides (and elides the exchange when a child already satisfies
    * it — the bucketed-input fast path). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys, time) on both sides — the merge precondition. The right side
    * additionally sorts by its remaining orderable columns so the
    * tie-break among equal (key, time) rows is deterministic. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val l = leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)
    val keyTimeIds = (rightKeys :+ rightTime).flatMap(_.references.map(_.exprId)).toSet
    val tieBreak = right.output
      .filterNot(a => keyTimeIds.contains(a.exprId))
      .filter(a => RowOrdering.isOrderable(a.dataType))
      .map(SortOrder(_, Ascending))
    val r = (rightKeys.map(SortOrder(_, Ascending)) :+
      SortOrder(rightTime, Ascending)) ++ tieBreak
    Seq(l, r)
  }

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of left rows with a match"))

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val allOut = output
    val outRows = longMetric("numOutputRows")
    val matched = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      // bind against NULLABLE right attrs: unmatched left rows flow a
      // null row through the right slots, and a non-nullable binding
      // would codegen away the null check and read zeros instead
      val result = UnsafeProjection.create(allOut,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val buffered = rIt.buffered

      var curKey: InternalRow = null      // left key the match below is for
      var lastMatch: InternalRow = null   // latest right row ≤ current left time
      lIt.map { lRow =>
        val k = lKeyProj(lRow)
        if (curKey == null || keyOrd.compare(k, curKey) != 0) {
          curKey = k.copy()
          lastMatch = null
        }
        // no .copy(): each UnsafeProjection owns its result buffer, and
        // lTimeProj is next invoked only on the NEXT left row — `t` is
        // read solely inside this iteration's advance loop (rTimeProj
        // writes a different buffer), so the reference stays valid
        val t = lTimeProj(lRow)
        var done = false
        while (!done && buffered.hasNext) {
          val rRow = buffered.head
          val c = keyOrd.compare(rKeyProj(rRow), curKey)
          if (c < 0) buffered.next() // right key not reached by left yet
          else if (c == 0 && timeOrd.compare(rTimeProj(rRow), t) <= 0) {
            lastMatch = buffered.next().copy()
          } else done = true // right side ahead of this left row
        }
        outRows += 1
        if (lastMatch != null) matched += 1
        result(joined(lRow, if (lastMatch == null) nullRight else lastMatch))
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule for [[AsOfJoinPlan]] — the part of the Catalyst
  * contract a custom node must supply itself: the built-in
  * PushDownPredicates has no idea the as-of join is left-preserving, so
  * without this rule every user filter sits ABOVE the join and the scans
  * read everything.
  *
  * Two sound pushes (PlansSpec asserts both reach the parquet
  * `PushedFilters`):
  *  - predicates over left attributes push into the LEFT child — safe
  *    because each output row is exactly one left row enriched with
  *    right values (the join drops/duplicates nothing);
  *  - the subset of those over the JOIN KEYS also push into the RIGHT
  *    child with the key attributes remapped — right rows whose key
  *    can't match any surviving left row can never be picked.
  *
  * Predicates referencing right-side (asof_) columns stay above the
  * join: they see the match result, so they cannot move.
  */
object AsOfJoinPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeMap}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val newLeft = Filter(push.reduce(And), j.left)
        // key-only predicates additionally prune the right side, with
        // left key attrs rewritten to the matching right key attrs
        val keyPairs = j.leftKeys.zip(j.rightKeys).collect {
          case (l: Attribute, r: Attribute) => (l, r)
        }
        val keyMap = AttributeMap(keyPairs)
        val leftKeySet = org.apache.spark.sql.catalyst.expressions
          .AttributeSet(keyPairs.map(_._1))
        val rightPush = push
          .filter(_.references.subsetOf(leftKeySet))
          .map(_.transform { case a: Attribute => keyMap.getOrElse(a, a) })
        val newRight =
          if (rightPush.isEmpty) j.right
          else Filter(rightPush.reduce(And), j.right)
        val nj = j.copy(left = newLeft, right = newRight)
        keep.reduceOption(And).map(Filter(_, nj)).getOrElse(nj)
      }
  }
}

/** DataFrame-level entry point. */
object AsOfJoin {

  /** For every left row, the latest right row with `rightTime <= leftTime`
    * on equal keys; right non-key columns come back `prefix`ed. Pass
    * column NAMES — they resolve against each side unambiguously. The
    * session must carry [[graft.GraftExtensions]] (`Harness.session` does;
    * elsewhere build with `.withExtensions(new GraftExtensions)` or call
    * `GraftExtensions.register`). */
  def apply(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String, rightPrefix: String = "asof_")
      : DataFrame = {
    val spark = left.sparkSession
    val bridge = org.apache.spark.sql.graft.Bridge
    require(bridge.plannerStrategies(spark).contains(AsOfJoinStrategy),
      "graft.plans.AsOfJoin needs its planner strategy: build the session " +
        "with .withExtensions(new graft.GraftExtensions) or call " +
        "graft.GraftExtensions.register(spark)")
    // keep ONE copy of the key columns (the left one) in the output:
    // right keys go out under reserved names and are dropped afterwards
    val rightRenamed = right.columns.foldLeft(right) { (acc, c) =>
      if (keys.contains(c)) acc.withColumnRenamed(c, "__asof_k_" + c)
      else acc.withColumnRenamed(c, rightPrefix + c)
    }
    // `=` and `<=` never match a null: drop such right rows here, once
    // (the merge orders nulls first and would otherwise pick them); the
    // filter pushes into the scan and keeps the child's partitioning
    val rightMatchable = rightRenamed.where(
      (keys.map("__asof_k_" + _) :+ (rightPrefix + rightTimeCol))
        .map(c => rightRenamed(c).isNotNull).reduce(_ && _))
    val lPlan = bridge.analyzedPlan(left)
    val rPlan = bridge.analyzedPlan(rightMatchable)
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(resolve(lPlan, _)), keys.map(k => resolve(rPlan, "__asof_k_" + k)),
      resolve(lPlan, leftTimeCol), resolve(rPlan, rightPrefix + rightTimeCol))
    bridge.ofRows(spark, node).drop(keys.map("__asof_k_" + _): _*)
  }
}
