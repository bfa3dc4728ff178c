package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Nearest-target selection — the reference's closest-expiration /
  * closest-strike folds applied over a small target grid
  * (reference: transform-load.2025-08-19.rkt:51-66 argmin folds;
  * :114-126 builds 27 strikes × 4 expirations; :147-152 applies them).
  *
  * Two shapes of one pick by distance; the reference's fold keeps the
  * first-seen element on equal distance, and both shapes break ties
  * deterministically instead:
  *  - [[nearest]], over rows: broadcast the (tiny) target grid beside the
  *    candidates, then one [[Upsert.firstPerKey]] pick per (group, target),
  *    ties going to the smallest caller-given `tieBreak` tuple. The grid
  *    is joined on the target columns that are also group columns (a
  *    per-group grid), and cross joined when there are none (one grid for
  *    every group). The one shuffle is on (group, target); the grid
  *    blowup is a constant factor (|targets| per group).
  *  - [[nearestIn]], over arrays inside one row, ties going to the
  *    smaller value: when a group's candidates are already collected into
  *    one row (one aggregate per group), the picks are array expressions
  *    and need no shuffle of their own. The daily chain job picks this way
  *    ([[graft.plans.ChainPipeline.loadDay]]): one aggregate per symbol
  *    collects its chain rows beside its as-of close, both picks run on
  *    that row, and the winning rows are exploded back out in the same
  *    partitioning.
  */
object NearestSelect {

  /** For each (group × target row), keep the df row minimizing
    * `distance(dfRow, target)`. `targets` must be small (broadcast). A
    * row whose distance is null is no candidate (the [[nearestIn]]
    * rule): under `distance.asc` a null would sort first and win, so a
    * (group, target) with no real distance picks nothing. */
  def nearest(df: DataFrame, groupCols: Seq[String], targets: DataFrame,
      distance: Column, tieBreak: Seq[Column]): DataFrame = {
    val shared = targets.columns.toSeq.filter(groupCols.contains)
    val grid =
      if (shared.isEmpty) df.crossJoin(broadcast(targets))
      else df.join(broadcast(targets), shared)
    val key = (groupCols ++ targets.columns.filterNot(shared.contains)).map(col)
    Upsert.firstPerKey(grid.where(distance.isNotNull), key,
      distance.asc +: tieBreak.map(_.asc))
  }

  /** Per row: for each element of the array `targets`, the element of the
    * array `cands` nearest to it, and the distinct winners as an array.
    * The pick is the smallest `struct(distance, candidate)`, so ties go to
    * the smaller candidate. A null candidate or a null distance is no
    * candidate, so a target with no real distance picks nothing (a null
    * would otherwise sort first and win).
    *
    * `cands` is evaluated once per target: pass a column or a lambda
    * variable, not an expression that recomputes the array. */
  def nearestIn(cands: Column, targets: Column,
      distance: (Column, Column) => Column): Column =
    array_distinct(filter(
      transform(targets, t => array_min(filter(
          transform(cands, c => struct(distance(c, t).as("d"), c.as("v"))),
          p => p("d").isNotNull && p("v").isNotNull))("v")),
      _.isNotNull))

  /** The reference's default target strike multipliers — 27 points spanning
    * 70%..130% of the as-of close (transform-load.2025-08-19.rkt:114-122). */
  val strikeMultipliers: Seq[BigDecimal] = Seq(
    "0.70", "0.75", "0.80", "0.825", "0.85", "0.875", "0.90", "0.92",
    "0.94", "0.96", "0.97", "0.98", "0.99", "1.00", "1.01", "1.02",
    "1.03", "1.04", "1.06", "1.08", "1.10", "1.125", "1.15", "1.175",
    "1.20", "1.25", "1.30").map(BigDecimal(_))
}
