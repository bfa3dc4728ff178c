package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Nearest-target selection — the reference's closest-expiration /
  * closest-strike folds applied over a small target grid
  * (reference: transform-load.2025-08-19.rkt:51-66 argmin folds;
  * :114-126 builds 27 strikes × 4 expirations; :147-152 applies them).
  *
  * Spark-first: broadcast the (tiny) target grid beside the candidates,
  * then one [[Upsert.firstPerKey]] pick per (group, target) ordered by
  * distance with deterministic tie-breaks. The reference's fold keeps the
  * first-seen element on equal distance — callers pass `tieBreak` columns
  * that reproduce its iteration order.
  *
  * The grid is joined on the target columns that are also group columns
  * (a per-group grid: the per-symbol `mark × multiplier` strikes), and
  * cross joined when there are none (one grid for every group: the
  * folder date's target expirations).
  *
  * At scale: the grid blowup is a constant factor (|targets| per group);
  * the one shuffle is on (group, target) and is unavoidable for a global
  * argmin; AQE handles skewed groups.
  */
object NearestSelect {

  /** `df` beside every target row of its group, and the (group × target)
    * key the pick partitions by. */
  private def withTargets(df: DataFrame, groupCols: Seq[String],
      targets: DataFrame): (DataFrame, Seq[Column]) = {
    val shared = targets.columns.toSeq.filter(groupCols.contains)
    val grid =
      if (shared.isEmpty) df.crossJoin(broadcast(targets))
      else df.join(broadcast(targets), shared)
    (grid, (groupCols ++ targets.columns.filterNot(shared.contains)).map(col))
  }

  /** For each (group × target row), keep the df row minimizing
    * `distance(dfRow, target)`. `targets` must be small (broadcast). */
  def nearest(df: DataFrame, groupCols: Seq[String], targets: DataFrame,
      distance: Column, tieBreak: Seq[Column]): DataFrame = {
    val (grid, key) = withTargets(df, groupCols, targets)
    Upsert.firstPerKey(grid, key, distance.asc +: tieBreak.map(_.asc))
  }

  /** For each (group × target), compute the argmin VALUE of `valueCol`
    * (ties: smallest value wins), then keep ALL df rows whose `valueCol`
    * equals it — the reference selects the closest strike and then keeps
    * every option (both sides) at that strike
    * (transform-load.2025-08-19.rkt:147-152). Each df row comes back
    * once, with df's columns, however many targets picked its value. */
  def nearestValueAll(df: DataFrame, groupCols: Seq[String], targets: DataFrame,
      distance: Column, valueCol: Column): DataFrame = {
    val (grid, key) = withTargets(df, groupCols, targets)
    // the winners' group columns are renamed so the semi join's condition
    // resolves each side by name
    val g = groupCols.indices.map(i => s"__g$i")
    val winners = Upsert.firstPerKey(grid, key, Seq(distance.asc, valueCol.asc))
      .select((groupCols.zip(g).map { case (c, n) => col(c).as(n) } :+
        valueCol.as("__win")): _*)
    df.join(broadcast(winners), groupCols.zip(g)
        .map { case (c, n) => col(c) === col(n) }
        .foldLeft(valueCol === col("__win"))(_ && _), "left_semi")
  }

  /** The reference's default target strike multipliers — 27 points spanning
    * 70%..130% of the as-of close (transform-load.2025-08-19.rkt:114-122). */
  val strikeMultipliers: Seq[BigDecimal] = Seq(
    "0.70", "0.75", "0.80", "0.825", "0.85", "0.875", "0.90", "0.92",
    "0.94", "0.96", "0.97", "0.98", "0.99", "1.00", "1.01", "1.02",
    "1.03", "1.04", "1.06", "1.08", "1.10", "1.125", "1.15", "1.175",
    "1.20", "1.25", "1.30").map(BigDecimal(_))
}
