package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-target selection — the reference's closest-expiration /
  * closest-strike folds applied over a small target grid
  * (reference: transform-load.2025-08-19.rkt:51-66 argmin folds;
  * :114-126 builds 27 strikes × 4 expirations; :147-152 applies them).
  *
  * Spark-first: broadcast the (constant, tiny) target grid, cross join,
  * then a single `row_number` window per (group, target) ordered by
  * distance with deterministic tie-breaks. The reference's fold keeps the
  * first-seen element on equal distance — callers pass `tieBreak` columns
  * that reproduce its iteration order.
  *
  * At scale: the grid blowup is a constant factor (|targets|); the one
  * shuffle is on (group, target) and is unavoidable for a global argmin;
  * AQE handles skewed groups.
  */
object NearestSelect {

  /** For each (group × target row), keep the df row minimizing
    * `distance(dfRow, target)`. `targets` must be small (broadcast). */
  def nearest(df: DataFrame, groupCols: Seq[String], targets: DataFrame,
      distance: Column, tieBreak: Seq[Column]): DataFrame = {
    val grid = df.crossJoin(broadcast(targets))
    val w = Window
      .partitionBy((groupCols.map(col) ++ targets.columns.map(col)): _*)
      .orderBy((distance.asc +: tieBreak.map(_.asc)): _*)
    grid.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** For each (group × target), compute the argmin VALUE of `valueCol`
    * (ties: smallest value wins), then keep ALL df rows whose `valueCol`
    * equals it — the reference selects the closest strike and then keeps
    * every option (both sides) at that strike
    * (transform-load.2025-08-19.rkt:147-152). */
  def nearestValueAll(df: DataFrame, groupCols: Seq[String], targets: DataFrame,
      distance: Column, valueCol: Column): DataFrame = {
    val grid = df.crossJoin(broadcast(targets))
    val w = Window
      .partitionBy((groupCols.map(col) ++ targets.columns.map(col)): _*)
      .orderBy(distance.asc, valueCol.asc)
    val winners = grid
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select((groupCols.map(col) ++ targets.columns.map(col) :+
        valueCol.as("__win")): _*)
    df.join(broadcast(winners), groupCols).where(valueCol === col("__win"))
      .drop("__win")
  }

  /** The reference's default target strike multipliers — 27 points spanning
    * 70%..130% of the as-of close (transform-load.2025-08-19.rkt:114-122). */
  val strikeMultipliers: Seq[BigDecimal] = Seq(
    "0.70", "0.75", "0.80", "0.825", "0.85", "0.875", "0.90", "0.92",
    "0.94", "0.96", "0.97", "0.98", "0.99", "1.00", "1.01", "1.02",
    "1.03", "1.04", "1.06", "1.08", "1.10", "1.125", "1.15", "1.175",
    "1.20", "1.25", "1.30").map(BigDecimal(_))
}
