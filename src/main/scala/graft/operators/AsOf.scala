package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** As-of (point-in-time) cutoff pick — the reference's correlated scalar
  * subquery "close at max(date) ≤ folder_date per symbol"
  * (reference: transform-load.2025-08-19.rkt:104-113).
  *
  * Spark-first design: instead of a correlated subquery (which Catalyst
  * decorrelates into join+agg+join), resolve the argmax with one
  * [[Upsert.firstPerKey]] pass. One shuffle on the key; ties broken
  * deterministically — the reference's fold keeps the first-encountered
  * element on ties (transform-load.2025-08-19.rkt:51-66), which we model
  * with explicit secondary sort keys.
  *
  * The general as-of JOIN (every left row enriched with its latest right
  * row at or before its own time) is the Catalyst operator
  * [[graft.plans.AsOfJoin]].
  */
object AsOf {

  /** Latest row per key with `timeCol <= cutoff`. `tieBreak` columns are
    * sorted DESC after the time column, making the pick deterministic. */
  def latestPerKeyUpTo(df: DataFrame, keys: Seq[String], timeCol: Column,
      cutoff: Column, tieBreak: Seq[Column]): DataFrame =
    Upsert.firstPerKey(df.where(timeCol <= cutoff), keys.map(col),
      timeCol.desc +: tieBreak.map(_.desc))
}
