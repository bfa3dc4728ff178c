package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert semantics without a mutable store, and the engine's one
  * top-1-row primitive ([[firstPerKey]]) that every "keep the best row
  * per key" pick is built from: the as-of close ([[AsOf]]), the
  * nearest-target folds ([[NearestSelect]]) and the loads below.
  *
  * The reference loads with `INSERT … ON CONFLICT (pk) DO NOTHING`
  * (keep-first; reference: transform-load.2025-08-19.rkt:209,394) for the
  * chain/volatility tables, and `ON CONFLICT DO UPDATE` (last-wins;
  * reference: weeklies-transform-load.rkt:52-64) for the weekly roster.
  * Both are one windowed dedup on the PK — a single PK shuffle, no
  * driver-side state, idempotent by construction (`load ∘ load = load`).
  */
object Upsert {

  /** Keep exactly one row per `keys` value: the first under `order`.
    *
    * `order` holds explicit sort orders (`.asc`/`.desc`, with their null
    * placement); they are used as given — wrapping a SortOrder again
    * nests it and drops the sort out of codegen. Rows tied on all of
    * `order` resolve arbitrarily, so pass a total order for a
    * deterministic pick. Keys are Columns so nested fields
    * (`col("id.doc_id")`) partition directly.
    *
    * Shape: one `row_number` window filtered to 1 — Spark plans a
    * partial `WindowGroupLimit` top-1 before the key shuffle, so only
    * each map task's winners cross the network. */
  def firstPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column])
      : DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .where(col("__rn") === 1).drop("__rn")

  /** Keep exactly one row per PK, preferring the smallest `precedence`
    * tuple (ASC). Deterministic for any input order. Pass plain columns,
    * not `.asc`/`.desc` — the sort direction is applied here. */
  def keepFirst(df: DataFrame, pk: Seq[String], precedence: Seq[Column])
      : DataFrame =
    firstPerKey(df, pk.map(col), precedence.map(_.asc))

  /** Keep one row per PK, preferring the LARGEST `ord` tuple (DESC) —
    * last-wins roster semantics (S10). */
  def lastWins(df: DataFrame, pk: Seq[String], ord: Seq[Column]): DataFrame =
    firstPerKey(df, pk.map(col), ord.map(_.desc))

  /** Merge `incoming` into `existing` on `pk`. `preferExisting = true`
    * reproduces ON CONFLICT DO NOTHING; `false` reproduces DO UPDATE. */
  def upsert(existing: DataFrame, incoming: DataFrame, pk: Seq[String],
      preferExisting: Boolean): DataFrame = {
    val tagged = existing.withColumn("__src", lit(if (preferExisting) 0 else 1))
      .unionByName(incoming.withColumn("__src", lit(if (preferExisting) 1 else 0)))
    keepFirst(tagged, pk, Seq(col("__src"))).drop("__src")
  }
}
