package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diff — the relational core of a versioned table history
  * (reference: dump-dolt.rkt's Dolt exports version each day's table;
  * SURVEY scopes the subprocess choreography out of engine, but WHAT
  * changed between two versions is a query, and it lives here).
  *
  * One FULL OUTER join on the PK — co-locatable via bucketing at 100 TB
  * like every other PK join in the engine — then a single null-safe
  * struct comparison over the value columns classifies each key as
  * added / removed / changed; unchanged keys drop out. Emitting both
  * value tuples makes the diff REVERSIBLE: apply(old, diff) = new and
  * apply(new, reverse(diff)) = old, which is what an incremental
  * version store needs (OperatorsSpec asserts round-trip losslessness).
  */
object Diff {

  /** One row per PK whose value tuple differs between the snapshots:
    * (pk…, change ∈ added|removed|changed, old_<c>…, new_<c>…). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, pk: Seq[String])
      : DataFrame = {
    val (joined, vals) = alignOnPk(oldDf, newDf, pk)
    joined
      .withColumn("change",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .otherwise("changed"))
      .where(col("__in_old").isNull || col("__in_new").isNull ||
        !(tuple("old_", vals) <=> tuple("new_", vals)))
      .select((pk.map(col) :+ col("change")) ++
        vals.map(c => col("old_" + c)) ++ vals.map(c => col("new_" + c)): _*)
  }

  /** Snapshot diff SUMMARY — [[snapshotDiff]] folded to the release-
    * review dashboard row: row-level added/removed/changed/unchanged
    * counts plus a per-column change count (how many surviving keys
    * changed THAT column — the "one upstream job rewrote every price"
    * signal a row-level count buries). Null-safe comparisons
    * throughout (null→value and value→null both count as changes).
    * Scale shape: the same one bucketable PK full-outer join + one
    * combiner agg; output is 1 + |columns| rows.
    * Output: (metric, n) — rows_added / rows_removed / rows_changed /
    * rows_unchanged, then col_changed:<name> per value column in
    * schema order. */
  def diffSummary(oldDf: DataFrame, newDf: DataFrame, pk: Seq[String])
      : DataFrame = {
    val (joined, vals) = alignOnPk(oldDf, newDf, pk)
    val both = col("__in_old").isNotNull && col("__in_new").isNotNull
    val oldT = tuple("old_", vals)
    val newT = tuple("new_", vals)
    val aggs =
      sum(when(col("__in_old").isNull, 1L).otherwise(0L)).as("__a") +:
      sum(when(col("__in_new").isNull, 1L).otherwise(0L)).as("__r") +:
      sum(when(both && !(oldT <=> newT), 1L).otherwise(0L)).as("__c") +:
      sum(when(both && (oldT <=> newT), 1L).otherwise(0L)).as("__u") +:
      vals.map(c => sum(when(both &&
        !(col("old_" + c) <=> col("new_" + c)), 1L).otherwise(0L))
        .as("__col_" + c))
    val wide = joined.agg(aggs.head, aggs.tail: _*)
    val pairs =
      Seq("rows_added" -> "__a", "rows_removed" -> "__r",
        "rows_changed" -> "__c", "rows_unchanged" -> "__u") ++
      vals.map(c => s"col_changed:$c" -> s"__col_$c")
    wide.select(explode(array(pairs.map { case (m, c0) =>
        struct(lit(m).as("metric"), col(c0).as("n")) }: _*)).as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.n").as("n"))
  }

  /** The two snapshots side by side: each tagged (__in_old / __in_new
    * = 1, so a NULL tag marks the side a key is missing from), its
    * value columns renamed old_<c> / new_<c>, and the pair FULL OUTER
    * joined on the PK. Returns the join and the value columns. */
  private def alignOnPk(oldDf: DataFrame, newDf: DataFrame,
      pk: Seq[String]): (DataFrame, Seq[String]) = {
    val vals = oldDf.columns.filterNot(pk.contains).toSeq
    require(newDf.columns.filterNot(pk.contains).toSeq == vals,
      "snapshots must share one schema")
    def side(df: DataFrame, tag: String, prefix: String): DataFrame =
      vals.foldLeft(df.withColumn(tag, lit(1))) { (d, c) =>
        d.withColumnRenamed(c, prefix + c)
      }
    (side(oldDf, "__in_old", "old_")
      .join(side(newDf, "__in_new", "new_"), pk, "full_outer"), vals)
  }

  /** One side's value tuple, for the null-safe whole-row comparison. */
  private def tuple(prefix: String, vals: Seq[String]): Column =
    struct(vals.map(c => col(prefix + c)): _*)

  /** Replay a [[snapshotDiff]] onto the old snapshot: drop removed and
    * changed keys, append the new tuples of added and changed keys.
    * apply(old, diff(old, new)) ≡ new — the forward half of the
    * version-store contract. */
  def applyDiff(oldDf: DataFrame, diff: DataFrame, pk: Seq[String])
      : DataFrame = {
    val vals = oldDf.columns.filterNot(pk.contains).toSeq
    val gone = diff.where(col("change").isin("removed", "changed"))
      .select(pk.map(col): _*)
    val incoming = diff.where(col("change").isin("added", "changed"))
      .select(pk.map(col) ++ vals.map(c => col("new_" + c).as(c)): _*)
    oldDf.join(gone, pk, "left_anti").unionByName(incoming)
  }
}
