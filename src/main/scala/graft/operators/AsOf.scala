package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — the reference's correlated scalar subquery
  * "close at max(date) ≤ folder_date per symbol"
  * (reference: transform-load.2025-08-19.rkt:104-113).
  *
  * Spark-first design: instead of a correlated subquery (which Catalyst
  * decorrelates into join+agg+join), resolve the argmax with one
  * [[Upsert.firstPerKey]] pass. One shuffle on the key; ties broken
  * deterministically — the reference's fold keeps the first-encountered
  * element on ties (transform-load.2025-08-19.rkt:51-66), which we model
  * with explicit secondary sort keys.
  */
object AsOf {

  /** Latest row per key with `timeCol <= cutoff`. `tieBreak` columns are
    * sorted DESC after the time column, making the pick deterministic. */
  def latestPerKeyUpTo(df: DataFrame, keys: Seq[String], timeCol: Column,
      cutoff: Column, tieBreak: Seq[Column]): DataFrame =
    Upsert.firstPerKey(df.where(timeCol <= cutoff), keys.map(col),
      timeCol.desc +: tieBreak.map(_.desc))

  /** Generic as-of join, join+window form: for every left row, attach the
    * latest right row with `rightTime <= leftTime` on equal `keys`.
    * Right columns are prefixed to avoid collisions.
    *
    * Correct and fine when right rows per key are few, but the
    * intermediate is |left| × |matching right| per key — for big×big
    * sides use [[asOfJoinSorted]], which is linear.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: Column, rightTime: Column, rightPrefix: String = "asof_")
      : DataFrame = {
    val rightRenamed = right.columns.foldLeft(right) { (acc, c) =>
      if (keys.contains(c)) acc else acc.withColumnRenamed(c, rightPrefix + c)
    }
    val withId = left.withColumn("__lid", monotonically_increasing_id())
    // the range predicate belongs IN the join condition: a left row whose
    // key matches only future right rows must still survive (with nulls)
    val cond = keys.map(k => withId(k) === rightRenamed(k)).reduce(_ && _) &&
      rightTime <= leftTime
    val joined = keys.foldLeft(withId.join(rightRenamed, cond, "left")) {
      (acc, k) => acc.drop(rightRenamed(k))
    }
    Upsert.firstPerKey(joined, Seq(col("__lid")), Seq(rightTime.desc_nulls_last))
      .drop("__lid")
  }

  /** Generic as-of join, sort-merge form — the big×big scale path.
    *
    * ONE shuffle of each side on `keys`, then a single sorted
    * partition-local scan: rows of both sides interleave ordered by
    * (keys, time, side) with right rows first at equal timestamps
    * (inclusive ≤ semantics); the scan carries the latest right values
    * per key and emits each left row with them. Cost is
    * O((|L|+|R|) log partition) with no quadratic intermediate — this is
    * what a custom SparkStrategy would build, expressed with
    * repartition + sortWithinPartitions + mapPartitions instead.
    *
    * Ties among equal (key, rightTime) resolve deterministically to the
    * greatest prefixed-value tuple (last in scan order).
    */
  def asOfJoinSorted(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String, rightPrefix: String = "asof_")
      : DataFrame = {
    val rightVals = right.columns.filterNot(keys.contains).toSeq
    val rPre = rightVals.map(rightPrefix + _)
    val leftCols = left.columns.toSeq

    val leftU = rightVals.foldLeft(
      left.withColumn("__time", col(leftTimeCol)).withColumn("__tag", lit(1))) {
      (acc, c) => acc.withColumn(rightPrefix + c,
        lit(null).cast(right.schema(c).dataType))
    }
    val rightU = leftCols.filterNot(keys.contains).foldLeft(
      right.select((keys.map(col) :+ col(rightTimeCol).as("__time")) ++
        rightVals.map(c => col(c).as(rightPrefix + c)): _*)
        .withColumn("__tag", lit(0))) { (acc, c) =>
      acc.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val unioned = rightU.select(leftU.columns.toIndexedSeq.map(col): _*).unionByName(leftU)

    val schema = unioned.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val tagIdx = schema.fieldIndex("__tag")
    val rIdx = rPre.map(schema.fieldIndex)

    val sorted = unioned
      .repartition(keys.map(col): _*)
      .sortWithinPartitions(
        (keys.map(col) :+ col("__time").asc_nulls_first :+ col("__tag")) ++
          rPre.map(col): _*)
    val scanned = sorted.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var lastRight: Array[Any] = null
      it.flatMap { row =>
        val k = keyIdx.map(row.get)
        if (k != curKey) { curKey = k; lastRight = null }
        if (row.getInt(tagIdx) == 0) {
          lastRight = rIdx.map(row.get).toArray
          Iterator.empty
        } else {
          val vals = row.toSeq.toArray
          if (lastRight != null) {
            rIdx.zipWithIndex.foreach { case (ri, j) => vals(ri) = lastRight(j) }
          }
          Iterator.single(Row.fromSeq(vals.toIndexedSeq))
        }
      }
    }(Encoders.row(schema))
    scanned.drop("__time", "__tag")
  }
}
