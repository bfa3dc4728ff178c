package graft

/** t1-style smoke: on the shared [[Harness.session]], run
  * SparkEntry.entry and print the row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${df.count()} cols=${df.columns.mkString(",")}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
