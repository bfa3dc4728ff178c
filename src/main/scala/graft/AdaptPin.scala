package graft

/** Regenerates the x66 pinned adaptive-LSH golden in `Oracles.scala`.
  *
  * Random-hyperplane signatures are hash-specific — no SQL engine
  * reproduces them — so x66 carries a deterministic golden output
  * pinned to the driver's verify scale (the x04/x07 discipline). The
  * operator itself is validated hash-free in ScaleSpec (clustered-vs-
  * uniform candidate volume, recall vs the base LSH pair set). This
  * main double-checks determinism by running the query twice and
  * comparing bitwise, then prints the VALUES rows to paste into the
  * x66 oracle.
  *
  * Usage: `runMain graft.AdaptPin [sfDir]`.
  */
object AdaptPin {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()
    def runOnce(): Seq[(Long, Long, Double)] =
      Queries.x66AdaptiveLsh(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val a = runOnce()
    val b = runOnce()
    println(s"-- deterministic rerun (must be true): ${a == b}")
    println(s"-- rows: ${a.size}")
    println("-- VALUES rows (id_a, id_b, cosine):")
    // e0 suffix: DuckDB parses a bare decimal literal as DECIMAL and
    // casts (rounding through a scaled-integer division, off by an ulp
    // for some values); E-notation parses directly as DOUBLE
    a.foreach { case (ia, ib, c) =>
      println(s" ($ia, $ib, ${java.lang.Double.toString(c)}e0),")
    }
    spark.stop()
  }
}
