package graft

import org.apache.spark.sql.functions._

/** Regenerates the x55 pinned OPQ literals in `Oracles.scala`.
  *
  * x55's oracle is not a VALUES golden: DuckDB RE-COMPUTES the rotated
  * encode of every sf0.01 embedding from the rotation matrix R and the
  * codebooks emitted as SQL literals. Only the LEARN (driver-side Jacobi
  * polar factor — not expressible in SQL) is pinned; the distributed
  * rotate+encode path is verified end to end. The learn itself is
  * deterministic by construction (id-seeded codebooks, exact-decimal
  * codebook means and M aggregation, fixed-sweep Jacobi), which this
  * main double-checks by learning twice and comparing bitwise.
  *
  * Usage: `runMain graft.OpqPin [sfDir]` → prints the `[[...]]` rotation
  * literal and the codebook VALUES rows to paste into the x55 oracle.
  */
object OpqPin {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()
    val base = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, 16).as("v16"))
    def learnOnce() =
      graft.ext.Opq.learn(base, "vec_id", "v16", m = 4, k = 8, iters = 1)
    val m1 = learnOnce()
    val m2 = learnOnce()
    def flat2(a: Array[Array[Double]]): Seq[Double] = a.toSeq.flatMap(_.toSeq)
    def flat3(a: Array[Array[Array[Double]]]): Seq[Double] =
      a.toSeq.flatMap(flat2)
    val same = flat2(m1.rotation) == flat2(m2.rotation) &&
      flat3(m1.codebooks) == flat3(m2.codebooks)
    def fmt(d: Double) = java.lang.Double.toString(d)
    println(s"-- deterministic relearn (must be true): $same")
    println("-- rotation literal (16x16):")
    println(m1.rotation.map(row =>
      "[" + row.map(fmt).mkString(",") + "]").mkString("[", ",\n ", "]"))
    println("-- codebook VALUES (s, code, cw):")
    m1.codebooks.zipWithIndex.foreach { case (sub, s) =>
      sub.zipWithIndex.foreach { case (cw, j) =>
        println(s"($s,$j,[${cw.map(fmt).mkString(",")}]),")
      }
    }
    spark.stop()
  }
}
