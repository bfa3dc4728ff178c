package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The engine's one session configuration, and the measurement main.
  *
  * [[session]] is the only place a `SparkSession` is built: every main
  * (Bench, Verify, Smoke, the pin regenerators and the modes below) runs
  * on it, so the measured configuration is the verified one.
  *
  * Modes (`runMain graft.Harness <mode> ...`), each timing `count()`:
  *  - `cold <sfDir> <query>` — one query in a fresh JVM (sbt `run`
  *    forks): the first query of a new session (cold JIT, cold scan
  *    cache, empty [[graft.ext.Memo]]), which a many-query process never
  *    shows as its own number. Prints one JSON line
  *    `{"coldstart":…,"dir":…,"sec":…,"rows":…}`; invoke once per
  *    (query, scale).
  *  - `explain <query...>` — the FINAL (post-execution, AQE-resolved)
  *    `explain("formatted")` plan of each query over
  *    `SPARK_GRAFT_SF_DIR`: runtime exchange/stage reuse is invisible in
  *    the pre-execution plan, so plan-reuse claims are checked here.
  *  - `scale <copies> <q1,q2,...>` — the named queries at sf0.01, sf0.1
  *    and a bench-only `copies`×sf0.1 dataset (see [[buildScaled]]), one
  *    JSON line per (query, dir) with the first run, the second run and
  *    their min; every query runs at every scale in this one process, so
  *    per-query scale factors stay same-JVM comparable. For Memo-backed
  *    families the first run is the cold (graph-building) cost and the
  *    second the memoized serve.
  */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, UTC session time zone, UI off, and [[GraftExtensions]]
    * (the SQL functions and the as-of join planner hooks). Logging is ERROR to
    * stderr from JVM start (`log4j2.properties` on the main classpath):
    * INFO startup lines and WARN scan stack traces would bury the
    * one-line JSON outputs. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  /** The scale directory of the env-driven mains. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private val usage = "usage: Harness cold <sfDir> <query> | " +
    "explain <query...> | scale <copies> <q1,q2,...>"

  private type Query = (SparkSession, String) => DataFrame

  private def query(name: String): Query =
    Queries.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case List("cold", dir, name) =>
        val q = query(name)
        spark => {
          val (n, sec) = timed(q(spark, dir).count())
          println(s"""{"coldstart":"$name","dir":"$dir","sec":$sec,"rows":$n}""")
        }
      case "explain" :: names if names.nonEmpty =>
        val qs = names.map(n => n -> query(n))
        spark => qs.foreach { case (n, q) =>
          val df = q(spark, sfDir)
          df.collect() // executes df's OWN QueryExecution (count() plans a new one)
          println(s"\n========== $n (final) ==========")
          df.explain("formatted")
        }
      case List("scale", copies, names) =>
        val qs = names.split(",").toSeq.map(n => n -> query(n))
        spark => scale(spark, copies.toInt, qs)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = session()
    try mode(spark) finally spark.stop()
  }

  private def scale(spark: SparkSession, copies: Int,
      qs: Seq[(String, Query)]): Unit = {
    val base = "/root/testdata/sf0.1"
    val out = s"tmp-scale/sfx$copies"
    buildScaled(spark, base, out, copies)
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT/scan warm-up
    for (dir <- Seq("/root/testdata/sf0.01", base, out); (n, q) <- qs) {
      val (_, t1) = timed(q(spark, dir).count())
      val (_, t2) = timed(q(spark, dir).count())
      println(s"""{"query":"$n","dir":"$dir","sec":${math.min(t1, t2)}""" +
        s""","first":$t1,"second":$t2}""")
    }
  }

  /** Writes `out` as `copies` ISOMORPHIC copies of `base` (≈ sf1 at 10
    * copies of sf0.1) — bench-only, never an oracle input:
    *  - documents: ids offset per copy; every token suffixed with the
    *    copy index, so each copy's shingle space is DISJOINT —
    *    within-copy near-dup structure is preserved exactly
    *    (pairs/clusters scale ×copies linearly) and cross-copy Jaccard
    *    is 0. Naive duplication would instead weld every row into one
    *    clone cluster and measure a workload no real corpus has.
    *  - embeddings: ids offset; each copy multiplied elementwise by a
    *    deterministic ±1 sign pattern — an orthogonal diagonal map, so
    *    within-copy cosines (and the near-dup pair set) are EXACTLY
    *    preserved while cross-copy cosines scramble.
    *  - lineitem, orders: ids offset on the PK prefix; values untouched.
    *  - events: event and user ids offset, so the corpus gains ×copies
    *    USERS, not ×copies events per user.
    *  - customer, nation, region: copied verbatim (orders replicas keep
    *    their o_custkey — the fan-out a growing book actually has).
    * A table whose write completed (`_SUCCESS`) is kept, so an
    * interrupted build resumes and existing dirs are reused. */
  private def buildScaled(spark: SparkSession, base: String, out: String,
      copies: Int): Unit = {
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def table(t: String, n: Int = copies)(copy: DataFrame => Int => DataFrame): Unit =
      if (!fs.exists(new Path(s"$out/$t.parquet/_SUCCESS"))) {
        (0 until n).map(copy(Tables.read(spark, base, t))).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    def idMax(df: DataFrame, c: String): Long =
      df.agg(max(c)).first().getLong(0) + 1
    def offset(cs: String*)(df: DataFrame): Int => DataFrame = {
      val ms = cs.map(c => c -> idMax(df, c))
      k => ms.foldLeft(df) { case (acc, (c, m)) =>
        acc.withColumn(c, col(c) + lit(k * m)) }
    }

    table("documents") { docs =>
      val m = idMax(docs, "doc_id")
      k => docs.select(
        (col("doc_id") + lit(k * m)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ").as("text"),
        col("lang"), col("source"))
        // the suffixed tokens changed the length — recompute, don't
        // carry the source n_chars through
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    table("embeddings") { emb =>
      val m = idMax(emb, "vec_id")
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      k => {
        val signs = array((0 until dim).map { j =>
          lit(if (((k * 1000003 + j * 7919) & 1) == 0) 1.0f else -1.0f)
        }: _*)
        emb.select(
          (col("vec_id") + lit(k * m)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s)
            .cast("array<float>").as("embedding"),
          col("label"))
      }
    }
    table("lineitem")(offset("l_orderkey"))
    table("orders")(offset("o_orderkey"))
    table("events")(offset("event_id", "user_id"))
    for (t <- Seq("customer", "nation", "region")) table(t, n = 1)(df => _ => df)
  }
}
