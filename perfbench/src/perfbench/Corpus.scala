package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A fixed list of corpus queries over the generated tables, each result
  * produced in full (every column, final ORDER BY) through the digest sink
  * and checked against the goldens. The seed fixes the query order.
  */
final class Corpus(ctx: Ctx, val name: String, queries: Seq[String])
    extends Workload {
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val fns = SparkEntry.queries
  private lazy val goldens = Goldens.read(ctx.goldens.resolve(s"$name.tsv"))
  val order: Seq[String] = new scala.util.Random(ctx.seed).shuffle(queries)
  def prepare(): String = {
    require(queries.forall(fns.contains), "unknown query in " + queries)
    s"tables:${Workload.sha256(Workload.filesUnder(ctx.tables))} order:${order.mkString(",")}"
  }

  /** Run one query: build the DataFrame, plan it, execute it into the
    * digest sink. Returns the op and the digest. */
  def run(q: String): (Op, Option[Digest.Result]) = {
    var digest: Option[Digest.Result] = None
    val op = Workload.attempt(q) {
      tr.span(s"query.$q") {
        val (build, df) = Clock.timed(tr.span("queries.build") {
          fns(q)(spark, ctx.tables.toString)
        })
        val (plan, _) = Clock.timed(tr.span("plans.plan") {
          org.apache.spark.sql.perfbench.Internals.forcePlan(df)
        })
        val (exec, d) = Clock.timed(tr.span("exec.run") { Digest.of(df) })
        digest = Some(d)
        val problem = goldens.get(q) match {
          case None => s"no golden for $q"
          case Some(g) if g != (d.rows, d.hex, d.schema) =>
            s"rows/digest ${d.rows}/${d.hex} != golden ${g._1}/${g._2}" +
              (if (g._3 != d.schema) s" (schema ${d.schema})" else "")
          case _ => ""
        }
        Op(q, build + plan + exec, problem.isEmpty, problem,
          parts = Map("build" -> build, "plan" -> plan, "exec" -> exec))
      }
    }
    (op, digest)
  }

  def pass(i: Int): PassResult = {
    val ops = order.map(q => run(q)._1)
    PassResult(ops.map(_.wall).sum, ops)
  }

  def layers(passes: Seq[PassResult]): Map[String, Double] = {
    val cold = passes(0).ops
    val warm = passes(1).ops
    def sum(ops: Seq[Op], k: String) = ops.map(_.parts.getOrElse(k, 0.0)).sum
    val warmBy = warm.map(o => o.name -> o.wall).toMap
    val coldGap = cold.map(o => o.wall - warmBy.getOrElse(o.name, o.wall)).sum
    val scan = Tables.Names.map { t =>
      Clock.timed(tr.span(s"sources.Tables.read.$t") {
        Workload.noop(graft.sources.Tables.read(spark, ctx.tables.toString, t))
      })._1
    }.sum
    Map("sources.scan_s" -> scan,
      "queries.build_s" -> sum(cold, "build"),
      "plans.plan_s" -> sum(warm, "plan"),
      "ext.cold_gap_s" -> coldGap) ++
      Corpus.exprLayers(spark, ctx.tables.toString, tr)
  }
}

object Corpus {
  /** Reference-surface queries whose final sorts a count() would skip
    * (q05, q29), plus two extension queries: x170 builds the session memo
    * pair graph and runs the `Dedup.clusters` fixpoint over
    * `WeightedSimhashSignAgg` signatures and polyHash shingles; x116 runs
    * a per-row text pipeline in its output projection. */
  val Queries: Seq[String] = Seq("q05_trunc_export", "q29_rolling_window",
    "x170_simhash_clusters", "x116_langid_trained")

  /** Micro-timings of the custom expressions through their public
    * wrappers, over table columns replicated to at least `MinRows` rows:
    * the median of three runs of max(expr) over a cached input. */
  val MinRows = 1000000L

  def exprLayers(spark: SparkSession, dir: String, tr: Tracer): Map[String, Double] = {
    import graft.functions.expressions.VectorExpressions
    def replicated(df: DataFrame): DataFrame = {
      val n = math.max(1L, df.count())
      df.crossJoin(spark.range(0, (MinRows + n - 1) / n).withColumnRenamed("id", "rep"))
        .repartition(spark.sparkContext.defaultParallelism).cache()
    }
    def time(label: String, in: DataFrame, e: org.apache.spark.sql.Column): Double = {
      in.count()
      val ts = (1 to 3).map(_ => Clock.timed(tr.span(s"expr.$label") {
        in.select(max(e)).collect()
      })._1)
      Workload.median(ts)
    }
    val docs = replicated(graft.sources.Tables.documents(spark, dir)
      .select(col("text"), transform(split(col("text"), " "), t => xxhash64(t))
        .as("hashes")))
    val vecs = replicated(graft.sources.Tables.embeddings(spark, dir)
      .select(col("embedding")))
    try Map(
      "expr.poly_hash_s" -> time("poly_hash", docs, graft.ext.Dedup.polyHash(col("text"))),
      "expr.simhash64_s" -> time("simhash64", docs, VectorExpressions.simhash64(col("hashes"))),
      "expr.dot_product_s" -> time("dot_product", vecs,
        VectorExpressions.dotProduct(col("embedding"), col("embedding"))))
    finally { docs.unpersist(true); vecs.unpersist(true) }
  }
}

/** Goldens: one line per query — name, rows, digest, schema — tab-separated. */
object Goldens {
  def read(p: Path): Map[String, (Long, String, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, hex, schema) = l.split("\t", 4)
        q -> ((rows.toLong, hex, schema))
      }.toMap

  def write(p: Path, header: Seq[String], rows: Seq[(String, Digest.Result)]): Unit = {
    val lines = header.map("# " + _) ++ rows.sortBy(_._1).map { case (q, d) =>
      s"$q\t${d.rows}\t${d.hex}\t${d.schema}" }
    Files.createDirectories(p.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

/** Writes a corpus workload's goldens: runs its queries twice in one
  * session, writes the first run's digests, and reports every query whose
  * output did not repeat. */
object GoldenWriter {
  def write(o: Map[String, String]): Unit = {
    val spark = Main.setUp(o)
    val name = o("workload")
    val ctx = new Ctx(spark, 0L, Paths.get(o("tables")),
      Paths.get(o("work")).resolve(name), new Tracer(spark, false),
      Paths.get(o("goldens")))
    val w = Main.workload(name, ctx).asInstanceOf[Corpus]
    val runs = (1 to 2).map(_ => w.order.map(q => q -> w.run(q)._2))
    val first = runs.head.collect { case (q, Some(d)) => q -> d }
    val missing = w.order.filterNot(first.map(_._1).contains)
    val unstable = runs.head.zip(runs(1)).collect {
      case ((q, a), (_, b)) if a != b => q }
    Goldens.write(ctx.goldens.resolve(s"$name.tsv"), Seq(
      s"goldens of the $name workload: query, rows, digest, schema",
      s"tables generated at sf ${Tables.Sf}; regenerate with: " +
        s"python3 perfbench/run.py --goldens $name"), first)
    missing.foreach(q => println(s"goldens FAILED $q"))
    unstable.foreach(q => println(s"goldens FINDING $q: output differs between two runs"))
    println(s"goldens $name: ${first.size} written, ${missing.size} failed, " +
      s"${unstable.size} not repeatable")
    spark.stop()
  }
}
