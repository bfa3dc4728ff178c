package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own checks and generators. Prints one
  * PASS/FAIL line per check and exits non-zero if any fails. */
object SelfTest {
  def run(o: Map[String, String]): Unit = {
    val spark = Main.setUp(o)
    val work = Paths.get(o("work")).resolve("selftest")
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable =>
        println(s"selftest   error: $e"); false }
      if (!pass) failures += 1
      println(s"selftest ${if (pass) "PASS" else "FAIL"} $name")
    }
    def ctx(sub: String, seed: Long) = new Ctx(spark, seed,
      Paths.get(o("tables")), work.resolve(sub), new Tracer(spark, false),
      Paths.get(o("goldens")))

    check("etl_chain inputs are byte-identical for one seed and differ across seeds") {
      def sha(sub: String, seed: Long) = Workload.sha256(Workload.filesUnder(
        EtlInputs.generate(seed, work.resolve(sub), 6, 2).dir))
      val a = sha("etl_a", 7); val b = sha("etl_b", 7); val c = sha("etl_c", 8)
      a == b && a != c
    }
    check("stream_ledger inputs have the same rows and landings for one seed and differ across seeds") {
      def fp(sub: String, seed: Long) = new StreamLedger(ctx(sub, seed), 8, 2, 2).prepare()
      val a = fp("st_a", 7); val b = fp("st_b", 7); val c = fp("st_c", 8)
      a == b && a != c
    }
    check("digest does not depend on partition boundaries") {
      def sorted(parts: Int) = {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        try Digest.of(graft.sources.Tables.lineitem(spark, o("tables"))
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_extendedprice"))
        finally spark.conf.set("spark.sql.shuffle.partitions", Main.Cores.toString)
      }
      sorted(1) == sorted(7)
    }

    val sql = ctx("sql", 0)
    val corpus = Main.workload("corpus", sql).asInstanceOf[Corpus]
    val goldens = Goldens.read(sql.goldens.resolve("corpus.tsv"))
    def matches(q: String, df: DataFrame): Boolean = {
      val d = Digest.of(df)
      goldens(q) == ((d.rows, d.hex, d.schema))
    }
    def query(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, o("tables"))
    for (q <- Seq("q05_trunc_export", "q29_rolling_window")) {
      check(s"$q matches its golden, and fails it without the final ORDER BY") {
        val df = query(q)
        var dropped = false
        val unsorted = Internals.ofRows(spark, Internals.analyzed(df).transformDown {
          case s: Sort if !dropped && s.global => dropped = true; s.child
        })
        corpus.run(q)._1.ok && dropped && !matches(q, unsorted)
      }
    }
    check("q29_rolling_window fails its golden when one value changes") {
      val df = query("q29_rolling_window")
      val rows = df.collect()
      val i = rows.length / 2
      val r = rows(i)
      val j = df.schema.fields.indexWhere(_.dataType.typeName == "double")
      val changed = Row.fromSeq(r.toSeq.updated(j, r.getDouble(j) + 1e-9))
      def frame(rs: Seq[Row]) = spark.createDataFrame(
        spark.sparkContext.parallelize(rs, 1), df.schema)
      j >= 0 && matches("q29_rolling_window", frame(rows.toSeq)) &&
        !matches("q29_rolling_window", frame(rows.toSeq.updated(i, changed)))
    }

    check("etl_chain passes with keep-first upsert") {
      val w = new EtlChain(ctx("etl_ok", 3), symbols = 4, days = 2)
      w.prepare()
      (w.pass(0).ops ++ w.pass(1).ops).forall(_.ok)
    }
    check("etl_chain fails when a day is loaded twice without dedup") {
      val w = new EtlChain(ctx("etl_bad", 3), symbols = 4, days = 2,
        merge = (existing, incoming) => existing.unionByName(incoming))
      w.prepare()
      val cold = w.pass(0).ops
      val replay = w.pass(1).ops.filter(_.kind == "op")
      cold.forall(_.ok) && replay.nonEmpty &&
        replay.forall(op => !op.ok && op.note.contains("replay inserted")) &&
        replay.last.note.contains("duplicate primary keys")
    }
    check("stream_ledger views and keep-first table match their batch operators") {
      val w = new StreamLedger(ctx("stream", 5), 4, 2, 3)
      w.prepare()
      ((0 until w.maxPasses).flatMap(w.pass(_).ops) ++ w.finish()).forall(_.ok)
    }
    spark.stop()
    println(s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
