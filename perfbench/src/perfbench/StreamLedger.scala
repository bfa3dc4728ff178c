package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Stats
import graft.operators.Upsert
import graft.streaming.Streams

/** Incremental loading: the generated `events` table, split by the seed into
  * `batches` ordered micro-batch parquet files, lands one file at a time in
  * a directory that two streams read — `Streams.keepFirstSink` on
  * `event_id`, and `Streams.additiveSink` on a (g, v) ledger with
  * g = event_type and v = a log-bucketed value. `redeliveries` earlier
  * batches land again later under new file names. Each operation lands a
  * file, waits for both streams (`processAllAvailable`), then collects the
  * `sumView`, `ksDriftView` and `psiView` — so its latency is the
  * freshness of the views. The streams start in the cold pass and keep
  * running; each pass lands the next `perPass` files.
  */
final class StreamLedger(ctx: Ctx, batches: Int, redeliveries: Int,
    perPass: Int) extends Workload {
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val staging = ctx.work.resolve("staging")
  private val dir = ctx.work.resolve("stream")
  private val landing = dir.resolve("landing")
  private val keepTable = dir.resolve("keep_first").toString
  private val ledger = dir.resolve("ledger").toString
  /** The landing sequence: (file name, staged batch). */
  private var landings: Seq[(String, Int)] = Nil
  private var queries: Seq[StreamingQuery] = Nil
  /** The views as last collected. */
  private var lastViews: Seq[Seq[Row]] = Nil

  override def maxPasses: Int = landings.size / perPass

  private val keys = Seq("g", "v")
  private def ledgerRows(df: DataFrame): DataFrame = df.select(
    col("event_type").as("g"),
    least(floor(log2(col("value") + 1) * 4), lit(40L)).cast("long").as("v"),
    col("value"))

  def prepare(): String = {
    val r = new java.util.SplittableRandom(ctx.seed)
    val events = graft.sources.Tables.events(spark, ctx.tables.toString)
    val n = events.count()
    // cut points: equal batches, each cut moved by up to a tenth of a batch
    val cuts = (1 until batches).map { k =>
      k * n / batches + (r.nextDouble() - 0.5) * 0.2 * n / batches }.map(_.round)
    val bounds = array(cuts.map(c => lit(c)): _*)
    val batched = events.withColumn("batch", aggregate(bounds, lit(0),
      (acc, c) => acc + when(col("event_id") >= c, 1).otherwise(0)))
    batched.repartition(batches, col("batch")).sortWithinPartitions("event_id")
      .write.partitionBy("batch").parquet(staging.resolve("by_batch").toString)
    (0 until batches).foreach { b =>
      val parts = Workload.filesUnder(staging.resolve(s"by_batch/batch=$b"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"batch $b: ${parts.size} files")
      Files.move(parts.head, staging.resolve(f"batch-$b%04d.parquet"))
    }
    Workload.deleteTree(staging.resolve("by_batch"))
    // re-deliveries: an earlier batch lands again at a later step
    val base = (0 until batches).map(b => (f"batch-$b%04d.parquet", b))
    val again = (0 until redeliveries).map { k =>
      val at = 1 + r.nextInt(batches - 1)
      (at, (f"redelivered-$k%02d.parquet", r.nextInt(at)))
    }
    landings = base.zipWithIndex.flatMap { case (l, i) =>
      again.filter(_._1 == i).map(_._2) :+ l }
    // the fingerprint covers rows, not file bytes: parquet footers list
    // column encodings in a JVM-dependent order
    s"rows:${Digest.of(batched.orderBy("event_id")).hex} landings:" +
      landings.map(_._2).mkString(",")
  }

  private def views(): Seq[DataFrame] = Seq(
    Streams.sumView(spark, ledger, keys),
    Streams.ksDriftView(spark, ledger),
    Streams.psiView(spark, ledger))

  private def start(): Unit = {
    Files.createDirectories(landing)
    val schema = spark.read.parquet(staging.resolve("batch-0000.parquet").toString).schema
    val stream = spark.readStream.schema(schema).parquet(landing.toString)
    queries = Seq(
      Streams.keepFirstSink(stream, Seq("event_id"), Seq(col("ts")), keepTable,
        dir.resolve("ckpt_keep").toString),
      Streams.additiveSink(ledgerRows(stream), keys, col("value"), ledger,
        dir.resolve("ckpt_ledger").toString))
  }

  private def land(file: String, b: Int): Op = {
    val landed = Clock.now()
    Workload.attempt(file) {
      Files.copy(staging.resolve(f"batch-$b%04d.parquet"),
        landing.resolve(s".$file.tmp"))
      Files.move(landing.resolve(s".$file.tmp"), landing.resolve(file),
        StandardCopyOption.ATOMIC_MOVE)
      val (batchS, _) = Clock.timed(tr.span("streaming.processAllAvailable") {
        queries.foreach(_.processAllAvailable())
      })
      val (viewS, _) = Clock.timed(tr.span("streaming.views") {
        lastViews = views().map(_.collect().toSeq)
      })
      Op(file, Clock.now() - landed, ok = true,
        parts = Map("batch" -> batchS, "view" -> viewS))
    }
  }

  def pass(i: Int): PassResult = {
    val t0 = Clock.now()
    val startOp = if (i == 0) Seq(Workload.attempt("start") {
      tr.span("streaming.start")(start()); Op("start", 0, ok = true, kind = "aux")
    }) else Nil
    val ops = startOp ++ landings.slice(i * perPass, (i + 1) * perPass).map {
      case (file, b) => land(file, b) }
    PassResult(Clock.now() - t0, ops)
  }

  override def finish(): Seq[Op] = {
    queries.foreach(_.stop())
    Seq(finalCheck())
  }

  /** After the last batch the views it collected equal their batch
    * operators over all ingested rows, and the keep-first table equals
    * `Upsert.keepFirst` over them, re-deliveries included. */
  private def finalCheck(): Op =
    Workload.attempt("final_state") {
      val all = spark.read.parquet(landing.toString)
      val rows = ledgerRows(all)
      val expected = Seq(
        rows.groupBy(keys.map(col): _*).agg(
          sum(col("value").cast("decimal(28,4)")).cast("double").as("total"),
          count(lit(1)).as("n")),
        Stats.ksDrift(rows, col("g"), col("v")),
        Stats.psi(rows, col("g"), col("v")))
      def ordered(df: DataFrame) = df.orderBy(df.columns.toIndexedSeq.map(col): _*)
      def sorted(rows: Seq[Row]) = rows.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0001"))
      val names = Seq("sumView", "ksDriftView", "psiView")
      val bad = names.zip(lastViews.zip(expected)).collect {
        case (n, (got, exp)) if sorted(got) != sorted(exp.collect().toSeq) => n
      }
      val keep = spark.read.parquet(keepTable)
      val keepExp = Upsert.keepFirst(all, Seq("event_id"), Seq(col("ts")))
      val keepBad = Digest.of(ordered(keep)) != Digest.of(ordered(keepExp.select(
        keep.columns.toIndexedSeq.map(col): _*)))
      val problems = bad.map(_ + " differs from its batch operator") ++
        (if (lastViews.size != names.size) Seq("the views were never collected") else Nil) ++
        (if (keepBad) Seq("keep-first table differs from Upsert.keepFirst") else Nil)
      Op("final_state", 0, problems.isEmpty, problems.mkString("; "), kind = "check")
    }

  def layers(passes: Seq[PassResult]): Map[String, Double] = {
    val ops = passes.flatMap(_.ops).filter(_.kind == "op")
    def sum(k: String) = ops.map(_.parts.getOrElse(k, 0.0)).sum
    val fresh = ops.map(_.wall)
    Map("streaming.batch_s" -> sum("batch"), "streaming.view_s" -> sum("view"),
      "streaming.freshness_p50_s" -> Workload.quantile(fresh, 0.5),
      "streaming.freshness_p90_s" -> Workload.quantile(fresh, 0.9),
      "streaming.ledger_files" -> Workload.filesUnder(Paths.get(ledger))
        .count(_.getFileName.toString.endsWith(".parquet")).toDouble,
      "streaming.sink_rows_inserted" -> spark.read.parquet(keepTable).count().toDouble)
  }
}
