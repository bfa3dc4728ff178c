package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.operators.{Export, Upsert}
import graft.plans.ChainPipeline
import graft.sources.{ChainJson, WeekliesCsv}

/** The reference's daily batch job. Pass 0 loads `days` trading days of
  * `symbols` chain documents into an empty option_chain table — each day
  * `ChainPipeline.loadDay` merged with keep-first `Upsert.upsert` and
  * written as the next table version, the day's weeklies roster folded in
  * last-wins — then exports the table as daily CSV and restores it. Every
  * later pass replays all days onto the loaded table, which must insert
  * nothing.
  *
  * `merge` is the day's merge step; the self-test swaps in a faulty one.
  */
final class EtlChain(ctx: Ctx, symbols: Int, days: Int,
    merge: (DataFrame, DataFrame) => DataFrame = EtlChain.keepFirstMerge)
    extends Workload {
  import EtlChain._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var in: EtlInputs = _
  private var prices: DataFrame = _
  /** Table and roster versions left by the cold pass. */
  private var loaded: (Path, Path) = _
  private var coldInserted = 0L

  def prepare(): String = {
    in = EtlInputs.generate(ctx.seed, ctx.work.resolve("inputs"), symbols, days)
    Workload.sha256(Workload.filesUnder(in.dir))
  }

  private def read(p: Path): DataFrame = spark.read.parquet(p.toString)

  /** Run one day: load, merge, write the next version; fold the roster.
    * Returns the op and the new (table, roster) versions. */
  private def day(pass: Int, di: Int, table: Option[Path], roster: Option[Path],
      out: Path): (Op, Path, Path) = {
    val d = in.days(di)
    val date = java.sql.Date.valueOf(d)
    val nextT = out.resolve(s"chain/v$di")
    val nextR = out.resolve(s"roster/v$di")
    val op = Workload.attempt(s"day_$d") {
      val (tLoad, _) = Clock.timed(tr.span("etl.day") {
        val incoming = tr.span("plans.ChainPipeline.loadDay") {
          ChainPipeline.loadDay(spark, in.dayDir(d).toString, prices, date)
        }
        val existing = table.map(read).getOrElse(emptyLike(incoming))
        tr.span("operators.Upsert.upsert") { merge(existing, incoming) }
          .write.parquet(nextT.toString)
      })
      val (tRoster, _) = Clock.timed(tr.span("operators.roster") {
        val file = WeekliesCsv.readFile(spark, in.roster(d).toString, date)
        roster.map(r => WeekliesCsv.upsertRoster(read(r), file))
          .getOrElse(file).write.parquet(nextR.toString)
      })
      // checks, outside the timed region: a replay day only has to insert
      // nothing; the full table checks run on every cold day and on the
      // replay's last day
      val before = table.map(read(_).count()).getOrElse(0L)
      val after = read(nextT)
      val inserted = after.count() - before
      val problems =
        (if (pass == 0 || di == in.days.size - 1) checkTable(after, date) else Nil) ++
        (if (pass > 0 && inserted != 0) Seq(s"replay inserted $inserted rows")
         else Nil)
      if (pass == 0) coldInserted += inserted
      Op(s"day_$d", tLoad + tRoster, problems.isEmpty, problems.mkString("; "),
        parts = Map("load_upsert" -> tLoad, "roster" -> tRoster,
          "inserted" -> inserted.toDouble))
    }
    (op, nextT, nextR)
  }

  /** Export the loaded table as daily CSV, restore it, and check the
    * round trip. */
  private def exportRestore(table: Path, out: Path): Op =
    Workload.attempt("export_restore") {
      val csv = out.resolve("export").toString
      val projected = Export.doltChainProjection(read(table))
      val (tExport, _) = Clock.timed(tr.span("operators.Export.writeDailyCsv") {
        Export.writeDailyCsv(projected, csv)
      })
      val schema = StructType(projected.schema.fields.filter(_.name != "date") :+
        StructField("date", DateType))
      val (tRestore, (good, bad)) = Clock.timed(
        tr.span("operators.Export.readCsvRestore") {
          Export.readCsvRestore(spark, csv, schema)
        })
      val cols = projected.columns.toIndexedSeq.map(col)
      val quarantined = bad.count()
      val same = Digest.of(good.select(cols: _*).orderBy(Schemas.optionChainPk.map(col): _*)) ==
        Digest.of(projected.select(cols: _*).orderBy(Schemas.optionChainPk.map(col): _*))
      val problems = (if (quarantined != 0) Seq(s"$quarantined rows quarantined") else Nil) ++
        (if (!same) Seq("restored rows differ from the exported table") else Nil)
      Op("export_restore", tExport + tRestore, problems.isEmpty,
        problems.mkString("; "), kind = "aux",
        parts = Map("export" -> tExport, "restore" -> tRestore))
    }

  def pass(i: Int): PassResult = {
    if (prices == null)
      prices = spark.read.schema("act_symbol STRING, date DATE, close DOUBLE")
        .option("header", "true").csv(in.prices.toString)
    val out = ctx.work.resolve(s"pass$i")
    var table = Option(loaded).map(_._1)
    var roster = Option(loaded).map(_._2)
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    in.days.indices.foreach { di =>
      val (op, t, r) = day(i, di, table, roster, out)
      ops += op
      // a failed day leaves the previous versions in place
      if (java.nio.file.Files.exists(t.resolve("_SUCCESS")) &&
          java.nio.file.Files.exists(r.resolve("_SUCCESS"))) {
        table = Some(t); roster = Some(r)
      }
    }
    if (i == 0) {
      loaded = (table.get, roster.get)
      ops += exportRestore(table.get, out)
    }
    PassResult(ops.map(_.wall).sum, ops.toSeq)
  }

  def layers(passes: Seq[PassResult]): Map[String, Double] = {
    val cold = passes.head.ops
    val stage = ctx.work.resolve("layers")
    var jsonS, selectS, upsertS = 0.0
    var prev: Option[Path] = None
    in.days.zipWithIndex.foreach { case (d, di) =>
      val date = java.sql.Date.valueOf(d)
      val raw = tr.span("sources.ChainJson.readDay") {
        ChainJson.toOptionChain(ChainJson.readDay(spark, in.dayDir(d).toString), date)
      }
      jsonS += Clock.timed(Workload.noop(raw))._1
      val chainP = stage.resolve(s"chain$di").toString
      raw.write.parquet(chainP)
      val marks = ChainPipeline.markPrices(prices, date)
      selectS += Clock.timed(tr.span("plans.ChainPipeline.selectNearTheMoney") {
        Workload.noop(ChainPipeline.selectNearTheMoney(
          spark.read.parquet(chainP), marks, date))
      })._1
      val incomingP = stage.resolve(s"incoming$di").toString
      ChainPipeline.loadDay(spark, in.dayDir(d).toString, prices, date)
        .write.parquet(incomingP)
      val incoming = spark.read.parquet(incomingP)
      val existing = prev.map(read).getOrElse(emptyLike(incoming))
      upsertS += Clock.timed(tr.span("operators.Upsert.upsert") {
        Workload.noop(merge(existing, incoming))
      })._1
      prev = Some(ctx.work.resolve(s"pass0/chain/v$di"))
    }
    def part(k: String) = cold.map(_.parts.getOrElse(k, 0.0)).sum
    Map("sources.json_day_s" -> jsonS, "plans.select_s" -> selectS,
      "operators.upsert_s" -> upsertS, "operators.roster_s" -> part("roster"),
      "operators.export_s" -> part("export"),
      "operators.restore_s" -> part("restore"),
      "operators.rows_inserted" -> coldInserted.toDouble)
  }
}

object EtlChain {
  val keepFirstMerge: (DataFrame, DataFrame) => DataFrame =
    (existing, incoming) => Upsert.upsert(existing, incoming,
      Schemas.optionChainPk, preferExisting = true)

  /** Most rows one symbol-day can select: 4 target expirations × 27
    * target strikes × 2 sides. */
  val MaxRowsPerSymbolDay = 216

  private def emptyLike(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[Row], df.schema)

  /** Problems with a table version: duplicate primary keys, or a
    * symbol-day of `date` over the selection bound. */
  def checkTable(t: DataFrame, date: java.sql.Date): Seq[String] = {
    val dupKeys = t.groupBy(Schemas.optionChainPk.map(col): _*).count()
      .where(col("count") > 1).count()
    val maxPerSymbol = t.where(col("date") === lit(date))
      .groupBy("act_symbol").count().agg(max("count")).head().get(0)
    val over = Option(maxPerSymbol).map(_.asInstanceOf[Long]).getOrElse(0L)
    (if (dupKeys > 0) Seq(s"$dupKeys duplicate primary keys") else Nil) ++
      (if (over > MaxRowsPerSymbolDay)
        Seq(s"a symbol-day has $over rows (> $MaxRowsPerSymbolDay)") else Nil)
  }
}
