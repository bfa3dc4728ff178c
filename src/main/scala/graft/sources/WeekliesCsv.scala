package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Cleansing
import graft.operators.Upsert

/** Weeklies CSV source — the OCC weekly-options roster
  * (reference: weeklies-transform-load.rkt:41-70).
  *
  * Semantics: split on ',', trim fields, column 1 = symbol (with
  * BRKB→BRK.B / RDSA→RDS.A remap, :65-68), column 3 = effective date;
  * `last_seen` = file date; malformed rows (header lines, short rows,
  * bad dates) are dropped — the reference relies on a per-row exception
  * handler (:47-50); we use `try_to_date` + null filters, which keeps the
  * load declarative and the quarantine countable.
  *
  * Deliberate determinism deviation: when one file lists a symbol more
  * than once, the reference's last PHYSICAL row wins (sequential
  * ON CONFLICT DO UPDATE, :52-64). File order is not stable in a
  * distributed read, so [[upsertRoster]] keeps the row with the max
  * `effective_date` instead — value-determined, order-free (same
  * policy as the other tie-break deviations, SURVEY §5).
  */
object WeekliesCsv {

  def readFile(spark: SparkSession, path: String, fileDate: java.sql.Date)
      : DataFrame = {
    // three positional columns by schema, not inferred from line 1: short
    // rows read as nulls (and drop below), long rows lose the extra fields
    val raw = spark.read.schema("_c0 STRING, _c1 STRING, _c2 STRING")
      .option("header", "false").csv(path)
    raw.select(
        Cleansing.remapSymbol(trim(col("_c0"))).as("act_symbol"),
        expr("try_to_date(trim(_c2))").as("effective_date"),
        lit(fileDate).as("last_seen"))
      .where(col("act_symbol").isNotNull && length(col("act_symbol")) > 0 &&
        col("effective_date").isNotNull)
  }

  /** Merge a day's file into the roster: ON CONFLICT DO UPDATE — the new
    * row wins (reference: :52-64), and among a symbol's rows within the
    * file the latest `effective_date` wins. One pick per symbol:
    * incoming before existing, then `effective_date` DESC. */
  def upsertRoster(existing: DataFrame, incoming: DataFrame): DataFrame =
    Upsert.firstPerKey(
        existing.withColumn("__src", lit(1))
          .unionByName(incoming.withColumn("__src", lit(0))),
        Seq(col("act_symbol")),
        Seq(col("__src").asc, col("effective_date").desc))
      .drop("__src")

  /** SCD read side of the roster: which weeklies were listed on each
    * `as_of` date — `effective_date ≤ as_of ≤ last_seen` on the current
    * table (the reference's `oic.weekly` keeps ONE row per symbol —
    * schema.sql:53-60 — updated in place per file, weeklies-transform-
    * load.rkt:52-64, so the containment interval is the row itself).
    *
    * Shape: an interval (theta) join of a date list against the roster.
    * The DATE LIST is the broadcast side (a handful of snapshot dates);
    * the roster streams through the nested-loop probe at scan speed —
    * no shuffle of either side, correct at any roster size. */
  def listedOn(roster: DataFrame, asOfDates: DataFrame): DataFrame = {
    roster.join(broadcast(asOfDates.select(col("as_of"))),
        col("effective_date") <= col("as_of") &&
          col("as_of") <= col("last_seen"))
      .select(col("as_of"), col("act_symbol"), col("effective_date"),
        col("last_seen"))
  }
}
