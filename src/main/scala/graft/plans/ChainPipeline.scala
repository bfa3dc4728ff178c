package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{AsOf, NearestSelect, Upsert}
import graft.sources.ChainJson

/** The flagship E2 path — the reference's daily chain transform+load
  * (reference: transform-load.2025-08-19.rkt:102-152, orchestrated at
  * :158-225) re-expressed as ONE distributed dataflow composed of the
  * operators:
  *
  *   read day folder → [[AsOf]] mark price → [[NearestSelect]] closest
  *   expiration → [[NearestSelect]] closest strike (keep both sides) →
  *   [[Upsert]] PK dedup
  *
  * Shuffle budget, measured on the d01 fixture's final (AQE) plan: 6
  * shuffle exchanges — the distinct (symbol, expiration) list, the
  * expiration pick, the as-of mark pick, the strike pick, the PK dedup
  * and the export sort; the target grids and the picked strikes are
  * broadcast. The picks partition by (symbol, target), not by symbol
  * alone, so the day is not yet one pass per symbol. At 100 TB the day
  * folder is a partition-pruned scan, prices-per-day are small (one row
  * per symbol), and AQE handles symbol skew.
  *
  * Selection semantics (:147-152): for each of 4 target expirations pick
  * the nearest REAL expiration; within it, for each of 27 target strikes
  * pick the nearest REAL strike and keep ALL rows (both sides) at it. A
  * row picked by several targets is kept once; duplicate PKs collapse in
  * the PK dedup, like the reference's ON CONFLICT DO NOTHING (:209).
  * Ties: the reference's fold keeps the first-seen element; we break
  * ties deterministically toward the SMALLER expiration/strike and
  * document that choice.
  */
object ChainPipeline {

  /** As-of mark price per symbol: close at the latest date ≤ folderDate
    * (reference: :104-113, the correlated subquery — here one top-1
    * pick, no correlated join). */
  def markPrices(prices: DataFrame, folderDate: java.sql.Date): DataFrame =
    AsOf.latestPerKeyUpTo(prices, Seq("act_symbol"), col("date"),
        lit(folderDate), Seq.empty)
      .select(col("act_symbol"), col("close").cast(Schemas.Dec).as("mark"))

  /** Target-grid selection over a loaded option_chain DataFrame: two
    * [[NearestSelect]] picks, expirations then strikes. */
  def selectNearTheMoney(chain: DataFrame, marks: DataFrame,
      folderDate: java.sql.Date): DataFrame = {
    // 4 target expirations: folderDate + {2,4,6,8} weeks (:123-126)
    val targetExps = chain.sparkSession.range(1).select(explode(array(
      Seq(2, 4, 6, 8).map(w => date_add(lit(folderDate), 7 * w)): _*))
      .as("t_exp"))
    // closest listed expiration per (symbol, target) (:51-58)
    val exps = NearestSelect.nearest(
      chain.select("act_symbol", "expiration").distinct(), Seq("act_symbol"),
      targetExps, abs(datediff(col("expiration"), col("t_exp"))),
      Seq(col("expiration")))

    // 27 target strikes = mark × multipliers (:114-122) at each selected
    // expiration of the symbol
    val targetStrikes = exps.select("act_symbol", "expiration")
      .join(marks.select(col("act_symbol"), explode(array(
          NearestSelect.strikeMultipliers.map(m => col("mark") * lit(m)): _*))
        .as("t_strike")), "act_symbol")

    // closest listed strike per (symbol, selected expiration, target
    // strike), keeping ALL chain rows (both sides) at it (:60-66, :147-152)
    NearestSelect.nearestValueAll(chain, Seq("act_symbol", "expiration"),
      targetStrikes, abs(col("strike") - col("t_strike")), col("strike"))
  }

  /** Full day pipeline: JSON folder → selected, PK-deduped option_chain
    * rows, ordered like the export (Q3 sort, dump-dat.rkt:66-76). */
  def loadDay(spark: SparkSession, dayDir: String, prices: DataFrame,
      folderDate: java.sql.Date, allOptions: Boolean = false): DataFrame = {
    val chain = ChainJson.toOptionChain(
      ChainJson.readDay(spark, dayDir), folderDate)
    val selected =
      if (allOptions) chain
      else selectNearTheMoney(chain, markPrices(prices, folderDate), folderDate)
    // bid ASC NULLS LAST, spelled as plain columns (isNull sorts false
    // first) — keepFirst applies .asc itself, and a pre-wrapped SortOrder
    // would nest and kick the sort out of codegen.
    Upsert.keepFirst(selected, Schemas.optionChainPk,
        Seq(col("bid").isNull, col("bid")))
      .orderBy("act_symbol", "expiration", "strike", "call_put")
  }
}
