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
  *   read day folder → [[AsOf]] mark price → per symbol, [[NearestSelect]]
  *   closest expirations, then closest strikes → semi-join back (keep
  *   both sides) → [[Upsert]] PK dedup
  *
  * Shuffle budget, measured on the d01 fixture's final (AQE) plan: 3
  * shuffle exchanges — the chain's per-symbol aggregate, the as-of mark
  * pick on prices, and the PK dedup — and 2 Window operators (the mark
  * pick and the PK dedup); the marks and the picked (symbol, expiration,
  * strike) winners are broadcast. The selection itself is one pass per
  * symbol: the aggregate collects the symbol's listed (expiration,
  * strike) pairs into one row and both picks are array expressions on
  * it. The PK dedup cannot reuse the aggregate's shuffle, which carries
  * collected pairs rather than chain rows. At 100 TB the day folder is a
  * partition-pruned scan, prices-per-day are small (one row per symbol),
  * the winners are at most 4 × 27 rows per symbol, and AQE handles
  * symbol skew.
  *
  * Selection semantics (:147-152): for each of 4 target expirations pick
  * the nearest REAL expiration; within it, for each of 27 target strikes
  * pick the nearest REAL strike and keep ALL rows (both sides) at it. A
  * row picked by several targets is kept once; duplicate PKs collapse in
  * the PK dedup, like the reference's ON CONFLICT DO NOTHING (:209).
  * Ties: the reference's fold keeps the first-seen element; we break
  * ties deterministically toward the SMALLER expiration/strike and
  * document that choice. A null expiration or strike is never a
  * candidate, and a symbol whose as-of close is null picks no strike.
  */
object ChainPipeline {

  /** As-of mark price per symbol: close at the latest date ≤ folderDate
    * (reference: :104-113, the correlated subquery — here one top-1
    * pick, no correlated join). */
  def markPrices(prices: DataFrame, folderDate: java.sql.Date): DataFrame =
    AsOf.latestPerKeyUpTo(prices, Seq("act_symbol"), col("date"),
        lit(folderDate), Seq.empty)
      .select(col("act_symbol"), col("close").cast(Schemas.Dec).as("mark"))

  /** Target-grid selection over a loaded option_chain DataFrame: the rows
    * of `chain`, in its column order, at each symbol's picked
    * (expiration, strike) pairs. Symbols without a mark select nothing. */
  def selectNearTheMoney(chain: DataFrame, marks: DataFrame,
      folderDate: java.sql.Date): DataFrame = {
    // 4 target expirations: folderDate + {2,4,6,8} weeks (:123-126)
    val targetExps = array(Seq(2, 4, 6, 8)
      .map(w => date_add(lit(folderDate), 7 * w)): _*)
    // 27 target strikes = mark × multipliers (:114-122)
    val targetStrikes = array(
      NearestSelect.strikeMultipliers.map(m => col("mark") * lit(m)): _*)
    // one row per symbol: its listed expirations and (expiration, strike)
    // pairs, beside its mark
    val listed = chain.groupBy("act_symbol")
      .agg(collect_set(col("expiration")).as("exps"),
        collect_set(struct(col("expiration"), col("strike"))).as("pairs"))
      .join(broadcast(marks), "act_symbol")
    // closest listed expirations (:51-58), each with its own strikes —
    // filtered once per expiration — then the closest strikes at each
    // (:60-66)
    val picked = transform(
      NearestSelect.nearestIn(col("exps"), targetExps,
        (e, t) => abs(datediff(e, t))),
      e => struct(e.as("e"), transform(
        filter(col("pairs"), p => p("expiration") === e), _("strike")).as("ks")))
    val winners = listed
      .select(col("act_symbol").as("__s"), explode(transform(picked,
        x => struct(x("e").as("e"), NearestSelect.nearestIn(x("ks"),
          targetStrikes, (k, t) => abs(k - t)).as("ks")))).as("x"))
      .select(col("__s"), col("x.e").as("__e"), explode(col("x.ks")).as("__k"))
    // ALL chain rows (both sides) at a picked strike (:147-152)
    chain.join(broadcast(winners), col("act_symbol") === col("__s") &&
      col("expiration") === col("__e") && col("strike") === col("__k"),
      "left_semi")
  }

  /** Full day pipeline: JSON folder → selected, PK-deduped option_chain
    * rows. The rows come in no particular order: callers that need one
    * sort where they consume (the export order is act_symbol,
    * expiration, strike, call_put — dump-dat.rkt:66-76). */
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
  }
}
