package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import graft.model.Schemas
import graft.operators.{AsOf, NearestSelect, Upsert}
import graft.sources.ChainJson

/** The flagship E2 path — the reference's daily chain transform+load
  * (reference: transform-load.2025-08-19.rkt:102-152, orchestrated at
  * :158-225) re-expressed as ONE distributed dataflow composed of the
  * operators:
  *
  *   read day folder ∪ prices ≤ folderDate → per symbol: as-of mark,
  *   [[NearestSelect]] closest expirations, then closest strikes, the
  *   chain rows at the picks → [[Upsert]] PK dedup
  *
  * Shuffle budget, measured on the d01 fixture's final (AQE) plan: ONE
  * shuffle exchange, hash-partitioned on `act_symbol`, ONE Window (the
  * PK dedup), no broadcast, and one JSON scan. The chain rows, each
  * packed into one struct of its other columns, and the day's price rows
  * meet in a single `groupBy(act_symbol)`: the aggregate collects the
  * symbol's rows, its listed expirations and its as-of close
  * (`max_by(close, date)`), both picks are array expressions on that one
  * row, and the winning rows are exploded back out. `act_symbol` comes
  * from the grouping key, so the
  * PK dedup (PK ⊇ `act_symbol`) runs inside the aggregate's partitioning
  * with no exchange of its own. The cost is that whole chain rows cross
  * the shuffle rather than (expiration, strike) pairs; in exchange the
  * JSON is parsed once and the mark, winner and dedup shuffles are gone.
  * At 100 TB the day folder is a partition-pruned scan, a symbol-day is
  * a few thousand rows, and AQE handles symbol skew. [[markPrices]] is
  * only the standalone as-of, for callers of [[selectNearTheMoney]]
  * that pass marks.
  *
  * Selection semantics (:147-152): for each of 4 target expirations pick
  * the nearest REAL expiration; within it, for each of 27 target strikes
  * pick the nearest REAL strike and keep ALL rows (both sides) at it. A
  * row picked by several targets is kept once; duplicate PKs collapse in
  * the PK dedup, like the reference's ON CONFLICT DO NOTHING (:209).
  * Ties: the reference's fold keeps the first-seen element; we break
  * ties deterministically toward the SMALLER expiration/strike and
  * document that choice. A null expiration or strike is never a
  * candidate, and a symbol with no as-of close, or a null one, picks no
  * strike.
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
      folderDate: java.sql.Date): DataFrame =
    nearTheMoney(chain, marks.select(col("act_symbol"),
      lit(folderDate).as("date"), col("mark").as("close")), folderDate)

  /** The one selection: the rows of `chain`, in its column order, at each
    * symbol's picks, where the mark is the `close` of the symbol's
    * latest `prices` row dated ≤ folderDate. One aggregate over the
    * union of both inputs; the output is hash-partitioned on the
    * aggregate's `act_symbol`. */
  private def nearTheMoney(chain: DataFrame, prices: DataFrame,
      folderDate: java.sql.Date): DataFrame = {
    val rowType = StructType(chain.schema.filter(_.name != "act_symbol"))
    val pxType = StructType(Seq(StructField("date", DateType),
      StructField("close", Schemas.Dec)))
    val rowsSide = chain.select(col("act_symbol"),
      struct(rowType.fieldNames.toSeq.map(col): _*).as("row"), lit(null).cast(pxType).as("px"))
    val pricesSide = prices
      .where(col("act_symbol").isNotNull && col("date") <= lit(folderDate))
      .select(col("act_symbol"), lit(null).cast(rowType).as("row"),
        struct(col("date"), col("close").cast(Schemas.Dec).as("close")).as("px"))
    // one row per symbol: its chain rows, its listed expirations and its
    // as-of close (:104-113; a null close at the latest date stays null)
    val bySymbol = rowsSide.union(pricesSide).groupBy("act_symbol")
      .agg(collect_list(col("row")).as("rows"),
        collect_set(col("row.expiration")).as("exps"),
        max_by(col("px.close"), col("px.date")).as("mark"))
    // 4 target expirations: folderDate + {2,4,6,8} weeks (:123-126)
    val targetExps = array(Seq(2, 4, 6, 8)
      .map(w => date_add(lit(folderDate), 7 * w)): _*)
    // 27 target strikes = mark × multipliers (:114-122)
    val targetStrikes = array(
      NearestSelect.strikeMultipliers.map(m => col("mark") * lit(m)): _*)
    // closest listed expirations (:51-58), each with its own strikes —
    // filtered once per expiration — then the closest strikes at each
    // (:60-66)
    val winners = transform(
      transform(
        NearestSelect.nearestIn(col("exps"), targetExps,
          (e, t) => abs(datediff(e, t))),
        e => struct(e.as("e"), transform(
          filter(col("rows"), _("expiration") === e), _("strike")).as("ks"))),
      x => struct(x("e").as("e"), NearestSelect.nearestIn(x("ks"),
        targetStrikes, (k, t) => abs(k - t)).as("ks")))
    // ALL chain rows (both sides) at a picked strike (:147-152); the
    // picks are distinct, so each row comes out once
    val kept = flatten(transform(winners, w => filter(col("rows"),
      r => r("expiration") === w("e") && array_contains(w("ks"), r("strike")))))
    bySymbol.select(col("act_symbol"), explode(kept).as("r"))
      .select(chain.columns.toSeq.map(c =>
        if (c == "act_symbol") col(c) else col(s"r.$c").as(c)): _*)
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
      else nearTheMoney(chain, prices, folderDate)
    // bid ASC NULLS LAST, spelled as plain columns (isNull sorts false
    // first) — keepFirst applies .asc itself, and a pre-wrapped SortOrder
    // would nest and kick the sort out of codegen.
    Upsert.keepFirst(selected, Schemas.optionChainPk,
        Seq(col("bid").isNull, col("bid")))
  }
}
