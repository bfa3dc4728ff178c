package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream windowing in batch form (the streaming forms live in
  * graft.streaming). Gap comparisons are done in integer MICROSECONDS
  * (`unix_micros`) — bit-exact, no floating-point epoch math.
  */
object EventWindows {

  /** Free the checkpoint blocks of an eagerly localCheckpoint-ed frame
    * (the Memo race-loser discipline): Dataset.unpersist is a
    * CacheManager no-op for checkpoints — the blocks hang off the
    * plan's LogicalRDD leaf, so unpersist THAT. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Tumbling window aggregation; `width` e.g. "1 hour". */
  def tumbling(df: DataFrame, ts: Column, width: String, keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    df.groupBy((window(ts, width).getField("start").as("ws") +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding window aggregation; window() explodes each event into
    * width/slide windows. */
  def sliding(df: DataFrame, ts: Column, width: String, slide: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(ts, width, slide).getField("start").as("ws") +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Trailing-window RATE ANOMALY: per key, the z-score of each
    * period's event count against the preceding `lookback` observed
    * periods — the ingestion-health alarm (a crawler going dark, a
    * source suddenly flooding) in the same family as the drift
    * monitor. z = (c − μ)/σ over the trailing frame, computed
    * tie-free:
    *   z = (c·n − S) / sqrt(n·Q − S²)
    * with S = Σc, Q = Σc² over the frame — every intermediate an
    * exact-integer-valued DOUBLE in fixed operand order (exact below
    * 2^53, the bm25 envelope: counts to ~3·10^8 per period with a
    * 24-period frame), and sqrt is IEEE-754 exactly rounded, so the
    * score is bit-deterministic with zero transcendental hazard.
    * Null z while the frame holds < `minPeriods` periods or when the
    * trailing variance is 0.
    *
    * Frame semantics: ROWS over OBSERVED periods — a key silent for a
    * while compares against its last `lookback` ACTIVE periods (gap
    * periods are zero-information here; compose with the x31 gap-fill
    * first for calendar-frame semantics).
    *
    * Scale shape: one (key, period) combiner agg, then per-key ROWS
    * windows — partition-parallel across keys, frame-bounded state.
    * Output: (ws, key, c, n_prior, z). */
  def rateAnomaly(df: DataFrame, ts: Column, width: String, keyCol: Column,
      lookback: Int = 24, minPeriods: Int = 8): DataFrame = {
    val counts = df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c"))
    rateAnomalyFromCounts(counts, lookback, minPeriods)
  }

  /** The window + z tail of [[rateAnomaly]] over an already-built
    * (ws, key, c) counts table — shared with the streaming form over
    * [[graft.streaming.Streams.sumView]] of a (key, ws) ledger, whose
    * counts come from the additive ledger instead of a scan. */
  def rateAnomalyFromCounts(counts: DataFrame, lookback: Int = 24,
      minPeriods: Int = 8): DataFrame = {
    require(lookback >= 2 && minPeriods >= 2 && minPeriods <= lookback,
      s"need 2 <= minPeriods ($minPeriods) <= lookback ($lookback)")
    val frame = Window.partitionBy("key").orderBy("ws")
      .rowsBetween(-lookback, -1)
    val withMoments = counts
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__s", sum(col("c")).over(frame))
      .withColumn("__q", sum(col("c") * col("c")).over(frame))
    withMoments.select(col("ws"), col("key"), col("c"),
      coalesce(col("__n"), lit(0L)).as("n_prior"),
      when(col("__n") >= minPeriods &&
          col("__n").cast("double") * col("__q").cast("double") -
            col("__s").cast("double") * col("__s").cast("double") > 0.0,
        (col("c").cast("double") * col("__n").cast("double") -
          col("__s").cast("double")) /
          sqrt(col("__n").cast("double") * col("__q").cast("double") -
            col("__s").cast("double") * col("__s").cast("double")))
        .as("z"))
  }

  /** CALENDAR-dense per-key period counts — the x31 gap-fill lesson
    * applied to event time: [[rateAnomaly]]'s ROWS frame sees only
    * OBSERVED periods, so a source that goes completely dark VANISHES
    * from its own alarm exactly when the alarm matters most. Here
    * every key carries a row for EVERY period of the global observed
    * span [min ws, max ws] (c = 0 where nothing arrived) — absent
    * evidence becomes evidence of absence, the chi-square zero-cell /
    * JSD-skeleton discipline applied to time.
    *
    * Scale shape: one (key, period) combiner agg; the span is a 1-row
    * broadcast; the dense grid is |keys| × |periods| rows — the
    * calendar frame's INHERENT size, generated by a per-key
    * sequence() explode (parallel across keys, never a window); the
    * fill is one (key, ws) equi-join. |periods| is bounded by the
    * observation span over the bucket width (e.g. a year of hours =
    * 8,760), not by event volume.
    * Output: (ws, key, c) — dense over the span. */
  def calendarCounts(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    calendarDensify(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** The densify half of [[calendarCounts]] over PRE-AGGREGATED
    * (ws, key, c) counts — the form a streaming additive ledger folds
    * to, so the calendar-frame alarms have streaming views bit-equal
    * to their batch operators over everything ingested. */
  def calendarDensify(counts: DataFrame, width: String): DataFrame = {
    val base = counts.select(col("ws"), col("key"), col("c"))
      .localCheckpoint(true) // feeds the span, the key set AND the fill
    val span = base.agg(min(col("ws")).as("__lo"),
      max(col("ws")).as("__hi"))
    val grid = base.select(col("key")).distinct()
      .crossJoin(broadcast(span))
      .select(col("key"),
        explode(sequence(col("__lo"), col("__hi"),
          expr(s"interval $width"))).as("ws"))
    grid.join(base, Seq("key", "ws"), "left")
      .select(col("ws"), col("key"),
        coalesce(col("c"), lit(0L)).as("c"))
  }

  /** CALENDAR-frame rate anomaly — [[rateAnomalyFromCounts]] over
    * [[calendarCounts]]: gap periods carry c = 0, so they both enter
    * the trailing baseline AND get scored themselves. A crawler going
    * dark shows up as a run of strongly-negative z rows; under the
    * observed-rows form it disappears from the frame entirely
    * (x119's documented limitation, closed here). Same tie-free
    * exact-integer z as [[rateAnomalyFromCounts]]. */
  def calendarRateAnomaly(df: DataFrame, ts: Column, width: String,
      keyCol: Column, lookback: Int = 24, minPeriods: Int = 8)
      : DataFrame =
    rateAnomalyFromCounts(calendarCounts(df, ts, width, keyCol),
      lookback, minPeriods)

  /** SEASONAL-profile anomaly — the hour-of-day (or any calendar
    * season) twin of [[calendarRateAnomaly]]'s trailing window: each
    * dense-grid cell scores against the OTHER periods sharing its
    * season (same hour-of-day across days, by default), so "3 AM is
    * always quiet" stops tripping the trailing alarm and "THIS 3 AM
    * is dead while every other 3 AM hums" starts. Reference moments
    * are LEAVE-ONE-OUT (n' = n−1, S' = S−c, Q' = Q−c², all exact
    * integer sums over the [[calendarCounts]] dense grid — zeros
    * included, so dark periods both score and count as evidence),
    * and the z is the same scaled tie-free form as the trailing
    * family: z = (c·n' − S') / √(n'·Q' − S'²), NULL when n' <
    * `minRef` or the reference has zero variance (the all-zero dark
    * season scores NULL everywhere — the alarm lives at the trailing
    * EDGE, x207's semantics; here NULL correctly says "no seasonal
    * norm exists").
    *
    * Scale shape: the profile is one (key, season) combiner agg over
    * the dense grid (|keys| × |seasons| rows), joined back by the
    * same bounded key — no window at all; the grid itself is
    * calendar-bounded, not event-bounded.
    * Output: (ws, key, season, c, n_ref, z). */
  def seasonalAnomaly(df: DataFrame, ts: Column, width: String,
      keyCol: Column, season: Column => Column = hour(_),
      minRef: Int = 3): DataFrame =
    seasonalAnomalyFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width, season, minRef)

  /** [[seasonalAnomaly]] over PRE-AGGREGATED (ws, key, c) counts —
    * the streaming-ledger form ([[calendarDensify]] + the
    * leave-one-out profile tail). */
  def seasonalAnomalyFromCounts(counts: DataFrame, width: String,
      season: Column => Column = hour(_), minRef: Int = 3): DataFrame =
    seasonalAnomalyFromDense(calendarDensify(counts, width), season,
      minRef)

  /** [[seasonalAnomaly]] over an ALREADY-DENSE (ws, key, c) calendar
    * grid — the [[calendarDensify]] output, typically one
    * session-memoized ledger shared by the whole calendar family
    * (x207/x210/x218/x222/x224/x227/x232/x235 all read the same
    * (source, width) grid; memoizing it makes each query's marginal
    * cost grid-only). Contract: `dense` must carry a row for EVERY
    * key × period of the span (zeros filled) and be cheap to re-scan
    * (checkpointed or memoized). */
  def seasonalAnomalyFromDense(denseGrid: DataFrame,
      season: Column => Column = hour(_), minRef: Int = 3): DataFrame = {
    require(minRef >= 2, s"seasonalAnomaly: minRef=$minRef must be >= 2")
    val dense = denseGrid
      .withColumn("season", season(col("ws")))
    val prof = dense.groupBy("key", "season").agg(
      count(lit(1)).as("__n"), sum(col("c")).as("__s"),
      sum(col("c") * col("c")).as("__q"))
    val np = (col("__n") - 1).cast("double")
    val sp = (col("__s") - col("c")).cast("double")
    val qp = (col("__q") - col("c") * col("c")).cast("double")
    dense.join(prof, Seq("key", "season"))
      .select(col("ws"), col("key"), col("season"), col("c"),
        (col("__n") - 1).as("n_ref"),
        when(col("__n") - 1 >= minRef && np * qp - sp * sp > 0.0,
          (col("c").cast("double") * np - sp) /
            sqrt(np * qp - sp * sp)).as("z"))
  }

  /** LEVEL-SHIFT locator — single change-point detection by exact
    * variance-reduction argmax (binary segmentation's first split;
    * Scott & Knott 1974): per key, the calendar boundary that best
    * splits the dense count series into two level regimes. Where
    * CUSUM (x194) ALARMS on drift past a threshold, this LOCATES the
    * step: gain(t) = S_L²/n_L + S_R²/n_R (the between-segment term of
    * the SSE decomposition — maximizing it minimizes total
    * within-segment SSE), evaluated at every boundary from prefix
    * sums.
    *
    * Determinism: prefix sums are exact integers over the
    * [[calendarDensify]] dense grid (gap periods carry 0 — a level
    * shift TO silence is exactly the case that matters); squares go
    * through DECIMAL(38,0) (a long² overflows at corpus scale); each
    * gain is ONE fixed double chain and the argmax ranks
    * (gain DESC, ws ASC) — a total order under ties. Scale shape: one
    * per-key ordered window over the calendar grid (|periods| rows
    * per key — calendar-bounded), one model-sized totals join, one
    * rank-1 cut riding WindowGroupLimit.
    * Output per key: (key, split_ws, n_left, n_right, mean_left,
    * mean_right, gain); keys with < 2 periods emit nothing. */
  def levelShift(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    levelShiftFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** [[levelShift]] over PRE-AGGREGATED (ws, key, c) counts — the
    * streaming-ledger form. */
  def levelShiftFromCounts(counts: DataFrame, width: String): DataFrame =
    levelShiftFromDense(calendarDensify(counts, width))

  /** [[levelShift]] over an already-dense calendar grid — the
    * [[seasonalAnomalyFromDense]] memoized-ledger contract. */
  def levelShiftFromDense(dense: DataFrame): DataFrame = {
    // (19,0)² = 38 digits — the widest square BOTH engines multiply
    // exactly without hitting a precision cap; prefix sums ≤ 1e19
    // cover any per-key event mass
    val N = org.apache.spark.sql.types.DecimalType(19, 0)
    val wOrd = Window.partitionBy("key").orderBy("ws")
    val cum = dense
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__cs", sum(col("c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      // the right regime's first period — computed BEFORE the
      // boundary filter drops the per-key last row
      .withColumn("__next", lead(col("ws"), 1).over(wOrd))
    val tot = dense.groupBy("key")
      .agg(count(lit(1)).as("__n"), sum(col("c")).as("__S"))
    val splits = cum.join(tot, Seq("key"))
      .where(col("__i") < col("__n")) // boundary AFTER row i
      .withColumn("__sr", col("__S") - col("__cs"))
      .withColumn("__nr", col("__n") - col("__i"))
      .withColumn("gain",
        (col("__cs").cast(N) * col("__cs").cast(N)).cast("double") /
          col("__i").cast("double") +
          (col("__sr").cast(N) * col("__sr").cast(N)).cast("double") /
            col("__nr").cast("double"))
    val wBest = Window.partitionBy("key")
      .orderBy(col("gain").desc, col("ws").asc)
    splits
      .withColumn("__rk", row_number().over(wBest))
      .where(col("__rk") === 1)
      .select(col("key"), col("__next").as("split_ws"),
        col("__i").as("n_left"), col("__nr").as("n_right"),
        (col("__cs").cast("double") / col("__i").cast("double"))
          .as("mean_left"),
        (col("__sr").cast("double") / col("__nr").cast("double"))
          .as("mean_right"),
        col("gain"))
  }

  /** Arrival DISPERSION per key — the Fano factor (index of
    * dispersion, variance-to-mean ratio) of the dense calendar count
    * series: VMR ≈ 1 is Poisson-like steady arrival, VMR ≫ 1 bursty
    * (batch uploads, crawler storms), VMR ≪ 1 metronomic (rate-limited
    * feeds). The arrival-SHAPE characterization beside the level
    * (x218), trend (x207) and season (x210) reads — and computed over
    * [[calendarDensify]], so silence counts as dispersion evidence.
    * VMR = (n·Q − S²)/(n·S) from exact integer moments (population
    * variance over mean), one double chain; NULL for an all-zero key
    * (no mean to disperse around). Scale: one combiner agg over the
    * calendar grid per key; no window at all.
    * Output: (key, n_periods, mean_c, vmr). */
  def dispersion(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    dispersionFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** [[dispersion]] over PRE-AGGREGATED (ws, key, c) counts — the
    * streaming-ledger form. */
  def dispersionFromCounts(counts: DataFrame, width: String): DataFrame =
    dispersionFromDense(calendarDensify(counts, width))

  /** [[dispersion]] over an already-dense calendar grid — the
    * [[seasonalAnomalyFromDense]] memoized-ledger contract. */
  def dispersionFromDense(dense: DataFrame): DataFrame = {
    val N = org.apache.spark.sql.types.DecimalType(19, 0)
    dense
      .groupBy("key")
      .agg(count(lit(1)).as("n_periods"),
        sum(col("c")).as("__S"),
        sum(col("c").cast(N) * col("c").cast(N)).as("__Q"))
      .select(col("key"), col("n_periods"),
        (col("__S").cast("double") / col("n_periods").cast("double"))
          .as("mean_c"),
        when(col("__S") > 0,
          (col("n_periods").cast("double") * col("__Q").cast("double") -
            col("__S").cast("double") * col("__S").cast("double")) /
            (col("n_periods").cast("double") * col("__S").cast("double")))
          .as("vmr"))
  }

  /** MANN–KENDALL monotone-trend test per key (Mann 1945; Kendall's
    * S over time pairs): S = Σ_{i<j} sign(c_j − c_i) on the dense
    * calendar series, with the tie-corrected normal approximation —
    * the NONPARAMETRIC "is this feed drifting up or down" read that
    * a mean-based slope gets wrong under bursts (x218 locates ONE
    * step; this scores monotone drift without assuming a step).
    * Zeros from [[calendarDensify]] participate as real observations
    * and as ties with each other.
    *
    * Determinism: S and the tie terms are exact integers (the
    * pairwise sign sum is integer by construction; ties fold over the
    * per-VALUE count grid, the x183 contract); var(S) =
    * (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18 through DECIMAL(38,0)
    * integer arithmetic (exactly divisible by 18... not necessarily —
    * kept as one double chain from the two exact integer operands);
    * z uses the standard ±1 continuity correction and is NULL when
    * var = 0 (all values tied). Scale shape: the pairwise stage is
    * |periods|² PER KEY — calendar-bounded by construction (a year of
    * hours ≈ 8.8k → 77M sign pairs per key, a documented grid bound,
    * never event-volume-bound), partition-parallel across keys.
    * Output: (key, n_periods, s_stat, var_s, z). */
  def mannKendall(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    mannKendallFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** [[mannKendall]] over PRE-AGGREGATED (ws, key, c) counts — the
    * streaming-ledger form. */
  def mannKendallFromCounts(counts: DataFrame, width: String)
      : DataFrame =
    mannKendallFromDense(
      // feeds the pair join twice + ties + n — checkpoint HERE; the
      // FromDense path assumes a memoized/checkpointed grid already
      calendarDensify(counts, width).localCheckpoint(true))

  /** [[mannKendall]] over an already-dense calendar grid — the
    * [[seasonalAnomalyFromDense]] memoized-ledger contract (the grid
    * is scanned four times: pair join both sides, ties, n). */
  def mannKendallFromDense(dense: DataFrame): DataFrame = {
    val N = org.apache.spark.sql.types.DecimalType(38, 0)
    val a = dense.select(col("key"), col("ws").as("__wa"),
      col("c").as("__ca"))
    val b = dense.select(col("key"), col("ws").as("__wb"),
      col("c").as("__cb"))
    val s = a.join(b, Seq("key"))
      .where(col("__wa") < col("__wb"))
      .groupBy("key")
      .agg(sum(signum(col("__cb") - col("__ca")).cast("long"))
        .as("s_stat"))
    val ties = dense.groupBy(col("key"), col("c"))
      .agg(count(lit(1)).as("__t"))
      .groupBy("key")
      .agg(sum(col("__t").cast(N) * (col("__t") - 1).cast(N) *
        (lit(2L) * col("__t") + 5).cast(N)).as("__tt"))
    val n = dense.groupBy("key").agg(count(lit(1)).as("n_periods"))
    n.join(s, Seq("key")).join(ties, Seq("key"))
      .withColumn("var_s",
        (col("n_periods").cast(N) * (col("n_periods") - 1).cast(N) *
          (lit(2L) * col("n_periods") + 5).cast(N) - col("__tt"))
          .cast("double") / lit(18.0))
      .select(col("key"), col("n_periods"), col("s_stat"), col("var_s"),
        when(col("var_s") > 0.0,
          when(col("s_stat") > 0,
            (col("s_stat").cast("double") - lit(1.0)) / sqrt(col("var_s")))
            .when(col("s_stat") < 0,
              (col("s_stat").cast("double") + lit(1.0)) /
                sqrt(col("var_s")))
            .otherwise(lit(0.0))).as("z"))
  }

  /** AVAILABILITY report per key — uptime fraction and the LONGEST
    * dark run over the dense calendar grid: n_up periods with c > 0,
    * availability = n_up/n, and the longest consecutive-zero streak
    * (gaps-and-islands: zero periods grouped by index − rank-among-
    * zeros, a constant per consecutive run) — the feed-SLA row an
    * ingestion dashboard leads with, and the "how long were we dark"
    * companion to x207's per-period alarm. Exact integers throughout;
    * one boundary division; longest_gap = 0 when the key was never
    * dark. Scale: per-key windows over the calendar grid
    * (domain-bounded), partition-parallel across keys.
    * Output: (key, n_periods, n_up, availability, longest_gap). */
  def availability(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    availabilityFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** [[availability]] over PRE-AGGREGATED (ws, key, c) counts — the
    * streaming-ledger form. */
  def availabilityFromCounts(counts: DataFrame, width: String)
      : DataFrame =
    availabilityFromDense(
      // feeds the up-count AND the gap runs — checkpoint HERE; the
      // FromDense path assumes a memoized/checkpointed grid already
      calendarDensify(counts, width).localCheckpoint(true))

  /** [[availability]] over an already-dense calendar grid — the
    * [[seasonalAnomalyFromDense]] memoized-ledger contract. */
  def availabilityFromDense(dense: DataFrame): DataFrame = {
    val up = dense.groupBy("key").agg(
      count(lit(1)).as("n_periods"),
      sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_up"))
    val wOrd = Window.partitionBy("key").orderBy("ws")
    val zeros = dense
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .where(col("c") === 0)
      .withColumn("__z", row_number().over(wOrd).cast("long"))
      .withColumn("__run", col("__i") - col("__z"))
    val gaps = zeros.groupBy(col("key"), col("__run"))
      .agg(count(lit(1)).as("__len"))
      .groupBy("key").agg(max(col("__len")).as("longest_gap"))
    up.join(gaps, Seq("key"), "left")
      .select(col("key"), col("n_periods"), col("n_up"),
        (col("n_up").cast("double") / col("n_periods").cast("double"))
          .as("availability"),
        coalesce(col("longest_gap"), lit(0L)).as("longest_gap"))
  }

  /** THEIL–SEN robust slope per key (Theil 1950; Sen 1968): the
    * median of all pairwise slopes (c_j − c_i)/(j − i) over the dense
    * calendar series — the trend MAGNITUDE beside x224's Mann–Kendall
    * significance (the two are the classic pair: MK says "drifting",
    * Sen says "by 3.2 events/hour per hour"), robust to the bursts
    * that wreck least squares. Period indices i, j come from the
    * grid's row order, so Δt is exact integers.
    *
    * Determinism: each slope is ONE exact-integer division to double
    * (IEEE division is correctly rounded, so equal rationals give the
    * identical double in both engines — ordering by the double is
    * total up to mathematical equality, and the median VALUE is
    * therefore engine-exact; rank ties among equal doubles cannot
    * change the value at the rank). Lower median at rank
    * ⌈n_pairs/2⌉ by integer arithmetic. Scale shape: the pairwise
    * stage is |periods|² per key — calendar-DOMAIN-bounded like x224,
    * partition-parallel across keys — and folds map-side onto the
    * (key, slope) count grid before any sort, so the per-key median
    * window touches |distinct slopes| rows, never the raw pair list
    * in one task.
    * Output: (key, n_periods, n_pairs, sen_slope); keys with < 2
    * periods emit nothing. */
  def theilSen(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    theilSenFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** [[theilSen]] over PRE-AGGREGATED (ws, key, c) counts — the
    * streaming-ledger form. */
  def theilSenFromCounts(counts: DataFrame, width: String): DataFrame =
    theilSenFromDense(calendarDensify(counts, width))

  /** [[theilSen]] over an already-dense calendar grid — the
    * [[seasonalAnomalyFromDense]] memoized-ledger contract. */
  def theilSenFromDense(denseGrid: DataFrame): DataFrame = {
    val dense = denseGrid
      .withColumn("__i",
        row_number().over(Window.partitionBy("key").orderBy("ws"))
          .cast("long"))
      .localCheckpoint(true) // feeds both sides of the pair join
    val a = dense.select(col("key"), col("__i").as("__ia"),
      col("c").as("__ca"))
    val b = dense.select(col("key"), col("__i").as("__ib"),
      col("c").as("__cb"))
    val slopes = a.join(b, Seq("key"))
      .where(col("__ia") < col("__ib"))
      .select(col("key"),
        ((col("__cb") - col("__ca")).cast("double") /
          (col("__ib") - col("__ia")).cast("double")).as("__s"))
    // Median by SLOPE-COUNT ranks, never a per-key sort of the raw
    // |periods|²/2 pair rows (the x183 rank-from-counts lesson, the
    // same combiner discipline Mann-Kendall uses for its pair stage):
    // equal rationals yield the identical double, so folding the pair
    // stream onto the (key, slope) COUNT GRID first is value-exact,
    // the shuffle is map-side combined, and the per-key cumulative
    // window sorts |distinct slopes| rows — bounded by
    // |Δc domain| × |periods| (≪ pairs for integer count series) —
    // instead of the full pair list. The lower median at rank
    // ⌈n/2⌉ is then a same-row cumulative-interval cut: no join.
    val grid = slopes.groupBy("key", "__s").agg(count(lit(1)).as("__m"))
    val np = grid.groupBy("key").agg(sum(col("__m")).as("n_pairs"))
    val wCum = Window.partitionBy("key").orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, 0)
    val med = grid
      .withColumn("__cum", sum(col("__m")).over(wCum))
      .join(np, Seq("key"))
      .where(col("__cum") - col("__m") < expr("(n_pairs + 1) DIV 2") &&
        expr("(n_pairs + 1) DIV 2") <= col("__cum"))
      .select(col("key"), col("n_pairs"), col("__s").as("sen_slope"))
    dense.groupBy("key").agg(count(lit(1)).as("n_periods"))
      .join(med, Seq("key"))
      .select(col("key"), col("n_periods"), col("n_pairs"),
        col("sen_slope"))
  }

  /** Trailing EXPONENTIAL-MOVING-AVERAGE smoothing over per-bucket
    * counts — the damped baseline beside [[rateAnomalyFromCounts]]'
    * z-score (EMA reacts to level shifts the fixed-window mean
    * smears). α = 1/4 over the trailing ≤ `lookback` PRESENT buckets,
    * seeded at the window's oldest count:
    * ema = fold(c_old, …, c_now)(acc, x → 0.75·acc + 0.25·x).
    * The fold runs left-to-right over the frame-ordered list in IEEE
    * doubles — both engines reduce lists head-to-tail, and bucket
    * timestamps are unique per key, so the order (and the result) is
    * bit-deterministic. Row-based frame on PRESENT buckets: gaps
    * contribute nothing (callers wanting zero-filled decay compose
    * the x31 gap-fill first).
    * Input (key, ws, c); output + (ema, ratio = c/ema). */
  def emaSmooth(counts: DataFrame, lookback: Int = 8): DataFrame = {
    require(lookback >= 2, s"emaSmooth: lookback=$lookback must be >= 2")
    val frame = Window.partitionBy("key").orderBy("ws")
      .rowsBetween(-(lookback - 1), 0)
    val arr = collect_list(col("c").cast("double")).over(frame)
    counts
      .withColumn("__arr", arr)
      .withColumn("ema",
        aggregate(
          slice(col("__arr"), lit(2),
            greatest(size(col("__arr")) - 1, lit(0))),
          element_at(col("__arr"), 1),
          (acc, x) => acc * lit(0.75) + x * lit(0.25)))
      .withColumn("ratio", col("c").cast("double") / col("ema"))
      .drop("__arr")
  }

  /** Ordered FUNNEL analysis: per key, the timestamps of the first
    * occurrence of stage 1, the first stage-2 event strictly AFTER
    * it, the first stage-3 strictly after that, and so on — ordered
    * but not adjacent, the product-analytics conversion query (and,
    * for pipeline telemetry, "ingest → clean → export per shard").
    *
    * Scale shape: one conditional min-agg per stage plus one equi-join
    * per stage boundary — every agg map-side combinable on the key, NO
    * per-key window sort (the naive formulation sorts every key's
    * whole event history; this touches each stage's events once).
    * Events at exactly the same timestamp as the previous stage do NOT
    * count (strictly-after semantics, deterministic under ties).
    * Output: (key, t_1..t_n, stage) — stage = number of stages
    * reached, rows for every key that reached stage 1. */
  def funnel(df: DataFrame, ts: Column, keyCol: Column, typeCol: Column,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"stages must be non-empty and distinct, got $stages")
    val base = df.select(keyCol.as("key"), ts.as("__ts"),
      typeCol.as("__type"))
    var acc = base.where(col("__type") === stages.head)
      .groupBy("key").agg(min(col("__ts")).as("t_1"))
    for (i <- 2 to stages.length) {
      val prev = s"t_${i - 1}"
      val next = base.where(col("__type") === stages(i - 1))
        .select(col("key"), col("__ts"))
      acc = acc.join(next, Seq("key"), "left")
        .groupBy((col("key") +: (1 until i).map(j => col(s"t_$j"))): _*)
        .agg(min(when(col("__ts") > col(prev), col("__ts"))).as(s"t_$i"))
    }
    val stageExpr = (1 to stages.length).map(i =>
      when(col(s"t_$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
    acc.withColumn("stage", stageExpr.cast("long"))
  }

  /** Cohort RETENTION triangle: keys grouped by their first-active
    * period (the cohort), then counted in every later period they
    * were active — the (cohort, offset, n_active) table every
    * retention curve is drawn from. Periods are `window(width)`
    * starts, offsets integer period counts (window starts are
    * width-aligned in UTC, so the micros difference divides exactly).
    *
    * Scale shape: one (key, period) distinct, one min-agg for the
    * cohort, one model-sized join back, one combiner agg — the
    * (key, period) distinct is the only corpus-sized shuffle.
    * Output: (cohort, offset, n_active). */
  def cohortRetention(df: DataFrame, ts: Column, keyCol: Column,
      width: String, widthMicros: Long): DataFrame = {
    require(widthMicros > 0, "widthMicros must be positive")
    val active = df.select(keyCol.as("key"),
        window(ts, width).getField("start").as("p"))
      .distinct()
    val first = active.groupBy("key").agg(min(col("p")).as("cohort"))
    active.join(first, Seq("key"))
      .select(col("cohort"),
        ((unix_micros(col("p")) - unix_micros(col("cohort"))) /
          lit(widthMicros)).cast("long").as("offset"))
      .groupBy("cohort", "offset")
      .agg(count(lit(1)).as("n_active"))
  }

  /** Cohort LTV matrix — cumulative value PER COHORT USER by cohort
    * age: each user joins the cohort of their first-activity period,
    * and every (cohort, age) cell reports the running total value the
    * cohort has produced per member — the "how much is a January user
    * worth by day 30" read that prices acquisition, the VALUE
    * companion of [[cohortRetention]]'s activity matrix. Ages with no
    * spend still appear (dense per-cohort age axis via the cumulative
    * over the observed-age grid — an absent age would silently
    * flatten the curve; the grid is the x31 gap-fill lesson at cohort
    * grain... ages run 0..max observed age of that cohort).
    *
    * Determinism: values floor-quantize to integer CENTS at the scan
    * (the x183 floor-grid contract — double sums are
    * partition-order-dependent, integer sums are not); cumulative
    * cents fold over the per-cohort AGE GRID (domain-bounded window);
    * one boundary division by cohort size.
    * Output: (cohort, age, n_users, period_cents, cum_cents,
    * ltv_per_user). */
  def cohortLtv(df: DataFrame, ts: Column, keyCol: Column,
      valueCol: Column, width: String, widthMicros: Long): DataFrame = {
    require(widthMicros > 0, "widthMicros must be positive")
    val base = df.select(keyCol.as("key"),
        window(ts, width).getField("start").as("p"),
        floor(valueCol * lit(100.0)).cast("long").as("__cents"))
      .localCheckpoint(true) // feeds cohorts AND the value cells
    val first = base.groupBy("key").agg(min(col("p")).as("cohort"))
      .localCheckpoint(true) // feeds sizes AND the age join
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val cells = base.join(first, Seq("key"))
      .select(col("cohort"),
        ((unix_micros(col("p")) - unix_micros(col("cohort"))) /
          lit(widthMicros)).cast("long").as("age"),
        col("__cents"))
      .groupBy("cohort", "age")
      .agg(sum(col("__cents")).as("period_cents"))
    // dense age axis per cohort: 0..max observed age (one sequence
    // explode over the bounded cohort table)
    val span = cells.groupBy("cohort").agg(max(col("age")).as("__mx"))
    val grid = span.select(col("cohort"),
      explode(sequence(lit(0L), col("__mx"))).as("age"))
    val dense = grid.join(cells, Seq("cohort", "age"), "left")
      .withColumn("period_cents", coalesce(col("period_cents"), lit(0L)))
    val wAge = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, 0)
    dense
      .withColumn("cum_cents", sum(col("period_cents")).over(wAge))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("age"), col("n_users"),
        col("period_cents"), col("cum_cents"),
        (col("cum_cents").cast("double") / lit(100.0) /
          col("n_users").cast("double")).as("ltv_per_user"))
  }

  /** ACTIVITY SEGMENTS — the full run-length view of the calendar
    * series: every maximal run of consecutive up (c > 0) or down
    * (c = 0) periods per key, with its span and event mass — the
    * episode log behind [[availability]]'s summary (that answers
    * "how long was the worst outage"; this lists every outage and
    * every active stretch, the incident table an ops review reads).
    * Gaps-and-islands: period index − rank within (key, state) is
    * constant exactly on maximal runs. Exact integers; segments are
    * domain-bounded (≤ |periods| per key).
    * Output: (key, state 'up'|'down', run_start, run_end, n_periods,
    * n_events), ordered by (key, run_start) at the caller. */
  def activitySegments(df: DataFrame, ts: Column, width: String,
      keyCol: Column): DataFrame =
    activitySegmentsFromCounts(df
      .groupBy(window(ts, width).getField("start").as("ws"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("c")), width)

  /** [[activitySegments]] over PRE-AGGREGATED (ws, key, c) counts —
    * the streaming-ledger form. */
  def activitySegmentsFromCounts(counts: DataFrame, width: String)
      : DataFrame =
    activitySegmentsFromDense(calendarDensify(counts, width))

  /** [[activitySegments]] over an already-dense calendar grid — the
    * [[seasonalAnomalyFromDense]] memoized-ledger contract. */
  def activitySegmentsFromDense(denseGrid: DataFrame): DataFrame = {
    val dense = denseGrid
      .withColumn("state", when(col("c") > 0, "up").otherwise("down"))
    val wOrd = Window.partitionBy("key").orderBy("ws")
    val wState = Window.partitionBy("key", "state").orderBy("ws")
    dense
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__r", row_number().over(wState).cast("long"))
      .withColumn("__run", col("__i") - col("__r"))
      .groupBy("key", "state", "__run")
      .agg(min(col("ws")).as("run_start"), max(col("ws")).as("run_end"),
        count(lit(1)).as("n_periods"), sum(col("c")).as("n_events"))
      .select(col("key"), col("state"), col("run_start"), col("run_end"),
        col("n_periods"), col("n_events"))
  }

  /** Batch sessionization: a session breaks when the gap to the previous
    * event of the same key exceeds `gap`. One shuffle on the key; the
    * lag/cumsum pair is two passes over the same partitioning (no extra
    * shuffle — same window spec). */
  def sessionize(df: DataFrame, ts: Column, keyCol: Column,
      gapMicros: Long, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ts.asc, tieBreak.asc)
    val micros = unix_micros(ts)
    val newSession = when(
      lag(micros, 1).over(w).isNull ||
        micros - lag(micros, 1).over(w) > gapMicros, 1L).otherwise(0L)
    df.withColumn("__new", newSession)
      .withColumn("sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** STATIONARY EVENT MIX — the Markov steady state of the x141
    * session-transition matrix by bounded POWER ITERATION (the x115
    * TextRank discipline on behavioral data): r' ∝ r·P with
    * P(i→j) = n_ij/t_i, renormalized each round. Where x141 reports
    * local transition probabilities, this reports where user behavior
    * SETTLES — the long-run event mix a capacity planner provisions
    * against, and a drift alarm when it walks away from the observed
    * mix.
    *
    * Determinism: each edge contribution r·n/t is one IEEE chain
    * floor-quantized into 1e-12 micro-units (a Long) before the
    * order-independent sum; the round total T is an exact Long sum,
    * and the renormalization is one double division per state.
    * DANGLING states (appearing only as a destination — no outgoing
    * transitions) SELF-LOOP: they contribute their full rank to
    * themselves each round (the standard stochasticization), so mass
    * conserves and an absorbing chain settles on its absorbers
    * instead of draining the round total to 0 (which would NaN every
    * state — the absent-cell lesson applied to graph rows; a sparse
    * a→b→c hand case found it). Scale shape: the graph is
    * EVENT-TYPE-bounded, so after
    * one sessionize pass every iteration is a model-sized join+agg;
    * ranks stay DataFrames throughout.
    * Output: (event_type, p_stationary). */
  def stationaryMix(events: DataFrame, ts: Column, user: Column,
      tie: Column, typeCol: Column, gapMicros: Long,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 10, s"stationaryMix: iters=$iters")
    val sess = sessionize(events, ts, user, gapMicros, tie)
    val w = Window.partitionBy(user, col("sid")).orderBy(ts.asc, tie.asc)
    val pairs = sess.withColumn("__prev", lag(typeCol, 1).over(w))
      .where(col("__prev").isNotNull)
      .groupBy(col("__prev").as("src"), typeCol.as("dst"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // feeds every iteration
    val t = pairs.groupBy("src").agg(sum(col("n")).as("t"))
      .localCheckpoint(true)
    val states = pairs.select(col("src").as("state"))
      .union(pairs.select(col("dst"))).distinct()
      .localCheckpoint(true)
    // dangling = destination-only states; they self-loop (below)
    val dangling = states
      .join(t.select(col("src").as("state")), Seq("state"), "left_anti")
      .localCheckpoint(true)
    var rank = states.withColumn("r", lit(1.0))
    // Each round's plan references `rank` twice (edge + dangling arms)
    // and `cj` twice (per-state numerator + the total), so a LAZY loop
    // quadruples the logical plan per iteration — 4^iters subtree
    // copies had the ANALYZER, not the executor, owning the wall clock
    // (measured: 695 s for a 10-row chain at iters=6). Same discipline
    // as Dedup.clusters: truncate the lineage with one eager
    // localCheckpoint per round — the frame is event-type-bounded
    // (model-sized) — and free the previous round's blocks so the call
    // pins exactly one rank snapshot, not `iters` of them.
    var prevCp: DataFrame = null
    for (_ <- 1 to iters) {
      val contribEdges = pairs
        .join(rank.select(col("state").as("src"), col("r").as("__r")),
          Seq("src"))
        .join(t, Seq("src"))
        .select(col("dst").as("state"),
          floor(col("__r") * col("n").cast("double") /
            col("t").cast("double") * lit(1e12)).cast("long").as("c"))
      val contribDangling = dangling.join(rank, Seq("state"))
        .select(col("state"),
          floor(col("r") * lit(1e12)).cast("long").as("c"))
      val cj = contribEdges.unionByName(contribDangling)
        .groupBy("state").agg(sum(col("c")).as("cj"))
      val tot = cj.agg(sum(col("cj")).as("T"))
      rank = states.join(cj, Seq("state"), "left")
        .crossJoin(broadcast(tot))
        .select(col("state"),
          (coalesce(col("cj"), lit(0L)).cast("double") /
            col("T").cast("double")).as("r"))
        .localCheckpoint(true)
      if (prevCp != null) unpersistCheckpoint(prevCp)
      prevCp = rank
    }
    rank.select(col("state").as("event_type"),
      col("r").as("p_stationary"))
  }

  /** Session CO-OCCURRENCE lift — market-basket association on
    * behavioral data ("sessions that did X also did Y"): for every
    * unordered event-type pair, the observed-over-expected ratio
    * lift = n_ab·N / (n_a·n_b) over SESSIONS (the x141 sessionize
    * grain), where n_x counts sessions containing x at least once.
    * lift ≫ 1 = the behaviors travel together; ≪ 1 = they repel.
    * The behavioral twin of x80's token PMI.
    *
    * Determinism: counts are exact integers; lift is ONE fixed-order
    * double chain (n_ab·N)/(n_a·n_b) — products in doubles, so no
    * 64-bit overflow at any scale. Scale shape: sessionize + one
    * distinct (session, type) projection; the within-session
    * self-join fans out at most |types|² per session (event-type
    * sets are bounded like languages); output is |types|²-bounded.
    * Output: (type_a, type_b, n_ab, n_a, n_b, n_sessions, lift). */
  def sessionCooccurrence(events: DataFrame, ts: Column, user: Column,
      tie: Column, typeCol: Column, gapMicros: Long): DataFrame = {
    val sess = sessionize(events, ts, user, gapMicros, tie)
    val st = sess.select(user.as("__u"), col("sid"), typeCol.as("__t"))
      .distinct()
      .localCheckpoint(true) // feeds N, per-type counts, and the pairs
    val ns = st.select("__u", "sid").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val per = st.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val pairs = st.as("a")
      .join(st.as("b"),
        col("a.__u") === col("b.__u") && col("a.sid") === col("b.sid") &&
          col("a.__t") < col("b.__t"))
      .groupBy(col("a.__t").as("type_a"), col("b.__t").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(per.select(col("__t").as("type_a"), col("__n").as("n_a")),
        Seq("type_a"))
      .join(per.select(col("__t").as("type_b"), col("__n").as("n_b")),
        Seq("type_b"))
      .crossJoin(broadcast(ns))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_sessions"),
        ((col("n_ab").cast("double") * col("n_sessions").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
  }

  /** Spend-QUANTILE MOBILITY matrix — segment migration: users are
    * quantile-bucketed by exact decimal spend separately in the EARLY
    * and LATE halves of the observed window (midpoint =
    * (min+max)/2 micros — deterministic, no wall clock), and the
    * matrix counts users per (early bucket, late bucket). The
    * product-analytics "did my top quintile stay on top" table; mass
    * off the diagonal is churn/upsell in one view. Users active in
    * only one half drop out (no pair to report — documented).
    *
    * Determinism: exact decimal spends, NTILE over total orders
    * (spend DESC, user ASC) per half. The two NTILE windows are exact
    * global ranks per half (the x173 caveat: at 100 TB user counts
    * swap for [[Quantiles.approx]] thresholds — the matrix tail is
    * bucket-agnostic). Output: (q_early, q_late, n_users) —
    * buckets²-bounded. */
  def quantileMobility(events: DataFrame, userCol: Column, ts: Column,
      value: Column, buckets: Int = 5): DataFrame = {
    require(buckets >= 1, s"quantileMobility: buckets=$buckets")
    val D = org.apache.spark.sql.types.DecimalType(18, 4)
    val bounds = events.agg(min(unix_micros(ts)).as("__lo"),
      max(unix_micros(ts)).as("__hi"))
    val spend = events.crossJoin(broadcast(bounds))
      .withColumn("__half",
        when(unix_micros(ts) * 2 < col("__lo") + col("__hi"), 0L)
          .otherwise(1L))
      .groupBy(userCol.as("user_id"), col("__half"))
      .agg(sum(value.cast(D)).as("__m"))
    val w = Window.partitionBy("__half")
      .orderBy(col("__m").desc, col("user_id").asc)
    val q = spend.withColumn("__q", ntile(buckets).over(w).cast("long"))
    q.where(col("__half") === 0L)
      .select(col("user_id"), col("__q").as("q_early"))
      .join(q.where(col("__half") === 1L)
        .select(col("user_id"), col("__q").as("q_late")), Seq("user_id"))
      .groupBy("q_early", "q_late")
      .agg(count(lit(1)).as("n_users"))
  }

  /** RFM user segmentation (recency / frequency / monetary — the
    * classic behavioral-cohort table): per user, whole days since the
    * last event (vs the CORPUS max timestamp — a deterministic as-of,
    * no wall clock), event count, and the exact decimal value sum;
    * each metric quintiled by `buckets`-way NTILE over a TOTAL order
    * (metric, then user id — explicit tie-break, standard SQL tile
    * semantics both engines share, the x91 discipline). Bucket 1 is
    * best on every axis (most recent / most frequent / highest
    * spend).
    *
    * Scale shape: one combiner agg per user + a 1-row as-of broadcast;
    * the three NTILE windows are EXACT global ranks — one task each
    * over per-USER rows, the oracle contract. At 100 TB user counts,
    * swap the bucket stage for [[Quantiles.approx]] thresholds (the
    * x28/x132 documented arm) — the metrics agg is bucket-agnostic.
    * Output: (user_id, recency_days, frequency, monetary,
    * r_bucket, f_bucket, m_bucket). */
  def rfm(events: DataFrame, userCol: Column, ts: Column, value: Column,
      buckets: Int = 5): DataFrame = {
    require(buckets >= 1, s"rfm: buckets=$buckets must be >= 1")
    val D = org.apache.spark.sql.types.DecimalType(18, 4)
    val dayUs = 86400000000L
    val asof = events.agg(max(unix_micros(ts)).as("__mx"))
    val per = events.groupBy(userCol.as("user_id")).agg(
      max(unix_micros(ts)).as("__last"),
      count(lit(1)).as("frequency"),
      sum(value.cast(D)).as("__m"))
    val age = col("__mx") - col("__last")
    per.crossJoin(broadcast(asof))
      .withColumn("recency_days",
        ((age - pmod(age, lit(dayUs))) / lit(dayUs)).cast("long"))
      .withColumn("r_bucket", ntile(buckets).over(Window
        .orderBy(col("recency_days").asc, col("user_id").asc)).cast("long"))
      .withColumn("f_bucket", ntile(buckets).over(Window
        .orderBy(col("frequency").desc, col("user_id").asc)).cast("long"))
      .withColumn("m_bucket", ntile(buckets).over(Window
        .orderBy(col("__m").desc, col("user_id").asc)).cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("__m").cast("double").as("monetary"),
        col("r_bucket"), col("f_bucket"), col("m_bucket"))
  }

  /** KAPLAN–MEIER survival estimator (Kaplan & Meier 1958) over
    * right-censored durations — the churn/retention curve done
    * correctly: users still active at the observation horizon are
    * CENSORED, not counted as churned (the naive "lifetime histogram"
    * silently biases survival down). S(t) = Π_{s ≤ t, d_s > 0}
    * (1 − d_s / n_risk_s), with n_risk_s = subjects whose duration
    * ≥ s (censored subjects leave the risk set after their censor
    * day — the standard deaths-before-censors tie rule at equal s).
    *
    * Input: one row per SUBJECT with an integer duration (days) and
    * an event flag (true = observed event, false = censored).
    * CONTRACT: durations form a BOUNDED grid (calendar days against a
    * corpus horizon — thousands of rows at any corpus age), the
    * [[graft.ext.Stats.mannWhitneyU]] discrete-grid contract.
    *
    * Determinism: integer death/censor/risk counts are exact; each
    * day's factor is one IEEE division, and the survival column is a
    * CUMULATIVE PRODUCT folded in ascending-day order (collect_list
    * over an ordered window frame — frame order is the fold order,
    * the x175 fixed-order discipline made cumulative). No logs, no
    * exp — the boundary stays inside exactly-rounded IEEE ops.
    * Scale shape: one combiner day agg + two grid-bounded windows.
    * Output: (day, n_risk, n_events, n_censored, survival), one row
    * per observed duration day (censor-only days carry factor 1). */
  def kaplanMeier(subjects: DataFrame, duration: Column, event: Column)
      : DataFrame = {
    val perDay = subjects.select(duration.as("day"), event.as("__e"))
      .groupBy("day").agg(
        sum(when(col("__e"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("__e"), 0L).otherwise(1L)).as("n_censored"))
    val tot = broadcast(perDay.agg(
      sum(col("n_events") + col("n_censored")).as("__n")))
    val wPrev = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    perDay.crossJoin(tot)
      .withColumn("n_risk", col("__n") -
        coalesce(sum(col("n_events") + col("n_censored")).over(wPrev),
          lit(0L)))
      .withColumn("__f",
        when(col("n_events") > 0,
          lit(1.0) - col("n_events").cast("double") /
            col("n_risk").cast("double"))
          .otherwise(lit(1.0)))
      .withColumn("survival",
        aggregate(collect_list(col("__f")).over(wCum), lit(1.0),
          (acc, x) => acc * x))
      .select(col("day"), col("n_risk"), col("n_events"),
        col("n_censored"), col("survival"))
  }

  /** Sequential TRIGRAM patterns at session grain — the length-3
    * extension of the x141 transition bigrams: consecutive event-type
    * triples within a session (two lags over the session's total
    * (ts, tie) order), counted corpus-wide. The "view → click →
    * purchase vs view → error → exit" pattern table behavioral
    * analysis reads beside the transition matrix and the stationary
    * mix. Scale shape: sessionize + two lag windows per (user, sid)
    * partition + one combiner count — no joins.
    * Output: (t1, t2, t3, n). */
  def sessionTrigrams(events: DataFrame, ts: Column, user: Column,
      tie: Column, typeCol: Column, gapMicros: Long): DataFrame = {
    val sess = sessionize(events, ts, user, gapMicros, tie)
    val w = Window.partitionBy(user, col("sid")).orderBy(ts, tie)
    sess
      .withColumn("__t1", lag(typeCol, 2).over(w))
      .withColumn("__t2", lag(typeCol, 1).over(w))
      .where(col("__t1").isNotNull && col("__t2").isNotNull)
      .groupBy(col("__t1").as("t1"), col("__t2").as("t2"),
        typeCol.as("t3"))
      .agg(count(lit(1)).as("n"))
  }

  /** BEHAVIOR MOVERS — which event types grew or shrank between the
    * EARLY and LATE halves of the observed window (midpoint =
    * (min+max)/2 micros, the x180 deterministic split): per type, the
    * add-½ smoothed log₂ fold change of its share plus the pooled
    * two-proportion z for the share difference — the "what changed"
    * table beside x194's when-did-it-change alarm. Comparing SHARES
    * (type count / half total), not raw counts, so a corpus that
    * merely grew does not read as every behavior rising.
    *
    * Determinism: exact integer counts on the full type grid (a type
    * absent from one half is a maximal mover — the zero-cell lesson);
    * the log₂ is quantized once at DECIMAL(28,12); z is the x182
    * pooled chain per row, NULL on zero pooled variance. Scale shape:
    * one 1-row bounds broadcast + one (type, half) combiner count +
    * a |types|-bounded tail.
    * Output: (event_type, n_early, n_late, share_early, share_late,
    * log2_fc, z). */
  def behaviorMovers(events: DataFrame, ts: Column, typeCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val L = DecimalType(28, 12)
    val bounds = broadcast(events.agg(
      min(unix_micros(ts)).as("__lo"), max(unix_micros(ts)).as("__hi")))
    val halved = events.select(typeCol.as("event_type"),
        unix_micros(ts).as("__t"))
      .crossJoin(bounds)
      .withColumn("__late",
        col("__t") * 2 > col("__lo") + col("__hi"))
    val counts = halved.groupBy("event_type").agg(
      sum(when(!col("__late"), 1L).otherwise(0L)).as("n_early"),
      sum(when(col("__late"), 1L).otherwise(0L)).as("n_late"))
    val tot = broadcast(counts.agg(sum(col("n_early")).as("__te"),
      sum(col("n_late")).as("__tl")))
    val pe = (col("n_early").cast("double") + lit(0.5)) /
      (col("__te").cast("double") + lit(0.5))
    val pl = (col("n_late").cast("double") + lit(0.5)) /
      (col("__tl").cast("double") + lit(0.5))
    val se = col("n_early").cast("double") / col("__te").cast("double")
    val sl = col("n_late").cast("double") / col("__tl").cast("double")
    val p = (col("n_early") + col("n_late")).cast("double") /
      (col("__te") + col("__tl")).cast("double")
    val sd = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("__te").cast("double") +
        lit(1.0) / col("__tl").cast("double")))
    counts.crossJoin(tot)
      .select(col("event_type"), col("n_early"), col("n_late"),
        se.as("share_early"), sl.as("share_late"),
        (log(pl / pe).cast(L).cast("double") /
          log(lit(2.0)).cast(L).cast("double")).as("log2_fc"),
        when(sd > 0, (sl - se) / sd).as("z"))
  }

  /** ASSOCIATION RULES at session grain — the directed
    * support/confidence/lift table over [[sessionCooccurrence]]'s
    * unordered pair counts (Agrawal & Srikant 1994's A → B readout
    * restricted to 1-item antecedents): for every ordered type pair,
    * support = n_ab/N, confidence = n_ab/n_a, lift =
    * n_ab·N/(n_a·n_b). Both directions of each co-occurring pair are
    * emitted (confidence is asymmetric — that is the point).
    * Determinism: exact integer session counts, three IEEE divisions
    * per row. Scale shape: the [[sessionCooccurrence]] distinct
    * session-type frame + one |types|²-bounded self-join.
    * Output: (antecedent, consequent, n_a, n_b, n_ab, support,
    * confidence, lift). */
  def associationRules(events: DataFrame, ts: Column, user: Column,
      tie: Column, typeCol: Column, gapMicros: Long): DataFrame = {
    val sess = sessionize(events, ts, user, gapMicros, tie)
    val st = sess.select(user.as("__u"), col("sid"), typeCol.as("__t"))
      .distinct()
      .localCheckpoint(true) // feeds N, per-type counts, and the pairs
    val ns = st.select("__u", "sid").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val per = st.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val pairs = st.as("a")
      .join(st.as("b"),
        col("a.__u") === col("b.__u") && col("a.sid") === col("b.sid") &&
          col("a.__t") =!= col("b.__t"))
      .groupBy(col("a.__t").as("antecedent"), col("b.__t").as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(per.select(col("__t").as("antecedent"), col("__n").as("n_a")),
        Seq("antecedent"))
      .join(per.select(col("__t").as("consequent"), col("__n").as("n_b")),
        Seq("consequent"))
      .crossJoin(broadcast(ns))
      .select(col("antecedent"), col("consequent"), col("n_a"),
        col("n_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_sessions").cast("double"))
          .as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_ab").cast("double") * col("n_sessions").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
  }
}
