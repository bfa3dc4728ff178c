package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Upsert

/** Classical per-group statistics from EXACT moments — the analytics
  * rows (trend slope, correlation) a pipeline owner reads next to the
  * quantile and anomaly families.
  *
  * Determinism discipline: the five moments (Σx, Σy, Σx², Σy², Σxy)
  * are EXACT decimal sums (operands sized so products stay ≤ 38
  * precision — (18,4)·(18,4) → (37,8), the x78 rule), so they are
  * order-independent under any partitioning; the closed-form
  * slope/intercept/r combinations then run in IEEE doubles in ONE
  * fixed operand order (sqrt is exactly rounded), which both engines
  * round identically. Zero-variance groups yield nulls, never ±Inf.
  *
  * Scale shape: one map-side-combinable aggregate per group — no
  * second pass, no window, no join.
  */
object Stats {

  private val D = DecimalType(18, 4)

  /** Per-group simple linear regression y ~ x and Pearson correlation:
    * (keys..., n, slope, intercept, r). slope/r null when x (or, for
    * r, y) has zero variance in the group. */
  def regression(df: DataFrame, keys: Seq[String], x: Column, y: Column)
      : DataFrame = {
    val xd = x.cast(D)
    val yd = y.cast(D)
    val m = df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(xd).as("__sx"), sum(yd).as("__sy"),
      sum(xd * xd).as("__sxx"), sum(yd * yd).as("__syy"),
      sum(xd * yd).as("__sxy"))
    val nd = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double")
    val syy = col("__syy").cast("double")
    val sxy = col("__sxy").cast("double")
    val denX = nd * sxx - sx * sx
    val denY = nd * syy - sy * sy
    val num = nd * sxy - sx * sy
    val slope = when(denX > 0.0, num / denX)
    m.select((keys.map(col) :+ col("n") :+
      slope.as("slope") :+
      when(denX > 0.0, (sy - num / denX * sx) / nd).as("intercept") :+
      when(denX > 0.0 && denY > 0.0, num / sqrt(denX * denY)).as("r")): _*)
  }

  /** Per-group WINSORIZED mean (Tukey's robust-stats clip, the
    * data-cleaning sibling of [[Quantiles.robustZ]]): values are
    * clipped to the group's exact [p_lo, p_hi] rank quantiles
    * ([[Quantiles.discrete]]'s integer-rank discipline — no
    * interpolation, no ties), then averaged through an exact decimal
    * sum with one boundary division. Reports how many values each
    * side clipped — the outlier-mass observability a silent clip
    * would hide.
    *
    * Scale shape: the quantile pass is [[Quantiles.discrete]]'s
    * per-group window — EXACT ranks, one task per group; at 100 TB
    * (billions of rows per group) swap the bounds pass for
    * [[Quantiles.approx]]'s sketch-bounded arm, exactly as x28's doc
    * prescribes — the clip+mean stage is bounds-agnostic. The
    * clip+mean is one scan + combiner agg against the broadcast-sized
    * per-group bounds.
    * Output: (keys..., n, lo, hi, n_lo, n_hi, win_mean). */
  def winsorized(df: DataFrame, keys: Seq[String], value: Column,
      loNum: Int, loDen: Int, hiNum: Int, hiDen: Int): DataFrame = {
    require(loNum * hiDen < hiNum * loDen,
      s"lower quantile $loNum/$loDen must be below upper $hiNum/$hiDen")
    val bounds = Quantiles.discrete(df, keys, value,
      Seq((loNum, loDen, "lo"), (hiNum, hiDen, "hi"))).drop("n")
    df.select((keys.map(col) :+ value.as("__v")): _*)
      .join(bounds, keys)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(when(col("__v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("__v") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        (sum(least(greatest(col("__v"), col("lo")), col("hi")).cast(D))
          .cast("double") / count(lit(1)).cast("double")).as("win_mean"))
  }

  /** Per-group Shannon entropy of a CATEGORICAL column — the
    * behavioral-diversity signal (a user whose events are one type is
    * a bot candidate; a source whose docs are one template is
    * boilerplate). H = ln(n) − (Σ c·ln c)/n over the group's category
    * counts — the x102 character-entropy discipline generalized: each
    * ln quantized ONCE to DECIMAL(28,12), Σ c·lnq an exact decimal
    * sum (order-independent under any partitioning), doubles only at
    * the boundary. One (keys, category) combiner count + one keys
    * combiner fold. Output: (keys..., n, entropy). */
  def categoricalEntropy(df: DataFrame, keys: Seq[String],
      category: Column): DataFrame = {
    val cnts = df
      .select((keys.map(col) :+ category.as("__cat")): _*)
      .groupBy((keys.map(col) :+ col("__cat")): _*)
      .agg(count(lit(1)).as("cnt"))
    val lnq = log(col("cnt").cast("double")).cast(DecimalType(28, 12))
    // the count enters a DECIMAL(9,0) multiplicand (9+28+1 = 38 keeps
    // the product exact at scale 12); a (keys, category) count ≥ 1e9
    // would overflow the cast to NULL under non-ANSI Spark and
    // silently drop the category from the entropy sum — enforce
    // LOUDLY instead (the Retrieval.tfidfKeywords tf-bound rule)
    val cntD = when(col("cnt") < lit(1000000000L),
        col("cnt").cast(DecimalType(9, 0)))
      .otherwise(raise_error(concat(
        lit("categoricalEntropy: per-category count "),
        col("cnt").cast("string"),
        lit(" overflows the DECIMAL(9,0) bound")))
        .cast(DecimalType(9, 0)))
    val terms = cnts.groupBy(keys.map(col): _*).agg(
      sum(col("cnt")).as("n"),
      sum(cntD * lnq).as("__s"))
    val lnT = log(col("n").cast("double")).cast(DecimalType(28, 12))
    terms.select((keys.map(col) :+ col("n") :+
      (lnT.cast("double") -
        col("__s").cast("double") / col("n").cast("double"))
        .as("entropy")): _*)
  }

  /** Benford first-significant-digit audit (Newcomb 1881 / Benford
    * 1938; the fraud/synthetic-data forensics classic): the observed
    * distribution of leading digits of a positive numeric column.
    * Natural multiplicative data follows log10(1+1/d); fabricated or
    * truncated data doesn't — the cheap "is this column organic"
    * alarm. Values are scaled to exact integer units (floor(v·scale))
    * and the leading digit read as the first character of the decimal
    * string — pure integer/string, no log10 anywhere; non-positive
    * values are excluded and counted. `share` is one double division
    * of exact longs. Output: (digit, n, share), digits 1-9. */
  def benford(df: DataFrame, value: Column, scale: Long = 100L)
      : DataFrame = {
    require(scale >= 1, s"scale $scale must be >= 1")
    val n0 = floor(value * lit(scale.toDouble)).cast("long")
    val counts = df.select(n0.as("__n"))
      .where(col("__n") >= 1L)
      .select(substring(col("__n").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = broadcast(counts.agg(sum(col("n")).as("__t")))
    counts.crossJoin(total)
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("__t").cast("double")).as("share"))
  }

  /** Per-group GINI coefficient of a non-negative column (the
    * inequality/concentration metric — "how skewed is token mass
    * across sources" or price concentration): the sorted-rank closed
    * form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Σx and Σ(i·xᵢ) are exact
    * decimal sums (rank as DECIMAL(10,0), value DECIMAL(18,4) —
    * products at precision 29); the final combination is one
    * fixed-order double chain. Ties contribute x·Σi regardless of
    * which tied row gets which rank, so the result is deterministic
    * under any tie order. One per-group window sort.
    * Output: (keys..., n, gini), null for an all-zero group. */
  def gini(df: DataFrame, keys: Seq[String], value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__v"))
    val R = DecimalType(10, 0)
    val ranked = df.select((keys.map(col) :+ value.as("__v")): _*)
      .withColumn("__i", row_number().over(w).cast(R))
    val m = ranked.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("__v").cast(D)).as("__s"),
      sum(col("__i") * col("__v").cast(D)).as("__t"))
    val nd = col("n").cast("double")
    val sd = col("__s").cast("double")
    val td = col("__t").cast("double")
    m.select((keys.map(col) :+ col("n") :+
      when(sd > 0.0,
        lit(2.0) * td / (nd * sd) - (nd + lit(1.0)) / nd).as("gini")): _*)
  }
  /** One-pass COLUMN PROFILE of any DataFrame — the data-catalog row
    * per column (row count, null count, exact distinct count) a
    * pipeline owner reads before trusting a new snapshot; the
    * schema-driven generalization of the dataset card's fixed
    * columns. Exact distincts expand one aggregate per column (Spark
    * plans multi-distinct via Expand) — at 100 TB swap
    * `approx_count_distinct` in for the same output shape at sketch
    * cost. Output: (column, n, n_null, n_distinct), one row per
    * input column. */
  def profile(df: DataFrame): DataFrame = {
    require(df.columns.nonEmpty, "profile: no columns")
    val cols = df.columns.toIndexedSeq
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
      countDistinct(col(c)).as(s"__dist_$c"))) :+
      count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(cols.map(c => struct(
        lit(c).as("column"), col("__n").as("n"),
        col(s"__null_$c").as("n_null"),
        col(s"__dist_$c").as("n_distinct"))): _*)).as("p"))
      .select(col("p.column").as("column"), col("p.n").as("n"),
        col("p.n_null").as("n_null"), col("p.n_distinct").as("n_distinct"))
  }
  /** Per-group KOLMOGOROV-SMIRNOV drift of a discrete numeric column
    * against the whole corpus: D = max_v |ECDF_g(v) − ECDF_corpus(v)|
    * — the distribution-shape alarm beside the token-level TV drift
    * (a source whose length distribution walked away from the corpus
    * fails KS long before its token mix does). EXACT arithmetic: both
    * ECDFs are integer cumulative counts over the corpus's distinct
    * value grid (a group missing a value carries its cumulative
    * forward), the difference is the cross product
    * |cum_g·n − cum_c·n_g| in DECIMAL (the x78 sizing), and ONE
    * double division at the boundary. Ties: the max is over VALUES,
    * so row order never matters; the argmax value reports the
    * smallest v attaining D (min over ties — a total order).
    *
    * Scale shape: two combiner count aggs, one per-group window over
    * the |groups|·|distinct values| grid (bounded for discrete
    * columns — lengths, buckets, ratings), one combiner max.
    * Output: (group, n, ks, at_value). */
  /** Chi-square test of INDEPENDENCE between two categorical columns
    * (Pearson 1900) — the "is lang independent of source" profiling
    * gate: a large X² says the two factors are entangled (e.g. one
    * feed dominates one language), which stratified sampling and
    * per-language thresholds silently assume away. X² =
    * Σ_cells (n−e)²/e with e = rowTotal·colTotal/N.
    *
    * Determinism: counts are exact integers; e and each cell term are
    * IEEE doubles folded in (a, b) CELL ORDER (sort_array + one
    * aggregate fold — the x143 discipline), so partitioning can never
    * reorder the sum; dof = (|a|−1)(|b|−1) exact. Scale shape: one
    * combiner count per cell + two bounded marginal aggs + a
    * |a|·|b|-bounded fold — one output row.
    * Output: (n, n_a, n_b, dof, chi2). */
  def chiSquareIndependence(df: DataFrame, a: Column, b: Column)
      : DataFrame = {
    // r16: NO eager checkpoint. The grid feeds four consumers
    // (marginals, totals, the fold join), but all four sit in ONE final
    // plan whose four copies of the grid subtree share an IDENTICAL
    // Exchange — ReuseExchange/AQE stage reuse executes the scan +
    // partial agg once and the consumers re-read the shuffle output
    // (plan shows ReusedExchange/ReusedQueryStage; plans/r16/x175).
    // Same one-scan cost as the old localCheckpoint(true), WITHOUT the
    // pinned-RDD-per-call leak (the r14 ADVICE class) and without the
    // extra materialization action.
    val cells = df.select(a.as("__a"), b.as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val ra = cells.groupBy("__a").agg(sum(col("__c")).as("__ta"))
    val rb = cells.groupBy("__b").agg(sum(col("__c")).as("__tb"))
    val tot = cells.agg(sum(col("__c")).as("__n"),
      countDistinct(col("__a")).as("__na"),
      countDistinct(col("__b")).as("__nb"))
    val term = {
      val e = col("__ta").cast("double") * col("__tb").cast("double") /
        col("__n").cast("double")
      val d = col("__c").cast("double") - e
      d * d / e
    }
    // the FULL |a|·|b| grid, not just observed cells: an unobserved
    // combination contributes (0−e)²/e = e, and skipping it silently
    // UNDERCOUNTS X² exactly when the factors are most dependent
    // (caught by the hand 2×2: a-determines-b read 58, truth 100)
    ra.crossJoin(rb)
      .join(cells, Seq("__a", "__b"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("__n"), col("__na"), col("__nb"),
        struct(col("__a"), col("__b"), term.as("__t")).as("__s"))
      .groupBy("__n", "__na", "__nb")
      .agg(sort_array(collect_list(col("__s"))).as("__arr"))
      .select(col("__n").as("n"), col("__na").as("n_a"),
        col("__nb").as("n_b"),
        ((col("__na") - 1) * (col("__nb") - 1)).as("dof"),
        aggregate(col("__arr"), lit(0.0),
          (acc, x) => acc + x("__t")).as("chi2"))
  }

  /** CRAMÉR's V — [[chiSquareIndependence]] normalized to [0, 1]
    * (Cramér 1946): V = √(X² / (n·min(|a|−1, |b|−1))), the EFFECT
    * SIZE the raw X² (which grows linearly in n — everything is
    * "significant" at corpus scale) cannot give: V ≈ 0 means the
    * factors are practically independent no matter how many rows
    * said otherwise. Same exact-count/fixed-fold machinery; one
    * extra sqrt at the boundary (NULL when a factor has one level).
    * Output: (n, n_a, n_b, dof, chi2, v). */
  def cramersV(df: DataFrame, a: Column, b: Column): DataFrame =
    chiSquareIndependence(df, a, b)
      .withColumn("v",
        when(least(col("n_a"), col("n_b")) > 1,
          sqrt(col("chi2") / (col("n").cast("double") *
            (least(col("n_a"), col("n_b")) - 1).cast("double")))))

  /** One-sided CUSUM change detection per group (Page 1954) — the
    * SEQUENTIAL drift alarm beside the distributional ones (KS, TV,
    * PSI): a small persistent upward shift in a per-period count
    * accumulates until it crosses h, catching what any single-period
    * z-score (x119) buries in noise. Computed via the prefix-sum
    * identity S_t = P_t − min(0, min_{s≤t} P_s), P = Σ(c − μ − k) —
    * the recursive max(0, ·) form flattened into two windows.
    *
    * EXACT arithmetic: μ is the group's observed per-period mean
    * floor-quantized to integer MICRO-UNITS (LOUD guard: totals must
    * stay < 9.2e12 so total·10⁶ fits a Long), the slack k and
    * threshold h are caller-supplied micro-unit integers, so every
    * deviation, prefix sum, and running min is exact Long arithmetic;
    * ONE division at the boundary renders the statistic. Periods are
    * the group's OBSERVED grid (gap-fill first — x31 — if absent
    * periods must count as zero). CONTRACT: bounded period grid (the
    * [[ksDrift]] discrete-grid rule). Scale shape: one combiner
    * count, a 1-row-per-group mean table, two grid-bounded windows.
    * Output: (group, period, c, mean, cusum, alarm). */
  def cusum(df: DataFrame, group: Column, period: Column,
      kMicro: Long, hMicro: Long): DataFrame =
    cusumFromCounts(
      df.select(group.as("g"), period.as("p"))
        .groupBy("g", "p").agg(count(lit(1)).as("c")),
      kMicro, hMicro)

  /** [[cusum]] over a PRE-AGGREGATED (g, p, c) count ledger — the
    * additive form ([[ksDriftFromCounts]]'s twin), giving the
    * sequential alarm a streaming view bit-equal to batch. */
  def cusumFromCounts(counts: DataFrame, kMicro: Long, hMicro: Long)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perG = counts.groupBy("g").agg(sum(col("c")).as("__tot"),
      count(lit(1)).as("__days"))
    val muMicro = when(col("__tot") < lit(9000000000000L),
        expr("(__tot * 1000000) DIV __days"))
      .otherwise(raise_error(concat(
        lit("cusum: group total "), col("__tot").cast("string"),
        lit(" overflows the micro-unit Long bound"))).cast("long"))
    val wCum = Window.partitionBy("g").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, 0)
    counts.join(perG.select(col("g"), col("__tot"), col("__days"),
        muMicro.as("__mu")), Seq("g"))
      .withColumn("__dev",
        col("c") * lit(1000000L) - col("__mu") - lit(kMicro))
      .withColumn("__p", sum(col("__dev")).over(wCum))
      .withColumn("__rm", least(lit(0L), min(col("__p")).over(wCum)))
      .select(col("g").as("group"), col("p").as("period"), col("c"),
        (col("__mu").cast("double") / lit(1e6)).as("mean"),
        ((col("__p") - col("__rm")).cast("double") / lit(1e6))
          .as("cusum"),
        (col("__p") - col("__rm") > lit(hMicro)).as("alarm"))
  }

  /** TWO-PROPORTION z-test — the A/B experimentation classic: given
    * one row per UNIT (user) with a cohort label and a success flag,
    * the pooled-variance z for the conversion-rate difference
    * z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)). Expects exactly
    * two cohorts (the pair join yields one row; zero rows = caller
    * passed ≠ 2 cohorts — loud by absence). Determinism: exact
    * integer counts; the z is one fixed-order IEEE chain both
    * engines parse identically. Scale shape: one combiner agg to two
    * rows, then constant work.
    * Output: (cohort_a, cohort_b, n_a, n_b, k_a, k_b, rate_a,
    * rate_b, z), cohort_a < cohort_b. */
  def twoProportionZ(units: DataFrame, cohort: Column, success: Column)
      : DataFrame = {
    val agg = units.groupBy(cohort.as("cohort")).agg(
      count(lit(1)).as("n"),
      sum(when(success, 1L).otherwise(0L)).as("k"))
    val a = agg.select(col("cohort").as("cohort_a"), col("n").as("n_a"),
      col("k").as("k_a"))
    val b = agg.select(col("cohort").as("cohort_b"), col("n").as("n_b"),
      col("k").as("k_b"))
    val p1 = col("k_a").cast("double") / col("n_a")
    val p2 = col("k_b").cast("double") / col("n_b")
    val p = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val inv = lit(1.0) / col("n_a") + lit(1.0) / col("n_b")
    val se = sqrt(p * (lit(1.0) - p) * inv)
    a.join(b, col("cohort_a") < col("cohort_b"))
      .select(col("cohort_a"), col("cohort_b"), col("n_a"), col("n_b"),
        col("k_a"), col("k_b"), p1.as("rate_a"), p2.as("rate_b"),
        // pooled p̂ of 0 or 1 has zero variance — z undefined, NULL
        // (not ±inf, not an ANSI divide-by-zero crash)
        when(se > 0, (p1 - p2) / se).as("z"))
  }

  /** SIMPSON'S-PARADOX audit (Simpson 1951; Bickel et al. 1975 — the
    * Berkeley admissions reversal): the POOLED success-rate difference
    * between two cohorts next to the STRATUM-ADJUSTED difference
    * (direct standardization: Σ_s w_s·(p_as − p_bs), w_s = the
    * stratum's paired share), with the reversal flags — the pre-read
    * that keeps an A/B readout from shipping a conclusion an uneven
    * stratum mix manufactured. A paradox = the pooled and adjusted
    * signs disagree; `n_reversed` counts strata whose own diff
    * opposes the pooled sign.
    *
    * Determinism: every rate is one double division of exact integer
    * counts; each stratum's w·diff term is ONE fixed-order double
    * chain quantized to DECIMAL(28,12) and the adjusted sum is exact
    * decimal (order-free). Strata where a cohort is absent have no
    * defined diff — they are excluded from the adjusted sum (counted
    * in n_strata − n_paired) but still feed the pooled rates, exactly
    * the mix-shift the audit exists to expose.
    * Scale shape: two combiner aggs (units → stratum×cohort, units →
    * cohort) + model-sized joins; the stratum grid is
    * category-bounded. Cohorts must be exactly two values; the a<b
    * self-join makes cohort_a the smaller.
    * Output one row: (n_strata, n_paired, n_reversed, pooled_diff,
    * adjusted_diff, paradox). */
  def simpsonAudit(units: DataFrame, stratum: Column, cohort: Column,
      success: Column): DataFrame =
    simpsonAuditFromCells(units
      .select(stratum.as("stratum"), cohort.as("cohort"),
        when(success, 1L).otherwise(0L).as("__s"))
      .groupBy("stratum", "cohort")
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("k")))

  /** [[simpsonAudit]] over PRE-AGGREGATED (stratum, cohort, n, k)
    * cells — the form a streaming additive ledger folds to (counts
    * and success counts are both additive), so the paradox audit has
    * a streaming view bit-equal to the batch operator over everything
    * ingested. */
  def simpsonAuditFromCells(cells: DataFrame): DataFrame = {
    val D = DecimalType(28, 12)
    val byCell = cells
      .select(col("stratum"), col("cohort"), col("n"), col("k"))
      .localCheckpoint(true) // feeds pooled, paired AND strata counts
    val pooledC = byCell.groupBy("cohort")
      .agg(sum(col("n")).as("n"), sum(col("k")).as("k"))
    val pooled = pooledC.as("a").join(pooledC.as("b"),
        col("a.cohort") < col("b.cohort"))
      .select((col("a.k").cast("double") / col("a.n").cast("double") -
        col("b.k").cast("double") / col("b.n").cast("double"))
        .as("pooled_diff"))
    val paired = byCell.as("a").join(byCell.as("b"),
        col("a.stratum") === col("b.stratum") &&
          col("a.cohort") < col("b.cohort"))
      .select(col("a.stratum").as("stratum"),
        (col("a.n") + col("b.n")).as("__w"),
        (col("a.k").cast("double") / col("a.n").cast("double") -
          col("b.k").cast("double") / col("b.n").cast("double"))
          .as("__diff"))
      .localCheckpoint(true)
    val wTot = paired.agg(sum(col("__w")).as("__wt"))
    val counts = byCell.agg(
      countDistinct(col("stratum")).as("n_strata"))
    val adj = paired.crossJoin(broadcast(wTot))
      .select(((col("__w").cast("double") / col("__wt").cast("double")) *
        col("__diff")).cast(D).as("__t"))
      .agg(sum(col("__t")).cast("double").as("adjusted_diff"),
        count(lit(1)).as("n_paired"))
    val rev = paired.crossJoin(broadcast(pooled))
      .agg(sum(when(
        (col("pooled_diff") > 0 && col("__diff") < 0) ||
          (col("pooled_diff") < 0 && col("__diff") > 0), 1L)
        .otherwise(0L)).as("n_reversed"))
    counts.crossJoin(broadcast(adj)).crossJoin(broadcast(rev))
      .crossJoin(broadcast(pooled))
      .select(col("n_strata"), col("n_paired"), col("n_reversed"),
        col("pooled_diff"), col("adjusted_diff"),
        ((col("pooled_diff") > 0 && col("adjusted_diff") < 0) ||
          (col("pooled_diff") < 0 && col("adjusted_diff") > 0))
          .as("paradox"))
  }

  /** OTSU threshold per group (Otsu 1979, the histogram-based
    * two-class split): the value cut that best separates a score
    * distribution into two classes — how a continuous quality score
    * (length, perplexity, readability) becomes a keep/drop gate
    * WITHOUT a hand-picked threshold. Maximizing the between-class
    * term S_L²/W_L + S_R²/W_R over the per-VALUE count grid minimizes
    * within-class variance (x218's level-shift math moved from the
    * time axis to the value axis).
    *
    * Determinism: counts and value·count sums are exact integers on
    * the discrete grid (the documented contract — quantize floats
    * first); squares go through DECIMAL(19,0) (38-digit products,
    * exact in both engines); each gain is one double chain; argmax
    * ranks (gain DESC, v ASC). Scale: per-(group, value) combiner
    * agg, then GRID-bounded windows partitioned by group.
    * Output per group: (group, threshold — the right class's
    * smallest value, w_left, w_right, mean_left, mean_right, gain);
    * groups with one distinct value emit nothing. */
  def otsuThreshold(df: DataFrame, group: Column, value: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(19, 0)
    val cv = df.select(group.as("g"), value.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("__c"))
      .withColumn("__m", col("__c") * col("v"))
    val wOrd = Window.partitionBy("g").orderBy("v")
    val cum = cv
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__cw", sum(col("__c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__cs", sum(col("__m")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__next", lead(col("v"), 1).over(wOrd))
    val tot = cv.groupBy("g").agg(count(lit(1)).as("__nv"),
      sum(col("__c")).as("__W"), sum(col("__m")).as("__S"))
    val splits = cum.join(tot, Seq("g"))
      .where(col("__i") < col("__nv"))
      .withColumn("__wr", col("__W") - col("__cw"))
      .withColumn("__sr", col("__S") - col("__cs"))
      .withColumn("gain",
        (col("__cs").cast(N) * col("__cs").cast(N)).cast("double") /
          col("__cw").cast("double") +
          (col("__sr").cast(N) * col("__sr").cast(N)).cast("double") /
            col("__wr").cast("double"))
    Upsert.firstPerKey(splits, Seq(col("g")),
        Seq(col("gain").desc, col("v").asc))
      .select(col("g").as("group"), col("__next").as("threshold"),
        col("__cw").as("w_left"), col("__wr").as("w_right"),
        (col("__cs").cast("double") / col("__cw").cast("double"))
          .as("mean_left"),
        (col("__sr").cast("double") / col("__wr").cast("double"))
          .as("mean_right"),
        col("gain"))
  }

  /** McNEMAR paired-gate test (McNemar 1947): do two keep/drop gates
    * disagree SYSTEMATICALLY on the same units? The discordant cells
    * decide — n10 (A-only passes) vs n01 (B-only passes);
    * χ² = (n10−n01)²/(n10+n01), with the continuity-corrected
    * (max(|n10−n01|−1, 0))²/(n10+n01) variant — the pre-read before
    * swapping an expensive quality gate for a cheap proxy ("they
    * agree 95% of the time" is the WRONG check; McNemar asks whether
    * the 5% disagreement is one-sided). Exact integer cells; squares
    * through DECIMAL(19,0); χ² NULL when the gates never disagree
    * (nothing to test — perfect interchangeability). Rows where
    * either gate is NULL are excluded from every cell. One combiner
    * agg; one row out: (n11, n10, n01, n00, chi2, chi2_cc). */
  def mcNemar(units: DataFrame, gateA: Column, gateB: Column)
      : DataFrame = {
    val N19 = DecimalType(19, 0)
    val cells = units.agg(
      sum(when(gateA && gateB, 1L).otherwise(0L)).as("n11"),
      sum(when(gateA && !gateB, 1L).otherwise(0L)).as("n10"),
      sum(when(!gateA && gateB, 1L).otherwise(0L)).as("n01"),
      sum(when(!gateA && !gateB, 1L).otherwise(0L)).as("n00"))
    val d = col("n10") - col("n01")
    val disc = col("n10") + col("n01")
    val dcc = greatest(abs(d) - 1, lit(0L))
    cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(disc > 0,
        (d.cast(N19) * d.cast(N19)).cast("double") /
          disc.cast("double")).as("chi2"),
      when(disc > 0,
        (dcc.cast(N19) * dcc.cast(N19)).cast("double") /
          disc.cast("double")).as("chi2_cc"))
  }

  /** Exact ROC-AUC of a SCORE against a binary label, via the
    * Mann–Whitney U identity AUC = P(s⁺ > s⁻) + ½P(s⁺ = s⁻) — the
    * one-number read on "does the cheap score actually order
    * documents by quality" before a classifier threshold ships into
    * a curation gate. Computed entirely on the per-score COUNT GRID
    * (the [[mannWhitneyU]] discrete-value contract — quantize a
    * continuous score first): with negBelow(v) = Σ_{u<v} neg_u, the
    * doubled numerator 2·Σ_v pos_v·(2·negBelow + neg_v) and the
    * denominator 2·n⁺·n⁻ are exact DECIMAL(38,0) integers; ONE double
    * division at the boundary. AUC is NULL when either class is
    * empty (nothing to rank against). The discrete-score contract is
    * ENFORCED loudly via `maxGridValues` (a measured count off the
    * checkpointed score grid, the quantileNormalize discipline): the
    * cumulative window is GLOBAL and unpartitioned, so a raw
    * unquantized double score would silently plan a row-cardinality
    * single-task sort — quantize first. Scale shape: one (score)
    * combiner agg, one grid-bounded cumulative window, one-row out:
    * (n_pos, n_neg, auc). */
  def rocAuc(units: DataFrame, score: Column, label: Column,
      maxGridValues: Long = 10000000L): DataFrame =
    rocAucFromCounts(units.select(score.as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[rocAuc]] over PRE-AGGREGATED (v, y, c) counts — the form a
    * streaming additive ledger folds to (the ksDriftFromCounts
    * discipline), so classifier evaluation has streaming views
    * bit-equal to the batch operators over everything ingested
    * ([[graft.streaming.Streams.sumView]] of a (v, y) ledger). Same loud
    * `maxGridValues` guard as the units form — a streaming ledger
    * keyed by an unquantized score would otherwise grow the global
    * window without bound. */
  def rocAucFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(38, 0)
    val grid = counts.select(col("v").as("__v"), col("y").as("__y"),
        col("c").as("__c"))
      .groupBy("__v").agg(
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__neg"))
    // measured fail-fast guard on the LAZY grid (r15): the count costs
    // one extra aggregation pass at consumption time, but nothing is
    // checkpointed — the former localCheckpoint(true) guard pinned one
    // MEMORY_AND_DISK RDD per call for the application lifetime (a
    // leak for monitors that rebuild the streaming views per refresh).
    // The guard still runs BEFORE the global window is planned, which
    // is its purpose: failing ahead of a row-cardinality single-task
    // sort. NOTE: this makes the constructor eager (it runs one Spark
    // job); streaming-view builders inherit that eagerness.
    val nGrid = grid.count()
    require(nGrid <= maxGridValues,
      s"rocAuc: $nGrid distinct score values exceeds " +
        s"maxGridValues=$maxGridValues — the score must be discrete " +
        "(quantize a raw double first; the cumulative window is " +
        "global and grid-sized)")
    val wv = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // grid-bounded window (the discrete-value contract, enforced above)
    grid
      .withColumn("__nb", coalesce(sum(col("__neg")).over(wv), lit(0L)))
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__pos").cast(N) *
          (lit(2L) * col("__nb") + col("__neg")).cast(N)).as("__num2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("__num2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).as("auc"))
  }

  /** [[rocAuc]] PER GROUP — "does the cheap score order documents by
    * quality IN EVERY SOURCE/LANGUAGE, or only on average": a score
    * can carry a healthy pooled AUC while being anti-predictive
    * inside a minority slice (the Simpson-style failure x213 audits
    * for rates, here for rankings). Same exact U-identity arithmetic
    * on the per-(group, score) count grid; the cumulative window is
    * PARTITIONED by group (parallel across groups, grid-bounded
    * within). The discrete-score contract is enforced via
    * `maxGridValues` on the POOLED (group, score) cell count — a
    * bound on every per-group window at the price of one measured
    * count. Output: (group, n_pos, n_neg, auc) — auc NULL where a
    * group has an empty class. */
  def rocAucByGroup(units: DataFrame, group: Column, score: Column,
      label: Column, maxGridValues: Long = 10000000L): DataFrame =
    rocAucByGroupFromCounts(units
      .select(group.as("g"), score.as("v"), label.as("y"))
      .groupBy("g", "v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[rocAucByGroup]] over PRE-AGGREGATED (g, v, y, c) counts — the
    * streaming-ledger form. Same pooled-cell `maxGridValues` guard as
    * the units form. */
  def rocAucByGroupFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(38, 0)
    val grid = counts.select(col("g"), col("v").as("__v"),
        col("y").as("__y"), col("c").as("__c"))
      .groupBy("g", "__v").agg(
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__neg"))
    // lazy-grid measured guard — the rocAucFromCounts r15 discipline
    // (one extra agg pass, no checkpoint pinned)
    val nCells = grid.count()
    require(nCells <= maxGridValues,
      s"rocAucByGroup: $nCells pooled (group, score) cells exceeds " +
        s"maxGridValues=$maxGridValues — the score must be discrete " +
        "(quantize a raw double first; each group's window is " +
        "grid-sized)")
    val wv = Window.partitionBy("g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("__nb", coalesce(sum(col("__neg")).over(wv), lit(0L)))
      .groupBy("g")
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__pos").cast(N) *
          (lit(2L) * col("__nb") + col("__neg")).cast(N)).as("__num2"))
      .select(col("g").as("group"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("__num2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).as("auc"))
  }

  /** Confusion-matrix THRESHOLD SWEEP — precision/recall/F1/FPR at
    * every distinct score cut (predict positive iff score ≥ t) as ONE
    * grid query, no driver loop (the x158 sweep discipline with a
    * LABEL): the operating-point table a gate owner reads next to
    * [[rocAuc]]'s single number before picking the cut. From the
    * per-score count grid: tp/fp are suffix sums over the grid
    * (cumulative from the top — a grid-bounded window), fn/tn the
    * complements against the 1-row totals; every count exact, the
    * four ratios one double division each (NULL-guarded: precision
    * NULL when nothing is predicted positive, recall/FPR NULL when
    * the class is empty). Same discrete-score contract as [[rocAuc]],
    * enforced by the same measured `maxGridValues` guard (the suffix
    * window is global and grid-sized).
    * Output per threshold: (threshold, tp, fp, fn, tn, precision,
    * recall, f1, fpr). */
  def thresholdSweep(units: DataFrame, score: Column, label: Column,
      maxGridValues: Long = 10000000L): DataFrame =
    thresholdSweepFromCounts(units.select(score.as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[thresholdSweep]] over PRE-AGGREGATED (v, y, c) counts — the
    * streaming-ledger form
    * ([[graft.streaming.Streams.sumView]] of a (v, y) ledger). Same loud
    * `maxGridValues` guard as the units form. */
  def thresholdSweepFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = counts.select(col("v").as("threshold"), col("y").as("__y"),
        col("c").as("__c"))
      .groupBy("threshold").agg(
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__neg"))
    // lazy-grid measured guard — the rocAucFromCounts r15 discipline
    // (one extra agg pass, no checkpoint pinned)
    val nGrid = grid.count()
    require(nGrid <= maxGridValues,
      s"thresholdSweep: $nGrid distinct score values exceeds " +
        s"maxGridValues=$maxGridValues — the score must be discrete " +
        "(quantize a raw double first; the suffix window is global " +
        "and grid-sized)")
    val wDesc = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // r15: the class totals are FULL-FRAME sums over the SAME window
    // order — one WindowExec computes suffix sums and totals in one
    // pass, replacing the former separate 1-row agg + BroadcastExchange
    // + CrossJoin (a third consumer of the grid). Exact-integer sums,
    // identical values.
    val wAll = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("tp", sum(col("__pos")).over(wDesc))
      .withColumn("fp", sum(col("__neg")).over(wDesc))
      .withColumn("__np", sum(col("__pos")).over(wAll))
      .withColumn("__nn", sum(col("__neg")).over(wAll))
      .select(col("threshold"), col("tp"), col("fp"),
        (col("__np") - col("tp")).as("fn"),
        (col("__nn") - col("fp")).as("tn"),
        when(col("tp") + col("fp") > 0, col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")).as("precision"),
        when(col("__np") > 0,
          col("tp").cast("double") / col("__np").cast("double"))
          .as("recall"),
        // 2tp/(2tp+fp+fn) = 2tp/(tp+fp+n_pos)
        when(col("tp") + col("fp") + col("__np") > 0,
          lit(2.0) * col("tp").cast("double") /
            (col("tp") + col("fp") + col("__np")).cast("double"))
          .as("f1"),
        when(col("__nn") > 0,
          col("fp").cast("double") / col("__nn").cast("double"))
          .as("fpr"))
  }

  /** Exact AVERAGE PRECISION (step-interpolated PR-AUC, the TREC /
    * standard-IR convention: AP = Σ_k P(k)·ΔR(k) over the distinct
    * score cuts, descending) — the precision-recall companion to
    * [[rocAuc]], and the number a gate owner on an IMBALANCED corpus
    * reads first: ROC-AUC is blind to prevalence (a gate passing 2%
    * of documents can carry a flattering AUC while ranking garbage
    * into every retrieved batch); AP weights exactly the positives.
    * On the per-score count grid, descending: with suffix sums
    * tp_k/fp_k (the [[thresholdSweep]] machinery), each threshold
    * block contributes pos_k·tp_k/(tp_k+fp_k) — an exact-integer
    * numerator to ONE double division, quantized to DECIMAL(28,12)
    * (the jsdMatrix determinism discipline: the per-term double chain
    * has one fixed operand order both engines round identically, and
    * the quantized terms then SUM exactly — order-independent under
    * any partitioning); AP = Σterms / n_pos, one double division at
    * the boundary. Ties are handled block-wise (the distinct-score
    * operating points — scikit-learn's average_precision convention).
    * AP NULL when there are no positives (nothing to average over);
    * all-positive data gives AP = 1 (P(k) = 1 at every cut). Same
    * discrete-score contract and measured `maxGridValues` guard as
    * [[rocAuc]]. One row out: (n_pos, n_neg, ap). */
  def averagePrecision(units: DataFrame, score: Column, label: Column,
      maxGridValues: Long = 10000000L): DataFrame =
    averagePrecisionFromCounts(units.select(score.as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[averagePrecision]] over PRE-AGGREGATED (v, y, c) counts — the
    * streaming-ledger form ([[graft.streaming.Streams.sumView]] of a
    * (v, y) ledger): the SAME (v, y) additive ledger that serves rocAuc /
    * thresholdSweep / calibration also folds to exact AP. */
  def averagePrecisionFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DecimalType(28, 12)
    val grid = counts.select(col("v").as("__v"), col("y").as("__y"),
        col("c").as("__c"))
      .groupBy("__v").agg(
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__neg"))
    // lazy-grid measured guard — the rocAucFromCounts r15 discipline
    val nGrid = grid.count()
    require(nGrid <= maxGridValues,
      s"averagePrecision: $nGrid distinct score values exceeds " +
        s"maxGridValues=$maxGridValues — the score must be discrete " +
        "(quantize a raw double first; the suffix window is global " +
        "and grid-sized)")
    val wDesc = Window.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("__tp", sum(col("__pos")).over(wDesc))
      .withColumn("__fp", sum(col("__neg")).over(wDesc))
      // P(k) at a block with no positives gets ΔR = 0 — zero term
      .withColumn("__term",
        when(col("__pos") > 0,
          (col("__pos").cast("double") * col("__tp").cast("double") /
            (col("__tp") + col("__fp")).cast("double")).cast(L))
          .otherwise(lit(0).cast(L)))
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__term")).as("__ts"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
          col("__ts").cast("double") / col("n_pos").cast("double"))
          .as("ap"))
  }

  /** [[averagePrecision]] PER GROUP — the per-source ranking audit in
    * PRECISION-RECALL space (x244's Simpson lesson, third dial: AUC
    * ranks, calibration reads probabilities, AP weights the kept
    * positives — a proxy can hold a healthy pooled AP while retrieving
    * garbage inside one source whose prevalence differs). Same exact
    * per-term arithmetic as the pooled form on the per-(group, score)
    * grid; suffix windows PARTITIONED by group, terms
    * DECIMAL(28,12)-quantized then summed per group. Guard on the
    * pooled (group, score) cell count. Output: (group, n_pos, n_neg,
    * ap) — ap NULL where a group has no positives. */
  def averagePrecisionByGroup(units: DataFrame, group: Column,
      score: Column, label: Column, maxGridValues: Long = 10000000L)
      : DataFrame =
    averagePrecisionByGroupFromCounts(units
      .select(group.as("g"), score.as("v"), label.as("y"))
      .groupBy("g", "v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[averagePrecisionByGroup]] over PRE-AGGREGATED (g, v, y, c)
    * counts — the (g, v, y) grouped-ledger form
    * ([[graft.streaming.Streams.sumView]] of a (g, v, y) ledger). */
  def averagePrecisionByGroupFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DecimalType(28, 12)
    val grid = counts.select(col("g"), col("v").as("__v"),
        col("y").as("__y"), col("c").as("__c"))
      .groupBy("g", "__v").agg(
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__neg"))
    // lazy-grid measured guard — the rocAucFromCounts r15 discipline
    val nCells = grid.count()
    require(nCells <= maxGridValues,
      s"averagePrecisionByGroup: $nCells pooled (group, score) cells " +
        s"exceeds maxGridValues=$maxGridValues — the score must be " +
        "discrete (quantize a raw double first)")
    val wDesc = Window.partitionBy("g").orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("__tp", sum(col("__pos")).over(wDesc))
      .withColumn("__fp", sum(col("__neg")).over(wDesc))
      .withColumn("__term",
        when(col("__pos") > 0,
          (col("__pos").cast("double") * col("__tp").cast("double") /
            (col("__tp") + col("__fp")).cast("double")).cast(L))
          .otherwise(lit(0).cast(L)))
      .groupBy("g")
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__term")).as("__ts"))
      .select(col("g").as("group"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
          col("__ts").cast("double") / col("n_pos").cast("double"))
          .as("ap"))
  }

  /** MATTHEWS CORRELATION COEFFICIENT at every distinct score cut
    * (Matthews 1975) — the single balanced confusion-matrix number per
    * operating point: unlike F1 (blind to tn) and accuracy (swamped by
    * the majority class), MCC only rewards a cut that gets all four
    * cells right, which is exactly the summary an imbalanced-gate
    * owner wants next to [[thresholdSweep]]'s four ratios.
    * MCC(t) = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn)) —
    * numerator exact DECIMAL(38,0); the denominator's four marginal
    * sums are exact longs multiplied in ONE fixed double order
    * ((tp+fp)·(tp+fn) then ·((tn+fp)·(tn+fn)) — ≤10⁴⁸, far inside
    * double range) under one sqrt; NULL when any marginal is zero
    * (MCC undefined — a degenerate cut). Same discrete-score contract
    * and guard as the sweep it rides. Output per threshold:
    * (threshold, tp, fp, fn, tn, mcc). */
  def mccSweep(units: DataFrame, score: Column, label: Column,
      maxGridValues: Long = 10000000L): DataFrame =
    mccSweepFromCounts(units.select(score.as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[mccSweep]] over PRE-AGGREGATED (v, y, c) counts — the SAME
    * (v, y) ledger as the rest of the classifier-eval family
    * ([[graft.streaming.Streams.sumView]] of a (v, y) ledger). */
  def mccSweepFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    val N = DecimalType(38, 0)
    val d = (c: Column) => c.cast("double")
    val sweep = thresholdSweepFromCounts(counts, maxGridValues)
    val pp = col("tp") + col("fp"); val ap = col("tp") + col("fn")
    val pn = col("tn") + col("fp"); val an = col("tn") + col("fn")
    sweep.select(col("threshold"), col("tp"), col("fp"), col("fn"),
      col("tn"),
      when(pp > 0 && ap > 0 && pn > 0 && an > 0,
        (col("tp").cast(N) * col("tn").cast(N) -
          col("fp").cast(N) * col("fn").cast(N)).cast("double") /
          sqrt((d(pp) * d(ap)) * (d(pn) * d(an)))).as("mcc"))
  }

  /** CUMULATIVE GAINS / LIFT table — the depth-based read of the
    * [[thresholdSweep]] grid: "if the gate keeps everything scoring
    * ≥ t — the top depth_ppm of the corpus — it captures gain of the
    * good documents, lift× better than random". The chart a curation
    * budget meeting actually looks at: recall against depth, not
    * against a score nobody has intuition for. All off the same
    * suffix sums: depth_ppm = ⌊(tp+fp)·10⁶/n⌋ exact integer
    * floor-division, gain = recall, lift = tp·n / ((tp+fp)·n_pos) —
    * exact DECIMAL(38,0) numerator and denominator, ONE double
    * division (lift NULL when either class or the cut is empty; at
    * full depth lift = 1 exactly). Same discrete-score contract and
    * guard. Output per threshold: (threshold, depth_ppm, tp, fp,
    * gain, lift). */
  def gainsCurve(units: DataFrame, score: Column, label: Column,
      maxGridValues: Long = 10000000L): DataFrame =
    gainsCurveFromCounts(units.select(score.as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[gainsCurve]] over PRE-AGGREGATED (v, y, c) counts — the SAME
    * (v, y) ledger as the rest of the family
    * ([[graft.streaming.Streams.sumView]] of a (v, y) ledger). */
  def gainsCurveFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    val N = DecimalType(38, 0)
    val sweep = thresholdSweepFromCounts(counts, maxGridValues)
    val n = col("tp") + col("fp") + col("fn") + col("tn")
    val np = col("tp") + col("fn")
    val kept = col("tp") + col("fp")
    // exact integer floor-division (the Export trunc discipline)
    val depthNum = kept.cast(N) * lit(1000000L).cast(N)
    val depth = ((depthNum - pmod(depthNum, n.cast(N))) / n.cast(N))
      .cast("long")
    sweep.select(col("threshold"), depth.as("depth_ppm"), col("tp"),
      col("fp"),
      when(np > 0, col("tp").cast("double") / np.cast("double"))
        .as("gain"),
      when(np > 0 && kept > 0,
        (col("tp").cast(N) * n.cast(N)).cast("double") /
          (kept.cast(N) * np.cast(N)).cast("double")).as("lift"))
  }

  /** KRIPPENDORFF'S ALPHA, nominal (Krippendorff 1970/2004) — the
    * agreement number when [[fleissKappa]]'s constant-rater-count
    * contract does NOT hold: raters may skip units (a gate that
    * abstains, an annotator who saw half the corpus), and units with
    * a single rating are simply unpairable and excluded rather than
    * fatal. The standard reliability statistic for exactly that
    * missing-data shape. On the (unit, category) count grid, over
    * units with n_u ≥ 2 ratings: per-unit observed disagreement
    * (n_u² − Σ_c n_uc²)/(n_u − 1) — one fixed-order double chain
    * quantized to DECIMAL(28,12) (the jsdMatrix determinism idiom:
    * exact-summable, order-independent), and
    * α = 1 − Σ_u term · (n−1) / (n² − Σ_c n_c²) with n = Σ pairable
    * ratings and the denominator exact DECIMAL(38,0); ONE double
    * division. NULL when every rating is one category (n² = Σn_c²)
    * or nothing is pairable. Scale: one (unit, category) combiner
    * grid, one per-unit fold, one category-marginal fold. Output:
    * (n_units, n_values, alpha) — n_units/n_values count only
    * pairable units/ratings. */
  def krippendorffAlpha(units: DataFrame, unitCol: Column,
      category: Column): DataFrame = {
    val N = DecimalType(38, 0)
    val L = DecimalType(28, 12)
    // r15 (ADVICE): no checkpoints — both frames are bounded combiner
    // aggs that recompute per consumer instead of pinning blocks for
    // the application lifetime (the fleissKappa discipline)
    val grid = units.select(unitCol.as("__u"), category.as("__cat"))
      .where(col("__u").isNotNull && col("__cat").isNotNull)
      .groupBy("__u", "__cat").agg(count(lit(1)).as("__c"))
    val perUnit = grid.groupBy("__u").agg(
        sum(col("__c")).as("__n"),
        sum(col("__c").cast(N) * col("__c").cast(N)).as("__s2"))
      .where(col("__n") >= 2) // single-rating units are unpairable
    val obs = perUnit.agg(
      count(lit(1)).as("n_units"),
      coalesce(sum(col("__n")), lit(0L)).as("n_values"),
      coalesce(sum(
        (((col("__n").cast(N) * col("__n").cast(N)) - col("__s2"))
          .cast("double") / (col("__n") - 1).cast("double")).cast(L)),
        lit(0).cast(L)).as("__do"))
    // category marginals over PAIRABLE units only
    val marg = grid.join(perUnit.select(col("__u")), Seq("__u"))
      .groupBy("__cat").agg(sum(col("__c")).as("__nc"))
      .agg(coalesce(sum(col("__nc").cast(N) * col("__nc").cast(N)),
        lit(0).cast(N)).as("__e2"))
    obs.crossJoin(broadcast(marg))
      .select(col("n_units"), col("n_values"),
        when(col("n_values") >= 2 &&
          col("n_values").cast(N) * col("n_values").cast(N) =!=
            col("__e2"),
          lit(1.0) - col("__do").cast("double") *
            (col("n_values") - 1).cast("double") /
            (col("n_values").cast(N) * col("n_values").cast(N) -
              col("__e2")).cast("double")).as("alpha"))
  }

  /** The derandomized Poisson(1) replicate weight of (unit, b) — ONE
    * definition shared by [[bootstrapMeanCI]], [[aucBootstrapCI]] and
    * [[apBootstrapCI]] (and mirrored literally by their oracles):
    * invert the exact Poisson(1) CDF in ppm at the portable
    * counter-based hash h = (hash(u) + b·7919) mod P; weight capped
    * at 9 (P ≈ 1e-6 beyond). */
  private def poissonWeight(u: Column, b: Column): Column = {
    val h = pmod(
      pmod(pmod(u, lit(Sampling.HashPrime)) *
        lit(Sampling.HashMult), lit(Sampling.HashPrime)) +
        b * lit(7919L), lit(Sampling.HashPrime))
    val ppm = pmod(h, lit(1000000L))
    when(ppm < 367879, 0L).when(ppm < 735758, 1L)
      .when(ppm < 919698, 2L).when(ppm < 981011, 3L)
      .when(ppm < 996340, 4L).when(ppm < 999405, 5L)
      .when(ppm < 999916, 6L).when(ppm < 999989, 7L)
      .when(ppm < 999998, 8L).otherwise(9L)
  }

  /** Exact ceil-rank 95% percentile bounds over per-replicate
    * statistics (valueCol keyed by repCol for deterministic
    * tie-break) — the shared tail of the three bootstrap operators.
    * ALWAYS one row out: (n_replicates, lo95, hi95) — bounds NULL
    * (and n_replicates 0) when no replicate survived, so callers
    * keep their documented one-row contract instead of silently
    * producing zero rows. The ceil-ranks are exact integers
    * ((B·25+999) DIV 1000 — the IEEE 200·0.025 pitfall). */
  private def ceilRankBounds(stats: DataFrame, valueCol: String,
      repCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.orderBy(col(valueCol), col(repCol)) // B-bounded
    // r15: the replicate count is a FULL-FRAME window count on the
    // same B-bounded order — one WindowExec computes rank and count in
    // one pass, replacing the former checkpoint + 1-row agg +
    // BroadcastExchange + CrossJoin (and un-pinning the B-row RDD the
    // checkpoint held for the application lifetime)
    val wAll = Window.orderBy(col(valueCol), col(repCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stats.withColumn("__r", row_number().over(wRank))
      .withColumn("__nreps", count(lit(1)).over(wAll))
      .agg(
        count(lit(1)).as("n_replicates"),
        min(when(col("__r") === greatest(lit(1L),
          expr("(__nreps * 25 + 999) DIV 1000")), col(valueCol)))
          .as("lo95"),
        min(when(col("__r") === expr("(__nreps * 975 + 999) DIV 1000"),
          col(valueCol))).as("hi95"))
  }

  /** BOOTSTRAP confidence interval for ROC-AUC — the error bars the
    * x240 point estimate deserves before a gate ships on it ("is
    * 0.71 vs 0.69 a real ranking difference or noise"), RNG-FREE via
    * the [[bootstrapMeanCI]] construction: Poisson(1) unit weights
    * derandomized through the portable counter-based hash
    * h = (hash(u) + b·7919) mod P and the exact ppm Poisson CDF —
    * deterministic, engine-reproducible, nothing to seed. Each
    * replicate b reweights the (score, label) count grid (weights
    * fold ADDITIVELY into cells — the resample never materializes),
    * then the exact U identity runs per replicate on b-partitioned
    * grid windows; replicates with an empty class drop (reported via
    * n_replicates; if NONE survives — single-class data — the row
    * still comes back with NULL bounds and n_replicates 0, never
    * zero rows). Percentile bounds are EXACT ceil-ranks over the
    * replicate AUCs (ties broken by replicate index). Scale shape:
    * one ×B explode over ROWS folded straight into B grid copies
    * (B·|grid| cells — the documented bootstrap trade), B-partitioned
    * windows, one B-row ranking. Output one row: (n_units, n_pos,
    * n_neg, auc, lo95, hi95, n_replicates). */
  def aucBootstrapCI(units: DataFrame, unitId: Column, score: Column,
      label: Column, b: Int = 200, maxGridValues: Long = 10000000L)
      : DataFrame = {
    require(b >= 40 && b <= 10000, s"aucBootstrapCI: b=$b outside " +
      "[40,10000]")
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(38, 0)
    val base = units.select(unitId.as("__u"), score.as("__v"),
        label.as("__y"))
      .localCheckpoint(true) // feeds the point estimate AND ×B explode
    val point = rocAucFromCounts(base.groupBy("__v", "__y")
      .agg(count(lit(1)).as("c"))
      .select(col("__v").as("v"), col("__y").as("y"), col("c")),
      maxGridValues)
    val nUnits = broadcast(base.agg(count(lit(1)).as("n_units")))
    val grid = base
      .withColumn("__b", explode(sequence(lit(0L), lit(b - 1L))))
      .withColumn("__w", poissonWeight(col("__u"), col("__b")))
      .groupBy("__b", "__v").agg(
        sum(when(col("__y"), col("__w")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__w")).otherwise(0L)).as("__neg"))
      .where(col("__pos") > 0 || col("__neg") > 0)
    val wv = Window.partitionBy("__b").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val aucs = grid
      .withColumn("__nb", coalesce(sum(col("__neg")).over(wv), lit(0L)))
      .groupBy("__b")
      .agg(sum(col("__pos")).as("__np"), sum(col("__neg")).as("__nn"),
        sum(col("__pos").cast(N) *
          (lit(2L) * col("__nb") + col("__neg")).cast(N)).as("__num2"))
      .where(col("__np") > 0 && col("__nn") > 0)
      .select(col("__b"),
        (col("__num2").cast("double") /
          (lit(2.0) * col("__np").cast("double") *
            col("__nn").cast("double"))).as("__a"))
    point.crossJoin(nUnits)
      .crossJoin(broadcast(ceilRankBounds(aucs, "__a", "__b")))
      .select(col("n_units"), col("n_pos"), col("n_neg"), col("auc"),
        col("lo95"), col("hi95"), col("n_replicates"))
  }

  /** DeLONG paired AUC comparison (DeLong, DeLong & Clarke-Pearson
    * 1988) — "does score A rank the SAME units better than score B,
    * beyond noise": the standard nonparametric test for comparing two
    * classifiers on one test set, which a bootstrap-CI overlap check
    * ([[aucBootstrapCI]]) systematically gets wrong because the two
    * AUCs are CORRELATED through the shared units — DeLong estimates
    * that covariance explicitly from per-unit placement values.
    *
    * Exact arithmetic: a positive unit's placement under a score is
    * V10 = (negBelow + ½·negAt)/n⁻ — kept as the DOUBLED integer
    * numerator 2·negBelow + negAt (the Mann–Whitney identity per
    * unit), joined from the score's count grid (grid-bounded windows,
    * then one equi-join back to units); all five moments (ΣVA, ΣVB,
    * ΣVA², ΣVB², ΣVA·VB, per class) are exact DECIMAL(38,0) sums of
    * doubled units, so partitioning never reorders anything; the
    * variance/covariance closed forms and
    * z = (AUC_A − AUC_B)/√(var_A + var_B − 2·cov) run in IEEE doubles
    * in one fixed operand order. z is NULL when either class is
    * empty, a class has a single unit (sample variance undefined), or
    * the variance of the difference is ≤ 0 (identical rankings —
    * nothing to test). Discrete-score contract on BOTH scores, same
    * measured guard. Scale shape: two grid builds, two equi-joins
    * back to units, ONE combiner agg per class, constant tail.
    * NULL scores are a LOUD error (the placement equi-join would
    * silently drop them, making auc_a/auc_b disagree with [[rocAuc]]
    * on the same column — filter or impute first).
    * Output one row: (n_pos, n_neg, auc_a, auc_b, z). */
  def deLongTest(units: DataFrame, scoreA: Column, scoreB: Column,
      label: Column, maxGridValues: Long = 10000000L): DataFrame = {
    val N = DecimalType(38, 0)
    import org.apache.spark.sql.expressions.Window
    // NULL check lives INSIDE the used expression (pruning-proof)
    def nn(c: Column, name: String): Column =
      when(c.isNotNull, c).otherwise(raise_error(lit(
        s"deLongTest: NULL $name — a NULL score has no placement " +
          "and would silently vanish from the moments; filter or " +
          "impute first")))
    val base = units.select(nn(scoreA, "scoreA").as("__va"),
        nn(scoreB, "scoreB").as("__vb"), label.as("__y"))
      .localCheckpoint(true) // feeds both grids AND both placement joins
    // placement numerators per score grid: for a positive at v,
    // 2·negBelow(v) + negAt(v); for a negative at v, the mirror
    // 2·posAbove(v) + posAt(v) (placements against the other class)
    def placements(score: String): DataFrame = {
      val grid = base.groupBy(col(score).as("__v")).agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__neg"))
      // lazy-grid measured guard — the rocAucFromCounts r15 discipline
      // (grid recomputes from the checkpointed base, never the corpus)
      val nGrid = grid.count()
      require(nGrid <= maxGridValues,
        s"deLongTest: $nGrid distinct values of $score exceeds " +
          s"maxGridValues=$maxGridValues — quantize the score first")
      val wAsc = Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wDesc = Window.orderBy(col("__v").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      grid
        .withColumn("__nb", coalesce(sum(col("__neg")).over(wAsc),
          lit(0L)))
        .withColumn("__pa", coalesce(sum(col("__pos")).over(wDesc),
          lit(0L)))
        .select(col("__v"),
          (lit(2L) * col("__nb") + col("__neg")).as("__v10x2"),
          (lit(2L) * col("__pa") + col("__pos")).as("__v01x2"))
    }
    val pa = placements("__va")
      .withColumnRenamed("__v10x2", "__a10")
      .withColumnRenamed("__v01x2", "__a01")
    val pb = placements("__vb")
      .withColumnRenamed("__v10x2", "__b10")
      .withColumnRenamed("__v01x2", "__b01")
    val placed = base
      .join(pa, base("__va") === pa("__v")).drop("__v")
      .join(pb, base("__vb") === pb("__v")).drop("__v")
    // per-class exact moment fold of the doubled placements
    val m = placed.agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("__m"),
      sum(when(!col("__y"), 1L).otherwise(0L)).as("__n"),
      sum(when(col("__y"), col("__a10")).otherwise(0L)).cast(N)
        .as("__sa10"),
      sum(when(col("__y"), col("__b10")).otherwise(0L)).cast(N)
        .as("__sb10"),
      sum(when(col("__y"), col("__a10").cast(N) * col("__a10").cast(N))
        .otherwise(lit(0).cast(N))).as("__saa10"),
      sum(when(col("__y"), col("__b10").cast(N) * col("__b10").cast(N))
        .otherwise(lit(0).cast(N))).as("__sbb10"),
      sum(when(col("__y"), col("__a10").cast(N) * col("__b10").cast(N))
        .otherwise(lit(0).cast(N))).as("__sab10"),
      sum(when(!col("__y"), col("__a01")).otherwise(0L)).cast(N)
        .as("__sa01"),
      sum(when(!col("__y"), col("__b01")).otherwise(0L)).cast(N)
        .as("__sb01"),
      sum(when(!col("__y"), col("__a01").cast(N) * col("__a01").cast(N))
        .otherwise(lit(0).cast(N))).as("__saa01"),
      sum(when(!col("__y"), col("__b01").cast(N) * col("__b01").cast(N))
        .otherwise(lit(0).cast(N))).as("__sbb01"),
      sum(when(!col("__y"), col("__a01").cast(N) * col("__b01").cast(N))
        .otherwise(lit(0).cast(N))).as("__sab01"))
    // doubled-unit normalization: placements are x/(2n) of the sums
    // above; AUC = mean placement; sample (co)variances of the
    // placement means with the 1/(k−1) correction — one double chain
    val md = col("__m").cast("double"); val nd = col("__n").cast("double")
    def meanP(s: Column, denom: Column, k: Column): Column =
      s.cast("double") / (lit(2.0) * denom.cast("double") *
        k.cast("double"))
    // cov(X,Y) over doubled units: (Σxy − Σx·Σy/k) / ((k−1)·(2n)²)
    def covP(sxy: Column, sx: Column, sy: Column, k: Column,
        denom: Column): Column =
      (sxy.cast("double") -
        sx.cast("double") * sy.cast("double") / k.cast("double")) /
        ((k.cast("double") - lit(1.0)) *
          (lit(2.0) * denom.cast("double")) *
          (lit(2.0) * denom.cast("double")))
    val aucA = meanP(col("__sa10"), col("__n"), col("__m"))
    val aucB = meanP(col("__sb10"), col("__n"), col("__m"))
    val s10aa = covP(col("__saa10"), col("__sa10"), col("__sa10"),
      col("__m"), col("__n"))
    val s10bb = covP(col("__sbb10"), col("__sb10"), col("__sb10"),
      col("__m"), col("__n"))
    val s10ab = covP(col("__sab10"), col("__sa10"), col("__sb10"),
      col("__m"), col("__n"))
    val s01aa = covP(col("__saa01"), col("__sa01"), col("__sa01"),
      col("__n"), col("__m"))
    val s01bb = covP(col("__sbb01"), col("__sb01"), col("__sb01"),
      col("__n"), col("__m"))
    val s01ab = covP(col("__sab01"), col("__sa01"), col("__sb01"),
      col("__n"), col("__m"))
    val varDiff = (s10aa + s10bb - lit(2.0) * s10ab) / md +
      (s01aa + s01bb - lit(2.0) * s01ab) / nd
    m.select(col("__m").as("n_pos"), col("__n").as("n_neg"),
      when(col("__m") > 0 && col("__n") > 0, aucA).as("auc_a"),
      when(col("__m") > 0 && col("__n") > 0, aucB).as("auc_b"),
      when(col("__m") >= 2 && col("__n") >= 2 && varDiff > 0.0,
        (aucA - aucB) / sqrt(varDiff)).as("z"))
  }

  /** BOOTSTRAP confidence interval for AVERAGE PRECISION — the
    * [[aucBootstrapCI]] machinery pointed at the PR-space number
    * ([[averagePrecision]]): same derandomized Poisson(1) unit
    * weights, same additive fold into B grid copies, per-replicate
    * step-AP on b-partitioned descending suffix windows
    * (per-term quantized to DECIMAL(28,12), the pooled form's
    * discipline), exact ceil-rank bounds. Replicates with no
    * positives drop (n_replicates reports survivors; zero survivors
    * still returns the one documented row, bounds NULL). Output one
    * row: (n_units, n_pos, n_neg, ap, lo95, hi95, n_replicates). */
  def apBootstrapCI(units: DataFrame, unitId: Column, score: Column,
      label: Column, b: Int = 200, maxGridValues: Long = 10000000L)
      : DataFrame = {
    require(b >= 40 && b <= 10000, s"apBootstrapCI: b=$b outside " +
      "[40,10000]")
    import org.apache.spark.sql.expressions.Window
    val L = DecimalType(28, 12)
    val base = units.select(unitId.as("__u"), score.as("__v"),
        label.as("__y"))
      .localCheckpoint(true) // feeds the point estimate AND ×B explode
    val point = averagePrecisionFromCounts(base.groupBy("__v", "__y")
      .agg(count(lit(1)).as("c"))
      .select(col("__v").as("v"), col("__y").as("y"), col("c")),
      maxGridValues)
    val nUnits = broadcast(base.agg(count(lit(1)).as("n_units")))
    val grid = base
      .withColumn("__b", explode(sequence(lit(0L), lit(b - 1L))))
      .withColumn("__w", poissonWeight(col("__u"), col("__b")))
      .groupBy("__b", "__v").agg(
        sum(when(col("__y"), col("__w")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__w")).otherwise(0L)).as("__neg"))
      .where(col("__pos") > 0 || col("__neg") > 0)
    val wDesc = Window.partitionBy("__b").orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val aps = grid
      .withColumn("__tp", sum(col("__pos")).over(wDesc))
      .withColumn("__fp", sum(col("__neg")).over(wDesc))
      .withColumn("__term",
        when(col("__pos") > 0,
          (col("__pos").cast("double") * col("__tp").cast("double") /
            (col("__tp") + col("__fp")).cast("double")).cast(L))
          .otherwise(lit(0).cast(L)))
      .groupBy("__b")
      .agg(sum(col("__pos")).as("__np"), sum(col("__term")).as("__ts"))
      .where(col("__np") > 0)
      .select(col("__b"),
        (col("__ts").cast("double") / col("__np").cast("double"))
          .as("__a"))
    point.crossJoin(nUnits)
      .crossJoin(broadcast(ceilRankBounds(aps, "__a", "__b")))
      .select(col("n_units"), col("n_pos"), col("n_neg"), col("ap"),
        col("lo95"), col("hi95"), col("n_replicates"))
  }

  /** FLEISS' KAPPA multi-rater agreement (Fleiss 1971) — [[cohenKappa]]
    * generalized past two raters: m gates/models/annotators each
    * assign every unit a category, and κ reads how far the observed
    * per-unit agreement exceeds chance. The check before averaging m
    * quality gates into one vote: high κ means the gates are
    * redundant, low κ means the ensemble carries real signal (or real
    * noise). Input: ONE ROW PER RATING (unit, category) — m rows per
    * unit; the rater count must be CONSTANT across units (Fleiss'
    * formula assumes it; enforced by a measured require, the loud
    * contract).
    *
    * Exact arithmetic on the (unit, category) count grid: with
    * T = N·n total ratings, S2 = Σ_ij n_ij², E2 = Σ_j (Σ_i n_ij)²,
    * κ = ((S2 − T)·T − E2·(n−1)) / ((n−1)·(T² − E2)) — both sides
    * exact DECIMAL(38,0), ONE double division. NULL when T² = E2
    * (every rating in one category — chance explains everything) or
    * n < 2. Scale: one (unit, category) combiner grid (m-bounded per
    * unit), one square fold, one category-marginal fold. Output one
    * row: (n_units, n_raters, p_bar, p_e, kappa). */
  def fleissKappa(units: DataFrame, unitCol: Column, category: Column)
      : DataFrame = {
    val N = DecimalType(38, 0)
    // r15 (ADVICE): no checkpoints — the grid is a combiner agg over
    // the ratings input and recomputes for each of its three bounded
    // consumers (rater-count check, square fold, category marginals)
    // instead of pinning a MEMORY_AND_DISK RDD per call for the
    // application lifetime; ratings ledgers are unit×category bounded
    val grid = units.select(unitCol.as("__u"), category.as("__cat"))
      .where(col("__u").isNotNull && col("__cat").isNotNull)
      .groupBy("__u", "__cat").agg(count(lit(1)).as("__c"))
    val perUnit = grid.groupBy("__u").agg(sum(col("__c")).as("__n"))
    val raterCounts = perUnit.select(col("__n")).distinct().collect()
    require(raterCounts.nonEmpty,
      "fleissKappa: no ratings (empty input, or every unit/category " +
        "NULL) — nothing to agree on")
    require(raterCounts.length == 1,
      s"fleissKappa: per-unit rating counts differ " +
        s"(${raterCounts.map(_.getLong(0)).sorted.mkString(", ")}) — " +
        "Fleiss' formula assumes a constant rater count per unit")
    val n = raterCounts.head.getLong(0)
    require(n >= 2, s"fleissKappa: $n rating(s) per unit — agreement " +
      "needs at least two raters")
    val s2 = grid.agg(sum(col("__c").cast(N) * col("__c").cast(N))
      .as("__s2"), sum(col("__c")).as("__t"),
      count_distinct(col("__u")).as("n_units"))
    val e2 = grid.groupBy("__cat").agg(sum(col("__c")).as("__cj"))
      .agg(sum(col("__cj").cast(N) * col("__cj").cast(N)).as("__e2"))
    s2.crossJoin(broadcast(e2))
      .select(col("n_units"), lit(n).as("n_raters"),
        ((col("__s2") - col("__t").cast(N)).cast("double") /
          (col("__t").cast("double") * lit((n - 1).toDouble)))
          .as("p_bar"),
        (col("__e2").cast("double") /
          (col("__t").cast(N) * col("__t").cast(N)).cast("double"))
          .as("p_e"),
        when(col("__t").cast(N) * col("__t").cast(N) =!= col("__e2"),
          ((col("__s2") - col("__t").cast(N)) * col("__t").cast(N) -
            col("__e2") * lit(n - 1).cast(N)).cast("double") /
            ((col("__t").cast(N) * col("__t").cast(N) - col("__e2")) *
              lit(n - 1).cast(N)).cast("double")).as("kappa"))
  }

  /** WEIGHTED COHEN'S KAPPA (Cohen 1968) — [[cohenKappa]] for ORDINAL
    * raters: disagreeing by one quality bucket is not the same error
    * as disagreeing by nine, so cell (i, j) is penalized by an
    * integer weight — |i−j| (linear) or (i−j)² (quadratic, the
    * default: the ICC-like reading). κ_w = 1 − N·Σw·o / Σ_ij w_ij·r_i·c_j
    * with o the observed grid and r/c the marginals — the expected
    * side needs the FULL |categories|² marginal product grid, bounded
    * by construction. Raters must be integral buckets (the ordinal
    * contract — weights are exact integers, so both sums are exact
    * DECIMAL(38,0); ONE double division). The integral contract is
    * LOUD (the calibration raise_error discipline): a rater value
    * the long cast would change — 1.9, or a non-numeric string —
    * raises at execution instead of silently truncating into a
    * plausible-but-wrong kappa. NULL when the expected weighted
    * disagreement is zero (both raters constant — nothing to correct
    * for). Rows where either rater is NULL are excluded.
    * Output: (n, kappa_w). */
  def weightedKappa(units: DataFrame, raterA: Column, raterB: Column,
      quadratic: Boolean = true): DataFrame = {
    // cast-checked ordinal: NULL passes through (documented
    // exclusion); anything the cast would ALTER fails loudly, inside
    // the used expression so pruning can't drop the check
    def ord(c: Column, side: String): Column =
      when(c.isNull, lit(null).cast("long"))
        .when(c.cast("long").isNotNull &&
          c.cast("long").cast("double") === c.cast("double"),
          c.cast("long"))
        .otherwise(raise_error(concat(
          lit(s"weightedKappa: $side rater value is not an integral " +
            "bucket (the ordinal contract): "),
          c.cast("string"))).cast("long"))
    weightedKappaFromCounts(units
      .select(ord(raterA, "left").as("a"), ord(raterB, "right").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c")), quadratic)
  }

  /** [[weightedKappa]] over PRE-AGGREGATED (a, b, c) cells — rides
    * the SAME (a, b) ledger as [[cohenKappaFromCounts]]
    * ([[graft.streaming.Streams.sumView]] of a (a, b) ledger). */
  def weightedKappaFromCounts(cells: DataFrame,
      quadratic: Boolean = true): DataFrame = {
    val N = DecimalType(38, 0)
    def w(i: Column, j: Column): Column = {
      val diff = abs(i.cast("long") - j.cast("long"))
      (if (quadratic) diff * diff else diff).cast(N)
    }
    // r15 (ADVICE): the streaming-ledger entry point now enforces the
    // same cast-checked ordinal contract as the units form — a cell
    // key the long cast would ALTER (1.9, a non-numeric string) raises
    // loudly inside the used expression instead of truncating into a
    // plausible-but-wrong kappa. NULL keys pass through to the
    // documented exclusion filter.
    def ordCell(c: Column, side: String): Column =
      when(c.isNull, lit(null).cast("long"))
        .when(c.cast("long").isNotNull &&
          c.cast("long").cast("double") === c.cast("double"),
          c.cast("long"))
        .otherwise(raise_error(concat(
          lit(s"weightedKappaFromCounts: $side cell key is not an " +
            "integral ordinal bucket: "), c.cast("string")))
          .cast("long"))
    val grid = cells
      .select(ordCell(col("a"), "a").as("__a"),
        ordCell(col("b"), "b").as("__b"), col("c").as("__c"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .localCheckpoint(true) // feeds the observed fold AND both marginals
    val obs = grid.agg(sum(col("__c")).as("n"),
      coalesce(sum(w(col("__a"), col("__b")) * col("__c").cast(N)),
        lit(0).cast(N)).as("__wo"))
    val rowM = grid.groupBy("__a").agg(sum(col("__c")).as("__ra"))
    val colM = grid.groupBy("__b").agg(sum(col("__c")).as("__cb"))
    // the |cats|² expected grid: every (row-marginal, col-marginal)
    // pair — category-bounded by construction, never unit-sized
    val exp = rowM.crossJoin(colM)
      .agg(coalesce(sum(w(col("__a"), col("__b")) *
        col("__ra").cast(N) * col("__cb").cast(N)), lit(0).cast(N))
        .as("__we"))
    obs.crossJoin(broadcast(exp))
      .select(col("n"),
        when(col("__we") > 0,
          lit(1.0) - (col("n").cast(N) * col("__wo")).cast("double") /
            col("__we").cast("double")).as("kappa_w"))
  }

  /** [[thresholdSweep]] PER GROUP — every source's own operating
    * table: suffix sums on windows PARTITIONED by group, per-group
    * totals joined back (group-keyed equi-join, never a broadcast of
    * a group-sized frame). The input to [[bestCutByGroup]] — the
    * per-source operating point x250's audit motivates (when a proxy
    * is mis-calibrated differently per source, ONE global cut is the
    * wrong ship decision). Same discrete-score contract, pooled-cell
    * guard. Output: (group, threshold, tp, fp, fn, tn, precision,
    * recall, f1, fpr). */
  def thresholdSweepByGroup(units: DataFrame, group: Column,
      score: Column, label: Column, maxGridValues: Long = 10000000L)
      : DataFrame =
    thresholdSweepByGroupFromCounts(units
      .select(group.as("g"), score.as("v"), label.as("y"))
      .groupBy("g", "v", "y").agg(count(lit(1)).as("c")), maxGridValues)

  /** [[thresholdSweepByGroup]] over PRE-AGGREGATED (g, v, y, c)
    * counts — the (g, v, y) grouped-ledger form
    * ([[graft.streaming.Streams.sumView]] of a (g, v, y) ledger). */
  def thresholdSweepByGroupFromCounts(counts: DataFrame,
      maxGridValues: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = counts.select(col("g"), col("v").as("threshold"),
        col("y").as("__y"), col("c").as("__c"))
      .groupBy("g", "threshold").agg(
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__pos"),
        sum(when(!col("__y"), col("__c")).otherwise(0L)).as("__neg"))
    // lazy-grid measured guard — the rocAucFromCounts r15 discipline
    val nCells = grid.count()
    require(nCells <= maxGridValues,
      s"thresholdSweepByGroup: $nCells pooled (group, score) cells " +
        s"exceeds maxGridValues=$maxGridValues — the score must be " +
        "discrete (quantize a raw double first)")
    val wDesc = Window.partitionBy("g").orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // r15: per-group totals as FULL-FRAME sums on the same partitioned
    // window — one WindowExec, no separate groupBy + equi-join back
    // (the thresholdSweepFromCounts discipline, partitioned by g)
    val wAll = Window.partitionBy("g").orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("tp", sum(col("__pos")).over(wDesc))
      .withColumn("fp", sum(col("__neg")).over(wDesc))
      .withColumn("__np", sum(col("__pos")).over(wAll))
      .withColumn("__nn", sum(col("__neg")).over(wAll))
      .select(col("g").as("group"), col("threshold"), col("tp"),
        col("fp"),
        (col("__np") - col("tp")).as("fn"),
        (col("__nn") - col("fp")).as("tn"),
        when(col("tp") + col("fp") > 0, col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")).as("precision"),
        when(col("__np") > 0,
          col("tp").cast("double") / col("__np").cast("double"))
          .as("recall"),
        when(col("tp") + col("fp") + col("__np") > 0,
          lit(2.0) * col("tp").cast("double") /
            (col("tp") + col("fp") + col("__np")).cast("double"))
          .as("f1"),
        when(col("__nn") > 0,
          col("fp").cast("double") / col("__nn").cast("double"))
          .as("fpr"))
  }

  /** The per-group OPTIMAL OPERATING POINT under explicit unit costs
    * — the ship decision [[thresholdSweepByGroup]] feeds: for every
    * group, the cut maximizing the exact integer utility
    * U = wTp·tp − wFp·fp − wFn·fn (the [[decisionCurve]] economics),
    * ties broken deterministically toward the LOWEST threshold (keep
    * more at equal utility). One rank-1 window per group over the
    * grid-bounded sweep — the plan is a WindowGroupLimit-style
    * per-group top-1, never a global sort. Output one row per group:
    * (group, threshold, tp, fp, fn, tn, utility). */
  def bestCutByGroup(units: DataFrame, group: Column, score: Column,
      label: Column, wTp: Long, wFp: Long, wFn: Long,
      maxGridValues: Long = 10000000L): DataFrame = {
    val N = DecimalType(38, 0)
    require(wTp >= 0L && wTp <= 1000000L && wFp >= 0L &&
      wFp <= 1000000L && wFn >= 0L && wFn <= 1000000L,
      s"bestCutByGroup: costs (wTp=$wTp, wFp=$wFp, wFn=$wFn) outside " +
        "[0, 1e6] — the integer-exactness bound")
    val sweep = thresholdSweepByGroup(units, group, score, label,
        maxGridValues)
      .withColumn("utility",
        (lit(wTp).cast(N) * col("tp").cast(N) -
          lit(wFp).cast(N) * col("fp").cast(N) -
          lit(wFn).cast(N) * col("fn").cast(N)).cast("long"))
    Upsert.firstPerKey(sweep, Seq(col("group")),
        Seq(col("utility").desc, col("threshold").asc))
      .select(col("group"), col("threshold"), col("tp"), col("fp"),
        col("fn"), col("tn"), col("utility"))
  }

  /** CALIBRATION (reliability) bins for a ppm-quantized probability
    * against a binary outcome — "when the score says 70%, does it
    * happen 70% of the time": equal-width bins over [0, 1e6] ppm
    * (bin = min(bins−1, p·bins div 1e6), pure integer arithmetic —
    * the probability arrives ALREADY quantized to ppm, the engine's
    * probability convention, so binning is exact), per bin the count,
    * exact mean predicted probability (Σppm/n, one division), and the
    * observed rate. The per-bin |rate − mean_p| gaps fold to ECE with
    * [[expectedCalibrationError]]. Empty bins are absent (no
    * prediction mass — nothing to calibrate; ECE weights by n, so
    * absence is correct, unlike the chi-square zero-cell case). The
    * [0, 1e6] ppm range is a LOUD contract: an out-of-range value
    * raises at execution (raise_error inside the bin expression)
    * rather than binning into a nonsensical negative bin.
    * Scale: one combiner agg on a ≤`bins` grid.
    * Output: (bin, p_lo_ppm, n, mean_p, rate, gap). */
  def calibrationBins(units: DataFrame, probPpm: Column, label: Column,
      bins: Int = 10): DataFrame =
    calibrationBinsFromCounts(units
      .select(probPpm.cast("long").as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), bins)

  /** [[calibrationBins]] over PRE-AGGREGATED (v, y, c) counts with
    * v the ppm probability — the streaming-ledger form
    * ([[graft.streaming.Streams.sumView]] of a (v, y) ledger). */
  def calibrationBinsFromCounts(counts: DataFrame, bins: Int = 10)
      : DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"calibrationBins: bins=$bins outside [2,1000]")
    // exact integer floor-division (the Export trunc discipline: the
    // subtraction makes the dividend an exact multiple, so the double
    // division is exact — ppm·bins ≤ 1e9 is far inside 2^53)
    def floorDiv(a: Column, d: Long): Column =
      ((a - pmod(a, lit(d))) / lit(d)).cast("long")
    val pb = col("__p") * lit(bins.toLong)
    // loud range contract: a ppm probability lives in [0, 1e6] — a
    // negative or >1e6 value would otherwise bin silently (negative
    // bin ids with nonsensical p_lo_ppm); raise_error sits INSIDE the
    // bin expression so column pruning cannot drop the check
    val binChecked = when(col("__p").between(0L, 1000000L),
      least(lit(bins - 1L), floorDiv(pb, 1000000L)))
      .otherwise(raise_error(concat(
        lit("calibrationBins: ppm probability out of [0, 1e6]: "),
        col("__p").cast("string"))).cast("long"))
    counts.select(col("v").cast("long").as("__p"), col("y").as("__y"),
        col("c").as("__c"))
      .withColumn("bin", binChecked)
      .groupBy("bin").agg(sum(col("__c")).as("n"),
        sum(col("__p") * col("__c")).as("__sp"),
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__ny"))
      .select(col("bin"),
        floorDiv(col("bin") * lit(1000000L), bins.toLong).as("p_lo_ppm"),
        col("n"),
        (col("__sp").cast("double") / col("n").cast("double") /
          lit(1e6)).as("mean_p"),
        (col("__ny").cast("double") / col("n").cast("double")).as("rate"),
        (col("__ny").cast("double") / col("n").cast("double") -
          col("__sp").cast("double") / col("n").cast("double") / lit(1e6))
          .as("gap"))
  }

  /** [[calibrationBins]] PER GROUP — "is the probability calibrated
    * in EVERY source/language, or only on average" (the x244
    * Simpson-lesson applied to probability quality: a score can be
    * well-calibrated pooled while over-confident in one slice and
    * under-confident in another, the two cancelling). Same exact
    * integer ppm binning, same loud [0, 1e6] range contract; the bin
    * agg is keyed (group, bin) — |groups|·bins rows, category-bounded.
    * Output: (group, bin, p_lo_ppm, n, mean_p, rate, gap). */
  def calibrationBinsByGroup(units: DataFrame, group: Column,
      probPpm: Column, label: Column, bins: Int = 10): DataFrame =
    calibrationBinsByGroupFromCounts(units
      .select(group.as("g"), probPpm.cast("long").as("v"), label.as("y"))
      .groupBy("g", "v", "y").agg(count(lit(1)).as("c")), bins)

  /** [[calibrationBinsByGroup]] over PRE-AGGREGATED (g, v, y, c)
    * counts — the streaming-ledger form: the same (g, v, y) additive
    * ledger that serves [[rocAucByGroupFromCounts]] folds to
    * per-group reliability bins
    * ([[graft.streaming.Streams.sumView]] of a (g, v, y) ledger). */
  def calibrationBinsByGroupFromCounts(counts: DataFrame,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"calibrationBinsByGroup: bins=$bins outside [2,1000]")
    def floorDiv(a: Column, d: Long): Column =
      ((a - pmod(a, lit(d))) / lit(d)).cast("long")
    val pb = col("__p") * lit(bins.toLong)
    // the calibrationBins loud range contract, inside the expression
    val binChecked = when(col("__p").between(0L, 1000000L),
      least(lit(bins - 1L), floorDiv(pb, 1000000L)))
      .otherwise(raise_error(concat(
        lit("calibrationBinsByGroup: ppm probability out of [0, 1e6]: "),
        col("__p").cast("string"))).cast("long"))
    counts.select(col("g"), col("v").cast("long").as("__p"),
        col("y").as("__y"), col("c").as("__c"))
      .withColumn("bin", binChecked)
      .groupBy("g", "bin").agg(sum(col("__c")).as("n"),
        sum(col("__p") * col("__c")).as("__sp"),
        sum(when(col("__y"), col("__c")).otherwise(0L)).as("__ny"))
      .select(col("g").as("group"), col("bin"),
        floorDiv(col("bin") * lit(1000000L), bins.toLong).as("p_lo_ppm"),
        col("n"),
        (col("__sp").cast("double") / col("n").cast("double") /
          lit(1e6)).as("mean_p"),
        (col("__ny").cast("double") / col("n").cast("double")).as("rate"),
        (col("__ny").cast("double") / col("n").cast("double") -
          col("__sp").cast("double") / col("n").cast("double") / lit(1e6))
          .as("gap"))
  }

  /** BRIER SCORE of a ppm-quantized probability against a binary
    * outcome (Brier 1950) — the strictly-proper companion to
    * [[calibrationBins]]: mean squared error of the probability,
    * penalizing BOTH miscalibration and lack of resolution, plus the
    * skill score against the climatology reference bs_ref = ȳ(1−ȳ)
    * (skill > 0 ⇔ the score beats always-predicting-the-base-rate).
    * Exact integers: Σ(p − y·10⁶)² in DECIMAL(38,0) (p ≤ 10⁶ squared
    * = 10¹² per row — 10²¹ headroom at a billion rows), ȳ terms from
    * exact counts; two double divisions at the boundary. skill NULL
    * when the outcome is constant (bs_ref = 0 — nothing to beat).
    * One combiner agg, one row out: (n, brier, brier_ref, skill). */
  def brierScore(units: DataFrame, probPpm: Column, label: Column)
      : DataFrame = {
    val N = DecimalType(38, 0)
    val e = probPpm.cast("long") -
      when(label, 1000000L).otherwise(0L)
    units.agg(count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("__ny"),
        sum(e.cast(N) * e.cast(N)).as("__se"))
      .select(col("n"),
        (col("__se").cast("double") /
          (col("n").cast("double") * lit(1e12))).as("brier"),
        (col("__ny").cast("double") / col("n").cast("double") *
          (lit(1.0) - col("__ny").cast("double") / col("n").cast("double")))
          .as("brier_ref"),
        when(col("__ny") > 0 && col("__ny") < col("n"),
          lit(1.0) - (col("__se").cast("double") /
            (col("n").cast("double") * lit(1e12))) /
            (col("__ny").cast("double") / col("n").cast("double") *
              (lit(1.0) -
                col("__ny").cast("double") / col("n").cast("double"))))
          .as("skill"))
  }

  /** [[brierScore]] PER GROUP — the probability-quality audit per
    * source/language: each group's Brier, climatology reference and
    * skill from the same exact-integer arithmetic (Σ(p − y·10⁶)² in
    * DECIMAL(38,0) per group, two double divisions at the boundary).
    * skill NULL where a group's outcome is constant. One combiner
    * agg keyed by group; output: (group, n, brier, brier_ref,
    * skill). */
  def brierByGroup(units: DataFrame, group: Column, probPpm: Column,
      label: Column): DataFrame = {
    val N = DecimalType(38, 0)
    val e = probPpm.cast("long") -
      when(label, 1000000L).otherwise(0L)
    units.groupBy(group.as("group")).agg(count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("__ny"),
        sum(e.cast(N) * e.cast(N)).as("__se"))
      .select(col("group"), col("n"),
        (col("__se").cast("double") /
          (col("n").cast("double") * lit(1e12))).as("brier"),
        (col("__ny").cast("double") / col("n").cast("double") *
          (lit(1.0) - col("__ny").cast("double") / col("n").cast("double")))
          .as("brier_ref"),
        when(col("__ny") > 0 && col("__ny") < col("n"),
          lit(1.0) - (col("__se").cast("double") /
            (col("n").cast("double") * lit(1e12))) /
            (col("__ny").cast("double") / col("n").cast("double") *
              (lit(1.0) -
                col("__ny").cast("double") / col("n").cast("double"))))
          .as("skill"))
  }

  /** DECISION-CURVE / utility sweep — the operating-point CHOOSER the
    * [[thresholdSweep]] table feeds: with integer unit costs (what a
    * kept true positive earns, what a kept false positive and a
    * dropped false negative cost), the exact net utility of gating
    * at every distinct score cut, one grid query:
    * U(t) = wTp·tp(t) − wFp·fp(t) − wFn·fn(t). Costs are bounded to
    * [0, 1e6] loudly so the products stay exactly representable
    * (w·count ≤ 1e6·10¹² — inside DECIMAL(38,0) with 20 digits of
    * headroom; the boundary cast to long is ANSI-loud on overflow).
    * The argmax row IS the recommended cut — but the whole curve
    * ships, because cost assumptions get revisited and the table is
    * |grid|-bounded anyway. Same discrete-score contract and
    * measured guard as [[thresholdSweep]]. Output per threshold:
    * (threshold, tp, fp, fn, tn, utility). */
  def decisionCurve(units: DataFrame, score: Column, label: Column,
      wTp: Long, wFp: Long, wFn: Long,
      maxGridValues: Long = 10000000L): DataFrame =
    decisionCurveFromCounts(units.select(score.as("v"), label.as("y"))
      .groupBy("v", "y").agg(count(lit(1)).as("c")), wTp, wFp, wFn,
      maxGridValues)

  /** [[decisionCurve]] over PRE-AGGREGATED (v, y, c) counts — the
    * streaming-ledger form: the SAME (v, y) ledger as
    * rocAuc/thresholdSweep/AP, so the live operating-point chooser
    * is bit-equal to batch over everything ingested. */
  def decisionCurveFromCounts(counts: DataFrame, wTp: Long, wFp: Long,
      wFn: Long, maxGridValues: Long = 10000000L): DataFrame = {
    val N = DecimalType(38, 0)
    require(wTp >= 0L && wTp <= 1000000L && wFp >= 0L &&
      wFp <= 1000000L && wFn >= 0L && wFn <= 1000000L,
      s"decisionCurve: costs (wTp=$wTp, wFp=$wFp, wFn=$wFn) outside " +
        "[0, 1e6] — the integer-exactness bound")
    thresholdSweepFromCounts(counts, maxGridValues)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        (lit(wTp).cast(N) * col("tp").cast(N) -
          lit(wFp).cast(N) * col("fp").cast(N) -
          lit(wFn).cast(N) * col("fn").cast(N)).cast("long")
          .as("utility"))
  }

  /** KENDALL'S TAU-B rank correlation with the full tie correction
    * (Kendall 1945) — the concordance companion to Spearman (x187):
    * are two ordinal signals monotonically related, counted over
    * PAIRS (robust to any monotone rescaling of either axis). On the
    * JOINT count grid: C − D = Σ_{x₁<x₂} c₁·c₂·sign(y₂ − y₁) (each
    * unordered observation pair once), tie terms from the marginal
    * grids, all in exact DOUBLED pair units (n(n−1), Σt(t−1) — no
    * halving until the final double chain):
    * τ_b = 2S / √((n(n−1) − Σtₓ(tₓ−1))·(n(n−1) − Σt_y(t_y−1))).
    * NULL when either axis is constant.
    *
    * CONTRACT: both axes must be DISCRETE grids (the [[mannWhitneyU]]
    * lesson) — the pairwise stage is |grid|² comparisons, fine for
    * quantized scores/buckets/categories and enforced loudly via
    * `maxGridCells` (a measured count off the checkpointed grid, the
    * quantileNormalize guard). Scale: one (x, y) combiner agg, the
    * grid self-join (grid-bounded, distributed), two marginal folds.
    * Output: (n, s_stat, tau_b). */
  def kendallTauB(units: DataFrame, x: Column, y: Column,
      maxGridCells: Long = 20000L): DataFrame = {
    val N = DecimalType(38, 0)
    val grid = units.select(x.as("__x"), y.as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // feeds the pair join twice + 3 marginals
    val cells = grid.count()
    require(cells <= maxGridCells,
      s"kendallTauB: $cells distinct (x, y) cells exceeds " +
        s"maxGridCells=$maxGridCells — quantize the axes first (the " +
        "pairwise stage is |grid|² comparisons)")
    val a = grid.select(col("__x").as("__xa"), col("__y").as("__ya"),
      col("__c").as("__ca"))
    val b = grid.select(col("__x").as("__xb"), col("__y").as("__yb"),
      col("__c").as("__cb"))
    val s = a.join(b, col("__xa") < col("__xb"))
      .agg(coalesce(sum(col("__ca").cast(N) * col("__cb").cast(N) *
        when(col("__yb") > col("__ya"), 1L)
          .when(col("__yb") < col("__ya"), -1L).otherwise(0L).cast(N)),
        lit(0).cast(N)).as("__s"))
    def tiePairs2(marg: DataFrame): DataFrame = marg.agg(
      coalesce(sum(col("__t").cast(N) * (col("__t") - 1).cast(N)),
        lit(0).cast(N)).as("__tp2"))
    val tx = tiePairs2(grid.groupBy("__x").agg(sum(col("__c")).as("__t")))
      .withColumnRenamed("__tp2", "__tx2")
    val ty = tiePairs2(grid.groupBy("__y").agg(sum(col("__c")).as("__t")))
      .withColumnRenamed("__tp2", "__ty2")
    val n = grid.agg(sum(col("__c")).as("n"))
    n.crossJoin(broadcast(s)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .withColumn("__n02", col("n").cast(N) * (col("n") - 1).cast(N))
      .select(col("n"), col("__s").cast("long").as("s_stat"),
        when(col("__n02") > col("__tx2") && col("__n02") > col("__ty2"),
          lit(2.0) * col("__s").cast("double") /
            sqrt((col("__n02") - col("__tx2")).cast("double") *
              (col("__n02") - col("__ty2")).cast("double")))
          .as("tau_b"))
  }

  /** Expected Calibration Error over a [[calibrationBins]] table:
    * ECE = Σ_b (n_b/N)·|gap_b| — the one-number companion, one
    * bin-grid agg. Output: (n, n_bins, ece). */
  def expectedCalibrationError(bins: DataFrame): DataFrame =
    bins.agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins"),
      (sum(abs(col("gap")) * col("n").cast("double")) /
        sum(col("n")).cast("double")).as("ece"))

  /** [[expectedCalibrationError]] PER GROUP over a
    * [[calibrationBinsByGroup]] table — one ECE number per source,
    * the scalar read of the per-source reliability audit (ECE per
    * slice is what decides WHERE recalibration effort goes). The
    * per-bin |gap|·n terms are quantized to DECIMAL(28,12) before
    * the fold (the jsdMatrix determinism idiom: each term is one
    * fixed-order double chain both engines round identically, and
    * quantized terms SUM exactly under any partitioning); ONE double
    * division per group. Output: (group, n, n_bins, ece). */
  def expectedCalibrationErrorByGroup(bins: DataFrame): DataFrame = {
    val L = DecimalType(28, 12)
    bins.groupBy("group").agg(sum(col("n")).as("n"),
      count(lit(1)).as("n_bins"),
      (sum((abs(col("gap")) * col("n").cast("double")).cast(L))
        .cast("double") /
        sum(col("n")).cast("double")).as("ece"))
  }

  /** COHEN'S KAPPA inter-rater agreement (Cohen 1960) — chance-
    * corrected agreement between two CATEGORICAL raters on the same
    * units (two quality gates, two language-ID models, human vs
    * model labels): κ = (p_o − p_e)/(1 − p_e) with p_e from the
    * marginal products — the number [[mcNemar]] deliberately is not
    * (McNemar asks "is the disagreement one-sided"; kappa asks "how
    * much better than chance do they agree"). Exact integers: with
    * N = Σ grid, agree = Σ diagonal, pe2 = Σ_k rowM_k·colM_k
    * (DECIMAL(38,0)), κ = (agree·N − pe2)/(N² − pe2) — ONE double
    * division; NULL when N² = pe2 (a rater is constant — chance
    * explains everything, kappa undefined). Rows where either rater
    * is NULL are excluded. Scale: one (a, b) combiner grid
    * (|categories|², bounded), two marginal folds, one row out:
    * (n, agree, po, pe, kappa). */
  def cohenKappa(units: DataFrame, raterA: Column, raterB: Column)
      : DataFrame =
    cohenKappaFromCounts(units.select(raterA.as("a"), raterB.as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c")))

  /** [[cohenKappa]] over PRE-AGGREGATED (a, b, c) cells — the
    * streaming-ledger form
    * ([[graft.streaming.Streams.sumView]] of a (a, b) ledger). */
  def cohenKappaFromCounts(cells: DataFrame): DataFrame = {
    val N = DecimalType(38, 0)
    val grid = cells
      .select(col("a").as("__a"), col("b").as("__b"), col("c").as("__c"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .localCheckpoint(true) // feeds both marginals AND the diagonal
    val rowM = grid.groupBy("__a").agg(sum(col("__c")).as("__ra"))
    val colM = grid.groupBy("__b").agg(sum(col("__c")).as("__cb"))
    val pe2 = rowM.join(colM, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__ra").cast(N) * col("__cb").cast(N)),
        lit(0L).cast(N)).as("__pe2"))
    val top = grid.agg(sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("agree"))
    top.crossJoin(broadcast(pe2))
      .select(col("n"), col("agree"),
        (col("agree").cast("double") / col("n").cast("double")).as("po"),
        (col("__pe2").cast("double") /
          (col("n").cast(N) * col("n").cast(N)).cast("double")).as("pe"),
        when(col("n").cast(N) * col("n").cast(N) =!= col("__pe2"),
          (col("agree").cast(N) * col("n").cast(N) - col("__pe2"))
            .cast("double") /
            (col("n").cast(N) * col("n").cast(N) - col("__pe2"))
              .cast("double")).as("kappa"))
  }

  def ksDrift(df: DataFrame, group: Column, value: Column): DataFrame =
    ksDriftFromCounts(df.select(group.as("g"), value.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c")))

  /** [[ksDrift]] over PRE-AGGREGATED (g, v, c) counts — the form a
    * streaming additive ledger folds to, so the KS alarm (like the TV
    * and centroid-drift alarms) has a streaming view that is
    * bit-equal to the batch operator over everything ingested. */
  def ksDriftFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(18, 0)
    val perGV = counts.select(col("g"), col("v"), col("c"))
    val perV = perGV.groupBy("v").agg(sum(col("c")).as("cc"))
    val ng = perGV.groupBy("g").agg(sum(col("c")).as("n"))
    val nAll = perGV.agg(sum(col("c")).as("n_all"))
    // full grid: every (group, corpus value), missing counts = 0
    val grid = ng.select(col("g"), col("n"))
      .crossJoin(perV)
      .join(perGV, Seq("g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wg = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    // max and argmax in ONE pass over the grid: the per-group max rides
    // along as a window column, and a single aggregate takes the
    // smallest v attaining it (ties → smallest v). A null group is
    // dropped (its rows still count in the corpus ECDF above).
    grid
      .withColumn("cum_g", sum(col("c")).over(wg))
      .withColumn("cum_c", sum(col("cc")).over(wg))
      .crossJoin(broadcast(nAll))
      .withColumn("__d",
        abs(col("cum_g").cast(N) * col("n_all").cast(N) -
          col("cum_c").cast(N) * col("n").cast(N)))
      .where(col("g").isNotNull)
      .withColumn("__dmax", max(col("__d")).over(Window.partitionBy("g")))
      .groupBy("g", "n", "n_all", "__dmax")
      .agg(min(when(col("__d") === col("__dmax"), col("v")))
        .as("at_value"))
      .select(col("g").as("group"), col("n"),
        (col("__dmax").cast("double") /
          (col("n").cast("double") * col("n_all").cast("double")))
          .as("ks"),
        col("at_value"))
  }
  /** Pairwise TWO-SAMPLE KS matrix: D(a,b) = max_v |ECDF_a − ECDF_b|
    * for every ordered group pair — the |groups|² drift matrix at
    * sketch-free exactness ([[ksDrift]]'s grid machinery, the pairing
    * loop being the only difference). Same integer/decimal
    * discipline; the grid self-join fans out to |groups|²·|values|
    * rows, bounded for discrete columns and bounded group sets.
    * Output: (src_a, src_b, n_a, n_b, ks), pairs src_a < src_b. */
  def ksMatrix(df: DataFrame, group: Column, value: Column): DataFrame =
    ksMatrixFromCounts(df.select(group.as("g"), value.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c")))

  /** [[ksMatrix]] from an already-aggregated (g, v, c) count table —
    * the additive-ledger form ([[ksDriftFromCounts]]'s twin): counts
    * are sums, so per-batch partials folded by any grouping reproduce
    * the exact integer ECDFs, which is what gives the pairwise KS
    * matrix a streaming view bit-equal to its batch operator. */
  def ksMatrixFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(18, 0)
    val perGV = counts.select(col("g"), col("v"), col("c"))
    val perV = perGV.select("v").distinct()
    val ng = perGV.groupBy("g").agg(sum(col("c")).as("n"))
    val grid = ng.select(col("g"), col("n"))
      .crossJoin(perV)
      .join(perGV, Seq("g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wg = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    // run once, read by both sides of the pair self-join; an executed
    // leaf, so no storage is pinned
    val cum = org.apache.spark.sql.graft.Bridge.executedLeaf(
      grid.withColumn("cum", sum(col("c")).over(wg))
        .select(col("g"), col("n"), col("v"), col("cum")))
    val a = cum.select(col("g").as("src_a"), col("n").as("n_a"),
      col("v"), col("cum").as("cum_a"))
    val b = cum.select(col("g").as("src_b"), col("n").as("n_b"),
      col("v"), col("cum").as("cum_b"))
    a.join(b, Seq("v")).where(col("src_a") < col("src_b"))
      .withColumn("__d",
        abs(col("cum_a").cast(N) * col("n_b").cast(N) -
          col("cum_b").cast(N) * col("n_a").cast(N)))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(max(col("__d")).as("__dmax"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        (col("__dmax").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("ks"))
  }

  /** WELCH's unequal-variance t-test (Welch 1947) — the mean-difference
    * companion to [[twoProportionZ]]'s rate z: given one row per unit
    * with a cohort label and a numeric metric, the t statistic for the
    * mean difference WITHOUT assuming equal variances, plus the
    * Welch–Satterthwaite degrees of freedom — the A/B readout for
    * continuous metrics (revenue per session, latency, tokens per
    * document). Expects exactly two cohorts (pair join — loud by
    * absence, the [[twoProportionZ]] contract).
    *
    * Determinism: per-cohort moments (n, Σx, Σx²) are EXACT decimal
    * sums ((18,4) operands, products at (37,8) — the x78/x129 sizing),
    * so partitioning never reorders anything; the t/df closed forms
    * then run in IEEE doubles in ONE fixed operand order. t and df are
    * NULL when either cohort has n < 2 or the combined standard error
    * is zero (never ±Inf, never an ANSI crash). Scale shape: one
    * combiner agg to two rows, then constant work.
    * Output: (cohort_a, cohort_b, n_a, n_b, mean_a, mean_b, t, df),
    * cohort_a < cohort_b. */
  def welchT(units: DataFrame, cohort: Column, value: Column)
      : DataFrame = {
    val xd = value.cast(D)
    welchTFromMoments(units.groupBy(cohort.as("cohort")).agg(
      count(lit(1)).as("n"), sum(xd).as("s"), sum(xd * xd).as("ss")))
  }

  /** [[welchT]] from an already-aggregated per-cohort moment frame
    * (cohort, n, s, ss) — the additive-ledger form ([[psiFromCounts]]'s
    * twin): counts and decimal sums are commutative monoids, so
    * per-batch partials folded by any grouping reproduce the exact
    * moments, which is what gives the A/B t-test a streaming view
    * bit-equal to its batch operator. */
  def welchTFromMoments(agg: DataFrame): DataFrame = {
    val a = agg.select(col("cohort").as("cohort_a"), col("n").as("n_a"),
      col("s").as("__sa"), col("ss").as("__ssa"))
    val b = agg.select(col("cohort").as("cohort_b"), col("n").as("n_b"),
      col("s").as("__sb"), col("ss").as("__ssb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val sa = col("__sa").cast("double"); val sb = col("__sb").cast("double")
    val ssa = col("__ssa").cast("double"); val ssb = col("__ssb").cast("double")
    val va = (ssa - sa * sa / na) / (na - lit(1.0))
    val vb = (ssb - sb * sb / nb) / (nb - lit(1.0))
    val sea = va / na; val seb = vb / nb
    val se2 = sea + seb
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0
    a.join(b, col("cohort_a") < col("cohort_b"))
      .select(col("cohort_a"), col("cohort_b"), col("n_a"), col("n_b"),
        (sa / na).as("mean_a"), (sb / nb).as("mean_b"),
        when(ok, (sa / na - sb / nb) / sqrt(se2)).as("t"),
        when(ok, se2 * se2 /
          (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0))))
          .as("df"))
  }

  /** One-way ANOVA F (Fisher) — does the metric's MEAN differ across
    * k groups, the k-cohort generalization of [[welchT]]: F =
    * (SSB/(k−1)) / (SSW/(n−k)) from per-group exact moments. The
    * "does spend differ by event type / segment / source" gate before
    * anyone trusts per-group means.
    *
    * Determinism: per-group (n, Σx, Σx²) are exact decimal sums; each
    * group's two sum-of-squares terms are IEEE doubles folded in
    * GROUP ORDER (sort_array + one aggregate fold — the
    * [[chiSquareIndependence]] discipline), so partitioning can never
    * reorder the sums. F is NULL when k < 2, n ≤ k, or SSW = 0.
    * Scale shape: one combiner agg to k rows + a k-bounded fold — one
    * output row. Output: (k, n, ss_between, ss_within, df1, df2, f). */
  def anovaF(df: DataFrame, group: Column, value: Column): DataFrame = {
    val xd = value.cast(D)
    val g = df.groupBy(group.as("__g")).agg(
      count(lit(1)).as("__n"), sum(xd).as("__s"), sum(xd * xd).as("__ss"))
    val tot = g.agg(count(lit(1)).as("__k"), sum(col("__n")).as("__nt"),
      sum(col("__s").cast(DecimalType(38, 4))).as("__st"))
    // per-group terms: s_g²/n_g (feeds SSB) and ss_g − s_g²/n_g (SSW)
    val sg = col("__s").cast("double"); val ng = col("__n").cast("double")
    g.select(struct(col("__g"),
        (sg * sg / ng).as("__b"),
        (col("__ss").cast("double") - sg * sg / ng).as("__w")).as("__t"))
      .groupBy()
      .agg(sort_array(collect_list(col("__t"))).as("__arr"))
      .crossJoin(broadcast(tot))
      .select(col("__k").as("k"), col("__nt").as("n"),
        (aggregate(col("__arr"), lit(0.0), (acc, x) => acc + x("__b")) -
          col("__st").cast("double") * col("__st").cast("double") /
            col("__nt").cast("double")).as("ss_between"),
        aggregate(col("__arr"), lit(0.0), (acc, x) => acc + x("__w"))
          .as("ss_within"),
        (col("__k") - 1).as("df1"), (col("__nt") - col("__k")).as("df2"))
      .withColumn("f",
        when(col("df1") > 0 && col("df2") > 0 && col("ss_within") > 0.0,
          (col("ss_between") / col("df1").cast("double")) /
            (col("ss_within") / col("df2").cast("double"))))
  }

  /** MANN–WHITNEY U rank-sum test (Mann & Whitney 1947) — the
    * NONPARAMETRIC A/B companion to [[welchT]]: does one cohort's
    * metric stochastically dominate the other's, robust to the heavy
    * tails that break mean-based t/z readouts. Average ranks for
    * ties; normal approximation with the exact tie-corrected
    * variance; no continuity correction (documented contract — both
    * engines compute the same chain).
    *
    * CONTRACT: `value` must be a DISCRETE grid (the [[ksDrift]]
    * bounded-grid contract — bucketed metrics, integer amounts,
    * quantized doubles): ranks derive from per-value counts, and a
    * per-group window runs over the |values| grid. For a continuous
    * metric, quantize first (e.g. `floor(value)`) — the test is then
    * exact on the quantized metric.
    *
    * EXACT arithmetic end-to-end: with cumBelow(v) = Σ_{u<v} c_u, the
    * tied-average rank is (2·cumBelow + c_v + 1)/2, so rank sums are
    * computed in HALF-UNITS as exact decimals (2R = Σ c_a·(2·cumBelow
    * + c_v + 1)); U, its mean, and the tie term T = Σ(t³−t) stay in
    * DECIMAL(38,0) (t as (12,0), t³ at 36 digits); ONE double chain
    * at the boundary: z = (U − n_a·n_b/2)/√(n_a·n_b/12·((n+1) −
    * T/(n·(n−1)))). z is NULL when the variance is 0 (all values
    * tied). Scale shape: one (cohort, v) combiner count, a grid-
    * bounded cumulative window, one pair join of two 1-row frames.
    * Output: (cohort_a, cohort_b, n_a, n_b, u_a, u_b, z),
    * cohort_a < cohort_b; u_a + u_b = n_a·n_b. */
  def mannWhitneyU(units: DataFrame, cohort: Column, value: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(38, 0)
    val T = DecimalType(12, 0)
    val cv = units.select(cohort.as("__g"), value.as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val perV = cv.groupBy("__v").agg(sum(col("__c")).as("__cv"))
    val wv = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // grid-bounded window (the discrete-value contract): cumBelow
    val cum = perV
      .withColumn("__below", coalesce(sum(col("__cv")).over(wv), lit(0L)))
    val ranked = cv.join(cum, Seq("__v"))
      .groupBy("__g").agg(
        sum(col("__c")).as("n"),
        // 2R_g in exact integer half-units
        sum(col("__c").cast(N) *
          (lit(2L) * col("__below") + col("__cv") + lit(1L)).cast(N))
          .as("__r2"))
    val ties = broadcast(perV.agg(
      sum(col("__cv").cast(T) * col("__cv").cast(T) * col("__cv").cast(T) -
        col("__cv").cast(T)).as("__t")))
    val a = ranked.select(col("__g").as("cohort_a"), col("n").as("n_a"),
      col("__r2").as("__r2a"))
    val b = ranked.select(col("__g").as("cohort_b"), col("n").as("n_b"),
      col("__r2").as("__r2b"))
    // 2U_a = 2R_a − n_a(n_a+1), exact
    val u2a = col("__r2a").cast(N) -
      (col("n_a").cast(N) * (col("n_a") + 1).cast(N))
    val u2b = col("__r2b").cast(N) -
      (col("n_b").cast(N) * (col("n_b") + 1).cast(N))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val n = (col("n_a") + col("n_b")).cast("double")
    val varU = na * nb / lit(12.0) *
      ((n + lit(1.0)) - col("__t").cast("double") / (n * (n - lit(1.0))))
    a.join(b, col("cohort_a") < col("cohort_b")).crossJoin(ties)
      .select(col("cohort_a"), col("cohort_b"), col("n_a"), col("n_b"),
        (u2a.cast("double") / lit(2.0)).as("u_a"),
        (u2b.cast("double") / lit(2.0)).as("u_b"),
        when(varU > 0.0,
          (u2a.cast("double") / lit(2.0) - na * nb / lit(2.0)) /
            sqrt(varU)).as("z"))
  }

  /** POPULATION STABILITY INDEX per group against the whole corpus —
    * the scorecard-monitoring drift number (PSI < 0.1 stable, > 0.25
    * shifted, the credit-risk rule of thumb) beside the KS and TV
    * alarms: PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b) over a bounded bin
    * grid. Zero-count bins are NOT dropped (the chi-square zero-cell
    * lesson — an empty bin is maximal evidence of shift): both sides
    * take the standard +0.5 pseudo-count per bin over the FULL corpus
    * bin grid, so every term is finite and the full grid contributes.
    *
    * Determinism: integer bin counts are exact; each bin's ln is
    * quantized once to DECIMAL(28,12) (the x76/x136 transcendental
    * discipline), the remaining ±/× run in IEEE doubles folded in BIN
    * ORDER (sort_array + aggregate — the [[chiSquareIndependence]]
    * fold). Scale shape: one (group, bin) combiner count, model-sized
    * grid join, a |bins|-bounded fold per group.
    * Output: (group, n, psi). */
  def psi(df: DataFrame, group: Column, bin: Column): DataFrame =
    psiFromCounts(df.select(group.as("g"), bin.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c")))

  /** [[psi]] over PRE-AGGREGATED (g, v, c) counts — the additive-
    * ledger form ([[ksDriftFromCounts]]'s twin), which is what gives
    * PSI a streaming view bit-equal to its batch operator. */
  def psiFromCounts(counts: DataFrame): DataFrame = {
    val L = DecimalType(28, 12)
    val perGV = counts.select(col("g"), col("v"), col("c"))
    val perV = perGV.groupBy("v").agg(sum(col("c")).as("cc"))
    val ng = perGV.groupBy("g").agg(sum(col("c")).as("n"))
    val nBins = broadcast(perV.agg(count(lit(1)).as("nb"),
      sum(col("cc")).as("n_all")))
    val grid = ng.select(col("g"), col("n"))
      .crossJoin(perV)
      .join(perGV, Seq("g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(nBins)
    val half = lit(0.5)
    val p = (col("c").cast("double") + half) /
      (col("n").cast("double") + half * col("nb").cast("double"))
    val q = (col("cc").cast("double") + half) /
      (col("n_all").cast("double") + half * col("nb").cast("double"))
    grid
      .withColumn("__lr", log(p / q).cast(L))
      .select(col("g"), col("n"),
        struct(col("v"), ((p - q) * col("__lr").cast("double")).as("__t"))
          .as("__s"))
      .groupBy("g", "n")
      .agg(sort_array(collect_list(col("__s"))).as("__arr"))
      .select(col("g").as("group"), col("n"),
        aggregate(col("__arr"), lit(0.0), (acc, x) => acc + x("__t"))
          .as("psi"))
  }

  /** HERFINDAHL–HIRSCHMAN concentration INDEX per group: HHI =
    * Σ_keys share² of `weight` mass within the group — the
    * market-concentration number (1/|keys| = perfectly even, 1.0 =
    * single-key monopoly) a mixture owner reads next to the Gini row:
    * is one nation/source/supplier carrying the whole group.
    * Negative weights are rejected loudly (shares lose meaning).
    *
    * Determinism: per-(group, key) weights are exact decimal sums;
    * each share² term is IEEE, folded in KEY ORDER (sort_array + one
    * aggregate fold — the [[chiSquareIndependence]] discipline).
    * Scale shape: one combiner agg + a per-group bounded-key fold.
    * Output: (group, n_keys, total, hhi). */
  def hhi(df: DataFrame, group: Column, key: Column, weight: Column)
      : DataFrame = {
    val wd = weight.cast(D)
    val per = df.select(group.as("__g"), key.as("__k"),
        when(wd >= 0, wd).otherwise(raise_error(concat(
          lit("hhi: negative weight "), wd.cast("string"),
          lit(" for key "), key.cast("string"))).cast(D)).as("__w"))
      .groupBy("__g", "__k").agg(sum(col("__w")).as("__s"))
    val tot = per.groupBy("__g").agg(
      count(lit(1)).as("n_keys"),
      sum(col("__s").cast(DecimalType(38, 4))).as("__t"))
    per.join(tot, Seq("__g"))
      .select(col("__g"), col("n_keys"), col("__t"),
        struct(col("__k"),
          (col("__s").cast("double") / col("__t").cast("double") *
            (col("__s").cast("double") / col("__t").cast("double")))
            .as("__sq")).as("__p"))
      .groupBy(col("__g"), col("n_keys"), col("__t"))
      .agg(sort_array(collect_list(col("__p"))).as("__arr"))
      .select(col("__g").as("group"), col("n_keys"),
        col("__t").cast("double").as("total"),
        aggregate(col("__arr"), lit(0.0), (acc, x) => acc + x("__sq"))
          .as("hhi"))
  }

  /** COVARIATE BALANCE table — standardized mean differences between
    * two cohorts (Cohen's d with the pooled-variance denominator the
    * causal-inference literature uses for balance checks): |SMD| <
    * 0.1 is the conventional "balanced" bar. The pre-read of every
    * A/B analysis: a significant x182/x184 result on IMBALANCED
    * cohorts is a selection story, not a treatment story.
    * SMD = (m̄_a − m̄_b) / √((s²_a + s²_b)/2) per covariate.
    *
    * Determinism: the [[welchT]] exact-decimal moment discipline per
    * covariate; one IEEE chain per row; NULL when either cohort has
    * n < 2 or both variances are 0. Scale shape: one combiner moment
    * agg per covariate (covariate list is bounded), 2-row pair joins.
    * Output: (covariate, cohort_a, cohort_b, n_a, n_b, mean_a,
    * mean_b, smd), one row per covariate. */
  def covariateBalance(units: DataFrame, cohort: Column,
      covariates: Seq[(String, Column)]): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 64,
      s"covariateBalance: ${covariates.size} covariates")
    covariates.map { case (name, c) =>
      val xd = c.cast(D)
      val agg = units.groupBy(cohort.as("cohort")).agg(
        count(lit(1)).as("n"), sum(xd).as("s"), sum(xd * xd).as("ss"))
      val a = agg.select(col("cohort").as("cohort_a"), col("n").as("n_a"),
        col("s").as("__sa"), col("ss").as("__ssa"))
      val b = agg.select(col("cohort").as("cohort_b"), col("n").as("n_b"),
        col("s").as("__sb"), col("ss").as("__ssb"))
      val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
      val sa = col("__sa").cast("double"); val sb = col("__sb").cast("double")
      val va = (col("__ssa").cast("double") - sa * sa / na) /
        (na - lit(1.0))
      val vb = (col("__ssb").cast("double") - sb * sb / nb) /
        (nb - lit(1.0))
      val den = (va + vb) / lit(2.0)
      a.join(b, col("cohort_a") < col("cohort_b"))
        .select(lit(name).as("covariate"), col("cohort_a"),
          col("cohort_b"), col("n_a"), col("n_b"),
          (sa / na).as("mean_a"), (sb / nb).as("mean_b"),
          when(col("n_a") >= 2 && col("n_b") >= 2 && den > 0.0,
            (sa / na - sb / nb) / sqrt(den)).as("smd"))
    }.reduce(_ unionByName _)
  }

  /** CLUSTER BOOTSTRAP confidence interval for a mean, RNG-FREE — the
    * error bars a dashboard number deserves, at the grain correlation
    * actually lives (resampling EVENTS from correlated users
    * understates variance; the cluster bootstrap resamples UNITS).
    * The multinomial bootstrap is approximated by independent
    * Poisson(1) unit weights (the standard streaming-bootstrap
    * construction, Oza & Russell 2001; Kleiner's BLB lineage), with
    * the Poisson draw DERANDOMIZED: weight(u, b) inverts the exact
    * Poisson(1) CDF at a ppm integer derived from the portable
    * counter-based hash h = (hash(u) + b·7919) mod P — deterministic,
    * engine-reproducible, re-shard-stable, nothing to seed or store.
    *
    * Determinism: per-unit totals and per-replicate weighted sums are
    * exact decimal; each replicate mean is ONE double division; the
    * percentile bounds are EXACT ranks over the B replicate means
    * (B-bounded window, ties broken by replicate index). Scale shape:
    * one per-unit combiner agg, a ×B explode over UNITS (not rows),
    * one B-row window. Replicates with zero total weight are dropped
    * from the ranking (reported via n_replicates).
    * Output: one row (n_units, n_rows, mean, lo95, hi95,
    * n_replicates). */
  def bootstrapMeanCI(df: DataFrame, unit: Column, value: Column,
      b: Int = 200): DataFrame = {
    require(b >= 40 && b <= 10000, s"bootstrapMeanCI: b=$b")
    import org.apache.spark.sql.expressions.Window
    val per = df.select(unit.as("__u"), value.cast(D).as("__x"))
      .groupBy("__u").agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
      .localCheckpoint(true) // feeds the point estimate AND ×B explode
    val tot = per.agg(count(lit(1)).as("n_units"), sum(col("__n")).as("n_rows"),
      sum(col("__s").cast(DecimalType(38, 4))).as("__st"))
    val reps = per
      .withColumn("__b", explode(sequence(lit(0L), lit(b - 1L))))
      .withColumn("__w", poissonWeight(col("__u"), col("__b")))
      .groupBy("__b").agg(
        sum(col("__w") * col("__n")).as("__nw"),
        sum(col("__w").cast(DecimalType(4, 0)) * col("__s")).as("__sw"))
      .where(col("__nw") > 0)
      .select(col("__b"),
        (col("__sw").cast("double") / col("__nw").cast("double"))
          .as("__m"))
    tot.crossJoin(broadcast(ceilRankBounds(reps, "__m", "__b")))
      .select(col("n_units"), col("n_rows"),
        (col("__st").cast("double") / col("n_rows").cast("double"))
          .as("mean"),
        col("lo95"), col("hi95"), col("n_replicates"))
  }

  /** SPEARMAN rank correlation — Pearson on tied-average ranks, the
    * monotone-association number robust to outliers and nonlinear
    * scales (does account balance RANK with spend, not just covary).
    *
    * CONTRACT: both columns must be DISCRETE grids (the
    * [[mannWhitneyU]] contract — quantize continuous metrics first);
    * ranks derive from per-value counts through grid-bounded
    * cumulative windows, never a per-row rank window.
    *
    * Arithmetic: tied-average ranks in exact half-units (the
    * [[mannWhitneyU]] construction per axis), then the Pearson
    * moments over (2r_x, 2r_y) as exact DECIMAL(38,0) sums — scale
    * factors cancel in r — and ONE double chain at the boundary.
    * NULL when either axis has zero rank variance. Scale shape: two
    * grid aggs + two grid-bounded windows + one combiner moment agg.
    * Output: one row (n, rho). */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = DecimalType(18, 0) // half-unit ranks ≤ 2(n+1): (18,0)² → (37,0)
    def ranks(v: Column, d: DataFrame, name: String): DataFrame = {
      val perV = d.select(v.as("__v")).groupBy("__v")
        .agg(count(lit(1)).as("__cv"))
      val wv = Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
      perV.withColumn("__below",
          coalesce(sum(col("__cv")).over(wv), lit(0L)))
        .select(col("__v").as(name),
          (lit(2L) * col("__below") + col("__cv") + lit(1L))
            .as(s"__r2$name"))
    }
    val pairs = df.select(x.as("__x"), y.as("__y"))
    val rx = ranks(col("__x"), pairs, "__x")
    val ry = ranks(col("__y"), pairs, "__y")
    val j = pairs.join(rx, Seq("__x")).join(ry, Seq("__y"))
      .select(col("__r2__x").cast(N).as("rx"),
        col("__r2__y").cast(N).as("ry"))
    val m = j.agg(count(lit(1)).as("n"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy"))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    val denX = nd * sxx - sx * sx
    val denY = nd * syy - sy * sy
    m.select(col("n"),
      when(denX > 0.0 && denY > 0.0,
        (nd * sxy - sx * sy) / sqrt(denX * denY)).as("rho"))
  }
}
