package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, language-ID heuristic, quality scoring, fingerprinting.
  * Everything is per-row (embarrassingly parallel, no shuffle) and built
  * from codegen'd functions — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Whitespace tokenization (the BPE-ish fallback regex). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Tokens drawn from `words`, counted via a codegen'd HOF filter. */
  def wordsetCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(lower(text)), w => w.isin(words.map(lit): _*)))
      .cast("long")

  /** Per-language stopword markers for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the heuristic must stay a broadcastable
    * constant, not a model. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "es" -> Seq("el", "los", "que", "y", "es", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID: argmax of marker hits, deterministic tie-break in
    * `langMarkers` declaration order (first wins). */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, ws) => l -> wordsetCount(text, ws) }
    val best = greatest(scores.map(_._2): _*)
    scores.reverse.foldLeft(lit(langMarkers.head._1)) { case (acc, (l, s)) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality metrics: token count, mean token length, stopword ratio,
    * punctuation ratio. Single-pass, no shuffle. */
  def withQuality(df: DataFrame, text: Column): DataFrame = {
    val nTok = tokenCount(text)
    val nStop = wordsetCount(text, langMarkers.flatMap(_._2))
    val nPunct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    df.withColumn("n_tokens", nTok)
      .withColumn("n_stopwords", nStop)
      .withColumn("avg_token_len",
        length(text).cast("double") / nTok)
      .withColumn("stopword_ratio", nStop.cast("double") / nTok)
      .withColumn("punct_ratio", nPunct.cast("double") / length(text))
  }

  /** Quality gate for a training corpus: minimum length, bounded stopword
    * and punctuation ratios. Composes with [[Dedup]] into the standard
    * clean→dedup pipeline (Queries.x18). */
  def qualityFilter(df: DataFrame, text: Column, minTokens: Long = 20,
      maxStopRatio: Double = 0.5, maxPunctRatio: Double = 0.1): DataFrame = {
    val q = withQuality(df, text)
    q.where(col("n_tokens") >= minTokens &&
        col("stopword_ratio") <= maxStopRatio &&
        col("punct_ratio") <= maxPunctRatio)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Per-group percentile calibration of a raw score: `pct` =
    * percent_rank of (score, id) within the group — the step that makes
    * one quality threshold meaningful ACROSS sources/languages whose raw
    * score distributions differ (a 0.8-quantile English doc and a
    * 0.8-quantile Chinese doc are equally "good for their group", their
    * raw scores are not comparable). Tie-break by id makes every rank —
    * and so every pct — deterministic and engine-reproducible. One
    * window per group; the (rank−1)/(n−1) formula is identical in any
    * SQL engine, so calibrated thresholds port exactly. */
  def calibrate(df: DataFrame, group: Column, score: Column, id: Column)
      : DataFrame =
    df.withColumn("pct", percent_rank().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(group).orderBy(score, id)))

  /** Discrete quality-tier assignment — the CCNet head/middle/tail
    * split (Wenzek et al., LREC 2020; public recipe): within each
    * group (CCNet partitions per LANGUAGE) rank rows by quality score
    * and cut the ranking into `nBuckets` equal-count tiers; bucket 1
    * is the best-scoring "head" slice a pipeline trains on first. The
    * continuous sibling is [[calibrate]] (percent_rank); this is the
    * form that feeds a per-tier sampling policy directly.
    *
    * Determinism: NTILE over the total order (score DESC NULLS LAST,
    * id) — standard SQL tile semantics (the first n mod b tiles take
    * the extra row) that every engine shares, and the null placement
    * is EXPLICIT because engines disagree on default null order under
    * DESC. Unscored rows (null score — e.g. < 2 tokens for a bigram
    * score) thus rank after every scored row and fill the tail tier,
    * which is where a quality split wants them.
    *
    * Scale shape: one window per group, parallelism = |groups|
    * (languages — bounded); no other exchange. Adds `bucket`. */
  def scoreBuckets(df: DataFrame, group: Column, score: Column,
      id: Column, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    df.withColumn("bucket", ntile(nBuckets).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(group).orderBy(score.desc_nulls_last, id)))
  }

  /** Model-based quality scoring WITHOUT an external LM (the
    * CCNet/Gopher-style perplexity-filtering step, from the public
    * recipe): train bigram conditional frequencies on the corpus
    * itself and score each document by the MEAN maximum-likelihood
    * P(w₂ | w₁) of its bigrams — fluent, corpus-typical text scores
    * high, token salad and boilerplate-free noise score low; the score
    * then feeds [[calibrate]] for per-group thresholds exactly like
    * any other quality signal. Output: (id, n_bigrams, bigram_score),
    * score null when a document has no bigram (< 2 tokens).
    *
    * Determinism: counts are exact longs; each conditional probability
    * is one IEEE double division quantized to DECIMAL(28,12) (the
    * x24/x25 mean discipline), so the per-document sum is
    * order-independent and the DuckDB oracle reproduces the score
    * bit-for-bit. At 100 TB: two map-side-combined count aggregations
    * plus two equi-joins of the bigram stream against them — linear in
    * bigram occurrences, no quadratic stage; stopword-grade `w1` keys
    * skew the join shuffle, which is [[graft.operators.Skew]]'s salted
    * join territory, not a redesign. */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val (c1, c2) = bigramModel(docs, idCol, textCol)
    bigramScoreWith(docs, idCol, textCol, c1, c2)
  }

  /** One (id, w1, w2) row per bigram occurrence. */
  private def bigrams(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        tokens(lower(col(textCol))).as("t"))
      .select(col("id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))")).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** The trained model as two count tables: (w1 → cnt1, (w1,w2) →
    * cnt2). A value the serving side can checkpoint once and join many
    * batches against — the counts are corpus-sized data, NOT a
    * broadcastable constant, which is exactly why the streaming form
    * joins rather than broadcasts. */
  def bigramModel(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val bi = bigrams(docs, idCol, textCol)
    (bi.groupBy("w1").agg(count(lit(1)).as("cnt1")),
      bi.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2")))
  }

  /** Training-corpus vocabulary size (distinct continuation tokens) —
    * the add-k smoothing denominator term; one count, collected once
    * alongside the model. */
  def bigramVocab(c2: DataFrame): Long =
    c2.select(col("w2")).distinct().count()

  /** Score `docs` under an already-trained model.
    *
    * `smoothK = 0` (default): pure MLE — bigrams the model never saw
    * contribute probability 0 (and still count in `n_bigrams`), so
    * out-of-domain text scores LOW; when `docs` is the training corpus
    * itself every bigram is known and this reduces exactly to the
    * self-scored [[bigramScore]].
    *
    * `smoothK > 0` with `vocab` = [[bigramVocab]]: add-k smoothing
    * (Lidstone, from the standard LM recipe) —
    * P = (cnt2 + k) / (cnt1 + k·V), so unseen continuations of a known
    * prefix get a small floor and a wholly unknown prefix scores 1/V
    * instead of 0, the robustness cross-corpus scoring wants. All
    * arithmetic is IEEE double on exact counts, quantized to
    * DECIMAL(28,12) before the per-document sum — engine-exact either
    * way.
    *
    * Skew: natural-language join keys are Zipfian — stopword prefixes
    * ("the", "of") concentrate a large share of ALL bigram occurrences
    * onto a handful of `w1` (and `(w1, w2)`) keys, so at 100 TB the
    * plain shuffle joins end in a few giant reducer tails. `salt > 1`
    * (the default, [[DefaultScoreSalt]]) runs both count joins as
    * [[graft.operators.Skew.saltedJoin]]s: each occurrence scatters to
    * one of `salt` sub-keys (content-hashed on (id, w1, w2) — high
    * entropy, deterministic under recomputation) and the MODEL side
    * replicates `salt`×, so the hottest key's reducer work drops to
    * ~1/salt while the replicated side stays model-sized (counts, not
    * occurrences). Exactly one model copy meets each occurrence, so
    * the result is the plain join's row for row. The alternative —
    * broadcasting the top-count model slice and shuffling only the
    * tail — removes the head's shuffle BYTES too, but needs the
    * occurrence stream evaluated once per split branch (the stream is
    * the expensive side: a tokenize+explode of the whole corpus), so
    * the salted form wins on total work. `salt = 1` keeps the plain
    * single-join plan. */
  def bigramScoreWith(docs: DataFrame, idCol: String, textCol: String,
      c1: DataFrame, c2: DataFrame, smoothK: Double = 0.0,
      vocab: Long = 0L, salt: Int = DefaultScoreSalt): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(smoothK == 0.0 || vocab > 0,
      "add-k smoothing needs the training vocabulary size (bigramVocab)")
    val p =
      if (smoothK == 0.0)
        coalesce(
          (col("cnt2").cast("double") / col("cnt1").cast("double"))
            .cast(DecimalType(28, 12)),
          lit(0).cast(DecimalType(28, 12)))
      else
        ((coalesce(col("cnt2"), lit(0L)).cast("double") + lit(smoothK)) /
          (coalesce(col("cnt1"), lit(0L)).cast("double") +
            lit(smoothK) * lit(vocab.toDouble)))
          .cast(DecimalType(28, 12))
    val bg = bigrams(docs, idCol, textCol)
    val saltCols = Seq(col("id"), col("w1"), col("w2"))
    val withCounts =
      if (salt <= 1)
        bg.join(c2, Seq("w1", "w2"), "left").join(c1, Seq("w1"), "left")
      else
        graft.operators.Skew.saltedJoin(
          graft.operators.Skew.saltedJoin(bg, c2, Seq("w1", "w2"),
            salt, "left", saltOn = saltCols),
          c1, Seq("w1"), salt, "left", saltOn = saltCols)
    val agg = withCounts
      .withColumn("p", p)
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p")).cast("double") / count(lit(1)))
          .as("bigram_score"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_score"))
  }

  /** Unigram continuation model derived FROM the bigram counts:
    * cntu(w) = Σ_{w1} cnt2(w1, w) — how often `w` occurs as a
    * continuation anywhere in the training stream. Model-sized input,
    * model-sized output; no second pass over the corpus. */
  def unigramModel(c2: DataFrame): DataFrame =
    c2.groupBy("w2").agg(sum(col("cnt2")).as("cntu"))

  /** Total bigram occurrences in the training corpus — the unigram
    * probability denominator; one scalar agg over the count table. */
  def bigramTotal(c2: DataFrame): Long =
    c2.agg(coalesce(sum(col("cnt2")), lit(0L))).first().getLong(0)

  /** Jelinek-Mercer interpolated scoring (the standard LM smoothing
    * recipe, public): P = λ·P_MLE(w₂|w₁) + (1−λ)·P_uni(w₂). Where
    * add-k gives every unseen continuation of a prefix the same flat
    * floor k/(cnt1+kV), JM backs off to how common the CONTINUATION is
    * globally — "the san" (unseen bigram, frequent unigram) outscores
    * "the qxzt", which is what cross-corpus robustness actually wants.
    * A wholly out-of-vocabulary continuation scores (1−λ)·0 = 0 and a
    * known-word unseen pair (1−λ)·cntu/N; λ = 1 reduces exactly to the
    * MLE path (spec-asserted).
    *
    * Same determinism discipline as [[bigramScoreWith]]: both terms
    * are IEEE double on exact counts, interpolated as
    * λ·mle + (1−λ)·uni in that association, quantized to
    * DECIMAL(28,12) before the per-document sum. Same skew discipline:
    * all three count joins (the `w2` unigram join is stopword-skewed
    * exactly like `w1`) run salted; the unigram table is model-sized
    * so its `salt`× replication is noise next to the occurrence
    * stream. */
  def bigramScoreJmWith(docs: DataFrame, idCol: String, textCol: String,
      c1: DataFrame, c2: DataFrame, uni: DataFrame, total: Long,
      lambda: Double = 0.75, salt: Int = DefaultScoreSalt): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(total > 0, "empty training corpus")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda $lambda outside [0,1]")
    val mle = coalesce(
      col("cnt2").cast("double") / col("cnt1").cast("double"), lit(0.0))
    val uniP = coalesce(
      col("cntu").cast("double") / lit(total.toDouble), lit(0.0))
    val p = (lit(lambda) * mle + lit(1.0 - lambda) * uniP)
      .cast(DecimalType(28, 12))
    val bg = bigrams(docs, idCol, textCol)
    val saltCols = Seq(col("id"), col("w1"), col("w2"))
    val withCounts =
      if (salt <= 1)
        bg.join(c2, Seq("w1", "w2"), "left").join(c1, Seq("w1"), "left")
          .join(uni, Seq("w2"), "left")
      else
        graft.operators.Skew.saltedJoin(
          graft.operators.Skew.saltedJoin(
            graft.operators.Skew.saltedJoin(bg, c2, Seq("w1", "w2"),
              salt, "left", saltOn = saltCols),
            c1, Seq("w1"), salt, "left", saltOn = saltCols),
          uni, Seq("w2"), salt, "left", saltOn = saltCols)
    val agg = withCounts
      .withColumn("p", p)
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p")).cast("double") / count(lit(1)))
          .as("bigram_score"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_score"))
  }

  /** The Kneser-Ney auxiliary tables, all derived from the bigram
    * count table (model-sized, no second corpus pass): the forward
    * type-count n1f(w1) = |{w2 : cnt2(w1,w2) > 0}| (how many distinct
    * continuations a prefix has), the backward type-count n1b(w2) =
    * |{w1}| (in how many distinct contexts a word appears — KN's
    * "novel-continuation" signal), and the distinct-pair total. */
  def knModels(c2: DataFrame): (DataFrame, DataFrame, Long) = (
    c2.groupBy("w1").agg(count(lit(1)).as("n1f")),
    c2.groupBy("w2").agg(count(lit(1)).as("n1b")),
    c2.count())

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney ICASSP'95 /
    * Chen & Goodman 1998, the standard formulation):
    *   P = max(cnt2 − D, 0)/cnt1 + (D·n1f(w1)/cnt1) · P_cont(w2)
    *   P_cont(w2) = n1b(w2) / |distinct pairs|
    * Where JM backs off to how OFTEN a word occurs, KN backs off to
    * in how many distinct CONTEXTS it occurs — "francisco" is
    * frequent but occurs after almost nothing except "san", so its
    * continuation probability is tiny; that asymmetry is what makes
    * KN the default smoother in every serious n-gram stack. A wholly
    * unseen prefix scores P_cont(w2) alone (the standard backoff).
    *
    * Determinism: D = 0.75 is an exact binary fraction, so
    * max(cnt2 − D, 0) is exact; the three divisions and one product
    * are IEEE doubles in fixed left-to-right order, quantized to
    * DECIMAL(28,12) before the per-document mean (the x68 recipe).
    * Skew: same Zipf-head discipline as the JM family — the prefix
    * side (cnt1 ⋈ n1f pre-joined into ONE model table) and c2 and n1b
    * joins all run salted. */
  def bigramScoreKnWith(docs: DataFrame, idCol: String, textCol: String,
      c1: DataFrame, c2: DataFrame, n1f: DataFrame, n1b: DataFrame,
      nPairs: Long, discount: Double = 0.75,
      salt: Int = DefaultScoreSalt): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nPairs > 0, "empty training corpus")
    require(discount > 0.0 && discount < 1.0,
      s"discount $discount outside (0,1)")
    val prefix = c1.join(n1f, Seq("w1"))
    val pcont = coalesce(
      col("n1b").cast("double") / lit(nPairs.toDouble), lit(0.0))
    val term1 = greatest(
      coalesce(col("cnt2"), lit(0L)).cast("double") - lit(discount),
      lit(0.0)) / col("cnt1").cast("double")
    val lam = lit(discount) * col("n1f").cast("double") /
      col("cnt1").cast("double")
    val p = when(col("cnt1").isNull, pcont)
      .otherwise(term1 + lam * pcont)
      .cast(DecimalType(28, 12))
    val bg = bigrams(docs, idCol, textCol)
    val saltCols = Seq(col("id"), col("w1"), col("w2"))
    val withCounts =
      if (salt <= 1)
        bg.join(c2, Seq("w1", "w2"), "left").join(prefix, Seq("w1"), "left")
          .join(n1b, Seq("w2"), "left")
      else
        graft.operators.Skew.saltedJoin(
          graft.operators.Skew.saltedJoin(
            graft.operators.Skew.saltedJoin(bg, c2, Seq("w1", "w2"),
              salt, "left", saltOn = saltCols),
            prefix, Seq("w1"), salt, "left", saltOn = saltCols),
          n1b, Seq("w2"), salt, "left", saltOn = saltCols)
    val agg = withCounts
      .withColumn("p", p)
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p")).cast("double") / count(lit(1)))
          .as("bigram_score"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_score"))
  }

  /** Per-document bigram NOVELTY — the marginal-contribution signal a
    * curation pipeline reads next to dedup: the share of a document's
    * DISTINCT bigrams whose corpus-wide first occurrence (smallest
    * doc id) is this document. A near-duplicate of earlier material
    * scores ~0 even if no single pair-detector fires; a document
    * introducing new phrasing scores high. Ordering is by the id
    * column, so an ingestion-ordered id gives "new relative to
    * everything ingested before me".
    *
    * Scale shape: distinct (id, bigram) postings, one min-id agg per
    * bigram (map-side combinable), and one postings⋈first-map join —
    * linear, no pairwise stage. The join key is Zipf-skewed exactly
    * like every bigram join here, so it runs salted by default.
    * Output: (id, n_distinct, n_novel, novelty), novelty null for
    * documents with no bigram. */
  def bigramNovelty(docs: DataFrame, idCol: String, textCol: String,
      salt: Int = DefaultScoreSalt): DataFrame = {
    val bgd = bigrams(docs, idCol, textCol)
      .select(col("id"), col("w1"), col("w2")).distinct()
    val firstDoc = bgd.groupBy("w1", "w2").agg(min(col("id")).as("first_id"))
    val joined =
      if (salt <= 1) bgd.join(firstDoc, Seq("w1", "w2"))
      else graft.operators.Skew.saltedJoin(bgd, firstDoc, Seq("w1", "w2"),
        salt, "inner", saltOn = Seq(col("id"), col("w1"), col("w2")))
    val agg = joined.groupBy("id").agg(
      count(lit(1)).as("n_distinct"),
      sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
        .as("n_novel"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (col("n_novel").cast("double") / col("n_distinct"))
          .as("novelty"))
  }

  /** Heaps-law vocabulary-growth curve — the tokenizer/vocab planning
    * observability row: after the first N tokens of the corpus (docs
    * taken in id order, tokens in document order), how many DISTINCT
    * tokens have been seen? Emitted at `points` evenly spaced prefix
    * cuts N_i = ⌊i·T/points⌋. A flattening curve says the vocabulary
    * is saturating (more data ≠ more types); a straight line on
    * log-log is Heaps' law V ∝ N^β.
    *
    * Scale shape: one tokenize pass; per-doc counts; the document
    * OFFSET prefix sum runs through [[Sampling.idOrderedPrefix]]'s
    * hierarchical id-range-bucket decomposition (per-bucket sums, a
    * driver-folded bucket-offset broadcast, bucket-partitioned
    * windows — no single-partition window over per-doc rows); token
    * first-positions are one min agg; the curve is a broadcast join
    * of the V-row firsts table against a `points`-row grid. Output:
    * (i, n_prefix, vocab). */
  def vocabularyGrowth(docs: DataFrame, idCol: String, textCol: String,
      points: Int = 10): DataFrame = {
    require(points >= 1, s"vocabularyGrowth: points=$points must be >= 1")
    val toks = docs.select(col(idCol).as("id"),
      posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "tok")))
    val perDoc = toks.groupBy("id").agg(count(lit(1)).as("__n"))
    val offs = Sampling.idOrderedPrefix(perDoc, col("id"), col("__n"))
      .select(col("id"), col("cum_prev").as("__off"))
    val firsts = toks.join(offs, Seq("id"))
      .select(col("tok"), (col("__off") + col("pos")).as("__g"))
      .groupBy("tok").agg(min(col("__g")).as("__first"))
    val total = perDoc.agg(coalesce(sum(col("__n")), lit(0L)))
      .first().getLong(0)
    val grid = broadcast(docs.sparkSession.createDataFrame(
      (1 to points).map(i => (i.toLong, i.toLong * total / points)))
      .toDF("i", "n_prefix"))
    firsts.join(grid, col("__first") < col("n_prefix"))
      .groupBy("i", "n_prefix").agg(count(lit(1)).as("vocab"))
  }

  /** TextRank keyword scores (Mihalcea & Tarau, EMNLP 2004): weighted
    * PageRank over the token co-occurrence graph — edges are ADJACENT
    * token pairs (the bigram stream, undirected, weight = occurrence
    * count), rank update
    *   r'(v) = (1−d) + d · Σ_u r(u) · w(u,v) / wdeg(u)
    * run a FIXED `iters` rounds from r₀ = 1. Graph-global keyword
    * salience with no training signal — the corpus-level complement
    * of per-document tf-idf (x78).
    *
    * Scale shape: the graph is VOCABULARY-bounded (edges = distinct
    * bigrams), so after one corpus tokenize pass every iteration is a
    * model-sized join+agg, never a corpus scan; ranks stay a
    * DataFrame throughout (nothing collects).
    *
    * Determinism: d = 0.75 (an exact binary fraction, deliberately
    * not the customary 0.85 = inexact); each incoming contribution
    * r·w/wdeg is one IEEE chain quantized by integer FLOOR into
    * 1e-12 micro-units (a Long) before the order-independent sum.
    * Floor, not decimal rounding, on purpose: early-round ranks are
    * DYADIC rationals (r₀ = 1, binary-fraction quotients), which land
    * exactly on scale-12 rounding ties where Spark rounds HALF_UP and
    * DuckDB HALF_EVEN — a measured 1-ulp corpus mismatch. Truncation
    * has no ties; both engines compute the identical product chain
    * and the identical floor. The oracle replays the same `iters`
    * rounds as chained CTEs.
    * Output: (term, wdeg, rank) for every graph node. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      iters: Int = 3, damping: Double = 0.75): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters $iters outside [1,10]")
    val bi = bigrams(docs, idCol, textCol)
      .where(col("w1") =!= col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("w"))
    // undirected: each pair contributes both directions
    val edges = bi.select(col("w1").as("src"), col("w2").as("dst"), col("w"))
      .unionByName(
        bi.select(col("w2").as("src"), col("w1").as("dst"), col("w")))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .localCheckpoint()
    val wdeg = edges.groupBy("src").agg(sum(col("w")).as("wdeg"))
      .localCheckpoint()
    var rank = wdeg.select(col("src").as("term"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(rank.withColumnRenamed("term", "src"), Seq("src"))
        .join(wdeg, Seq("src"))
        .select(col("dst").as("term"),
          floor(col("rank") * col("w").cast("double") /
            col("wdeg").cast("double") * lit(1e12)).cast("long").as("c"))
      rank = contrib.groupBy("term")
        .agg((lit(1.0 - damping) + lit(damping) *
          (sum(col("c")).cast("double") / lit(1e12))).as("rank"))
    }
    rank.join(wdeg.withColumnRenamed("src", "term"), Seq("term"))
      .select(col("term"), col("wdeg"), col("rank"))
  }

  /** TRAINED language identification (Cavnar & Trenkle 1994, the
    * n-gram rank-profile classic): per-language profiles are the top-k
    * character trigrams ranked by frequency; a document is scored
    * against each profile with the OUT-OF-PLACE measure — Σ over the
    * document's own top-k trigrams of |doc rank − profile rank|, with
    * a miss costing k — and classified to the arg-min language
    * (lexicographic tie-break). Complements the x08 stopword
    * heuristic with a model trained from the corpus's own labels;
    * `is_correct` makes the query double as a training-set accuracy
    * audit.
    *
    * Everything is INTEGER (counts, row_number ranks, |Δrank| sums) —
    * no floating point anywhere, so oracle parity is exact by
    * construction. Scale shape: one char-trigram explode; language
    * profiles are (langs·k)-bounded and BROADCAST; per-doc top-k
    * ranks ride WindowGroupLimit; scoring is |docs|·k·|langs| rows
    * through one combiner agg and a min-struct arg-min. Documents too
    * short for a trigram keep a row with null prediction. */
  def langIdTrained(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, k: Int = 50): DataFrame = {
    require(k >= 1, s"langIdTrained: k=$k must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
        lower(col(textCol)).as("t"))
      // the length guard matters: Spark's sequence(1, 0) DESCENDS
      // ([1, 0]) instead of being empty, so an unguarded transform
      // would fabricate grams for sub-trigram texts
      .where(length(col("t")) >= 3)
      .select(col("id"), col("lang"), explode(expr(
        "transform(sequence(1, length(t) - 2), " +
          "i -> substring(t, i, 3))")).as("g"))
    val lp = grams.groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .withColumn("lr", row_number().over(
        w.partitionBy("lang").orderBy(col("c").desc, col("g"))))
      .where(col("lr") <= k).select(col("lang"), col("g"), col("lr"))
    val dp = grams.groupBy("id", "g").agg(count(lit(1)).as("c"))
      .withColumn("dr", row_number().over(
        w.partitionBy("id").orderBy(col("c").desc, col("g"))))
      .where(col("dr") <= k).select(col("id"), col("g"), col("dr"))
    val langs = lp.select("lang").distinct()
    val best = dp.crossJoin(broadcast(langs))
      .join(broadcast(lp), Seq("lang", "g"), "left")
      .groupBy("id", "lang")
      .agg(sum(coalesce(abs(col("dr") - col("lr")), lit(k)).cast("long"))
        .as("dist"))
      .groupBy("id")
      .agg(min(struct(col("dist"), col("lang"))).as("b"))
      .select(col("id"), col("b.lang").as("pred_lang"),
        col("b.dist").as("distance"))
    docs.select(col(idCol).as("id"), col(langCol).as("__true"))
      .join(best, Seq("id"), "left")
      .select(col("id"), col("pred_lang"), col("distance"),
        (col("pred_lang") === col("__true")).as("is_correct"))
  }

  /** Per-group distribution DRIFT: exact total-variation distance
    * between each group's token distribution and the whole corpus —
    * TV(p, q) = ½·Σ_t |p_t − q_t| — the one-number "is this source
    * statistically unlike the rest" alarm (mixture auditing, crawl
    * drift detection, the aggregate complement of per-document
    * quality scores). TV is in [0, 1]; a source sampled from the
    * corpus distribution sits near 0, a disjoint-vocabulary source at
    * ~1 − N_s/N.
    *
    * Exactness: the comparison runs on INTEGER numerators —
    * |c_t·N − C_t·N_s| summed in exact decimal (operands sized
    * DECIMAL(18,0) so the product precision 37 never hits Spark's
    * silent ≥ 39 rescale, the x78 lesson) — and tokens ABSENT from a
    * group contribute in closed form (N_s·(N − ΣC_present)), so
    * nothing materializes the |vocab|×|groups| dense grid. ONE double
    * division at the boundary.
    *
    * Scale shape: per-(group, token) counts; the corpus-wide token
    * table derives from them (model-sized agg, no second corpus
    * pass); one model-sized join + a 1-row broadcast of N. Output:
    * (group, n_tokens, tv_distance). */
  def sourceDrift(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(18, 0)
    val ct = docs.select(col(groupCol).as("g"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
    val corpus = ct.groupBy("tok").agg(sum(col("c")).as("big_c"))
    val ns = ct.groupBy("g").agg(sum(col("c")).as("n_tokens"))
    val nRow = broadcast(ns.agg(sum(col("n_tokens")).as("n_total")))
    val present = ct.join(corpus, Seq("tok"))
      .join(ns, Seq("g")).crossJoin(nRow)
      .groupBy("g")
      .agg(
        sum(abs(col("c").cast(D) * col("n_total").cast(D) -
          col("big_c").cast(D) * col("n_tokens").cast(D))).as("diff_present"),
        sum(col("big_c")).as("c_present"))
    present.join(ns, Seq("g")).crossJoin(nRow)
      .select(col("g").as(groupCol), col("n_tokens"),
        ((col("diff_present") +
          col("n_tokens").cast(D) *
            (col("n_total") - col("c_present")).cast(D)).cast("double") /
          (lit(2.0) * col("n_tokens").cast("double") *
            col("n_total").cast("double"))).as("tv_distance"))
  }

  /** Pairwise JENSEN–SHANNON divergence matrix between per-group token
    * distributions (Lin 1991) — the SYMMETRIC, bounded ([0, ln 2])
    * source-vs-source divergence beside [[sourceDrift]]'s
    * group-vs-corpus TV and the KS shape matrix: JSD(P,Q) =
    * ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2. Unlike KL it is finite on
    * disjoint vocabularies (a token absent from one side contributes
    * exactly c·ln 2 on the other), so no epsilon hacks.
    *
    * Determinism: Σ_t p_t·ln(p_t/m_t) = (1/n_a)·Σ_t c_t·ln(2·c_a·n_b
    * / (c_a·n_b + c_b·n_a)) — each ln is quantized once to
    * DECIMAL(28,12) (the x76/x136 transcendental discipline), each
    * count rides DECIMAL(9,0) under the tfidfKeywords LOUD <1e9
    * guard, so every per-token term is an EXACT (38,12) decimal and
    * the token sum is order-independent under any partitioning —
    * no fold, no window. Tokens present in only one side of a pair
    * contribute in closed form ((n_a − Σ_present c_a)·ln 2), so
    * nothing materializes the dense |vocab|×|pairs| grid. ONE double
    * chain at the boundary per pair.
    *
    * Scale shape: one (group, token) combiner count, a token-keyed
    * pair self-join (|groups|²-bounded fan-out at vocabulary cost —
    * the x121/x147 audit shape), one bounded pair agg.
    * Output: (src_a, src_b, n_a, n_b, jsd), src_a < src_b. */
  def jsdMatrix(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame =
    jsdMatrixFromCounts(docs.select(col(groupCol).as("g"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c")))

  /** [[jsdMatrix]] over PRE-AGGREGATED (g, tok, c) counts — the
    * additive-ledger form ([[sourceDrift]]'s count table made a
    * contract), which is what gives the pairwise divergence matrix a
    * streaming view bit-equal to its batch operator. */
  def jsdMatrixFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val L = DecimalType(28, 12)
    val C = DecimalType(9, 0)
    def guarded(c: Column, side: String): Column =
      when(c < lit(1000000000L), c.cast(C))
        .otherwise(raise_error(concat(
          lit(s"jsdMatrix: $side token count "), c.cast("string"),
          lit(" overflows the DECIMAL(9,0) bound"))).cast(C))
    val ct = counts.select(col("g"), col("tok"), col("c"))
    val ns = ct.groupBy("g").agg(sum(col("c")).as("n"))
      .localCheckpoint(true) // bounded: one row per group
    val a = ct.join(ns, Seq("g"))
      .select(col("g").as("src_a"), col("tok"), col("c").as("ca"),
        col("n").as("n_a"))
    val b = ct.join(ns, Seq("g"))
      .select(col("g").as("src_b"), col("tok"), col("c").as("cb"),
        col("n").as("n_b"))
    val cad = col("ca").cast("double"); val cbd = col("cb").cast("double")
    val nad = col("n_a").cast("double"); val nbd = col("n_b").cast("double")
    val la = log(lit(2.0) * cad * nbd /
      (cad * nbd + cbd * nad)).cast(L)
    val lb = log(lit(2.0) * cbd * nad /
      (cad * nbd + cbd * nad)).cast(L)
    val ln2 = log(lit(2.0)).cast(L)
    val present = a.join(b, Seq("tok"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(guarded(col("ca"), "present") * la).as("__sa"),
        sum(guarded(col("cb"), "present") * lb).as("__sb"),
        sum(col("ca")).as("__pa"), sum(col("cb")).as("__pb"))
    // pair skeleton from the bounded group table: a pair sharing NO
    // tokens has no `present` row but is maximally divergent (jsd =
    // ln 2 exactly) — dropping it would silently report nothing
    // precisely when drift is largest (the chi-square zero-cell lesson)
    val skeleton = ns.select(col("g").as("src_a"), col("n").as("n_a"))
      .crossJoin(ns.select(col("g").as("src_b"), col("n").as("n_b")))
      .where(col("src_a") < col("src_b"))
    // the absent-side closed form joins the present sum at the DOUBLE
    // boundary (a (38,12)+(38,12) decimal add would overflow Spark's
    // precision cap and silently rescale to (38,11) — diverging from
    // engines that keep the full scale); every operand entering the
    // chain is still an exact decimal or integer, cast once
    skeleton.join(present, Seq("src_a", "src_b"), "left")
      .withColumn("__sa", coalesce(col("__sa"), lit(0L).cast(L)))
      .withColumn("__sb", coalesce(col("__sb"), lit(0L).cast(L)))
      .withColumn("__pa", coalesce(col("__pa"), lit(0L)))
      .withColumn("__pb", coalesce(col("__pb"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        (((col("__sa").cast("double") +
            (col("n_a") - col("__pa")).cast("double") *
              ln2.cast("double")) / col("n_a").cast("double") +
          (col("__sb").cast("double") +
            (col("n_b") - col("__pb")).cast("double") *
              ln2.cast("double")) / col("n_b").cast("double")) /
          lit(2.0)).as("jsd"))
  }

  /** Corpus token distribution — the PINNED model side of the drift
    * monitor: (tok, big_c) counts. Pair with its summed total. */
  def tokenDistribution(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("big_c"))

  /** One-row exact TV distance of `batch`'s token distribution against
    * a pinned corpus distribution — [[sourceDrift]]'s arithmetic with
    * the corpus side FROZEN (the train-once contract): batch-only
    * tokens contribute c·N, corpus-only tokens fold in closed form
    * N_b·(N − ΣC_matched). The per-micro-batch scoring core of
    * [[graft.streaming.Streams.driftMonitorSink]].
    * Output: one row (n_tokens, tv_distance); n_tokens = 0 and null
    * distance for an empty batch. */
  def tvAgainstCorpus(batch: DataFrame, textCol: String,
      corpusCounts: DataFrame, corpusTotal: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(corpusTotal > 0, "empty pinned corpus")
    val D = DecimalType(18, 0)
    val ct = batch.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // the batch total rides an unpartitioned window over the batch's
    // own (vocab-bounded) count table — a micro-batch-sized sort slice,
    // not a corpus operation
    val withNb = ct.join(corpusCounts, Seq("tok"), "left")
      .withColumn("__nb", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val folded = withNb.agg(
      max(col("__nb")).as("n_tokens"),
      sum(abs(col("c").cast(D) * lit(corpusTotal).cast(D) -
        coalesce(col("big_c"), lit(0L)).cast(D) * col("__nb").cast(D)))
        .as("__diff"),
      sum(coalesce(col("big_c"), lit(0L))).as("__c_matched"))
    folded.select(
      coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
      when(col("n_tokens").isNotNull,
        (col("__diff") +
          col("n_tokens").cast(D) *
            (lit(corpusTotal) - col("__c_matched")).cast(D)).cast("double") /
          (lit(2.0) * col("n_tokens").cast("double") *
            lit(corpusTotal.toDouble))).as("tv_distance"))
  }

  /** Differential word usage — log-odds ratio with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn 2008, the "Fightin'
    * Words" method): which words distinguish the TARGET slice of the
    * corpus from the rest, shrunk so rare words don't dominate the way
    * raw PMI/tf-idf deltas do. Per word:
    *   δ_w = ln((y₁+α)/(n₁+α₀−y₁−α)) − ln((y₂+α)/(n₂+α₀−y₂−α))
    *   z_w = δ_w / sqrt(1/(y₁+α) + 1/(y₂+α))
    * The mixture-curation question in one table: "what is src0 full
    * of that the rest of the corpus isn't".
    *
    * Determinism: the two ln's (the only transcendentals) are each
    * quantized once to DECIMAL(28,12) — the x76 idf discipline — and
    * δ is their EXACT decimal difference cast to double at the
    * boundary; z adds two divisions and one exactly-rounded sqrt in
    * fixed order. Scale shape: one tokenize pass, one (side, word)
    * combiner agg, a model-sized full-outer word join, one 1-row
    * broadcast of totals. Output: (term, y1, y2, delta, z). */
  def logOddsWords(docs: DataFrame, groupCol: String, textCol: String,
      targetValue: String, alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(alpha > 0, s"alpha $alpha must be positive")
    val toks = docs.select(
      (col(groupCol) === targetValue).as("__t"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val counts = toks.groupBy("term").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("y1"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("y2"))
    val totals = broadcast(counts.agg(
      sum(col("y1")).as("__n1"), sum(col("y2")).as("__n2"),
      count(lit(1)).as("__v")))
    val a = lit(alpha)
    val a0 = col("__v").cast("double") * a
    def side(y: Column, n: Column) =
      log((y.cast("double") + a) /
          (n.cast("double") + a0 - y.cast("double") - a))
        .cast(DecimalType(28, 12))
    counts.crossJoin(totals)
      .withColumn("__d",
        (side(col("y1"), col("__n1")) - side(col("y2"), col("__n2")))
          .cast("double"))
      .select(col("term"), col("y1"), col("y2"),
        col("__d").as("delta"),
        (col("__d") / sqrt(
          lit(1.0) / (col("y1").cast("double") + a) +
            lit(1.0) / (col("y2").cast("double") + a))).as("z"))
  }

  /** SIF document embeddings over HASHED word vectors (Arora, Liang &
    * Ma ICLR 2017, "a simple but tough-to-beat baseline", the
    * smooth-inverse-frequency weighting; word vectors are ±1
    * hash-sign features, the x97 hashing-trick space) — the
    * embedding-free way to give every document a vector the
    * similarity/ANN family can consume: e_d[i] = (1/n_d)·Σ_t tf_t ·
    * w_t · sign(t, i), with w_t = a/(a + p(t)) and sign from the
    * engine-portable polyHash, so the WHOLE vectorization is
    * oracle-recomputable, not just its shape.
    *
    * Determinism: with a = 1/aInv, w_t = T/(T + aInv·c_t) — a ratio
    * of exact integers, ONE double division quantized to
    * DECIMAL(28,12); each contribution is (tf as DECIMAL(9,0))·w_t
    * (exact, precision 38), sign applied by NEGATION (a ±1 multiply
    * would overflow the precision cap and silently rescale); per-cell
    * sums are exact decimal; one boundary division by n_d.
    * Scale shape: one tokenize scan → the (id, term, tf) table
    * (checkpointed once, three consumers); weights join on the
    * vocabulary key; the dim explode is a bounded literal; the final
    * agg is map-side combinable on (id, dim).
    * Output: (id, dim, v) dense triples, dim = 0..dim−1. */
  def sifEmbed(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 8, aInv: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(dim >= 1 && dim <= 64, s"sifEmbed: dim=$dim outside [1,64]")
    require(aInv >= 1, s"sifEmbed: aInv=$aInv must be >= 1")
    val D = DecimalType(28, 12)
    val G = DecimalType(9, 0)
    val tf = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds nd, the vocab counts AND contrib
    val nd = tf.groupBy("id").agg(sum(col("tf")).as("__nd"))
    val cnt = tf.groupBy("term").agg(sum(col("tf")).as("__c"))
    val tot = broadcast(cnt.agg(sum(col("__c")).as("__T")))
    val w = cnt.crossJoin(tot).select(col("term"),
      (col("__T").cast("double") /
        (col("__T") + lit(aInv) * col("__c")).cast("double"))
        .cast(D).as("__wt"))
    val dims = broadcast(docs.sparkSession
      .createDataFrame((0 until dim).map(Tuple1(_))).toDF("dim"))
    val contrib = tf.join(w, Seq("term"))
      .crossJoin(dims)
      .withColumn("__p", col("tf").cast(G) * col("__wt"))
      .select(col("id"), col("dim"),
        when(graft.ext.Dedup.polyHash(
          concat(col("term"), lit("#"), col("dim").cast("string")))
          % 2 === 0, col("__p")).otherwise(-col("__p")).as("__v"))
    contrib.groupBy("id", "dim").agg(sum(col("__v")).as("__s"))
      .join(nd, Seq("id"))
      .select(col("id"), col("dim"),
        (col("__s").cast("double") / col("__nd").cast("double")).as("v"))
  }

  /** The SIF weight table alone — (term, wt) with wt = T/(T + aInv·c_t)
    * quantized once to DECIMAL(28,12), exactly the weights [[sifEmbed]]
    * derives internally: the FREEZABLE half of the SIF model (the
    * weights are the only corpus statistic the vectorization needs —
    * signs are pure hash). Persist with [[saveSifWeights]] and a
    * restarted session (or a stream) embeds NEW text against the
    * frozen corpus statistics via [[sifEmbedFrozen]], the
    * Ivf.saveModel frozen-boundary discipline applied to text
    * vectorization. Scale: one tokenize scan + a vocabulary-keyed agg;
    * the 1-row total attaches by broadcast. */
  def sifWeights(docs: DataFrame, textCol: String, aInv: Long = 1000L)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(aInv >= 1, s"sifWeights: aInv=$aInv must be >= 1")
    val D = DecimalType(28, 12)
    val cnt = docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("__c"))
    val tot = broadcast(cnt.agg(sum(col("__c")).as("__T")))
    cnt.crossJoin(tot).select(col("term"),
      (col("__T").cast("double") /
        (col("__T") + lit(aInv) * col("__c")).cast("double"))
        .cast(D).as("wt"))
  }

  /** [[sifEmbed]] against a FROZEN weight table — the serving arm:
    * identical contribution chain (tf · wt, hash-sign by negation,
    * exact decimal sums, one boundary division by n_d), with wt joined
    * from `weights` instead of derived from the input. Over the corpus
    * the weights came from, the output is bit-identical to
    * [[sifEmbed]] (x237 proves it through the DuckDB oracle).
    * OOV CONTRACT: terms absent from the weight table contribute
    * NOTHING to the vector but their tokens still count in n_d (the
    * standard frozen-vocabulary treatment — the denominator is the
    * document's true length); a document consisting ENTIRELY of OOV
    * terms emits no cells. */
  def sifEmbedFrozen(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dim: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(dim >= 1 && dim <= 64, s"sifEmbedFrozen: dim=$dim outside [1,64]")
    val G = DecimalType(9, 0)
    val tf = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds nd AND the contribution join
    val nd = tf.groupBy("id").agg(sum(col("tf")).as("__nd"))
    val dims = broadcast(docs.sparkSession
      .createDataFrame((0 until dim).map(Tuple1(_))).toDF("dim"))
    val contrib = tf
      .join(weights.select(col("term"), col("wt").as("__wt")), Seq("term"))
      .crossJoin(dims)
      .withColumn("__p", col("tf").cast(G) * col("__wt"))
      .select(col("id"), col("dim"),
        when(graft.ext.Dedup.polyHash(
          concat(col("term"), lit("#"), col("dim").cast("string")))
          % 2 === 0, col("__p")).otherwise(-col("__p")).as("__v"))
    contrib.groupBy("id", "dim").agg(sum(col("__v")).as("__s"))
      .join(nd, Seq("id"))
      .select(col("id"), col("dim"),
        (col("__s").cast("double") / col("__nd").cast("double")).as("v"))
  }

  /** The column contracts [[saveSifCells]]/[[loadSifCells]] and
    * [[saveSifWeights]]/[[loadSifWeights]] pin — a reader of a stale
    * or foreign parquet directory fails loudly instead of silently
    * serving a different table shape (the Pipeline.saveManifest
    * discipline). */
  private val sifCellCols = Seq("id", "dim", "v")
  private val sifWeightCols = Seq("term", "wt")

  /** Persist a [[sifEmbed]] cell table as parquet — the durable arm of
    * the session memo (x216's cells are the costliest memoized
    * artifact in the engine: the (id, term, tf)×dim explode, cold
    * 54.6 s at sfx10). The cells are (id, dim, v) triples — corpus-
    * ROW×dim-sized, no text — and deterministic by construction
    * (exact decimal sums, hash signs), so the saved artifact equals a
    * recompute bit-for-bit and the round trip shares x216's oracle. */
  def saveSifCells(cells: DataFrame, path: String): Unit = {
    require(sifCellCols.forall(cells.columns.contains),
      s"not a sifEmbed cell table: has ${cells.columns.toSeq}, " +
        s"needs $sifCellCols")
    cells.select(sifCellCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveSifCells]] parquet; schema-validated loudly. */
  def loadSifCells(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val c = spark.read.parquet(path)
    require(sifCellCols.forall(c.columns.contains),
      s"$path is not a sifEmbed cell table: has ${c.columns.toSeq}, " +
        s"needs $sifCellCols")
    c.select(sifCellCols.map(col): _*)
  }

  /** Persist a [[sifWeights]] table as parquet — the model half of the
    * frozen SIF boundary (weights are DECIMAL(28,12): the parquet
    * round trip is exact, no double re-quantization drift). */
  def saveSifWeights(weights: DataFrame, path: String): Unit = {
    require(sifWeightCols.forall(weights.columns.contains),
      s"not a sifWeights table: has ${weights.columns.toSeq}, " +
        s"needs $sifWeightCols")
    weights.select(sifWeightCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveSifWeights]] parquet; schema-validated loudly. */
  def loadSifWeights(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val w = spark.read.parquet(path)
    require(sifWeightCols.forall(w.columns.contains),
      s"$path is not a sifWeights table: has ${w.columns.toSeq}, " +
        s"needs $sifWeightCols")
    w.select(sifWeightCols.map(col): _*)
  }

  /** HELD-OUT smoothing sweep (Jelinek & Mercer 1980, the deleted-
    * interpolation recipe as one query): for each candidate λ, the
    * held-out log-likelihood of the λ-interpolated unigram model
    * p_λ(w) = λ·c(w)/T + (1−λ)/V trained on the hash-split train
    * slice — hyperparameter tuning AS a grid query, no driver loop
    * (the x158 threshold-sweep discipline applied to LM smoothing).
    * The `best` flag marks the argmax (ties: smaller λ — the less
    * peaked model).
    *
    * Determinism: p_λ(w) depends on w only through its TRAIN COUNT,
    * so held-out mass folds onto the count GRID first (the x183
    * rank-from-counts lesson): loglik(λ) = Σ_grid m(c) · q₍₂₈,₈₎(ln
    * p_λ(c)) — exact decimal sums, and only |grid|·|λ| quantized
    * transcendentals total (Zipf-bounded ≲ √T·|λ|, not vocab·|λ|).
    * The coarse (28,8) quantization + the tiny term count make a
    * cross-engine ln ulp landing on a rounding boundary vanishingly
    * unlikely — at (28,12) over vocab-many terms it was MEASURED
    * (a 3e-12 sf0.01 mismatch). Unseen held-out words get the
    * (1−λ)/V floor (finite for λ < 1 — required loudly). Scale: one
    * tokenize scan, vocab-keyed join, count-grid·|λ| terms, combiner
    * sums; the argmax is a |λ|-row window.
    * Output: (lambda, n_tokens, loglik, best). */
  def lambdaSweep(docs: DataFrame, idCol: String, textCol: String,
      lambdas: Seq[Double] = (1 to 9).map(_ / 10.0),
      trainPerMille: Int = 800): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.expressions.Window
    require(lambdas.nonEmpty && lambdas.distinct == lambdas &&
      lambdas.forall(l => l >= 0.0 && l < 1.0),
      s"lambdaSweep: lambdas=$lambdas must be distinct in [0,1)")
    require(trainPerMille >= 1 && trainPerMille <= 999,
      s"lambdaSweep: trainPerMille=$trainPerMille")
    val D = DecimalType(28, 8)
    val G = DecimalType(9, 0) // 9+28+1 = 38: the exact-multiply cap
    val toks = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .withColumn("__train",
        Sampling.hashBucket(col("id"), 1000) < trainPerMille)
      .localCheckpoint(true) // feeds the train counts AND the held-out
    val train = toks.where(col("__train"))
      .groupBy("w").agg(count(lit(1)).as("__c"))
    val stats = broadcast(train.agg(sum(col("__c")).as("__T"),
      count(lit(1)).as("__V")))
    // held-out mass on the train-count GRID: m(c) = held-out tokens
    // whose word occurred c times in train (c = 0 for unseen)
    val grid = toks.where(!col("__train"))
      .groupBy("w").agg(count(lit(1)).as("__n"))
      .join(train, Seq("w"), "left")
      .groupBy(coalesce(col("__c"), lit(0L)).as("__c"))
      .agg(sum(col("__n")).as("__m"))
    val lam = broadcast(docs.sparkSession
      .createDataFrame(lambdas.map(Tuple1(_))).toDF("lambda"))
    val p = col("lambda") *
      (col("__c").cast("double") / col("__T").cast("double")) +
      (lit(1.0) - col("lambda")) *
        (lit(1.0) / col("__V").cast("double"))
    // loud (9,0) bound on the grid mass — one count-class carrying
    // ≥ 1e9 held-out tokens needs the wider-split form, not silence
    val mD = when(col("__m") < lit(1000000000L), col("__m").cast(G))
      .otherwise(raise_error(concat(
        lit("lambdaSweep: count-class mass "), col("__m").cast("string"),
        lit(" overflows the DECIMAL(9,0) exact-multiply bound")))
        .cast(G))
    val perLambda = grid
      .crossJoin(stats).crossJoin(lam)
      .select(col("lambda"), col("__m"),
        (mD * log(p).cast(D)).as("__t"))
      .groupBy("lambda")
      .agg(sum(col("__m")).as("n_tokens"),
        sum(col("__t")).cast("double").as("loglik"))
    val wBest = Window.orderBy(col("loglik").desc, col("lambda").asc)
    perLambda
      .withColumn("best", row_number().over(wBest) === 1)
      .select(col("lambda"), col("n_tokens"), col("loglik"), col("best"))
  }

  /** GOOD–TURING frequency smoothing (Good 1953; the count-of-counts
    * estimator): for each observed frequency class r, the adjusted
    * count r* = (r+1)·N_{r+1}/N_r and smoothed per-item probability
    * r* / T — what a frequency table actually predicts about the NEXT
    * sample, with the leave-one-out mass the raw MLE overclaims
    * returned to the unseen (p_unseen = N_1/T, readable off the r = 1
    * row). The LM-smoothing companion of [[vocabularyBudget]]'s Zipf
    * cut, over the same count-of-counts grid.
    *
    * Determinism: N_r and T are exact integers; r* and p are one
    * double chain each from integer operands. r classes with no
    * successor class (N_{r+1} = 0) report NULL r* — the standard
    * truncation (production smoothers switch to a fitted tail there;
    * Gale & Sampson 1995), never a silent 0. Scale: one tokenize
    * scan → vocab counts → the count-of-counts grid (Zipf-bounded,
    * ≲ √T distinct values); the lead() window rides the grid.
    * Output: (r, n_r, r_star, p_item) ordered by r. */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r"))
    val grid = cnts.groupBy("r").agg(count(lit(1)).as("n_r"))
    val tot = broadcast(grid.agg(sum(col("r") * col("n_r")).as("__T")))
    // grid-bounded window (the discrete-value contract)
    val wg = Window.orderBy("r")
    grid
      .withColumn("__nr1", lead(col("n_r"), 1).over(wg))
      .withColumn("__r1", lead(col("r"), 1).over(wg))
      .crossJoin(tot)
      .select(col("r"), col("n_r"),
        when(col("__r1") === col("r") + 1,
          (col("r") + 1).cast("double") * col("__nr1").cast("double") /
            col("n_r").cast("double")).as("r_star"),
        when(col("__r1") === col("r") + 1,
          (col("r") + 1).cast("double") * col("__nr1").cast("double") /
            col("n_r").cast("double") / col("__T").cast("double"))
          .as("p_item"))
  }

  /** VOCABULARY BUDGET — the tokenizer-design read: for each coverage
    * target (per-mille of total token mass), the SMALLEST
    * top-frequency vocabulary that reaches it, plus what it covers
    * exactly. "How many types do 99% of tokens need?" is the question
    * a vocabulary size is chosen by (Zipf's law makes the answer far
    * smaller than |V|; Heaps' law says |V| itself never stops
    * growing — x113's curve gives the growth, this gives the cut).
    *
    * Scale discipline: the cumulative NEVER runs over terms — terms
    * are grouped by their count value first (the x183 rank-from-
    * counts lesson applied to Zipf mass), so the window is over the
    * DISTINCT-COUNT grid (≲ √(total tokens) values by Zipf, bounded
    * regardless of |V|), and the threshold cut lands inside one
    * bucket by exact integer arithmetic: required = ⌈T·ppm/1000⌉ by
    * integer DIV, terms-into-bucket = ⌈(required − cumBefore)/cnt⌉.
    * No doubles anywhere except the reported coverage ratio.
    * Output per target: (ppm, vocab_size, covered_mass, total_mass,
    * coverage), vocab_size = 0 for a 0-mass corpus (NULL coverage). */
  def vocabularyBudget(docs: DataFrame, idCol: String, textCol: String,
      ppms: Seq[Int]): DataFrame = {
    require(ppms.nonEmpty && ppms.distinct == ppms &&
      ppms.forall(p => p >= 1 && p <= 1000),
      s"vocabularyBudget: ppms=$ppms must be distinct in [1,1000]")
    import org.apache.spark.sql.expressions.Window
    val cnts = docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val grid = cnts.groupBy("cnt").agg(count(lit(1)).as("n_terms"))
      .withColumn("mass", col("cnt") * col("n_terms"))
    // grid-bounded window (the discrete-value contract; most-frequent
    // buckets first)
    val wg = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid
      .withColumn("m_before", coalesce(sum(col("mass")).over(wg), lit(0L)))
      .withColumn("t_before", coalesce(sum(col("n_terms")).over(wg), lit(0L)))
    val tot = broadcast(grid.agg(sum(col("mass")).as("__T")))
    val targets = docs.sparkSession
      .createDataFrame(ppms.map(Tuple1(_))).toDF("ppm")
    // required mass = ceil(T·ppm/1000) in exact integers; the unique
    // bucket where the running mass first reaches it
    val required = expr("(__T * ppm + 999) DIV 1000")
    val hit = broadcast(targets).crossJoin(tot).crossJoin(cum)
      .where(col("m_before") < required &&
        col("m_before") + col("mass") >= required)
      .withColumn("__k",
        expr("(((__T * ppm + 999) DIV 1000) - m_before + cnt - 1) DIV cnt"))
      .select(col("ppm"),
        (col("t_before") + col("__k")).as("vocab_size"),
        (col("m_before") + col("__k") * col("cnt")).as("covered_mass"),
        col("__T").as("total_mass"),
        ((col("m_before") + col("__k") * col("cnt")).cast("double") /
          col("__T").cast("double")).as("coverage"))
    // a 0-mass corpus hits no bucket: emit the degenerate row per ppm
    val empty = broadcast(targets).crossJoin(tot)
      .where(col("__T").isNull || col("__T") === 0L)
      .select(col("ppm"), lit(0L).as("vocab_size"),
        lit(0L).as("covered_mass"),
        coalesce(col("__T"), lit(0L)).as("total_mass"),
        lit(null).cast("double").as("coverage"))
    hit.unionByName(empty)
  }

  /** TOKEN–LABEL mutual information — the feature-selection audit
    * (Manning, Raghavan & Schütze 2008 §13.5.1): for every (term,
    * label) cell of the FULL vocabulary × label grid, the MI of the
    * binary variables "document contains term" × "document has label"
    * from the exact 2×2 contingency table (N11 docs with term+label,
    * N10 term without label, N01 label without term, N00 neither).
    * High-MI terms are the label's signature vocabulary — what a
    * classifier-data audit reads before trusting a split, and what
    * leaks when a label's shard was scraped from one source.
    *
    * Grid discipline (the chi-square zero-cell / JSD-skeleton
    * lesson): the grid enumerates ALL terms × ALL labels — a term a
    * label never saw still gets its row (N11 = 0), because "this
    * vocabulary is absent from that label" is itself the signal.
    * Zero cells contribute exactly 0 (the 0·log 0 limit); marginals
    * come from the n11 table itself (one label per doc ⟹ N1· =
    * Σ_label N11) except the label totals, which count EVERY doc —
    * including term-less empty ones.
    *
    * Determinism: all counts exact integers; each of the four
    * p·log₂ terms is ONE fixed-order double chain quantized once to
    * DECIMAL(28,12); the cell sum is exact decimal arithmetic with
    * one boundary cast. Scale shape: one distinct-presence scan
    * (corpus-sized), then everything is (vocab × labels)-bounded —
    * the n11 agg is map-side combinable, the grid a
    * vocab × |labels| cross join with the label table broadcast.
    * Output: (term, label, n11, n10, n01, n00, mi). */
  def tokenLabelMI(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, minDf: Long = 1L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(minDf >= 1, s"tokenLabelMI: minDf=$minDf must be >= 1")
    val D = DecimalType(28, 12)
    val pres = docs.select(col(labelCol).as("label"),
      explode(array_distinct(tokens(lower(col(textCol))))).as("term"))
    val n11T = pres.groupBy("term", "label")
      .agg(count(lit(1)).as("n11"))
      .localCheckpoint(true) // feeds the term marginals AND the grid
    val ni = n11T.groupBy("term").agg(sum(col("n11")).as("__ni"))
      .where(col("__ni") >= minDf)
    val nj = broadcast(docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nj")))
    val nT = broadcast(nj.agg(sum(col("__nj")).as("__N")))
    def cell(nij: Column, rowM: Column, colM: Column): Column =
      when(nij > 0,
        ((nij.cast("double") / col("__N").cast("double")) *
          log2((nij.cast("double") * col("__N").cast("double")) /
            (rowM.cast("double") * colM.cast("double")))).cast(D))
        .otherwise(lit(0).cast(D))
    ni.crossJoin(nj).crossJoin(nT)
      .join(n11T, Seq("term", "label"), "left")
      .withColumn("n11", coalesce(col("n11"), lit(0L)))
      .withColumn("n10", col("__ni") - col("n11"))
      .withColumn("n01", col("__nj") - col("n11"))
      .withColumn("n00",
        col("__N") - col("__ni") - col("__nj") + col("n11"))
      .select(col("term"), col("label"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        (cell(col("n11"), col("__ni"), col("__nj")) +
          cell(col("n10"), col("__ni"), col("__N") - col("__nj")) +
          cell(col("n01"), col("__N") - col("__ni"), col("__nj")) +
          cell(col("n00"), col("__N") - col("__ni"),
            col("__N") - col("__nj")))
          .cast("double").as("mi"))
  }

  /** Per-document LOG-likelihood under the add-k bigram model — the
    * actual perplexity-filtering signal (CCNet gates on log-space LM
    * scores, not probability means): mean ln P(w₂|w₁) over the
    * document's bigrams, P smoothed add-k so unseen pairs score
    * finitely. Where [[bigramScoreWith]] averages probabilities (one
    * boilerplate bigram can dominate), the log mean is the
    * geometric-mean criterion perplexity is defined on —
    * ppl = exp(−loglik).
    *
    * Determinism: each ln (the only transcendental) is quantized once
    * to DECIMAL(28,12); the per-document sum is an exact decimal with
    * ONE boundary division. Skew: both count joins run salted (the
    * family discipline). Output: (id, n_bigrams, loglik), null for
    * documents with no bigram. */
  def bigramLogLikelihood(docs: DataFrame, idCol: String, textCol: String,
      c1: DataFrame, c2: DataFrame, smoothK: Double, vocab: Long,
      salt: Int = DefaultScoreSalt): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(smoothK > 0 && vocab > 0,
      "add-k log scoring needs k > 0 and the vocabulary size")
    val q = log(
        (coalesce(col("cnt2"), lit(0L)).cast("double") + lit(smoothK)) /
          (coalesce(col("cnt1"), lit(0L)).cast("double") +
            lit(smoothK) * lit(vocab.toDouble)))
      .cast(DecimalType(28, 12))
    val bg = bigrams(docs, idCol, textCol)
    val saltCols = Seq(col("id"), col("w1"), col("w2"))
    val withCounts =
      if (salt <= 1)
        bg.join(c2, Seq("w1", "w2"), "left").join(c1, Seq("w1"), "left")
      else
        graft.operators.Skew.saltedJoin(
          graft.operators.Skew.saltedJoin(bg, c2, Seq("w1", "w2"),
            salt, "left", saltOn = saltCols),
          c1, Seq("w1"), salt, "left", saltOn = saltCols)
    val agg = withCounts
      .withColumn("q", q)
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("q")).cast("double") / count(lit(1))).as("loglik"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("loglik"))
  }

  /** One (id, w1, w2, w3) row per trigram occurrence. */
  private def trigrams(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        tokens(lower(col(textCol))).as("t"))
      .select(col("id"), explode(expr(
        "zip_with(zip_with(slice(t, 1, greatest(size(t) - 2, 0)), " +
          "slice(t, 2, greatest(size(t) - 2, 0)), " +
          "(a, b) -> named_struct('w1', a, 'w2', b)), " +
          "slice(t, 3, greatest(size(t) - 2, 0)), " +
          "(p, c) -> named_struct('w1', p.w1, 'w2', p.w2, 'w3', c))"))
        .as("tg"))
      .select(col("id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))

  /** The trained trigram model: ((w1,w2) → cctx context counts,
    * (w1,w2,w3) → cnt3). cctx is Σ_w3 cnt3 — the number of trigram
    * occurrences with that context — derived from c3, so the whole
    * model comes from one tokenize+explode pass. */
  def trigramModel(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val c3 = trigrams(docs, idCol, textCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cnt3"))
    (c3.groupBy("w1", "w2").agg(sum(col("cnt3")).as("cctx")), c3)
  }

  /** Trigram scoring with the full Jelinek-Mercer backoff CHAIN (the
    * standard interpolated n-gram recipe, public):
    * P = λ₃·P_MLE(w₃|w₁w₂) + λ₂·P_MLE(w₃|w₂) + (1−λ₃−λ₂)·P_uni(w₃) —
    * an unseen trigram backs off to the bigram evidence, an unseen
    * bigram to the global continuation frequency, so the score
    * degrades gracefully along the whole ladder instead of cliffing
    * at the trigram table. The bigram and unigram terms come from the
    * SAME corpus's [[bigramModel]]/[[unigramModel]].
    *
    * Determinism: every term is an IEEE double division of exact
    * counts; the three-way interpolation is computed left to right
    * and quantized ONCE to DECIMAL(28,12) before the per-document sum
    * (raw count divisions essentially never terminate at the tie
    * digit — the x70 re-quantization hazard does not apply). All five
    * count joins run salted against the Zipf head. Output:
    * (id, n_trigrams, trigram_score), null for documents with fewer
    * than three tokens. */
  def trigramScoreJmWith(docs: DataFrame, idCol: String,
      textCol: String, cctx: DataFrame, c3: DataFrame, c1: DataFrame,
      c2: DataFrame, uni: DataFrame, total: Long,
      lambda3: Double = 0.5, lambda2: Double = 0.3,
      salt: Int = DefaultScoreSalt): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(total > 0, "empty training corpus")
    require(lambda3 >= 0 && lambda2 >= 0 && lambda3 + lambda2 <= 1,
      s"lambdas ($lambda3, $lambda2) must be non-negative and sum <= 1")
    val p3 = coalesce(
      col("cnt3").cast("double") / col("cctx").cast("double"), lit(0.0))
    val p2 = coalesce(
      col("bcnt2").cast("double") / col("bcnt1").cast("double"),
      lit(0.0))
    val p1 = coalesce(
      col("cntu").cast("double") / lit(total.toDouble), lit(0.0))
    val p = (lit(lambda3) * p3 + lit(lambda2) * p2 +
      lit(1.0 - lambda3 - lambda2) * p1).cast(DecimalType(28, 12))
    // the bigram terms attach on (w2, w3) / (w2): rename so the join
    // keys line up with the trigram stream's continuation position
    val b2 = c2.select(col("w1").as("w2"), col("w2").as("w3"),
      col("cnt2").as("bcnt2"))
    val b1 = c1.select(col("w1").as("w2"), col("cnt1").as("bcnt1"))
    val u3 = uni.select(col("w2").as("w3"), col("cntu"))
    val tg = trigrams(docs, idCol, textCol)
    val saltCols = Seq(col("id"), col("w1"), col("w2"), col("w3"))
    def j(l: DataFrame, m: DataFrame, keys: Seq[String]): DataFrame =
      if (salt <= 1) l.join(m, keys, "left")
      else graft.operators.Skew.saltedJoin(l, m, keys, salt, "left",
        saltOn = saltCols)
    val withCounts = j(j(j(j(j(tg, c3, Seq("w1", "w2", "w3")),
      cctx, Seq("w1", "w2")), b2, Seq("w2", "w3")), b1, Seq("w2")),
      u3, Seq("w3"))
    val agg = withCounts
      .withColumn("p", p)
      .groupBy("id")
      .agg(count(lit(1)).as("n_trigrams"),
        (sum(col("p")).cast("double") / count(lit(1)))
          .as("trigram_score"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("trigram_score"))
  }

  /** [[trigramScoreJmWith]] trained on the scoring corpus itself. */
  def trigramScoreJm(docs: DataFrame, idCol: String, textCol: String,
      lambda3: Double = 0.5, lambda2: Double = 0.3,
      salt: Int = DefaultScoreSalt): DataFrame = {
    val (cctx, c3) = trigramModel(docs, idCol, textCol)
    val (c1, c2) = bigramModel(docs, idCol, textCol)
    trigramScoreJmWith(docs, idCol, textCol, cctx, c3, c1, c2,
      unigramModel(c2), bigramTotal(c2), lambda3, lambda2, salt)
  }

  /** DSIR-style importance scoring (Xie et al., NeurIPS 2023 "Data
    * Selection for Language Models via Importance Resampling" — public
    * recipe): score each document by how much more likely its text is
    * under a TARGET-domain n-gram model than under the background
    * corpus model; selecting high scorers tilts a pretraining mixture
    * toward the target domain. Both models are add-k smoothed bigram
    * conditionals ([[bigramScoreWith]]'s k > 0 form — smoothing is
    * mandatory here so the background probability is never 0). The
    * per-document score is Σp_target / Σp_background over its bigrams
    * (the ratio of mean conditional likelihoods) rather than the
    * paper's summed log-ratio: ln() is libm-dependent and would break
    * cross-engine hash parity, and a per-bigram ratio CANNOT be
    * re-quantized safely — ratios of two scale-12 decimals routinely
    * have shortest double representations terminating exactly one
    * digit past the scale (a measured example: 0.9062457291125), a
    * rounding TIE where Spark's double→decimal cast rounds HALF_UP
    * and DuckDB's HALF_EVEN. Summing the two quantized probabilities
    * separately keeps every aggregate inside the exact-decimal
    * discipline; the single boundary division is one IEEE op on two
    * exactly-agreed doubles. Output: (id, n_bigrams, importance),
    * null importance for documents with no bigram.
    *
    * The same salt discipline as [[bigramScoreWith]] covers all four
    * count joins; the two models ride each salted shuffle at
    * model-size × salt, the occurrence stream scatters once. */
  def importanceRatioScore(docs: DataFrame, idCol: String,
      textCol: String, target: DataFrame, smoothK: Double = 0.5,
      salt: Int = DefaultScoreSalt): DataFrame = {
    require(smoothK > 0, "importance ratio needs smoothK > 0 (the " +
      "background probability must never be 0)")
    val (c1t, c2t) = bigramModel(target, idCol, textCol)
    val (c1b, c2b) = bigramModel(docs, idCol, textCol)
    importanceScoreWith(docs, idCol, textCol,
      c2t.withColumnRenamed("cnt2", "cnt2_t"),
      c1t.withColumnRenamed("cnt1", "cnt1_t"),
      c2b.withColumnRenamed("cnt2", "cnt2_b"),
      c1b.withColumnRenamed("cnt1", "cnt1_b"),
      bigramVocab(c2t), bigramVocab(c2b), smoothK, salt)
  }

  /** [[importanceRatioScore]] for the common case where the TARGET is a
    * PREDICATE over the scoring corpus itself (x70/x73: target =
    * `lang = 'en'`): both bigram models come from ONE occurrence-stream
    * aggregation with a conditional target count — `cnt2_t =
    * count(when(isTarget, 1))` — instead of two independent
    * `bigramModel` passes over the corpus, and the score stream
    * attaches (cnt2_t, cnt2_b) / (cnt1_t, cnt1_b) with TWO key-joins
    * instead of four (the r16 guide-§2.4 shared-exchange shape). The
    * prefix counts c1 fold from the c2 grid (Σ_w2 cnt2 per w1 — the
    * same integers), so the model costs one shuffle of the bigram
    * stream plus one bounded re-agg.
    *
    * Value-equivalence to the two-model form (oracle-pinned on
    * x70/x73, ExtSpec-pinned on randomized corpora): a (w1,w2) pair
    * absent from the target model joined NULL there and the add-k
    * smoothing coalesces NULL to 0 — exactly what the conditional
    * count's 0 contributes; vocabularies filter cnt_t > 0 before the
    * distinct so zero-count rows can't inflate V_t. */
  def importanceRatioScoreFlagged(docs: DataFrame, idCol: String,
      textCol: String, isTarget: Column, smoothK: Double = 0.5,
      salt: Int = DefaultScoreSalt): DataFrame = {
    require(smoothK > 0, "importance ratio needs smoothK > 0 (the " +
      "background probability must never be 0)")
    val bgf = docs.select(col(idCol).as("id"), isTarget.as("__t"),
        tokens(lower(col(textCol))).as("t"))
      .select(col("id"), col("__t"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))")).as("bg"))
      .select(col("id"), col("__t"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"))
    val c2 = bgf.groupBy("w1", "w2").agg(
      count(lit(1)).as("cnt2_b"),
      count(when(col("__t"), 1)).as("cnt2_t"))
    val c1 = c2.groupBy("w1").agg(
      sum(col("cnt2_b")).as("cnt1_b"),
      sum(col("cnt2_t")).as("cnt1_t"))
    // vocabulary sizes: distinct continuations with a NON-ZERO count in
    // the respective model (a zero target count means "absent from the
    // target model")
    val vb = c2.select(col("w2")).distinct().count()
    val vt = c2.where(col("cnt2_t") > 0).select(col("w2")).distinct().count()
    val bg = bgf.select(col("id"), col("w1"), col("w2"))
    val saltCols = Seq(col("id"), col("w1"), col("w2"))
    def j(l: DataFrame, m: DataFrame, keys: Seq[String]): DataFrame =
      if (salt <= 1) l.join(m, keys, "left")
      else graft.operators.Skew.saltedJoin(l, m, keys, salt, "left",
        saltOn = saltCols)
    val withCounts = j(j(bg, c2, Seq("w1", "w2")), c1, Seq("w1"))
    val agg = withCounts
      .withColumn("pt", smoothedProb(col("cnt2_t"), col("cnt1_t"), vt, smoothK))
      .withColumn("pb", smoothedProb(col("cnt2_b"), col("cnt1_b"), vb, smoothK))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("pt")).cast("double") / sum(col("pb")).cast("double"))
          .as("importance"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("importance"))
  }

  /** Train-once serving form of [[importanceRatioScore]]: both models
    * (target on `target`, background on `background`) are built and
    * checkpointed NOW, vocabulary sizes counted once, and the returned
    * closure scores any document frame against them — the shape
    * [[graft.streaming.Streams.importanceScoreSink]] applies per
    * micro-batch. Unseen-prefix arrivals score through the smoothing
    * floors, never error. */
  def importanceScorer(background: DataFrame, target: DataFrame,
      idCol: String, textCol: String, smoothK: Double = 0.5,
      salt: Int = DefaultScoreSalt): DataFrame => DataFrame = {
    require(smoothK > 0, "importance ratio needs smoothK > 0 (the " +
      "background probability must never be 0)")
    val (c1t, c2t) = bigramModel(target, idCol, textCol)
    val (c1b, c2b) = bigramModel(background, idCol, textCol)
    val c2tr = c2t.withColumnRenamed("cnt2", "cnt2_t").localCheckpoint()
    val c1tr = c1t.withColumnRenamed("cnt1", "cnt1_t").localCheckpoint()
    val c2br = c2b.withColumnRenamed("cnt2", "cnt2_b").localCheckpoint()
    val c1br = c1b.withColumnRenamed("cnt1", "cnt1_b").localCheckpoint()
    val vt = bigramVocab(c2tr.withColumnRenamed("cnt2_t", "cnt2"))
    val vb = bigramVocab(c2br.withColumnRenamed("cnt2_b", "cnt2"))
    docs => importanceScoreWith(docs, idCol, textCol, c2tr, c1tr,
      c2br, c1br, vt, vb, smoothK, salt)
  }

  /** The importance family's add-k smoothed conditional
    * (cnt2 + k) / (cnt1 + k·V) at scale 12, a missing count read as 0.
    * A model with an EMPTY vocabulary (V = 0: a target predicate no
    * document meets, or an empty target frame) defines no probability,
    * so the column is null — and so is every importance built on it,
    * the same null a document without a bigram gets — instead of a
    * division by zero inside generated code. */
  private def smoothedProb(cnt2: Column, cnt1: Column, v: Long,
      smoothK: Double): Column = {
    import org.apache.spark.sql.types.DecimalType
    if (v == 0) lit(null).cast(DecimalType(28, 12))
    else ((coalesce(cnt2, lit(0L)).cast("double") + lit(smoothK)) /
      (coalesce(cnt1, lit(0L)).cast("double") +
        lit(smoothK) * lit(v.toDouble)))
      .cast(DecimalType(28, 12))
  }

  private def importanceScoreWith(docs: DataFrame, idCol: String,
      textCol: String, c2t: DataFrame, c1t: DataFrame, c2b: DataFrame,
      c1b: DataFrame, vt: Long, vb: Long, smoothK: Double,
      salt: Int): DataFrame = {
    val bg = bigrams(docs, idCol, textCol)
    val saltCols = Seq(col("id"), col("w1"), col("w2"))
    def j(l: DataFrame, m: DataFrame, keys: Seq[String]): DataFrame =
      if (salt <= 1) l.join(m, keys, "left")
      else graft.operators.Skew.saltedJoin(l, m, keys, salt, "left",
        saltOn = saltCols)
    val withCounts = j(j(j(j(bg, c2t, Seq("w1", "w2")),
      c1t, Seq("w1")), c2b, Seq("w1", "w2")), c1b, Seq("w1"))
    val agg = withCounts
      .withColumn("pt", smoothedProb(col("cnt2_t"), col("cnt1_t"), vt, smoothK))
      .withColumn("pb", smoothedProb(col("cnt2_b"), col("cnt1_b"), vb, smoothK))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("pt")).cast("double") / sum(col("pb")).cast("double"))
          .as("importance"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("importance"))
  }

  /** Default salt width for [[bigramScoreWith]]'s skewed count joins:
    * spreads the hottest stopword key over 16 reducers (the measured
    * Zipf head of English puts ~5-7% of all bigram occurrences on the
    * single hottest `w1`; /16 brings it under the uniform-key bill) at
    * the cost of replicating the count tables 16× through their
    * shuffle — counts are one row per DISTINCT key, orders of
    * magnitude below occurrence volume. */
  val DefaultScoreSalt: Int = 16

  /** Canonical-form fingerprint: lowercase, collapse non-alphanumerics,
    * hash. Used for exact dedup robust to formatting noise. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")).cast("binary"))

  /** `n`-token shingles (contiguous); empty array for short docs. A
    * custom expression — the HOF formulation re-evaluates the tokenizer
    * per element (HOFs are interpreted, no common-subexpression reuse
    * inside the lambda). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.expressions.VectorExpressions.shingles(tokens(lower(text)), n)

  /** Sliding-window token chunking — the context-window preprocessing
    * step (RAG passage splitting / long-document training windows):
    * each document becomes overlapping chunks of `chunkSize` tokens
    * whose starts advance by `stride`. Window starts are
    * 0, stride, 2·stride, … < n_tokens, so the tail is always covered
    * and the final chunk may be short (the return_overflowing_tokens
    * convention). Case is preserved — chunking must not rewrite text.
    *
    * Scale shape: one scan, per-row sequence/slice HOFs, a generator
    * explode — no shuffle at all; output rows ≈ input tokens / stride.
    * Output: (id, chunk_id, n_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .withColumn("dl", size(col("t")))
      .select(col("id"), posexplode(
          transform(sequence(lit(0), col("dl") - 1, lit(stride)),
            s => slice(col("t"), s + 1, lit(chunkSize))))
        .as(Seq("chunk_id", "c")))
      .select(col("id"), col("chunk_id"), size(col("c")).as("n_tokens"),
        array_join(col("c"), " ").as("chunk_text"))
  }

  /** Corpus-level PMI collocation mining (Church & Hanks 1990) — the
    * phrase-discovery step behind tokenizer/vocabulary induction:
    * pmi(w1,w2) = ln(P(w1,w2) / (P(w1)·P(w2))), bigram probability
    * against independent unigram occurrence, keeping pairs seen at
    * least `minCount` times and returning the top `k`.
    *
    * Determinism: the ln argument is evaluated as the FIXED division
    * chain ((c2/T2) / (c1/T1)) / (c1'/T1) — IEEE doubles on exact
    * counts, never a single product that could exceed 2^53 — and the
    * ln is quantized once to DECIMAL(28,12), so the (pmi, w1, w2)
    * ranking compares exact decimals with a total tie-break.
    *
    * Scale shape: counts are map-side-combined aggs; the two unigram
    * joins are VOCABULARY-keyed against the already-aggregated bigram
    * table (one row per distinct pair, not per occurrence), so stopword
    * skew is bounded by distinct continuations; the top-k truncates via
    * TakeOrderedAndProject. Output: (w1, w2, n_pair, pmi). */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toksDf = docs.select(
      explode(tokens(lower(col(textCol)))).as("w"))
    val c1 = toksDf.groupBy("w").agg(count(lit(1)).as("cnt1"))
    val c2 = bigrams(docs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
    val t1 = c1.agg(sum(col("cnt1")).cast("long").as("t1"))
    val t2 = c2.agg(sum(col("cnt2")).cast("long").as("t2"))
    val scored = c2.where(col("cnt2") >= minCount)
      .join(c1.select(col("w").as("w1"), col("cnt1").as("c1a")), Seq("w1"))
      .join(c1.select(col("w").as("w2"), col("cnt1").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .withColumn("pmi",
        log(((col("cnt2").cast("double") / col("t2")) /
             (col("c1a").cast("double") / col("t1"))) /
            (col("c1b").cast("double") / col("t1")))
          .cast(DecimalType(28, 12)))
    scored.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc).limit(k)
      .select(col("w1"), col("w2"), col("cnt2").as("n_pair"),
        col("pmi").cast("double").as("pmi"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models" §A1.1): word-count bounds, mean-word-length
    * bounds, minimum distinct-stopword coverage, and top-word dominance
    * (the cheapest member of the repetition family — Gopher's
    * most-frequent-word fraction). Emits the raw statistics AND each
    * rule's verdict plus the conjunction, so a downstream policy can
    * re-cut thresholds without recomputing the scan.
    *
    * All fractions are one double division of exact integer counts
    * (NULL for an empty document rather than an engine-dependent ÷0) —
    * engine-reproducible bit for bit.
    * Output: (id, n_words, mean_wl, stop_hits, top_word_frac,
    * ok_words, ok_wl, ok_stop, ok_top, gopher_pass).
    * Scale: one scan for the per-row stats; the dominant-token count is
    * a map-side-combinable (id, token) agg — never a per-row O(n·|V|)
    * loop, never a window sort. */
  /** The first `k` merges of byte-pair encoding (Sennrich et al. ACL
    * 2016; public algorithm) over the corpus — distributed vocabulary
    * induction. Words are lowercased whitespace tokens weighted by
    * corpus frequency; each round counts adjacent symbol pairs
    * (multiplicity × word frequency), picks the most frequent pair
    * (ties: smaller (p1, p2)), and rewrites every word by the
    * LEFT-TO-RIGHT NON-OVERLAPPING merge — "aaa" under (a,a) becomes
    * [aa, a], the reference greedy.
    *
    * The rewrite is a seeded left fold over the symbol list with the
    * accumulator a space-joined string (state: "last symbol" =
    * trailing token) — the SAME fold shape DuckDB's `list_reduce`
    * expresses, which is what makes the whole k-round derivation
    * oracle-recomputable. BPE is inherently sequential across rounds:
    * each round is one distributed count + a ONE-ROW argmax collect
    * (the merge pair), k small by design. The word-type table is
    * checkpointed per round so lineage stays flat.
    * Output: (round, p1, p2, merged, cnt), `k` rows. */
  def bpeMerges(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 50, s"bpeMerges: k=$k out of [1,50]")
    val spark = docs.sparkSession
    var words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"),
        col("freq"))
      .localCheckpoint(true)
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    for (round <- 1 to k) {
      val pairs = words.select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .groupBy(col("p.0").as("p1"), col("p.1").as("p2"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("p1").asc, col("p2").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val p1: String = top(0).getString(0)
        val p2: String = top(0).getString(1)
        val cnt = top(0).getLong(2)
        out += ((round, p1, p2, p1 + p2, cnt))
        // left-to-right greedy: if the accumulator's trailing symbol is
        // p1 and the next symbol is p2, replace the tail with the
        // merged symbol; else append. Seeded with the first symbol —
        // the exact shape DuckDB's list_reduce folds.
        val mergedStr = aggregate(
          slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
          element_at(col("syms"), 1),
          (acc, x) => when(
            regexp_extract(acc, "[^ ]+$", 0) === lit(p1) && x === lit(p2),
            concat(acc.substr(lit(1), length(acc) - lit(p1.length)),
              lit(p1 + p2)))
            .otherwise(concat(acc, lit(" "), x)))
        words = words
          .select(split(mergedStr, " ").as("syms"), col("freq"))
          .localCheckpoint(true)
      }
    }
    import spark.implicits._
    out.result().toDF("round", "p1", "p2", "merged", "cnt")
  }

  /** Shannon character entropy per document (nats, over the lowercased
    * character distribution) — the junk detector that catches what
    * token-level rules miss: binary spill, base64 blobs and repeated-
    * character padding sit far from natural-language entropy (~2.5-3.2
    * nats) on both tails.
    *
    * Exactness: H = ln(T) − (Σ c·ln(c))/T. Each ln is quantized once
    * to DECIMAL(28,12) (the x70/x76 recipe); Σ c·ln(c) is an exact
    * decimal sum; the FINAL combination runs in IEEE doubles in a
    * fixed order (lnT − s/T) — deliberately NOT a decimal subtraction,
    * whose (38,12)−(38,12) result Spark silently rescales to
    * (38,11) while DuckDB does not (the x78 multiply lesson applies
    * to ADD too). Decimal→double crossings go through the exact
    * decimal string on the oracle side (the x64 pairing).
    * Scale: one char explode (linear in corpus bytes) + two
    * combiner-bounded aggs. Output: (id, n_chars, entropy); empty
    * documents get n_chars 0 and NULL entropy. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val chars = docs.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), "")).as("c"))
      .where(length(col("c")) > 0)
    val cnts = chars.groupBy("id", "c").agg(count(lit(1)).as("cnt"))
    val lnq = log(col("cnt").cast("double")).cast(DecimalType(28, 12))
    val terms = cnts.groupBy("id").agg(
      sum(col("cnt")).as("__t"),
      sum(col("cnt").cast(DecimalType(9, 0)) * lnq).as("__s"))
    val lnT = log(col("__t").cast("double")).cast(DecimalType(28, 12))
    val ent = lnT.cast("double") -
      col("__s").cast("double") / col("__t").cast("double")
    docs.select(col(idCol).as("id"))
      .join(terms.select(col("id"), col("__t"), ent.as("entropy")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__t"), lit(0L)).as("n_chars"),
        col("entropy"))
  }

  /** Quality-gate threshold SWEEP: the pass count at each candidate
    * top-word-fraction ceiling, other Gopher rules held fixed — the
    * sensitivity table a gate owner reads before moving a threshold
    * (how many documents does each step actually buy?). One
    * [[gopherQuality]] pass + one combiner aggregate with a
    * conditional sum per candidate; the candidate list is bounded and
    * explodes to one row each.
    * Output: (threshold, n_docs, n_pass, pass_rate). */
  def gateSweep(docs: DataFrame, idCol: String, textCol: String,
      topFracs: Seq[Double]): DataFrame = {
    require(topFracs.nonEmpty && topFracs.distinct == topFracs,
      "gateSweep: thresholds must be non-empty and distinct")
    val q = gopherQuality(docs, idCol, textCol)
    val aggs = topFracs.zipWithIndex.map { case (t, i) =>
      sum(when(col("ok_words") && col("ok_wl") && col("ok_stop") &&
          col("top_word_frac").isNotNull && col("top_word_frac") <= t,
        1L).otherwise(0L)).as(s"__p$i")
    } :+ count(lit(1)).as("__n")
    val row = q.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(topFracs.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col("__n").as("n_docs"),
          col(s"__p$i").as("n_pass"),
          (col(s"__p$i").cast("double") / col("__n").cast("double"))
            .as("pass_rate"))
      }: _*)).as("s"))
      .select(col("s.threshold").as("threshold"), col("s.n_docs").as("n_docs"),
        col("s.n_pass").as("n_pass"), col("s.pass_rate").as("pass_rate"))
  }

  /** CODE-SWITCHING audit: chunk every document into non-overlapping
    * token windows, language-ID each chunk ([[langId]]'s marker
    * argmax), and report the per-document language mix — documents
    * whose chunks disagree are mixed-language (or concatenation
    * artifacts), the slice a monolingual training mix wants flagged
    * rather than mislabeled by a whole-document vote. Dominant
    * language breaks ties (count DESC, lang ASC) — a total order.
    * Scale shape: the x79 generator chunking (no shuffle) + two
    * combiner aggregates keyed by id.
    * Output: (id, n_chunks, n_langs, dominant_lang, dominant_share,
    * mixed). */
  def codeSwitchAudit(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32): DataFrame = {
    val labeled = chunkTokens(docs, idCol, textCol, chunkSize, chunkSize)
      .where(col("n_tokens") > 0)
      .withColumn("__lang", langId(col("chunk_text")))
    val per = labeled.groupBy(col("id"), col("__lang"))
      .agg(count(lit(1)).as("__c"))
    per.groupBy("id").agg(
        sum(col("__c")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("__c")).as("nc"), col("__lang").as("l")))
          .as("__top"))
      .select(col("id"), col("n_chunks"), col("n_langs"),
        col("__top.l").as("dominant_lang"),
        ((-col("__top.nc")).cast("double") /
          col("n_chunks").cast("double")).as("dominant_share"),
        (col("n_langs") > 1L).as("mixed"))
  }

  /** VOCABULARY-COVERAGE curve: for each candidate vocabulary size
    * (the top-k corpus terms by frequency), the token mass covered
    * and the OOV rate — the sizing curve a tokenizer/vocabulary
    * decision reads (diminishing returns per 1k types is the whole
    * argument). Ranks are (count DESC, term ASC) — a total order —
    * and every number is an exact integer until the one boundary
    * division. Scale shape: one token-count aggregate + one rank
    * window over the VOCABULARY (types, not tokens) + one combiner
    * fold; cutoffs explode to one row each.
    * Output: (cutoff, n_types, covered_tokens, total_tokens,
    * oov_rate). */
  def vocabCoverage(docs: DataFrame, textCol: String,
      cutoffs: Seq[Long]): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.distinct == cutoffs &&
      cutoffs.forall(_ >= 1), "vocabCoverage: bad cutoffs")
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("term").asc)).cast("long"))
    val aggs = cutoffs.zipWithIndex.flatMap { case (c, i) => Seq(
      sum(when(col("rank") <= c, 1L).otherwise(0L)).as(s"__t$i"),
      sum(when(col("rank") <= c, col("cnt")).otherwise(0L)).as(s"__c$i"))
    } :+ sum(col("cnt")).as("__tot")
    val row = ranked.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(cutoffs.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("cutoff"), col(s"__t$i").as("n_types"),
          col(s"__c$i").as("covered_tokens"),
          col("__tot").as("total_tokens"),
          (lit(1.0) - col(s"__c$i").cast("double") /
            col("__tot").cast("double")).as("oov_rate"))
      }: _*)).as("s"))
      .select(col("s.cutoff").as("cutoff"), col("s.n_types").as("n_types"),
        col("s.covered_tokens").as("covered_tokens"),
        col("s.total_tokens").as("total_tokens"),
        col("s.oov_rate").as("oov_rate"))
  }

  /** Persist a [[bpeMerges]] table (round, p1, p2, merged, cnt)
    * — the tokenizer-artifact half of the index-lifecycle family
    * (quantizers: `Ivf.saveModel`; retrieval: `savePostingsIndex`;
    * this: the merge vocabulary). One tiny parquet; [[loadMerges]]
    * returns the (p1, p2) pairs round-ascending, ready for
    * [[bpeEncodeCounts]] on a NEW corpus — train once, apply
    * everywhere, the cross-session contract. */
  def saveMerges(merges: DataFrame, path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a [[saveMerges]] table as the round-ordered (p1, p2) pairs
    * [[bpeEncodeCounts]] consumes. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession, path: String)
      : Seq[(String, String)] =
    spark.read.parquet(path).select("round", "p1", "p2")
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Apply [[bpeMerges]]' learned merge table to the corpus and report
    * per-document compression: symbols before (= characters of its
    * words) vs after the k greedy merges — the signal tokenizer work
    * reads to judge a merge table's fit on new data. The k folds run
    * over the DISTINCT word-type table once (vocabulary-bounded) and
    * documents join their word counts back — no per-document fold.
    * Output: (id, n_words, n_syms_char, n_syms_bpe). */
  def bpeEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val docWords = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .where(length(col("w")) > 0)
    var types = docWords.select(col("w")).distinct()
      .select(col("w"), transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("syms"))
    for ((p1, p2) <- merges) {
      val mergedStr = aggregate(
        slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
        element_at(col("syms"), 1),
        (acc, x) => when(
          regexp_extract(acc, "[^ ]+$", 0) === lit(p1) && x === lit(p2),
          concat(acc.substr(lit(1), length(acc) - lit(p1.length)),
            lit(p1 + p2)))
          .otherwise(concat(acc, lit(" "), x)))
      types = types.select(col("w"), split(mergedStr, " ").as("syms"))
    }
    val counts = types.select(col("w"),
      length(col("w")).cast("long").as("__chars"),
      size(col("syms")).cast("long").as("__post"))
    val agg = docWords.join(counts, Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("__nw"),
        sum(col("__chars")).as("__nc"),
        sum(col("__post")).as("__np"))
    // LEFT join back: a document whose tokens are all empty (blank
    // text) must keep its row with zero counts, not vanish
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__nc"), lit(0L)).as("n_syms_char"),
        coalesce(col("__np"), lit(0L)).as("n_syms_bpe"))
  }

  /** Feature hashing (the hashing trick, Weinberger et al. ICML 2009):
    * each lowercased token lands in bucket `polyHash(token) mod dim`,
    * and the document's feature vector is the per-bucket term-frequency
    * count — text vectorized WITHOUT a vocabulary pass, the classic
    * first step when no pretrained embedding exists. Returned sparse,
    * as (id, bucket, tf) triples — the relational form downstream joins
    * and the oracle both want; [[featureHashVector]] densifies.
    *
    * The hash is [[Dedup.polyHash]] — engine-portable, so the whole
    * vectorization (not just its shape) is oracle-recomputable.
    * Scale: tokenize + hash at scan speed, one (id, bucket) partial
    * agg; output ≤ min(tokens, dim) rows per document. */
  def featureHashTf(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"featureHashTf: dim=$dim must be positive")
    docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("__w"))
      .select(col("id"), pmod(Dedup.polyHash(col("__w")), lit(dim.toLong))
        .as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("tf"))
  }

  /** [[featureHashTf]] densified to a fixed `array<double>` of length
    * `dim` — the form [[Similarity]]'s cosine machinery consumes. One
    * map_from_entries per document + a constant-length rebuild; never a
    * dim-wide fold per token. */
  def featureHashVector(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame =
    featureHashTf(docs, idCol, textCol, dim)
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf"))))
        .as("__m"))
      .select(col("id"), transform(sequence(lit(0L), lit(dim - 1L)),
        b => coalesce(col("__m")(b), lit(0L)).cast("double")).as("vec"))

  def gopherQuality(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] =
        Seq("the", "a", "of", "to", "and", "in", "is", "for"),
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWl: Double = 3.0, maxMeanWl: Double = 10.0,
      minStopHits: Int = 2, maxTopFrac: Double = 0.1): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val base = docs.select(
      col(idCol).as("id"),
      toks.as("__t"),
      size(toks).cast("long").as("n_words"),
      aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x).as("__chars"),
      size(array_intersect(array_distinct(toks),
        array(stopwords.map(lit): _*))).as("stop_hits"))
    val top = base.select(col("id"), explode(col("__t")).as("__w"))
      .groupBy("id", "__w").agg(count(lit(1)).as("__c"))
      .groupBy("id").agg(max("__c").as("__top"))
    val meanWl = when(col("n_words") > 0,
      col("__chars").cast("double") / col("n_words"))
    val topFrac = when(col("n_words") > 0,
      col("__top").cast("double") / col("n_words"))
    val okWords = col("n_words").between(minWords, maxWords)
    val okWl = col("mean_wl").isNotNull &&
      col("mean_wl").between(minMeanWl, maxMeanWl)
    val okStop = col("stop_hits") >= minStopHits
    val okTop = col("top_word_frac").isNotNull &&
      col("top_word_frac") <= maxTopFrac
    // LEFT join: a NULL-text row tokenizes to a NULL array, explodes to
    // nothing, and would silently vanish under an inner join — every
    // input document must appear in the verdict table.
    base.join(top, Seq("id"), "left")
      .select(col("id"), col("n_words"), meanWl.as("mean_wl"),
        col("stop_hits"), topFrac.as("top_word_frac"))
      .select(col("*"), okWords.as("ok_words"), okWl.as("ok_wl"),
        okStop.as("ok_stop"), okTop.as("ok_top"))
      .withColumn("gopher_pass",
        col("ok_words") && col("ok_wl") && col("ok_stop") && col("ok_top"))
  }
  /** Flesch-Kincaid readability grade — the classic shallow quality
    * signal (Kincaid et al. 1975; public formula): per document,
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
    * syllables approximated as vowel GROUPS ([aeiouy]+ runs, the
    * standard heuristic) and sentences as [.!?]+ runs (min 1). Every
    * count is an exact integer at scan speed; the grade is one fixed-
    * order IEEE double expression both engines round identically —
    * no transcendentals, no windows, no joins.
    * Output: (id, n_words, n_sentences, n_syllables, fk_grade). */
  def readability(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val w = col("n_words").cast("double")
    val s = col("n_sentences").cast("double")
    val sy = col("n_syllables").cast("double")
    docs.select(col(idCol).as("id"),
        tokenCount(col(textCol)).as("n_words"),
        greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
          .cast("long").as("n_syllables"))
      .withColumn("fk_grade",
        lit(0.39) * (w / s) + lit(11.8) * (sy / w) - lit(15.59))
  }

  /** Zipf rank-frequency slope per group: OLS over (ln rank, ln count)
    * of the group's word types — natural language sits near slope −1
    * (Zipf 1949); templated, synthetic, or boilerplate-heavy slices
    * bend away, making the slope a one-row-per-source corpus-health
    * signal next to [[heapsGrowth]]. Ranks are exact integer
    * row_numbers (count DESC, term ASC — total order, no ties left to
    * the engine); each ln is taken once and the moment arithmetic is
    * [[Stats.regression]]'s exact-decimal discipline.
    * Scale: one token count agg + one per-group rank window over the
    * VOCABULARY (types, not tokens) + one combiner agg.
    * Output: (group, n_types, n, slope, intercept, r). */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val counts = docs
      .select(col(groupCol).as("group"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("group", "term").agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("group").orderBy(col("c").desc, col("term").asc)))
    val types = ranked.groupBy("group").agg(count(lit(1)).as("n_types"))
    Stats.regression(ranked, Seq("group"),
        log(col("rank").cast("double")), log(col("c").cast("double")))
      .join(types, Seq("group"))
      .select(col("group"), col("n_types"), col("n"), col("slope"),
        col("intercept"), col("r"))
  }
}
