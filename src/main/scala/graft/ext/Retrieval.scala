package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorOps
import graft.operators.Upsert

/** Retrieval scoring over the document corpus — the targeted-curation
  * primitive: score every document against a fixed query-term profile
  * and keep/weight the best matches (the "find me documents like this
  * topic" step that sits next to DSIR's distribution matching in a
  * training-data pipeline).
  *
  * Okapi BM25 (Robertson et al., TREC-3; public formula):
  *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·dl/avgdl))
  *   idf(t)   = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))
  *
  * Scale shape: the query-term set is a tiny LITERAL, so tf counts are
  * per-row codegen'd HOF filters over the token array — no explode, no
  * shuffle. One map-side-combined agg produces N, Σdl and every df in
  * a single one-row frame that broadcasts back; the score itself is a
  * pure projection. At 100 TB: two linear scans (stats, then scores)
  * and one 1-row broadcast.
  *
  * Numeric determinism (the oracle-hash discipline): the ONLY
  * transcendental, ln, feeds each per-term idf — quantized once to
  * DECIMAL(28,12) (per TERM, a handful of values, so a cross-engine
  * ulp tie is checkable, and none exists on this corpus). Everything
  * else is IEEE +,·,/ on exact-integer-valued doubles with a FIXED
  * left-to-right evaluation order that the SQL oracle mirrors — both
  * engines round those identically, so the final double is bit-equal
  * with no quantization of derived ratios (the x70 tie lesson). The
  * avgdl division never happens: dl/avgdl is expanded to dl·N/Σdl so
  * the denominator stays a product-sum of exact values.
  */
object Retrieval {

  /** (id, dl, tf_0..tf_k): per-term tf as codegen'd HOF filters. */
  private def withTf(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be a non-empty distinct list")
    // the document side is lowercased before matching — an uppercase
    // query term would silently never match, so refuse it loudly
    require(terms.forall(t => t.nonEmpty && t == t.toLowerCase),
      s"query terms must be non-empty and lowercase, got: $terms")
    val base = docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"tf_$i",
        size(filter(col("toks"), w => w === lit(t))).cast("long"))
    }.drop("toks")
  }

  /** One-row (n, s, df_0..df_k) corpus-stats frame over a tf frame. */
  private def statsOf(tf: DataFrame, terms: Seq[String]): DataFrame =
    tf.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("dl")).cast("long").as("s") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*)

  /** Per-term idf, quantized once (the only transcendental). */
  private def idfCol(i: Int) =
    log(lit(1.0d) + (col("n").cast("double") - col(s"df_$i") + lit(0.5d))
        / (col(s"df_$i") + lit(0.5d)))
      .cast(DecimalType(28, 12)).cast("double")

  /** The tf-saturation factor with dl/avgdl expanded to dl·N/Σdl —
    * IEEE doubles on exact values in a fixed order. */
  private def partCol(i: Int, k1: Double, b: Double) =
    (lit(k1 + 1) * col(s"tf_$i") * col("s")) /
      (col("s") * (col(s"tf_$i") + lit(k1 * (1 - b))) +
        lit(k1 * b) * col("dl") * col("n"))

  private def bm25Against(tf: DataFrame, stats: DataFrame,
      terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val score = terms.indices.map(i => idfCol(i) * partCol(i, k1, b))
      .reduceLeft(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col("id"), col("dl").as("n_tokens"), score.as("bm25"))
  }

  /** Per-document BM25 of a literal query-term set.
    * Output: (id, n_tokens, bm25); a document containing none of the
    * terms scores exactly 0. */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = withTf(docs, idCol, textCol, terms)
    bm25Against(tf, statsOf(tf, terms), terms, k1, b)
  }

  /** Batch retrieval evaluation: score every document against SEVERAL
    * query-term profiles in ONE scan. The tf columns cover the union
    * of all profiles' terms, the stats agg is still a single 1-row
    * broadcast, and the per-query scores fan out through one generator
    * (explode of an array of (query_id, bm25) structs) — so Q queries
    * cost one corpus scan plus Q projections, not Q scans. Each
    * query's score sums its own terms left-to-right (the x76
    * determinism discipline, per profile).
    * Output: (id, query_id, n_tokens, bm25). */
  def bm25ScoreMulti(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.map(_._1).distinct == queries.map(_._1),
      "query ids must be non-empty and distinct")
    val allTerms = queries.flatMap(_._2).distinct
    val termIdx = allTerms.zipWithIndex.toMap
    val tf = withTf(docs, idCol, textCol, allTerms)
    val stats = statsOf(tf, allTerms)
    val perQuery = queries.map { case (qid, terms) =>
      require(terms.nonEmpty && terms.distinct == terms,
        s"terms of $qid must be a non-empty distinct list")
      val score = terms.map(t => idfCol(termIdx(t)) *
        partCol(termIdx(t), k1, b)).reduceLeft(_ + _)
      struct(lit(qid).as("query_id"), score.as("bm25"))
    }
    tf.crossJoin(broadcast(stats))
      .select(col("id"), col("dl").as("n_tokens"),
        explode(array(perQuery: _*)).as("q"))
      .select(col("id"), col("q.query_id").as("query_id"),
        col("n_tokens"), col("q.bm25").as("bm25"))
  }

  /** BM25-MaxP passage retrieval (Dai & Callan 2019, public recipe):
    * long documents are scored by their BEST passage — the corpus is
    * re-chunked with [[TextAnalysis.chunkTokens]], each chunk is
    * BM25-scored as its own retrieval unit (N, Σdl, df over CHUNKS),
    * and a document's score is the max over its chunks (ties to the
    * earliest chunk). The composite (doc, chunk) key rides through
    * the scoring pipeline as ONE struct column, so the whole path is
    * the [[bm25Score]] plan unchanged.
    *
    * Scale shape: chunking is exchange-free, scoring is two scans +
    * a 1-row broadcast, the per-doc argmax is a doc-keyed window
    * (truncated map-side under rank = 1), and the final document cut
    * is TakeOrderedAndProject.
    * Output: top-`k` (doc_id, best_chunk, maxp). */
  def bm25MaxP(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], chunkSize: Int = 64, stride: Int = 48,
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val chunks = TextAnalysis.chunkTokens(docs, idCol, textCol,
        chunkSize, stride)
      .select(struct(col("id").as("doc_id"), col("chunk_id")).as("cid"),
        col("chunk_text"))
    val scored = bm25Score(chunks, "cid", "chunk_text", terms, k1, b)
    Upsert.firstPerKey(scored, Seq(col("id.doc_id")),
        Seq(col("bm25").desc, col("id.chunk_id").asc))
      .select(col("id.doc_id").as("doc_id"),
        col("id.chunk_id").as("best_chunk"), col("bm25").as("maxp"))
      .orderBy(col("maxp").desc, col("doc_id").asc).limit(k)
  }

  /** Train-once BM25 serving closure: corpus statistics (N, Σdl,
    * per-term df) are computed ONCE from `corpus` and checkpointed, so
    * every scored frame — e.g. each streaming micro-batch — pays one
    * scan of ITSELF and a 1-row broadcast, never a corpus re-read.
    * Incoming documents are scored against the fixed corpus stats (dl
    * is the incoming document's own length, per the BM25 formula).
    *
    * FROZEN-STATS CONTRACT: the stats never move after this call —
    * scores from one closure are mutually comparable forever, and
    * drift from a fresh corpus fit as the true corpus grows. To
    * refresh, build a NEW closure over the grown corpus (e.g.
    * `bm25Scorer(corpus.unionByName(admitted), …)`); the new closure
    * is ≡ batch [[bm25Score]] on that union (StreamingSpec). */
  def bm25Scorer(corpus: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame => DataFrame = {
    val stats =
      statsOf(withTf(corpus, idCol, textCol, terms), terms).localCheckpoint()
    docs => bm25Against(withTf(docs, idCol, textCol, terms), stats, terms,
      k1, b)
  }

  /** Build the PERSISTENT serving index: inverted postings
    * (term, id, tf) + per-document stats (id, dl). The pair is the
    * ad-hoc-query counterpart of the scan path — [[bm25Score]]'s HOF
    * filters re-tokenize the corpus for every query-term set (right
    * when queries are known at scan time), while an index pays one
    * tokenize EVER and answers any later term set by a term-filtered
    * postings probe. Both DataFrames are plain parquet-writable; see
    * [[savePostingsIndex]]/[[loadPostingsIndex]]. */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("toks"))
    val docStats = base.select(col("id"),
      size(col("toks")).cast("long").as("dl"))
    val postings = base.select(col("id"), explode(col("toks")).as("term"))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"))
    (postings, docStats)
  }

  /** BM25 over a PREBUILT index — bit-equal to [[bm25Score]] by
    * construction: the term-filtered postings are pivoted back to the
    * exact tf-column frame the scan path builds, then the SAME stats
    * aggregate and score projection run (x76's fixed left-to-right
    * term order included), so the index execution shape answers to
    * the scan shape's oracle — the equality IS the claim (the
    * x67-vs-x63 pattern). Scale: the probe touches only the queried
    * terms' postings (a term-selective scan of the index, never the
    * corpus text); the per-doc pivot is one combiner agg. */
  def bm25FromPostings(postings: DataFrame, docStats: DataFrame,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be a non-empty distinct list")
    require(terms.forall(t => t.nonEmpty && t == t.toLowerCase),
      s"query terms must be non-empty and lowercase, got: $terms")
    val filtered = postings.where(col("term").isin(terms: _*))
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("tf"))).as(s"tf_$i") }
    val perDoc = filtered.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val tf = docStats.join(perDoc, Seq("id"), "left")
      .select((col("id") +: col("dl") +:
        terms.indices.map(i =>
          coalesce(col(s"tf_$i"), lit(0L)).as(s"tf_$i"))): _*)
    bm25Against(tf, statsOf(tf, terms), terms, k1, b)
  }

  /** Persist / restore the serving index (postings + doc stats as two
    * parquet tables — the quantizer-persistence discipline applied to
    * the retrieval family). */
  def savePostingsIndex(postings: DataFrame, docStats: DataFrame,
      path: String): Unit = {
    postings.write.mode("overwrite").parquet(s"$path/postings.parquet")
    docStats.write.mode("overwrite").parquet(s"$path/docstats.parquet")
  }

  def loadPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/postings.parquet"),
      spark.read.parquet(s"$path/docstats.parquet"))

  /** Lexical MORE-LIKE-THIS: top-k documents by tf-idf cosine to a
    * QUERY DOCUMENT, evaluated over the [[buildPostings]] index — the
    * "find docs like this one" retrieval primitive with no embeddings
    * in sight (the classic VSM form, Salton's vector space model).
    * Near-dup hunting by example, related-document surfacing, and the
    * lexical baseline every embedding search is judged against.
    *
    * Determinism: idf = ln(N/df) is quantized by FLOOR into 1e-6
    * micro-units (the x115 lesson — floor has no rounding ties);
    * weights tf·idf₆ are exact longs; dot products and norms are
    * exact decimal sums of sized products ((15,0)² = 31 ≤ 38); the
    * cosine is one double chain with two exactly-rounded sqrts.
    *
    * Scale shape: the query vector is a broadcast (one doc's terms);
    * the candidate scan touches only postings of the QUERY's terms;
    * norms are one combiner agg over the index; the cut is
    * TakeOrdered. Output: top-k (id, rank, cosine). */
  def moreLikeThis(postings: DataFrame, docStats: DataFrame,
      queryId: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k $k must be >= 1")
    val P = DecimalType(15, 0)
    val n = docStats.count()
    val df = postings.groupBy("term").agg(count(lit(1)).as("__df"))
    val weighted = postings.join(df, Seq("term"))
      .select(col("id"), col("term"),
        (col("tf") *
          floor(log(lit(n.toDouble) / col("__df").cast("double")) *
            lit(1e6)).cast("long")).as("__w"))
    val norms = weighted.groupBy("id")
      .agg(sum(col("__w").cast(P) * col("__w").cast(P)).as("__n2"))
    val q = broadcast(weighted.where(col("id") === queryId)
      .select(col("term"), col("__w").as("__wq")))
    val dots = weighted.where(col("id") =!= queryId)
      .join(q, Seq("term"))
      .groupBy("id")
      .agg(sum(col("__w").cast(P) * col("__wq").cast(P)).as("__dot"))
    val qn = norms.where(col("id") === queryId)
      .select(col("__n2").as("__qn2"))
    dots.join(norms, Seq("id")).crossJoin(broadcast(qn))
      .select(col("id"),
        (col("__dot").cast("double") /
          (sqrt(col("__qn2").cast("double")) *
            sqrt(col("__n2").cast("double")))).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc).limit(k)
      .select(col("id"),
        row_number().over(Window.orderBy(col("cosine").desc,
          col("id").asc)).as("rank"),
        col("cosine"))
  }

  /** BM25 top-`k` serving: the ranked-list cut of [[bm25Score]] — the
    * lexical half of [[hybridRrfTopK]] as its own surface (rows are
    * exactly that operator's lexical prefix under the same
    * (bm25 DESC, id ASC) total order). The cut plans as
    * TakeOrderedAndProject — per-partition top-k heaps and one tiny
    * driver merge, never a global corpus sort (plan-asserted in
    * ScaleSpec with the other retrieval cuts). Output:
    * top-`k` (id, rank, n_tokens, bm25). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val top = bm25Score(docs, idCol, textCol, terms, k1, b)
      .orderBy(col("bm25").desc, col("id").asc).limit(k)
    top.select(col("id"),
      row_number().over(Window.orderBy(col("bm25").desc, col("id").asc))
        .as("rank"),
      col("n_tokens"), col("bm25"))
  }

  /** PSEUDO-RELEVANCE FEEDBACK retrieval (RM3-style; Lavrenko & Croft
    * 2001, the Abdul-Jaleel RM3 interpolation): run the query, mine
    * expansion terms from the top-`poolK` feedback documents, re-score
    * with ORIGINAL and EXPANSION term sets interpolated 0.7/0.3 — the
    * classic fix for vocabulary mismatch ("car" finds "automobile"
    * documents because the feedback pool talks about both). The
    * second-pass term set is DATA, so the whole operator rides the
    * table-driven micro-unit BM25 ([[ndcgEvalQrels]]'s discipline):
    * per-(doc, term) contributions floor-quantize to 1e-6 micro-units
    * and every per-doc score is an exact integer sum; the 0.7/0.3 mix
    * is the exact integer 7·m₁ + 3·m₂ (a common ×10 that never
    * changes the ranking). Expansion terms rank by the exact decimal
    * Σ_pool tf · idf₍₂₈,₁₂₎ (weight DESC, term ASC — decimal compares,
    * no double ties), original query terms excluded. Candidates are
    * docs matching ≥ 1 term of either set (exact: everything else
    * scores 0).
    *
    * Scale shape: ONE tokenize scan feeds both passes; tf rows join
    * the (bounded) term sets; 1-row stats broadcast; the pool is a
    * TakeOrdered top-`poolK` broadcast; the final cut is TakeOrdered.
    * The document-frequency table is VOCABULARY-sized (10⁸⁺ terms at
    * corpus scale), so it is never broadcast whole: each pass
    * restricts it to its active term set first (streaming dfT against
    * the broadcast term set — the [[ndcgEvalQrels]] construction), and
    * only the ≤ |terms|+expandK restricted slice rides a broadcast.
    * `tfAll` is localCheckpoint(eager)-ed because three consumers
    * (both scoring passes and the expansion-term mining) read it; its
    * storage bound is the corpus (id, term, tf) posting list — O(total
    * tokens) block storage for the life of the query, the x28
    * checkpoint-once discipline.
    * Output: top-`k` (id, rank, orig_micro, exp_micro, score_micro). */
  def prfExpand(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], poolK: Int = 10, expandK: Int = 5,
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be a non-empty distinct list")
    require(poolK >= 1 && expandK >= 1 && k >= 1,
      s"prfExpand: poolK=$poolK expandK=$expandK k=$k")
    val D = DecimalType(28, 12)
    val G = DecimalType(9, 0)
    val toksRaw = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("__t"))
    val dl = toksRaw.select(col("id"),
      size(col("__t")).cast("long").as("dl"))
    val tfAll = toksRaw.select(col("id"), explode(col("__t")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds both passes AND the term mining
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
    val dfT = tfAll.groupBy("term").agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    val idf = log(lit(1.0d) +
        (col("n").cast("double") - col("df") + lit(0.5d)) /
          (col("df") + lit(0.5d)))
      .cast(D).cast("double")
    val part = (lit(k1 + 1) * col("tf") * col("s")) /
      (col("s") * (col("tf") + lit(k1 * (1 - b))) +
        lit(k1 * b) * col("dl") * col("n"))
    def micro(termSet: DataFrame): DataFrame = {
      // dfT restricted to the ACTIVE term set BEFORE any broadcast:
      // streaming the vocabulary-sized dfT against the broadcast term
      // set leaves ≤ |termSet| rows, and only THAT slice is broadcast
      // into the posting-list join. Broadcasting dfT unrestricted
      // would ship the whole corpus vocabulary to every executor.
      val dfSet = broadcast(dfT.join(termSet, Seq("term")))
      tfAll.join(dfSet, Seq("term"))
        .join(dl, Seq("id"))
        .crossJoin(broadcast(stats))
        .select(col("id"),
          floor(idf * part * lit(1e6)).cast("long").as("__c"))
        .groupBy("id").agg(sum(col("__c")).as("__m"))
    }
    val origSet = docs.sparkSession
      .createDataFrame(terms.map(Tuple1(_))).toDF("term")
    val m1 = micro(broadcast(origSet)).localCheckpoint(true)
    val pool = broadcast(m1
      .orderBy(col("__m").desc, col("id").asc).limit(poolK)
      .select(col("id")))
    // pool-doc term totals are bounded by poolK documents' vocabulary;
    // build THEM as the broadcast side so dfT streams (never shuffles
    // or broadcasts whole) through the df lookup.
    val poolTerms = broadcast(tfAll.join(pool, Seq("id"))
      .where(!col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("tf")).as("__tfp")))
    val expSet = broadcast(dfT.join(poolTerms, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        (col("__tfp").cast(G) * log(lit(1.0d) +
          (col("n").cast("double") - col("df") + lit(0.5d)) /
            (col("df") + lit(0.5d))).cast(D)).as("__w"))
      .orderBy(col("__w").desc, col("term").asc).limit(expandK)
      .select(col("term")))
    val m2 = micro(expSet)
    m1.select(col("id"), col("__m").as("orig_micro"))
      .join(m2.select(col("id"), col("__m").as("exp_micro")),
        Seq("id"), "full")
      .select(col("id"),
        coalesce(col("orig_micro"), lit(0L)).as("orig_micro"),
        coalesce(col("exp_micro"), lit(0L)).as("exp_micro"))
      .withColumn("score_micro",
        lit(7L) * col("orig_micro") + lit(3L) * col("exp_micro"))
      .orderBy(col("score_micro").desc, col("id").asc).limit(k)
      .select(col("id"),
        row_number().over(Window.orderBy(col("score_micro").desc,
          col("id").asc)).as("rank"),
        col("orig_micro"), col("exp_micro"), col("score_micro"))
  }

  /** Per-document top-`k` TF-IDF keywords (the classic
    * tf·ln(N/df) weighting; Salton & Buckley 1988). The per-term idf —
    * the only transcendental — is quantized to DECIMAL(28,12) and the
    * score is the EXACT decimal product tf·idf, so the (score DESC,
    * term ASC) ranking compares decimals, not doubles: cross-engine
    * ties cannot exist (the x70 lesson applied to ordering).
    *
    * Scale shape: explode → (id, term) count → term-keyed df join —
    * shuffles linear in token count, bounded by vocabulary on the df
    * side; the per-doc top-k is a keyed window that Spark truncates
    * map-side (WindowGroupLimit) under the rank ≤ k filter.
    * Output: (id, rank, term, tf, tfidf). */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    val idf = dfc.crossJoin(broadcast(n))
      .select(col("term"),
        log(col("n").cast("double") / col("df"))
          .cast(DecimalType(28, 12)).as("idf"))
    // tf at DECIMAL(9,0): 9+28+1 = 38 keeps Spark's multiply result at
    // scale 12 EXACTLY — at (10,0) the result precision would be 39 >
    // 38 and Spark silently rounds the scale down to 11, diverging
    // from engines (DuckDB) that keep the full product. The cast bound
    // (tf < 1e9, i.e. one billion occurrences of ONE term in ONE
    // document) is enforced LOUDLY: under non-ANSI the overflow would
    // cast to null and silently drop the term from its doc's ranking.
    val scored = tf.join(idf, Seq("term"))
      .withColumn("score",
        when(col("tf") < lit(1000000000L), col("tf").cast(DecimalType(9, 0)))
          .otherwise(raise_error(concat(
            lit("tfidfKeywords: per-document term frequency "),
            col("tf").cast("string"),
            lit(" overflows the DECIMAL(9,0) tf bound (term "),
            col("term"), lit(")"))).cast(DecimalType(9, 0)))
          * col("idf"))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"),
        col("score").cast("double").as("tfidf"))
  }

  /** Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    * (Cormack et al., SIGIR 2009: rrf(d) = Σ_lists 1/(k + rank_d)).
    * The lexical list is [[bm25Score]] top-`kPer`; the semantic list is
    * exact-cosine top-`kPer` against the embedding of `queryVecId`
    * (query-by-example). A document missing from one list contributes 0
    * for that list — the standard RRF treatment of truncated lists.
    *
    * Scale shape: each side truncates with orderBy(score).limit(kPer) —
    * Spark plans TakeOrderedAndProject (per-partition top-k heaps, one
    * tiny driver merge), NOT a global sort; the un-partitioned
    * row_number windows and the full-outer fuse join then run over ≤
    * 2·kPer rows. The cosine side is one broadcast query vector dotted
    * per corpus row at scan speed. At 100 TB: two linear scans, no
    * wide shuffle of anything larger than kPer rows.
    *
    * Determinism: both rank orders are total ((score DESC, id ASC)) and
    * both score families are bit-equal cross-engine (bm25 per x76's
    * discipline, cosine per the x05/x06 dot-product contract); ranks
    * are then integers, and rrf = 1/(k+rb) + 1/(k+rs) is evaluated
    * left-to-right in both engines.
    *
    * Output: (id, rrf_rank, bm25_rank, cos_rank, rrf) — the fused
    * top-`kOut`, rank columns null where a side did not retrieve.
    * If `queryVecId` has no embedding row — or a zero-norm one, whose
    * cosine is undefined — the semantic side is empty and the fusion
    * degrades to the lexical ranking alone; zero-norm corpus rows are
    * likewise excluded (their NaN cosine would otherwise sort first). */
  def hybridRrfTopK(docs: DataFrame, embeds: DataFrame,
      idCol: String, textCol: String, vecIdCol: String, vecCol: String,
      terms: Seq[String], queryVecId: Long,
      kPer: Int = 100, kOut: Int = 20, rrfK: Int = 60): DataFrame = {
    val lexTop = bm25Score(docs, idCol, textCol, terms)
      .orderBy(col("bm25").desc, col("id").asc).limit(kPer)
    val lex = lexTop.select(col("id"), row_number()
      .over(Window.orderBy(col("bm25").desc, col("id").asc)).as("rb"))

    // zero-norm guard: cosine against a zero vector is 0/0 = NaN, and
    // Spark orders NaN ABOVE every real double — an unfiltered zero-norm
    // row would outrank every genuine neighbor. Zero-norm corpus rows are
    // excluded from the semantic list; a zero-norm QUERY empties the
    // broadcast side and the fusion degrades to lexical-only, the same
    // contract as a missing query vector (scaladoc above).
    val e = embeds.select(col(vecIdCol).as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"),
      VectorOps.norm2(col(vecCol)).as("n2"))
      .where(col("n2") > lit(0.0d))
    val q = e.where(col("id") === queryVecId)
      .select(col("v").as("qv"), col("n2").as("qn"))
    val cosTop = e.where(col("id") =!= queryVecId).crossJoin(broadcast(q))
      .select(col("id"), (graft.functions.expressions.VectorExpressions
        .dotProduct(col("v"), col("qv")) / (sqrt(col("n2")) * sqrt(col("qn"))))
        .as("cos"))
      .orderBy(col("cos").desc, col("id").asc).limit(kPer)
    val sem = cosTop.select(col("id"), row_number()
      .over(Window.orderBy(col("cos").desc, col("id").asc)).as("rs"))

    val fused = lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(lit(1.0d) / (lit(rrfK) + col("rb")), lit(0.0d)) +
         coalesce(lit(1.0d) / (lit(rrfK) + col("rs")), lit(0.0d))).as("rrf"),
        col("rb"), col("rs"))
    fused.select(col("id"),
        row_number().over(Window.orderBy(col("rrf").desc, col("id").asc))
          .as("rrf_rank"),
        col("rb").as("bm25_rank"), col("rs").as("cos_rank"), col("rrf"))
      .where(col("rrf_rank") <= kOut)
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR 1998 — public formula): greedily select k rows
    * maximizing  mmr(d) = λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s),
    * where rel is exact cosine to the query embedding (query by
    * example, as [[hybridRrfTopK]]'s semantic side) and S is the
    * already-selected set — near-duplicates of an already-picked
    * result are pushed down the list instead of crowding it.
    *
    * Scale shape — greedy MMR is inherently sequential (each pick
    * depends on all previous picks), so the operator is split at that
    * boundary: the DISTRIBUTED work is one corpus scan and a
    * TakeOrderedAndProject relevance cut to a clamp-bounded candidate
    * pool (`poolSize` ≤ 4096, enforced); the greedy selection then
    * runs driver-side over the collected pool in O(poolSize·k·dim).
    * At 100 TB the cluster executes exactly the scan-and-cut, and the
    * driver holds poolSize rows — the same constant-size-collect
    * discipline as the codebook/centroid trainers. The alternative
    * formulation (k rounds of TakeOrdered, one Spark job per pick)
    * was REJECTED: it re-scans the corpus k times to re-rank a pool
    * that cannot change after the relevance cut, since every MMR pick
    * is by construction inside the top-poolSize relevance set it
    * started from.
    *
    * Determinism: rel and the pairwise cosines follow the x05/x06
    * dot-product contract (left-to-right, min-length accumulation ≡
    * DuckDB's list_dot_product — the driver-side loop below is the
    * same arithmetic as the codegen DotProduct); the combine
    * λ·rel − (1−λ)·maxsim evaluates in that fixed order with (1−λ)
    * computed as a DOUBLE by both engines (the x71 coefficient
    * lesson), the first pick's maxsim is literal 0, and ties break to
    * the smaller id. Zero-norm rows are excluded as in
    * [[hybridRrfTopK]]; a missing or zero-norm query yields an empty
    * result.
    * Output: (id, mmr_rank, relevance, mmr), mmr_rank 1..k. */
  def mmrTopK(embeds: DataFrame, idCol: String, vecCol: String,
      queryVecId: Long, k: Int = 10, poolSize: Int = 50,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= poolSize, s"need 1 <= k <= poolSize, got k=$k")
    require(poolSize <= 4096,
      s"poolSize $poolSize exceeds the 4096 driver-side pool clamp")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]")
    val spark = embeds.sparkSession
    val e = embeds.select(col(idCol).as("id"),
        VectorOps.toDouble(col(vecCol)).as("v"),
        VectorOps.norm2(col(vecCol)).as("n2"))
      .where(col("n2") > lit(0.0d))
    val q = e.where(col("id") === queryVecId)
      .select(col("v").as("qv"), col("n2").as("qn"))
    val poolRows = e.where(col("id") =!= queryVecId).crossJoin(broadcast(q))
      .select(col("id"), col("v"), col("n2"),
        (graft.functions.expressions.VectorExpressions
            .dotProduct(col("v"), col("qv"))
          / (sqrt(col("n2")) * sqrt(col("qn")))).as("rel"))
      .orderBy(col("rel").desc, col("id").asc).limit(poolSize)
      .collect()

    val ids = poolRows.map(_.getLong(0))
    val vs = poolRows.map(_.getSeq[Double](1).toArray)
    val n2s = poolRows.map(_.getDouble(2))
    val rels = poolRows.map(_.getDouble(3))
    val n = poolRows.length
    // cos(i, j) with the exact arithmetic of the distributed plan
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      val m = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < m) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cosD(i: Int, j: Int): Double =
      dotD(vs(i), vs(j)) / (math.sqrt(n2s(i)) * math.sqrt(n2s(j)))

    val taken = new Array[Boolean](n)
    // max cosine to the selected set so far; -inf until S is non-empty
    // (a max over genuine cosines may be NEGATIVE, so 0 must not floor it)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = Seq.newBuilder[(Long, Int, Double, Double)]
    var step = 0
    while (step < math.min(k, n)) {
      var best = -1; var bestScore = 0.0
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val ms = if (step == 0) 0.0 else maxSim(i)
          val m = lambda * rels(i) - (1.0 - lambda) * ms
          if (best < 0 || m > bestScore ||
              (m == bestScore && ids(i) < ids(best))) {
            best = i; bestScore = m
          }
        }
        i += 1
      }
      taken(best) = true
      out += ((ids(best), step + 1, rels(best), bestScore))
      var j = 0
      while (j < n) {
        if (!taken(j)) {
          val c = cosD(j, best)
          if (c > maxSim(j)) maxSim(j) = c
        }
        j += 1
      }
      step += 1
    }
    spark.createDataFrame(out.result())
      .toDF("id", "mmr_rank", "relevance", "mmr")
  }

  /** Exact phrase search over a positional index — the boolean-
    * retrieval primitive BM25 can't express (BM25 is bag-of-words;
    * "spark query engine" as a PHRASE needs token adjacency). Classic
    * positional-postings evaluation (Manning et al., IR book ch. 2):
    * a match at start position p means phrase term i sits at p + i
    * for every i.
    *
    * Implementation is a single slot-normalization pass rather than
    * L-1 self-joins: postings are filtered to the phrase's terms AT
    * THE SCAN (a tiny isin literal — the selective predicate reaches
    * the parquet reader), each surviving (doc, pos, term) emits
    * (doc, start = pos − slot) for every phrase slot holding that
    * term (repeated terms fan out to each of their slots), and a
    * start position with ALL |phrase| distinct slots present is a
    * match. One groupBy on (id, start) — work linear in occurrences
    * of the phrase's terms, never in corpus size; no join whose width
    * depends on phrase length.
    *
    * Output: (id, n_matches, first_pos), matched documents only. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    require(phrase.forall(t => t.nonEmpty && t == t.toLowerCase),
      s"phrase terms must be non-empty and lowercase, got: $phrase")
    val slots = phrase.zipWithIndex.map { case (t, i) => (t, i.toLong) }
    val slotDf = broadcast(
      docs.sparkSession.createDataFrame(slots).toDF("term", "slot"))
    val posts = docs.select(col(idCol).as("id"),
        posexplode(TextAnalysis.tokens(lower(col(textCol))))
          .as(Seq("pos", "term")))
      .where(col("term").isin(phrase.distinct: _*))
    posts.join(slotDf, Seq("term"))
      .select(col("id"), (col("pos") - col("slot")).as("start"),
        col("slot"))
      .where(col("start") >= 0)
      .groupBy("id", "start")
      .agg(countDistinct(col("slot")).as("nslots"))
      .where(col("nslots") === phrase.length)
      .groupBy("id")
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
  }
  /** KNOWN-ITEM retrieval evaluation: per query profile, rank the
    * corpus by BM25 ([[bm25ScoreMulti]] — one scan for all queries),
    * cut the top `k`, and score it against AND-semantics relevance
    * (a document is relevant iff it contains EVERY query term — the
    * self-labeling ground truth a synthetic corpus supports without
    * human qrels): reciprocal rank of the first relevant hit and
    * precision@k, the two numbers an index owner actually tracks.
    *
    * Determinism: bm25 values are the x76/x81 bit-deterministic
    * chain, the rank order (bm25 DESC, id ASC) is total, relevance is
    * a boolean over token membership, and rr = 1/rank is one double
    * division. Scale shape: one corpus scan + Q projections + a
    * per-query top-k window (rank-limit pushdown) + one membership
    * join against the top-k rows only.
    * Output: (query_id, n_rel_at_k, first_rel_rank, rr, p_at_k). */
  def retrievalEval(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"retrievalEval: k=$k must be >= 1")
    val scored = bm25ScoreMulti(docs, idCol, textCol, queries, k1, b)
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("id").asc)
    val top = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("__t"))
    val rel = queries.foldRight(lit(false)) { case ((qid, terms), acc) =>
      when(col("query_id") === qid,
        terms.map(t => array_contains(col("__t"), t)).reduce(_ && _))
        .otherwise(acc)
    }
    top.join(toks, Seq("id"))
      .withColumn("__rel", rel)
      .groupBy("query_id")
      .agg(
        sum(when(col("__rel"), 1L).otherwise(0L)).as("n_rel_at_k"),
        min(when(col("__rel"), col("rank"))).as("first_rel_rank"),
        coalesce(lit(1.0) /
            min(when(col("__rel"), col("rank"))).cast("double"),
          lit(0.0)).as("rr"),
        (sum(when(col("__rel"), 1L).otherwise(0L)).cast("double") /
          lit(k)).as("p_at_k"))
  }
  /** GRADED retrieval evaluation — nDCG@k of the BM25 ranking with
    * term-containment grades (gain = how many of the query's terms
    * the document contains, 0..|terms| — the graded qrels a
    * synthetic corpus supports without human labels; Järvelin &
    * Kekäläinen 2002). Discounts ln2/ln(i+1) are the only
    * transcendentals, each quantized ONCE to DECIMAL(28,12); every
    * gain·discount product and both DCG/IDCG sums are exact decimals
    * (operands sized ≤ 38 precision, the x78 rule), and nDCG is one
    * boundary division. IDCG ranks ALL documents by (gain DESC, id
    * ASC) — a total order — so ties cannot shift the ideal.
    * Scale shape: the x155 top-k machinery + one gain scan + one
    * per-query ideal rank riding WindowGroupLimit.
    * Output: (query_id, dcg, idcg, ndcg). */
  def ndcgEval(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"ndcgEval: k=$k must be >= 1")
    val D = DecimalType(28, 12)
    val G = DecimalType(9, 0)
    def disc(rank: org.apache.spark.sql.Column) =
      (log(lit(2.0)) / log(rank.cast("double") + lit(1.0))).cast(D)
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("__t"))
    val gain = queries.foldRight(lit(0)) { case ((qid, terms), acc) =>
      when(col("query_id") === qid,
        terms.map(t => array_contains(col("__t"), t).cast("int"))
          .reduce(_ + _)).otherwise(acc)
    }
    val scored = bm25ScoreMulti(docs, idCol, textCol, queries, k1, b)
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("id").asc)
    val top = scored
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= k)
      .join(toks, Seq("id"))
      .withColumn("__g", gain)
    val dcg = top.groupBy("query_id")
      .agg(sum(col("__g").cast(G) * disc(col("rank"))).as("__dcg"))
    val graded = scored.select(col("id"), col("query_id"))
      .join(toks, Seq("id"))
      .withColumn("__g", gain)
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("__g").desc, col("id").asc)
    val idcg = graded
      .withColumn("__rn", row_number().over(wIdeal).cast("long"))
      .where(col("__rn") <= k)
      .groupBy("query_id")
      .agg(sum(col("__g").cast(G) * disc(col("__rn"))).as("__idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"),
        col("__dcg").cast("double").as("dcg"),
        col("__idcg").cast("double").as("idcg"),
        when(col("__idcg") > 0,
          col("__dcg").cast("double") / col("__idcg").cast("double"))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** Per-SOURCE query derivation — data-driven qrels for the
    * retrieval health grid: each source's query is its top-`nTerms`
    * terms by SOURCE-grain tf-idf (tf = occurrences across the
    * source's documents, df = number of sources containing the term,
    * idf = ln(|sources|/df) quantized ONCE to DECIMAL(28,12) — the
    * x78 [[tfidfKeywords]] discipline lifted one grain). Exact
    * decimal scores, total tie order (score DESC, term ASC), rank cut
    * at a literal (WindowGroupLimit). The intermediate is
    * |sources|·|vocab| count rows and the output |sources|·nTerms —
    * both source/vocabulary-bounded, never corpus-bounded.
    * Output: (query_id, term, rank) with query_id = the source. */
  def sourceQueries(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, nTerms: Int = 3): DataFrame = {
    require(nTerms >= 1, s"sourceQueries: nTerms=$nTerms must be >= 1")
    val toks = docs.select(col(sourceCol).as("query_id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("query_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val ns = tf.select("query_id").distinct().agg(count(lit(1)).as("__ns"))
    val idf = log(col("__ns").cast("double") / col("df").cast("double"))
      .cast(DecimalType(28, 12))
    val tfD = when(col("tf") < lit(1000000000L),
        col("tf").cast(DecimalType(9, 0)))
      .otherwise(raise_error(concat(
        lit("sourceQueries: source term frequency "),
        col("tf").cast("string"),
        lit(" overflows the DECIMAL(9,0) bound")))
        .cast(DecimalType(9, 0)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__score").desc, col("term").asc)
    tf.join(dfT, Seq("term")).crossJoin(broadcast(ns))
      .withColumn("__score", tfD * idf)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= nTerms)
      .select(col("query_id"), col("term"), col("rank"))
  }

  /** TABLE-DRIVEN graded nDCG@k — [[ndcgEval]] with the query set as
    * DATA: `qrels` is (query_id, term) rows (e.g. [[sourceQueries]]),
    * so queries never enter the plan as constants and the operator
    * grades an unbounded query set — the per-source retrieval health
    * GRID. Two departures from the literal-query form, both forced by
    * data-driven term sets and mirrored verbatim by the oracle:
    * (1) per-term BM25 contributions (the exact x81 idf·part double
    * chain) are floor-quantized to 1e-6 micro-units (the
    * [[moreLikeThis]] discipline), so the per-query score is an exact
    * integer sum — order-independent where the literal form's
    * fixed-order double fold cannot exist; (2) the candidate set per
    * query is the documents containing ≥ 1 query term — EXACT for
    * both sums, because gain > 0 ⇔ some term matches ⇔ the document
    * has a contribution row, and zero-gain rows add 0 to DCG and IDCG
    * at whatever rank they would occupy.
    * Scale shape: one tokenize scan; tf rows inner-joined to the
    * qrels vocabulary (broadcast-sized); a 1-row stats broadcast; the
    * matched (doc, query) table is checkpointed once (ids + two longs)
    * and feeds both rank windows, each riding WindowGroupLimit.
    * Output: (query_id, dcg, idcg, ndcg). */
  def ndcgEvalQrels(docs: DataFrame, idCol: String, textCol: String,
      qrels: DataFrame, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"ndcgEvalQrels: k=$k must be >= 1")
    val D = DecimalType(28, 12)
    val G = DecimalType(9, 0)
    def disc(rank: org.apache.spark.sql.Column) =
      (log(lit(2.0)) / log(rank.cast("double") + lit(1.0))).cast(D)
    val q = qrels.select(col("query_id"), col("term")).distinct()
    val terms = q.select("term").distinct()
    val toksRaw = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("__t"))
    val dl = toksRaw.select(col("id"),
      size(col("__t")).cast("long").as("dl"))
    val tf = toksRaw.select(col("id"), explode(col("__t")).as("term"))
      .join(terms, Seq("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0d) +
        (col("n").cast("double") - col("df") + lit(0.5d)) /
          (col("df") + lit(0.5d)))
      .cast(D).cast("double")
    val part = (lit(k1 + 1) * col("tf") * col("s")) /
      (col("s") * (col("tf") + lit(k1 * (1 - b))) +
        lit(k1 * b) * col("dl") * col("n"))
    val perDQ = tf.join(q, Seq("term"))
      .join(dl, Seq("id"))
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("query_id"),
        floor(idf * part * lit(1e6)).cast("long").as("__c"))
      .groupBy("id", "query_id")
      .agg(sum(col("__c")).as("__micro"), count(lit(1)).as("__gain"))
      // feeds BOTH rank windows — checkpoint once (the kmv lesson)
      .localCheckpoint(true)
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("__micro").desc, col("id").asc)
    val dcg = perDQ
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= k)
      .groupBy("query_id")
      .agg(sum(col("__gain").cast(G) * disc(col("rank"))).as("__dcg"))
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("__gain").desc, col("id").asc)
    val idcg = perDQ
      .withColumn("__rn", row_number().over(wIdeal).cast("long"))
      .where(col("__rn") <= k)
      .groupBy("query_id")
      .agg(sum(col("__gain").cast(G) * disc(col("__rn"))).as("__idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"),
        col("__dcg").cast("double").as("dcg"),
        col("__idcg").cast("double").as("idcg"),
        when(col("__idcg") > 0,
          col("__dcg").cast("double") / col("__idcg").cast("double"))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** RANK-BIASED OVERLAP between two retrieval runs (Webber, Moffat &
    * Zobel TOIS 2010, the RBO_EXT form): per query, the
    * geometrically-weighted agreement of the two top-`k` prefixes —
    * the ranking-STABILITY audit a ranker change (new k1, new index,
    * PRF on/off) is judged by before it ships. Identical prefixes
    * score exactly 1; disjoint ones 0; top-weighted in between
    * (persistence `p`: weight p^(d−1) at depth d — a swap at rank 2
    * costs more than one at rank 19).
    *
    * rbo = (1−p)·Σ_{d=1..k} p^(d−1)·X_d/d + p^k·X_k/k, where X_d =
    * |A_1:d ∩ B_1:d| (the extrapolation term assumes the depth-k
    * agreement persists — Webber's RBO_EXT, which closes the
    * truncated sum to 1 for identical lists). Determinism: X_d are
    * exact integer counts (a common doc enters at depth
    * max(rank_a, rank_b)); each weighted term is ONE fixed-order
    * double chain quantized to DECIMAL(28,12); the per-query sum is
    * exact decimal with one boundary cast — order-free, so the agg
    * needs no ordered fold.
    *
    * Scale shape: the common-doc join rides (query_id, id); per query
    * everything after is ≤ k·k rows (the depth explode is a bounded
    * literal sequence) — query-set-bounded, never corpus-bounded.
    * Inputs: (query_id, id, rank) each, ranks 1..k (rows beyond k are
    * ignored). Output: (query_id, n_common, rbo) for every query in
    * EITHER run (one-sided queries score 0 — the skeleton lesson). */
  def rboAgreement(runA: DataFrame, runB: DataFrame, k: Int,
      p: Double = 0.9): DataFrame = {
    require(k >= 1, s"rboAgreement: k=$k must be >= 1")
    require(p > 0.0 && p < 1.0, s"rboAgreement: p=$p outside (0,1)")
    val D = DecimalType(28, 12)
    val a = runA.select(col("query_id"), col("id"),
      col("rank").cast("long").as("__ra")).where(col("__ra") <= k)
    val b = runB.select(col("query_id"), col("id"),
      col("rank").cast("long").as("__rb")).where(col("__rb") <= k)
    val common = a.join(b, Seq("query_id", "id"))
      .select(col("query_id"),
        greatest(col("__ra"), col("__rb")).as("__md"))
      .localCheckpoint(true) // feeds the depth grid AND n_common
    val queries = a.select("query_id").union(b.select("query_id"))
      .distinct()
    val depths = queries.select(col("query_id"),
      explode(sequence(lit(1L), lit(k.toLong))).as("d"))
    val xd = depths.join(common,
        Seq("query_id"), "left")
      .groupBy("query_id", "d")
      .agg(sum(when(col("__md").isNotNull && col("__md") <= col("d"), 1L)
        .otherwise(0L)).as("x"))
    val term = (pow(lit(p), (col("d") - 1).cast("double")) * lit(1.0 - p) *
      (col("x").cast("double") / col("d").cast("double"))).cast(D)
    val ext = (pow(lit(p), lit(k).cast("double")) *
      (col("x").cast("double") / col("d").cast("double"))).cast(D)
    xd.groupBy("query_id")
      .agg(
        max(when(col("d") === k, col("x"))).as("n_common"),
        // sum() widens to (38,12); adding the (28,12) ext term would
        // overflow Spark's precision cap and silently RESCALE to
        // (38,11) — the decimal-ADD trap. The sum is ≤ 1, so the
        // downcast is lossless and keeps the add at full scale.
        (sum(term).cast(D) +
          max(when(col("d") === k, ext).otherwise(lit(null).cast(D))))
          .cast("double").as("rbo"))
  }
}
