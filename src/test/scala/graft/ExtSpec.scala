package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, DistinctSketch, EventWindows, Similarity, TextAnalysis}

/** Extension operators: dedup family consistency (MinHash candidates must
  * cover what exact Jaccard finds), similarity recall, text analysis,
  * sessionization gap semantics. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "completely different content about spark query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"),
    (5L, "unrelated words entirely for this one document here now")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val got = Dedup.exact(docs, col("text"), col("doc_id"))
    assert(got.count() == 4) // 1 and 4 collapse
    val dup = rows(got.where($"n_dups" === 2)).head
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds near-dup pairs that exact jaccard confirms") {
    val sh = docs.select($"doc_id",
      array_distinct(TextAnalysis.shingles($"text", 3)).as("sh"))
    val exact = rows(Dedup.jaccardPairs(sh, "doc_id", "sh", 0.6)
      .select("d1", "d2")).map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = rows(Dedup.minhashLsh(sh, "doc_id", "sh", 32, 8, 0.6)
      .select("id_a", "id_b")).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 4L))) // identical docs
    assert(exact.contains((1L, 2L)) && exact.contains((2L, 4L))) // near-dup
    // LSH verification filter = the same exact jaccard → subset; identical
    // docs always share every band → must be found
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 4L)))
  }

  test("jaccardPairs maxDocFreq: exact values; recall holds unless every shared shingle is hot") {
    val sh = docs.select($"doc_id", TextAnalysis.shingles($"text", 3).as("sh"))
    val uncapped = rows(Dedup.jaccardPairs(sh, "doc_id", "sh", 0.6))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cap above every df in this corpus → identical output, value-exact
    val capped = rows(Dedup.jaccardPairs(sh, "doc_id", "sh", 0.6, maxDocFreq = 3))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped)
    // cap=1 drops every shingle shared by ≥2 docs from candidate
    // generation → the identical pair (1,4) can no longer be FOUND, the
    // designed recall trade-off at the extreme; nothing spurious appears
    val starved = rows(Dedup.jaccardPairs(sh, "doc_id", "sh", 0.6, maxDocFreq = 1))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(starved.subsetOf(uncapped) && !starved.contains((1L, 4L, 1.0)))
  }

  test("jaccardPairsPrefix: exact recall by construction, equals the uncapped pair set") {
    val sh = docs.select($"doc_id", TextAnalysis.shingles($"text", 3).as("sh"))
    val uncapped = rows(Dedup.jaccardPairs(sh, "doc_id", "sh", 0.6))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefixed = rows(Dedup.jaccardPairsPrefix(sh, "doc_id", "sh", 0.6))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefixed == uncapped)
    // the fixture the df-cap provably LOSES (every shared shingle hot —
    // ExtSpec's maxDocFreq=1 starvation case) is still found here: the
    // prefix lemma guarantees the smallest common shingle sits in both
    // prefixes no matter how hot it is
    assert(prefixed.contains((1L, 4L, 1.0)))
    // real corpus, threshold variety: the prefix + positional filters
    // are pure candidate prunes — the pair set equals exact Jaccard's
    val sf = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", TextAnalysis.shingles($"text", 3).as("sh"))
    for (t <- Seq(0.6, 0.8)) {
      val exact = rows(Dedup.jaccardPairs(sf, "doc_id", "sh", t))
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pruned = rows(Dedup.jaccardPairsPrefix(sf, "doc_id", "sh", t))
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pruned == exact, s"prefix filters changed the pair set at t=$t")
    }
  }

  test("duplicateSpanFraction: per-doc boilerplate share, hand-computed") {
    // d1/d2 share window "a b c" (half of each); d3 shares nothing;
    // d4 too short for a window
    val toy = Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "q w e r t"),
      (4L, "a b")).toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.shingles($"text", 3).as("sh"))
    val got = rows(Dedup.duplicateSpanFraction(toy, "doc_id", "sh")
      .orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got == Seq((1L, 2L, Some(0.5)), (2L, 2L, Some(0.5)),
      (3L, 3L, Some(0.0)), (4L, 0L, None)))
    // exact duplicates sit at fraction 1.0 on the shared fixture
    val full = docs.select($"doc_id",
      TextAnalysis.shingles($"text", 3).as("sh"))
    val m = rows(Dedup.duplicateSpanFraction(full, "doc_id", "sh"))
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(m(1L) == Some(1.0) && m(4L) == Some(1.0),
      "identical docs 1 and 4 must be fully duplicated spans")
  }

  test("simhash: identical docs at hamming 0, unrelated docs absent") {
    val tok = docs.select($"doc_id", TextAnalysis.tokens(lower($"text")).as("t"))
    val got = rows(Dedup.simhashPairs(tok, "doc_id", "t", maxHamming = 3)
      .select("id_a", "id_b", "hamming"))
    val m = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(m((1L, 4L)) == 0)
    assert(!m.contains((3L, 5L)))
  }

  test("clusters + dedupCorpus: transitive near-dups collapse to one") {
    val pairs = Seq((1L, 2L), (2L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val comp = rows(Dedup.clusters(pairs).orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1)))
    // 1-2-4 is one component via transitivity, 7-8 another
    assert(comp == Seq((1L, 1L), (2L, 1L), (4L, 1L), (7L, 7L), (8L, 7L)))
    val sh = docs.select($"doc_id",
      array_distinct(TextAnalysis.shingles($"text", 3)).as("sh"))
    val kept = rows(Dedup.dedupCorpus(sh, "doc_id", "sh", threshold = 0.6)
      .orderBy("doc_id")).map(_.getLong(0))
    // docs 1,2,4 are one near-dup cluster (1 kept); 3 and 5 are singletons
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("similarity: brute top-k exact against hand-computed cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.bruteTopK(vecs.where($"vec_id" === 0), vecs,
      "vec_id", "embedding", 2).select("neighbor_id", "rank"))
    assert(got.map(r => (r.getLong(0), r.getInt(1))) == Seq((1L, 1), (2L, 2)))
  }

  test("similarity: LSH bucketing finds identical vectors") {
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val vecs = Seq((0L, base), (1L, base.clone()),
      (2L, base.map(x => -x)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
      0.99).select("id_a", "id_b")).map(r => (r.getLong(0), r.getLong(1)))
    assert(got == Seq((0L, 1L))) // opposite vector shares no sign-bucket
  }

  test("text analysis: tokens, shingles, fingerprint, lang-id") {
    val t = Seq("The  Quick   fox!").toDF("text")
    assert(rows(t.select(TextAnalysis.tokenCount($"text"))).head.getLong(0) == 3)
    val sh = rows(t.select(TextAnalysis.shingles($"text", 3))).head
      .getSeq[String](0)
    assert(sh == Seq("the quick fox!"))
    // fingerprint is insensitive to case/punctuation/whitespace noise
    val fp = Seq("The Quick fox", "the   quick FOX!!").toDF("text")
      .select(TextAnalysis.fingerprint($"text").as("fp"))
    val fps = rows(fp).map(_.getString(0))
    assert(fps(0) == fps(1))
    val lang = rows(Seq("the cat and the dog of the house")
      .toDF("text").select(TextAnalysis.langId($"text"))).head.getString(0)
    assert(lang == "en")
  }

  test("hashSplit is deterministic, exhaustive, and ~80/10/10") {
    val ids = (0L until 1000L).toDF("id")
    val s1 = rows(graft.ext.Sampling.hashSplit(ids, col("id"), 800, 100))
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    val s2 = rows(graft.ext.Sampling.hashSplit(ids.repartition(7), col("id"), 800, 100))
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(s1 == s2) // re-sharding cannot move a row across splits
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.values.sum == 1000)
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("valid") > 50 && counts("valid") < 150)
  }

  test("canonicalSelect keeps the best copy; dedupCorpus keeps the first") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),                      // near-dup cluster {1,2}: 2 is longer
      (2L, base + " with extra detail appended"),
      (5L, "completely unrelated text about database systems and storage"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        graft.ext.TextAnalysis.shingles(col("text"), 3).as("sh"))
    val survivors = rows(graft.ext.Dedup.canonicalSelect(docs, "doc_id", "sh",
        graft.ext.TextAnalysis.tokenCount(col("text")), threshold = 0.5)
      .select(col("doc_id"), col("cluster")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // quality rule keeps the LONGER near-dup (2), labeled with cluster 1;
    // the singleton survives as its own cluster
    assert(survivors == Map(2L -> 1L, 5L -> 5L))
    // min-id rule on the same input keeps 1 instead — the two survivor
    // rules differ exactly on the quality-ranked cluster
    val minId = rows(graft.ext.Dedup.dedupCorpus(docs, "doc_id", "sh",
      threshold = 0.5)).map(_.getLong(0)).toSet
    assert(minId == Set(1L, 5L))
  }

  test("embedding-space corpus dedup ≡ pairs→clusters composition; canonical keeps the best-scored copy") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f, 0.1f), 10L),
      (2L, Array(0.99f, 0.01f, 0.2f, 0.1f), 25L), // near-dup of 1, higher score
      (4L, Array(0.98f, 0.02f, 0.21f, 0.1f), 5L), // near-dup of 1 and 2
      (7L, Array(-0.5f, 0.8f, 0.0f, 0.3f), 50L),
      (9L, Array(0.0f, 0.0f, -1.0f, 0.4f), 3L)
    ).toDF("vec_id", "v", "score")
    val survivors = rows(Similarity.dedupCorpusEmbeddings(vecs, "vec_id",
        "v", threshold = 0.95, bands = 4, bitsPerBand = Some(4))
      .orderBy("vec_id")).map(_.getLong(0))
    // {1,2,4} is one near-dup cluster (min id 1 kept); 7 and 9 singletons
    assert(survivors == Seq(1L, 7L, 9L))
    // the one-call form is exactly the pair-source → label-propagation
    // → anti-join composition it documents
    val pairs = Similarity.lshNearDupPairsAdaptive(vecs, "vec_id", "v",
      threshold = 0.95, bands = 4, bitsPerBand = Some(4))
    val losers = Dedup.clusters(pairs)
      .where(col("id") =!= col("cluster")).select(col("id"))
    val manual = rows(vecs.select(col("vec_id").as("id"))
      .join(losers, Seq("id"), "left_anti").orderBy("id")).map(_.getLong(0))
    assert(survivors == manual)
    // quality rule keeps the highest-scored member (2), labeled with the
    // component's min id; singletons survive as their own cluster
    val canon = rows(Similarity.canonicalSelectEmbeddings(vecs, "vec_id",
        "v", score = col("score"), threshold = 0.95, bands = 4,
        bitsPerBand = Some(4))
      .select(col("vec_id"), col("cluster")).orderBy("vec_id"))
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(canon == Seq(2L -> 1L, 7L -> 7L, 9L -> 9L))
  }

  test("bm25Score: bit-equal to an independent scalar reference; no-term docs score exactly zero") {
    val texts = Seq(
      1L -> "spark join window spark",
      2L -> "the quick brown fox",
      3L -> "dup join dup dup scan filter",
      4L -> "window")
    val docs = texts.toDF("doc_id", "text")
    val terms = Seq("spark", "dup")
    val got = rows(graft.ext.Retrieval.bm25Score(docs, "doc_id", "text",
        terms).orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // plain-Scala reference with the operator's exact arithmetic: the
    // same constant expressions, left-to-right order, and the HALF_UP
    // shortest-string decimal quantization Spark's double→decimal cast
    // uses (BigDecimal.valueOf + setScale)
    val toks = texts.toMap.map { case (k, v) =>
      k -> v.toLowerCase.trim.split("\\s+").toSeq }
    val n = toks.size.toDouble
    val s = toks.values.map(_.size).sum.toDouble
    val (k1, b) = (1.2, 0.75)
    def q12(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
    def ref(id: Long): Double = {
      val dl = toks(id).size.toDouble
      terms.map { t =>
        val tf = toks(id).count(_ == t).toDouble
        val dfv = toks.values.count(_.contains(t)).toDouble
        val idf = q12(math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5)))
        idf * (((k1 + 1) * tf * s) /
          (s * (tf + k1 * (1 - b)) + k1 * b * dl * n))
      }.reduceLeft(_ + _)
    }
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    got.foreach { case (id, dl, bm25) =>
      assert(dl == toks(id).size.toLong)
      assert(bm25 == ref(id), s"doc $id")
    }
    // a doc with none of the query terms contributes tf=0 to every
    // term: the score is exactly 0.0, not merely small
    assert(got.find(_._1 == 2L).get._3 == 0.0d)
    // the rare term dominates: doc 3 (dup-heavy) outscores doc 1
    assert(got.find(_._1 == 3L).get._3 > got.find(_._1 == 1L).get._3)
  }

  test("hybridRrfTopK: fuses known lexical+semantic lists, nulls the missing side") {
    val docs = Seq(1L -> "spark spark spark", 2L -> "nothing here",
      3L -> "spark join").toDF("doc_id", "text")
    val embeds = Seq(
      0L -> Array(1.0f, 0.0f),   // the query vector
      1L -> Array(0.0f, 1.0f),   // orthogonal: cosine 0
      2L -> Array(1.0f, 0.1f),   // cosine ≈ 0.995
      3L -> Array(1.0f, 1.0f))   // cosine ≈ 0.707
      .toDF("vec_id", "embedding")
    val got = rows(graft.ext.Retrieval.hybridRrfTopK(docs, embeds,
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("spark", "join"), queryVecId = 0L, kPer = 2, kOut = 3)
      .orderBy("rrf_rank"))
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getDouble(4)))
    // lexical top-2: doc 3 first (BM25 tf saturation + the rare-term
    // 'join' idf beat doc 1's thrice-repeated 'spark'), doc 1 second;
    // semantic top-2: doc 2 (rs=1), doc 3 (rs=2). Fused: doc 3 appears
    // in both lists and wins; docs 2 and 1 each miss one side (null
    // rank there) and order by their single reciprocal rank
    assert(got == Seq(
      (3L, 1, 1, 2, 1.0 / 61 + 1.0 / 62),
      (2L, 2, -1, 1, 1.0 / 61),
      (1L, 3, 2, -1, 1.0 / 62)))
  }

  test("hybridRrfTopK: zero-norm embeddings are excluded, not NaN-ranked first; zero-norm query degrades to lexical-only") {
    val docs = Seq(1L -> "spark spark spark", 2L -> "nothing here",
      3L -> "spark join").toDF("doc_id", "text")
    // doc 2's embedding is the zero vector: cosine would be 0/0 = NaN,
    // and Spark sorts NaN above every real double — unguarded it would
    // take semantic rank 1
    val embeds = Seq(
      0L -> Array(1.0f, 0.0f),
      1L -> Array(0.0f, 1.0f),
      2L -> Array(0.0f, 0.0f),
      3L -> Array(1.0f, 1.0f))
      .toDF("vec_id", "embedding")
    val got = rows(graft.ext.Retrieval.hybridRrfTopK(docs, embeds,
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("spark", "join"), queryVecId = 0L, kPer = 2, kOut = 3)
      .orderBy("rrf_rank"))
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1 else r.getInt(3)))
    // semantic top-2 is docs 3 then 1 (doc 2 excluded); doc 2 appears
    // only through its lexical rank — which it also lacks here
    assert(got.map(_._1).toSet == Set(1L, 3L))
    assert(got.find(_._1 == 3L).get._2 == 1)
    // zero-norm QUERY: semantic side empties, fusion = lexical ranking
    val lexOnly = rows(graft.ext.Retrieval.hybridRrfTopK(docs, embeds,
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("spark", "join"), queryVecId = 2L, kPer = 2, kOut = 3)
      .orderBy("rrf_rank"))
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1 else r.getInt(3)))
    assert(lexOnly.map(_._1) == Seq(3L, 1L) &&
      lexOnly.forall(_._2 == -1), "zero-norm query must degrade to lexical")
  }

  test("tfidfKeywords: hand-computed scores; exact-decimal score tie broken by term") {
    val docs = Seq(1L -> "cat cat dog", 2L -> "cat fish", 3L -> "dog bird",
      4L -> "cat dog").toDF("doc_id", "text")
    val got = rows(graft.ext.Retrieval.tfidfKeywords(docs, "doc_id", "text",
        k = 3).orderBy("id", "rank"))
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    // N=4; df: cat 3, dog 3, fish 1, bird 1. idf quantized like the
    // operator (HALF_UP scale 12), score = exact decimal tf·idf
    def sc(tf: Long, ratio: Double): Double =
      new java.math.BigDecimal(tf).multiply(
        java.math.BigDecimal.valueOf(math.log(ratio))
          .setScale(12, java.math.RoundingMode.HALF_UP)).doubleValue
    assert(got == Seq(
      (1L, 1, "cat", 2L, sc(2, 4.0 / 3)), (1L, 2, "dog", 1L, sc(1, 4.0 / 3)),
      (2L, 1, "fish", 1L, sc(1, 4.0)), (2L, 2, "cat", 1L, sc(1, 4.0 / 3)),
      (3L, 1, "bird", 1L, sc(1, 4.0)), (3L, 2, "dog", 1L, sc(1, 4.0 / 3)),
      // doc 4: cat and dog score the SAME exact decimal → term breaks it
      (4L, 1, "cat", 1L, sc(1, 4.0 / 3)), (4L, 2, "dog", 1L, sc(1, 4.0 / 3))))
  }

  test("chunkTokens: covering overlapped windows, short tail, case preserved") {
    val docs = Seq(1L -> "T0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",  // 11 tokens
      2L -> "a b").toDF("doc_id", "text")
    val got = rows(graft.ext.TextAnalysis.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, stride = 3).orderBy("id", "chunk_id"))
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got == Seq(
      (1L, 0, 4, "T0 t1 t2 t3"), (1L, 1, 4, "t3 t4 t5 t6"),
      (1L, 2, 4, "t6 t7 t8 t9"), (1L, 3, 2, "t9 t10"),
      (2L, 0, 2, "a b")))
    // every token index is inside some window (coverage)
    assert(got.filter(_._1 == 1L).map(c => (c._2 * 3, c._2 * 3 + c._3))
      .sliding(2).forall { case Seq((_, e), (s, _)) => s <= e; case _ => true })
  }

  test("pmiCollocations: hand-computed pmi; exact quantized tie broken by words") {
    val docs = Seq(1L -> "a b a b", 2L -> "a c").toDF("doc_id", "text")
    val got = rows(graft.ext.TextAnalysis.pmiCollocations(docs, "doc_id",
        "text", minCount = 1, k = 10)
        .orderBy(col("pmi").desc, col("w1"), col("w2")))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // unigrams a:3 b:2 c:1 (T1=6); bigrams (a,b):2 (b,a):1 (a,c):1
    // (T2=4). Same division chain and HALF_UP scale-12 quantization as
    // the operator; (a,b) and (a,c) quantize IDENTICALLY (both ln 3) →
    // w2 breaks the tie
    def pmi(c2: Double, ca: Double, cb: Double): Double =
      java.math.BigDecimal.valueOf(
          math.log(((c2 / 4) / (ca / 6)) / (cb / 6)))
        .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
    assert(got == Seq(
      ("a", "b", 2L, pmi(2, 3, 2)),
      ("a", "c", 1L, pmi(1, 3, 1)),
      ("b", "a", 1L, pmi(1, 2, 3))))
    assert(pmi(2, 3, 2) == pmi(1, 3, 1))
  }

  test("bm25ScoreMulti: each profile bitwise equals its single-query bm25Score") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val profiles = Seq("a" -> Seq("spark", "shuffle"), "b" -> Seq("join"),
      "c" -> Seq("zzz_absent_term"))
    val multi = rows(graft.ext.Retrieval.bm25ScoreMulti(docs, "doc_id",
        "text", profiles).orderBy("query_id", "id"))
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getDouble(3)))
    for ((qid, terms) <- profiles) {
      val single = rows(graft.ext.Retrieval.bm25Score(docs, "doc_id",
          "text", terms).orderBy("id"))
        .map(r => (qid, r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(multi.filter(_._1 == qid) == single, s"profile $qid diverged")
    }
    // an absent term: df=0 handled (idf finite), tf=0 → exactly 0.0
    assert(multi.filter(_._1 == "c").forall(_._4 == 0.0d))
  }

  test("dedupPassagesNear: near-copy passages cluster and the doc-major-earliest survives; exact copies too; unrelated passages untouched") {
    // one 8-token passage per doc; doc 2 edits one word (shingle
    // jaccard 5/7 ≈ 0.71 ≥ 0.6 — a near-copy exact matching misses),
    // doc 3 is an exact copy, doc 4 unrelated
    val docs = Seq(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "a b c d e f g h",
      4L -> "p q r s t u v w")
      .toDF("doc_id", "text")
    val got = rows(graft.ext.Dedup.dedupPassagesNear(docs, "doc_id",
        "text", chunkSize = 8, shingleN = 3, threshold = 0.6)
        .orderBy("id", "chunk_id"))
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4)))
    // shingles of doc1/doc3: {abc..fgh} (6), doc2: 5 shared + bcx-ish:
    // |∩|=5, |∪|=7 → 0.714 ≥ 0.6 → near-copy clusters with (1,0);
    // (1,0) is the smallest composite key and survives alone
    assert(got == Seq((1L, 0, true), (2L, 0, false), (3L, 0, false),
      (4L, 0, true)))
  }

  test("bm25TopK: the ranked cut equals the full scoring sorted and truncated") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("spark", "join")
    val viaTopK = rows(graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        terms, k = 10).orderBy("rank"))
      .map(r => (r.getInt(1), r.getLong(0), r.getDouble(3)))
    val viaFull = rows(graft.ext.Retrieval.bm25Score(docs, "doc_id", "text",
        terms).orderBy(col("bm25").desc, col("id").asc).limit(10))
      .map(r => (r.getLong(0), r.getDouble(2))).zipWithIndex
      .map { case ((id, s), i) => (i + 1, id, s) }
    assert(viaTopK == viaFull)
  }

  test("contaminationFraction: eval-set span hits counted per training doc; broadcast and shuffle paths agree; bench side broadcast in the plan") {
    val all = Seq(
      (1L, "a b c d e"),    // the eval suite
      (10L, "a b c x y z"), // shares window "a b c" → 1 of 4
      (11L, "p q r s"),     // disjoint → 0 of 2
      (12L, "a"))           // too short → 0 windows, null fraction
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.shingles(col("text"), 3).as("sh"))
    val bench = all.where(col("doc_id") === 1L)
    val corpus = all.where(col("doc_id") > 1L)
    def run(b: Boolean) =
      rows(Dedup.contaminationFraction(corpus, bench, "doc_id", "sh",
          broadcastBench = b).orderBy("id"))
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
    val got = run(b = true)
    assert(got == Seq((10L, 4L, Some(0.25)), (11L, 2L, Some(0.0)),
      (12L, 0L, None)))
    assert(run(b = false) == got)
    val plan = Dedup.contaminationFraction(corpus, bench, "doc_id", "sh")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench probe should broadcast, got:\n$plan")
  }

  test("mmrTopK: lambda=1 is pure relevance; lower lambda defers the near-duplicate; zero-norm rows excluded") {
    // 2-d geometry: 1 and 2 are near-duplicates pointing almost at the
    // query, 3 is a distinct direction, 4 is zero-norm (excluded)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(1.0f, 0.11f)),
      (3L, Array(0.5f, 0.5f)),
      (4L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def ids(lambda: Double): Seq[Long] =
      rows(graft.ext.Retrieval.mmrTopK(emb, "vec_id", "embedding",
        queryVecId = 0L, k = 3, poolSize = 4, lambda = lambda)
        .orderBy("mmr_rank")).map(_.getLong(0))
    // λ=1: the diversity term is weighted 0 — relevance order, and the
    // zero-norm row never appears
    assert(ids(1.0) == Seq(1L, 2L, 3L))
    // λ=0.3: 2's ~0.9999 cosine to the already-picked 1 outweighs its
    // relevance edge over 3 — the near-dup drops to last
    assert(ids(0.3) == Seq(1L, 3L, 2L))
  }

  test("mmrTopK: equals an independent brute-force greedy on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (k, pool, lam) = (8, 25, 0.7)
    val got = rows(graft.ext.Retrieval.mmrTopK(emb, "vec_id", "embedding",
        queryVecId = 0L, k = k, poolSize = pool, lambda = lam)
        .orderBy("mmr_rank"))
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    // reference: plain-Scala recomputation from the raw vectors — pool
    // cut, then greedy with the max-over-selected recomputed from
    // scratch each round (vs the operator's incremental max)
    val raw = rows(emb.select(col("vec_id"),
        col("embedding").cast("array<double>")))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val qv = raw(0L); val qn = dot(qv, qv)
    val cands = raw.toSeq
      .collect { case (id, v) if id != 0L && dot(v, v) > 0 =>
        (id, v, dot(v, v), dot(v, qv) / (math.sqrt(dot(v, v)) * math.sqrt(qn))) }
      .sortBy { case (id, _, _, rel) => (-rel, id) }.take(pool)
    var chosen = Vector.empty[(Long, Array[Double], Double)]
    var rest = cands
    val ref = (1 to math.min(k, cands.size)).map { step =>
      val scored = rest.map { case (id, v, n2, rel) =>
        val ms = if (chosen.isEmpty) 0.0
          else chosen.map { case (_, cv, cn2) =>
            dot(v, cv) / (math.sqrt(n2) * math.sqrt(cn2)) }.max
        (id, v, n2, rel, lam * rel - (1.0 - lam) * ms)
      }
      val best = scored.minBy { case (id, _, _, _, m) => (-m, id) }
      chosen :+= ((best._1, best._2, best._3))
      rest = rest.filterNot(_._1 == best._1)
      (best._1, step, best._4, best._5)
    }
    assert(got == ref)
  }

  test("annRecallAtK: probing every cell recovers exact recall 1.0; fewer probes can only lower it") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.where(col("vec_id") < 8)
    def recalls(nprobe: Int): Seq[(Long, Long, Long, Double)] =
      rows(graft.ext.Similarity.annRecallAtK(q, emb, "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = nprobe).orderBy("query_id"))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val full = recalls(8)
    // nprobe = nlist searches every cell: the index IS brute force
    assert(full.forall { case (_, nExact, nHit, rec) =>
      nExact == 5 && nHit == 5 && rec == 1.0 })
    val partial = recalls(2)
    assert(partial.map(_._1) == full.map(_._1))
    assert(partial.forall { case (_, nExact, nHit, rec) =>
      nHit <= nExact && rec <= 1.0 && rec == nHit.toDouble / nExact })
  }

  test("dedupPassages: first (doc, chunk) occurrence wins; later copies marked dropped") {
    val docs = Seq(1L -> "a b c d", 2L -> "a b x", 3L -> "c d")
      .toDF("doc_id", "text")
    val got = rows(graft.ext.Dedup.dedupPassages(docs, "doc_id", "text",
        chunkSize = 2).orderBy("id", "chunk_id"))
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getBoolean(4)))
    // "a b" first at (1,0); "c d" first at (1,1); copies in docs 2/3 drop
    assert(got == Seq(
      (1L, 0, "a b", true), (1L, 1, "c d", true),
      (2L, 0, "a b", false), (2L, 1, "x", true),
      (3L, 0, "c d", false)))
  }

  test("temperatureMixture: min group exactly fully kept; 4:1 at alpha=0.5 halves the big group's rate; alpha=1 keeps all") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "b"))
      .toDF("id", "g")
    val kept = rows(graft.ext.Sampling.temperatureMixture(df, col("id"),
        col("g"), alpha = 0.5).orderBy("id"))
      .map(r => (r.getLong(0), r.getString(1)))
    // pow(4/1, -0.5) = 0.5 EXACTLY (correctly-rounded libm) →
    // keep_ppm 500000 for group a; group b binds at exactly 1.0.
    // Expected membership recomputed with the same integer hash
    val mult = 0x51ed2701L % 1000000007L
    def bucket(id: Long): Long =
      (((id % 1000000007L) * mult) % 1000000007L) % 1000000L
    val expA = Seq(1L, 2L, 3L, 4L).filter(id => bucket(id) < 500000L)
    assert(kept == (expA.map(_ -> "a") :+ (5L -> "b")).sortBy(_._1))
    assert(kept.contains((5L, "b")), "binding group must keep everything")
    val all = rows(graft.ext.Sampling.temperatureMixture(df, col("id"),
        col("g"), alpha = 1.0)).map(_.getLong(0)).sorted
    assert(all == Seq(1L, 2L, 3L, 4L, 5L), "alpha=1 must keep all rows")
  }

  test("temperatureMixture: a NULL group is a group — rebalanced, not dropped, and can be the binding smallest") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("a")),
      (4L, Some("a")), (5L, None: Option[String]))
      .toDF("id", "g")
    val kept = rows(graft.ext.Sampling.temperatureMixture(df, col("id"),
        col("g"), alpha = 0.5).orderBy("id"))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "<null>" else r.getString(1)))
    // the null group (size 1) binds at rate exactly 1; group a keeps
    // the same 500000-ppm slice as the non-null variant of this test
    val mult = 0x51ed2701L % 1000000007L
    def bucket(id: Long): Long =
      (((id % 1000000007L) * mult) % 1000000007L) % 1000000L
    val expA = Seq(1L, 2L, 3L, 4L).filter(id => bucket(id) < 500000L)
    assert(kept == (expA.map(_ -> "a") :+ (5L -> "<null>")).sortBy(_._1),
      "null-group row must survive via the null-safe join")
  }

  test("bm25MaxP: the short on-topic passage wins its document; docs rank by best passage") {
    val docs = Seq(1L -> "spark x y z spark", 2L -> "a b c d")
      .toDF("doc_id", "text")
    val got = rows(graft.ext.Retrieval.bm25MaxP(docs, "doc_id", "text",
        terms = Seq("spark"), chunkSize = 4, stride = 4, k = 10))
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    def q12(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
    // chunks: d1 → ("spark x y z", tf1 dl4) and ("spark", tf1 dl1);
    // d2 → ("a b c d", tf0). N=3 chunks, Σdl=9, df=2. The dl-1 chunk
    // saturates less than the dl-4 chunk, so MaxP picks the SHORT
    // on-topic passage (chunk 1) — the dilution whole-doc BM25 can't
    // avoid is exactly what this operator removes
    val idf = q12(math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5)))
    val maxp1 = idf *
      ((2.2 * 1 * 9) / (9.0 * (1 + 0.3) + 0.8999999999999999 * 1 * 3))
    assert(got == Seq((1L, 1, maxp1), (2L, 0, 0.0)))
  }

  test("stratifiedSample: WindowGroupLimit plan, exact per-stratum sizes") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val sampled = graft.ext.Sampling.stratifiedSample(
      docs, Seq(col("lang")), col("doc_id"), 5)
    // the rank<=k filter must hit Spark's WindowGroupLimit rewrite: maps
    // pre-truncate to k rows per stratum before the shuffle
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank-limit not rewritten to WindowGroupLimit:\n" + plan.take(600))
    val perStratum = rows(sampled.groupBy("lang").count())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val strataSizes = rows(docs.groupBy("lang").count())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strataSizes.foreach { case (lang, n) =>
      assert(perStratum(lang) == math.min(5L, n))
    }
    // resharding cannot change the sample
    val again = rows(graft.ext.Sampling.stratifiedSample(
      docs.repartition(7), Seq(col("lang")), col("doc_id"), 5)
      .select(col("doc_id"))).map(_.getLong(0)).toSet
    assert(again == rows(sampled.select(col("doc_id"))).map(_.getLong(0)).toSet)
  }

  test("tokenBudgetBucketed equals the plain windowed form at every budget") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val nTok = graft.ext.TextAnalysis.tokenCount(col("text"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      rows(df.select(col("doc_id"))).map(_.getLong(0)).toSet
    // budgets spanning: nothing, boundary-cut, everything
    Seq(0L, 1L, 120L, 1000L, 100000L).foreach { b =>
      val plain = graft.ext.Sampling.tokenBudget(
        docs, col("source"), col("doc_id"), nTok, lit(b))
      // nBuckets = 4 forces multi-row buckets (the boundary-window path);
      // 1024 approximates one-row buckets (the fully-in/out fast path)
      Seq(4, 1024).foreach { nb =>
        val bucketed = graft.ext.Sampling.tokenBudgetBucketed(
          docs, col("source"), col("doc_id"), nTok, lit(b), nb)
        assert(ids(bucketed) == ids(plain), s"budget=$b nBuckets=$nb")
      }
    }
  }

  test("systematicWeightedSample: exactly k picks under light weights; heavy rows certain; matches a plain-Scala reference; bucket count irrelevant") {
    val P = graft.ext.Sampling.HashPrime
    val M = graft.ext.Sampling.HashMult
    def href(id: Long): Long = ((id % P) * M) % P
    // plain-Scala reference of the documented semantics
    def ref(ws: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] = {
      val total = ws.map(_._2).sum
      var cum = 0L
      ws.sortBy { case (id, _) => (href(id), id) }.flatMap { case (id, w) =>
        val prev = cum; cum += w
        if (cum * k / total > prev * k / total)
          Some((id, cum * k / total)) else None
      }
    }
    def run(ws: Seq[(Long, Long)], k: Int, nb: Int): Seq[(Long, Long)] =
      rows(graft.ext.Sampling.systematicWeightedSample(
          ws.toDF("doc_id", "w"), col("doc_id"), col("w"), k, nb)
        .select(col("doc_id"), col("pick_idx")).orderBy("pick_idx"))
        .map(r => (r.getLong(0), r.getLong(1)))
    // uniform weights: exactly k picks, pick_idx = 1..k
    val uniform = (1L to 100L).map((_, 7L))
    val got = run(uniform, 10, 1024)
    assert(got.size == 10 && got.map(_._2) == (1L to 10L))
    assert(got == ref(uniform, 10))
    assert(run(uniform, 10, 3) == got, "bucket count must not change picks")
    // a heavy row (w > total/k) is picked with certainty and absorbs
    // pick points: output < k but the heavy id is always in
    val skewed = (1L to 50L).map((_, 1L)) :+ (99L, 500L)
    val gotSkew = run(skewed, 10, 1024)
    assert(gotSkew.map(_._1).contains(99L))
    assert(gotSkew.size < 10 && gotSkew == ref(skewed, 10))
    // zero-weight rows are never picked
    val withZero = Seq((1L, 0L), (2L, 10L), (3L, 0L), (4L, 10L))
    assert(run(withZero, 2, 8).map(_._1).toSet.subsetOf(Set(2L, 4L)))
    // negative weights refused loudly
    val err = intercept[IllegalArgumentException] {
      run(Seq((1L, 5L), (2L, -1L)), 1, 8)
    }
    assert(err.getMessage.contains("negative weight"))
  }

  test("scoreBuckets: per-group desc tiers, nulls fill the tail, first tiles take the extra row, tiles cap at group size") {
    val df = Seq(
      (1L, "en", Some(0.9)), (2L, "en", Some(0.8)), (3L, "en", Some(0.7)),
      (4L, "en", Some(0.6)), (5L, "en", Option.empty[Double]),
      (6L, "fr", Some(0.5)), (7L, "fr", Option.empty[Double])
    ).toDF("id", "lang", "score")
    val got = rows(TextAnalysis.scoreBuckets(df, col("lang"),
        col("score"), col("id"), nBuckets = 3)
      .select(col("id"), col("bucket")).orderBy("id"))
      .map(r => (r.getLong(0), r.getInt(1)))
    // en (5 rows / 3 tiles → sizes 2,2,1): null ranks LAST → tier 3;
    // fr (2 rows / 3 tiles): tiles cap at one row each
    assert(got == Seq((1L, 1), (2L, 1), (3L, 2), (4L, 2), (5L, 3),
      (6L, 1), (7L, 2)))
  }

  test("tokenBudgetBucketed keeps null-group rows (null-safe totals join)") {
    val df = Seq((1L, Some("a"), 10L), (2L, None, 10L), (3L, Some("a"), 10L),
      (4L, None, 10L), (5L, None, 10L)).toDF("id", "g", "n")
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      rows(d.select(col("id"))).map(_.getLong(0)).toSet
    Seq(5L, 15L, 100L).foreach { b =>
      val plain = graft.ext.Sampling.tokenBudget(
        df, col("g"), col("id"), col("n"), lit(b))
      val bucketed = graft.ext.Sampling.tokenBudgetBucketed(
        df, col("g"), col("id"), col("n"), lit(b), 4)
      assert(ids(bucketed) == ids(plain), s"budget=$b")
      // the NULL group is a real group: some of its rows must be kept
      if (b >= 15L) assert(ids(bucketed).exists(Set(2L, 4L, 5L)))
    }
  }

  test("batching operators refuse output-name collisions, pass caller columns through") {
    val base = Seq((1L, 100L), (2L, 200L)).toDF("id", "n_tokens")
    // caller-owned n_tokens survives untouched
    val lb = graft.ext.Sampling.lengthBatches(
      base, col("id"), col("n_tokens") * 2, batchSize = 2, shards = 1)
    assert(rows(lb.select(col("n_tokens")).orderBy(col("id")))
      .map(_.getLong(0)) == Seq(100L, 200L))
    // an existing output-named column is refused loudly, never overwritten
    val clash = base.withColumn("shard", lit(9L))
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.lengthBatches(clash, col("id"), col("n_tokens"), 2, 1)
    }
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.packChunks(clash, col("id"), col("n_tokens"), 2048, 1)
    }
    // the __-prefixed INTERNALS are enforced too, not just documented:
    // a caller column named __n would be overwritten then dropped
    val tempClash = base.withColumn("__n", lit(9L))
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.lengthBatches(tempClash, col("id"), col("n_tokens"), 2, 1)
    }
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.packChunks(tempClash, col("id"), col("n_tokens"), 2048, 1)
    }
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.tokenBudget(
        base.withColumn("__cum_prev", lit(0L)),
        col("id"), col("id"), col("n_tokens"), lit(10L))
    }
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.tokenBudgetBucketed(
        base.withColumn("__tb", lit(0L)),
        col("id"), col("id"), col("n_tokens"), lit(10L))
    }
  }

  test("semanticDedup: total map, idempotent survivors, within-cell pairs only") {
    import graft.ext.Similarity
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = rows(Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.45, nCells = Some(8)))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // total: one verdict per input row
    assert(out.size == emb.count())
    // labels are component minima: keep_id ≤ id, and every keep target
    // is itself a survivor (its own keep_id)
    out.foreach { case (id, keep) =>
      assert(keep <= id, s"$id -> $keep")
      assert(out(keep) == keep, s"keep target $keep of $id is not kept")
    }
    // cell restriction only ever REMOVES pairs vs global near-dup: any
    // id dropped here must be near SOME other vector globally (x05's
    // exact pair set at the same threshold)
    val globalPairs = rows(Similarity.nearDupPairs(emb, "vec_id",
        "embedding", 0.45).select(col("id_a"), col("id_b")))
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val dropped = out.collect { case (id, keep) if keep != id => id }
    dropped.foreach(id =>
      assert(globalPairs.contains(id), s"dropped $id has no global pair"))
  }

  test("semanticAdmit: one-sided admission, idempotent, no surviving near-dup to existing") {
    import graft.ext.Similarity
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val existing = emb.where(pmod(col("vec_id"), lit(2L)) === 0)
    val incoming = emb.where(pmod(col("vec_id"), lit(2L)) === 1)
    val admitted = Similarity.semanticAdmit(existing, incoming, "vec_id",
      "embedding", threshold = 0.45, nCells = Some(8))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      rows(df.select(col("vec_id"))).map(_.getLong(0)).toSet
    val adm = ids(admitted)
    // admitted ⊆ incoming; nothing existing leaks in
    assert(adm.subsetOf(ids(incoming)))
    // no admitted row is a GLOBAL near-dup of an existing row that
    // shares its cell — cross-check against the exact pair set
    val pairs = rows(Similarity.nearDupPairs(emb, "vec_id", "embedding",
        0.45).select(col("id_a"), col("id_b")))
      .map(r => (r.getLong(0), r.getLong(1)))
    // every dropped incoming row must have SOME existing near-dup
    // (cell restriction only removes reasons to drop, never adds)
    val droppedIds = ids(incoming) -- adm
    val nearExisting = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }.filter { case (i, e) => i % 2 == 1 && e % 2 == 0 }.map(_._1).toSet
    droppedIds.foreach(i => assert(nearExisting.contains(i),
      s"dropped $i has no existing near-dup even globally"))
    // idempotent: re-admitting the admitted batch changes nothing
    val again = ids(Similarity.semanticAdmit(existing, admitted, "vec_id",
      "embedding", threshold = 0.45, nCells = Some(8)))
    assert(again == adm)
  }

  test("bigramScore: hand-computed MLE conditionals, short docs null, case-folded") {
    import graft.ext.TextAnalysis
    // corpus bigrams: d1 "a b a c" -> (a,b)(b,a)(a,c); d2 "A b" -> (a,b)
    // counts: c2(a,b)=2 c2(b,a)=1 c2(a,c)=1; c1(a)=3 c1(b)=1
    val docs = Seq((1L, "a b a c"), (2L, "A b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.bigramScore(docs, "doc_id", "text")
      .orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got.map(g => (g._1, g._2)) == Seq((1L, 3L), (2L, 1L), (3L, 0L)))
    // d1: mean(2/3, 1/1, 1/3) = 2/3; d2: 2/3 (case-folded "A" counts
    // with "a"); d3: no bigram -> null
    assert(math.abs(got(0)._3.get - 2.0 / 3) < 1e-9)
    assert(math.abs(got(1)._3.get - 2.0 / 3) < 1e-9)
    assert(got(2)._3.isEmpty)
    // corpus-typical text outscores token salad on real data
    val sf = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val scored = TextAnalysis.bigramScore(sf, "doc_id", "text")
    assert(scored.where(col("bigram_score").isNotNull).count() > 0)
    // add-k smoothing: V = |{b, a, c}| = 3, k = 0.5; hand-computed
    // conditionals, and a wholly-unknown prefix floors at k/(kV) = 1/3
    val (c1, c2) = TextAnalysis.bigramModel(docs, "doc_id", "text")
    val v = TextAnalysis.bigramVocab(c2)
    assert(v == 3L)
    val sm = rows(TextAnalysis.bigramScoreWith(
        Seq((1L, "a b a c"), (9L, "zz qq")).toDF("doc_id", "text"),
        "doc_id", "text", c1, c2, smoothK = 0.5, vocab = v)
      .orderBy("id"))
      .map(r => (r.getLong(0), r.getDouble(2)))
    val d1 = (2.5 / 4.5 + 1.5 / 2.5 + 1.5 / 4.5) / 3
    assert(math.abs(sm(0)._2 - d1) < 1e-9)
    assert(math.abs(sm(1)._2 - 1.0 / 3) < 1e-9)
    // k = 0 requires the vocab only when it matters
    intercept[IllegalArgumentException] {
      TextAnalysis.bigramScoreWith(docs, "doc_id", "text", c1, c2,
        smoothK = 0.5)
    }
  }

  test("importanceRatioScore: target-domain docs outscore background, hand-checked ratio") {
    import graft.ext.TextAnalysis
    // target domain: "a b" prose; background adds "x y" noise docs
    val docs = Seq((1L, "a b a b", "t"), (2L, "a b", "t"),
      (3L, "x y x y", "n"), (4L, "solo", "n")).toDF("doc_id", "text", "d")
    val scored = rows(TextAnalysis.importanceRatioScore(docs, "doc_id",
        "text", target = docs.where($"d" === "t"), smoothK = 0.5)
      .orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2))
        .map(_.asInstanceOf[Double])))
    assert(scored.map(s => (s._1, s._2)) ==
      Seq((1L, 3L), (2L, 1L), (3L, 3L), (4L, 0L)))
    // target bigrams: c2t(a,b)=3 c2t(b,a)=1, c1t(a)=3 c1t(b)=1,
    // vt=|{a,b}|=2; background adds (x,y)x2,(y,x) -> c1b(a)=3,
    // vb=|{a,b,x,y}|=4. doc2 "a b": importance = sum pt / sum pb =
    // ((3+.5)/(3+.5*2)) / ((3+.5)/(3+.5*4)) = 0.875/0.7 = 1.25
    val pt = q12((3 + 0.5) / (3 + 0.5 * 2))
    val pb = q12((3 + 0.5) / (3 + 0.5 * 4))
    assert(math.abs(scored(1)._3.get - pt / pb) < 1e-9)
    // no-bigram doc is null, and target-domain docs outscore the
    // out-of-domain ones (the DSIR selection signal)
    assert(scored(3)._3.isEmpty)
    assert(scored(0)._3.get > scored(2)._3.get)
    // real corpus: mean importance of en docs exceeds the others under
    // an en target
    val sf = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val imp = TextAnalysis.importanceRatioScore(sf, "doc_id", "text",
      target = sf.where(col("lang") === "en"))
    val byLang = rows(imp.join(sf.select(col("doc_id").as("id"),
        col("lang")), "id")
      .groupBy(expr("lang = 'en'").as("en")).agg(avg("importance"))
      .orderBy("en")).map(_.getDouble(1))
    assert(byLang(1) > byLang(0),
      s"en mean ${byLang(1)} should exceed non-en ${byLang(0)}")
    // salt invariance
    val s1 = rows(TextAnalysis.importanceRatioScore(docs, "doc_id",
      "text", docs.where($"d" === "t"), salt = 1).orderBy("id"))
    val s8 = rows(TextAnalysis.importanceRatioScore(docs, "doc_id",
      "text", docs.where($"d" === "t"), salt = 8).orderBy("id"))
    assert(s1.toString == s8.toString)
    // smoothK = 0 must refuse (background probability could be 0)
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceRatioScore(docs, "doc_id", "text", docs,
        smoothK = 0.0)
    }
  }

  test("importanceRatioScoreFlagged (r16 one-pass models) is " +
      "row-identical to the two-model importanceRatioScore when the " +
      "target is a predicate of the corpus — hand case, sf0.001, salts") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "a b a b", "t"), (2L, "a b", "t"),
      (3L, "x y x y", "n"), (4L, "solo", "n")).toDF("doc_id", "text", "d")
    def cmp(d: org.apache.spark.sql.DataFrame, flag: org.apache.spark.sql.Column,
        tgt: org.apache.spark.sql.DataFrame, salt: Int): Unit = {
      val a = rows(TextAnalysis.importanceRatioScoreFlagged(
        d, "doc_id", "text", flag, salt = salt).orderBy("id")).map(_.toString)
      val b = rows(TextAnalysis.importanceRatioScore(
        d, "doc_id", "text", tgt, salt = salt).orderBy("id")).map(_.toString)
      assert(a == b, s"salt=$salt")
    }
    cmp(docs, $"d" === "t", docs.where($"d" === "t"), 1)
    cmp(docs, $"d" === "t", docs.where($"d" === "t"), 8)
    val sf = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    cmp(sf, col("lang") === "en", sf.where(col("lang") === "en"),
      TextAnalysis.DefaultScoreSalt)
    // degenerate predicates: full target, and an empty one — V_t = 0
    // defines no target probability, so both forms score every row null
    // (not a division by zero)
    cmp(docs, lit(true), docs, 1)
    cmp(docs, lit(false), docs.where(lit(false)), 1)
    assert(rows(TextAnalysis.importanceRatioScoreFlagged(docs, "doc_id",
      "text", lit(false), salt = 1)).forall(_.isNullAt(2)))
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceRatioScoreFlagged(docs, "doc_id", "text",
        lit(true), smoothK = 0.0)
    }
  }

  private def q12(x: Double): Double =
    new java.math.BigDecimal(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()

  test("trigramScoreJm: backoff chain hand-computed; pure-MLE reduction; OOV floors at 0") {
    import graft.ext.TextAnalysis
    // d1 trigrams: (a,b,c)x2 (b,c,a) (c,a,b); cctx(a,b)=3; bigrams
    // c2(a,b)=3 (b,c)=2 (c,a)=1 (b,d)=1; c1(b)=3; u(b)=3 (c)=2 (a)=1
    // (d)=1; N=7
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val (cctx, c3) = TextAnalysis.trigramModel(docs, "doc_id", "text")
    val (c1, c2) = TextAnalysis.bigramModel(docs, "doc_id", "text")
    val uni = TextAnalysis.unigramModel(c2)
    val total = TextAnalysis.bigramTotal(c2)
    assert(total == 7L)
    def score(text: String, l3: Double = 0.5, l2: Double = 0.3) =
      rows(TextAnalysis.trigramScoreJmWith(
          Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text",
          cctx, c3, c1, c2, uni, total, l3, l2))
        .map(r => (r.getLong(1), Option(r.get(2))
          .map(_.asInstanceOf[Double]))).head
    // seen trigram "a b c": full chain
    val expected = q12(0.5 * (2.0 / 3) + 0.3 * (2.0 / 3) +
      (1.0 - 0.5 - 0.3) * (2.0 / 7))
    val (n1, s1) = score("a b c")
    assert(n1 == 1L && math.abs(s1.get - expected) < 1e-9)
    // unseen trigram, seen bigram "c a b" -> wait, (c,a,b) IS seen;
    // use "d a b": p3 = 0 (no (d,a,*) context), p2 = c2(a,b)/c1(a),
    // p1 = u(b)/7 — the ladder degrades instead of cliffing
    val (_, s2) = score("d a b")
    assert(math.abs(s2.get - q12(0.3 * (3.0 / 3) +
      (1.0 - 0.5 - 0.3) * (3.0 / 7))) < 1e-9)
    // wholly OOV floors at exactly 0; short doc is null
    assert(score("zz qq yy")._2.get == 0.0)
    assert(score("zz qq") == (0L, None))
    // lambda3 = 1 is the pure trigram MLE
    assert(math.abs(score("a b c", l3 = 1.0, l2 = 0.0)._2.get
      - q12(2.0 / 3)) < 1e-9)
    // salt invariance on the full corpus
    val sPlain = rows(TextAnalysis.trigramScoreJm(docs, "doc_id",
      "text", salt = 1).orderBy("id"))
    val sSalted = rows(TextAnalysis.trigramScoreJm(docs, "doc_id",
      "text", salt = 8).orderBy("id"))
    assert(sPlain.toString == sSalted.toString)
  }

  test("bigramScoreJm: interpolated backoff, hand-computed; lambda=1 is exactly MLE") {
    import graft.ext.TextAnalysis
    // same corpus as above: c2(a,b)=2 (b,a)=1 (a,c)=1; c1(a)=3 c1(b)=1;
    // unigram continuations u(b)=2 u(a)=1 u(c)=1; N=4
    val docs = Seq((1L, "a b a c"), (2L, "A b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val (c1, c2) = TextAnalysis.bigramModel(docs, "doc_id", "text")
    val uni = TextAnalysis.unigramModel(c2)
    val total = TextAnalysis.bigramTotal(c2)
    assert(total == 4L)
    assert(rows(uni.orderBy("w2")).map(r => (r.getString(0), r.getLong(1)))
      == Seq(("a", 1L), ("b", 2L), ("c", 1L)))
    // JM on "a b" (seen) and "c a" (unseen pair, known words) and
    // "zz qq" (out of vocabulary): the backoff ladder add-k flattens
    val jm = rows(TextAnalysis.bigramScoreJmWith(
        Seq((1L, "a b"), (2L, "c a"), (3L, "zz qq")).toDF("doc_id", "text"),
        "doc_id", "text", c1, c2, uni, total, lambda = 0.75)
      .orderBy("id")).map(r => (r.getLong(0), r.getDouble(2)))
    // seen: 0.75*(2/3) + 0.25*(2/4); unseen pair: MLE term 0, backoff
    // 0.25*(1/4); OOV continuation: 0
    assert(math.abs(jm(0)._2 - (0.75 * 2.0 / 3 + 0.25 * 0.5)) < 1e-9)
    assert(math.abs(jm(1)._2 - 0.0625) < 1e-9)
    assert(jm(2)._2 == 0.0)
    // the point of JM over add-k: a frequent-continuation unseen pair
    // outscores a rare-continuation one ("plausible" beats "gibberish")
    val pair = rows(TextAnalysis.bigramScoreJmWith(
        Seq((1L, "c b"), (2L, "b c")).toDF("doc_id", "text"),
        "doc_id", "text", c1, c2, uni, total, lambda = 0.75)
      .orderBy("id")).map(_.getDouble(2))
    assert(pair(0) > pair(1), s"u(b)=2 backoff ${pair(0)} should beat u(c)=1 ${pair(1)}")
    // lambda = 1 reduces bit-for-bit to the MLE scorer
    val viaJm = rows(TextAnalysis.bigramScoreJmWith(docs, "doc_id", "text",
      c1, c2, uni, total, lambda = 1.0).orderBy("id"))
      .map(r => (r.getLong(0), Option(r.get(2))))
    val viaMle = rows(TextAnalysis.bigramScoreWith(docs, "doc_id", "text",
      c1, c2).orderBy("id")).map(r => (r.getLong(0), Option(r.get(2))))
    assert(viaJm == viaMle)
    // salt invariance: salted and plain plans agree row for row
    val salted = rows(TextAnalysis.bigramScoreJmWith(docs, "doc_id",
      "text", c1, c2, uni, total, salt = 8).orderBy("id"))
    val plain = rows(TextAnalysis.bigramScoreJmWith(docs, "doc_id",
      "text", c1, c2, uni, total, salt = 1).orderBy("id"))
    assert(salted.toString == plain.toString)
  }

  test("auto quantizer escalates to two-level past flatAutoCells; identical to manual composition") {
    import graft.ext.{Ivf, Similarity}
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    // targetCellSize 4 -> k = ceil(n/4); flatAutoCells = 1 forces the
    // two-level branch with nCoarse = nFine = ceil(sqrt(k))
    val k = Similarity.autoNCells(n, targetCellSize = 4)
    val side = math.ceil(math.sqrt(k.toDouble)).toInt
    val auto = rows(Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.45, targetCellSize = 4, flatAutoCells = 1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = rows(Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.45, assignment = Some(
          Ivf.assignTwoLevel(emb, "vec_id", "embedding",
            Ivf.trainTwoLevel(emb, "vec_id", "embedding", side, side))
            .select(col("neighbor_id").as("id"), col("cid")))))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == manual)
    // under flatAutoCells the same call stays flat — also well-formed
    val flat = rows(Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.45, targetCellSize = 4,
        flatAutoCells = Similarity.FlatAutoCells))
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    flat.foreach { case (id, keep) =>
      assert(keep <= id && flat(keep) == keep)
    }
    // semanticAdmit's auto two-level path: one-sided, idempotent, and
    // exact copies of existing rows are refused
    val existing = emb.where(pmod(col("vec_id"), lit(2L)) === 0)
    val copies = existing.limit(3)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label"))
    val incoming = emb.where(pmod(col("vec_id"), lit(2L)) === 1)
      .unionByName(copies)
    val admitted = Similarity.semanticAdmit(existing, incoming, "vec_id",
      "embedding", threshold = 0.999, targetCellSize = 4,
      flatAutoCells = 1)
    val adm = rows(admitted.select(col("vec_id"))).map(_.getLong(0)).toSet
    assert(adm.forall(_ < 100000L), s"exact copies admitted: $adm")
    val again = rows(Similarity.semanticAdmit(existing, admitted, "vec_id",
        "embedding", threshold = 0.999, targetCellSize = 4,
        flatAutoCells = 1).select(col("vec_id")))
      .map(_.getLong(0)).toSet
    assert(again == adm)
  }

  test("autoBitsPerBand: constant expected occupancy as the corpus scales") {
    import graft.ext.Similarity
    assert(Similarity.autoBitsPerBand(16) == 4) // clamp floor
    assert(Similarity.autoBitsPerBand(256, 16) == 4)
    assert(Similarity.autoBitsPerBand(1L << 20, 16) == 16)
    // 4x the rows → exactly 2 more bits → occupancy unchanged
    assert(Similarity.autoBitsPerBand(4L << 20, 16) == 18)
    assert(Similarity.autoBitsPerBand(Long.MaxValue, 1) == 30) // clamp ceil
    // identical vectors share every signature regardless of band width,
    // so auto-sized search still finds exact duplicates
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val dup = emb.where(col("vec_id") === 1)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(dup)
    val bits = Similarity.autoBitsPerBand(corpus.count())
    val pairs = rows(Similarity.lshNearDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.999, bitsPerBand = Some(bits))
      .select(col("id_a"), col("id_b")))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 100001L)))
  }

  test("tokenBudgetBucketed: wide string group keys stay row-identical (measured-width broadcast bound)") {
    // A defaultSize estimate (20 B/string) would call ANY group-key
    // width broadcastable; the measured-width estimate sees real bytes.
    // Config 1 (~33 MB of totals keys) stays under the 64 MB budget —
    // broadcast branch; config 2 (~96 MB) crosses it — shuffle-join
    // fallback. Both must be row-identical to the plain windowed form.
    def check(width: Int, nRows: Long, nGroups: Int, budget: Long): Unit = {
      val wide = "k" * width
      val df = (1L to nRows).map(i => (i, wide + (i % nGroups), 10L))
        .toDF("id", "g", "n")
      def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
        rows(d.select(col("id"))).map(_.getLong(0)).toSet
      val plain = graft.ext.Sampling.tokenBudget(
        df, col("g"), col("id"), col("n"), lit(budget))
      val bucketed = graft.ext.Sampling.tokenBudgetBucketed(
        df, col("g"), col("id"), col("n"), lit(budget), 4)
      assert(ids(bucketed) == ids(plain), s"width=$width budget=$budget")
    }
    check(1 << 17, 256L, 64, 25L)  // under budget: broadcast branch
    check(1 << 20, 96L, 32, 15L)   // over budget: shuffle fallback
  }

  test("lengthBatches: contiguous sorted batches of bounded size") {
    // pre-added caller column: the operator must leave it untouched
    // (it only adds shard/batch_id) — the collision-survival contract
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("n_tokens", graft.ext.TextAnalysis.tokenCount(col("text")))
    val got = rows(graft.ext.Sampling.lengthBatches(docs, col("doc_id"),
      col("n_tokens"), batchSize = 8, shards = 4))
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("n_tokens")))
    got.groupBy(_._1).values.foreach { shard =>
      val byBatch = shard.groupBy(_._2).toSeq.sortBy(_._1)
      // every batch full (size 8) except possibly the last
      byBatch.init.foreach { case (_, rs) => assert(rs.size == 8) }
      assert(byBatch.last._2.size <= 8)
      // batches partition the shard's length-sorted order: max token
      // count of batch b never exceeds min of batch b+1
      byBatch.sliding(2).foreach {
        case Seq((_, a), (_, b2)) =>
          assert(a.map(_._3).max <= b2.map(_._3).min)
        case _ =>
      }
    }
  }

  test("calibrate: pct is a deterministic in-group percentile in [0,1]") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("n_tokens", graft.ext.TextAnalysis.tokenCount(col("text")))
    val got = rows(graft.ext.TextAnalysis.calibrate(
      docs, col("lang"), col("n_tokens"), col("doc_id"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("pct")))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got.groupBy(_._1).values.foreach { group =>
      val sorted = group.sortBy(t => (t._3, t._2))
      assert(sorted.head._4 == 0.0)
      if (sorted.size > 1) assert(sorted.last._4 == 1.0)
      // pct strictly increases along the (score, id) order: the
      // tie-break makes every rank unique
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 < b._4)
        case _ =>
      }
    }
  }

  test("packChunks: shard-local streams are gapless and chunk-aligned") {
    val docs = Seq((0L, 1000L), (8L, 1500L), (16L, 100L), (1L, 2048L), (9L, 1L))
      .toDF("id", "n")
    val got = rows(graft.ext.Sampling.packChunks(docs, col("id"), col("n"),
      chunkTokens = 2048, shards = 8))
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("start_tok"),
          r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last"))).toMap
    // shard 0 stream: 0 (0..999), 8 (1000..2499), 16 (2500..2599)
    assert(got(0L) == (0L, 0L, 0L, 0L))
    assert(got(8L) == (0L, 1000L, 0L, 1L)) // spans the 2048 boundary
    assert(got(16L) == (0L, 2500L, 1L, 1L))
    // shard 1 stream: doc 1 fills chunk 0 exactly; doc 9 starts chunk 1
    assert(got(1L) == (1L, 0L, 0L, 0L))
    assert(got(9L) == (1L, 2048L, 1L, 1L))
  }

  test("dedupAgainstCorpus admits exactly what corpus-wide LSH would admit") {
    val sh = (d: org.apache.spark.sql.DataFrame) => d.select($"doc_id",
      array_distinct(TextAnalysis.shingles($"text", 3)).as("sh"))
    val existing = sh(docs.where($"doc_id".isin(1L, 3L, 5L)))
    val incoming = sh(docs.where($"doc_id".isin(2L, 4L)))
    val survivors = rows(Dedup.dedupAgainstCorpus(existing, incoming,
      "doc_id", "sh")).map(_.getAs[Long]("doc_id")).toSet
    // doc 4 is an exact copy of existing doc 1 → dropped; doc 2 is a
    // near-dup of 1 above threshold → dropped too
    val crossPairs = rows(Dedup.minhashLsh(sh(docs), "doc_id", "sh"))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter { case (a, b) =>
        Set(1L, 3L, 5L).contains(a) ^ Set(1L, 3L, 5L).contains(b) }
    val expectDropped = crossPairs.flatMap { case (a, b) => Seq(a, b) }
      .filter(Set(2L, 4L).contains).toSet
    assert(survivors == Set(2L, 4L) -- expectDropped)
    // admission is idempotent: survivors re-checked against the corpus
    // plus themselves admit unchanged
    val again = rows(Dedup.dedupAgainstCorpus(existing,
      incoming.where($"doc_id".isin(survivors.toSeq: _*)), "doc_id", "sh"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(again == survivors)
  }

  test("discrete quantiles: exact ranks, stable under re-sharding") {
    val df = (1L to 100L).map(v => ("g", v)).toDF("g", "v")
    val ps = Seq((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"))
    val got = rows(graft.ext.Quantiles.discrete(df, Seq("g"), col("v"), ps)).head
    // ceil(p*n) over 1..100: ranks 50 / 90 / 99
    assert((got.getAs[Long]("p50"), got.getAs[Long]("p90"),
      got.getAs[Long]("p99"), got.getAs[Long]("n")) == (50L, 90L, 99L, 100L))
    val re = rows(graft.ext.Quantiles.discrete(df.repartition(7), Seq("g"),
      col("v"), ps)).head
    assert(re.getAs[Long]("p50") == 50L && re.getAs[Long]("p99") == 99L)
    // sketch path lands within one rank of exact on this data
    val ap = rows(graft.ext.Quantiles.approx(df, Seq("g"), col("v"), ps)).head
    assert(math.abs(ap.getAs[Long]("p50") - 50L) <= 1)
    assert(math.abs(ap.getAs[Long]("p90") - 90L) <= 1)
  }

  test("space-saving: exact when capacity covers distinct, bounded otherwise") {
    // counts: a=50, b=30, c=15, d..m = 1 each (10 singletons); N = 105
    val toks = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(15)("c") ++
      ('d' to 'm').map(_.toString)).sortBy(identity)
    val ds = spark.createDataset(toks)(Encoders.STRING).repartition(4)
    val exactRegime = ds.select(
      new graft.ext.SpaceSavingAggregator(64).toColumn).collect().head
    assert(exactRegime.takeWhile(_._2 > 1).map(t => (t._1, t._2, t._3)) ==
      Seq(("a", 50L, 0L), ("b", 30L, 0L), ("c", 15L, 0L)))
    val n = toks.size.toLong
    val m = 5
    val sketched = ds.select(
      new graft.ext.SpaceSavingAggregator(m).toColumn).collect().head
    val est = sketched.map(t => t._1 -> (t._2, t._3)).toMap
    val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // over-count only, within the per-merge error budget; heavy keys present
    assert(sketched.size <= m)
    sketched.foreach { case (t, c, e) =>
      val tc = truth.getOrElse(t, 0L)
      assert(c >= tc && c - tc <= e, s"$t est=$c true=$tc err=$e")
    }
    // presence is guaranteed only above N/m (= 21): a and b qualify
    Seq("a", "b").foreach(k => assert(est.contains(k), s"heavy $k evicted"))
  }

  test("weightedSample: deterministic pure-filter subset semantics") {
    val ids = (0L until 1000L).toDF("doc_id")
    val all = graft.ext.Sampling.weightedSample(ids, col("doc_id"), lit(1000))
    assert(all.count() == 1000)
    val none = graft.ext.Sampling.weightedSample(ids, col("doc_id"), lit(0))
    assert(none.count() == 0)
    val s1 = rows(graft.ext.Sampling.weightedSample(ids, col("doc_id"), lit(250)))
      .map(_.getLong(0)).toSet
    val s2 = rows(graft.ext.Sampling.weightedSample(ids.repartition(9),
      col("doc_id"), lit(250))).map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.size > 150 && s1.size < 350)
    // independent of the split hash: the sample hits all three splits
    val splits = rows(graft.ext.Sampling.hashSplit(
      s1.toSeq.toDF("doc_id"), col("doc_id"), 800, 100))
      .map(_.getAs[String]("split")).toSet
    assert(splits == Set("train", "valid", "test"))
  }

  test("scalar quantization: codes bounded, reconstruction within one cell") {
    val vecs = Seq(
      (1L, Array(0.0f, -1.0f, 5.0f)),
      (2L, Array(1.0f, 1.0f, 5.0f)),   // dim 3 constant → code 0
      (3L, Array(0.5f, 0.25f, 5.0f)),
      (4L, Array(0.25f, -0.5f, 5.0f)))
      .toDF("id", "vec")
    val codes = graft.ext.Quantize.scalarQuantize(vecs, "id", "vec")
    val got = rows(codes).map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.values.forall(c => c >= 0 && c <= 255))
    assert(got((1L, 1L)) == 0L && got((2L, 1L)) == 255L) // extremes hit the ends
    assert(got.filter(_._1._2 == 3L).values.forall(_ == 0L)) // constant dim
    // dequantized midpoint is within half a cell of the original
    val stats = rows(graft.ext.Quantize.dimStats(vecs, col("vec")))
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val orig = rows(vecs.select(col("id"), posexplode(col("vec")).as(Seq("p", "v"))))
      .map(r => (r.getLong(0), r.getInt(1) + 1L) -> r.getFloat(2).toDouble).toMap
    got.foreach { case ((id, pos), code) =>
      val (mn, mx) = stats(pos)
      if (mx > mn) {
        val cell = (mx - mn) / 255.0
        val recon = mn + (code + 0.5) * cell
        assert(math.abs(recon - orig((id, pos))) <= cell * 0.5 + 1e-12,
          s"id=$id pos=$pos code=$code")
      }
    }
  }

  test("count-min: one-sided error, mass conservation, cellwise-sum merge") {
    import graft.ext.CountMin
    // skewed multiset over a deliberately tiny grid so collisions occur
    val keys = (1L to 40L).flatMap(k => Seq.fill((41 - k).toInt)(k))
    val df = keys.toDF("k")
    val w = 13
    val sk = CountMin.sketch(df, $"k", width = w, depth = 3)
    // every depth row conserves total mass
    val perDepth = rows(sk.groupBy("j").agg(sum($"c").as("s")))
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perDepth.size == 3 && perDepth.values.forall(_ == keys.size.toLong))
    // estimates never undercount; absent keys still answer (possibly > 0)
    val probe = (1L to 50L).toDF("k")
    val est = rows(CountMin.estimate(sk, probe, $"k", width = w, depth = 3))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    (1L to 50L).foreach { k =>
      assert(est(k) >= truth.getOrElse(k, 0L), s"undercount at $k")
    }
    // additivity: sketch of the union == cellwise sum of the halves
    val (a, b) = keys.splitAt(keys.size / 2)
    val merged = CountMin.merge(
      CountMin.sketch(a.toDF("k"), $"k", width = w, depth = 3),
      CountMin.sketch(b.toDF("k"), $"k", width = w, depth = 3))
    val cells = (d: org.apache.spark.sql.DataFrame) =>
      rows(d.select("j", "bucket", "c"))
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells(merged) == cells(sk))
  }

  test("multi-probe LSH: superset of single-probe, subset of exact, exact values") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(flip: Int) = rows(graft.ext.Similarity.lshNearDupPairs(
        emb, "vec_id", "embedding", threshold = 0.2,
        bands = 2, bitsPerBand = Some(8), flipBits = flip))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val single = pairs(0)
    val multi = pairs(8)
    // probing can only ADD candidates; exact verify keeps values exact
    assert(single.keySet.subsetOf(multi.keySet))
    assert(multi.size > single.size,
      s"multi-probe added nothing (single=${single.size})")
    single.foreach { case (k, v) => assert(multi(k) == v) }
    // everything reported is a true above-threshold pair
    val exact = rows(graft.ext.Similarity.nearDupPairs(
        emb, "vec_id", "embedding", 0.2))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    multi.foreach { case (k, v) =>
      assert(exact.contains(k) && exact(k) == v, s"spurious/wrong pair $k")
    }
  }

  test("bloom gate: zero false negatives, few false positives, exact after verify") {
    import graft.ext.Bloom
    val present = (1L to 500L).map(i => s"key_$i").toDF("k")
    val bloom = Bloom.buildHashed(present, $"k", expectedItems = 500, fpp = 0.01)
    // no false negatives: every present key passes the gate
    assert(rows(present.where(!Bloom.mightContain(bloom, $"k"))).isEmpty)
    // absent keys mostly fail it (fpp 1% — allow generous slack)
    val absent = (5001L to 6000L).map(i => s"key_$i").toDF("k")
    val fp = rows(absent.where(Bloom.mightContain(bloom, $"k"))).size
    assert(fp <= 100, s"false-positive rate too high: $fp/1000")
    // gate + exact verify ≡ exact semi-join
    val gated = absent.unionByName(present)
      .where(Bloom.mightContain(bloom, $"k"))
      .join(present.withColumnRenamed("k", "pk"), $"k" === $"pk", "left_semi")
    val exact = absent.unionByName(present)
      .join(present.withColumnRenamed("k", "pk"), $"k" === $"pk", "left_semi")
    assert(rows(gated).map(_.getString(0)).sorted ==
      rows(exact).map(_.getString(0)).sorted)
  }

  test("sessionize: strict 30-min gap splits sessions") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L), (1L, "2024-01-01 00:29:59", 2L),
      (1L, "2024-01-01 00:59:59", 3L), // 30:00 exactly → same session
      (1L, "2024-01-01 01:30:00", 4L), // 30:01 gap → new session
      (2L, "2024-01-01 00:00:00", 5L))
      .toDF("user_id", "tss", "event_id")
      .withColumn("ts", to_timestamp($"tss"))
    val got = EventWindows.sessionize(ev, col("ts"), col("user_id"),
      1800000000L, col("event_id"))
    val sids = rows(got.orderBy("event_id").select("sid")).map(_.getLong(0))
    assert(sids == Seq(1L, 1L, 1L, 2L, 1L))
  }

  test("polyHash matches a reference fold; winnowing guarantee holds") {
    // reference: acc seeded with the first char code, acc*31+c mod 1e9+7
    def ref(s: String): Long =
      s.drop(1).foldLeft(s.head.toLong)((acc, c) =>
        (acc * 31 + c.toLong) % 1000000007L)
    val got = rows(Seq("a", "ab", "the quick brown", "zz zz zz")
      .toDF("s").select(Dedup.polyHash($"s").as("h"), $"s"))
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    for (s <- got.keys) assert(got(s) == ref(s), s"polyHash($s)")

    // guarantee: docs 1 and 2 share a verbatim run of 12 tokens
    // >= w + k - 1 = 6, so they MUST share at least one fingerprint
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
    val byDoc = rows(fp).groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert(byDoc(1L) == byDoc(4L)) // identical docs: identical sketches
    // density: the sketch is a small fraction of the shingle count, and
    // every document with >= 1 shingle is represented
    assert(byDoc.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // pair query surfaces the near-dup cluster with overlap 1 for twins
    val pairs = rows(Dedup.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1L))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L ||
      a == 5L || b == 5L }) // unrelated docs share nothing
  }

  test("polyHash of a non-string column fails at analysis, readably") {
    val ints = Seq(1L, 2L).toDF("n")
    for (h <- Seq(Dedup.polyHash _, Dedup.polyHashReversed _)) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        ints.select(h($"n")))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        e.getMessage)
      assert(e.getMessage.contains("\"STRING\"") &&
        e.getMessage.contains("\"BIGINT\""), e.getMessage)
    }
  }

  test("gopherQuality: each rule gates independently; no row vanishes") {
    // 52 distinct tokens (no token above the 10% dominance cut), mean
    // word length ~4, two stopword types
    val good = "the a " + (1 to 50).map(i => f"word$i%02d").mkString(" ")
    val gq = Seq(
      (1L, good),                        // passes every rule
      (2L, "too short to pass"),         // fails ok_words
      (3L, ("dup " * 60).trim),          // fails ok_top (one dominant token)
      (4L, ""),                          // empty: must still appear
      (5L, ("xx " * 60).trim)            // fails ok_stop + ok_wl (wl=2)
    ).toDF("doc_id", "text")
    val got = rows(TextAnalysis.gopherQuality(gq, "doc_id", "text")
      .orderBy("id"))
    assert(got.size == 5) // the empty doc did not vanish
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("gopher_pass"))
    assert(!byId(2L).getAs[Boolean]("ok_words"))
    assert(!byId(3L).getAs[Boolean]("ok_top"))
    assert(byId(3L).getAs[Double]("top_word_frac") == 1.0)
    assert(!byId(5L).getAs[Boolean]("ok_stop"))
    assert(!byId(5L).getAs[Boolean]("ok_wl"))
    // empty text tokenizes to one zero-length token: wl 0, fails cleanly
    assert(byId(4L).getAs[Long]("n_words") == 1L)
    assert(!byId(4L).getAs[Boolean]("gopher_pass"))
  }

  test("robustZ: exact integer median/MAD; MAD=0 yields null z, not Inf") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 12L), ("a", 3L, 14L), ("a", 4L, 16L),
      ("a", 5L, 18L), ("a", 6L, 1000L), // median 15, MAD 3
      ("b", 7L, 5L), ("b", 8L, 5L), ("b", 9L, 5L) // MAD = 0
    ).toDF("g", "id", "v")
    val got = rows(graft.ext.Quantiles.robustZ(df, Seq("g"), col("v"))
      .orderBy("id"))
    val byId = got.map(r => r.getLong(1) -> r).toMap
    // group a: med2 = 14+16 = 30, |2v-30| sorted = 2,6,6,2,... MAD4 via
    // order stats; spot-check the outlier and a center point
    assert(byId(6L).getAs[Boolean]("outlier")) // 1000 is wildly out
    assert(!byId(3L).getAs[Boolean]("outlier"))
    val z3 = byId(3L).getAs[Double]("z") // v=14: (28-30)*2/(1.4826*mad4)
    assert(z3 < 0 && math.abs(z3) < 1.0)
    // group b: all identical -> MAD 0 -> null z, outlier false
    assert(byId(7L).isNullAt(byId(7L).fieldIndex("z")))
    assert(!byId(7L).getAs[Boolean]("outlier"))
  }

  test("corpusPrep: each stage drops its own casualty, flags stay NULL past the drop") {
    def words(stem: String, n: Int) =
      "the a " + (1 to n).map(i => f"$stem$i%02d").mkString(" ")
    val aTxt = words("aw", 50)              // 52 tokens, unique — kept
    val cTxt = words("cw", 51)              // 53 tokens — kept
    val zTxt = words("zw", 60)              // the bench/eval doc
    val train = Seq(
      (20L, aTxt, "en"),
      (21L, "too short", "en"),             // fails quality
      (22L, cTxt, "en"),
      (23L, cTxt, "en"),                    // exact dup of 22
      (24L, aTxt + " tail tokens trailing here", "en"), // near-dup of 20
      (25L, zTxt + " minor change end", "en"), // contaminated by bench
      (26L, words("gw", 500), "en"),        // 502 tokens — length outlier
      (27L, words("hw", 52), "en")          // 54 tokens — kept
    ).toDF("doc_id", "text", "lang")
    val bench = Seq((1L, zTxt, "en")).toDF("doc_id", "text", "lang")
    val got = rows(graft.ext.Pipeline.corpusPrep(train, bench,
      "doc_id", "text", "lang").orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    def b(id: Long, c: String) = byId(id).getAs[Boolean](c)
    def isNull(id: Long, c: String) = byId(id).isNullAt(byId(id).fieldIndex(c))

    assert(got.size == 8)
    for (id <- Seq(20L, 22L, 27L)) assert(b(id, "kept"), s"doc $id kept")
    assert(!b(21L, "ok_quality") && !b(21L, "kept"))
    assert(isNull(21L, "exact_dup")) // never reached stage 2
    assert(b(23L, "exact_dup") && !b(23L, "kept"))
    assert(isNull(23L, "near_dup"))
    assert(b(24L, "near_dup") && !b(24L, "kept"))
    assert(isNull(24L, "contaminated"))
    assert(b(25L, "contaminated") && !b(25L, "kept"))
    assert(byId(25L).getAs[Double]("contamination") > 0.5)
    assert(isNull(25L, "len_outlier"))
    assert(b(26L, "len_outlier") && !b(26L, "kept"))
    // survivors' audit values are populated, not NULL
    assert(!isNull(20L, "z") && !b(20L, "len_outlier"))

    // the yield report: one row, columns partition the input exactly
    val rep = rows(graft.ext.Pipeline.stageReport(
      graft.ext.Pipeline.corpusPrep(train, bench,
        "doc_id", "text", "lang"))).head
    assert(rep.getAs[Long]("n_docs") == 8L)
    assert(rep.getAs[Long]("n_quality_fail") == 1L)
    assert(rep.getAs[Long]("n_exact_dup") == 1L)
    assert(rep.getAs[Long]("n_near_dup") == 1L)
    assert(rep.getAs[Long]("n_contaminated") == 1L)
    assert(rep.getAs[Long]("n_len_outlier") == 1L)
    assert(rep.getAs[Long]("n_kept") == 3L)

    // the pointer-doubling propagation arm converges to the identical
    // manifest (both reach the min-label fixpoint; only the round
    // count differs) — the opt-in for chain-shaped winnow graphs
    assert(rows(graft.ext.Pipeline.corpusPrep(train, bench,
        "doc_id", "text", "lang", doubling = true).orderBy("id"))
        .map(_.toString) == got.map(_.toString))
  }

  test("manifest persistence: save/load round-trips the corpusPrep " +
      "manifest bit-equal; foreign parquet refused loudly") {
    def words(stem: String, n: Int) =
      "the a " + (1 to n).map(i => f"$stem$i%02d").mkString(" ")
    val train = Seq(
      (20L, words("aw", 50), "en"),
      (21L, "too short", "en"),
      (22L, words("cw", 51), "en"),
      (23L, words("cw", 51), "en")
    ).toDF("doc_id", "text", "lang")
    val bench = Seq((1L, words("zw", 60), "en"))
      .toDF("doc_id", "text", "lang")
    val man = graft.ext.Pipeline.corpusPrep(train, bench,
      "doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest")
      .toString
    graft.ext.Pipeline.saveManifest(man, dir)
    val loaded = graft.ext.Pipeline.loadManifest(spark, dir)
    assert(rows(loaded.orderBy("id")).map(_.toString) ==
      rows(man.orderBy("id")).map(_.toString))
    // every manifest consumer reads the loaded form unchanged
    assert(rows(graft.ext.Pipeline.stageReport(loaded)).map(_.toString) ==
      rows(graft.ext.Pipeline.stageReport(man)).map(_.toString))
    // a foreign parquet (wrong shape) is refused loudly, not served
    val foreign = java.nio.file.Files.createTempDirectory("graft_mfor")
      .toString
    train.write.mode("overwrite").parquet(foreign)
    val e = intercept[IllegalArgumentException] {
      graft.ext.Pipeline.loadManifest(spark, foreign)
    }
    assert(e.getMessage.contains("not a corpusPrep manifest"))
    // and so is saving something that is not a manifest
    val e2 = intercept[IllegalArgumentException] {
      graft.ext.Pipeline.saveManifest(train, dir + "_x")
    }
    assert(e2.getMessage.contains("not a corpusPrep manifest"))
  }

  test("sifEmbed: exact SIF-weighted hash-sign cells on a hand corpus") {
    def refHash(s: String): Long =
      if (s.isEmpty) 0L
      else s.drop(1).foldLeft(s.head.toLong)((acc, c) =>
        (acc * 31 + c.toLong) % 1000000007L)
    // corpus: doc1 = "ab ab cd", doc2 = "cd"; T = 4, c(ab)=2, c(cd)=2
    val d = Seq((1L, "ab ab cd"), (2L, "cd")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.sifEmbed(d, "doc_id", "text", dim = 4)
      .orderBy("id", "dim"))
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 8)
    // expected: w = 4/2004 quantized HALF_UP at 12 decimals; cell =
    // (tf_ab·±w + tf_cd·±w)/n_d with signs from polyHash parity —
    // the identical arithmetic, recomputed independently
    val w = BigDecimal(4.0 / 2004.0)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def sgn(t: String, dim: Int) =
      if (refHash(s"$t#$dim") % 2 == 0) BigDecimal(1) else BigDecimal(-1)
    for (dim <- 0 until 4) {
      // exact decimal sum, then ONE double division (the engine's
      // boundary order)
      val e1 = (w * 2 * sgn("ab", dim) + w * sgn("cd", dim)).toDouble / 3.0
      val e2 = (w * sgn("cd", dim)).toDouble / 1.0
      assert(got((1L, dim)) == e1, s"doc1 dim $dim")
      assert(got((2L, dim)) == e2, s"doc2 dim $dim")
    }
    // signs actually vary across dims (the hash is not degenerate)
    assert((0 until 4).map(sgn("ab", _)).distinct.size == 2)
  }

  test("frameSamplePlan: uniform integer spread, short clips take " +
      "every frame, empty clips emit nothing, indices strictly " +
      "increase") {
    import graft.ext.Multimodal
    val d = Seq((1L, 100L), (2L, 3L), (3L, 0L), (4L, 8L))
      .toDF("id", "n_frames")
    val got = rows(Multimodal.frameSamplePlan(d, "id", col("n_frames"),
      k = 8).orderBy("id", "sample_ord"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // clip 1 (100 frames): idx = ⌊j·100/8⌋ = 0,12,25,37,50,62,75,87
    assert(got.filter(_._1 == 1L).map(_._3) ==
      Seq(0L, 12L, 25L, 37L, 50L, 62L, 75L, 87L))
    // clip 2 (3 frames < k): all of 0,1,2
    assert(got.filter(_._1 == 2L).map(_._3) == Seq(0L, 1L, 2L))
    // clip 3 (0 frames): no rows; clip 4 (n = k): all 8 frames
    assert(!got.exists(_._1 == 3L))
    assert(got.filter(_._1 == 4L).map(_._3) == (0L to 7L))
    // strict monotonicity within every clip
    assert(got.groupBy(_._1).values.forall(rs =>
      rs.map(_._3) == rs.map(_._3).distinct.sorted))
  }

  test("vocabularyBudget: exact Zipf cuts, in-bucket ceil, tied-count " +
      "buckets, full-coverage edge") {
    // vocab: a×6, b×3, c×1 — T = 10
    val d = Seq((1L, "a a a a a a b b"), (2L, "b c")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.vocabularyBudget(d, "doc_id", "text",
      Seq(500, 900, 1000)).orderBy("ppm"))
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got == Seq(
      (500, 1L, 6L, 10L, 0.6),   // required 5 → 1 term covers 6
      (900, 2L, 9L, 10L, 0.9),   // required 9 → a+b
      (1000, 3L, 10L, 10L, 1.0)))
    // tied-count bucket: x×2, y×2, z×1 — required ⌈0.7·5⌉ = 4 needs
    // TWO of the cnt-2 terms (the ceil inside the bucket)
    val d2 = Seq((1L, "x x y y z")).toDF("doc_id", "text")
    val got2 = rows(TextAnalysis.vocabularyBudget(d2, "doc_id", "text",
      Seq(700))).map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(4)))
    assert(got2 == Seq((700, 2L, 4L, 0.8)))
  }

  test("simpsonAudit: the Berkeley reversal — every stratum favors " +
      "cohort 0, the pool favors cohort 1, paradox flagged") {
    import graft.ext.Stats
    // easy: c0 9/10 vs c1 72/90 (+0.1 each stratum)
    // hard: c0 27/90 vs c1 2/10
    // pooled: c0 36/100 = .36 vs c1 74/100 = .74 → pooled_diff < 0
    def mk(st: String, c: Long, k: Int, n: Int) =
      (0 until n).map(i => (st, c, i < k))
    val units = (mk("easy", 0L, 9, 10) ++ mk("easy", 1L, 72, 90) ++
      mk("hard", 0L, 27, 90) ++ mk("hard", 1L, 2, 10))
      .toDF("stratum", "cohort", "ok")
    val r = rows(Stats.simpsonAudit(units, col("stratum"), col("cohort"),
      col("ok"))).head
    assert(r.getAs[Long]("n_strata") == 2L &&
      r.getAs[Long]("n_paired") == 2L)
    assert(r.getAs[Long]("n_reversed") == 2L)
    assert(r.getAs[Double]("pooled_diff") == 0.36 - 0.74)
    // both strata diff exactly 0.9−0.8 = 0.3−0.2 (same double), each
    // weighted 1/2 and quantized — adjusted is exactly 0.1
    assert(r.getAs[Double]("adjusted_diff") == 0.1)
    assert(r.getAs[Boolean]("paradox"))
    // a one-sided stratum joins the pool but not the adjusted sum
    val units2 = units.union(Seq(("solo", 0L, true)).toDF(
      "stratum", "cohort", "ok"))
    val r2 = rows(Stats.simpsonAudit(units2, col("stratum"),
      col("cohort"), col("ok"))).head
    assert(r2.getAs[Long]("n_strata") == 3L &&
      r2.getAs[Long]("n_paired") == 2L)
  }

  test("rboAgreement: exact RBO_EXT on a hand pair; identical lists " +
      "score exactly 1; one-sided queries score 0") {
    import graft.ext.Retrieval
    // q1: A=[1,2,3] vs B=[1,3,2] at p=0.5, k=3:
    // X_1=1, X_2=1, X_3=3 → (1-p)[1 + 0.5·(1/2) + 0.25·1] + 0.125·1
    // = 0.5 + 0.125 + 0.125 + 0.125 = 0.875 — every term an exact
    // binary fraction, so equality is exact
    // q2: identical lists → 1 − p^k + p^k = 1 exactly
    // q3: present only in run A → all X_d = 0 → rbo 0
    val runA = Seq(("q1", 1L, 1L), ("q1", 2L, 2L), ("q1", 3L, 3L),
      ("q2", 7L, 1L), ("q2", 8L, 2L), ("q2", 9L, 3L),
      ("q3", 5L, 1L)).toDF("query_id", "id", "rank")
    val runB = Seq(("q1", 1L, 1L), ("q1", 3L, 2L), ("q1", 2L, 3L),
      ("q2", 7L, 1L), ("q2", 8L, 2L), ("q2", 9L, 3L))
      .toDF("query_id", "id", "rank")
    val got = rows(Retrieval.rboAgreement(runA, runB, k = 3, p = 0.5)
      .orderBy("query_id"))
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got == Seq(("q1", 3L, 0.875), ("q2", 3L, 1.0),
      ("q3", 0L, 0.0)))
  }

  test("tokenLabelMI: full grid with absent cells; perfectly " +
      "label-aligned term scores exactly 1 bit; empty docs count in " +
      "the marginals") {
    val d = Seq(
      (1L, "en", "cat dog"),
      (2L, "en", "cat"),
      (3L, "fr", "chien"),
      (4L, "fr", "")) // term-less doc — still a (label, N) unit
      .toDF("doc_id", "lang", "text")
    val got = rows(TextAnalysis.tokenLabelMI(d, "doc_id", "text", "lang")
      .orderBy("term", "label"))
    // vocab = {"", cat, chien, dog} × 2 labels — absent cells included
    assert(got.length == 8)
    val byCell = got.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // "cat" occurs in BOTH en docs and NO fr doc: MI = 1 bit exactly
    // ((2/4)·log2(2) twice; the other two cells are zero)
    assert(byCell(("cat", "en")).getAs[Double]("mi") == 1.0)
    assert(byCell(("cat", "fr")).getAs[Double]("mi") == 1.0)
    assert(byCell(("cat", "fr")).getAs[Long]("n11") == 0L)
    // the absent cell (chien, en): n11=0 n10=1 n01=2 n00=1 — present
    // in the grid, counts exact; the fr empty doc keeps nj(fr)=2
    val ce = byCell(("chien", "en"))
    assert(ce.getAs[Long]("n11") == 0L && ce.getAs[Long]("n10") == 1L &&
      ce.getAs[Long]("n01") == 2L && ce.getAs[Long]("n00") == 1L)
    // MI is symmetric in the label complement on a 2-label corpus
    assert(byCell(("dog", "en")).getAs[Double]("mi") ==
      byCell(("dog", "fr")).getAs[Double]("mi"))
  }

  test("editDistancePairs: symmetric-delete blocking finds exactly the " +
      "lev<=d pairs; variant collisions at dist>d are rejected") {
    val d = Seq(
      (1L, "spark"),   // lev(spark, sparc)=1, lev(spark, shark)=1
      (2L, "sparc"),
      (3L, "shark"),   // lev(sparc, shark)=2
      (4L, "abcdef"),  // lev vs fedcba = 6; they share delete variants
      (5L, "abcdpq"),  // lev(abcdef, abcdpq)=2
      (6L, "fedcba"),
      (7L, "zzzz")     // len 4 < minLen 5 — excluded entirely
    ).toDF("id", "s")
    val got = rows(graft.ext.Dedup.editDistancePairs(d, "id", "s",
        maxDist = 2, minLen = 5).orderBy("id_a", "id_b"))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got == Seq((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2),
      (4L, 5L, 2)))
    // the reversal pair (4,6) shares 2-delete variants (e.g. "cd"-free
    // forms) candidates can collide on, but lev=6 — must NOT appear
    assert(!got.exists(t => t._1 == 4L && t._2 == 6L))
    // a minLen that would admit near-empty hub variants refuses loudly
    val e = intercept[IllegalArgumentException] {
      graft.ext.Dedup.editDistancePairs(d, "id", "s",
        maxDist = 2, minLen = 3)
    }
    assert(e.getMessage.contains("minLen"))
  }

  test("featureHashTf: buckets match the reference hash; dense form is consistent") {
    def refHash(s: String): Long =
      if (s.isEmpty) 0L
      else s.drop(1).foldLeft(s.head.toLong)((acc, c) =>
        (acc * 31 + c.toLong) % 1000000007L)
    // ba/ca land in distinct buckets mod 8 (hash = 7*c1 + c2 mod 8)
    val d = Seq((1L, "ab ba ab ca"), (2L, "")).toDF("doc_id", "text")
    val trip = rows(TextAnalysis.featureHashTf(d, "doc_id", "text", dim = 8)
      .orderBy("id", "bucket"))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(trip((1L, refHash("ab") % 8)) == 2L)
    assert(trip((1L, refHash("ba") % 8)) == 1L)
    assert(trip((2L, 0L)) == 1L) // empty text -> one zero-length token
    // dense form: vec[bucket] = tf, zeros elsewhere, fixed length
    val vec = rows(TextAnalysis.featureHashVector(d, "doc_id", "text",
      dim = 8).orderBy("id")).map(r =>
      r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(vec(1L).length == 8 && vec(2L).length == 8)
    assert(vec(1L)(refHash("ab").toInt % 8) == 2.0)
    assert(vec(1L).sum == 4.0) // total mass = token count
  }

  test("unimaxAllocation: ascending waterfill, caps bind, remainder to the last") {
    val d = Seq.tabulate(10)(i => ("small", i.toLong, 10L)) ++
      Seq.tabulate(10)(i => ("mid", 100L + i, 30L)) ++
      Seq.tabulate(10)(i => ("big", 200L + i, 100L))
    val df = d.toDF("src", "id", "w")
    // caps (1 epoch): small 100, mid 300, big 1000; budget 600:
    // small: min(100, 600/3=200) = 100; mid: min(300, 500/2=250) = 250;
    // big: min(1000, 250/1) = 250
    val got = rows(graft.ext.Sampling.unimaxAllocation(df, col("src"),
      col("w"), budget = 600L).orderBy("source"))
      .map(r => r.getString(0) -> r).toMap
    assert(got("small").getAs[Long]("alloc_tokens") == 100L)
    assert(got("mid").getAs[Long]("alloc_tokens") == 250L)
    assert(got("big").getAs[Long]("alloc_tokens") == 250L)
    assert(got("small").getAs[Long]("rate_ppm") == 1000000L) // kept whole
    assert(got("big").getAs[Long]("rate_ppm") == 250000L)
    // budget above the cap sum: everything capped, nothing above 1 epoch
    val all = rows(graft.ext.Sampling.unimaxAllocation(df, col("src"),
      col("w"), budget = 10000L))
    assert(all.forall(r =>
      r.getAs[Long]("alloc_tokens") == r.getAs[Long]("cap_tokens")))

    // executing the plan: a fully-allocated source keeps EVERY row
    // (rate_ppm exactly 1e6 -> predicate always true), downsampled
    // sources keep a deterministic strict subset
    val sampled = rows(graft.ext.Sampling.unimaxSample(df, col("id"),
      col("src"), col("w"), budget = 600L))
    val bySrc = sampled.groupBy(_.getString(0)).view.mapValues(_.size).toMap
    assert(bySrc("small") == 10) // rate 1e6: all rows survive
    assert(bySrc.getOrElse("big", 0) < 10) // rate 250000: strict subset
    val again = rows(graft.ext.Sampling.unimaxSample(df, col("id"),
      col("src"), col("w"), budget = 600L))
    assert(sampled.map(_.toString).toSet == again.map(_.toString).toSet)
  }

  test("weightedSimhash: identical docs collide at hamming 0; signatures are stable") {
    val sig1 = rows(Dedup.weightedSimhash(docs, "doc_id", "text"))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sig2 = rows(Dedup.weightedSimhash(docs, "doc_id", "text"))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig1 == sig2) // deterministic under re-execution
    assert(sig1(1L) == sig1(4L)) // identical text -> identical signature
    assert(sig1(3L) != sig1(5L)) // unrelated docs diverge
    val pairs = rows(Dedup.weightedSimhashPairs(docs, "doc_id", "text"))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.values.forall(_ <= 3))
    // near-dup 2 differs from 1/4 by one appended token: few bits move
    assert(pairs.get((1L, 2L)).forall(_ <= 3))
  }

  test("weightedSimhash: the r16 fixed-width sign aggregate is " +
      "row-identical to the 32-decimal-sum form on randomized corpora " +
      "(same scale-1e-12 integers, 128-bit exact sums, strict-positive " +
      "sign)") {
    val rnd = new scala.util.Random(1016)
    val vocab = Vector("the", "a", "of", "data", "spark", "dedup",
      "corpus", "model", "térm", "世界", "x1", "x2", "rare1", "rare2",
      "boilerplate", "pipeline")
    for (trial <- 1 to 3) {
      val d = (1L to 60L).map { i =>
        val n = 1 + rnd.nextInt(40)
        (i, (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (bits <- Seq(8, 32, 60)) {
        val a = rows(Dedup.weightedSimhash(d, "doc_id", "text", bits)
          .orderBy("id")).map(r => (r.getLong(0), r.getLong(1)))
        val b = rows(Dedup.weightedSimhashDecimal(d, "doc_id", "text", bits)
          .orderBy("id")).map(r => (r.getLong(0), r.getLong(1)))
        assert(a == b, s"trial=$trial bits=$bits")
      }
    }
  }

  test("bpeMerges: hand-traced greedy merges, left-to-right non-overlap") {
    // words: "aaab" x2, "ab" x1
    // r1: (a,a)=4 beats (a,b)=3 -> merge aa; aaab => [aa,a,b]
    // r2: (a,b)=3 beats (aa,a)=2 -> merge ab; => [aa,ab] / [ab]
    // r3: (aa,ab)=2 -> merge aaab
    val d = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.bpeMerges(d, "doc_id", "text", k = 3)
      .orderBy("round"))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got == Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))

    // encode under the learned table: both word types collapse to one
    // symbol after the three merges
    val enc = rows(TextAnalysis.bpeEncodeCounts(d, "doc_id", "text",
      got.map(m => (m._2, m._3))).orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(enc == Seq((1L, 2L, 8L, 2L), (2L, 1L, 2L, 1L)))
  }

  test("charEntropy: hand-computed values; degenerate and empty docs behave") {
    val d = Seq((1L, "aab"), (2L, "aaaa"), (3L, ""), (4L, "abcd"))
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.charEntropy(d, "doc_id", "text")
      .orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // "aab": ln3 - (2 ln2 + 0)/3
    val h1 = byId(1L).getAs[Double]("entropy")
    assert(math.abs(h1 - (math.log(3) - 2 * math.log(2) / 3)) < 1e-9)
    // single repeated char: exactly 0 (ln1 quantizes to 0 exactly)
    assert(byId(2L).getAs[Double]("entropy") == 0.0)
    // empty text: no characters, NULL entropy, row still present
    assert(byId(3L).getAs[Long]("n_chars") == 0L)
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("entropy")))
    // uniform 4 chars: ln4
    assert(math.abs(byId(4L).getAs[Double]("entropy") - math.log(4)) < 1e-9)
  }

  test("prototypicality: rank 1 is nearest the centroid; keep cut is exact") {
    // two tight clusters around orthogonal axes; seeds = first 2 ids
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.3f)),
      (4L, Array(0.1f, 0.9f)), (5L, Array(0.2f, 0.8f)), (6L, Array(0.3f, 0.9f))
    ).toDF("vec_id", "embedding")
    val cent = graft.ext.Ivf.train(emb, "vec_id", "embedding", nlist = 2)
    val got = rows(Similarity.prototypicality(emb, "vec_id", "embedding",
      cent).orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // the seed vectors themselves are maximally prototypical (cos 1)
    assert(byId(0L).getAs[Long]("proto_rank") == 1L)
    assert(byId(1L).getAs[Long]("proto_rank") == 1L)
    // keep 1/2: a cell of n keeps ceil(n/2) least-prototypical rows
    val kept = got.groupBy(_.getLong(1)).view.mapValues { rs =>
      (rs.size, rs.count(_.getAs[Boolean]("kept")))
    }.toMap
    for ((_, (n, k)) <- kept) assert(k == (n + 1) / 2, s"cell n=$n kept=$k")
    // seeds are never kept (most prototypical = dropped first)
    assert(!byId(0L).getAs[Boolean]("kept"))
  }

  test("span removal: first occurrence survives, later copies stripped, " +
      "text rebuilt in order") {
    val got = rows(Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
      .orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // doc 1 is the corpus-wide first occurrence of every shared window
    assert(byId(1L).getAs[Long]("n_removed") == 0L)
    assert(byId(1L).getAs[String]("cleaned_text") ==
      "the quick brown fox jumps over the lazy dog again and again")
    // doc 2 = doc 1 + " today": its first 10 windows duplicate doc 1,
    // covering positions 0..11; only the final token survives
    assert(byId(2L).getAs[Long]("n_removed") == 12L)
    assert(byId(2L).getAs[String]("cleaned_text") == "today")
    // doc 4 is an exact copy of doc 1 — fully stripped, empty but
    // non-null text
    assert(byId(4L).getAs[Long]("n_removed") == 12L)
    assert(byId(4L).getAs[String]("cleaned_text") == "")
    // untouched docs keep their text verbatim (single-space rebuild)
    assert(byId(3L).getAs[Long]("n_removed") == 0L)
    assert(byId(5L).getAs[String]("cleaned_text") ==
      "unrelated words entirely for this one document here now")
  }

  test("phrase search: adjacency required, repeated terms need all " +
      "slots, overlapping matches counted") {
    import graft.ext.Retrieval
    val got = rows(Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq("the", "lazy", "dog")).orderBy("id"))
    assert(got.map(_.getLong(0)) == Seq(1L, 2L, 4L))
    assert(got.forall(r => r.getAs[Long]("n_matches") == 1L &&
      r.getAs[Long]("first_pos") == 6L))
    // bag-of-words presence is NOT enough: doc 3 has none of these
    // adjacent; "quick lazy" never appears adjacent anywhere
    assert(rows(Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq("quick", "lazy"))).isEmpty)
    // repeated-term phrase over "a a a": overlapping starts 0 and 1
    val rep = Seq((1L, "a a a"), (2L, "a b a")).toDF("doc_id", "text")
    val got2 = rows(Retrieval.phraseSearch(rep, "doc_id", "text",
      Seq("a", "a")).orderBy("id"))
    assert(got2.map(r => (r.getLong(0), r.getAs[Long]("n_matches"))) ==
      Seq((1L, 2L)))
  }

  test("kneser-ney: hand-computed probabilities; unseen prefix backs " +
      "off to the continuation model") {
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val (c1, c2) = TextAnalysis.bigramModel(d, "doc_id", "text")
    val (n1f, n1b, np) = TextAnalysis.knModels(c2)
    assert(np == 3L) // (a,b), (b,a), (a,c)
    val got = rows(TextAnalysis.bigramScoreKnWith(d, "doc_id", "text",
      c1, c2, n1f, n1b, np).orderBy("id"))
    // P(b|a) = 1.25/3 + (.75·2/3)·(1/3); P(a|b) = .25 + .75·(1/3)
    // doc1 mean = (7/12 + 1/2 + 7/12)/3 = 5/9; doc2 = P(c|a) = 1/4
    assert(math.abs(got(0).getAs[Double]("bigram_score") - 5.0 / 9) < 1e-9)
    assert(math.abs(got(1).getAs[Double]("bigram_score") - 0.25) < 1e-9)
    // unseen prefix "z": pure continuation probability n1b(b)/np = 1/3
    val probe = Seq((9L, "z b")).toDF("doc_id", "text")
    val g2 = rows(TextAnalysis.bigramScoreKnWith(probe, "doc_id", "text",
      c1, c2, n1f, n1b, np)).head
    assert(math.abs(g2.getAs[Double]("bigram_score") - 1.0 / 3) < 1e-9)
  }

  test("bigram novelty: first document owns its bigrams, copies score " +
      "zero, one new token scores 1/n") {
    val got = rows(TextAnalysis.bigramNovelty(docs, "doc_id", "text")
      .orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Double]("novelty") == 1.0)
    // doc 4 is an exact copy of doc 1: nothing novel
    assert(byId(4L).getAs[Long]("n_novel") == 0L)
    assert(byId(4L).getAs[Double]("novelty") == 0.0)
    // doc 2 adds a single trailing token: exactly one novel bigram
    assert(byId(2L).getAs[Long]("n_distinct") == 12L)
    assert(byId(2L).getAs[Long]("n_novel") == 1L)
    assert(byId(2L).getAs[Double]("novelty") == 1.0 / 12)
    // unrelated docs are wholly novel
    assert(byId(3L).getAs[Double]("novelty") == 1.0 &&
      byId(5L).getAs[Double]("novelty") == 1.0)
  }

  test("textrank: regular graph is a fixpoint at 1, hubs outrank " +
      "leaves, total rank mass is conserved") {
    // two-node symmetric graph: every round maps 1 -> 0.25 + 0.75 = 1
    val sym = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val rsym = rows(TextAnalysis.textRank(sym, "doc_id", "text", iters = 3))
    assert(rsym.forall(_.getAs[Double]("rank") == 1.0))
    // star graph: the hub has degree 3, leaves 1 — hub must outrank
    val star = Seq((1L, "hub x hub y hub z")).toDF("doc_id", "text")
    val byT = rows(TextAnalysis.textRank(star, "doc_id", "text"))
      .map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    assert(byT("hub") > byT("x") && byT("hub") > byT("z"))
    // PageRank mass conservation: sum of ranks ~ node count
    assert(math.abs(byT.values.sum - 4.0) < 1e-6, byT.toString)
  }

  test("shard plan: greedy id-order packing never splits a document " +
      "and overshoots by at most one") {
    import graft.ext.Sampling
    val d = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 2L), (5L, 9L))
      .toDF("doc_id", "nt")
    val got = rows(Sampling.shardPlan(d, col("doc_id"), col("nt"), 8L)
      .orderBy("id"))
    // cum_prev: 0,5,10,15,17 -> shards 0,0,1,1,2
    assert(got.map(r => (r.getLong(0), r.getAs[Long]("shard_id"))) ==
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L)))
  }

  test("idOrderedPrefix: bucketed decomposition == single-window prefix " +
      "across bucket counts, negative ids, empty input") {
    import graft.ext.Sampling
    import org.apache.spark.sql.expressions.Window
    val d = Seq((-1000L, 6L), (-7L, 3L), (0L, 2L), (3L, 5L), (9L, 1L),
      (1000L, 4L)).toDF("doc_id", "nt").repartition(3)
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val exp = rows(d.select(col("doc_id").as("id"), col("nt").as("n"))
      .withColumn("cum_prev", coalesce(sum(col("n")).over(w), lit(0L)))
      .orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (nb <- Seq(1, 3, 1024)) {
      val got = rows(Sampling.idOrderedPrefix(d, col("doc_id"), col("nt"),
          nb).orderBy("id"))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got == exp, s"nBuckets=$nb")
    }
    assert(rows(Sampling.idOrderedPrefix(d.where(lit(false)),
      col("doc_id"), col("nt"))).isEmpty)
  }

  test("idOrderedPrefix: IntegerType ids work (cast internally, " +
      "caller type preserved); string ids are refused loudly") {
    import graft.ext.Sampling
    val di = Seq((3, 5L), (1, 2L), (7, 1L)).toDF("doc_id", "nt")
    val got = rows(Sampling.idOrderedPrefix(di, col("doc_id"),
        col("nt"), 4).orderBy("id"))
      .map(r => (r.getInt(0), r.getLong(2))) // id keeps IntegerType
    assert(got == Seq((1, 0L), (3, 2L), (7, 7L)))
    val ds = Seq(("a", 1L)).toDF("doc_id", "nt")
    val e = intercept[IllegalArgumentException] {
      Sampling.idOrderedPrefix(ds, col("doc_id"), col("nt"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("corpusPrepCached: same caller key, different inputs miss the " +
      "cache (plan-fingerprinted keys) — no silent wrong manifest") {
    import graft.ext.Pipeline
    val mk = (ids: Seq[Long]) => ids.map(i =>
        (i, s"some document text number $i with words", "en"))
      .toDF("doc_id", "text", "lang")
    val bench = mk(Seq(900L))
    val key = s"fp-spec-${System.nanoTime()}"
    val a = Pipeline.corpusPrepCached(key, mk(1L to 6L), bench,
      "doc_id", "text", "lang")
    val b = Pipeline.corpusPrepCached(key, mk(1L to 9L), bench,
      "doc_id", "text", "lang")
    assert(a.count() == 6L && b.count() == 9L,
      "second call served the first call's manifest")
    // identical inputs under the same key DO share one entry
    val a2 = Pipeline.corpusPrepCached(key, mk(1L to 6L), bench,
      "doc_id", "text", "lang")
    assert(a eq a2)
  }

  test("labelBalancedCarveout rank window rides WindowGroupLimit " +
      "(literal total bound before the quota join)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val carved = graft.ext.Sampling.labelBalancedCarveout(
      docs, col("doc_id"), col("lang"), 10L)
    val plan = carved.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank-limit not rewritten to WindowGroupLimit:\n" + plan.take(600))
    // exact per-label quotas still hold after the literal pre-cut
    val perLabel = rows(carved.groupBy("lang").count())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = rows(carved.select(col("lang"), col("quota")).distinct())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLabel.foreach { case (l, n) => assert(n <= quotas(l)) }
    assert(perLabel.values.sum <= 10L)
  }

  test("sourceQueries: each source's top terms are its distinctive " +
      "vocabulary; ranks deterministic") {
    import graft.ext.Retrieval
    val d = Seq(
      (1L, "web", "apple apple apple banana shared"),
      (2L, "web", "apple cherry shared"),
      (3L, "code", "kernel kernel mutex shared"),
      (4L, "code", "kernel socket shared")
    ).toDF("doc_id", "source", "text")
    val q = rows(Retrieval.sourceQueries(d, "doc_id", "text", "source",
        nTerms = 2).orderBy("query_id", "rank"))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // 'shared' is in both sources -> idf 0 -> never beats distinctive
    // terms; tf=4 kernel / tf=4 apple lead their sources
    assert(q == Seq(("code", "kernel", 1L), ("code", "mutex", 2L),
      ("web", "apple", 1L), ("web", "banana", 2L)))
  }

  test("ndcgEvalQrels: perfect-ranking query scores ndcg = 1; grid " +
      "over documents is bounded (0, 1] with dcg <= idcg") {
    import graft.ext.Retrieval
    val d = Seq(
      (1L, "apple banana other words here"),
      (2L, "apple filler filler filler filler"),
      (3L, "nothing relevant at all today")
    ).toDF("doc_id", "text")
    val qrels = Seq(("q1", "apple"), ("q1", "banana")).toDF(
      "query_id", "term")
    val got = rows(Retrieval.ndcgEvalQrels(d, "doc_id", "text", qrels,
      k = 10))
    assert(got.size == 1)
    // doc 1 matches both terms (gain 2, highest bm25), doc 2 one
    // (gain 1): the bm25 order IS the ideal order -> ndcg exactly 1
    assert(got.head.getAs[Double]("ndcg") == 1.0)
    // the full grid over the test table: every source row well-formed
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val grid = rows(Retrieval.ndcgEvalQrels(docs, "doc_id", "text",
      Retrieval.sourceQueries(docs, "doc_id", "text", "source", 3), k = 10))
    assert(grid.nonEmpty)
    grid.foreach { r =>
      val (dcg, idcg, ndcg) = (r.getAs[Double]("dcg"),
        r.getAs[Double]("idcg"), r.getAs[Double]("ndcg"))
      assert(dcg >= 0 && dcg <= idcg + 1e-12 && ndcg > 0 && ndcg <= 1.0,
        r.toString)
    }
  }

  test("weightedSimhashClusters: labels = clusters(pairs) completed " +
      "with singletons; canonical flag consistent") {
    import graft.ext.Dedup
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = rows(Dedup.weightedSimhashClusters(docs, "doc_id", "text")
      .orderBy("id")).map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val pairs = Dedup.weightedSimhashPairs(docs, "doc_id", "text")
    val lab = rows(Dedup.clusters(pairs))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = rows(docs.select(col("doc_id")).orderBy("doc_id"))
      .map(_.getLong(0))
      .map(id => (id, lab.getOrElse(id, id), lab.getOrElse(id, id) == id))
    assert(got == exp)
    // every cluster label is itself canonical
    val labels = got.map(_._2).toSet
    assert(labels.subsetOf(got.filter(_._3).map(_._1).toSet))
  }

  test("rfm: hand case — recency floor-days, exact spend, total-order " +
      "buckets") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-09 23:59:59"), 2.5),   // 0 days before asof
      (2L, ts("2024-01-05 00:00:00"), 100.0), // 4.99.. days -> 4
      (3L, ts("2024-01-10 00:00:00"), 1.0)    // the asof row itself
    ).toDF("user_id", "ts", "value")
    val got = rows(graft.ext.EventWindows.rfm(e, col("user_id"),
        col("ts"), col("value"), buckets = 2).orderBy("user_id"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // recency: u1 floor(1s/day)=0, u2 floor(5d-1s... )=4 wait:
    // asof = 2024-01-10 00:00:00; u1 last 01-09 23:59:59 -> 0 days;
    // u2 last 01-05 -> 5 days exactly; u3 -> 0 days
    // r order (rec asc, id): u1(0), u3(0), u2(5) -> tiles 1,1,2
    // f order (freq desc, id): u1(2), u2(1), u3(1) -> 1,1,2
    // m order (sum desc, id): u2(100), u1(12.5), u3(1) -> 1,1,2
    assert(got == Seq(
      (1L, 0L, 2L, 12.5, 1L, 1L, 1L),
      (2L, 5L, 1L, 100.0, 2L, 1L, 1L),
      (3L, 0L, 1L, 1.0, 1L, 2L, 2L)))
  }

  test("sourceCentroidMatrix: orthogonal sources score 0, identical 1") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("doc_id", "source")
    val emb = Seq(
      (1L, Array(2.0f, 0.0f)), (2L, Array(4.0f, 0.0f)), // a: x-axis
      (3L, Array(0.0f, 3.0f)),                          // b: y-axis
      (4L, Array(5.0f, 0.0f))                           // c: x-axis
    ).toDF("vec_id", "embedding")
    val got = rows(graft.ext.Similarity.sourceCentroidMatrix(
        docs, col("doc_id"), col("source"),
        emb, col("vec_id"), col("embedding"))
      .orderBy("src_a", "src_b"))
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)) ==
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(byPair(("a", "b"))) < 1e-12)
    assert(math.abs(byPair(("a", "c")) - 1.0) < 1e-12)
    assert(math.abs(byPair(("b", "c"))) < 1e-12)
  }

  test("chiSquareIndependence: independent 2x2 scores 0; perfectly " +
      "dependent scores N") {
    // independent: every (a, b) cell = 25 on a 2x2 grid
    val ind = (for { a <- Seq("x", "y"); b <- Seq("u", "v");
      i <- 1 to 25 } yield (a, b, i)).toDF("a", "b", "i")
    val gi = rows(graft.ext.Stats.chiSquareIndependence(ind,
      col("a"), col("b"))).head
    assert(gi.getAs[Long]("n") == 100L && gi.getAs[Long]("dof") == 1L)
    assert(math.abs(gi.getAs[Double]("chi2")) < 1e-9)
    // dependent: a determines b -> chi2 = N for a 2x2
    val dep = (Seq.fill(30)(("x", "u")) ++ Seq.fill(70)(("y", "v")))
      .toDF("a", "b")
    val gd = rows(graft.ext.Stats.chiSquareIndependence(dep,
      col("a"), col("b"))).head
    assert(math.abs(gd.getAs[Double]("chi2") - 100.0) < 1e-9)
  }

  test("stationaryMix: a symmetric two-state chain settles to " +
      "(0.5, 0.5); dangling mass leaks and renormalizes") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one session per user: u1 alternates A B A B A; u2 B A B A B —
    // symmetric chain
    val evs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "A"),
      (2L, ts("2024-01-01 00:01:00"), 1L, "B"),
      (3L, ts("2024-01-01 00:02:00"), 1L, "A"),
      (4L, ts("2024-01-01 00:03:00"), 1L, "B"),
      (5L, ts("2024-01-01 00:04:00"), 1L, "A"),
      (6L, ts("2024-01-01 00:00:00"), 2L, "B"),
      (7L, ts("2024-01-01 00:01:00"), 2L, "A"),
      (8L, ts("2024-01-01 00:02:00"), 2L, "B"),
      (9L, ts("2024-01-01 00:03:00"), 2L, "A"),
      (10L, ts("2024-01-01 00:04:00"), 2L, "B")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = rows(graft.ext.EventWindows.stationaryMix(evs, col("ts"),
        col("user_id"), col("event_id"), col("event_type"),
        gapMicros = 1800000000L, iters = 6).orderBy("event_type"))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("A") - 0.5) < 1e-9 &&
      math.abs(got("B") - 0.5) < 1e-9, got.toString)
  }

  test("sessionCooccurrence: hand counts and lift") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // three sessions: {A,B}, {A}, {B} -> n_ab=1, n_a=2, n_b=2, N=3,
    // lift = 1*3/(2*2) = 0.75
    val evs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "A"),
      (2L, ts("2024-01-01 00:01:00"), 1L, "B"),
      (3L, ts("2024-01-01 10:00:00"), 1L, "A"), // new session (gap)
      (4L, ts("2024-01-01 00:00:00"), 2L, "B")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = rows(graft.ext.EventWindows.sessionCooccurrence(evs,
      col("ts"), col("user_id"), col("event_id"), col("event_type"),
      gapMicros = 1800000000L))
    assert(got.size == 1)
    val r = got.head
    assert(r.getString(0) == "A" && r.getString(1) == "B" &&
      r.getAs[Long]("n_ab") == 1L && r.getAs[Long]("n_a") == 2L &&
      r.getAs[Long]("n_b") == 2L && r.getAs[Long]("n_sessions") == 3L &&
      math.abs(r.getAs[Double]("lift") - 0.75) < 1e-12)
  }

  test("LSH index lifecycle: pairs from a saved index == fresh " +
      "minhashLsh; admission from the index == live-corpus admission") {
    import graft.ext.{Dedup, TextAnalysis}
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        array_distinct(TextAnalysis.shingles(col("text"), 3)).as("sh"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx")
    try {
      val existing = d.where(col("doc_id") % 2 === 0)
      val incoming = d.where(col("doc_id") % 2 === 1)
      Dedup.saveLshIndex(existing, "doc_id", "sh", dir.toString)
      // pair serving round-trip
      val fresh = rows(Dedup.minhashLsh(existing, "doc_id", "sh")
        .orderBy("id_a", "id_b")).map(_.toString)
      val served = rows(Dedup.lshPairsFromIndex(spark, dir.toString)
        .orderBy("id_a", "id_b")).map(_.toString)
      assert(served == fresh && fresh.nonEmpty)
      // admission round-trip
      val live = rows(Dedup.dedupAgainstCorpus(existing, incoming,
        "doc_id", "sh").select("doc_id").orderBy("doc_id"))
        .map(_.getLong(0))
      val idx = rows(Dedup.dedupAgainstIndex(spark, dir.toString,
        incoming, "doc_id", "sh").select("doc_id").orderBy("doc_id"))
        .map(_.getLong(0))
      assert(idx == live && live.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("twoProportionZ: hand case and zero-variance NULL") {
    import graft.ext.Stats
    // cohort 0: 2/4 convert; cohort 1: 1/4 -> p=3/8, se known
    val units = Seq((0L, true), (0L, true), (0L, false), (0L, false),
      (1L, true), (1L, false), (1L, false), (1L, false))
      .toDF("cohort", "ok")
    val r = rows(Stats.twoProportionZ(units, col("cohort"), col("ok"))).head
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("k_a") == 2L &&
      r.getAs[Long]("k_b") == 1L)
    val p = 3.0 / 8.0
    val expZ = (0.5 - 0.25) / math.sqrt(p * (1 - p) * (1.0 / 4 + 1.0 / 4))
    assert(math.abs(r.getAs[Double]("z") - expZ) < 1e-12)
    // all convert -> zero pooled variance -> NULL z, no ANSI crash
    val degen = Seq((0L, true), (1L, true)).toDF("cohort", "ok")
    val rd = rows(Stats.twoProportionZ(degen, col("cohort"),
      col("ok"))).head
    assert(rd.isNullAt(rd.fieldIndex("z")))
  }

  test("quantileMobility: hand case — midpoint halves, per-half " +
      "buckets, users in one half drop out") {
    import graft.ext.EventWindows
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // window 01-01..01-11, midpoint 01-06; u1 big->small spender,
    // u2 small->big, u3 early-only (drops out)
    val evs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 100.0),
      (2L, ts("2024-01-10 00:00:00"), 1L, 1.0),
      (3L, ts("2024-01-02 00:00:00"), 2L, 5.0),
      (4L, ts("2024-01-11 00:00:00"), 2L, 50.0),
      (5L, ts("2024-01-03 00:00:00"), 3L, 10.0)
    ).toDF("event_id", "ts", "user_id", "value")
    val got = rows(EventWindows.quantileMobility(evs, col("user_id"),
        col("ts"), col("value"), buckets = 2)
      .orderBy("q_early", "q_late"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // early spends: u1=100, u3=10, u2=5 -> 2-tiles (desc): u1->1,
    // u3->1, u2->2; late: u2=50->1, u1=1->2; pairs: u1 (1,2), u2 (2,1)
    assert(got == Seq((1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("source overlap: a subset source saturates its own row only") {
    import graft.ext.TextAnalysis
    val d = Seq(
      ("big", "one two three four five six seven eight"),
      ("sub", "one two three four five"),
      ("other", "completely different words here entirely")
    ).toDF("source", "text")
    val sh = d.select(col("source"),
      TextAnalysis.shingles(col("text"), 3).as("sh"))
    val got = rows(Dedup.sourceSpanOverlap(sh, "source", "sh"))
    val m = got.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Double]("overlap")).toMap
    assert(m(("sub", "big")) == 1.0)        // all of sub's spans in big
    assert(m(("big", "sub")) == 3.0 / 6)    // asymmetric
    assert(!m.contains(("other", "big")))   // disjoint pairs absent
  }

  test("corpus merge: priority wins, within-corpus ties to smallest id, " +
      "every row flagged") {
    val a = Seq((10L, "same text"), (11L, "only in a")).toDF("doc_id", "text")
    val b = Seq((1L, "same text"), (2L, "only in b"), (3L, "only in b"))
      .toDF("doc_id", "text")
    val got = rows(Dedup.mergeCorpora(Seq(("a", a), ("b", b)),
      "doc_id", "text").orderBy("origin", "id"))
    val m = got.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getBoolean(2), r.getAs[Long]("n_copies"))).toMap
    // "same text": corpus a wins despite the larger id
    assert(m(("a", 10L)) == ((true, 2L)) && m(("b", 1L)) == ((false, 2L)))
    // "only in b" duplicated within b: smallest id wins
    assert(m(("b", 2L)) == ((true, 2L)) && m(("b", 3L)) == ((false, 2L)))
    assert(m(("a", 11L)) == ((true, 1L)))
    assert(got.length == 5)
  }

  test("log-odds words: target-exclusive words positive, other-side " +
      "negative, shared words shrunk toward zero") {
    val d = Seq(("A", "cat cat dog"), ("B", "dog dog bird"))
      .toDF("source", "text")
    val got = rows(TextAnalysis.logOddsWords(d, "source", "text", "A")
      .orderBy("term"))
    val byT = got.map(r => r.getString(0) ->
      (r.getAs[Double]("delta"), r.getAs[Double]("z"))).toMap
    assert(byT("cat")._1 > 0 && byT("cat")._2 > 0)
    assert(byT("bird")._1 < 0 && byT("bird")._2 < 0)
    // "dog" appears on both sides at similar rates: |delta| smaller
    // than either exclusive word's
    assert(math.abs(byT("dog")._1) < math.abs(byT("cat")._1) &&
      math.abs(byT("dog")._1) < math.abs(byT("bird")._1))
  }

  test("benford: leading digits via integer scaling; non-positive " +
      "values excluded") {
    import graft.ext.Stats
    val d = Seq(1.23, 12.0, 999.0, 0.05, -4.0, 0.0).map(Tuple1(_))
      .toDF("v")
    val got = rows(Stats.benford(d, col("v"), scale = 100L)
      .orderBy("digit"))
    // scaled: 123, 1200, 99900, 5 -> digits 1,1,9,5 (neg/zero dropped)
    assert(got.map(r => (r.getLong(0), r.getAs[Long]("n"))) ==
      Seq((1L, 2L), (5L, 1L), (9L, 1L)))
    assert(got.head.getAs[Double]("share") == 0.5)
  }

  test("gini: 0 for equal values, (n-1)/n for total concentration") {
    import graft.ext.Stats
    val d = ((1 to 5).map(_ => ("eq", 7.0)) ++
      (Seq(0.0, 0.0, 0.0, 10.0).map(("conc", _)))).toDF("g", "v")
    val got = rows(Stats.gini(d, Seq("g"), col("v")).orderBy("g"))
    val byG = got.map(r => r.getString(0) -> r.getAs[Double]("gini")).toMap
    assert(byG("eq") == 0.0)
    assert(byG("conc") == 3.0 / 4)
  }

  test("winsorized: outliers clipped to exact rank bounds, clip counts " +
      "reported, clean groups unchanged") {
    import graft.ext.Stats
    // group a: 10 ordered values with one wild outlier each side
    val d = ((Seq(-1000.0) ++ (2 to 9).map(_.toDouble) ++ Seq(1000.0))
      .map(("a", _)) ++ Seq(("b", 5.0), ("b", 5.0))).toDF("g", "v")
    val got = rows(Stats.winsorized(d, Seq("g"), col("v"), 1, 10, 9, 10)
      .orderBy("g"))
    val a = got.head
    // p10 rank = ceil(10/10) = 1 -> lo = -1000?? no: sorted values are
    // -1000,2..9,1000; rank1 = -1000 -> lo = -1000; hi rank = 9 -> 9
    assert(a.getAs[Double]("lo") == -1000.0 && a.getAs[Double]("hi") == 9.0)
    assert(a.getAs[Long]("n_hi") == 1L && a.getAs[Long]("n_lo") == 0L)
    // mean with the high outlier clipped to 9: (-1000 + 2..9 + 9)/10
    val expMean = ((-1000.0 +: (2 to 9).map(_.toDouble)).sum + 9.0) / 10
    assert(math.abs(a.getAs[Double]("win_mean") - expMean) < 1e-9)
    val b = got(1)
    assert(b.getAs[Double]("win_mean") == 5.0 &&
      b.getAs[Long]("n_lo") == 0L && b.getAs[Long]("n_hi") == 0L)
  }

  test("regression: exact line recovered, r = ±1 on colinear data, " +
      "zero-variance group nulls") {
    import graft.ext.Stats
    val d = Seq(
      ("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0),   // y = 2x + 1
      ("b", 1.0, 9.0), ("b", 2.0, 7.0), ("b", 3.0, 5.0),   // y = -2x + 11
      ("c", 4.0, 1.0), ("c", 4.0, 9.0)                      // x constant
    ).toDF("g", "x", "y")
    val got = rows(Stats.regression(d, Seq("g"), col("x"), col("y"))
      .orderBy("g"))
    val byG = got.map(r => r.getString(0) -> r).toMap
    assert(byG("a").getAs[Double]("slope") == 2.0 &&
      byG("a").getAs[Double]("intercept") == 1.0 &&
      byG("a").getAs[Double]("r") == 1.0)
    assert(byG("b").getAs[Double]("slope") == -2.0 &&
      byG("b").getAs[Double]("r") == -1.0)
    assert(byG("c").isNullAt(byG("c").fieldIndex("slope")) &&
      byG("c").isNullAt(byG("c").fieldIndex("r")))
  }

  test("bm25 postings index: bit-equal to the scan path, through " +
      "save/load, and for ad-hoc second queries") {
    import graft.ext.Retrieval
    val (p, d) = Retrieval.buildPostings(docs, "doc_id", "text")
    val terms = Seq("quick", "dog", "scale")
    val scan = rows(Retrieval.bm25Score(docs, "doc_id", "text", terms)
      .orderBy("id")).map(_.toString)
    assert(rows(Retrieval.bm25FromPostings(p, d, terms).orderBy("id"))
      .map(_.toString) == scan)
    val path = java.nio.file.Files.createTempDirectory("graft_pidx")
      .toString
    Retrieval.savePostingsIndex(p, d, path)
    val (p2, d2) = Retrieval.loadPostingsIndex(spark, path)
    assert(rows(Retrieval.bm25FromPostings(p2, d2, terms).orderBy("id"))
      .map(_.toString) == scan)
    // a DIFFERENT term set against the same loaded index — the ad-hoc
    // case the index exists for; still ≡ a fresh corpus scan
    val t2 = Seq("unrelated", "words")
    assert(rows(Retrieval.bm25FromPostings(p2, d2, t2).orderBy("id"))
      .map(_.toString) ==
      rows(Retrieval.bm25Score(docs, "doc_id", "text", t2).orderBy("id"))
        .map(_.toString))
  }

  test("funnel: strictly-after ordering, out-of-order stages don't " +
      "count, partial progress reported") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      // user 1: full conversion in order
      (1L, ts("2024-01-01 00:00:00"), "view"),
      (1L, ts("2024-01-01 00:01:00"), "click"),
      (1L, ts("2024-01-01 00:02:00"), "purchase"),
      // user 2: purchase BEFORE click — stage 2 only
      (2L, ts("2024-01-01 00:00:00"), "view"),
      (2L, ts("2024-01-01 00:00:30"), "purchase"),
      (2L, ts("2024-01-01 00:01:00"), "click"),
      // user 3: click at the SAME instant as view — tie does not count
      (3L, ts("2024-01-01 00:00:00"), "view"),
      (3L, ts("2024-01-01 00:00:00"), "click"),
      // user 4: never views — absent from the funnel
      (4L, ts("2024-01-01 00:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = rows(EventWindows.funnel(evs, col("ts"), col("user_id"),
      col("event_type"), Seq("view", "click", "purchase")).orderBy("key"))
    assert(got.map(r => (r.getLong(0), r.getAs[Long]("stage"))) ==
      Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    // user 2's t_2 is the click AFTER its view, purchase never after it
    val u2 = got(1)
    assert(u2.getAs[java.sql.Timestamp]("t_2") == ts("2024-01-01 00:01:00"))
    assert(u2.isNullAt(u2.fieldIndex("t_3")))
  }

  test("rate anomaly: exact z on an alternating baseline; constant " +
      "baseline (zero variance) and short history give null") {
    // 10 hours alternating 4/6 events, then a 15-event spike hour
    val evs = (0 until 10).flatMap { h =>
      val cnt = if (h % 2 == 0) 4 else 6
      (0 until cnt).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:0$i:00"), "a"))
    } ++ (0 until 15).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:0$i:00"), "a")) ++
      // type b: constant 5/hour for 10 hours
      (0 until 10).flatMap(h => (0 until 5).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:1$i:00"), "b")))
    val df = evs.toDF("ts", "event_type")
    val got = rows(EventWindows.rateAnomaly(df, col("ts"), "1 hour",
      col("event_type"), lookback = 24, minPeriods = 8)
      .orderBy("key", "ws"))
    val spike = got.filter(r => r.getString(1) == "a").last
    // n=10, S=50, Q=260: z = (15*10-50)/sqrt(10*260-2500) = 100/10
    assert(spike.getAs[Long]("c") == 15L)
    assert(spike.getAs[Double]("z") == 10.0)
    // first 8 hours: frame < minPeriods -> null z
    val early = got.filter(r => r.getString(1) == "a").take(8)
    assert(early.forall(_.isNullAt(early.head.fieldIndex("z"))))
    // constant type b: zero trailing variance -> null even with history
    val bLast = got.filter(r => r.getString(1) == "b").last
    assert(bLast.getAs[Long]("n_prior") == 9L &&
      bLast.isNullAt(bLast.fieldIndex("z")))
  }

  test("calendar rate anomaly: a dark source scores z = -5 on its gap " +
      "hours instead of vanishing (observed-rows form has no row)") {
    // key a: hours 0..11 alternating 2/3 events, then SILENT;
    // key b: 1 event every hour 0..20 — extends the global span, so
    // a's hours 12..20 are calendar gaps.
    val evs =
      (0 until 12).flatMap { h =>
        val cnt = if (h % 2 == 0) 2 else 3
        (0 until cnt).map(i =>
          (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:0$i:00"), "a"))
      } ++ (0 until 21).map(h =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"), "b"))
    val df = evs.toDF("ts", "event_type")
    val dense = rows(EventWindows.calendarCounts(df, col("ts"), "1 hour",
      col("event_type")).orderBy("key", "ws"))
    // dense grid: 2 keys × 21 hours; a's gap hours carry c = 0
    assert(dense.length == 42)
    val aGaps = dense.filter(r => r.getString(1) == "a").drop(12)
    assert(aGaps.length == 9 && aGaps.forall(_.getAs[Long]("c") == 0L))
    val got = rows(EventWindows.calendarRateAnomaly(df, col("ts"),
      "1 hour", col("event_type"), lookback = 6, minPeriods = 4)
      .orderBy("key", "ws"))
    // a's hour 12: prior frame = hours 6..11 = (2,3,2,3,2,3):
    // n=6, S=15, Q=39 -> z = (0·6−15)/sqrt(6·39−225) = −15/3 = −5
    val h12 = got.filter(r => r.getString(1) == "a")(12)
    assert(h12.getAs[Long]("c") == 0L)
    assert(h12.getAs[Double]("z") == -5.0)
    // the observed-rows form has NO row for (a, hour 12) at all
    val observed = rows(EventWindows.rateAnomaly(df, col("ts"), "1 hour",
      col("event_type"), lookback = 6, minPeriods = 4))
    assert(!observed.exists(r => r.getString(1) == "a" &&
      r.getAs[java.sql.Timestamp]("ws") ==
        java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
    // deep in the dark run the baseline itself goes all-zero ->
    // zero variance -> null z (the alarm fires on the EDGE, once)
    val h19 = got.filter(r => r.getString(1) == "a")(19)
    assert(h19.isNullAt(h19.fieldIndex("z")))
  }

  test("cohortLtv: floor-cents, dense age axis with zero-spend days, " +
      "cumulative per-user curve exact") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.00),
      (1L, ts("2024-01-03 10:00:00"), 2.50),  // age 2 — age 1 is dark
      (2L, ts("2024-01-01 12:00:00"), 0.999)  // floors to 99 cents
    ).toDF("user_id", "ts", "value")
    val got = rows(EventWindows.cohortLtv(evs, col("ts"), col("user_id"),
      col("value"), "1 day", 86400000000L).orderBy("cohort", "age"))
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got == Seq(
      (0L, 2L, 199L, 199L, 199.0 / 100.0 / 2.0),
      (1L, 2L, 0L, 199L, 199.0 / 100.0 / 2.0),   // dark day kept
      (2L, 2L, 250L, 449L, 449.0 / 100.0 / 2.0)))
  }

  test("theilSen: exact median pairwise slope; a single burst cannot " +
      "drag the robust slope the way it drags least squares") {
    // up: 1,2,3,4 → all pairwise slopes = 1 → sen = 1.0
    // burst: 1,1,10,1 → slopes: (1-1)/1=0,(10-1)/2=4.5,(1-1)/3=0,
    //   (10-1)/1=9,(1-1)/2=0,(1-10)/1=-9 → sorted: -9,0,0,0,4.5,9 →
    //   lower median (rank 3) = 0
    def evsFor(k: String, counts: Seq[Int]) =
      counts.zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(i =>
          (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:${10 + i}%d:00"),
            k))
      }
    val df = (evsFor("up", Seq(1, 2, 3, 4)) ++
      evsFor("burst", Seq(1, 1, 10, 1))).toDF("ts", "event_type")
    val got = rows(EventWindows.theilSen(df, col("ts"), "1 hour",
      col("event_type")).orderBy("key"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got == Seq(("burst", 4L, 6L, 0.0), ("up", 4L, 6L, 1.0)))
  }

  test("quantileNormalize: exact integer-rank mapping onto the pooled " +
      "grid; unequal group sizes; max maps to pooled max") {
    import graft.ext.Quantiles
    // g1 = {1,2,3,4}, g2 = {10,20}; pooled sorted = 1,2,3,4,10,20
    // g1: ranks 1..4 → targets ⌈r·6/4⌉ = 2,3,5,6 → 2,3,10,20
    // g2: ranks 1,2  → targets 3,6            → 3,20
    val d = (Seq(1L, 2L, 3L, 4L).map(("g1", _)) ++
      Seq(10L, 20L).map(("g2", _))).toDF("g", "v")
    val got = rows(Quantiles.quantileNormalize(d, col("g"), col("v"))
      .orderBy("group", "v"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(got == Seq(("g1", 1L, 2L), ("g1", 2L, 3L), ("g1", 3L, 10L),
      ("g1", 4L, 20L), ("g2", 10L, 3L), ("g2", 20L, 20L)))
  }

  test("weightedStratifiedSample: per-stratum ES06 draw, k enforced " +
      "per stratum, zero weights out") {
    import graft.ext.Sampling
    val P = 1000000007L; val M = 654435747L
    def key(id: Long, w: Long): Double =
      BigDecimal(math.log((((id % P) * M) % P + 1).toDouble
        / (P + 1).toDouble) / w.toDouble)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d = Seq(("A", 1L, 10L), ("A", 2L, 100L), ("A", 3L, 1L),
      ("B", 4L, 5L), ("B", 5L, 0L)).toDF("s", "doc_id", "w")
    val got = rows(Sampling.weightedStratifiedSample(d, col("s"),
      col("doc_id"), col("w"), k = 2).orderBy("stratum", "sample_rank"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    // A keeps its top-2 keys; B keeps only doc 4 (doc 5 has w = 0)
    val aTop = Seq(1L -> 10L, 2L -> 100L, 3L -> 1L)
      .sortBy { case (id, w) => (-key(id, w), id) }.take(2).map(_._1)
    assert(got == aTop.zipWithIndex.map { case (id, i) =>
      ("A", id, i + 1L) } ++ Seq(("B", 4L, 1L)))
  }

  test("lambdaSweep: exact held-out loglik; unseen words carry the " +
      "(1-lambda)/V floor; argmax flagged with smaller-lambda ties") {
    // hash buckets: doc 1 → 747 (train), doc 4 → 974 (held-out)
    // train: "a b" → c(a)=c(b)=1, T=2, V=2; held-out: "a z"
    // p(a) = λ/2 + (1−λ)/2 = 0.5 for every λ; p(z) = (1−λ)/2 —
    // the sweep is decided ENTIRELY by the unseen word → best λ = 0.1
    val d = Seq((1L, "a b"), (4L, "a z")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.lambdaSweep(d, "doc_id", "text")
      .orderBy("lambda"))
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    def q(x: Double) = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def expect(l: Double) =
      (q(math.log(l * (1.0 / 2.0) + (1.0 - l) * (1.0 / 2.0))) +
        q(math.log(l * (0.0 / 2.0) + (1.0 - l) * (1.0 / 2.0)))).toDouble
    assert(got.length == 9)
    assert(got.forall(_._2 == 2L))
    assert(got.head == ((0.1, 2L, expect(0.1), true)))
    val mid = got.find(_._1 == 0.5).get
    assert(mid == ((0.5, 2L, expect(0.5), false)))
    // monotone: smaller λ strictly better here
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
  }

  test("weightedSample: ES06 keys rank by the exact quantized chain; " +
      "zero weights excluded; heavier ids win given equal hash draws") {
    import graft.ext.Sampling
    val P = 1000000007L; val M = 654435747L
    def key(id: Long, w: Long): Double =
      BigDecimal(math.log((((id % P) * M) % P + 1).toDouble / (P + 1).toDouble)
        / w.toDouble).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val d = Seq((1L, 10L), (2L, 100L), (3L, 1L), (4L, 0L), (5L, 50L))
      .toDF("doc_id", "w")
    val got = rows(Sampling.weightedTopSample(d, col("doc_id"), col("w"),
      n = 3).orderBy("sample_rank"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // zero-weight id 4 never appears; ranks follow the recomputed keys
    assert(!got.exists(_._1 == 4L))
    val expected = Seq(1L -> 10L, 2L -> 100L, 3L -> 1L, 5L -> 50L)
      .map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(3)
      .zipWithIndex.map { case ((id, w, k), i) => (id, w, k, i + 1L) }
    assert(got == expected)
  }

  test("reuseAlignment: longest shared run found on the diagonal; " +
      "scattered matches don't merge; run length in tokens = +k-1") {
    import graft.ext.Dedup
    // doc 1 and 2 share the 5-token block "p q r s t" (3 consecutive
    // 3-shingles) at DIFFERENT offsets, plus the scattered token
    // block "x y z" later — two separate runs of 3 and 1
    val docs = Seq(
      (1L, "a1 a2 p q r s t b1 b2 x y z"),
      (2L, "c1 p q r s t d1 d2 d3 d4 x y z e1")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = rows(Dedup.reuseAlignment(docs, "doc_id", "text", pairs,
      k = 3)).head
    // shared shingles: p-q-r, q-r-s, r-s-t (diag +1) and x-y-z
    assert(r.getAs[Long]("n_matches") == 4L)
    assert(r.getAs[Long]("longest_run_shingles") == 3L)
    assert(r.getAs[Long]("longest_run_tokens") == 5L)
    // REPEATED shingles keep their positions (the set-semantics
    // hashedShingles would dedupe and shift — the bug the sf corpus
    // caught and this distinct-free hand case pins): "p q" repeats,
    // so the 7-token run has 5 shingles, several occurring twice
    val rep = Seq((1L, "p q p q p q p"), (2L, "z p q p q p q p"))
      .toDF("doc_id", "text")
    val r2 = rows(Dedup.reuseAlignment(rep, "doc_id", "text", pairs,
      k = 3)).head
    assert(r2.getAs[Long]("longest_run_shingles") == 5L &&
      r2.getAs[Long]("longest_run_tokens") == 7L)
    // matches: every (pa, pb) shingle-equal pair across the two docs
    // (p-q-p ×3 each side → 9, q-p-q ×2 each → 4, + ... ) — assert
    // the diagonal run logic never exceeds the doc length
    assert(r2.getAs[Long]("n_matches") == 13L)
  }

  test("activitySegments: maximal runs with spans and masses; the " +
      "availability summary is derivable from the segment table") {
    // key a: up(0-1, 3 events), down(2-4), up(5, 1 event), down(6-7)
    val evs = Seq((0, 2), (1, 1), (5, 1)).flatMap { case (h, n) =>
      (0 until n).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:0$i%d:00"), "a"))
    } ++ (0 to 7).map(h =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"), "b"))
    val got = rows(EventWindows.activitySegments(
      evs.toDF("ts", "event_type"), col("ts"), "1 hour",
      col("event_type")).orderBy("key", "run_start"))
      .map(r => (r.getString(0), r.getString(1), r.getLong(4),
        r.getLong(5)))
    assert(got == Seq(
      ("a", "up", 2L, 3L), ("a", "down", 3L, 0L), ("a", "up", 1L, 1L),
      ("a", "down", 2L, 0L), ("b", "up", 8L, 8L)))
    // consistency with the availability summary on the same input
    val av = rows(EventWindows.availability(evs.toDF("ts", "event_type"),
      col("ts"), "1 hour", col("event_type")).orderBy("key"))
    assert(av.head.getAs[Long]("longest_gap") ==
      got.filter(t => t._1 == "a" && t._2 == "down").map(_._3).max)
  }

  test("availability: exact uptime and longest dark run; never-dark " +
      "keys report 0; interior and trailing gaps both counted") {
    // key a: up at hours 0,1, dark 2-4, up 5, dark 6-7 (end of span
    // pinned by b at hour 7): longest gap 3; availability 3/8
    val evs = Seq(0, 1, 5).map(h =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"), "a")) ++
      (0 to 7).map(h =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"), "b"))
    val got = rows(EventWindows.availability(evs.toDF("ts", "event_type"),
      col("ts"), "1 hour", col("event_type")).orderBy("key"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(got == Seq(("a", 8L, 3L, 3.0 / 8.0, 3L),
      ("b", 8L, 8L, 1.0, 0L)))
  }

  test("mcNemar: discordant cells decide; agreement-only input is " +
      "null; continuity clamps at zero") {
    import graft.ext.Stats
    // cells: n11=2, n10=3, n01=1, n00=1 → chi2 = 4/4 = 1;
    // cc = (|2|−1)²/4 = 0.25
    val u = (Seq.fill(2)((true, true)) ++ Seq.fill(3)((true, false)) ++
      Seq((false, true)) ++ Seq((false, false))).toDF("a", "b")
    val r = rows(Stats.mcNemar(u, col("a"), col("b"))).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 3L, 1L, 1L)))
    assert(r.getAs[Double]("chi2") == 1.0 &&
      r.getAs[Double]("chi2_cc") == 0.25)
    // perfect agreement → nothing to test → null
    val agree = Seq((true, true), (false, false)).toDF("a", "b")
    val r2 = rows(Stats.mcNemar(agree, col("a"), col("b"))).head
    assert(r2.isNullAt(r2.fieldIndex("chi2")))
    // b = c → cc clamps to 0 (not 1/(b+c))
    val bal = Seq((true, false), (false, true)).toDF("a", "b")
    val r3 = rows(Stats.mcNemar(bal, col("a"), col("b"))).head
    assert(r3.getAs[Double]("chi2") == 0.0 &&
      r3.getAs[Double]("chi2_cc") == 0.0)
  }

  test("curriculumInterleave: round-robin while strata live, gaps " +
      "after; hash order within stratum; bucketing invariant") {
    import graft.ext.Sampling
    val P = 1000000007L; val M = 654435747L
    def hv(id: Long) = ((id % P) * M) % P
    val d = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"))
      .toDF("doc_id", "source")
    val got = rows(Sampling.curriculumInterleave(d, col("doc_id"),
      col("source")).orderBy("pos"))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // A = index 0, B = index 1; A's in-stratum order by hash
    val aOrder = Seq(1L, 2L, 3L).sortBy(id => (hv(id), id))
    assert(got.map(_._3) == Seq(0L, 1L, 2L, 4L)) // B exhausts → gap at 3
    assert(got.filter(_._2 == "A").map(_._1) == aOrder)
    assert(got.filter(_._2 == "B").map(_._3) == Seq(1L))
    // a different bucket count yields the IDENTICAL order (the
    // decomposition is an implementation detail, not semantics)
    assert(rows(Sampling.curriculumInterleave(d, col("doc_id"),
        col("source"), nBuckets = 3).orderBy("pos"))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))) == got)
  }

  test("mannKendall: exact S and tie-corrected variance; constant " +
      "series (all ties) scores null; continuity correction by sign") {
    // up: counts 1,2,3,4 over 4 hours → S = +6, no ties,
    // var = 4·3·13/18; down: 4,3,2,1 → S = −6; flat: 2,2,2,2 → var 0
    def evsFor(k: String, counts: Seq[Int]) =
      counts.zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(i =>
          (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:0$i%d:00"), k))
      }
    val df = (evsFor("up", Seq(1, 2, 3, 4)) ++
      evsFor("down", Seq(4, 3, 2, 1)) ++ evsFor("flat", Seq(2, 2, 2, 2)))
      .toDF("ts", "event_type")
    val got = rows(EventWindows.mannKendall(df, col("ts"), "1 hour",
      col("event_type")).orderBy("key"))
      .map(r => r.getString(0) -> r).toMap
    val varS = (4.0 * 3.0 * 13.0) / 18.0
    val up = got("up")
    assert(up.getAs[Long]("s_stat") == 6L &&
      up.getAs[Double]("var_s") == varS)
    assert(up.getAs[Double]("z") == 5.0 / math.sqrt(varS))
    val dn = got("down")
    assert(dn.getAs[Long]("s_stat") == -6L &&
      dn.getAs[Double]("z") == -5.0 / math.sqrt(varS))
    val fl = got("flat")
    assert(fl.getAs[Long]("s_stat") == 0L &&
      fl.getAs[Double]("var_s") == 0.0 &&
      fl.isNullAt(fl.fieldIndex("z")))
  }

  test("cluster density: a triangle scores 1, a chain 2/3 — counts " +
      "only, no within-cluster pair explode") {
    import graft.ext.Dedup
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val lab = Dedup.clusters(pairs)
    val sizes = lab.groupBy("cluster").agg(count(lit(1)).as("n_members"))
    val edges = pairs.select(col("id_a"))
      .join(lab.select(col("id").as("id_a"), col("cluster")), Seq("id_a"))
      .groupBy("cluster").agg(count(lit(1)).as("n_edges"))
    val got = rows(sizes.join(edges, Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("n_edges"),
        (lit(2.0) * col("n_edges").cast("double") /
          (col("n_members").cast("double") *
            (col("n_members") - 1).cast("double"))).as("density"))
      .orderBy("cluster"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == Seq((1L, 3L, 3L, 1.0), (10L, 3L, 2L, 2.0 / 3.0)))
  }

  test("dispersion: Fano factor exact on a hand grid; bursty beats " +
      "steady; all-zero keys are null") {
    // span = 4 hours. Key steady: 1,1,1,1 → VMR 0; key bursty:
    // 4,0,0,0 → mean 1, pop var = (4·16−16)/16 = 3 → VMR 3;
    // key dark appears only via... no rows means no key — use a key
    // with events outside the span? impossible; skip dark key (the
    // all-zero branch is reachable only through FromCounts with
    // explicit zero rows) — assert it there directly.
    val evs =
      (0 until 4).map(h =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"), "steady")) ++
      (0 until 4).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i%d:00"), "bursty"))
    val got = rows(EventWindows.dispersion(evs.toDF("ts", "event_type"),
      col("ts"), "1 hour", col("event_type")).orderBy("key"))
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got == Seq(("bursty", 4L, 1.0, 3.0), ("steady", 4L, 1.0, 0.0)))
    // all-zero key through the counts form: null vmr, mean 0
    val z = rows(EventWindows.dispersionFromCounts(
      Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "dark", 0L),
        (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "dark", 0L))
        .toDF("ws", "key", "c"), "1 hour")).head
    assert(z.getDouble(2) == 0.0 && z.isNullAt(z.fieldIndex("vmr")))
  }

  test("goodTuring: exact adjusted counts; class gaps report null, " +
      "not zero") {
    // vocab: a×3, b×1, c×1, d×2 → N1=2, N2=1, N3=1, T=7
    // r=1: r* = 2·1/2 = 1; r=2: r* = 3·1/1 = 3; r=3: no class 4 → null
    val d = Seq((1L, "a a a b"), (2L, "c d d")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.goodTuring(d, "doc_id", "text")
      .orderBy("r"))
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Double]("r_star")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("p_item")).map(_.doubleValue)))
    assert(got == Seq(
      (1L, 2L, Some(1.0), Some(1.0 / 7.0)),
      (2L, 1L, Some(3.0), Some(3.0 / 7.0)),
      (3L, 1L, None, None)))
    // a gapped grid: e×1, f×5 → r=1 has NO class 2 → null r*
    val g = Seq((1L, "e f f f f f")).toDF("doc_id", "text")
    val got2 = rows(TextAnalysis.goodTuring(g, "doc_id", "text")
      .orderBy("r"))
    assert(got2.head.getLong(0) == 1L &&
      got2.head.isNullAt(got2.head.fieldIndex("r_star")))
  }

  test("evalContamination: per-item fractions, argmax contaminator " +
      "with id tiebreak, clean and shingle-less items kept") {
    import graft.ext.{Dedup, TextAnalysis}
    val bench = Seq(
      (1L, "a b c d e"),     // shingles: abc bcd cde
      (2L, "x y z w"),       // xyz yzw — clean
      (3L, "q r")            // too short: NO shingles
    ).toDF("doc_id", "text")
    val train = Seq(
      (10L, "a b c d"),      // shares abc bcd
      (11L, "a b c"),        // shares abc
      (12L, "c d e p q")     // shares cde
    ).toDF("doc_id", "text")
    def sh(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        TextAnalysis.shingles(col("text"), 3).as("__sh"))
    val got = rows(Dedup.evalContamination(sh(bench), sh(train),
      "doc_id", "__sh").orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    val r1 = byId(1L)
    assert(r1.getAs[Long]("n_shingles") == 3L &&
      r1.getAs[Long]("n_hit") == 3L)
    assert(r1.getAs[Double]("contamination") == 1.0)
    assert(r1.getAs[Long]("top_train_doc") == 10L &&
      r1.getAs[Long]("top_shared") == 2L)
    val r2 = byId(2L)
    assert(r2.getAs[Long]("n_hit") == 0L &&
      r2.getAs[Double]("contamination") == 0.0 &&
      r2.isNullAt(r2.fieldIndex("top_train_doc")))
    val r3 = byId(3L)
    assert(r3.getAs[Long]("n_shingles") == 0L &&
      r3.isNullAt(r3.fieldIndex("n_hit")) &&
      r3.isNullAt(r3.fieldIndex("contamination")))
  }

  test("otsuThreshold: bimodal histogram splits between the modes; " +
      "single-value groups emit nothing") {
    import graft.ext.Stats
    // g1: values 1×3, 2×1, 10×2 — classes {1,1,1,2} vs {10,10}:
    // boundary after v=2: gain = 5²/4 + 20²/2 = 206.25; after v=1:
    // 3²/3 + 22²/3 = 164.3 — split at threshold 10
    val d = (Seq.fill(3)(("g1", 1L)) ++ Seq(("g1", 2L)) ++
      Seq.fill(2)(("g1", 10L)) ++ Seq.fill(4)(("g2", 7L)))
      .toDF("g", "v")
    val got = rows(Stats.otsuThreshold(d, col("g"), col("v")))
    assert(got.length == 1) // g2 has one distinct value — no split
    val r = got.head
    assert(r.getString(0) == "g1" && r.getAs[Long]("threshold") == 10L)
    assert(r.getAs[Long]("w_left") == 4L && r.getAs[Long]("w_right") == 2L)
    assert(r.getAs[Double]("mean_left") == 1.25 &&
      r.getAs[Double]("mean_right") == 10.0)
    assert(r.getAs[Double]("gain") == 25.0 / 4.0 + 200.0)
  }

  test("levelShift: locates the step hour exactly; split_ws is the " +
      "right regime's first period, including at the last boundary") {
    // key a: hours 0..2 one event, hours 3..4 five events — counts
    // 1,1,1,5,5; gains by hand: t=1→37, t=2→42.33, t=3→53, t=4→29
    val evs =
      (0 until 3).map(h =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"), "a")) ++
      (3 to 4).flatMap(h => (0 until 5).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:0$i%d:00"), "a"))) ++
      // key b: 1,9 — the best (only) boundary is the LAST one, whose
      // lead(ws) must come from the pre-filter grid
      Seq((java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), "b")) ++
      (0 until 9).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 04:0$i%d:00"), "b"))
    val df = evs.toDF("ts", "event_type")
    val got = rows(EventWindows.levelShift(df, col("ts"), "1 hour",
      col("event_type")).orderBy("key"))
    val a = got(0)
    assert(a.getString(0) == "a")
    assert(a.getAs[java.sql.Timestamp]("split_ws") ==
      java.sql.Timestamp.valueOf("2024-01-01 03:00:00"))
    assert(a.getAs[Long]("n_left") == 3L && a.getAs[Long]("n_right") == 2L)
    assert(a.getAs[Double]("mean_left") == 1.0 &&
      a.getAs[Double]("mean_right") == 5.0)
    assert(a.getAs[Double]("gain") == 3.0 + 50.0)
    // key b spans hours 0..4 on the GLOBAL grid (zeros 0,0,0 then
    // 1,9): best split isolates the 9
    val b = got(1)
    assert(b.getString(0) == "b")
    assert(b.getAs[java.sql.Timestamp]("split_ws") ==
      java.sql.Timestamp.valueOf("2024-01-01 04:00:00"))
    assert(b.getAs[Long]("n_right") == 1L &&
      b.getAs[Double]("mean_right") == 9.0)
  }

  test("seasonal anomaly: a dark hour scores z = -5 against the OTHER " +
      "days' same hour; season groups with no variance stay null") {
    // key a: hour 5 of days 0..5 carries 2,3,2,3,2,3 events; day 6's
    // hour 5 is DARK. Key b pins the global span to 7 full days.
    val evs =
      (0 until 6).flatMap { d =>
        val cnt = if (d % 2 == 0) 2 else 3
        (0 until cnt).map(i =>
          (java.sql.Timestamp.valueOf(f"2024-01-0${d + 1} 05:0$i:00"), "a"))
      } ++ Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "b"),
        (java.sql.Timestamp.valueOf("2024-01-07 23:00:00"), "b"))
    val df = evs.toDF("ts", "event_type")
    val got = rows(EventWindows.seasonalAnomaly(df, col("ts"), "1 hour",
      col("event_type"), minRef = 3).orderBy("key", "ws"))
    // dense grid: 2 keys × 168 hours; every season group has 7 cells
    assert(got.length == 336)
    assert(got.forall(_.getAs[Long]("n_ref") == 6L))
    val a = got.filter(_.getString(1) == "a")
    // day 6 hour 5 (index 6*24+5): reference = the other days' hour 5
    // = (2,3,2,3,2,3): n'=6, S'=15, Q'=39 → z = (0·6−15)/√(234−225) = −5
    val dark = a(6 * 24 + 5)
    assert(dark.getAs[Long]("c") == 0L && dark.getAs[Int]("season") == 5)
    assert(dark.getAs[Double]("z") == -5.0)
    // every non-hour-5 'a' season group is all zeros → no variance →
    // null z (no seasonal norm exists; nothing to deviate from)
    assert(a.filter(_.getAs[Int]("season") != 5)
      .forall(r => r.isNullAt(r.fieldIndex("z"))))
    // b's lone events sit in all-zero reference groups → null too
    assert(got.filter(_.getString(1) == "b")
      .filter(_.getAs[Long]("c") > 0)
      .forall(r => r.isNullAt(r.fieldIndex("z"))))
  }

  test("sparse-grid sweep: transitions omit absent pairs but each " +
      "row's probabilities still sum to 1") {
    // one session a,b,a,b,c: a→b twice, b→a once, b→c once; (a,c)
    // never happens — absent from the output, and its absence does
    // NOT distort the observed rows' conditional probabilities
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val evs = Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
      (1L, ts(3), 3L, "a"), (1L, ts(4), 4L, "b"), (1L, ts(5), 5L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val sess = EventWindows.sessionize(evs, col("ts"), col("user_id"),
      1800000000L, col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = sess.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("prev_type").agg(sum(col("n")).as("__t"))
    val got = rows(pairs.join(totals, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("__t").cast("double")).as("p"))
      .orderBy("prev_type", "next_type"))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got == Seq(("a", "b", 2L, 1.0), ("b", "a", 1L, 0.5),
      ("b", "c", 1L, 0.5)))
    assert(!got.exists(t => t._1 == "a" && t._2 == "c"))
    assert(got.groupBy(_._1).values
      .forall(rows => math.abs(rows.map(_._4).sum - 1.0) < 1e-15))
  }

  test("sparse-grid sweep: stationaryMix on a pure absorbing chain " +
      "settles ALL mass on the absorber — never NaN") {
    // a→b→c with no cycle: before the dangling self-loop fix, round 3
    // had zero total (all mass at c, c has no out-edge) and every
    // state went NaN; with the self-loop the chain settles on c.
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val evs = Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
      (1L, ts(3), 3L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = rows(EventWindows.stationaryMix(evs, col("ts"),
        col("user_id"), col("event_id"), col("event_type"),
        gapMicros = 1800000000L, iters = 4)
      .orderBy("event_type"))
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(got == Seq(("a", 0.0), ("b", 0.0), ("c", 1.0)))
  }

  test("sparse-grid sweep: quantileMobility drops one-half-only users " +
      "from the matrix but still ranks them within their half") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1/u2 active both halves; u3 early-only (NO row, but u3's spend
    // competes in the early ntile — that is the documented semantics)
    val evs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 100.0),
      (2L, ts("2024-01-01 00:00:01"), 50.0),
      (3L, ts("2024-01-01 00:00:02"), 5.0),
      (1L, ts("2024-01-03 00:00:00"), 10.0),
      (2L, ts("2024-01-03 00:00:01"), 50.0))
      .toDF("user_id", "ts", "value")
    val got = rows(EventWindows.quantileMobility(evs, col("user_id"),
        col("ts"), col("value"), buckets = 2)
      .orderBy("q_early", "q_late"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // early desc: u1(100)→q1, u2(50)→q1, u3(5)→q2 (3 rows, 2 tiles);
    // late desc: u2(50)→q1, u1(10)→q2. Pairs: u1 (1,2), u2 (1,1).
    assert(got == Seq((1L, 1L, 1L), (1L, 2L, 1L)))
    assert(got.map(_._3).sum == 2L) // u3 contributes no pair
  }

  test("sparse-grid sweep: associationRules omit never-co-occurring " +
      "pairs; antecedent counts include consequent-free sessions") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // three single-session users: {a,b}, {a}, {c} — (a,c)/(c,·) never
    // co-occur (no row); n_a = 2 counts the b-free session, so
    // confidence is asymmetric: a→b = 1/2 but b→a = 1/1
    val evs = Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
      (2L, ts(1), 3L, "a"), (3L, ts(1), 4L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = rows(EventWindows.associationRules(evs, col("ts"),
        col("user_id"), col("event_id"), col("event_type"),
        gapMicros = 1800000000L)
      .orderBy("antecedent", "consequent"))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7)))
    assert(got.map(t => (t._1, t._2)) == Seq(("a", "b"), ("b", "a")))
    val ab = got.head
    assert(ab._3 == 2L && ab._4 == 1L && ab._5 == 1L) // n_a, n_b, n_ab
    assert(ab._6 == 1.0 / 3 && ab._7 == 0.5 && ab._8 == 1.5)
    val ba = got(1)
    assert(ba._7 == 1.0 && ba._8 == 1.5)
  }

  test("source drift: hand-computed TV distance; disjoint vocabulary " +
      "approaches 1 - share") {
    val d = Seq(("A", "a a b"), ("B", "a b b")).toDF("source", "text")
    val got = rows(TextAnalysis.sourceDrift(d, "source", "text")
      .orderBy("source"))
    // p_A=(2/3,1/3), q=(1/2,1/2): TV = 1/6 for both sources
    for (r <- got)
      assert(math.abs(r.getAs[Double]("tv_distance") - 1.0 / 6) < 1e-15)
    // a disjoint-vocabulary source: TV = 1 - N_s/N
    val d2 = Seq(("A", "a a a a a a a a"), ("Z", "z z")).toDF("source", "text")
    val got2 = rows(TextAnalysis.sourceDrift(d2, "source", "text")
      .orderBy("source"))
    val byS = got2.map(r => r.getString(0) -> r.getAs[Double]("tv_distance"))
      .toMap
    assert(math.abs(byS("Z") - 0.8) < 1e-15 &&
      math.abs(byS("A") - 0.2) < 1e-15, byS.toString)
  }

  test("containment: a quoted-inside document scores ~1 where jaccard " +
      "is diluted below threshold") {
    import graft.ext.TextAnalysis
    // doc 1 is wholly quoted inside the much longer doc 2
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon one two three four five six " +
        "seven eight nine ten eleven twelve thirteen fourteen fifteen"),
      (3L, "unrelated content entirely here okay fine")
    ).toDF("doc_id", "text")
    val sh = d.select(col("doc_id"), TextAnalysis.shingles(col("text"), 3)
      .as("sh"))
    val got = rows(Dedup.containmentPairs(sh, "doc_id", "sh", 0.9))
    assert(got.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    assert(got.head.getAs[Double]("c_a_in_b") == 1.0)
    // jaccard for the same pair is 3/19 — far below any dedup cut
    val jac = rows(Dedup.jaccardPairs(sh, "doc_id", "sh", 0.15))
    assert(jac.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    assert(jac.head.getAs[Double]("jaccard") < 0.2)
  }

  test("containmentPairs: smaller-side prefix candidates reproduce the " +
      "brute all-pairs result on random boilerplate-heavy corpora") {
    import graft.ext.TextAnalysis
    // small vocab => hot shingles shared by most docs (the worst case
    // for prefix pruning: the df-ordering must push them out of every
    // prefix without losing a single qualifying pair); random lengths
    // => equal-size ties exercise the (s_a = s_b, id_a < id_b) arm
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 30L).map { i =>
      val len = 3 + rnd.nextInt(16)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), 2).as("sh"))
    val base = sh.select(col("doc_id").as("id"),
      Dedup.hashedShingles(col("sh")).as("hs"))
    for (t <- Seq(0.5, 0.9)) {
      val brute = base.as("a").join(base.as("b"),
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          size(array_intersect(col("a.hs"), col("b.hs"))).cast("long")
            .as("shared"),
          size(col("a.hs")).cast("long").as("n_a"),
          size(col("b.hs")).cast("long").as("n_b"))
        .withColumn("c_a_in_b",
          col("shared").cast("double") / col("n_a").cast("double"))
        .withColumn("c_b_in_a",
          col("shared").cast("double") / col("n_b").cast("double"))
        .where(greatest(col("c_a_in_b"), col("c_b_in_a")) >= t)
      val got = Dedup.containmentPairs(sh, "doc_id", "sh", t)
      assert(got.except(brute).count() == 0 &&
        brute.except(got).count() == 0,
        s"t=$t: prefix-filtered result differs from brute all-pairs")
    }
  }

  test("trained lang-id: training docs classify to their own language; " +
      "too-short docs predict null") {
    val d = Seq(
      (1L, "en", "the cat sat on the mat and the dog ran"),
      (2L, "en", "the rat and the bat sat on the hat"),
      (3L, "fr", "le chat est sur le tapis et le chien aussi"),
      (4L, "fr", "le rat et le chapeau sont sur la table"),
      (5L, "en", "xy")
    ).toDF("doc_id", "lang", "text")
    val got = rows(TextAnalysis.langIdTrained(d, "doc_id", "text", "lang",
      k = 20).orderBy("id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    for (i <- 1L to 4L)
      assert(byId(i).getAs[Boolean]("is_correct"), s"doc $i misclassified")
    // two chars -> no trigram -> no profile -> null prediction
    assert(byId(5L).isNullAt(byId(5L).fieldIndex("pred_lang")))
  }

  test("vocabulary growth: hand-computed curve over an ordered corpus") {
    val d = Seq((1L, "a b"), (2L, "b c"), (3L, "c d")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.vocabularyGrowth(d, "doc_id", "text",
      points = 3).orderBy("i"))
    // global stream: a b b c c d (T=6); firsts a:0 b:1 c:3 d:5
    // cuts N = 2, 4, 6 -> vocab 2, 3, 4
    assert(got.map(r => (r.getLong(0), r.getAs[Long]("n_prefix"),
      r.getAs[Long]("vocab"))) == Seq((1L, 2L, 2L), (2L, 4L, 3L),
      (3L, 6L, 4L)))
  }

  test("kmv: exact counts right; small groups estimate exactly; " +
      "estimate tracks cardinality") {
    val vals = (1 to 5000).map(i => ("big", s"tok$i")) ++
      Seq(("small", "a"), ("small", "b"), ("small", "a"))
    val df = vals.toDF("g", "v")
    val got = rows(DistinctSketch.kmv(df, "g", col("v"), k = 64)
      .orderBy("g"))
    val byG = got.map(r => r.getString(0) -> r).toMap
    assert(byG("big").getAs[Long]("exact_distinct") == 5000L)
    assert(byG("small").getAs[Long]("exact_distinct") == 2L)
    // under k distinct hashes: est falls back to the exact hash count
    assert(byG("small").isNullAt(byG("small").fieldIndex("kth_hash")))
    assert(byG("small").getAs[Double]("kmv_est") == 2.0)
    // KMV sigma at k=64 is ~1/sqrt(63) ~ 12.6%; allow ~3 sigma plus
    // the mixed polynomial hash's residual non-uniformity
    val est = byG("big").getAs[Double]("kmv_est")
    assert(est > 3200 && est < 7500, s"kmv est $est for true 5000")
  }

  test("hll: registers are cell-wise MAX-mergeable and the estimate " +
      "tracks cardinality") {
    val a = (1 to 3000).map(i => ("s", s"alpha$i")).toDF("g", "v")
    val b = (2000 to 6000).map(i => ("s", s"alpha$i")).toDF("g", "v")
    val union = a.unionByName(b)
    // merge = cell-wise max of the two register sets
    val ra = DistinctSketch.hllRegisters(a, "g", col("v"))
      .withColumnRenamed("reg", "reg_a")
    val rb = DistinctSketch.hllRegisters(b, "g", col("v"))
      .withColumnRenamed("reg", "reg_b")
    val merged = ra.join(rb, Seq("g", "bucket"), "full")
      .select(col("g"), col("bucket"),
        greatest(coalesce(col("reg_a"), lit(0L)),
          coalesce(col("reg_b"), lit(0L))).as("reg"))
    val direct = DistinctSketch.hllRegisters(union, "g", col("v"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "merged registers != union registers")
    // estimate within HLL's expected error envelope (sigma ~6.5% at p=8;
    // allow 4 sigma plus hash imperfection)
    val est = rows(DistinctSketch.hll(union, "g", col("v")))
      .head.getAs[Double]("hll_est")
    assert(est > 4000 && est < 8500, s"hll est $est for true 6000")
  }

  test("hll: rho is the 30-bit leading-zero rank (bin-length identity)") {
    // polyHash("a") = 97; mixed = (97·2654435761 + 17) mod P — rho must
    // equal 31 - bit-length of that mixed value
    val mixed = (97L * 2654435761L + 17L) % 1000000007L
    val df = Seq(("g", "a")).toDF("g", "v")
    val r = rows(DistinctSketch.hllRegisters(df, "g", col("v"))).head
    assert(r.getAs[Long]("reg") == 31L - java.lang.Long
      .toBinaryString(mixed).length)
  }
  test("centroidShardDrift: hand-computed two-shard case") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 0.0f)), // shard 0: centroid (2,0)
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.0f, 3.0f))) // shard 1: centroid (0,2)
      .toDF("vec_id", "embedding")
    // global centroid (1,1); both shards sit at L2 distance sqrt(2)
    val got = rows(graft.ext.Similarity.centroidShardDrift(
      e, "vec_id", "embedding", shards = 2).orderBy("shard"))
    assert(got.map(_.getLong(0)) == Seq(0L, 1L))
    assert(got.map(_.getLong(1)) == Seq(2L, 2L))
    got.foreach(r =>
      assert(math.abs(r.getDouble(2) - math.sqrt(2.0)) < 1e-12))
  }

  test("readability: counts and the FK formula") {
    val d = Seq((1L, "Hello world. Testing here!")).toDF("doc_id", "text")
    val r = rows(TextAnalysis.readability(d, "doc_id", "text")).head
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Long]("n_sentences") == 2L)
    // hello(2) world(1) testing(2) here(2) vowel groups
    assert(r.getAs[Long]("n_syllables") == 7L)
    val fk = 0.39 * (4.0 / 2.0) + 11.8 * (7.0 / 4.0) - 15.59
    assert(r.getAs[Double]("fk_grade") == fk)
    // no sentence punctuation: sentence floor of 1, never /0
    val r2 = rows(TextAnalysis.readability(
      Seq((2L, "no punctuation at all")).toDF("doc_id", "text"),
      "doc_id", "text")).head
    assert(r2.getAs[Long]("n_sentences") == 1L)
  }

  test("lDiversity: homogeneity risk k-anonymity misses") {
    // group A: 4 rows but ONE sensitive value (k-anonymous, not diverse);
    // group B: 3 rows, 3 distinct values
    val d = Seq(
      ("a", 1L), ("a", 1L), ("a", 1L), ("a", 1L),
      ("b", 1L), ("b", 2L), ("b", 3L)).toDF("qi", "sens")
    val r = rows(graft.ext.Scrub.lDiversity(d, Seq(col("qi")),
      col("sens"), l = 2L)).head
    assert(r.getAs[Long]("n_rows") == 7L)
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Long]("min_diversity") == 1L)
    assert(r.getAs[Long]("n_low_groups") == 1L)
    assert(r.getAs[Long]("rows_at_risk") == 4L)
  }

  test("largestRemainderQuota: quotas sum to exactly the budget") {
    // W=16, T=10: tw = 70/50/40 -> base 4/3/2 rem 6/2/8; one leftover
    // unit goes to the largest remainder (source c)
    val d = Seq(("a", 7L), ("b", 5L), ("c", 4L)).toDF("source", "nt")
    val got = rows(graft.ext.Sampling.largestRemainderQuota(
      d, col("source"), col("nt"), total = 10L).orderBy("source"))
    assert(got.map(r => (r.getString(0), r.getAs[Long]("base_quota"),
      r.getAs[Long]("extra"), r.getAs[Long]("quota"))) ==
      Seq(("a", 4L, 0L, 4L), ("b", 3L, 0L, 3L), ("c", 2L, 1L, 3L)))
    assert(got.map(_.getAs[Long]("quota")).sum == 10L)
  }

  test("kmvPairJaccard: identical sets estimate 1, disjoint sets 0") {
    val rowsIn =
      (1 to 300).map(i => ("a", s"tok$i")) ++
      (1 to 300).map(i => ("b", s"tok$i")) ++            // b == a
      (1 to 300).map(i => ("c", s"other$i"))             // c disjoint
    val d = rowsIn.toDF("g", "v")
    val got = rows(graft.ext.DistinctSketch.kmvPairJaccard(
      d, "g", col("v"), k = 64).orderBy("src_a", "src_b"))
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_union"),
        r.getAs[Double]("j_est"))).toList
    assert(got.map(t => (t._1, t._2)) ==
      List(("a", "b"), ("a", "c"), ("b", "c")))
    val byPair = got.map(t => (t._1, t._2) -> t).toMap
    assert(byPair(("a", "b"))._4 == 1.0)   // same k-minima on both sides
    assert(byPair(("a", "c"))._4 == 0.0)
    assert(got.forall(_._3 == 64L))        // union cut at k
    // a group smaller than k contributes its whole hash set
    val small = Seq(("x", "t1"), ("x", "t2"), ("y", "t1"), ("y", "t2"))
      .toDF("g", "v")
    val sm = rows(graft.ext.DistinctSketch.kmvPairJaccard(
      small, "g", col("v"), k = 64)).head
    assert(sm.getAs[Long]("n_union") == 2L &&
      sm.getAs[Double]("j_est") == 1.0)
  }

  test("zipfSlope: an exact power law regresses to slope -1") {
    // counts 12/6/4/3 = 12/rank for ranks 1..4 -> ln c = ln 12 - ln rank
    val text = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val d = Seq(("s1", text.mkString(" "))).toDF("source", "text")
    val r = rows(TextAnalysis.zipfSlope(d, "source", "text")).head
    assert(r.getAs[Long]("n_types") == 4L)
    // (18,4) ln quantization leaves ~1e-3 residue on a perfect law
    assert(math.abs(r.getAs[Double]("slope") + 1.0) < 1e-2)
    assert(math.abs(r.getAs[Double]("r") + 1.0) < 1e-4)
  }
  test("embeddingHygiene: coverage gaps, zero and non-finite vectors surface") {
    val docs = Seq((1L, "sA"), (2L, "sA"), (3L, "sA"), (4L, "sB"))
      .toDF("doc_id", "source")
    val emb = Seq(
      (1L, Array(3.0f, 4.0f)),               // norm2 25
      (2L, Array(0.0f, 0.0f)),               // zero vector
      (4L, Array(Float.NaN, 1.0f)))          // non-finite
      .toDF("vec_id", "embedding")           // doc 3 has NO vector
    val got = rows(graft.ext.Similarity.embeddingHygiene(
      docs, emb, "doc_id", "source", "vec_id", "embedding")
      .orderBy("source"))
    val a = got(0); val b = got(1)
    assert(a.getAs[Long]("n_docs") == 3L && a.getAs[Long]("n_vecs") == 2L)
    assert(a.getAs[Long]("n_zero") == 1L &&
      a.getAs[Long]("n_nonfinite") == 0L)
    assert(a.getAs[Double]("p50_n2") == 0.0 &&
      a.getAs[Double]("p95_n2") == 25.0)
    assert(b.getAs[Long]("n_docs") == 1L && b.getAs[Long]("n_vecs") == 1L)
    assert(b.getAs[Long]("n_nonfinite") == 1L)
  }
  test("BPE merge persistence: save/load round-trips the merge table") {
    val text = (Seq.fill(20)("abab") ++ Seq.fill(10)("abcd")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(d, "doc_id", "text", k = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe")
    try {
      val path = dir.resolve("merges").toString
      TextAnalysis.saveMerges(merges, path)
      val loaded = TextAnalysis.loadMerges(spark, path)
      val direct = merges.orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      assert(loaded == direct && loaded.size == 2)
      // the loaded table drives encode on a NEW corpus identically
      val fresh = Seq((2L, "abab abcd")).toDF("doc_id", "text")
      val a = rows(TextAnalysis.bpeEncodeCounts(fresh, "doc_id", "text",
        loaded)).map(_.toString)
      val b = rows(TextAnalysis.bpeEncodeCounts(fresh, "doc_id", "text",
        direct)).map(_.toString)
      assert(a == b)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
  test("freshnessDecaySample: stepped half-life ppm, fresh rows always kept") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val d = Seq(
      (1L, t("2024-01-31 00:00:00")), // age 0  -> ppm 1000000 (always kept)
      (2L, t("2024-01-23 00:00:00")), // age 8  -> 1 step  -> 500000
      (3L, t("2024-01-16 00:00:00")), // age 15 -> 2 steps -> 250000
      (4L, t("2023-12-22 00:00:00")), // age 40 -> 5 steps -> 31250
      (5L, t("2024-02-05 00:00:00"))) // future -> clamped age 0
      .toDF("id", "ts")
    val kept = rows(graft.ext.Sampling.freshnessDecaySample(d, $"id",
      $"ts", lit("2024-01-31 00:00:00").cast("timestamp"),
      halflifeDays = 7L).orderBy("id"))
      .map(r => r.getLong(0) -> (r.getAs[Long]("age_days"),
        r.getAs[Long]("keep_ppm"))).toMap
    // full-rate rows pass the predicate unconditionally (b < 1e6 always)
    assert(kept(1L) == (0L, 1000000L))
    assert(kept(5L) == (0L, 1000000L))
    kept.get(2L).foreach(v => assert(v == (8L, 500000L)))
    kept.get(3L).foreach(v => assert(v == (15L, 250000L)))
    kept.get(4L).foreach(v => assert(v == (40L, 31250L)))
    // deterministic: the same frame re-sampled is identical
    val again = rows(graft.ext.Sampling.freshnessDecaySample(d, $"id",
      $"ts", lit("2024-01-31 00:00:00").cast("timestamp"), 7L)
      .orderBy("id")).map(_.toString)
    assert(again == rows(graft.ext.Sampling.freshnessDecaySample(d,
      $"id", $"ts", lit("2024-01-31 00:00:00").cast("timestamp"), 7L)
      .orderBy("id")).map(_.toString))
  }

  test("emaSmooth: seeded trailing fold, exact small case") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val counts = Seq(
      ("a", t("2024-01-01 00:00:00"), 4L),
      ("a", t("2024-01-01 01:00:00"), 8L),
      ("a", t("2024-01-01 02:00:00"), 2L))
      .toDF("key", "ws", "c")
    val got = rows(graft.ext.EventWindows.emaSmooth(counts, lookback = 8)
      .orderBy("ws"))
      .map(r => (r.getLong(2), r.getAs[Double]("ema")))
    // ema1 = 4; ema2 = .75*4+.25*8 = 5; ema3 = .75*5+.25*2 = 4.25
    assert(got == Seq((4L, 4.0), (8L, 5.0), (2L, 4.25)))
  }
  test("retrievalEval: AND-relevance, reciprocal rank, precision@k") {
    val docs = Seq(
      (1L, "spark shuffle spark runs"),
      (2L, "spark alone in this one"),
      (3L, "nothing relevant here"),
      (4L, "shuffle spark again together"))
      .toDF("doc_id", "text")
    val r = rows(graft.ext.Retrieval.retrievalEval(docs, "doc_id",
      "text", Seq("q1" -> Seq("spark", "shuffle")), k = 10)).head
    assert(r.getAs[Long]("n_rel_at_k") == 2L) // docs 1 and 4 have BOTH
    val first = r.getAs[Long]("first_rel_rank")
    assert(first >= 1L && first <= 2L)
    assert(r.getAs[Double]("rr") == 1.0 / first)
    assert(r.getAs[Double]("p_at_k") == 0.2)
    // a query whose terms appear nowhere: rr 0, no first rank
    val miss = rows(graft.ext.Retrieval.retrievalEval(docs, "doc_id",
      "text", Seq("q0" -> Seq("absent", "terms")), k = 10)).head
    assert(miss.getAs[Double]("rr") == 0.0 &&
      miss.isNullAt(miss.fieldIndex("first_rel_rank")))
  }
  test("profile: nulls and distincts per column, schema-driven") {
    val d = Seq(
      (1L, Some("a"), "x"), (2L, None, "x"), (3L, Some("a"), "y"))
      .toDF("id", "opt", "grp")
    val got = rows(graft.ext.Stats.profile(d).orderBy("column"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got == Seq(
      ("grp", 3L, 0L, 2L),
      ("id", 3L, 0L, 3L),
      ("opt", 3L, 1L, 1L))) // countDistinct ignores the null
  }
  test("labelBalancedCarveout: even quotas, short labels contribute all") {
    val d = ((1L to 10L).map(i => (i, "a")) ++
      (11L to 20L).map(i => (i, "b")) ++
      Seq((21L, "c"))) // label c has ONE row
      .toDF("id", "lbl")
    val got = rows(graft.ext.Sampling.labelBalancedCarveout(
      d, $"id", $"lbl", total = 9L).orderBy("id"))
    val byLabel = got.groupBy(_.getString(1)).view.mapValues(_.size).toMap
    // 9 over 3 labels -> quota 3 each; c has only 1 row
    assert(byLabel == Map("a" -> 3, "b" -> 3, "c" -> 1))
    assert(got.forall(r => r.getAs[Long]("quota") == 3L))
    // uneven total: 64 over 3 -> 22/21/21 with the extra to the
    // ascending-first labels
    val q = rows(graft.ext.Sampling.labelBalancedCarveout(
      d, $"id", $"lbl", total = 64L)
      .select($"lbl", $"quota").distinct().orderBy("lbl"))
      .map(r => (r.getString(0), r.getLong(1)))
    assert(q == Seq(("a", 22L), ("b", 21L), ("c", 21L)))
  }
  test("splitLeakage: near-dup twins across the boundary are counted") {
    def words(stem: String, n: Int) =
      (1 to n).map(i => f"$stem$i%02d").mkString(" ")
    // ids chosen so the hash split separates at least one twin pair
    // (asserted structurally below, not by pinning bucket values)
    val base = words("w", 40)
    val docs = (1L to 12L).map(i =>
      (i, if (i % 2 == 0) base + " tailA" else base + " tailB"))
      .toDF("doc_id", "text")
    val r = rows(graft.ext.Pipeline.splitLeakage(docs, "doc_id", "text",
      trainPerMille = 500, validPerMille = 0, threshold = 0.6)).head
    val nPairs = r.getAs[Long]("n_pairs")
    val nCross = r.getAs[Long]("n_cross")
    assert(nPairs > 0L)
    assert(nCross >= 0L && nCross <= nPairs)
    assert(r.getAs[Long]("n_train_test") <= nCross)
    assert(r.getAs[Double]("leak_rate") ==
      nCross.toDouble / nPairs.toDouble)
    // an empty pair set yields the zero row, not nulls
    val none = Seq((1L, words("a", 30)), (2L, words("zq", 30)))
      .toDF("doc_id", "text")
    val z = rows(graft.ext.Pipeline.splitLeakage(none, "doc_id",
      "text")).head
    assert(z.getAs[Long]("n_pairs") == 0L &&
      z.getAs[Double]("leak_rate") == 0.0)
  }
  test("codeSwitchAudit: mixed-language document flagged, dominant tie order") {
    val en = Seq.fill(8)("the is a of to in and") // strongly English
    val de = Seq.fill(4)("der die das und nicht ist")
    val docs = Seq(
      (1L, (en ++ de).flatMap(_.split(" ")).mkString(" ")), // 2:1 en:de
      (2L, en.flatMap(_.split(" ")).mkString(" ")))          // pure en
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.codeSwitchAudit(docs, "doc_id", "text",
      chunkSize = 28).orderBy("id"))
    val m = got.map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Long]("n_langs") == 2L &&
      m(1L).getAs[Boolean]("mixed"))
    assert(m(1L).getAs[String]("dominant_lang") == "en")
    assert(m(1L).getAs[Double]("dominant_share") == 2.0 / 3.0)
    assert(m(2L).getAs[Long]("n_langs") == 1L &&
      !m(2L).getAs[Boolean]("mixed") &&
      m(2L).getAs[Double]("dominant_share") == 1.0)
  }
  test("vocabCoverage: exact mass at each cutoff on a known Zipf-ish corpus") {
    // term counts: aa x6, bb x3, cc x1 -> total 10
    val d = Seq((1L, "aa aa aa aa aa aa bb bb bb cc")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.vocabCoverage(d, "text", Seq(1L, 2L, 10L))
      .orderBy("cutoff"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got == Seq(
      (1L, 1L, 6L, 10L, 1.0 - 0.6),
      (2L, 2L, 9L, 10L, 1.0 - 0.9),
      (10L, 3L, 10L, 10L, 0.0)))
  }
  test("ksDrift: hand-computed two-group case, identical group scores 0") {
    // group a: values 1,1,2,3 ; group b: values 3,3,4,4
    // corpus: 1x2, 2x1, 3x3, 4x2 (n=8)
    val d = (Seq(1L, 1L, 2L, 3L).map(("a", _)) ++
      Seq(3L, 3L, 4L, 4L).map(("b", _))).toDF("g", "v")
    val got = rows(graft.ext.Stats.ksDrift(d, $"g", $"v").orderBy("group"))
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    // ECDF_a = (2/4, 3/4, 4/4, 4/4) vs corpus (2/8, 3/8, 6/8, 8/8):
    // diffs 1/4, 3/8, 1/4, 0 -> KS 3/8 at v=2
    assert(got(0) == ("a", 4L, 0.375, 2L))
    // ECDF_b = (0, 0, 2/4, 4/4): diffs 1/4, 3/8, 1/4, 0 -> 3/8 at v=2
    assert(got(1) == ("b", 4L, 0.375, 2L))
    // a group that IS the corpus drifts by 0 (argmax = smallest value)
    val same = Seq(("x", 1L), ("x", 2L)).toDF("g", "v")
    val z = rows(graft.ext.Stats.ksDrift(same, $"g", $"v")).head
    assert(z.getDouble(2) == 0.0 && z.getLong(3) == 1L)
  }
  test("ksDrift argmax: ties take the smallest v, a zero-filled grid cell " +
      "can win, a null group is dropped but still counts in the corpus") {
    def ks(d: org.apache.spark.sql.DataFrame) =
      rows(graft.ext.Stats.ksDrift(d, $"g", $"v").orderBy("group"))
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
    // a: 1,1,2,3 ; b: 1,1,3,4 ; corpus 1x4, 2x1, 3x2, 4x1 (n=8) →
    // ECDF_a (4/8, 6/8, 1, 1) vs corpus (4/8, 5/8, 7/8, 1): |diffs|
    // 0, 1/8, 1/8, 0 — tied at v=2 and v=3, so v=2; b (4/8, 4/8, 6/8,
    // 1): the same tie
    val tied = (Seq(1L, 1L, 2L, 3L).map(("a", _)) ++
      Seq(1L, 1L, 3L, 4L).map(("b", _))).toDF("g", "v")
    assert(ks(tied) == Seq(("a", 4L, 0.125, 2L), ("b", 4L, 0.125, 2L)))
    // c is absent at v=1 and v=2 (zero-filled cells); corpus 1x2, 2x2,
    // 3x2 (n=6): ECDF_c (0, 0, 1) vs (2/6, 4/6, 1) — the max 4/6 sits on
    // the zero-filled cell v=2
    val zero = (Seq(1L, 1L, 2L, 2L).map(("d", _)) ++
      Seq(3L, 3L).map(("c", _))).toDF("g", "v")
    assert(ks(zero).head == ("c", 2L, 4.0 / 6.0, 2L))
    // a null group contributes to the corpus ECDF but gets no row:
    // corpus 1x1, 2x1 (n=2); e = {1}: ECDF (1, 1) vs (1/2, 1) → 1/2 at 1
    val withNull = Seq[(String, Long)](("e", 1L), (null, 2L)).toDF("g", "v")
    assert(ks(withNull) == Seq(("e", 1L, 0.5, 1L)))
    // exhaustive check against a driver-side brute force on a small
    // value domain, where ties and zero-filled cells are common
    val rnd = new scala.util.Random(164)
    val data = Seq.fill(120)((Seq("p", "q", "r", null)(rnd.nextInt(4)),
      rnd.nextInt(6).toLong))
    val vs = data.map(_._2).distinct.sorted
    val nAll = data.size.toLong
    val expect = data.map(_._1).filter(_ != null).distinct.sorted.map { g =>
      val n = data.count(_._1 == g).toLong
      val d = vs.map { v =>
        val cg = data.count(r => r._1 == g && r._2 <= v).toLong
        val cc = data.count(_._2 <= v).toLong
        (math.abs(cg * nAll - cc * n), v)
      }
      val dmax = d.map(_._1).max
      (g, n, dmax.toDouble / (n.toDouble * nAll.toDouble),
        d.filter(_._1 == dmax).map(_._2).min)
    }
    assert(ks(data.toDF("g", "v")) == expect)
  }
  test("ksMatrix: pairwise two-sample KS, consistent with ksDrift logic") {
    // a: 1,1,2,3 ; b: 3,3,4,4 -> ECDF_a (2/4,3/4,1,1) vs
    // ECDF_b (0,0,2/4,1): diffs 1/2, 3/4, 1/2, 0 -> KS 3/4
    val d = (Seq(1L, 1L, 2L, 3L).map(("a", _)) ++
      Seq(3L, 3L, 4L, 4L).map(("b", _))).toDF("g", "v")
    val got = rows(graft.ext.Stats.ksMatrix(d, $"g", $"v")).head
    assert((got.getString(0), got.getString(1)) == ("a", "b"))
    assert(got.getAs[Long]("n_a") == 4L && got.getAs[Long]("n_b") == 4L)
    assert(got.getAs[Double]("ks") == 0.75)
    // identical distributions -> 0
    val same = (Seq(1L, 2L).map(("x", _)) ++ Seq(1L, 2L).map(("y", _)))
      .toDF("g", "v")
    assert(rows(graft.ext.Stats.ksMatrix(same, $"g", $"v"))
      .head.getAs[Double]("ks") == 0.0)
  }
  test("ndcgEval: perfect ranking scores 1, graded gains discount correctly") {
    // doc 1 has both terms (gain 2), doc 2 one (gain 1), doc 3 none.
    // BM25 must rank 1 above 2 above 3 here, so DCG = IDCG -> ndcg 1.
    val docs = Seq(
      (1L, "spark shuffle spark shuffle"),
      (2L, "spark words only here"),
      (3L, "nothing at all present"))
      .toDF("doc_id", "text")
    val r = rows(graft.ext.Retrieval.ndcgEval(docs, "doc_id", "text",
      Seq("q1" -> Seq("spark", "shuffle")), k = 10)).head
    assert(r.getAs[Double]("ndcg") == 1.0)
    // hand value: 2/log2(2) + 1/log2(3) = 2 + ln2/ln3
    val expected = 2.0 + math.log(2.0) / math.log(3.0)
    assert(math.abs(r.getAs[Double]("dcg") - expected) < 1e-9)
    // no relevant docs anywhere: idcg 0 -> ndcg 0, never a div-by-zero
    val none = rows(graft.ext.Retrieval.ndcgEval(docs, "doc_id", "text",
      Seq("q0" -> Seq("absent", "terms")), k = 10)).head
    assert(none.getAs[Double]("ndcg") == 0.0 &&
      none.getAs[Double]("idcg") == 0.0)
  }
  test("hllPairUnion: merged registers behave like the union sketch") {
    val rowsIn =
      (1 to 2000).map(i => ("a", s"u$i")) ++
      (1001 to 3000).map(i => ("b", s"u$i")) ++     // |a ∪ b| = 3000
      (1 to 500).map(i => ("c", s"zz$i"))           // disjoint from a
    val d = rowsIn.toDF("g", "v")
    val got = rows(graft.ext.DistinctSketch.hllPairUnion(d, "g",
      col("v")).orderBy("src_a", "src_b"))
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = got(("a", "b"))
    // union estimate lands in HLL's error envelope around 3000
    assert(ab.getAs[Double]("union_est") > 2300 &&
      ab.getAs[Double]("union_est") < 3800)
    // intersection ~1000 by inclusion-exclusion (looser envelope —
    // it inherits three sketches' error)
    assert(ab.getAs[Double]("inter_est") > 300 &&
      ab.getAs[Double]("inter_est") < 1800)
    val ac = got(("a", "c"))
    // disjoint sets: union ≈ est_a + est_c, intersection near zero
    assert(math.abs(ac.getAs[Double]("inter_est")) <
      0.25 * ac.getAs[Double]("union_est"))
    // merge property exactly: union sketch of (a, c) = sketch of a ∪ c
    val direct = rows(graft.ext.DistinctSketch.hll(
      d.where($"g" =!= "b").withColumn("g", lit("u")), "g", col("v")))
      .head.getAs[Double]("hll_est")
    assert(ac.getAs[Double]("union_est") == direct)
  }
  test("lptAssign: heaviest-first, least-loaded reader, lowest-index ties") {
    val shards = Seq((0L, 9L), (1L, 7L), (2L, 6L), (3L, 5L), (4L, 4L))
      .toDF("shard_id", "n_tokens")
    val got = rows(graft.ext.Sampling.lptAssign(shards, "shard_id",
      "n_tokens", readers = 2).orderBy("shard_id"))
      .map(r => (r.getLong(0), r.getLong(2)))
    // order 9,7,6,5,4: 9->r0(9), 7->r1(7), 6->r1(13), 5->r0(14),
    // 4->r1(17)?? no: after 6 loads are (9,13): 5 -> r0 (14); 4 -> r1? 13<14 -> r1 (17)
    assert(got == Seq((0L, 0L), (1L, 1L), (2L, 1L), (3L, 0L), (4L, 1L)))
    // equal loads tie to reader 0
    val even = Seq((0L, 5L), (1L, 5L)).toDF("shard_id", "n_tokens")
    val e = rows(graft.ext.Sampling.lptAssign(even, "shard_id",
      "n_tokens", readers = 4).orderBy("shard_id"))
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(e == Seq((0L, 0L), (1L, 1L)))
  }

  test("mannWhitneyU: hand ranks with ties; U partition; all-tied NULL") {
    import graft.ext.Stats
    // cohort 0: {1, 2, 2}; cohort 1: {2, 3}
    // ranks: 1→1; the three 2s share (2+3+4)/3 = 3; 3→5
    // R0 = 1 + 3 + 3 = 7, U0 = 7 − 3·4/2 = 1; U1 = n0·n1 − U0 = 5
    val units = Seq((0L, 1L), (0L, 2L), (0L, 2L), (1L, 2L), (1L, 3L))
      .toDF("g", "v")
    val r = rows(Stats.mannWhitneyU(units, col("g"), col("v"))).head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("u_a") == 1.0 && r.getAs[Double]("u_b") == 5.0)
    // tie-corrected variance: n=5, T = (3³−3) = 24
    // var = (6/12)·((5+1) − 24/(5·4)) = 0.5·4.8 = 2.4; μ = 3
    val expZ = (1.0 - 3.0) / math.sqrt(2.4)
    assert(math.abs(r.getAs[Double]("z") - expZ) < 1e-12)
    // every value tied → zero variance → NULL z, not ±Inf
    val tied = Seq((0L, 7L), (0L, 7L), (1L, 7L)).toDF("g", "v")
    val rt = rows(Stats.mannWhitneyU(tied, col("g"), col("v"))).head
    assert(rt.isNullAt(rt.fieldIndex("z")))
  }

  test("welchT: hand means/variances; n=1 cohort NULL") {
    import graft.ext.Stats
    // cohort 0: {1, 3} (m=2, s²=2); cohort 1: {2, 6, 10} (m=6, s²=16)
    val units = Seq((0L, 1.0), (0L, 3.0), (1L, 2.0), (1L, 6.0),
      (1L, 10.0)).toDF("g", "v")
    val r = rows(Stats.welchT(units, col("g"), col("v"))).head
    assert(r.getAs[Double]("mean_a") == 2.0 &&
      r.getAs[Double]("mean_b") == 6.0)
    val sea = 2.0 / 2; val seb = 16.0 / 3
    val expT = (2.0 - 6.0) / math.sqrt(sea + seb)
    val expDf = math.pow(sea + seb, 2) /
      (sea * sea / 1 + seb * seb / 2)
    assert(math.abs(r.getAs[Double]("t") - expT) < 1e-12)
    assert(math.abs(r.getAs[Double]("df") - expDf) < 1e-12)
    // a 1-row cohort has no variance estimate → NULL t and df
    val small = Seq((0L, 1.0), (1L, 2.0), (1L, 3.0)).toDF("g", "v")
    val rs = rows(Stats.welchT(small, col("g"), col("v"))).head
    assert(rs.isNullAt(rs.fieldIndex("t")) && rs.isNullAt(rs.fieldIndex("df")))
  }

  test("anovaF: hand two-group F; zero within-variance NULL") {
    import graft.ext.Stats
    // groups a: {1, 3}, b: {5, 7}: means 2, 6; grand 4
    // SSB = 2·(2−4)² + 2·(6−4)² = 16; SSW = 2 + 2 = 4
    // F = (16/1)/(4/2) = 8
    val df0 = Seq(("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 7.0))
      .toDF("g", "v")
    val r = rows(Stats.anovaF(df0, col("g"), col("v"))).head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 4L)
    assert(math.abs(r.getAs[Double]("ss_between") - 16.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ss_within") - 4.0) < 1e-9)
    assert(r.getAs[Long]("df1") == 1L && r.getAs[Long]("df2") == 2L)
    assert(math.abs(r.getAs[Double]("f") - 8.0) < 1e-9)
    // constant within groups → SSW = 0 → NULL F (never ±Inf)
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("g", "v")
    val rc = rows(Stats.anovaF(const, col("g"), col("v"))).head
    assert(rc.isNullAt(rc.fieldIndex("f")))
  }

  test("psi: hand bins incl. a zero-count bin; nonnegative terms") {
    import graft.ext.Stats
    // corpus bins over two groups; group "b" never hits bin 2 — the
    // zero-cell path must contribute via the +0.5 pseudo-count, not
    // silently drop (the chi-square lesson)
    val df0 = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 1L), ("b", 1L),
      ("b", 1L)).toDF("g", "v")
    val got = rows(Stats.psi(df0, col("g"), col("v")).orderBy("group"))
    assert(got.map(_.getString(0)) == Seq("a", "b"))
    // hand: grid bins {1, 2}; corpus c = (5, 1), n_all = 6, nb = 2
    def p(c: Long, n: Long) = (c + 0.5) / (n + 0.5 * 2)
    def term(c: Long, n: Long, cc: Long) =
      (p(c, n) - p(cc, 6)) * math.log(p(c, n) / p(cc, 6))
    val expA = term(2, 3, 5) + term(1, 3, 1)
    val expB = term(3, 3, 5) + term(0, 3, 1)
    val byG = got.map(r => r.getString(0) -> r.getAs[Double]("psi")).toMap
    assert(math.abs(byG("a") - expA) < 1e-9)
    assert(math.abs(byG("b") - expB) < 1e-9)
    // PSI is nonnegative for both groups (each term (p−q)·ln(p/q) ≥ 0)
    assert(byG("a") > 0.0 && byG("b") > 0.0)
  }

  test("spearman: perfect monotone ±1; hand tie case; constant NULL") {
    import graft.ext.Stats
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("x", "y")
    assert(rows(Stats.spearman(up, col("x"), col("y"))).head
      .getAs[Double]("rho") == 1.0)
    val down = Seq((1L, 40L), (2L, 30L), (3L, 20L), (4L, 10L))
      .toDF("x", "y")
    assert(rows(Stats.spearman(down, col("x"), col("y"))).head
      .getAs[Double]("rho") == -1.0)
    // ties: x = (1, 2, 2, 3), y = (1, 2, 3, 4)
    // rx = (1, 2.5, 2.5, 4), ry = (1, 2, 3, 4) → Pearson on ranks
    val tied = Seq((1L, 1L), (2L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val rx = Seq(1.0, 2.5, 2.5, 4.0); val ry = Seq(1.0, 2.0, 3.0, 4.0)
    val n = 4.0
    val num = n * rx.zip(ry).map { case (a, b) => a * b }.sum -
      rx.sum * ry.sum
    val den = math.sqrt((n * rx.map(a => a * a).sum - rx.sum * rx.sum) *
      (n * ry.map(a => a * a).sum - ry.sum * ry.sum))
    val got = rows(Stats.spearman(tied, col("x"), col("y"))).head
      .getAs[Double]("rho")
    assert(math.abs(got - num / den) < 1e-12)
    // constant x → zero rank variance → NULL
    val const = Seq((1L, 1L), (1L, 2L)).toDF("x", "y")
    val rc = rows(Stats.spearman(const, col("x"), col("y"))).head
    assert(rc.isNullAt(rc.fieldIndex("rho")))
  }

  test("cramersV: perfect association is 1; one-level factor NULL") {
    import graft.ext.Stats
    // a determines b exactly → V = 1
    val perfect = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"),
      ("a2", "b2")).toDF("a", "b")
    val r = rows(Stats.cramersV(perfect, col("a"), col("b"))).head
    assert(math.abs(r.getAs[Double]("v") - 1.0) < 1e-12)
    assert(r.getAs[Double]("chi2") > 0.0)
    // a single-level b → min(|a|,|b|)−1 = 0 → NULL V, no divide crash
    val flat = Seq(("a1", "b"), ("a2", "b")).toDF("a", "b")
    val rf = rows(Stats.cramersV(flat, col("a"), col("b"))).head
    assert(rf.isNullAt(rf.fieldIndex("v")))
  }

  test("cusum: hand level shift — prefix-minus-runmin equals the " +
      "max(0,·) recursion; slack suppresses noise") {
    import graft.ext.Stats
    // one group, 6 periods, counts 5,5,5,9,9,9; mu = 7, k = 0
    val counts = Seq(("g", 1L, 5L), ("g", 2L, 5L), ("g", 3L, 5L),
      ("g", 4L, 9L), ("g", 5L, 9L), ("g", 6L, 9L))
      .toDF("g", "p", "c")
    val got = rows(Stats.cusumFromCounts(counts, kMicro = 0L,
      hMicro = 3000000L).orderBy("period"))
    // recursion by hand: S = 0,0,0,2,4,6; alarms once S > 3
    assert(got.map(_.getAs[Double]("cusum")) ==
      Seq(0.0, 0.0, 0.0, 2.0, 4.0, 6.0))
    assert(got.map(_.getAs[Boolean]("alarm")) ==
      Seq(false, false, false, false, true, true))
    assert(got.head.getAs[Double]("mean") == 7.0)
    // slack k = 2: deviations 5−7−2=−4, 9−7−2=0 → S stays 0, no alarm
    val damped = rows(Stats.cusumFromCounts(counts, kMicro = 2000000L,
      hMicro = 3000000L))
    assert(damped.forall(!_.getAs[Boolean]("alarm")))
  }

  test("kaplanMeier: hand curve — censored subjects leave the risk " +
      "set without a survival drop") {
    import graft.ext.EventWindows
    // (duration, event): censored at 2 and 4; deaths at 1, 2, 3
    val subj = Seq((1L, true), (2L, true), (2L, false), (3L, true),
      (4L, false)).toDF("dur", "ev")
    val got = rows(EventWindows.kaplanMeier(subj, col("dur"), col("ev"))
      .orderBy("day"))
    val byDay = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[Double]("survival"))).toMap
    assert(byDay(1L) == ((5L, 1L, 0L, 1.0 * (1.0 - 1.0 / 5))))
    assert(byDay(2L) == ((4L, 1L, 1L, (1.0 - 1.0 / 5) * (1.0 - 1.0 / 4))))
    // day 3: risk set lost the day-2 death AND the day-2 censor
    assert(byDay(3L)._1 == 2L &&
      math.abs(byDay(3L)._4 - 0.8 * 0.75 * 0.5) < 1e-12)
    // a censor-only day keeps survival flat (factor 1)
    assert(byDay(4L)._2 == 0L && byDay(4L)._4 == byDay(3L)._4)
  }

  test("jsdMatrix: identical dists are 0; disjoint vocabularies are " +
      "ln 2; asymmetric mix lands strictly between") {
    import graft.ext.TextAnalysis
    val docs = Seq(
      (1L, "sA", "cat dog cat"), (2L, "sB", "dog cat cat"),
      (3L, "sC", "fish eel fish")).toDF("doc_id", "source", "text")
    val got = rows(TextAnalysis.jsdMatrix(docs, "source", "text")
      .orderBy("src_a", "src_b"))
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("jsd")).toMap
    assert(got(("sA", "sB")) == 0.0) // same token distribution
    // disjoint vocab: maximal divergence, exactly ln 2 (quantized)
    assert(math.abs(got(("sA", "sC")) - math.log(2.0)) < 1e-9)
    assert(math.abs(got(("sB", "sC")) - math.log(2.0)) < 1e-9)
    // partial overlap sits strictly inside (0, ln 2)
    val mix = Seq((1L, "a", "x x y"), (2L, "b", "x y y"))
      .toDF("doc_id", "source", "text")
    val m = rows(TextAnalysis.jsdMatrix(mix, "source", "text")).head
      .getAs[Double]("jsd")
    assert(m > 0.0 && m < math.log(2.0))
  }

  test("sessionTrigrams: consecutive triples within one session only") {
    import graft.ext.EventWindows
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one user: a b c d in one session, then a gap, then e f (no triple)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "b"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "c"),
      (1L, ts("2024-01-01 10:03:00"), 4L, "d"),
      (1L, ts("2024-01-01 12:00:00"), 5L, "e"),
      (1L, ts("2024-01-01 12:01:00"), 6L, "f"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = rows(EventWindows.sessionTrigrams(ev, col("ts"),
        col("user_id"), col("event_id"), col("event_type"),
        gapMicros = 1800000000L)
      .orderBy("t1", "t2", "t3"))
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got == Seq(("a", "b", "c", 1L), ("b", "c", "d", 1L)))
  }

  test("associationRules: hand support/confidence/lift; confidence " +
      "is asymmetric") {
    import graft.ext.EventWindows
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // three sessions (distinct users): {a,b}, {a}, {a,b}
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "b"),
      (2L, ts("2024-01-01 10:00:00"), 3L, "a"),
      (3L, ts("2024-01-01 10:00:00"), 4L, "a"),
      (3L, ts("2024-01-01 10:01:00"), 5L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = rows(EventWindows.associationRules(ev, col("ts"),
        col("user_id"), col("event_id"), col("event_type"),
        gapMicros = 1800000000L)
      .orderBy("antecedent", "consequent"))
    val ab = got.head; val ba = got(1)
    assert(ab.getString(0) == "a" && ab.getLong(4) == 2L &&
      math.abs(ab.getAs[Double]("support") - 2.0 / 3) < 1e-12 &&
      math.abs(ab.getAs[Double]("confidence") - 2.0 / 3) < 1e-12 &&
      math.abs(ab.getAs[Double]("lift") - 1.0) < 1e-12)
    // b → a is certain while a → b is not — the asymmetry
    assert(ba.getString(0) == "b" &&
      ba.getAs[Double]("confidence") == 1.0)
  }

  test("topComponent: recovers a known principal direction; unit " +
      "norm; negative-covariance path exercised") {
    import graft.ext.Pca
    // points on the (3, 4) line → top component is ±(0.6, 0.8)
    val line = Seq(
      (1L, Array(3.0f, 4.0f)), (2L, Array(6.0f, 8.0f)),
      (3L, Array(-3.0f, -4.0f)), (4L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Pca.topComponent(line, "vec_id", "embedding")
      .orderBy("dim")).map(_.getAs[Double]("loading"))
    assert(math.abs(math.abs(got.head) - 0.6) < 1e-4 &&
      math.abs(math.abs(got(1)) - 0.8) < 1e-4)
    assert(math.abs(got.map(x => x * x).sum - 1.0) < 1e-9)
    // anti-correlated dims (negative covariance entries feed the
    // truncating DIV): direction ±(1, −1)/√2
    val anti = Seq(
      (1L, Array(1.0f, -1.0f)), (2L, Array(-2.0f, 2.0f)),
      (3L, Array(3.0f, -3.0f)), (4L, Array(0.5f, -0.5f)))
      .toDF("vec_id", "embedding")
    val g2 = rows(Pca.topComponent(anti, "vec_id", "embedding")
      .orderBy("dim")).map(_.getAs[Double]("loading"))
    assert(math.abs(math.abs(g2.head) - math.sqrt(0.5)) < 1e-4)
    assert(g2.head * g2(1) < 0) // opposite signs along the axis
  }

  test("anisotropy: axis-aligned label reads ~1, orthogonal label 0; " +
      "zero vector excluded with its count reported") {
    import graft.ext.Pca
    val vecs = Seq(
      (1L, Array(5.0f, 0.0f), 0), (2L, Array(-5.0f, 0.0f), 0),
      (3L, Array(10.0f, 0.0f), 0), (4L, Array(-10.0f, 0.0f), 0),
      (5L, Array(0.0f, 1.0f), 1), (6L, Array(0.0f, -1.0f), 1),
      (7L, Array(0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = rows(Pca.anisotropy(vecs, "vec_id", "embedding", "label")
      .orderBy("label"))
    val l0 = got.head; val l1 = got(1)
    assert(l0.getAs[Long]("n") == 4L && l0.getAs[Long]("n_zero") == 0L)
    assert(l0.getAs[Double]("mean_abs_cos") > 0.999)
    // dim-1 vectors are orthogonal to the dominant axis
    assert(l1.getAs[Long]("n") == 3L && l1.getAs[Long]("n_zero") == 1L)
    assert(l1.getAs[Double]("mean_abs_cos") < 0.01)
  }

  test("foldAssign: pure function of the unit (group integrity), " +
      "full fold range, no empty fold on sequential ids") {
    import graft.ext.Sampling
    val df0 = (0L until 1000L).flatMap(u => Seq((u, "a"), (u, "b")))
      .toDF("u", "tag")
    val folded = Sampling.foldAssign(df0, col("u"), k = 5)
    // every unit's rows land in exactly one fold — the leakage guarantee
    val perUnit = rows(folded.groupBy("u")
      .agg(countDistinct(col("fold")).as("nf"))
      .where(col("nf") =!= 1L))
    assert(perUnit.isEmpty)
    val folds = rows(folded.select("fold").distinct()).map(_.getLong(0))
    assert(folds.toSet.subsetOf((0L until 5L).toSet) && folds.size == 5)
  }

  test("bootstrapMeanCI: exact point mean; constant data collapses " +
      "the interval; bounds ordered and bracketing") {
    import graft.ext.Stats
    // constant metric: every replicate mean is exactly the constant
    val const = (0L until 50L).map(u => (u, 7.25)).toDF("u", "x")
    val rc = rows(Stats.bootstrapMeanCI(const, col("u"), col("x"),
      b = 100)).head
    assert(rc.getAs[Double]("mean") == 7.25 &&
      rc.getAs[Double]("lo95") == 7.25 && rc.getAs[Double]("hi95") == 7.25)
    assert(rc.getAs[Long]("n_units") == 50L &&
      rc.getAs[Long]("n_rows") == 50L)
    // varied metric: exact point estimate, ordered bracketing bounds
    val varied = (0L until 200L).map(u => (u, u.toDouble % 10))
      .toDF("u", "x")
    val rv = rows(Stats.bootstrapMeanCI(varied, col("u"), col("x"),
      b = 200)).head
    assert(rv.getAs[Double]("mean") == 4.5)
    assert(rv.getAs[Double]("lo95") <= rv.getAs[Double]("mean") &&
      rv.getAs[Double]("mean") <= rv.getAs[Double]("hi95") &&
      rv.getAs[Double]("lo95") < rv.getAs[Double]("hi95"))
    assert(rv.getAs[Long]("n_replicates") == 200L)
  }

  test("covariateBalance: hand SMD; identical cohorts read 0; " +
      "zero-variance NULL") {
    import graft.ext.Stats
    // cohort 0: x = {1, 3} (m=2, s²=2); cohort 1: x = {4, 8} (m=6, s²=8)
    val units = Seq((0L, 1.0, 5.0), (0L, 3.0, 5.0), (1L, 4.0, 5.0),
      (1L, 8.0, 5.0)).toDF("g", "x", "c")
    val got = rows(Stats.covariateBalance(units, col("g"),
      Seq("x" -> col("x"), "c" -> col("c"))).orderBy("covariate"))
    val cRow = got.head; val xRow = got(1)
    val expSmd = (2.0 - 6.0) / math.sqrt((2.0 + 8.0) / 2)
    assert(xRow.getString(0) == "x" &&
      math.abs(xRow.getAs[Double]("smd") - expSmd) < 1e-12)
    // constant covariate: zero variance in both cohorts → NULL, not ±Inf
    assert(cRow.getString(0) == "c" && cRow.isNullAt(cRow.fieldIndex("smd")))
    // identical distributions → SMD exactly 0
    val same = Seq((0L, 1.0), (0L, 2.0), (1L, 1.0), (1L, 2.0))
      .toDF("g", "x")
    val r0 = rows(Stats.covariateBalance(same, col("g"),
      Seq("x" -> col("x")))).head
    assert(r0.getAs[Double]("smd") == 0.0)
  }

  test("saveComponent/loadComponent: loadings under the loaded " +
      "component are bit-identical to the fresh iteration") {
    import graft.ext.Pca
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f, 0.5f)), (2L, Array(6.0f, 8.0f, -0.5f)),
      (3L, Array(-3.0f, -4.0f, 0.25f)), (4L, Array(0.0f, 0.5f, 1.0f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_pcasave")
    try {
      val pe = Pca.quantized(vecs, "vec_id", "embedding")
      val v = Pca.powerVector(pe, 4)
      Pca.saveComponent(v, dir.resolve("comp").toString)
      val fresh = rows(Pca.normalizeComponent(v).orderBy("dim"))
        .map(_.toString)
      val loaded = rows(Pca.normalizeComponent(
          Pca.loadComponent(spark, dir.resolve("comp").toString))
        .orderBy("dim")).map(_.toString)
      assert(loaded == fresh && fresh.size == 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("correctedSourceMatrix: removing the dominant axis exposes the " +
      "orthogonal disagreement the raw centroid cosine hides") {
    import graft.ext.{Pca, Similarity}
    // A and B lean hard on dim 0 (the covariance axis); their dim-1
    // content is OPPOSITE. Raw centroid cosine ≈ +1 (axis-dominated);
    // corrected ≈ −1 (the real signal). Source C sits ON the axis —
    // a third source, because with exactly two the centered sums are
    // forced negatives and the test would pass without removing v.
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"),
      (5L, "C"), (6L, "C")).toDF("doc_id", "source")
    val emb = Seq(
      (1L, Array(8.0f, 1.0f)), (2L, Array(12.0f, 1.0f)),
      (3L, Array(9.0f, -1.0f)), (4L, Array(13.0f, -1.0f)),
      (5L, Array(2.0f, 0.0f)), (6L, Array(18.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def ab(df: org.apache.spark.sql.DataFrame): Double =
      rows(df.where(col("src_a") === "A" && col("src_b") === "B")).head
        .getAs[Double]("cosine")
    val raw = ab(Similarity.sourceCentroidMatrix(docs, col("doc_id"),
      col("source"), emb, col("vec_id"), col("embedding")))
    val pe = Pca.quantized(emb, "vec_id", "embedding")
    val corrected = ab(Pca.correctedSourceMatrix(pe,
      Pca.powerVector(pe, 4), docs, "doc_id", "source"))
    assert(raw > 0.9, s"raw $raw")
    assert(corrected < -0.5, s"corrected $corrected")
  }

  test("graphTriangles: hand census — triangle+pendant, hub star, " +
      "clique; degree-ordered count equals the canonical one") {
    import graft.ext.Dedup
    // triangle {1,2,3} + pendant 4 on 3: T=1, wedges=1+1+3=5, C=0.6
    val g1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val r1 = rows(Dedup.graphTriangles(g1)).head
    assert(r1.getAs[Long]("n_nodes") == 4L &&
      r1.getAs[Long]("n_edges") == 4L &&
      r1.getAs[Long]("n_triangles") == 1L &&
      r1.getAs[Long]("n_wedges") == 5L &&
      r1.getAs[Double]("clustering_coeff") == 0.6)
    // star: the hub case degree-ordering exists for — T=0, C=0
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val rs = rows(Dedup.graphTriangles(star)).head
    assert(rs.getAs[Long]("n_triangles") == 0L &&
      rs.getAs[Double]("clustering_coeff") == 0.0)
    // K4: every wedge closes — C exactly 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("id_a", "id_b")
    val rk = rows(Dedup.graphTriangles(k4)).head
    assert(rk.getAs[Long]("n_triangles") == 4L &&
      rk.getAs[Double]("clustering_coeff") == 1.0)
  }

  test("behaviorMovers: hand halves — share flip reads ±1 log2fc; a " +
      "type absent from one half still reports") {
    import graft.ext.EventWindows
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // early half: a,a,b,b ; late half: a,b,b,b + type c only late
    val ev = Seq(
      ("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 01:00:00")),
      ("b", ts("2024-01-01 02:00:00")), ("b", ts("2024-01-01 03:00:00")),
      ("a", ts("2024-01-02 21:00:00")), ("b", ts("2024-01-02 22:00:00")),
      ("b", ts("2024-01-02 23:00:00")), ("c", ts("2024-01-03 00:00:00")))
      .toDF("event_type", "ts")
    val got = rows(EventWindows.behaviorMovers(ev, col("ts"),
      col("event_type")).orderBy("event_type"))
    val byT = got.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getAs[Double]("log2_fc"))).toMap
    assert(byT("a")._1 == 2L && byT("a")._2 == 1L)
    // c: 0 early, 1 late — present in the output, positive mover
    assert(byT("c")._1 == 0L && byT("c")._2 == 1L && byT("c")._3 > 0.0)
    // a's share halved (2/4 → 1/4): smoothed log2 fc near −1
    assert(byT("a")._3 < -0.5)
    // shares, not raw counts: equal halves of a GROWING corpus → fc 0
    val grown = Seq(
      ("a", ts("2024-01-01 00:00:00")), ("b", ts("2024-01-01 01:00:00")),
      ("a", ts("2024-01-02 21:00:00")), ("a", ts("2024-01-02 22:00:00")),
      ("b", ts("2024-01-02 23:00:00")), ("b", ts("2024-01-02 23:30:00")))
      .toDF("event_type", "ts")
    val g2 = rows(EventWindows.behaviorMovers(grown, col("ts"),
      col("event_type")).orderBy("event_type"))
    // both types keep a 1/2 share → z exactly 0 and equal UNsmoothed
    // shares (the +0.5 smoothing shifts fc slightly when half totals
    // differ — that bias is bounded, the exact-share columns are not)
    assert(g2.forall(r => r.getAs[Double]("z") == 0.0 &&
      r.getAs[Double]("share_early") == r.getAs[Double]("share_late") &&
      math.abs(r.getAs[Double]("log2_fc")) < 0.15))
  }

  test("prfExpand: vocabulary mismatch fixed — a doc sharing only " +
      "mined expansion terms enters the ranking") {
    import graft.ext.Retrieval
    val docs = Seq(
      (1L, "car auto road"), (2L, "auto engine road"),
      (3L, "fish eel water"), (4L, "car wheel"))
      .toDF("doc_id", "text")
    val got = rows(Retrieval.prfExpand(docs, "doc_id", "text",
      Seq("car"), poolK = 2, expandK = 2, k = 4))
    val byId = got.map(r => r.getLong(0) ->
      (r.getAs[Long]("orig_micro"), r.getAs[Long]("exp_micro"))).toMap
    // doc 2 has no query term — it can ONLY rank via expansion terms
    // mined from the {1, 4} feedback pool ("auto"/"road"/"wheel")
    assert(byId.contains(2L) && byId(2L)._1 == 0L && byId(2L)._2 > 0L)
    // the fish doc shares nothing with pool vocabulary
    assert(!byId.contains(3L))
    // originals still dominate: both car docs score on the first pass
    assert(byId(1L)._1 > 0L && byId(4L)._1 > 0L)
  }

  test("diffSummary: hand counts incl. null-to-value column change " +
      "and consistency with snapshotDiff") {
    import graft.operators.Diff
    val oldDf = Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "b"),
      (3L, None: Option[Double], "c"), (4L, Some(40.0), "d"))
      .toDF("k", "p", "s")
    val newDf = Seq((1L, Some(10.0), "a"), (2L, Some(21.0), "b"),
      (3L, Some(30.0), "c"), (5L, Some(50.0), "e"))
      .toDF("k", "p", "s")
    val got = rows(Diff.diffSummary(oldDf, newDf, Seq("k")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 4 removed, 5 added; 2 and 3 changed (3 via null→30.0); 1 same
    assert(got("rows_added") == 1L && got("rows_removed") == 1L &&
      got("rows_changed") == 2L && got("rows_unchanged") == 1L)
    assert(got("col_changed:p") == 2L && got("col_changed:s") == 0L)
    // row-level counts agree with the full diff
    val d = rows(Diff.snapshotDiff(oldDf, newDf, Seq("k")))
      .groupBy(_.getAs[String]("change")).view.mapValues(_.size).toMap
    assert(d("added") == 1 && d("removed") == 1 && d("changed") == 2)
  }

  test("hhi: hand shares; monopoly is 1; negative weight raises") {
    import graft.ext.Stats
    val df0 = Seq(("g", "k1", 3.0), ("g", "k2", 1.0), ("m", "k1", 5.0))
      .toDF("g", "k", "w")
    val got = rows(Stats.hhi(df0, col("g"), col("k"), col("w"))
      .orderBy("group"))
    assert(math.abs(got.head.getAs[Double]("hhi") -
      (0.75 * 0.75 + 0.25 * 0.25)) < 1e-12)
    assert(got(1).getAs[Double]("hhi") == 1.0 &&
      got(1).getAs[Long]("n_keys") == 1L)
    val neg = Seq(("g", "k1", -1.0)).toDF("g", "k", "w")
    intercept[Exception] {
      Stats.hhi(neg, col("g"), col("k"), col("w")).collect()
    }
  }

  test("sparse-grid sweep: cohortLtv zero-spend month is a real dense " +
      "cell — period 0, cumulative carried through") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: spends day 0 and day 2, NOTHING day 1 — the dense age axis
    // must emit the silent month with period_cents = 0 (floor-cents:
    // 2.509 -> 250, never rounded up), cum flat across it
    val evs = Seq(
      (1L, ts("2024-01-01 08:00:00"), 1.00),
      (1L, ts("2024-01-03 09:00:00"), 2.509))
      .toDF("user_id", "ts", "value")
    val got = rows(EventWindows.cohortLtv(evs, col("ts"), col("user_id"),
        col("value"), "1 day", 86400000000L)
      .orderBy("age"))
      .map(r => (r.getAs[Long]("age"), r.getAs[Long]("n_users"),
        r.getAs[Long]("period_cents"), r.getAs[Long]("cum_cents"),
        r.getAs[Double]("ltv_per_user")))
    assert(got == Seq((0L, 1L, 100L, 100L, 1.0),
      (1L, 1L, 0L, 100L, 1.0), (2L, 1L, 250L, 350L, 3.5)))
  }

  test("sparse-grid sweep: tokenLabelMI with a ONE-document label " +
      "keeps every absent (term, label) cell in the grid") {
    // en: {apple}, {banana}; fr: {apple} — (banana, fr) never happens,
    // but the MI grid must carry it with n11 = 0 (the absent cell IS
    // the signal: banana is en-exclusive evidence)
    val d = Seq((1L, "en", "apple"), (2L, "en", "banana"),
      (3L, "fr", "apple")).toDF("doc_id", "lang", "text")
    val got = rows(TextAnalysis.tokenLabelMI(d, "doc_id", "text", "lang")
      .orderBy("term", "label"))
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n11"),
        r.getAs[Long]("n10"), r.getAs[Long]("n01"), r.getAs[Long]("n00"),
        r.getAs[Double]("mi")))
    assert(got.map(t => (t._1, t._2)) ==
      Seq(("apple", "en"), ("apple", "fr"), ("banana", "en"),
        ("banana", "fr")))
    val bf = got.find(t => t._1 == "banana" && t._2 == "fr").get
    assert((bf._3, bf._4, bf._5, bf._6) == (0L, 1L, 1L, 1L))
    // hand MI: (1/3)log2(3/2) + (1/3)log2(3/2) + (1/3)log2(3/4),
    // each cell quantized at 1e-12 before the exact-decimal sum
    val expected = 2 * math.log(1.5) / math.log(2.0) / 3 +
      math.log(0.75) / math.log(2.0) / 3
    assert(math.abs(bf._7 - expected) < 1e-9, s"mi=${bf._7}")
    val ae = got.find(t => t._1 == "apple" && t._2 == "en").get
    assert((ae._3, ae._4, ae._5, ae._6) == (1L, 1L, 1L, 0L))
  }

  test("sparse-grid sweep: quantileNormalize maps a group absent from " +
      "the pooled tail onto the pooled MAX — never a dropped row") {
    // group b has only the pooled MINIMUM value; its top rank must
    // still land on the pooled maximum (rank 2 of 2 -> pooled rank 5
    // of 5 -> v=3), exercising the last pooled bucket b never fed
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L), ("b", 1L))
      .toDF("g", "v")
    val got = rows(graft.ext.Quantiles.quantileNormalize(d, col("g"),
        col("v")).orderBy("group", "v"))
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("n_gv"),
        r.getAs[Long]("rank_in_group"), r.getAs[Long]("norm_v")))
    assert(got == Seq(("a", 1L, 1L, 1L, 1L), ("a", 2L, 1L, 2L, 2L),
      ("a", 3L, 1L, 3L, 3L), ("b", 1L, 2L, 2L, 3L)))
  }

  test("sparse-grid sweep: goodTuring head/internal count-class gaps " +
      "yield NULL r_star, never an off-by-one-class estimate") {
    // counts: a=3, b=2, c=3, d=5 -> grid r2:1, r3:2, r5:1. NO r=1
    // class at all (head gap), and r3's successor is 5, not 4
    // (internal gap): r3 must be NULL rather than (4)*N5/N3
    val d = Seq((1L, "a a a b b"), (2L, "c c c"), (3L, "d d d d d"))
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.goodTuring(d, "doc_id", "text")
      .orderBy("r"))
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.map(t => (t._1, t._2)) == Seq((2L, 1L), (3L, 2L), (5L, 1L)))
    // r=2 has the adjacent class r=3: r* = 3*N3/N2 = 6, p = 6/13
    assert(got(0)._3.contains(6.0) &&
      math.abs(got(0)._4.get - 6.0 / 13) < 1e-15)
    assert(got(1)._3.isEmpty && got(1)._4.isEmpty) // internal gap
    assert(got(2)._3.isEmpty && got(2)._4.isEmpty) // open tail
  }


  test("rocAuc: perfect separation 1.0, reversal 0.0, all-tied 0.5, " +
      "empty class NULL — exact U identity") {
    import graft.ext.Stats
    def auc(rows: Seq[(Long, Boolean)]): Option[Double] = {
      val r = Stats.rocAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    assert(auc(Seq((3L, true), (4L, true), (1L, false), (2L, false)))
      .contains(1.0))
    assert(auc(Seq((1L, true), (2L, true), (3L, false), (4L, false)))
      .contains(0.0))
    assert(auc(Seq((1L, true), (1L, false))).contains(0.5))
    assert(auc(Seq((1L, true), (3L, true), (2L, false))).contains(0.5))
    assert(auc(Seq((1L, true), (2L, true))).isEmpty)
  }

  test("thresholdSweep: hand confusion matrix at every cut; suffix " +
      "sums from the score grid") {
    import graft.ext.Stats
    val u = Seq((1L, false), (2L, true), (2L, false), (3L, true))
      .toDF("s", "y")
    val got = rows(Stats.thresholdSweep(u, col("s"), col("y"))
      .orderBy(col("threshold").desc))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8)))
    assert(got == Seq(
      (3L, 1L, 0L, 1L, 2L, 1.0, 0.5, 2.0 / 3, 0.0),
      (2L, 2L, 1L, 0L, 1L, 2.0 / 3, 1.0, 0.8, 0.5),
      (1L, 2L, 2L, 0L, 0L, 0.5, 1.0, 2.0 / 3, 1.0)))
  }

  test("calibrationBins: exact ppm binning, p = 1e6 clamps into the " +
      "top bin; gaps hand-checked") {
    import graft.ext.Stats
    val u = Seq((50000L, false), (150000L, true), (1000000L, true),
      (999999L, false)).toDF("p", "y")
    val got = rows(Stats.calibrationBins(u, col("p"), col("y"),
        bins = 10).orderBy("bin"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got == Seq(
      (0L, 0L, 1L, 0.05, 0.0),
      (1L, 100000L, 1L, 0.15, 1.0),
      (9L, 900000L, 2L, 1999999.0 / 2 / 1e6, 0.5)))
    val ece = rows(Stats.expectedCalibrationError(
      Stats.calibrationBins(u, col("p"), col("y"), bins = 10))).head
    assert(ece.getLong(0) == 4L && ece.getLong(1) == 3L)
    // ECE = (1*.05 + 1*.85 + 2*(1999999/2/1e6 - .5)) / 4
    val exp = (0.05 + 0.85 + 2 * (1999999.0 / 2 / 1e6 - 0.5)) / 4
    assert(math.abs(ece.getDouble(2) - exp) < 1e-15)
  }

  test("cohenKappa: textbook 2x2 scores 0.4; two constant raters in " +
      "full agreement are NULL (chance explains everything)") {
    import graft.ext.Stats
    val u = (Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false)))
      .toDF("a", "b")
    val r = Stats.cohenKappa(u, col("a"), col("b")).head()
    assert(r.getLong(0) == 50L && r.getLong(1) == 35L)
    assert(r.getDouble(2) == 0.7 && r.getDouble(3) == 0.5 &&
      r.getDouble(4) == 0.4)
    val const = Seq.fill(5)((true, true)).toDF("a", "b")
    assert(Stats.cohenKappa(const, col("a"), col("b")).head().isNullAt(4))
  }


  test("rocAucByGroup: each group's AUC equals pooled rocAuc run on " +
      "that group alone; Simpson-style reversal surfaces per slice") {
    import graft.ext.Stats
    // group A: score orders labels perfectly; group B: perfectly
    // REVERSED — a pooled AUC would blur what the slices show
    val u = Seq(("A", 1L, false), ("A", 2L, true), ("A", 3L, true),
      ("B", 1L, true), ("B", 2L, false), ("B", 3L, false))
      .toDF("g", "s", "y")
    val got = rows(Stats.rocAucByGroup(u, col("g"), col("s"), col("y"))
      .orderBy("group"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got == Seq(("A", 2L, 1L, 1.0), ("B", 1L, 2L, 0.0)))
    for (g <- Seq("A", "B")) {
      val pooled = Stats.rocAuc(u.where(col("g") === g), col("s"),
        col("y")).head().getDouble(2)
      assert(got.find(_._1 == g).get._4 == pooled)
    }
  }

  test("averagePrecision: perfect ranking 1, all-positive 1, " +
      "reversal = prevalence, interleaved hand case, no positives " +
      "NULL; guard trips on an unquantized score") {
    import graft.ext.Stats
    def ap(rows: Seq[(Long, Boolean)]): Option[Double] = {
      val r = Stats.averagePrecision(rows.toDF("s", "y"), col("s"),
        col("y")).head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    // positives strictly above negatives
    assert(ap(Seq((3L, true), (4L, true), (1L, false), (2L, false)))
      .contains(1.0))
    // no negatives: P(k) = 1 at every cut
    assert(ap(Seq((1L, true), (2L, true))).contains(1.0))
    // all negatives above the one positive block: one term,
    // P = n_pos/(n_pos + n_neg) — AP degenerates to prevalence
    // (terms are DECIMAL(28,12)-quantized, so exact to 5e-13)
    assert(ap(Seq((1L, true), (2L, false), (3L, false)))
      .map(a => math.abs(a - 1.0 / 3.0)).exists(_ < 1e-12))
    // interleaved: cuts at 4 (tp=1, P=1), 2 (tp=2, P=2/3);
    // AP = (1*1 + 1*2/3)/2 = 5/6
    assert(ap(Seq((4L, true), (3L, false), (2L, true), (1L, false)))
      .map(a => math.abs(a - 5.0 / 6.0)).exists(_ < 1e-12))
    assert(ap(Seq((1L, false), (2L, false))).isEmpty)
    intercept[IllegalArgumentException](
      Stats.averagePrecision(
        (1 to 20).map(i => (i * 0.31, i % 2 == 0)).toDF("s", "y"),
        col("s"), col("y"), maxGridValues = 10L))
  }

  test("decisionCurve: hand utility at every cut; cost bound trips " +
      "loudly") {
    import graft.ext.Stats
    val u = Seq((1L, false), (2L, true), (2L, false), (3L, true))
      .toDF("s", "y")
    // same grid as the thresholdSweep hand case; U = 5tp - fp - 2fn
    val got = rows(Stats.decisionCurve(u, col("s"), col("y"),
        wTp = 5L, wFp = 1L, wFn = 2L)
      .orderBy(col("threshold").desc))
      .map(r => (r.getLong(0), r.getLong(5)))
    assert(got == Seq(
      (3L, 5L * 1 - 0 - 2 * 1), // tp=1 fp=0 fn=1 -> 3
      (2L, 5L * 2 - 1 - 0),     // tp=2 fp=1 fn=0 -> 9
      (1L, 5L * 2 - 2 - 0)))    // tp=2 fp=2 fn=0 -> 8
    intercept[IllegalArgumentException](
      Stats.decisionCurve(u, col("s"), col("y"),
        wTp = 1000001L, wFp = 1L, wFn = 1L))
  }

  test("calibrationBinsByGroup / brierByGroup: each group's rows " +
      "equal the pooled operator run on that group alone") {
    import graft.ext.Stats
    val u = Seq(("A", 50000L, false), ("A", 150000L, true),
      ("A", 999999L, false), ("B", 1000000L, true), ("B", 50000L, true),
      ("B", 150000L, false)).toDF("g", "p", "y")
    for (g <- Seq("A", "B")) {
      val slice = u.where(col("g") === g)
      assert(rows(Stats.calibrationBinsByGroup(u, col("g"), col("p"),
          col("y")).where(col("group") === g)
          .drop("group").orderBy("bin")).map(_.toString) ==
        rows(Stats.calibrationBins(slice, col("p"), col("y"))
          .orderBy("bin")).map(_.toString))
      assert(rows(Stats.brierByGroup(u, col("g"), col("p"), col("y"))
          .where(col("group") === g).drop("group")).map(_.toString) ==
        rows(Stats.brierScore(slice, col("p"), col("y")))
          .map(_.toString))
    }
    // the loud range contract holds in the grouped form too
    val neg = Seq(("A", -5L, true)).toDF("g", "p", "y")
    val e = intercept[Exception](
      Stats.calibrationBinsByGroup(neg, col("g"), col("p"), col("y"))
        .collect())
    def msgs(t: Throwable): String =
      if (t == null) "" else (t.getMessage + "\n" + msgs(t.getCause))
    assert(msgs(e).contains("out of [0, 1e6]"))
    // per-group ECE equals the pooled ECE run on each slice alone
    // (up to the grouped form's documented per-term quantization)
    val bins = Stats.calibrationBinsByGroup(u, col("g"), col("p"),
      col("y"))
    val byG = rows(Stats.expectedCalibrationErrorByGroup(bins)
      .orderBy("group"))
    for ((g, i) <- Seq("A", "B").zipWithIndex) {
      val pooled = Stats.expectedCalibrationError(
        Stats.calibrationBins(u.where(col("g") === g), col("p"),
          col("y"))).head()
      assert(byG(i).getLong(1) == pooled.getLong(0) &&
        byG(i).getLong(2) == pooled.getLong(1))
      assert(math.abs(byG(i).getDouble(3) - pooled.getDouble(2)) < 1e-12)
    }
  }

  test("averagePrecisionByGroup: each group's AP equals pooled " +
      "averagePrecision run on that group alone") {
    import graft.ext.Stats
    val u = Seq(("A", 1L, false), ("A", 2L, true), ("A", 3L, true),
      ("B", 1L, true), ("B", 2L, false), ("B", 3L, false))
      .toDF("g", "s", "y")
    val got = rows(Stats.averagePrecisionByGroup(u, col("g"), col("s"),
      col("y")).orderBy("group"))
    for ((g, i) <- Seq("A", "B").zipWithIndex) {
      val pooled = Stats.averagePrecision(u.where(col("g") === g),
        col("s"), col("y")).head()
      assert(got(i).getLong(1) == pooled.getLong(0) &&
        got(i).getLong(2) == pooled.getLong(1) &&
        got(i).getDouble(3) == pooled.getDouble(2))
    }
  }

  test("mccSweep: hand confusion matrices; degenerate cut (zero " +
      "marginal) is NULL") {
    import graft.ext.Stats
    val u = Seq((1L, false), (2L, true), (2L, false), (3L, true))
      .toDF("s", "y")
    val got = rows(Stats.mccSweep(u, col("s"), col("y"))
      .orderBy(col("threshold").desc))
      .map(r => (r.getLong(0),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    // cut 3: (tp,fp,fn,tn)=(1,0,1,2) -> 2/sqrt(12); cut 2: (2,1,0,1)
    // -> 2/sqrt(12); cut 1: (2,2,0,0) -> tn+fn=0, NULL
    val e = 2.0 / math.sqrt(12.0)
    assert(got.map(_._1) == Seq(3L, 2L, 1L))
    assert(math.abs(got(0)._2.get - e) < 1e-15 &&
      math.abs(got(1)._2.get - e) < 1e-15 && got(2)._2.isEmpty)
  }

  test("fleissKappa: hand case -1/3, unanimous units 1, constant " +
      "category NULL; unequal rater counts and n=1 trip loudly") {
    import graft.ext.Stats
    def fk(rows: Seq[(Long, String)]) =
      Stats.fleissKappa(rows.toDF("u", "v"), col("u"), col("v")).head()
    // unit 1 unanimous, unit 2 split: S2=6, T=4, E2=10 -> -1/3
    val r = fk(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "B")))
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 0.625)
    assert(math.abs(r.getDouble(4) - (-1.0 / 3.0)) < 1e-15)
    // both units unanimous in DIFFERENT categories: kappa = 1
    assert(fk(Seq((1L, "A"), (1L, "A"), (2L, "B"), (2L, "B")))
      .getDouble(4) == 1.0)
    // every rating one category: chance explains everything -> NULL
    assert(fk(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "A")))
      .isNullAt(4))
    intercept[IllegalArgumentException](
      fk(Seq((1L, "A"), (1L, "A"), (2L, "A"))))
    intercept[IllegalArgumentException](
      fk(Seq((1L, "A"), (2L, "B"))))
    // empty input names the TRUE cause, not "counts differ ()"
    val eEmpty = intercept[IllegalArgumentException](
      fk(Seq.empty[(Long, String)]))
    assert(eEmpty.getMessage.contains("no ratings"))
  }

  test("weightedKappa: perfect agreement 1, two-category reversal -1, " +
      "quadratic punishes far cells harder than linear, binary " +
      "weighted == Cohen, constant raters NULL") {
    import graft.ext.Stats
    def wk(rows: Seq[(Long, Long)], quad: Boolean = true) = {
      val r = Stats.weightedKappa(rows.toDF("a", "b"), col("a"),
        col("b"), quadratic = quad).head()
      if (r.isNullAt(1)) None else Some(r.getDouble(1))
    }
    assert(wk(Seq((0L, 0L), (1L, 1L))).contains(1.0))
    assert(wk(Seq((0L, 1L), (1L, 0L))).contains(-1.0))
    // a 3-category case where the far-off cell dominates: quadratic
    // kappa must be strictly below linear
    val tri = Seq((0L, 2L), (0L, 0L), (1L, 1L), (2L, 2L))
    assert(wk(tri, quad = true).get < wk(tri, quad = false).get)
    // on BINARY raters any weighting reduces to Cohen's kappa
    val bin = Seq((0L, 0L), (0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L),
      (0L, 0L), (1L, 1L), (1L, 0L))
    val cohen = Stats.cohenKappa(bin.toDF("a", "b"), col("a"), col("b"))
      .head().getDouble(4)
    assert(math.abs(wk(bin).get - cohen) < 1e-15)
    assert(wk(Seq((1L, 1L), (1L, 1L))).isEmpty)
    // the ordinal contract is LOUD: a non-integral rater value raises
    // instead of silently truncating
    def msgs(t: Throwable): String =
      if (t == null) "" else (t.getMessage + "\n" + msgs(t.getCause))
    val frac = Seq((1.9, 2L), (2.0, 2L)).toDF("a", "b")
    val e = intercept[Exception](
      Stats.weightedKappa(frac, col("a"), col("b")).collect())
    assert(msgs(e).contains("not an integral bucket"))
  }

  test("gainsCurve: exact hand depths/gains/lifts; full depth has " +
      "lift exactly 1") {
    import graft.ext.Stats
    val u = Seq((1L, false), (2L, true), (2L, false), (3L, true))
      .toDF("s", "y")
    val got = rows(Stats.gainsCurve(u, col("s"), col("y"))
      .orderBy(col("threshold").desc))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4),
        r.getDouble(5)))
    assert(got == Seq(
      (3L, 250000L, 0.5, 2.0),
      (2L, 750000L, 1.0, 4.0 / 3.0),
      (1L, 1000000L, 1.0, 1.0)))
  }

  test("krippendorffAlpha: hand cases — perfect 1, half-split 0, " +
      "single-rating units excluded, varying rater counts accepted " +
      "(the Fleiss gap), constant category NULL") {
    import graft.ext.Stats
    def ka(rows: Seq[(Long, String)]) =
      Stats.krippendorffAlpha(rows.toDF("u", "v"), col("u"), col("v"))
        .head()
    val perfect = ka(Seq((1L, "A"), (1L, "A"), (2L, "B"), (2L, "B")))
    assert(perfect.getLong(0) == 2L && perfect.getLong(1) == 4L &&
      perfect.getDouble(2) == 1.0)
    // u1 unanimous, u2 split: Do-terms 0 + 2; marginals A=3, B=1
    // -> alpha = 1 - 2*3/(16-10) = 0
    assert(ka(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "B")))
      .getDouble(2) == 0.0)
    // a third unit with ONE rating is unpairable: excluded entirely
    val withSingle = ka(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "B"),
      (3L, "C")))
    assert(withSingle.getLong(0) == 2L && withSingle.getLong(1) == 4L &&
      withSingle.getDouble(2) == 0.0)
    // VARYING rater counts (3 and 2) are fine — exactly what
    // fleissKappa rejects loudly
    val varying = Seq((1L, "A"), (1L, "A"), (1L, "A"), (2L, "A"),
      (2L, "B"))
    intercept[IllegalArgumentException](
      Stats.fleissKappa(varying.toDF("u", "v"), col("u"), col("v"))
        .head())
    // terms 0 + 2, n=5, marginals A=4 B=1, E2=17 -> 1 - 2*4/8 = 0
    assert(ka(varying).getDouble(2) == 0.0)
    assert(ka(Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "A")))
      .isNullAt(2))
    // NOTHING pairable: counts are proper zeros (not NULL), alpha NULL
    val unpairable = ka(Seq((1L, "A"), (2L, "B"), (3L, "C")))
    assert(unpairable.getLong(0) == 0L && unpairable.getLong(1) == 0L &&
      unpairable.isNullAt(2))
  }

  test("aucBootstrapCI: perfect separation pins every replicate at 1; " +
      "bounds are ordered and replicate count bounded; b range trips") {
    import graft.ext.Stats
    val u = (1 to 40).map(i =>
      (i.toLong, if (i <= 20) i + 100L else i.toLong, i <= 20))
      .toDF("id", "s", "y")
    val r = Stats.aucBootstrapCI(u, col("id"), col("s"), col("y"),
      b = 50).head()
    assert(r.getLong(0) == 40L && r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0)
    assert(r.getLong(6) >= 40L && r.getLong(6) <= 50L)
    intercept[IllegalArgumentException](
      Stats.aucBootstrapCI(u, col("id"), col("s"), col("y"), b = 10))
    // single-class data: every replicate drops, but the documented
    // ONE row still comes back — NULL bounds, n_replicates 0
    val oneClass = Stats.aucBootstrapCI(u.where(col("y")), col("id"),
      col("s"), col("y"), b = 50).collect()
    assert(oneClass.length == 1)
    assert(oneClass.head.isNullAt(3) && oneClass.head.isNullAt(4) &&
      oneClass.head.isNullAt(5) && oneClass.head.getLong(6) == 0L)
  }

  test("thresholdSweepByGroup: each group's table equals the pooled " +
      "sweep run on that group alone; bestCutByGroup picks the " +
      "utility argmax with the low-threshold tie-break") {
    import graft.ext.Stats
    val u = Seq(("A", 1L, false), ("A", 2L, true), ("A", 2L, false),
      ("A", 3L, true), ("B", 1L, true), ("B", 2L, false))
      .toDF("g", "s", "y")
    for (g <- Seq("A", "B")) {
      val slice = u.where(col("g") === g)
      assert(rows(Stats.thresholdSweepByGroup(u, col("g"), col("s"),
          col("y")).where(col("group") === g)
          .drop("group").orderBy("threshold")).map(_.toString) ==
        rows(Stats.thresholdSweep(slice, col("s"), col("y"))
          .orderBy("threshold")).map(_.toString))
    }
    // group A (the x239 hand grid): utilities at cuts 3/2/1 are
    // 3/9/8 -> cut 2 wins; group B: cut 2 has U=-2-0=... compute:
    // cut2: tp=0,fp=1,fn=1 -> -3; cut1: tp=1,fp=1,fn=0 -> 4 -> cut 1
    val best = rows(Stats.bestCutByGroup(u, col("g"), col("s"),
        col("y"), wTp = 5L, wFp = 1L, wFn = 2L).orderBy("group"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(6)))
    assert(best == Seq(("A", 2L, 9L), ("B", 1L, 4L)))
    // tie-break: two cuts with equal utility keep the LOWER threshold
    // (wTp=1, wFp=1, wFn=0: cut2 U=2-1=1, cut1 U=2-2=0; with wFn=1:
    // cut3 U=1-0-1=0, cut2 U=2-1-0=1, cut1 U=2-2-0=0) — construct an
    // explicit tie instead: weights 0/0/0 make every cut U=0 -> the
    // lowest threshold wins per group
    val tied = rows(Stats.bestCutByGroup(u, col("g"), col("s"),
        col("y"), wTp = 0L, wFp = 0L, wFn = 0L).orderBy("group"))
      .map(r => (r.getString(0), r.getLong(1)))
    assert(tied == Seq(("A", 1L), ("B", 1L)))
    intercept[IllegalArgumentException](
      Stats.bestCutByGroup(u, col("g"), col("s"), col("y"),
        wTp = -1L, wFp = 0L, wFn = 0L))
  }

  test("deLongTest: hand case z = sqrt(0.5); AUCs equal rocAuc on " +
      "the same data; antisymmetric in the scores; identical scores " +
      "have NULL z") {
    import graft.ext.Stats
    // m = n = 2. A: V10 = (1, 0.5) -> AUC_A = 0.75, S10 = S01 = 0.125
    // B: V10 = (0, 0.5) -> AUC_B = 0.25; covs both -0.125
    // varDiff = 0.5/2 + 0.5/2 = 0.5; z = 0.5/sqrt(0.5)
    val u = Seq((4L, 1L, true), (2L, 3L, true), (3L, 2L, false),
      (1L, 4L, false)).toDF("a", "b", "y")
    val r = Stats.deLongTest(u, col("a"), col("b"), col("y")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.75 && r.getDouble(3) == 0.25)
    assert(math.abs(r.getDouble(4) - 0.5 / math.sqrt(0.5)) < 1e-15)
    // AUCs agree with the U-identity operator on the same columns
    assert(r.getDouble(2) ==
      Stats.rocAuc(u, col("a"), col("y")).head().getDouble(2))
    assert(r.getDouble(3) ==
      Stats.rocAuc(u, col("b"), col("y")).head().getDouble(2))
    // antisymmetry
    val rev = Stats.deLongTest(u, col("b"), col("a"), col("y")).head()
    assert(math.abs(rev.getDouble(4) + r.getDouble(4)) < 1e-15)
    // identical scores: varDiff = 0 -> nothing to test
    assert(Stats.deLongTest(u, col("a"), col("a"), col("y")).head()
      .isNullAt(4))
    // NULL scores raise loudly (the placement join would otherwise
    // silently drop them and desynchronize auc_a from rocAuc)
    def msgs(t: Throwable): String =
      if (t == null) "" else (t.getMessage + "\n" + msgs(t.getCause))
    val withNull = Seq((Some(1L), 2L, true), (None, 3L, false))
      .toDF("a", "b", "y")
    val e = intercept[Exception](
      Stats.deLongTest(withNull, col("a"), col("b"), col("y"))
        .collect())
    assert(msgs(e).contains("NULL scoreA"))
  }

  test("apBootstrapCI: perfect ranking pins every replicate AP at 1; " +
      "b range trips") {
    import graft.ext.Stats
    val u = (1 to 40).map(i =>
      (i.toLong, if (i <= 20) i + 100L else i.toLong, i <= 20))
      .toDF("id", "s", "y")
    val r = Stats.apBootstrapCI(u, col("id"), col("s"), col("y"),
      b = 50).head()
    assert(r.getLong(0) == 40L && r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0)
    assert(r.getLong(6) >= 40L && r.getLong(6) <= 50L)
    intercept[IllegalArgumentException](
      Stats.apBootstrapCI(u, col("id"), col("s"), col("y"), b = 39))
  }

  test("classifier-eval score-grid guards: an unquantized score trips " +
      "maxGridValues loudly on rocAuc, thresholdSweep and " +
      "rocAucByGroup; an out-of-range ppm raises in calibrationBins") {
    import graft.ext.Stats
    // 20 distinct raw doubles — the exact shape the discrete-score
    // contract forbids (grid = row cardinality)
    val raw = (1 to 20).map(i => (i * 0.137, i % 2 == 0)).toDF("s", "y")
    intercept[IllegalArgumentException](
      Stats.rocAuc(raw, col("s"), col("y"), maxGridValues = 10L))
    intercept[IllegalArgumentException](
      Stats.thresholdSweep(raw, col("s"), col("y"), maxGridValues = 10L))
    val rawG = raw.withColumn("g", col("y").cast("string"))
    intercept[IllegalArgumentException](
      Stats.rocAucByGroup(rawG, col("g"), col("s"), col("y"),
        maxGridValues = 10L))
    // quantizing the same data passes the same bound
    val q = raw.select((col("s") * 2).cast("long").as("s"), col("y"))
    val auc = Stats.rocAuc(q, col("s"), col("y"), maxGridValues = 10L)
      .head().getDouble(2)
    assert(auc >= 0.0 && auc <= 1.0)
    // calibration range contract: negative ppm raises at execution
    val neg = Seq((-5L, true), (100L, false)).toDF("p", "y")
    val e = intercept[Exception](
      Stats.calibrationBins(neg, col("p"), col("y")).collect())
    def msgs(t: Throwable): String =
      if (t == null) "" else (t.getMessage + "\n" + msgs(t.getCause))
    assert(msgs(e).contains("out of [0, 1e6]"))
    val over = Seq((1000001L, true), (100L, false)).toDF("p", "y")
    val e2 = intercept[Exception](
      Stats.calibrationBins(over, col("p"), col("y")).collect())
    assert(msgs(e2).contains("out of [0, 1e6]"))
  }

  test("bucketed variant index: the link plan prunes the variants " +
      "scan to the incoming prefix buckets and bloom-gates it; " +
      "matches are the hand-checked set; an empty batch links to " +
      "nothing") {
    import graft.ext.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_varidx")
    try {
      val indexed = Seq((1L, "spark"), (2L, "quantile"),
        (3L, "calendar"), (4L, "winnow")).toDF("id", "s")
      val idx = dir.resolve("idx").toString
      Dedup.saveVariantIndex(indexed, "id", "s", idx, nBuckets = 16)
      val incoming = Seq((10L, "spork"), (11L, "banana")).toDF("id", "s")
      val linked = Dedup.linkAgainstIndex(spark, idx, incoming, "id", "s")
      val plan = linked.queryExecution.executedPlan.toString
      // bloom gate at scan speed + partition prune to incoming buckets
      assert(plan.contains("might_contain"),
        "no bloom gate in plan:\n" + plan.take(800))
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
        "variants scan not partition-pruned:\n" + plan.take(800))
      // spork -> spark (dist 1, blocked via the shared delete "sprk");
      // banana is novel
      assert(rows(linked.orderBy("id", "ex_id"))
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) ==
        Seq((10L, 1L, 1)))
      // empty incoming: the bloom build is skipped, nothing links
      val none = Dedup.linkAgainstIndex(spark, idx,
        incoming.where(col("id") < 0), "id", "s")
      assert(none.count() == 0)
      // an EMPTY vocabulary must still round-trip (the dynamic
      // partition writer emits no schema file for zero rows — the
      // empty frame is written unpartitioned instead)
      val emptyIdx = dir.resolve("empty").toString
      Dedup.saveVariantIndex(indexed.where(col("id") < 0), "id", "s",
        emptyIdx)
      assert(Dedup.linkAgainstIndex(spark, emptyIdx, incoming, "id",
        "s").count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("linkAgainstIndex over an empty index: every job the link " +
      "starts has ended when its count returns") {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_varidx0")
    val sc = spark.sparkContext
    val group = "graft-link-empty-index"
    // a job's start event is posted before the action that submitted it
    // can return, and the end event of every job the action waits for
    // is posted before the action sees its result; a job still missing
    // its end once the bus is drained outlived the action
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    try {
      val idx = dir.resolve("empty").toString
      Dedup.saveVariantIndex(Seq((1L, "spark")).toDF("id", "s")
        .where(col("id") < 0), "id", "s", idx)
      val incoming = Seq((10L, "spork"), (11L, "banana")).toDF("id", "s")
      sc.addSparkListener(l)
      sc.setJobGroup(group, "empty-index link")
      val n =
        try Dedup.linkAgainstIndex(spark, idx, incoming, "id", "s").count()
        finally {
          sc.clearJobGroup()
          org.apache.spark.graft.TestListenerBus.drain(sc)
          sc.removeSparkListener(l)
        }
      assert(n == 0)
      assert(!started.isEmpty)
      val open = started.asScala.toSet -- ended.asScala
      assert(open.isEmpty, s"jobs still running after count(): $open")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("pair-graph persistence: save/load round-trips the winnow " +
      "graph bit-for-bit; a foreign directory fails loudly") {
    import graft.ext.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_pg")
    try {
      val g = Dedup.winnowPairs(docs, "doc_id", "text", k = 3, w = 4,
        minShared = 2L, maxDf = 50L)
      val path = dir.resolve("graph").toString
      Dedup.savePairGraph(g, path)
      val back = Dedup.loadPairGraph(spark, path)
      assert(rows(back.orderBy("id_a", "id_b")).map(_.toString) ==
        rows(g.orderBy("id_a", "id_b")).map(_.toString))
      val foreign = dir.resolve("foreign").toString
      Seq((1L, 2L)).toDF("x", "y").write.parquet(foreign)
      intercept[IllegalArgumentException](
        Dedup.loadPairGraph(spark, foreign))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }


  test("brierScore: perfect forecasts score 0 with skill 1; constant " +
      "outcome has NULL skill") {
    import graft.ext.Stats
    val perfect = Seq((1000000L, true), (0L, false)).toDF("p", "y")
    val r = Stats.brierScore(perfect, col("p"), col("y")).head()
    assert(r.getLong(0) == 2L && r.getDouble(1) == 0.0 &&
      r.getDouble(2) == 0.25 && r.getDouble(3) == 1.0)
    // always-base-rate forecast: brier = ref, skill = 0
    val base = Seq((500000L, true), (500000L, false)).toDF("p", "y")
    val rb = Stats.brierScore(base, col("p"), col("y")).head()
    assert(rb.getDouble(1) == 0.25 && rb.getDouble(3) == 0.0)
    val const = Seq((200000L, true), (900000L, true)).toDF("p", "y")
    assert(Stats.brierScore(const, col("p"), col("y")).head().isNullAt(3))
  }

  test("kendallTauB: perfect concordance 1, reversal -1, hand tie " +
      "case 0.5, constant axis NULL; grid guard trips loudly") {
    import graft.ext.Stats
    def tau(rows: Seq[(Long, Long)]): Option[Double] = {
      val r = Stats.kendallTauB(rows.toDF("x", "y"), col("x"), col("y"))
        .head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    assert(tau(Seq((1L, 1L), (2L, 2L), (3L, 3L))).contains(1.0))
    assert(tau(Seq((1L, 3L), (2L, 2L), (3L, 1L))).contains(-1.0))
    // hand case with ties on both axes: S=1, n(n-1)=6, tx2=ty2=2 ->
    // tau = 2/sqrt(16) = 0.5
    assert(tau(Seq((1L, 1L), (1L, 2L), (2L, 2L))).contains(0.5))
    assert(tau(Seq((1L, 1L), (1L, 2L), (1L, 3L))).isEmpty)
    intercept[IllegalArgumentException](
      Stats.kendallTauB(Seq((1L, 1L), (2L, 2L)).toDF("x", "y"),
        col("x"), col("y"), maxGridCells = 1L))
  }

}
