package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.expressions.VectorExpressions
import graft.operators.Upsert

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Designed shuffle-minimal:
  *
  *  - per-row signature work happens at scan speed in custom codegen
  *    expressions (MinHashSignature / SimHash64) over PRE-HASHED shingles
  *    (strings → xxhash64 longs once, then everything downstream moves
  *    8-byte keys instead of shingle strings);
  *  - candidate generation shuffles ONLY (id, band, bucket) rows — the
  *    document payloads are re-joined by id afterwards for verification,
  *    so the O(candidates) stage never carries arrays through a shuffle.
  */
object Dedup {

  /** Exact dedup on a content hash; keeps the smallest `keyCol` per group.
    * One PK-shuffle, map-side partial agg. */
  def exact(df: DataFrame, text: Column, keyCol: Column): DataFrame =
    df.groupBy(md5(text.cast("binary")).as("content_hash"))
      .agg(min(keyCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct xxhash64 of each shingle — the compact document signature
    * input shared by MinHash and exact-Jaccard verification. */
  def hashedShingles(shingles: Column): Column =
    array_distinct(transform(shingles, s => xxhash64(s)))

  /** Exact Jaccard over two hashed-shingle sets. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** MinHash + LSH banding: docs sharing any band bucket become candidate
    * pairs; candidates are verified with exact (hashed-)shingle Jaccard.
    *
    * @param docs (id, shingles: array<string>) — shingles need not be
    *             distinct; hashing dedups them.
    */
  /** (id, band, bucket) LSH band keys — one row per document per band.
    * The shared candidate-generation core of [[minhashLsh]], public so a
    * streaming dedup can key state by the same buckets. Stateless
    * (per-row), so it applies unchanged to a streaming DataFrame. */
  def bandKeys(docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "trailing hash functions would be silently ignored")
    val rowsPerBand = numHashes / bands
    docs
      .select(col(idCol).as("id"), hashedShingles(col(shinglesCol)).as("hs"))
      .where(size(col("hs")) > 0)
      .withColumn("sig", VectorExpressions.minhashSignature(col("hs"), numHashes))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  def minhashLsh(docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.6)
      : DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), hashedShingles(col(shinglesCol)).as("hs"))
      .where(size(col("hs")) > 0)
    val banded = bandKeys(docs, idCol, shinglesCol, numHashes, bands)
    pairsFromBandsAndShingles(banded, base, threshold)
  }

  /** The candidate + exact-verification tail shared by [[minhashLsh]]
    * and the persisted-index serving path [[lshPairsFromIndex]]:
    * `banded` = (id, band, bucket), `base` = (id, hs). */
  private def pairsFromBandsAndShingles(banded: DataFrame,
      base: DataFrame, threshold: Double): DataFrame = {
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verification join: re-attach hashed shingles by id (small pair set)
    val sa = base.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val sb = base.select(col("id").as("id_b"), col("hs").as("hs_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", jaccard(col("hs_a"), col("hs_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Persist the LSH DEDUP INDEX — the dedup side of the
    * index-lifecycle family (x162/x163 persist quantizers, x126 the
    * postings index; this persists near-dup state): two parquet
    * tables, `bands/` = (id, band, bucket) LSH keys and `shingles/` =
    * (id, hs) hashed shingle sets for exact verification. An ingest
    * job writes it once; any later session serves pair queries or
    * admission from the files without re-shingling the corpus. */
  def saveLshIndex(docs: DataFrame, idCol: String, shinglesCol: String,
      dir: String, numHashes: Int = 32, bands: Int = 8): Unit = {
    bandKeys(docs, idCol, shinglesCol, numHashes, bands)
      .write.mode("overwrite").parquet(s"$dir/bands")
    docs.select(col(idCol).as("id"),
        hashedShingles(col(shinglesCol)).as("hs"))
      .where(size(col("hs")) > 0)
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** Near-dup pairs served from a [[saveLshIndex]] directory —
    * bit-identical to [[minhashLsh]] over the indexed corpus (the
    * shared tail IS the equality; x179 pins it by sharing x03's
    * oracle). Nothing is re-shingled: the banded keys and the hashed
    * sets come straight off disk. */
  def lshPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double = 0.6): DataFrame =
    pairsFromBandsAndShingles(
      spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/shingles"), threshold)

  /** Incremental-ingestion dedup: drop incoming documents that are
    * near-duplicates of the EXISTING corpus — the production admission
    * path, where the existing side's (band, bucket) keys are a
    * precomputed index and only the incoming batch is shingled and
    * signed. Candidates come from shared band buckets (incoming ×
    * existing only — incoming-internal dups are [[minhashLsh]]'s job),
    * and admission is decided by the same exact hashed-shingle Jaccard
    * verification, so `dedupAgainstCorpus(C, B)` drops exactly the B
    * docs that `minhashLsh(C ∪ B)` pairs with a C doc (asserted in
    * ExtSpec). Returns the surviving incoming rows. */
  def dedupAgainstCorpus(existing: DataFrame, incoming: DataFrame,
      idCol: String, shinglesCol: String, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.6): DataFrame =
    admitAgainst(
      bandKeys(existing, idCol, shinglesCol, numHashes, bands)
        .withColumnRenamed("id", "ex_id"),
      existing.select(col(idCol).as("ex_id"),
        hashedShingles(col(shinglesCol)).as("hs_ex")),
      incoming, idCol, shinglesCol, numHashes, bands, threshold)

  /** [[dedupAgainstCorpus]] with the EXISTING side served from a
    * [[saveLshIndex]] directory — the production admission path in
    * full: the corpus's band keys and shingle sets come off disk,
    * only the incoming batch is shingled and signed (row-identical to
    * admission against the live corpus — ExtSpec). */
  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, incoming: DataFrame, idCol: String,
      shinglesCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6): DataFrame =
    admitAgainst(
      spark.read.parquet(s"$indexDir/bands")
        .withColumnRenamed("id", "ex_id"),
      spark.read.parquet(s"$indexDir/shingles")
        .select(col("id").as("ex_id"), col("hs").as("hs_ex")),
      incoming, idCol, shinglesCol, numHashes, bands, threshold)

  /** [[dedupAgainstIndex]] against ALREADY-LOADED index frames — the
    * streaming serving path ([[graft.streaming.Streams.lshAdmitSink]]
    * loads once, admits every batch). `exBands` = (id, band, bucket),
    * `exHs` = (id, hs) as [[saveLshIndex]] wrote them. */
  def dedupAgainstLoadedIndex(exBands: DataFrame, exHs: DataFrame,
      incoming: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.6)
      : DataFrame =
    admitAgainst(exBands.withColumnRenamed("id", "ex_id"),
      exHs.select(col("id").as("ex_id"), col("hs").as("hs_ex")),
      incoming, idCol, shinglesCol, numHashes, bands, threshold)

  /** Shared admission tail: candidates from shared (band, bucket)
    * keys, exact hashed-shingle Jaccard verification, anti-join. */
  private def admitAgainst(exBands: DataFrame, exHs: DataFrame,
      incoming: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val inBands = bandKeys(incoming, idCol, shinglesCol, numHashes, bands)
    val candidates = inBands.join(exBands, Seq("band", "bucket"))
      .select(col("id"), col("ex_id")).dropDuplicates("id", "ex_id")
    val inHs = incoming.select(col(idCol).as("id"),
      hashedShingles(col(shinglesCol)).as("hs_in"))
    val dupIds = candidates.join(inHs, "id").join(exHs, "ex_id")
      .where(jaccard(col("hs_in"), col("hs_ex")) >= threshold)
      .select(col("id")).distinct()
    incoming.join(dupIds.withColumnRenamed("id", idCol), Seq(idCol),
      "left_anti")
  }

  /** 64-bit SimHash over a token/shingle array — one codegen'd loop over
    * pre-hashed tokens. */
  def simhash(tokensCol: Column): Column =
    VectorExpressions.simhash64(transform(tokensCol, t => xxhash64(t)))

  /** Near-dup pairs by SimHash: candidates share one of 4 exact 16-bit
    * bands; verified by full hamming distance. Ids+signature only through
    * the shuffle. */
  def simhashPairs(docs: DataFrame, idCol: String, tokensCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"),
      simhash(col(tokensCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    cand.withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over near-dup pairs → (id, cluster) where
    * cluster = min id reachable, in the ids' integral type (the wider of
    * the two columns'); a null endpoint adds one (null, null) row and
    * leaves the other endpoint a singleton, a self-loop is a singleton.
    * Non-integral ids fail before any job runs.
    *
    * One union-find pass ([[localRoots]]) gives every vertex the min id
    * of its component within each partition of the edge set, and one
    * groupBy(id) takes min(root) as its label while an Observation
    * counts the vertices whose partitions gave different roots. When
    * none did, the labels are final: a vertex shared by two local
    * components forces their roots equal, so a component carries one
    * root, and its minimum is the root of its own local component. A
    * graph whose components each sit in one partition (any one-
    * partition pair graph) costs 3 jobs: edge checkpoint, shuffle,
    * label checkpoint.
    *
    * Otherwise each label is still a member of its vertex's component
    * and the minimum keeps its own label, so a component's labels are
    * connected by its quotient edges (label(a), label(b)), self-loops
    * dropped (local contraction, Łącki et al., arXiv:1807.10727), and
    * their minimum is the component's. A second union-find over the
    * distinct quotient edges in one task finishes exactly, and every
    * label moves to its quotient root: two passes at most, whatever the
    * diameter. `maxIters` is not read; it stays so that callers written
    * against the round-based form still compile.
    *
    * Memory: a union-find holds the vertex ids it sees in a `LongMap`
    * (about 40 bytes each) and does not spill, like a hash aggregate
    * that cannot fall back to sorting: the first pass holds one
    * partition's vertices per task, the finish every quotient vertex
    * in one.
    *
    * Storage: the edge set is checkpointed once (the pair plan upstream
    * runs once) and each superseded checkpoint is freed once nothing
    * later reads it, so the call leaves exactly the returned labels
    * pinned. */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 10): DataFrame = {
    val types = pairs.select(col(idA), col(idB)).schema.map(_.dataType)
    require(types.forall(Seq(ByteType, ShortType, IntegerType, LongType).contains),
      s"Dedup.clusters needs integral ids; got $idA: ${types(0).simpleString}, " +
        s"$idB: ${types(1).simpleString}")
    val idType = types.maxBy(_.defaultSize)
    val edges = pairs.select(col(idA).cast(idType).as("a"),
      col(idB).cast(idType).as("b")).localCheckpoint(true)
    val obs = Observation()
    val labels = localRoots(edges).groupBy("id")
      .agg(min("root").as("cluster"), max("root").as("hi"))
      .observe(obs, count(when(col("cluster") =!= col("hi"), 1)).as("split"))
      .select(col("id").cast(idType), col("cluster").cast(idType))
      .localCheckpoint(true)
    if (obs.get("split") == 0L) { Memo.release(edges); return labels }
    val quotient = edges.join(labels.toDF("a", "la"), "a")
      .join(labels.toDF("b", "lb"), "b")
      .select(col("la").as("a"), col("lb").as("b")).where(col("a") =!= col("b"))
      .distinct()
    val out = labels
      .join(localRoots(quotient.coalesce(1)).toDF("cluster", "root"), Seq("cluster"), "left")
      .select(col("id"), coalesce(col("root").cast(idType), col("cluster")).as("cluster"))
      .localCheckpoint(true)
    Memo.release(edges)
    Memo.release(labels)
    out
  }

  /** Union-find over each partition of an (a, b) edge frame with
    * integral ids → (id, root): every vertex an edge touches with the
    * min id of its partition-local component, plus one (null, null) row
    * per partition with a null endpoint. */
  private def localRoots(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Option[Long], Option[Long])].mapPartitions(unionFind).toDF("id", "root")
  }

  /** Union by min keeps each root the minimum of its set; path halving
    * keeps finds short. */
  private def unionFind(edges: Iterator[(Option[Long], Option[Long])])
      : Iterator[(Option[Long], Option[Long])] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    @annotation.tailrec def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val g = parent(p); parent(v) = g; find(g) }
    }
    var nulls = false
    edges.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      case (a, b) => nulls = true; (a ++ b).foreach(find)
    }
    parent.keys.toArray.iterator.map(v => (Option(v), Option(find(v)))) ++
      Iterator.fill(if (nulls) 1 else 0)((None, None))
  }

  /** Connected components by POINTER DOUBLING, from identity labels:
    * each round combines the neighbor-min step with one shortcut hop
    * (l'(v) := min(l'(v), l'(l'(v)))). On a chain whose ids rise along
    * the path label reach doubles per round and a diameter-d component
    * converges in O(log d) rounds instead of d (Shiloach-Vishkin / the
    * MapReduce connected-components family, public technique); with
    * scattered ids the shortcut often points at a label that is itself
    * stuck, and a 500-hop chain needs hundreds of rounds, which
    * [[clusters]]' union-find passes never pay. Labels are node ids
    * throughout, so the shortcut is one self-join on (cluster = id).
    * Same output contract as [[clusters]] for integral, non-null ids
    * once converged; each round is one checkpoint whose observed
    * Σ(id − cluster) detects the fixpoint, each superseded round is
    * freed, and a warning (stderr — Bench's stdout must stay one JSON
    * line) fires if `maxIters` rounds end first. ScaleSpec asserts a
    * 24-chain converges within 6 rounds here. */
  def clustersDoubling(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .union(pairs.select(col(idB).as("a"), col(idA).as("b")))
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))
    // labels only ever decrease, so Σ(id − cluster) grows strictly
    // until the fixpoint; it is 0 for the identity labels
    var prevProgress = 0L
    var converged = false
    var i = 0
    while (i < maxIters && !converged) {
      val neighborMin = edges
        .join(labels, edges("b") === labels("id"))
        .groupBy(col("a").as("id2")).agg(min(col("cluster")).as("nmin"))
      val stepped = labels
        .join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")))
            .as("cluster"))
      val ptr = stepped.select(col("id").as("pid"),
        col("cluster").as("pcluster"))
      val obs = org.apache.spark.sql.Observation()
      val next = stepped.join(ptr, stepped("cluster") === ptr("pid"), "left")
        .select(stepped("id"),
          least(stepped("cluster"),
            coalesce(col("pcluster"), stepped("cluster"))).as("cluster"))
        .observe(obs,
          coalesce(sum(col("id") - col("cluster")), lit(0L)).as("p"))
        .localCheckpoint(true)
      // round 0's input is the identity labels, a plan over `edges`
      if (i > 0) Memo.release(labels)
      labels = next
      val p = obs.get("p").asInstanceOf[Long]
      converged = p == prevProgress
      prevProgress = p
      i += 1
    }
    if (!converged)
      System.err.println(
        s"[graft.Dedup] clustersDoubling() hit maxIters=$maxIters before " +
          "the fixpoint; the components it has not closed are " +
          "under-merged")
    // with no round (maxIters = 0) `labels` is the identity plan over `edges`
    if (maxIters > 0) Memo.release(edges)
    labels
  }

  /** End-to-end near-dedup of a corpus: MinHash+LSH pairs → connected
    * components → keep the smallest id per cluster. Returns the surviving
    * ids (singletons survive by definition). */
  def dedupCorpus(docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.6)
      : DataFrame = {
    val pairs = minhashLsh(docs, idCol, shinglesCol, numHashes, bands,
      threshold)
    val comp = clusters(pairs)
    val losers = comp.where(col("id") =!= col("cluster")).select(col("id"))
    docs.select(col(idCol).as("id")).distinct()
      .join(losers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /** Canonical-document selection: [[dedupCorpus]]'s clustering with a
    * QUALITY-AWARE survivor rule — per near-dup cluster keep the row
    * with the highest `score` (ties to the smallest id) instead of the
    * smallest id, which is what a production dedup actually wants: the
    * cleanest copy survives, not the accidentally-first one. Returns
    * the surviving rows with their `cluster` label (singletons are
    * their own cluster and always survive).
    *
    * Scale shape: LSH pairs + [[clusters]] as in [[dedupCorpus]]
    * (shuffles (id, label) pairs only), then [[bestPerCluster]]. */
  def canonicalSelect(docs: DataFrame, idCol: String, shinglesCol: String,
      score: Column, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6): DataFrame =
    bestPerCluster(docs, idCol, score,
      minhashLsh(docs, idCol, shinglesCol, numHashes, bands, threshold))

  /** The survivor rule of [[canonicalSelect]] and
    * [[Similarity.canonicalSelectEmbeddings]]: label each row of `docs`
    * with its near-dup cluster over `pairs` (a singleton is its own
    * cluster), then keep the highest-`score` row per cluster, ties to
    * the smallest id. One top-1 pick per cluster — WindowGroupLimit
    * truncates it map-side, and near-dup clusters are small by
    * construction. */
  private[ext] def bestPerCluster(docs: DataFrame, idCol: String,
      score: Column, pairs: DataFrame): DataFrame = {
    val comp = clusters(pairs).withColumnRenamed("id", idCol)
    val assigned = docs.join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    Upsert.firstPerKey(assigned, Seq(col("cluster")),
      Seq(score.desc, col(idCol).asc))
  }

  /** Duplicate-span fraction — the exact-substring duplication signal
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better", windowed form; the trimming statistic the
    * RefinedWeb/SlimPajama recipes gate on): the share of a document's
    * distinct k-token windows that also occur in at least one OTHER
    * document. Where pairwise Jaccard ([[jaccardPairs]]) asks "which
    * documents are near-copies", this asks the per-document question
    * "how much of THIS document is boilerplate the corpus already
    * has" — a doc can be 40% duplicated spans without any single
    * near-dup partner. Output: (id, n_windows, dup_fraction), null
    * fraction for documents too short to have a window.
    *
    * Scale shape: [[hashedShingles]] posting rows (already distinct
    * per doc, so the per-hash count IS the document frequency), one
    * map-side-combined df agg, one postings⋈df equi-join and one
    * per-doc agg — all linear in postings, no pairwise stage at all.
    * The fraction is one double division of exact longs at the
    * boundary. */
  def duplicateSpanFraction(docs: DataFrame, idCol: String,
      shinglesCol: String): DataFrame = {
    val posts = docs.select(col(idCol).as("id"),
      explode(hashedShingles(col(shinglesCol))).as("h"))
    val dfc = posts.groupBy("h").agg(count(lit(1)).as("docfreq"))
    val agg = posts.join(dfc, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("docfreq") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("id"), col("n_windows"),
        (col("n_dup").cast("double") / col("n_windows"))
          .as("dup_fraction"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        col("dup_fraction"))
  }

  /** Cross-corpus contamination audit — benchmark DEcontamination (the
    * GPT-3 appendix-C / PaLM eval-overlap discipline; public recipes):
    * for every corpus document, the share of its distinct k-token
    * windows that occur ANYWHERE in a benchmark/eval corpus. This is
    * [[duplicateSpanFraction]]'s question asked across two tables —
    * "how much of this training document is text the eval suite also
    * contains" — the signal a pipeline gates on so eval n-grams never
    * leak into training data. The output is the per-document fraction
    * rather than a boolean so callers pick the trimming policy (drop
    * at > 0, quarantine above a threshold, …).
    *
    * Scale shape: the benchmark side collapses to its DISTINCT hashed
    * spans. Eval suites are tiny next to a training corpus, so the
    * default BROADCASTS them — the corpus postings never shuffle: one
    * scan of each side and a map-side hash probe. For a benchmark too
    * large to broadcast, pass `broadcastBench = false` and the probe
    * degrades to a plain equi-join, linear in postings. Either way
    * there is no pairwise stage.
    * Output: (id, n_windows, contamination), null fraction for corpus
    * documents too short to have a window. */
  def contaminationFraction(corpus: DataFrame, bench: DataFrame,
      idCol: String, shinglesCol: String,
      broadcastBench: Boolean = true): DataFrame = {
    val posts = corpus.select(col(idCol).as("id"),
      explode(hashedShingles(col(shinglesCol))).as("h"))
    val benchSpans0 = bench
      .select(explode(hashedShingles(col(shinglesCol))).as("h"))
      .distinct().withColumn("hit", lit(1L))
    val benchSpans =
      if (broadcastBench) broadcast(benchSpans0) else benchSpans0
    val agg = posts.join(benchSpans, Seq("h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("id"), col("n_windows"),
        (col("n_hit").cast("double") / col("n_windows"))
          .as("contamination"))
    corpus.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        col("contamination"))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin, Bayardo
    * et al. WWW'07 / Xiao et al. WWW'08 — public algorithms): order every
    * document's hashed shingles by a single global total order (ascending
    * document frequency, ties by hash) and generate candidates only from
    * each document's first `|d| − ⌈t·|d|⌉ + 1` shingles. Any pair with
    * Jaccard ≥ t shares its globally-smallest common shingle inside BOTH
    * prefixes (if it were outside x's prefix, all ≥ ⌈t·|x|⌉ common
    * shingles would fit in the ⌈t·|x|⌉ − 1 suffix slots), so recall is 1
    * BY CONSTRUCTION — unlike the df-cap heuristic, nothing is traded.
    * Rare-first ordering pushes stopword-grade shingles out of every
    * prefix, so the Σ df² candidate bill is paid only on rare shingles.
    * Costs one df-count agg, one postings⋈df join and one per-document
    * rank window (all linear in postings) against a quadratic-stage
    * saving; verification is unchanged (exact, full sets). */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String,
      shinglesCol: String, threshold: Double): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), hashedShingles(col(shinglesCol)).as("hs"))
    val tok = base.select(col("id"), size(col("hs")).as("s"),
      explode(col("hs")).as("h"))
    val dfc = tok.groupBy("h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
    // ⌈t·s⌉ in EXACT decimal arithmetic, with t rounded DOWN at scale
    // 12: the binary double for e.g. 0.55 sits a hair ABOVE its decimal
    // value, so double ceil(t*s) can round past the true integer bound,
    // shortening the prefix by one and silently dropping true pairs.
    // Rounding t down errs only toward a LONGER prefix (more
    // candidates, all still exact-verified) — recall stays 1 by
    // construction for every (threshold, set-size) combination.
    val tDec = new java.math.BigDecimal(threshold)
      .setScale(12, java.math.RoundingMode.FLOOR)
    val pruned = tok.join(dfc, "h")
      .withColumn("r", row_number().over(w))
      .where(col("r") <= col("s") - ceil(lit(tDec) * col("s")) + 1)
    // PPJoin's POSITIONAL filter (Xiao WWW'08 §3.2) on top of the
    // prefix filter: a match at ranks (r_a, r_b) bounds the overlap at
    // 1 + min(s_a − r_a, s_b − r_b) — when this is the pair's
    // globally-smallest common shingle, every other common shingle
    // sits strictly after it in BOTH suffixes. J ≥ t needs
    // O·(1+t) ≥ t·(s_a+s_b), so rows whose bound can't reach that drop
    // BEFORE the pair-dedup and verify join; the same algebra gives the
    // size filter t·max(s) ≤ min(s), applied first. Recall stays 1: a
    // true pair's first-common-shingle row always passes (its bound ≥
    // the real overlap), and t rounded down only widens the keep side
    // (spec-asserted equal to exact [[jaccardPairs]]). Across six paired
    // same-JVM A/B points against the plain ids-only prefix join it won
    // five (1.4-1.9×) — the pairs killed before the dedup and verify
    // stages repay the 3×-wider df²-stage rows (ARCHITECTURE.md).
    val prefix = pruned.select(col("id"), col("h"), col("r"), col("s"))
    val oneT = java.math.BigDecimal.ONE.add(tDec)
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id")
          && lit(tDec) * greatest(col("a.s"), col("b.s"))
            <= least(col("a.s"), col("b.s"))
          && lit(tDec) * (col("a.s") + col("b.s"))
            <= lit(oneT) * (lit(1) +
              least(col("a.s") - col("a.r"), col("b.s") - col("b.r"))))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .dropDuplicates("d1", "d2")
    verifyPairs(base, candidates, threshold)
  }

  /** Exact-Jaccard verification of an ids-only candidate set against the
    * full hashed-shingle sets — shared by the df-cap and prefix-filter
    * candidate generators. */
  private def verifyPairs(base: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val sa = base.select(col("id").as("d1"), col("hs").as("hs_a"))
    val sb = base.select(col("id").as("d2"), col("hs").as("hs_b"))
    candidates.join(sa, "d1").join(sb, "d2")
      .withColumn("jaccard", jaccard(col("hs_a"), col("hs_b")))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Exact n-gram Jaccard similarity pairs via a posting-list join on
    * HASHED shingles (8-byte join keys, not strings) — the
    * oracle-checkable exact counterpart of [[minhashLsh]].
    *
    * The posting-list self-join does Σ df² work per distinct shingle, so
    * one stopword-grade shingle shared by d documents costs d² candidate
    * rows while contributing almost no discriminating power. `maxDocFreq`
    * caps that: shingles occurring in more than `maxDocFreq` documents are
    * dropped from CANDIDATE GENERATION only — every candidate pair is then
    * verified with exact Jaccard over the FULL hashed-shingle sets, so
    * reported similarities are exact regardless of the cap. The only
    * approximation is recall: a qualifying pair is missed iff EVERY
    * shingle it shares is above the cap, which at Jaccard ≥ threshold
    * means two documents built almost entirely from corpus-wide boilerplate
    * (such pairs are exactly what the cap is meant to not pay for).
    *
    * Shuffles: df count + semi-join on the shingle hash, capped self-join
    * on (hash) producing id pairs only, then the pair-key dedup; full
    * shingle arrays travel only in the final per-candidate verify join,
    * never through the df²-sized stage.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, shinglesCol: String,
      threshold: Double, maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), hashedShingles(col(shinglesCol)).as("hs"))
    val tok = base.select(col("id"), explode(col("hs")).as("h"))
    val capped =
      if (maxDocFreq == Long.MaxValue) tok
      else {
        // anti-join against the HOT set, not semi-join against the rare
        // set: |hot| ≤ total_postings / maxDocFreq and is tiny in
        // practice, so AQE turns this into a broadcast anti-join — the
        // whole cap costs one map-side-combined df count + a scan
        val hot = tok.groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq).select("h")
        tok.join(hot, Seq("h"), "left_anti")
      }
    val candidates = capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .dropDuplicates("d1", "d2")
    verifyPairs(base, candidates, threshold)
  }

  /** ASYMMETRIC containment pairs — the near-dup signal Jaccard
    * structurally misses: a short document quoted wholesale inside a
    * long one has tiny Jaccard (|A∩B|/|A∪B| is diluted by the long
    * side) but containment |A∩B|/|A| ≈ 1. The quote-inclusion /
    * superset-page case every curation pipeline meets (Broder 1997
    * introduced containment alongside resemblance for exactly this).
    *
    * Emits each unordered pair once (id_a < id_b) with BOTH
    * directional containments; the pair qualifies when either
    * direction reaches `threshold`. Candidate generation and the
    * maxDocFreq boilerplate cap are [[jaccardPairs]]'s posting-join
    * machinery (same recall caveat: a qualifying pair is missed only
    * if every shared shingle is above the cap); verification is exact
    * over the full hashed-shingle sets, each containment one double
    * division of exact longs.
    * Output: (id_a, id_b, shared, n_a, n_b, c_a_in_b, c_b_in_a). */
  def containmentPairs(docs: DataFrame, idCol: String, shinglesCol: String,
      threshold: Double, maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), hashedShingles(col(shinglesCol)).as("hs"))
    val tok = base.select(col("id"), size(col("hs")).as("s"),
      explode(col("hs")).as("h"))
    val capped =
      if (maxDocFreq == Long.MaxValue) tok
      else {
        val hot = tok.groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq).select("h")
        tok.join(hot, Seq("h"), "left_anti")
      }
    // r15 candidate generation: SMALLER-SIDE prefix filter. The pair
    // qualifies iff overlap O ≥ t·min(s_a, s_b), so with shingles in
    // one global total order (ascending df, ties by hash — rare-first,
    // the jaccardPairsPrefix discipline) the SMALLER document's first
    // s − ⌈t·s⌉ + 1 shingles must contain a common one: if every
    // common shingle sat in its ⌈t·s⌉ − 1 suffix slots, the overlap
    // could not reach t·s. Recall is therefore 1 BY CONSTRUCTION —
    // the larger side cannot prune (containment permits any size
    // ratio), so candidates are prefix(smaller) ⋈ FULL postings,
    // Σ_h dfPrefix(h)·df(h) work instead of the plain join's Σ df².
    // t is rounded DOWN at scale 12 so the prefix only ever LENGTHENS
    // (the jaccardPairsPrefix decimal-ceil lesson); verification below
    // is unchanged (exact, full sets), so the cap's documented recall
    // caveat is the only approximation, exactly as before.
    val dfc = capped.groupBy("h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
    val tDec = new java.math.BigDecimal(threshold)
      .setScale(12, java.math.RoundingMode.FLOOR)
    val prefix = capped.join(dfc, "h")
      .withColumn("r", row_number().over(w))
      .where(col("r") <= col("s") - ceil(lit(tDec) * col("s")) + 1)
      .select(col("id"), col("s"), col("h"))
    val candidates = prefix.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") &&
          (col("a.s") < col("b.s") ||
            (col("a.s") === col("b.s") && col("a.id") < col("b.id"))) &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sa = base.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val sb = base.select(col("id").as("id_b"), col("hs").as("hs_b"))
    candidates.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("shared"),
        size(col("hs_a")).cast("long").as("n_a"),
        size(col("hs_b")).cast("long").as("n_b"))
      .withColumn("c_a_in_b",
        col("shared").cast("double") / col("n_a").cast("double"))
      .withColumn("c_b_in_a",
        col("shared").cast("double") / col("n_b").cast("double"))
      .where(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
  }

  /** Cross-SOURCE span-overlap matrix — the corpus-level contamination
    * view: for every ordered source pair, how much of A's distinct
    * span set also occurs in B. Where x89 audits documents against a
    * benchmark, this audits sources against EACH OTHER — mirror-site
    * detection, feed provenance ("is src7 just src3 re-crawled"),
    * and the don't-double-count input to mixture weighting.
    *
    * Scale shape: distinct (source, span-hash) postings — |sources|·
    * |spans| bounded, 8-byte keys; the self-join fan-out per span is
    * bounded by |sources|² (a CONSTANT, unlike document-pair joins);
    * output is the |sources|² matrix. Directional on purpose —
    * containment is asymmetric (a subset source saturates its own
    * row, not its column).
    * Output: (src_a, src_b, shared, n_a, overlap), pairs with
    * shared ≥ 1. */
  def sourceSpanOverlap(docs: DataFrame, groupCol: String,
      shinglesCol: String): DataFrame = {
    val sp = docs.select(col(groupCol).as("g"),
        explode(hashedShingles(col(shinglesCol))).as("h"))
      .distinct()
    val sizes = sp.groupBy("g").agg(count(lit(1)).as("n"))
    sp.as("a").join(sp.as("b"),
        col("a.h") === col("b.h") && col("a.g") =!= col("b.g"))
      .groupBy(col("a.g").as("src_a"), col("b.g").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("g").as("src_a"), col("n").as("n_a")),
        Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"),
        (col("shared").cast("double") / col("n_a").cast("double"))
          .as("overlap"))
  }

  /** Priority corpus MERGE — snapshot reconciliation: union several
    * corpora (e.g. successive crawl snapshots, or a curated set plus
    * a bulk set) and keep each distinct CONTENT exactly once, from
    * the highest-priority corpus that contains it (list order =
    * priority; ties within a corpus to the smallest id). The
    * incremental-ingestion question "which rows of the new snapshot
    * are actually new" answered corpus-wide in one pass, with every
    * input row kept and FLAGGED (the audit form — filter kept for the
    * merged corpus).
    *
    * One content-hash combiner agg (min-struct winner, the x82
    * discipline — never a window over the hot key) + one hash-keyed
    * join back. Output: (origin, id, kept, n_copies). */
  def mergeCorpora(corpora: Seq[(String, DataFrame)], idCol: String,
      textCol: String): DataFrame = {
    require(corpora.nonEmpty &&
      corpora.map(_._1).distinct == corpora.map(_._1),
      "corpus names must be non-empty and distinct")
    val tagged = corpora.zipWithIndex.map { case ((name, df), i) =>
      df.select(lit(name).as("origin"), lit(i.toLong).as("__prio"),
        col(idCol).as("id"), col(textCol).as("__text"))
    }.reduce(_ unionByName _)
    val withHash = tagged
      .withColumn("__h", md5(col("__text").cast("binary")))
    val winner = withHash.groupBy("__h")
      .agg(min(struct(col("__prio"), col("id"))).as("w"),
        count(lit(1)).as("n_copies"))
    withHash.join(winner, Seq("__h"))
      .select(col("origin"), col("id"),
        (col("__prio") === col("w.__prio") && col("id") === col("w.id"))
          .as("kept"),
        col("n_copies"))
  }

  /** C4-style passage-level exact dedup (Raffel et al. 2020 removed
    * repeated three-sentence spans; here the unit is a non-overlapping
    * `chunkSize`-token window from [[TextAnalysis.chunkTokens]]): the
    * FIRST occurrence of each distinct passage — smallest (id,
    * chunk_id) — is kept, every later copy is marked dropped.
    *
    * Scale shape: the first-occurrence winner is a map-side-combinable
    * min(struct(id, chunk_id)) aggregate keyed by the passage text —
    * NOT a window — so a passage repeated millions of times (site
    * boilerplate) costs one combiner per partition, never a
    * single-reducer sort of the hot key; the join back is
    * passage-keyed with the same combiner-bounded skew.
    * Output: (id, chunk_id, n_tokens, chunk_text, kept). */
  def dedupPassages(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame = {
    val chunks = TextAnalysis.chunkTokens(docs, idCol, textCol,
      chunkSize, chunkSize)
    val first = chunks.groupBy("chunk_text")
      .agg(min(struct(col("id"), col("chunk_id"))).as("f"))
    chunks.join(first, Seq("chunk_text"))
      .withColumn("kept", col("id") === col("f.id") &&
        col("chunk_id") === col("f.chunk_id"))
      .select(col("id"), col("chunk_id"), col("n_tokens"),
        col("chunk_text"), col("kept"))
  }

  /** Chunk-grain NEAR-dedup — [[dedupPassages]]'s question asked with
    * n-gram Jaccard instead of exact text equality (the RefinedWeb-
    * style trimming step at retrieval granularity): documents are cut
    * into non-overlapping `chunkSize`-token passages, passages whose
    * `shingleN`-gram Jaccard ≥ `threshold` form near-dup clusters
    * (connected components, like document-grain [[dedupCorpus]]), and
    * the doc-major-earliest passage of each cluster survives — the
    * same first-occurrence rule as the exact operator, extended to
    * near-copies that exact matching misses (reflowed boilerplate,
    * one-word edits).
    *
    * Scale shape: chunking is exchange-free; the pair stage is
    * [[jaccardPairsPrefix]] (prefix + positional filters) over chunk
    * shingle sets — BOUNDED sets (≤ chunkSize − shingleN + 1), so the
    * quadratic verify stage works on uniformly small payloads; label
    * propagation shuffles (key, label) pairs only.
    *
    * The passage key is the composite doc-major long
    * id·maxChunksPerDoc + chunk_id (so "smallest key" = earliest doc,
    * then earliest passage — the [[dedupPassages]] tie rule); a
    * document with ≥ `maxChunksPerDoc` passages fails LOUDLY rather
    * than alias another document's key space.
    * Output: one row per passage — (id, chunk_id, n_tokens,
    * chunk_text, kept). */
  def dedupPassagesNear(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, shingleN: Int = 3, threshold: Double = 0.6,
      maxChunksPerDoc: Long = 1000000L): DataFrame = {
    val chunks = TextAnalysis.chunkTokens(docs, idCol, textCol,
        chunkSize, chunkSize)
      .withColumn("ckey",
        when(col("chunk_id") < lit(maxChunksPerDoc),
          col("id").cast("long") * lit(maxChunksPerDoc) + col("chunk_id"))
          .otherwise(raise_error(concat(
            lit("dedupPassagesNear: chunk_id "), col("chunk_id"),
            lit(s" overflows maxChunksPerDoc=$maxChunksPerDoc for doc "),
            col("id").cast("string"))).cast("long")))
    val sh = chunks.select(col("ckey"),
      TextAnalysis.shingles(col("chunk_text"), shingleN).as("sh"))
    val pairs = jaccardPairsPrefix(sh, "ckey", "sh", threshold)
    val losers = clusters(pairs, idA = "d1", idB = "d2")
      .where(col("id") =!= col("cluster"))
      .select(col("id").as("ckey"), lit(true).as("__lost"))
    chunks.join(losers, Seq("ckey"), "left")
      .select(col("id"), col("chunk_id"), col("n_tokens"),
        col("chunk_text"), col("__lost").isNull.as("kept"))
  }

  /** Engine-portable polynomial string hash: fold `acc·31 + ascii(char)
    * mod 1e9+7` over the characters, seeded with the first character's
    * code. Chosen over xxhash64/simhash64 precisely because any SQL
    * engine can recompute it (`list_reduce(list_transform(range(1,
    * length(s)+1), i -> ascii(substring(s,i,1))), (acc,x) ->
    * (acc*31+x) % 1000000007)` in DuckDB) — the x04 lesson was that
    * engine-native hashes force golden-pinned oracles; this one keeps
    * the winnowing family fully recomputable. Pure HOF fold, no UDF. */
  def polyHash(s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.PolyHash(
        org.apache.spark.sql.graft.Bridge.expression(s)))

  /** `polyHash(reverse(s))` without materializing the reversed string —
    * the second half of the 60-bit composite term hash
    * ([[weightedSimhash]], [[DistinctSketch]]'s mixedRev). Identical
    * value by the [[graft.functions.expressions.PolyHashImpl]]
    * character-stride argument; ExtSpec pins bit-equality against the
    * composed `polyHash(reverse(s))` on adversarial unicode. */
  def polyHashReversed(s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.PolyHash(
        org.apache.spark.sql.graft.Bridge.expression(s), reversed = true))

  /** The r15-and-earlier HOF form of [[polyHash]] — kept (a) as the
    * executable specification the codegen expression is property-tested
    * against, and (b) because it IS the cross-engine recipe (the DuckDB
    * list_reduce in the scaladoc above runs this exact fold). Not used
    * on any query path. */
  private[graft] def polyHashHof(s: Column): Column = {
    val P = 1000000007L
    when(length(s) <= 1, ascii(s).cast("long"))
      .otherwise(aggregate(
        transform(sequence(lit(2), length(s)),
          i => ascii(s.substr(i, lit(1))).cast("long")),
        ascii(s.substr(lit(1), lit(1))).cast("long"),
        (acc, x) => (acc * lit(31L) + x) % lit(P)))
  }

  /** Near-dup cluster-size HISTOGRAM — the dedup observability row a
    * pipeline owner reads before trusting a survivor set: how many
    * clusters of each size the pair graph produces (singletons = docs
    * untouched by any pair, bucket 1). A sudden mass at high sizes
    * means boilerplate or a broken threshold; the histogram is the
    * cheap alarm. Shuffles (id, label) pairs + two bounded aggs.
    * Output: (cluster_size, n_clusters), empty buckets omitted. */
  def clusterSizeHistogram(pairs: DataFrame, universe: DataFrame,
      idCol: String): DataFrame =
    clusterSizeHistogramFromLabels(clusters(pairs), universe, idCol)

  /** [[clusterSizeHistogram]] over ALREADY-COMPUTED component labels —
    * public so a caller holding a memoized labeling (one propagation,
    * several certified views) can fold it without re-running the
    * sequential propagation rounds. */
  def clusterSizeHistogramFromLabels(comp: DataFrame, universe: DataFrame,
      idCol: String): DataFrame = {
    val hist = comp.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = universe.select(col(idCol).as("id")).distinct()
      .join(comp.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    hist.unionByName(singles)
      .groupBy("cluster_size").agg(sum(col("n_clusters")).as("n_clusters"))
      .where(col("n_clusters") > 0)
  }

  /** Weighted SimHash signatures (Charikar STOC 2002, as deployed for
    * web near-dup detection in Manku et al. WWW 2007): every distinct
    * term pushes its tf·idf weight onto each signature bit — positive
    * where the term's hash bit is 1, negative where 0 — and the
    * signature takes the SIGN of each bit's total. Near-identical
    * documents differ in few bits; the tf-idf weighting (vs [[simhash]]'s
    * unweighted tokens) keeps rare discriminative terms in control of
    * the signature instead of stopwords.
    *
    * Engine-exactness: idf = ln(N/df) is the single transcendental,
    * quantized once per term to DECIMAL(28,12) (the x76/x78
    * discipline); weights are exact decimal products (tf at
    * DECIMAL(9,0) so the multiply stays ≤ 38 precision — the x78
    * bound); per-bit totals are exact decimal SUMS (order-independent),
    * so the sign — and therefore every signature bit — is
    * engine-reproducible. The term hash is the 60-bit composite
    * `polyHash(term)·2³⁰ + polyHash(reverse(term))` — engine-portable
    * like everything else in this family, so the oracle recomputes the
    * signatures themselves, unlike the golden-pinned x04.
    *
    * Scale shape: tf/df/idf are map-side-combined aggs + one
    * vocabulary-keyed join; the signature is ONE groupBy(id) carrying
    * `bits` decimal sum buffers — no per-(doc, term, bit) shuffle
    * explosion. Output: (id, simhash). */
  def weightedSimhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 60, s"weightedSimhash: bits=$bits not in [1,60]")
    // r16: the signature is ONE fixed-width aggregate
    // (WeightedSimhashSignAgg — 2·bits long slots, exact 128-bit
    // integer sums of the SAME scale-10^-12 integers the former 32
    // DECIMAL(38,12) sum buffers held; sign and therefore every bit
    // bit-identical, pinned by the ExtSpec decimal-equivalence property
    // test and the oracle). idfScaled = the idf decimal's unscaled
    // integer — the ×10^12 product is exact (idf carries exactly 12
    // fractional digits) and the long cast is of an integral decimal.
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    val idf = dfc.crossJoin(broadcast(n))
      .select(col("term"),
        log(col("n").cast("double") / col("df"))
          .cast(DecimalType(28, 12)).as("idf"))
    val wgt = tf.join(idf, Seq("term"))
      .select(col("id"),
        (polyHash(col("term")) * lit(1073741824L) +
          polyHashReversed(col("term"))).as("__h"),
        // the DECIMAL(9,0) tf bound is part of the operator's contract
        // (fail loudly instead of silently wrapping) — kept verbatim
        when(col("tf") < lit(1000000000L), col("tf"))
          .otherwise(raise_error(concat(
            lit("weightedSimhash: term frequency "),
            col("tf").cast("string"),
            lit(" overflows the DECIMAL(9,0) tf bound"))).cast("long"))
          .as("__tf"),
        (col("idf") * lit(1000000000000L)).cast("long").as("__idfs"))
    wgt.groupBy(col("id")).agg(
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.expressions.WeightedSimhashSignAgg(
          org.apache.spark.sql.graft.Bridge.expression(col("__h")),
          org.apache.spark.sql.graft.Bridge.expression(col("__tf")),
          org.apache.spark.sql.graft.Bridge.expression(col("__idfs")),
          bits).toAggregateExpression()).as("simhash"))
  }

  /** The r15-and-earlier 32-decimal-sum form of [[weightedSimhash]] —
    * kept as the executable specification the fixed-width aggregate is
    * property-tested against (ExtSpec pins row-identical signatures on
    * randomized corpora). Not used on any query path. */
  private[graft] def weightedSimhashDecimal(docs: DataFrame, idCol: String,
      textCol: String, bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 60, s"weightedSimhash: bits=$bits not in [1,60]")
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    val idf = dfc.crossJoin(broadcast(n))
      .select(col("term"),
        log(col("n").cast("double") / col("df"))
          .cast(DecimalType(28, 12)).as("idf"))
    val wgt = tf.join(idf, Seq("term"))
      .select(col("id"),
        (polyHash(col("term")) * lit(1073741824L) +
          polyHashReversed(col("term"))).as("__h"),
        (when(col("tf") < lit(1000000000L), col("tf").cast(DecimalType(9, 0)))
          .otherwise(raise_error(concat(
            lit("weightedSimhash: term frequency "),
            col("tf").cast("string"),
            lit(" overflows the DECIMAL(9,0) tf bound")))
            .cast(DecimalType(9, 0)))
          * col("idf")).as("__w"))
    val sums = (0 until bits).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1,
        col("__w")).otherwise(-col("__w"))).as(s"__s$j"))
    wgt.groupBy(col("id")).agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until bits).map(j =>
          when(col(s"__s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Weighted-SimHash near-dup pairs via Manku banding: the `bits`-bit
    * signature splits into `bands` equal slices; documents sharing ANY
    * slice value become candidates, verified by exact Hamming distance.
    * With maxHamming ≤ bands − 1, recall is 1 BY PIGEONHOLE: ≤
    * bands−1 differing bits cannot touch every band. Candidate volume
    * is governed by slice width (bits/bands random bits ≈ 2^-width
    * collision rate per band) — widen `bits` as the corpus grows, the
    * same width-vs-df trade as [[bandKeys]].
    * Output: (id_a, id_b, hamming); only (id, band-slice) longs and
    * (id, signature) longs ever shuffle. */
  def weightedSimhashPairs(docs: DataFrame, idCol: String,
      textCol: String, bits: Int = 32, bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"weightedSimhashPairs: bits=$bits must divide into bands=$bands")
    require(maxHamming < bands,
      s"weightedSimhashPairs: maxHamming=$maxHamming needs bands > it " +
        "for the pigeonhole recall guarantee")
    val width = bits / bands
    val mask = (1L << width) - 1L
    val sig = weightedSimhash(docs, idCol, textCol, bits)
      .localCheckpoint(true) // candidates + verification both read it
    val bandRows = sig.select(col("id"), posexplode(
        array((0 until bands).map(b =>
          shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))): _*))
      .as(Seq("band", "v")))
    val cand = bandRows.select(col("id").as("id_a"), col("band"), col("v"))
      .join(bandRows.select(col("id").as("id_b"), col("band"), col("v")),
        Seq("band", "v"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sig.select(col("id").as("id_a"), col("simhash").as("__sa")),
        Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("simhash").as("__sb")),
        Seq("id_b"))
      .withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The pair family's SCALE-SAFE output form, as an API instead of
    * advice: [[weightedSimhashPairs]] fed straight into the
    * escalating [[clusters]] propagation and returned as per-document
    * SURVIVOR labels over the full corpus — "feed components, not
    * pair lists, at 100 TB" (the x99 lesson: pair LISTS carry an
    * Ω(#pairs) output floor that components don't — a boilerplate
    * cluster of m copies is m·(m−1)/2 pair rows but only m label
    * rows). cluster = smallest reachable id (the canonical survivor);
    * documents no pair touches are their own singleton cluster.
    * Scale shape: the banded pair join shuffles ids+signatures only;
    * propagation shuffles (id, label) pairs; the final label join is
    * ids-only. Output: (id, cluster, is_canonical). */
  def weightedSimhashClusters(docs: DataFrame, idCol: String,
      textCol: String, bits: Int = 32, bands: Int = 4,
      maxHamming: Int = 3): DataFrame =
    labelsFromPairs(docs, idCol,
      weightedSimhashPairs(docs, idCol, textCol, bits, bands, maxHamming))

  /** Shared survivor-label tail: escalating [[clusters]] over a pair
    * list, left-completed with singletons — public so a caller holding
    * an already-materialized pair graph (e.g. a session-memoized one)
    * can label without recomputing pairs.
    * Output: (id, cluster, is_canonical). */
  def labelsFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = clusters(pairs)
    docs.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .withColumn("is_canonical", col("id") === col("cluster"))
  }

  /** Near-dup PROVENANCE matrix: a pair graph attributed to sources —
    * for every unordered source pair, how many near-dup pairs connect
    * them. The triage view a pipeline owner reads before acting on
    * dedup volume: mass on the diagonal (within = true) is template
    * reuse inside one feed (fix the extractor); off-diagonal mass is
    * mirroring between feeds (drop one side). |sources|²-bounded
    * output from two ids-only broadcast-shaped joins over the pair
    * list — at 100 TB feed it the banded pair stage directly; nothing
    * here adds a shuffle beyond the final bounded groupBy.
    * Output: (src_a, src_b, n_pairs, within), src_a ≤ src_b. */
  def pairProvenance(pairs: DataFrame, docs: DataFrame, idCol: String,
      sourceCol: String, idA: String = "id_a", idB: String = "id_b")
      : DataFrame = {
    val d = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(d.select(col(idCol).as(idA), col(sourceCol).as("__sa")),
        Seq(idA))
      .join(d.select(col(idCol).as(idB), col(sourceCol).as("__sb")),
        Seq(idB))
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within", col("src_a") === col("src_b"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm), at
    * word-level k-gram grain: every window of `w` consecutive k-gram
    * hashes contributes its minimum hash, and the distinct chosen
    * hashes are the document's fingerprints. The winnowing guarantee:
    * any two documents sharing a verbatim run of ≥ w + k − 1 tokens
    * share at least one fingerprint, at an expected density of
    * 2/(w+1) of positions — a tunable-size sketch with a hard recall
    * floor, which MinHash does not give. Documents shorter than `w`
    * k-grams contribute the minimum of what they have (one whole-doc
    * window), so no document is unrepresented.
    *
    * Hashes are [[polyHash]], so the selection is oracle-recomputable.
    * Output: (id, fp) distinct.
    * Scale: shingling + hashing at scan speed; ONE shuffle (the
    * per-document window sort on (id, pos)); fingerprints leave as
    * 8-byte longs, never strings. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k=$k, w=$w must be >= 1")
    val posed = docs
      .select(col(idCol).as("id"),
        posexplode(TextAnalysis.shingles(col(textCol), k)).as(Seq("pos", "s")))
      .withColumn("h", polyHash(col("s")))
    val frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    posed
      .withColumn("wmin", min("h").over(frame))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("id")))
      .where(col("pos") <= greatest(lit(0), col("m").cast("int") - lit(w)))
      .select(col("id"), col("wmin").as("fp"))
      .distinct()
  }

  /** MOSS-style fingerprint overlap: document pairs sharing ≥
    * `minShared` winnowing fingerprints, with the shared count and the
    * containment-style fraction |shared| / min(|fpA|, |fpB|). `maxDf`
    * drops fingerprints occurring in more than that many documents
    * BEFORE pair generation — the boilerplate guard that keeps one
    * corpus-wide hot fingerprint from exploding into O(df²) pairs (the
    * same skew discipline as [[jaccardPairs]]' maxDocFreq); 0 disables.
    * Output: (id_a, id_b, n_shared, nfp_a, nfp_b, overlap).
    * Scale: the pair join moves (id, fp) longs only; `overlap` is one
    * double division of exact integer counts. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxDf: Long = 0L): DataFrame = {
    val fp = winnowFingerprints(docs, idCol, textCol, k, w)
    val kept = if (maxDf <= 0L) fp else fp.join(
      fp.groupBy("fp").agg(count(lit(1)).as("__df"))
        .where(col("__df") > maxDf).select("fp"),
      Seq("fp"), "left_anti")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("nfp"))
    kept.select(col("id").as("id_a"), col("fp"))
      .join(kept.select(col("id").as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sizes.select(col("id").as("id_a"), col("nfp").as("nfp_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nfp").as("nfp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("nfp_a"),
        col("nfp_b"),
        (col("n_shared").cast("double") / least(col("nfp_a"), col("nfp_b")))
          .as("overlap"))
  }

  /** Exact duplicate-span REMOVAL — the transform counterpart of
    * [[duplicateSpanFraction]] (Lee et al. 2022 ExactSubstr, windowed
    * form): every k-token window that occurs more than once in the
    * corpus is stripped from every document EXCEPT its corpus-wide
    * first occurrence (least (id, wpos)), and each document's text is
    * rebuilt from its surviving tokens. Where x72 reports how much of
    * a document is corpus boilerplate, this actually removes it —
    * "feed survivors, don't materialize pair lists" applied at the
    * SPAN level rather than the document level.
    *
    * Semantics: matching is case-insensitive (windows over the
    * lowercased token stream, the x72 convention); the rebuilt text
    * keeps original token case and normalizes inter-token whitespace
    * to single spaces. A token is removed when ANY duplicated
    * non-first window covers its position — so the first occurrence
    * of span A can still lose tokens to an overlapping removed span B
    * (the standard overlap behavior of span-level dedup). Documents
    * whose every token is covered come back with cleaned_text = '';
    * null-text documents keep a row with n_tokens = 0 and null text.
    *
    * Scale shape: windows and tokens are linear scans; the global
    * window stats are ONE map-side-combinable agg keyed on the 60-bit
    * portable hash (8-byte shuffle keys, never window strings —
    * [[DistinctSketch.compositeHash]], so the oracle recomputes the
    * same keys with the same collision behavior); coverage explodes
    * ×k (bounded); the rebuild is one per-document sort-free
    * collect_list + array_sort over surviving tokens. No pairwise
    * stage anywhere.
    *
    * Output: (id, n_tokens, n_removed, cleaned_text). */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 2, s"removeDuplicateSpans: k=$k must be >= 2")
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val wins = docs.select(col(idCol).as("id"),
        posexplode(TextAnalysis.shingles(col(textCol), k))
          .as(Seq("wpos", "w")))
      .select(col("id"), col("wpos"),
        DistinctSketch.compositeHash(col("w")).as("hv"))
    val stats = wins.groupBy("hv").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("id"), col("wpos"))).as("first"))
    val dupOcc = wins.join(stats.where(col("cnt") >= 2), Seq("hv"))
      .where(!(col("id") === col("first.id") &&
        col("wpos") === col("first.wpos")))
    val covered = dupOcc.select(col("id"),
        explode(sequence(col("wpos"), col("wpos") + lit(k - 1))).as("pos"))
      .distinct()
    val counts = toks.groupBy("id").agg(count(lit(1)).as("n_tokens"))
    val removed = covered.groupBy("id").agg(count(lit(1)).as("n_removed"))
    val rebuilt = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("cleaned_text"))
    docs.select(col(idCol).as("id")).join(counts, Seq("id"), "left")
      .join(removed, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          coalesce(col("cleaned_text"), lit(""))).as("cleaned_text"))
  }

  /** Undirected degrees of a pair graph (id_a < id_b rows): (id,
    * degree) — multi-edges are the caller's responsibility (the
    * winnow/SimHash pair frames are already distinct per pair). */
  def graphDegrees(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** TRIANGLE census + global clustering coefficient of a pair graph
    * — the dedup-graph TOPOLOGY question x103's size histogram cannot
    * answer: clique-like components (C → 1) are template farms, where
    * one canonical survivor is right; chain-like ones (C → 0) are
    * mirror CHAINS, where transitive near-dup closure may be gluing
    * non-duplicates end-to-end and the threshold deserves a second
    * look. C = 3·triangles / wedges, wedges = Σ d(d−1)/2.
    *
    * Scale: DEGREE-ORDERED edge iteration (Schank & Wagner 2005 /
    * compact-forward) — each edge orients from its lower-(degree, id)
    * endpoint, so out-degrees are O(√m)-bounded and the wedge join
    * cannot blow up on hubs the way naive id-ordering does; each
    * triangle is counted exactly once at its minimum-key vertex, so
    * the count (and the oracle's id-ordered recount) is orientation-
    * invariant. Exact integers; one double division.
    * Output: one row (n_nodes, n_edges, n_triangles, n_wedges,
    * clustering_coeff — NULL when the graph has no wedge). */
  def graphTriangles(pairs: DataFrame): DataFrame = {
    val deg = graphDegrees(pairs).localCheckpoint(true)
    val e = pairs
      .join(deg.select(col("id").as("id_a"), col("degree").as("__da")),
        Seq("id_a"))
      .join(deg.select(col("id").as("id_b"), col("degree").as("__db")),
        Seq("id_b"))
    val keyALower = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("id_a") < col("id_b"))
    val o = e.select(
        when(keyALower, col("id_a")).otherwise(col("id_b")).as("src"),
        when(keyALower, col("id_b")).otherwise(col("id_a")).as("dst"),
        when(keyALower, col("__db")).otherwise(col("__da")).as("__dd"))
      .localCheckpoint(true) // oriented edges feed wedge AND closure
    // wedge (v, w) at u with key(v) < key(w); closing edge, if
    // present, is oriented v→w by the same total order
    val wedge = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.__dd") < col("e2.__dd") ||
            (col("e1.__dd") === col("e2.__dd") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
    val tri = wedge.join(o.select("src", "dst"), Seq("src", "dst"))
      .agg(count(lit(1)).as("n_triangles"))
    // Σ d(d−1) is even; halve by integer DIV (a `/ 2` would be a
    // double division mid-chain)
    val tot = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("degree") * (col("degree") - 1)).as("__w2"))
    val ne = pairs.agg(count(lit(1)).as("n_edges"))
    tot.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .withColumn("n_wedges", expr("__w2 DIV 2"))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double")).as("clustering_coeff"))
  }

  /** Per-EVAL-ITEM contamination report — [[contaminationFraction]]
    * reversed to the benchmark's grain: for each bench document, how
    * much of it leaked into the training corpus and WHICH training
    * document carries the most of it ("this eval item is burned, and
    * here is the page that burned it" — the row an eval owner acts
    * on; corpus-level fractions can't name the offender). n_hit
    * counts the bench item's DISTINCT shingles found anywhere in
    * train; the top contaminator is the train doc sharing the most
    * (ties: smallest id — a total order).
    *
    * Scale shape: the bench shingle set is benchmark-sized and
    * broadcast (the x33 eval-slice discipline); the train scan is
    * filtered to bench shingles BY that broadcast, so the provenance
    * join's left side is |hits|, never |train|; per-bench argmax is a
    * bench-bounded window. Bench items with no shingles report 0/NULL
    * (never dropped — the skeleton lesson).
    * Output: (id, n_shingles, n_hit, contamination, top_train_doc,
    * top_shared). */
  def evalContamination(bench: DataFrame, train: DataFrame,
      idCol: String, shinglesCol: String): DataFrame = {
    val bsh = bench.select(col(idCol).as("__idb"),
        explode(hashedShingles(col(shinglesCol))).as("h"))
      .distinct()
      .localCheckpoint(true) // feeds totals, the hit count AND provenance
    val tsh = train.select(col(idCol).as("__idt"),
        explode(hashedShingles(col(shinglesCol))).as("h"))
      .distinct()
      .localCheckpoint(true) // feeds the hit semi-join AND provenance
    val nB = bsh.groupBy("__idb").agg(count(lit(1)).as("n_shingles"))
    val hitN = bsh
      .join(tsh.select("h").distinct(), Seq("h"), "left_semi")
      .groupBy("__idb").agg(count(lit(1)).as("n_hit"))
    val shared = tsh.join(broadcast(bsh), Seq("h"))
      .groupBy("__idb", "__idt").agg(count(lit(1)).as("__shared"))
    val top = Upsert.firstPerKey(shared, Seq(col("__idb")),
        Seq(col("__shared").desc, col("__idt").asc))
      .select(col("__idb"), col("__idt").as("top_train_doc"),
        col("__shared").as("top_shared"))
    bench.select(col(idCol).as("__idb")).distinct()
      .join(nB, Seq("__idb"), "left")
      .join(hitN, Seq("__idb"), "left")
      .join(top, Seq("__idb"), "left")
      .select(col("__idb").as("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        when(col("n_shingles").isNotNull,
          coalesce(col("n_hit"), lit(0L))).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("contamination"),
        col("top_train_doc"), col("top_shared"))
  }

  /** TEXT-REUSE alignment — the EVIDENCE view for a near-dup pair
    * list: for each candidate pair, the number of shared positional
    * k-shingles and the LONGEST contiguous shared token run, found on
    * shingle-position DIAGONALS (a shared shingle at positions
    * (p_a, p_b) lies on diagonal p_a − p_b; consecutive positions on
    * one diagonal are one contiguous run — gaps-and-islands over
    * p_a − rank). "These two docs are 0.8 Jaccard" says they overlap;
    * "they share one 212-token run" says HOW (a quoted block vs
    * scattered boilerplate) — what a reviewer reads before trusting a
    * dedup drop.
    *
    * Scale shape: the positional-shingle scan joins PAIRS-first, so
    * volume is Σ_pairs |doc| — the pair list's own evidence floor,
    * never a corpus posting self-join; runs fold in per-(pair,
    * diagonal) windows (pair-length-bounded). Exact integers; run
    * length in tokens = shingles + k − 1.
    * Output: (id_a, id_b, n_matches, longest_run_shingles,
    * longest_run_tokens). Pairs from hash-candidate generators always
    * share ≥ 1 shingle, so the inner evidence join drops nothing. */
  def reuseAlignment(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, k: Int = 3): DataFrame = {
    // POSITIONAL hashes — elementwise, NOT the set-semantics
    // hashedShingles (its array_distinct would shift positions and
    // drop repeats, exactly what alignment must keep)
    val sh = docs.select(col(idCol).as("__id"),
        posexplode(transform(TextAnalysis.shingles(col(textCol), k),
          s => xxhash64(s))).as(Seq("__pos", "__h")))
      .localCheckpoint(true) // feeds both sides of the pair join
    val m = pairs.select(col("id_a"), col("id_b"))
      .join(sh.select(col("__id").as("id_a"), col("__pos").as("__pa"),
        col("__h")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__pos").as("__pb"),
        col("__h")), Seq("id_b", "__h"))
      .withColumn("__d", col("__pa") - col("__pb"))
      .localCheckpoint(true) // feeds the match count AND the runs
    val nM = m.groupBy("id_a", "id_b").agg(count(lit(1)).as("n_matches"))
    val w = Window.partitionBy("id_a", "id_b", "__d").orderBy("__pa")
    val runs = m
      .withColumn("__run", col("__pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "__d", "__run")
      .agg(count(lit(1)).as("__len"))
      .groupBy("id_a", "id_b")
      .agg(max(col("__len")).as("longest_run_shingles"))
    nM.join(runs, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("n_matches"),
        col("longest_run_shingles"),
        (col("longest_run_shingles") + (k - 1)).as("longest_run_tokens"))
  }

  /** FUZZY string linkage: all pairs within Levenshtein distance
    * `maxDist`, by SYMMETRIC-DELETE blocking (SymSpell; Garbe 2012) +
    * exact verification — the record-linkage primitive (misspelling
    * consolidation, entity-key matching) the token-identity dedup
    * family cannot express. Blocking is RECALL-1: if lev(A,B) ≤ d,
    * the ≤d-deletion neighborhoods of A and B intersect (every edit
    * script induces a common subsequence reachable by deletions from
    * both sides), so joining on shared delete-variants misses nothing;
    * the Levenshtein re-check then kills false candidates (variant
    * collisions like "abcd"/"cdab" sharing "cd" at distance 4).
    *
    * Scale shape: each string of length L yields O(L^maxDist) variant
    * rows (exploded level by level, de-duplicated per level), the
    * candidate join shuffles only (variant, id) rows, and the verify
    * join rides ids — no cross join anywhere; the codegen'd
    * threshold-bounded levenshtein abandons rows early. Skew bound:
    * a variant shared by V strings yields V(V−1)/2 candidates — the
    * `minLen ≥ maxDist+2` guard keeps near-empty hub variants out
    * (the winnowPairs maxDf lesson; with it, every variant keeps ≥ 2
    * chars — the empty/1-char variants that would bucket half the
    * vocabulary together can't arise). Output floor is Ω(#true
    * pairs), like every pair-listing operator.
    * Input: one row per (id, string); Output: (id_a, id_b, dist),
    * id_a < id_b. */
  /** The SymSpell delete-neighborhood of (id, s) rows: every string
    * reachable by up to `maxDist` character deletions, one deletion
    * per level with per-level distinct (delete i then j ≡ delete j
    * then i, so the distinct bounds the duplication). Shared by
    * [[editDistancePairs]] (self-linkage) and the persisted
    * variant-index lifecycle ([[saveVariantIndex]] /
    * [[linkAgainstLoadedIndex]]) — BOTH sides of a linkage must
    * expand with the SAME maxDist for the recall-1 guarantee. */
  private def deleteNeighborhood(base: DataFrame, maxDist: Int)
      : DataFrame = {
    var lvl = base.select(col("id"), col("s").as("v")).distinct()
    var variants = lvl
    for (_ <- 1 to maxDist) {
      lvl = lvl
        .select(col("id"), explode(transform(
          sequence(lit(0), length(col("v")) - 1),
          i => concat(col("v").substr(lit(1), i),
            col("v").substr(i + lit(2), length(col("v")) - i - 1))))
          .as("v"))
        .distinct()
      variants = variants.unionByName(lvl)
    }
    variants
  }

  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2, minLen: Int = 4): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"editDistancePairs: maxDist=$maxDist outside [1,3]")
    require(minLen >= maxDist + 2,
      s"editDistancePairs: minLen=$minLen must be >= maxDist+2=" +
        s"${maxDist + 2} (shorter strings collapse onto hub variants)")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .where(length(col("s")) >= minLen)
      .localCheckpoint(true) // feeds variant gen AND both verify joins
    val variants = deleteNeighborhood(base, maxDist)
    val va = variants.select(col("v"), col("id").as("id_a"))
    val vb = variants.select(col("v"), col("id").as("id_b"))
    val cand = va.join(vb, Seq("v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("__sa")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("__sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb"), maxDist).as("dist"))
      .where(col("dist") >= 0)
  }

  /** The column contract [[savePairGraph]]/[[loadPairGraph]] pin —
    * the [[winnowPairs]] output shape (the near-dup evidence table
    * x103/x171/x172/x202/x203/x223/x228 all consume). */
  private val pairGraphCols = Seq("id_a", "id_b", "n_shared", "nfp_a",
    "nfp_b", "overlap")

  /** Persist a [[winnowPairs]] near-dup pair graph as parquet — the
    * durable arm of the session memo that serves the engine's largest
    * consumer family (seven incremental views ride the winnow graph):
    * the graph is ids + counts only (no text), so the write is
    * pair-count-sized, and the derivation is deterministic (hash
    * fingerprints, exact counts), so the saved artifact equals a
    * recompute bit-for-bit — the round trip shares x92's oracle. A
    * restarted session loads the graph instead of re-paying the
    * fingerprint scan + pair join (cold 7.0 s at sfx10). */
  def savePairGraph(pairs: DataFrame, path: String): Unit = {
    require(pairGraphCols.forall(pairs.columns.contains),
      s"not a winnowPairs graph: has ${pairs.columns.toSeq}, " +
        s"needs $pairGraphCols")
    pairs.select(pairGraphCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[savePairGraph]] parquet; schema-validated loudly. */
  def loadPairGraph(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val p = spark.read.parquet(path)
    require(pairGraphCols.forall(p.columns.contains),
      s"$path is not a winnowPairs graph: has ${p.columns.toSeq}, " +
        s"needs $pairGraphCols")
    p.select(pairGraphCols.map(col): _*)
  }

  /** The prefix bucket of a variant string — a pure function of the
    * variant (first two characters hashed, seed-fixed xxhash64), so
    * equal variants ALWAYS land in the same bucket and the recall-1
    * blocking guarantee is untouched by the bucketed layout. */
  private def variantBucket(v: Column, nBuckets: Int): Column =
    pmod(xxhash64(substring(v, 1, 2)), lit(nBuckets.toLong)).cast("int")

  /** Persist a SYMMETRIC-DELETE variant index for fuzzy record
    * linkage — the [[saveLshIndex]] lifecycle discipline applied to
    * [[editDistancePairs]]'s blocking scheme: three tables under
    * `path` — `strings/` (id, s: the indexed records), `variants/`
    * (id, v: the full delete neighborhood, PARTITIONED by the
    * prefix `bucket` of v), and a one-row `params/` (max_dist,
    * min_len, n_buckets) pinning the expansion AND the bucket layout
    * the index was built with, so a loader expanding queries with a
    * DIFFERENT maxDist or bucketing fails loudly / cannot drift
    * silently. The variants table is Σ C(len, ≤maxDist) rows per
    * record — record-count-sized × a small length polynomial, no text
    * bodies; at 100 TB vocabulary the bucketed layout is what keeps a
    * small incoming batch from scanning it all: the batch's expansion
    * touches few prefix buckets, and [[linkAgainstIndex]] prunes the
    * scan to exactly those directories (PartitionFilters in the plan)
    * before the bloom gate cuts the survivors again.
    *
    * `nBuckets` = 0 (default) AUTO-sizes from the MEASURED record
    * count — one bucket per ~50k indexed records, capped at 4096 —
    * so a small vocabulary writes one partition (no small-file tax:
    * the pinned-64 layout measured +0.9 s on the sf0.1 round trip)
    * while a billion-term index gets the full pruning fan-out; the
    * chosen width is pinned in params like every other expansion
    * parameter. */
  def saveVariantIndex(df: DataFrame, idCol: String, strCol: String,
      path: String, maxDist: Int = 2, minLen: Int = 4,
      nBuckets: Int = 0): Unit = {
    require(maxDist >= 1 && maxDist <= 3,
      s"saveVariantIndex: maxDist=$maxDist outside [1,3]")
    require(minLen >= maxDist + 2,
      s"saveVariantIndex: minLen=$minLen must be >= maxDist+2")
    require(nBuckets >= 0 && nBuckets <= 4096,
      s"saveVariantIndex: nBuckets=$nBuckets outside [0,4096] (0 = auto)")
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .where(length(col("s")) >= minLen)
      .localCheckpoint(true) // feeds the strings table AND the expansion
    // the writes below are the checkpoint's only readers
    try {
      val nRecords = base.count() // checkpointed — one cheap job
      val buckets = if (nBuckets > 0) nBuckets
        else math.min(4096L, math.max(1L, nRecords / 50000L + 1L)).toInt
      base.write.mode("overwrite").parquet(s"$path/strings")
      val expanded = deleteNeighborhood(base, maxDist)
        .withColumn("bucket", variantBucket(col("v"), buckets))
      // an EMPTY vocabulary must still round-trip: a dynamic-partition
      // writer emits no schema-bearing part file for zero rows (the
      // loader would then fail schema inference), so write the empty
      // frame unpartitioned — same columns, zero rows, loadable
      if (nRecords == 0L)
        expanded.write.mode("overwrite").parquet(s"$path/variants")
      else
        expanded.write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/variants")
      import spark.implicits._
      Seq((maxDist, minLen, buckets))
        .toDF("max_dist", "min_len", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    } finally Memo.release(base)
  }

  /** Link `incoming` records against a [[saveVariantIndex]] directory:
    * reads the params row (enforcing the expansion contract) and the
    * two tables, then delegates to [[linkAgainstLoadedIndex]]. For a
    * long-lived stream, load once and call the loaded form per batch
    * ([[graft.streaming.Streams.linkageAdmitSink]]). */
  def linkAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, incoming: DataFrame, idCol: String, strCol: String)
      : DataFrame = {
    val params = spark.read.parquet(s"$path/params")
    val p = params.head()
    // pre-bucketed-layout indexes (no n_buckets column) still link —
    // they just skip the partition prune
    val nBuckets = if (params.columns.contains("n_buckets"))
      p.getAs[Int]("n_buckets") else 0
    linkAgainstLoadedIndex(
      spark.read.parquet(s"$path/variants"),
      spark.read.parquet(s"$path/strings"),
      incoming, idCol, strCol,
      maxDist = p.getAs[Int]("max_dist"), minLen = p.getAs[Int]("min_len"),
      nBuckets = nBuckets)
  }

  /** The linkage tail against ALREADY-LOADED index tables: incoming
    * records expand through the same [[deleteNeighborhood]] (same
    * maxDist — the recall-1 precondition), candidates block on shared
    * variants, and every candidate is verified with the
    * threshold-bounded codegen levenshtein against the INDEX strings
    * — never a cross join. Incoming rows shorter than `minLen` are
    * excluded exactly as the index excluded them (the hub-variant
    * guard). Ids are assumed to live in distinct spaces (an incoming
    * id equal to an indexed id is NOT filtered — two records, not
    * one).
    *
    * 100 TB shape: incoming is BY CONTRACT the small side (an
    * admission batch against a frozen universe), so the index scan is
    * what must not be paid in full. Two gates, both recall-exact:
    * (1) with `nBuckets` > 0 (a bucketed [[saveVariantIndex]]
    * layout), the incoming expansion's distinct prefix buckets — a
    * model-sized collect, ≤ nBuckets values — prune the variants
    * read to those partitions (PartitionFilters on a parquet scan; a
    * plain filter on a checkpointed stream copy); (2) a Bloom filter
    * of the incoming variants ([[Bloom.buildHashed]], fpp 1%) gates
    * the surviving index rows at scan speed, so only ~fpp of the
    * pruned index plus the true variant matches reach the candidate
    * shuffle. False positives are killed by the exact levenshtein
    * verify; false negatives don't exist — results are byte-identical
    * to the ungated join (the x238 oracle re-verifies with DuckDB's
    * own levenshtein, no blocking scheme trusted).
    * Output: (id, ex_id, dist) — every (incoming, indexed) match
    * within maxDist; an incoming record with NO output row is novel,
    * the admission predicate
    * [[graft.streaming.Streams.linkageAdmitSink]] keys on. */
  def linkAgainstLoadedIndex(exVariants: DataFrame, exStrings: DataFrame,
      incoming: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2, minLen: Int = 4, nBuckets: Int = 0): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"linkAgainstLoadedIndex: maxDist=$maxDist outside [1,3]")
    val inBase = incoming.select(col(idCol).as("id"), col(strCol).as("s"))
      .where(length(col("s")) >= minLen)
      .localCheckpoint(true) // feeds the expansion AND the verify join
    val inVar = deleteNeighborhood(inBase, maxDist)
      .localCheckpoint(true) // feeds the bucket collect, the bloom
      // build AND the candidate join — three consumers, one expansion
    val nInVar = inVar.count()
    // an empty batch or an empty index matches nothing: the empty side
    // becomes a plan-time empty relation, so no job scans the index.
    // Found empty only at runtime, an empty strings table ends the
    // query while the variants scan, no longer needed, keeps running
    // after the action has returned
    val gated = if (nInVar == 0 || exStrings.isEmpty) {
      exVariants.where(lit(false))
    } else {
      val bloom = Bloom.buildHashed(inVar, col("v"),
        expectedItems = nInVar, fpp = 0.01)
      val bloomed = exVariants
        .where(Bloom.mightContain(bloom, col("v")))
      if (nBuckets > 0) {
        // model-sized collect: ≤ nBuckets distinct ints
        val buckets = inVar
          .select(variantBucket(col("v"), nBuckets).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        bloomed.where(col("bucket").isInCollection(buckets))
      } else bloomed
    }
    val cand = inVar
      .join(gated.select(col("v"), col("id").as("ex_id")), Seq("v"))
      .select(col("id"), col("ex_id"))
      .distinct()
    cand
      .join(inBase.select(col("id"), col("s").as("__sa")), Seq("id"))
      .join(exStrings.select(col("id").as("ex_id"), col("s").as("__sb")),
        Seq("ex_id"))
      .select(col("id"), col("ex_id"),
        levenshtein(col("__sa"), col("__sb"), maxDist).as("dist"))
      .where(col("dist") >= 0)
  }
}
