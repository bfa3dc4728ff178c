package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the RefinedWeb/MassiveText
  * recipe as ONE composable manifest query (Rae et al. 2021 §A1;
  * Penedo et al. 2023): quality gate → exact dedup → near-dedup →
  * benchmark decontamination → robust length-outlier cut, each stage
  * judged ONLY among the previous stage's survivors (the production
  * ordering: don't pay near-dup pair generation for documents quality
  * already rejected).
  *
  * The output is an audit MANIFEST, not a filtered corpus: one row per
  * training document with every stage's verdict, so a pipeline owner
  * can re-cut any threshold and attribute every loss. Stage flags are
  * NULL for documents an earlier stage already dropped (that stage
  * never evaluated them) — `kept` itself is never NULL.
  *
  * Scale shape: every stage is an already-probed operator —
  * [[TextAnalysis.gopherQuality]] (scan + combiner agg),
  * [[TextAnalysis.fingerprint]] exact dedup (hash groupBy),
  * [[Dedup.winnowPairs]] + [[Dedup.clusters]] (bounded-df pair join +
  * (id, label)-only propagation), [[Dedup.contaminationFraction]]
  * (broadcast bench spans), [[Quantiles.robustZ]] (per-language window
  * medians). Later stages run on strictly shrinking survivor sets.
  */
object Pipeline {

  /** The per-document survival manifest. `train`/`bench` must share
    * `idCol`/`textCol`; `bench` is only read for its contamination
    * spans. Output: (id, lang, n_tokens, ok_quality, exact_dup,
    * near_dup, contamination, contaminated, z, len_outlier, kept). */
  def corpusPrep(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, langCol: String, contaminationMax: Double = 0.2,
      winnowMinShared: Long = 2L, winnowMaxDf: Long = 50L): DataFrame = {
    val base = train.select(col(idCol).as("id"), col(langCol).as("lang"),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
      col(textCol).as("__text"))

    // Each stage's verdict is a TINY (id, flag) table consumed by both
    // the next stage and the final manifest join — checkpoint it so the
    // heavy text-scan subtree behind it executes ONCE, not once per
    // downstream consumer (uncheckpointed, the manifest plan re-derives
    // the quality scan ~6x and the probe measured a scale-INDEPENDENT
    // ~15 s of pure recompute+latency).
    // stage 1 — rule-based quality
    val quality = TextAnalysis.gopherQuality(train, idCol, textCol)
      .select(col("id"), col("gopher_pass").as("ok_quality"))
      .localCheckpoint(true)
    val s1 = base.join(quality.where(col("ok_quality")), Seq("id"))

    // stage 2 — exact dedup on the canonical-form fingerprint
    val fp = s1.select(col("id"),
      TextAnalysis.fingerprint(col("__text")).as("__fp"))
    val keeper = fp.groupBy("__fp").agg(min("id").as("__keep"))
    val exactFlag = fp.join(keeper, Seq("__fp"))
      .select(col("id"), (col("id") =!= col("__keep")).as("exact_dup"))
      .localCheckpoint(true)
    val s2 = s1.join(exactFlag.where(!col("exact_dup")), Seq("id"))

    // stage 3 — winnowing near-dedup, smallest id per component survives
    val pairs = Dedup.winnowPairs(
      s2.select(col("id").as(idCol), col("__text").as(textCol)),
      idCol, textCol, k = 3, w = 4, minShared = winnowMinShared,
      maxDf = winnowMaxDf)
    val comp = Dedup.clusters(pairs)
    val nearFlag = s2.select(col("id"))
      .join(comp.select(col("id"), col("cluster")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("id") =!= col("cluster"), lit(false)).as("near_dup"))
      .localCheckpoint(true)
    val s3 = s2.join(nearFlag.where(!col("near_dup")), Seq("id"))

    // stage 4 — benchmark decontamination (distinct 3-gram spans)
    val contFlag = Dedup.contaminationFraction(
        s3.select(col("id"),
          TextAnalysis.shingles(col("__text"), 3).as("__sh")),
        bench.select(TextAnalysis.shingles(col(textCol), 3).as("__sh")),
        "id", "__sh")
      .select(col("id"), col("contamination"),
        coalesce(col("contamination") > contaminationMax, lit(false))
          .as("contaminated"))
      .localCheckpoint(true)
    val s4 = s3.join(contFlag.where(!col("contaminated")), Seq("id"))

    // stage 5 — per-language robust length outliers among survivors
    val zFlag = Quantiles.robustZ(
        s4.select(col("id"), col("lang"), col("n_tokens")),
        Seq("lang"), col("n_tokens"))
      .select(col("id"), col("z"), col("outlier").as("len_outlier"))
      .localCheckpoint(true)

    base.select(col("id"), col("lang"), col("n_tokens"))
      .join(quality, Seq("id"))
      .join(exactFlag, Seq("id"), "left")
      .join(nearFlag, Seq("id"), "left")
      .join(contFlag, Seq("id"), "left")
      .join(zFlag, Seq("id"), "left")
      .withColumn("kept", coalesce(
        col("ok_quality") && !col("exact_dup") && !col("near_dup") &&
          !col("contaminated") && !col("len_outlier"),
        lit(false)))
  }

  /** Session-scoped memo of [[corpusPrep]] manifests — the five-stage
    * manifest is DETERMINISTIC for a given input (every stage is
    * hash/id-ordered, no RNG), so two queries over the same snapshot
    * (the x96 audit view and the x142 manifest-driven export) can
    * legitimately share one materialized result instead of each
    * paying the full sequential propagation + stage-checkpoint cost
    * (~7-8 s at sf0.1, the bench's only real fixed cost, previously
    * paid twice). Keyed by (applicationId, caller key + every
    * threshold argument, PLUS the semantic hash of both input plans):
    * the applicationId scopes localCheckpoint blocks to the session
    * that owns them; the plan hashes fingerprint the actual inputs, so
    * two calls that reuse a caller-supplied `cacheKey` against
    * DIFFERENT train/bench frames miss the cache instead of silently
    * serving the first call's manifest. (The hash canonicalizes the
    * logical plan — two reads of the same table path still share one
    * entry.) Bounded: one manifest (~1 row/doc, ids+flags only) per
    * distinct corpus a session touches ([[Memo]] holds the
    * mechanism). */
  def corpusPrepCached(cacheKey: String, train: DataFrame,
      bench: DataFrame, idCol: String, textCol: String, langCol: String,
      contaminationMax: Double = 0.2, winnowMinShared: Long = 2L,
      winnowMaxDf: Long = 50L): DataFrame = {
    val inputFp = // canonicalized-plan fingerprint of BOTH inputs
      s"${train.queryExecution.analyzed.semanticHash()}|" +
        s"${bench.queryExecution.analyzed.semanticHash()}"
    Memo.cached(train.sparkSession,
      s"corpusPrep|$cacheKey|$inputFp|$idCol|$textCol|$langCol|" +
        s"$contaminationMax|$winnowMinShared|$winnowMaxDf")(
      corpusPrep(train, bench, idCol, textCol, langCol, contaminationMax,
        winnowMinShared, winnowMaxDf))
  }

  /** The manifest columns a [[saveManifest]]/[[loadManifest]] round
    * trip preserves — the [[corpusPrep]] output contract, pinned so a
    * reader of a stale or foreign parquet directory fails loudly
    * instead of silently serving a different table shape. */
  private val manifestCols = Seq("id", "lang", "n_tokens", "ok_quality",
    "exact_dup", "near_dup", "contamination", "contaminated", "z",
    "len_outlier", "kept")

  /** Persist a [[corpusPrep]] manifest as parquet — the durable arm of
    * [[corpusPrepCached]]'s session memo (the [[Ivf.saveModel]]
    * lifecycle discipline applied to the manifest): the Memo's
    * localCheckpoint blocks are executor-storage-scoped and die with
    * the session, so a pipeline that re-cuts thresholds TOMORROW
    * re-pays the full five-stage propagation unless the manifest was
    * written down. The manifest is ids+flags only (~1 row/doc, no
    * text), so the write is corpus-ROW-sized, not corpus-BYTE-sized —
    * at 100 TB of text this is a few GB of parquet. Deterministic by
    * construction (every stage hash/id-ordered, no RNG), so the saved
    * artifact equals a recompute bit-for-bit and the round trip is
    * oracle-checkable against the in-line manifest's own oracle. */
  def saveManifest(manifest: DataFrame, path: String): Unit = {
    require(manifestCols.forall(manifest.columns.contains),
      s"not a corpusPrep manifest: has ${manifest.columns.toSeq}, " +
        s"needs $manifestCols")
    manifest.select(manifestCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveManifest]] parquet; schema-validated loudly. A
    * restarted session calls this instead of re-running the pipeline —
    * every manifest consumer (x96's audit view, x142's export,
    * [[stageReport]]) reads it unchanged. */
  def loadManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val m = spark.read.parquet(path)
    require(manifestCols.forall(m.columns.contains),
      s"$path is not a corpusPrep manifest: has ${m.columns.toSeq}, " +
        s"needs $manifestCols")
    m.select(manifestCols.map(col): _*)
  }

  /** One-row DATASET CARD — the corpus summary a release ships next to
    * the data (Gebru et al. 2021's "datasheets" reduced to the
    * mechanically-derivable row): size, diversity, exact-duplication
    * and rule-quality yield, each from an already-probed operator
    * ([[TextAnalysis.tokenCount]] scan, [[TextAnalysis.fingerprint]]
    * hash groupBy, [[TextAnalysis.gopherQuality]] combiner agg). Three
    * one-row aggregates cross-joined — no window, no pairwise stage;
    * at 100 TB this is three scans (or one, if the caller caches the
    * projection).
    * Output: (n_docs, n_tokens, n_langs, n_sources, mean_tokens,
    * n_exact_dup, n_quality_pass). */
  def datasetCard(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
      col(sourceCol).as("source"),
      TextAnalysis.tokenCount(col(textCol)).as("nt"))
    val overall = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      (sum(col("nt")).cast("double") / count(lit(1)).cast("double"))
        .as("mean_tokens"))
    val fp = docs.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val dups = fp
      .join(fp.groupBy("fp").agg(min(col("id")).as("keep")), Seq("fp"))
      .agg(sum(when(col("id") =!= col("keep"), 1L).otherwise(0L))
        .as("n_exact_dup"))
    val qual = TextAnalysis.gopherQuality(docs, idCol, textCol)
      .agg(sum(when(col("gopher_pass"), 1L).otherwise(0L))
        .as("n_quality_pass"))
    overall.crossJoin(dups).crossJoin(qual)
  }

  /** Per-stage yield report over a [[corpusPrep]] manifest — the one
    * row a pipeline owner actually watches: how many documents each
    * stage dropped and how many survived. NULL stage flags (documents
    * an earlier stage already dropped) count toward their dropping
    * stage only, so the columns sum to n_docs exactly:
    * n_docs = n_quality_fail + n_exact_dup + n_near_dup +
    * n_contaminated + n_len_outlier + n_kept. One combiner-bounded
    * aggregate; no second pipeline run. */
  def stageReport(manifest: DataFrame): DataFrame =
    manifest.agg(
      count(lit(1)).as("n_docs"),
      sum(when(!col("ok_quality"), 1L).otherwise(0L)).as("n_quality_fail"),
      sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
      sum(when(col("near_dup"), 1L).otherwise(0L)).as("n_near_dup"),
      sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
      sum(when(col("len_outlier"), 1L).otherwise(0L)).as("n_len_outlier"),
      sum(col("kept").cast("long")).as("n_kept"))
  /** Train/valid/test split LEAKAGE audit: how many near-duplicate
    * pairs STRADDLE a split boundary — the contamination a random
    * document-level split silently builds into evaluation (a test doc
    * whose near-twin sits in train measures memorization, not
    * generalization; Lee et al. 2022 measure exactly this). Pairs
    * come from the exact prefix+positional Jaccard join
    * ([[Dedup.jaccardPairsPrefix]], recall 1 at the threshold);
    * split assignment is [[Sampling.hashSplit]]'s pure hash — the
    * audit is deterministic end to end and re-derivable by any
    * engine. One summary row: total near-dup pairs, boundary-crossing
    * pairs, the train↔test subset (the harmful ones), and the
    * crossing rate.
    * Output: (n_pairs, n_cross, n_train_test, leak_rate). */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
      trainPerMille: Int = 800, validPerMille: Int = 100,
      threshold: Double = 0.6): DataFrame = {
    val sh = docs.select(col(idCol),
      TextAnalysis.shingles(col(textCol), 3).as("__sh"))
    val pairs = Dedup.jaccardPairsPrefix(sh, idCol, "__sh", threshold)
    val split = Sampling.hashSplit(docs.select(col(idCol)), col(idCol),
      trainPerMille, validPerMille)
    val sa = split.select(col(idCol).as("d1"), col("split").as("split_a"))
    val sb = split.select(col(idCol).as("d2"), col("split").as("split_b"))
    pairs.join(sa, Seq("d1")).join(sb, Seq("d2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .as("n_cross"),
        sum(when((col("split_a") === "train" && col("split_b") === "test")
            || (col("split_a") === "test" && col("split_b") === "train"),
          1L).otherwise(0L)).as("n_train_test"),
        when(count(lit(1)) > 0,
          sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)).cast("double"))
          .otherwise(lit(0.0)).as("leak_rate"))
  }
}
