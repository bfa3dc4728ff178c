package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Similarity search over an embedding column (`array<float>`).
  *
  * Literature anchors (PAPERS.md): distributed top-k similarity search
  * partitions candidates so each worker prunes against a local reference
  * (REPOSE, ICDE 2021); interactive/incremental top-k reuses partial
  * results across queries (EDBT 2020); adaptive indexing pays index cost
  * only for hot regions (SIGMOD 2020 "Continuously Adaptive Similarity
  * Search"). The LSH tier below follows the same principle — prune
  * globally with cheap signatures, pay exact cost only inside buckets.
  *
  * Two tiers:
  *  - [[bruteTopK]] / [[nearDupPairs]] — exact cosine, O(|Q|·n) / O(n²)
  *    pairwise; the correctness baseline. Norms are precomputed once per
  *    side so the join computes one fused dot product per pair.
  *  - [[lshTopK]] — random-hyperplane LSH bucketing: candidates share a
  *    signature band, so cost is Σ bucket², not n². The hyperplanes are
  *    derived deterministically from xxhash64 (no RNG, reproducible across
  *    runs/executors) — at 100 TB this is the path: signatures at scan
  *    speed, one shuffle on small band keys.
  */
object Similarity {

  private def withNorm(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id), VectorOps.toDouble(col(vec)).as(vec),
      VectorOps.norm2(col(vec)).as("__n2"))

  /** Exact top-k cosine neighbors for each query row. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol)
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "qv")
      .withColumnRenamed("__n2", "qn")
    val c = withNorm(corpus, idCol, vecCol)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(vecCol, "cv")
      .withColumnRenamed("__n2", "cn")
    val pairs = q.crossJoin(c).where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorOps.cosineWithNorms(
        VectorOps.dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Query-set ANN evaluation: recall@k of the IVF index
    * ([[Ivf.ivfTopK]]) against exact brute-force ground truth
    * ([[bruteTopK]]) for a whole query TABLE in one pass each — the
    * index-quality measurement a production ANN deployment runs before
    * trusting its nprobe/nlist sizing. Per query: the exact top-k set,
    * how many of its members the index retrieved, and their ratio.
    *
    * Scale shape: the approximate side is one corpus scan (cell
    * assignment) + the probe join; the exact side is the |Q|×N
    * brute-force pair scan — ground truth is inherently exact, so the
    * evaluation is for SMALL query samples (|Q| ≪ N), exactly how
    * recall is estimated in practice. The hit join and per-query agg
    * move k·|Q| rows. `recall` is one double division of exact longs
    * at the boundary (the x64 rule: count ratios don't tie).
    * Output: (query_id, n_exact, n_hit, recall). */
  def annRecallAtK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val approx = Ivf.ivfTopK(queries, corpus, idCol, vecCol, k, nlist, nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    val exact = bruteTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Matryoshka truncation-recall curve (Kusupati et al. NeurIPS'22
    * MRL, public evaluation shape): for each prefix dimension d, the
    * recall@k of cosine search over vectors TRUNCATED to their first
    * d components against full-dimension ground truth — the
    * embedding-dimension budget curve ("how many dims do retrieval
    * and near-dedup actually need") that decides index size and scan
    * cost at 100 TB. Evaluation uses [[bruteTopK]] on both sides for
    * a SMALL query sample (|Q| ≪ N, the x87 discipline); the
    * production path runs the same sliced vectors through the IVF
    * machinery. Output: (dim, n_exact, n_hit, recall) — recall is one
    * double division of exact longs; the full dimension anchors at
    * exactly 1. */
  def truncationRecall(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), s"bad dims $dims")
    val full = bruteTopK(emb.where(queryPred), emb, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    dims.map { d =>
      val tq = emb.where(queryPred)
        .select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val tc = emb.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val topd = bruteTopK(tq, tc, idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      full.join(topd, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
        .select(lit(d.toLong).as("dim"), col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Exact cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold). */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("id_a"), col(vecCol).as("va"), col("__n2").as("na"))
    val b = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("__n2").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorOps.cosineWithNorms(
        VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Deterministic pseudo-random hyperplane (splitmix64-derived, no RNG —
    * reproducible across runs and executors). `maxDim` just needs to be
    * ≥ the embedding dimension; the dot product uses the shorter length. */
  private def plane(p: Int, maxDim: Int): Seq[Double] =
    Seq.tabulate(maxDim) { i =>
      val m = graft.functions.expressions.MinHashSignature.mix(
        (p.toLong << 32) | (i.toLong & 0xFFFFFFFFL))
      m.toDouble / Long.MaxValue.toDouble
    }

  /** The full plane matrix for `bands` bands of `bits` sign bits — rows
    * feed [[graft.functions.expressions.LshBandKeys]], ONE compact
    * codegen loop per row instead of bands×bits inlined dot-product
    * expressions (which blow the whole-stage-codegen method budget at
    * auto-sized widths and silently fall back to interpreted
    * evaluation — measured ~7 s vs sub-second for 80k keys). */
  private def planeMatrix(bands: Int, bits: Int,
      maxDim: Int): Array[Array[Double]] =
    Array.tabulate(bands * bits)(p => plane(p, maxDim).toArray)

  /** LSH-bucketed approximate neighbor pairs: `bands` signatures of
    * `bitsPerBand` hyperplane sign bits each; pairs sharing any band
    * bucket are scored exactly, others are never compared.
    *
    * `flipBits > 0` turns on MULTI-PROBE: one side of the candidate
    * join additionally emits every bucket key at Hamming distance 1 in
    * the first `flipBits` signature bits, so pairs whose signatures
    * disagree in a single probed bit still become candidates — recall
    * rises without adding bands (i.e. without re-hashing or more state),
    * at the cost of `flipBits`× more rows on ONE side of the
    * ids-only candidate join. Precision is untouched: every candidate
    * still passes the exact cosine verification. The expansion is
    * one-sided, which suffices — for any pair, the lower id's probe
    * set covers the higher id's original key. */
  /** SemDeDup-style semantic dedup (Abbas et al., 2023, from the public
    * algorithm): partition the embedding space into coarse cells (the
    * deterministic IVF seed quantizer — cosine-nearest of the nCells
    * smallest-id vectors, a zero-exchange codegen scan), then prune
    * cosine near-duplicates WITHIN each cell. Cross-cell pairs are never
    * compared — that is the algorithm's definition and its cost model:
    * candidate work is Σ cell² instead of n², the quadratic-taming
    * analog of LSH banding but in embedding space, where "same cell"
    * is itself a semantic statement.
    *
    * Shape: candidate generation shuffles (cid, id) rows only; vectors
    * re-attach by id for the exact cosine verify; survivors are the
    * smallest id per connected component of verified pairs
    * ([[Dedup.clusters]]). Returns (id, keep_id) for
    * EVERY input row — keep_id == id means the row survives; a dropped
    * row points at the member of its semantic group that replaces it. */
  /** Sizing: `centroids` (a trained [[Ivf.train]] quantizer — Lloyd
    * refinement balances cells, which bounds the per-cell constant) wins
    * over `nCells` (the pinned-oracle form) wins over the DEFAULT —
    * [[autoNCells]] of a one-off ids-only count, which holds EXPECTED
    * cell size at `targetCellSize` as the corpus grows. At a fixed cell
    * count, within-cell candidate work is n²/k — quadratic; at fixed
    * cell SIZE it is n·targetCellSize — linear. The round-6 sf1-equiv
    * probe measured exactly this failure on the LSH analog (8.8× work
    * for 10× rows at fixed width), so the scale-safe sizing is the
    * default and fixed k is the opt-in. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Option[Int] = None,
      centroids: Option[Ivf.Centroids] = None,
      targetCellSize: Long = DefaultCellSize,
      assignment: Option[DataFrame] = None,
      flatAutoCells: Int = FlatAutoCells,
      model: Option[Ivf.Model] = None,
      maxPlanCells: Int = MaxAutoCells,
      hotFactor: Option[Long] = None): DataFrame = {
    require(hotFactor.isEmpty || assignment.isEmpty,
      "hotFactor splits the quantizer's cells; a precomputed " +
        "assignment carries no vectors to split on — compose " +
        "Ivf.splitHotCells yourself and pass its struct(cid, sub) key")
    // `assignment` ((id, cid), any precomputed partition) wins over
    // everything — the operator only ever needs the cell partition,
    // not how it was drawn; then an explicit `model` (any quantizer
    // shape), then centroids/nCells (the pinned flat forms); the
    // DEFAULT auto-sizes K UNCLAMPED and escalates flat → two-level →
    // fine-as-data by [[autoAssign]]. `hotFactor = Some(f)` closes
    // observe→adapt in ONE call: the chosen quantizer's assignment is
    // post-processed by [[Ivf.splitHotCells]] (cells measured past
    // f × targetCellSize sub-quantize to fixpoint), so a clustered
    // corpus pays Σ cell² on the MEASURED cells, not the expectation
    val assigned = assignment.map(_.select(col("id"), col("cid")))
      .getOrElse {
        val resolved: Option[Ivf.Model] = model
          .orElse(centroids.map(Ivf.FlatModel))
          .orElse(nCells.map(k =>
            Ivf.FlatModel(Ivf.train(emb, idCol, vecCol, k))))
        val raw = resolved match {
          case Some(m) => Ivf.assignModel(emb, idCol, vecCol, m)
          case None =>
            val k = ceilDiv(
              emb.select(col(idCol)).count(), targetCellSize)
            autoAssign(emb, Seq(emb), idCol, vecCol, k, flatAutoCells,
              maxPlanCells).head
        }
        hotFactor match {
          case Some(f) =>
            Ivf.splitHotCells(raw, targetCellSize, f)
              .select(col("neighbor_id").as("id"),
                struct(col("cid"), col("sub")).as("cid"))
          case None =>
            raw.select(col("neighbor_id").as("id"), col("cid"))
        }
      }
    val cand = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val vd = withNorm(emb, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("__n2").as("n2"))
    val va = vd.select(col("id").as("id_a"), col("v").as("va"),
      col("n2").as("na"))
    val vb = vd.select(col("id").as("id_b"), col("v").as("vb"),
      col("n2").as("nb"))
    val pairs = cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", VectorOps.cosineWithNorms(
        VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"))
    val comp = Dedup.clusters(pairs)
      .withColumnRenamed("cluster", "keep_id")
    emb.select(col(idCol).as("id")).distinct()
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("keep_id"), col("id")).as("keep_id"))
  }

  /** Incremental semantic admission — [[semanticDedup]]'s production
    * ingestion shape, mirroring [[Dedup.dedupAgainstCorpus]]: drop
    * incoming rows whose embedding is cosine-near an EXISTING row in
    * the same coarse cell; returns the surviving incoming rows. The
    * quantizer (seed cells) is built on the EXISTING corpus only and
    * applied unchanged to both sides — an incoming batch must not move
    * the cell boundaries it is judged against, which is also what makes
    * the operator streaming-safe (per micro-batch, fixed index).
    * Candidates are incoming × existing within a cell, ids-only through
    * the shuffle; incoming-internal duplicates are [[semanticDedup]]'s
    * job. Pass `centroids` (trained once via [[Ivf.train]]) when the
    * SAME quantizer must judge many calls — the cross-batch streaming
    * sink does exactly this, so admitted rows can join the judging side
    * without moving the boundaries. Sizing otherwise follows
    * [[semanticDedup]]: explicit `nCells` or the [[autoNCells]]
    * default. */
  def semanticAdmit(existing: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nCells: Option[Int] = None,
      centroids: Option[Ivf.Centroids] = None,
      targetCellSize: Long = DefaultCellSize,
      flatAutoCells: Int = FlatAutoCells,
      model: Option[Ivf.Model] = None,
      maxPlanCells: Int = MaxAutoCells): DataFrame = {
    val resolved: Option[Ivf.Model] = model
      .orElse(centroids.map(Ivf.FlatModel))
      .orElse(nCells.map(k =>
        Ivf.FlatModel(Ivf.train(existing, idCol, vecCol, k))))
    val (exRaw, inRaw) = resolved match {
      case Some(m) => (Ivf.assignModel(existing, idCol, vecCol, m),
        Ivf.assignModel(incoming, idCol, vecCol, m))
      case None =>
        val k = ceilDiv(
          existing.select(col(idCol)).count(), targetCellSize)
        val both = autoAssign(existing, Seq(existing, incoming),
          idCol, vecCol, k, flatAutoCells, maxPlanCells)
        (both(0), both(1))
    }
    val exA = exRaw.select(col("neighbor_id").as("ex_id"), col("cid"))
    val inA = inRaw.select(col("neighbor_id").as("in_id"), col("cid"))
    val cand = inA.join(exA, Seq("cid")).select(col("in_id"), col("ex_id"))
    val ex = withNorm(existing, idCol, vecCol)
      .select(col(idCol).as("ex_id"), col(vecCol).as("ve"),
        col("__n2").as("ne"))
    val in = withNorm(incoming, idCol, vecCol)
      .select(col(idCol).as("in_id"), col(vecCol).as("vi"),
        col("__n2").as("ni"))
    val dupIds = cand.join(in, "in_id").join(ex, "ex_id")
      .where(VectorOps.cosineWithNorms(
        VectorOps.dot(col("vi"), col("ve")), col("ni"), col("ne"))
        >= threshold)
      .select(col("in_id")).distinct()
    incoming.join(dupIds.withColumnRenamed("in_id", idCol), Seq(idCol),
      "left_anti")
  }

  /** Occupancy-aware band width: the bitsPerBand that keeps EXPECTED
    * bucket occupancy (n / 2^bits per band) at or under
    * `targetOccupancy`. Candidate-join work per band is Σ occupancy² ≈
    * n·occupancy, so holding occupancy constant as the corpus grows is
    * what makes LSH cost LINEAR in rows — at fixed bits it grows with
    * occupancy instead (the measured 8.8× at the round-6 sf1-equivalent
    * probe vs 1.8× at sf0.1 is exactly this). Wider bands are stricter
    * per band (recall per band drops); compensate with more `bands` or
    * `flipBits` multi-probe, both of which add linear work, never
    * quadratic. Clamped to [4, 30] bits; pure function of the
    * already-known corpus count, so callers pay no extra job if they
    * track row counts (or one ids-only count if not). */
  /** Overflow-safe ⌈n / d⌉ — `n + d - 1` wraps negative near
    * Long.MaxValue and would silently size for a corpus of 1. */
  private def ceilDiv(n: Long, d: Long): Long =
    n / d + (if (n % d == 0) 0L else 1L)

  def autoBitsPerBand(n: Long, targetOccupancy: Long = 16L): Int = {
    require(n > 0 && targetOccupancy > 0, "counts must be positive")
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, ceilDiv(n, targetOccupancy)) - 1)
    math.min(30, math.max(4, needed))
  }

  /** Default EXPECTED cell size for the auto-sized semantic quantizer.
    * Within-cell candidate work per row is one cell's worth of cosines,
    * so this is the knob that trades pruning sharpness (smaller cells
    * compare less, and miss more borderline cross-cell pairs) against
    * per-cell cost; the CHOICE that matters for scale is that cell size
    * is held constant — cell COUNT grows with the corpus. */
  val DefaultCellSize: Long = 128L

  /** Ceiling on auto-derived cell counts: the centroid set is a
    * driver-resident plan constant (nCells × dim doubles) and the
    * flat argmax assignment is O(nCells) per row, so past this point
    * a bigger corpus should raise `targetCellSize` (or train a
    * coarser quantizer explicitly) rather than widen the plan. */
  val MaxAutoCells: Int = 1 << 16

  /** Above this auto-derived cell count, the AUTO path trains the
    * TWO-LEVEL quantizer ([[Ivf.trainTwoLevel]], nCoarse = nFine = ⌈√K⌉)
    * instead of the flat one: per-row assignment stays O(√K) centroid
    * dots instead of O(K), so growing the corpus (and with it K) no
    * longer grows the scan cost super-linearly. The K·dim centroid plan
    * constant is what [[MaxAutoCells]] still bounds. */
  val FlatAutoCells: Int = 4096

  /** The auto-sized quantizer for an UNCLAMPED cell count `k`, trained
    * on `source` — three tiers, each the cheapest shape that still
    * scales at that K:
    *  - k ≤ `flatLimit` ([[FlatAutoCells]]): flat seed cells — O(K)
    *    per-row argmax, K·dim plan constant.
    *  - k ≤ `maxPlanCells` ([[MaxAutoCells]]): plan-constant two-level
    *    quantizer — O(√K) per-row dots, (√K + K)·dim plan constant.
    *  - k > `maxPlanCells`: [[Ivf.trainTwoLevelAsData]] — the fine
    *    level lives in a TABLE (one ccid-join per assignment), so
    *    neither the plan nor the driver ever holds K·dim values and
    *    expected cell size stays at target INSTEAD of clamping upward.
    * One trained model serves every target — the admission shape
    * requires judged and judging sides to share cell boundaries. */
  def autoModel(source: DataFrame, idCol: String, vecCol: String,
      k: Long, flatLimit: Int = FlatAutoCells,
      maxPlanCells: Int = MaxAutoCells): Ivf.Model =
    if (k <= flatLimit)
      Ivf.FlatModel(Ivf.train(source, idCol, vecCol,
        math.max(1L, k).toInt))
    else {
      val side = math.ceil(math.sqrt(k.toDouble)).toInt
      if (k <= maxPlanCells)
        Ivf.trainTwoLevel(source, idCol, vecCol, side, side)
      else
        Ivf.trainTwoLevelAsData(source, idCol, vecCol, side, side)
    }

  /** [[autoModel]] trained on the existing corpus with the default
    * occupancy sizing — the one-call form the streaming admission sink
    * uses at query start. */
  def autoModelFor(source: DataFrame, idCol: String, vecCol: String,
      targetCellSize: Long = DefaultCellSize,
      flatLimit: Int = FlatAutoCells,
      maxPlanCells: Int = MaxAutoCells): Ivf.Model =
    autoModel(source, idCol, vecCol,
      ceilDiv(source.select(col(idCol)).count(), targetCellSize),
      flatLimit, maxPlanCells)

  private def autoAssign(source: DataFrame, targets: Seq[DataFrame],
      idCol: String, vecCol: String, k: Long, flatLimit: Int,
      maxPlanCells: Int): Seq[DataFrame] = {
    val m = autoModel(source, idCol, vecCol, k, flatLimit, maxPlanCells)
    targets.map(t => Ivf.assignModel(t, idCol, vecCol, m))
  }

  /** Occupancy-preserving cell count: `n / targetCellSize`, clamped to
    * [1, [[MaxAutoCells]]] — the PLAN-CONSTANT-sized helper for callers
    * that need an Int cell count to embed. The semantic family's auto
    * path no longer routes through this clamp: past [[MaxAutoCells]],
    * [[autoModel]] escalates to the fine-as-data two-level quantizer
    * ([[Ivf.trainTwoLevelAsData]]), which keeps expected cell size at
    * target with no K-sized plan constant at any K. */
  def autoNCells(n: Long, targetCellSize: Long = DefaultCellSize): Int = {
    require(n > 0 && targetCellSize > 0, "counts must be positive")
    val k = ceilDiv(n, targetCellSize)
    if (k > MaxAutoCells)
      // stderr, not stdout — Bench's stdout must stay one JSON line
      System.err.println(s"[graft.Similarity] autoNCells($n) clamped to " +
        s"$MaxAutoCells; expected cell size is ${n / MaxAutoCells}, not " +
        s"$targetCellSize — use autoModel/semanticDedup's auto path, " +
        "which escalates to the fine-as-data two-level quantizer instead")
    math.min(MaxAutoCells.toLong, math.max(1L, k)).toInt
  }

  /** Occupancy distribution of a quantizer/bucketing column — the
    * telemetry behind the auto-sizing decisions. `sumSqOcc` (Σ occ²)
    * IS the candidate-pair work a same-cell self-join generates, so a
    * skewed corpus is loud here instead of silently slow. p50/p99 are
    * DISCRETE inverse-CDF percentiles (the occupancy at sorted rank
    * ⌈p·cells⌉) — integer-exact, so the telemetry itself sits under a
    * cross-engine oracle with no interpolation to disagree about. At
    * most one row per cell reaches the agg, bounded by the cell-count
    * clamps, never by corpus size; the single-partition rank window is
    * over those ≤[[MaxAutoCells]] rows only. */
  case class CellStats(cells: Long, rows: Long, p50Occ: Long,
      p99Occ: Long, maxOcc: Long, sumSqOcc: BigInt)

  /** One-row DataFrame form of [[cellStats]] — query-shaped, so the
    * telemetry itself sits under the SQL oracle. `sum_sq_occ` crosses
    * the query boundary as DOUBLE (exact to 2^53 — decimal columns at
    * the oracle boundary are a known cross-engine hash hazard); the
    * [[cellStats]] value form keeps the full DECIMAL(38,0) exactness. */
  def cellStatsDf(assigned: DataFrame, cellCol: String): DataFrame =
    cellStatsExact(assigned, cellCol)
      .withColumn("sum_sq_occ", col("sum_sq_occ").cast("double"))

  private def cellStatsExact(assigned: DataFrame, cellCol: String): DataFrame = {
    val ranked = assigned.groupBy(col(cellCol)).agg(count(lit(1)).as("occ"))
      .select(col("occ"),
        row_number().over(Window.orderBy(col("occ"))).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("total"))
    ranked.agg(
      coalesce(max(col("total")), lit(0L)).as("cells"),
      coalesce(sum(col("occ")), lit(0L)).as("n_rows"),
      coalesce(max(when(col("rn") === ceil(col("total") * lit(0.5d)),
        col("occ"))), lit(0L)).as("p50_occ"),
      coalesce(max(when(col("rn") === ceil(col("total") * lit(0.99d)),
        col("occ"))), lit(0L)).as("p99_occ"),
      coalesce(max(col("occ")), lit(0L)).as("max_occ"),
      // occ² in DECIMAL(38,0): a single cell past ~3.04e9 rows would
      // overflow long·long silently — exactly the skew-dominated
      // regime this telemetry gates on. occ ≤ Long.Max ⇒ occ² < 8.5e37
      // fits precision 38 exactly, and Σocc² ≤ (Σocc)² stays inside it
      coalesce(sum(col("occ").cast(org.apache.spark.sql.types
          .DecimalType(38, 0)) * col("occ")),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("sum_sq_occ"))
  }

  def cellStats(assigned: DataFrame, cellCol: String): CellStats = {
    val r = cellStatsExact(assigned, cellCol).first()
    CellStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), BigInt(r.getDecimal(5).toBigInteger))
  }

  /** The (id, bkey) banded signature rows [[lshNearDupPairs]] joins on —
    * exposed for occupancy telemetry ([[cellStats]] over `bkey` measures
    * the REAL bucket distribution, which on clustered embeddings is
    * skew-dominated and can sit far from the uniform expectation the
    * bits sizing assumes). */
  private[graft] def bandKeysFor(df: DataFrame, idCol: String,
      vecCol: String, bands: Int, bits: Int, maxDim: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.expressions.VectorExpressions.lshBandKeys(
          VectorOps.toDouble(col(vecCol)),
          planeMatrix(bands, bits, maxDim), bands, bits)).as("bkey"))

  /** Skew-adaptive band keys: measure the REAL bucket occupancy of the
    * base signature, then extend the keys of rows in HOT buckets
    * (measured occupancy > hotFactor × target) with extra sign bits —
    * hot buckets only, sized from the measured maximum. This is the
    * observe→adapt closure over [[cellStats]]-style telemetry: the
    * uniform expectation behind [[autoBitsPerBand]] under-splits
    * clustered corpora (the builder's own skew-dominated caveat), and
    * extra GLOBAL bits would tax every row for a few buckets' sin.
    *
    * Returns (keyed rows (id, bkey, ext), extraBits, engaged): cold
    * rows carry the sentinel ext = -1 (all-ones — unreachable by any
    * extraBits-wide signature or its probes), hot rows their extra-
    * plane signature, so sub-bucketing applies exactly where the
    * measurement demanded it. Deterministic end to end (planes are
    * splitmix64-derived; hotness is a pure function of the corpus).
    *
    * Cost: one ids+keys occupancy agg and (if anything is hot) one
    * extra codegen scan for the ext signature — both linear; the agg
    * is over bucket COUNTS, bounded by distinct keys, not rows. */
  private[graft] def adaptiveBandKeys(df: DataFrame, idCol: String,
      vecCol: String, bands: Int, bits: Int, maxDim: Int,
      targetOccupancy: Long, hotFactor: Long,
      maxExtraBits: Int): (DataFrame, Int, Boolean) = {
    val banded = bandKeysFor(df, idCol, vecCol, bands, bits, maxDim)
      .localCheckpoint()
    val occ = banded.groupBy(col("bkey")).agg(count(lit(1)).as("occ"))
      .localCheckpoint()
    val hotCut = hotFactor * targetOccupancy
    val maxOcc = occ.agg(coalesce(max(col("occ")), lit(0L)))
      .first().getLong(0)
    if (maxOcc <= hotCut)
      (banded.withColumn("ext", lit(-1L)), 0, false)
    else {
      // a UNIFORMLY-splitting hot bucket needs log2(maxOcc/target)
      // bits to land back at target — but a hot bucket is hot BECAUSE
      // its members correlate, so each extra plane splits it by its
      // pairwise sign-agreement (measured ~0.8 on blob corpora), not
      // by 1/2. Size 2x the uniform-sufficient bits; the cap bounds
      // the linear probe cost, the probes bound the recall cost
      val uniformBits = math.max(1,
        64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, ceilDiv(maxOcc, targetOccupancy)) - 1))
      val extraBits = math.min(maxExtraBits, 2 * uniformBits)
      val extPlanes = Array.tabulate(extraBits)(i =>
        plane(bands * bits + i, maxDim).toArray)
      val ext = df.select(col(idCol).as("id"),
        graft.functions.expressions.VectorExpressions.lshBandKeys(
          VectorOps.toDouble(col(vecCol)), extPlanes, 1, extraBits)
          .getItem(0).as("ext"))
      val hot = occ.where(col("occ") > hotCut).select(col("bkey"))
      val keyed = banded
        .join(hot.withColumn("__hot", lit(true)), Seq("bkey"), "left")
        .join(ext, Seq("id"))
        .select(col("id"), col("bkey"),
          when(col("__hot").isNotNull, col("ext"))
            .otherwise(lit(-1L)).as("ext"))
        .localCheckpoint()
      (keyed, extraBits, true)
    }
  }

  /** [[lshNearDupPairs]] with the skew-adaptive keys: identical to the
    * base operator when nothing is hot (it delegates), and otherwise
    * sub-buckets ONLY the hot buckets on `extraBits` extra hyperplane
    * sign bits, with one-sided single-bit multi-probe over those bits
    * so a hot-bucket pair survives any single extra-bit disagreement.
    * Precision is untouched (every candidate is exact-verified);
    * recall inside a split bucket is that of an (extraBits−1)-bit
    * agreement requirement under probing — the standard multi-probe
    * trade (Lv et al., VLDB'07, public technique) paid only where the
    * corpus measured hot.
    *
    * `probeRadius` is the RECALL knob: a hot-bucket pair survives iff
    * its extra-bit signatures are within Hamming distance
    * `probeRadius` (one-sided probing — only the probe side fans out).
    * The default 1 is the historical single-bit probe; raising it
    * widens recall monotonically (each radius' probe set contains the
    * last's) at a probe fan-out of Σ_{i≤r} C(extraBits, i) rows per
    * hot (id, band) — e.g. 17 at r=1, 137 at r=2 with 16 extra bits —
    * so callers who need a recall floor buy it with a measured, bounded
    * candidate cost (ScaleSpec asserts the monotone recall curve on a
    * clustered corpus). Cold buckets never pay. */
  def lshNearDupPairsAdaptive(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bands: Int = 4,
      bitsPerBand: Option[Int] = None, maxDim: Int = 512,
      targetOccupancy: Long = 16L, hotFactor: Long = 8L,
      maxExtraBits: Int = 16, probeRadius: Int = 1): DataFrame = {
    require(probeRadius >= 1 && probeRadius <= 4,
      "probeRadius must be in [1, 4] (probe fan-out is sum_{i<=r} C(extraBits, i))")
    val resolvedBits = bitsPerBand.getOrElse(autoBitsPerBand(
      df.select(col(idCol)).count(), targetOccupancy))
    val (keyed, extraBits, engaged) = adaptiveBandKeys(df, idCol, vecCol,
      bands, resolvedBits, maxDim, targetOccupancy, hotFactor,
      maxExtraBits)
    if (!engaged)
      lshNearDupPairs(df, idCol, vecCol, threshold, bands,
        Some(resolvedBits), maxDim)
    else {
      val vd = withNorm(df, idCol, vecCol)
        .select(col(idCol).as("id"), col(vecCol).as("v"),
          col("__n2").as("n2"))
      // XOR masks of Hamming weight <= probeRadius, weight-major then
      // numeric: mask 0 first, then the single bits ascending (the
      // historical r=1 order, so default output is byte-identical),
      // then pairs, ... — each radius' set is a prefix of the next's
      val masks: Seq[Long] = (0 to probeRadius).flatMap(w =>
        if (w == 0) Seq(0L)
        else (0 until extraBits).combinations(w)
          .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))).toSeq)
      val probed = keyed.select(col("id"), col("bkey"), explode(
        when(col("ext") === lit(-1L), array(col("ext")))
          .otherwise(array(masks.map(m =>
            col("ext").bitwiseXOR(lit(m))): _*))).as("ext"))
      val cand = probed.as("a").join(keyed.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.ext") === col("b.ext")
            && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val va = vd.select(col("id").as("id_a"), col("v").as("va"),
        col("n2").as("na"))
      val vb = vd.select(col("id").as("id_b"), col("v").as("vb"),
        col("n2").as("nb"))
      cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", VectorOps.cosineWithNorms(
          VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")))
        .where(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
  }

  /** `bitsPerBand = None` (the default) derives the band width from a
    * one-off ids-only corpus count via [[autoBitsPerBand]] — constant
    * expected bucket occupancy, so candidate work stays linear in rows.
    * Callers that already track corpus counts (or need the pinned-
    * oracle literals) pass `Some(bits)` and pay nothing. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 4,
      bitsPerBand: Option[Int] = None,
      maxDim: Int = 512, flipBits: Int = 0,
      targetOccupancy: Long = 16L): DataFrame = {
    val resolvedBits = bitsPerBand.getOrElse(autoBitsPerBand(
      df.select(col(idCol)).count(), targetOccupancy))
    require(flipBits >= 0 && flipBits <= resolvedBits,
      "flipBits must be in [0, bitsPerBand]")
    val vd = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("__n2").as("n2"))
    // candidate generation moves (id, bkey) only; vectors re-attach by
    // id. The banded frame is 16 bytes × bands × rows — materialize it
    // so the self-join (and the probe expansion) reads signatures once
    // instead of recomputing every projection on both sides
    val banded = bandKeysFor(df, idCol, vecCol, bands, resolvedBits, maxDim)
      .localCheckpoint()
    // probe side: the key itself plus its single-bit-flip neighbors
    // (band tag lives above bit 32, untouched by the low-bit flips)
    val probed =
      if (flipBits == 0) banded
      else banded.select(col("id"), explode(array(
        col("bkey") +: (0 until flipBits).map(i =>
          col("bkey").bitwiseXOR(lit(1L << i))): _*)).as("bkey"))
    val cand = probed.as("a").join(banded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val va = vd.select(col("id").as("id_a"), col("v").as("va"), col("n2").as("na"))
    val vb = vd.select(col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", VectorOps.cosineWithNorms(
        VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** End-to-end embedding-space corpus dedup: [[lshNearDupPairsAdaptive]]
    * pairs → connected components ([[Dedup.clusters]])
    * → keep the smallest id per cluster. The embedding-space closure of
    * [[Dedup.dedupCorpus]] (which does the same over MinHash+LSH shingle
    * pairs): the pair source is the skew-adaptive path, so hot buckets on
    * clustered corpora are sub-split before the quadratic stage, and the
    * component merge shuffles (id, label) pairs only. Returns surviving
    * ids (singletons survive by definition). */
  def dedupCorpusEmbeddings(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 4, bitsPerBand: Option[Int] = None,
      maxDim: Int = 512, targetOccupancy: Long = 16L, hotFactor: Long = 8L,
      maxExtraBits: Int = 16): DataFrame = {
    val pairs = lshNearDupPairsAdaptive(df, idCol, vecCol, threshold,
      bands, bitsPerBand, maxDim, targetOccupancy, hotFactor, maxExtraBits)
    val losers = Dedup.clusters(pairs)
      .where(col("id") =!= col("cluster")).select(col("id"))
    df.select(col(idCol).as("id")).distinct()
      .join(losers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /** Quality-aware canonical selection in embedding space: the
    * [[dedupCorpusEmbeddings]] clustering with [[Dedup.canonicalSelect]]'s
    * survivor rule — per near-dup cluster keep the row with the highest
    * `score` (ties to the smallest id) instead of the smallest id, so the
    * cleanest copy survives, not the accidentally-first one. Returns the
    * surviving rows of `df` with their `cluster` label (singletons are
    * their own cluster and always survive).
    *
    * Scale shape: adaptive-LSH pairs + (id, label)-only propagation, then
    * [[Dedup.bestPerCluster]]. */
  def canonicalSelectEmbeddings(df: DataFrame, idCol: String,
      vecCol: String, score: Column, threshold: Double, bands: Int = 4,
      bitsPerBand: Option[Int] = None, maxDim: Int = 512,
      targetOccupancy: Long = 16L, hotFactor: Long = 8L,
      maxExtraBits: Int = 16): DataFrame =
    Dedup.bestPerCluster(df, idCol, score, lshNearDupPairsAdaptive(df, idCol,
      vecCol, threshold, bands, bitsPerBand, maxDim, targetOccupancy,
      hotFactor, maxExtraBits))

  /** SSL-prototype / D4 prototypicality ranking (Sorscher et al. 2022
    * "Beyond neural scaling laws"; Tirumala et al. 2023 "D4"): each
    * vector's cosine to its OWN quantizer centroid, ranked within the
    * cell — rank 1 = most prototypical (closest to the prototype, the
    * easy/redundant example data-pruning removes first). `kept` marks
    * the least-prototypical keepNum/keepDen fraction of each cell: a
    * row survives iff proto_rank·keepDen > n_cell·(keepDen − keepNum),
    * pure integer arithmetic so the cut is engine-exact (ceil-free —
    * the keep count is ⌈n·num/den⌉ by construction).
    *
    * Only ranks cross the output boundary, never raw cosines — rank
    * order is exactly the per-cell argmax order the x57/x59 oracles
    * already pin as engine-reproducible.
    * Output: (id, cid, n_cell, proto_rank, kept).
    * Scale: one zero-exchange assignment scan + one window sort keyed
    * by cid; cell sizes are bounded by the quantizer's target occupancy
    * ([[autoNCells]] / [[Ivf.splitHotCells]]), so no global sort and no
    * unbounded partition appears. */
  def prototypicality(emb: DataFrame, idCol: String, vecCol: String,
      cent: Ivf.Centroids, keepNum: Int = 1, keepDen: Int = 2): DataFrame = {
    require(keepDen > 0 && keepNum >= 0 && keepNum <= keepDen,
      s"prototypicality: keep fraction $keepNum/$keepDen must be in [0,1]")
    val s = emb.sparkSession
    import s.implicits._
    val centDf = cent.toSeq.toDF("cid", "cv", "cn")
    val assigned = Ivf.assignWith(emb, idCol, vecCol, cent)
      .join(broadcast(centDf), Seq("cid"))
      .withColumn("__cos", VectorOps.cosineWithNorms(
        VectorOps.dot(col("v"), col("cv")), col("n2"), col("cn")))
    val w = Window.partitionBy("cid")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    assigned
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy("cid")))
      .select(col("neighbor_id").as("id"), col("cid"), col("n_cell"),
        col("proto_rank"),
        (col("proto_rank") * keepDen > col("n_cell") * (keepDen - keepNum))
          .as("kept"))
  }

  /** Per-shard EMBEDDING-SPACE drift: the L2 distance between each
    * id-shard's centroid and the global centroid — the representation-
    * level sibling of the lexical total-variation drift audit
    * ([[TextAnalysis.sourceDrift]]): a shard whose centroid sits far
    * from the corpus centroid is the ingest slice whose upstream
    * encoder, domain mix, or preprocessing changed.
    *
    * Determinism: per-dimension sums are EXACT decimals; the centroid
    * difference is computed as the exact integer-scaled cross product
    * S_shard·n_global − S_global·n_shard (one decimal multiply per
    * side, operands sized so precision stays ≤ 38 — the x78 rule), so
    * no division happens until the boundary. The squared-sum fold then
    * runs left-to-right in IEEE doubles over the dim-sorted array
    * (both engines reduce lists head-to-tail), sqrt is exactly
    * rounded, and the single division by n_shard·n_global closes it.
    *
    * Scale shape: one posexplode scan + a (shard, dim)-keyed combiner
    * aggregate (≤ shards·dim rows out), a broadcast-sized global-sum
    * join, and a bounded per-shard fold. No window over raw vectors,
    * no pairwise stage. Output: (shard, n_vecs, drift). */
  def centroidShardDrift(emb: DataFrame, idCol: String, vecCol: String,
      shards: Int): DataFrame = {
    require(shards >= 2, s"centroidShardDrift: shards=$shards must be >= 2")
    driftFromShardSums(shardSums(emb, idCol, vecCol, shards))
  }

  // (20,8): sized so the sum×count product (30,8) and its difference
  // (31,8) stay INSIDE Spark's 38-digit cap — at (28,8) the
  // subtraction wants precision 39 and Spark silently drops to scale
  // 7 (rounding) while DuckDB keeps scale 8 exactly (the x78 rule,
  // addition flavor)
  private val DriftD = org.apache.spark.sql.types.DecimalType(20, 8)

  /** The MERGEABLE partial behind [[centroidShardDrift]]: per-(shard,
    * dim) exact decimal component sums with the shard count riding
    * along — additive across batches (decimal addition is exact and
    * associative), which is what lets the streaming sink ledger these
    * rows per micro-batch and the view fold them to the identical
    * drift. Output: (shard, dim, s, n_vecs). */
  def shardSums(emb: DataFrame, idCol: String, vecCol: String,
      shards: Int): DataFrame = {
    val pe = emb.select(pmod(col(idCol), lit(shards.toLong)).as("shard"),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val per = pe.groupBy("shard", "dim")
      .agg(sum(col("v").cast("double").cast(DriftD)).cast(DriftD).as("s"))
    val ns = emb.groupBy(pmod(col(idCol), lit(shards.toLong)).as("shard"))
      .agg(count(lit(1)).as("n_vecs"))
    per.join(ns, Seq("shard"))
  }

  /** Fold [[shardSums]] rows (possibly summed across batch partials —
    * re-cast to the same (20,8)) to the per-shard drift row. */
  def driftFromShardSums(sums: DataFrame): DataFrame = {
    val N = org.apache.spark.sql.types.DecimalType(9, 0)
    // counts enter a DECIMAL(9,0) multiplicand so the (20,8)·(9,0)
    // product stays ≤ 38 digits at scale 8; a count ≥ 1e9 would
    // overflow the cast to NULL under non-ANSI Spark and silently
    // null every drift row — enforce LOUDLY instead (the
    // Retrieval.tfidfKeywords tf-bound discipline). At ≥ 1e9 vectors
    // per shard, pre-aggregate shards before folding.
    def guardedN(c: Column, what: String): Column =
      when(c < lit(1000000000L), c.cast(N))
        .otherwise(raise_error(concat(
          lit(s"driftFromShardSums: $what "), c.cast("string"),
          lit(" overflows the DECIMAL(9,0) count bound — fold wider" +
            " shards upstream"))).cast(N))
    val per = sums.select(col("shard"), col("dim"),
      col("s").cast(DriftD).as("s"), col("n_vecs"))
    val glob = per.groupBy("dim").agg(sum(col("s")).cast(DriftD).as("gs"))
    val ns = per.groupBy("shard").agg(max(col("n_vecs")).as("n_vecs"))
    val ng = ns.agg(sum(col("n_vecs")).as("n_all"))
    val diffs = per.drop("n_vecs").join(glob, Seq("dim"))
      .join(broadcast(ns), Seq("shard"))
      .crossJoin(broadcast(ng))
      .select(col("shard"), col("n_vecs"), col("n_all"), col("dim"),
        (col("s") * guardedN(col("n_all"), "n_all") -
          col("gs") * guardedN(col("n_vecs"), "n_vecs"))
          .cast("double").as("d"))
    diffs.groupBy("shard", "n_vecs", "n_all")
      .agg(sort_array(collect_list(struct(col("dim"), col("d")))).as("arr"))
      .select(col("shard"), col("n_vecs"),
        (sqrt(aggregate(transform(col("arr"), x => x("d")), lit(0.0),
          (acc, x) => acc + x * x)) /
          (col("n_vecs").cast("double") * col("n_all").cast("double")))
          .as("drift"))
  }

  /** Per-SOURCE centroid cosine matrix — the SEMANTIC mirror-site
    * audit beside x121's lexical span overlap: the cosine between
    * every pair of per-source mean embeddings. cos(mean_a, mean_b) =
    * cos(sum_a, sum_b) — the counts cancel — so the whole operator is
    * per-(source, dim) exact decimal component sums (the (20,8) x143
    * sizing, proven double→decimal cast parity), a bounded
    * |sources|²·dim pair join, and per pair ONE fixed-dim-order
    * double fold (sort_array + aggregate — the x143 fold) for dot and
    * both norms, with two sqrts and a divide at the boundary.
    * Scale shape: one explode scan + a (sources·dim)-bounded agg —
    * nothing downstream ever touches per-vector rows.
    * Output: (src_a, src_b, cosine), src_a < src_b. */
  def sourceCentroidMatrix(docs: DataFrame, docId: Column,
      source: Column, emb: DataFrame, vecId: Column, vec: Column)
      : DataFrame = {
    val joined = docs.select(docId.as("__id"), source.as("src"))
      .join(emb.select(vecId.as("__id"), vec.as("__v")), Seq("__id"))
    sourceCentroidMatrixFromSums(sourceSums(joined, col("src"),
      col("__v")))
  }

  /** The MERGEABLE partial behind [[sourceCentroidMatrix]] — per
    * (source, dim) exact decimal component sums ([[shardSums]]' shape
    * keyed by source): additive across batches, so a streaming sink
    * can ledger them per micro-batch and the view folds to the
    * identical matrix. Output: (src, dim, s). */
  def sourceSums(rows: DataFrame, source: Column, vec: Column)
      : DataFrame =
    rows.select(source.as("src"), posexplode(vec).as(Seq("dim", "v")))
      .groupBy("src", "dim")
      .agg(sum(col("v").cast("double").cast(DriftD)).cast(DriftD).as("s"))

  /** The pair-cosine tail of [[sourceCentroidMatrix]] over
    * already-aggregated (src, dim, s) sums (possibly batch partials
    * re-summed and cast back to the same (20,8)). */
  def sourceCentroidMatrixFromSums(ss: DataFrame): DataFrame = {
    val a = ss.select(col("src").as("src_a"), col("dim"),
      col("s").cast("double").as("da"))
    val b = ss.select(col("src").as("src_b"), col("dim"),
      col("s").cast("double").as("db"))
    a.join(b, Seq("dim")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sort_array(collect_list(struct(col("dim"), col("da"),
        col("db")))).as("arr"))
      .select(col("src_a"), col("src_b"),
        (aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x("da") * x("db")) /
          (sqrt(aggregate(col("arr"), lit(0.0),
            (acc, x) => acc + x("da") * x("da"))) *
           sqrt(aggregate(col("arr"), lit(0.0),
             (acc, x) => acc + x("db") * x("db"))))).as("cosine"))
  }

  /** Per-source embedding HYGIENE + coverage audit: documents LEFT-
    * joined to their vectors (≤ 1 vector per id — the 1:1 id-space
    * contract), then per source: coverage (docs vs vectors present),
    * degenerate-vector counts (zero norm, non-finite components — the
    * encoder-failure signatures), and exact rank-quantiles of the
    * squared norm ([[Quantiles.discrete]]'s integer-rank discipline).
    * The "are these vectors even usable" gate run before any
    * ANN/dedup family spends a shuffle on them.
    *
    * Scale shape: one broadcast-free equi-join on id, one combiner
    * aggregate, one per-source quantile window over norms only.
    * Output: (source, n_docs, n_vecs, n_zero, n_nonfinite, p50_n2,
    * p95_n2). */
  def embeddingHygiene(docs: DataFrame, emb: DataFrame, docIdCol: String,
      sourceCol: String, vecIdCol: String, vecCol: String): DataFrame = {
    val inf = lit(Float.PositiveInfinity)
    val base = docs.select(col(docIdCol).as("id"),
        col(sourceCol).as("source"))
      .join(emb.select(col(vecIdCol).as("id"), col(vecCol).as("__v")),
        Seq("id"), "left")
      .withColumn("__n2", graft.functions.VectorOps.norm2(col("__v")))
    val counts = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      count(col("__v")).as("n_vecs"),
      sum(when(col("__n2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
      sum(when(exists(col("__v"),
          x => isnan(x) || x === inf || x === -inf), 1L).otherwise(0L))
        .as("n_nonfinite"))
    val q = Quantiles.discrete(base.where(col("__v").isNotNull),
        Seq("source"), col("__n2"),
        Seq((1, 2, "p50_n2"), (19, 20, "p95_n2")))
      .drop("n")
    counts.join(q, Seq("source"), "left")
  }
}
