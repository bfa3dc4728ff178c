package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.functions.expressions.VectorExpressions
import graft.operators.Upsert

/** IVF (inverted-file) approximate nearest neighbor: partition the corpus
  * into `nlist` coarse cells, search only the `nprobe` cells nearest each
  * query. The third ANN tier next to [[Similarity.bruteTopK]] (exact) and
  * [[Similarity.lshNearDupPairs]] (signature pruning).
  *
  * The coarse quantizer is deterministic — the seed centroid set is the
  * embeddings of the `nlist` smallest ids — so results are reproducible
  * across runs/engines and the operator is oracle-checkable;
  * `refineIters` Lloyd steps sharpen the seeds for recall without
  * touching the probe mechanics (still deterministic: exact-decimal
  * means are order-independent under any partitioning).
  *
  * At 100 TB: centroids are nlist×dim doubles resident on the driver and
  * embedded in the plan like a broadcast; cell assignment is a pure
  * per-row codegen argmax ([[VectorExpressions.nearestCell]]) — a
  * scan-speed map with NO exchange (asserted in ScalaTest). The single
  * corpus shuffle is the `cell_id` equi-join that co-partitions corpus
  * and probes, so each cell's exact search is local and the per-task
  * cost is |cell| × queries-probing-it, not n × |Q|. Each Lloyd
  * iteration adds one scan + a map-side-combined (cid, dim) mean agg —
  * only nlist×dim×partitions rows move.
  */
object Ivf {

  /** Centroid constants: (cid, vector, squared L2 norm), cid-ascending.
    * Public so the semantic-dedup family ([[Similarity.semanticDedup]] /
    * [[Similarity.semanticAdmit]]) can train a quantizer ONCE
    * ([[train]]) and re-apply it across calls — the incremental
    * admission and streaming shapes require the cell boundaries to be a
    * value, not a recomputation. */
  type Centroids = Array[(Long, Array[Double], Double)]

  /** The quantizer-model family, one value the whole semantic-dedup /
    * admission surface can carry: [[FlatModel]] (K centroids as a plan
    * constant, O(K) per-row argmax), [[TwoLevel]] (coarse+fine plan
    * constants, O(√K) per row), [[TwoLevelData]] (coarse constant +
    * fine level as a TABLE — the unbounded-K shape: nothing
    * proportional to K ever sits in a plan or on the driver).
    * [[assignModel]] dispatches; all three produce the same
    * (neighbor_id, v, n2, cid) shape with identical tie-breaking. */
  sealed trait Model

  /** A flat trained quantizer as a model value. */
  final case class FlatModel(cent: Centroids) extends Model

  /** The deterministic seed centroids: embeddings of the `nlist`
    * smallest ids. nlist rows — a driver-side constant, like collecting
    * a broadcast side. */
  private def seedCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int): Centroids =
    seedCentroidsDF(corpus, idCol, vecCol, nlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

  /** The seed centroids as a DataFrame (cid, cv, cn) — the un-collected
    * form [[refinedCentroids]] chains its Lloyd iterations from. */
  private def seedCentroidsDF(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).cast("long").as("cid"),
        VectorOps.toDouble(col(vecCol)).as("cv"),
        VectorOps.norm2(col(vecCol)).as("cn"))

  /** Flat nearest-cell assignment with the centroids as DATA: the
    * (cid, cv, cn) table folds into ONE cid-ascending struct-array row
    * (struct sort orders by its first field) that broadcasts to every
    * task, and the per-row argmax is the [[VectorExpressions
    * .nearestCellData]] codegen loop — [[assignCells]]'s scan-speed map
    * without a driver-resident centroid array, so training loops can
    * stay in DataFrames end to end. Bit-equal to [[assignCells]] under
    * the same centroid set (spec-asserted). */
  private def assignCellsData(corpus: DataFrame, idCol: String,
      vecCol: String, cent: DataFrame): DataFrame = {
    val centArr = cent
      .select(struct(col("cid"), col("cv"), col("cn")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("__cents"))
    corpus.select(col(idCol).as("neighbor_id"),
        VectorOps.toDouble(col(vecCol)).as("v"),
        VectorOps.norm2(col(vecCol)).as("n2"))
      .crossJoin(broadcast(centArr))
      .withColumn("cid", VectorExpressions.nearestCellData(col("v"),
        col("n2"), col("__cents")))
      .drop("__cents")
  }

  /** Nearest centroid by cosine per corpus row (ties to the smallest
    * cid) — a zero-exchange scan-speed map over the constant centroid
    * set. Output: (neighbor_id, v, n2, cid). */
  private def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      cent: Centroids): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
        VectorOps.toDouble(col(vecCol)).as("v"),
        VectorOps.norm2(col(vecCol)).as("n2"))
      .withColumn("cid", VectorExpressions.nearestCell(col("v"), col("n2"),
        cent.map(_._2), cent.map(_._3), cent.map(_._1)))

  /** Train a coarse quantizer as a VALUE: the deterministic seed cells
    * (`refineIters = 0`) or `refineIters` Lloyd refinements of them —
    * the x24 k-means under the same exact-decimal arithmetic. The
    * result is nlist×dim driver-side doubles, embedded in downstream
    * plans like a broadcast; training it once and passing it around is
    * what lets incremental admission judge every batch against FIXED
    * cell boundaries, and what gives [[Similarity.semanticDedup]]
    * balanced cells without re-scanning. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, refineIters: Int = 0): Centroids =
    if (refineIters <= 0) seedCentroids(corpus, idCol, vecCol, nlist)
    else refinedCentroids(corpus, idCol, vecCol, nlist, refineIters)

  /** Nearest-cell assignment of `df` under an already-trained quantizer
    * — the zero-exchange codegen argmax scan ([[VectorExpressions
    * .nearestCell]]); output (neighbor_id, v, n2, cid). */
  def assignWith(df: DataFrame, idCol: String, vecCol: String,
      cent: Centroids): DataFrame =
    assignCells(df, idCol, vecCol, cent)

  /** A two-level coarse→fine quantizer as a value: `coarse*` arrays are
    * the OCCUPIED coarse seed cells (ascending id), `fine(j)` the fine
    * centroids of coarse index j. For K total cells sized
    * nCoarse = nFine = √K, per-row assignment is O(2·√K) centroid dots
    * instead of the flat quantizer's O(K), and the plan constant is
    * (nCoarse + K)·dim doubles — the path past [[Similarity
    * .MaxAutoCells]], where the flat argmax and the embedded centroid
    * constant both stop scaling. */
  case class TwoLevel(coarseVecs: Array[Array[Double]],
      coarseNorms: Array[Double], coarseIds: Array[Long],
      fine: Array[Centroids]) extends Model

  /** The two-level quantizer with the FINE level as DATA: `fine` is a
    * (ccid, fid, fv, fn) DataFrame ([[fineTable]] shape), so the model
    * holds only √K coarse centroids on the driver / in the plan — the
    * form for cell counts past [[Similarity.MaxAutoCells]], where the
    * flat and plan-constant two-level models stop scaling. Built by
    * [[trainTwoLevelAsData]]; assigned by [[assignWithData]]. */
  final case class TwoLevelData(coarseVecs: Array[Array[Double]],
      coarseNorms: Array[Double], coarseIds: Array[Long],
      fine: DataFrame) extends Model

  /** Nearest-cell assignment under any [[Model]] — one dispatch, same
    * (neighbor_id, v, n2, cid) output and tie-breaking everywhere. */
  def assignModel(df: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame = m match {
    case FlatModel(cent) => assignCells(df, idCol, vecCol, cent)
    case t: TwoLevel => assignTwoLevel(df, idCol, vecCol, t)
    case d: TwoLevelData => assignWithData(df, idCol, vecCol, d)
  }

  /** Train the two-level quantizer: coarse seed cells (the `nCoarse`
    * smallest ids), then per OCCUPIED coarse cell the `nFine`
    * smallest-id members as its fine seeds. Coarse cells that attract
    * no member drop out (their seed lost even itself to a duplicate
    * vector with a smaller id — the x25 GROUP BY discipline), so every
    * retained cell has ≥ 1 fine centroid and assignment is total.
    * Deterministic end to end; one assignment scan + one bounded
    * (≤ nCoarse·nFine rows) collect.
    *
    * `refineIters` Lloyd steps sharpen the FINE level (the x24/x25
    * exact-decimal member means, so the refined model is bit-identical
    * in any engine): each iteration runs one two-level assignment scan
    * + one map-side-combined (cid, dim) mean agg; fine cells that lose
    * every member drop (GROUP BY semantics), cell ids stay the seed
    * ids. Coarse boundaries never move — refinement balances the cells
    * a row searches, not which coarse cell it reaches.
    *
    * Training runs the [[trainTwoLevelAsData]] DataFrame chain — seeds
    * and every Lloyd refinement live in DataFrames — and collects the
    * finished fine table exactly ONCE into the plan-constant form, so
    * driver traffic is one K×dim transfer regardless of `refineIters`
    * (the historical per-iteration collect is retained only as the
    * IvfTrainSpec reference implementation). */
  def trainTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
      nCoarse: Int, nFine: Int, refineIters: Int = 0): TwoLevel = {
    val m = trainTwoLevelAsData(corpus, idCol, vecCol, nCoarse, nFine,
      refineIters)
    val byC = m.fine.select(col("ccid"), col("fid"), col("fv"), col("fn"))
      .collect()
      .groupBy(_.getLong(0))
    TwoLevel(m.coarseVecs, m.coarseNorms, m.coarseIds,
      m.coarseIds.map(cid =>
        byC.getOrElse(cid, Array.empty[org.apache.spark.sql.Row])
          .map(r => (r.getLong(1), r.getSeq[Double](2).toArray,
            r.getDouble(3)))
          .sortBy(_._1)))
  }

  /** Zero-exchange two-level assignment: one codegen argmax per row
    * ([[VectorExpressions.nearestCellTwoLevel]]); `cid` is the winning
    * FINE seed's id. Same output shape as [[assignWith]]. */
  def assignTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      model: TwoLevel): DataFrame =
    df.select(col(idCol).as("neighbor_id"),
        VectorOps.toDouble(col(vecCol)).as("v"),
        VectorOps.norm2(col(vecCol)).as("n2"))
      .withColumn("cid", VectorExpressions.nearestCellTwoLevel(
        col("v"), col("n2"), model.coarseVecs, model.coarseNorms,
        model.fine.map(_.map(_._2)), model.fine.map(_.map(_._3)),
        model.fine.map(_.map(_._1))))

  /** The two-level FINE set as a DataFrame (ccid, fid, fv, fn) — the
    * model-as-DATA form for cell counts too large to embed in the
    * plan. */
  def fineTable(spark: org.apache.spark.sql.SparkSession,
      model: TwoLevel): DataFrame = {
    import spark.implicits._
    model.coarseIds.indices.flatMap { j =>
      model.fine(j).map { case (fid, fv, fn) =>
        (model.coarseIds(j), fid, fv.toSeq, fn)
      }
    }.toDF("ccid", "fid", "fv", "fn")
  }

  /** Two-level assignment with the fine centroids as DATA instead of a
    * plan constant — the shape for K past what a plan can embed
    * (all K×dim fine centroids otherwise ride along with EVERY task):
    * the coarse level stays a zero-exchange codegen argmax (√K-sized
    * constant), then rows join the (ccid → fine centroids) TABLE on
    * their coarse cell and take the per-row cosine argmax. Costs one
    * shuffle of the rows by ccid plus nFine candidate rows per input
    * row — the price of unbounded K; below that, prefer
    * [[assignTwoLevel]]'s scan-speed map. Same output and identical
    * tie-breaking (`row_number OVER (ORDER BY cos DESC, fid)` ⇔ the
    * expression's first-wins Double.compare), spec-asserted equal. */
  def assignTwoLevelAsData(df: DataFrame, idCol: String, vecCol: String,
      model: TwoLevel, fine: DataFrame): DataFrame =
    assignCoarseThenJoin(df, idCol, vecCol, model.coarseVecs,
      model.coarseNorms, model.coarseIds, fine)

  /** [[assignTwoLevelAsData]] for the self-contained [[TwoLevelData]]
    * model value. */
  def assignWithData(df: DataFrame, idCol: String, vecCol: String,
      m: TwoLevelData): DataFrame =
    assignCoarseThenJoin(df, idCol, vecCol, m.coarseVecs, m.coarseNorms,
      m.coarseIds, m.fine)

  private def assignCoarseThenJoin(df: DataFrame, idCol: String,
      vecCol: String, coarseVecs: Array[Array[Double]],
      coarseNorms: Array[Double], coarseIds: Array[Long],
      fine: DataFrame): DataFrame = {
    val coarseOnly = df.select(col(idCol).as("neighbor_id"),
        VectorOps.toDouble(col(vecCol)).as("v"),
        VectorOps.norm2(col(vecCol)).as("n2"))
      .withColumn("ccid", VectorExpressions.nearestCell(col("v"),
        col("n2"), coarseVecs, coarseNorms, coarseIds))
    val scored = coarseOnly.join(fine, Seq("ccid"))
      .withColumn("__cos", VectorOps.cosineWithNorms(
        VectorOps.dot(col("v"), col("fv")), col("n2"), col("fn")))
    Upsert.firstPerKey(scored, Seq(col("neighbor_id")),
        Seq(col("__cos").desc, col("fid").asc))
      .select(col("neighbor_id"), col("v"), col("n2"),
        col("fid").as("cid"))
  }

  /** Train the two-level quantizer with the fine level kept as DATA end
    * to end — the unbounded-K training shape ([[trainTwoLevel]] collects
    * all K fine seeds to the driver; past [[Similarity.MaxAutoCells]]
    * that is the scale bottleneck). Driver traffic here is bounded by
    * nCoarse·dim (the coarse seeds) + nCoarse longs (the occupied-cell
    * ids); the fine seeds, each Lloyd refinement, and the finished model
    * live in DataFrames.
    *
    * Bitwise-identical to [[trainTwoLevel]] + [[fineTable]] (spec-
    * asserted): the seeds are the same per-coarse-cell smallest-id
    * members, each refinement runs the same exact-decimal per-(cell,
    * dim) means ([[cellMeans]] — order-independent under any
    * partitioning), the refreshed norm is the same left-to-right
    * `acc + x·x` fold as [[VectorOps.norm2]], and fine cells that lose
    * every member drop with the same GROUP BY semantics. The fine table
    * is localCheckpointed per iteration, so the returned model reads a
    * settled table instead of replaying the training lineage. */
  def trainTwoLevelAsData(corpus: DataFrame, idCol: String,
      vecCol: String, nCoarse: Int, nFine: Int,
      refineIters: Int = 0): TwoLevelData = {
    val coarseAll = seedCentroids(corpus, idCol, vecCol, nCoarse)
    val assigned0 = assignCells(corpus, idCol, vecCol, coarseAll)
      .localCheckpoint()
    // occupied coarse cells: ids only — ≤ nCoarse longs to the driver.
    // A coarse cell with no members must leave the argmax constant, or
    // future rows (admission batches) could land in a cell with no fine
    // centroids and silently drop out of the assignment inner join.
    val occIds = assigned0.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toSet
    val occupied = coarseAll.filter(c => occIds.contains(c._1))
    // fine seeds: per occupied coarse cell the nFine smallest-id
    // members — same discipline as trainTwoLevel, never collected.
    // (Dropping unoccupied cells cannot move any row's coarse winner.)
    val w = Window.partitionBy(col("cid")).orderBy(col("neighbor_id"))
    var fine = assigned0
      .withColumn("rn", row_number().over(w)).where(col("rn") <= nFine)
      .select(col("cid").as("ccid"),
        col("neighbor_id").cast("long").as("fid"),
        col("v").as("fv"), col("n2").as("fn"))
      .localCheckpoint()
    var model = TwoLevelData(occupied.map(_._2), occupied.map(_._3),
      occupied.map(_._1), fine)
    var it = 0
    while (it < refineIters) {
      // fid → ccid carried as data (fine ids are member vec_ids, unique
      // across coarse cells); coarse boundaries never move
      val slot = fine.select(col("fid"), col("ccid"))
      val means = cellMeans(assignWithData(corpus, idCol, vecCol, model))
      val refined = means
        .groupBy(col("cid"))
        // struct sorts by its first field: ascending pos — the vector
        // reassembled in dimension order
        .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
          .as("pc"))
        .select(col("cid").as("fid"),
          expr("transform(pc, x -> x.centroid)").as("fv"))
        // left-to-right fold, the exact accumulation of VectorOps.norm2
        // and of trainTwoLevel's in-driver loop
        .withColumn("fn",
          expr("aggregate(fv, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)"))
        .join(slot, Seq("fid"))
        .select(col("ccid"), col("fid"), col("fv"), col("fn"))
      fine = refined.localCheckpoint()
      model = model.copy(fine = fine)
      it += 1
    }
    model
  }

  /** Exposed for plan assertions in ScalaTest: the assignment subtree
    * must stay exchange-free. */
  private[graft] def assignedForPlanCheck(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int): DataFrame =
    assignCells(corpus, idCol, vecCol,
      seedCentroids(corpus, idCol, vecCol, nlist))

  /** Hot-CELL splitting — the observe→adapt closure for the quantizer
    * family, the same move [[Similarity.lshNearDupPairsAdaptive]] makes
    * for LSH buckets: measure the REAL per-cell occupancy of an
    * assignment and sub-quantize ONLY the cells the measurement says
    * are hot (occ > hotFactor × targetCellSize). Expectation-based
    * sizing holds the MEAN cell at target; on clustered real-world
    * corpora the mass concentrates (the skew-dominated caveat on
    * [[Similarity.autoBitsPerBand]]) and the within-cell candidate
    * bill Σocc² is carried by a few giant cells — splitting exactly
    * those restores it without re-quantizing the cold majority.
    *
    * Each round gives every hot cell min(maxSubCells, ⌈occ/target⌉)
    * sub-seeds — its smallest-id members, the seed discipline used
    * everywhere — and reassigns the cell's members to their nearest
    * sub-seed (cosine argmax, `row_number` tie-break by fid, identical
    * to [[assignTwoLevelAsData]]'s). Bounding the per-round fan-out at
    * `maxSubCells` keeps the reassignment join at occ × maxSubCells
    * rows per hot cell — LINEAR per round, never the occ²/target a
    * one-shot full split would cost on a monster cell — and rounds
    * recurse on still-hot sub-cells, so depth is log_maxSubCells of
    * the worst ratio. Runs to fixpoint by default; `maxRounds = 1`
    * is the oracle-pinned bounded form (the x62/x63 discipline: SQL
    * recomputes one round, ScalaTest owns the fixpoint claim).
    *
    * Input and output are the assignment shape every `assign*` method
    * produces — (neighbor_id, v, n2, cid) plus an output `sub` column
    * (-1 for members of never-split cells). The refined cell key is
    * the PAIR (cid, sub): sub-seed ids are member ids and member sets
    * are disjoint, so the pair is collision-free by construction where
    * a flattened single label could collide with an unsplit cell's
    * seed id. Compose with [[Similarity.semanticDedup]] via
    * `assignment = out.select(col("neighbor_id").as("id"),
    * struct(col("cid"), col("sub")).as("cid"))`. Deterministic end to
    * end; per round one (cid)-count agg, one per-hot-cell rank window
    * and one bounded-fanout join — no driver collect at any size. */
  def splitHotCells(assigned: DataFrame, targetCellSize: Long,
      hotFactor: Long = 8L, maxSubCells: Int = 64,
      maxRounds: Int = 64): DataFrame = {
    require(targetCellSize > 0 && hotFactor > 0 && maxSubCells > 1,
      "need targetCellSize > 0, hotFactor > 0, maxSubCells > 1")
    val hotCut = hotFactor * targetCellSize
    // the VECTOR payload is materialized exactly once; per round only
    // the (id, cid, sub) LABEL frame is checkpointed (12–24 B/row vs
    // dim doubles — on a 100 TB corpus the difference between one
    // resident copy and one per round)
    val vecs = assigned
      .select(col("neighbor_id"), col("v"), col("n2"), col("cid"))
      .localCheckpoint()
    var labels = vecs.select(col("neighbor_id"), col("cid"))
      .withColumn("sub", lit(-1L))
    var round = 0
    var anyHot = true
    while (anyHot && round < maxRounds) {
      val occ = labels.groupBy(col("cid"), col("sub"))
        .agg(count(lit(1)).as("__occ"))
      val hot = occ.where(col("__occ") > hotCut)
        .select(col("cid"), col("sub"), least(lit(maxSubCells.toLong),
          expr(s"(__occ + ${targetCellSize - 1}) div $targetCellSize"))
          .as("__nsub"))
      // checking hotness first keeps the converged path to one agg
      anyHot = !hot.isEmpty
      if (anyHot) {
        val marked = labels.join(hot, Seq("cid", "sub"), "left")
        val cold = marked.where(col("__nsub").isNull)
          .select(col("neighbor_id"), col("cid"), col("sub"))
        val hotRows = marked.where(col("__nsub").isNotNull)
          .select(col("neighbor_id"), col("cid"), col("sub"),
            col("__nsub"))
          .join(vecs.select(col("neighbor_id"), col("v"), col("n2")),
            Seq("neighbor_id"))
          .localCheckpoint()
        val wSeed = Window.partitionBy(col("cid"), col("sub"))
          .orderBy(col("neighbor_id"))
        val seeds = hotRows
          .withColumn("__rn", row_number().over(wSeed))
          .where(col("__rn") <= col("__nsub"))
          .select(col("cid"), col("sub"),
            col("neighbor_id").as("fid"), col("v").as("fv"),
            col("n2").as("fn"))
        val scored = hotRows
          .select(col("neighbor_id"), col("v"), col("n2"), col("cid"),
            col("sub"))
          .join(seeds, Seq("cid", "sub"))
          .withColumn("__cos", VectorOps.cosineWithNorms(
            VectorOps.dot(col("v"), col("fv")), col("n2"), col("fn")))
        val split = Upsert.firstPerKey(scored, Seq(col("neighbor_id")),
            Seq(col("__cos").desc, col("fid").asc))
          .select(col("neighbor_id"), col("cid"),
            col("fid").as("sub"))
        labels = cold.unionByName(split).localCheckpoint()
      }
      round += 1
    }
    labels.join(vecs.select(col("neighbor_id"), col("v"), col("n2")),
        Seq("neighbor_id"))
      .select(col("neighbor_id"), col("v"), col("n2"), col("cid"),
        col("sub"))
  }

  /** Per-cell elementwise means of the assigned vectors, computed through
    * exact decimal sums (order-independent under any partitioning — the
    * same engine-stable mean as the label-centroid operator) and cast to
    * double at the boundary. Output: (cid, pos, centroid, n), one row per
    * (cell, dimension), pos 1-based. */
  private def cellMeans(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    assigned
      .select(col("cid"), posexplode(col("v")))
      // quantize at scale 8 (tie-free for float-sourced values) so the
      // sum is exact and identical across engines
      .select(col("cid"), (col("pos") + 1).as("pos"),
        col("col").cast(DecimalType(28, 8)).as("e"))
      .groupBy("cid", "pos")
      .agg((sum(col("e")).cast("double") / count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
  }

  /** One Lloyd iteration of the coarse quantizer over the seed centroids,
    * as a queryable DataFrame (the x24 oracle shape). */
  def lloydStep(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame =
    cellMeans(assignCells(corpus, idCol, vecCol,
      seedCentroids(corpus, idCol, vecCol, nlist)))

  /** `iters` Lloyd refinements of the seed quantizer, chained entirely
    * in DataFrames: each iteration is one broadcast-argmax assignment
    * scan ([[assignCellsData]] — the centroids ride as a 1-row struct
    * array, never as a re-collected plan constant) plus one
    * map-side-combined (cid, dim) exact-decimal mean agg, and the ONLY
    * driver transfer is the final K×dim collect of the finished model —
    * unavoidable for a plan constant, and paid exactly once regardless
    * of `iters`. Cells that lose all members drop out (their cid
    * disappears), matching the GROUP BY semantics of the SQL oracle.
    * The refreshed norm is a left-to-right `acc + x·x` fold in element
    * order — the same accumulation as [[VectorOps.norm2]] and DuckDB's
    * `list_dot_product`; each iteration's values are bit-identical to
    * the historical collect-per-iteration form (IvfTrainSpec asserts
    * against an in-driver reference at 0/1/2 iters). */
  private def refinedCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int): Centroids = {
    var cent = seedCentroidsDF(corpus, idCol, vecCol, nlist)
      .localCheckpoint()
    var it = 0
    while (it < iters) {
      cent = cellMeans(assignCellsData(corpus, idCol, vecCol, cent))
        .groupBy(col("cid"))
        // struct sorts by its first field: ascending pos — the vector
        // reassembled in dimension order
        .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
          .as("pc"))
        .select(col("cid"),
          expr("transform(pc, x -> x.centroid)").as("cv"))
        .withColumn("cn",
          expr("aggregate(cv, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)"))
        .localCheckpoint()
      it += 1
    }
    cent.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
  }

  /** IVF-PQ: the full 100 TB index shape — coarse cells prune the
    * search space (only `nprobe` of `nlist` cells per query are read)
    * and PQ codes replace the vectors inside them (ADC distances from
    * the query's broadcast m×k lookup table). ONE corpus scan computes
    * BOTH the cell id and the codes (two expression constants side by
    * side, no join, no exchange); at query time the engine needs the
    * codes, the codebook and the centroids — never the raw vectors.
    * Distance ranking is exact-decimal like [[Pq.adcTopK]]; ties break
    * on neighbor_id; self-matches are excluded. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2,
      m: Int = 8, kCodes: Int = 16,
      maxLutRows: Long = Pq.MaxLutRows): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import corpus.sparkSession.implicits._
    val cent = seedCentroids(corpus, idCol, vecCol, nlist)
    val cb = Pq.seedCodebooks(corpus, idCol, vecCol, m, kCodes)
    val subDim = cb(0)(0).length

    // one scan: (neighbor_id, cid, sub, code)
    val assignedCodes = corpus.select(col(idCol).as("neighbor_id"),
        graft.functions.VectorOps.toDouble(col(vecCol)).as("v"),
        graft.functions.VectorOps.norm2(col(vecCol)).as("n2"))
      .withColumn("cid", VectorExpressions.nearestCell(col("v"), col("n2"),
        cent.map(_._2), cent.map(_._3), cent.map(_._1)))
      .withColumn("codes", VectorExpressions.pqEncode(col("v"), cb))
      .select(col("neighbor_id"), col("cid"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("neighbor_id"), col("cid"),
        col("sub").cast("long").as("sub"), col("code"))

    val centDf = cent.toSeq.map { case (cid, cv, cn) => (cid, cv.toSeq, cn) }
      .toDF("cid", "cv", "cn")
    val qvec = queries.select(col(idCol).as("query_id"),
      graft.functions.VectorOps.toDouble(col(vecCol)).as("qv"),
      graft.functions.VectorOps.norm2(col(vecCol)).as("qn"))
    // enforce the "queries side is small" assumption the per-query LUT
    // broadcast below rests on (see Pq.MaxLutRows); ids-only count so
    // the probe job never evaluates the vector conversion
    if (maxLutRows != Long.MaxValue)
      Pq.requireLutFits(queries.select(col(idCol)).count(), m, kCodes,
        maxLutRows)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("cid").asc)
    val probes = qvec.crossJoin(broadcast(centDf))
      .withColumn("__cos", graft.functions.VectorOps.cosineWithNorms(
        graft.functions.VectorOps.dot(col("qv"), col("cv")),
        col("qn"), col("cn")))
      .withColumn("__rn", row_number().over(wProbe))
      .where(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))

    val cbDf = Pq.codebookDfFrom(corpus.sparkSession, cb)
    val lut = qvec.crossJoin(broadcast(cbDf))
      .withColumn("qsub",
        slice(col("qv"), col("sub").cast("int") * subDim + 1, lit(subDim)))
      .withColumn("d",
        (graft.functions.VectorOps.dot(col("qsub"), col("qsub"))
          - lit(2.0) * graft.functions.VectorOps.dot(col("qsub"), col("cw"))
          + graft.functions.VectorOps.dot(col("cw"), col("cw")))
          .cast(DecimalType(28, 12)))
      .select(col("query_id"), col("sub"), col("code"), col("d"))

    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("dd").asc, col("neighbor_id").asc)
    assignedCodes
      .join(broadcast(probes.select(col("query_id"), col("cid")).distinct()),
        Seq("cid"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d")).as("dd"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(wTop)).where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dd").as("dist"))
  }

  /** Top-k cosine neighbors per query, searching only the `nprobe`
    * nearest of `nlist` coarse cells. `queries` and `corpus` share the
    * id/vector column names; self-matches are excluded. `refineIters`
    * Lloyd steps (default 0 = raw seeds) improve cell balance and recall
    * at the cost of one corpus scan + tiny agg per step. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2,
      refineIters: Int = 0): DataFrame = {
    val cent =
      if (refineIters <= 0) seedCentroids(corpus, idCol, vecCol, nlist)
      else refinedCentroids(corpus, idCol, vecCol, nlist, refineIters)
    ivfTopKWith(queries, corpus, idCol, vecCol, k, nprobe, cent)
  }

  /** [[ivfTopK]] under an ALREADY-TRAINED quantizer — the serving
    * path of the index lifecycle (the ingest job trains + saves, every
    * reader [[loadModel]]s and calls this). Bit-identical to training
    * in-line because [[loadModel]] restores cid-ascending centroids
    * (the x162 query shares x21's oracle — the equality IS the
    * claim, the x126 pattern). */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int, cent: Centroids): DataFrame = {
    val assigned = assignCells(corpus, idCol, vecCol, cent)

    // probe list: the nprobe nearest centroids per query. The window runs
    // on the SMALL query side only (|Q| × nlist rows), never the corpus.
    import corpus.sparkSession.implicits._
    val centDf = cent.toSeq
      .map { case (cid, cv, cn) => (cid, cv.toSeq, cn) }
      .toDF("cid", "cv", "cn")
    val qvec = queries.select(col(idCol).as("query_id"),
      VectorOps.toDouble(col(vecCol)).as("qv"), VectorOps.norm2(col(vecCol)).as("qn"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("cid").asc)
    val probes = qvec.crossJoin(broadcast(centDf))
      .withColumn("__cos", VectorOps.cosineWithNorms(
        VectorOps.dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("__rn", row_number().over(wProbe)).where(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))

    // exact search inside probed cells only
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(assigned, "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorOps.cosineWithNorms(
        VectorOps.dot(col("qv"), col("v")), col("qn"), col("n2")))
      .withColumn("rank", row_number().over(wTop)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Persist a trained quantizer as a (cid, cv, cn) parquet — train
    * once, serve from any later session (the production index
    * lifecycle: the ingest job trains, every reader [[loadModel]]s).
    * The on-disk form is exactly the DataFrame shape the fine-as-data
    * family already uses, so a saved model is also directly joinable. */
  def saveModel(cent: Centroids, path: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    cent.toSeq.toDF("cid", "cv", "cn")
      .coalesce(1) // nlist rows — one file, not one per shuffle partition
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveModel]] quantizer; cid-ascending like [[train]], so
    * assignment under a loaded model is bit-identical to assignment
    * under the freshly trained one (spec-asserted). */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Centroids =
    spark.read.parquet(path)
      .select(col("cid"), col("cv"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

  /** Persist a [[TwoLevelData]] model: the √K coarse centroids as one
    * small parquet, the fine level — already a DataFrame — as another.
    * The unbounded-K index survives sessions without ever collecting
    * the fine table. */
  def saveModelTwoLevel(m: TwoLevelData, dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    m.coarseIds.indices
      .map(i => (m.coarseIds(i), m.coarseVecs(i).toSeq, m.coarseNorms(i)))
      .toDF("cid", "cv", "cn")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    m.fine.select(col("ccid"), col("fid"), col("fv"), col("fn"))
      .write.mode("overwrite").parquet(s"$dir/fine")
  }

  /** Load a [[saveModelTwoLevel]] model; coarse arrays id-ascending
    * like [[trainTwoLevelAsData]], fine level stays a DataFrame. */
  def loadModelTwoLevel(spark: org.apache.spark.sql.SparkSession,
      dir: String): TwoLevelData = {
    val c = spark.read.parquet(s"$dir/coarse")
      .select(col("cid"), col("cv"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    TwoLevelData(c.map(_._2), c.map(_._3), c.map(_._1),
      spark.read.parquet(s"$dir/fine")
        .select(col("ccid"), col("fid"), col("fv"), col("fn")))
  }
}
