package graft

/** Smoke over the whole registered corpus at sf0.001: every query plans,
  * executes, and returns a schema; oracle-backed queries return rows.
  * (Value-level correctness is the driver's DuckDB gate — tools/check.py.) */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Run `f` over every registered query from a small thread pool —
    * the guide-§2.6 overlap: the corpus is 304 INDEPENDENT queries
    * whose sf0.001 runs are latency-bound (plan + a handful of tiny
    * stages each), so running them serially leaves the session idle
    * on every tail. Spark sessions are thread-safe; 8 in flight cut
    * the full-corpus sweep ~4× with identical results (the driver's
    * sbt-test budget is the constraint — r15's serial sweep helped
    * push the suite past it). Failures propagate with the query name;
    * on a failure the pool is stopped and drained before returning, so
    * no straggler still runs when the caller restores session confs. */
  private def forEachQuery[T](f: ((String,
      (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)) => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futs = Queries.all.toSeq.map { kv =>
        scala.concurrent.Future(f(kv))
      }
      val out = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(20, "min"))
      pool.shutdown()
      out
    } catch {
      case e: Throwable =>
        pool.shutdownNow()
        pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES)
        throw e
    }
  }

  /** BroadcastExchange subtrees whose build side derives from a
    * GROUPED aggregate with no bounding construct in sight — the x205
    * lesson generalized: a `groupBy(term/token/...)` aggregate is
    * data-cardinality-sized (vocabulary-sized at corpus scale), so
    * broadcasting one is only safe when the subtree also contains a
    * restriction (a Join against a bounded set), a Limit /
    * TakeOrderedAndProject cut, or a literal LocalTableScan input.
    * The sweep runs under `autoBroadcastJoinThreshold = -1`, so every
    * BroadcastExchange left in a plan is FORCED by an explicit
    * `broadcast()` hint in our code — a claim of boundedness this
    * test audits. (Cost-based broadcasts are exempt by construction:
    * the planner re-decides them from statistics at real scale, which
    * is exactly the self-correction a hint bypasses.) Parsed from the
    * plan treeString (indentation = tree depth), which sees through
    * the AQE wrapper. */
  private def unboundedBroadcastAggs(planStr: String): Seq[String] = {
    val lines = planStr.linesIterator.toVector
    def ind(l: String): Int = {
      val i = l.indexWhere(c => !" :+-".contains(c))
      if (i < 0) Int.MaxValue else i
    }
    lines.indices.flatMap { i =>
      if (!lines(i).contains("BroadcastExchange")) None
      else {
        val d = ind(lines(i))
        val subLines = lines.drop(i + 1).takeWhile(ind(_) > d)
        val sub = subLines.mkString("\n")
        // the SHALLOWEST aggregate determines the broadcast's output
        // cardinality: keys=[] → one row (bounded) even when a deeper
        // grouped partial exists (e.g. the distinct-count expansion);
        // non-empty keys → data-cardinality-sized unless restricted.
        val topAgg = subLines.find(_.contains("Aggregate(keys=["))
        val groupedTop = topAgg.exists(!_.contains("Aggregate(keys=[]"))
        val bounded = sub.contains("Join") || sub.contains("Limit") ||
          sub.contains("TakeOrderedAndProject") ||
          sub.contains("LocalTableScan")
        if (groupedTop && !bounded)
          Some(lines(i).trim + "\n" + sub.take(400))
        else None
      }
    }
  }

  /** Hinted grouped-aggregate broadcasts that are JUSTIFIED — each
    * broadcast side's cardinality is bounded by something the plan
    * cannot show (a fixed-size slice of the data, not the corpus).
    * Every entry needs a reason; an unlisted hit fails the sweep. */
  private val boundedByDesign: Map[String, String] = Map(
    "x33_decontaminate" ->
      ("eval-slice distinct shingles: benchmarks are fixed-size by " +
        "nature; Dedup.decontaminate exposes broadcastBench=false " +
        "for the counter-case"),
    "x53_contamination_pairs" ->
      "same eval-slice shingle broadcast as x33",
    "x89_contamination" ->
      "bench-slice shingle sets (fixed benchmark, not corpus-sized)",
    "x35_scalar_quant" ->
      ("per-dimension min/max: cardinality = embedding dim d, a model " +
        "constant, never data-sized"),
    "x151_sq8_error" ->
      "same per-dimension stats broadcast as x35",
    "x37_count_min" ->
      ("sketch grid (depth×width literals): cardinality fixed by the " +
        "sketch parameters regardless of data"),
    "x41_heavy_change" ->
      "two count-min grids, same literal-bounded shape as x37",
    "x42_bloom_decontaminate" ->
      "bloom bit positions: cardinality ≤ m bits, a filter-size literal",
    "x211_token_label_mi" ->
      ("per-label doc totals: cardinality = |labels| (languages), a " +
        "category constant like x35's per-dim stats — the vocab-sized " +
        "side (n11/ni) is never broadcast"),
    "x213_simpson_audit" ->
      ("pooled-rate frame: the cohort agg is 2 rows (binary cohorts) " +
        "and the a<b pair 1 row; strata/cohort grids are " +
        "category-bounded, never unit-sized"),
    "x225_curriculum_interleave" ->
      ("stratum index table: one row per stratum (source/language " +
        "tier) — category-bounded like x213's cohort frame; the " +
        "per-document side is never broadcast"))

  test("every registered query executes at sf0.001") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (counts, flagged) =
      try {
        val perQuery = forEachQuery { case (name, q) =>
          val frame = q(spark, dir)
          val bad = unboundedBroadcastAggs(
            frame.queryExecution.executedPlan.toString)
          (name -> frame.count(), name -> bad)
        }
        (perQuery.map(_._1),
          perQuery.map(_._2).filter(_._2.nonEmpty).toMap)
      }
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevThreshold)
    val unexplained = flagged -- boundedByDesign.keySet
    assert(unexplained.isEmpty,
      "queries broadcast-HINT an unrestricted grouped aggregate " +
        "(vocabulary-sized at corpus scale) with no boundedByDesign " +
        "justification:\n" +
        unexplained.map { case (n, b) =>
          s"$n:\n${b.mkString("\n---\n")}" }.mkString("\n====\n"))
    val empties = counts.filter(_._2 == 0).map(_._1).toSet
    // hash/LSH candidate queries may legitimately be empty at tiny scale;
    // everything else must produce rows
    val allowedEmpty = Set("q16_anti_fk", "q24_set_ops", "x02_ngram_jaccard",
      "x03_minhash_lsh", "x04_simhash", "x05_embed_neardup", "x07_lsh_ann")
    assert((empties -- allowedEmpty).isEmpty,
      s"unexpectedly empty: ${empties -- allowedEmpty}")
  }

  /** Nested-loop join nodes (BroadcastNestedLoopJoin /
    * CartesianProduct) with a SUSPECT side — the x231 lesson: the
    * hinted-broadcast sweep above audits only BroadcastExchange
    * subtrees, and under its threshold=-1 config a non-equi join
    * degrades to CartesianProduct, so a grid-sized build side slips
    * through with no BroadcastExchange to inspect. Here every
    * BNL/CartesianProduct node is checked per DIRECT CHILD: a child
    * is suspect when its shallowest Aggregate is GROUPED (non-empty
    * keys → data-cardinality-sized) and the child subtree shows no
    * bounding construct (a Join restriction, a Limit /
    * TakeOrderedAndProject cut, a literal LocalTableScan). A node
    * with any suspect child is a |big|×|other| nested loop waiting
    * for real scale. (A keys=[] one-row aggregate as the shallowest
    * agg makes a child bounded — crossJoin(one-row totals) is the
    * engine's standard scalar-attach shape.)
    *
    * Which children count: a BroadcastNestedLoopJoin STREAMS its
    * non-build side exactly once — any size is fine there (the
    * scalar-attach crossJoin(broadcast(totals)) streams the whole
    * grouped table past a 1-row build side by design) — so only the
    * BUILD child is audited. A CartesianProduct re-scans BOTH sides
    * (|L|·|R| work AND one side buffered per partition), so either
    * suspect child flags it. */
  private def nestedLoopSuspects(planStr: String): Seq[String] = {
    val lines = planStr.linesIterator.toVector
    def ind(l: String): Int = {
      val i = l.indexWhere(c => !" :+-".contains(c))
      if (i < 0) Int.MaxValue else i
    }
    lines.indices.flatMap { i =>
      val isNl = lines(i).contains("BroadcastNestedLoopJoin") ||
        lines(i).contains("CartesianProduct")
      if (!isNl) None
      else {
        val d = ind(lines(i))
        val subLines = lines.drop(i + 1).takeWhile(ind(_) > d)
        if (subLines.isEmpty) None
        else {
          val minInd = subLines.map(ind).min
          val roots = subLines.indices.filter(j => ind(subLines(j)) == minInd)
          val children = roots.indices.map { r =>
            val from = roots(r)
            val to = if (r + 1 < roots.size) roots(r + 1) else subLines.size
            subLines.slice(from, to)
          }
          def isSuspect(c: Vector[String]): Boolean = {
            val sub = c.mkString("\n")
            val topAgg = c.find(_.contains("Aggregate(keys=["))
            val groupedTop = topAgg.exists(!_.contains("Aggregate(keys=[]"))
            val bounded = sub.contains("Join") || sub.contains("Limit") ||
              sub.contains("TakeOrderedAndProject") ||
              sub.contains("LocalTableScan")
            // checkpoint laundering (the kendallTauB shape): a
            // localCheckpoint renders ALL ancestry — including a
            // grouped aggregate — as a bare Scan ExistingRDD, so a
            // grid checkpointed BEFORE the theta join shows no
            // Aggregate line to key on. An un-aggregated
            // ExistingRDD-rooted child is unknowable-cardinality by
            // construction: suspect unless the query is allowlisted
            // with a named MEASURED guard (nestedLoopByDesign).
            val laundered = topAgg.isEmpty && sub.contains("Scan ExistingRDD")
            (groupedTop || laundered) && !bounded
          }
          val audited =
            if (lines(i).contains("BroadcastNestedLoopJoin"))
              children.zipWithIndex.filter { case (_, j) =>
                if (lines(i).contains("BuildLeft")) j == 0
                else j == children.size - 1 // BuildRight
              }.map(_._1)
            else children
          val suspect = audited.filter(isSuspect)
          if (suspect.nonEmpty)
            Some(lines(i).trim + "\n" +
              suspect.map(_.mkString("\n").take(400)).mkString("\n---\n"))
          else None
        }
      }
    }
  }

  /** Nested-loop nodes with a suspect side that are JUSTIFIED — the
    * [[boundedByDesign]] discipline for the non-equi sweep. Every
    * entry names the bound the PLAN cannot show; an unlisted hit
    * fails the sweep (how x231's grid-sized theta join slipped the
    * broadcast-only audit for a round). */
  private val nestedLoopByDesign: Map[String, String] = Map(
    "x175_chi_square" ->
      ("contingency-table skeleton: category grid × category grid " +
        "(quality flag × dup flag), both sides |categories|-bounded"),
    "x178_quality_dup_chi" ->
      "same category×category contingency skeleton as x175",
    "x186_psi" ->
      ("PSI bucket skeleton: |groups| × |buckets| enumeration — both " +
        "axes category-bounded, never row-sized"),
    "x164_ks_drift" ->
      ("KS grid skeleton: |groups| × |distinct values| of a discrete " +
        "column (sources × token lengths) — the x186 PSI grid, built " +
        "by the same code"),
    "x193_cramers_v" ->
      "same contingency skeleton as x175 (category × category)",
    "x167_hll_pair_union" ->
      ("|sources|² audit at SKETCH cost: each side is the per-source " +
        "HLL register table (groups = sources, a catalog constant), " +
        "checkpointed once — the documented 100 TB matrix shape"),
    "x147_kmv_pair_jaccard" ->
      "same |sources|²-at-sketch-cost matrix as x167 (KMV synopses)",
    "x182_ab_conversion" ->
      ("cohort_a < cohort_b pair frame over the per-cohort aggregate " +
        "— |cohorts| is an experiment-design constant (A/B arms)"),
    "x184_welch_t" -> "same |cohorts|² pair frame as x182",
    "x199_covariate_balance" -> "same |cohorts|² pair frame as x182",
    "x213_simpson_audit" ->
      ("cohort pooled-rate frame: 2 rows (binary cohorts) × strata " +
        "grid — category-bounded (also allowlisted in the broadcast " +
        "sweep)"),
    "x211_token_label_mi" ->
      ("build side = per-label doc totals: |labels| (languages) rows " +
        "— a category constant; the vocab-sized side streams (also " +
        "allowlisted in the broadcast sweep)"),
    "x101_hashed_neardup" ->
      ("the LABELED all-pairs cosine baseline the LSH family is " +
        "graded against — documented Ω(|pairs|) floor; the scale " +
        "path is x03/x05/x07 banding"),
    "x214_vocab_budget" ->
      ("mass-rank theta join over the COUNT-OF-COUNTS grid (distinct " +
        "tf values, Zipf-bounded ≲ √T — at 10¹² tokens ~10⁶ rows) × " +
        "4 ppm literals; never vocab- or row-sized"),
    "x246_kendall_tau" ->
      ("checkpoint-laundered (x, y) grid self-join (__xa < __xb): the " +
        "plan shows only Scan ExistingRDD, but Stats.kendallTauB " +
        "carries a MEASURED maxGridCells require (default 20k) on the " +
        "checkpointed grid's count — stronger than any plan pattern; " +
        "the pairwise stage is |grid|² by documented contract"),
    "x188_jsd_matrix" ->
      ("pair SKELETON off the checkpointed per-source totals table " +
        "(ns: one row per group by construction — the jsdMatrix " +
        "'bounded: one row per group' checkpoint) crossed a < b: " +
        "|sources|², the same catalog-constant matrix shape as " +
        "x167/x147; the vocab-sized (g, tok) counts never enter the " +
        "cartesian"),
    "x217_sif_neighbors" ->
      ("brute-force cosine kNN BASELINE (Similarity.bruteTopK): the " +
        "query side is literal-bounded (id < 10) so the product is " +
        "10 × |corpus| — corpus-LINEAR, one stream of the corpus per " +
        "query row; the documented scale path for unbounded query " +
        "sets is the IVF family (x21-x25)"),
    "x254_weighted_kappa" ->
      ("weightedKappa expected-disagreement grid: row marginals × " +
        "column marginals of the ORDINAL buckets — both sides " +
        "|categories|-bounded (≤10 rows each off the checkpointed " +
        "(a, b) grid), the x175 contingency-skeleton shape"))

  test("no nested-loop join streams against an unrestricted grouped " +
      "aggregate (the x231 non-equi blind spot)") {
    // regression fixture: the PRE-FIX x231 shape — a monotone
    // cumulative grid (grouped agg + global window) theta-joined on
    // cumb < t <= cum — must trip the detector
    import spark.implicits._
    val gv = Seq(("a", 1L, 2L), ("a", 3L, 1L), ("b", 1L, 1L))
      .toDF("group", "v", "n_gv")
      .localCheckpoint(true) // real x231 fed a checkpointed grid, not
      // a LocalTableScan — the checkpoint hides the source as a Scan
      // ExistingRDD exactly like the production shape
    val pooled = gv.groupBy("v")
      .agg(org.apache.spark.sql.functions.sum($"n_gv").as("__c"))
    val wp = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(Long.MinValue, 0)
    val pooledCum = pooled
      .withColumn("__cum", org.apache.spark.sql.functions.sum($"__c").over(wp))
      .withColumn("__cumb", $"__cum" - $"__c")
      .select($"v".as("__pv"), $"__cum", $"__cumb")
    val targets = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("group", "__t")
    val preFix = targets.join(pooledCum,
      $"__cumb" < $"__t" && $"__t" <= $"__cum")
    // second fixture: CHECKPOINT LAUNDERING — the same grouped grid
    // checkpointed AFTER the aggregate, then theta self-joined (the
    // kendallTauB shape). The checkpoint erases the Aggregate ancestry
    // (plan shows Scan ExistingRDD), so the Aggregate-keyed rule alone
    // is blind to it; the ExistingRDD-rooted rule must still trip.
    val launderedGrid = gv.groupBy("v")
      .agg(org.apache.spark.sql.functions.sum($"n_gv").as("__c"))
      .localCheckpoint(true)
    val laundered = launderedGrid
      .select($"v".as("__va"), $"__c".as("__ca"))
      .join(launderedGrid.select($"v".as("__vb"), $"__c".as("__cb")),
        $"__va" < $"__vb")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val flagged =
      try {
        assert(nestedLoopSuspects(
            preFix.queryExecution.executedPlan.toString).nonEmpty,
          "detector failed on the known-bad pre-fix x231 theta-join " +
            "shape:\n" + preFix.queryExecution.executedPlan.toString.take(800))
        assert(nestedLoopSuspects(
            laundered.queryExecution.executedPlan.toString).nonEmpty,
          "detector failed on the checkpoint-laundered grid self-join " +
            "(the kendallTauB shape):\n" +
            laundered.queryExecution.executedPlan.toString.take(800))
        forEachQuery { case (name, q) =>
          name -> nestedLoopSuspects(
            q(spark, dir).queryExecution.executedPlan.toString)
        }.filter(_._2.nonEmpty).toMap
      }
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevThreshold)
    val unexplained = flagged -- nestedLoopByDesign.keySet
    assert(unexplained.isEmpty,
      "queries plan a nested-loop join whose side is an unrestricted " +
        "grouped aggregate (grid-sized at corpus scale) with no " +
        "nestedLoopByDesign justification:\n" +
        unexplained.map { case (n, b) =>
          s"$n:\n${b.mkString("\n====\n")}" }.mkString("\n====\n"))
  }

  test("queries and oracles stay in sync") {
    assert(Oracles.all.keySet.subsetOf(Queries.all.keySet))
    val noOracle = Queries.all.keySet -- Oracles.all.keySet
    assert(noOracle.isEmpty,
      s"queries silently missing an oracle: $noOracle")
  }

  test("entry returns rows (t1 smoke shape)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
