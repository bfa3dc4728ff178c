package graft.ext

import org.apache.spark.sql.DataFrame

/** Session-scoped memo for DETERMINISTIC corpus-level artifacts that
  * more than one query legitimately shares — the
  * [[Pipeline.corpusPrepCached]] discipline as a reusable utility.
  *
  * Contract: the memoized computation must be a pure function of the
  * (cacheKey, args) pair — every operator here is deterministic (hash
  * orders, exact decimals, no RNG), so two queries asking for the same
  * artifact of the same snapshot get ONE materialization instead of
  * two full computations. `cacheKey` must identify the INPUT data
  * (e.g. the table directory + operator + parameters): the cache
  * cannot see through a DataFrame to its source, so a wrong key is a
  * wrong answer — key conservatively.
  *
  * The stored frame is localCheckpoint(eager)-ed: reuse costs a block
  * read, never a recompute, and the blocks die with the session.
  * Keyed by applicationId so sessions never see each other's blocks.
  * Bounded: one entry per distinct (corpus, operator, args) a session
  * touches — artifacts here are ids+small-columns tables (pair lists,
  * manifests), not corpora — AND bounded in TIME: a session's entries
  * are evicted when its application ends (a SparkListener registered
  * on first use), plus a stopped-context sweep on every access, so a
  * long-lived JVM that cycles many sessions (a test harness, a
  * notebook server) never pins dead checkpoint blocks or session
  * references. */
object Memo {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop every entry whose owning SparkContext has stopped — the
    * belt to the listener's braces (covers contexts killed without a
    * clean onApplicationEnd). Runs only when a NEW application first
    * touches the cache (and from the test-only [[size]]), so a memo
    * HIT costs one map lookup, not an O(cache) scan. NonFatal only:
    * an InterruptedException or OOM from the context probe must
    * propagate, not silently classify the entry as stopped. */
  private def sweepStopped(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val stopped =
        try e.getValue.sparkSession.sparkContext.isStopped
        catch { case scala.util.control.NonFatal(_) => true }
      if (stopped) it.remove()
    }
  }

  /** Materialize `compute` once per (session, cacheKey); later calls
    * return the checkpointed frame verbatim.
    *
    * REENTRANT by design: `compute` may itself call [[cached]] for a
    * DIFFERENT key (a derived memo reading a base memo), which is why
    * this is a get → compute → putIfAbsent sequence and NOT
    * computeIfAbsent — Java forbids a computeIfAbsent mapping
    * function from re-entering the map (nested calls can deadlock on
    * a shared bin). The cost is that two threads racing the same
    * cold key may both compute — harmless for correctness because
    * every memoized artifact is deterministic; the loser's
    * eagerly-materialized checkpoint blocks are unpersisted before
    * returning the winner's frame, so the race never pins duplicate
    * executor storage for the application's lifetime. */
  def cached(spark: org.apache.spark.sql.SparkSession, cacheKey: String)(
      compute: => DataFrame): DataFrame = {
    val app = spark.sparkContext.applicationId
    if (hooked.add(app)) {
      sweepStopped() // a new session is the moment stale entries from
      // a dirty-killed predecessor could pile up — sweep here, not on
      // every access
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            cache.keySet.removeIf(_._1 == app)
            hooked.remove(app)
          }
        })
    }
    val key = (app, cacheKey)
    val existing = cache.get(key)
    if (existing != null) existing
    else {
      val computed = compute.localCheckpoint(true)
      val prior = cache.putIfAbsent(key, computed)
      if (prior != null) {
        // lost the cold-key race: free the duplicate's checkpoint
        // blocks (eagerly materialized above) instead of pinning
        // them until application end
        release(computed)
        prior
      } else computed
    }
  }

  /** Free the blocks of an eagerly localCheckpoint-ed frame now, not
    * when a driver GC happens to run `ContextCleaner`. Only for a frame
    * nothing will read again. Dataset.unpersist is a CacheManager no-op
    * for checkpoints — the blocks hang off the plan's LogicalRDD leaf,
    * so unpersist THAT. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Visible for tests: number of live entries. */
  private[graft] def size: Int = { sweepStopped(); cache.size() }
}
