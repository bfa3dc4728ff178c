package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming forms of the engine's incremental semantics
  * (SURVEY §2.8). These are plan transforms — they apply to a streaming
  * DataFrame (`spark.readStream…`) and are driven by `writeStream`; the
  * batch operators in graft.operators stay the source of truth for
  * semantics, and the specs assert the two agree.
  *
  * Every sink is one micro-batch body under [[eachBatch]] (the only
  * `writeStream` in the engine), and a batch lands in its ledger by one
  * of two rules — the streaming form of the reference's idempotent
  * upsert (`INSERT … ON CONFLICT DO NOTHING`,
  * transform-load.2025-08-19.rkt:209):
  *  - [[appendPartial]]: stamp `_batch` and append. A replayed batch
  *    appends a byte-identical copy under the same id, which readers
  *    drop by deduping on (keys, _batch) — [[fold]] does it for the
  *    sum/count/max ledgers; the HLL and KMV views merge with max and
  *    distinct, which a replayed copy cannot change.
  *  - [[overwriteBatch]]: stamp `_batch` and dynamic-overwrite that
  *    one `_batch=N` partition. A replay rewrites its own partition;
  *    a sink that judges a batch against the ledger reads
  *    [[priorBatches]], which excludes it.
  */
object Streams {

  /** The one micro-batch runner: runs `body(batch, batchId)` for every
    * micro-batch of `stream`, with `checkpoint` as the query's
    * checkpoint location. foreachBatch is at-least-once — a crash
    * between the body and the checkpoint commit re-runs the batch
    * under the same id — which is what the two landing rules absorb. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch(body)
      .start()

  /** Landing rule 1: append `df` stamped with the batch id. */
  private def appendPartial(df: DataFrame, batchId: Long,
      path: String): Unit =
    df.withColumn("_batch", lit(batchId)).write.mode("append").parquet(path)

  /** Landing rule 2: write `df` as the `_batch=batchId` partition,
    * replacing only that partition. */
  private def overwriteBatch(df: DataFrame, batchId: Long,
      path: String): Unit =
    df.withColumn("_batch", lit(batchId)).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch")
      .parquet(path)

  /** True iff a `part-` file exists anywhere under `path` that a
    * parquet read would see (hidden `_x`/`.x` entries skipped, `k=v`
    * partition directories walked); stops at the first hit. An
    * explicit FileSystem check, not exception-message parsing: a
    * directory with no part file (a first batch whose rows were all
    * filtered, or an empty dynamic-overwrite write, which leaves the
    * directory behind) fails parquet schema inference, while any OTHER
    * read failure — permissions, a corrupt footer — must propagate. */
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    }
    def walk(dir: Path): Boolean =
      fs.listStatus(dir).iterator.filter(s => visible(s.getPath)).exists(s =>
        if (s.isDirectory) walk(s.getPath)
        else s.getPath.getName.startsWith("part-"))
    fs.exists(root) && walk(root)
  }

  /** The [[overwriteBatch]] ledger at `path` below batch `batchId`, or
    * None while it holds no data. The batch's own partition is
    * excluded, so a replayed batch is judged against exactly what
    * preceded it, never against its own earlier write. */
  private def priorBatches(spark: SparkSession, path: String,
      batchId: Long): Option[DataFrame] =
    if (!hasData(spark, path)) None
    else Some(spark.read.parquet(path)
      .where(col("_batch").cast("long") < lit(batchId)))

  /** The one fold over an [[appendPartial]] ledger: at-least-once
    * replays collapsed by deduping on (keys, _batch) — which is what
    * lets every view claim load ∘ load = load without a transactional
    * sink — then `aggs` per key. The ledger is hash-partitioned by
    * `keys` up front, which satisfies both the dedup and the per-key
    * aggregate: the whole fold costs one exchange. */
  private def fold(spark: SparkSession, path: String, keys: Seq[String])(
      aggs: Column*): DataFrame =
    spark.read.parquet(path).repartition(keys.map(col): _*)
      .dropDuplicates(keys :+ "_batch")
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Idempotent replay: PK dedup with state bounded by a watermark — the
    * streaming form of ON CONFLICT DO NOTHING (keep-first; reference:
    * transform-load.2025-08-19.rkt:209). Late duplicates beyond the
    * watermark age out of state; within it, re-delivery inserts nothing. */
  def dedupKeepFirst(stream: DataFrame, pk: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicates(pk :+ tsCol)

  /** Watermark-bounded dedup WITHOUT event time in the key:
    * `dropDuplicatesWithinWatermark` keeps the first ARRIVAL per PK even
    * when re-deliveries carry different event times (at-least-once
    * sources re-stamp on retry — the case where [[dedupKeepFirst]]'s
    * pk+ts key sees two distinct rows). State still ages out at the
    * watermark, so memory stays bounded by keys-per-delay, not by
    * corpus history. */
  def dedupWithinWatermark(stream: DataFrame, pk: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(pk)

  /** foreachBatch upsert sink: maintains a parquet table with
    * `INSERT … ON CONFLICT (pk) DO NOTHING` semantics across
    * micro-batches — the streaming form of [[graft.operators.Upsert.keepFirst]]
    * (S9; reference: transform-load.2025-08-19.rkt:209). Each batch is
    * first deduped internally (smallest `precedence` tuple wins, same
    * rule as the batch operator), then anti-joined against the table's
    * existing PKs so only never-seen keys are APPENDED — the table is
    * never rewritten, so a 100 TB table costs one PK-projection scan per
    * batch (at real scale the PK set would sit in a bucketed/indexed
    * store; the shape — dedup, anti-join, append — is the same).
    * Replayed batches insert nothing: load ∘ load = load. The table
    * holds the stream's own columns (no `_batch` stamp).
    *
    * Returns the started query; stop it when done. */
  def keepFirstSink(stream: DataFrame, pk: Seq[String],
      precedence: Seq[Column], tablePath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val deduped = graft.operators.Upsert.keepFirst(batch, pk, precedence)
      val fresh =
        if (hasData(spark, tablePath))
          deduped.join(
            spark.read.parquet(tablePath).select(pk.map(col): _*),
            pk, "left_anti")
        else deduped
      fresh.write.mode("append").parquet(tablePath)
    }

  /** foreachBatch last-wins sink (S10 streaming — the CDC form of
    * `ON CONFLICT DO UPDATE`): the table is an append-only LOG; each
    * micro-batch appends its rows stamped with the batch id, and readers
    * resolve current state with [[latestView]] — max (batch, ord) per
    * PK, the batch [[graft.operators.Upsert.lastWins]] rule with the
    * batch id as the leading key. Appending beats rewriting at scale: a
    * batch lands at the cost of the batch regardless of table size
    * (merge-on-read), and [[compactLog]] folds the log back to one row
    * per key when read amplification warrants — the same
    * compact-on-write / merge-on-read tradeoff every LSM or lakehouse
    * table format makes (at 100 TB compaction would run per
    * date/bucket partition, not whole-table). A replayed batch appends
    * identical rows under the same batch id, which the per-PK max
    * resolves to the same values: load ∘ load = load on the VIEW. */
  def lastWinsSink(stream: DataFrame, tablePath: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(stream, checkpoint)(appendPartial(_, _, tablePath))

  /** Current state of a [[lastWinsSink]] log: one row per PK, largest
    * (_batch, ord) wins. `ord` must fully determine order within a
    * batch (the batch operator's contract). Retains `_batch` so a
    * compacted log remains a valid log. */
  def latestView(spark: SparkSession, tablePath: String,
      pk: Seq[String], ord: Seq[Column]): DataFrame =
    graft.operators.Upsert.lastWins(
      spark.read.parquet(tablePath), pk, col("_batch") +: ord)

  /** Time travel on a [[lastWinsSink]] log: the table's state as of
    * batch `asOfBatch` — the log IS the history, so any past state is
    * one predicate away (rows stamped later are simply ignored by the
    * fold). This is what the append-only design buys over rewriting:
    * audits and reproducible re-reads of "the table as the training
    * run saw it" cost a filter, not a restore. Compaction folds history
    * away (its contract) — retain the log, or snapshot before
    * compacting, where time travel matters. */
  def viewAsOf(spark: SparkSession, tablePath: String,
      pk: Seq[String], ord: Seq[Column], asOfBatch: Long): DataFrame =
    graft.operators.Upsert.lastWins(
      spark.read.parquet(tablePath).where(col("_batch") <= asOfBatch),
      pk, col("_batch") +: ord)

  /** Fold the log to its latest view in place (compact-on-write).
    * Batch-id stamps survive, so post-compaction appends still order
    * after every compacted row.
    *
    * CONTRACT: compaction requires quiescence — call it between batches
    * or with the query stopped. The materialize → delete → rename
    * sequence on a plain parquet directory is not atomic: an append
    * racing the delete would be lost, and crash-safety across the swap
    * needs a transactional table format (which is what a production
    * deployment would put under this same log/fold/compact shape). */
  def compactLog(spark: SparkSession, tablePath: String,
      pk: Seq[String], ord: Seq[Column]): Unit =
    swapInPlace(spark, tablePath, latestView(spark, tablePath, pk, ord))

  private def swapInPlace(spark: SparkSession,
      tablePath: String, folded: DataFrame): Unit = {
    val tmp = tablePath + ".compact"
    folded.write.mode("overwrite").parquet(tmp)
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.delete(new Path(tablePath), true) ||
        !fs.rename(new Path(tmp), new Path(tablePath)))
      throw new java.io.IOException(
        s"compaction swap failed for $tablePath (compacted data is in $tmp)")
  }

  /** Incremental aggregate maintenance (the materialized-view pattern):
    * each micro-batch appends its PARTIAL per-key (sum, count) to the
    * log — never a read-modify-write of the table — and [[sumView]]
    * folds the log with the same monoid on read. Because sum/count are
    * commutative monoids, append order, replays of partials, and
    * compaction all commute; a batch lands at the cost of its own
    * partial aggregate regardless of view size. [[compactAdditive]]
    * folds the log to one row per key (the same merge the reader runs),
    * so read amplification is a knob, not a correctness concern.
    * Sums run in exact decimal (order-independent); cast at the edge.
    * Every view over this log folds it when the view is BUILT, so a
    * view is a snapshot of the log files listed at that moment; call
    * the view again to see later batches. */
  def additiveSink(stream: DataFrame, keys: Seq[String], value: Column,
      tablePath: String, checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      appendPartial(batch.groupBy(keys.map(col): _*)
        .agg(sum(value.cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .as("_psum"), count(lit(1)).as("_pcount")), batchId, tablePath)
    }

  /** Current state of an [[additiveSink]] log: one row per key with the
    * folded sum (double at the boundary) and count.
    *
    * CONTRACT: every `*FromCounts`/`*FromCells` tail in the engine,
    * applied to this view, equals its batch operator over everything
    * ingested (StreamingSpec asserts it tail by tail), so one count
    * ledger serves every view of its key shape — project the view to
    * the tail's columns, with `n` (the folded `_pcount`, one appended
    * unit per observation) as the count:
    *  - keys (g, v): [[graft.ext.Stats.ksDriftFromCounts]],
    *    `psiFromCounts`, `ksMatrixFromCounts` and `cusumFromCounts`
    *    (v as the period `p`), [[graft.ext.TextAnalysis.jsdMatrixFromCounts]]
    *    (v as the token `tok`), and
    *    [[graft.ext.Quantiles.quantileNormalizeFromCounts]] (g as
    *    `group`, n as `n_gv`);
    *  - keys (v, y), (g, v, y): the classifier-eval tails
    *    (`rocAucFromCounts` … `gainsCurveFromCounts`, and their
    *    `ByGroup` forms);
    *  - keys (a, b): `cohenKappaFromCounts`, `weightedKappaFromCounts`;
    *  - keys (key, ws), a count of 1 per event: the
    *    [[graft.ext.EventWindows]] alarms (`rateAnomalyFromCounts`,
    *    `calendarDensify`, `seasonalAnomalyFromCounts`, `levelShift`,
    *    `dispersion`, `mannKendall`, `availability`, `theilSen`
    *    `FromCounts`) over (ws, key, c = total);
    *  - keys (stratum, cohort), the success flag as the value:
    *    [[graft.ext.Stats.simpsonAuditFromCells]] over (n, k = total).
    *
    * The fold runs HERE, when the view is built (one job, one shuffle),
    * and the returned frame is a leaf over its shuffle output
    * ([[org.apache.spark.sql.graft.Bridge.executedLeaf]]): a view tail
    * that references the counts several times reads them, rather than
    * re-scanning and re-folding the log per reference. So the view is
    * a snapshot of the log files listed at that moment — the file
    * listing was already taken then — and partials appended later
    * show up in the next `sumView` call, not in this frame. */
  def sumView(spark: SparkSession, tablePath: String,
      keys: Seq[String]): DataFrame =
    org.apache.spark.sql.graft.Bridge.executedLeaf(
      fold(spark, tablePath, keys)(
        sum(col("_psum")).cast("double").as("total"),
        sum(col("_pcount")).as("n")))

  /** Fold the additive log to one partial per key in place. Same
    * quiescence contract as [[compactLog]] — and additionally the
    * stream's last batch must be checkpoint-committed, because a
    * replay of a batch that compaction already folded away would
    * re-append it as a new partial. */
  def compactAdditive(spark: SparkSession,
      tablePath: String, keys: Seq[String]): Unit =
    swapInPlace(spark, tablePath,
      fold(spark, tablePath, keys)(sum(col("_psum")).as("_psum"),
        sum(col("_pcount")).as("_pcount"), max(col("_batch")).as("_batch")))

  /** Streaming distinct-count maintenance — the cardinality member of
    * the incremental-view family: each micro-batch appends its PARTIAL
    * HyperLogLog registers (per-(group, bucket) max-of-rho,
    * [[graft.ext.DistinctSketch.hllRegisters]]) to the log, and
    * [[hllView]] folds the log with the same MAX monoid. MAX is
    * commutative AND idempotent, so batch replays are harmless even
    * BEFORE the (key, _batch) dedup, appends commute, and compaction
    * is the reader's own fold — strictly easier than the additive
    * sink's sum monoid. State per group is bounded at 2^p rows no
    * matter how long the stream runs, which is the whole point: exact
    * streaming distinct would grow state with every novel value. */
  def hllSink(stream: DataFrame, groupCol: String, value: Column,
      tablePath: String, checkpoint: String, p: Int = 8): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      appendPartial(graft.ext.DistinctSketch.hllRegisters(batch, groupCol,
        value, p), batchId, tablePath)
    }

  /** Current estimate from an [[hllSink]] log: MAX-fold the register
    * partials, then the shared estimate tail — identical to what the
    * batch path would compute over everything ingested so far
    * (StreamingSpec asserts register-for-register equality). */
  def hllView(spark: SparkSession, tablePath: String,
      p: Int = 8): DataFrame =
    graft.ext.DistinctSketch.hllEstimate(
      spark.read.parquet(tablePath)
        .groupBy("g", "bucket").agg(max(col("reg")).as("reg")), p)

  /** Streaming KMV distinct-count maintenance — the exact-k-accuracy
    * sibling of [[hllSink]]: each micro-batch appends its per-group k
    * SMALLEST distinct hashes, and [[kmvView]] ranks the deduped
    * union — whose k smallest are exactly the stream-wide k minima
    * (the KMV merge property), so the view equals the batch sketch
    * over everything ingested. Replay-idempotent after the (g, h)
    * dedup (a re-run batch appends byte-identical hash rows). Ledger
    * grows k rows per (group, batch) until compacted by re-ranking —
    * the reader's own fold. */
  def kmvSink(stream: DataFrame, groupCol: String, value: Column,
      tablePath: String, checkpoint: String, k: Int = 64): StreamingQuery = {
    require(k >= 2, s"kmvSink: k=$k must be >= 2")
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      appendPartial(graft.ext.DistinctSketch.kmvPartial(batch, groupCol,
        value, k), batchId, tablePath)
    }
  }

  /** Current estimate from a [[kmvSink]] ledger: dedup (g, h), rank,
    * same estimate tail as the batch sketch. */
  def kmvView(spark: SparkSession, tablePath: String,
      k: Int = 64): DataFrame =
    graft.ext.DistinctSketch.kmvEstimate(
      spark.read.parquet(tablePath).select(col("g"), col("h"))
        .dropDuplicates("g", "h"), k)

  /** Streaming EMBEDDING-drift maintenance: each micro-batch appends
    * its [[graft.ext.Similarity.shardSums]] partial — per-(shard, dim)
    * exact decimal component sums + shard counts, the MERGEABLE form
    * (decimal addition is exact and associative) — and
    * [[centroidDriftView]] folds the ledger through the identical
    * drift tail, so the view is BIT-equal to the batch
    * `centroidShardDrift` over everything ingested (StreamingSpec
    * asserts it). The representation-level sibling of
    * [[driftMonitorSink]]'s lexical TV alarm. Replay-idempotent after
    * the (_batch, shard, dim) dedup (a re-run batch appends
    * byte-identical decimal rows). */
  def centroidDriftSink(stream: DataFrame, idCol: String, vecCol: String,
      shards: Int, tablePath: String, checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      appendPartial(graft.ext.Similarity.shardSums(batch, idCol, vecCol,
        shards), batchId, tablePath)
    }

  /** Fold a [[centroidDriftSink]] ledger to the per-shard drift rows —
    * [[graft.ext.Similarity.driftFromShardSums]] over the deduped,
    * batch-summed partials. */
  def centroidDriftView(spark: SparkSession,
      tablePath: String): DataFrame =
    graft.ext.Similarity.driftFromShardSums(
      fold(spark, tablePath, Seq("shard", "dim"))(
        sum(col("s")).as("s"), sum(col("n_vecs")).as("n_vecs")))

  /** Streaming SHARDED-EXPORT sink — the x142 manifest-driven export
    * as a restart-safe ingest tail: each micro-batch is packed into
    * ≈`shardTokens`-token shards by the deterministic prefix-sum plan
    * ([[graft.ext.Sampling.shardPlan]] over the BATCH — streaming
    * cannot re-shard history, so shard ids are batch-scoped and the
    * (_batch, shard_id) pair is the global shard key) and lands as
    * `_batch=N/shard_id=M/` JSONL partitions. Dynamic partition
    * overwrite by batch id keeps a replayed batch byte-idempotent —
    * the [[overwriteBatch]] rule, partitioned one level deeper.
    * [[shardedExportManifest]] re-derives the manifest FROM DISK.
    * Appends (idCol, nTokensCol, textCol, _batch, shard_id). */
  def shardedExportSink(docStream: DataFrame, idCol: String,
      nTokensCol: String, textCol: String, shardTokens: Long,
      outPath: String, checkpoint: String): StreamingQuery =
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      val plan = graft.ext.Sampling.shardPlan(
          batch.select(col(idCol), col(nTokensCol)),
          col(idCol), col(nTokensCol), shardTokens)
        .select(col("id").as(idCol), col("shard_id"))
      batch.select(col(idCol), col(nTokensCol), col(textCol))
        .join(plan, Seq(idCol))
        .withColumn("_batch", lit(batchId))
        .repartition(col("shard_id"))
        .sortWithinPartitions(col("shard_id"), col(idCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch", "shard_id")
        .json(outPath)
    }

  /** Disk-derived manifest over a [[shardedExportSink]] table: one row
    * per (_batch, shard_id) with doc count, token mass, and the id
    * range — what a downstream trainer actually reads, certified
    * (the x142 contract, per batch). */
  def shardedExportManifest(spark: SparkSession,
      outPath: String, idCol: String, nTokensCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField(nTokensCol, LongType),
      StructField("_batch", LongType), StructField("shard_id", LongType)))
    spark.read.schema(schema).json(outPath)
      .groupBy("_batch", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col(nTokensCol)).as("n_tokens"),
        min(col(idCol)).as("first_doc"), max(col(idCol)).as("last_doc"))
      .orderBy("_batch", "shard_id")
  }

  /** KS-drift view over an [[additiveSink]] ledger keyed (g, v): fold
    * the per-batch count partials and run the exact x164 KS tail —
    * with this, every drift alarm in the engine (lexical TV, embedding
    * centroid, distribution SHAPE) has a streaming form bit-equal to
    * its batch operator over everything ingested (StreamingSpec). */
  def ksDriftView(spark: SparkSession, tablePath: String): DataFrame =
    graft.ext.Stats.ksDriftFromCounts(
      sumView(spark, tablePath, Seq("g", "v"))
        .select(col("g"), col("v"), col("n").as("c")))

  /** PSI view over the SAME [[additiveSink]] (g, v) ledger as
    * [[ksDriftView]] — the scorecard-monitoring PSI beside the KS
    * shape alarm, bit-equal to batch [[graft.ext.Stats.psi]] over
    * everything ingested (StreamingSpec). */
  def psiView(spark: SparkSession, tablePath: String): DataFrame =
    graft.ext.Stats.psiFromCounts(
      sumView(spark, tablePath, Seq("g", "v"))
        .select(col("g"), col("v"), col("n").as("c")))

  /** Streaming PCA-MOMENT ledger: each micro-batch appends its exact
    * partial covariance moments — per-dim (count, Σxq) and per-dim-
    * pair (Σ xq·xq′), all integer/decimal commutative monoids over
    * the 1e-6-quantized coordinates — as two partial tables
    * (`dims/`, `moments/`), replay-deduped on (keys, _batch). The
    * additive-ledger discipline reaching linear algebra: d + d² rows
    * per batch regardless of batch size. */
  def pcaMomentsSink(vecStream: DataFrame, idCol: String,
      vecCol: String, tablePath: String, checkpoint: String)
      : StreamingQuery = {
    val N0 = org.apache.spark.sql.types.DecimalType(38, 0)
    eachBatch(vecStream, checkpoint) { (batch, batchId) =>
      val pe = batch.select(col(idCol).as("__id"),
          posexplode(col(vecCol)).as(Seq("__i", "__x")))
        .select(col("__id"), col("__i"),
          floor(col("__x").cast("double") * lit(1e6)).cast("long")
            .as("__xq"))
        .localCheckpoint(true) // feeds both partial tables
      appendPartial(pe.groupBy("__i")
        .agg(count(lit(1)).as("_pn"), sum(col("__xq").cast(N0)).as("_pt")),
        batchId, s"$tablePath/dims")
      appendPartial(pe.as("a").join(pe.as("b"), Seq("__id"))
        .groupBy(col("a.__i").as("__ia"), col("b.__i").as("__ib"))
        .agg(sum(col("a.__xq").cast(N0) * col("b.__xq").cast(N0))
          .as("_ps")), batchId, s"$tablePath/moments")
    }
  }

  /** Top-principal-component view over a [[pcaMomentsSink]] ledger:
    * fold the moment partials and run the exact x195 integer power
    * iteration + normalization — bit-equal to batch
    * [[graft.ext.Pca.topComponent]] over everything ingested
    * (StreamingSpec). */
  def topComponentView(spark: SparkSession,
      tablePath: String, iters: Int = 4): DataFrame =
    graft.ext.Pca.normalizeComponent(
      graft.ext.Pca.powerVectorFromMoments(
        fold(spark, s"$tablePath/dims", Seq("__i"))(
          sum(col("_pn")).as("__n"), sum(col("_pt")).as("__t")),
        fold(spark, s"$tablePath/moments", Seq("__ia", "__ib"))(
          sum(col("_ps")).as("__s")),
        iters))

  /** Streaming A/B MOMENT ledger: each micro-batch appends its
    * per-cohort partial (n, Σx, Σx²) — count and exact decimal sums,
    * all commutative monoids, so replays dedupe on (cohort, _batch)
    * and append order never matters (the [[additiveSink]] contract
    * with a second moment riding along). Σx² partials are computed at
    * (18,4)² → (37,8) inside each batch and stored at (38,8). */
  def abMomentsSink(units: DataFrame, cohort: Column, value: Column,
      tablePath: String, checkpoint: String): StreamingQuery = {
    val xd = value.cast(org.apache.spark.sql.types.DecimalType(18, 4))
    eachBatch(units, checkpoint) { (batch, batchId) =>
      appendPartial(batch.groupBy(cohort.as("cohort"))
        .agg(count(lit(1)).as("_pn"), sum(xd).as("_ps"),
          sum(xd * xd).as("_pss")), batchId, tablePath)
    }
  }

  /** Welch t-test view over an [[abMomentsSink]] ledger: fold the
    * per-cohort moment partials (exact decimal sums — order- and
    * batching-independent) and run the x184 Welch tail. The streaming
    * A/B readout is bit-equal to batch [[graft.ext.Stats.welchT]]
    * over everything ingested (StreamingSpec). */
  def welchView(spark: SparkSession, tablePath: String): DataFrame =
    graft.ext.Stats.welchTFromMoments(
      fold(spark, tablePath, Seq("cohort"))(sum(col("_pn")).as("n"),
        sum(col("_ps")).as("s"), sum(col("_pss")).as("ss")))

  /** Streaming ADMISSION against a PERSISTED LSH dedup index — the
    * [[modelAssignSink]] frozen-artifact discipline applied to
    * near-dup state: the [[graft.ext.Dedup.saveLshIndex]] tables load
    * once at stream start (band keys + hashed shingle sets,
    * checkpointed so no batch re-reads the files), and every
    * micro-batch admits exactly the rows batch
    * [[graft.ext.Dedup.dedupAgainstIndex]] would (StreamingSpec).
    * FROZEN-INDEX CONTRACT: admission is judged ONLY against the
    * indexed corpus — duplicates WITHIN the stream pass (by design:
    * the index is the authority; compose the ledgered
    * [[semanticAdmitSink]]-style cross-batch state, or re-index and
    * restart, when stream-internal dedup is wanted). Lands admitted
    * rows by [[overwriteBatch]] (replay-idempotent). */
  def lshAdmitSink(docStream: DataFrame, indexDir: String, idCol: String,
      shinglesCol: String, outPath: String, checkpoint: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.6)
      : StreamingQuery = {
    val spark = docStream.sparkSession
    val exBands = spark.read.parquet(s"$indexDir/bands").localCheckpoint()
    val exHs = spark.read.parquet(s"$indexDir/shingles").localCheckpoint()
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.ext.Dedup.dedupAgainstLoadedIndex(exBands, exHs,
        batch, idCol, shinglesCol, numHashes, bands, threshold),
        batchId, outPath)
    }
  }

  /** Streaming ADMISSION against a PERSISTED symmetric-delete variant
    * index — the [[lshAdmitSink]] frozen-index discipline applied to
    * FUZZY RECORD LINKAGE ([[graft.ext.Dedup.saveVariantIndex]]): the
    * index tables and their pinned (max_dist, min_len) params load
    * once at stream start (checkpointed), and every micro-batch
    * admits exactly the records batch
    * [[graft.ext.Dedup.linkAgainstIndex]] finds NO match for —
    * near-duplicate spellings of an indexed record are rejected at
    * the door. FROZEN-INDEX CONTRACT (the lshAdmitSink semantics):
    * admission is judged ONLY against the indexed records — variants
    * WITHIN the stream pass; records shorter than min_len are
    * unjudgeable and pass (the same exclusion the index applied).
    * Lands admitted rows by [[overwriteBatch]] (replay-idempotent). */
  def linkageAdmitSink(recStream: DataFrame, indexDir: String,
      idCol: String, strCol: String, outPath: String, checkpoint: String)
      : StreamingQuery = {
    val spark = recStream.sparkSession
    val paramsDf = spark.read.parquet(s"$indexDir/params")
    val params = paramsDf.head()
    val maxDist = params.getAs[Int]("max_dist")
    val minLen = params.getAs[Int]("min_len")
    // bucketed layouts carry n_buckets: the per-batch link then
    // bucket-filters the checkpointed variants copy (no partition
    // pruning off a checkpoint, but the candidate-join input shrinks
    // identically)
    val nBuckets = if (paramsDf.columns.contains("n_buckets"))
      params.getAs[Int]("n_buckets") else 0
    val exV = spark.read.parquet(s"$indexDir/variants").localCheckpoint()
    val exS = spark.read.parquet(s"$indexDir/strings").localCheckpoint()
    eachBatch(recStream, checkpoint) { (batch, batchId) =>
      val matched = graft.ext.Dedup.linkAgainstLoadedIndex(exV, exS,
          batch, idCol, strCol, maxDist, minLen, nBuckets)
        .select(col("id").as(idCol)).distinct()
      overwriteBatch(batch.join(matched, Seq(idCol), "left_anti"),
        batchId, outPath)
    }
  }

  /** Streaming SEMANTIC-NEIGHBOR serving against a PERSISTED SIF
    * model — the [[modelAssignSink]] frozen-artifact discipline
    * applied to TEXT (no embedding table anywhere): the
    * [[graft.ext.TextAnalysis.saveSifWeights]] weight table and
    * [[graft.ext.TextAnalysis.saveSifCells]] corpus cells load once
    * at stream start (checkpointed — no batch re-reads the files, and
    * the corpus vectors assemble once), then every micro-batch embeds
    * its documents with the FROZEN weights
    * ([[graft.ext.TextAnalysis.sifEmbedFrozen]]) and ranks them
    * against the frozen corpus vectors with the exact brute cosine
    * ranker — per batch bit-equal to sifEmbedFrozen + bruteTopK over
    * the same rows (StreamingSpec). FROZEN CONTRACT: neighbors come
    * ONLY from the indexed corpus; stream-internal similarity is out
    * of scope (re-index and restart to refresh, the Ivf refresh
    * contract); a document whose terms are all OOV emits nothing;
    * stream ids must not collide with corpus ids (the self-exclusion
    * in the ranker would silently drop the corpus row). Lands
    * (query_id, rank, neighbor_id, cosine) by [[overwriteBatch]]
    * (replay-idempotent). */
  def sifNeighborSink(docStream: DataFrame, weightsPath: String,
      cellsPath: String, idCol: String, textCol: String, dim: Int,
      k: Int, outPath: String, checkpoint: String): StreamingQuery = {
    val spark = docStream.sparkSession
    val w = graft.ext.TextAnalysis.loadSifWeights(spark, weightsPath)
      .localCheckpoint()
    def vectors(cells: DataFrame): DataFrame = cells.groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("v")))), x => x.getField("v")).as("embedding"))
    val corpus = vectors(graft.ext.TextAnalysis.loadSifCells(spark,
      cellsPath)).localCheckpoint()
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      val q = vectors(graft.ext.TextAnalysis.sifEmbedFrozen(batch, idCol,
        textCol, w, dim))
      overwriteBatch(graft.ext.Similarity.bruteTopK(q, corpus, "id",
        "embedding", k), batchId, outPath)
    }
  }

  /** Streaming SOURCE-CENTROID ledger: per micro-batch, the
    * (src, dim) exact decimal component sums of
    * [[graft.ext.Similarity.sourceSums]] — additive partials, same
    * discipline as [[centroidDriftSink]] but keyed by the stream's
    * own source column. [[centroidMatrixView]] folds the ledger to
    * the exact x174 pair-cosine matrix over everything ingested. */
  def centroidMatrixSink(stream: DataFrame, source: Column, vec: Column,
      tablePath: String, checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      appendPartial(graft.ext.Similarity.sourceSums(batch, source, vec),
        batchId, tablePath)
    }

  /** Fold a [[centroidMatrixSink]] ledger to the exact batch
    * [[graft.ext.Similarity.sourceCentroidMatrix]]: dedup replayed
    * partials on (src, dim, _batch), re-sum to (20,8), pair tail. */
  def centroidMatrixView(spark: SparkSession,
      tablePath: String): DataFrame =
    graft.ext.Similarity.sourceCentroidMatrixFromSums(
      fold(spark, tablePath, Seq("src", "dim"))(sum(col("s"))
        .cast(org.apache.spark.sql.types.DecimalType(20, 8)).as("s")))

  /** Streaming RFM ledger: per micro-batch, one (user, last_us,
    * frequency, spend) MERGEABLE partial row — max is max-mergeable,
    * count and the exact decimal spend sum are additive, so the view
    * folds any batch partition of the stream to the identical
    * per-user metrics (the additiveSink discipline with a max column
    * riding along). Replay-idempotent like every ledger here: a
    * re-run batch re-appends byte-identical partials under the same
    * _batch id and the view dedups on (user, _batch). */
  def rfmSink(events: DataFrame, userCol: Column, ts: Column,
      value: Column, tablePath: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(events, checkpoint) { (batch, batchId) =>
      appendPartial(batch.groupBy(userCol.as("user_id")).agg(
          max(unix_micros(ts)).as("_plast"),
          count(lit(1)).as("_pcount"),
          sum(value.cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .as("_psum")), batchId, tablePath)
    }

  /** Fold an [[rfmSink]] ledger to the exact batch
    * [[graft.ext.EventWindows.rfm]] table over everything ingested:
    * dedup replayed partials on (user, _batch), merge (max, sum,
    * sum), then the same as-of recency + NTILE bucket tail. */
  def rfmView(spark: SparkSession,
      tablePath: String, buckets: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = fold(spark, tablePath, Seq("user_id"))(
      max(col("_plast")).as("__last"),
      sum(col("_pcount")).as("frequency"),
      sum(col("_psum"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("__m"))
    val asof = merged.agg(max(col("__last")).as("__mx"))
    val dayUs = 86400000000L
    val age = col("__mx") - col("__last")
    merged.crossJoin(broadcast(asof))
      .withColumn("recency_days",
        ((age - pmod(age, lit(dayUs))) / lit(dayUs)).cast("long"))
      .withColumn("r_bucket", ntile(buckets).over(Window
        .orderBy(col("recency_days").asc, col("user_id").asc)).cast("long"))
      .withColumn("f_bucket", ntile(buckets).over(Window
        .orderBy(col("frequency").desc, col("user_id").asc)).cast("long"))
      .withColumn("m_bucket", ntile(buckets).over(Window
        .orderBy(col("__m").desc, col("user_id").asc)).cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("__m").cast("double").as("monetary"),
        col("r_bucket"), col("f_bucket"), col("m_bucket"))
  }

  /** Streaming SERVING of a PERSISTED quantizer index — the streaming
    * half of the x162/x163 index lifecycle (train → save → load →
    * serve), the [[bm25ScoreSink]] frozen-artifact discipline applied
    * to quantizer models: the model written by
    * [[graft.ext.Ivf.saveModel]] (flat) or
    * [[graft.ext.Ivf.saveModelTwoLevel]] (fine-as-data) is loaded
    * ONCE at stream start, and every micro-batch of vectors is
    * assigned under those FROZEN cell boundaries
    * ([[graft.ext.Ivf.assignModel]] — bit-identical to batch
    * assignment under the same loaded model, StreamingSpec). Lands
    * (neighbor_id, cid) rows by [[overwriteBatch]], so a replayed
    * batch rewrites its own partition byte-identically. Restart-safe
    * by construction: the saved model IS the state — a restart
    * re-loads the same files and serves the same assignments; to
    * re-index, retrain + save, then restart the stream (the
    * frozen-stats refresh contract). */
  def modelAssignSink(vecStream: DataFrame, modelPath: String,
      idCol: String, vecCol: String, outPath: String, checkpoint: String,
      twoLevel: Boolean = false): StreamingQuery = {
    val spark = vecStream.sparkSession
    val model: graft.ext.Ivf.Model =
      if (twoLevel) graft.ext.Ivf.loadModelTwoLevel(spark, modelPath)
      else graft.ext.Ivf.FlatModel(graft.ext.Ivf.loadModel(spark, modelPath))
    eachBatch(vecStream, checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.ext.Ivf.assignModel(batch, idCol, vecCol, model)
        .select(col("neighbor_id"), col("cid")), batchId, outPath)
    }
  }

  /** Streaming distribution-drift monitor: score every micro-batch's
    * token distribution against a PINNED training-corpus distribution
    * (the train-once contract of the score/BM25 sinks — the model is
    * `TextAnalysis.tokenDistribution` + its total, fit once before the
    * stream starts) and append one
    * (n_tokens, tv_distance, _batch) row per batch to the monitor
    * table. The alarm a long-running ingestion wants: a rising TV
    * series says arriving data no longer looks like what the quality/
    * LM models were fit on — re-train before the frozen-stats scores
    * drift into garbage. Replay-safe by construction: a re-run batch
    * re-appends an identical row under the same _batch id (readers
    * dedup on _batch like every ledger here). */
  def driftMonitorSink(stream: DataFrame, textCol: String,
      corpusCounts: DataFrame, corpusTotal: Long, tablePath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      appendPartial(graft.ext.TextAnalysis.tvAgainstCorpus(batch, textCol,
        corpusCounts, corpusTotal), batchId, tablePath)
    }

  /** Diff→CDC bridge: maintain a parquet table by APPLYING a stream of
    * [[graft.operators.Diff.snapshotDiff]] rows incrementally — the
    * missing half of the snapshot-diff story (diffs as a CHANGE FEED,
    * not just a comparison result). Each micro-batch is one diff
    * (added/removed/changed + old_/new_ tuples); the sink folds it into
    * the table with [[graft.operators.Diff.applyDiff]] semantics, so
    * after batches d1…dn the table equals
    * applyDiff(…applyDiff(initial, d1)…, dn) — StreamingSpec asserts
    * exactly that against the batch operator.
    *
    * Replay-hardening: foreachBatch is at-least-once, and the batch
    * operator's union of "added" rows is NOT idempotent under replay —
    * here added keys are also anti-joined out of the current table
    * first, making each batch an upsert: apply ∘ apply = apply. For
    * batches that ARE a diff of the current table the two rules agree
    * (an added key cannot already be present).
    *
    * Cost shape at scale: one PK anti-join + one append per batch —
    * identical to [[keepFirstSink]]'s admission shape, co-locatable via
    * bucketing; the in-place swap stands in for the transactional commit
    * a production table format would provide (see [[compactLog]]'s
    * contract). */
  def applyDiffSink(diffStream: DataFrame, pk: Seq[String],
      tablePath: String, checkpoint: String): StreamingQuery =
    eachBatch(diffStream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val vals = batch.columns.filter(_.startsWith("new_"))
        .map(_.stripPrefix("new_")).toSeq
      val incoming = batch.where(col("change").isin("added", "changed"))
        .select(pk.map(col) ++ vals.map(c => col("new_" + c).as(c)): _*)
      if (!hasData(spark, tablePath)) {
        incoming.write.mode("overwrite").parquet(tablePath)
      } else {
        val touched = batch.select(pk.map(col): _*)
        val next = spark.read.parquet(tablePath)
          .join(touched, pk, "left_anti")
          .unionByName(incoming)
        swapInPlace(spark, tablePath, next)
      }
    }

  /** Streaming model-based quality scorer: score a document STREAM
    * under bigram conditional frequencies trained ONCE on a fixed
    * corpus ([[graft.ext.TextAnalysis.bigramModel]]), appending
    * (id, n_bigrams, bigram_score, _batch) per micro-batch. The counts
    * are corpus-sized DATA (checkpointed once, joined per batch —
    * never broadcast), so the model can be arbitrarily large; bigrams
    * the corpus never saw score 0, so drifting or junk streams sink in
    * score instead of erroring. StreamingSpec asserts each batch ≡ the
    * batch [[graft.ext.TextAnalysis.bigramScoreWith]] on that batch
    * alone. */
  def bigramScoreSink(docStream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, outPath: String,
      checkpoint: String, smoothK: Double = 0.0,
      jmLambda: Option[Double] = None): StreamingQuery = {
    val (c1, c2) = graft.ext.TextAnalysis.bigramModel(corpus, idCol,
      textCol)
    val c1c = c1.localCheckpoint()
    val c2c = c2.localCheckpoint()
    // the whole scorer family serves through the same train-once /
    // stream-static-join shape — every model piece (counts, unigram
    // table, vocab size, total) is fixed before start, so per-batch
    // output is a pure function of the batch: jmLambda selects
    // Jelinek-Mercer backoff, else smoothK > 0 add-k, else MLE
    val scorer: DataFrame => DataFrame = jmLambda match {
      case Some(l) =>
        val uni = graft.ext.TextAnalysis.unigramModel(c2c)
          .localCheckpoint()
        val total = graft.ext.TextAnalysis.bigramTotal(c2c)
        b => graft.ext.TextAnalysis.bigramScoreJmWith(b, idCol,
          textCol, c1c, c2c, uni, total, l)
      case None if smoothK > 0 =>
        val v = graft.ext.TextAnalysis.bigramVocab(c2c)
        b => graft.ext.TextAnalysis.bigramScoreWith(b, idCol, textCol,
          c1c, c2c, smoothK, v)
      case None =>
        b => graft.ext.TextAnalysis.bigramScoreWith(b, idCol, textCol,
          c1c, c2c)
    }
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      appendPartial(scorer(batch), batchId, outPath)
    }
  }

  /** Streaming DSIR importance scorer: score a document STREAM against
    * models trained ONCE — target-domain and background bigram counts
    * both fixed before start — appending (id, n_bigrams, importance,
    * _batch) per micro-batch. The serving shape of
    * [[graft.ext.TextAnalysis.importanceRatioScore]]: arriving
    * documents are scored by how target-like their text is, the
    * admission signal an importance-resampling ingest gate runs on.
    * Per-batch output ≡ the batch scorer on that batch alone
    * (StreamingSpec). */
  def importanceScoreSink(docStream: DataFrame, background: DataFrame,
      target: DataFrame, idCol: String, textCol: String,
      outPath: String, checkpoint: String, smoothK: Double = 0.5)
      : StreamingQuery = {
    val scorer = graft.ext.TextAnalysis.importanceScorer(
      background, target, idCol, textCol, smoothK)
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      appendPartial(scorer(batch), batchId, outPath)
    }
  }

  /** Streaming passage admission: the x82 passage-level exact dedup
    * as an ingest gate. Each micro-batch is chunked into
    * non-overlapping `chunkSize`-token windows; a chunk is ADMITTED
    * iff its text was not already admitted — by an earlier batch (the
    * admitted parquet at `outPath` below this batch id IS the ledger,
    * re-read per batch through [[priorBatches]] — the restart-safe
    * discipline shared with [[semanticAdmitSink]]) or earlier within
    * the batch (first (id, chunk_id) wins, the
    * [[graft.ext.Dedup.dedupPassages]] rule). [[overwriteBatch]] makes
    * a replayed batch idempotent. The ledger probe is a text-keyed
    * anti join — AQE handles a hot boilerplate passage the same way
    * the batch operator's combiner does. Appends (id, chunk_id,
    * n_tokens, chunk_text, _batch). */
  def passageAdmitSink(docStream: DataFrame, idCol: String,
      textCol: String, chunkSize: Int, outPath: String,
      checkpoint: String): StreamingQuery = {
    val spark = docStream.sparkSession
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      val chunks = graft.ext.Dedup.dedupPassages(batch, idCol,
          textCol, chunkSize)
        .where(col("kept")).drop("kept")
      val fresh = priorBatches(spark, outPath, batchId).fold(chunks)(seen =>
        chunks.join(seen.select(col("chunk_text")), Seq("chunk_text"),
          "left_anti"))
      overwriteBatch(fresh.select(col("id"), col("chunk_id"),
        col("n_tokens"), col("chunk_text")), batchId, outPath)
    }
  }

  /** Streaming corpus-intake gate: the x96 manifest's first two stages
    * — Gopher rule-based quality + canonical-fingerprint exact dedup —
    * as a restart-safe ingest sink. A document is ADMITTED iff it
    * passes every quality rule AND its canonical fingerprint was not
    * already admitted, by an earlier batch (the admitted parquet at
    * `outPath` below this batch id IS the ledger, re-read per batch
    * through [[priorBatches]] — the
    * [[semanticAdmitSink]]/[[passageAdmitSink]] discipline) or
    * earlier within the batch (smallest id per fingerprint wins, a
    * combiner-bounded min agg — a hot boilerplate text costs one
    * combiner per partition, never a window sort). [[overwriteBatch]]
    * keeps a replayed batch idempotent, and a batch that admits
    * nothing leaves no data for the next batch to read.
    * Appends (id, text, fp, n_tokens, _batch). */
  def qualityAdmitSink(docStream: DataFrame, idCol: String,
      textCol: String, outPath: String, checkpoint: String)
      : StreamingQuery = {
    val spark = docStream.sparkSession
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      val quality = graft.ext.TextAnalysis
        .gopherQuality(batch, idCol, textCol)
        .where(col("gopher_pass")).select(col("id"))
      val passed = batch
        .select(col(idCol).as("id"), col(textCol).as("text"))
        .join(quality, Seq("id"))
        .withColumn("fp", graft.ext.TextAnalysis.fingerprint(col("text")))
        .withColumn("n_tokens",
          graft.ext.TextAnalysis.tokenCount(col("text")))
      val first = passed.groupBy("fp").agg(min(col("id")).as("__keep"))
      val inBatch = passed.join(first, Seq("fp"))
        .where(col("id") === col("__keep")).drop("__keep")
      val fresh = priorBatches(spark, outPath, batchId).fold(inBatch)(seen =>
        inBatch.join(seen.select(col("fp")), Seq("fp"), "left_anti"))
      overwriteBatch(fresh.select(col("id"), col("text"), col("fp"),
        col("n_tokens")), batchId, outPath)
    }
  }

  /** Streaming UniMax re-planning: after each micro-batch of arriving
    * documents, recompute the [[graft.ext.Sampling.unimaxAllocation]]
    * table over EVERYTHING seen so far (the arrivals parquet at
    * `seenPath` up to this batch id IS the ledger — the admission-sink
    * discipline applied to a planning output) and append the fresh
    * allocation stamped with the batch id. The latest `_batch`
    * partition is the current mixture plan; the history is the plan's
    * evolution as sources grow. Per-batch output ≡ the batch allocator
    * over the union of batches (StreamingSpec). [[overwriteBatch]]
    * keeps replays idempotent on both paths.
    * Appends (source, n_docs, n_tokens, cap_tokens, alloc_tokens,
    * rate_ppm, _batch) to `outPath`; raw (source, n_tokens_doc) rows
    * to `seenPath`. */
  def unimaxPlanSink(docStream: DataFrame, sourceCol: String,
      weight: Column, budget: Long, maxEpochs: Long, outPath: String,
      seenPath: String, checkpoint: String): StreamingQuery = {
    val spark = docStream.sparkSession
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      val arrivals = batch.select(col(sourceCol).as("source"),
        weight.cast("long").as("n_tokens_doc"))
      overwriteBatch(arrivals, batchId, seenPath)
      // everything up to this batch id: earlier batches plus this
      // batch's own just-written partition (none if nothing arrived yet)
      val seen = priorBatches(spark, seenPath, batchId + 1)
        .getOrElse(arrivals)
      overwriteBatch(graft.ext.Sampling.unimaxAllocation(seen,
        col("source"), col("n_tokens_doc"), budget, maxEpochs),
        batchId, outPath)
    }
  }

  /** Streaming BM25 scorer: score a document STREAM against a fixed
    * query-term profile with corpus statistics (N, Σdl, per-term df)
    * trained ONCE from `corpus` and checkpointed — the serving shape
    * of [[graft.ext.Retrieval.bm25Score]]. Each micro-batch pays one
    * scan of itself plus a 1-row broadcast; appends
    * (id, n_tokens, bm25, _batch). Per-batch output ≡ the train-once
    * closure applied to that batch (StreamingSpec).
    *
    * FROZEN-STATS CONTRACT: every score this sink ever writes is
    * against the TRAIN-TIME corpus statistics — N, Σdl and df never
    * move as batches accumulate, so a long-lived stream's scores
    * drift from what a fresh corpus fit would give (by design: scores
    * stay mutually comparable across the stream's whole lifetime, and
    * a restart retrains against the pinned corpus, reproducing the
    * same closure). To refresh, stop the stream and restart with
    * `corpus` = the grown corpus — e.g. the original union this
    * sink's own scored output, the [[semanticAdmitSink]] discipline;
    * the restarted sink is ≡ batch [[graft.ext.Retrieval.bm25Score]]
    * on that corpus (StreamingSpec "refresh retrains"). */
  def bm25ScoreSink(docStream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, terms: Seq[String],
      outPath: String, checkpoint: String): StreamingQuery = {
    val scorer = graft.ext.Retrieval.bm25Scorer(corpus, idCol, textCol, terms)
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      appendPartial(scorer(batch), batchId, outPath)
    }
  }

  /** Streaming RETRIEVAL-HEALTH monitor: the per-query nDCG grid
    * ([[graft.ext.Retrieval.ndcgEvalQrels]], the x169 evaluation)
    * computed per micro-batch against a FROZEN qrels artifact — the
    * serving twin of the last retrieval operator without one. The
    * qrels table (query_id, term) is deduped and eagerly pinned at
    * sink construction (the [[bm25ScoreSink]]/[[modelAssignSink]]
    * frozen-artifact discipline): every batch is judged against the
    * SAME relevance judgments, so grid rows stay comparable across
    * the stream's lifetime, and a restart re-pins the identical
    * artifact (qrels are data, deterministic to re-read). Each batch
    * pays one tokenize scan of ITSELF; the qrels join bounds tf rows
    * to the judged vocabulary; both rank windows cut at `k`
    * (WindowGroupLimit, as in batch). Lands (query_id, dcg, idcg,
    * ndcg) by [[overwriteBatch]], so a replayed batch REWRITES its
    * partition instead of duplicating — replay-idempotent after
    * crash-between-write-and-commit. Per-batch rows ≡ batch
    * ndcgEvalQrels on that batch alone (StreamingSpec, including
    * across a restart). */
  def retrievalHealthSink(docStream: DataFrame, qrels: DataFrame,
      idCol: String, textCol: String, k: Int, outPath: String,
      checkpoint: String): StreamingQuery = {
    val pinned = qrels.select(col("query_id"), col("term")).distinct()
      .localCheckpoint(true)
    eachBatch(docStream, checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.ext.Retrieval.ndcgEvalQrels(batch, idCol,
        textCol, pinned, k), batchId, outPath)
    }
  }

  /** Streaming ADC scorer: score a query STREAM against a fixed
    * PQ-encoded corpus, appending per-batch top-k rows to `outPath`.
    * The serving shape of [[graft.ext.Pq.adcTopK]]: the corpus is
    * encoded ONCE (m-byte codes, checkpointed so no batch re-reads the
    * raw vectors — the IVF-PQ "never touch the vectors again" property,
    * now per micro-batch), and each batch ships only its own |q|·m·k
    * distance LUT as a broadcast — queries arrive in bounded chunks, so
    * the LUT broadcast bound holds by construction. StreamingSpec
    * asserts each batch's appended rows ≡ `Pq.adcTopKEncoded` run on
    * that batch alone. */
  def adcScoreSink(queryStream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, outPath: String,
      checkpoint: String, m: Int = 8, kCodes: Int = 16): StreamingQuery = {
    val cb = graft.ext.Pq.seedCodebooks(corpus, idCol, vecCol, m, kCodes)
    val enc = graft.ext.Pq.encodeLong(corpus, idCol, vecCol, m, kCodes)
      .localCheckpoint()
    eachBatch(queryStream, checkpoint) { (batch, batchId) =>
      // the LUT guard stays ON per batch: "micro-batches are bounded"
      // holds only if the caller set a source rate limit
      // (maxFilesPerTrigger/maxOffsetsPerTrigger) — a file-source
      // backlog replayed after downtime delivers one arbitrarily large
      // first batch straight into the LUT broadcast. The guard's
      // ids-only count of an already-materialized micro-batch is one
      // cheap local job; the refusal message names the sharding fix.
      appendPartial(graft.ext.Pq.adcTopKEncoded(batch, enc, cb, idCol,
        vecCol, k), batchId, outPath)
    }
  }

  /** [[adcScoreSink]] over an OPQ-ROTATED index: the serving shape of
    * [[graft.ext.Opq.adcTopK]]. The model (rotation + codebooks) is
    * learned once — or passed in, the production path: train offline,
    * serve many streams — the corpus is rotated and encoded ONCE
    * (checkpointed m-byte codes), and each micro-batch rotates only its
    * own queries (a |q|×d² codegen map) before the shared ADC machinery.
    * R is orthogonal, so rotated-space distances ARE original distances;
    * StreamingSpec asserts each batch's rows ≡ `Opq.adcTopK` on that
    * batch with the same model. The LUT guard stays on per batch, same
    * rationale as [[adcScoreSink]]. */
  def opqAdcScoreSink(queryStream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, outPath: String,
      checkpoint: String, m: Int = 8, kCodes: Int = 16, iters: Int = 2,
      model: Option[graft.ext.Opq.OpqModel] = None): StreamingQuery = {
    import graft.ext.{Opq, Pq}
    import graft.functions.VectorOps
    val mod = model.getOrElse(
      Opq.learn(corpus, idCol, vecCol, m, kCodes, iters))
    val enc = Opq.encodeLong(corpus, idCol, vecCol, mod).localCheckpoint()
    eachBatch(queryStream, checkpoint) { (batch, batchId) =>
      val rotated = batch.select(col(idCol),
        Opq.rotateT(VectorOps.toDouble(col(vecCol)), mod.rotation)
          .as("__z"))
      appendPartial(Pq.adcTopKEncoded(rotated, enc, mod.codebooks, idCol,
        "__z", k), batchId, outPath)
    }
  }

  /** Streaming semantic admission: each micro-batch of incoming
    * embeddings is admitted against the FIXED existing corpus
    * ([[graft.ext.Similarity.semanticAdmit]] — the quantizer cells come
    * from the existing side only, so no batch can move the boundaries
    * it is judged against), and survivors append to `outPath`. Batches
    * are independent by design: admission is against the existing
    * corpus, not against earlier batches (cross-batch dups are
    * [[graft.ext.Similarity.semanticDedup]]'s job on the compacted
    * output). StreamingSpec asserts each batch's appended rows ≡ the
    * batch `semanticAdmit` on that batch alone.
    *
    * `crossBatch = true` opts into an admitted-rows ledger: each batch
    * is judged against the existing corpus PLUS everything already
    * admitted, so two near-identical documents arriving in different
    * micro-batches no longer both land (the second is refused — no
    * compaction pass needed). The quantizer is still trained ONCE on
    * the original existing corpus and passed by value, so the ledger
    * grows the judging side without ever moving the cell boundaries.
    * The ledger IS the admitted parquet at `outPath`: each batch lands
    * by [[overwriteBatch]] and is judged against existing ∪
    * [[priorBatches]]. That makes the sink restart-safe by
    * construction — a batch replayed from the checkpoint after a crash
    * is judged against exactly what preceded it (never its own
    * half-written output) and overwrites its own partition instead of
    * double-appending — and it holds no per-batch executor storage
    * (nothing accumulates in memory as the query ages; the admitted
    * rows are read back from columnar parquet, the same linear scan the
    * in-memory ledger would pay). Judging cost stays linear in what was
    * admitted — the honest cost of exact cross-batch cosine semantics
    * (a cells-only ledger would refuse any same-cell arrival, which is
    * a different, coarser operator).
    *
    * `dedupWithinBatch = true` additionally runs [[graft.ext.Similarity
    * .semanticDedup]] on each batch (under the SAME fixed quantizer)
    * before admission, keeping only component-minimum survivors — so
    * two near-identical docs arriving in the SAME micro-batch no longer
    * both land. With both options on, the ledger is pairwise
    * non-near-duplicate at the threshold by construction (every batch
    * is internally deduped, and every survivor was cosine-far from the
    * whole ledger when admitted), which is what makes the ledger
    * NEVER need compaction.
    *
    * Sizing follows the batch family: an explicit `model` (any
    * [[graft.ext.Ivf.Model]] shape — flat, two-level, or fine-as-data)
    * wins over `nCells` (train a flat quantizer of that size) wins over
    * the DEFAULT — [[graft.ext.Similarity.autoModelFor]] on the
    * existing corpus, which holds expected cell size at
    * `targetCellSize` and escalates flat → two-level → fine-as-data as
    * the corpus demands. A long-running ingestion stream is exactly
    * where a fixed flat cell count rots; the auto default sizes once,
    * at stream start, against the corpus the fixed-boundary contract
    * pins anyway. */
  def semanticAdmitSink(incomingStream: DataFrame, existing: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      outPath: String, checkpoint: String,
      nCells: Option[Int] = None,
      model: Option[graft.ext.Ivf.Model] = None,
      targetCellSize: Long = graft.ext.Similarity.DefaultCellSize,
      crossBatch: Boolean = false,
      dedupWithinBatch: Boolean = false): StreamingQuery = {
    // materialize the existing side once — every batch re-joins it
    val ex = existing.localCheckpoint()
    // fixed quantizer for the life of the query: boundaries must not
    // move when the ledger grows
    val m: graft.ext.Ivf.Model = model.getOrElse(nCells match {
      case Some(k) =>
        graft.ext.Ivf.FlatModel(graft.ext.Ivf.train(ex, idCol, vecCol, k))
      case None =>
        graft.ext.Similarity.autoModelFor(ex, idCol, vecCol,
          targetCellSize)
    })
    val exIdVec = ex.select(col(idCol), col(vecCol)).localCheckpoint()
    val spark = existing.sparkSession
    eachBatch(incomingStream, checkpoint) { (batch, batchId) =>
      val pre =
        if (!dedupWithinBatch) batch
        else {
          val keep = graft.ext.Similarity.semanticDedup(batch, idCol,
              vecCol, threshold, model = Some(m))
            .where(col("id") === col("keep_id"))
            .select(col("id").as(idCol))
          batch.join(keep, Seq(idCol), "left_semi")
        }
      val judge =
        if (!crossBatch) exIdVec
        else priorBatches(spark, outPath, batchId).fold(exIdVec)(seen =>
          exIdVec.union(seen.select(col(idCol), col(vecCol))))
      overwriteBatch(graft.ext.Similarity.semanticAdmit(judge, pre,
        idCol, vecCol, threshold, model = Some(m)), batchId, outPath)
    }
  }

  /** Tumbling event-time aggregation with watermark — the streaming form
    * of EventWindows.tumbling. */
  def tumblingCounts(stream: DataFrame, tsCol: String, width: String,
      watermark: String, keys: Seq[Column]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), width).getField("start").as("ws") +: keys): _*)
      .agg(count(lit(1)).as("n"))

  /** Windowed quantiles over a stream: per-(window, keys) p-quantiles of
    * `value` via percentile_approx — the streaming form of
    * Quantiles.approx composed with tumbling windows (x39's batch
    * shape). The GK-style sketch is a mergeable bounded buffer, so state
    * per open window is O(accuracy), not O(events) — the only shape a
    * quantile can take in unbounded streams. `ps` are (num, den, label)
    * rationals like the batch API. */
  def windowQuantiles(stream: DataFrame, tsCol: String, width: String,
      watermark: String, keys: Seq[Column], value: Column,
      ps: Seq[(Int, Int, String)], accuracy: Int = 10000): DataFrame = {
    val aggs = ps.map { case (num, den, label) =>
      percentile_approx(value, lit(num.toDouble / den), lit(accuracy))
        .as(label)
    } :+ count(lit(1)).as("n")
    stream.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), width).getField("start").as("ws") +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Stream-stream interval join: rows of two UNBOUNDED streams pair on
    * a key when the right event lands within `lookback` BEFORE the left
    * event (inclusive on both ends). The time bound is what makes this
    * executable: with both sides watermarked, Spark keeps only
    * `watermark + lookback` of state per side and ages the rest out —
    * an unbounded-state join is a refused plan, not a slow one. The
    * batch equivalent is a plain range-condition join; StreamingSpec
    * asserts the two agree. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      lookback: String, watermark: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTs BETWEEN $leftTs - INTERVAL $lookback AND $leftTs"))

  /** Session windows with an inactivity gap — the streaming form of
    * EventWindows.sessionize, using the built-in session_window (state
    * managed by Spark, no custom flatMapGroupsWithState needed). */
  def sessionCounts(stream: DataFrame, tsCol: String, gap: String,
      watermark: String, keys: Seq[Column]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap).as("w") +: keys): _*)
      .agg(count(lit(1)).as("n"))
      .select((col("w.start").as("session_start") +:
        col("w.end").as("session_end") +: keys) :+ col("n"): _*)
}
