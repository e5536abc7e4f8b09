package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Parallelism guard for compute-bound narrow stages.
  *
  * File scans split by BYTES (`spark.sql.files.maxPartitionBytes`), so a
  * physically small input whose rows fan out into heavy per-row work — a
  * few MB of documents, each expanding to hundreds of n-grams + md5
  * hashes, or embedding rows each paying dim-length dot products —
  * planned as one or two partitions serializes the whole stage on one
  * core while the rest of the cluster idles.
  *
  * `ensure` round-robins such inputs up to the session's default
  * parallelism. At the design scale (100 TB, thousands of row groups)
  * the scan already yields far more partitions than cores and this is a
  * structural no-op: no repartition node is added, so no shuffle ever
  * touches the full-size input.
  */
object Parallelism {

  def ensure(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (estimatedSplits(df) < target) df.repartition(target) else df
  }

  /** Post-materialization twin of [[ensure]] for locally-checkpointed
    * intermediates. AQE rightly coalesces a small aggregate's exchange
    * to one partition — but `localCheckpoint` FREEZES that
    * partitioning, so every downstream narrow stage (including a
    * broadcast-join fan-out that multiplies the rows 100×) inherits
    * ONE task (measured: q88's 29M-row score fan-out serialized on a
    * single core, 11 of its 13 seconds). Restoring parallelism on the
    * frozen checkpoint shuffles only the checkpoint's own (small)
    * rows; a big checkpoint keeps its many post-AQE partitions and
    * this no-ops. `df.rdd` on a checkpointed frame returns the frozen
    * RDD — no re-planning, no extra job.
    */
  def ensureCheckpointed(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** The engine's one materialization point for a REUSED,
    * non-iterative intermediate (the tokenized corpus feeding PMI's
    * pair and unigram aggregates, BM25's posting table feeding probe +
    * df + stats, a candidate-pair frame feeding both join sides, a
    * curation stage boundary feeding its count and the next stage).
    * The default — `localCheckpoint` — is the right single-JVM/bench
    * answer: no recompute per consumer, lineage truncated. Its cluster
    * trade is real, though: blocks pin to executor storage and are
    * LOST on executor failure (lineage is gone, the job dies), which
    * is the wrong default for a 1000-executor run where some executor
    * loss is routine. `spark.graft.stage.storage` picks the strategy
    * for every reuse point at once:
    *
    *  - `local-checkpoint` (default): fastest, non-resilient;
    *  - `disk`: `persist(DISK_ONLY)` — keeps lineage, so a lost
    *    block recomputes from source instead of failing the job
    *    (the cluster answer; costs lineage growth, fine for these
    *    non-iterative plans).
    *
    * Two classes of site keep an explicit `localCheckpoint`, each
    * with a one-line reason at the call:
    *
    *  - lineage truncation inside an iterative loop (the label
    *    propagation of [[graft.dedup.Dedup.dupClusters]], the vocabulary
    *    rewrite of [[Quality.bpeMergesDistributed]]): those need the
    *    TRUNCATION, not just the caching — a persisted frame would
    *    grow its lineage by one round per iteration;
    *  - snapshot pins: a frame whose plan reads a table or path the
    *    code writes before the frame's last consumer runs. A
    *    `DISK_ONLY` recompute would silently read the mutated source;
    *    a lost local checkpoint fails loudly instead. A store rewritten
    *    whole needs none ([[graft.io.StoreMeta.replaceDir]] writes the
    *    next version beside the live one), so four remain: the
    *    [[graft.dedup.SigBandStore.retuneIfSkewed]] rows (the re-band
    *    re-creates the catalog table they are read from), the download
    *    planner's local catalog (the transfer then rewrites the raw dir
    *    it lists), and the `fp-store --ingest` and StreamCurate
    *    `accepted` frames (each probes the store its append grows, and
    *    is counted after the append).
    */
  def stage(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.stage.storage")
      .getOrElse("local-checkpoint") match {
      case "local-checkpoint" => df.localCheckpoint(false)
      case "disk" =>
        val persisted = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        Option(scope.get).foreach(_ += persisted)
        persisted
      case other => sys.error(
        s"unknown spark.graft.stage.storage '$other' (local-checkpoint|disk)")
    }

  private val scope = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** Run `body`, then unpersist every frame [[stage]] persisted on this
    * thread inside it. A `disk` stage stays registered with the cache
    * manager until unpersisted, so a long-running stream that stages
    * per micro-batch runs each batch in one of these scopes; a
    * `local-checkpoint` stage is released when its frame is collected. */
  def releasingStaged[T](body: => T): T = {
    val outer = scope.get
    val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    scope.set(staged)
    try body
    finally {
      scope.set(outer)
      staged.foreach(_.unpersist(blocking = false))
    }
  }

  /** [[ensure]] that spreads BY a key instead of round-robin, for
    * inputs whose downstream reductions are keyed by that key: fires
    * under the same provably-small-scan guard (structural no-op at
    * scale), but when it does fire the exchange it adds is one every
    * key-clustered consumer downstream reuses — a localCheckpoint
    * preserves the plan's output partitioning into its LogicalRDD, so
    * a doc-keyed aggregate over the staged result plans NO further
    * exchange (guide §2.4: operations keyed the same way share one
    * exchange). Key cardinality must be ≫ the target partition count
    * (doc_id/row keys — always true here). */
  def ensureBy(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (estimatedSplits(df) < target) df.repartition(target, key) else df
  }

  /** Doc-keyed spread for a PROBE-side scan whose downstream
    * reductions are keyed by the document: repartition BY `key` into
    * a pinned partition count (the session's shuffle partitions, or
    * the caller's `numPartitions` when co-partitioning with a
    * bucketed table). Two effects, both guide §2.4:
    *
    *  - the scan's rows land hash-clustered by document, so every
    *    doc-keyed consumer — the (query, doc) score aggregate, a
    *    doc-bucketed norm attach — satisfies its distribution from
    *    THIS one exchange and plans no further shuffle;
    *  - unlike the keyless [[ensure]], parallelism is restored
    *    WITHOUT destroying key locality (round-robin splits one
    *    document's rows across every partition, which is exactly what
    *    un-combines the downstream partial aggregate).
    *
    * The exchange this ADDS is bounded by the probe's own matched
    * volume (the scan it spreads is bucket/predicate-pruned), and it
    * REPLACES a larger one: the fanned-out (query, doc) partial rows
    * that would otherwise cross the wire barely combined (a store
    * scan is term-clustered, so one document's postings scatter
    * across partitions — measured 120 MB shuffled where the
    * doc-clustered in-memory path ships 20 MB). The count is PINNED:
    * AQE would coalesce a small probe's exchange to one partition and
    * serialize the score fan-out behind it (the q88 lesson). */
  def spreadBy(df: DataFrame, key: org.apache.spark.sql.Column,
      numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(n, key)
  }

  /** Join-strategy hint for a fit-side table whose EXACT row count
    * the caller has already paid for (a totals aggregate collected to
    * the driver): broadcast when that count fits under
    * `spark.graft.broadcastVocabMaxRows`, leave the shuffle join
    * otherwise. Guide §3.1 — pick the strategy deliberately, and from
    * a real count rather than Catalyst's size estimate (which is
    * routinely wrong above an aggregate). The cap's default (2M rows,
    * ~100 MB built) is a per-executor-memory bound, not a local-mode
    * tune: vocabularies past it — web-scale token sets — keep the
    * exchange plan, and results are identical either way (same rows,
    * same arithmetic; only the join strategy moves). */
  def broadcastIfCounted(df: DataFrame, exactRows: Long): DataFrame = {
    val cap = df.sparkSession.conf.getOption("spark.graft.broadcastVocabMaxRows")
      .map(_.toLong).getOrElse(2000000L)
    if (exactRows <= cap) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** Estimate how many partitions the scan will plan, WITHOUT physical
    * planning (`df.rdd` would plan the subtree — thrown away whenever we
    * then wrap in repartition — and observes the pre-AQE count anyway).
    *
    * For file sources this mirrors `FilePartition.maxSplitBytes`'s
    * bin-packing: each file is padded by `openCostInBytes`, and the
    * split size is `min(maxPartitionBytes, max(openCost, totalPadded /
    * defaultParallelism))`. Raw `sizeInBytes / maxPartitionBytes` is NOT
    * a substitute — a directory of 1000 tiny files packs to dozens of
    * partitions via the open-cost padding while its byte total says
    * "one", and repartitioning such an input on every call would add a
    * needless full shuffle.
    *
    * Non-file leaves (in-memory relations, v2 sources) keep the
    * byte-stats estimate; unknown sizes report the conservative default
    * (huge), so the guard structurally no-ops on anything that isn't
    * provably small — exactly the intent.
    */
  private def estimatedSplits(df: DataFrame): BigInt = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val maxPartitionBytes = math.max(1L, conf.filesMaxPartitionBytes)
    val openCost = conf.filesOpenCostInBytes
    val plan = df.queryExecution.optimizedPlan
    plan.collectLeaves().map[BigInt] {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        // File listing is cached in the relation's FileIndex — reading
        // lengths here lists nothing new.
        val sizes = fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen))
        val totalPadded = sizes.map(s => BigInt(s) + openCost).sum
        val bytesPerCore = totalPadded / math.max(1, spark.sparkContext.defaultParallelism)
        val maxSplit = BigInt(maxPartitionBytes)
          .min(BigInt(openCost).max(bytesPerCore))
          .max(1)
        totalPadded / maxSplit + 1
      case leaf =>
        leaf.stats.sizeInBytes / maxPartitionBytes + 1
    }.sum
  }
}
