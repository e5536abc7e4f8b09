package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.StoreMeta
import graft.ops.Packing

/** Streaming continuation of the packing prefix sum: documents
  * landing in a directory are chunked ([[Packing.chunk]] — the q61
  * stage verbatim) and pack-assigned ([[Packing.assignWithTotal]] —
  * the q63 distributed prefix sum verbatim) with the token cumsum
  * CONTINUING across micro-batches, so a trainer can consume packs
  * incrementally while the corpus is still landing. Within a batch,
  * global (doc_id, chunk_seq) order; across batches, arrival order —
  * the natural semantics of an append-only landing stream (equal to
  * the batch q63 whenever files land in key order, asserted in
  * StreamingSpec).
  *
  * Exactly-once offsets without a transactional sink:
  *  - the running offset lives in `<outDir>/_offsets/<batchId>`
  *    ("start end"), committed AFTER the batch's data
  *    ([[graft.io.StoreMeta.writeText]]; a retried batch rewrites the
  *    same deterministic offsets);
  *  - each batch overwrites its own `data/batch=<id>` directory, so a
  *    crash-retried batch replaces — never duplicates — its output;
  *  - a retried batch whose offset file already exists reuses its
  *    recorded start; one that crashed before the offset write
  *    re-derives the same start from the previous batch's end. Batch
  *    content is pinned by the source checkpoint and the assignment
  *    is a pure function of (content, start), so every retry path
  *    rewrites byte-identical data.
  *
  * Scale shape: per-batch driver state is one (start, end) pair —
  * cross-batch state lives in the offset files, never in executor
  * memory; the assignment itself inherits q63's bounds (driver
  * collect is one row per shuffle partition).
  */
object PackStream {

  /** The landing contract: parquet files of `(doc_id, text)`. */
  val landingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def maintain(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      budget: Long = 512L,
      window: Int = 50,
      stride: Int = 40,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.start(spark.readStream.schema(landingSchema).parquet(landingDir),
        checkpointDir, trigger) { (batch, id) =>
      processBatch(batch, id, outDir, budget, window, stride)
    }

  /** One micro-batch: chunk, continue the cumsum from this batch's
    * start offset, overwrite `data/batch=<id>`, then commit the
    * offset file. Package-visible so StreamingSpec can drive the
    * crash-retry paths directly.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      id: Long,
      outDir: String,
      budget: Long,
      window: Int,
      stride: Int): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark, outDir)
    // Replaying a batch the last compaction already covered would
    // overwrite its partition with arrival-order rows whose pack ids
    // collide with the compacted global assignment — silent store
    // corruption. Refuse loudly instead: this only fires when compact
    // ran against a stream whose final batch hadn't committed its
    // checkpoint (the documented don't — drain first).
    compactedThrough(f, outDir).filter(id <= _).foreach { through =>
      sys.error(s"batch $id replays into a store compacted through batch $through; " +
        "the store already holds these rows under the global order. Restart the " +
        "stream with a fresh checkpoint + landing delta, or compact only after " +
        "the stream has fully committed (drain with Trigger.AvailableNow).")
    }
    // Pin the pack geometry: every batch (and compact) must use the
    // SAME budget or pack ids stop being comparable across the store.
    recordBudget(spark, f, outDir, budget)
    val start = startOffsetFor(spark, outDir, id)
    val (assigned, total) = Packing.assignWithTotal(
      Packing.chunk(batch, window, stride), budget, start)
    assigned.write.mode("overwrite").parquet(s"$outDir/data/batch=$id")
    StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$outDir/_offsets/$id",
      s"$start ${start + total}")
  }

  /** Highest batch id covered by the last [[compact]], if any. */
  private def compactedThrough(f: FileSystem, outDir: String): Option[Long] = {
    val p = new Path(s"$outDir/_compacted")
    if (f.exists(p)) Some(readSmallFile(f, p).trim.toLong) else None
  }

  /** The store's pinned pack budget, if recorded (stores created
    * before budget pinning lack the file). */
  private[graft] def recordedBudget(f: FileSystem, outDir: String): Option[Long] = {
    val p = new Path(s"$outDir/_budget")
    if (f.exists(p)) Some(readSmallFile(f, p).trim.toLong) else None
  }

  private def recordBudget(spark: SparkSession, f: FileSystem, outDir: String, budget: Long): Unit =
    recordedBudget(f, outDir) match {
      case Some(b) if b != budget =>
        sys.error(s"pack store $outDir was built with --budget $b; running with " +
          s"--budget $budget would mix two pack geometries in one store")
      case Some(_) => ()
      case None =>
        StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$outDir/_budget", budget.toString)
    }

  private def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
    finally in.close()
  }

  /** All packed chunks so far; `batch` arrives as a partition column
    * from the `data/batch=<id>` layout. */
  def packed(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/data")

  private def fs(spark: SparkSession, outDir: String): FileSystem =
    FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)

  private def offsetsDir(outDir: String) = new Path(s"$outDir/_offsets")

  private def readOffset(f: FileSystem, p: Path): (Long, Long) = {
    val in = f.open(p)
    val txt = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), UTF_8) finally in.close()
    val Array(s, e) = txt.trim.split(" ")
    (s.toLong, e.toLong)
  }

  /** This batch's start offset: its own recorded start on a retry,
    * else the highest prior batch's end, else 0. */
  private[graft] def startOffsetFor(spark: SparkSession, outDir: String, id: Long): Long = {
    val f = fs(spark, outDir)
    val dir = offsetsDir(outDir)
    if (!f.exists(dir)) return 0L
    val mine = new Path(dir, id.toString)
    if (f.exists(mine)) readOffset(f, mine)._1
    else {
      val prior = f.listStatus(dir).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).map(_.toLong).filter(_ < id)
      if (prior.isEmpty) 0L
      else readOffset(f, new Path(dir, prior.max.toString))._2
    }
  }

  /** Restore the batch-q63 global order over everything landed so far.
    *
    * Cross-batch pack order is arrival order by design (the natural
    * append-only semantics); when landings arrived out of key order, a
    * trainer wanting the canonical corpus order re-runs the batch
    * assignment over all landed chunk rows — (doc_id, chunk_seq,
    * n_tokens) is exactly [[Packing.assign]]'s input contract, so
    * compaction needs no document text and costs one prefix-sum pass.
    *
    * Token conservation is REQUIRED before the store swaps: the
    * reassigned grand total must equal the last committed offset end,
    * so the running cumsum stays valid and subsequent maintenance
    * batches continue appending from the same offset. The rewritten
    * rows land under the last batch's `batch=<id>` partition (one
    * coherent layout for [[packed]]), and `data` is replaced whole
    * ([[graft.io.StoreMeta.replaceDir]]). The geometry comes from the
    * store's pinned `_budget` (an explicit conflicting override is
    * refused), and the `_compacted` watermark fences out crash-replays
    * of covered batch ids afterwards. Run between maintenance windows
    * only — drain the stream (Trigger.AvailableNow) first.
    */
  def compact(
      spark: SparkSession,
      outDir: String,
      budgetOverride: Option[Long] = None): Unit = {
    val f = fs(spark, outDir)
    // The pack geometry comes from the store's own pinned budget —
    // compacting with a different budget than the stream used would
    // rewrite every row under the wrong geometry while the
    // conservation check (budget-independent) still passes. An
    // explicit conflicting override is refused; the override only
    // serves stores created before budget pinning.
    val budget = (recordedBudget(f, outDir), budgetOverride) match {
      case (Some(b), Some(o)) if b != o =>
        sys.error(s"pack store $outDir is pinned to --budget $b; refusing to compact " +
          s"with --budget $o (two pack geometries in one store)")
      case (Some(b), _) => b
      case (None, Some(o)) => o
      case (None, None) =>
        // No pin and no override: guessing a default here would rewrite
        // a pre-pin store built with a different budget under the wrong
        // geometry while the budget-independent conservation check still
        // passes. Make the caller state the geometry explicitly.
        sys.error(s"pack store $outDir has no pinned _budget; pass an explicit " +
          "--budget matching the budget the store was built with")
    }
    val offDir = offsetsDir(outDir)
    val ids =
      if (!f.exists(offDir)) Array.empty[Long]
      else f.listStatus(offDir).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).map(_.toLong)
    // A store with no committed offsets has nothing to compact; writing
    // `_compacted = 0` + a `batch=0` partition here would permanently
    // fence out a legitimate first batch id 0 from a stream that simply
    // hadn't committed yet (half-initialized or never-streamed store).
    if (ids.isEmpty)
      sys.error(s"pack store $outDir has no committed offsets (_offsets empty); " +
        "nothing to compact — run the stream (or let a batch commit) first")
    val lastEnd = readOffset(f, new Path(offDir, ids.max.toString))._2
    StoreMeta.replaceDir(spark, s"$outDir/data") { next =>
      val chunks = spark.read.parquet(s"$outDir/data")
        .select("doc_id", "chunk_seq", "n_tokens")
      val (assigned, total) = Packing.assignWithTotal(chunks, budget, 0L)
      require(total == lastEnd,
        s"compact: reassigned token total $total != last committed offset end $lastEnd — " +
          "refusing to swap (store and offsets would disagree)")
      assigned.write.parquet(s"$next/batch=${ids.max}")
    }
    // Pin the resolved geometry so subsequent maintenance batches are
    // held to the same budget (recordBudget is a no-op when already
    // pinned; the conflict case was refused above). Pinned only AFTER
    // the swap succeeds: a refused or failed compact must not mutate
    // the store — pinning an unverified --budget override up front
    // would leave a wrong pin behind on a store whose empty-offsets or
    // conservation guard then rejected the operation, and the stream's
    // first legitimate batch would be refused against it.
    recordBudget(spark, f, outDir, budget)
    // Replay fence: every batch id up to the compaction coverage now
    // lives inside the rewritten store; a crash-replay of one of them
    // would overwrite its partition with colliding arrival-order pack
    // ids. processBatch refuses ids <= this watermark.
    StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$outDir/_compacted", ids.max.toString)
  }
}
