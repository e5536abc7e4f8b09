package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{HllEstimate, HllSketchAgg, Md5Prefix64, TextFunctions}
import graft.io.StoreMeta

/** Persisted per-language HLL registers — incremental vocabulary
  * GROWTH monitoring, the distinct-count member of the
  * persisted-store family ([[LmStore]] prices what arrived against
  * the frozen vocabulary; this tracks how fast the vocabulary itself
  * is still growing). A healthy mature feed's vocabulary grows like
  * Heap's law — sublinearly; a batch that jumps the estimate is new
  * vocabulary mass (a language shift, spam flood, encoding break)
  * seen BEFORE any model scores move.
  *
  * The mergeable-sketch property is what makes this a store: the
  * snapshot's registers persist once (2^p bytes per language), each
  * arriving batch sketches itself (one pass, map-side mergeable) and
  * register-wise max-merges into the stored state — set union without
  * ever re-reading the snapshot, the very operation exact distinct
  * counting cannot do incrementally without keeping the full token
  * set. Every estimate replays digit-for-digit in SQL
  * ([[graft.functions.HllSketch]]'s determinism contract), which is
  * how the q133 gate can oracle a union of two corpora it never
  * materializes.
  *
  * Layout under `path`: `regs` — (lang, sketch binary); and
  * `_hll_store.json` — p (written by [[graft.io.StoreMeta]]).
  *
  * [[growth]] output: (lang, est_before, est_after, est_growth) per
  * language present in EITHER the store or the batch; a language
  * absent from the store reports est_before 0.0 (everything it says
  * is new).
  */
object HllStore {

  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      langCol: String = "lang",
      textCol: String = "text",
      p: Int = 12): Unit = {
    sketchOf(docs, langCol, textCol, p)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/regs")
    StoreMeta.write(spark, s"$path/_hll_store.json", "p" -> p)
  }

  private def sketchOf(docs: DataFrame, langCol: String, textCol: String, p: Int): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("lang"))
      .agg(HllSketchAgg.hllSketch(Md5Prefix64(col("tok")), p).as("sketch"))

  def attach(spark: SparkSession, path: String): (DataFrame, Int) =
    (spark.read.parquet(s"$path/regs"),
      StoreMeta.read(spark, s"$path/_hll_store.json").int("p"))

  /** Vocabulary growth of an arriving batch against the stored
    * registers: per language, the stored estimate, the estimate after
    * the register-wise union with the batch's own sketch, and the
    * growth. Batch cost: one sketch pass over the batch + a
    * languages-sized merge — the snapshot corpus is never re-read. */
  def growth(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val (stored, p) = attach(spark, path)
    val batch = sketchOf(docs, langCol, textCol, p)
    def est(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(HllEstimate(ColumnBridge.expression(c)))
    stored.select(col("lang"), col("sketch").as("s_store"))
      .join(batch.select(col("lang"), col("sketch").as("s_batch")), Seq("lang"), "full_outer")
      .select(col("lang"),
        when(col("s_store").isNotNull, round(est(col("s_store")), 6))
          .otherwise(lit(0.0)).as("est_before"),
        round(est(graft.functions.HllMerge(col("s_store"), col("s_batch"))), 6).as("est_after"))
      .withColumn("est_growth", round(col("est_after") - col("est_before"), 6))
  }

  /** Fold a batch's registers INTO the store (register-wise max) —
    * the incremental maintenance step. Returns the updated per-lang
    * frame after the write. */
  def ingest(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val (stored, p) = attach(spark, path)
    val batch = sketchOf(docs, langCol, textCol, p)
    val merged = stored.select(col("lang"), col("sketch").as("s_store"))
      .join(batch.select(col("lang"), col("sketch").as("s_batch")), Seq("lang"), "full_outer")
      .select(col("lang"), graft.functions.HllMerge(col("s_store"), col("s_batch")).as("sketch"))
      // EAGER checkpoint: the write below overwrites the very files
      // this plan reads, so the read must complete BEFORE the delete —
      // lazy checkpointing only severs lineage if something else
      // happens to materialize it first (the DownloadExecutor
      // read-then-overwrite precedent).
      .localCheckpoint(true) // snapshot pin: the write below overwrites its files
    merged.coalesce(1).write.mode("overwrite").parquet(s"$path/regs")
    merged
  }

  /** [[growth]] + [[ingest]] from ONE store read, ONE batch sketch
    * and ONE join — the per-micro-batch step of
    * [[graft.streaming.HllStream]], where running the two operations
    * separately would re-read the store and re-sketch the batch.
    *
    * Commit ordering: the growth report goes through `reportSink`
    * BEFORE the register fold is committed. Either order is
    * at-least-once-correct (the HLL fold is a register-wise max, so a
    * replayed ingest is idempotent), and ledger-first NARROWS — not
    * eliminates — the ~0-growth replay window: a crash between the
    * two writes replays the batch against the UNMODIFIED store and
    * overwrites the ledger partition with the same numbers
    * (HllStoreSpec kills a sink there and asserts the replayed row),
    * while the residual window — a crash after the fold but before
    * the CALLER's own commit (the streaming offset) — still replays
    * against the folded store and re-reports ~0.
    * Returns the growth report (narrow re-read of the checkpointed
    * join) for callers that want it in-memory. */
  def growthAndIngest(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      langCol: String = "lang",
      textCol: String = "text",
      reportSink: DataFrame => Unit = _ => ()): DataFrame = {
    val (stored, p) = attach(spark, path)
    val batch = sketchOf(docs, langCol, textCol, p)
    // Eager: materializes the store read + batch sketch ONCE; both the
    // report and the merged registers derive narrowly from it, and the
    // regs overwrite below is safe because nothing re-reads the files.
    val joined = stored.select(col("lang"), col("sketch").as("s_store"))
      .join(batch.select(col("lang"), col("sketch").as("s_batch")), Seq("lang"), "full_outer")
      .localCheckpoint(true) // snapshot pin: regs are overwritten below
    def est(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(HllEstimate(ColumnBridge.expression(c)))
    val report = joined
      .select(col("lang"),
        when(col("s_store").isNotNull, round(est(col("s_store")), 6))
          .otherwise(lit(0.0)).as("est_before"),
        round(est(graft.functions.HllMerge(col("s_store"), col("s_batch"))), 6).as("est_after"))
      .withColumn("est_growth", round(col("est_after") - col("est_before"), 6))
    reportSink(report)
    joined
      .select(col("lang"), graft.functions.HllMerge(col("s_store"), col("s_batch")).as("sketch"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/regs")
    report
  }
}
