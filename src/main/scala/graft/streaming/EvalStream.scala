package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Eval, NbStore}

/** Streaming filter-quality monitor: each arriving LABELED
  * micro-batch (an audit feed — human-reviewed or held-out labeled
  * documents) is scored against the FROZEN [[NbStore]] classifier
  * and reduced to one [[Eval.classifierMetrics]] ledger row — the
  * run-forever form of the q112 evaluation, and the alarm wire for a
  * deployed quality filter: the model never moves (it is the
  * persisted store), so a falling per-batch AUC means the DATA
  * drifted away from the filter, the precise moment to re-fit and
  * re-ship it. The drift monitor ([[StreamDrift]]) watches the input
  * distribution; this watches the filter's decisions against ground
  * truth — independent alarms that fail at different times.
  *
  * Ledger semantics: one row per micro-batch at
  * `$outDir/batch=<id>/`, written with per-directory OVERWRITE — a
  * crash-replayed batch rewrites its own row byte-identically
  * instead of appending a duplicate (same idempotence contract as
  * the pack/posting stores). Batches where the store prices every
  * document into one class still evaluate (AUC may be null on a
  * one-class LABEL batch — the metric's own convention).
  *
  * Per-batch cost: one O(batch) score pass against the tok-bucketed
  * store (store side exchange-free, the [[NbStore.score]] contract)
  * plus the grouped rank-sum — the batch's distinct scores, not its
  * rows, reach the prefix sum. The fitting corpus is never re-read.
  */
object EvalStream {

  /** Evaluate one labeled batch against the frozen store; shared
    * verbatim by the streaming sink (one codepath). Output: the
    * [[Eval.classifierMetrics]] row for the batch. */
  def batchEval(
      spark: SparkSession,
      storePath: String,
      batch: DataFrame,
      labelCol: String): DataFrame = {
    val scored = NbStore.score(spark, storePath, batch)
      .join(batch.select(col("doc_id"), col(labelCol).cast("int").as("y")),
        Seq("doc_id"))
    Eval.classifierMetrics(scored, "log_odds", "predicted", "y")
  }

  /** Monitor labeled parquet landings: per micro-batch, write the
    * evaluation row to `$outDir/batch=<id>` (overwrite — replay
    * idempotent). `schema` must cover doc_id, text and `labelCol`. */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      labelCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.maintain(spark.readStream.schema(schema).parquet(landingDir),
        outDir, checkpointDir, trigger)(
      batchEval(spark, storePath, _, labelCol))
}
