package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.PsiStore

/** Streaming PSI monitor — the run-forever form of [[PsiStore.psi]]
  * and the numeric-score seat in the monitor family:
  * [[StreamDrift]] watches vocabulary distributions, [[TokStream]]
  * tokenizer fertility, [[LangIdStream]] language mix, [[EvalStream]]
  * classifier quality; this watches any numeric column (quality
  * scores, embedding norms, document lengths) against the FROZEN
  * quantile reference. Each micro-batch writes one ledger row per
  * frozen bin into its own `batch=<id>` partition (overwrite —
  * replay-idempotent); Σ psi_term per batch is the drift alarm
  * (< 0.1 stable, > 0.25 shifted).
  *
  * The cut-points and reference counts are frozen by definition, so
  * per-batch work is one narrow binning projection plus a bins-sized
  * aggregate — O(batch), the reference snapshot never re-read.
  */
object PsiStream {

  /** Monitor parquet landings: per micro-batch, write one PSI row
    * per frozen bin to `$outDir/batch=<id>` (overwrite — a doubled
    * ledger would double the per-batch PSI sum and fire a false
    * population-shift alarm). */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      valueCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.maintain(spark.readStream.schema(schema).parquet(landingDir),
        outDir, checkpointDir, trigger)(
      PsiStore.psi(spark, storePath, _, valueCol))
}
