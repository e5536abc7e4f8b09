package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TokStore

/** Streaming fertility monitor over a FROZEN BPE tokenizer
  * ([[TokStore]]): each arriving micro-batch is frozen-encoded and its
  * per-language fertility compared against the store's training
  * snapshot — the run-forever form of [[TokStore.fertilityDrift]],
  * and the tokenizer's seat in the monitor family next to
  * [[StreamDrift]] (vocabulary distribution) and [[EvalStream]]
  * (classifier quality). Fertility RISING on a language relative to
  * the snapshot is the retrain trigger for the frozen merge table.
  *
  * The merge table and the reference fertility are attached ONCE at
  * stream start — they are frozen by definition, so per-batch work is
  * the narrow encode fold plus a language-sized broadcast join:
  * O(batch), the training corpus never re-read.
  */
object TokStream {

  /** Monitor parquet landings: per micro-batch, write one drift row
    * per language to `$outDir/batch=<id>` (overwrite — replay
    * idempotent). */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val merges = TokStore.attach(spark, storePath)
    val ref = spark.read.parquet(s"$storePath/fertility").localCheckpoint(false)
    LedgerStream.maintain(spark.readStream.schema(schema).parquet(landingDir),
        outDir, checkpointDir, trigger)(
      batch => TokStore.driftAgainst(TokStore.perLangFertility(batch, merges), ref))
  }
}
