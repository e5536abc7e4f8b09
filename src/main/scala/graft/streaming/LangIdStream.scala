package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.LangIdStore

/** Streaming language-mix monitor over a FROZEN language-ID store
  * ([[LangIdStore]]): each arriving micro-batch is classified under
  * the snapshot-trained profiles and its predicted language
  * composition compared against the snapshot's labeled composition —
  * the feed-composition alarm next to [[StreamDrift]] (vocabulary),
  * [[TokStream]] (tokenizer fertility) and [[EvalStream]] (filter
  * quality). A language surging past its snapshot share, or
  * vanishing, is a source change upstream filters were never tuned
  * for.
  *
  * Profiles and the reference mix are attached ONCE at stream start
  * (frozen by definition); per-batch work is the O(batch) classify
  * plus two language-sized broadcast joins.
  */
object LangIdStream {

  /** Monitor parquet landings: per micro-batch, write one mix-drift
    * row per trained language to `$outDir/batch=<id>` (overwrite —
    * replay idempotent). */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val (profiles, topM) = LangIdStore.attach(spark, storePath)
    val prof = profiles.localCheckpoint(false)
    val ref = spark.read.parquet(s"$storePath/mix").localCheckpoint(false)
    LedgerStream.maintain(spark.readStream.schema(schema).parquet(landingDir),
        outDir, checkpointDir, trigger)(
      LangIdStore.mixDriftFrom(prof, topM, ref, _))
  }
}
