package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.CmsStore

/** Streaming heavy-hitter surge monitor — the run-forever form of
  * [[CmsStore.surge]]: each arriving micro-batch's top tokens are
  * scored against the FROZEN reference counters and the report lands
  * at `batch=<id>`. Per-batch partition OVERWRITE (the
  * PsiStream/EvalStream idempotency shape): an at-least-once replay
  * rewrites the same `batch=<id>` rows byte-identically instead of
  * appending a duplicate set. The store is read-only here — the
  * reference counters never move, so a token's surge ratio moves
  * only when the FEED does. */
object CmsStream {

  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      k: Int = 20,
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.maintain(spark.readStream.schema(schema).parquet(landingDir),
        outDir, checkpointDir, trigger)(
      CmsStore.surge(spark, storePath, _, k, textCol))
}
