package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.HllStore

/** Streaming vocabulary-growth monitor over the persisted HLL
  * registers ([[HllStore]]): per micro-batch, report each language's
  * estimated vocabulary before/after the batch ([[HllStore.growth]]),
  * write the report to the ledger's `batch=<id>`, then FOLD the
  * batch's registers into the store ([[HllStore.ingest]]) so the next
  * batch's "before" includes this one — a truly incremental
  * distinct-count state no exact counter can keep without holding the
  * full token set.
  *
  * Crash semantics: the fold is register-wise max — replaying a batch
  * is a no-op on the STORE, which therefore always equals the
  * single-shot sketch of everything ingested (StreamingSpec pins it).
  * The growth report's ledger partition is written before the fold
  * commits, so a crash between the two writes replays to the SAME
  * growth numbers; the residual window is a crash after the fold but
  * before the streaming offset commit, where the retry re-records
  * that batch's growth as ~0 (its ledger partition is overwritten,
  * never duplicated) — the store stays exact, only that one report
  * row degrades, the same at-least-once honesty trade the other
  * monitor ledgers make.
  */
object HllStream {

  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      langCol: String = "lang",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.start(spark.readStream.schema(schema).parquet(landingDir),
        checkpointDir, trigger) { (batch, batchId) =>
      // One store read + one batch sketch per micro-batch. The
      // ledger partition is written BEFORE the fold commits (the
      // reportSink hook): a crash BETWEEN the two replays the batch
      // against the unmodified store, so the rewritten ledger row
      // carries the same growth numbers. This NARROWS the ~0-growth
      // replay window, it does not eliminate it — a crash after the
      // fold commits but before the streaming offset does still
      // replays the batch against the already-folded store and
      // overwrites this batch's ledger row with ~0 growth (the
      // store itself stays exact either way; HllStoreSpec pins the
      // between-the-two-writes replay).
      HllStore.growthAndIngest(spark, storePath, batch, langCol, textCol,
        reportSink = _.write.mode("overwrite")
          .parquet(LedgerStream.ledgerPath(outDir, batchId)))
    }
}
