package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one landing wiring of the `graft.streaming` maintainers: a
  * streaming frame, a checkpoint, a trigger and a per-micro-batch
  * body ([[start]]); and the monitor ledger on top of it
  * ([[maintain]]).
  *
  * Ledger contract: each micro-batch's report lands at
  * `$outDir/batch=<id>` with OVERWRITE, so an at-least-once replay of
  * a batch id (a crash between the sink write and the offset commit)
  * rewrites that batch's rows instead of appending a duplicate set.
  * Read back, `batch` is a discovered partition column; its inferred
  * type is Spark's choice, so compare it through a cast.
  */
object LedgerStream {

  /** Run `f(batch, batchId)` per micro-batch of `source`. */
  def start(source: DataFrame, checkpointDir: String, trigger: Trigger)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** Where batch `batchId`'s ledger rows live under `outDir`. */
  def ledgerPath(outDir: String, batchId: Long): String = s"$outDir/batch=$batchId"

  /** Write `report(batch)` to [[ledgerPath]] per micro-batch. */
  def maintain(source: DataFrame, outDir: String, checkpointDir: String, trigger: Trigger)(
      report: DataFrame => DataFrame): StreamingQuery =
    start(source, checkpointDir, trigger) { (batch, batchId) =>
      report(batch).write.mode("overwrite").parquet(ledgerPath(outDir, batchId))
    }
}
