package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.StoreMeta
import graft.ops.Sampling

/** Streaming weighted reservoir: the cross-batch continuation of
  * [[graft.ops.Sampling.weightedSample]]. The batch operator's
  * Efraimidis–Spirakis key is a pure function of the row id, so the
  * reservoir property survives streaming EXACTLY: the k largest keys
  * per group over everything that has ever arrived ARE a size-k
  * weighted sample without replacement of the whole stream — merging
  * each micro-batch's rows into the persisted top-k is all the state
  * the algorithm needs (this is precisely the "reservoir" in the
  * paper's title).
  *
  * The store at `storeDir` holds the current sample — (id, group,
  * weight, rank), `groups × k` rows by contract — in `sample`, which
  * each micro-batch replaces whole ([[graft.io.StoreMeta.replaceDir]]:
  * the merge reads the live reservoir and writes the next one beside
  * it). Per-batch cost: O(batch) for keys + a top-k over
  * (batch ∪ store); the stream never re-reads, let alone re-ranks,
  * past batches. A crash-replayed batch re-merges the same rows into
  * the same reservoir — the merge is idempotent by construction
  * ((group, id) dedup before ranking; keys are deterministic), the
  * [[PackStream]] exactly-once recipe without offset files.
  */
object StreamSample {

  private val WeightCol = "__ws_w"

  /** Merge one batch of rows into the reservoir at `storeDir`.
    * Shared verbatim by the streaming sink and any batch backfill —
    * one codepath (StreamingSpec pins streamed == batch equality). */
  def mergeBatch(
      batch: DataFrame,
      storeDir: String,
      idCol: String,
      groupCol: String,
      weight: Column,
      k: Int): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(
      col(idCol), col(groupCol).cast("string").as(groupCol),
      weight.cast("double").as(WeightCol))
    val sample = s"$storeDir/sample"
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreMeta.replaceDir(spark, sample) { next =>
      val prev =
        if (fs.exists(new org.apache.hadoop.fs.Path(sample)))
          spark.read.parquet(sample).select(col(idCol), col(groupCol), col(WeightCol))
        else b.limit(0)
      val merged = b.unionByName(prev).dropDuplicates(groupCol, idCol)
      Sampling.weightedSample(merged, idCol, groupCol, col(WeightCol), k).write.parquet(next)
    }
  }

  /** Maintain the reservoir from parquet landings in `landingDir`.
    * `schema` must cover `idCol`, `groupCol`, and every column the
    * `weight` expression reads. */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storeDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      groupCol: String,
      weight: Column,
      k: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.start(spark.readStream.schema(schema).parquet(landingDir),
        checkpointDir, trigger) { (batch, _) =>
      mergeBatch(batch, storeDir, idCol, groupCol, weight, k)
    }
}
