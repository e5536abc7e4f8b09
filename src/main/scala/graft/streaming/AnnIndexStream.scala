package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.similarity.Similarity

/** Incremental maintenance of the persisted IVF index
  * ([[Similarity.writeIvfIndex]]'s layout): embeddings landing in a
  * directory are quantized and cell-assigned per row against the
  * FIXED quantizer in `index.json`, and appended into the
  * `partitionBy(cell)` vector store. Queries through
  * [[Similarity.ivfTopKIndexed]] see new vectors at the next trigger —
  * the freshness story a training-data retrieval pipeline needs
  * without retraining or rewriting the index.
  *
  * Cell assignment is a per-row narrow map (the same
  * `ivf_nearest_cells` kernel the batch path uses), so the stream
  * never shuffles: file source → project → partitioned file sink.
  * Appending with a frozen quantizer is the standard IVF trade —
  * cells drift as the distribution shifts; rebuild the quantizer
  * (one [[Similarity.writeIvfIndex]] run) when recall degrades.
  *
  * StreamingSpec proves the invariant that matters: after streaming
  * N files in, a query over the streamed index equals the same query
  * over a batch index built from the union of those files with the
  * same quantizer.
  */
object AnnIndexStream {

  /** Start appending embeddings from `landingDir` (parquet files with
    * the index's id/vec columns) into the index at `indexPath`.
    *
    * The sink is a `foreachBatch` BATCH append, not the streaming
    * parquet sink: the streaming sink's `_spark_metadata` log would
    * make every batch read of the store (ivfTopKIndexed, and the
    * batch-built seed itself) see only sink-tracked files. The trade
    * is the standard one — source progress is checkpointed, sink
    * writes are not transactional, so a crash mid-batch can duplicate
    * that batch's rows on retry; dedup-on-read (`dropDuplicates(id)`)
    * or a compaction pass reconciles if that matters downstream.
    */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      indexPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val meta = Similarity.readIvfIndexMeta(spark, indexPath)
    // Landing schema comes from the INDEX STORE, not the landing dir:
    // the maintainer normally starts on an empty directory (awaiting
    // future drops), where a batch parquet read would throw
    // 'Unable to infer schema'. The store always exists (writeIvfIndex
    // created it) and its id/vec fields are exactly what landings must
    // carry.
    val storeSchema = spark.read.parquet(s"$indexPath/vectors").schema
    val schema = org.apache.spark.sql.types.StructType(
      storeSchema.fields.filter(f => f.name == meta.idCol || f.name == meta.vecCol))
    LedgerStream.start(assigned(spark.readStream.schema(schema).parquet(landingDir), meta),
        checkpointDir, trigger) { (batch, _) =>
      batch.write.mode("append").partitionBy("cell").parquet(s"$indexPath/vectors")
    }
  }

  /** The shared (batch == stream) assignment stage: quantize and
    * cell-assign each embedding against the frozen quantizer. */
  def assigned(embeddings: DataFrame, meta: Similarity.IvfIndexMeta): DataFrame =
    embeddings.select(
      col(meta.idCol),
      col(meta.vecCol),
      element_at(
        graft.functions.IvfNearestCells(
          Similarity.quantizeVec(col(meta.vecCol), meta.scale), meta.centroids, 1),
        1).as("cell"))

  /** Compact the vector store: drop duplicate ids (keep-one; a
    * crash-retried batch is the only source of dups and its copies
    * are identical rows) and rewrite clustered one-task-per-cell.
    * Run between maintenance windows — also reconciles the
    * many-small-appends file layout back to the batch-built shape.
    * `vectors` is replaced whole ([[graft.io.StoreMeta.replaceDir]]).
    */
  def compact(spark: SparkSession, indexPath: String): Unit = {
    val meta = Similarity.readIvfIndexMeta(spark, indexPath)
    graft.io.StoreMeta.replaceDir(spark, s"$indexPath/vectors") { next =>
      spark.read.parquet(s"$indexPath/vectors")
        .dropDuplicates(meta.idCol)
        // pinned to the cell count: keyless repartition AQE-coalesces a
        // small store to one serial writer task (the q141 lesson)
        .repartition(meta.centroids.length, col("cell"))
        .write.partitionBy("cell").parquet(next)
    }
  }
}
