package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.similarity.Similarity

/** Cross-batch cluster-balanced reservoir: the streaming twin of
  * [[Similarity.clusterBalancedSample]]. Arriving vectors are
  * assigned to the cells of a FROZEN quantizer (a persisted IVF
  * index's centroid matrix — [[Similarity.writeIvfIndex]]) and folded
  * into the per-cell weighted reservoir store ([[StreamSample]],
  * uniform weights), so the store always holds a diversity-flattened
  * `cells × k` subset of everything that has ever landed — without
  * re-reading or re-assigning past batches.
  *
  * Determinism end-to-end: the frozen centroids make assignment a
  * pure function of the vector, and the md5-uniform draw makes the
  * reservoir a pure per-cell top-k — so a stream over any batch
  * split of a corpus equals the batch operator run once with the
  * SAME quantizer (StreamingSpec pins it against an index built on
  * the full corpus, where the frozen centroids coincide with the
  * batch operator's own training).
  *
  * Per-batch cost: one codegen'd assignment pass over the batch +
  * the [[StreamSample]] merge (O(batch) + top-k over batch ∪ store).
  * The quantizer JSON is driver-held; nothing corpus-sized shuffles.
  */
object ClusterSampleStream {

  /** Assign `batch` to the frozen index's cells: (idCol, cell). */
  private def assign(spark: SparkSession, indexPath: String, batch: DataFrame): (String, DataFrame) = {
    val meta = Similarity.readIvfIndexMeta(spark, indexPath)
    (meta.idCol, batch.select(col(meta.idCol),
      element_at(graft.functions.IvfNearestCells(
        Similarity.quantizeVec(col(meta.vecCol), meta.scale), meta.centroids, 1), 1)
        .as("cell")))
  }

  /** Fold one batch of vectors into the reservoir at `storeDir`. */
  def mergeBatch(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      storeDir: String,
      k: Int): Unit = {
    val (idCol, assigned) = assign(spark, indexPath, batch)
    StreamSample.mergeBatch(assigned, storeDir, idCol, "cell", lit(1.0), k)
  }

  /** Maintain the reservoir from parquet landings in `landingDir`.
    * `schema` must cover the index's idCol and vecCol. */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      indexPath: String,
      storeDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      k: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.start(spark.readStream.schema(schema).parquet(landingDir),
        checkpointDir, trigger) { (batch, _) =>
      mergeBatch(spark, batch, indexPath, storeDir, k)
    }
}
