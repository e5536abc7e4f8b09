package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.PostingStore

/** Incremental maintenance of the persisted BM25 posting store
  * ([[PostingStore]]'s ledger layout): documents landing in a
  * directory are tokenized and counted per micro-batch, and each
  * batch writes its own ledger entry (postings + df deltas + stats)
  * under tag `s<batchId>`. Queries through [[PostingStore.retrieve]]
  * see new documents at the next trigger — the freshness story a
  * RAG / retrieval pipeline needs without rebuilding the index.
  *
  * Exactly-once WITHOUT a transactional sink, by the ledger's
  * construction: a batch's tag is its (checkpoint-pinned) batch id
  * and every piece of its entry OVERWRITES that tag, so a
  * crash-retried batch replaces — never duplicates — its own output;
  * the batch's stats file commits LAST, and
  * [[PostingStore.retrieve]] scans only `batch` partitions whose
  * stats file exists — so a concurrent retrieve either counts the
  * whole batch or none of it (a batch's postings are file-visible
  * before its df deltas and stats land; the reader-side tag gate is
  * what makes visibility atomic). Cross-batch state on
  * the driver: none (each entry is a pure function of its batch's
  * content) — the [[PackStream]] recipe without even an offset chain,
  * because ledger entries are independent.
  *
  * Landing doc_ids must be globally NEW (the upstream-dedup contract
  * shared with [[PostingStore.append]] — chain
  * [[graft.dedup.FingerprintStore]] in front for exactness).
  *
  * StreamingSpec proves the invariant that matters: after streaming
  * N files in, a query over the streamed store equals the same query
  * over (a) a store built from the union of those files in one shot
  * and (b) the in-memory [[graft.ops.Retrieval.bm25TopK]] on the
  * union.
  */
object PostingStream {

  /** The landing contract: (doc_id, text) parquet drops. Declared
    * here (not inferred) so the maintainer can start on an EMPTY
    * landing directory awaiting future drops. */
  val landingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Start ingesting document parquet files from `landingDir` into
    * the posting store at `storePath` (which [[PostingStore.create]]
    * must have initialized — the bucket count comes from its
    * `store.json`). */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.start(spark.readStream.schema(landingSchema).parquet(landingDir),
        checkpointDir, trigger) { (batch, batchId) =>
      PostingStore.append(batch.select("doc_id", "text"), storePath, s"s$batchId")
    }
}
