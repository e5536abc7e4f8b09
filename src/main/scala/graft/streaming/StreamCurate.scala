package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.dedup.FingerprintStore
import graft.functions.TextFunctions
import graft.ops.Parallelism

/** Incremental curation maintenance — the operational path of the
  * batch pipeline ([[graft.ops.Curation]]): documents landing in a
  * directory pass the PER-DOCUMENT curation gates per micro-batch and
  * the survivors append to the curated corpus, with a ledger line per
  * batch. The per-document stages stream exactly (each verdict
  * depends on the document, the static benchmark, and the store —
  * never on unseen corpus mates):
  *
  *  1. quality ≥ `minQuality` and token length in
  *     [`minTokens`, `maxTokens`] ([[TextFunctions]]);
  *  2. benchmark decontamination vs the STATIC held-out set
  *     ([[StreamDecontam.sharedGramCount]]'s Bloom fast path);
  *  3. exact dedup against the persisted fingerprint store
  *     ([[FingerprintStore.dedupeNew]] — first arrival wins, store
  *     probes exchange-free), with the accepted fingerprints
  *     appended so the store stays authoritative for the next batch.
  *
  * The corpus-GLOBAL stages — near-dup clustering, best-quality
  * survivor election, the per-source token budget — are deliberately
  * absent: their verdicts depend on documents that may not have
  * arrived yet, so a production pipeline runs them as periodic batch
  * passes over the curated output (`Curation.pipeline` /
  * `curate-pipeline`), not per-arrival.
  *
  * Ledger lines land as one JSON file per batch under
  * `$outDir/_ledger/` (arrived / gated / clean / accepted counts,
  * written by [[graft.io.StoreMeta]]) —
  * the same audit trail the batch verb ships, incrementally.
  *
  * Crash/retry semantics, same trade as [[SigStream]]: source
  * progress is checkpointed; corpus rows append BEFORE the
  * fingerprints, so a crash between the two re-emits that batch's
  * rows on retry (`dropDuplicates` on read reconciles) rather than
  * silently dropping them (fps-first would mark them seen and the
  * retry would discard the rows forever).
  */
object StreamCurate {

  /** Landing schema: the documents-table shape. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("lang", StringType)))

  def maintain(
      spark: SparkSession,
      landingDir: String,
      fpStorePath: String,
      bench: DataFrame,
      outDir: String,
      checkpointDir: String,
      minQuality: Double = 0.5,
      minTokens: Int = 5,
      maxTokens: Int = 1000,
      decontamN: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val (table, buckets) = FingerprintStore.attach(spark, fpStorePath)
    val benchStatic = Parallelism.stage(bench.select(col("doc_id"), col("text")))
    LedgerStream.start(spark.readStream.schema(docSchema).parquet(landingDir),
        checkpointDir, trigger) { (batch, batchId) =>
      val arrived = Parallelism.stage(batch)
      val gated = arrived
        .filter(col("text").isNotNull)
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
        .filter(col("quality") >= minQuality &&
          col("n_tokens").between(minTokens, maxTokens))
        .transform(Parallelism.stage)
      val clean = StreamDecontam.sharedGramCount(
          gated, benchStatic, "text", n = decontamN)
        .filter(col("shared_grams") === 0L)
        .drop("shared_grams")
        .transform(Parallelism.stage)
      val accepted = FingerprintStore.dedupeNew(
          spark, table, clean, "doc_id", "text")
        // snapshot pin: probes the store the append below grows, and
        // is counted after it (a recompute would accept 0 rows)
        .localCheckpoint(false)
      accepted.write.mode("append").parquet(s"$outDir/corpus")
      FingerprintStore.append(spark, table, accepted, "doc_id", "text", buckets)
      // overwrite: a retried batch rewrites its line
      graft.io.StoreMeta.write(spark, s"$outDir/_ledger/batch_$batchId.json",
        "batch" -> batchId, "arrived" -> arrived.count(), "gated" -> gated.count(),
        "clean" -> clean.count(), "accepted" -> accepted.count())
    }
  }
}
