package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}

import graft.dedup.{Dedup, SigBandStore}
import graft.ops.Parallelism

/** Modality-generic streaming near-dup maintenance over a persisted
  * signature band store ([[SigBandStore]]): binary blobs landing in a
  * directory are decoded and signed ONCE by the caller's `sign`
  * stage, linked against everything seen so far by the exchange-free
  * band-bucket join, and their signatures appended. The store layout,
  * banding math and per-batch cost model are signature-generic — the
  * modality contributes only the (path, content) → (name, sig)
  * signing function ([[ImageSigStream]] plugs in packed aHash,
  * [[AudioSigStream]] the PCM energy hash; any other 64-bit
  * perceptual signature slots in the same way).
  *
  * Each micro-batch emits the canonical (a < b, hamming) pairs that
  * involve at least one batch item: cross pairs (batch vs store) from
  * [[SigBandStore.linkNew]] and within-batch pairs from
  * [[Dedup.bandedHammingPairs]] — together, after all items have
  * streamed through, exactly the batch pair set over the full corpus
  * (StreamingSpec pins the equality per modality).
  *
  * Same foreachBatch-append trade as [[AnnIndexStream.maintain]]:
  * source progress is checkpointed, sink writes are not
  * transactional, so a crash mid-batch can duplicate that batch's
  * pair rows on retry — `dropDuplicates` on read reconciles.
  */
object SigStream {

  /** binaryFile's fixed schema (the streaming source requires one
    * explicitly). */
  private[streaming] val binarySchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Start linking-and-appending blobs from `landingDir` against the
    * signature store at `storePath` (created by
    * [[SigBandStore.createAt]] — possibly over an empty corpus).
    * `sign` maps a (path, content) batch to one (name, sig) row per
    * item; emitted pairs append as parquet under `pairsDir` with the
    * pair columns named (`aCol`, `bCol`, hamming).
    */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      pairsDir: String,
      checkpointDir: String,
      maxHamming: Int,
      sign: DataFrame => DataFrame,
      aCol: String,
      bCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val (table, (sigBits, bands, buckets)) = SigBandStore.attach(spark, storePath)
    LedgerStream.start(
        spark.readStream.format("binaryFile").schema(binarySchema).load(landingDir),
        checkpointDir, trigger) { (batch, _) =>
      // one decode+sign per blob, consumed by three stages
      val sigs = sign(batch.select(col("path"), col("content")))
        .transform(Parallelism.stage)
      val cross = SigBandStore.linkNew(spark, table, sigs, "name", "sig",
          maxDist = maxHamming, sigBits = sigBits, bands = bands)
        .select(least(col("id_a"), col("id_b")).as(aCol),
          greatest(col("id_a"), col("id_b")).as(bCol), col("hamming"))
        .filter(col(aCol) =!= col(bCol)) // re-delivered blob self-link
      val within = Dedup.bandedHammingPairs(sigs, "name", "sig",
          sigBits = sigBits, bands = bands, maxDist = maxHamming)
        .select(col("id_a").as(aCol), col("id_b").as(bCol), col("hamming"))
      cross.unionByName(within).distinct()
        .write.mode("append").parquet(pairsDir)
      SigBandStore.append(spark, table, sigs, "name", "sig",
        sigBits = sigBits, bands = bands, buckets = buckets)
    }
  }
}

/** [[SigStream]] with the audio energy hash: WAV clips landing in a
  * directory are decoded and eHash-signed once per arrival, linked
  * against the corpus seen so far, and appended — the audio twin of
  * [[ImageSigStream]] over the SAME store machinery.
  */
object AudioSigStream {

  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      pairsDir: String,
      checkpointDir: String,
      maxHamming: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    SigStream.maintain(spark, landingDir, storePath, pairsDir, checkpointDir,
      maxHamming,
      sign = b => graft.multimodal.AudioOps.energyHash64(spark, b),
      aCol = "clip_a", bCol = "clip_b", trigger = trigger)
}
