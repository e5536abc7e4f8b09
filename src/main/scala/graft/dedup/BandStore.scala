package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BucketedTable, StoreMeta}

/** Incremental NEAR-dup linkage against a persisted MinHash band
  * store — the [[FingerprintStore]] sibling for fuzzy matching: a
  * reference corpus is signed ONCE (tokenize → MinHash → band
  * buckets, the expensive pass over 100 TB of text), its band table
  * persists bucketed by the band key, and every arriving batch links
  * against the store by an exchange-free bucket join. Per-batch cost:
  * O(batch) to sign the batch + a bucketed scan of the store's band
  * rows (~`bands` longs per reference doc — orders of magnitude
  * smaller than the text) + exact verification proportional to the
  * CANDIDATE count.
  *
  * Reference TEXT is read only at the verify stage, and only for
  * documents that appear in some candidate pair (the semi-join
  * inside [[Dedup.verifyCandidatesCross]]): the store eliminates the
  * per-batch re-signing of the corpus, verification touches the
  * linked subset.
  *
  * The persisted key is ONE column: `bkey = Md5Prefix64(band || '_'
  * || bucket)` — a composite (band, bucket) key would defeat the
  * single-column bucketing spec. A 60-bit bkey collision can only ADD
  * candidate pairs (verified exactly afterwards), never lose one:
  * equal (band, bucket) always hash equal.
  */
object BandStore {

  /** Join key: 60-bit hash of the (band, bucket) pair. */
  private def bkey = graft.functions.Md5Prefix64(
    concat_ws("_", col("band"), col("bucket")))

  private val layout = BucketedTable.Layout("band_store", "bands", "_band_store.json", "bkey")

  /** Sign `reference` and persist its band table at `path`, bucketed
    * by `bkey`, with the signature parameters in a `_band_store.json`
    * sidecar (written by [[graft.io.StoreMeta]]) so a later session can [[attach]] without knowing them
    * (mismatched parameters would produce disjoint buckets and
    * silently link nothing). Returns the table name.
    *
    * Same bucket-count contract as the fingerprint store: size
    * `buckets` >= the cluster's shuffle width or the planner disables
    * the bucketed scan and reshuffles the store per batch. `buckets`
    * 0 = session-derived ([[BucketedTable.defaultBuckets]], that
    * floor built in).
    */
  def createAt(
      spark: SparkSession,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 2,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Long = Long.MaxValue,
      buckets: Int = 0): String = {
    val bandRows = Dedup.cappedBandTable(
      reference, idCol, textCol, n, numHashes, bands, maxBucketSize)
      .select(bkey.as("bkey"), col("doc_id"))
    // maxBucketSize persists WITH the signature parameters: a capped
    // store (retuneIfSkewed's rebuild) must be distinguishable from an
    // uncapped one at attach time, or a later createAt-style rebuild
    // and every append would silently drop the cap.
    BucketedTable.createAt(spark, layout, path, bandRows, buckets)(_ => Seq(
      "n" -> n, "numHashes" -> numHashes, "bands" -> bands, "maxBucketSize" -> maxBucketSize))
  }

  /** Re-attach a store written by [[createAt]] in a fresh session
    * (bucketing lives in the catalog, not the files). Returns the
    * table name and the persisted signature parameters
    * (n, numHashes, bands, buckets, maxBucketSize) — the cap defaults
    * to Long.MaxValue for stores written before it was persisted. */
  def attach(spark: SparkSession, path: String): (String, (Int, Int, Int, Int, Long)) = {
    val (table, m) = BucketedTable.attach(spark, layout, path)
    (table, (m.int("n"), m.int("numHashes"), m.int("bands"), m.int("buckets"),
      m.optLong("maxBucketSize").getOrElse(Long.MaxValue)))
  }

  /** Link an arriving `batch` against the stored reference: every
    * (reference doc_a, batch doc_b) pair whose exact n-gram Jaccard
    * clears `threshold`. The batch is signed fresh with the STORE's
    * persisted parameters (attached via [[attach]] or passed from
    * [[createAt]]'s session); candidates come from the batch band
    * table joined bkey-equi against the bucketed store — no store-
    * side exchange (DedupStoreSpec pins the plan). `reference` is
    * consulted only for candidate docs' text at verification.
    */
  def linkNew(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 2,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val candidates = linkCandidates(
      spark, table, batch, idCol, textCol, n, numHashes, bands, maxBucketSize)
    Dedup.verifyCandidatesCross(reference, batch, candidates, idCol, textCol, n, threshold)
  }

  /** The candidate stage of [[linkNew]], exposed on its own: the
    * (doc_a ∈ store, doc_b ∈ batch) pairs colliding in some band
    * bucket, BEFORE exact verification. This is the DataFrame whose
    * physical plan carries the store's scale contract (bucketed scan,
    * no store-side exchange — DedupStoreSpec pins it here, because
    * [[linkNew]]'s verify stage checkpoints the candidates and hides
    * this subplan from the final query execution). Also the right
    * entry point for callers that want the raw collision graph
    * (e.g. blocking for a downstream entity-resolution model). */
  def linkCandidates(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val batchBands = Dedup.cappedBandTable(
      batch, idCol, textCol, n, numHashes, bands, maxBucketSize)
      .select(bkey.as("bkey"), col("doc_id").as("doc_b"))
    val store = spark.table(table).select(col("bkey"), col("doc_id").as("doc_a"))
    batchBands.join(store, Seq("bkey"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Record newly-accepted reference documents' band rows in the
    * store (same bucket spec, appended) — the corpus-growth path:
    * sign ONLY the new docs, never re-sign the corpus. Pass the
    * store's persisted parameters (from [[attach]]/[[createAt]]);
    * mismatched signature parameters would land rows in buckets no
    * future batch probes. */
  def append(
      spark: SparkSession,
      table: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Long = Long.MaxValue,
      buckets: Int = 0): Unit =
    BucketedTable.append(
      Dedup.cappedBandTable(newDocs, idCol, textCol, n, numHashes, bands, maxBucketSize)
        .select(bkey.as("bkey"), col("doc_id")),
      table, "bkey", buckets)

  /** What [[retuneIfSkewed]] measured and decided — the same facts it
    * logs to `<path>/retune.json`. */
  final case class RetuneDecision(
      candPairsPerDoc: Double,
      maxBucket: Long,
      retuned: Boolean,
      reason: String)

  /** Act on the banding health: measure the PERSISTED band table's
    * candidate mass — Σ s·(s−1)/2 over buckets, the very `cand_pairs`
    * column [[Dedup.bandingReport]] sizes the bands/maxBucketSize
    * trade with, here read off the stored rows instead of re-signing
    * the corpus — normalized per stored document, and RE-BAND the
    * store with `cappedBucketSize` only when it exceeds
    * `maxCandPairsPerDoc`. Otherwise the store is left untouched.
    * The decision (measurement, threshold, what was done and why) is
    * logged to `<path>/retune.json` the way [[graft.similarity
    * .Similarity.reindexIfUnhealthy]] records its choice — the audit
    * trail says why a store was or wasn't re-banded without replaying
    * the measurement.
    *
    * The rebuild re-signs `reference` (band rows don't carry text, so
    * the caller supplies the corpus the store covers) with the
    * persisted signature parameters and the new cap. Capping drops
    * candidates only from over-full buckets — boilerplate-dominated
    * shingle mass whose pairs drown the probe — and every dropped
    * candidate was headed for exact verification anyway, so links
    * between documents that also share any uncapped bucket survive
    * (the banded-recall property ScaleSmoke pins at 10×). No-op cost:
    * one aggregate over the bucketed table, zero writes. */
  def retuneIfSkewed(
      spark: SparkSession,
      path: String,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      maxCandPairsPerDoc: Double,
      cappedBucketSize: Long): RetuneDecision = {
    val (table, (n, numHashes, bands, buckets, _)) = attach(spark, path)
    val stored = spark.table(table)
    val agg = stored.groupBy(col("bkey")).agg(count(lit(1)).as("s"))
      .agg(sum(expr("s * (s - 1) DIV 2")).cast("long").as("cand"),
        max(col("s")).cast("long").as("maxb"))
      .head()
    val cand = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val maxb = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    val nDocs = stored.select(col("doc_id")).distinct().count()
    val perDoc = if (nDocs == 0L) 0.0 else cand.toDouble / nDocs
    val breached = perDoc > maxCandPairsPerDoc
    if (breached) {
      createAt(spark, reference, idCol, textCol, path,
        n, numHashes, bands, cappedBucketSize, buckets)
    }
    val reason =
      if (breached)
        f"candidate mass $perDoc%.2f pairs/doc > $maxCandPairsPerDoc%.2f " +
          f"(max bucket $maxb): re-banded with bucket cap $cappedBucketSize"
      else
        f"candidate mass $perDoc%.2f pairs/doc <= $maxCandPairsPerDoc%.2f " +
          f"(max bucket $maxb): left untouched"
    val decision = RetuneDecision(perDoc, maxb, breached, reason)
    StoreMeta.writeText(spark, s"$path/retune.json",
      s"""{"cand_pairs_per_doc":$perDoc,"max_bucket":$maxb,""" +
        s""""max_cand_pairs_per_doc":$maxCandPairsPerDoc,""" +
        s""""capped_bucket_size":$cappedBucketSize,"retuned":$breached,""" +
        s""""reason":${graft.io.JsonUtil.quote(reason)}}""")
    decision
  }

}
