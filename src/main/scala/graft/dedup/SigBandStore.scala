package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BucketedTable, StoreMeta}

/** Persisted band store for PACKED long signatures — the
  * [[BandStore]] sibling for signature-space near-dup (image aHash,
  * text SimHash): the reference corpus is SIGNED ONCE (for images,
  * decode → 8×8 resize → packed aHash — the expensive per-blob pass),
  * its (band, bucket) rows persist bucketed by the band key, and
  * every arriving batch links against the store by an exchange-free
  * bucket join plus an xor+popcount hamming check per collision.
  *
  * Unlike [[BandStore]] (MinHash bands + exact-Jaccard verify against
  * the reference TEXT), the signature IS the verifier here: the
  * store's rows carry the full 64-bit signature, so linking needs no
  * lookback at the reference blobs at all — per-batch cost is
  * O(batch) signing + a bucketed scan of ~`bands` longs per
  * reference item + one popcount per bucket collision.
  *
  * Same banding math as [[Dedup.bandedHammingPairs]] (the store side
  * holds exact band buckets; the BATCH side probes each bucket and
  * its Hamming-1 flips), so recall is exact for
  * `maxDist <= 2*bands - 1` by pigeonhole. Same single-column
  * persisted key as [[BandStore]]: `bkey = Md5Prefix64(band || '_' ||
  * bucket)` — a 60-bit collision can only ADD candidates (the hamming
  * check rejects them), never lose one.
  *
  * Ids are stored as STRING (image names are strings; integral ids
  * round-trip via their canonical decimal form).
  */
object SigBandStore {

  /** Join key: 60-bit hash of the (band, bucket) pair. */
  private def bkey = graft.functions.Md5Prefix64(
    concat_ws("_", col("band"), col("bucket")))

  private val layout = BucketedTable.Layout("sig_band_store", "bands", "_sig_band_store.json", "bkey")

  /** The table's schema for a sidecar written before the schema field:
    * an empty store (created over zero blobs, the streaming bootstrap)
    * has no file to infer it from. */
  private val olderSchema = "`bkey` BIGINT,`id` STRING,`sig` BIGINT"

  private def bucketCol(sigCol: Column, b: Int, bandBits: Int): Column = {
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    shiftrightunsigned(sigCol, b * bandBits).bitwiseAND(lit(mask))
  }

  /** Exact band rows — one per (item, band): (bkey, id, sig). */
  private def exactRows(
      sigs: DataFrame, idCol: String, sigCol: String,
      sigBits: Int, bands: Int): DataFrame = {
    val bandBits = sigBits / bands
    sigs
      .select(col(idCol).cast("string").as("id"), col(sigCol).as("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), bucketCol(col(sigCol), b, bandBits).as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .select(bkey.as("bkey"), col("id"), col("sig"))
  }

  /** Probe rows — one per (item, band, bucket-or-1-bit-flip). */
  private def probeRows(
      sigs: DataFrame, idCol: String, sigCol: String,
      sigBits: Int, bands: Int): DataFrame = {
    val bandBits = sigBits / bands
    val probeStructs = for {
      b <- 0 until bands
      flip <- -1 until bandBits
    } yield {
      val bc = bucketCol(col(sigCol), b, bandBits)
      val bucket = if (flip < 0) bc else bc.bitwiseXOR(lit(1L << flip))
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    sigs
      .select(col(idCol).cast("string").as("id"), col(sigCol).as("sig"),
        explode(array(probeStructs: _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .select(bkey.as("bkey"), col("id"), col("sig"))
  }

  private def validate(sigBits: Int, bands: Int): Unit = {
    require(sigBits >= 1 && sigBits <= 64, "sigBits must be in [1, 64]")
    require(sigBits % bands == 0, s"bands must divide $sigBits")
  }

  /** Sign-and-persist: write `sigs` (one (`idCol`, `sigCol`) row per
    * item) as a band table at `path`, bucketed by `bkey`, with the
    * banding parameters in a `_sig_band_store.json` sidecar (written
    * by [[graft.io.StoreMeta]]) so a
    * later session can [[attach]] without knowing them. Returns the
    * table name. Size `buckets` >= the cluster's shuffle width or
    * the planner disables the bucketed scan (same contract as the
    * other stores); 0 = session-derived
    * ([[BucketedTable.defaultBuckets]], that floor built in). */
  def createAt(
      spark: SparkSession,
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      path: String,
      sigBits: Int = 64,
      bands: Int = 4,
      buckets: Int = 0): String = {
    validate(sigBits, bands)
    BucketedTable.createAt(spark, layout, path,
      exactRows(sigs, idCol, sigCol, sigBits, bands), buckets)(_ => Seq(
      "sigBits" -> sigBits, "bands" -> bands))
  }

  /** Re-attach a store written by [[createAt]] in a fresh session.
    * Returns the table name and (sigBits, bands, buckets). */
  def attach(spark: SparkSession, path: String): (String, (Int, Int, Int)) = {
    val (table, m) = BucketedTable.attach(spark, layout, path, Some(olderSchema))
    (table, (m.int("sigBits"), m.int("bands"), m.int("buckets")))
  }

  /** Link an arriving `batch` of signatures against the store: every
    * (store id_a, batch id_b, hamming) with signature Hamming
    * distance <= `maxDist`. The batch side probes each band bucket
    * and its Hamming-1 flips, so recall is exact for
    * `maxDist <= 2*bands - 1` (enforced); the store side scans its
    * buckets with no exchange. Ids may collide across sides — an
    * (x, x) self-link is reported when both contain the same item.
    */
  def linkNew(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      sigCol: String,
      maxDist: Int,
      sigBits: Int = 64,
      bands: Int = 4): DataFrame = {
    validate(sigBits, bands)
    require(maxDist >= 0 && maxDist <= 2 * bands - 1,
      s"recall guarantee needs maxDist <= 2*bands-1 = ${2 * bands - 1} (got $maxDist) — raise bands")
    val probes = probeRows(batch, idCol, sigCol, sigBits, bands)
      .select(col("bkey"), col("id").as("id_b"), col("sig").as("sig_b"))
    val store = spark.table(table)
      .select(col("bkey"), col("id").as("id_a"), col("sig").as("sig_a"))
    probes.join(store, Seq("bkey"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
  }

  /** Append newly-accepted items' band rows (same bucket spec) — the
    * corpus-growth path: sign ONLY the new items, never re-sign the
    * corpus. Parameters must be the store's persisted ones; `buckets`
    * 0 = read the registered table's own bucket spec from the
    * catalog. */
  def append(
      spark: SparkSession,
      table: String,
      newSigs: DataFrame,
      idCol: String,
      sigCol: String,
      sigBits: Int = 64,
      bands: Int = 4,
      buckets: Int = 0): Unit = {
    validate(sigBits, bands)
    BucketedTable.append(exactRows(newSigs, idCol, sigCol, sigBits, bands), table, "bkey", buckets)
  }

  /** What [[retuneIfSkewed]] measured and decided — logged to
    * `<path>/retune.json`. */
  final case class RetuneDecision(
      candPairsPerItem: Double,
      maxBucket: Long,
      retuned: Boolean,
      reason: String)

  /** Act on the banding health: measure the persisted band table's
    * candidate mass (Σ s·(s−1)/2 over buckets — the self-join volume
    * a probe pays, normalized per stored item) and RE-BAND the store
    * with `newBands` only on breach of `maxCandPairsPerItem`. Unlike
    * [[BandStore.retuneIfSkewed]] the rebuild needs no external
    * corpus: the store's rows carry the full signature (the verifier),
    * so the distinct (id, sig) set IS the rebuild input — pinned
    * executor-local first, because re-banding re-creates the catalog
    * table being read. FEWER bands = longer band chunks = geometrically
    * fewer random collisions, at the price of a smaller guaranteed
    * radius (`maxDist <= 2*bands−1` by pigeonhole) — the decision log
    * records both so the trade is auditable. Callers re-[[attach]]
    * after a retune to pick up the new parameters. No-op cost: one
    * aggregate over the bucketed table, zero writes. */
  def retuneIfSkewed(
      spark: SparkSession,
      path: String,
      maxCandPairsPerItem: Double,
      newBands: Int): RetuneDecision = {
    val (table, (sigBits, bands, buckets)) = attach(spark, path)
    validate(sigBits, newBands)
    val stored = spark.table(table)
    val agg = stored.groupBy(col("bkey")).agg(count(lit(1)).as("s"))
      .agg(sum(expr("s * (s - 1) DIV 2")).cast("long").as("cand"),
        max(col("s")).cast("long").as("maxb"))
      .head()
    val cand = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val maxb = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    val items = stored.select(col("id"), col("sig")).distinct()
    val nItems = items.count()
    val perItem = if (nItems == 0L) 0.0 else cand.toDouble / nItems
    val breached = perItem > maxCandPairsPerItem
    if (breached) {
      // snapshot pin: createAt overwrites the store these rows come from
      val pinned = items.localCheckpoint()
      createAt(spark, pinned, "id", "sig", path, sigBits, newBands, buckets)
    }
    val reason =
      if (breached)
        f"candidate mass $perItem%.2f pairs/item > $maxCandPairsPerItem%.2f " +
          f"(max bucket $maxb): re-banded $bands -> $newBands bands " +
          f"(guaranteed radius now ${2 * newBands - 1})"
      else
        f"candidate mass $perItem%.2f pairs/item <= $maxCandPairsPerItem%.2f " +
          f"(max bucket $maxb): left untouched"
    val decision = RetuneDecision(perItem, maxb, breached, reason)
    StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$path/retune.json",
      s"""{"cand_pairs_per_item":$perItem,"max_bucket":$maxb,""" +
        s""""max_cand_pairs_per_item":$maxCandPairsPerItem,""" +
        s""""bands":$bands,"new_bands":$newBands,"retuned":$breached,""" +
        s""""reason":${graft.io.JsonUtil.quote(reason)}}""")
    decision
  }
}
