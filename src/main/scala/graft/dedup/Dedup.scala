package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.Parallelism

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (the design target is ~100 TB of documents):
  *  - exact dedup is one hash aggregate on a fingerprint — a single
  *    shuffle on a short string key, partial aggregation map-side;
  *  - near-dup pipelines NEVER cross-join the corpus. Candidate pairs
  *    come from an inverted index (token/band → doc) self-join, so the
  *    shuffle volume is bounded by posting-list sizes, and hot tokens
  *    are dropped by a document-frequency cap (the classic LSH trick
  *    for skew: a stopword-gram would otherwise produce a quadratic
  *    bucket).
  */
object Dedup {

  /** Exact dedup by normalized-token fingerprint (hash-groupBy).
    * Returns one row per distinct fingerprint with the smallest id as
    * the keeper and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Parallelism.ensure(docs)
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct (id, gram) pairs: word n-grams per document.
    *
    * `array_distinct` already dedups grams within a document, so the
    * exploded rows are (doc_id, gram)-unique by construction (doc ids
    * are unique — the corpus key) and no post-explode `distinct()`
    * shuffle is needed: the posting list is born deduplicated, one
    * narrow stage from the scan.
    */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(
          TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n))).as("gram"))

  /** Split-leakage matrix — the train/test contamination check a
    * split ships with: every near-duplicate pair labeled with its
    * endpoints' split assignments and counted per unordered split
    * pair. The diagonal (train, train) is ordinary in-split
    * redundancy; any off-diagonal mass is LEAKAGE — a test document
    * whose near-twin sits in train inflates every benchmark number
    * the split was built to protect.
    *
    * Pair generation is the BANDED MinHash candidate path + exact
    * Jaccard verifier ([[minHashLshPairs]], the q19/q70 machinery):
    * candidate mass is bucket-collision volume, so the audit costs
    * what the dedup pass costs — never the inverted-index self-join's
    * O(df²) constant (the tests' `ParityOracles.splitLeakageExact`
    * keeps that path as the small-scale truth; at the audit's ≥0.8
    * threshold the banding's per-pair miss probability is
    * (1−j⁴)⁸ ≤ 1.5% at the boundary and vanishes for the
    * near-identical twins leakage is about).
    *
    * `splits` is the caller's (idCol, split) assignment — the q53
    * hash split, a time split, whatever the pipeline used — so the
    * check audits the REAL assignment rather than re-deriving one.
    * Two id-keyed co-partitioned joins label the pair endpoints;
    * nothing beyond the pair generator's own cost.
    *
    * Output: (split_a ≤ split_b, n_pairs).
    */
  def splitLeakage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      splits: DataFrame,
      n: Int = 2,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketSize: Long = Long.MaxValue): DataFrame =
    labelPairsBySplit(
      minHashLshPairs(docs, idCol, textCol, n, threshold, numHashes, bands,
        maxBucketSize),
      splits, idCol)

  /** Label (doc_a, doc_b) pairs with their endpoints' split
    * assignments and count per unordered split pair — shared by both
    * leakage paths so they can only differ in pair generation. */
  private[graft] def labelPairsBySplit(
      pairs: DataFrame, splits: DataFrame, idCol: String): DataFrame = {
    val sp = splits.select(col(idCol), col("split"))
    pairs
      .join(sp.select(col(idCol).as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(sp.select(col(idCol).as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact n-gram Jaccard similarity for every pair sharing at least
    * one gram, via inverted-index self-join (no cross join):
    * posting lists → co-occurrence counts → |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxDocFreq` drops grams appearing in more than that many docs —
    * skew control: a ubiquitous gram contributes O(df²) candidate pairs
    * but ~no signal. Pairs kept when jaccard >= `threshold`.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val grams = docGrams(docs, idCol, textCol, n)

    val filtered0 =
      if (maxDocFreq == Long.MaxValue) grams
      else {
        val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("gram")
        grams.join(df, Seq("gram"), "left_semi")
      }
    // The posting list feeds FOUR consumers (sizes + both self-join
    // sides + the df cap already consumed it); exchange reuse doesn't
    // cover the differing projections, so without materialization the
    // tokenize+shingle+distinct subplan recomputes per consumer.
    // localCheckpoint truncates the lineage once, executor-local.
    val filtered = Parallelism.stage(filtered0)

    // Sizes from the SAME (post-cap) gram universe as the intersection
    // counts — otherwise dropped high-df grams inflate the union but can
    // never appear in the intersection, systematically underestimating
    // Jaccard near the threshold.
    val sizes = filtered.groupBy("doc_id").agg(count(lit(1)).as("sz"))

    val a = filtered.withColumnRenamed("doc_id", "doc_a")
    val b = filtered.withColumnRenamed("doc_id", "doc_b")
    val inter = a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))

    inter
      .join(broadcastIfSmall(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a")), Seq("doc_a"))
      .join(broadcastIfSmall(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // The sizes table is one row per doc — small relative to postings;
  // leave the broadcast decision to AQE but keep the hook explicit.
  private def broadcastIfSmall(df: DataFrame): DataFrame = df

  /** Exact-Jaccard verification restricted to LSH candidate PAIRS.
    *
    * The 100-TB property that makes banded LSH worth running: work is
    * proportional to the number of candidate pairs, never to corpus
    * posting-list sizes. Each candidate pair is joined to the two docs'
    * (distinct) gram arrays and verified per-row with
    * `array_intersect` — O(|grams_a| + |grams_b|) per pair, no
    * inverted-index self-join, no O(df²) blow-up even when the banding
    * is noisy and candidates cover most of the corpus.
    */
  private def verifyCandidates(
      docs: DataFrame,
      candidates: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    // Tokenize ONLY documents that appear in some candidate pair: a
    // semi-join against the (small) candidate id set runs before the
    // gram computation, so verification work scales with the candidate
    // count, not the corpus. The per-candidate gram table then feeds
    // both pair sides; localCheckpoint stops the tokenize+join subplan
    // from running twice. The candidate frame itself is materialized
    // first: it feeds the id set AND the final pair join, and its
    // producing join (band-bucket self-join upstream) must not
    // re-execute per consumer. Ids come from one explode pass, not a
    // two-branch self-union.
    val cands = Parallelism.stage(candidates)
    val candIds = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("vid"))
      .distinct()
    val grams = Parallelism.ensure(docs).select(
      col(idCol).as("vid"),
      array_distinct(
        TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n)).as("vgrams"))
      .join(candIds, Seq("vid"), "left_semi")
      .transform(Parallelism.stage)
    cands
      .join(grams.select(col("vid").as("doc_a"), col("vgrams").as("grams_a")), Seq("doc_a"))
      .join(grams.select(col("vid").as("doc_b"), col("vgrams").as("grams_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("grams_a")) + size(col("grams_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Deterministic 64-bit hash of a string gram for MinHash: first 15
    * hex digits of md5, as a non-negative long. Engine-portable (md5 is
    * md5 everywhere) and uniform. Computed by the native
    * [[graft.functions.Md5Prefix64]] kernel — bit-equal to the
    * `conv(substring(md5(g),1,15),16,10)` form the oracles transcribe,
    * without the per-gram hex-string round-trip.
    */
  private[graft] def gramHash(gram: Column): Column =
    graft.functions.Md5Prefix64(gram)

  /** Per-ROW MinHash signature over a MATERIALIZED array of pmod'ed
    * gram hashes — for sources where one row carries the whole
    * document (e.g. the streaming near-dup path,
    * [[graft.streaming.StreamNearDup]]). Hash parametrization is
    * identical to [[graft.functions.MinHashSketchAgg]], so the two
    * forms produce bit-equal signatures (asserted in
    * DedupSketchSpec). Pass an ATTRIBUTE column, not an inline
    * expression: each of the `numHashes` slots references it once.
    *
    * PRECONDITION: `hashes` is non-empty — an empty array would give
    * an all-null signature whose band buckets collapse to md5("") and
    * go quadratic. The aggregate twin structurally can't see an empty
    * group; per-row callers must filter gramless documents first
    * (StreamNearDup does: `size(grams) > 0`).
    */
  def minHashSignature(hashes: Column, numHashes: Int): Column = {
    val p = graft.functions.MinHashSketchAgg.Prime
    array((0 until numHashes).map { i =>
      val a = 2L * i + 1
      val b = 1013904223L * (i + 1) % p
      array_min(transform(hashes, h => (lit(a) * h + lit(b)) % lit(p)))
    }: _*)
  }

  /** The (band, bucket) struct array for a signature column: bucket =
    * md5 of the band's signature slice. Shared by the batch LSH
    * self-join and the streaming keyed-state path so both sides bucket
    * identically. Pass a materialized signature attribute.
    *
    * Computed by the native [[graft.functions.BandBuckets]] kernel —
    * bit-equal to the declarative `ParityOracles.bandBucketsHof` form
    * (ExpressionParitySpec), which at the q19 shape (64 hashes × 16
    * bands) was a ~170-node expression tree whose first-run codegen
    * compilation dominated the query's wall time.
    */
  def bandBuckets(sig: Column, numHashes: Int, bands: Int): Column =
    graft.functions.BandBuckets(sig, numHashes, bands)

  /** MinHash signature + banded LSH near-dup detection.
    *
    * shingle → `numHashes` universal hashes (a_i * h + b_i mod p) →
    * per-doc min per hash (one aggregate) → signatures sliced into
    * `bands` bands → band-hash bucket self-join for candidates →
    * exact n-gram Jaccard verification of candidates.
    *
    * Everything is deterministic: hash params derive from the index,
    * not a RNG, so results are reproducible across runs and engines.
    * Returns (doc_a, doc_b, jaccard) for verified pairs >= threshold.
    */
  /** Distinct LSH candidate pairs (doc_a < doc_b) from the banded
    * bucket self-join — the pre-verification stage of
    * [[minHashLshPairs]], exposed so the streaming keyed-state path
    * can be checked equal to it.
    */
  /** The capped MinHash band table of a corpus: one (doc_id, band,
    * bucket) row per band per document, hot buckets dropped whole.
    *
    * Band key: hash of the concatenated signature slice. One explode
    * over an array of (band, bucket) structs — NOT a bands-way union,
    * which would recompute the signature aggregate once per band per
    * join side. One row per doc × numHashes longs — small;
    * materialized once so the shingle+min-agg subplan doesn't run
    * once per join side.
    *
    * Hot-bucket skew guard — the band-level sibling of the gram
    * maxDocFreq cap and the streaming maxBucketSize: a degenerate
    * bucket (mass-duplicated boilerplate hashing identically in one
    * band) contributes O(size²) candidate pairs. Buckets above the
    * cap are dropped whole; their members' true near-dups still
    * surface through the other bands (and exact duplicates through
    * exact dedup). The cap check is one count over the (small) band
    * table — never over the corpus.
    */
  private[dedup] def cappedBandTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Long): DataFrame = {
    val grams = docGrams(docs, idCol, textCol, n)
      .withColumn("h", pmod(gramHash(col("gram")), lit(1L << 32)))

    // ONE custom TypedImperativeAggregate computes the whole signature:
    // the buffer is the k-long minima array updated in place per input
    // hash, with map-side partial aggregation (merge = elementwise
    // min). Signatures are bit-equal to the declarative k-column
    // `min()` form (property-tested in DedupSketchSpec).
    val sigs = grams.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSketchAgg
        .minhashSketch(col("h"), numHashes).as("sig"))

    val bandTable = sigs
      .select(col("doc_id"), explode(bandBuckets(col("sig"), numHashes, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .transform(Parallelism.stage)

    if (maxBucketSize == Long.MaxValue) bandTable
    else {
      val ok = bandTable.groupBy("band", "bucket")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") <= maxBucketSize)
        .select("band", "bucket")
      bandTable.join(ok, Seq("band", "bucket"), "left_semi")
    }
  }

  /** Prefix-duplication profile — the boilerplate-header detector:
    * per group (source/feed), how many documents share their first
    * `prefixTokens`-token fingerprint with ANOTHER document anywhere
    * in the corpus (shared prefixes are corpus-wide — boilerplate
    * crosses feeds), and how many distinct shared prefixes the group
    * carries. Exact dedup sees none of this (the tails differ) and
    * pairwise near-dup only sees it when whole documents are
    * similar; a template header pasted onto thousands of distinct
    * pages shows up HERE first, and the repetition/novelty filters
    * price it per document only after this report says which feed to
    * point them at.
    *
    * Scale shape: one narrow fingerprint pass (staged — the
    * prefix-fp table feeds the df aggregate and the profile join),
    * one fp-keyed count, one fp-keyed co-partitioned join back, one
    * group-keyed aggregate. Nothing pairwise.
    *
    * Output: (group, n_docs, shared_docs, n_shared_prefixes,
    * shared_rate 6dp). Documents shorter than `prefixTokens` tokens
    * fingerprint whatever prefix they have.
    */
  def prefixDupProfile(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      prefixTokens: Int = 8): DataFrame = {
    require(prefixTokens >= 1, s"prefixTokens must be >= 1, got $prefixTokens")
    val fp = Parallelism.ensure(docs)
      .filter(col(textCol).isNotNull)
      .select(col(groupCol),
        md5(array_join(
          slice(TextFunctions.tokens(col(textCol)), 1, prefixTokens), " ")).as("fp"))
      .transform(Parallelism.stage) // two consumers: df agg + profile join
    val dfreq = fp.groupBy("fp").agg(count(lit(1)).as("df"))
    fp.join(dfreq, Seq("fp")) // fp-keyed, co-partitioned
      .groupBy(groupCol)
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("df") >= 2L, 1L).otherwise(0L)).cast("long").as("shared_docs"),
        countDistinct(when(col("df") >= 2L, col("fp"))).cast("long")
          .as("n_shared_prefixes"))
      .withColumn("shared_rate",
        round(col("shared_docs").cast("double") / col("n_docs").cast("double"), 6))
  }

  /** LSH banding health report — the decide-before-you-band pass
    * over the MinHash near-dup path: per band, the document count,
    * distinct bucket count, largest bucket, and the candidate-pair
    * mass Σ s·(s−1)/2 the band would feed the verifier. The pair
    * mass IS the banding's cost model: a band whose max bucket or
    * pair mass runs away is the hot-bucket quadratic blow-up the
    * `maxBucketSize` cap exists for, and this report is how the cap
    * (and the bands/numHashes trade) gets SIZED instead of guessed.
    *
    * Same signature/bucket arithmetic as the candidate generator
    * ([[cappedBandTable]], uncapped) — the report audits the real
    * banding, not a re-derivation. Scale: the (band, bucket) counts
    * are one shuffle of the band table; the report itself is
    * bands-sized. Pair mass rides longs — a single bucket past ~3·10⁹
    * members would overflow, a regime the report exists to flag long
    * before.
    *
    * Output: (band, n_docs, n_buckets, max_bucket, cand_pairs).
    */
  def bandingReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame =
    cappedBandTable(docs, idCol, textCol, n, numHashes, bands, Long.MaxValue)
      .groupBy("band", "bucket").agg(count(lit(1)).as("s"))
      .groupBy("band")
      .agg(
        sum("s").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_buckets"),
        max("s").cast("long").as("max_bucket"),
        sum(expr("s * (s - 1) DIV 2")).cast("long").as("cand_pairs"))

  def minHashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val capped = cappedBandTable(
      docs, idCol, textCol, n, numHashes, bands, maxBucketSize)
    val ca = capped.withColumnRenamed("doc_id", "doc_a")
    val cb = capped.withColumnRenamed("doc_id", "doc_b")
    ca.join(cb, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketSize: Long = Long.MaxValue): DataFrame =
    verifyCandidates(docs,
      minHashCandidates(docs, idCol, textCol, n, numHashes, bands, maxBucketSize),
      idCol, textCol, n, threshold)

  /** Cross-corpus MinHash fuzzy join (the entity-resolution / record-
    * linkage shape): every (left, right) pair whose exact n-gram
    * Jaccard clears `threshold`, found through band-bucket collisions
    * between the two corpora's signature tables — never a text
    * comparison across the full cross product.
    *
    * This is the "link an arriving batch against a reference corpus by
    * near-duplicate text" primitive: unlike [[minHashLshPairs]] (self-
    * join, `doc_a < doc_b` dedup), the two sides are distinct tables
    * joined (band, bucket)-keyed — each side's signature aggregate
    * runs once over its own corpus, the bucket join is equi-keyed and
    * co-partitioned, and verification work is proportional to the
    * candidate count. `maxBucketSize` caps each side's bucket
    * membership independently (bounding any bucket's pair
    * contribution at cap²).
    *
    * Output: (doc_a ∈ left, doc_b ∈ right, jaccard). Ids may overlap
    * between the corpora — a (x, x) self-pair is reported if both
    * sides contain the same near-identical document.
    */
  def minHashLshJoin(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val ba = cappedBandTable(left, idCol, textCol, n, numHashes, bands, maxBucketSize)
      .withColumnRenamed("doc_id", "doc_a")
    val bb = cappedBandTable(right, idCol, textCol, n, numHashes, bands, maxBucketSize)
      .withColumnRenamed("doc_id", "doc_b")
    val candidates = ba.join(bb, Seq("band", "bucket"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyCandidatesCross(left, right, candidates, idCol, textCol, n, threshold)
  }

  /** Two-corpus twin of [[verifyCandidates]]: doc_a grams come from
    * `left`, doc_b grams from `right`. Same scale contract — each
    * side tokenizes only documents that appear in some candidate
    * pair (semi-join first), per-pair verification is
    * O(|grams_a| + |grams_b|). */
  private[dedup] def verifyCandidatesCross(
      left: DataFrame,
      right: DataFrame,
      candidates: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val cands = Parallelism.stage(candidates)
    def sideGrams(docs: DataFrame, side: String): DataFrame =
      Parallelism.ensure(docs).select(
        col(idCol).as(side),
        array_distinct(
          TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n))
          .as(s"grams_$side"))
        .join(cands.select(side).distinct(), Seq(side), "left_semi")
        .transform(Parallelism.stage)
    cands
      .join(sideGrams(left, "doc_a"), Seq("doc_a"))
      .join(sideGrams(right, "doc_b"), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("grams_doc_a"), col("grams_doc_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("grams_doc_a")) + size(col("grams_doc_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 60-bit SimHash signatures: per-token md5-derived hash; signature
    * bit j = sign of the sum over tokens of ±1 at bit j.
    *
    * Shaped as explode → one hash aggregate with 60 sum columns —
    * partial (map-side) combine applies, so shuffle volume is one
    * 60-long row per document regardless of document length.
    */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashFromHashes(Parallelism.ensure(docs).select(
      col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("u"))
      .select(col("doc_id"), gramHash(col("u")).as("h")))

  /** SimHash over DISTINCT word n-grams instead of token occurrences.
    * On small-vocab corpora unigram-occurrence votes are heavily
    * correlated across documents (every doc votes with the same few
    * tokens), which collapses the signature space and makes banded
    * candidate generation quadratic; n-grams (n >= 2) restore bit
    * entropy. */
  def simHashGramSignatures(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    simHashFromHashes(
      docGrams(docs, idCol, textCol, n).select(col("doc_id"), gramHash(col("gram")).as("h")))

  private def simHashFromHashes(hashes: DataFrame): DataFrame =
    // One custom vote-buffer aggregate (in-place int-array update,
    // map-side combine, eval folds votes to the signature long) —
    // bit-equal to the declarative 60-column sum(CASE) form
    // (property-tested in DedupSketchSpec).
    hashes.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashSketchAgg.simhashSig(col("h"), 60).as("sig"))

  /** SimHash near-dup: bucket by band (`bands` equal slices of the
    * 60-bit n-gram signature), probing each band's bucket AND its
    * Hamming-1 flips on one join side.
    *
    * Recall guarantee (pigeonhole): a pair at signature Hamming
    * distance <= 2*bands - 1 has some band where the slices differ by
    * <= 1 bit, so the probe always collides — 6 bands of 10 bits
    * covers distance 11 with ~8x fewer false candidates than 10 plain
    * bands of 6 bits. Candidates are then verified pair-wise with
    * exact n-gram Jaccard (O(|grams|) each, work proportional to the
    * candidate count — never to corpus size squared).
    */
  def simHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      bands: Int = 6,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val sigs = simHashGramSignatures(docs, idCol, textCol, n)
    val candidates = bandedHammingPairs(sigs, "doc_id", "sig",
        sigBits = 60, bands = bands, maxDist = 2 * bands - 1,
        maxBucketSize = maxBucketSize)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    verifyCandidates(docs, candidates, idCol, textCol, n, threshold)
  }

  /** Banded near-neighbor pairs over PACKED long signatures — the
    * signature-type-agnostic candidate machinery behind
    * [[simHashPairs]] (60-bit text SimHash) and the image aHash path
    * ([[graft.multimodal.ImageOps.nearDupPairs]], 64-bit): all pairs
    * at signature Hamming distance <= `maxDist`, found by bucketing
    * `bands` equal slices of the signature and probing each band's
    * bucket AND its Hamming-1 flips on one join side.
    *
    * Recall is EXACT, not approximate, when `maxDist <= 2*bands - 1`
    * (enforced): by pigeonhole, a pair within that distance has some
    * band where the slices differ by <= 1 bit, so the probe always
    * collides — the bucket join is a superset of the true pair set
    * and the `bit_count` filter on the collision row (one
    * xor+popcount each) trims it to exactly the pairs within
    * `maxDist`. No cartesian, no nested loop: candidate volume is
    * bounded by bucket sizes, never corpus².
    *
    * `maxBucketSize` is the same hot-bucket skew guard as
    * [[minHashCandidates]]: a degenerate bucket (mass-identical
    * signatures) still emits O(size²) collision rows; capped buckets
    * drop WHOLE, and the recall guarantee then holds only for pairs
    * outside them.
    *
    * Input: one (`idCol`, `sigCol`) row per item, signature in the
    * low `sigBits` bits of a long (bit 63 may be set when
    * sigBits=64 — band extraction shifts unsigned). Output:
    * (id_a, id_b, hamming), id_a < id_b, hamming <= maxDist.
    */
  def bandedHammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      sigBits: Int,
      bands: Int,
      maxDist: Int,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    require(sigBits >= 1 && sigBits <= 64, "sigBits must be in [1, 64]")
    require(sigBits % bands == 0, s"bands must divide $sigBits")
    require(maxDist >= 0 && maxDist <= 2 * bands - 1,
      s"recall guarantee needs maxDist <= 2*bands-1 = ${2 * bands - 1} (got $maxDist) — raise bands")
    val bandBits = sigBits / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    // One (id, sig) row per item — materialized once; both the exact
    // and probe sides explode from it, which would otherwise run the
    // upstream signature aggregate twice.
    val s = sigs.select(col(idCol).as("__bh_id"), col(sigCol).as("__bh_sig"))
      .transform(Parallelism.stage)
    def bucketCol(b: Int): Column =
      shiftrightunsigned(col("__bh_sig"), b * bandBits).bitwiseAND(lit(mask))

    // Exact side: one (band, bucket) row per band. Probe side: the
    // bucket plus each 1-bit flip. Both are a single explode over the
    // signature row. The full signature rides along so collisions can
    // be Hamming-filtered without a lookup join.
    val exact = s
      .select(col("__bh_id"), col("__bh_sig"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bucketCol(b).as("bucket"))): _*)).as("bb"))
      .select(col("__bh_id"), col("__bh_sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val probeStructs = for {
      b <- 0 until bands
      flip <- -1 until bandBits
    } yield {
      val bucket = if (flip < 0) bucketCol(b) else bucketCol(b).bitwiseXOR(lit(1L << flip))
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    val probes = s
      .select(col("__bh_id"), col("__bh_sig"), explode(array(probeStructs: _*)).as("bb"))
      .select(col("__bh_id"), col("__bh_sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val exactCapped =
      if (maxBucketSize == Long.MaxValue) exact
      else {
        val ok = exact.groupBy("band", "bucket")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") <= maxBucketSize)
          .select("band", "bucket")
        exact.join(ok, Seq("band", "bucket"), "left_semi")
      }
    probes
      .select(col("__bh_id").as("id_a"), col("__bh_sig").as("sig_a"),
        col("band"), col("bucket"))
      .join(exactCapped.select(col("__bh_id").as("id_b"), col("__bh_sig").as("sig_b"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
  }

  /** Connected components over an undirected edge set — the step that
    * turns near-dup PAIRS into duplicate CLUSTERS so one survivor per
    * cluster can be kept (the end of every dedup pipeline).
    *
    * Min-label propagation with path compression: each iteration a
    * node takes the minimum of its own label, its neighbors' labels,
    * and its label's label (pointer jumping). The extra label-of-label
    * join makes chains converge in O(log n) iterations instead of
    * O(diameter) — near-dup graphs are near-cliques (diameter 2-3) in
    * practice, but the bound shouldn't depend on that.
    *
    * Scale shape: per iteration, the three label proposals (own label,
    * neighbors' min, label-of-label) are UNIONED and folded by ONE min
    * aggregate keyed on the node id — not joined pairwise — so an
    * iteration costs one label-size shuffle for the pointer-jump join,
    * one for the fold, and nothing for the edge join: the symmetric
    * edge list is pre-partitioned by `dst` once before the loop, and
    * the label frame comes out of each iteration's aggregate already
    * hash-partitioned on the id key, so the edge join is co-partitioned
    * on both sides. Intermediate labels are `localCheckpoint`ed so
    * lineage stays O(1) across iterations (iterative plans otherwise
    * grow unboundedly and re-execute from the scan); the checkpoint
    * preserves the aggregate's partitioning. Convergence is detected
    * with a per-iteration count on the materialized frame — one cheap
    * action over data already in block storage.
    *
    * The iteration runs over EDGE-TOUCHED nodes only: a node in no
    * edge can never change its label, and at realistic dup rates
    * (a few % of a 100 TB corpus) the active subgraph is orders of
    * magnitude smaller than the node set, so every per-iteration
    * shuffle shrinks by that factor. Singletons rejoin as
    * (id, label=id) at the end — one union, no shuffle.
    *
    * Returns (`idCol`, cluster_id) for every node; singletons get
    * their own id.
    */
  /** One label-propagation round: (id, new_label, chg) from the
    * current (id, label) frame and the dst-partitioned symmetric edge
    * list. Package-visible so PlanShapeSpec can pin the iteration's
    * shuffle budget: ONE hash-partitioning exchange (the proposal
    * fold) when the label side broadcasts, two when it doesn't —
    * never a per-proposal pairwise join chain.
    */
  private[graft] def propagateOnce(sym: DataFrame, labels: DataFrame): DataFrame = {
    // Neighbor proposals: labels flow across edges. labels is
    // hash-partitioned on id and sym on dst — co-partitioned join
    // (or an AQE broadcast when the active subgraph is small).
    val nbrProps = sym
      .join(labels, sym("dst") === labels("id"))
      .select(col("src").as("pid"), col("label").as("cand"), lit(false).as("own"))
    // Pointer-jump proposals: each node proposes its label's label.
    // The probe side (id keyed by jsrc) shuffles by label; the build
    // side reuses labels' id partitioning.
    val jumpProps = labels
      .select(col("label").as("jsrc"), col("id").as("pid"))
      .join(labels.select(col("id").as("jsrc"), col("label").as("cand")), Seq("jsrc"))
      .select(col("pid"), col("cand"), lit(false).as("own"))
    // One min-fold over all proposals replaces the pairwise left
    // joins; `own` rides along to recover the previous label for
    // convergence detection.
    nbrProps
      .union(jumpProps)
      .union(labels.select(col("id").as("pid"), col("label").as("cand"),
        lit(true).as("own")))
      .groupBy(col("pid"))
      .agg(min(col("cand")).as("new_label"),
        min(when(col("own"), col("cand"))).as("old_label"))
      // A node ACQUIRING its first label (old_label null — possible
      // only for dangling edge endpoints, which are never seeded)
      // counts as a change: stopping on `new < old` alone terminates
      // one round early and strands labels at the dangling connector.
      .select(col("pid").as("id"), col("new_label"),
        (col("old_label").isNull || col("new_label") < col("old_label")).as("chg"))
  }

  def dupClusters(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      maxIter: Int = 30,
      smallGraphThreshold: Long = 1L << 20): DataFrame = {
    // ADAPTIVE: the edge list is materialized once (it is usually an
    // expensive LSH/Jaccard pipeline) and counted. When the
    // edge-touched subgraph is small — the REALISTIC dedup case: a few
    // percent dup rate leaves edge counts orders of magnitude below
    // the corpus — a driver-side union-find replaces the iterative
    // job cascade: one collect of ≤ threshold edges (default 1M rows;
    // collected Rows cost ~100 bytes each, so ~100 MB transient on
    // the driver — size the threshold to the driver heap, not to the
    // 16-bytes-of-longs lower bound), O(E α(E)) with min-VALID-id
    // representatives, zero further shuffles. Above the threshold, or
    // for non-integral id types, the O(log n)-round distributed
    // propagation below runs unchanged — the 100 TB path.
    //
    // Contract (both paths): output has one row per node of `nodes`;
    // cluster_id is the minimum id IN `nodes` of the node's connected
    // component. Edge endpoints absent from `nodes` still CONNECT
    // components (the distributed propagation flows labels through
    // them) but never label one and never appear in the output.
    val idType = nodes.schema(idCol).dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val e = Parallelism.stage(edges.select(col("doc_a"), col("doc_b")))
    if (integral && e.count() <= smallGraphThreshold) {
      def toLong(v: Any): Long = v match {
        case i: Int => i.toLong
        case l: Long => l
      }
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) {
          parent.put(r, parent.get(parent.get(r))) // path halving
          r = parent.get(r)
        }
        r
      }
      e.collect().foreach { row =>
        val a = toLong(row.get(0)); val b = toLong(row.get(1))
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val spark = nodes.sparkSession
      import spark.implicits._
      // Which edge endpoints are real nodes: the endpoint set is
      // bounded by 2x the (thresholded) edge count, so the semi-join
      // result collects safely. Labels are the min VALID id per
      // component; components with no valid node vanish.
      val endpointIds = {
        val it = parent.keySet().iterator()
        val buf = scala.collection.mutable.ArrayBuffer[Long]()
        while (it.hasNext) buf += it.next()
        buf.toSeq
      }
      val validIds: Array[Long] = endpointIds.toDF("__id")
        .select(col("__id").cast(idType).as(idCol))
        .join(nodes.select(col(idCol)), Seq(idCol), "left_semi")
        .collect().map(r => toLong(r.get(0)))
      val minValid = new java.util.HashMap[Long, Long]()
      validIds.foreach { id =>
        val r = find(id)
        val cur = minValid.get(r)
        if (!minValid.containsKey(r) || id < cur) minValid.put(r, id)
      }
      val pairs = validIds.map(id => (id, minValid.get(find(id)))).toSeq
      val labelDf = pairs.toDF("__id", "__cl")
        .select(col("__id").cast(idType).as(idCol),
          col("__cl").cast(idType).as("cluster_id"))
      val singletons = nodes.select(col(idCol))
        .join(labelDf.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), col(idCol).as("cluster_id"))
      return labelDf.union(singletons)
    }
    // Symmetrize in ONE pass over the edge subplan (explode of both
    // orientations) — a two-branch self-union would execute the edge
    // detection (often an expensive LSH pipeline) once per branch.
    val sym = e
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // Partitioned by the join key ONCE; every iteration's edge join
      // then reuses this layout instead of reshuffling the edge list.
      .repartition(col("dst"))
      .localCheckpoint(false) // loop truncation: every propagation round joins it
    val edgeNodes = sym.select(col("src").as("id")).distinct()
    var labels = nodes
      .select(col(idCol).as("id"), col(idCol).as("label"))
      .join(edgeNodes, Seq("id"), "left_semi")
      // Same layout as each iteration's aggregate output, so the first
      // iteration's joins are co-partitioned too.
      .repartition(col("id"))
      .localCheckpoint(false) // loop truncation: the propagation loop's seed
    // One materialized round per iteration. (Chaining two
    // propagateOnce calls per localCheckpoint was tried and measured
    // WORSE: the unmaterialized mid-labels feed four consumers inside
    // the next round — the edge join, both pointer-jump sides and the
    // own-label union — so the whole first round re-executes 4x per
    // cycle; q52 3.0s -> 4.8s.)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // loop truncation: one round per checkpoint, flat lineage
      val next = propagateOnce(sym, labels).localCheckpoint(false)
      changed = next.filter(col("chg")).count()
      labels = next.select(col("id"), col("new_label").as("label"))
      it += 1
      if (sys.env.contains("GRAFT_DEBUG_CC")) {
        System.err.println(s"[cc] iteration $it changed=$changed")
      }
    }
    val singletons = nodes
      .select(col(idCol).as("id"), col(idCol).as("label"))
      .join(edgeNodes, Seq("id"), "left_anti")
    labels
      // Contract: rows only for real nodes. Dangling edge endpoints
      // accumulate labels inside the loop (they must — labels flow
      // THROUGH them), but they are not nodes and must not surface.
      .join(nodes.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .union(singletons)
      .select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** Benchmark decontamination: for every corpus document WITH at
    * least one shared gram, the number of distinct word `n`-grams it
    * shares with a held-out/benchmark set (the GPT-3/PaLM-style
    * n-gram-overlap contamination check). Zero-overlap documents do
    * NOT appear (inner join by design — at 100 TB emitting a row per
    * clean document would dwarf the contaminated set): consumers drop
    * contamination with an ANTI-join on the returned doc ids, as the
    * CLI `decontaminate` does — never `filter(shared_grams === 0)`.
    *
    * Scale shape: benchmark sets are small by construction (10³–10⁵
    * docs vs a 100 TB corpus), so the distinct benchmark gram set is
    * BROADCAST and the corpus side never shuffles before its final
    * per-doc count (partial aggregation map-side, short doc-id key).
    * The corpus gram lists are born deduplicated (see [[docGrams]]),
    * so the join output is (doc, gram)-unique and `count` equals the
    * distinct overlap.
    */
  def crossNgramOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val benchGrams = docGrams(benchmark, idCol, textCol, n)
      .select(col("gram")).distinct()
    docGrams(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** [[crossNgramOverlap]] behind a broadcast Bloom-filter prefilter —
    * the 100-TB shape of benchmark decontamination. Identical output
    * (same rows, same counts; property-tested in DedupSpec), different
    * cost model:
    *
    *  - [[crossNgramOverlap]] EXPLODES every corpus document into its
    *    grams before the broadcast join — at 100 TB that multiplies
    *    the corpus row count by ~document length even though ~all
    *    documents are clean and contribute nothing;
    *  - here the benchmark gram-hash set is folded into a Bloom
    *    filter (built DISTRIBUTED by `DataFrame.stat.bloomFilter`'s
    *    internal tree-aggregate — gram hashes never collect to the
    *    driver, only the merged filter does) and evaluated per
    *    document by the codegen'd [[graft.functions.BloomAnyContain]]
    *    kernel over the document's materialized gram-hash array: one
    *    narrow pass, no shuffle, no explode, short-circuit on first
    *    hit. Only documents the filter flags (true positives + the
    *    `fpp` sliver of false positives) explode and reach the exact
    *    confirm join.
    *
    * The confirm join is on the gram STRING (not the 60-bit hash), so
    * the result is collision-proof exact and shares the plain path's
    * DuckDB oracle verbatim. Bloom filters have no false negatives,
    * so prefilter + exact confirm ≡ exact; `fpp` trades filter size
    * (~1.2 bytes/gram at 1%) against wasted confirm probes only.
    *
    * The benchmark side is small by contract (10³–10⁵ docs vs the
    * corpus) — it pays one extra count() action to size the filter,
    * and is reused for the confirm broadcast.
    */
  def crossNgramOverlapBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      fpp: Double = 0.01): DataFrame = {
    val benchGrams = docGrams(benchmark, idCol, textCol, n)
      .select(col("gram")).distinct()
      .transform(Parallelism.stage) // two consumers: filter build + confirm broadcast
    val benchHashes = benchGrams.select(gramHash(col("gram")).as("gh"))
    val nGrams = benchHashes.count()
    if (nGrams == 0L) {
      // Gram-less benchmark: nothing can overlap. Short-circuit —
      // `stat.bloomFilter` NPEs on an empty input (its internal
      // aggregate yields null bytes), and scanning the corpus to
      // prove the obvious would be wasted work anyway.
      return corpus.select(col(idCol).as("doc_id")).limit(0)
        .withColumn("shared_grams", lit(0L))
    }
    val bloom = benchHashes.stat.bloomFilter("gh", nGrams, fpp)
    // Tokenize → distinct grams → hashes, each materialized as an
    // attribute before the next step consumes it (the winnowing
    // lesson: an inline array subtree referenced per-element
    // re-evaluates per element).
    val withGrams = Parallelism.ensure(corpus)
      .select(col(idCol).as("doc_id"),
        array_distinct(
          TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n)).as("grams"))
    val candidates = withGrams
      .withColumn("ghs", transform(col("grams"), g => gramHash(g)))
      .filter(graft.functions.BloomAnyContain(col("ghs"), bloom))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    candidates
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Cross-document duplicated token-window statistics — the
    * detection core of substring-level exact dedup ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022,
    * arXiv:2107.06499 — their suffix-array pass finds verbatim spans
    * repeated ACROSS documents, which document-level dedup misses):
    * every `w`-token sliding window (stride 1) is hashed; a window
    * VALUE occurring in >= 2 distinct documents marks all of its
    * occurrences as duplicated. Per document (with >= `w` tokens):
    * total window positions, positions whose window is cross-doc
    * duplicated, and the duplicated fraction — the signal a trimming
    * pass would cut on.
    *
    * Scale shape: windows are hashed per-row by the fused
    * [[graft.functions.WordNgrams]] + [[graft.functions.Md5Prefix64]]
    * kernels (60-bit hashes — window text never leaves the row), so
    * the exploded posting list carries (doc_id, hash) only. The
    * duplicated-hash set comes from one distinct + one count
    * aggregate keyed by hash (map-side combined; no all-pairs
    * anything), and rejoins the posting list as a semi-join on the
    * same hash key — at 100 TB both shuffles are linear in total
    * window count and partition cleanly by hash. Within-doc repeats
    * of a window count each position once but never create a dup by
    * themselves (the doc-frequency count is over DISTINCT docs).
    */
  def dupWindowStats(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    // Hash array is materialized as an attribute column before any
    // per-element work (the winnowing lesson: an inline array subtree
    // inside a lambda re-evaluates per element), and checkpointed —
    // it feeds the posting-list explode AND the per-doc totals.
    val hashed = Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        transform(TextFunctions.wordNgrams(col("toks"), w), g => gramHash(g)).as("whs"))
      .transform(Parallelism.stage)
    val occ = hashed.select(col("doc_id"), explode(col("whs")).as("wh"))
    val dupSet = occ.distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("wh"))
    val dupCounts = occ.join(dupSet, Seq("wh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    hashed.select(col("doc_id"), size(col("whs")).cast("long").as("n_windows"))
      .join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_windows"), 6)
          .as("dup_frac"))
  }

  /** Cross-document duplicated-span REMOVAL — the trimming pass
    * [[dupWindowStats]] is the detection signal for (Lee et al. 2022's
    * dedup cuts the repeated span text itself, not whole documents):
    * every occurrence of a cross-doc duplicated `w`-token window is
    * cut from its document EXCEPT in the window's canonical owner (the
    * min doc id containing it — a pure function of the data, so the
    * trim is deterministic and order-free; exactly one document keeps
    * each repeated span). Overlapping cut windows union into spans.
    * Documents with < `w` tokens (or no duplicated windows) pass
    * through untrimmed.
    *
    * Output: one row per non-null-text document — (doc_id, n_tokens,
    * n_removed, trimmed_text).
    *
    * Scale shape: the posting list carries (doc_id, pos, 60-bit hash)
    * — never window text; ownership is one min/count-distinct
    * aggregate keyed by hash; the cut-coverage explode is bounded by
    * w× the duplicated-occurrence count (duplicated positions only,
    * not the corpus); and the final keep-filter runs per-row against
    * the doc's own sorted cut set (`filter(toks, (t, i) -> ...)`) —
    * no token-level shuffle. Every join is keyed (hash or doc id).
    */
  def trimDupSpans(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val toked = tokedWindows(docs, idCol, textCol, w)
    val occ = toked.select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "wh")))
    val own = occ.groupBy(col("wh"))
      .agg(min(col("doc_id")).as("owner"), count_distinct(col("doc_id")).as("df"))
    val cutOcc = occ.join(own.filter(col("df") >= 2), Seq("wh"))
      .filter(col("doc_id") =!= col("owner"))
    applyCuts(toked, cutOcc, w)
  }

  /** Benchmark decontamination by span REMOVAL — the trimming
    * counterpart of [[crossNgramOverlap]] (which only SCORES the
    * contamination): every occurrence in `corpus` of a `w`-token
    * window that appears anywhere in `bench` (the held-out eval /
    * benchmark text) is cut from the corpus document. Unlike
    * [[trimDupSpans]] there is no canonical owner — benchmark text
    * must not survive in the training corpus at all, which is the
    * n-gram-overlap decontamination rule of the GPT-3 appendix
    * applied at span rather than whole-document granularity.
    *
    * Output: one row per non-null-text corpus document — (doc_id,
    * n_tokens, n_removed, trimmed_text).
    *
    * Scale shape: the benchmark side collapses to DISTINCT 60-bit
    * window hashes (one aggregate; benchmark sets are corpus-tiny, so
    * AQE broadcasts the semi-join side), the corpus posting list
    * carries (doc_id, pos, hash) only, the cut-coverage explode is
    * bounded by w× the CONTAMINATED occurrences, and the final
    * keep-filter is per-row ([[applyCuts]]) — no token-level shuffle,
    * all joins keyed on the hash or the doc id.
    */
  def decontaminateTrim(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      w: Int): DataFrame = {
    val toked = tokedWindows(corpus, idCol, textCol, w)
    val benchSet = tokedWindows(bench, idCol, textCol, w)
      .select(explode(col("whs")).as("wh"))
      .distinct()
    val occ = toked.select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "wh")))
    val cutOcc = occ.join(benchSet, Seq("wh"), "left_semi")
    applyCuts(toked, cutOcc, w)
  }

  /** Quality-aware survivor selection: given near-dup cluster labels
    * (from [[dupClusters]]) and a per-document quality score, keep the
    * highest-quality member of each cluster (smallest id on ties)
    * instead of [[dupClusters]]' arbitrary min-id canonical — the rule
    * real curation pipelines use so dedup never discards the best copy.
    *
    * `scored` must carry (`idCol`, `qualityCol`); `clusters` is
    * (`idCol`, cluster_id). Returns one row per cluster: (cluster_id,
    * `idCol`, `qualityCol`) of the survivor. Quality is compared at
    * 6dp (the engine/oracle common precision) so tie-breaks are
    * engine-independent.
    *
    * Scale shape: one `max_by` aggregate keyed by cluster_id —
    * map-side combined, shuffle linear in the labelled rows; no
    * window sort, no per-cluster explode.
    */
  def keepBestPerCluster(
      clusters: DataFrame,
      scored: DataFrame,
      idCol: String,
      qualityCol: String): DataFrame =
    clusters.join(scored, Seq(idCol))
      .withColumn("q6", round(col(qualityCol).cast("double"), 6))
      .groupBy(col("cluster_id"))
      .agg(max_by(
        struct(col(idCol), col("q6")),
        // lexicographic (quality, -id): max quality, then smallest id
        struct(col("q6"), -col(idCol))).as("best"))
      .select(col("cluster_id"),
        col(s"best.$idCol"), col("best.q6").as(qualityCol))

  /** Shared head of the span-trimming passes: tokenize, hash every
    * `w`-token sliding window to a 60-bit long ([[gramHash]] — window
    * text never leaves its row), empty window list for short docs.
    * Checkpointed because it feeds both the posting-list explode and
    * the final per-doc trim. */
  private def tokedWindows(
      docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    Parallelism.ensure(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("whs",
        when(size(col("toks")) >= w,
          transform(TextFunctions.wordNgrams(col("toks"), w), g => gramHash(g)))
          .otherwise(array().cast("array<bigint>")))
      .transform(Parallelism.stage)

  /** Shared tail of the span-trimming passes: union the `w`-wide cut
    * windows (`cutOcc`: doc_id, pos of each occurrence to remove) into
    * per-doc token index sets, then drop exactly those tokens with a
    * per-row filter against the doc's own sorted cut set — no
    * token-level shuffle. */
  private def applyCuts(toked: DataFrame, cutOcc: DataFrame, w: Int): DataFrame = {
    val covered = cutOcc
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("idx"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("idx"))).as("cut"))
    toked.join(covered, Seq("doc_id"), "left")
      .withColumn("kept",
        filter(col("toks"), (t, i) => !array_contains(
          coalesce(col("cut"), array().cast("array<int>")), i)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("trimmed_text"))
  }
}
