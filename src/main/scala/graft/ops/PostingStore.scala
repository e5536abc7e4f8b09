package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Md5Prefix64
import graft.io.{BucketedTable, StoreMeta}

/** Persisted BM25 posting store — the production shape of repeated
  * retrieval over a stable (or growing) corpus: the corpus is
  * tokenized and counted ONCE into a posting table partitioned by a
  * term-hash bucket, and every query batch after that probes the
  * store WITHOUT re-reading — let alone re-tokenizing — the corpus
  * text.
  *
  * The store is a BATCH LEDGER: every ingest (the initial [[create]],
  * each [[append]], each streaming micro-batch via
  * [[graft.streaming.PostingStream]]) writes three pieces under its
  * own batch tag — `postings/batch=<tag>/tb=*`,
  * `dfreq/batch=<tag>/tb=*` (that batch's df DELTAS), and
  * `stats/<tag>.json` (that batch's exact (n_docs, total_dl)
  * counters; `store.json` and the stats files are written by
  * [[graft.io.StoreMeta]]) — all with OVERWRITE semantics on the tag. A
  * crash-retried ingest therefore replaces its own output and can
  * never double-count: exactly-once without a transactional sink,
  * the [[graft.streaming.PackStream]] recipe. Derived state that
  * would need a read-merge-overwrite (a global df table) does not
  * exist on disk at all; [[retrieve]] re-derives it from the deltas
  * of the PROBED BUCKETS only — a |query vocab|-bounded aggregate.
  *
  * Scale shape of [[retrieve]]: the query batch's distinct term
  * buckets (bounded by the batch's vocabulary, collected once on the
  * driver) become a STATIC `tb IN (...)` predicate on the partition
  * column, so the posting and df scans read only buckets that can
  * contain query terms — `PartitionFilters` in the plan, the same
  * pruning contract as the persisted IVF index. Everything joined to
  * the postings is broadcast (query terms; summed df restricted to
  * query terms); corpus stats come from the ledger as literals.
  * Per-batch cost: O(batch) tokenize + O(matched postings)
  * scan/score, never O(corpus).
  *
  * Ingested doc_ids must be NEW across the ledger (the
  * [[graft.dedup.FingerprintStore]] contract — dedup upstream); a
  * re-ingested doc would legitimately double-count its postings.
  *
  * Equality contract: [[retrieve]] over any ledger returns
  * BIT-IDENTICAL rows to [[Retrieval.bm25TopK]] on the union of the
  * ingested batches (one shared scoring expression; integer df/stat
  * sums are order-independent, and `avg(dl)` of integer-valued
  * doubles is exactly `total_dl / n_docs` in IEEE). The driver gate
  * runs the store path against the in-memory oracle verbatim.
  */
object PostingStore {

  private def termBucket(term: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(Md5Prefix64(concat(lit("bm_"), term)), lit(nBuckets.toLong)).cast("int")

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Ledger-wide metadata: bucket count from `store.json`, counters
    * summed over every COMMITTED batch's stats file (driver-side; one
    * small file per ingest), plus the committed tag set itself — the
    * visibility gate: a batch exists for readers exactly when its
    * stats file does (it commits LAST in [[writeBatch]]), so retrieve
    * must scan only `batch IN committed` or it would score a racing
    * append's postings with missing df deltas and stale counters. */
  private def readMeta(spark: SparkSession, path: String): (Long, Long, Int, Seq[String]) = {
    val nBuckets = StoreMeta.read(spark, s"$path/store.json").int("n_buckets")
    val statFiles =
      fs(spark, path).globStatus(new org.apache.hadoop.fs.Path(s"$path/stats/*.json"))
    val stats = statFiles.map(st => StoreMeta.read(spark, st.getPath.toString))
    val nDocs = stats.map(_.long("n_docs")).sum
    val totalDl = stats.map(_.long("total_dl")).sum
    val tags = statFiles.map(_.getPath.getName.stripSuffix(".json")).toSeq
    (nDocs, totalDl, nBuckets, tags)
  }

  /** Write one batch's ledger entry under `tag`: its postings and df
    * deltas (each `partitionBy(tb)` under `batch=<tag>`), then its
    * stats file LAST — a retrieve only counts a batch once its stats
    * commit, and the data writes it gates are already complete. All
    * three overwrite their tag: a replay replaces, never duplicates. */
  private def writeBatch(
      docs: DataFrame, path: String, tag: String, nBuckets: Int): Unit = {
    val spark = docs.sparkSession
    val postings = Retrieval.buildPostings(Parallelism.ensure(docs))
      .transform(Parallelism.stage)
    // repartition PINS the partition count to the bucket count: the
    // keyless form defers to spark.sql.shuffle.partitions and AQE,
    // which on a small batch coalesces the exchange to ONE partition —
    // a single task then opens all `nBuckets` parquet writers and
    // writes every bucket directory serially (measured 5.8s of q141's
    // cold create; ~64x parallelism restored by pinning). Each tb
    // hashes to exactly one partition either way, so file layout (one
    // file per bucket per batch) is unchanged; `nBuckets` is the
    // store's own write-parallelism parameter at any scale.
    postings
      .withColumn("tb", termBucket(col("term"), nBuckets))
      .repartition(nBuckets, col("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings/batch=$tag")
    postings.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("tb", termBucket(col("term"), nBuckets))
      .repartition(nBuckets, col("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/dfreq/batch=$tag")
    val st = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("total_dl"))
      .collect()(0)
    StoreMeta.write(spark, s"$path/stats/$tag.json",
      "n_docs" -> st.getLong(0), "total_dl" -> st.getLong(1))
  }

  /** Create the store at `path` from `corpus` (doc_id, text) as the
    * ledger's `base` batch. A pre-existing store at `path` is
    * REPLACED — its ledger dirs are cleared first, so a create over
    * stale data (or an older layout) can never leave mixed partition
    * trees behind for a later read to trip on. */
  def create(corpus: DataFrame, path: String, nBuckets: Int = 0): Unit = {
    val spark = corpus.sparkSession
    // 0 = session-derived ([[BucketedTable.defaultBuckets]]): buckets
    // are the store's write-parallelism parameter; every later probe/
    // append reads the count from store.json, so the choice is
    // create-time only.
    val nb = if (nBuckets > 0) nBuckets else BucketedTable.defaultBuckets(spark)
    val f = fs(spark, path)
    Seq("postings", "dfreq", "stats", "norms").foreach { d =>
      f.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true)
    }
    StoreMeta.write(spark, s"$path/store.json", "n_buckets" -> nb)
    writeBatch(corpus, path, "base", nb)
  }

  /** Grow the store with `newDocs` (doc_id, text) under `tag` —
    * distinct per ingest (a reused tag OVERWRITES that ingest, the
    * replay-idempotence lever the streaming maintainer relies on). */
  def append(newDocs: DataFrame, path: String, tag: String): Unit = {
    require(tag != "base", "tag 'base' is reserved for create")
    require(tag.matches("[A-Za-z0-9_-]+"), s"tag must be a plain token, got '$tag'")
    val spark = newDocs.sparkSession
    val (_, _, nBuckets, _) = readMeta(spark, path)
    writeBatch(newDocs, path, tag, nBuckets)
  }

  /** BM25 top-`k` of `queries` (q_id, text) against the ledger —
    * [[Retrieval.bm25TopK]]'s result on the union of ingested
    * batches, with the corpus-sized tokenize replaced by a
    * bucket-pruned posting scan.
    *
    * `maxTermDf` is the probe's EXPLICITLY-APPROXIMATE scale hatch
    * (same contract as [[Retrieval.bm25TopK]]'s): query terms whose
    * ledger-wide df exceeds the cap are dropped from scoring, AND
    * their partitions are dropped from the posting scan — probe
    * candidate volume is Σ_t df(t) over ADMITTED terms, so one
    * boilerplate query term can no longer force a df ≈ |corpus|
    * posting read (the 10× ScaleSmoke point measures the cut). The
    * df side-table is still read for all query-term buckets (vocab-
    * delta-sized — that read is how the cap learns each df); only
    * the corpus-sized posting scan shrinks. Dropped terms change
    * scores (idf > 0 always), so the cap is oracle-visible: q137
    * transcribes the same `df <= cap` rule. Default = exact. */
  def retrieve(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxTermDf: Long = Long.MaxValue): DataFrame = {
    val (nDocs, totalDl, nBuckets, committed) = readMeta(spark, path)
    // Materialized once: feeds the driver-side bucket collect and the
    // two broadcast joins — a re-evaluated source could otherwise
    // probe buckets the static partition filter never admitted.
    val qterms = Retrieval.queryTerms(queries)
      .withColumn("tb", termBucket(col("term"), nBuckets))
      .transform(Parallelism.stage)
    val buckets = qterms.select("tb").distinct().collect().map(_.getInt(0)).toSeq
    // Global df re-derived from the probed buckets' deltas: integer
    // sums are order-independent, so this equals the df a single
    // whole-corpus build would have written. (Read before the posting
    // scan so the cap can restrict which posting partitions are read.)
    val dfreqAll = spark.read.parquet(s"$path/dfreq")
      .filter(col("batch").isin(committed: _*) && col("tb").isin(buckets: _*))
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    val capped = maxTermDf != Long.MaxValue
    val dfreq =
      if (capped) dfreqAll.filter(col("df") <= maxTermDf) else dfreqAll
    // Under a cap, the posting scan prunes to the buckets of SURVIVING
    // query terms only (bucket recomputed from the term — the same
    // static-partition-filter contract as the uncapped probe, one
    // extra driver collect over the query-vocab-bounded df table).
    val postBuckets =
      if (!capped) buckets
      else dfreq.join(qterms.select("term").distinct(), Seq("term"))
        .select(termBucket(col("term"), nBuckets).as("tb"))
        .distinct().collect().map(_.getInt(0)).toSeq
    // Both scans are gated on the COMMITTED tag set (batch is a
    // partition column, so this prunes statically): a concurrent
    // append/micro-batch's postings become file-visible the moment
    // their parquet commit finishes, BEFORE its dfreq deltas and
    // stats land — without the gate a racing retrieve would score
    // those postings with missing df and stale (n_docs, total_dl).
    // With it, read visibility is atomic at the stats-file commit.
    // spreadBy(doc_id): the store lays postings out by TERM bucket, so
    // a document's rows scatter across files and the (q_id, doc_id)
    // score aggregate downstream could barely combine map-side — its
    // exchange carried the near-raw fan-out (measured 120 MB vs the
    // doc-clustered in-memory path's 20 MB at gate scale). One
    // doc-keyed exchange of the PRUNED scan (matched-volume-bounded)
    // restores doc locality AND satisfies the aggregate's
    // distribution, so the fan-out's own exchange disappears; it also
    // replaces the keyless ensure (same q88 single-split lesson,
    // without round-robin destroying the key locality it exists to
    // exploit).
    val postings = Parallelism.spreadBy(
      spark.read.parquet(s"$path/postings")
        .filter(col("batch").isin(committed: _*) && col("tb").isin(postBuckets: _*)),
      col("doc_id"))
    // avg(dl) over integer-valued doubles == total/count exactly.
    val avgdl = totalDl.toDouble / nDocs.toDouble
    Retrieval.scoreTopK(
      postings.select("doc_id", "dl", "term", "tf"),
      qterms.select("q_id", "term"), dfreq,
      withStats = _.withColumn("n_docs", lit(nDocs)).withColumn("avgdl", lit(avgdl)),
      k = k, k1 = k1, b = b)
  }

  private val normsLayout =
    BucketedTable.Layout("tfidf_norms", "norms/data", "norms/_norms.json", "doc_id")

  /** Freeze the tf-idf document norms of the CURRENT committed ledger
    * — the fit side of the vector space ([[Retrieval.tfidfTopK]]'s
    * `dnorm` pass, ONE shared expression tree) — as a BUCKETED-BY-
    * doc_id table under `norms/data` (the [[LmStore]] persistence
    * recipe: [[BucketedTable.createAt]], re-attached per session from
    * the `norms/_norms.json` sidecar), so [[retrieveTfidf]]'s norm
    * attach never exchanges the corpus-sized side: only the match-
    * bounded score table shuffles to the bucket layout. This is what
    * makes [[retrieveTfidf]] a PROBE: a norm depends on every term's
    * GLOBAL df, so it cannot be written per-batch like postings —
    * it is refit once per corpus release (after the appends settle),
    * and every query batch after that reads it instead of re-scanning
    * the full posting ledger. An [[append]] after a freeze makes the
    * norms STALE; [[retrieveTfidf]] refuses the mismatch loudly
    * (re-run freezeNorms) rather than scoring new documents in an old
    * vector space. */
  def freezeNorms(spark: SparkSession, path: String): Unit = {
    val (nDocs, _, nBuckets, committed) = readMeta(spark, path)
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("batch").isin(committed: _*))
    val dfreq = spark.read.parquet(s"$path/dfreq")
      .filter(col("batch").isin(committed: _*))
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    BucketedTable.createAt(spark, normsLayout, path,
      Retrieval.tfidfDocNorms(
        postings.select("doc_id", "term", "tf"), dfreq,
        withStats = _.withColumn("n_docs", lit(nDocs))),
      nBuckets)(_ => Seq("tags" -> committed.sorted))
  }

  /** Re-attach the frozen norm table (bucketing lives in the catalog,
    * not the files), so the corpus-sized norm side streams into the
    * score join exchange- and sort-free. Returns the table name and
    * the `norms/_norms.json` sidecar. */
  private[graft] def attachNorms(spark: SparkSession, path: String): (String, StoreMeta.Sidecar) = {
    if (!fs(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/${normsLayout.sidecar}")))
      sys.error(s"no frozen norms at $path/norms — run freezeNorms after the " +
        "ledger settles; tf-idf document norms depend on every term's global " +
        "df and cannot be derived per-batch.")
    BucketedTable.attach(spark, normsLayout, path)
  }

  /** TF-IDF cosine top-`k` of `queries` (q_id, text) against the
    * ledger — [[Retrieval.tfidfTopK]]'s result on the union of
    * ingested batches, bit-identical by the shared-expression
    * contract ([[retrieve]]'s equality discipline): df is the integer
    * sum of the probed buckets' deltas, n_docs comes from the stats
    * ledger, document norms come FROZEN from [[freezeNorms]], and
    * the probe tail is [[Retrieval.tfidfScoreTopK]] verbatim.
    *
    * Scale shape: the tokenize and the full-vocabulary norm pass are
    * paid at freeze time; a query batch costs the bucket-pruned
    * posting/df scans (the [[retrieve]] pruning contract), broadcast
    * query weights, one match-bounded aggregate, and a doc_id-keyed
    * join of the match-bounded score table against the norm table —
    * which is persisted BUCKETED by doc_id ([[freezeNorms]]), so at
    * any corpus size the norm side streams into the join with no
    * exchange and no sort; only the match-bounded side shuffles.
    *
    * `maxTermDf` is [[Retrieval.tfidfTopK]]'s EXPLICITLY-APPROXIMATE
    * probe hatch: frozen norms keep every term by construction, the
    * dot-product probe joins only terms with df <= cap, so a capped
    * score can only shrink — same oracle-transcribed rule. */
  def retrieveTfidf(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 10,
      maxTermDf: Long = Long.MaxValue): DataFrame = {
    val (nDocs, _, nBuckets, committed) = readMeta(spark, path)
    val (normsTable, norms) = attachNorms(spark, path)
    val normTags = norms.strings("tags")
    val normBuckets = norms.int("buckets")
    require(normTags == committed.sorted,
      s"frozen norms at $path cover batches [${normTags.mkString(",")}] but the " +
        s"ledger has committed [${committed.sorted.mkString(",")}] — the vector " +
        "space is stale; re-run freezeNorms before probing.")
    val qterms = Retrieval.queryTerms(queries)
      .withColumn("tb", termBucket(col("term"), nBuckets))
      .transform(Parallelism.stage)
    val buckets = qterms.select("tb").distinct().collect().map(_.getInt(0)).toSeq
    // Query-term-bucket df, summed over the ledger — equals the full
    // in-memory df on every query term (integer delta sums), which is
    // all tfidfScoreTopK reads from it.
    val dfreq = spark.read.parquet(s"$path/dfreq")
      .filter(col("batch").isin(committed: _*) && col("tb").isin(buckets: _*))
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    // spreadBy(doc_id) at the NORM table's bucket count ([[retrieve]]'s
    // rationale, plus co-partitioning: the dots aggregate inherits
    // HashPartitioning(doc_id, normBuckets), so both the (q_id,
    // doc_id) reduction AND the frozen-norm attach plan zero further
    // exchanges — the probe's only remaining shuffle is the top-k
    // window's, already WindowGroupLimit-pruned).
    val postings = Parallelism.spreadBy(
      spark.read.parquet(s"$path/postings")
        .filter(col("batch").isin(committed: _*) && col("tb").isin(buckets: _*)),
      col("doc_id"), numPartitions = normBuckets)
    Retrieval.tfidfScoreTopK(
      postings.select("doc_id", "term", "tf"),
      queries, dfreq,
      dnorm = spark.table(normsTable),
      withStats = _.withColumn("n_docs", lit(nDocs)),
      k = k, maxTermDf = maxTermDf)
  }
}
