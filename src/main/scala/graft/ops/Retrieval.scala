package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Md5Prefix64, TermCounts, TextFunctions}

/** Sparse lexical retrieval over the corpus: BM25 scoring of a query
  * set against an inverted-index-shaped posting table. This is the
  * retrieval half of a RAG / hard-negative-mining pipeline — the
  * dense half is [[graft.similarity.Similarity]]'s ANN surface.
  *
  * Scale notes (100 TB): the posting table (doc, term, tf, dl) is the
  * only corpus-sized intermediate and it is built in ONE tokenize
  * pass with map-side-combined counts; document frequency and the
  * corpus stats reduce it further (|vocab| rows and 1 row). The query
  * side is small by contract (a query batch, not a corpus) and is
  * BROADCAST to the postings — the corpus-sized side never
  * re-shuffles for the probe; the only exchange after the postings
  * build is the (query, doc) partial-score aggregation, whose
  * keyspace is bounded by matched postings, not |corpus|·|queries|.
  * For REPEATED query batches over a stable corpus, [[PostingStore]]
  * persists the postings so the tokenize pass is paid once.
  */
object Retrieval {

  /** One-pass posting build: (doc_id, dl, term, tf). ZERO-exchange:
    * every posting of a document comes from the same row, so the tf
    * counts are computed row-locally by the [[TermCounts]] kernel and
    * exploded — where the historical `explode → groupBy(doc_id, dl,
    * term)` form paid a corpus-sized exchange (one (doc, term) row per
    * distinct term over the wire) whose partitioning NO downstream
    * consumer reuses (df re-keys by term, stats/norms by doc_id).
    * Values are bit-equal to the groupBy form (ExpressionParitySpec);
    * `dl` (document length in tokens) stays a row-local projection. */
  private[ops] def buildPostings(corpus: DataFrame): DataFrame =
    corpus
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("dl"),
        explode(TermCounts(col("tk"))).as(Seq("term", "tf")))

  /** Distinct (q_id, term) pairs of the query batch. Contract: one
    * row per q_id (every caller builds queries from a unique-id doc
    * slice), so the per-row `array_distinct` IS the distinct set and
    * the cross-row `.distinct()` exchange the old form paid bought
    * nothing. */
  private[ops] def queryTerms(queries: DataFrame): DataFrame =
    queries
      .filter(col("text").isNotNull)
      .select(col("q_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))

  /** Shared scoring/ranking tail of the in-memory and store-backed
    * paths — ONE expression tree, so the two are bit-identical and
    * the oracle transcription covers both.
    *
    * `postings` must carry (doc_id, dl, term, tf); `dfreq` (term, df)
    * may be the full vocabulary or pre-restricted (it is re-restricted
    * to query terms before broadcasting either way); `withStats` must
    * attach `n_docs` (long) and `avgdl` (double) columns — a 1-row
    * broadcast cross in the in-memory path, literals from store
    * metadata in the persisted path (equal by construction: the avg
    * of integer-valued doubles is exactly total/count in IEEE, so
    * the stored (total_dl, n_docs) pair reproduces `avg(dl)` bit-
    * for-bit).
    *
    * Determinism WITHOUT a buffered fold: each term score quantizes
    * to a nano-scaled LONG (round(·×10⁹), exact — BM25 terms are
    * bounded by idf·(k1+1) ≈ tens, so Σ stays far under 2⁶³), and
    * integer addition is associative, so a plain codegen'd
    * `sum(long)` is partition-order-independent and engine-portable.
    * The collect-and-sort fold the Quality scores use would be an
    * ObjectHashAggregate here, and past its few-hundred-group
    * fallback threshold that SORTS every matched posting row —
    * measured 4× slower on a zero-selectivity corpus and strictly
    * worse at scale. Fixed-point keeps the aggregate in the fast
    * hash path with map-side combine: matched postings reduce to one
    * row per (query, doc) BEFORE the only exchange.
    */
  private[ops] def scoreTopK(
      postings: DataFrame,
      qterms: DataFrame,
      dfreq: DataFrame,
      withStats: DataFrame => DataFrame,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfDouble = col("tf").cast("double")
    val termScore = idf * (tfDouble * lit(k1 + 1.0)) /
      (tfDouble + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))

    // The term score is QUERY-INDEPENDENT (idf and the tf/length
    // normalization only read posting-side columns), so it is
    // computed once per matched POSTING — before the query fan-out —
    // and the per-(q,d) stage reduces to hash-probe + integer sum.
    // Scoring after the fan-out would re-evaluate ln() and three
    // divisions per (posting × matching query) row: measured 3× on a
    // zero-selectivity corpus, and pure waste at any selectivity.
    val postingScores = withStats(
      postings
        .join(broadcast(dfreq.join(qterms.select("term").distinct(), Seq("term"))), Seq("term")))
      .select(col("term"), col("doc_id"),
        round(termScore * lit(1.0e9), 0).cast("long").as("ts9"))
    val scored = postingScores
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(col("ts9")).cast("double") / lit(1.0e9), 6).as("score"))

    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** BM25 top-`k` retrieval (Robertson–Spärck Jones idf in the
    * Lucene "+1 inside the log" form, so idf > 0 always):
    *
    *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
    *   score(q,d)  = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) /
    *                   (tf + k1·(1 − b + b·dl/avgdl))
    *
    * `corpus` needs (doc_id, text); `queries` needs (q_id, text) —
    * each query's DISTINCT tokens form its term set (document-as-
    * query, the similar-document-retrieval shape; a keyword query is
    * just a short text).
    *
    * Determinism contract (the oracle transcribes this exactly): the
    * per-(q,d) score is a SEQUENTIAL fold of term scores ordered by
    * the 64-bit term hash, rounded to 6 places, and the top-k cut
    * ranks by (rounded score desc, doc_id) — no engine-dependent
    * float ordering anywhere.
    *
    * `maxTermDf` is the EXPLICITLY-APPROXIMATE scale hatch: query
    * terms whose corpus document frequency exceeds it are dropped
    * from scoring entirely. Probe cost is Σ_t df(t) over query terms
    * — one boilerplate term with df ≈ |corpus| makes a single query
    * cost a corpus scan — and the cap bounds it by construction.
    * idf > 0 always (the +1 inside the log), so dropped terms DO
    * change scores: the cap is a declared approximation, oracle-
    * visible (q137 transcribes it — the q19 banding precedent), not
    * a silent optimization. Default Long.MaxValue = exact BM25.
    *
    * Output: (query_id, doc_id, rank, score).
    */
  def bm25TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxTermDf: Long = Long.MaxValue): DataFrame = {
    // Materialized once for three consumers (probe, df, stats) —
    // corpus-sized, so the storage strategy is pluggable
    // (Parallelism.stage: localCheckpoint default, DISK_ONLY persist
    // for executor-loss resilience on clusters). The parallelism
    // guard undoes AQE's coalesce-to-one on the frozen checkpoint —
    // the score fan-out below multiplies these rows by matching
    // queries and must not inherit a single partition.
    // ensure BEFORE the tokenize (not only after the checkpoint): the
    // zero-exchange posting build keeps the scan's partitioning, so on
    // a physically-small input the whole tokenize would otherwise run
    // in the scan's one or two tasks. Structurally a no-op at scale.
    // ensureBy(doc_id), not round-robin: same firing guard as ensure
    // (provably-small scans only), but the spread keeps each
    // document's postings hash-clustered by intent. Through the
    // default localCheckpoint AQE drops partitioning metadata, so the
    // (q_id, doc_id) aggregate keeps its own exchange — carrying
    // FULLY map-side-combined rows, because
    // doc-locality makes every (q, d) pair complete within one
    // partition (the store probes, which have no checkpoint, drop the
    // exchange entirely — see PostingStore.retrieve).
    val postings = Parallelism.ensureCheckpointed(
      Parallelism.stage(buildPostings(Parallelism.ensureBy(corpus, col("doc_id")))))
    // The df cap restricts SCORING terms only; corpus statistics
    // (n_docs, avgdl) and surviving terms' df stay those of the full
    // corpus — the cap drops terms, it does not re-weigh the rest.
    // Uncapped keeps the exact q88 plan (no vacuous Filter node).
    val dfreqAll = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val dfreq =
      if (maxTermDf == Long.MaxValue) dfreqAll
      else dfreqAll.filter(col("df") <= maxTermDf)
    // N and avgdl from the distinct (doc_id, dl) projection of the
    // postings — bounded by |corpus| rows, 2 columns.
    val stats = postings
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), avg(col("dl").cast("double")).as("avgdl"))
    scoreTopK(
      postings, queryTerms(queries), dfreq,
      withStats = _.crossJoin(broadcast(stats)),
      k = k, k1 = k1, b = b)
  }

  /** TF-IDF cosine top-`k` retrieval — the vector-space sibling of
    * [[bm25TopK]], with the sklearn-style smooth idf:
    *
    *   idf(t)     = ln((1 + N) / (1 + df)) + 1
    *   w(x, t)    = tf(x, t) · idf(t)
    *   score(q,d) = Σ_{t ∈ q∩d} w(q,t)·w(d,t) / (‖w(q)‖·‖w(d)‖)
    *
    * Query terms unseen in the corpus take df = 0 (idf = ln(1+N)+1):
    * they match nothing but still weigh the query norm. This is a
    * deliberate departure from a vocabulary-restricted fitted
    * vectorizer (e.g. sklearn's transform), which drops OOV terms
    * from both the dot product and the norm; here an out-of-corpus
    * term dilutes the query's cosine, penalizing queries that mostly
    * miss the corpus instead of silently ignoring the misses.
    *
    * Determinism contract (the oracle transcribes it exactly): each
    * norm accumulates round(w²·10⁴) longs (exact integer sum — no
    * float fold order) before one sqrt; each dot accumulates
    * round(w_q·w_d·10⁴) longs; the final score rounds to 6 places and
    * the top-k cut ranks by (rounded score desc, doc_id). The 10⁴
    * scale bounds Σ under 2⁶³ for tf·idf up to ~10⁶ per term — far
    * beyond any real document; BM25's 10⁹ scale works there only
    * because its term scores are idf-bounded.
    *
    * Scale shape: ONE tokenize pass builds the postings (the only
    * corpus-sized intermediate, staged like [[bm25TopK]]). The norm
    * pass is the only place the FULL vocab-sized df table joins the
    * corpus (norms need every term's idf) — term-keyed, consumed
    * directly by a map-side-combined aggregate, never materialized as
    * a weighted copy. The probe is the q88 shape: query-restricted df
    * and query weights broadcast to the postings checkpoint, matched
    * rows reduced before their one exchange, and the norm attach
    * joins the match-bounded score table, never the corpus.
    *
    * `maxTermDf` is the same EXPLICITLY-APPROXIMATE probe hatch as
    * [[bm25TopK]]'s, adapted to the cosine contract: NORMS stay
    * computed over EVERY term (they define the vector space — the
    * query-independent fit side), while the dot-product probe joins
    * only terms with df <= cap. A dropped term contributes 0 to the
    * dot but still weighs both norms, so a capped score can only
    * SHRINK — conservative, and transcribed into the q140 oracle
    * (dots restricted by the same df rule). Probe cost is bounded by
    * Σ df over admitted terms, the same bound as BM25's; the norm
    * pass is fit-side cost, paid regardless of the query batch.
    *
    * Output: (query_id, doc_id, rank, score).
    */
  def tfidfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      maxTermDf: Long = Long.MaxValue): DataFrame = {
    // ensureBy(doc_id): [[bm25TopK]]'s rationale (doc-clustered
    // postings fully combine the score partials map-side).
    val postings = Parallelism.ensureCheckpointed(
      Parallelism.stage(buildPostings(Parallelism.ensureBy(corpus, col("doc_id")))))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = postings.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val withStats: DataFrame => DataFrame = _.crossJoin(broadcast(stats))
    // Document norms need EVERY term's idf, so this is the one place
    // the full vocab-sized df table joins the corpus postings — term-
    // keyed, consumed directly by the norm aggregate (map-side
    // combined, one row per doc). No second corpus-sized
    // materialization: the probe re-reads the postings CHECKPOINT,
    // whose scan is cheaper than holding a weighted copy.
    tfidfScoreTopK(postings, queries,
      dfreq, tfidfDocNorms(postings, dfreq, withStats), withStats, k, maxTermDf)
  }

  /** The sklearn-style smooth-idf tf-idf weight — ONE expression tree
    * shared by the in-memory ([[tfidfTopK]]) and persisted
    * ([[PostingStore.retrieveTfidf]]) paths, the [[scoreTopK]]
    * discipline: reads (tf, df, n_docs) columns. */
  private[ops] def tfidfWeight: Column =
    col("tf").cast("double") *
      (log((lit(1.0) + col("n_docs").cast("double")) /
        (lit(1.0) + col("df").cast("double"))) + lit(1.0))

  /** Per-document tf-idf norms over the FULL vocabulary (the
    * query-independent fit side of the vector space): exact integer
    * sum of round(w²·10⁴) per doc, one sqrt. `withStats` attaches
    * `n_docs` — a 1-row broadcast cross in the in-memory path,
    * a literal from ledger metadata in the persisted path. */
  private[ops] def tfidfDocNorms(
      postings: DataFrame,
      dfreq: DataFrame,
      withStats: DataFrame => DataFrame): DataFrame =
    withStats(postings.join(dfreq, Seq("term")))
      .select(col("doc_id"), tfidfWeight.as("w"))
      .groupBy(col("doc_id"))
      .agg(sqrt(sum(round(col("w") * col("w") * lit(1.0e4), 0).cast("long"))
        .cast("double") / lit(1.0e4)).as("dnorm"))

  /** Shared probe/ranking tail of the in-memory and store-backed
    * tf-idf paths ([[scoreTopK]]'s sibling): query weighting, dots,
    * norm attach, 6dp rounding, (score desc, doc_id) top-k cut.
    * `dfreq` must cover every query term present in the corpus
    * (full vocab in-memory; the probed buckets' ledger sum in the
    * persisted path — equal on query terms by construction);
    * `dnorm` is the full-vocabulary norm table ([[tfidfDocNorms]]
    * live, or the store's frozen copy). */
  private[ops] def tfidfScoreTopK(
      postings: DataFrame,
      queries: DataFrame,
      dfreq: DataFrame,
      dnorm: DataFrame,
      withStats: DataFrame => DataFrame,
      k: Int,
      maxTermDf: Long): DataFrame = {
    val weight = tfidfWeight
    // Query side: small by contract — same weighting with df looked
    // up in the corpus vocabulary (0 when absent), then broadcast.
    val qpost = queries
      .filter(col("text").isNotNull)
      .select(col("q_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("term"))
      .groupBy(col("q_id"), col("term")).agg(count(lit(1)).as("tf"))
    val wq = withStats(qpost
      .join(dfreq, Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L))))
      .select(col("q_id"), col("term"), weight.as("w"))
      .transform(Parallelism.stage) // two consumers: qnorm + the dot probe
    val qnorm = wq.groupBy(col("q_id"))
      .agg(sqrt(sum(round(col("w") * col("w") * lit(1.0e4), 0).cast("long"))
        .cast("double") / lit(1.0e4)).as("qnorm"))

    // Probe: the q88 shape — everything the corpus-sized postings
    // join is BROADCAST (query-restricted df + the 1-row stats for
    // the document-side weight, then the query weights); the corpus
    // never shuffles for the probe. The document weight here equals
    // the norm pass's `weight` for matched terms by construction
    // (same expression over the same (tf, df, n_docs)). Under a df
    // cap only the PROBE side shrinks — the norm passes above keep
    // the full vocabulary by contract.
    val probeDf =
      if (maxTermDf == Long.MaxValue) dfreq
      else dfreq.filter(col("df") <= maxTermDf)
    // Query-term restriction read from the wq CHECKPOINT (wq is a 1:1
    // weighting of qpost, so the term sets are identical): the qpost
    // subtree — query scan, tokenize, count — is otherwise replanned
    // and re-run a second time just to produce this distinct.
    val dots = withStats(postings
      .join(broadcast(probeDf.join(wq.select("term").distinct(), Seq("term"))), Seq("term")))
      .select(col("term"), col("doc_id"), weight.as("w"))
      .join(broadcast(wq.select(col("q_id"), col("term"), col("w").as("wq"))), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(round(col("wq") * col("w") * lit(1.0e4), 0).cast("long")).as("d4"))
    val scored = dots
      .join(broadcast(qnorm), Seq("q_id"))
      .join(dnorm, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        round((col("d4").cast("double") / lit(1.0e4)) / (col("qnorm") * col("dnorm")), 6)
          .as("score"))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }
}
