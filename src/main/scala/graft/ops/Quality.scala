package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Md5Prefix64, TermCounts, TextFunctions}

/** Corpus-level quality / data-selection operators for training-data
  * pipelines: hashed-n-gram importance weighting (the DSIR recipe),
  * a corpus unigram-LM log-probability score (the cheap perplexity
  * proxy quality filter), BPE first-merge pair statistics (the
  * tokenizer-training inner loop), and per-document n-gram novelty
  * (a boilerplate detector).
  *
  * All are pure `org.apache.spark.sql.functions` compositions —
  * codegen'd, no UDFs — and every float aggregate accumulates in
  * FIXED POINT ([[fixedPoint9]]): quantized-long addition is
  * associative, so results are bit-reproducible across partitionings
  * and exactly transcribable to a DuckDB oracle
  * (`sum(CAST(round(x * 1e9, 0) AS BIGINT))` on the SQL side) while
  * staying in the fast codegen'd hash-aggregate path.
  *
  * Scale notes (100 TB):
  *  - [[importanceWeights]] reduces the corpus to a `buckets`-row
  *    histogram (map-side combined), broadcasts the log-ratio table,
  *    and shuffles only (doc, bucket) partial counts — one exchange
  *    keyed by doc_id, state bounded by `buckets` per doc.
  *  - [[unigramLogprob]]'s only unbounded state is the vocabulary
  *    histogram, which is |vocab|-bounded (Heaps' law: ≪ corpus
  *    size); the doc↔vocab join is hash-keyed on the token, so both
  *    sides co-partition and nothing is broadcast.
  *  - [[bpePairStats]] runs entirely on the VOCABULARY (word types ×
  *    their counts), not the token stream — the standard trick that
  *    makes BPE training corpus-size-independent after one count
  *    pass.
  *  - [[ngramNovelty]]'s document-frequency join is keyed on the
  *    gram — co-partitioned, skew-bounded because `array_distinct`
  *    caps each doc's contribution at its distinct-gram count.
  */
object Quality {

  /** Fixed-point term accumulator: quantize a (bounded-magnitude)
    * float term to a nano-scaled long. Integer addition is
    * associative, so `sum(fixedPoint9(term))` is partition-order-
    * independent, engine-portable (`sum(CAST(round(term * 1e9, 0) AS
    * BIGINT))` in the oracle), and stays a plain codegen'd
    * HashAggregate with map-side combine. The earlier collect-and-
    * sort fold had the same determinism but planned as an
    * ObjectHashAggregate, whose sort-based fallback re-sorts every
    * input row past a few hundred groups per partition — the q88
    * lesson, measured 3× on retrieval group counts.
    *
    * Magnitude contract: |term| · 10⁹ · group-size must stay far
    * under 2⁶³. All uses here are per-token log-probability terms
    * (|ln p| ≲ 40) times bounded counts — ≤ ~10¹⁵ per group-sum.
    */
  private[graft] def fixedPoint9(term: Column): Column =
    round(term * lit(1.0e9), 0).cast("long")

  /** Read a [[fixedPoint9]] sum back to a double score. */
  private[graft] def fromFixedPoint9(sum9: Column): Column =
    sum9.cast("double") / lit(1.0e9)

  /** DSIR-style hashed-unigram importance log-weights (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * 2023): score every document by how much more likely its token
    * stream is under the TARGET distribution than under the raw
    * corpus distribution, with tokens hashed into `buckets` feature
    * buckets and Laplace (+1) smoothing on both histograms.
    *
    *   logweight(d) = Σ_b cnt_d(b) · [ln p̂_tgt(b) − ln p̂_raw(b)]
    *
    * `isTarget` marks the rows whose token distribution defines the
    * target (e.g. a trusted high-quality subset). Documents sample
    * proportionally to exp(logweight) in the full recipe; emitting
    * the log-weight keeps the operator composable with [[Sampling]].
    *
    * Plan: explode → bucket hash → two bounded aggregates (the
    * `buckets`-row histogram and its 1-row total, both broadcast) →
    * one exchange keyed by (doc_id, bucket) → per-doc fixed-point sum.
    */
  def importanceWeights(
      docs: DataFrame,
      isTarget: Column,
      buckets: Int = 64): DataFrame = {
    val b = lit(buckets.toLong)
    // ONE tokenize pass: the per-(doc, bucket) counts are materialized
    // first (≤ `buckets` rows per doc — orders of magnitude smaller
    // than the token stream) and BOTH histograms derive from them;
    // re-deriving the corpus histogram from a second explode would
    // scan 100 TB of text twice for a 64-row table.
    val perDoc = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), isTarget.as("is_target"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("is_target"),
        pmod(Md5Prefix64(concat(lit("dsir_"), col("tok"))), b).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Parallelism.stage) // reused corpus-sized intermediate: pluggable storage
    // Materialized once (`buckets` rows): totals and the log-ratio
    // table both consume hist — without the checkpoint the
    // corpus-sized bucket aggregate over the perDoc checkpoint ran
    // twice (the two broadcast subtrees don't share plans).
    val hist = perDoc.groupBy("b").agg(
      sum("cnt").as("raw_cnt"),
      sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("tgt_cnt"))
      .transform(Parallelism.stage)
    val totals = hist.agg(
      sum("raw_cnt").as("raw_total"), sum("tgt_cnt").as("tgt_total"))
    val lr = hist.crossJoin(broadcast(totals)).select(col("b"),
      (log((col("tgt_cnt") + 1).cast("double") / (col("tgt_total") + b).cast("double")) -
        log((col("raw_cnt") + 1).cast("double") / (col("raw_total") + b).cast("double"))).as("lr"))
    perDoc
      .join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        sum("cnt").cast("long").as("n_tokens"),
        round(fromFixedPoint9(
          sum(fixedPoint9(col("cnt").cast("double") * col("lr")))), 6)
          .as("logweight"))
  }

  /** Per-document mean token log-probability under the corpus's own
    * unigram LM — the cheap perplexity-proxy quality score (low
    * values = rare-token-heavy gibberish/boilerplate; the filter a
    * pipeline applies before spending real LM perplexity on the
    * survivors). No smoothing: every scored token is in the vocab by
    * construction (the LM is fit on the same corpus).
    *
    *   avg_logprob(d) = Σ_t cnt_d(t) · ln(cnt(t)/T) / n_tokens(d)
    *
    * The per-doc sum accumulates in fixed point ([[fixedPoint9]]) —
    * no fold order, no collation, nothing engine-dependent.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    // ONE tokenize pass (the importanceWeights argument): per-doc
    // token counts materialize first, the vocabulary LM derives from
    // them by a second-stage sum — never a second corpus explode.
    // Counts are computed ROW-LOCALLY ([[TermCounts]]): the grouping
    // key was row-unique (doc_id), so the old `explode → groupBy`
    // exchange moved corpus-sized (doc, tok) rows for counts no
    // shuffle was needed to produce — and no consumer reused its
    // partitioning (vocab re-keys by tok, the final sum by doc_id).
    // ensure BEFORE the tokenize: the row-local counts keep the scan's
    // partitioning all the way into the staged checkpoint, so a
    // physically-small scan would otherwise tokenize in one task AND
    // freeze the checkpoint at one partition for every consumer.
    // Structurally a no-op at scale (the Retrieval recipe).
    val pd = Parallelism.ensure(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(TermCounts(col("tk"))).as(Seq("tok", "cnt")))
      .transform(Parallelism.stage)
    // The LM table is materialized once (vocab-bounded — Heaps' law),
    // its total collected as a LITERAL in the same pass that learns
    // the exact vocab size, and the score join BROADCASTS the LM when
    // that exact count fits ([[Parallelism.broadcastIfCounted]]).
    // Before: the corpus-sized pd exchanged BY TOKEN for the join and
    // again by doc_id for the final sum — and a skewed/small
    // vocabulary collapses the token exchange to a handful of
    // AQE-coalesced partitions (measured: ONE task carried the whole
    // score join at gate scale). Broadcasting turns the scorer into
    // map-side work; past the cap the former plan returns unchanged.
    val vocab = Parallelism.stage(pd.groupBy("tok").agg(sum("cnt").as("c")))
    val vt = vocab.agg(coalesce(sum("c"), lit(0L)).cast("long"), count(lit(1))).head()
    val (total, vRows) = (vt.getLong(0), vt.getLong(1))
    pd
      .join(Parallelism.broadcastIfCounted(vocab, vRows), Seq("tok"))
      .select(col("doc_id"), col("cnt"),
        fixedPoint9(col("cnt").cast("double") *
          log(col("c").cast("double") / lit(total).cast("double"))).as("ts9"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("long").as("n_tokens"),
        round(fromFixedPoint9(sum(col("ts9"))) /
          sum("cnt").cast("double"), 6).as("avg_logprob"))
  }

  /** Per-document mean BIGRAM log-probability under the corpus's own
    * bigram LM — the next step up from [[unigramLogprob]]'s quality
    * proxy: a document of individually-common tokens in nonsense
    * ORDER ("the of and the of") scores high on unigrams but low
    * here, which is exactly the word-salad signature a quality filter
    * wants. Conditional probability, no smoothing (LM fit on the
    * scoring corpus, so every scored bigram exists):
    *
    *   avg_logprob(d) = Σ_g cnt_d(g) · ln(c(g) / cp(first(g)))
    *                      / n_bigrams(d)
    *
    * where cp(w) sums the counts of all bigrams starting with w.
    * Documents shorter than 2 tokens have no bigrams and drop out.
    *
    * Plan: one tokenize+shingle pass into per-doc bigram counts; the
    * bigram LM and its prefix marginal both derive from that table
    * (|bigram vocab|-bounded, ≤ |vocab|² but Zipf-sparse in
    * practice); both joins are key-equi (bg, then first-token); the
    * per-doc sum accumulates in fixed point ([[fixedPoint9]]).
    */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    // Row-local bigram counts ([[TermCounts]] over the shingle array —
    // the unigramLogprob recipe): no corpus exchange for a row-unique
    // grouping key.
    val pd = Parallelism.ensure(docs) // pre-tokenize guard: see unigramLogprob
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.wordNgrams(
        TextFunctions.tokens(col("text")), 2).as("gs"))
      .select(col("doc_id"), explode(TermCounts(col("gs"))).as(Seq("bg", "cnt")))
      .transform(Parallelism.stage)
    val bgc = pd.groupBy("bg").agg(sum("cnt").as("c"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .transform(Parallelism.stage)
    val pre = bgc.groupBy("w1").agg(sum("c").as("cp"))
    // Exact bigram-vocab count (one bounded agg over the staged LM
    // table) decides BOTH attach joins: broadcast under the cap —
    // removing the two corpus-sized exchanges (by bg, then by w1) the
    // shuffle form pays, which a small/skewed vocabulary collapses to
    // single AQE partitions — shuffle past it (unigramLogprob's
    // rationale; |pre| <= |bgc| so one count bounds both).
    val bgRows = bgc.agg(count(lit(1))).head().getLong(0)
    pd
      .join(Parallelism.broadcastIfCounted(bgc, bgRows), Seq("bg"))
      .join(Parallelism.broadcastIfCounted(pre, bgRows), Seq("w1"))
      .select(col("doc_id"), col("cnt"),
        fixedPoint9(col("cnt").cast("double") *
          log(col("c").cast("double") / col("cp").cast("double"))).as("ts9"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("long").as("n_bigrams"),
        round(fromFixedPoint9(sum(col("ts9"))) /
          sum("cnt").cast("double"), 6).as("avg_logprob"))
  }

  /** First-iteration BPE merge statistics: the `topK` most frequent
    * adjacent character pairs across the corpus, weighted by word
    * frequency — exactly the candidate table the first BPE merge
    * selects from (Sennrich et al. 2016). Runs on the VOCABULARY
    * (one row per word type carrying its corpus count), so the pair
    * explosion costs |vocab| · word-length regardless of corpus
    * size. Pure integer counts; (cnt desc, pair asc) makes the
    * `topK` cut deterministic.
    */
  def bpePairStats(docs: DataFrame, topK: Int = 20): DataFrame = {
    val vocab = docs
      .filter(col("text").isNotNull)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    vocab
      .filter(length(col("tok")) >= 2)
      .select(
        explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"),
        col("c"))
      .groupBy("pair")
      .agg(sum("c").cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** One recorded BPE merge: `left + right -> merged` chosen at
    * `step` with corpus-weighted pair count `cnt`. */
  final case class BpeMerge(step: Int, left: String, right: String, merged: String, cnt: Long)

  /** Iterative BPE tokenizer training (Sennrich et al. 2016): the
    * ordered list of the first `nMerges` merges. [[bpePairStats]] is
    * this loop's first candidate table; here the loop actually runs —
    * pick the most frequent adjacent symbol pair, fuse it across the
    * vocabulary, re-count, repeat.
    *
    * Scale shape: ONE corpus-sized pass (token counts); every
    * iteration after that is VOCABULARY-sized — pair explosion costs
    * |vocab| · word-length, the argmax is a 1-row collect, and the
    * merge application is a per-word array fold. The driver holds
    * only the bounded merge list; the vocab stays a DataFrame,
    * locally checkpointed per iteration so lineage cannot grow with
    * `nMerges`. Stops early (returns fewer merges) when no adjacent
    * pair remains.
    *
    * Determinism: argmax orders (cnt desc, left asc, right asc);
    * merge application is the standard greedy left-to-right fold
    * ("aaa" under (a,a) -> [aa, a]), while pair COUNTING counts every
    * adjacent occurrence including overlaps (the reference
    * `get_stats` semantics — so step 1's counts equal
    * [[bpePairStats]] exactly).
    */
  /** One BPE merge as the standard greedy left-to-right fold over a
    * symbol array: whenever the accumulator ends with `x` and the
    * next symbol is `y`, fuse ("aaa" under (a,a) → [aa, a]). Shared
    * by training ([[bpeMerges]]) and encoding ([[bpeEncode]]) so the
    * two can never disagree on fold semantics. */
  private[graft] def applyMerge(syms: Column, x: String, y: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(get(acc, size(acc) - 1) === lit(x) && s === lit(y),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
        .otherwise(concat(acc, array(s))))

  def bpeMerges(docs: DataFrame, nMerges: Int): Seq[BpeMerge] = {
    require(nMerges >= 0, "nMerges must be >= 0")
    // ONE corpus-sized pass (the word-type histogram); everything
    // after is vocabulary-sized. When the exact vocab row count fits
    // under `spark.graft.bpeDriverVocabMaxRows` (default 2M — tens of
    // MB of word strings, the broadcastVocabMaxRows bound), the merge
    // loop runs DRIVER-SIDE over the collected histogram: nMerges
    // iterations of pure in-memory counting instead of nMerges ×
    // (argmax job + vocab-rewrite checkpoint job) — a production 50k-
    // merge train is 100k Spark jobs in the distributed form, 1
    // collect + driver compute in this one (Sennrich's reference
    // trainer is exactly this in-memory loop). Past the cap the
    // distributed loop below runs unchanged; [[bpeMergesDistributed]]
    // and [[bpeMergesDriver]] are pinned equal in QualityOpsSpec.
    val vocabDf = docs
      .filter(col("text").isNotNull)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val cap = docs.sparkSession.conf.getOption("spark.graft.bpeDriverVocabMaxRows")
      .map(_.toLong).getOrElse(2000000L)
    val vRows = vocabDf.agg(count(lit(1))).head().getLong(0)
    if (vRows <= cap) bpeMergesDriver(vocabDf, nMerges)
    else bpeMergesDistributed(vocabDf, nMerges)
  }

  /** The distributed merge loop — vocab stays a DataFrame, each
    * iteration is an argmax job plus a checkpointed vocabulary
    * rewrite. The over-cap path of [[bpeMerges]] and the reference
    * the driver loop is parity-pinned against. */
  private[graft] def bpeMergesDistributed(vocabDf: DataFrame, nMerges: Int): Seq[BpeMerge] = {
    var vocab = vocabDf
      .select(filter(split(col("tok"), ""), s => s =!= "").as("syms"), col("c"))
      .localCheckpoint(false) // loop truncation: seeds the merge loop below
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("x"),
            element_at(col("syms"), i + 1).as("y")))).as("p"), col("c"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum("c").cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (x, y, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += BpeMerge(step, x, y, x + y, cnt)
        vocab = vocab
          .select(applyMerge(col("syms"), x, y).as("syms"), col("c"))
          .localCheckpoint(false) // loop truncation: one merge per round, flat lineage
        step += 1
      }
    }
    merges.toSeq
  }

  /** The driver-side merge loop over the collected word-type
    * histogram — same counting (every adjacent occurrence including
    * overlaps), same argmax order (cnt desc, then x, y in UTF-8
    * binary order, matching Spark's string sort), same greedy
    * left-to-right fold as [[applyMerge]]. */
  private[graft] def bpeMergesDriver(vocabDf: DataFrame, nMerges: Int): Seq[BpeMerge] = {
    // split(tok, "") semantics: one element per code point (Java 8+
    // zero-width regex never splits a surrogate pair), empties dropped.
    def codePoints(tok: String): Array[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](tok.length)
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        val n = Character.charCount(cp)
        out += tok.substring(i, i + n)
        i += n
      }
      out.toArray
    }
    // Spark's StringType sort = unsigned byte order of the UTF-8
    // encoding (UTF8String.compareTo); Java String.compareTo differs
    // on supplementary-vs-BMP characters, so compare encoded bytes.
    def utf8Less(a: String, b: String): Boolean = {
      val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      ab.length < bb.length
    }
    var vocab: Array[(Array[String], Long)] = vocabDf.collect()
      .map(r => (codePoints(r.getString(0)), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.merge(k, c, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (k, v) =>
          if (best == null || v > best._2 ||
            (v == best._2 && (utf8Less(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Less(k._2, best._1._2)))))
            best = (k, v)
        }
        val ((x, y), cnt) = best
        merges += BpeMerge(step, x, y, x + y, cnt)
        vocab = vocab.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            // the applyMerge greedy fold: fuse when the accumulator
            // ENDS with x and the next symbol is y ("aaa" → [aa, a])
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            syms.foreach { s =>
              if (out.nonEmpty && out.last == x && s == y)
                out(out.length - 1) = x + y
              else out += s
            }
            (out.toArray, c)
          }
        }
        step += 1
      }
    }
    merges.toSeq
  }

  /** Tokenize the corpus with a TRAINED merge list ([[bpeMerges]]'s
    * output, applied in training order) — the reference BPE `encode`
    * loop: each whitespace token splits to characters and every merge
    * runs the same greedy left-to-right fold training used, so
    * encode(train_corpus) reproduces training's final vocabulary
    * states exactly.
    *
    * Per-document output: (doc_id, n_tokens, n_pieces) — the
    * trained-tokenizer piece count a data-budget pass weighs
    * documents by (whitespace token counts under-weigh rare-word
    * text; piece counts are what the model actually consumes).
    *
    * Scale shape: embarrassingly parallel — one narrow projection,
    * no shuffle, no UDF: the per-token merge fold is the native
    * [[graft.functions.BpePieces]] kernel (the merge table rides
    * inside the expression), bit-equal to the declarative
    * fold-of-[[applyMerge]] form it replaced
    * (`ParityOracles.bpeEncodeHof` in the tests, parity-pinned in
    * ExpressionParitySpec). The kernel walks two primitive arrays per
    * merge, so cost is O(chars · |merges|); a
    * production 50k-merge tokenizer would compile the merge table
    * into one trie/priority-queue pass inside the same kernel shape.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val pairs = merges.map(m => (m.left, m.right))
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        aggregate(transform(col("tk"),
          t => graft.functions.BpePieces(t, pairs).cast("long")),
          lit(0L), (acc, n) => acc + n).as("n_pieces"))
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020): rank every
    * document by its [[unigramLogprob]] perplexity proxy WITHIN its
    * language and cut each language into `nBuckets` equal-frequency
    * buckets (1 = lowest scores = "tail", `nBuckets` = "head") — the
    * standard head/middle/tail stratification a curation pipeline
    * samples from with per-bucket rates instead of a hard threshold.
    *
    * Determinism: the ntile runs over (rounded score, doc_id) — no
    * float-order ambiguity — and the per-bucket mean accumulates the
    * (exact) ×10⁶ longs of the 6-dp scores, so the summary is
    * bit-reproducible and exactly transcribable.
    *
    * Scale: the scored table is one row per document; the ntile's
    * per-language sort is the only added exchange, keyed by a
    * low-cardinality column — the classic skew shape, but the window
    * carries just (doc_id, score), ~16 bytes/row, and a production
    * run would swap ntile for approx-quantile cutpoints; the exact
    * ntile is the oracle-checkable reference semantics.
    *
    * Output: (lang, bucket, n_docs, mean_logprob, min_logprob,
    * max_logprob), one row per (language, bucket).
    */
  def qualityBuckets(docs: DataFrame, nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    scored
      .withColumn("bucket",
        ntile(nBuckets).over(
          Window.partitionBy("lang").orderBy(col("avg_logprob"), col("doc_id")))
          .cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        // avg_logprob is already a 6-dp decimal, so the ×10⁶ long is
        // EXACT — the mean is integer arithmetic until one final
        // division, associative under any partitioning.
        round(sum(round(col("avg_logprob") * lit(1.0e6), 0).cast("long")).cast("double") /
          lit(1.0e6) / count(lit(1)).cast("double"), 6).as("mean_logprob"),
        round(min(col("avg_logprob")), 6).as("min_logprob"),
        round(max(col("avg_logprob")), 6).as("max_logprob"))
  }

  /** Per-document n-gram novelty: of a document's DISTINCT word
    * `n`-grams, the fraction that occur in no other document
    * (document frequency 1). Low novelty marks template/boilerplate
    * text that repeats across the corpus even when no single pair of
    * documents is a near-duplicate — the signal the dedup pass
    * (pairwise by construction) cannot see. Documents shorter than
    * `n` tokens have no grams and drop out, mirroring the dedup
    * operators' convention.
    *
    * Integer-only aggregates plus one exact double division — no
    * float ordering concerns.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    // Materialized once: the posting list feeds both the df aggregate
    // and the join side — without the checkpoint the tokenize+shingle
    // subplan runs twice (the Dedup.ngramJaccardPairs lesson).
    val docGrams = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(array_distinct(
          TextFunctions.wordNgrams(TextFunctions.tokens(col("text")), n))).as("gram"))
      .transform(Parallelism.stage)
    val df = docGrams.groupBy("gram").agg(count(lit(1)).as("df"))
    docGrams
      .join(df, Seq("gram"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("df") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_grams").cast("double"), 6)
          .as("uniq_frac"))
  }

  /** Per-group distribution drift: KL(P_g ‖ Q) of each group's token
    * distribution against the whole corpus's — the pipeline monitor
    * that catches a source gone wrong (scraper regression, spam
    * flood, wrong-language feed) as a DISTRIBUTION shift, before any
    * per-document filter fires. KL is computed exactly over each
    * group's observed vocabulary (every group token exists in the
    * corpus, so Q > 0 wherever P_g > 0 and the sum is finite by
    * construction; KL ≥ 0, and ≈ 0 means the group looks like the
    * corpus).
    *
    * Scale shape: ONE tokenize pass lands in a (group, token) count
    * table — the only corpus-sized work; everything after is bounded
    * by |groups| × |vocab|. The corpus vocabulary derives from that
    * table by a second-stage sum (never a second explode), group
    * totals broadcast (groups are a curated list), and the KL terms
    * accumulate as fixed-point longs, so the sum is partition-order
    * independent ([[fixedPoint9]]).
    *
    * Output: (group, n_tokens, n_vocab, kl), kl rounded 6dp.
    */
  def groupKlDrift(docs: DataFrame, groupCol: String): DataFrame = {
    val gt = docs
      .filter(col("text").isNotNull)
      .select(col(groupCol), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col(groupCol), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Parallelism.stage) // two consumers: corpus vocab + the drift join
    // Corpus vocabulary materialized once (vocab-bounded): the grand
    // total and the drift join both consume it. The total itself is
    // collected as a literal in the pass that learns the exact vocab
    // size, and the join BROADCASTS the vocab under the cap
    // ([[Parallelism.broadcastIfCounted]] — the unigramLogprob
    // rationale: the shuffle form exchanges the corpus-sized gt BY
    // TOKEN, which a small/skewed vocabulary collapses to single
    // AQE partitions).
    val vocab = Parallelism.stage(gt.groupBy("tok").agg(sum("cnt").as("c")))
    val totals = gt.groupBy(groupCol).agg(sum("cnt").as("gtot"))
    val grandRow = vocab.agg(coalesce(sum("c"), lit(0L)).cast("long"), count(lit(1))).head()
    val (grandT, vRows) = (grandRow.getLong(0), grandRow.getLong(1))
    // p_g ln(p_g/q) = (cnt/gtot) ln((cnt·t)/(gtot·c)) — all four
    // factors cast to double BEFORE multiplying, so both engines
    // round identically (a HUGEINT product rounded once would not).
    val term = (col("cnt").cast("double") / col("gtot").cast("double")) *
      log((col("cnt").cast("double") * lit(grandT).cast("double")) /
        (col("gtot").cast("double") * col("c").cast("double")))
    gt.join(Parallelism.broadcastIfCounted(vocab, vRows), Seq("tok"))
      .join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col("cnt"), fixedPoint9(term).as("k9"))
      .groupBy(col(groupCol))
      .agg(
        sum("cnt").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_vocab"),
        round(fromFixedPoint9(sum(col("k9"))), 6).as("kl"))
  }

  /** Multinomial Naive Bayes log-odds over unigram counts — the
    * trainable counterpart of [[unigramLogprob]]'s unsupervised proxy
    * and the closed-form core of the fastText-style linear quality /
    * language classifiers production pipelines train on a labeled
    * seed (GPT-3's WebText-vs-CommonCrawl filter, CCNet's langid).
    * `isSeed` labels each document (positive = seed class); the model
    * is the pair of Laplace-smoothed class-conditional unigram
    * histograms plus the document-count prior, and every document is
    * scored with the leave-nothing-out convention of
    * [[importanceWeights]] (train == score corpus, the resampling
    * recipe's shape — a held-out split is the caller's `filter`).
    *
    *   log_odds(d) = ln(N⁺/N⁻) + Σ_t cnt_d(t) ·
    *     [ln((c⁺(t)+1)/(T⁺+V)) − ln((c⁻(t)+1)/(T⁻+V))]
    *
    * Closed-form counts, no gradients: exactly transcribable to SQL,
    * bit-reproducible via the [[fixedPoint9]] per-doc accumulation
    * (prior added AFTER the quantized sum — one float add, fixed
    * order). Documents with no tokens drop out (nothing to score);
    * both classes must be non-empty or the prior is undefined.
    *
    * Scale shape (100 TB): ONE tokenize pass into per-(doc, tok)
    * counts; both class histograms derive from that table (vocab-
    * bounded, Heaps' law); the score join is keyed on the token —
    * co-partitioned, nothing vocabulary-sized is broadcast or
    * collected; the prior/totals are 1-row broadcasts. One exchange
    * keyed by doc_id for the final sum.
    */
  def naiveBayesLogOdds(docs: DataFrame, isSeed: Column): DataFrame = {
    // Row-local per-doc counts ([[TermCounts]] — the unigramLogprob
    // recipe): the (doc, is_seed) key is row-unique, so the old
    // groupBy exchange moved corpus-sized rows for row-local counts.
    val pd = Parallelism.ensure(docs) // pre-tokenize guard: see unigramLogprob
      .filter(col("text").isNotNull)
      .select(col("doc_id"), isSeed.as("is_seed"),
        TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("is_seed"),
        explode(TermCounts(col("tk"))).as(Seq("tok", "cnt")))
      .transform(Parallelism.stage) // three consumers: histograms, prior, score join
    // Class histograms materialized once (vocab-bounded), their
    // totals collected as LITERALS in the pass that learns the exact
    // vocab size, and the score join BROADCASTS the histogram when
    // that count fits ([[Parallelism.broadcastIfCounted]] — the
    // unigramLogprob rationale). Before: the corpus-sized pd
    // exchanged BY TOKEN for this join — which a small/skewed
    // vocabulary collapses to ONE AQE-coalesced task (measured 2.4s
    // single-task stages inside every NB-scored gate row) — and again
    // by doc_id for the final sum. Past the cap the former
    // shuffle-join plan returns unchanged.
    val hist = Parallelism.stage(pd.groupBy("tok").agg(
      sum(when(col("is_seed"), col("cnt")).otherwise(0L)).as("pos"),
      sum(when(!col("is_seed"), col("cnt")).otherwise(0L)).as("neg")))
    val totRow = hist.agg(
      coalesce(sum("pos"), lit(0L)).cast("long"),
      coalesce(sum("neg"), lit(0L)).cast("long"), count(lit(1))).head()
    val (tpos, tneg, v) = (totRow.getLong(0), totRow.getLong(1), totRow.getLong(2))
    val pri = pd.select("doc_id", "is_seed").distinct()
      .agg((log(sum(when(col("is_seed"), 1L).otherwise(0L)).cast("double") /
        sum(when(!col("is_seed"), 1L).otherwise(0L)).cast("double"))).as("prior"))
    val w = log((col("pos") + 1).cast("double") / lit(tpos + v).cast("double")) -
      log((col("neg") + 1).cast("double") / lit(tneg + v).cast("double"))
    val raw = col("prior") + fromFixedPoint9(col("s9"))
    pd.join(Parallelism.broadcastIfCounted(hist, v), Seq("tok"))
      .select(col("doc_id"), col("cnt"),
        fixedPoint9(col("cnt").cast("double") * w).as("ts9"))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_tokens"), sum("ts9").as("s9"))
      .crossJoin(broadcast(pri))
      .select(col("doc_id"), col("n_tokens"),
        round(raw, 6).as("log_odds"),
        (raw > 0).cast("int").as("predicted"))
  }
}
