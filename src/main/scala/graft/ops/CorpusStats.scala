package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.functions.{CmsAtLeast, Md5Prefix64, TextFunctions}

/** Corpus-level lexical statistics for training-data pipelines:
  * sketch-prefiltered heavy hitters (the boilerplate-token detector)
  * and windowed PMI collocations (the multi-word-expression miner a
  * tokenizer-training pass reads).
  *
  * Scale notes (100 TB):
  *  - [[heavyHitters]] never shuffles the vocabulary: the Count–Min
  *    sketch reduces the token stream to `depth × width` counters
  *    (map-side partials, one merged row on the driver), the
  *    codegen'd [[CmsAtLeast]] prefilter drops every certifiably
  *    light token in a narrow pass, and only the candidate fringe —
  *    bounded by the true heavy-hitter count plus the sketch's
  *    tunable overcount — reaches the exact-confirm `groupBy`. CMS
  *    only over-counts, so prefilter + exact confirm ≡ exact.
  *  - [[pmiPairs]] generates co-occurrence pairs PER ROW with
  *    higher-order functions (no positional self-join — a join on
  *    (doc, position-range) would shuffle the token stream twice and
  *    rebuild it as join state); only (pair, count) partials shuffle,
  *    a keyspace bounded by |vocab|·window, further cut by the
  *    `minPairCount` filter before the unigram joins.
  */
object CorpusStats {

  /** Exact corpus heavy hitters (tokens with count ≥ `minCount`),
    * computed with a Count–Min-sketch prefilter so the exact
    * aggregation only ever sees candidate tokens.
    *
    * Two passes over the token stream, both narrow until their final
    * bounded exchange:
    *   1. build the sketch — Spark's `count_min_sketch` typed
    *      aggregate, partials merged map-side, one `depth×width`
    *      result row;
    *   2. probe each token against the broadcast sketch
    *      ([[CmsAtLeast]] rides in the task binary) and exact-count
    *      only the survivors, then keep the truly-heavy
    *      (`HAVING count ≥ minCount` — the confirm step that makes
    *      the result independent of sketch error).
    *
    * Output: (token, cnt), one row per heavy hitter.
    */
  def heavyHitters(
      docs: DataFrame,
      minCount: Long,
      eps: Double = 1e-4,
      confidence: Double = 0.99): DataFrame = {
    val toks = docs
      .filter(col("text").isNotNull)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
    val keyed = toks.select(col("token"),
      Md5Prefix64(concat(lit("hh_"), col("token"))).as("h"))
    val cmsBytes = keyed
      .agg(expr(s"count_min_sketch(h, ${eps}d, ${confidence}d, 42)"))
      .head().getAs[Array[Byte]](0)
    keyed
      .filter(CmsAtLeast.fromBytes(col("h"), cmsBytes, minCount))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Windowed PMI collocations: unordered token pairs co-occurring
    * within `window` positions, restricted to pairs seen at least
    * `minPairCount` times, ranked by pointwise mutual information
    *
    *   pmi(x,y) = ln( (c_xy / P) / ((c_x / T) · (c_y / T)) )
    *
    * with P = total co-occurrence pairs and T = total tokens. High
    * PMI at sufficient count marks multi-word expressions ("new
    * york") worth atomizing before tokenizer training; the
    * `minPairCount` floor is the standard guard against PMI's
    * low-frequency bias.
    *
    * Pair generation is a pure per-row HOF composition (flatten ∘
    * transform over the token array) — narrow, codegen'd, no
    * positional self-join. The unordered orientation (least,
    * greatest) is applied per occurrence so "b a" and "a b" pool
    * their counts, matching the symmetric-window PMI definition.
    *
    * Output: (x, y, pair_cnt, pmi) — top `topK` by
    * (pmi desc, x, y), PMI rounded to 6 places so the rank cut is
    * engine-portable.
    */
  def pmiPairs(
      docs: DataFrame,
      window: Int = 3,
      minPairCount: Long = 5,
      topK: Int = 20): DataFrame = {
    val toksCol = TextFunctions.tokens(col("text"))
    // One tokenize pass feeding both the pair stream and the unigram
    // histogram (the importanceWeights argument: never explode 100 TB
    // of text twice when the first pass's output is strictly smaller).
    // Corpus-sized and reused → pluggable storage (Parallelism.stage):
    // default localCheckpoint for single-JVM speed, `disk` on clusters
    // where executor loss must recompute instead of killing the job.
    val tk = Parallelism.stage(docs
      .filter(col("text").isNotNull)
      .select(toksCol.as("tk")))

    val pairsCol = when(
      size(col("tk")) >= 2,
      flatten(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => transform(
          slice(col("tk"), i + 1, lit(window)),
          t2 => struct(
            least(element_at(col("tk"), i), t2).as("x"),
            greatest(element_at(col("tk"), i), t2).as("y"))))))
      .otherwise(array().cast("array<struct<x:string,y:string>>"))

    val pairCnt = tk
      .select(explode(pairsCol).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("pair_cnt"))
      .transform(Parallelism.stage)
    val unigram = tk
      .select(explode(col("tk")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .transform(Parallelism.stage)

    // Totals collected as LITERALS in the same pass that learns the
    // exact table sizes, and the two unigram joins BROADCAST under
    // [[Parallelism.broadcastIfCounted]] (the unigramLogprob recipe):
    // the shuffle form exchanges the pair table TWICE (by x, then by
    // y) against a vocab-bounded side, which a small/skewed vocabulary
    // collapses to single AQE partitions. Past the cap the former
    // exchange plan returns unchanged. Values are identical either
    // way — the literals carry the very sums the broadcast columns
    // carried, into the same float expression.
    val ut = unigram.agg(
      coalesce(sum("c"), lit(0L)).cast("long"), count(lit(1))).head()
    val (tTotal, uRows) = (ut.getLong(0), ut.getLong(1))
    val pTotal = pairCnt
      .agg(coalesce(sum("pair_cnt"), lit(0L)).cast("long")).head().getLong(0)

    // The float expression below is transcribed verbatim into the
    // DuckDB oracle — identical operator tree, so the IEEE result is
    // bit-equal and round(…, 6) is a formality for ln()'s 1-ulp play.
    pairCnt
      .filter(col("pair_cnt") >= minPairCount)
      .join(Parallelism.broadcastIfCounted(
        unigram.withColumnRenamed("token", "x").withColumnRenamed("c", "cx"), uRows), Seq("x"))
      .join(Parallelism.broadcastIfCounted(
        unigram.withColumnRenamed("token", "y").withColumnRenamed("c", "cy"), uRows), Seq("y"))
      .select(col("x"), col("y"), col("pair_cnt"),
        round(log(
          (col("pair_cnt").cast("double") / lit(pTotal).cast("double")) /
            ((col("cx").cast("double") / lit(tTotal).cast("double")) *
              (col("cy").cast("double") / lit(tTotal).cast("double")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** Cross-source contamination matrix: for every pair of corpus
    * sources, the number of distinct word n-grams they share and the
    * Jaccard of their n-gram vocabularies — the hygiene report that
    * says which feeds are mirrors/scrapes of each other (and feeds
    * the dedup/decontamination priority list).
    *
    * NEVER a gram-keyed self-join (each side of that join is the
    * corpus-sized posting table, and a ubiquitous gram multiplies
    * out df² rows): the per-gram source SET is bounded by the number
    * of sources — a small constant even at 100 TB — so grams reduce
    * to (gram, sorted source set) in one shuffle, and every pair the
    * gram witnesses is generated ROW-LOCALLY by higher-order
    * functions over that bounded array. What reaches the final
    * aggregate is (src_a, src_b) keys — at most sources² of them.
    * Source vocabulary sizes ride two broadcast joins.
    *
    * Output: (src_a, src_b, shared_grams, jaccard) for pairs sharing
    * ≥ 1 gram, src_a < src_b, jaccard 6dp.
    */
  def sourceOverlapMatrix(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = Parallelism.ensure(docs)
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("src"),
        explode(array_distinct(
          TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n)))
          .as("gram"))
      .distinct() // (source, gram) — the per-source vocabulary
      .transform(Parallelism.stage) // two consumers: sizes + gram sets
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("sz"))
    val pairs = grams.groupBy("gram")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      // all ordered pairs of the bounded source list, row-locally
      .select(explode(flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), y =>
          struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(broadcast(sizes.select(col("src").as("src_a"), col("sz").as("sz_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("sz").as("sz_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          (col("sz_a") + col("sz_b") - col("shared_grams")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Per-language vocabulary size, exact AND sketched — the
    * distinct-count audit ([[graft.functions.HllSketchAgg]]): per
    * language, the exact distinct whitespace-token count, the
    * HyperLogLog estimate over the same tokens, and their relative
    * error. The estimate column is what a 100 TB run keeps (one pass,
    * map-side mergeable, 2^p bytes per language — no (lang, token)
    * shuffle); the exact column is the gate that proves the sketch
    * honest at test scale, the same sketch-plus-exact-confirm
    * discipline as [[heavyHitters]]'s CMS and
    * [[graft.ops.Quantiles]]'s KLL. Both replay digit-for-digit in
    * SQL — see [[graft.functions.HllSketch]]'s determinism notes.
    *
    * Output: (lang, n_exact, hll_estimate, rel_error), rel_error =
    * round(|hll − exact| / exact, 6).
    */
  def vocabSize(docs: DataFrame, langCol: String, textCol: String, p: Int = 12): DataFrame = {
    import graft.functions.HllSketchAgg.hllSketch
    import graft.functions.HllEstimate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
    toks
      .groupBy(col("lang"))
      .agg(
        count_distinct(col("token")).as("n_exact"),
        ColumnBridge.column(HllEstimate(ColumnBridge.expression(
          hllSketch(Md5Prefix64(col("token")), p)))).as("hll_estimate"))
      .select(col("lang"),
        col("n_exact").cast("long").as("n_exact"),
        round(col("hll_estimate"), 6).as("hll_estimate"),
        round(abs(col("hll_estimate") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6).as("rel_error"))
  }
}
