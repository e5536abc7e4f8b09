package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.io.BucketedTable

/** Persisted FROZEN unigram LM: fit once on a reference corpus, score
  * arriving batches forever after without re-reading the corpus — the
  * incremental sibling of [[Quality.unigramLogprob]] (whose LM is the
  * scoring corpus's own). This is what a production quality gate
  * actually runs: the LM is fit on a trusted reference snapshot and
  * FROZEN, so a batch's score never shifts because other batches
  * arrived, and scoring cost is O(batch), not O(corpus + batch).
  *
  * Layout: `$path/vocab` — the (tok, cnt) table bucketed by `tok`, so
  * the scoring join probes it exchange-free (the store side never
  * reshuffles; same contract as the fingerprint/band/posting stores)
  * — plus `_lm_store.json` ([[BucketedTable.createAt]]: total token
  * count, bucket count, schema DDL for the empty-store bootstrap).
  *
  * Scoring semantics: identical expression tree to `unigramLogprob`
  * (fixed-point accumulation, 6dp rounding) with the frozen (cnt,
  * total). Tokens OUTSIDE the frozen vocabulary contribute nothing to
  * the sum but are COUNTED: the output separates "scores low under
  * the LM" from "mostly unseen vocabulary" — two different failure
  * modes a gate may weigh differently (no smoothing constant can
  * honestly merge them). On the fitting corpus itself, `score` ≡
  * `unigramLogprob` with n_oov = 0 (QualitySpec pins the equality).
  *
  * Output: (doc_id, n_tokens, n_oov, avg_logprob) — the average over
  * IN-VOCAB tokens, null for all-OOV documents.
  */
object LmStore {

  private val layout = BucketedTable.Layout("lm_store", "vocab", "_lm_store.json", "tok")

  /** `buckets` 0 = session-derived ([[BucketedTable.defaultBuckets]]). */
  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      buckets: Int = 0): String = {
    val vocab = Parallelism.ensure(docs)
      .filter(col("text").isNotNull)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // total from the WRITTEN table: one pass over the |vocab|-bounded
    // store instead of keeping the aggregate alive for two consumers
    BucketedTable.createAt(spark, layout, path, vocab, buckets)(table => Seq("total" ->
      spark.table(table).agg(coalesce(sum(col("cnt")), lit(0L)).cast("long")).head().getLong(0)))
  }

  /** Re-attach in a fresh session: (table, total token count). */
  def attach(spark: SparkSession, path: String): (String, Long) = {
    val (table, m) = BucketedTable.attach(spark, layout, path)
    (table, m.long("total"))
  }

  /** Score a batch under the frozen LM at `path`. */
  def score(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val (table, total) = attach(spark, path)
    require(total > 0L, s"LM store at $path is empty — fit it on a corpus first")
    // Row-local batch counts ([[graft.functions.TermCounts]] — the
    // unigramLogprob recipe): no exchange for the row-unique doc key;
    // the probe's exchanges are the bucketed-vocab join + per-doc sum.
    val pd = Parallelism.ensure(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(graft.functions.TermCounts(col("tk"))).as(Seq("tok", "cnt")))
    val inVocabCnt = sum(when(col("c").isNotNull, col("cnt")).otherwise(0L)).cast("long")
    pd
      .join(spark.table(table).select(col("tok"), col("cnt").as("c")), Seq("tok"), "left")
      .select(col("doc_id"), col("cnt"), col("c"),
        // same term expression as unigramLogprob, frozen (c, total)
        when(col("c").isNotNull, Quality.fixedPoint9(col("cnt").cast("double") *
          log(col("c").cast("double") / lit(total).cast("double"))))
          .otherwise(lit(0L)).as("ts9"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("long").as("n_tokens"),
        sum(when(col("c").isNull, col("cnt")).otherwise(0L)).cast("long").as("n_oov"),
        when(inVocabCnt > 0L,
          round(Quality.fromFixedPoint9(sum(col("ts9"))) /
            inVocabCnt.cast("double"), 6)).as("avg_logprob"))
  }

  /** Vocabulary-aging report — the OOV complement of
    * [[graft.ops.TokStore.fertilityDrift]]: per language of an
    * arriving batch, documents, tokens, tokens OUTSIDE the frozen
    * vocabulary, and the OOV rate. Rising oov_rate on a language =
    * what now arrives speaks words the snapshot never saw — the
    * retrain trigger for the LM gate (the score itself stays honest —
    * [[score]] separates OOV mass — but a gate scoring mostly-unseen
    * text is a gate measuring nothing). On the fitting corpus itself
    * every rate is exactly 0 (QualitySpec pins it). Cost: one
    * [[score]] pass over the batch (O(batch), store side bucketed)
    * plus a language-sized aggregate.
    *
    * Output: (lang, n_docs, n_tokens, n_oov, oov_rate), oov_rate =
    * round(Σ n_oov / Σ n_tokens, 6), null for a language arriving
    * with zero tokens.
    */
  def oovReport(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      langCol: String = "lang"): DataFrame =
    score(spark, path, docs)
      .join(docs.select(col("doc_id"), col(langCol).as("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sum("n_oov").cast("long").as("n_oov"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") > 0L,
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
          .as("oov_rate"))
}
