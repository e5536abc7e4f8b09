package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.io.StoreMeta
import graft.ops.Quality.BpeMerge

/** Persisted FROZEN BPE tokenizer: train the merge table once on a
  * reference snapshot, then encode arriving batches forever after
  * without re-running the training loop — the tokenizer member of the
  * frozen-store family ([[LmStore]] for the unigram LM, [[NbStore]]
  * for the seed classifier). Training ([[Quality.bpeMerges]]) costs a
  * driver loop of vocab-sized argmax jobs; a production pipeline pays
  * it once per snapshot, never per batch — exactly the fit-once /
  * score-arrivals split the LM and NB stores enforce.
  *
  * Layout under `path`:
  *   - `merges` — the ordered merge table (step, left, right, merged,
  *     cnt). Driver-bounded by construction (tens to tens of
  *     thousands of rows), written as one file; order is training
  *     order and MUST be preserved, so readers sort by `step`.
  *   - `fertility` — per-language fertility of the TRAINING corpus
  *     under the final merge table (lang, n_docs, n_words, n_pieces,
  *     pieces_per_word): the reference point the drift monitor
  *     compares arrivals against.
  *   - `_tok_store.json` — merge count actually trained (may be fewer
  *     than requested when the vocab exhausts) for cheap
  *     introspection (written by [[graft.io.StoreMeta]]).
  *
  * Encoding semantics are [[Quality.bpeEncode]]'s, with the FROZEN
  * merge list: on the training corpus itself, `encode` reproduces
  * training's final vocabulary states exactly (the same greedy
  * left-to-right fold, [[Quality.applyMerge]], is shared by both).
  *
  * The drift monitor ([[fertilityDrift]]) is the aging signal for a
  * frozen tokenizer: fertility (pieces per word) RISING on a language
  * relative to the training snapshot means the merge table
  * under-serves what is now arriving — the standard retrain trigger.
  *
  * Scale shape: encoding is embarrassingly parallel (narrow codegen'd
  * HOF fold, no shuffle, O(batch)); the store side of the drift join
  * is a per-language table (broadcast by size), so monitoring cost
  * never touches the training corpus again.
  */
object TokStore {

  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      nMerges: Int = 5): Seq[BpeMerge] = {
    val staged = Parallelism.ensure(docs)
    val merges = Quality.bpeMerges(staged, nMerges)
    import spark.implicits._
    merges.toDF("step", "left", "right", "merged", "cnt")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/merges")
    perLangFertility(staged, merges)
      .write.mode("overwrite").parquet(s"$path/fertility")
    StoreMeta.write(spark, s"$path/_tok_store.json", "n_merges" -> merges.size)
    merges
  }

  /** Re-attach the frozen merge table in a fresh session, in training
    * order. */
  def attach(spark: SparkSession, path: String): Seq[BpeMerge] =
    spark.read.parquet(s"$path/merges")
      .orderBy("step")
      .collect()
      .map(r => BpeMerge(r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq

  /** Encode a batch with the FROZEN merge table: (doc_id, n_tokens,
    * n_pieces), no training jobs, no shuffle. */
  def encode(spark: SparkSession, path: String, docs: DataFrame): DataFrame =
    Quality.bpeEncode(docs, attach(spark, path))

  /** Fertility drift of an arriving batch against the frozen
    * tokenizer's training snapshot: per language — arriving docs /
    * words / pieces / pieces-per-word, the snapshot's
    * pieces-per-word, and their difference. Positive
    * `fertility_delta` = the frozen merge table serves this
    * language WORSE than it served the snapshot (tokenizer aging);
    * null = language unseen at training time.
    */
  def fertilityDrift(spark: SparkSession, path: String, docs: DataFrame): DataFrame =
    driftAgainst(perLangFertility(docs, attach(spark, path)),
      spark.read.parquet(s"$path/fertility"))

  /** Join an arriving per-lang fertility table against the snapshot
    * reference — shared verbatim by the batch monitor and the
    * streaming sink ([[graft.streaming.TokStream]]) so the two can
    * never disagree. The reference is language-sized → broadcast. */
  private[graft] def driftAgainst(arriving: DataFrame, ref: DataFrame): DataFrame =
    arriving
      .join(broadcast(ref.select(col("lang"),
        col("pieces_per_word").as("train_pieces_per_word"))), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        col("pieces_per_word"), col("train_pieces_per_word"),
        round(col("pieces_per_word") - col("train_pieces_per_word"), 6)
          .as("fertility_delta"))

  /** Per-language fertility under a fixed merge list — one narrow
    * projection (the [[Quality.bpeEncode]] kernel,
    * [[graft.functions.BpePieces]], with `lang` carried instead of
    * `doc_id`) into a language-sized aggregate. */
  private[graft] def perLangFertility(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val pairs = merges.map(m => (m.left, m.right))
    docs
      .filter(col("text").isNotNull)
      .select(col("lang"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("lang"),
        size(col("tk")).cast("long").as("n_words"),
        aggregate(transform(col("tk"),
          t => graft.functions.BpePieces(t, pairs).cast("long")),
          lit(0L), (acc, n) => acc + n).as("n_pieces"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").cast("long").as("n_words"),
        sum("n_pieces").cast("long").as("n_pieces"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        when(col("n_words") > 0L,
          round(col("n_pieces").cast("double") / col("n_words").cast("double"), 6))
          .as("pieces_per_word"))
  }
}
