package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.StoreMeta

/** Persisted FROZEN language-ID model: fit the Cavnar–Trenkle
  * profiles ONCE on a labeled snapshot ([[LangId.langProfiles]]),
  * persist them, classify arriving batches forever after — the
  * language-ID member of the frozen-store family ([[LmStore]],
  * [[NbStore]], [[TokStore]]). A production pipeline labels arrivals
  * with a model trained on its trusted snapshot; refitting per batch
  * would let every batch move every other batch's labels.
  *
  * Layout under `path`:
  *   - `profiles` — (lang, gram, rank), langs × topM rows (tiny; one
  *     file). Broadcast at classify time.
  *   - `mix` — the snapshot's TRUE label composition (lang,
  *     train_share): the reference point the mix-drift monitor
  *     compares arriving PREDICTED composition against.
  *   - `_langid_store.json` — topM (written by [[graft.io.StoreMeta]]).
  *
  * [[mixDrift]] is the feed-composition alarm: per trained language,
  * the arriving batch's predicted share vs the snapshot's labeled
  * share. A language surging past its snapshot share (or vanishing —
  * the row stays, share 0) is a source change upstream filters were
  * never tuned for. Classification itself is [[LangId.classify]]:
  * O(topM·langs) per document, profiles broadcast, O(batch) total.
  */
object LangIdStore {

  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      topM: Int = 64): Unit = {
    val staged = Parallelism.ensure(docs)
    LangId.langProfiles(staged, "lang", "text", topM)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/profiles")
    // Null-labeled docs are excluded from the mix for the same reason
    // [[LangId.langProfiles]] excludes them from the fit: a null label
    // is no evidence for any language. Counting them here would leave
    // the frozen store internally contradictory on mixed-provenance
    // corpora — a phantom lang=null reference row [[mixDrift]] could
    // never match (classify never predicts null), reading as permanent
    // vanished-language drift, and every real language's train_share
    // diluted by documents the profiles never saw.
    // Counts materialized once (lang-bounded — tiny), total collected
    // as a literal: the former `crossJoin(broadcast(tot))` re-ran the
    // corpus-sized count aggregate a second time just to produce the
    // 1-row total (tot's plan differs from counts', so no exchange or
    // subtree reuse applied).
    val counts = staged.filter(col("text").isNotNull && col("lang").isNotNull)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val t = counts.agg(coalesce(sum("n"), lit(0L)).cast("long")).head().getLong(0)
    counts
      .select(col("lang"),
        round(col("n").cast("double") / lit(t).cast("double"), 6)
          .as("train_share"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/mix")
    StoreMeta.write(spark, s"$path/_langid_store.json", "topM" -> topM)
  }

  /** (profiles frame, topM) in a fresh session. */
  def attach(spark: SparkSession, path: String): (DataFrame, Int) =
    (spark.read.parquet(s"$path/profiles"),
      StoreMeta.read(spark, s"$path/_langid_store.json").int("topM"))

  /** Classify a batch under the FROZEN profiles: (doc_id, pred_lang,
    * distance), O(batch). */
  def classify(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val (profiles, topM) = attach(spark, path)
    // ensure at the store boundary: the classification projection is
    // zero-exchange by contract, so a physically-small batch scan
    // would otherwise run the whole gram/argmin kernel in one or two
    // scan tasks (structural no-op at scale).
    LangId.classify(Parallelism.ensure(docs), "doc_id", "text", profiles, topM)
  }

  /** The frozen classifier as a pure COLUMN ([[LangId.langColumn]]
    * over the persisted profiles) — the store-backed pluggable
    * language source for pipelines ([[Curation.withStoreLang]], q136):
    * attaching costs one driver-bounded profile read (langs × topM
    * rows); the column itself is the same zero-exchange codegen'd
    * projection as the in-query fit, with the fit already paid at
    * [[createAt]] time. */
  def langColumn(
      spark: SparkSession,
      path: String,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (profiles, topM) = attach(spark, path)
    LangId.langColumn(text, LangId.profileRows(profiles), topM)
  }

  /** Language-mix drift of an arriving batch against the snapshot:
    * one row per TRAINED language (predictions can only land on
    * trained languages) — predicted docs, predicted share of the
    * batch, the snapshot's labeled share, and their difference. A
    * language with no arrivals keeps its row at share 0 — vanishing
    * IS drift. */
  def mixDrift(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val (profiles, topM) = attach(spark, path)
    mixDriftFrom(profiles, topM, spark.read.parquet(s"$path/mix"), docs)
  }

  /** [[mixDrift]] over ALREADY-ATTACHED store frames — shared
    * verbatim by the batch monitor and the streaming sink
    * ([[graft.streaming.LangIdStream]]), which attaches once and
    * reuses across micro-batches. */
  private[graft] def mixDriftFrom(
      profiles: DataFrame,
      topM: Int,
      ref: DataFrame,
      docs: DataFrame): DataFrame = {
    // Materialized once (lang-bounded): the share join and the total
    // both consume predCounts, and the two broadcast subtrees don't
    // share plans — without the checkpoint the WHOLE classify pass
    // (scan + gram/argmin kernel over the batch) ran twice per
    // monitor call (measured: the two heaviest stages of q127's
    // probe were the same classify, back to back).
    val predCounts = LangId.classify(
      Parallelism.ensure(docs), "doc_id", "text", profiles, topM)
      .groupBy(col("pred_lang").as("lang"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val tot = predCounts.agg(coalesce(sum("n"), lit(0L)).as("t"))
    ref
      .join(broadcast(predCounts), Seq("lang"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"),
        coalesce(col("n"), lit(0L)).as("n_docs"),
        when(col("t") > 0L,
          round(coalesce(col("n"), lit(0L)).cast("double") /
            col("t").cast("double"), 6)).otherwise(lit(0.0)).as("share"),
        col("train_share"))
      .withColumn("share_delta", round(col("share") - col("train_share"), 6))
  }
}
