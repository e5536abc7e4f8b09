package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CtBestLang, CtDocProfile, PaddedCharGrams, TextFunctions}

/** Character-n-gram language identification — Cavnar & Trenkle 1994
  * ("N-Gram-Based Text Categorization"): per language, a PROFILE of
  * its `topM` most frequent character n-grams ranked by frequency;
  * per document, the same profile of its own text; classification is
  * the out-of-place rank distance between the two, smallest wins.
  * This computes the `lang` column the rest of the pipeline consumes
  * (quality buckets, per-lang fertility, slice evaluation) instead of
  * assuming it arrives labeled.
  *
  * Grams: every whitespace token (lowercased, the shared
  * [[TextFunctions.tokens]] normalization) is padded to `_tok_` and
  * ALL its 2- and 3-grams counted with multiplicity — the padded
  * boundary grams ("_t", "he_") carry most of the signal in the
  * paper. Everything downstream is integer counts and integer ranks:
  * no floats anywhere, so profiles, distances, and the argmin replay
  * exactly in any engine.
  *
  * Distance (the paper's out-of-place measure, capped): for each gram
  * of the DOCUMENT profile, |rank_doc − rank_lang| when the language
  * profile contains it, else the cap `topM`; total = sum over the
  * document's profile. Predicted language = argmin distance, ties to
  * the lexicographically smallest language.
  *
  * Scale shape: the language profiles are (|langs| × topM) rows —
  * they ride broadcast inside the [[CtBestLang]] kernel (the IVF
  * centroid-matrix contract). Per-document work is one codegen'd gram
  * expansion ([[PaddedCharGrams]]), one (doc, gram) count aggregate,
  * one per-document top-M selection folded into the same aggregate
  * pass (`array_sort` + `slice` — no window, no second corpus-wide
  * sort), and one O(topM · |langs|) argmin projection. Two exchanges
  * total, both keyed by document; nothing expands by |langs|.
  */
object LangId {

  /** Gram OCCURRENCE rows: (keyCol..., gram), one row per occurrence. */
  private def gramRows(docs: DataFrame, keyCols: Seq[String], textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(keyCols.map(col) :+
        explode(PaddedCharGrams(TextFunctions.tokens(col(textCol)))).as("gram"): _*)

  /** Distinct gram counts per key: (keyCol..., gram, cnt).
    *
    * Deliberately the raw `explode → groupBy` form, NOT a row-local
    * [[graft.functions.TermCounts]] pre-combine (the posting-build
    * recipe): measured at gate scale, pre-counting each document's
    * grams through the map kernel cost ~1.5× the plain explode — the
    * grouping key here is NOT row-unique, so the partial hash
    * aggregate already combines map-side in codegen'd unsafe rows,
    * and the kernel's per-row boxed map only duplicated that work.
    * (TermCounts earns its keep only where it REMOVES an exchange —
    * the row-unique doc_id keys in Retrieval/Quality.) */
  private[graft] def gramCounts(docs: DataFrame, keyCols: Seq[String], textCol: String): DataFrame =
    gramRows(docs, keyCols, textCol)
      .groupBy(keyCols.map(col) :+ col("gram"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Rank pre-aggregated gram counts per key by (count desc, gram
    * asc), keep the top M: (key, gram, rank). The window partitions
    * by the profile key — languages, bounded — never a single global
    * partition. */
  private[graft] def rankTop(counts: DataFrame, keyCol: String, topM: Int): DataFrame =
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("cnt").desc, col("gram"))))
      .filter(col("rank") <= topM)
      .select(col(keyCol), col("gram"), col("rank"))

  /** Train per-language profiles from a LABELED corpus:
    * (lang, gram, rank), rank 1..topM per language. Rows with a NULL
    * label are excluded: a null is no evidence for any language, and
    * a null-language profile row would make every downstream
    * [[CtBestLang]] argmin throw on the null-vs-string tie-break. */
  def langProfiles(
      docs: DataFrame,
      langCol: String,
      textCol: String,
      topM: Int = 64): DataFrame =
    rankTop(gramCounts(
      docs.filter(col(langCol).isNotNull)
        .select(col(langCol).as("lang"), col(textCol)),
      Seq("lang"), textCol), "lang", topM)

  /** Collect trained profiles ([[langProfiles]]'s shape) into the
    * driver-bounded row form the [[CtBestLang]] kernel consumes —
    * |langs| × topM rows, the IVF-codebook boundedness contract. */
  def profileRows(profiles: DataFrame): Seq[(String, String, Int)] =
    profiles.select(col("lang"), col("gram"), col("rank")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Number](2).intValue))
      .toSeq

  /** The trained classifier as a pure COLUMN over a text column — the
    * pluggable language source for pipelines (curation q49, the data
    * card): attaches `pred_lang` to any frame as a ZERO-exchange
    * codegen'd projection, no join, no re-shape. Null when the text
    * yields no grams (null or whitespace-only), mirroring
    * [[classify]]'s absent rows. */
  def langColumn(text: Column, rows: Seq[(String, String, Int)], topM: Int = 64): Column = {
    require(rows.nonEmpty, "langColumn requires trained profile rows")
    val prof = CtDocProfile(TextFunctions.tokens(text), topM)
    when(size(prof) > 0, CtBestLang(prof, rows, topM).getField("pred_lang"))
  }

  /** Classify every document against trained `profiles`
    * ([[langProfiles]]'s shape): (doc_id, pred_lang, distance).
    * Documents with no grams (null/whitespace-only text) are absent —
    * no profile, no honest prediction.
    *
    * ZERO-shuffle: every gram of a document comes from the same row,
    * so the per-document profile ([[CtDocProfile]]) and the
    * rank-distance argmin ([[CtBestLang]], trained table riding
    * broadcast inside the expression) are one narrow projection —
    * O(batch) work, no exchange at any scale. */
  def classify(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      profiles: DataFrame,
      topM: Int = 64): DataFrame = {
    val rows = profileRows(profiles)
    // Deliberately NO parallelism guard here: classify's contract is a
    // zero-exchange projection (PlanShapeSpec pins it) so it composes
    // into callers' plans without a repartition. Callers that feed a
    // physically-small RAW SCAN (the store probes) ensure parallelism
    // at their boundary instead — see [[graft.ops.LangIdStore]].
    val prof = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        CtDocProfile(TextFunctions.tokens(col(textCol)), topM).as("profile"))
      .filter(size(col("profile")) > 0)
    if (rows.isEmpty) {
      // No trained languages: no honest prediction (the join reference
      // yields the empty set too).
      prof.filter(lit(false))
        .select(col("doc_id"), lit("").as("pred_lang"), lit(0L).as("distance"))
    } else {
      prof
        .select(col("doc_id"), CtBestLang(col("profile"), rows, topM).as("best"))
        .select(col("doc_id"), col("best.pred_lang").as("pred_lang"),
          col("best.distance").as("distance"))
    }
  }

  /** Fit-and-classify on the SAME corpus: (doc_id, pred_lang,
    * distance). Training is the one corpus-sized gram aggregate
    * ([[langProfiles]]); classification is the zero-shuffle
    * [[classify]] projection over the staged corpus. */
  def selfClassify(
      docs: DataFrame,
      idCol: String,
      langCol: String,
      textCol: String,
      topM: Int = 64): DataFrame = {
    // ensure BEFORE the stage: the selected frame is narrow, so the
    // checkpoint would otherwise freeze a physically-small scan's one
    // or two partitions and serialize both the gram fit and the
    // classification projection (a no-op at scale).
    val staged = Parallelism.stage(Parallelism.ensure(docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"), col(textCol))))
    classify(staged, "doc_id", textCol,
      langProfiles(staged, "lang", textCol, topM), topM)
  }

  /** Self-classification confusion matrix — fit profiles on the
    * corpus's own labels, classify the same corpus, count per
    * (true, predicted): the off-diagonal is where the n-gram
    * heuristic and the incoming labels disagree (mislabeled data or
    * languages too close for the profile size).
    * Output: (lang, pred_lang, n_docs). */
  def confusion(
      docs: DataFrame,
      idCol: String,
      langCol: String,
      textCol: String,
      topM: Int = 64): DataFrame = {
    val staged = Parallelism.stage(Parallelism.ensure(docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"), col(textCol))))
    classify(staged, "doc_id", textCol,
      langProfiles(staged, "lang", textCol, topM), topM)
      .join(staged.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
