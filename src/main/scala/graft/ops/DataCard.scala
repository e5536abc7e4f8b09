package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.io.JsonUtil

/** Corpus data card — the one-file JSON summary a curated training
  * corpus ships with (the "datasheet"): sizes, language and source
  * composition, exact/near duplication rates, per-language quality
  * bucket profile, and (optionally) the token-budget mixture plan.
  * Every number is produced by an operator that already carries its
  * own oracle or spec (the card ADDS no math — it composes and
  * serializes), so the card is as trustworthy as the gates behind
  * it; DomainSpec re-derives each section independently and checks
  * the JSON byte-for-byte fields.
  *
  * Scale shape: each section is one aggregate over the corpus —
  * nothing here is heavier than the operators it reuses, and the
  * collected results are summary-sized by construction (languages,
  * sources, buckets — never documents). The near-dup count reuses
  * the df-capped Jaccard pair generator, the card's only
  * corpus-pair-shaped input, already banded/capped for scale.
  */
object DataCard {

  /** Optional drift-posture inputs — paths of FROZEN monitor stores
    * to score the card's corpus against. Each present store adds one
    * family of rows to the card's "drift" section, composed verbatim
    * from the corresponding oracle-gated monitor (q127 lang-mix, q133
    * vocab growth, q123 tokenizer fertility, q131 PSI, q135
    * heavy-hitter surge) — the card adds no math, so the health
    * section is as trustworthy as the gates behind it. `psiStore`
    * carries the store path and the docs column to bin (the column
    * the store's cut-points were frozen over, e.g. `n_chars` for a
    * length-distribution monitor). Every monitor is the store's
    * O(batch) probe path; outputs are language-, bin- or
    * top-k-sized. */
  final case class DriftStores(
      langIdStore: Option[String] = None,
      hllStore: Option[String] = None,
      tokStore: Option[String] = None,
      psiStore: Option[(String, String)] = None,
      cmsStore: Option[String] = None)

  /** The card's "drift" JSON fragment (empty string when no store is
    * given): per-monitor rows plus one headline number each — the
    * datasheet's health posture. */
  private def driftSection(
      spark: SparkSession, docs: DataFrame, stores: DriftStores): String = {
    val parts = Seq(
      stores.langIdStore.map { p =>
        val rows = LangIdStore.mixDrift(spark, p, docs)
          .orderBy("lang").collect()
        val body = rows.map(r =>
          s"""{"lang":${JsonUtil.quote(r.getString(0))},"n_docs":${r.getLong(1)},""" +
            s""""share":${r.getDouble(2).toString},"train_share":${r.getDouble(3).toString},""" +
            s""""share_delta":${r.getDouble(4).toString}}""").mkString(",")
        val maxAbs = if (rows.isEmpty) 0.0 else rows.map(r => math.abs(r.getDouble(4))).max
        s""""lang_mix":{"max_abs_share_delta":${maxAbs.toString},"rows":[$body]}"""
      },
      stores.hllStore.map { p =>
        val rows = HllStore.growth(spark, p, docs).orderBy("lang").collect()
        val body = rows.map(r =>
          s"""{"lang":${JsonUtil.quote(r.getString(0))},""" +
            s""""est_before":${r.getDouble(1).toString},"est_after":${r.getDouble(2).toString},""" +
            s""""est_growth":${r.getDouble(3).toString}}""").mkString(",")
        val totGrowth = rows.map(_.getDouble(3)).sum
        s""""vocab_growth":{"total_est_growth":${totGrowth.toString},"rows":[$body]}"""
      },
      stores.tokStore.map { p =>
        val rows = TokStore.fertilityDrift(spark, p, docs).orderBy("lang").collect()
        val body = rows.map(r =>
          s"""{"lang":${JsonUtil.quote(r.getString(0))},""" +
            s""""pieces_per_word":${r.getDouble(4).toString},""" +
            s""""train_pieces_per_word":${if (r.isNullAt(5)) "null" else r.getDouble(5).toString},""" +
            s""""fertility_delta":${if (r.isNullAt(6)) "null" else r.getDouble(6).toString}}""")
          .mkString(",")
        val maxAbs = rows.filterNot(_.isNullAt(6)).map(r => math.abs(r.getDouble(6)))
          .foldLeft(0.0)(math.max)
        s""""tokenizer_fertility":{"max_abs_fertility_delta":${maxAbs.toString},"rows":[$body]}"""
      },
      stores.psiStore.map { case (p, valueCol) =>
        val rows = PsiStore.psi(spark, p, docs, valueCol).orderBy("bin").collect()
        val body = rows.map(r =>
          s"""{"bin":${r.getInt(0)},"ref_share":${r.getDouble(4).toString},""" +
            s""""share":${r.getDouble(6).toString},""" +
            s""""psi_term":${if (r.isNullAt(7)) "null" else r.getDouble(7).toString}}""")
          .mkString(",")
        val psiTotal = rows.filterNot(_.isNullAt(7)).map(_.getDouble(7)).sum
        s""""psi":{"column":${JsonUtil.quote(valueCol)},""" +
          s""""psi_total":${math.rint(psiTotal * 1e6) / 1e6},"rows":[$body]}"""
      },
      stores.cmsStore.map { p =>
        // q135's probe verbatim (k = the gate's 20): the corpus's top
        // tokens vs the frozen reference counters — a high max ratio
        // is template spam / a scraper loop that arrived AFTER the
        // reference froze, visible on the datasheet itself.
        val rows = CmsStore.surge(spark, p, docs, k = 20)
          .orderBy(col("n_batch").desc, col("token")).collect()
        val body = rows.map(r =>
          s"""{"token":${JsonUtil.quote(r.getString(0))},"n_batch":${r.getLong(1)},""" +
            s""""est_ref":${r.getLong(2)},"surge_ratio":${r.getDouble(3).toString}}""")
          .mkString(",")
        val maxRatio = if (rows.isEmpty) 0.0 else rows.map(_.getDouble(3)).max
        s""""hitter_surge":{"max_surge_ratio":${maxRatio.toString},"rows":[$body]}"""
      }).flatten
    if (parts.isEmpty) "" else s""","drift":{${parts.mkString(",")}}"""
  }

  /** Build the card JSON for `docs` (documents-table schema:
    * doc_id, source, lang, text). `budget`/`maxEpochs` add the
    * mixture-plan section when budget > 0; `drift` adds the
    * health/drift section for whichever frozen monitor stores are
    * provided. */
  def build(
      spark: SparkSession,
      docs: DataFrame,
      jaccardThreshold: Double = 0.8,
      maxDocFreq: Long = 100L,
      budget: Long = 0L,
      maxEpochs: Long = 2L,
      drift: DriftStores = DriftStores()): String = {
    val base = Parallelism.ensure(docs)
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("text").isNotNull,
          size(TextFunctions.tokens(col("text")))).otherwise(0)
          .cast("long").as("n_tokens"),
        when(col("text").isNotNull, length(col("text"))).otherwise(0)
          .cast("long").as("n_chars"))
      .transform(Parallelism.stage) // four consumers: totals, langs, sources, budget
    val tot = base.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum("n_tokens").cast("long").as("n_tokens"),
      sum("n_chars").cast("long").as("n_chars")).collect()(0)
    def groupRows(key: String) = base.groupBy(key)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"))
      .orderBy(key).collect()
      .map(r => s"""{"${key}":${JsonUtil.quote(r.getString(0))},""" +
        s""""n_docs":${r.getLong(1)},"n_tokens":${r.getLong(2)}}""")
    val exactGroups = Dedup.exact(docs, "doc_id", "text").count()
    val nearDupPairs = Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 2,
      threshold = jaccardThreshold, maxDocFreq = maxDocFreq).count()
    val buckets = Quality.qualityBuckets(docs, nBuckets = 3)
      .orderBy("lang", "bucket").collect()
      .map(r => s"""{"lang":${JsonUtil.quote(r.getString(0))},"bucket":${r.getLong(1)},""" +
        s""""n_docs":${r.getLong(2)},"mean_logprob":${r.getDouble(3)}}""")
    val mixture =
      if (budget <= 0L) ""
      else {
        val per = base.groupBy(col("source"))
          .agg(sum("n_tokens").cast("long").as("n_tokens"))
        val rows = Mixture.tokenBudgetAllocation(per, budget, maxEpochs)
          .orderBy("source").collect()
          .map(r => s"""{"source":${JsonUtil.quote(r.getString(0))},""" +
            s""""alloc_tokens":${r.getLong(3)},"epochs":${r.getDouble(5)},""" +
            s""""capped":${r.getInt(4)}}""")
        s""","mixture_plan":{"budget":$budget,"max_epochs":$maxEpochs,""" +
          s""""allocations":[${rows.mkString(",")}]}"""
      }
    s"""{"n_docs":${tot.getLong(0)},"n_tokens":${tot.getLong(1)},""" +
      s""""n_chars":${tot.getLong(2)},""" +
      s""""languages":[${groupRows("lang").mkString(",")}],""" +
      s""""sources":[${groupRows("source").mkString(",")}],""" +
      s""""dedup":{"exact_groups":$exactGroups,""" +
      s""""exact_dup_docs":${tot.getLong(0) - exactGroups},""" +
      s""""near_dup_pairs":$nearDupPairs,""" +
      s""""jaccard_threshold":$jaccardThreshold},""" +
      s""""quality_buckets":[${buckets.mkString(",")}]""" +
      mixture + driftSection(spark, docs, drift) + "}"
  }

  /** Write `card.json` under `outDir`. */
  def write(spark: SparkSession, docs: DataFrame, outDir: String,
      budget: Long = 0L, maxEpochs: Long = 2L,
      drift: DriftStores = DriftStores()): String = {
    val json = build(spark, docs, budget = budget, maxEpochs = maxEpochs,
      drift = drift)
    graft.io.StoreMeta.writeText(spark.sparkContext.hadoopConfiguration,
      s"$outDir/card.json", json + "\n")
    json
  }
}
