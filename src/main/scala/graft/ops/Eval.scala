package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval / neighbor-quality evaluation: the metrics a pipeline
  * runs over its own retrieval and ANN stages to decide whether an
  * index family, a quantizer setting, or a reranker is good enough
  * to ship — recall@k, MRR@k and binary-grade nDCG@k per query, from
  * a result table and a relevance truth table.
  *
  * All three metrics are exact arithmetic over ranks and counts:
  * reciprocal ranks and log2 discounts accumulate in fixed point
  * ([[Quality.fixedPoint9]]), so per-query values are
  * partition-order-independent and the whole evaluation transcribes
  * to a SQL oracle — the same determinism contract as the operators
  * being evaluated.
  *
  * Conventions (documented because every IR library picks its own):
  *  - recall@k = |hits in top-k| / |relevant| (uncapped denominator —
  *    a query with more relevant docs than k cannot reach 1);
  *  - MRR@k = 1 / rank of the FIRST hit, 0 when the top-k has none;
  *  - nDCG@k uses binary gains, DCG = Σ_hits 1/log2(rank+1), ideal =
  *    the first min(|relevant|, k) positions; queries with no
  *    relevant docs at all are dropped (no metric is defined).
  *
  * Scale shape (100 TB of results): one equi join keyed on
  * (query_id, doc_id) — both sides co-partition, nothing broadcast —
  * then one aggregate keyed by query_id over ≤ k rows per query; the
  * truth-size aggregate is |truth|-keyed the same way. Corpus-level
  * means are a second 1-row aggregate over per-query rows.
  */
object Eval {

  /** Largest input [[calibration]] will accept without
    * `allowExact = true`: 2^20 rows. The equal-frequency ntile
    * funnels one row per document through a SINGLE partition — past
    * this the exact rank-based report is a scale bug, not a query;
    * the 100-TB form is [[calibrationAtCuts]] under frozen
    * [[PsiStore]]/[[Quantiles.exactQuantiles]] cut-points, whose bin
    * assignment is a zero-exchange projection. Same contract
    * discipline as [[graft.similarity.Similarity.MaxExactPairsRows]]:
    * the engine refuses the scale-unsafe form instead of silently
    * planning it. */
  val MaxExactCalibrationRows: Long = 1L << 20

  /** Per-query metrics for `results` (query_id, doc_id, rank — rank
    * 1-based, already cut or cuttable at `k`) against `truth`
    * (query_id, doc_id). Output: (query_id, n_rel, n_hits, recall,
    * mrr, ndcg), all metrics rounded 6dp. */
  def retrievalMetrics(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = truth.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
    val hits = results
      .filter(col("rank") <= k)
      .join(truth, Seq("query_id", "doc_id")) // hit = retrieved ∧ relevant
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_hits"),
        min("rank").as("first_hit"),
        // binary-gain DCG in fixed point: Σ 1/log2(rank+1) — the
        // discount spelled ln(x)/ln(2) because a native log2 can
        // differ from the quotient in the last ulp across engines
        sum(Quality.fixedPoint9(lit(1.0) /
          (log(col("rank").cast("double") + lit(1.0)) / log(lit(2.0))))).as("dcg9"))
    // ideal DCG for the first min(n_rel, k) positions — per-query
    // closed form over a sequence, same quantization as the hit side
    val idcg9 = aggregate(
      sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
      lit(0L),
      (acc, i) => acc + Quality.fixedPoint9(lit(1.0) /
        (log(i.cast("double") + lit(1.0)) / log(lit(2.0)))))
    rel
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel").cast("long").as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("first_hit").cast("double"), lit(0.0)), 6)
          .as("mrr"),
        round(coalesce(col("dcg9"), lit(0L)).cast("double") /
          idcg9.cast("double"), 6).as("ndcg"))
  }

  /** Binary-classifier evaluation — the decide-before-you-ship pass
    * over a quality/seed filter (the [[Quality.naiveBayesLogOdds]] /
    * NbStore family): tie-aware ROC-AUC of the score against the
    * true label, plus the confusion counts and derived rates of the
    * caller's hard prediction. One summary row:
    * (n, n_pos, n_neg, auc, tp, fp, fn, tn, accuracy, precision,
    * recall, f1), rates rounded 6dp.
    *
    * AUC is the exact Mann–Whitney statistic with the standard
    * average-rank tie correction, computed WITHOUT ranking rows:
    * scores quantize to a 1e-9 fixed-point long key, group to
    * (key, n_pos_k, n_neg_k), and
    *   AUC = Σ_k n_pos_k · (2·negBelow_k + n_neg_k) / (2·n_pos·n_neg)
    * where negBelow_k is the exclusive running negative count in key
    * order — each tied block contributes half its pos×neg pairs,
    * exactly the trapezoidal ROC area. Undefined (null) when either
    * class is empty. Precision/recall/F1 are null when their
    * denominator is 0 (no predicted / no actual positives).
    *
    * Scale shape (100 TB of scored documents): one groupBy(score)
    * shuffle to the distinct-score table, then
    * [[Packing.globalCumsum]]'s distributed prefix sum over that
    * table — NEVER a global-order window over rows (the classic
    * single-partition scale bug an AUC rank-sum invites). The pair
    * products accumulate in decimal(38,0): n_pos·n_neg overflows a
    * long once both classes pass ~2·10⁹ documents.
    *
    * Input contract: `scoreCol` double (ranking score), `predCol`
    * 0/1 int (the caller's thresholded prediction — kept explicit so
    * the confusion matches the filter as deployed, not a re-derived
    * cut), `labelCol` 0/1 int or boolean.
    */
  def classifierMetrics(
      scored: DataFrame,
      scoreCol: String,
      predCol: String,
      labelCol: String): DataFrame = {
    // Staged: the AUC branch (distinct-score cumsum) and the
    // confusion branch both consume `base`, and without a
    // materialization each re-runs the caller's ENTIRE scoring
    // pipeline (q112's NB fit ran twice, measured). The projection is
    // 3 narrow columns — the "decide with small rows" proxy table.
    val base = Parallelism.stage(scored.select(
      Quality.fixedPoint9(col(scoreCol)).as("s9k"),
      col(predCol).cast("int").as("pred"),
      col(labelCol).cast("int").as("y")))
    val g = base.groupBy("s9k").agg(
      sum(col("y")).cast("long").as("pos_k"),
      (count(lit(1)) - sum(col("y"))).cast("long").as("neg_k"))
    val cum = Packing.globalCumsum(g, Seq("s9k"), "neg_k")
    val aucAgg = cum.agg(
      sum("pos_k").cast("long").as("n_pos"),
      sum("neg_k").cast("long").as("n_neg"),
      sum(col("pos_k").cast("decimal(19,0)") *
        (col("cum") * 2L + col("neg_k")).cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("num"))
    val conf = base.agg(
      count(lit(1)).cast("long").as("n"),
      confusionAggs: _*)
    conf.crossJoin(broadcast(aucAgg)) // both sides are single rows
      .select(metricCols(Nil): _*)
  }

  /** Per-group [[classifierMetrics]] — the slice report a filter
    * ships with (macro metrics by source, language, time bucket …):
    * one row per `groupCol` value with exactly the corpus-level
    * columns. Same grouped rank-sum AUC, but the negative prefix sum
    * is a window PARTITIONED by the group — each group's scan
    * parallelizes across groups, so unlike the corpus-level call no
    * distributed prefix sum is needed and nothing single-partitions.
    * Groups with one class get a null AUC (slices too pure to rank).
    */
  def groupedClassifierMetrics(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      predCol: String,
      labelCol: String): DataFrame = {
    // Staged for the same two-consumer reason as [[classifierMetrics]]
    // (per-group AUC branch + confusion branch): without it the
    // caller's whole scoring pipeline runs twice per report.
    val base = Parallelism.stage(scored.select(
      col(groupCol),
      Quality.fixedPoint9(col(scoreCol)).as("s9k"),
      col(predCol).cast("int").as("pred"),
      col(labelCol).cast("int").as("y")))
    val g = base.groupBy(col(groupCol), col("s9k")).agg(
      sum(col("y")).cast("long").as("pos_k"),
      (count(lit(1)) - sum(col("y"))).cast("long").as("neg_k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("s9k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val aucAgg = g
      .withColumn("cum", coalesce(sum("neg_k").over(w), lit(0L)))
      .groupBy(groupCol).agg(
        sum("pos_k").cast("long").as("n_pos"),
        sum("neg_k").cast("long").as("n_neg"),
        sum(col("pos_k").cast("decimal(19,0)") *
          (col("cum") * 2L + col("neg_k")).cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("num"))
    val conf = base.groupBy(groupCol).agg(
      count(lit(1)).cast("long").as("n"),
      confusionAggs: _*)
    conf.join(aucAgg, Seq(groupCol)) // group-keyed, co-partitioned
      .select(metricCols(Seq(groupCol)): _*)
  }

  private def confusionAggs: Seq[Column] = Seq(
    sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
    sum(when(col("pred") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
    sum(when(col("pred") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
    sum(when(col("pred") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"))

  private def metricCols(keep: Seq[String]): Seq[Column] = {
    val prec = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
    val rec = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
    keep.map(col) ++ Seq(
      col("n"), col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0L && col("n_neg") > 0L,
        round(col("num").cast("double") /
          (col("n_pos").cast("double") * col("n_neg").cast("double") * 2.0), 6))
        .as("auc"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      round((col("tp") + col("tn")).cast("double") / col("n").cast("double"), 6)
        .as("accuracy"),
      when(col("tp") + col("fp") > 0L, round(prec, 6)).as("precision"),
      when(col("tp") + col("fn") > 0L, round(rec, 6)).as("recall"),
      when(col("tp") + col("fp") > 0L && col("tp") + col("fn") > 0L &&
        col("tp") > 0L,
        round(lit(2.0) * prec * rec / (prec + rec), 6))
        .when(col("tp") + col("fp") > 0L && col("tp") + col("fn") > 0L,
          lit(0.0))
        .as("f1"))
  }

  /** Corpus-level summary of [[retrievalMetrics]]: unweighted means
    * over queries (the standard headline numbers), plus the query
    * count. Means accumulate in fixed point over the 6dp-rounded
    * per-query metrics, so the summary is as engine-portable as the
    * rows it summarizes. */
  def retrievalSummary(perQuery: DataFrame): DataFrame =
    perQuery.agg(
      count(lit(1)).cast("long").as("n_queries"),
      round(Quality.fromFixedPoint9(
        sum(Quality.fixedPoint9(col("recall")))) /
        count(lit(1)).cast("double"), 6).as("mean_recall"),
      round(Quality.fromFixedPoint9(
        sum(Quality.fixedPoint9(col("mrr")))) /
        count(lit(1)).cast("double"), 6).as("mean_mrr"),
      round(Quality.fromFixedPoint9(
        sum(Quality.fixedPoint9(col("ndcg")))) /
        count(lit(1)).cast("double"), 6).as("mean_ndcg"))

  /** Calibration report + ECE terms — the reliability diagram of a
    * score-producing filter (Guo et al. 2017's evaluation protocol,
    * over the classical equal-frequency binning): documents rank into
    * `nBins` equal-frequency bins by score (ntile over the 6dp-rounded
    * score with the id as the tiebreak — the [[Quality.qualityBuckets]]
    * determinism recipe, so bin membership is exact and
    * engine-portable), and each bin reports its size, CONFIDENCE (mean
    * predicted probability, sigmoid of the log-odds score accumulated
    * in fixed point) and ACCURACY (empirical positive rate). A
    * well-calibrated filter has conf ≈ acc in every bin; the gap
    * column is the bin's ECE contribution before weighting —
    * ECE = Σ_b (n_b / N) · gap_b, left to the consumer so slices can
    * be re-weighted.
    *
    * AUC (already in [[classifierMetrics]]) measures RANKING; this
    * measures whether the scores mean what they claim — the check
    * that gates using a filter's score as a sampling weight or a
    * mixture temperature rather than just a threshold.
    *
    * Scale shape: one row per document into an `nBins`-sized
    * aggregate; the ntile's single-partition window carries only
    * (score9, id, y) — but a single partition is still a single
    * partition, so inputs past [[MaxExactCalibrationRows]] are
    * REFUSED unless `allowExact = true` (hatched callers skip the
    * guard's count job, so their plan is byte-identical to the
    * unguarded original). At 100 TB the swap is frozen PSI-style
    * cut-points ([[PsiStore]]) via [[calibrationAtCuts]], which this
    * report's bin semantics deliberately match (equal-frequency on
    * the reference).
    *
    * Output: (bin, n, conf, acc, gap), bin 1..nBins ascending score.
    */
  def calibration(
      scored: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      nBins: Int = 10,
      allowExact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val narrow = scored.select(
      col(idCol).as("id"),
      round(col(scoreCol).cast("double"), 6).as("s6"),
      col(labelCol).cast("int").as("y"))
    // The guard's count and the binned report share ONE
    // materialization of the 3-column projection: counting the raw
    // frame would re-run the caller's whole scoring pipeline (q132's
    // NB fit) a second time for the report. A guard-tripping caller
    // materializes the projection before the refusal fires — bounded
    // embarrassment, and the 100-TB caller is told to be on
    // calibrationAtCuts regardless.
    val base = if (allowExact) narrow else {
      val staged = Parallelism.stage(narrow)
      val n = staged.count()
      require(n <= MaxExactCalibrationRows,
        s"calibration's equal-frequency ntile carries every input row through " +
          s"ONE partition and the input has $n rows (guard cap " +
          s"$MaxExactCalibrationRows). Freeze cut-points (Quantiles.exactQuantiles " +
          "or a PsiStore) and use calibrationAtCuts for the zero-window scale " +
          "path, or pass allowExact = true if the single-partition sort is intended.")
      staged
    }
    val binned = base.withColumn("bin",
      ntile(nBins).over(Window.orderBy(col("s6"), col("id"))))
    binned
      .select(col("bin"), col("y"),
        Quality.fixedPoint9(lit(1.0) / (lit(1.0) + exp(col("s6") * -1))).as("p9"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("p9")).as("p9sum"),
        sum(col("y")).cast("long").as("n_pos"))
      .select(col("bin"), col("n"),
        round(Quality.fromFixedPoint9(col("p9sum")) / col("n").cast("double"), 6)
          .as("conf"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6).as("acc"))
      .withColumn("gap", round(abs(col("conf") - col("acc")), 6))
  }

  /** [[calibration]] against FROZEN cut-points — the 100-TB path the
    * equal-frequency report's scale note promises. Bin assignment is
    * a zero-exchange projection (`1 + #cuts strictly below the
    * score`, scores rounded to the same 1e-6 grid as
    * [[calibration]]), so no single-partition window ever carries
    * per-document rows; the only exchange is the nBins-sized final
    * aggregate. `cuts` come from wherever the reference distribution
    * was frozen — [[Quantiles.exactQuantiles]] boundaries or a
    * [[PsiStore]]'s cut-points — and a score EQUAL to a cut lands in
    * the bin the cut closes, matching ntile when each cut is its
    * bin's maximum element. Output schema identical to
    * [[calibration]]; bins with no rows are absent (the frozen cuts
    * name nBins = cuts.length + 1 possible bins, arrivals may miss
    * some). */
  def calibrationAtCuts(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty, "calibrationAtCuts requires at least one cut-point")
    require(cuts == cuts.sorted, "cut-points must be ascending")
    val s6 = round(col(scoreCol).cast("double"), 6)
    val bin = cuts.map(c => when(s6 > round(lit(c), 6), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    scored
      .select(bin.as("bin"),
        col(labelCol).cast("int").as("y"),
        Quality.fixedPoint9(lit(1.0) / (lit(1.0) + exp(s6 * -1))).as("p9"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("p9")).as("p9sum"),
        sum(col("y")).cast("long").as("n_pos"))
      .select(col("bin"), col("n"),
        round(Quality.fromFixedPoint9(col("p9sum")) / col("n").cast("double"), 6)
          .as("conf"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6).as("acc"))
      .withColumn("gap", round(abs(col("conf") - col("acc")), 6))
  }
}
