package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.StoreMeta

/** Persisted FROZEN score-distribution reference for PSI monitoring —
  * the Population Stability Index, the standard production drift
  * metric for model scores and numeric quality features (Siddiqi,
  * "Credit Risk Scorecards", the industry-canonical definition):
  * fit quantile cut-points ONCE on a reference snapshot, freeze them,
  * then bin every arriving batch under the FROZEN cuts and compare
  * bin shares — PSI_b = (arr_b − ref_b) · ln(arr_b / ref_b), summed
  * over bins. The distribution-drift member of the frozen-store
  * family: [[LmStore]] watches vocabulary, [[TokStore]] fertility,
  * [[LangIdStore]] language mix; this watches any numeric column
  * (embedding norms, quality scores, document lengths). Rule of
  * thumb: Σ PSI < 0.1 stable, 0.1–0.25 investigate, > 0.25 the
  * population has shifted.
  *
  * Cut-points come from [[Quantiles.exactQuantiles]] — EXACT rank
  * elements of the snapshot (sketch-bracketed, exact-confirmed), so
  * the frozen boundaries are actual data values and replay exactly in
  * SQL (`row_number() = ⌈q·N⌉`). Binning: bin(v) = |{cuts c : v > c}|
  * — a value equal to a cut falls in the LOWER bin; every comparison
  * is on 6dp-rounded doubles, engine-portable.
  *
  * Layout under `path`:
  *   - `cuts` — (q, value), the frozen boundaries (bins = cuts+1 rows
  *     of driver-bounded size);
  *   - `ref` — (bin, n_ref) the snapshot's bin counts;
  *   - `_psi_store.json` — snapshot row count for introspection
  *     (written by [[graft.io.StoreMeta]]).
  *
  * Scale shape: fitting costs the exactQuantiles passes over the
  * snapshot (once, ever); monitoring is one narrow binning projection
  * (cuts ride as a literal) plus a bins-sized aggregate — O(batch),
  * the snapshot never re-read. Empty-in-arrival bins keep their row
  * (share 0 — vanishing mass IS drift); psi_term is null when either
  * share is 0 (the log is undefined; consumers treat those bins as
  * categorical alarms, not additive terms).
  *
  * Output of [[psi]]: (bin, lo, hi, n_ref, ref_share, n_arr, share,
  * psi_term) — one row per frozen bin, lo/hi the bin's boundaries
  * (null at the open ends).
  */
object PsiStore {

  def createAt(
      spark: SparkSession,
      values: DataFrame,
      valueCol: String,
      path: String,
      qs: Seq[Double] = Seq(0.2, 0.4, 0.6, 0.8)): Unit = {
    require(qs == qs.sorted && qs.distinct == qs,
      s"quantiles must be strictly increasing, got $qs")
    // NOT staged here: exactQuantiles stages its own copy of the
    // projection for its sketch+confirm passes, and staging twice
    // would pin two persistent duplicates of the reference column for
    // the life of the session. The two narrow re-reads below (binning
    // + count) are fit-time-only cost.
    val vals = values.filter(col(valueCol).isNotNull)
      .select(round(col(valueCol).cast("double"), 6).as("v"))
    val cuts = Quantiles.exactQuantiles(vals, "v", qs)
    cuts.coalesce(1).write.mode("overwrite").parquet(s"$path/cuts")
    val cutVals = cuts.orderBy("quantile").collect().map(_.getDouble(1)).toSeq
    val total = vals.count()
    binned(vals, "v", cutVals)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/ref")
    StoreMeta.write(spark, s"$path/_psi_store.json",
      "n_ref" -> total, "bins" -> (cutVals.size + 1))
  }

  /** bin(v) = number of frozen cuts strictly below v (ties go LOW). */
  private def binned(df: DataFrame, vCol: String, cuts: Seq[Double]): DataFrame =
    df.withColumn("bin",
      cuts.map(c => when(col(vCol) > lit(c), 1).otherwise(0))
        .reduce(_ + _).cast("int"))

  /** (frozen cut values in q order, reference bin counts). */
  def attach(spark: SparkSession, path: String): (Seq[Double], DataFrame) =
    (spark.read.parquet(s"$path/cuts").orderBy("quantile").collect()
      .map(_.getDouble(1)).toSeq,
      spark.read.parquet(s"$path/ref"))

  /** PSI report of an arriving batch against the frozen reference. */
  def psi(
      spark: SparkSession,
      path: String,
      values: DataFrame,
      valueCol: String): DataFrame = {
    val (cuts, ref) = attach(spark, path)
    val vals = values.filter(col(valueCol).isNotNull)
      .select(round(col(valueCol).cast("double"), 6).as("v"))
    import spark.implicits._
    // ONE pass over the batch: the binned aggregate is bins-sized by
    // contract, so it collects; the total falls out of the same rows
    // (computing it with a second .agg would re-scan and re-bin the
    // whole batch). Same for the bins-sized ref table.
    val arrRows = binned(vals, "v", cuts)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_arr"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val refRows = ref.collect()
      .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).longValue)).toSeq
    val arr = arrRows.toDF("bin", "n_arr")
    val refDf = refRows.toDF("bin", "n_ref")
    val boundsDf = (0 to cuts.size).map { i =>
      (i,
        if (i == 0) null else java.lang.Double.valueOf(cuts(i - 1)),
        if (i == cuts.size) null else java.lang.Double.valueOf(cuts(i)))
    }.toDF("bin", "lo", "hi")
    val refTot = refRows.map(_._2).sum
    val arrTot = arrRows.map(_._2).sum
    require(refTot > 0L, s"PSI store at $path has an empty reference")
    val refShare = col("n_ref").cast("double") / lit(refTot).cast("double")
    val arrShare = col("n_arr").cast("double") / lit(arrTot).cast("double")
    broadcast(boundsDf)
      .join(broadcast(refDf), Seq("bin"), "left")
      .join(broadcast(arr), Seq("bin"), "left")
      .select(col("bin"), col("lo"), col("hi"),
        coalesce(col("n_ref"), lit(0L)).cast("long").as("n_ref"),
        coalesce(col("n_arr"), lit(0L)).cast("long").as("n_arr"))
      .select(col("bin"), col("lo"), col("hi"), col("n_ref"),
        round(refShare, 6).as("ref_share"),
        col("n_arr"),
        when(lit(arrTot) > 0L, round(arrShare, 6)).otherwise(lit(0.0)).as("share"),
        when(col("n_ref") > 0L && col("n_arr") > 0L && lit(arrTot) > 0L,
          round((arrShare - refShare) * log(arrShare / refShare), 6))
          .as("psi_term"))
  }
}
