package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.functions.{KllSketch, KllSketchAgg}

/** EXACT distributed quantiles over an unbounded double domain —
  * sketch-guided selection, never a global sort. [[Quality]]'s q64
  * histogram needs a bounded integer domain; score/norm distributions
  * don't have one, and the naive alternative (`ORDER BY` + pick rank
  * r) funnels the corpus through one task. The shape here is the
  * CMS heavy-hitter gate transplanted to ranks:
  *
  *   1. ONE pass builds a mergeable [[KllSketch]]
  *      (`TypedImperativeAggregate`, O(k·log n) buffer) + the exact
  *      row count.
  *   2. For each requested quantile rank r = ⌈q·N⌉, the sketch's
  *      weighted items BRACKET the rank-r element: lo = largest item
  *      with estRank < r − slack, hi = smallest with
  *      estRank > r + slack. The bracket is O(slack) rows by the
  *      sketch's rank guarantee.
  *   3. An exact confirm pass counts rows ≤ lo and prefix-sums the
  *      bracket's per-value counts ([[Packing.globalCumsum]] — the
  *      bucketed two-phase shape, no single-partition window); the
  *      answer is the smallest bracket value whose cumulative count
  *      reaches r. The counts are EXACT, so if they disprove the
  *      bracket (sketch bound violated — cannot happen within the
  *      slack analysis, but the check costs one comparison) the
  *      bracket widens to the full domain and the same selection
  *      re-runs: the output is the element at rank r by
  *      construction, independent of sketch quality.
  *
  * Output: one row per requested quantile — (quantile, value), where
  * value IS an element of the column (discrete quantile, the
  * `row_number() = ⌈q·N⌉` element), matching what a SQL engine's
  * exact rank selection returns.
  */
object Quantiles {

  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double],
      k: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1], got $qs")
    val spark = df.sparkSession
    // staged: the sketch pass plus one confirm pass per quantile all
    // read this projection
    val vals = Parallelism.stage(
      df.filter(col(valueCol).isNotNull)
        .select(col(valueCol).cast("double").as("v")))
    val head = vals.agg(
      count(lit(1)).as("n"),
      KllSketchAgg.kllSketch(col("v"), k).as("sk")).head()
    val n = head.getLong(0)
    require(n > 0L, "exactQuantiles over an empty column")
    val sketch = KllSketch.deserialize(head.getAs[Array[Byte]](1))
    val items = sketch.weightedItems
    val slack = sketch.rankSlack

    def pick(r: Long, lo: Double, hi: Double): Option[Double] = {
      val below = vals.filter(col("v") <= lit(lo))
        .agg(count(lit(1))).head().getLong(0)
      val bracket = vals
        .filter(col("v") > lit(lo) && col("v") <= lit(hi))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val hit = Packing.globalCumsum(bracket, Seq("v"), "cnt")
        .filter(lit(below) + col("cum") + col("cnt") >= lit(r))
        .agg(min(col("v"))).head()
      if (below >= r || hit.isNullAt(0)) None else Some(hit.getDouble(0))
    }

    // Per-rank brackets from the sketch's weighted CDF (unchanged
    // arithmetic), then ONE shared confirm over the UNION of the
    // brackets instead of one below-count + one cumsum JOB CHAIN per
    // quantile: the per-q chains dominated fit cost as small-job
    // latency (4 quantiles ≈ 14 jobs; now ~6 independent of |qs|).
    // For v ∈ (lo_q, hi_q] every value in (lo_q, v] is inside the
    // union (the q-bracket is one of its intervals), so the per-q
    // exclusive in-bracket prefix is exactly cumU(v) − cumU@lo_q and
    // the selected element is identical to the per-q pass's.
    val ranks = qs.sorted.map { q =>
      val r = math.max(1L, math.ceil(q * n).toLong)
      var cum = 0L
      var lo = Double.NegativeInfinity
      var hi = Double.PositiveInfinity
      items.foreach { case (v, w) =>
        cum += w
        if (cum < r - slack) lo = v
        if (cum > r + slack && hi == Double.PositiveInfinity) hi = v
      }
      (q, r, lo, hi)
    }
    // one job: full-column count ≤ lo per distinct lo (conditional sums)
    val los = ranks.map(_._3).distinct
    val belowRow = vals.agg(
      count(lit(1)).as("_all"),
      los.zipWithIndex.map { case (lo, i) =>
        sum(when(col("v") <= lit(lo), 1L).otherwise(0L)).cast("long").as(s"b$i")
      }: _*).head()
    val belowOf = los.zipWithIndex.map { case (lo, i) =>
      lo -> belowRow.getLong(belowRow.fieldIndex(s"b$i"))
    }.toMap
    // one cumsum over the union bracket, staged: |qs| pick aggregates
    // and the union-restricted lo offsets all read it
    val unionPred = ranks.map { case (_, _, lo, hi) =>
      col("v") > lit(lo) && col("v") <= lit(hi)
    }.reduce(_ || _)
    val cumU = Packing.globalCumsum(
      vals.filter(unionPred).groupBy(col("v")).agg(count(lit(1)).as("cnt")),
      Seq("v"), "cnt").transform(Parallelism.stage)
    // one job: union-bracket count ≤ lo per distinct lo
    val cumAtRow = cumU.agg(
      count(lit(1)).as("_all"),
      los.zipWithIndex.map { case (lo, i) =>
        coalesce(sum(when(col("v") <= lit(lo), col("cnt")).otherwise(0L)), lit(0L))
          .cast("long").as(s"c$i")
      }: _*).head()
    val cumAtLo = los.zipWithIndex.map { case (lo, i) =>
      lo -> cumAtRow.getLong(cumAtRow.fieldIndex(s"c$i"))
    }.toMap
    val rows = ranks.map { case (q, r, lo, hi) =>
      val below = belowOf(lo)
      val hit =
        if (below >= r) None
        else {
          val h = cumU
            .filter(col("v") > lit(lo) && col("v") <= lit(hi) &&
              lit(below) + (col("cum") - lit(cumAtLo(lo))) + col("cnt") >= lit(r))
            .agg(min(col("v"))).head()
          if (h.isNullAt(0)) None else Some(h.getDouble(0))
        }
      val value = hit.getOrElse {
        // exact counts disproved the bracket — correctness never
        // depends on the sketch: select over the full domain
        pick(r, Double.NegativeInfinity, Double.PositiveInfinity)
          .getOrElse(sys.error(s"rank $r unreachable over $n rows"))
      }
      Row(q, value)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("quantile", DoubleType, nullable = false),
        StructField("value", DoubleType, nullable = false))))
  }
}
