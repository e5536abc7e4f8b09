package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.io.StoreMeta

/** Frozen Count-Min-Sketch store + heavy-hitter SURGE alarm — the
  * persisted twin of the q89 CMS heavy-hitters pass, completing the
  * sketch→store family (HLL registers → [[HllStore]], KLL quantiles →
  * [[PsiStore]] cut-points, CMS counters → here): the reference
  * corpus's token-occurrence counts are folded ONCE into a d×w
  * counter matrix (Cormode & Muthukrishnan 2005), persisted tiny
  * (d·w longs), and every arriving batch asks the monitoring
  * question exact counting cannot answer without re-reading the
  * corpus: "which of this batch's top tokens were NOT heavy in the
  * reference?" A token surging past its frozen reference estimate is
  * template spam, a scraper loop, or a new boilerplate family —
  * visible per batch, before any per-document filter fires.
  *
  * Determinism / oracle replay: row r's bucket for token t is
  * `md5_prefix64(r || '_' || t) pmod w` — the engine-portable 60-bit
  * md5 identity every dedup oracle already validates — and the
  * estimate is the integer MIN over the d rows' counters. Counter
  * fit, bucket math, min, and the (count desc, token asc) top-k all
  * replay exactly in SQL (q135's gate).
  *
  * Scale shape: fit is ONE token-count aggregate over the reference
  * (the same pass q48/q89 pay) folded to ≤ d·w rows; the probe is an
  * O(batch) token count, a LIMIT-k head, and a broadcast join
  * against the d·w-row counter table — nothing corpus-sized moves at
  * monitoring time. CMS guarantees estimate ≥ true count, so a
  * LOW `est_ref` is trustworthy evidence of novelty (overestimates
  * can only hide a surge, never invent one — the alarm is
  * conservative in the safe direction).
  */
object CmsStore {

  /** Row-r bucket of a token: the shared md5-prefix identity. */
  private[graft] def bucketOf(row: Int, tok: Column, w: Int): Column =
    pmod(graft.functions.Md5Prefix64(
      concat(lit(row.toString), lit("_"), tok)), lit(w.toLong))

  private def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** Fit the d×w counter matrix on `reference` and persist it at
    * `path` (`counters` parquet + a `_cms_store.json` sidecar, written
    * by [[graft.io.StoreMeta]], with
    * the geometry, so a later session can [[attach]] without knowing
    * it — mismatched d/w would probe buckets the fit never wrote). */
  def createAt(
      spark: SparkSession,
      reference: DataFrame,
      path: String,
      d: Int = 4,
      w: Int = 1024,
      textCol: String = "text"): Unit = {
    require(d >= 1 && d <= 16, s"depth must be in [1, 16], got $d")
    require(w >= 2, s"width must be >= 2, got $w")
    val counts = tokenCounts(reference, textCol)
    val rows = (0 until d).map(r =>
      counts.select(lit(r).as("row"), bucketOf(r, col("tok"), w).as("bucket"), col("c")))
      .reduce(_ unionByName _)
      .groupBy("row", "bucket")
      .agg(sum("c").cast("long").as("cnt"))
    rows.coalesce(1).write.mode("overwrite").parquet(s"$path/counters")
    StoreMeta.write(spark, s"$path/_cms_store.json", "d" -> d, "w" -> w)
  }

  /** Re-attach a persisted store: (counters, (d, w)). */
  def attach(spark: SparkSession, path: String): (DataFrame, (Int, Int)) = {
    val m = StoreMeta.read(spark, s"$path/_cms_store.json")
    (spark.read.parquet(s"$path/counters"), (m.int("d"), m.int("w")))
  }

  /** CMS estimate of the REFERENCE occurrence count for each row of
    * `tokens` (a (tok, …) frame): min over the d rows' counters,
    * absent buckets 0. The frame's other columns ride through the
    * group beside `tok`, so a caller needs no join back to its own
    * rows. `counters` is d·w-sized by construction and rides a
    * broadcast. Output: `tokens`' columns + `est_ref`. */
  private[graft] def estimateRef(
      tokens: DataFrame,
      counters: DataFrame,
      d: Int,
      w: Int): DataFrame = {
    val keys = tokens.columns.toSeq.map(col)
    tokens
      .select(keys :+ explode(array((0 until d).map(r =>
        struct(lit(r).as("row"), bucketOf(r, col("tok"), w).as("bucket"))): _*)).as("rb"): _*)
      .select(keys :+ col("rb.row").as("row") :+ col("rb.bucket").as("bucket"): _*)
      .join(broadcast(counters), Seq("row", "bucket"), "left")
      .groupBy(keys: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).cast("long").as("est_ref"))
  }

  /** The monitoring probe: the batch's top-`k` tokens by exact batch
    * occurrence count (ties to the smaller token — deterministic),
    * each with its frozen-reference CMS estimate and the surge ratio
    * `n_batch / (est_ref + 1)`. A high ratio is a token that is heavy
    * NOW but was not heavy when the store froze; est_ref can only
    * overestimate, so the alarm never fires spuriously from sketch
    * error. Output: (token, n_batch, est_ref, surge_ratio), one row
    * per top-k token. */
  def surge(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (counters, (d, w)) = attach(spark, path)
    val topk = tokenCounts(batch, textCol)
      .orderBy(col("c").desc, col("tok"))
      .limit(k)
      .select(col("tok"), col("c").cast("long").as("n_batch"))
    // n_batch rides THROUGH the estimate (grouped alongside the token)
    // instead of joining topk back against itself — a self-join on the
    // limit would hang a second consumer off the batch-sized count
    // aggregate; this way the corpus-sized work has exactly one
    // consumer and the only join is the broadcast counter lookup
    // (PlanShapeSpec pins the shape).
    estimateRef(topk, counters, d, w)
      .select(col("tok").as("token"), col("n_batch"), col("est_ref"),
        round(col("n_batch").cast("double") /
          (col("est_ref") + lit(1L)).cast("double"), 6).as("surge_ratio"))
  }
}
