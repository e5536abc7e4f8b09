package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TermCounts, TextFunctions}
import graft.io.BucketedTable

/** Persisted FROZEN Naive Bayes model: fit the class-conditional
  * unigram histograms once on a labeled reference corpus, score
  * arriving batches forever after without re-reading it — the
  * incremental sibling of [[Quality.naiveBayesLogOdds]] (whose model
  * is fit on the scoring corpus), exactly as [[LmStore]] is to
  * [[Quality.unigramLogprob]]. This is the production shape of the
  * fastText-style quality filter: the classifier is trained on a
  * trusted labeled snapshot and FROZEN, so a batch's scores never
  * shift because other batches arrived, and scoring cost is
  * O(batch), not O(corpus + batch).
  *
  * Layout: `$path/model` — the (tok, pos, neg) count table bucketed
  * by `tok`, so the scoring join probes it exchange-free (the store
  * side never reshuffles; the fingerprint/band/posting/LM store
  * contract) — plus `_nb_store.json` ([[BucketedTable.createAt]])
  * carrying the five scalars the score expression needs (class token
  * totals, vocab size, class doc counts for the prior) and the schema
  * DDL for re-attach.
  *
  * Scoring semantics: identical expression tree to
  * `naiveBayesLogOdds` with the frozen counts. Unlike the LM store,
  * NB's Laplace smoothing prices unseen tokens by construction — an
  * OOV token scores as a zero-count token on BOTH sides,
  * ln(1/(T⁺+V)) − ln(1/(T⁻+V)) — so OOV mass shifts the odds toward
  * the class with the larger smoothed denominator rather than being
  * dropped; it is still COUNTED (n_oov) so a gate can distinguish
  * "off-seed vocabulary" from "seed-unlike mix of known tokens". On
  * the fitting corpus itself, `score` ≡ `naiveBayesLogOdds` with
  * n_oov = 0 (QualitySpec pins the equality).
  *
  * Output: (doc_id, n_tokens, n_oov, log_odds, predicted).
  */
object NbStore {

  private val layout = BucketedTable.Layout("nb_store", "model", "_nb_store.json", "tok")

  /** `buckets` 0 = session-derived ([[BucketedTable.defaultBuckets]]). */
  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      isSeed: Column,
      path: String,
      buckets: Int = 0): String = {
    // Row-local per-doc counts ([[TermCounts]] — the naiveBayesLogOdds
    // recipe): no corpus exchange for the row-unique (doc, is_seed) key.
    val pd = Parallelism.ensure(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), isSeed.as("is_seed"),
        TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("is_seed"),
        explode(TermCounts(col("tk"))).as(Seq("tok", "cnt")))
      .transform(Parallelism.stage) // two consumers: histogram write + doc prior
    val model = pd.groupBy("tok").agg(
      sum(when(col("is_seed"), col("cnt")).otherwise(0L)).as("pos"),
      sum(when(!col("is_seed"), col("cnt")).otherwise(0L)).as("neg"))
    BucketedTable.createAt(spark, layout, path, model, buckets) { table =>
      // totals from the WRITTEN table (one pass over the vocab-bounded
      // store), doc counts from the checkpointed per-doc table
      val t = spark.table(table).agg(
        coalesce(sum(col("pos")), lit(0L)).cast("long"),
        coalesce(sum(col("neg")), lit(0L)).cast("long"),
        count(lit(1)).cast("long")).head()
      val d = pd.select("doc_id", "is_seed").distinct().agg(
        sum(when(col("is_seed"), 1L).otherwise(0L)).cast("long"),
        sum(when(!col("is_seed"), 1L).otherwise(0L)).cast("long")).head()
      val (npos, nneg) = (d.getLong(0), d.getLong(1))
      require(npos > 0L && nneg > 0L,
        s"NbStore.createAt: both classes must be non-empty (seed docs $npos, rest $nneg)")
      Seq("tpos" -> t.getLong(0), "tneg" -> t.getLong(1), "v" -> t.getLong(2),
        "npos" -> npos, "nneg" -> nneg)
    }
  }

  /** Re-attach in a fresh session:
    * (table, tpos, tneg, v, npos, nneg). */
  def attach(spark: SparkSession, path: String): (String, Long, Long, Long, Long, Long) = {
    val (table, m) = BucketedTable.attach(spark, layout, path)
    (table, m.long("tpos"), m.long("tneg"), m.long("v"), m.long("npos"), m.long("nneg"))
  }

  /** Score a batch under the frozen model at `path`. */
  def score(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val (table, tpos, tneg, v, npos, nneg) = attach(spark, path)
    require(v > 0L, s"NB store at $path is empty — fit it on a labeled corpus first")
    // Row-local batch counts ([[TermCounts]]): the only exchanges the
    // probe pays are the bucketed-model join and the per-doc sum.
    val pd = Parallelism.ensure(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(TermCounts(col("tk"))).as(Seq("tok", "cnt")))
    // ONE weight expression covers in-vocab and OOV: Laplace treats an
    // unseen token as a zero-count token (coalesce), the same
    // float-op order as naiveBayesLogOdds so the oracle transcribes it
    val w = log((coalesce(col("pos"), lit(0L)) + 1).cast("double") /
        lit(tpos + v).cast("double")) -
      log((coalesce(col("neg"), lit(0L)) + 1).cast("double") /
        lit(tneg + v).cast("double"))
    val prior = math.log(npos.toDouble / nneg.toDouble)
    val raw = lit(prior) + Quality.fromFixedPoint9(col("s9"))
    pd
      .join(spark.table(table), Seq("tok"), "left")
      .select(col("doc_id"), col("cnt"), col("pos"),
        Quality.fixedPoint9(col("cnt").cast("double") * w).as("ts9"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("long").as("n_tokens"),
        sum(when(col("pos").isNull, col("cnt")).otherwise(0L)).cast("long").as("n_oov"),
        sum(col("ts9")).as("s9"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(raw, 6).as("log_odds"),
        (raw > 0).cast("int").as("predicted"))
  }
}
