package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** The build/probe split of every persisted-store-backed gate query,
  * measured by [[Bench]]'s store stage: each store's build timed once
  * (`probe_build`, once-per-release work) and the monitoring probe
  * alone per gate row (`probe_official`).
  *
  * Same splits, same store parameters, same probe
  * bodies as the gate queries in [[SparkEntry]] (which keep fitting
  * their stores IN-QUERY so the DuckDB oracle can replay the fit; the
  * probe-only figures exist to report what a production deployment —
  * which pays each build once per corpus release, not per query —
  * would actually pay per batch).
  *
  * `build(spark, sfDir, root)` fits and persists the store artifacts
  * under `root` (a fresh directory per case — the harness owns its
  * lifecycle); `probe(spark, sfDir, root)` is the corresponding gate
  * query's body minus the fit. Two deliberate exceptions to
  * "minus the fit":
  *
  *  - `cal_cuts` (q138): the gate query scores the corpus in-query
  *    because the oracle must replay the scores; in production the
  *    scores are the NB scoring pipeline's OUTPUT (probed separately
  *    as `nb`), so build persists the scored frame and the probe is
  *    the zero-window frozen-cut binning alone — the exact operation
  *    q138 exists to showcase.
  *  - `tfidf`/`tfidf_capped`: q140's in-memory fit has no persisted
  *    artifact; its amortized form is [[graft.ops.PostingStore
  *    .retrieveTfidf]] under [[graft.ops.PostingStore.freezeNorms]]
  *    (the q141 gate row), bit-identical by the shared-expression
  *    contract — so q140/q141's probe figures come from the store
  *    path.
  */
object StoreProbes {

  final case class StoreProbe(
      name: String,
      gateQuery: String,
      build: (SparkSession, String, String) => Unit,
      probe: (SparkSession, String, String) => DataFrame)

  /** Parallelism.ensure: the gate queries' shape (q49/q92/q136 all
    * stage the documents read the same way). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Parallelism.ensure(Tables.documents(s, dir))

  private def norms(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .select(col("vec_id"), round(sqrt(dot(col("vd"), col("vd"))), 6).as("norm"))
  }

  /** q133's arrivals: every even id carries one genuinely new token. */
  private def hllArrivals(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 25 === 0)
      .withColumn("text", when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" nw"), col("doc_id").cast("string")))
        .otherwise(col("text")))

  private def bm25Queries(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"), col("text"))

  val all: Seq[StoreProbe] = Seq(
    StoreProbe("posting", "q92_bm25_indexed",
      (s, dir, root) => graft.ops.PostingStore.create(
        docs(s, dir).filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
        s"$root/posting"),
      (s, dir, root) => graft.ops.PostingStore.retrieve(
        s, s"$root/posting", bm25Queries(s, dir), k = 10)),
    // q137: the SAME store as q92 probed under the maxTermDf hatch —
    // the capped probe's saving is measured against the same artifact.
    StoreProbe("posting_capped", "q137_bm25_capped",
      (s, dir, root) => graft.ops.PostingStore.create(
        docs(s, dir).filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
        s"$root/posting"),
      (s, dir, root) => graft.ops.PostingStore.retrieve(
        s, s"$root/posting", bm25Queries(s, dir), k = 10, maxTermDf = 375L)),
    // q141/q140: posting store + frozen tf-idf norms; probe =
    // bucket-pruned scans + frozen-norm attach (uncapped / capped).
    StoreProbe("tfidf", "q141_tfidf_indexed",
      (s, dir, root) => {
        graft.ops.PostingStore.create(
          docs(s, dir).filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
          s"$root/posting")
        graft.ops.PostingStore.freezeNorms(s, s"$root/posting")
      },
      (s, dir, root) => graft.ops.PostingStore.retrieveTfidf(
        s, s"$root/posting", bm25Queries(s, dir), k = 10)),
    StoreProbe("tfidf_capped", "q140_tfidf_capped",
      (s, dir, root) => {
        graft.ops.PostingStore.create(
          docs(s, dir).filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
          s"$root/posting")
        graft.ops.PostingStore.freezeNorms(s, s"$root/posting")
      },
      (s, dir, root) => graft.ops.PostingStore.retrieveTfidf(
        s, s"$root/posting", bm25Queries(s, dir), k = 10, maxTermDf = 375L)),
    StoreProbe("lm", "q103_lm_store_score",
      (s, dir, root) => graft.ops.LmStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 =!= 0), s"$root/lm"),
      (s, dir, root) => graft.ops.LmStore.score(
        s, s"$root/lm", docs(s, dir).filter(col("doc_id") % 25 === 0))),
    // q129: the q103 store probed by the vocabulary-aging report.
    StoreProbe("lm_oov", "q129_lm_oov_drift",
      (s, dir, root) => graft.ops.LmStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 =!= 0), s"$root/lm"),
      (s, dir, root) => graft.ops.LmStore.oovReport(
        s, s"$root/lm", hllArrivals(s, dir))),
    StoreProbe("nb", "q110_nb_store_score",
      (s, dir, root) => graft.ops.NbStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 =!= 0),
        isSeed = col("lang") === "en", s"$root/nb"),
      (s, dir, root) => graft.ops.NbStore.score(
        s, s"$root/nb", docs(s, dir).filter(col("doc_id") % 25 === 0))),
    StoreProbe("tok", "q123_tok_store_drift",
      (s, dir, root) => graft.ops.TokStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 === 0), s"$root/tok", nMerges = 5),
      (s, dir, root) => graft.ops.TokStore.fertilityDrift(
        s, s"$root/tok", docs(s, dir).filter(col("doc_id") % 25 =!= 0))),
    StoreProbe("langid", "q127_langid_store_mix",
      (s, dir, root) => graft.ops.LangIdStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 === 0), s"$root/lid", topM = 64),
      (s, dir, root) => graft.ops.LangIdStore.mixDrift(
        s, s"$root/lid", docs(s, dir).filter(col("doc_id") % 25 =!= 0))),
    StoreProbe("psi", "q131_score_psi",
      (s, dir, root) => graft.ops.PsiStore.createAt(
        s, norms(s, dir).filter(col("vec_id") % 5 =!= 0), "norm", s"$root/psi"),
      (s, dir, root) => graft.ops.PsiStore.psi(
        s, s"$root/psi", norms(s, dir).filter(col("vec_id") % 5 === 0), "norm")),
    StoreProbe("hll", "q133_vocab_growth",
      (s, dir, root) => graft.ops.HllStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 =!= 0), s"$root/hll"),
      (s, dir, root) => graft.ops.HllStore.growth(
        s, s"$root/hll", hllArrivals(s, dir))),
    // q135's splits: reference counters frozen on doc_id % 25 != 0,
    // arrivals carry the three planted zz tokens.
    StoreProbe("cms", "q135_hitter_surge",
      (s, dir, root) => graft.ops.CmsStore.createAt(
        s, docs(s, dir).filter(col("doc_id") % 25 =!= 0), s"$root/cms"),
      (s, dir, root) => graft.ops.CmsStore.surge(
        s, s"$root/cms",
        docs(s, dir).filter(col("doc_id") % 25 === 0)
          .withColumn("text", concat(col("text"),
            lit(" zz"), (col("doc_id") % 3).cast("string"))),
        k = 20)),
    // q136's split: the CT language profiles are the build (one
    // (lang, gram) corpus fit, frozen); the probe is the FULL q49
    // curation report consuming them as a zero-exchange projection —
    // the number that shows the 2.4x q49 bench movement of r12 was
    // fit cost riding inside the measured query, not probe cost.
    StoreProbe("curation_lang", "q136_curation_store_lang",
      (s, dir, root) => graft.ops.LangIdStore.createAt(
        s, docs(s, dir), s"$root/curlid", topM = 64),
      (s, dir, root) => SparkEntry.curationReport(docs(s, dir),
        graft.ops.LangIdStore.langColumn(s, s"$root/curlid", col("text")))),
    // q139's split: LangIdStore fit once on the corpus's own labels;
    // probe = frozen classification + the grouped rank-sum eval (the
    // NB scoring inside the eval is probe-side content — q126's body).
    StoreProbe("slice_lang", "q139_slice_eval_store_lang",
      (s, dir, root) => graft.ops.LangIdStore.createAt(
        s, docs(s, dir), s"$root/lid", topM = 64),
      (s, dir, root) => {
        val d = docs(s, dir)
        SparkEntry.predLangSliceEval(d,
          graft.ops.LangIdStore.classify(s, s"$root/lid", d)
            .select(col("doc_id"), col("pred_lang")))
      }),
    // q138's split: the frozen artifacts are the SCORED frame (the NB
    // pipeline's output — its own fit/probe split is the `nb` row)
    // and the PsiStore cut-points; the probe is the zero-window
    // binning alone.
    StoreProbe("cal_cuts", "q138_calibration_frozen",
      (s, dir, root) => {
        val d = docs(s, dir)
        graft.ops.Quality.naiveBayesLogOdds(d, col("lang") === "en")
          .join(d.select(col("doc_id"),
            (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
          .write.mode("overwrite").parquet(s"$root/scored")
        graft.ops.PsiStore.createAt(
          s, s.read.parquet(s"$root/scored").filter(col("doc_id") % 5 =!= 0),
          "log_odds", s"$root/cuts")
      },
      (s, dir, root) => {
        val (cuts, _) = graft.ops.PsiStore.attach(s, s"$root/cuts")
        graft.ops.Eval.calibrationAtCuts(
          s.read.parquet(s"$root/scored").filter(col("doc_id") % 5 === 0),
          "log_odds", "y", cuts)
      }))
}
