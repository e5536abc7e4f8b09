package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AnnKernels, KllSketch, Md5Prefix64, TextFunctions}

/** The declarative forms that native kernels and fast paths replaced.
  * Each is the reference its product twin is parity-pinned against
  * (ExpressionParitySpec, PropertySpec), and the arithmetic the DuckDB
  * oracles transcribe. Nothing in the engine runs them.
  */
object ParityOracles {

  /** Lowercased whitespace tokens, empty ones removed: the reference
    * for [[TextFunctions.tokens]] (`regex_tokens`). */
  def tokensHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Space-joined word n-grams: the reference for
    * [[TextFunctions.wordNgrams]] (`word_ngrams`). */
  def wordNgramsHof(toks: Column, n: Int): Column =
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Character k-shingles of a string. */
  def charShingles(text: Column, k: Int): Column =
    when(
      length(text) >= k,
      transform(
        sequence(lit(0), length(text) - k),
        i => text.substr(i + lit(1), lit(k))))
      .otherwise(array().cast("array<string>"))

  /** md5-prefix hash per char k-shingle: the reference for
    * [[TextFunctions.rollingHashes]] (`rolling_hashes`). */
  def rollingHashesHof(text: Column, k: Int): Column =
    transform(charShingles(text, k), s => Md5Prefix64(s))

  /** Distinct minima of every `w`-window, O(len·w): the reference for
    * [[TextFunctions.winnowFromHashes]] (`winnow_minima`). */
  def winnowFromHashesHof(hashes: Column, w: Int): Column =
    when(size(hashes) >= w,
      array_distinct(transform(
        sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + 1, lit(w))))))
      .when(size(hashes) > 0, array(array_min(hashes)))
      .otherwise(array().cast("array<long>"))

  /** (band, md5 of the band's signature slice) per band: the reference
    * for [[graft.dedup.Dedup.bandBuckets]] (`band_buckets`). */
  def bandBucketsHof(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { bIdx =>
      val comps = (bIdx * rowsPerBand until (bIdx + 1) * rowsPerBand)
        .map(i => element_at(sig, i + 1))
      struct(lit(bIdx).as("band"), md5(concat_ws("_", comps: _*)).as("bucket"))
    }: _*)
  }

  /** All padded 2- and 3-grams of a token array: the reference for
    * [[graft.functions.PaddedCharGrams]]. */
  def gramsHof(tokens: Column): Column = {
    def gramsOf(tok: Column, n: Int): Column = {
      val padded = concat(lit("_"), tok, lit("_"))
      transform(sequence(lit(1), length(padded) - (n - 1)),
        i => padded.substr(i, lit(n)))
    }
    flatten(transform(tokens, t => concat(gramsOf(t, 2), gramsOf(t, 3))))
  }

  /** Hyperplane LSH signature with the plane matrix as a literal: the
    * reference for [[graft.functions.HyperplaneSignature]]
    * (`hyperplane_sig`). */
  def lshSignatureHof(vec: Column, dim: Int, bits: Int, table: Int = 0): Column = {
    val planes: Seq[Seq[Double]] =
      (0 until bits).map(i => (0 until dim).map(j => AnnKernels.planeComponent(table, i, j)))
    val v = vec.cast("array<double>")
    val dots = transform(typedlit(planes), p =>
      aggregate(zip_with(v, p, (x, c) => x * c), lit(0.0), (acc, d) => acc + d))
    aggregate(
      zip_with(dots, sequence(lit(0), lit(bits - 1)), (d, i) =>
        when(d >= 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** Every cell as a (squared integer L2 dist, cell) struct, sorted,
    * so ties go to the lower cell: the reference for
    * [[graft.functions.IvfNearestCells]] (`ivf_nearest_cells`). */
  def nearestCellsHof(qv: Column, centroidsLit: Column, nlist: Int): Column = {
    def intDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, d) => acc + d)
    array_sort(zip_with(
      centroidsLit,
      sequence(lit(0), lit(nlist - 1)),
      (c, i) => struct(intDist(qv, c).as("dist"), i.as("cell"))))
  }

  /** Per-document BPE piece counts by the fold of
    * [[graft.ops.Quality.applyMerge]]: the reference for
    * [[graft.ops.Quality.bpeEncode]]'s `BpePieces` kernel. */
  def bpeEncodeHof(docs: DataFrame, merges: Seq[graft.ops.Quality.BpeMerge]): DataFrame = {
    val encodedTok = (t: Column) => {
      val chars = filter(split(t, ""), s => s =!= "")
      merges.foldLeft(chars)((syms, m) => graft.ops.Quality.applyMerge(syms, m.left, m.right))
    }
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        aggregate(transform(col("tk"), t => size(encodedTok(t)).cast("long")),
          lit(0L), (acc, n) => acc + n).as("n_pieces"))
  }

  /** Expand-join-window language classification: the reference for
    * [[graft.ops.LangId.classify]]'s `CtBestLang` projection. It
    * expands every document profile × |langs|. */
  def classifyJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      profiles: DataFrame,
      topM: Int = 64): DataFrame = {
    import graft.ops.LangId.{gramCounts, rankTop}
    val docProf = rankTop(
      gramCounts(docs.select(col(idCol).as("doc_id"), col(textCol)),
        Seq("doc_id"), textCol), "doc_id", topM)
    val langs = profiles.select(col("lang")).distinct()
    val dist = docProf
      .join(broadcast(langs))
      .join(broadcast(profiles.select(col("lang"), col("gram"),
        col("rank").as("lrank"))), Seq("lang", "gram"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(coalesce(abs(col("rank") - col("lrank")), lit(topM)))
        .cast("long").as("distance"))
    dist
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("distance"), col("lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("distance"))
  }

  /** [[graft.dedup.Dedup.splitLeakage]] with exhaustive pair
    * generation ([[graft.dedup.Dedup.ngramJaccardPairs]]): recall 1.0
    * by construction, the truth the banded audit is checked against. */
  def splitLeakageExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      splits: DataFrame,
      n: Int = 2,
      threshold: Double = 0.8,
      maxDocFreq: Long = 100L): DataFrame =
    graft.dedup.Dedup.labelPairsBySplit(
      graft.dedup.Dedup.ngramJaccardPairs(docs, idCol, textCol, n, threshold, maxDocFreq),
      splits, idCol)

  /** A KLL sketch's rank estimate of `v`: Σ_h 2^h·|{x ∈ level_h : x ≤ v}|. */
  def estRank(sk: KllSketch, v: Double): Long =
    sk.levels.zipWithIndex.map { case (level, h) => level.count(_ <= v).toLong << h }.sum
}
