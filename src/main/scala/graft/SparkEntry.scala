package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.XenaOps
import graft.io.XenaTsv
import graft.functions.TextFunctions
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.streaming.EventStreams

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-pipeline extensions), each with an
  * equivalent DuckDB oracle in `oracleSql`.
  *
  * Float discipline: any aggregated float compared against the oracle
  * is computed via exact decimal sums cast to double (identical IEEE
  * value in both engines regardless of row order), and explicitly
  * `round(_, 6)` where a transcendental function is involved.
  */
object SparkEntry {

  /** Exact, order-independent sum of a 2dp money column: decimal sum →
    * double. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact sum of quantity-like columns (integral-valued doubles). */
  private def qtySum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact revenue term: extendedprice * (1 - discount) in decimal. */
  private def revenueSum(price: Column, discount: Column): Column =
    sum(price.cast("decimal(18,2)") *
      (lit(1).cast("decimal(12,6)") - discount.cast("decimal(12,6)")))
      .cast("double")

  /** Order-independent mean: exact decimal sum / count. */
  private def exactAvg(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double") / count(c)

  // ---------------------------------------------------------------
  // Query implementations
  // ---------------------------------------------------------------

  /** §2.4 A3/A4 + §2.2 P9-adjacent: filtered group-aggregate with
    * predicate pushdown to the parquet scan (TPC-H Q1 shape). */
  def q01Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        qtySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        revenueSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        exactAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** §2.3 J1/J2: star join through broadcast dimensions. */
  def q02JoinDims(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** §2.3 J6 keep-samples: left-semi join (EXISTS). */
  def q03SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0)
    XenaOps.keepSamples(
      Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
      bigOrders.select("o_custkey"), "o_custkey")
      .select(col("o_custkey").as("c_custkey"), col("c_name"))
  }

  /** §2.3 J6 / §2.6 U3 drop-samples: left-anti join (NOT EXISTS). */
  def q04AntiJoin(s: SparkSession, dir: String): DataFrame =
    XenaOps.dropSamples(
      Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
      Tables.orders(s, dir).filter(col("o_totalprice") > 350000.0).select("o_custkey"),
      "o_custkey")
      .select(col("o_custkey").as("c_custkey"), col("c_name"), col("c_acctbal"))

  /** §2.3 J4/J7: full-outer merge on a shared key (column-family
    * rejoin). */
  def q05FullOuter(s: SparkSession, dir: String): DataFrame = {
    val orderStats = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_f_orders"), moneySum(col("o_totalprice")).as("f_total"))
    val richCust = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey").as("custkey"), col("c_acctbal"))
    XenaOps.mergeHorizontal(Seq(orderStats, richCust), "custkey")
  }

  /** §2.5 V1: long→wide pivot with explicit values (single shuffle). */
  def q06Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(qtySum(col("l_quantity")))

  /** Pan-cancer-width pivot (SURVEY §7.4 risk 1): the two-phase
    * [[XenaOps.pivotMatrixWide]] with `batchSize = 7` so the 25
    * nation-keyed samples force the BATCHED path (4 pivot batches,
    * full-outer merged) — the code a >10k-sample export runs, gated
    * at driver-checkable width. Cells are pre-averaged in decimal-sum
    * form (q13's trick) so the pivot's avg() is an identity and the
    * result is bit-comparable to the oracle. */
  def q71WidePivot(s: SparkSession, dir: String): DataFrame = {
    val averaged = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("segment"),
        concat(lit("n"), col("c_nationkey").cast("string")).as("sample"),
        col("c_acctbal").as("value"))
      .groupBy(col("segment"), col("sample"))
      .agg(round(sum(col("value").cast("decimal(18,4)")).cast("double") / count(lit(1)), 6)
        .as("value"))
    // Explicit value universe (n0..n24, the nation keyspace): the
    // oracle enumerates the same keyspace in SQL, so the two column
    // sets cannot drift even if some nationkey has zero customers at
    // a given scale factor (data-derived columns would drop it here
    // while the oracle still emits it — a false schema mismatch).
    XenaOps.pivotMatrixWide(averaged, "segment", "sample", "value", batchSize = 7,
      values = Some((0 to 24).map(i => s"n$i")))
  }

  /** §2.5 V2: wide→long unpivot (melt). */
  def q07Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.part(s, dir).select(
      col("p_partkey"),
      col("p_size").cast("double").as("size"),
      col("p_retailprice").as("retailprice"))
    XenaOps.melt(wide, "p_partkey", "attr", "val")
  }

  /** §2.6 U2: union with column-superset alignment. */
  def q08UnionSuperset(s: SparkSession, dir: String): DataFrame = {
    val custs = Tables.customer(s, dir).select(
      col("c_name").as("name"),
      col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("segment"))
    val supps = Tables.supplier(s, dir).select(
      col("s_name").as("name"),
      col("s_acctbal").as("acctbal"),
      col("s_nationkey").cast("int").as("nationkey"))
    XenaOps.mergeVertical(Seq(custs, supps))
      .select(col("name"), col("acctbal"), col("segment"), col("nationkey"))
  }

  /** §2.4 A5: distinct rows. */
  def q09Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select("o_orderpriority", "o_orderstatus").distinct()

  /** §2.4 A1/A2/A8: group-collect with canonical (sorted, joined)
    * rendering. */
  def q10CollectSet(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        count(lit(1)).as("n_orders"))

  /** Window top-k per group (deterministic tiebreak). */
  def q11WindowTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  /** §2.2 P9-P16 scalar functions: log2(x+1), string slice, concat,
    * regexp extract, casts, least/greatest. */
  def q12ScalarFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      round(XenaOps.log2p1(col("p_retailprice")), 6).as("log_price"),
      substring(col("p_name"), 1, 4).as("name4"),
      concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
      regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
      least(col("p_size"), lit(25)).as("size_capped"),
      upper(col("p_name")).as("name_upper"),
      (col("p_retailprice") / lit(365.0)).as("price_per_day"))

  /** Flagship: the Xena genomicMatrix assembly path re-expressed —
    * long (probe, sample, value) → replicate mean → log2(x+1) → wide
    * pivot (reference `xena_dataset.py:165-243`). */
  def q13XenaMatrix(s: SparkSession, dir: String): DataFrame = {
    val long = Tables.lineitem(s, dir).select(
      col("l_partkey").as("probe"),
      col("l_returnflag").as("sample"),
      col("l_quantity").as("value"))
    // Replicate mean with order-independent exact arithmetic
    // (semantics of XenaOps.replicateMean; decimal-sum form so the
    // result is bit-identical to the oracle).
    val averaged = long.groupBy(col("probe"), col("sample"))
      .agg((sum(col("value").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("value"))
    val logged = averaged.withColumn("value", round(XenaOps.log2p1(col("value")), 6))
    XenaOps.pivotMatrix(logged, "probe", "sample", "value", Seq("A", "N", "R"))
  }

  /** §2.1 S7: JSON path extraction from a raw JSON string column.
    *
    * Plan note: `from_json` with an explicit schema parses each props
    * string ONCE into a struct (columnar afterwards); the previous
    * `get_json_object` form re-parsed the raw JSON per extracted field
    * per row — measured at 43% of the whole bench at sf0.1.
    */
  def q14JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
  }

  /** Event-time aggregation (batch analog of the streaming window). */
  def q15EventTimeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))

  /** §2.1 S1/S10: TSV sink + scan round-trip, then broadcast join.
    * The sink path is a fresh per-run temp directory — parallel
    * invocations (Bench + Verify, concurrent suites) must not race on a
    * shared location.
    */
  def q16TsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, StringType}
    val tmp = tempDirCleanedOnExit("graft_tsv_nation")
    val nationCols = Tables.nation(s, dir)
    XenaTsv.write(nationCols, tmp, rowKey = Some("n_nationkey"))
    val schema = StructType(
      StructField("n_nationkey", IntegerType) +:
        nationCols.schema.fields.toSeq.filter(_.name != "n_nationkey").map {
          f => StructField(f.name, f.dataType)
        })
    val nation = XenaTsv.read(s, tmp, Some(schema))
    nation
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"))
  }

  // ---------------------------------------------------------------
  // Training-data pipeline queries (dedup / similarity / text /
  // sessionization) — the beyond-parity surface, each oracle-checked.
  // ---------------------------------------------------------------

  /** Exact dedup by normalized-token fingerprint (hash-groupBy — one
    * shuffle on a 32-char key). */
  def q17ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join
    * (no cross join; word 2-grams, threshold 0.8). `maxDocFreq = 100`
    * is the skew control: a gram appearing in >100 docs would
    * contribute O(df²) candidate pairs and ~no signal, so its posting
    * list is dropped (and the Jaccard denominator uses the same capped
    * gram universe — the oracle replicates the cap exactly). */
  def q18NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 2, threshold = 0.8, maxDocFreq = 100L)

  /** MinHash + banded LSH near-dup (64 hashes × 16 bands), exact-Jaccard
    * verification restricted to candidate docs. At the planted-dup
    * similarity level (J >= 0.9) banded recall is ~1, so the verified
    * output equals the exact-Jaccard pair set — which is the oracle. */
  def q19MinHashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 2, threshold = 0.8, numHashes = 64, bands = 16)

  /** SimHash 60-bit signatures: one hash aggregate, map-side combine. */
  def q20SimHashSig(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashSignatures(Tables.documents(s, dir), "doc_id", "text")

  /** Text-analysis battery: token/subword counts, quality score,
    * language ID, punctuation/stopword ratios, fingerprint. All
    * codegen'd built-in compositions — one narrow pass, no shuffle.
    *
    * `lang_guess` here stays the marker-token heuristic BY DESIGN:
    * this battery is the zero-fit, zero-shuffle first pass over raw
    * arrivals (no trained artifact exists yet), i.e. exactly the
    * "cheap pre-pass" role; the pipeline's authoritative `lang` is
    * the trained Cavnar–Trenkle operator ([[graft.ops.LangId]] —
    * q49/q124/q126/q127 and [[graft.ops.Curation.withCtLang]]), the
    * one production language-ID surface. */
  def q21TextStats(s: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.Parallelism.ensure(Tables.documents(s, dir))
    val toks = TextFunctions.tokens(col("text"))
    d.select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.subwordCount(col("text")).as("n_subwords"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.langIdHeuristic(col("text")).as("lang_guess"),
      round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextFunctions.stopwordRatio(toks), 6).as("stop_ratio"),
      TextFunctions.fingerprint(col("text")).as("fp"))
  }

  /** Brute-force cosine top-k: broadcast query set, corpus scanned once,
    * never shuffled in full. */
  def q22CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", "q_id", "q_vec", k = 5)
  }

  /** All-pairs cosine above a threshold (exact variant — the LSH-
    * bucketed scale path is property-tested in SimilaritySpec). The
    * `allowExact` hatch acknowledges the O(n²) self-join — unhatched
    * callers beyond [[Similarity.MaxExactPairsRows]] are refused. */
  def q23CosinePairs(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.45, allowExact = true)

  /** Sessionization (gaps-and-islands, 30-minute inactivity) + per-
    * session stats. One shuffle on user_id shared by both windows. */
  def q24SessionStats(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionStats(Tables.events(s, dir), "30 minutes")
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("session_start"), col("session_end"))

  /** ANN top-k via hyperplane LSH — the bucketed scale path (probes
    * signature bucket + Hamming-1 neighbors; no full corpus scan per
    * query once the corpus is partitioned by `sig`). Approximate by
    * construction → rows-only check (no SQL oracle); exactness of the
    * underlying cosine is covered by q22's oracle. */
  def q25LshAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.lshTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec",
      dim = 64, bits = 6, k = 5, tables = 4)
  }

  /** All-pairs cosine via LSH buckets (bits > 0) — the scale path of
    * q23: pairs generated only within hyperplane buckets, so the
    * self-join is per-bucket, never quadratic in the corpus.
    * Approximate recall → rows-only check. */
  def q26CosinePairsLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.35, dim = 64, bits = 8)

  /** IVF ANN top-k — the data-adaptive scale path next to q25's LSH:
    * deterministic integer-Lloyd coarse quantizer (nlist cells),
    * queries probe their nprobe nearest cells, exact cosine rank within
    * the probed cells. The quantizer's fixed-point arithmetic makes the
    * PRUNED search a pure function of (data, params), so this carries a
    * full DuckDB value oracle (the SQL transcribes the same integer
    * Lloyd iterations); recall-vs-brute-force is gated separately in
    * SimilaritySpec. */
  def q45IvfAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec",
      dim = 64, k = 5, nlist = 24, nprobe = 6)
  }

  /** SimHash banded near-dup pairs with candidate-restricted exact
    * verification. 2-gram signatures, 6 bands × 10 bits with Hamming-1
    * band probing: any pair at signature distance <= 11 collides in
    * >= 1 probe (pigeonhole), which covers every true near-dup on this
    * corpus (measured max distance 10 at J >= 0.9) — so the verified
    * output equals the exact-Jaccard pair set, which is the oracle. */
  def q27SimHashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 2, threshold = 0.8, bands = 6)

  // ---------------------------------------------------------------
  // GDC dtype transforms over committed raw-file fixtures (the
  // reference's signature E1/E2/E3 dataflows; SURVEY §2.1/§2.8).
  // Fixture inputs live in-repo so the gate is hermetic; oracles read
  // the same files with DuckDB read_csv/read_json.
  // ---------------------------------------------------------------

  // Resolved from the working directory (the checkout root), made
  // absolute so the DuckDB oracle SQL reads the same files.
  private val FixtureDir =
    java.nio.file.Paths.get("fixtures").toAbsolutePath.normalize.toString

  /** DuckDB expression mirroring GdcTransforms.sampleIdFromFile (S3):
    * file name prefix before `.<uuid>`. DuckDB's `filename` is the
    * plain local path, so the basename is cut here and nothing is
    * decoded; Spark's side reads the scan's URL-escaped
    * `_metadata.file_name` and decodes it. */
  private val SampleFromFilename: String =
    "regexp_extract(regexp_extract(filename, '[^/]+$', 0), " +
      "'^(.+?)\\.[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', 1)"

  /** E1/M1 flagship: STAR-counts genomicMatrix assembly — multi-file
    * TSV scan, sample id from filename (S3), sentinel-row drop,
    * replicate mean (A3), log2(x+1) (P9), wide pivot (V1) — all
    * registry-dispatched (X1/X4). */
  def q28StarCounts(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "star_counts", s"$FixtureDir/star_counts")

  /** Same raw files through the star_tpm registry entry — positional
    * usecols re-projection (P1) selects the TPM column instead. */
  def q29StarTpm(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "star_tpm", s"$FixtureDir/star_counts")

  /** genomicSegment: per-sample CNV segment files -> long table (U1 +
    * P2 renames). */
  def q30SegmentCnv(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "segment_cnv_DNAcopy", s"$FixtureDir/segment_cnv_DNAcopy")

  /** Headerless methylation beta matrix (S1 header=None variant), no
    * log2. */
  def q31Methylation(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "methylation450", s"$FixtureDir/methylation450")

  /** RPPA protein matrix (usecols 4,5; no log2). */
  def q32Protein(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "protein", s"$FixtureDir/protein")

  /** mutationVector: gzip MAF scan with comments (S2), dna_vaf ratio
    * (P10), renames (P2), no-mutation sentinel row for empty files. */
  def q33MafVector(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "somaticmutation_wxs", s"$FixtureDir/somaticmutation_wxs")

  /** Survival matrix: bool->int negation (P12), case->sample fan-out
    * join (J2). */
  def q34Survival(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.survivalMatrix(
      s, s"$FixtureDir/survival/survival.tsv", s"$FixtureDir/survival/case_samples.json")

  /** The nested-JSON clinical pipeline (E3) as one scan → project →
    * samples explode: row-local formatting of each case's repeated
    * fields (V4, A1/A2/P18), lenient min-age (P13), sample fan-out
    * (J2), field drop (P4), reverse-dotted rename (P3); no shuffle or
    * join. */
  def q35Clinical(s: SparkSession, dir: String): DataFrame =
    graft.transform.Clinical.clinicalMatrix(s, s"$FixtureDir/clinical/cases.json")

  /** J8/A6/A5 postprocess: remap segment-table sample ids to case ids
    * via the clinical sample→case mapping (broadcast join + coalesce),
    * then drop duplicate rows (reference `postprocessing.py:41-102`). */
  def q36PostprocessRemap(s: SparkSession, dir: String): DataFrame = {
    val seg = q30SegmentCnv(s, dir)
    val mapping = s.read.schema(graft.transform.Clinical.casesSchema)
      .json(s"$FixtureDir/clinical/cases.json")
      .select(col("submitter_id").as("case_id"), explode(col("samples")).as("smp"))
      .select(col("smp.submitter_id").as("sample"), col("case_id"))
    XenaOps.remapSamples(seg, mapping, "sample", "case_id")
  }

  /** P17 `get_ext` over the fixture file listings (driver-side listing
    * → distributed expression; reference `gdc.py:337-357`). */
  def q37FileExts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Seq("star_counts", "somaticmutation_wxs").flatMap { d =>
      Option(new java.io.File(s"$FixtureDir/$d").listFiles()).toSeq.flatten.map(_.getName)
    }.sorted
    names.toDF("file_name")
      .select(col("file_name"), XenaOps.getExt(col("file_name")).as("ext"))
  }

  /** A4 per-group conditional value counts: cases with >= 1 Tumor and
    * >= 1 Normal sample keep their Tumor samples (the duplicated-dtype
    * download pairing). */
  def q38TumorNormal(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.tumorNormalPairedSamples(
      s.read.schema(graft.transform.Clinical.casesSchema)
        .json(s"$FixtureDir/clinical/cases.json")
        .select(col("id"), explode(col("samples")).as("smp"))
        .select(col("id"), col("smp.submitter_id").as("sample"),
          col("smp.tissue_type").as("tissue_type")),
      "id", "sample", "tissue_type")

  /** Multimodal: binaryFile scan of image fixtures — opaque binary
    * column + typed metadata (name, byte length, content md5, parsed
    * PPM dimensions). */
  def q39BinaryImages(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/images/*.ppm")
      .select(
        regexp_extract(col("path"), "[^/]+$", 0).as("name"),
        col("length"),
        md5(col("content")).as("content_md5"),
        regexp_extract(col("content").cast("string"), "P3\\s+(\\d+)\\s+(\\d+)", 1)
          .cast("int").as("width"),
        regexp_extract(col("content").cast("string"), "P3\\s+(\\d+)\\s+(\\d+)", 2)
          .cast("int").as("height"))

  /** Multimodal decode: per-partition PPM parse (imperative decode,
    * the mapPartitions last-resort justified for binary payloads) then
    * declarative per-channel mean brightness over the pixel arrays. */
  def q40ImageDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageOps
    ImageOps.channelMeans(
      ImageOps.decodePpm(s, ImageOps.readBinary(s, s"$FixtureDir/images/*.ppm")))
  }

  /** miRNA expression matrix (usecols 0,2; log2; no comment/sentinel
    * handling — the plain reader branch). */
  def q41Mirna(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "mirna", s"$FixtureDir/mirna")

  /** miRNA isoform matrix — the row key is NOT column 0 (usecols 1,3:
    * isoform_coords + rpm), exercising non-leading positional
    * projection. */
  def q42MirnaIsoform(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "mirna_isoform", s"$FixtureDir/mirna_isoform")

  /** Gene-level CNV matrix: fillna('NA') + no log2 — null cells render
    * as the literal 'NA' string (the one dtype with that contract,
    * `xena_dataset.py:238-239`). */
  def q43GeneCnv(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "gene-level_ascat-ngs", s"$FixtureDir/gene-level_ascat-ngs")

  /** AscatNGS segment table — usecols (1,2,3,4): the Copy_Number value
    * branch of merge_cnv. */
  def q44SegmentAscat(s: SparkSession, dir: String): DataFrame =
    graft.transform.GdcTransforms.transform(s, "segment_cnv_ascat-ngs", s"$FixtureDir/segment_cnv_ascat-ngs")

  /** Winnowing document fingerprints (rolling k-shingle hashes, minima
    * of w-windows): each document reduces to a small hash set; shared
    * substrings of length >= k+w-1 guarantee a common fingerprint, so
    * overlap detection is a keyed join at scale.
    *
    * Two-step projection on purpose: the hash array must be a real
    * attribute before the window lambda slices it (see
    * [[TextFunctions.winnowFromHashes]] — an inline subtree would be
    * re-evaluated per window, O(len²) per document). */
  def q46Winnow(s: SparkSession, dir: String): DataFrame =
    graft.ops.Parallelism.ensure(Tables.documents(s, dir))
      .select(col("doc_id"), TextFunctions.rollingHashes(col("text"), 8).as("hs"))
      .select(col("doc_id"),
        explode(TextFunctions.winnowFromHashes(col("hs"), 4)).as("fp"))

  /** Duplicate clusters: near-dup pairs (capped-inverted-index n-gram
    * Jaccard, q18's edge set) → connected components by min-label
    * propagation with pointer jumping → (doc_id, cluster_id). The
    * missing last step of a dedup pipeline: survivors are the rows
    * where doc_id == cluster_id. */
  def q47DupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.8, maxDocFreq = 100L)
    Dedup.dupClusters(docs, edges, "doc_id")
  }

  /** Near-dup REMOVAL — the end step [[q47DupClusters]] computes the
    * labels for: keep exactly one document per near-dup cluster (the
    * component-min canonical, i.e. rows where doc_id == cluster_id)
    * and semi-join the corpus down to the survivors. The join key is
    * the tiny survivor set, broadcast; the corpus never shuffles.
    */
  def q70NearDupDedup(s: SparkSession, dir: String): DataFrame = {
    val survivors = q47DupClusters(s, dir)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    Tables.documents(s, dir)
      .join(survivors, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** End-to-end curation pipeline — the flagship COMPOSITION query: a
    * training corpus assembled by chaining the individually-gated
    * operators in their production order, value-checked end to end by
    * one oracle so the seams (column contracts, rounding, null flow)
    * are tested, not just the stages:
    *
    *  1. near-dup clusters over the corpus (q47's inverted-index
    *     Jaccard edges + connected components);
    *  2. best-quality survivor per cluster (q76's max_by keeper);
    *  3. quality >= 0.5 and 5..1000-token gates (q49's thresholds);
    *  4. benchmark decontamination of the survivors against the valid
    *     hash-split via the Bloom prefilter path (q78) — valid-split
    *     members flag themselves and drop, as decontamination must;
    *  5. a 10k-token per-source budget over what remains (q77's
    *     bucketed prefix sum).
    *
    * Scale shape: every stage is the already-audited one — the only
    * new work is three keyed joins on `doc_id`, each either broadcast
    * (survivor set) or short-key equi-join.
    */
  def q79CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bench = docs.withColumn("split", splitLabel)
      .filter(col("split") === "valid").select("doc_id", "text")
    // The composition lives in ops/Curation so this oracle-gated
    // query, the `curate-pipeline` CLI verb and the 10× rehearsal
    // can never diverge; defaults are the gate-pinned thresholds.
    graft.ops.Curation.pipeline(docs, bench)
  }

  /** Corpus vocabulary top-k by frequency (BPE-vocab precursor):
    * explode tokens → partial-agg counts → TakeOrdered top 100 with a
    * deterministic (count desc, token) tiebreak. The top-k never
    * shuffles the full vocabulary to one node: per-partition heaps
    * merge on the driver. */
  def q48VocabTopK(s: SparkSession, dir: String): DataFrame =
    graft.ops.Parallelism.ensure(Tables.documents(s, dir))
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  /** Training-corpus curation: per-document quality/language/length
    * signals + exact-dedup survivor semi-join → per-language corpus
    * stats. One narrow scoring pass, one fingerprint aggregate, one
    * final skinny aggregate — the canonical "filter then count what
    * survived" curation report. The lang column comes from the ONE
    * language-ID surface, the Cavnar–Trenkle operator ([[graft.ops
    * .LangId.langColumn]], profiles fit on the corpus's own labels —
    * q124/q126's convention), not the marker-token heuristic: fit is
    * one (lang, gram) aggregate, classification stays a zero-exchange
    * projection riding the same scoring pass. */
  def q49Curation(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.Parallelism.ensure(Tables.documents(s, dir))
    val ctRows = graft.ops.LangId.profileRows(
      graft.ops.LangId.langProfiles(docs, "lang", "text", topM = 64))
    curationReport(docs,
      graft.ops.LangId.langColumn(col("text"), ctRows, topM = 64))
  }

  /** q49's scoring pass + dedup semi-join + per-language aggregate
    * with the language SOURCE pluggable — the column q49 fits in-query
    * and q136 reads from the frozen [[graft.ops.LangIdStore]]. One
    * body, so the two gate rows share one oracle by construction
    * (and [[Bench]]'s `curation_lang` store probe times exactly it). */
  private[graft] def curationReport(
      docs: DataFrame,
      langColumn: org.apache.spark.sql.Column): DataFrame = {
    val scored = docs.select(
      col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      langColumn.as("lang"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      col("text"))
    val keepers = Dedup.exact(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    scored
      .join(keepers, Seq("doc_id"), "left_semi")
      .filter(col("quality") >= 0.5 && col("n_tokens").between(5, 1000))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("quality").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("avg_quality"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
  }

  /** q49 through the FROZEN language-ID store — the production split
    * of the curation report's language source (the q92-vs-q88
    * one-contract-two-plans precedent): the Cavnar–Trenkle profiles
    * are fit ONCE and persisted ([[graft.ops.LangIdStore.createAt]],
    * here on the same labeled corpus so the contract is exactly
    * q49's), and the measured report consumes them as a zero-exchange
    * classification projection ([[graft.ops.LangIdStore.langColumn]])
    * — the per-batch monitoring path pays O(batch) classification,
    * never the (lang, gram) corpus fit. Identical oracle to q49;
    * Bench times the fit/probe split (`curation_lang`). */
  def q136CurationStoreLang(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_curation_lid_q")
    val docs = graft.ops.Parallelism.ensure(Tables.documents(s, dir))
    graft.ops.LangIdStore.createAt(s, docs, s"$tmp/lid", topM = 64)
    curationReport(docs,
      graft.ops.LangIdStore.langColumn(s, s"$tmp/lid", col("text")))
  }

  /** Embedding-space duplicate clusters: LSH-bucketed cosine near-dup
    * pairs (q26's edge set) → connected components → (vec_id,
    * cluster_id). The vector-modality twin of q47: near-dup detection
    * and survivor selection over embeddings instead of text. */
  def q52EmbeddingClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val edges = Similarity.cosinePairs(emb, "vec_id", "embedding",
      threshold = 0.35, dim = 64, bits = 8)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup.dupClusters(emb.select(col("vec_id")), edges, "vec_id")
      .select(col("vec_id"), col("cluster_id"))
  }

  /** SemDeDup semantic dedup over the embedding corpus: the
    * deterministic-IVF cells (q45's exact quantizer — nlist 24,
    * iters 2, scale 1e6) bound the pairwise stage to within-cluster
    * cosines; a vector is dropped when a same-cell neighbor at
    * cos >= 0.4 sits strictly farther from the centroid (id
    * tiebreak). Every comparison runs on 6dp-rounded values, so the
    * DuckDB transcription of the same Lloyd + dominance rule matches
    * row-for-row — a full value oracle over an ANN-clustered dedup,
    * not a rows-only check. */
  def q72SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, nlist = 24, threshold = 0.4)

  /** k-NN self-join over the LSH candidate graph: every embedding's
    * top-3 nearest neighbors among its bucketed cosine pairs — the
    * neighbor-list input of semantic dedup / retrieval prep. Ranking
    * uses the 6dp-ROUNDED cosine with neighbor-id tie-break so the
    * order is engine-stable (raw float ordering can differ in the last
    * ulp between engines). */
  def q56KnnJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: the union references the pair subplan twice
    // (forward + swapped); without materialization the LSH join would
    // execute once per branch.
    val pairs = Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.2, dim = 64, bits = 8)
      .transform(graft.ops.Parallelism.stage)
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("nbr"), col("cos"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("nbr"), col("cos")))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))
    sym.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("src"), col("nbr"), col("cos"), col("rk"))
  }

  /** Multi-field JSON extraction THROUGH the CollapseJsonExtracts
    * optimizer rule: the document is assembled with format_string
    * (opaque to Spark's own OptimizeJsonExprs, so the parse is real),
    * then two get_json_object calls group the events. The rule folds
    * them into one shared from_json — PlanShapeSpec asserts the
    * rewrite fired in THIS query's optimized plan; the oracle pins the
    * rewrite's semantics at gate scale. min/max are order-independent
    * on doubles, so the aggregate hashes exactly. */
  def q57JsonCollapse(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(format_string("""{"t":"%s","u":"%d"}""",
        col("event_type"), col("user_id")).as("doc"), col("value"))
      .groupBy(
        get_json_object(col("doc"), "$.t").as("etype"),
        get_json_object(col("doc"), "$.u").as("uid"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("v_min"),
        round(max(col("value")), 6).as("v_max"))

  /** Deterministic 80/10/10 hash-bucket split label for `doc_id`
    * (md5 mod 100 — stable across runs, engines and cluster sizes; no
    * RNG, no sampling-order dependence) — shared by q53 (the split
    * itself) and q54 (decontamination across the same split
    * boundaries) so the two can never disagree. */
  private def splitLabel: Column =
    graft.functions.TextFunctions.hashSplit(col("doc_id"))

  def q53Split(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), splitLabel.as("split"))

  /** Benchmark decontamination: train-split documents ranked by how
    * many distinct word 5-grams they share with the held-out valid
    * split (the GPT-3/PaLM n-gram-overlap contamination check). The
    * benchmark gram set is broadcast — the corpus side never shuffles
    * before its per-doc count. */
  def q54Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("split", splitLabel)
    graft.dedup.Dedup.crossNgramOverlap(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "valid"),
      "doc_id", "text", n = 5)
  }

  /** q54's decontamination contract through the broadcast
    * Bloom-prefilter path ([[graft.dedup.Dedup.crossNgramOverlapBloom]]):
    * the valid split's gram hashes fold into a Bloom filter evaluated
    * per train document in one narrow codegen'd pass — clean documents
    * never explode their grams; only filter hits reach the exact
    * confirm join. Shares q54's oracle SQL verbatim (no false
    * negatives ⇒ prefilter + exact confirm ≡ exact). */
  def q78BloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("split", splitLabel)
    graft.dedup.Dedup.crossNgramOverlapBloom(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "valid"),
      "doc_id", "text", n = 5)
  }

  /** Gopher-style repetition filter: per-document duplicated-3-gram
    * fraction. Tokens are materialized as a column before the n-gram
    * lambda so the tokenizer runs once per row. */
  def q55Repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        round(graft.functions.TextFunctions.dupNgramFrac(col("toks"), 3), 6)
          .as("dup3_frac"))

  /** Cross-document duplicated 8-token windows (the substring-level
    * dedup signal document-level dedup misses — near-dup DOCS are
    * q70's job; this finds verbatim SPANS shared across otherwise
    * distinct documents). Window hashes stay 60-bit longs end to
    * end; the dup set is distinct-doc-frequency >= 2 on the hash. */
  def q73DupWindows(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dupWindowStats(Tables.documents(s, dir), "doc_id", "text", w = 8)

  /** Duplicated-span REMOVAL over the same 8-token windows q73
    * detects: every cross-doc duplicated window occurrence is cut
    * except in its canonical (min-doc-id) owner — exactly one copy of
    * each repeated span survives the corpus. The trimmed text itself
    * is oracle-compared, so the span-union arithmetic (overlapping
    * windows, ownership, pass-through of short docs) is value-gated
    * end to end. */
  def q74DedupTrim(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.trimDupSpans(Tables.documents(s, dir), "doc_id", "text", w = 8)

  /** Benchmark decontamination by span removal: every occurrence in a
    * TRAIN-split document of a 5-token window that appears anywhere in
    * the held-out VALID split is cut (q54 scores this contamination;
    * this removes it — no ownership, benchmark text must not survive
    * at all). Same split labels as q53/q54, same trimmed-text value
    * oracle as q74, so the three stay mutually consistent. */
  def q75DecontamTrim(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("split", splitLabel)
    graft.dedup.Dedup.decontaminateTrim(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "valid"),
      "doc_id", "text", w = 5)
  }

  /** Quality-aware near-dup survivor selection: q47's clusters +
    * q49's quality score → keep the highest-quality member of each
    * cluster (smallest id on ties) — the curation rule that never
    * discards the best copy. One max_by aggregate per cluster; both
    * engines compare quality at 6dp so tie-breaks cannot drift. */
  def q76BestQualityDedup(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    graft.dedup.Dedup.keepBestPerCluster(
      q47DupClusters(s, dir).select(col("doc_id"), col("cluster_id")),
      scored, "doc_id", "quality")
  }

  /** Per-source token-budget sampling (the "at most B tokens from
    * each source" clause of a mixture spec): documents taken in
    * md5-hash order within their source until 10k tokens are
    * consumed. The cumsum is the bucketed two-phase prefix sum of
    * [[graft.ops.Sampling.tokenBudgetPerKey]] — a dominant source
    * spreads over 256 sort tasks instead of one. */
  def q77SourceBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.tokenBudgetPerKey(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        // null text weighs 0 — it consumes no budget but stays
        // samplable, and the oracle coalesces identically
        coalesce(TextFunctions.tokenCount(col("text")), lit(0)).as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 10000L)

  /** Multimodal audio: canonical RIFF/PCM WAV header parse
    * per-partition (real, no codec) + declarative duration math. */
  def q50AudioMeta(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.AudioOps.decodeWavMeta(
      s, graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/audio/*.wav"))
      .toDF()
      .withColumn("duration_sec",
        round(col("data_bytes").cast("double") /
          (col("sample_rate") * col("channels") * col("bits") / lit(8)), 6))

  /** Multimodal frame sampling (the video shape): evenly-spaced byte
    * windows over each file's payload, fingerprinted where a codec
    * decode would run. Work is per-blob where the binaryFile scan put
    * it — no shuffle. */
  def q51AudioFrames(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.AudioOps.frameSample(
      s, graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/audio/*.wav"),
      nFrames = 4, frameBytes = 1024)
      .toDF()

  /** Multimodal video: real recursive RIFF/AVI chunk walk per
    * partition (`LIST hdrl` → `avih`) + declarative fps/duration
    * math. The oracle derives the same fields from the canonical
    * fixture layout — independent derivations must agree. */
  def q58VideoMeta(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.VideoOps.decodeAviMeta(
      s, graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/video/*.avi"))
      .toDF()
      .withColumn("fps", round(lit(1000000.0) / col("us_per_frame"), 6))
      .withColumn("duration_sec",
        round(col("n_frames") * col("us_per_frame") / lit(1000000.0), 6))

  /** Multimodal video frame sampling: every 2nd `00db`/`00dc` chunk
    * from the container walk, fingerprinted where the codec decode
    * would run (same md5-of-hex identity as the audio frames). */
  def q59VideoFrames(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.VideoOps.frameSample(
      s, graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/video/*.avi"),
      everyK = 2)
      .toDF()

  /** PERSISTED IVF index round-trip: build the partitioned index
    * (per-run temp dir, the q16 pattern), then answer the q45 search
    * through it — probe cells from the index.json quantizer, corpus
    * scan pruned to the probed cells' partitions. The deterministic
    * quantizer makes the round-trip bit-equal to the in-memory path,
    * so this shares q45's full value oracle verbatim: the gate proves
    * index build + partition-pruned read lose nothing. */
  /** A per-INVOCATION temp dir deleted at JVM exit: isolation for
    * concurrent callers (a JVM-shared dir would let one invocation's
    * overwrite race another's read) without accumulating directories
    * across repeated bench/verify runs in one process. */
  private def tempDirCleanedOnExit(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit))
    dir.toString
  }

  /** Incremental dedup against a persisted fingerprint store — the
    * corpus-growth shape: even-id docs are the already-ingested corpus
    * (deduped once, fingerprints persisted bucketed-by-fp), odd-id
    * docs are the arriving batch. Returns the batch docs that are
    * globally new (first of their fingerprint in the batch AND absent
    * from the store). The store side scans bucketed with no exchange;
    * only the batch shuffles (DedupStoreSpec pins that plan). */
  def q80IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_fp_store")
    val docs = Tables.documents(s, dir)
    val table = s"fp_store_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    graft.dedup.FingerprintStore.create(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", table, s"$tmp/store")
    graft.dedup.FingerprintStore.dedupeNew(
      s, table, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .select(col("doc_id"), col("source"), col("lang"))
  }

  def q60IvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_ivf_idx")
    val emb = Tables.embeddings(s, dir)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      dim = 64, nlist = 24, path = tmp)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.ivfTopKIndexed(s, tmp, queries, "q_id", "q_vec", k = 5, nprobe = 6)
  }

  /** Sliding-window document chunking (window 50 tokens, stride 40 —
    * 10-token overlap): the fixed-budget segmentation that feeds a
    * tokenizer/packing stage in a training-data pipeline. One narrow
    * pass: tokenize once, explode the window-index sequence, slice per
    * window. `slice` clamps at the tail, so the final chunk is short
    * rather than padded and every token lands in at least one chunk.
    */
  def q61Chunking(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.chunk(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** Deterministic stratified downsampling by language — the corpus
    * REBALANCING step of a data-mixing pipeline. Per-stratum keep
    * rates applied through an md5 bucket of the doc id (the
    * [[TextFunctions.hashSplit]] property: a doc's fate never changes
    * as the corpus grows, across runs and engines). The rate table is
    * a broadcast literal join; unknown strata keep everything.
    */
  def q62StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("en", 25), ("zh", 60), ("es", 60), ("de", 60), ("fr", 100))
    Tables.documents(s, dir)
      .join(broadcast(rates.toDF("lang", "rate")), Seq("lang"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(100)))
      .filter(pmod(graft.functions.Md5Prefix64(
        concat(lit("strat_"), col("doc_id").cast("string"))), lit(100L)) < col("rate"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Sequence packing (concat-and-split at a 512-token budget): every
    * chunk from [[q61Chunking]] gets its (pack_id, pack_offset) in the
    * global (doc_id, chunk_seq) order — the assignment a trainer uses
    * to fill fixed-length contexts without padding waste.
    *
    * The distributed prefix sum lives in [[graft.ops.Packing.assign]]
    * (shared verbatim with the streaming continuation,
    * [[graft.streaming.PackStream]]); see its scaladoc and EXPLAIN.md
    * for why the naive global-window cumsum is a 100 TB scale bug.
    */
  def q63Pack(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.assign(q61Chunking(s, dir), budget = 512L)

  /** PII redaction (emails, URLs): the safety-scrub pass of a corpus
    * curation pipeline — replace matches with typed placeholders and
    * count them per document. A narrow, zero-shuffle map pass (the
    * 100 TB cost is one codegen'd regex scan per pattern); patterns
    * stay inside the Java∩RE2 common subset so the engine and the
    * DuckDB oracle agree byte-for-byte. URLs are scrubbed FIRST so an
    * address embedded in a URL query string counts once, as a URL.
    */
  def q66Redact(s: SparkSession, dir: String): DataFrame = {
    import TextFunctions.{EmailPattern, UrlPattern, patternCount, redact}
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      // The gate corpus is PII-free by construction, so PII is PLANTED
      // deterministically inside the query (q129's planted-token
      // recipe): every third document gains a doc_id-derived email and
      // URL, and the oracle value-compares the real replacements —
      // without this the green row certifies only the identity path.
      .withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" u"), col("doc_id").cast("string"),
          lit("@example.com https://x.io/d"), col("doc_id").cast("string")))
        .otherwise(col("text")))
      // URLs scrubbed first, emails counted on the URL-scrubbed text:
      // an address inside a URL query string is one URL, not also an
      // email (counts stay consistent with what redaction removed).
      .select(col("doc_id"),
        patternCount(col("text"), UrlPattern).as("n_urls"),
        redact(col("text"), UrlPattern, "<URL>").as("u"))
      .select(col("doc_id"), col("n_urls"),
        patternCount(col("u"), EmailPattern).as("n_emails"),
        redact(col("u"), EmailPattern, "<EMAIL>").as("redacted"))
  }

  /** Wider PII battery — phone numbers and IPv4 addresses, the two
    * patterns the r11 verdict named as missing. Same planted-PII
    * discipline as [[q66Redact]]: every fourth document gains a
    * doc_id-derived phone + IP so both the replacement and the
    * identity path are value-oracled. Phones are scrubbed FIRST; the
    * dotted-quad shape cannot produce the phone pattern's 4-digit
    * terminal group, so the two passes never interact. Zero-shuffle
    * codegen'd regex map pass, like the email/URL battery.
    *
    * Every doc_id % 4 == 1 document additionally plants a LONG
    * digit/separator serial (`sn 20415-555-01001`) — historically the
    * phone pattern's no-lookaround false positive (its interior
    * window used to redact to `sn 20<PHONE>1`). The pattern's
    * zero-width `\b` digit-boundary anchors now refuse the interior
    * window, and this row value-oracles the NO-match: the serial must
    * survive redaction byte-identical in both engines
    * ([[TextFunctions.PhonePattern]]). */
  def q134PiiBattery(s: SparkSession, dir: String): DataFrame = {
    import TextFunctions.{Ipv4Pattern, PhonePattern, patternCount, redact}
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .withColumn("text", when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" call +1 415 555 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 3 + 1) % 256).cast("string")))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" sn 20415-555-01001")))
        .otherwise(col("text")))
      .select(col("doc_id"),
        patternCount(col("text"), PhonePattern).as("n_phones"),
        redact(col("text"), PhonePattern, "<PHONE>").as("p"))
      .select(col("doc_id"), col("n_phones"),
        patternCount(col("p"), Ipv4Pattern).as("n_ips"),
        redact(col("p"), Ipv4Pattern, "<IP>").as("redacted"))
  }

  /** Pack materialization: the [[q63Pack]] assignment grouped into
    * actual training contexts — one row per pack with its ordered
    * member chunks. The groupBy key is pack_id, whose group size is
    * BOUNDED by the 512-token budget (a pack holds at most
    * budget/min_chunk_tokens chunks), so the aggregate's per-group
    * state can never blow up on a skewed corpus — unlike grouping by
    * doc_id or any data-dependent key. collect_list order is
    * partitioning-dependent, so members are canonicalized with
    * array_sort on the (doc_id, chunk_seq) struct before joining.
    */
  def q65PackMaterialize(s: SparkSession, dir: String): DataFrame = {
    q63Pack(s, dir)
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("pack_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("chunk_seq")))),
            x => concat_ws(":", x.getField("doc_id"), x.getField("chunk_seq"))),
          " ").as("members"))
  }

  /** Exact per-language token-length quantiles (p50/p90/p99) — the
    * length-distribution report every data-mixing decision reads.
    *
    * Spark's exact `percentile` aggregate buffers EVERY value of a
    * group in executor memory — a per-group OOM at corpus scale — and
    * `approx_percentile` would not match any exact oracle. Token
    * counts live in a bounded integer domain, so the scale-safe form
    * is a value histogram: groupBy(lang, n_tokens) count (map-side
    * combine shrinks each partition to |domain| rows before the
    * shuffle), per-lang cumulative window, then percentile_disc reads
    * off as min(n_tokens | cum >= ceil(q*total)). State is bounded by
    * langs × distinct lengths — independent of corpus row count.
    */
  def q64LengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang", "n_tokens").agg(count(lit(1)).as("cnt"))
    val byLang = Window.partitionBy("lang")
    val cum = hist
      .withColumn("cum", sum("cnt").over(byLang.orderBy("n_tokens")))
      .withColumn("total", sum("cnt").over(byLang))
    def disc(q: Double) =
      min(when(col("cum") >= ceil(lit(q) * col("total")), col("n_tokens")))
    cum.groupBy("lang").agg(
      disc(0.5).as("p50"), disc(0.9).as("p90"), disc(0.99).as("p99"))
  }

  /** PQ (product-quantization) ANN top-k: the memory-compression
    * scale path — corpus vectors become m=32 small-int codes (byte-
    * packable: 32 B vs 256 B of floats) and every query scores by
    * broadcast table lookups (ADC), never touching a float vector.
    * Deterministic integer pipeline end to end, so it carries a full
    * value oracle like q45. See
    * [[graft.similarity.Similarity.pqTopK]].
    */
  def q69PqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", k = 5, dim = 64)
  }

  /** Temperature-weighted mixture allocation (α = 0.5): the data-
    * mixing calculation that decides how many documents each source
    * contributes to a training budget — weight ∝ n^α normalized over
    * sources, so small sources are up-weighted relative to their raw
    * share. One bounded aggregate (|sources| rows) plus a broadcast
    * of the 1-row total; `sqrt`/`/`/`floor` are IEEE-exact in both
    * engines so even target_docs compares exactly.
    */
  def q67Mixture(s: SparkSession, dir: String): DataFrame = {
    // Materialized once (|sources| rows): the total and the weight
    // projection both consume cnt — without the checkpoint the corpus
    // count aggregate ran twice (broadcast subtrees don't share plans).
    val cnt = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .transform(graft.ops.Parallelism.stage)
    val tot = cnt.agg(sum(sqrt(col("n_docs").cast("double"))).as("tpw"))
    cnt.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (sqrt(col("n_docs").cast("double")) / col("tpw")).as("weight"),
        floor(sqrt(col("n_docs").cast("double")) / col("tpw") * 1000)
          .cast("long").as("target_docs"))
  }

  /** Deterministic corpus shuffle order: every document's 0-based
    * position in md5-keyed order — the reproducible "global shuffle"
    * a trainer reads the corpus in. The position comes from
    * [[graft.ops.Packing.globalPositions]] (distributed prefix sum),
    * NOT a bare `row_number() over (order by ...)`, which would
    * funnel the corpus through a single partition.
    */
  def q68ShuffleOrder(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir).select(col("doc_id"),
      graft.functions.Md5Prefix64(
        concat(lit("shuf_"), col("doc_id").cast("string"))).as("k"))
    graft.ops.Packing.globalPositions(keyed, Seq("k", "doc_id"))
      .select(col("doc_id"), col("pos"))
  }

  /** DSIR-style importance weights against an English target subset
    * (hashed unigrams, 64 buckets, Laplace smoothing): the data-
    * SELECTION score of a mixing pipeline. See
    * [[graft.ops.Quality.importanceWeights]] for the plan shape
    * (bounded histogram → broadcast log-ratio → one doc-keyed
    * exchange, ordered per-doc fold). */
  def q81ImportanceWeights(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.importanceWeights(
      Tables.documents(s, dir), isTarget = col("lang") === "en")

  /** Corpus unigram-LM mean log-probability per document — the
    * perplexity-proxy quality score. Vocab-bounded LM aggregate,
    * token-keyed co-partitioned join, fixed-point per-doc sum
    * ([[graft.ops.Quality.unigramLogprob]]). */
  def q82UnigramLogprob(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.unigramLogprob(Tables.documents(s, dir))

  /** kNN label propagation over embeddings: every 50th vector is an
    * unlabeled query classified by majority vote of its 10 nearest
    * labeled neighbors (cosine; rank ties → neighbor id, vote ties →
    * smaller label). Integer-only output — the ranking floats never
    * reach the result. [[graft.similarity.Similarity.knnClassify]].
    */
  def q83KnnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnClassify(
      seeds = emb.filter(col("vec_id") % 50 =!= 0),
      queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      idCol = "vec_id", vecCol = "embedding", labelCol = "label",
      queryIdCol = "q_id", queryVecCol = "q_vec", k = 10)
  }

  /** First-iteration BPE merge candidates: top-20 adjacent character
    * pairs by frequency-weighted count, computed on the vocabulary
    * (corpus-size-independent after the count pass).
    * [[graft.ops.Quality.bpePairStats]]. */
  def q84BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.bpePairStats(Tables.documents(s, dir), topK = 20)

  /** Per-document trigram novelty (fraction of distinct grams with
    * corpus document-frequency 1) — the cross-document boilerplate
    * signal pairwise dedup can't see.
    * [[graft.ops.Quality.ngramNovelty]]. */
  def q85NgramNovelty(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.ngramNovelty(Tables.documents(s, dir), n = 3)

  /** Cross-corpus fuzzy join: link the odd-id docs (the "arriving
    * batch") against the even-id docs (the "reference corpus") by
    * near-duplicate text — MinHash band-bucket candidates between the
    * two tables, exact-Jaccard verified, q19's signature parameters
    * (so the oracle's exact cross-parity pair set is fully recalled).
    * [[graft.dedup.Dedup.minHashLshJoin]]. */
  def q86FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.dedup.Dedup.minHashLshJoin(
      left = docs.filter(col("doc_id") % 2 === 0),
      right = docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", n = 2, threshold = 0.8, numHashes = 64, bands = 16)
  }

  /** q86 through a PERSISTED band store: the even-id reference corpus
    * is signed once into a bucketed band table (per-run temp dir),
    * then the odd-id batch links against the store — same rows as
    * q86 by construction (equal (band, bucket) always hash to equal
    * bkey; extra bkey collisions only add candidates, which exact
    * verification rejects), different physical plan (store side scans
    * bucketed, no exchange — DedupStoreSpec pins it).
    * [[graft.dedup.BandStore]]. */
  def q87IncrementalLink(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_band_store")
    val docs = Tables.documents(s, dir)
    val reference = docs.filter(col("doc_id") % 2 === 0)
    val table = graft.dedup.BandStore.createAt(
      s, reference, "doc_id", "text", s"$tmp/store",
      n = 2, numHashes = 64, bands = 16)
    graft.dedup.BandStore.linkNew(
      s, table, docs.filter(col("doc_id") % 2 === 1), reference,
      "doc_id", "text", threshold = 0.8, n = 2, numHashes = 64, bands = 16)
  }

  /** BM25 top-10 retrieval: every 25th document is a query retrieving
    * from the rest of the corpus (document-as-query similar-doc
    * retrieval). One-pass postings build, broadcast query terms,
    * fixed-point per-(q,d) score sum, rounded-score rank cut.
    * [[graft.ops.Retrieval.bm25TopK]]. */
  def q88Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.ops.Retrieval.bm25TopK(
      corpus = docs.filter(col("doc_id") % 25 =!= 0),
      queries = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"), col("text")),
      k = 10)
  }

  /** Exact heavy hitters (corpus count ≥ 500) behind a Count–Min
    * sketch prefilter: the sketch bounds the exact-confirm groupBy's
    * keyspace to the candidate fringe; CMS never under-counts, so the
    * result equals the plain exact aggregate the oracle runs.
    * [[graft.ops.CorpusStats.heavyHitters]]. */
  def q89HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusStats.heavyHitters(Tables.documents(s, dir), minCount = 500L)

  /** Windowed PMI collocations: top-20 unordered token pairs
    * co-occurring within 3 positions (count ≥ 5) by pointwise mutual
    * information — per-row HOF pair generation, no positional
    * self-join. [[graft.ops.CorpusStats.pmiPairs]]. */
  def q90PmiPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusStats.pmiPairs(
      Tables.documents(s, dir), window = 3, minPairCount = 5L, topK = 20)

  /** q88 through a PERSISTED posting store: the corpus is tokenized
    * and counted once into a term-bucket-partitioned posting table
    * (per-run temp dir), then the query batch probes the store with a
    * static bucket-pruned scan — same rows as q88 by construction
    * (one shared scoring expression; stored (total_dl, n_docs)
    * reproduces avg(dl) exactly), different physical plan
    * (PartitionFilters on tb, no corpus tokenize —
    * CorpusStatsSpec pins it). [[graft.ops.PostingStore]]. */
  def q92Bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_posting_store")
    val docs = Tables.documents(s, dir)
    graft.ops.PostingStore.create(
      docs.filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
      s"$tmp/store")
    graft.ops.PostingStore.retrieve(
      s, s"$tmp/store",
      docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"), col("text")),
      k = 10)
  }

  /** q92's store probe under the `maxTermDf` scale hatch — the
    * DECLARED approximation for boilerplate-heavy query batches:
    * query terms with ledger df > 375 are dropped from scoring and
    * their partitions from the posting scan, bounding probe candidate
    * volume by Σ df over admitted terms ([[graft.ops.PostingStore
    * .retrieve]]). On the gate corpus the cap splits the vocabulary
    * (~half the filler terms drop, the rare high-idf terms and the
    * low-df tail stay), so the row exercises BOTH sides of the rule.
    * The approximation is transcribed into the oracle (`HAVING
    * df <= 375` — the q19 banding precedent): any drift between the
    * capped engine path and the capped replay is a bug, not tuning. */
  def q137Bm25Capped(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_posting_cap_q")
    val docs = Tables.documents(s, dir)
    graft.ops.PostingStore.create(
      docs.filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
      s"$tmp/store")
    graft.ops.PostingStore.retrieve(
      s, s"$tmp/store",
      docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"), col("text")),
      k = 10, maxTermDf = 375L)
  }

  /** CCNet-style head/middle/tail quality buckets: per-language
    * ntile(3) over the unigram-LM score with a deterministic
    * (rounded score, doc_id) order, per-bucket summary via
    * exact fixed-point sums. [[graft.ops.Quality.qualityBuckets]]. */
  def q91QualityBuckets(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.qualityBuckets(Tables.documents(s, dir), nBuckets = 3)

  /** Corpus bigram-LM mean log-probability per document — the
    * word-order-sensitive quality score unigram scoring can't see
    * (common tokens in nonsense order score low here). Bigram-vocab-
    * bounded LM aggregates, two key-equi joins, fixed-point sum.
    * [[graft.ops.Quality.bigramLogprob]]. */
  def q93BigramLogprob(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.bigramLogprob(Tables.documents(s, dir))

  /** Hard-negative mining over embeddings: every 50th+1 vector is an
    * anchor; its 5 most cosine-similar DIFFERENT-label vectors are
    * its contrastive negatives (rank ties → smaller id; ranked on
    * the bit-identical unrounded cosine, exposed rounded).
    * [[graft.similarity.Similarity.hardNegatives]]. */
  def q94HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(
      corpus = emb.filter(col("vec_id") % 50 =!= 1 && col("label").isNotNull),
      anchors = emb.filter(col("vec_id") % 50 === 1 && col("label").isNotNull)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
          col("label").as("a_label")),
      idCol = "vec_id", vecCol = "embedding", labelCol = "label",
      anchorIdCol = "a_id", anchorVecCol = "a_vec", anchorLabelCol = "a_label",
      k = 5)
  }

  /** Perceptual near-duplicate images: aHash (8×8 nearest-resize,
    * exact-integer mean threshold) signatures within 6 hamming bits —
    * the multimodal counterpart of text near-dup. The pair stage is
    * the banded candidate generator (packed 64-bit signature → 4
    * 16-bit band buckets + Hamming-1 probes, exact recall for
    * distance <= 7 by pigeonhole) with xor+popcount as the verifier —
    * never a cartesian; the DuckDB oracle runs the brute-force
    * self-join, so the gate IS the banded==exact equality check. The
    * fixture set plants one brightness-shifted twin per image
    * (distances 6/4/1 bits); the originals sit 7–9 bits apart and one
    * twin is a true hamming-6 neighbor of a foreign original, so the
    * gated result is the three twins plus that cross pair
    * (MultimodalSpec pins the exact set).
    * [[graft.multimodal.ImageOps.nearDupPairs]]. */
  def q95ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageOps
    ImageOps.nearDupPairs(s,
      ImageOps.decodePpm(s, ImageOps.readBinary(s, s"$FixtureDir/images/*.ppm")),
      maxHamming = 6)
  }

  /** As-of join: each purchase event attaches the same user's most
    * recent prior-or-simultaneous 'view' event (null when none) —
    * attribution alignment, the canonical as-of shape. Right side is
    * pre-reduced to one row per (user, ts) so ties are deterministic.
    * [[graft.ops.Joins.asofJoin]] — union+window, one shuffle, no
    * inequality join; oracle is DuckDB's native ASOF LEFT JOIN. */
  def q96AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("event_id")).as("view_id"))
    graft.ops.Joins.asofJoin(purchases, views,
      leftKey = "user_id", leftTime = "ts",
      rightKey = "v_user", rightTime = "v_ts",
      payload = Seq("view_id", "v_ts"))
      .select(col("event_id").as("purchase_id"), col("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** Range join: clicks landing inside [purchase, purchase+1h) per
    * (user, purchase), zero-preserving. [[graft.ops.Joins
    * .rangeJoinBinned]] — hour-bin equi-join (each interval covers ≤2
    * bins) + exact residual, never a nested-loop join; the oracle is
    * the plain inequality join DuckDB can afford at oracle scale. */
  def q97RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val pairs = graft.ops.Joins.rangeJoinBinned(
      points = clicks, intervals = purchases,
      pointKey = "c_user", pointTime = "c_ts",
      intervalKey = "p_user", intervalStart = "p_ts", intervalEnd = "p_end",
      binUs = 3600L * 1000000L)
    val counts = pairs.groupBy("purchase_id").agg(count(lit(1)).as("__n"))
    purchases.join(counts, Seq("purchase_id"), "left")
      .select(col("purchase_id"), coalesce(col("__n"), lit(0L)).as("n_clicks"))
  }

  /** TF-IDF cosine retrieval (the vector-space sibling of q88's BM25;
    * sklearn-style smooth idf, document-as-query over the same
    * held-out 1-in-25 query slice). Norms and dots accumulate
    * fixed-point longs, so every float the rank cut compares is
    * engine-portable — a full value oracle over cosine retrieval. */
  def q98TfidfTopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.ops.Retrieval.tfidfTopK(
      corpus = docs.filter(col("doc_id") % 25 =!= 0),
      queries = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"), col("text")),
      k = 10)
  }

  /** q98 under the tf-idf `maxTermDf` probe hatch — the cosine twin
    * of q137: norms keep EVERY term (the vector space is the fit
    * side), the dot-product probe joins only terms with df <= 375, so
    * a capped score can only shrink and probe cost is bounded by
    * Σ df over admitted terms. The cap splits the gate vocabulary
    * like q137's, and the oracle transcribes the same dots-side
    * `df <= 375` rule — approximation in the contract, not hidden. */
  def q140TfidfCapped(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.ops.Retrieval.tfidfTopK(
      corpus = docs.filter(col("doc_id") % 25 =!= 0),
      queries = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"), col("text")),
      k = 10, maxTermDf = 375L)
  }

  /** q98 through the persisted posting store with FROZEN document
    * norms — the tf-idf twin of q92's one-contract-two-plans split:
    * the corpus tokenize and the full-vocabulary norm pass are paid
    * once at [[graft.ops.PostingStore.freezeNorms]] time (per corpus
    * release), and the measured probe is bucket-pruned posting/df
    * scans + broadcast query weights + the frozen-norm attach
    * ([[graft.ops.PostingStore.retrieveTfidf]]). Bit-identical to
    * [[q98TfidfTopK]] by the shared-expression contract
    * ([[graft.ops.Retrieval.tfidfScoreTopK]] is one tree), so q98's
    * oracle applies VERBATIM; Bench times the fit/probe split
    * (`tfidf`). */
  def q141TfidfIndexed(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_tfidf_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.PostingStore.create(
      docs.filter(col("doc_id") % 25 =!= 0).select("doc_id", "text"),
      s"$tmp/store")
    graft.ops.PostingStore.freezeNorms(s, s"$tmp/store")
    graft.ops.PostingStore.retrieveTfidf(
      s, s"$tmp/store",
      docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"), col("text")),
      k = 10)
  }

  /** Perceptual near-duplicate audio (the q95 shape, audio modality):
    * energy-hash signatures over the PCM payload, band-bucketed
    * candidates, exact hamming verifier — never a self-join. The
    * oracle recomputes the signatures arithmetically from the same
    * bytes (read_blob + hex) — two independent decoders must agree on
    * every planted twin. */
  def q99AudioNearDup(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.AudioOps.nearDupPairs(
      s, graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/audio_nd/*.wav"),
      maxHamming = 4)

  /** Two-hop attribution funnel (view → click → purchase) by CHAINED
    * as-of joins: each purchase attaches the latest same-user click
    * at-or-before it, and that click attaches the latest view
    * at-or-before IT — the classic marketing-attribution walk,
    * composed from q96's operator so the oracle (DuckDB's native
    * chained ASOF LEFT JOINs) independently checks the composition:
    * null flow through the second hop (a clickless purchase must
    * yield a null view, never a spurious match) and the inclusive-<=
    * tie semantics at both hops. Scale shape: two union+window
    * passes, each one hash exchange — still no join node anywhere. */
  def q100FunnelAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    // fold ties so ANSI ASOF and the union+window form cannot differ
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("event_id")).as("view_id"))
    val withClick = graft.ops.Joins.asofJoin(purchases, clicks,
      "user_id", "ts", "c_user", "c_ts", Seq("click_id", "c_ts"))
    val withView = graft.ops.Joins.asofJoin(withClick, views,
      "user_id", "c_ts", "v_user", "v_ts", Seq("view_id"))
    withView.select(col("purchase_id"), col("click_id"), col("view_id"),
      (when(col("view_id").isNotNull, 2)
        .when(col("click_id").isNotNull, 1)
        .otherwise(0)).cast("long").as("funnel_depth"))
  }

  /** Sharded training export assignment (q68's md5 shuffle key, cut
    * into 16 dataloader shards): shard membership and within-shard
    * order from ONE hash, per-shard window — nothing global. */
  def q101ShardExport(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.shardAssignments(
      Tables.documents(s, dir), "doc_id", nShards = 16)

  /** Frame-level video near-dup (the q95/q99 shape, third modality):
    * real DIB frame decode → per-frame aHash → band-bucket
    * candidates + exact hamming verifier. The oracle re-derives
    * every frame signature arithmetically from the same AVI bytes
    * (fixed canonical layout: frame i data at 232 + i·(8+fs)) — a
    * second independent decoder checking the first, frame by frame. */
  def q102VideoFrameNearDup(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.VideoOps.frameNearDupPairs(
      s, graft.multimodal.ImageOps.readBinary(s, s"$FixtureDir/video_nd/*.avi"),
      maxHamming = 4)

  /** Frozen-LM quality gate — the production scoring shape: fit a
    * unigram LM ONCE on the trusted snapshot (doc_id % 25 != 0),
    * persist it bucketed-by-token ([[graft.ops.LmStore]]), then score
    * the arriving held-out batch (doc_id % 25 == 0) against the
    * FROZEN (cnt, total). O(batch) work per scoring pass, the store
    * side joins exchange-free, and OOV tokens are counted separately
    * (n_oov) instead of smoothed away — unlike q82, whose LM is the
    * scoring corpus's own. The oracle refits the same LM from the
    * train split in SQL and left-joins it to the held-out postings
    * with the shared fixed-point recipe. */
  def q103LmStoreScore(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_lm_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.LmStore.createAt(
      s, docs.filter(col("doc_id") % 25 =!= 0), s"$tmp/lm")
    graft.ops.LmStore.score(
      s, s"$tmp/lm", docs.filter(col("doc_id") % 25 === 0))
  }

  /** Quality-weighted sample without replacement: 12 docs per source,
    * each document's inclusion chance proportional to ln(1+n_chars) —
    * the Efraimidis–Spirakis one-pass reservoir shape
    * ([[graft.ops.Sampling.weightedSample]]). Deterministic (u from a
    * 60-bit md5 of doc_id), so the oracle replays the exact draw. */
  def q104WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
      Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars"),
      idCol = "doc_id", groupCol = "source",
      weight = log(lit(1.0) + col("n_chars").cast("double")), k = 12)

  /** Corpus report at every granularity in ONE pass: doc/char/token
    * totals per (lang, source), per lang, per source, and overall,
    * via `cube` — Catalyst expands each row into its 4 grouping sets
    * BEFORE the partial aggregate, so the multi-granularity report
    * costs one shuffle of (groups × 4) partial rows, not four jobs
    * re-tokenizing the corpus. grouping_id disambiguates aggregate
    * rows from data nulls. */
  def q105CorpusCube(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        when(col("text").isNotNull,
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
          .as("n_toks"))
      .cube(col("lang"), col("source"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_tokens"))

  /** Per-source distribution drift: exact KL(P_source || corpus) over
    * token distributions — the monitor that catches a feed gone wrong
    * as a distribution shift before any per-document filter fires.
    * One tokenize pass; everything after is |groups| x |vocab|
    * bounded. [[graft.ops.Quality.groupKlDrift]]. */
  def q106SourceDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.groupKlDrift(Tables.documents(s, dir), "source")

  /** MMR-diversified re-rank of a retrieval page: q22's brute-force
    * top-20 page per query, greedily re-ordered by
    * mmr(d) = lambda*rel(d) - (1-lambda)*max_{s in picked} cos6(d, s)
    * ([[graft.similarity.Similarity.mmrRerank]]). The greedy is
    * genuinely sequential, so the oracle replays it with a RECURSIVE
    * CTE: one row per (query, step) carrying the picked list, the
    * per-step argmax via QUALIFY row_number over (m desc, score
    * desc, doc_id) — the engine's strict-> scan-order tie-break
    * transcribed. maxSim floors at 0 (the engine never REWARDS
    * anti-correlation, only stops penalizing), and the 6dp pair
    * cosines round half-even (round_even == math.rint). */
  def q107MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val hits = Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", "q_id", "q_vec", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("cos").as("score"))
    Similarity.mmrRerank(hits, emb, "vec_id", "embedding", k = 10, lambda = 0.5)
  }

  /** Trainable seed classifier — multinomial Naive Bayes log-odds of
    * "is this document English" from a labeled seed (the closed-form
    * core of the fastText-style quality/langid filters;
    * [[graft.ops.Quality.naiveBayesLogOdds]]). Pure counts + Laplace
    * smoothing, so the model AND the scores transcribe exactly to
    * SQL; the per-doc sum is fixed-point, the prior a single ordered
    * float add. */
  def q108NaiveBayes(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.naiveBayesLogOdds(
      Tables.documents(s, dir), isSeed = col("lang") === "en")

  /** Cluster-balanced subset: 8 vectors per k-means cell of the
    * deterministic quantizer (same dim-64 / nlist-24 geometry the
    * IVF and SemDeDup queries train), drawn by the md5-uniform
    * Efraimidis–Spirakis reservoir — the diversity-flattening sample
    * of the DataComp/SemDeDup curation recipes
    * ([[graft.similarity.Similarity.clusterBalancedSample]]). The
    * oracle replays the full quantizer (the shared IVF cell CTEs)
    * plus the q104 draw partitioned by cell. */
  def q109ClusterSample(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterBalancedSample(Tables.embeddings(s, dir),
      "vec_id", "embedding", dim = 64, nlist = 24, k = 8)

  /** Frozen NB classifier gate — q103's production shape for the
    * trainable filter: fit the Naive Bayes model ONCE on the trusted
    * labeled snapshot (doc_id % 25 != 0, seed = lang en), persist it
    * bucketed-by-token ([[graft.ops.NbStore]]), then score the
    * arriving held-out batch (doc_id % 25 == 0) against the FROZEN
    * counts. OOV tokens are priced by Laplace as zero-count tokens
    * (the smoothing's whole point) AND counted (n_oov). The oracle
    * refits the same model from the train split in SQL and
    * left-joins it to the held-out postings. */
  def q110NbStoreScore(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_nb_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.NbStore.createAt(
      s, docs.filter(col("doc_id") % 25 =!= 0),
      isSeed = col("lang") === "en", s"$tmp/nb")
    graft.ops.NbStore.score(
      s, s"$tmp/nb", docs.filter(col("doc_id") % 25 === 0))
  }

  /** ANN-index evaluation — the metrics pass a pipeline runs before
    * trusting an index family: per-query recall@10, MRR@10 and
    * binary-gain nDCG@10 of the LSH ANN (q25's geometry, k=10)
    * against the brute-force cosine top-10 as relevance truth
    * ([[graft.ops.Eval.retrievalMetrics]]). Both ranked lists are
    * already oracle-transcribed (q25/q22); the metric math is exact
    * rank/count arithmetic with ln(x)/ln(2) discounts in fixed
    * point, so the WHOLE evaluation — approximate index, exact
    * truth, and scores — replays in SQL. */
  def q111RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val results = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      "q_id", "q_vec", dim = 64, bits = 6, k = 10, tables = 4)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val truth = Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", "q_id", "q_vec", k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"))
    graft.ops.Eval.retrievalMetrics(results, truth, k = 10)
  }

  /** Classifier evaluation — the decide-before-you-ship pass over
    * the q108 seed filter: tie-aware ROC-AUC of the NB log-odds
    * against the true `lang = 'en'` label plus the confusion counts
    * and rates of the filter's own hard prediction
    * ([[graft.ops.Eval.classifierMetrics]]). Resubstitution scores
    * (fit and evaluated on the same corpus) — the point is the
    * metric math, which replays exactly in SQL: scores quantize to
    * fixed-point keys, AUC is the grouped Mann–Whitney rank-sum via
    * a distributed prefix sum (never a global-order row window). */
  def q112ClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = graft.ops.Quality.naiveBayesLogOdds(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
    graft.ops.Eval.classifierMetrics(scored, "log_odds", "predicted", "y")
  }

  /** Token-budget mixture plan over the language subcorpora — the
    * multilingual reweighting decision: a 1.8×-corpus budget at
    * temperature 0.5 with a 2-epoch repetition cap. The minority
    * languages saturate their cap (the flattened weights want more
    * of them than two passes allow) and English fills the remainder
    * — the closed-form water-filling of
    * [[graft.ops.Mixture.tokenBudgetAllocation]], with every sum in
    * fixed point so the whole allocator replays in SQL. */
  def q113TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("lang").as("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").cast("long").as("n_tokens"))
    val tot = per.agg(sum("n_tokens")).first().getLong(0)
    graft.ops.Mixture.tokenBudgetAllocation(per,
      budget = tot * 9L / 5L, maxEpochs = 2L)
  }

  /** Per-source slice report of the q112 evaluation — the fairness /
    * robustness pass a filter ships with: the SAME metric columns,
    * one row per source, via
    * [[graft.ops.Eval.groupedClassifierMetrics]]. The AUC prefix sum
    * here is a window PARTITIONED by source (parallel across
    * slices); every source holds a mix of languages, so every slice
    * has both classes and a defined AUC. */
  def q114GroupClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = graft.ops.Quality.naiveBayesLogOdds(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
    graft.ops.Eval.groupedClassifierMetrics(
      scored, "source", "log_odds", "predicted", "y")
  }

  /** Slice evaluation by PREDICTED language — the q114 fairness
    * report grouped by what the pipeline would actually slice on in
    * production: [[graft.ops.LangId]]'s n-gram prediction, not the
    * (usually absent) gold label. A slice whose metrics crater under
    * the predicted grouping but not the gold one is misrouted by the
    * language identifier itself — the failure mode this integration
    * exists to surface. Same grouped rank-sum AUC machinery as q114;
    * the oracle replays the full langid chain (q124's CTEs) to
    * relabel the groups. */
  def q126PredLangSliceEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pred = graft.ops.LangId.selfClassify(docs, "doc_id", "lang", "text", topM = 64)
      .select(col("doc_id"), col("pred_lang"))
    predLangSliceEval(docs, pred)
  }

  /** q126's grouped rank-sum AUC body with the PREDICTION SOURCE
    * pluggable — selfClassify in-query (q126) or the frozen
    * [[graft.ops.LangIdStore]] (q139). One body, one oracle. */
  private[graft] def predLangSliceEval(docs: DataFrame, pred: DataFrame): DataFrame = {
    val scored = graft.ops.Quality.naiveBayesLogOdds(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
      .join(pred, Seq("doc_id"))
    graft.ops.Eval.groupedClassifierMetrics(
      scored, "pred_lang", "log_odds", "predicted", "y")
  }

  /** q126 through the FROZEN language-ID store — the q136 split
    * applied to the slice-eval: profiles fit once on the corpus's own
    * labels and persisted ([[graft.ops.LangIdStore]]), the measured
    * evaluation consumes the frozen classification (O(batch), no
    * (lang, gram) fit in the probe). Fit-on-own-labels makes the
    * store round-trip contract-identical to [[q126PredLangSliceEval]]
    * (string/int profile rows survive parquet losslessly), so q126's
    * oracle applies VERBATIM — the r13 COVERAGE note that this needed
    * a new contract was wrong, and this row is the proof. */
  def q139SliceEvalStoreLang(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_slice_lid_q")
    val docs = Tables.documents(s, dir)
    graft.ops.LangIdStore.createAt(s, docs, s"$tmp/lid", topM = 64)
    val pred = graft.ops.LangIdStore.classify(s, s"$tmp/lid", docs)
      .select(col("doc_id"), col("pred_lang"))
    predLangSliceEval(docs, pred)
  }

  /** Frozen language-ID store — the production labeling shape: fit
    * the Cavnar–Trenkle profiles ONCE on the labeled snapshot
    * (doc_id % 25 == 0), persist profiles + the snapshot's labeled
    * language mix ([[graft.ops.LangIdStore]]), then classify the
    * arriving corpus (doc_id % 25 != 0) under the FROZEN profiles and
    * report per trained language: predicted docs, predicted share,
    * the snapshot's labeled share, and the drift between them — the
    * feed-composition alarm. O(batch) classification, profiles and
    * reference mix broadcast. The oracle replays profile training on
    * the snapshot split and classification of the arrivals with the
    * q124 integer machinery, then the share join. */
  def q127LangIdStoreMix(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_langid_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.LangIdStore.createAt(
      s, docs.filter(col("doc_id") % 25 === 0), s"$tmp/lid", topM = 64)
    graft.ops.LangIdStore.mixDrift(
      s, s"$tmp/lid", docs.filter(col("doc_id") % 25 =!= 0))
  }

  /** Cross-source contamination matrix — which feeds mirror each
    * other: distinct shared bigrams and vocabulary Jaccard for every
    * source pair ([[graft.ops.CorpusStats.sourceOverlapMatrix]]).
    * Pair generation is row-local over the bounded per-gram source
    * set; the oracle may self-join at test scale, the engine never
    * does. */
  def q115SourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusStats.sourceOverlapMatrix(
      Tables.documents(s, dir), "source", "text", n = 2)

  /** IVF index health — the decide-when-to-rebuild report: per-cell
    * occupancy (is probe-time pruning still paying?) and mean
    * integer quantization error (do the centroids still fit?), empty
    * cells included ([[Similarity.ivfHealth]]). All-integer under
    * the deterministic quantizer, so assignments AND error sums
    * replay exactly on the shared IVF cell CTEs. */
  def q116IndexHealth(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfHealth(Tables.embeddings(s, dir),
      "vec_id", "embedding", dim = 64, nlist = 24)

  /** Tokenizer fertility report — the decide-before-you-ship pass
    * over a trained tokenizer: train 5 BPE merges on the corpus
    * ([[graft.ops.Quality.bpeMerges]] — driver loop over the bounded
    * vocab), encode every document with them
    * ([[graft.ops.Quality.bpeEncode]] — narrow codegen'd HOF fold),
    * and report per language: documents, whitespace words, BPE
    * pieces, pieces-per-word (fertility) and chars-per-piece
    * (compression). High fertility on a language = the merge table
    * under-serves it — the standard multilingual tokenizer-equity
    * check. The oracle replays the ENTIRE pipeline — all five
    * training argmaxes, every vocab rewrite, and the greedy encode
    * fold — as five unrolled rounds of SQL CTEs. */
  def q117TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.ops.Quality.bpeMerges(docs, nMerges = 5)
    val enc = graft.ops.Quality.bpeEncode(docs, merges)
    val meta = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        aggregate(transform(
          graft.functions.TextFunctions.tokens(col("text")),
          t => length(t).cast("long")), lit(0L), (a, x) => a + x).as("n_chars"))
    enc.join(meta, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("n_words"),
        sum("n_pieces").cast("long").as("n_pieces"),
        sum("n_chars").cast("long").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / col("n_words").cast("double"), 6)
          .as("pieces_per_word"),
        round(col("n_chars").cast("double") / col("n_pieces").cast("double"), 6)
          .as("chars_per_piece"))
  }

  /** Split-leakage audit — cross-split near-duplicate pairs under
    * the q53 hash split ([[graft.dedup.Dedup.splitLeakage]]):
    * off-diagonal rows are test/valid
    * documents whose near-twins sit in train, the contamination the
    * split exists to prevent. Pair generation is the BANDED MinHash
    * candidate path + exact-Jaccard verifier (the q19 machinery), so
    * the audit costs bucket-collision volume at 100 TB, never the
    * inverted-index constant; the oracle is the exhaustive q19 pair
    * replay + the q53 split labels — green because banding recall is
    * total on the gate corpus's near-identical twins (ScaleSmoke
    * asserts banded == exact at 10× as well). */
  def q118SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val splits = docs.select(col("doc_id"),
      graft.functions.TextFunctions.hashSplit(col("doc_id")).as("split"))
    graft.dedup.Dedup.splitLeakage(docs, "doc_id", "text", splits)
  }

  /** Embedding-dimension health — the dead/collapsed-dimension
    * detector ([[Similarity.embeddingDimStats]]): per-dimension
    * count, mean, variance and range of the raw values on an exact
    * fixed-point grid, every aggregate an integer sum. Pairs with
    * q116 (cell-level index health) as the vector-side audit. */
  def q119EmbeddingDimStats(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingDimStats(Tables.embeddings(s, dir), "embedding")

  /** Filtered (hybrid) ANN — metadata predicate + vector search in
    * one query, the staple of production vector engines: top-5
    * neighbors among even-label vectors only, over the persisted IVF
    * index. The `allowed` id set semi-joins at the CANDIDATE stage —
    * after the probe's partition pruning, before the exact cosine
    * ranking — so the top-k is exact among admissible vectors within
    * the probed cells ([[Similarity.ivfTopKIndexed]]'s `allowed`
    * hatch). */
  def q120FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_ivf_filt")
    val emb = Tables.embeddings(s, dir)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      dim = 64, nlist = 24, path = tmp)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.ivfTopKIndexed(s, tmp, queries, "q_id", "q_vec", k = 5, nprobe = 6,
      allowed = Some(emb.filter(col("label") % 2 === 0).select(col("vec_id"))))
  }

  /** LSH banding health — how the near-dup path's banding params get
    * SIZED: per band, documents, distinct buckets, the largest
    * bucket, and the candidate-pair mass Σ s·(s−1)/2 the band feeds
    * the verifier ([[graft.dedup.Dedup.bandingReport]], the q19
    * geometry). The oracle replays the FULL minhash pipeline —
    * 60-bit md5 gram hashes, the (a·h+b) mod p permutation minima,
    * and the md5 band-slice buckets — digit for digit. */
  def q121BandingReport(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.bandingReport(Tables.documents(s, dir),
      "doc_id", "text", n = 2, numHashes = 32, bands = 8)

  /** Boilerplate-header profile — per source, documents whose
    * 8-token prefix fingerprint is shared corpus-wide
    * ([[graft.dedup.Dedup.prefixDupProfile]]): the template signal
    * exact dedup can't see (tails differ) and pairwise near-dup only
    * sees when whole documents are similar. */
  def q122PrefixDupProfile(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.prefixDupProfile(
      Tables.documents(s, dir), "text", "source", prefixTokens = 8)

  /** Frozen-tokenizer fertility drift — the production tokenizer
    * lifecycle q117 only rehearses: train the BPE merge table ONCE on
    * the trusted snapshot (doc_id % 25 == 0), persist it
    * ([[graft.ops.TokStore]]), then FROZEN-encode the arriving corpus
    * (doc_id % 25 != 0) and compare per-language fertility against
    * the snapshot's. Training never runs inside the monitoring path —
    * encoding is the narrow codegen'd fold, O(batch), and the
    * reference fertility table joins broadcast. Rising
    * `fertility_delta` on a language = the frozen merge table is
    * aging for what now arrives — the retrain trigger. The oracle
    * replays training on the snapshot split (the q117 unrolled CTE
    * rounds) and the frozen encode over both splits, digit for
    * digit. */
  /** Language identification — Cavnar–Trenkle character-n-gram
    * profiles ([[graft.ops.LangId]]): fit per-language top-64 gram
    * rank profiles on the corpus's own labels, classify every
    * document by out-of-place rank distance, and report the
    * (true, predicted) confusion matrix. The pipeline elsewhere
    * CONSUMES a lang column; this is the operator that computes one.
    * All-integer (counts and ranks — no floats), so profiles,
    * distances and the argmin replay exactly in SQL. */
  def q124LangIdConfusion(s: SparkSession, dir: String): DataFrame =
    graft.ops.LangId.confusion(
      Tables.documents(s, dir), "doc_id", "lang", "text", topM = 64)

  /** Exact quantiles of an UNBOUNDED double domain — embedding L2
    * norms — via the KLL-sketch-guided selection
    * ([[graft.ops.Quantiles.exactQuantiles]]): one sketch pass
    * brackets each requested rank, an exact confirm pass selects the
    * true rank-⌈q·N⌉ element inside the bracket, never a global sort.
    * q64's histogram quantiles need a bounded integer domain; this is
    * the operator for everything that doesn't have one (norms,
    * scores, losses). Values round to 6dp BEFORE selection so the
    * rank order is engine-portable; the output is an exact element of
    * the column, which the oracle picks by `row_number() = ⌈q·N⌉`. */
  def q125NormQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val v = Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>").as("vd"))
      .select(round(sqrt(dot(col("vd"), col("vd"))), 6).as("norm"))
    graft.ops.Quantiles.exactQuantiles(v, "norm", Seq(0.25, 0.5, 0.75, 0.95))
  }

  def q123TokStoreDrift(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_tok_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.TokStore.createAt(
      s, docs.filter(col("doc_id") % 25 === 0), s"$tmp/tok", nMerges = 5)
    graft.ops.TokStore.fertilityDrift(
      s, s"$tmp/tok", docs.filter(col("doc_id") % 25 =!= 0))
  }

  /** Corpus snapshot diff — the release audit
    * ([[graft.ops.CorpusDiff]]): per source, documents added /
    * removed / content-changed / unchanged between the previous
    * release (doc_id % 7 ≠ 3) and the current one (doc_id % 5 ≠ 0,
    * with every 11th document's text edited) — both snapshots carved
    * deterministically from the corpus so the md5 content identity
    * replays exactly. */
  def q128CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val prev = docs.filter(col("doc_id") % 7 =!= 3)
    val now = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    graft.ops.CorpusDiff.diff(prev, now)
  }

  /** Vocabulary-aging report under the frozen LM store
    * ([[graft.ops.LmStore.oovReport]]): fit the vocabulary once on
    * the reference split (doc_id % 25 ≠ 0, q103's store), then report
    * per-language OOV mass over arrivals (doc_id % 25 = 0) where
    * every even-id arrival carries one genuinely new token — the
    * deterministic stand-in for real vocabulary drift. The oracle
    * replays fit, frozen probe and the per-language rollup. */
  def q129LmOovDrift(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_lm_oov_q")
    val docs = Tables.documents(s, dir)
    graft.ops.LmStore.createAt(s, docs.filter(col("doc_id") % 25 =!= 0), s"$tmp/lm")
    val arrivals = docs.filter(col("doc_id") % 25 === 0)
      .withColumn("text", when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" nw"), col("doc_id").cast("string")))
        .otherwise(col("text")))
    graft.ops.LmStore.oovReport(s, s"$tmp/lm", arrivals)
  }

  /** Per-language vocabulary size, exact + HyperLogLog
    * ([[graft.ops.CorpusStats.vocabSize]]): the distinct-count sketch
    * the 100 TB run keeps (one pass, 4 KiB per language, map-side
    * mergeable) gated by the exact count at test scale. The whole
    * estimate — 60-bit md5 hashes, trailing-zero ranks, the
    * fixed-point harmonic sum, linear-counting correction — replays
    * digit-for-digit in the oracle. */
  def q130VocabHll(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusStats.vocabSize(Tables.documents(s, dir), "lang", "text", p = 12)

  /** PSI score-distribution drift over the frozen quantile store
    * ([[graft.ops.PsiStore]]): quintile cut-points fit ONCE (exact
    * rank elements) on the reference embedding norms (vec_id % 5 ≠ 0),
    * frozen, then the arriving norms (vec_id % 5 = 0) bin under them —
    * per bin: reference/arriving counts and shares and the PSI term
    * (arr − ref)·ln(arr/ref). The oracle replays cut-point selection
    * by explicit rank, the ties-go-low binning, and the share
    * arithmetic. */
  def q131ScorePsi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val tmp = tempDirCleanedOnExit("graft_psi_q")
    val norms = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .select(col("vec_id"), round(sqrt(dot(col("vd"), col("vd"))), 6).as("norm"))
    graft.ops.PsiStore.createAt(
      s, norms.filter(col("vec_id") % 5 =!= 0), "norm", s"$tmp/psi")
    graft.ops.PsiStore.psi(
      s, s"$tmp/psi", norms.filter(col("vec_id") % 5 === 0), "norm")
  }

  /** Calibration / reliability report of the NB seed filter
    * ([[graft.ops.Eval.calibration]]): q108's log-odds scores against
    * the true label, cut into 10 equal-frequency bins by (6dp score,
    * doc id) — per bin, size, mean predicted probability (sigmoid,
    * fixed-point accumulated) and empirical positive rate; the gap
    * column is the bin's unweighted ECE contribution. AUC (q112)
    * measures ranking; this measures whether the scores MEAN what
    * they claim — the gate on using filter scores as sampling weights
    * rather than thresholds. */
  def q132Calibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = graft.ops.Quality.naiveBayesLogOdds(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
    graft.ops.Eval.calibration(scored, "doc_id", "log_odds", "y", nBins = 10)
  }

  /** Calibration against FROZEN cut-points — the 100-TB form of q132
    * ([[graft.ops.Eval.calibrationAtCuts]]): quintile cuts are fit
    * ONCE on the reference split's scores (doc_id % 5 ≠ 0) and
    * persisted through a [[graft.ops.PsiStore]] (the same frozen
    * artifact the PSI drift monitor reads), then the ARRIVING split
    * (doc_id % 5 = 0) bins under them as a zero-exchange projection —
    * no single-partition `ntile` window ever carries per-document
    * rows; the only exchange is the bins-sized final aggregate. The
    * oracle replays cut selection by explicit rank (the q131 recipe)
    * and the ties-go-low binning. Scores are q108's NB log-odds
    * (shared CTEs), fit on the full corpus as in q132 — the frozen
    * artifact under test here is the CUTS, not the classifier. */
  def q138CalibrationFrozen(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_cal_cuts_q")
    val docs = Tables.documents(s, dir)
    val scored = graft.ops.Quality.naiveBayesLogOdds(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
      .transform(graft.ops.Parallelism.stage) // two consumers: the cut fit + the probe
    graft.ops.PsiStore.createAt(
      s, scored.filter(col("doc_id") % 5 =!= 0), "log_odds", s"$tmp/cuts")
    val (cuts, _) = graft.ops.PsiStore.attach(s, s"$tmp/cuts")
    graft.ops.Eval.calibrationAtCuts(
      scored.filter(col("doc_id") % 5 === 0), "log_odds", "y", cuts)
  }

  /** Incremental vocabulary-growth monitor over the persisted HLL
    * registers ([[graft.ops.HllStore]]): the reference split's
    * per-language registers persist once; the arriving split (every
    * even id carrying one genuinely new token) sketches itself and
    * register-max-merges — per language, the stored estimate, the
    * post-union estimate and the growth. Set union without re-reading
    * the snapshot — the operation exact distinct counting cannot do
    * incrementally. The oracle replays BOTH estimates digit for digit
    * (registers over the reference, registers over the union it never
    * materializes as state). */
  /** Heavy-hitter SURGE under the frozen CMS store
    * ([[graft.ops.CmsStore]] — the persisted twin of q89's sketch):
    * d×w counters fit once on the reference split (doc_id % 25 ≠ 0),
    * then the arriving split (doc_id % 25 = 0, every non-null doc
    * carrying one of three PLANTED tokens `zz0`/`zz1`/`zz2` — the
    * q129 deterministic-injection recipe) reports its top-20 tokens
    * with exact batch counts, frozen CMS reference estimates
    * (min-over-rows of the md5-bucketed counters) and surge ratios.
    * The planted tokens must dominate the ratio column: heavy NOW,
    * never heavy when the store froze. The oracle replays counter
    * fit, bucket math, min and top-k integer-for-integer. */
  def q135HitterSurge(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_cms_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.CmsStore.createAt(s, docs.filter(col("doc_id") % 25 =!= 0), s"$tmp/cms")
    val arrivals = docs.filter(col("doc_id") % 25 === 0)
      .withColumn("text",
        concat(col("text"), lit(" zz"), (col("doc_id") % 3).cast("string")))
    graft.ops.CmsStore.surge(s, s"$tmp/cms", arrivals, k = 20)
  }

  def q133VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDirCleanedOnExit("graft_hll_store_q")
    val docs = Tables.documents(s, dir)
    graft.ops.HllStore.createAt(s, docs.filter(col("doc_id") % 25 =!= 0), s"$tmp/hll")
    val arrivals = docs.filter(col("doc_id") % 25 === 0)
      .withColumn("text", when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" nw"), col("doc_id").cast("string")))
        .otherwise(col("text")))
    graft.ops.HllStore.growth(s, s"$tmp/hll", arrivals)
  }

  // ---------------------------------------------------------------
  // Contract surface
  // ---------------------------------------------------------------

  /** Flagship: the real E1 matrix-assembly path over the committed
    * STAR-counts fixtures (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    q28StarCounts(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_pushdown" -> (q01Agg _),
    "q02_join_dims" -> (q02JoinDims _),
    "q03_semi_join" -> (q03SemiJoin _),
    "q04_anti_join" -> (q04AntiJoin _),
    "q05_full_outer" -> (q05FullOuter _),
    "q06_pivot" -> (q06Pivot _),
    "q07_unpivot" -> (q07Unpivot _),
    "q08_union_superset" -> (q08UnionSuperset _),
    "q09_distinct" -> (q09Distinct _),
    "q10_collect_set" -> (q10CollectSet _),
    "q11_window_topk" -> (q11WindowTopK _),
    "q12_scalar_funcs" -> (q12ScalarFuncs _),
    "q13_xena_matrix" -> (q13XenaMatrix _),
    "q14_json_extract" -> (q14JsonExtract _),
    "q15_event_time_agg" -> (q15EventTimeAgg _),
    "q16_tsv_roundtrip" -> (q16TsvRoundtrip _),
    "q17_exact_dedup" -> (q17ExactDedup _),
    "q18_ngram_jaccard" -> (q18NgramJaccard _),
    "q19_minhash_lsh" -> (q19MinHashLsh _),
    "q20_simhash_sig" -> (q20SimHashSig _),
    "q21_text_stats" -> (q21TextStats _),
    "q22_cosine_topk" -> (q22CosineTopK _),
    "q23_cosine_pairs" -> (q23CosinePairs _),
    "q24_session_stats" -> (q24SessionStats _),
    "q25_lsh_ann_topk" -> (q25LshAnnTopK _),
    "q26_cosine_pairs_lsh" -> (q26CosinePairsLsh _),
    "q27_simhash_pairs" -> (q27SimHashPairs _),
    "q28_star_counts" -> (q28StarCounts _),
    "q29_star_tpm" -> (q29StarTpm _),
    "q30_segment_cnv" -> (q30SegmentCnv _),
    "q31_methylation" -> (q31Methylation _),
    "q32_protein" -> (q32Protein _),
    "q33_maf_vector" -> (q33MafVector _),
    "q34_survival" -> (q34Survival _),
    "q35_clinical" -> (q35Clinical _),
    "q36_postprocess_remap" -> (q36PostprocessRemap _),
    "q37_file_exts" -> (q37FileExts _),
    "q38_tumor_normal" -> (q38TumorNormal _),
    "q39_binary_images" -> (q39BinaryImages _),
    "q40_image_decode" -> (q40ImageDecode _),
    "q41_mirna" -> (q41Mirna _),
    "q42_mirna_isoform" -> (q42MirnaIsoform _),
    "q43_gene_cnv" -> (q43GeneCnv _),
    "q44_segment_ascat" -> (q44SegmentAscat _),
    "q45_ivf_ann_topk" -> (q45IvfAnnTopK _),
    "q46_winnow_fingerprint" -> (q46Winnow _),
    "q47_dup_clusters" -> (q47DupClusters _),
    "q48_vocab_topk" -> (q48VocabTopK _),
    "q49_curation" -> (q49Curation _),
    "q50_audio_meta" -> (q50AudioMeta _),
    "q51_audio_frames" -> (q51AudioFrames _),
    "q52_embedding_clusters" -> (q52EmbeddingClusters _),
    "q53_split" -> (q53Split _),
    "q54_decontaminate" -> (q54Decontaminate _),
    "q55_repetition" -> (q55Repetition _),
    "q56_knn_join" -> (q56KnnJoin _),
    "q57_json_collapse" -> (q57JsonCollapse _),
    "q58_video_meta" -> (q58VideoMeta _),
    "q59_video_frames" -> (q59VideoFrames _),
    "q60_ivf_indexed" -> (q60IvfIndexed _),
    "q61_chunking" -> (q61Chunking _),
    "q62_stratified_sample" -> (q62StratifiedSample _),
    "q63_pack" -> (q63Pack _),
    "q64_length_quantiles" -> (q64LengthQuantiles _),
    "q65_pack_materialize" -> (q65PackMaterialize _),
    "q66_redact" -> (q66Redact _),
    "q67_mixture" -> (q67Mixture _),
    "q68_shuffle_order" -> (q68ShuffleOrder _),
    "q69_pq_topk" -> (q69PqTopK _),
    "q70_neardup_dedup" -> (q70NearDupDedup _),
    "q71_wide_pivot" -> (q71WidePivot _),
    "q72_semantic_dedup" -> (q72SemanticDedup _),
    "q73_dup_windows" -> (q73DupWindows _),
    "q74_dedup_trim" -> (q74DedupTrim _),
    "q75_decontam_trim" -> (q75DecontamTrim _),
    "q76_best_quality_dedup" -> (q76BestQualityDedup _),
    "q77_source_budget" -> (q77SourceBudget _),
    "q78_bloom_decontam" -> (q78BloomDecontam _),
    "q79_curation_pipeline" -> (q79CurationPipeline _),
    "q80_incremental_dedup" -> (q80IncrementalDedup _),
    "q81_importance_weights" -> (q81ImportanceWeights _),
    "q82_unigram_logprob" -> (q82UnigramLogprob _),
    "q83_knn_classify" -> (q83KnnClassify _),
    "q84_bpe_pairs" -> (q84BpePairs _),
    "q85_ngram_novelty" -> (q85NgramNovelty _),
    "q86_fuzzy_join" -> (q86FuzzyJoin _),
    "q87_incremental_link" -> (q87IncrementalLink _),
    "q88_bm25_topk" -> (q88Bm25TopK _),
    "q89_heavy_hitters" -> (q89HeavyHitters _),
    "q90_pmi_pairs" -> (q90PmiPairs _),
    "q91_quality_buckets" -> (q91QualityBuckets _),
    "q92_bm25_indexed" -> (q92Bm25Indexed _),
    "q93_bigram_logprob" -> (q93BigramLogprob _),
    "q94_hard_negatives" -> (q94HardNegatives _),
    "q95_image_neardup" -> (q95ImageNearDup _),
    "q96_asof_join" -> (q96AsofJoin _),
    "q97_range_join" -> (q97RangeJoin _),
    "q98_tfidf_topk" -> (q98TfidfTopK _),
    "q99_audio_neardup" -> (q99AudioNearDup _),
    "q100_funnel_asof" -> (q100FunnelAsof _),
    "q101_shard_export" -> (q101ShardExport _),
    "q102_video_frame_neardup" -> (q102VideoFrameNearDup _),
    "q103_lm_store_score" -> (q103LmStoreScore _),
    "q104_weighted_sample" -> (q104WeightedSample _),
    "q105_corpus_cube" -> (q105CorpusCube _),
    "q106_source_drift" -> (q106SourceDrift _),
    "q107_mmr_rerank" -> (q107MmrRerank _),
    "q108_naive_bayes" -> (q108NaiveBayes _),
    "q109_cluster_sample" -> (q109ClusterSample _),
    "q110_nb_store_score" -> (q110NbStoreScore _),
    "q111_retrieval_eval" -> (q111RetrievalEval _),
    "q112_classifier_eval" -> (q112ClassifierEval _),
    "q113_token_budget" -> (q113TokenBudget _),
    "q114_group_classifier_eval" -> (q114GroupClassifierEval _),
    "q115_source_overlap" -> (q115SourceOverlap _),
    "q116_index_health" -> (q116IndexHealth _),
    "q117_tokenizer_fertility" -> (q117TokenizerFertility _),
    "q118_split_leakage" -> (q118SplitLeakage _),
    "q119_embedding_dim_stats" -> (q119EmbeddingDimStats _),
    "q120_filtered_ann" -> (q120FilteredAnn _),
    "q121_banding_report" -> (q121BandingReport _),
    "q122_prefix_dup_profile" -> (q122PrefixDupProfile _),
    "q123_tok_store_drift" -> (q123TokStoreDrift _),
    "q124_langid_confusion" -> (q124LangIdConfusion _),
    "q125_norm_quantiles" -> (q125NormQuantiles _),
    "q126_predlang_slice_eval" -> (q126PredLangSliceEval _),
    "q127_langid_store_mix" -> (q127LangIdStoreMix _),
    "q128_corpus_diff" -> (q128CorpusDiff _),
    "q129_lm_oov_drift" -> (q129LmOovDrift _),
    "q130_vocab_hll" -> (q130VocabHll _),
    "q131_score_psi" -> (q131ScorePsi _),
    "q132_calibration" -> (q132Calibration _),
    "q133_vocab_growth" -> (q133VocabGrowth _),
    "q134_pii_battery" -> (q134PiiBattery _),
    "q135_hitter_surge" -> (q135HitterSurge _),
    "q136_curation_store_lang" -> (q136CurationStoreLang _),
    "q137_bm25_capped" -> (q137Bm25Capped _),
    "q138_calibration_frozen" -> (q138CalibrationFrozen _),
    "q139_slice_eval_store_lang" -> (q139SliceEvalStoreLang _),
    "q140_tfidf_capped" -> (q140TfidfCapped _),
    "q141_tfidf_indexed" -> (q141TfidfIndexed _),
  )

  /** Shared CTE body of the q61 chunking + q63 global-cumsum packing
    * dataflow — used verbatim by both the q63 assignment oracle and
    * the q65 materialization oracle so the two can never diverge. */
  private val PackCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) <= 50 THEN 1
      |         ELSE CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1 END AS nc
      |  FROM t WHERE len(toks) > 0),
      |c AS (
      |  SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_seq FROM n),
      |s AS (
      |  SELECT doc_id, chunk_seq,
      |    CAST(len(list_slice(toks, chunk_seq * 40 + 1, chunk_seq * 40 + 50)) AS BIGINT)
      |      AS n_tokens
      |  FROM c),
      |w AS (
      |  SELECT doc_id, chunk_seq, n_tokens,
      |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_seq
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM s),
      |p AS (
      |  SELECT doc_id, chunk_seq, n_tokens,
      |    CAST(cum // 512 AS BIGINT) AS pack_id,
      |    CAST(cum % 512 AS BIGINT) AS pack_offset
      |  FROM w)""".stripMargin

  /** Shared CTE body of the capped n-gram Jaccard edge set — used
    * verbatim by both q18 (the pair list) and q47 (the recursive
    * transitive closure over the same edges) so the two oracles can
    * never diverge. */
  private val NgramPairsCtes: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
      |    CASE WHEN len(tk) >= 2
      |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
      |    ELSE [] END) AS t(g)),
      |kept AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100),
      |fg AS (SELECT doc_id, g FROM grams JOIN kept USING (g)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM fg GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM fg a JOIN fg b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain from Jaccard-0.8 pairs through per-cluster
    * quality ranking (`pairs` → `edges` → recursive `reach` → `clu` →
    * quality `qm`/`q2` → `ranked`), on top of [[NgramPairsCtes]] —
    * used verbatim by q76 (keeper per cluster) and q79 (the curation
    * pipeline built on those keepers) so the two transcriptions of
    * clustering + quality can never diverge. Requires WITH RECURSIVE. */
  private val NearDupQualityCtes: String =
    """pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
      |clu AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      |qm AS (
      |  SELECT doc_id, len(tk) AS n_tokens,
      |    CASE WHEN len(text) > 0
      |      THEN (len(text) - len(regexp_replace(text, '[.,!?;:''"()\\[\\]{}-]', '', 'g'))) * 1.0 / len(text)
      |      ELSE 0.0 END AS praw,
      |    CASE WHEN len(tk) > 0
      |      THEN len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0 / len(tk)
      |      ELSE 0.0 END AS sraw
      |  FROM toks JOIN documents USING (doc_id)),
      |q2 AS (
      |  SELECT doc_id,
      |    round(least(n_tokens / 20.0, 1.0) * 0.4
      |      + greatest(1.0 - abs(sraw - 0.25) * 2.0, 0.0) * 0.3
      |      + (1.0 - least(praw * 5.0, 1.0)) * 0.3, 6) AS quality
      |  FROM qm),
      |ranked AS (
      |  SELECT c.cluster_id, c.doc_id, q.quality,
      |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id)
      |      AS rk
      |  FROM clu c JOIN q2 q USING (doc_id))""".stripMargin

  /** Shared CTE body of the deterministic hyperplane-LSH cosine pair
    * set (8-bit signatures, Hamming-1 probing, exact cosine scoring) —
    * used verbatim by q26 (the pair list) and q52 (the recursive
    * closure over the same edges). */
  private val LshCosinePairsCtes: String =
    """planes AS (
      |  SELECT b.i, j.j,
      |    (CAST(concat('0x', substr(md5('plane_0_' || b.i || '_' || j.j), 1, 15)) AS BIGINT)
      |      / power(2, 59)) - 1.0 AS c
      |  FROM range(8) b(i), range(64) j(j)),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |dots AS (
      |  SELECT e.vec_id, p.i, sum(p.c * e.v[p.j + 1] ORDER BY p.j) AS d
      |  FROM e JOIN planes p ON true GROUP BY 1, 2),
      |sigs AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN d >= 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
      |  FROM dots GROUP BY 1),
      |probes AS (
      |  SELECT s.vec_id,
      |    CASE WHEN f.f < 0 THEN s.sig ELSE xor(s.sig, CAST(power(2, f.f) AS BIGINT)) END AS bucket
      |  FROM sigs s, range(-1, 8) f(f)),
      |cand AS (
      |  SELECT DISTINCT p.vec_id AS id_a, s.vec_id AS id_b
      |  FROM probes p JOIN sigs s ON p.bucket = s.sig WHERE p.vec_id < s.vec_id),
      |scored AS (
      |  SELECT id_a, id_b,
      |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cs
      |  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b)""".stripMargin

  /** The cross-corpus fuzzy-join oracle: the EXACT cross-parity
    * Jaccard pair set (even-id reference × odd-id batch, no banding).
    * Shared verbatim by q86 (in-memory band join) and q87 (persisted
    * band store): one contract, two physical strategies. */
  // q88/q92/q137 shared oracle: the BM25 float path transcribed
  // operator-for-operator (same parenthesization, same left-assoc *
  // and /); per-term scores quantize to nano-scaled longs, so the
  // per-(q,d) sum is associative integer addition (no fold order at
  // all) and the rank cut compares ROUNDED scores - nothing engine-
  // dependent. `maxTermDf` transcribes the q137 scale hatch: capped
  // terms leave the dfreq CTE, so they score for no document — the
  // approximation is part of the contract, not hidden from the
  // replay (the q19 banding precedent).
  private def bm25OracleSql(maxTermDf: Option[Long]): String =
    ("""WITH corpus AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 <> 0),
        |pd AS (
        |  SELECT doc_id, len(tk) AS dl, tok AS term, count(*) AS tf
        |  FROM corpus, unnest(tk) u(tok) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM pd GROUP BY 1""" +
      maxTermDf.map(c => s" HAVING count(*) <= $c").getOrElse("") + """),
        |stats AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl
        |  FROM (SELECT DISTINCT doc_id, dl FROM pd)),
        |qt AS (
        |  SELECT DISTINCT doc_id AS q_id, tok AS term
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |        FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0)),
        |terms AS (
        |  SELECT qt.q_id, pd.doc_id,
        |    CAST(round((ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) * 1000000000.0, 0) AS BIGINT) AS ts9
        |  FROM pd JOIN qt USING (term) JOIN dfreq USING (term), stats),
        |scored AS (
        |  SELECT q_id, doc_id, round(CAST(sum(ts9) AS DOUBLE) / 1000000000.0, 6) AS score
        |  FROM terms GROUP BY 1, 2)
        |SELECT q_id AS query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10""").stripMargin

  private val Bm25OracleSql: String = bm25OracleSql(None)

  /** q98/q140 shared oracle body. `maxTermDf` transcribes the q140
    * probe hatch: the DOTS join drops terms with df > cap, while both
    * norm passes keep the full vocabulary — the engine contract
    * (capped scores can only shrink) replayed exactly. */
  private def tfidfOracleSql(maxTermDf: Option[Long]): String =
    ("""WITH corpus AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 <> 0),
      |pd AS (
      |  SELECT doc_id, tok AS term, count(*) AS tf
      |  FROM corpus, unnest(tk) u(tok) GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM pd GROUP BY 1),
      |stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM pd),
      |wd AS (
      |  SELECT doc_id, term,
      |    CAST(tf AS DOUBLE) * (ln((1.0 + CAST(n_docs AS DOUBLE)) / (1.0 + CAST(df AS DOUBLE))) + 1.0) AS w
      |  FROM pd JOIN dfreq USING (term), stats),
      |dn AS (
      |  SELECT doc_id,
      |    sqrt(CAST(sum(CAST(round(w * w * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 10000.0) AS nrm
      |  FROM wd GROUP BY 1),
      |qp AS (
      |  SELECT q_id, tok AS term, count(*) AS tf
      |  FROM (SELECT doc_id AS q_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
      |        FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0)
      |  GROUP BY 1, 2),
      |wq AS (
      |  SELECT q_id, term,
      |    CAST(tf AS DOUBLE) * (ln((1.0 + CAST(n_docs AS DOUBLE)) / (1.0 + CAST(coalesce(df, 0) AS DOUBLE))) + 1.0) AS w
      |  FROM qp LEFT JOIN dfreq USING (term), stats),
      |qn AS (
      |  SELECT q_id,
      |    sqrt(CAST(sum(CAST(round(w * w * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 10000.0) AS nrm
      |  FROM wq GROUP BY 1),
      |dots AS (
      |  SELECT wq.q_id, wd.doc_id,
      |    sum(CAST(round(wq.w * wd.w * 10000.0, 0) AS BIGINT)) AS d4
      |  FROM wq JOIN wd USING (term) JOIN dfreq USING (term)""" +
      maxTermDf.map(c => s" WHERE dfreq.df <= $c").getOrElse("") +
      """ GROUP BY 1, 2),
      |scored AS (
      |  SELECT dots.q_id, dots.doc_id,
      |    round((CAST(d4 AS DOUBLE) / 10000.0) / (qn.nrm * dn.nrm), 6) AS score
      |  FROM dots JOIN qn USING (q_id) JOIN dn USING (doc_id))
      |SELECT q_id AS query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
      |  FROM scored) t
      |WHERE rank <= 10""").stripMargin

  /** q49/q136 shared oracle: the curation report with lang from the
    * CT classifier replay (CtPredCtes) — the one language-ID surface,
    * one transcription, consumed by the in-query-fit row (q49) and
    * the frozen-store row (q136) alike. Plain concatenation (not
    * s-interp): the praw regex contains \[ \]. Lazy: CtPredCtes is
    * initialized further down the object body. */
  private lazy val CurationReportOracleSql: String =
    ("""WITH """ + CtPredCtes + """,
      |base AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |    CASE WHEN len(text) > 0
      |      THEN (len(text) - len(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))) * 1.0 / len(text)
      |      ELSE 0.0 END AS praw,
      |    CASE WHEN len(toks) > 0
      |      THEN len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0 / len(toks)
      |      ELSE 0.0 END AS sraw,
      |    md5(array_to_string(toks, ' ')) AS fp
      |  FROM base),
      |m2 AS (
      |  SELECT m.doc_id, fp, n_tokens,
      |    round(least(n_tokens / 20.0, 1.0) * 0.4
      |      + greatest(1.0 - abs(sraw - 0.25) * 2.0, 0.0) * 0.3
      |      + (1.0 - least(praw * 5.0, 1.0)) * 0.3, 6) AS quality,
      |    lp.pred_lang AS lang
      |  FROM m LEFT JOIN lpred lp ON lp.doc_id = m.doc_id),
      |keep AS (
      |  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS kid FROM m2)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_quality,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM keep
      |WHERE doc_id = kid AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 1000
      |GROUP BY lang""").stripMargin

  /** q126/q139 shared oracle: q114's grouped metric math with the
    * group relabeled by the full q124 langid replay (l*-prefixed CTEs
    * to avoid clashing with the NB chain's toks/pd). Lazy: NbScoreCtes
    * and CtPredCtes are initialized further down the object body. */
  private lazy val PredLangSliceEvalOracleSql: String =
    s"""WITH $NbScoreCtes,
      |$CtPredCtes,
      |scored AS (
      |  SELECT s.doc_id,
      |    round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS score,
      |    CASE WHEN prior + CAST(s9 AS DOUBLE) / 1000000000.0 > 0
      |      THEN 1 ELSE 0 END AS pred
      |  FROM s, pri),
      |b AS (
      |  SELECT lp.pred_lang, CAST(round(score * 1000000000.0, 0) AS BIGINT) AS s9k,
      |    pred, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM scored JOIN documents d USING (doc_id) JOIN lpred lp USING (doc_id)),
      |g AS (SELECT pred_lang, s9k, CAST(sum(y) AS BIGINT) AS pos_k,
      |        CAST(count(*) - sum(y) AS BIGINT) AS neg_k FROM b GROUP BY 1, 2),
      |w AS (SELECT *, CAST(coalesce(sum(neg_k) OVER (PARTITION BY pred_lang
      |        ORDER BY s9k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS cum FROM g),
      |a AS (SELECT pred_lang, CAST(sum(pos_k) AS BIGINT) AS n_pos,
      |        CAST(sum(neg_k) AS BIGINT) AS n_neg,
      |        sum(CAST(pos_k AS HUGEINT) * CAST(cum * 2 + neg_k AS HUGEINT)) AS num
      |      FROM w GROUP BY 1),
      |c AS (SELECT pred_lang, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |        CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |        CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |        CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |      FROM b GROUP BY 1)
      |SELECT c.pred_lang, n, n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    round(CAST(num AS DOUBLE) /
      |      (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0), 6) END AS auc,
      |  tp, fp, fn, tn,
      |  round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
      |  CASE WHEN tp + fp > 0 THEN
      |    round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
      |  CASE WHEN tp + fn > 0 THEN
      |    round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
      |  CASE WHEN tp + fp > 0 AND tp + fn > 0 THEN
      |    CASE WHEN tp = 0 THEN 0.0 ELSE
      |      round(2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
      |                * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
      |            / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
      |             + (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))), 6) END
      |  END AS f1
      |FROM c JOIN a USING (pred_lang)""".stripMargin

  private val FuzzyJoinOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
      |    CASE WHEN len(tk) >= 2
      |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
      |    ELSE [] END) AS t(g)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM grams a JOIN grams b ON a.g = b.g
      |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
      |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8""".stripMargin

  /** The benchmark-decontamination oracle (train-split docs × their
    * distinct shared 5-grams with the valid split), shared VERBATIM by
    * q54 (plain broadcast-join path) and q78 (Bloom-prefilter path):
    * one contract, two physical strategies — any row the Bloom path
    * adds or loses against this SQL is a bug, not a tuning choice. */
  private val DecontamOracleSql: String =
    """WITH b AS (
      |  SELECT doc_id, text,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, bucket,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM b),
      |grams AS (
      |  SELECT DISTINCT doc_id, bucket, g FROM toks, UNNEST(
      |    CASE WHEN len(tk) >= 5
      |    THEN list_transform(generate_series(1, len(tk) - 4),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
      |    ELSE [] END) AS t(g)),
      |bg AS (SELECT DISTINCT g FROM grams WHERE bucket >= 80 AND bucket < 90)
      |SELECT gr.doc_id, count(*) AS shared_grams
      |FROM grams gr JOIN bg USING (g) WHERE gr.bucket < 80
      |GROUP BY 1""".stripMargin

  /** Shared CTE chain of the deterministic integer-Lloyd IVF
    * quantizer (quantize → orthant init → 2 Lloyd iterations → final
    * cell assignment `af` under centroids `c2`) — used verbatim by
    * the q45/q60 ANN oracles and the q72 SemDeDup oracle so the
    * three transcriptions of the k-means can never diverge. */
  private val IvfCellCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, v,
        |        list_transform(v, x ->
        |          CAST(floor(x / sqrt(list_dot_product(v, v)) * 1000000 + 0.5) AS BIGINT)) AS qv
        |      FROM e),
        |planes AS (
        |  SELECT b.i, j.j,
        |    (CAST(concat('0x', substr(md5('plane_0_' || b.i || '_' || j.j), 1, 15)) AS BIGINT)
        |      / power(2, 59)) - 1.0 AS c
        |  FROM range(5) b(i), range(64) j(j)),
        |dots AS (
        |  SELECT q.vec_id, p.i, sum(p.c * q.v[p.j + 1] ORDER BY p.j) AS d
        |  FROM q CROSS JOIN planes p GROUP BY 1, 2),
        |sigs AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN d >= 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) % 24
        |      AS cell
        |  FROM dots GROUP BY 1),
        |bm AS (
        |  SELECT g.cell, j.j, CAST(sum(q.qv[j.j + 1]) AS BIGINT) AS s, count(*) AS n
        |  FROM sigs g JOIN q USING (vec_id) CROSS JOIN range(64) j(j) GROUP BY 1, 2),
        |seed AS (
        |  SELECT row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR)), vec_id) - 1
        |           AS cell,
        |         qv
        |  FROM q),
        |c0 AS (
        |  SELECT cells.cell, j.j,
        |    CASE WHEN bm.s IS NULL THEN seed.qv[j.j + 1]
        |      ELSE CAST(CASE WHEN bm.s >= 0
        |        THEN (2 * CAST(bm.s AS HUGEINT) + bm.n) // (2 * CAST(bm.n AS HUGEINT))
        |        ELSE -((2 * -CAST(bm.s AS HUGEINT) + bm.n) // (2 * CAST(bm.n AS HUGEINT)))
        |        END AS BIGINT) END AS cv
        |  FROM range(24) cells(cell)
        |  CROSS JOIN range(64) j(j)
        |  LEFT JOIN bm ON bm.cell = cells.cell AND bm.j = j.j
        |  JOIN seed ON seed.cell = cells.cell),
        |d1 AS (
        |  SELECT q.vec_id, c.cell,
        |    sum((q.qv[c.j + 1] - c.cv) * (q.qv[c.j + 1] - c.cv)) AS dist
        |  FROM q CROSS JOIN c0 c GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM d1) t WHERE rn = 1),
        |s1 AS (
        |  SELECT a.cell, j.j, CAST(sum(q.qv[j.j + 1]) AS BIGINT) AS s, count(*) AS n
        |  FROM a1 a JOIN q USING (vec_id) CROSS JOIN range(64) j(j) GROUP BY 1, 2),
        |c1 AS (
        |  SELECT c0.cell, c0.j,
        |    CASE WHEN s1.s IS NULL THEN c0.cv
        |      ELSE CAST(CASE WHEN s1.s >= 0
        |        THEN (2 * CAST(s1.s AS HUGEINT) + s1.n) // (2 * CAST(s1.n AS HUGEINT))
        |        ELSE -((2 * -CAST(s1.s AS HUGEINT) + s1.n) // (2 * CAST(s1.n AS HUGEINT)))
        |        END AS BIGINT) END AS cv
        |  FROM c0 LEFT JOIN s1 ON c0.cell = s1.cell AND c0.j = s1.j),
        |d2 AS (
        |  SELECT q.vec_id, c.cell,
        |    sum((q.qv[c.j + 1] - c.cv) * (q.qv[c.j + 1] - c.cv)) AS dist
        |  FROM q CROSS JOIN c1 c GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM d2) t WHERE rn = 1),
        |s2 AS (
        |  SELECT a.cell, j.j, CAST(sum(q.qv[j.j + 1]) AS BIGINT) AS s, count(*) AS n
        |  FROM a2 a JOIN q USING (vec_id) CROSS JOIN range(64) j(j) GROUP BY 1, 2),
        |c2 AS (
        |  SELECT c1.cell, c1.j,
        |    CASE WHEN s2.s IS NULL THEN c1.cv
        |      ELSE CAST(CASE WHEN s2.s >= 0
        |        THEN (2 * CAST(s2.s AS HUGEINT) + s2.n) // (2 * CAST(s2.n AS HUGEINT))
        |        ELSE -((2 * -CAST(s2.s AS HUGEINT) + s2.n) // (2 * CAST(s2.n AS HUGEINT)))
        |        END AS BIGINT) END AS cv
        |  FROM c1 LEFT JOIN s2 ON c1.cell = s2.cell AND c1.j = s2.j),
        |df AS (
        |  SELECT q.vec_id, c.cell,
        |    sum((q.qv[c.j + 1] - c.cv) * (q.qv[c.j + 1] - c.cv)) AS dist
        |  FROM q CROSS JOIN c2 c GROUP BY 1, 2),
        |af AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM df) t WHERE rn = 1)""".stripMargin

  private val IvfOracleSql: String =
    s"""WITH $IvfCellCtes,
        |pp AS (
        |  SELECT vec_id AS q_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM df WHERE vec_id < 8) t WHERE rn <= 6),
        |cand AS (
        |  SELECT p.q_id, a.vec_id AS neighbor_id
        |  FROM pp p JOIN af a USING (cell) WHERE a.vec_id <> p.q_id),
        |scored AS (
        |  SELECT c.q_id, c.neighbor_id,
        |    list_dot_product(en.v, eq.v)
        |      / (sqrt(list_dot_product(en.v, en.v)) * sqrt(list_dot_product(eq.v, eq.v))) AS cs
        |  FROM cand c JOIN e en ON en.vec_id = c.neighbor_id JOIN e eq ON eq.vec_id = c.q_id)
        |SELECT q_id AS query_id, neighbor_id, round(cs, 6) AS cos, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin

  /** q69's oracle: the grouped-subspace PQ pipeline transcribed with
    * the q45 Lloyd idioms (HUGEINT round-half-away division, empty-
    * cell fallback via LEFT JOIN, (dist, cell) tie-break). The
    * iteration CTE chain is GENERATED from the same constants
    * [[q69PqTopK]] passes (dim 64, m 32, dsub 2, ksub 32, iters 3,
    * scale 1e6, queries vec_id<8, k 5) so engine and oracle cannot
    * drift on a hand-edited copy. Ranking divides BEFORE ordering
    * (cs DESC, neighbor_id): the engine ranks on the divided double,
    * and totals that collide after division must tie-break
    * identically in both engines.
    */
  private val PqOracleSql: String = {
    val M = 32; val KSUB = 32; val ITERS = 3
    val DSUB = 64 / M
    def dCte(name: String, cb: String): String =
      s"""$name AS (
         |  SELECT b.vec_id, b.s, c.cell,
         |    sum((b.sv[c.j + 1] - c.cv) * (b.sv[c.j + 1] - c.cv)) AS dist
         |  FROM sub b JOIN $cb c ON b.s = c.s GROUP BY 1, 2, 3)""".stripMargin
    def argminCte(name: String, d: String): String =
      s"""$name AS (
         |  SELECT vec_id, s, cell FROM (
         |    SELECT vec_id, s, cell,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
         |    FROM $d) t WHERE rn = 1)""".stripMargin
    val iterations = (1 to ITERS).map { i =>
      val prev = s"c${i - 1}"
      s"""${dCte(s"d$i", prev)},
         |${argminCte(s"a$i", s"d$i")},
         |s$i AS (
         |  SELECT a.s, a.cell, j.j, CAST(sum(b.sv[j.j + 1]) AS BIGINT) AS sm, count(*) AS n
         |  FROM a$i a JOIN sub b ON a.vec_id = b.vec_id AND a.s = b.s
         |  CROSS JOIN range($DSUB) j(j) GROUP BY 1, 2, 3),
         |c$i AS (
         |  SELECT $prev.s, $prev.cell, $prev.j,
         |    CASE WHEN s$i.sm IS NULL THEN $prev.cv
         |      ELSE CAST(CASE WHEN s$i.sm >= 0
         |        THEN (2 * CAST(s$i.sm AS HUGEINT) + s$i.n) // (2 * CAST(s$i.n AS HUGEINT))
         |        ELSE -((2 * -CAST(s$i.sm AS HUGEINT) + s$i.n) // (2 * CAST(s$i.n AS HUGEINT)))
         |        END AS BIGINT) END AS cv
         |  FROM $prev LEFT JOIN s$i
         |    ON $prev.s = s$i.s AND $prev.cell = s$i.cell AND $prev.j = s$i.j)""".stripMargin
    }.mkString(",\n")
    val cb = s"c$ITERS"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, v,
       |        list_transform(v, x ->
       |          CAST(floor(x / sqrt(list_dot_product(v, v)) * 1000000 + 0.5) AS BIGINT)) AS qv
       |      FROM e),
       |sub AS (
       |  SELECT q.vec_id, s.s, list_slice(qv, s.s * $DSUB + 1, s.s * $DSUB + $DSUB) AS sv
       |  FROM q CROSS JOIN range($M) s(s)),
       |seeds AS (
       |  SELECT s, cell, sv FROM (
       |    SELECT s, sv,
       |      row_number() OVER (PARTITION BY s
       |        ORDER BY md5('pq_' || s || '_' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
       |    FROM sub) t WHERE cell < $KSUB),
       |c0 AS (
       |  SELECT s, cell, j.j, sv[j.j + 1] AS cv
       |  FROM seeds CROSS JOIN range($DSUB) j(j)),
       |$iterations,
       |${dCte("de", cb)},
       |enc AS (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
       |    FROM de) t WHERE rn = 1),
       |dt AS (
       |  SELECT qq.vec_id AS qid, c.s, c.cell, sum(qq.qv[c.s * $DSUB + c.j + 1] * c.cv) AS d
       |  FROM (SELECT * FROM q WHERE vec_id < 8) qq CROSS JOIN $cb c
       |  GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT dt.qid AS query_id, en.vec_id AS neighbor_id, CAST(sum(dt.d) AS BIGINT) AS tot
       |  FROM enc en JOIN dt ON dt.s = en.s AND dt.cell = en.code
       |  WHERE en.vec_id <> dt.qid GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, round(cs, 6) AS cos, rank FROM (
       |  SELECT query_id, neighbor_id, cs,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
       |  FROM (SELECT query_id, neighbor_id,
       |          CAST(tot AS DOUBLE) / 1000000000000.0 AS cs FROM sc) x) t
       |WHERE rank <= 5""".stripMargin
  }

  /** Shared CTE body of the q108 Naive Bayes seed-classifier scoring
    * dataflow (tokenize → per-doc token counts → class histograms →
    * totals/prior → fixed-point per-token weights → per-doc sums) —
    * used verbatim by the q108 score oracle and the q112 evaluation
    * oracle so the evaluated scores can never diverge from the
    * scoring operator. */
  /** The q130 HLL-estimate chain over a (lang, tok) CTE, prefixed so
    * two instantiations can share one statement (the q133 oracle
    * estimates the reference and the union in one query). Kept
    * generated so the register math can never drift between the two
    * uses or from the q130 hand-written replay. */
  private def hllLangEstSql(pref: String, tokCte: String): String =
    s"""${pref}reg AS (
      |  SELECT lang, h60 & 4095 AS idx,
      |    CASE WHEN (h60 >> 12) = 0 THEN 49
      |         ELSE CAST(log2((h60 >> 12) & (-(h60 >> 12))) AS INT) + 1 END AS rho
      |  FROM (SELECT lang, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h60
      |        FROM $tokCte) ${pref}h),
      |${pref}rm AS (SELECT lang, idx, max(rho) AS r FROM ${pref}reg GROUP BY 1, 2),
      |${pref}s AS (SELECT lang, count(*) AS used,
      |    sum(CAST(1 AS BIGINT) << (49 - r)) AS sf FROM ${pref}rm GROUP BY 1),
      |${pref}e AS (SELECT lang, used,
      |    (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * 562949953421312.0
      |      / CAST(sf + (4096 - used) * 562949953421312 AS DOUBLE) AS eraw FROM ${pref}s),
      |${pref}fin AS (SELECT lang,
      |    CASE WHEN eraw <= 2.5 * 4096.0 AND used < 4096
      |      THEN 4096.0 * ln(4096.0 / (4096 - used)) ELSE eraw END AS hll FROM ${pref}e)"""
      .stripMargin

  /** Cavnar–Trenkle language-ID replay — fit profiles on the whole
    * labeled corpus, classify the same corpus (topM 64, the
    * [[graft.ops.LangId.selfClassify]] convention) — yielding
    * lpred(doc_id, pred_lang). Shared by the q126 slice relabel and
    * the q49 curation lang source (one language-ID surface, one
    * transcription). */
  private val CtPredCtes: String =
    """ltoks AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |lg AS (
      |  SELECT doc_id, lang, gr FROM (SELECT doc_id, lang, '_' || tok || '_' AS p FROM ltoks) t,
      |  UNNEST(list_concat(
      |    list_transform(generate_series(1, len(p) - 1), i -> substr(p, i, 2)),
      |    list_transform(generate_series(1, len(p) - 2), i -> substr(p, i, 3)))) AS u(gr)),
      |llc AS (SELECT lang, gr AS gram, count(*) AS cnt FROM lg GROUP BY 1, 2),
      |llp AS (SELECT lang, gram, rank FROM (
      |  SELECT lang, gram,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
      |  FROM llc) t WHERE rank <= 64),
      |ldc AS (SELECT doc_id, gr AS gram, count(*) AS cnt FROM lg GROUP BY 1, 2),
      |ldp AS (SELECT doc_id, gram, rank FROM (
      |  SELECT doc_id, gram,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rank
      |  FROM ldc) t WHERE rank <= 64),
      |llangs AS (SELECT DISTINCT lang FROM llp),
      |ldist AS (
      |  SELECT ldp.doc_id, llangs.lang,
      |    CAST(sum(coalesce(abs(ldp.rank - llp.rank), 64)) AS BIGINT) AS distance
      |  FROM ldp CROSS JOIN llangs
      |  LEFT JOIN llp ON llp.lang = llangs.lang AND llp.gram = ldp.gram
      |  GROUP BY 1, 2),
      |lpred AS (SELECT doc_id, lang AS pred_lang FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY distance, lang) AS rk
      |  FROM ldist) t WHERE rk = 1)""".stripMargin

  private val NbScoreCtes: String =
    """toks AS (
      |  SELECT doc_id, lang = 'en' AS is_seed,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |pd AS (SELECT doc_id, is_seed, tok, count(*) AS cnt FROM toks GROUP BY 1, 2, 3),
      |hist AS (
      |  SELECT tok,
      |    sum(CASE WHEN is_seed THEN cnt ELSE 0 END) AS pos,
      |    sum(CASE WHEN NOT is_seed THEN cnt ELSE 0 END) AS neg
      |  FROM pd GROUP BY 1),
      |tot AS (SELECT sum(pos) AS tpos, sum(neg) AS tneg, count(*) AS v FROM hist),
      |pri AS (
      |  SELECT ln(CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE)
      |           / CAST(sum(CASE WHEN is_seed THEN 0 ELSE 1 END) AS DOUBLE)) AS prior
      |  FROM (SELECT DISTINCT doc_id, is_seed FROM pd)),
      |j AS (
      |  SELECT pd.doc_id, pd.cnt,
      |    CAST(round(CAST(pd.cnt AS DOUBLE) * (
      |      ln(CAST(pos + 1 AS DOUBLE) / CAST(tpos + v AS DOUBLE)) -
      |      ln(CAST(neg + 1 AS DOUBLE) / CAST(tneg + v AS DOUBLE)))
      |      * 1000000000.0, 0) AS BIGINT) AS ts9
      |  FROM pd JOIN hist USING (tok), tot),
      |s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |        CAST(sum(ts9) AS BIGINT) AS s9 FROM j GROUP BY 1)""".stripMargin

  /** The q117 oracle, GENERATED: `n` unrolled rounds of BPE training
    * (pair counts → argmax with the engine's exact (cnt desc, x, y)
    * tie-break → greedy vocab rewrite via a list_reduce fold that is
    * token-for-token the engine's `applyMerge`) followed by the same
    * `n`-round greedy encode of every document — the whole tokenizer
    * lifecycle as one SQL statement. Generated rather than
    * hand-written so the round count can never drift from the engine
    * call's `nMerges`. */
  private def bpeFertilitySql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |v0 AS (
      |  SELECT list_filter(string_split(tok, ''), s -> s <> '') AS syms, count(*) AS c
      |  FROM toks GROUP BY tok),
      |""".stripMargin
    for (i <- 1 to n) {
      sb ++= s"""p$i AS (
        |  SELECT syms[j] AS x, syms[j + 1] AS y, CAST(sum(c) AS BIGINT) AS cnt
        |  FROM v${i - 1}, UNNEST(generate_series(1, len(syms) - 1)) AS u(j)
        |  WHERE len(syms) >= 2 GROUP BY 1, 2),
        |b$i AS (SELECT x, y FROM p$i ORDER BY cnt DESC, x, y LIMIT 1),
        |v$i AS (
        |  SELECT list_reduce(list_transform(syms, s -> [s]),
        |    (acc, el) -> CASE WHEN acc[-1] = b.x AND el[1] = b.y
        |      THEN list_append(acc[1:len(acc)-1], b.x || b.y)
        |      ELSE list_concat(acc, el) END) AS syms, c
        |  FROM v${i - 1}, b$i b),
        |""".stripMargin
    }
    sb ++= """e0 AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(tok, ''), s -> s <> '') AS syms,
      |    len(tok) AS tok_chars
      |  FROM toks),
      |""".stripMargin
    for (i <- 1 to n) {
      sb ++= s"""e$i AS (
        |  SELECT doc_id, lang, tok_chars,
        |    list_reduce(list_transform(syms, s -> [s]),
        |    (acc, el) -> CASE WHEN acc[-1] = b.x AND el[1] = b.y
        |      THEN list_append(acc[1:len(acc)-1], b.x || b.y)
        |      ELSE list_concat(acc, el) END) AS syms
        |  FROM e${i - 1}, b$i b),
        |""".stripMargin
    }
    sb ++= s"""d AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM documents WHERE text IS NOT NULL GROUP BY 1),
      |pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
      |         CAST(sum(len(syms)) AS BIGINT) AS n_pieces,
      |         CAST(sum(tok_chars) AS BIGINT) AS n_chars
      |       FROM e$n GROUP BY 1)
      |SELECT d.lang, d.n_docs, pl.n_words, pl.n_pieces,
      |  round(CAST(pl.n_pieces AS DOUBLE) / CAST(pl.n_words AS DOUBLE), 6) AS pieces_per_word,
      |  round(CAST(pl.n_chars AS DOUBLE) / CAST(pl.n_pieces AS DOUBLE), 6) AS chars_per_piece
      |FROM d JOIN pl USING (lang)""".stripMargin
    sb.toString
  }

  /** The q123 oracle, GENERATED like [[bpeFertilitySql]]: `n` unrolled
    * BPE training rounds restricted to the SNAPSHOT split
    * (doc_id % 25 = 0), then the same frozen encode fold over EVERY
    * document carrying an `is_train` flag, aggregated per
    * (lang, split) into the arriving-vs-snapshot fertility join —
    * the whole frozen-tokenizer drift monitor as one SQL statement. */
  private def tokStoreDriftSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |v0 AS (
      |  SELECT list_filter(string_split(tok, ''), s -> s <> '') AS syms, count(*) AS c
      |  FROM toks WHERE doc_id % 25 = 0 GROUP BY tok),
      |""".stripMargin
    for (i <- 1 to n) {
      sb ++= s"""p$i AS (
        |  SELECT syms[j] AS x, syms[j + 1] AS y, CAST(sum(c) AS BIGINT) AS cnt
        |  FROM v${i - 1}, UNNEST(generate_series(1, len(syms) - 1)) AS u(j)
        |  WHERE len(syms) >= 2 GROUP BY 1, 2),
        |b$i AS (SELECT x, y FROM p$i ORDER BY cnt DESC, x, y LIMIT 1),
        |v$i AS (
        |  SELECT list_reduce(list_transform(syms, s -> [s]),
        |    (acc, el) -> CASE WHEN acc[-1] = b.x AND el[1] = b.y
        |      THEN list_append(acc[1:len(acc)-1], b.x || b.y)
        |      ELSE list_concat(acc, el) END) AS syms, c
        |  FROM v${i - 1}, b$i b),
        |""".stripMargin
    }
    sb ++= """e0 AS (
      |  SELECT doc_id, lang, doc_id % 25 = 0 AS is_train,
      |    list_filter(string_split(tok, ''), s -> s <> '') AS syms
      |  FROM toks),
      |""".stripMargin
    for (i <- 1 to n) {
      sb ++= s"""e$i AS (
        |  SELECT doc_id, lang, is_train,
        |    list_reduce(list_transform(syms, s -> [s]),
        |    (acc, el) -> CASE WHEN acc[-1] = b.x AND el[1] = b.y
        |      THEN list_append(acc[1:len(acc)-1], b.x || b.y)
        |      ELSE list_concat(acc, el) END) AS syms
        |  FROM e${i - 1}, b$i b),
        |""".stripMargin
    }
    sb ++= s"""d AS (SELECT lang, doc_id % 25 = 0 AS is_train,
      |         CAST(count(*) AS BIGINT) AS n_docs
      |       FROM documents WHERE text IS NOT NULL GROUP BY 1, 2),
      |pl AS (SELECT lang, is_train, CAST(count(*) AS BIGINT) AS n_words,
      |         CAST(sum(len(syms)) AS BIGINT) AS n_pieces
      |       FROM e$n GROUP BY 1, 2),
      |f AS (SELECT d.lang, d.is_train, d.n_docs,
      |        coalesce(pl.n_words, 0) AS n_words,
      |        coalesce(pl.n_pieces, 0) AS n_pieces,
      |        CASE WHEN coalesce(pl.n_words, 0) > 0
      |          THEN round(CAST(pl.n_pieces AS DOUBLE) / CAST(pl.n_words AS DOUBLE), 6)
      |        END AS ppw
      |      FROM d LEFT JOIN pl USING (lang, is_train))
      |SELECT fa.lang, fa.n_docs, fa.n_words, fa.n_pieces,
      |  fa.ppw AS pieces_per_word, ft.ppw AS train_pieces_per_word,
      |  round(fa.ppw - ft.ppw, 6) AS fertility_delta
      |FROM (SELECT * FROM f WHERE NOT is_train) fa
      |LEFT JOIN (SELECT * FROM f WHERE is_train) ft USING (lang)""".stripMargin
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "q117_tokenizer_fertility" -> bpeFertilitySql(5),
    "q123_tok_store_drift" -> tokStoreDriftSql(5),
    // q127: q124's integer langid machinery with training restricted
    // to the snapshot split and classification to the arrivals, then
    // the predicted-vs-labeled share join.
    "q127_langid_store_mix" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, lang, gr FROM (SELECT doc_id, lang, '_' || tok || '_' AS p FROM toks) t,
        |  UNNEST(list_concat(
        |    list_transform(generate_series(1, len(p) - 1), i -> substr(p, i, 2)),
        |    list_transform(generate_series(1, len(p) - 2), i -> substr(p, i, 3)))) AS u(gr)),
        |lc AS (SELECT lang, gr AS gram, count(*) AS cnt FROM g
        |       WHERE doc_id % 25 = 0 GROUP BY 1, 2),
        |lp AS (SELECT lang, gram, rank FROM (
        |  SELECT lang, gram,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |  FROM lc) t WHERE rank <= 64),
        |dc AS (SELECT doc_id, gr AS gram, count(*) AS cnt FROM g
        |       WHERE doc_id % 25 <> 0 GROUP BY 1, 2),
        |dp AS (SELECT doc_id, gram, rank FROM (
        |  SELECT doc_id, gram,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rank
        |  FROM dc) t WHERE rank <= 64),
        |langs AS (SELECT DISTINCT lang FROM lp),
        |dist AS (
        |  SELECT dp.doc_id, langs.lang,
        |    CAST(sum(coalesce(abs(dp.rank - lp.rank), 64)) AS BIGINT) AS distance
        |  FROM dp CROSS JOIN langs
        |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
        |  GROUP BY 1, 2),
        |pred AS (SELECT doc_id, lang AS pred_lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY distance, lang) AS rk
        |  FROM dist) t WHERE rk = 1),
        |pc AS (SELECT pred_lang AS lang, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1),
        |tt AS (SELECT coalesce(sum(n), 0) AS t FROM pc),
        |tr AS (SELECT lang, count(*) AS n FROM documents
        |       WHERE text IS NOT NULL AND doc_id % 25 = 0 GROUP BY 1),
        |trt AS (SELECT sum(n) AS t FROM tr),
        |mix AS (SELECT lang, round(CAST(tr.n AS DOUBLE) / CAST(trt.t AS DOUBLE), 6)
        |          AS train_share FROM tr, trt),
        |base AS (
        |  SELECT mix.lang, CAST(coalesce(pc.n, 0) AS BIGINT) AS n_docs,
        |    CASE WHEN tt.t > 0
        |      THEN round(CAST(coalesce(pc.n, 0) AS DOUBLE) / CAST(tt.t AS DOUBLE), 6)
        |      ELSE 0.0 END AS share,
        |    mix.train_share
        |  FROM mix LEFT JOIN pc USING (lang), tt)
        |SELECT lang, n_docs, share, train_share,
        |  round(share - train_share, 6) AS share_delta
        |FROM base""".stripMargin,
    // q126: q114's grouped metric math with the group relabeled by
    // the full q124 langid replay (l*-prefixed CTEs to avoid clashing
    // with the NB chain's toks/pd). q139 is the SAME contract with
    // the classification read from the frozen LangIdStore (fit on the
    // corpus's own labels, so the store round-trip changes no row) —
    // sharing this oracle verbatim IS the test, the q136 precedent.
    "q126_predlang_slice_eval" -> PredLangSliceEvalOracleSql,
    "q139_slice_eval_store_lang" -> PredLangSliceEvalOracleSql,
    // q125: the engine's sketch+confirm selection returns the exact
    // rank-⌈q·N⌉ element of the 6dp-rounded norms; the oracle picks
    // the same element by explicit rank (DuckDB can afford the sort
    // at gate scale; the engine never sorts globally).
    "q125_norm_quantiles" ->
      """WITH v AS (
        |  SELECT round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS val
        |  FROM embeddings),
        |n AS (SELECT count(*) AS n FROM v),
        |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q),
        |r AS (SELECT q, GREATEST(1, CAST(ceil(q * n) AS BIGINT)) AS rk FROM qs, n),
        |s AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v)
        |SELECT q AS quantile, val AS value
        |FROM r JOIN s ON s.rn = r.rk""".stripMargin,
    // q124: the Cavnar–Trenkle pipeline is all integers (gram counts,
    // ranks, rank distances), so the replay is exact — same padded
    // 2/3-grams, same (cnt desc, gram) rank order, same out-of-place
    // cap 64, same (distance, lang) argmin.
    "q124_langid_confusion" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, lang, gr FROM (SELECT doc_id, lang, '_' || tok || '_' AS p FROM toks) t,
        |  UNNEST(list_concat(
        |    list_transform(generate_series(1, len(p) - 1), i -> substr(p, i, 2)),
        |    list_transform(generate_series(1, len(p) - 2), i -> substr(p, i, 3)))) AS u(gr)),
        |lc AS (SELECT lang, gr AS gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |lp AS (SELECT lang, gram, rank FROM (
        |  SELECT lang, gram,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |  FROM lc) t WHERE rank <= 64),
        |dc AS (SELECT doc_id, gr AS gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |dp AS (SELECT doc_id, gram, rank FROM (
        |  SELECT doc_id, gram,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rank
        |  FROM dc) t WHERE rank <= 64),
        |langs AS (SELECT DISTINCT lang FROM lp),
        |dist AS (
        |  SELECT dp.doc_id, langs.lang,
        |    CAST(sum(coalesce(abs(dp.rank - lp.rank), 64)) AS BIGINT) AS distance
        |  FROM dp CROSS JOIN langs
        |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
        |  GROUP BY 1, 2),
        |pred AS (SELECT doc_id, lang AS pred_lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY distance, lang) AS rk
        |  FROM dist) t WHERE rk = 1),
        |tl AS (SELECT doc_id, lang FROM documents WHERE text IS NOT NULL)
        |SELECT tl.lang, pred.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred JOIN tl USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,
    // q128: both snapshots and the simulated edit are deterministic
    // carvings of the corpus; content identity is md5(text), compared
    // null-safely (IS DISTINCT FROM).
    "q128_corpus_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, source, md5(text) AS h
        |  FROM documents WHERE doc_id % 7 <> 3),
        |now_ AS (
        |  SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (
        |  SELECT coalesce(n.source, p.source) AS source,
        |    CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS added,
        |    CASE WHEN n.doc_id IS NULL THEN 1 ELSE 0 END AS removed,
        |    CASE WHEN p.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |          AND p.h IS DISTINCT FROM n.h THEN 1 ELSE 0 END AS changed,
        |    CASE WHEN p.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |          AND p.h IS NOT DISTINCT FROM n.h THEN 1 ELSE 0 END AS unchanged
        |  FROM prev p FULL OUTER JOIN now_ n ON p.doc_id = n.doc_id)
        |SELECT source,
        |  CAST(sum(added) AS BIGINT) AS n_added,
        |  CAST(sum(removed) AS BIGINT) AS n_removed,
        |  CAST(sum(changed) AS BIGINT) AS n_changed,
        |  CAST(sum(unchanged) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY 1""".stripMargin,
    // q129: q103's fit split (doc_id % 25 <> 0) trains the frozen
    // vocab; arrivals are the held-out split with every even id
    // carrying one synthetic new token. The rollup counts tokens with
    // multiplicity, like LmStore.score.
    "q129_lm_oov_drift" ->
      """WITH vtoks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 <> 0),
        |vocab AS (SELECT DISTINCT tok FROM vtoks),
        |arr AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' nw' || CAST(doc_id AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0),
        |atoks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM arr),
        |pd AS (
        |  SELECT a.doc_id, a.lang, count(*) AS n_tok,
        |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM atoks a LEFT JOIN vocab v USING (tok)
        |  GROUP BY 1, 2)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_oov) AS BIGINT) AS n_oov,
        |  CASE WHEN sum(n_tok) > 0
        |    THEN round(CAST(sum(n_oov) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 6)
        |  END AS oov_rate
        |FROM pd GROUP BY 1""".stripMargin,
    // q130: the FULL HyperLogLog estimate replayed — 60-bit md5
    // hashes, register = low 12 bits, rank = trailing zeros of the
    // remaining 48 bits + 1 (log2 of the isolated lowest set bit is
    // exact in IEEE), harmonic sum as the exact integer
    // sum(2^(49-rank)), the one double division at the end, and the
    // linear-counting small-range branch. 562949953421312 = 2^49;
    // 0.7213/(1+1.079/4096) is written with the same literals in the
    // engine so both sides round identically.
    "q130_vocab_hll" ->
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |dt AS (SELECT DISTINCT lang, tok FROM toks),
        |h AS (SELECT lang,
        |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h60 FROM dt),
        |reg AS (
        |  SELECT lang, h60 & 4095 AS idx,
        |    CASE WHEN (h60 >> 12) = 0 THEN 49
        |         ELSE CAST(log2((h60 >> 12) & (-(h60 >> 12))) AS INT) + 1 END AS rho
        |  FROM h),
        |regmax AS (SELECT lang, idx, max(rho) AS r FROM reg GROUP BY 1, 2),
        |s AS (
        |  SELECT lang, count(*) AS used,
        |    sum(CAST(1 AS BIGINT) << (49 - r)) AS sf
        |  FROM regmax GROUP BY 1),
        |ex AS (SELECT lang, count(*) AS n_exact FROM dt GROUP BY 1),
        |e AS (
        |  SELECT lang, used,
        |    (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * 562949953421312.0
        |      / CAST(sf + (4096 - used) * 562949953421312 AS DOUBLE) AS eraw
        |  FROM s),
        |fin AS (
        |  SELECT lang,
        |    CASE WHEN eraw <= 2.5 * 4096.0 AND used < 4096
        |      THEN 4096.0 * ln(4096.0 / (4096 - used)) ELSE eraw END AS hll
        |  FROM e)
        |SELECT ex.lang, CAST(ex.n_exact AS BIGINT) AS n_exact,
        |  round(fin.hll, 6) AS hll_estimate,
        |  round(abs(fin.hll - ex.n_exact) / ex.n_exact, 6) AS rel_error
        |FROM ex JOIN fin USING (lang)""".stripMargin,
    // q131: cut-points by explicit rank (the q125 recipe) on the
    // reference split, ties-go-low binning (count of cuts strictly
    // below), shares as one double division each, PSI term
    // (a-r)*ln(a/r) rounded 6dp; null when either side of a bin is
    // empty (the log is undefined — categorical alarm, not a term).
    "q131_score_psi" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS val
        |  FROM embeddings),
        |ref0 AS (SELECT val FROM v WHERE vec_id % 5 <> 0),
        |arr0 AS (SELECT val FROM v WHERE vec_id % 5 = 0),
        |n AS (SELECT count(*) AS n FROM ref0),
        |qs AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS q),
        |r AS (SELECT q, GREATEST(1, CAST(ceil(q * n) AS BIGINT)) AS rk FROM qs, n),
        |srt AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM ref0),
        |cuts AS (SELECT q, val FROM r JOIN srt ON srt.rn = r.rk),
        |cl AS (SELECT list(val ORDER BY q) AS c FROM cuts),
        |ragg AS (
        |  SELECT CAST((SELECT count(*) FROM cuts WHERE ref0.val > cuts.val) AS INT) AS bin,
        |    count(*) AS n_ref
        |  FROM ref0 GROUP BY 1),
        |aagg AS (
        |  SELECT CAST((SELECT count(*) FROM cuts WHERE arr0.val > cuts.val) AS INT) AS bin,
        |    count(*) AS n_arr
        |  FROM arr0 GROUP BY 1),
        |rt AS (SELECT count(*) AS t FROM ref0),
        |at AS (SELECT count(*) AS t FROM arr0),
        |bins AS (SELECT CAST(unnest(generate_series(0, 4)) AS INT) AS bin),
        |base AS (
        |  SELECT bins.bin,
        |    CASE WHEN bins.bin = 0 THEN NULL ELSE cl.c[bins.bin] END AS lo,
        |    CASE WHEN bins.bin = 4 THEN NULL ELSE cl.c[bins.bin + 1] END AS hi,
        |    CAST(coalesce(ragg.n_ref, 0) AS BIGINT) AS n_ref,
        |    CAST(coalesce(aagg.n_arr, 0) AS BIGINT) AS n_arr,
        |    rt.t AS rt, at.t AS at
        |  FROM bins
        |  LEFT JOIN ragg USING (bin)
        |  LEFT JOIN aagg USING (bin)
        |  CROSS JOIN cl CROSS JOIN rt CROSS JOIN at)
        |SELECT bin, lo, hi, n_ref,
        |  round(CAST(n_ref AS DOUBLE) / CAST(rt AS DOUBLE), 6) AS ref_share,
        |  n_arr,
        |  CASE WHEN at > 0
        |    THEN round(CAST(n_arr AS DOUBLE) / CAST(at AS DOUBLE), 6)
        |    ELSE 0.0 END AS share,
        |  CASE WHEN n_ref > 0 AND n_arr > 0 AND at > 0
        |    THEN round((CAST(n_arr AS DOUBLE) / CAST(at AS DOUBLE)
        |              - CAST(n_ref AS DOUBLE) / CAST(rt AS DOUBLE))
        |           * ln((CAST(n_arr AS DOUBLE) / CAST(at AS DOUBLE))
        |              / (CAST(n_ref AS DOUBLE) / CAST(rt AS DOUBLE))), 6)
        |  END AS psi_term
        |FROM base""".stripMargin,
    "q69_pq_topk" -> PqOracleSql,
    // q103: the oracle refits the frozen LM from the train split
    // (doc_id % 25 <> 0) and scores the held-out split against it —
    // q82's fixed-point recipe with a LEFT join so out-of-vocabulary
    // tokens count into n_oov and contribute 0 to the score sum;
    // all-OOV documents score NULL.
    "q103_lm_store_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (SELECT tok, count(*) AS c FROM toks WHERE doc_id % 25 <> 0 GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM vocab),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE doc_id % 25 = 0 GROUP BY 1, 2),
        |j AS (
        |  SELECT pd.doc_id, pd.cnt, vocab.c,
        |    CASE WHEN vocab.c IS NOT NULL
        |      THEN CAST(round(pd.cnt * ln(vocab.c * 1.0 / t) * 1000000000.0, 0) AS BIGINT)
        |      ELSE 0 END AS ts9
        |  FROM pd LEFT JOIN vocab USING (tok), tot)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
        |  CASE WHEN sum(CASE WHEN c IS NOT NULL THEN cnt ELSE 0 END) > 0
        |    THEN round(CAST(sum(ts9) AS DOUBLE) / 1000000000.0
        |      / CAST(sum(CASE WHEN c IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE), 6)
        |  END AS avg_logprob
        |FROM j GROUP BY doc_id""".stripMargin,
    // q104: the Efraimidis–Spirakis draw replayed exactly — same
    // 60-bit md5 uniform, same monotone ln(u)/w key at the same
    // fixed-point quantization, same (key desc, id) tie order.
    "q104_weighted_sample" ->
      """WITH w AS (
        |  SELECT source, doc_id, lang, n_chars,
        |    CAST(round(
        |      ln((CAST(concat('0x', substr(md5('ws_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
        |         / 1152921504606846976.0)
        |      / ln(1 + n_chars) * 1000000000.0, 0) AS BIGINT) AS k9
        |  FROM documents)
        |SELECT source, doc_id, lang, n_chars, CAST(rnk AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY source ORDER BY k9 DESC, doc_id) AS rnk
        |      FROM w) t
        |WHERE rnk <= 12""".stripMargin,
    "q105_corpus_cube" ->
      """WITH d AS (
        |  SELECT lang, source, n_chars,
        |    CASE WHEN text IS NOT NULL
        |      THEN len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0))
        |    END AS n_toks
        |  FROM documents)
        |SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens
        |FROM d GROUP BY CUBE(lang, source)""".stripMargin,
    // q106: the KL terms quantize at x10^9 AFTER each factor is cast
    // to double individually (matching the engine's rounding path).
    "q106_source_drift" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |gt AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT tok, sum(cnt) AS c FROM gt GROUP BY 1),
        |tots AS (SELECT source, sum(cnt) AS gtot FROM gt GROUP BY 1),
        |grand AS (SELECT sum(c) AS t FROM vocab),
        |terms AS (
        |  SELECT gt.source, gt.cnt,
        |    CAST(round((CAST(gt.cnt AS DOUBLE) / CAST(gtot AS DOUBLE)) *
        |      ln((CAST(gt.cnt AS DOUBLE) * CAST(t AS DOUBLE))
        |         / (CAST(gtot AS DOUBLE) * CAST(c AS DOUBLE)))
        |      * 1000000000.0, 0) AS BIGINT) AS k9
        |  FROM gt JOIN vocab USING (tok) JOIN tots USING (source), grand)
        |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_vocab,
        |  round(CAST(sum(k9) AS DOUBLE) / 1000000000.0, 6) AS kl
        |FROM terms GROUP BY source""".stripMargin,
    // q107: the greedy MMR replayed step-by-step in a recursive CTE;
    // validated term-for-term against an independent in-python greedy
    // during development and against the engine by this gate.
    "q107_mmr_rerank" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q_id, e.vec_id AS doc_id,
        |    list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))) AS c
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
        |hits AS (
        |  SELECT q_id AS query_id, doc_id, round(c, 6) AS score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, doc_id) AS rnk
        |    FROM scored) t
        |  WHERE rnk <= 20),
        |cand AS (SELECT query_id, doc_id, score, v FROM hits JOIN e ON doc_id = vec_id),
        |sel(query_id, step, doc_id, mmr, picked) AS (
        |  SELECT query_id, CAST(1 AS BIGINT), doc_id,
        |    round_even(0.5 * score * 1000000.0, 0) / 1000000.0,
        |    [doc_id]
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        |        FROM cand) t WHERE rn = 1
        |  UNION ALL
        |  SELECT query_id, step + 1, doc_id,
        |    round_even(m * 1000000.0, 0) / 1000000.0,
        |    list_append(picked, doc_id)
        |  FROM (
        |    SELECT s.query_id, s.step, c.doc_id, c.score, s.picked,
        |      0.5 * c.score - 0.5 * greatest(0.0, (
        |        SELECT max(round_even(list_dot_product(c.v, p.v)
        |          / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(p.v, p.v)))
        |          * 1000000.0, 0) / 1000000.0)
        |        FROM cand p
        |        WHERE p.query_id = c.query_id AND list_contains(s.picked, p.doc_id))) AS m
        |    FROM sel s JOIN cand c
        |      ON c.query_id = s.query_id AND NOT list_contains(s.picked, c.doc_id)
        |    WHERE s.step < 10) t
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY m DESC, score DESC, doc_id) = 1
        |)
        |SELECT query_id, doc_id, step AS rank, mmr FROM sel""".stripMargin,
    // q108: the NB model is pure counts — both class histograms, the
    // smoothed log-ratio weights and the doc-count prior re-derive in
    // SQL; the per-doc sum shares the q82 fixed-point recipe, and the
    // prior is added AFTER dequantization (one float add, fixed
    // order) exactly as the engine does. `predicted` thresholds the
    // UNROUNDED double, so it must be computed from the same
    // expression, not the 6dp-rounded log_odds.
    "q108_naive_bayes" ->
      s"""WITH $NbScoreCtes
        |SELECT doc_id, n_tokens,
        |  round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS log_odds,
        |  CAST(CASE WHEN prior + CAST(s9 AS DOUBLE) / 1000000000.0 > 0
        |    THEN 1 ELSE 0 END AS INT) AS predicted
        |FROM s, pri""".stripMargin,
    // q112: the q108 scores (shared CTEs) evaluated against the true
    // lang='en' label — AUC as the grouped Mann–Whitney rank-sum
    // (scores quantized to 1e-9 keys, exclusive negative prefix sum
    // via a window over the DISTINCT-SCORE table; pair products in
    // HUGEINT), confusion from the filter's own unrounded-sign
    // prediction. Every branch (null AUC on a one-class corpus, null
    // precision/recall on empty denominators, f1=0 at tp=0) mirrors
    // Eval.classifierMetrics exactly.
    // q133: both estimates replayed with the q130 register math (the
    // generated chain) — est_before over the reference split's
    // distinct (lang, tok) set, est_after over its union with the
    // mutated arrivals; register max over a union == max of the two
    // sides' registers, which is exactly what the store's merge does.
    "q133_vocab_growth" ->
      (s"""WITH rtoks AS (
        |  SELECT DISTINCT lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 <> 0),
        |atoks AS (
        |  SELECT DISTINCT lang,
        |    unnest(list_filter(string_split_regex(lower(
        |      CASE WHEN doc_id % 2 = 0 THEN text || ' nw' || CAST(doc_id AS VARCHAR)
        |           ELSE text END), '\\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0),
        |utoks AS (SELECT lang, tok FROM rtoks UNION SELECT lang, tok FROM atoks),
        |""" + hllLangEstSql("b", "rtoks") + ",\n" + hllLangEstSql("u", "utoks") + """
        |SELECT ufin.lang,
        |  CASE WHEN bfin.lang IS NOT NULL THEN round(bfin.hll, 6) ELSE 0.0 END
        |    AS est_before,
        |  round(ufin.hll, 6) AS est_after,
        |  round(round(ufin.hll, 6) -
        |    CASE WHEN bfin.lang IS NOT NULL THEN round(bfin.hll, 6) ELSE 0.0 END, 6)
        |    AS est_growth
        |FROM ufin LEFT JOIN bfin USING (lang)""").stripMargin,
    // q132: q108's scores (shared CTEs) cut into 10 equal-frequency
    // bins by (6dp score, doc_id) — ntile semantics identical in both
    // engines; confidence accumulates the per-row sigmoid in fixed
    // point (x1e9 longs) so the bin mean is order-independent.
    "q132_calibration" ->
      s"""WITH $NbScoreCtes,
        |lbl AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents),
        |sc AS (
        |  SELECT s.doc_id,
        |    round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS s6, lbl.y
        |  FROM s CROSS JOIN pri JOIN lbl ON lbl.doc_id = s.doc_id),
        |b AS (SELECT *, ntile(10) OVER (ORDER BY s6, doc_id) AS bin FROM sc),
        |t AS (
        |  SELECT bin, y,
        |    CAST(round(1.0 / (1.0 + exp(s6 * -1)) * 1000000000.0, 0) AS BIGINT) AS p9
        |  FROM b),
        |agg AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(p9) AS DOUBLE) / 1000000000.0
        |      / CAST(count(*) AS DOUBLE), 6) AS conf,
        |    round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS acc
        |  FROM t GROUP BY 1)
        |SELECT CAST(bin AS INT) AS bin, n, conf, acc,
        |  round(abs(conf - acc), 6) AS gap
        |FROM agg""".stripMargin,
    // q138: q132's scores against FROZEN quintile cuts — cut-points
    // by explicit rank over the reference split's 6dp scores (the
    // q131 recipe), ties-go-low binning transcribed as 1 + count of
    // cuts strictly below; conf/acc/gap arithmetic identical to q132.
    // Arrival-empty bins are absent (frozen cuts name 5 possible
    // bins, the GROUP BY only sees occupied ones).
    "q138_calibration_frozen" ->
      s"""WITH $NbScoreCtes,
        |lbl AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents),
        |sc AS (
        |  SELECT s.doc_id,
        |    round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS s6, lbl.y
        |  FROM s CROSS JOIN pri JOIN lbl ON lbl.doc_id = s.doc_id),
        |ref0 AS (SELECT s6 AS val FROM sc WHERE doc_id % 5 <> 0),
        |arr0 AS (SELECT doc_id, s6, y FROM sc WHERE doc_id % 5 = 0),
        |nn AS (SELECT count(*) AS n FROM ref0),
        |qs AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS q),
        |r AS (SELECT q, GREATEST(1, CAST(ceil(q * n) AS BIGINT)) AS rk FROM qs, nn),
        |srt AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM ref0),
        |cuts AS (SELECT q, val FROM r JOIN srt ON srt.rn = r.rk),
        |t AS (
        |  SELECT
        |    CAST(1 + (SELECT count(*) FROM cuts WHERE arr0.s6 > cuts.val) AS INT) AS bin,
        |    y,
        |    CAST(round(1.0 / (1.0 + exp(s6 * -1)) * 1000000000.0, 0) AS BIGINT) AS p9
        |  FROM arr0),
        |agg AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(p9) AS DOUBLE) / 1000000000.0
        |      / CAST(count(*) AS DOUBLE), 6) AS conf,
        |    round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS acc
        |  FROM t GROUP BY 1)
        |SELECT bin, n, conf, acc,
        |  round(abs(conf - acc), 6) AS gap
        |FROM agg""".stripMargin,
    "q112_classifier_eval" ->
      s"""WITH $NbScoreCtes,
        |scored AS (
        |  SELECT s.doc_id,
        |    round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS score,
        |    CASE WHEN prior + CAST(s9 AS DOUBLE) / 1000000000.0 > 0
        |      THEN 1 ELSE 0 END AS pred
        |  FROM s, pri),
        |b AS (
        |  SELECT CAST(round(score * 1000000000.0, 0) AS BIGINT) AS s9k, pred,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM scored JOIN documents d USING (doc_id)),
        |g AS (SELECT s9k, CAST(sum(y) AS BIGINT) AS pos_k,
        |        CAST(count(*) - sum(y) AS BIGINT) AS neg_k FROM b GROUP BY 1),
        |w AS (SELECT *, CAST(coalesce(sum(neg_k) OVER (ORDER BY s9k
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |      FROM g),
        |a AS (SELECT CAST(sum(pos_k) AS BIGINT) AS n_pos,
        |        CAST(sum(neg_k) AS BIGINT) AS n_neg,
        |        sum(CAST(pos_k AS HUGEINT) * CAST(cum * 2 + neg_k AS HUGEINT)) AS num
        |      FROM w),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |        CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |        CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |        CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |      FROM b)
        |SELECT n, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(CAST(num AS DOUBLE) /
        |      (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0), 6) END AS auc,
        |  tp, fp, fn, tn,
        |  round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
        |  CASE WHEN tp + fp > 0 THEN
        |    round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN
        |    round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 THEN
        |    CASE WHEN tp = 0 THEN 0.0 ELSE
        |      round(2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
        |                * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
        |            / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
        |             + (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))), 6) END
        |  END AS f1
        |FROM c, a""".stripMargin,
    // q110: the oracle refits the frozen NB model from the train
    // split (same histograms/totals/prior as q108's, restricted to
    // doc_id % 25 != 0) and LEFT-joins it to the held-out postings —
    // coalesce prices OOV tokens as Laplace zero-count tokens exactly
    // as the engine's one shared weight expression does.
    "q110_nb_store_score" ->
      """WITH tr AS (
        |  SELECT doc_id, lang = 'en' AS is_seed,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE doc_id % 25 <> 0 AND text IS NOT NULL),
        |tpd AS (SELECT doc_id, is_seed, tok, count(*) AS cnt FROM tr GROUP BY 1, 2, 3),
        |hist AS (
        |  SELECT tok,
        |    sum(CASE WHEN is_seed THEN cnt ELSE 0 END) AS pos,
        |    sum(CASE WHEN NOT is_seed THEN cnt ELSE 0 END) AS neg
        |  FROM tpd GROUP BY 1),
        |tot AS (SELECT sum(pos) AS tpos, sum(neg) AS tneg, count(*) AS v FROM hist),
        |pri AS (
        |  SELECT ln(CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE)
        |           / CAST(sum(CASE WHEN is_seed THEN 0 ELSE 1 END) AS DOUBLE)) AS prior
        |  FROM (SELECT DISTINCT doc_id, is_seed FROM tpd)),
        |bt AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE doc_id % 25 = 0 AND text IS NOT NULL),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM bt GROUP BY 1, 2),
        |j AS (
        |  SELECT pd.doc_id, pd.cnt, hist.pos,
        |    CAST(round(CAST(pd.cnt AS DOUBLE) * (
        |      ln(CAST(coalesce(pos, 0) + 1 AS DOUBLE) / CAST(tpos + v AS DOUBLE)) -
        |      ln(CAST(coalesce(neg, 0) + 1 AS DOUBLE) / CAST(tneg + v AS DOUBLE)))
        |      * 1000000000.0, 0) AS BIGINT) AS ts9
        |  FROM pd LEFT JOIN hist USING (tok), tot),
        |s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN pos IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
        |        CAST(sum(ts9) AS BIGINT) AS s9 FROM j GROUP BY 1)
        |SELECT doc_id, n_tokens, n_oov,
        |  round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS log_odds,
        |  CAST(CASE WHEN prior + CAST(s9 AS DOUBLE) / 1000000000.0 > 0
        |    THEN 1 ELSE 0 END AS INT) AS predicted
        |FROM s, pri""".stripMargin,
    // q111: the q25 LSH chain (rank <= 10) is the evaluated result
    // list, the q22 brute-force ranking (rank <= 10) the truth; the
    // metric math is exact — hits keyed on (query, doc), DCG terms
    // quantized x1e9 with the ln(x)/ln(2) discount, ideal-DCG from a
    // 1..10 lookup joined on least(n_rel, 10).
    "q111_retrieval_eval" ->
      """WITH planes AS (
        |  SELECT t.t, b.i, j.j,
        |    (CAST(concat('0x', substr(md5('plane_' || t.t || '_' || b.i || '_' || j.j), 1, 15)) AS BIGINT)
        |      / power(2, 59)) - 1.0 AS c
        |  FROM range(4) t(t), range(6) b(i), range(64) j(j)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dots AS (
        |  SELECT e.vec_id, p.t, p.i, sum(p.c * e.v[p.j + 1] ORDER BY p.j) AS d
        |  FROM e JOIN planes p ON true GROUP BY 1, 2, 3),
        |sigs AS (
        |  SELECT vec_id, t,
        |    CAST(sum(CASE WHEN d >= 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM dots GROUP BY 1, 2),
        |probes AS (
        |  SELECT s.vec_id AS q_id, s.t,
        |    CASE WHEN f.f < 0 THEN s.sig ELSE xor(s.sig, CAST(power(2, f.f) AS BIGINT)) END AS probe
        |  FROM sigs s, range(-1, 6) f(f) WHERE s.vec_id < 8),
        |cand AS (
        |  SELECT DISTINCT p.q_id, s.vec_id AS neighbor_id
        |  FROM probes p JOIN sigs s ON p.t = s.t AND p.probe = s.sig
        |  WHERE s.vec_id <> p.q_id),
        |lscored AS (
        |  SELECT c.q_id, c.neighbor_id,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cs
        |  FROM cand c JOIN e a ON a.vec_id = c.neighbor_id JOIN e b ON b.vec_id = c.q_id),
        |res AS (
        |  SELECT q_id AS query_id, neighbor_id AS doc_id, rnk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rnk
        |    FROM lscored) t
        |  WHERE rnk <= 10),
        |bscored AS (
        |  SELECT q.vec_id AS q_id, s.vec_id AS doc_id,
        |    list_dot_product(s.v, q.v) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(q.v, q.v))) AS c
        |  FROM e s JOIN e q ON q.vec_id < 8 AND s.vec_id <> q.vec_id),
        |truth AS (
        |  SELECT q_id AS query_id, doc_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, doc_id) AS rnk
        |    FROM bscored) t
        |  WHERE rnk <= 10),
        |rel AS (SELECT query_id, count(*) AS n_rel FROM truth GROUP BY 1),
        |hits AS (
        |  SELECT r.query_id, count(*) AS n_hits, min(r.rnk) AS first_hit,
        |    sum(CAST(round(1.0 / (ln(CAST(r.rnk AS DOUBLE) + 1.0) / ln(2.0))
        |      * 1000000000.0, 0) AS BIGINT)) AS dcg9
        |  FROM res r JOIN truth t ON r.query_id = t.query_id AND r.doc_id = t.doc_id
        |  GROUP BY 1),
        |ideal AS (
        |  SELECT n.n, sum(CAST(round(1.0 / (ln(CAST(i.i AS DOUBLE) + 1.0) / ln(2.0))
        |      * 1000000000.0, 0) AS BIGINT)) AS idcg9
        |  FROM range(1, 11) n(n) JOIN range(1, 11) i(i) ON i.i <= n.n GROUP BY 1)
        |SELECT rel.query_id, CAST(rel.n_rel AS BIGINT) AS n_rel,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(rel.n_rel AS DOUBLE), 6) AS recall,
        |  round(coalesce(1.0 / CAST(h.first_hit AS DOUBLE), 0.0), 6) AS mrr,
        |  round(CAST(coalesce(h.dcg9, 0) AS DOUBLE) / CAST(ideal.idcg9 AS DOUBLE), 6) AS ndcg
        |FROM rel LEFT JOIN hits h USING (query_id)
        |JOIN ideal ON ideal.n = least(rel.n_rel, 10)""".stripMargin,
    // q114: q112's evaluation sliced by source — the same NB-score
    // CTEs, with the rank-sum window PARTITIONED by source and every
    // aggregate keyed on it.
    "q114_group_classifier_eval" ->
      s"""WITH $NbScoreCtes,
        |scored AS (
        |  SELECT s.doc_id,
        |    round(prior + CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS score,
        |    CASE WHEN prior + CAST(s9 AS DOUBLE) / 1000000000.0 > 0
        |      THEN 1 ELSE 0 END AS pred
        |  FROM s, pri),
        |b AS (
        |  SELECT d.source, CAST(round(score * 1000000000.0, 0) AS BIGINT) AS s9k,
        |    pred, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM scored JOIN documents d USING (doc_id)),
        |g AS (SELECT source, s9k, CAST(sum(y) AS BIGINT) AS pos_k,
        |        CAST(count(*) - sum(y) AS BIGINT) AS neg_k FROM b GROUP BY 1, 2),
        |w AS (SELECT *, CAST(coalesce(sum(neg_k) OVER (PARTITION BY source
        |        ORDER BY s9k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS cum FROM g),
        |a AS (SELECT source, CAST(sum(pos_k) AS BIGINT) AS n_pos,
        |        CAST(sum(neg_k) AS BIGINT) AS n_neg,
        |        sum(CAST(pos_k AS HUGEINT) * CAST(cum * 2 + neg_k AS HUGEINT)) AS num
        |      FROM w GROUP BY 1),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |        CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |        CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |        CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |      FROM b GROUP BY 1)
        |SELECT c.source, n, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(CAST(num AS DOUBLE) /
        |      (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0), 6) END AS auc,
        |  tp, fp, fn, tn,
        |  round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
        |  CASE WHEN tp + fp > 0 THEN
        |    round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN
        |    round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 THEN
        |    CASE WHEN tp = 0 THEN 0.0 ELSE
        |      round(2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
        |                * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
        |            / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
        |             + (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))), 6) END
        |  END AS f1
        |FROM c JOIN a USING (source)""".stripMargin,
    // q122: the q17 fingerprint recipe on the first-8-token slice,
    // corpus-wide prefix df joined back, per-source profile.
    "q122_prefix_dup_profile" ->
      """WITH f AS (
        |  SELECT source,
        |    md5(array_to_string(
        |      list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)[1:8],
        |      ' ')) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT fp, count(*) AS df FROM f GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_docs,
        |  CAST(count(DISTINCT CASE WHEN df >= 2 THEN fp END) AS BIGINT) AS n_shared_prefixes,
        |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS shared_rate
        |FROM f JOIN d USING (fp) GROUP BY 1""".stripMargin,
    // q121: the whole minhash banding replayed — 60-bit md5 gram
    // hashes pmod 2^32, per-permutation minima of (a·h+b) mod p with
    // a=2i+1, b=1013904223·(i+1) mod p, p=4294967311 (the
    // MinHashSketchAgg parametrization), band buckets as md5 of the
    // '_'-joined 4-slot signature slices, then per-band bucket stats.
    "q121_banding_report" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
        |    CASE WHEN len(tk) >= 2
        |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE [] END) AS t(g)),
        |gh AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4294967296 AS h
        |  FROM grams),
        |s AS (
        |  SELECT doc_id, i,
        |    CAST(min(((2 * i + 1) * h + (1013904223 * (i + 1)) % 4294967311) % 4294967311)
        |      AS BIGINT) AS m
        |  FROM gh CROSS JOIN range(32) t(i) GROUP BY 1, 2),
        |bk AS (
        |  SELECT doc_id, CAST(i // 4 AS INT) AS band,
        |    md5(string_agg(CAST(m AS VARCHAR), '_' ORDER BY i)) AS bucket
        |  FROM s GROUP BY 1, 2),
        |per AS (SELECT band, bucket, count(*) AS s FROM bk GROUP BY 1, 2)
        |SELECT band, CAST(sum(s) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(max(s) AS BIGINT) AS max_bucket,
        |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
        |FROM per GROUP BY 1""".stripMargin,
    // q120: the q60 probe replay (shared IVF cell CTEs) with the
    // even-label predicate applied at the candidate stage — hybrid
    // search's post-filter semantics, transcribed.
    "q120_filtered_ann" ->
      s"""WITH $IvfCellCtes,
        |pp AS (
        |  SELECT vec_id AS q_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM df WHERE vec_id < 8) t WHERE rn <= 6),
        |cand AS (
        |  SELECT p.q_id, a.vec_id AS neighbor_id
        |  FROM pp p JOIN af a USING (cell)
        |  JOIN embeddings em ON em.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.q_id AND em.label % 2 = 0),
        |scored AS (
        |  SELECT c.q_id, c.neighbor_id,
        |    list_dot_product(en.v, eq.v)
        |      / (sqrt(list_dot_product(en.v, en.v)) * sqrt(list_dot_product(eq.v, eq.v))) AS cs
        |  FROM cand c JOIN e en ON en.vec_id = c.neighbor_id JOIN e eq ON eq.vec_id = c.q_id)
        |SELECT q_id AS query_id, neighbor_id, round(cs, 6) AS cos, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    // q119: raw values on the floor(x*1e6+0.5) grid; count/sum/sum²
    // as HUGEINT integer aggregates; variance = (n·Σx²−(Σx)²)/n²
    // evaluated in the same operand order as the engine.
    "q119_embedding_dim_stats" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (
        |  SELECT j - 1 AS d, CAST(floor(v[j] * 1000000.0 + 0.5) AS BIGINT) AS qx
        |  FROM e, UNNEST(generate_series(1, len(v))) AS t(j)),
        |g AS (
        |  SELECT CAST(d AS INT) AS d, CAST(count(*) AS BIGINT) AS n_vecs,
        |    sum(CAST(qx AS HUGEINT)) AS s, sum(CAST(qx AS HUGEINT) * qx) AS s2,
        |    min(qx) AS mn, max(qx) AS mx
        |  FROM q GROUP BY 1)
        |SELECT d, n_vecs,
        |  round(CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0, 6) AS mean,
        |  round(CAST(s2 * n_vecs - s * s AS DOUBLE) /
        |    (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE) * 1000000.0 * 1000000.0), 6)
        |    AS variance,
        |  round(CAST(mn AS DOUBLE) / 1000000.0, 6) AS min_val,
        |  round(CAST(mx AS DOUBLE) / 1000000.0, 6) AS max_val
        |FROM g""".stripMargin,
    // q118: the q18 capped-Jaccard pair CTEs + the q53 md5 split
    // replay, pair endpoints labeled and counted per unordered split
    // pair — the audit shares both contracts verbatim.
    // q118: exhaustive no-cap pair replay (the q19 gram CTEs) — the
    // engine's banded path verifies candidates against FULL gram
    // sets, so the oracle's jaccard must be uncapped too.
    "q118_split_leakage" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
        |    CASE WHEN len(tk) >= 2
        |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE [] END) AS t(g)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT least(a.split, b.split) AS split_a,
        |  greatest(a.split, b.split) AS split_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs p
        |JOIN sp a ON p.doc_a = a.doc_id
        |JOIN sp b ON p.doc_b = b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // q116: per-cell occupancy + mean integer quantization error from
    // the SAME shared IVF cell CTEs the ANN oracles replay — df
    // already holds every vector's squared distance to every final
    // centroid, so the report is af ⋈ df on the assigned cell.
    "q116_index_health" ->
      s"""WITH $IvfCellCtes,
        |pc AS (
        |  SELECT a.cell, CAST(count(*) AS BIGINT) AS n_vecs,
        |    sum(CAST(d.dist AS HUGEINT)) AS sqsum
        |  FROM af a JOIN df d ON d.vec_id = a.vec_id AND d.cell = a.cell
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM pc)
        |SELECT CAST(r.cell AS INT) AS cell,
        |  CAST(coalesce(pc.n_vecs, 0) AS BIGINT) AS n_vecs,
        |  round(CAST(coalesce(pc.n_vecs, 0) AS DOUBLE) /
        |    CAST(tot.n_total AS DOUBLE), 6) AS frac,
        |  CASE WHEN pc.n_vecs > 0 THEN
        |    round(CAST(pc.sqsum AS DOUBLE) / CAST(pc.n_vecs AS DOUBLE), 6)
        |  END AS mean_sqerr
        |FROM range(24) r(cell) LEFT JOIN pc ON pc.cell = r.cell, tot""".stripMargin,
    // q115: the engine generates pairs row-locally from bounded
    // per-gram source sets; the oracle is free to self-join the
    // (source, gram) table at test scale — same matrix.
    "q115_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |grams AS (
        |  SELECT DISTINCT source, g FROM toks, UNNEST(
        |    CASE WHEN len(tk) >= 2
        |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE [] END) AS t(g)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM grams GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_grams
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_grams,
        |  round(CAST(shared_grams AS DOUBLE) /
        |    CAST(sa.sz + sb.sz - shared_grams AS DOUBLE), 6) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b""".stripMargin,
    // q113: the water-filling allocator replayed end-to-end — per-lang
    // token counts, sqrt weights quantized x1e9, saturation levels,
    // exclusive prefix sums in (level, source) order, the first
    // self-consistent cut via ORDER BY/LIMIT 1, and the same
    // cap-vs-floor(level*weight) split per source. LEFT JOIN ON true
    // keeps the all-capped case (empty sel) as a null level.
    "q113_token_budget" ->
      """WITH t AS (
        |  SELECT lang AS source,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |bud AS (SELECT CAST(sum(n_tokens) * 9 // 5 AS BIGINT) AS budget FROM t),
        |b AS (SELECT source, n_tokens,
        |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000000.0, 0) AS BIGINT) AS w9,
        |    CAST(n_tokens * 2 AS BIGINT) AS cap_t
        |  FROM t WHERE n_tokens > 0),
        |r AS (SELECT *, CAST(cap_t AS DOUBLE) * 1000000000.0 / CAST(w9 AS DOUBLE) AS rr FROM b),
        |tot AS (SELECT CAST(sum(w9) AS BIGINT) AS tot_w9 FROM b),
        |c AS (SELECT *,
        |    CAST(coalesce(sum(cap_t) OVER w, 0) AS BIGINT) AS cum_cap,
        |    CAST(coalesce(sum(w9) OVER w, 0) AS BIGINT) AS cum_w9
        |  FROM r WINDOW w AS (ORDER BY rr, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |cand AS (SELECT *,
        |    CAST(budget - cum_cap AS DOUBLE) /
        |      (CAST(tot_w9 - cum_w9 AS DOUBLE) / 1000000000.0) AS c_cand
        |  FROM c, tot, bud),
        |sel AS (SELECT c_cand AS c_star FROM cand WHERE c_cand < rr
        |        ORDER BY rr, source LIMIT 1),
        |alloc AS (
        |  SELECT r.source, r.n_tokens, r.w9,
        |    CASE WHEN s.c_star IS NULL OR s.c_star >= r.rr THEN r.cap_t
        |      ELSE CAST(floor(s.c_star * CAST(r.w9 AS DOUBLE) / 1000000000.0) AS BIGINT)
        |    END AS alloc_tokens,
        |    CASE WHEN s.c_star IS NULL OR s.c_star >= r.rr THEN 1 ELSE 0 END AS capped
        |  FROM r LEFT JOIN sel s ON true)
        |SELECT a.source, a.n_tokens,
        |  round(CAST(a.w9 AS DOUBLE) / CAST(tot.tot_w9 AS DOUBLE), 6) AS weight,
        |  CAST(a.alloc_tokens AS BIGINT) AS alloc_tokens,
        |  CAST(a.capped AS INT) AS capped,
        |  round(CAST(a.alloc_tokens AS DOUBLE) / CAST(a.n_tokens AS DOUBLE), 6) AS epochs
        |FROM alloc a, tot""".stripMargin,
    // q109: the full deterministic quantizer (shared IVF cell CTEs)
    // plus the q104 Efraimidis–Spirakis draw partitioned by cell —
    // uniform weights, so the rank key is just ln(u) at the shared
    // fixed-point quantization.
    "q109_cluster_sample" ->
      s"""WITH $IvfCellCtes,
        |w AS (
        |  SELECT vec_id, cell,
        |    CAST(round(
        |      ln((CAST(concat('0x', substr(md5('ws_' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
        |         / 1152921504606846976.0) / 1.0 * 1000000000.0, 0) AS BIGINT) AS k9
        |  FROM af)
        |SELECT vec_id, CAST(cell AS INT) AS cell, CAST(rnk AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY k9 DESC, vec_id) AS rnk
        |      FROM w) t
        |WHERE rnk <= 8""".stripMargin,
    "q01_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_dims" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q03_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 350000.0)""".stripMargin,
    "q05_full_outer" ->
      """WITH os AS (
        |  SELECT o_custkey AS custkey, count(*) AS n_f_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS f_total
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
        |rc AS (
        |  SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0)
        |SELECT COALESCE(os.custkey, rc.custkey) AS custkey, n_f_orders, f_total, c_acctbal
        |FROM os FULL OUTER JOIN rc ON os.custkey = rc.custkey""".stripMargin,
    "q06_pivot" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS "A",
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS "N",
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q07_unpivot" ->
      """SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part""".stripMargin,
    "q08_union_superset" ->
      """SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment,
        |  CAST(NULL AS INTEGER) AS nationkey FROM customer
        |UNION ALL
        |SELECT s_name, s_acctbal, CAST(NULL AS VARCHAR), s_nationkey FROM supplier""".stripMargin,
    "q09_distinct" ->
      "SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders",
    "q10_collect_set" ->
      """SELECT c_mktsegment,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        |  count(*) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q11_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin,
    "q12_scalar_funcs" ->
      """SELECT p_partkey,
        |  round(log2(p_retailprice + 1), 6) AS log_price,
        |  substr(p_name, 1, 4) AS name4,
        |  concat(p_brand, '/', p_type) AS brand_type,
        |  regexp_extract(p_brand, '[0-9]+', 0) AS brand_num,
        |  least(p_size, 25) AS size_capped,
        |  upper(p_name) AS name_upper,
        |  p_retailprice / 365.0 AS price_per_day
        |FROM part""".stripMargin,
    "q13_xena_matrix" ->
      """WITH m AS (
        |  SELECT l_partkey AS probe, l_returnflag AS sample,
        |    round(log2(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) + 1), 6) AS value
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT probe,
        |  max(CASE WHEN sample = 'A' THEN value END) AS "A",
        |  max(CASE WHEN sample = 'N' THEN value END) AS "N",
        |  max(CASE WHEN sample = 'R' THEN value END) AS "R"
        |FROM m GROUP BY probe""".stripMargin,
    "q14_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q15_event_time_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q16_tsv_roundtrip" ->
      """SELECT r_name, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q17_exact_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0), ' ')) AS fp
        |  FROM documents)
        |SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups FROM f GROUP BY fp""".stripMargin,
    "q18_ngram_jaccard" ->
      s"""WITH $NgramPairsCtes
        |SELECT doc_a, doc_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8""".stripMargin,
    "q19_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
        |    CASE WHEN len(tk) >= 2
        |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE [] END) AS t(g)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8""".stripMargin,
    "q20_simhash_sig" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents),
        |th AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
        |  GROUP BY doc_id, j)
        |SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
        |FROM votes GROUP BY doc_id""".stripMargin,
    "q21_text_stats" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, toks,
        |    len(toks) AS n_tokens,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)) AS n_subwords,
        |    CASE WHEN len(text) > 0
        |      THEN (len(text) - len(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))) * 1.0 / len(text)
        |      ELSE 0.0 END AS praw,
        |    CASE WHEN len(toks) > 0
        |      THEN len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0 / len(toks)
        |      ELSE 0.0 END AS sraw,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','los'], t))) AS h_es,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS h_de,
        |    len(list_filter(toks, t -> list_contains(['le','les','des','et','est','une'], t))) AS h_fr
        |  FROM base)
        |SELECT doc_id, n_tokens, n_subwords,
        |  round(least(n_tokens / 20.0, 1.0) * 0.4
        |    + greatest(1.0 - abs(sraw - 0.25) * 2.0, 0.0) * 0.3
        |    + (1.0 - least(praw * 5.0, 1.0)) * 0.3, 6) AS quality,
        |  CASE WHEN h_es > h_de AND h_es > h_fr THEN 'es'
        |       WHEN h_de > h_es AND h_de > h_fr THEN 'de'
        |       WHEN h_fr > h_es AND h_fr > h_de THEN 'fr'
        |       ELSE 'en' END AS lang_guess,
        |  round(praw, 6) AS punct_ratio,
        |  round(sraw, 6) AS stop_ratio,
        |  md5(array_to_string(toks, ' ')) AS fp
        |FROM m""".stripMargin,
    "q22_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q_id, e.vec_id AS neighbor_id,
        |    list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))) AS c
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id)
        |SELECT q_id AS query_id, neighbor_id, round(c, 6) AS cos, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    "q23_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT id_a, id_b, round(c, 6) AS cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id) t
        |WHERE c >= 0.45""".stripMargin,
    "q24_session_stats" ->
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s2 AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM s)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s2 GROUP BY user_id, session_seq""".stripMargin,
    // q25/q26 oracles replicate the deterministic hyperplane LSH in
    // SQL: plane component (t,i,j) = md5("plane_t_i_j") first 15 hex
    // digits scaled to [-1,1) — identical doubles in both engines, and
    // both compute sequential IEEE dot products, so the signature BITS
    // agree exactly (validated component-by-component at sf0.001/0.01).
    "q25_lsh_ann_topk" ->
      """WITH planes AS (
        |  SELECT t.t, b.i, j.j,
        |    (CAST(concat('0x', substr(md5('plane_' || t.t || '_' || b.i || '_' || j.j), 1, 15)) AS BIGINT)
        |      / power(2, 59)) - 1.0 AS c
        |  FROM range(4) t(t), range(6) b(i), range(64) j(j)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dots AS (
        |  SELECT e.vec_id, p.t, p.i, sum(p.c * e.v[p.j + 1] ORDER BY p.j) AS d
        |  FROM e JOIN planes p ON true GROUP BY 1, 2, 3),
        |sigs AS (
        |  SELECT vec_id, t,
        |    CAST(sum(CASE WHEN d >= 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM dots GROUP BY 1, 2),
        |probes AS (
        |  SELECT s.vec_id AS q_id, s.t,
        |    CASE WHEN f.f < 0 THEN s.sig ELSE xor(s.sig, CAST(power(2, f.f) AS BIGINT)) END AS probe
        |  FROM sigs s, range(-1, 6) f(f) WHERE s.vec_id < 8),
        |cand AS (
        |  SELECT DISTINCT p.q_id, s.vec_id AS neighbor_id
        |  FROM probes p JOIN sigs s ON p.t = s.t AND p.probe = s.sig
        |  WHERE s.vec_id <> p.q_id),
        |scored AS (
        |  SELECT c.q_id, c.neighbor_id,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cs
        |  FROM cand c JOIN e a ON a.vec_id = c.neighbor_id JOIN e b ON b.vec_id = c.q_id)
        |SELECT q_id AS query_id, neighbor_id, round(cs, 6) AS cos, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rank FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    "q26_cosine_pairs_lsh" ->
      s"""WITH $LshCosinePairsCtes
        |SELECT id_a, id_b, round(cs, 6) AS cos FROM scored WHERE cs >= 0.35""".stripMargin,
    // Connected components WITHOUT a recursive CTE: 18 unrolled
    // hook-and-compress (pointer jumping) rounds over the edge set,
    // converging to the min-id label for any component of up to 2^18
    // nodes — beyond every gate corpus. The recursive `reach` closure
    // it replaces was O(Σ component²) rows AND fragmented DuckDB's
    // allocator into ~30k mmap regions at sf0.1, tripping
    // vm.max_map_count-driven bad_allocs in LATER queries on the same
    // connection (q55/q56/q60 failed collaterally). MATERIALIZED is
    // load-bearing: each round references its predecessor twice, so
    // inlining would expand the plan 2^36-fold.
    "q52_embedding_clusters" -> {
      val rounds = (1 to 18).map { k =>
        s"""h$k AS MATERIALIZED (
           |  SELECT l.id, least(l.lab, coalesce(min(nl.lab), l.lab)) AS lab
           |  FROM lab${k - 1} l
           |  LEFT JOIN edges e ON e.s = l.id
           |  LEFT JOIN lab${k - 1} nl ON nl.id = e.d
           |  GROUP BY l.id, l.lab),
           |lab$k AS MATERIALIZED (
           |  SELECT h.id, h2.lab FROM h$k h JOIN h$k h2 ON h2.id = h.lab)""".stripMargin
      }.mkString(",\n")
      s"""WITH $LshCosinePairsCtes,
        |pairs AS (SELECT id_a, id_b FROM scored WHERE cs >= 0.35),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS s, id_b AS d FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |lab0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS lab FROM embeddings),
        |$rounds
        |SELECT id AS vec_id, lab AS cluster_id FROM lab18""".stripMargin
    },
    // Transcribes Similarity.ivfTopK's deterministic integer Lloyd
    // (scale 1e6, nlist 24, iters 2, nprobe 6, k 5): quantization is
    // floor(x/|v|*1e6 + 0.5) (exact IEEE in both engines), init is the
    // per-orthant integer mean under 5 md5-derived hyperplanes (the q25
    // plane construction, sig % 24), distances and centroid updates are
    // pure integer arithmetic (HUGEINT `//` on absolute values ==
    // BigInt truncation toward zero — exact at any magnitude, unlike a
    // DOUBLE trunc which loses bit-equality past 2^53), so cells — and
    // therefore the PRUNED candidate set — match Spark bit-for-bit.
    "q45_ivf_ann_topk" -> IvfOracleSql,
    // Same oracle verbatim: the persisted-index round-trip (build ->
    // partition-pruned read -> rank) is proven bit-equal to the
    // in-memory pruned search by the deterministic quantizer.
    "q60_ivf_indexed" -> IvfOracleSql,
    "q61_chunking" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 50 THEN 1
        |         ELSE CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT) + 1 END AS nc
        |  FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_seq FROM n),
        |s AS (
        |  SELECT doc_id, chunk_seq,
        |    list_slice(toks, chunk_seq * 40 + 1, chunk_seq * 40 + 50) AS ct
        |  FROM c)
        |SELECT doc_id, chunk_seq, CAST(len(ct) AS BIGINT) AS n_tokens,
        |  array_to_string(ct, ' ') AS chunk
        |FROM s""".stripMargin,
    "q63_pack" -> s"WITH $PackCtes\nSELECT doc_id, chunk_seq, n_tokens, pack_id, pack_offset FROM p",
    "q65_pack_materialize" ->
      s"""WITH $PackCtes
         |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  string_agg(doc_id || ':' || chunk_seq, ' ' ORDER BY doc_id, chunk_seq) AS members
         |FROM p GROUP BY pack_id""".stripMargin,
    "q67_mixture" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(sqrt(CAST(n_docs AS DOUBLE))) AS tpw FROM c)
        |SELECT source, n_docs,
        |  sqrt(CAST(n_docs AS DOUBLE)) / tpw AS weight,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / tpw * 1000) AS BIGINT) AS target_docs
        |FROM c, t""".stripMargin,
    "q68_shuffle_order" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS k
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
        |FROM k""".stripMargin,
    "q66_redact" ->
      """WITH pl AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' u' || CAST(doc_id AS VARCHAR)
        |           || '@example.com https://x.io/d' || CAST(doc_id AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, 'https?://[^ \t\n\r]+', '<URL>', 'g') AS ut
        |  FROM pl)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\r]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(ut,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  regexp_replace(ut,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS redacted
        |FROM u""".stripMargin,
    "q135_hitter_surge" ->
      """WITH rt AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 <> 0),
        |rc AS (SELECT tok, count(*) AS c FROM rt GROUP BY 1),
        |rws AS (SELECT unnest([0, 1, 2, 3]) AS rw),
        |ctr AS (
        |  SELECT rw,
        |    CAST(concat('0x', substr(md5(CAST(rw AS VARCHAR) || '_' || tok), 1, 15)) AS BIGINT) % 1024 AS bucket,
        |    CAST(sum(c) AS BIGINT) AS cnt
        |  FROM rc CROSS JOIN rws GROUP BY 1, 2),
        |plz AS (
        |  SELECT text || ' zz' || CAST(doc_id % 3 AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 25 = 0),
        |bt AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> len(t) > 0)) AS tok
        |  FROM plz WHERE text IS NOT NULL),
        |bc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_batch FROM bt GROUP BY 1),
        |topk AS (SELECT tok, n_batch FROM bc ORDER BY n_batch DESC, tok LIMIT 20),
        |est AS (
        |  SELECT t.tok, t.n_batch, CAST(min(coalesce(ctr.cnt, 0)) AS BIGINT) AS est_ref
        |  FROM topk t CROSS JOIN rws r
        |  LEFT JOIN ctr ON ctr.rw = r.rw AND ctr.bucket =
        |    CAST(concat('0x', substr(md5(CAST(r.rw AS VARCHAR) || '_' || t.tok), 1, 15)) AS BIGINT) % 1024
        |  GROUP BY 1, 2)
        |SELECT tok AS token, n_batch, est_ref,
        |  round(CAST(n_batch AS DOUBLE) / CAST(est_ref + 1 AS DOUBLE), 6) AS surge_ratio
        |FROM est""".stripMargin,
    "q134_pii_battery" ->
      """WITH pl AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || ' call +1 415 555 '
        |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |           || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |           || '.' || CAST((doc_id * 3 + 1) % 256 AS VARCHAR)
        |      WHEN doc_id % 4 = 1 THEN text || ' sn 20415-555-01001'
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '\+?\b[0-9]{1,2}[-. ]\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b|\(?\b[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phones,
        |    regexp_replace(text,
        |      '\+?\b[0-9]{1,2}[-. ]\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b|\(?\b[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b',
        |      '<PHONE>', 'g') AS pt
        |  FROM pl)
        |SELECT doc_id, n_phones,
        |  CAST(len(regexp_extract_all(pt,
        |    '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(pt,
        |    '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b',
        |    '<IP>', 'g') AS redacted
        |FROM p""".stripMargin,
    "q64_length_quantiles" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT lang, n_tokens, count(*) AS cnt FROM t GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, n_tokens,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS total
        |  FROM h)
        |SELECT lang,
        |  CAST(min(CASE WHEN cum >= ceil(0.5 * total) THEN n_tokens END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cum >= ceil(0.9 * total) THEN n_tokens END) AS BIGINT) AS p90,
        |  CAST(min(CASE WHEN cum >= ceil(0.99 * total) THEN n_tokens END) AS BIGINT) AS p99
        |FROM c GROUP BY lang""".stripMargin,
    "q62_stratified_sample" ->
      """WITH rates(lang, rate) AS (
        |  VALUES ('en', 25), ('zh', 60), ('es', 60), ('de', 60), ('fr', 100))
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d LEFT JOIN rates r USING (lang)
        |WHERE CAST(concat('0x', substr(md5('strat_' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % 100 < coalesce(r.rate, 100)""".stripMargin,
    "q46_winnow_fingerprint" ->
      """WITH hs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(text) >= 8
        |      THEN list_transform(generate_series(1, len(text) - 7),
        |        i -> CAST(concat('0x', substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT))
        |      ELSE CAST([] AS BIGINT[]) END AS h
        |  FROM documents),
        |fps AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) >= 4
        |      THEN list_distinct(list_transform(generate_series(1, len(h) - 3),
        |        i -> list_aggregate(h[i:i+3], 'min')))
        |    WHEN len(h) > 0 THEN [list_aggregate(h, 'min')]
        |    ELSE CAST([] AS BIGINT[]) END AS f
        |  FROM hs)
        |SELECT doc_id, unnest(f) AS fp FROM fps""".stripMargin,
    "q47_dup_clusters" ->
      s"""WITH RECURSIVE $NgramPairsCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    "q70_neardup_dedup" ->
      s"""WITH RECURSIVE $NgramPairsCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
        |survivors AS (
        |  SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN survivors USING (doc_id)""".stripMargin,
    "q71_wide_pivot" -> {
      // 25 pivot columns generated from the same key space the engine
      // derives them from (n0..n24), so engine and oracle can't drift
      // on a hand-edited column list.
      val cols = (0 to 24).map(i =>
        s"""  max(CASE WHEN sample = 'n$i' THEN value END) AS "n$i"""").mkString(",\n")
      s"""WITH m AS (
         |  SELECT c_mktsegment AS segment,
         |    'n' || CAST(c_nationkey AS VARCHAR) AS sample,
         |    round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS value
         |  FROM customer GROUP BY 1, 2)
         |SELECT segment,
         |$cols
         |FROM m GROUP BY segment""".stripMargin
    },
    // SemDeDup transcription: the q45 Lloyd chain supplies cells (af)
    // and final centroids (c2); centroid cosine and pair cosine both
    // round to 6dp BEFORE every comparison, mirroring the engine, so
    // threshold and dominance decisions are bit-identical. The
    // dominance rule (neighbor at cos >= 0.4 strictly closer to the
    // centroid, id tiebreak) is order-free, so no iteration order
    // needs transcribing.
    "q72_semantic_dedup" ->
      s"""WITH $IvfCellCtes,
        |cents AS (
        |  SELECT cell, list(CAST(cv AS DOUBLE) ORDER BY j) AS cv FROM c2 GROUP BY cell),
        |asg AS (
        |  SELECT e.vec_id, af.cell, e.v,
        |    round(list_dot_product(e.v, c.cv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)
        |      AS cc
        |  FROM e JOIN af USING (vec_id) JOIN cents c USING (cell)),
        |dom AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
        |    AND (a.cc < b.cc OR (a.cc = b.cc AND a.vec_id < b.vec_id)))
        |SELECT a.vec_id, CAST(a.cell AS INT) AS cell, a.cc AS cos_centroid,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
        |FROM asg a LEFT JOIN dom d ON a.vec_id = d.vec_id""".stripMargin,
    "q73_dup_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(toks) - 7),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15))
        |        AS BIGINT)) AS whs
        |  FROM t WHERE len(toks) >= 8),
        |occ AS (SELECT doc_id, unnest(whs) AS wh FROM g),
        |dup AS (
        |  SELECT wh FROM (SELECT DISTINCT doc_id, wh FROM occ)
        |  GROUP BY wh HAVING count(*) >= 2),
        |dc AS (SELECT doc_id, count(*) AS nd FROM occ JOIN dup USING (wh) GROUP BY doc_id)
        |SELECT g.doc_id, CAST(len(whs) AS BIGINT) AS n_windows,
        |  CAST(coalesce(dc.nd, 0) AS BIGINT) AS n_dup_windows,
        |  round(coalesce(dc.nd, 0) * 1.0 / len(whs), 6) AS dup_frac
        |FROM g LEFT JOIN dc USING (doc_id)""".stripMargin,
    // Span-removal transcription: same tokenize/window/hash chain as
    // q73, plus ownership (min doc id per duplicated hash) and the
    // per-doc union of cut token ranges; the kept tokens re-aggregate
    // in position order. The engine's 0-based positions and this
    // oracle's 1-based ones are each internally consistent — only the
    // trimmed text is compared.
    "q74_dedup_trim" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 8 THEN list_transform(generate_series(1, len(toks) - 7),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15))
        |        AS BIGINT))
        |    ELSE CAST([] AS BIGINT[]) END AS whs
        |  FROM t),
        |occ AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(whs)),
        |    i -> {'pos': i, 'wh': whs[i]}), recursive := true)
        |  FROM g),
        |own AS (SELECT wh, min(doc_id) AS owner, count(DISTINCT doc_id) AS df FROM occ GROUP BY wh),
        |cov AS (
        |  SELECT DISTINCT o.doc_id, unnest(generate_series(o.pos, o.pos + 7)) AS idx
        |  FROM occ o JOIN own w USING (wh)
        |  WHERE w.df >= 2 AND o.doc_id <> w.owner),
        |tok AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
        |    i -> {'i': i, 'tok': toks[i]}), recursive := true)
        |  FROM t),
        |kept AS (
        |  SELECT tk.doc_id, tk.i, tk.tok
        |  FROM tok tk LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.idx = tk.i
        |  WHERE c.idx IS NULL),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY i) AS trimmed_text
        |  FROM kept GROUP BY doc_id)
        |SELECT g.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.trimmed_text, '') AS trimmed_text
        |FROM g LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // Decontamination-trim transcription: q53's split buckets, q54's
    // 5-gram windows (hashed as in q73/q74), cut = any train-doc
    // window present in the valid split's distinct window set — no
    // ownership CTE, benchmark text never survives. Output contract
    // and the kept-token re-aggregation are q74's verbatim.
    "q75_decontam_trim" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |      AS bucket
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT doc_id, bucket,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM b),
        |g AS (
        |  SELECT doc_id, bucket, toks,
        |    CASE WHEN len(toks) >= 5 THEN list_transform(generate_series(1, len(toks) - 4),
        |      i -> CAST(concat('0x',
        |        substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 15))
        |        AS BIGINT))
        |    ELSE CAST([] AS BIGINT[]) END AS whs
        |  FROM t),
        |bg AS (
        |  SELECT DISTINCT unnest(whs) AS wh FROM g WHERE bucket >= 80 AND bucket < 90),
        |tr AS (SELECT doc_id, toks, whs FROM g WHERE bucket < 80),
        |occ AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(whs)),
        |    i -> {'pos': i, 'wh': whs[i]}), recursive := true)
        |  FROM tr),
        |cov AS (
        |  SELECT DISTINCT o.doc_id, unnest(generate_series(o.pos, o.pos + 4)) AS idx
        |  FROM occ o JOIN bg USING (wh)),
        |tok AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
        |    i -> {'i': i, 'tok': toks[i]}), recursive := true)
        |  FROM tr),
        |kept AS (
        |  SELECT tk.doc_id, tk.i, tk.tok
        |  FROM tok tk LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.idx = tk.i
        |  WHERE c.idx IS NULL),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY i) AS trimmed_text
        |  FROM kept GROUP BY doc_id)
        |SELECT tr.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.trimmed_text, '') AS trimmed_text
        |FROM tr LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // Quality-aware survivor transcription: q47's recursive closure
    // supplies (doc_id, cluster_id); the quality CTEs are q49's
    // verbatim (6dp-rounded, so tie-breaks agree bit-for-bit); the
    // survivor is row_number()=1 under (quality DESC, doc_id).
    "q76_best_quality_dedup" ->
      s"""WITH RECURSIVE $NgramPairsCtes,
        |$NearDupQualityCtes
        |SELECT cluster_id, doc_id, quality FROM ranked WHERE rk = 1""".stripMargin,
    // The pipeline oracle composes the stage oracles verbatim: the
    // q76 keeper chain, q49's gates, q54/q78's 5-gram decontam (from
    // the shared `toks`), q77's per-source budget window — so any
    // drift between a stage and its use inside the pipeline is a
    // hash mismatch here even while the stage's own row stays green.
    "q79_curation_pipeline" ->
      s"""WITH RECURSIVE $NgramPairsCtes,
        |$NearDupQualityCtes,
        |surv AS (SELECT doc_id, quality FROM ranked WHERE rk = 1),
        |gated AS (
        |  SELECT s.doc_id, s.quality, d.source, d.lang, CAST(len(t.tk) AS BIGINT) AS n_tokens
        |  FROM surv s JOIN documents d USING (doc_id) JOIN toks t USING (doc_id)
        |  WHERE s.quality >= 0.5 AND len(t.tk) BETWEEN 5 AND 1000),
        |g5 AS (
        |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
        |    CASE WHEN len(tk) >= 5
        |    THEN list_transform(generate_series(1, len(tk) - 4),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
        |    ELSE [] END) AS t(g)),
        |bg5 AS (
        |  SELECT DISTINCT g FROM g5
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |    BETWEEN 80 AND 89),
        |contam AS (SELECT DISTINCT doc_id FROM g5 JOIN bg5 USING (g)),
        |clean AS (
        |  SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |cw AS (
        |  SELECT doc_id, source, lang, n_tokens, quality,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5('budget_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM clean)
        |SELECT doc_id, source, lang, n_tokens, quality FROM cw WHERE cum < 10000""".stripMargin,
    // Budget-sample transcription: one window cumsum per source over
    // (md5 order, doc_id) — the oracle may use the naive single-sort
    // form the engine's bucketed prefix sum provably equals (bucket =
    // top bits of the same 60-bit hash, so bucket order IS hash
    // order; offsets just relocate where each row's sum is computed).
    "q77_source_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(coalesce(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)), 0) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5('budget_' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS ord
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_before
        |FROM c WHERE cum < 10000""".stripMargin,
    // Incremental-dedup transcription: the store's NULL-FREE
    // fingerprint (null text folds to the empty token stream via
    // coalesce BEFORE the hash — the design that keeps the anti-join
    // on the raw bucket column), even ids as the persisted store, odd
    // ids as the arriving batch.
    "q80_incremental_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(coalesce(array_to_string(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0), ' '), '')) AS fp
        |  FROM documents),
        |store AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
        |batch AS (SELECT fp, min(doc_id) AS doc_id FROM f WHERE doc_id % 2 = 1 GROUP BY fp)
        |SELECT b.doc_id, d.source, d.lang
        |FROM batch b JOIN documents d USING (doc_id)
        |WHERE b.fp NOT IN (SELECT fp FROM store)""".stripMargin,
    // q81/q82 transcribe the ordered per-doc folds exactly: DuckDB's
    // `sum(x ORDER BY k)` is a sequential left fold in k order, the
    // same IEEE reduction as the Spark side's sorted-array aggregate
    // (the q25 dot-product identity). ln() is the one transcendental —
    // handled by the round(_, 6) convention.
    "q81_importance_weights" ->
      """WITH b AS (
        |  SELECT doc_id, lang, lang = 'en' AS is_target,
        |    CAST(concat('0x', substr(md5('dsir_' || tok), 1, 15)) AS BIGINT) % 64 AS b
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |    FROM documents WHERE text IS NOT NULL)),
        |hist AS (
        |  SELECT b, count(*) AS raw_cnt, count(*) FILTER (is_target) AS tgt_cnt
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(raw_cnt) AS raw_total, sum(tgt_cnt) AS tgt_total FROM hist),
        |lr AS (
        |  SELECT b,
        |    ln((tgt_cnt + 1) * 1.0 / (tgt_total + 64)) - ln((raw_cnt + 1) * 1.0 / (raw_total + 64)) AS lr
        |  FROM hist, tot),
        |pd AS (SELECT doc_id, lang, b, count(*) AS cnt FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(round(cnt * lr * 1000000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000000.0, 6) AS logweight
        |FROM pd JOIN lr USING (b)
        |GROUP BY doc_id, lang""".stripMargin,
    "q82_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM vocab),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |j AS (
        |  SELECT pd.doc_id, pd.cnt,
        |    CAST(round(pd.cnt * ln(vocab.c * 1.0 / t) * 1000000000.0, 0) AS BIGINT) AS ts9
        |  FROM pd JOIN vocab USING (tok), tot)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(ts9) AS DOUBLE) / 1000000000.0 / CAST(sum(cnt) AS DOUBLE), 6) AS avg_logprob
        |FROM j GROUP BY doc_id""".stripMargin,
    // q83's cosine is the same sequential list_dot_product identity
    // the q22 oracle validates; ranks therefore agree bit-for-bit and
    // the voted output is integer-only.
    "q83_knn_classify" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q_id, s.vec_id AS nid, s.label,
        |    list_dot_product(s.v, qv) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(qv, qv))) AS c
        |  FROM e s CROSS JOIN q WHERE s.vec_id % 50 <> 0),
        |top AS (
        |  SELECT q_id, label FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, nid) AS rnk
        |    FROM scored) t
        |  WHERE rnk <= 10),
        |votes AS (SELECT q_id, label, count(*) AS n_votes FROM top GROUP BY 1, 2)
        |SELECT q_id AS query_id, label AS predicted_label, CAST(n_votes AS BIGINT) AS n_votes
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS r
        |  FROM votes) t
        |WHERE r = 1""".stripMargin,
    "q84_bpe_pairs" ->
      """WITH vocab AS (
        |  SELECT tok, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |    FROM documents WHERE text IS NOT NULL)
        |  GROUP BY 1),
        |p AS (
        |  SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair, c
        |  FROM vocab, unnest(generate_series(1, len(tok) - 1)) g(i)
        |  WHERE len(tok) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "q85_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |dg AS (
        |  SELECT DISTINCT doc_id, g FROM t, UNNEST(
        |    CASE WHEN len(tk) >= 3
        |    THEN list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |    ELSE [] END) AS u(g)),
        |df AS (SELECT g, count(*) AS df FROM dg GROUP BY 1)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (df = 1) AS BIGINT) AS n_unique,
        |  round(count(*) FILTER (df = 1) * 1.0 / count(*), 6) AS uniq_frac
        |FROM dg JOIN df USING (g)
        |GROUP BY doc_id""".stripMargin,
    // q86's oracle is the EXACT cross-parity pair set (no banding): at
    // q19's signature parameters the banded join recalls it fully on
    // the gate corpora, the same contract q19's oracle encodes for the
    // self-join. q87 (the persisted band store) shares it VERBATIM:
    // the store round-trip must change the physical plan, never a row.
    "q86_fuzzy_join" -> FuzzyJoinOracleSql,
    "q87_incremental_link" -> FuzzyJoinOracleSql,
    // q88's float path is transcribed operator-for-operator (same
    // parenthesization, same left-assoc * and /), the per-(q,d) sum
    // folds in the same h-order, and the rank cut compares ROUNDED
    // scores — no engine-dependent float order anywhere.
    "q88_bm25_topk" -> Bm25OracleSql,
    // q92 (the persisted posting store) shares q88's oracle VERBATIM:
    // the store round-trip must change the physical plan, never a row.
    "q92_bm25_indexed" -> Bm25OracleSql,
    // q137: the SAME BM25 contract with the maxTermDf probe cap — the
    // approximation itself is transcribed (dfreq keeps only df <= 375,
    // so capped terms score for no document), the q19 banding
    // precedent for oracle-visible scale hatches.
    "q137_bm25_capped" -> bm25OracleSql(Some(375L)),
    // q89's oracle is the plain exact aggregate: the CMS prefilter
    // never under-counts, so prefilter + exact confirm ≡ exact.
    "q89_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS token
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT token, count(*) AS cnt FROM toks
        |GROUP BY token HAVING count(*) >= 500""".stripMargin,
    "q90_pmi_pairs" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |pr AS (
        |  SELECT least(tk[i], t2) AS x, greatest(tk[i], t2) AS y
        |  FROM t, unnest(generate_series(1, len(tk) - 1)) g(i), unnest(tk[i + 1 : i + 3]) u(t2)
        |  WHERE len(tk) >= 2),
        |pc AS (SELECT x, y, count(*) AS pair_cnt FROM pr GROUP BY 1, 2),
        |ug AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT sum(pair_cnt) FROM pc) AS p_total,
        |         (SELECT sum(c) FROM ug) AS t_total)
        |SELECT pc.x, pc.y, pair_cnt,
        |  round(ln((CAST(pair_cnt AS DOUBLE) / CAST(p_total AS DOUBLE)) /
        |    ((CAST(ux.c AS DOUBLE) / CAST(t_total AS DOUBLE)) *
        |     (CAST(uy.c AS DOUBLE) / CAST(t_total AS DOUBLE)))), 6) AS pmi
        |FROM pc
        |JOIN ug ux ON ux.tok = pc.x
        |JOIN ug uy ON uy.tok = pc.y, tot
        |WHERE pair_cnt >= 5
        |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin,
    // q93 mirrors q82's fixed-point contract on bigrams: integer
    // count tables, one ln per joined row with the same operand
    // shapes, nano-quantized associative per-doc sum. Sub-2-token
    // docs drop out identically (no bigrams on either side).
    "q93_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |bgs AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(tk) >= 2
        |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE [] END) AS bg
        |  FROM t),
        |pd AS (SELECT doc_id, bg, count(*) AS cnt FROM bgs GROUP BY 1, 2),
        |bgc AS (SELECT bg, sum(cnt) AS c FROM pd GROUP BY 1),
        |pre AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c) AS cp FROM bgc GROUP BY 1),
        |j AS (
        |  SELECT pd.doc_id, pd.cnt,
        |    CAST(round(pd.cnt * ln(CAST(c AS DOUBLE) / CAST(cp AS DOUBLE)) * 1000000000.0, 0) AS BIGINT) AS ts9
        |  FROM pd JOIN bgc USING (bg)
        |  JOIN pre ON pre.w1 = split_part(pd.bg, ' ', 1))
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(ts9) AS DOUBLE) / 1000000000.0 / CAST(sum(cnt) AS DOUBLE), 6) AS avg_logprob
        |FROM j GROUP BY doc_id""".stripMargin,
    // q94 ranks on the same sequential-fold cosine the q22/q83
    // oracles validate; only the rank cut and a rounded cosine reach
    // the output.
    "q94_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE label IS NOT NULL),
        |a AS (SELECT vec_id AS a_id, label AS a_label, v AS av FROM e WHERE vec_id % 50 = 1),
        |scored AS (
        |  SELECT a_id, s.vec_id AS negative_id, s.label AS negative_label,
        |    list_dot_product(s.v, av) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(av, av))) AS c
        |  FROM e s CROSS JOIN a
        |  WHERE s.vec_id % 50 <> 1 AND s.label <> a_label)
        |SELECT a_id AS anchor_id, negative_id, negative_label,
        |  CAST(rnk AS BIGINT) AS rank, round(c, 6) AS cosine
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY c DESC, negative_id) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5""".stripMargin,
    // q91 reuses q82's scored CTE verbatim (same fixed-point
    // accumulation, same rounding), then buckets on the ROUNDED score
    // with a doc_id tie-break — ntile assignment is order-determined
    // in both engines, and the per-bucket mean sums the exact x1e6
    // longs of the 6-dp scores.
    "q91_quality_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM vocab),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |j AS (
        |  SELECT pd.doc_id, pd.cnt,
        |    CAST(round(pd.cnt * ln(vocab.c * 1.0 / t) * 1000000000.0, 0) AS BIGINT) AS ts9
        |  FROM pd JOIN vocab USING (tok), tot),
        |scored AS (
        |  SELECT doc_id, round(CAST(sum(ts9) AS DOUBLE) / 1000000000.0 / CAST(sum(cnt) AS DOUBLE), 6) AS avg_logprob
        |  FROM j GROUP BY doc_id),
        |sl AS (
        |  SELECT s.doc_id, d.lang, s.avg_logprob,
        |    ntile(3) OVER (PARTITION BY d.lang ORDER BY s.avg_logprob, s.doc_id) AS bucket
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT lang, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
        |  round(CAST(sum(CAST(round(avg_logprob * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 6) AS mean_logprob,
        |  round(min(avg_logprob), 6) AS min_logprob,
        |  round(max(avg_logprob), 6) AS max_logprob
        |FROM sl GROUP BY 1, 2""".stripMargin,
    "q48_vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n FROM toks
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    // q49: lang comes from the CT classifier replay (CtPredCtes), not
    // the marker-token heuristic — the one language-ID surface. Plain
    // concatenation (not s-interp): the praw regex contains \[ \].
    "q49_curation" -> CurationReportOracleSql,
    // q136 is the SAME curation-report contract with the language
    // column read from the frozen LangIdStore (fit on the same
    // corpus): sharing q49's oracle verbatim IS the test — the store
    // may only change the cost model, never the rows (the q92-vs-q88
    // precedent).
    "q136_curation_store_lang" -> CurationReportOracleSql,
    "q53_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "q54_decontaminate" -> DecontamOracleSql,
    // q78 is the SAME decontamination contract through the Bloom
    // prefilter path — sharing q54's oracle verbatim IS the test:
    // the filter may only change the cost model, never the rows.
    "q78_bloom_decontam" -> DecontamOracleSql,
    "q56_knn_join" ->
      s"""WITH $LshCosinePairsCtes,
        |pairs AS (SELECT id_a, id_b, round(cs, 6) AS cos FROM scored WHERE cs >= 0.2),
        |sym AS (
        |  SELECT id_a AS src, id_b AS nbr, cos FROM pairs
        |  UNION ALL SELECT id_b AS src, id_a AS nbr, cos FROM pairs),
        |ranked AS (
        |  SELECT src, nbr, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rk
        |  FROM sym)
        |SELECT src, nbr, cos, rk FROM ranked WHERE rk <= 3""".stripMargin,
    // q58/q59 oracles read the canonical AVI layout arithmetically
    // (avih data at byte 32; movi frame i's data at 232 + i*(8+fs)) —
    // the Spark side walks the chunk tree instead of assuming offsets,
    // so the two derivations are independent. LE fields are
    // byte-reversed hex concats, as in the WAV oracles.
    "q58_video_meta" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, hex(content) AS h
        |  FROM read_blob('$FixtureDir/video/*.avi')),
        |m AS (
        |  SELECT name,
        |    CAST(concat('0x', substr(h,71,2), substr(h,69,2), substr(h,67,2), substr(h,65,2)) AS BIGINT) AS us_per_frame,
        |    CAST(concat('0x', substr(h,103,2), substr(h,101,2), substr(h,99,2), substr(h,97,2)) AS BIGINT) AS n_frames,
        |    CAST(CAST(concat('0x', substr(h,135,2), substr(h,133,2), substr(h,131,2), substr(h,129,2)) AS BIGINT) AS INTEGER) AS width,
        |    CAST(CAST(concat('0x', substr(h,143,2), substr(h,141,2), substr(h,139,2), substr(h,137,2)) AS BIGINT) AS INTEGER) AS height
        |  FROM b)
        |SELECT name, width, height, n_frames, us_per_frame,
        |  round(1000000.0 / us_per_frame, 6) AS fps,
        |  round((n_frames * us_per_frame) / 1000000.0, 6) AS duration_sec
        |FROM m""".stripMargin,
    "q59_video_frames" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, hex(content) AS h
        |  FROM read_blob('$FixtureDir/video/*.avi')),
        |m AS (
        |  SELECT name, h,
        |    CAST(concat('0x', substr(h,103,2), substr(h,101,2), substr(h,99,2), substr(h,97,2)) AS BIGINT) AS n_frames,
        |    CAST(concat('0x', substr(h,135,2), substr(h,133,2), substr(h,131,2), substr(h,129,2)) AS BIGINT)
        |      * CAST(concat('0x', substr(h,143,2), substr(h,141,2), substr(h,139,2), substr(h,137,2)) AS BIGINT)
        |      * 3 AS fs
        |  FROM b),
        |fr AS (
        |  SELECT name, h, CAST(i AS INTEGER) AS frame_idx,
        |    232 + i * (8 + fs) AS off, fs
        |  FROM m, LATERAL (SELECT unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS i) t
        |  WHERE i % 2 = 0)
        |SELECT name, frame_idx, CAST(off AS BIGINT) AS frame_off,
        |  CAST(fs AS INTEGER) AS frame_bytes,
        |  md5(substr(h, CAST(2 * off + 1 AS BIGINT), CAST(2 * fs AS BIGINT))) AS frame_md5
        |FROM fr""".stripMargin,
    "q57_json_collapse" ->
      """WITH j AS (
        |  SELECT printf('{"t":"%s","u":"%d"}', event_type, user_id) AS doc, value
        |  FROM events)
        |SELECT json_extract_string(doc, '$.t') AS etype,
        |       json_extract_string(doc, '$.u') AS uid,
        |       count(*) AS n,
        |       round(min(value), 6) AS v_min,
        |       round(max(value), 6) AS v_max
        |FROM j GROUP BY 1, 2""".stripMargin,
    "q55_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3
        |    THEN list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |    ELSE [] END AS grams
        |  FROM toks)
        |SELECT doc_id,
        |  round(CASE WHEN len(grams) > 0
        |    THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END, 6) AS dup3_frac
        |FROM g""".stripMargin,
    // q50/q51 oracles parse the same WAV bytes via read_blob + hex():
    // byte n (1-based) occupies hex chars 2n-1..2n, so a little-endian
    // field is the byte-reversed concat of its hex pairs. Frame
    // fingerprints md5 the hex substring (DuckDB can't md5 blobs);
    // Spark hashes the identical uppercase hex rendering.
    "q50_audio_meta" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, hex(content) AS h
        |  FROM read_blob('$FixtureDir/audio/*.wav')),
        |m AS (
        |  SELECT name,
        |    CAST(CAST(concat('0x', substr(h,55,2), substr(h,53,2), substr(h,51,2), substr(h,49,2)) AS BIGINT) AS INTEGER) AS sample_rate,
        |    CAST(CAST(concat('0x', substr(h,47,2), substr(h,45,2)) AS BIGINT) AS INTEGER) AS channels,
        |    CAST(CAST(concat('0x', substr(h,71,2), substr(h,69,2)) AS BIGINT) AS INTEGER) AS bits,
        |    CAST(concat('0x', substr(h,87,2), substr(h,85,2), substr(h,83,2), substr(h,81,2)) AS BIGINT) AS data_bytes
        |  FROM b)
        |SELECT name, sample_rate, channels, bits, data_bytes,
        |  CAST(data_bytes // (channels * bits // 8) AS BIGINT) AS n_samples,
        |  round(data_bytes / (sample_rate * channels * bits / 8), 6) AS duration_sec
        |FROM m""".stripMargin,
    "q51_audio_frames" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, hex(content) AS h
        |  FROM read_blob('$FixtureDir/audio/*.wav')),
        |d AS (
        |  SELECT name, h,
        |    CAST(concat('0x', substr(h,87,2), substr(h,85,2), substr(h,83,2), substr(h,81,2)) AS BIGINT) AS data_bytes
        |  FROM b),
        |fr AS (
        |  SELECT name, h, CAST(i AS INTEGER) AS frame_idx,
        |    44 + i * (data_bytes // 4) AS off
        |  FROM d, (SELECT unnest(generate_series(0, 3)) AS i) t)
        |SELECT name, frame_idx, CAST(off AS BIGINT) AS frame_off,
        |  md5(substr(h, CAST(2 * off + 1 AS BIGINT), 2048)) AS frame_md5
        |FROM fr""".stripMargin,
    "q28_star_counts" ->
      s"""WITH raw AS (
        |  SELECT gene_id AS id, CAST(unstranded AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/star_counts/*.tsv', delim='\t', header=true, skip=1, filename=true, all_varchar=true)
        |  WHERE gene_id NOT IN ('N_unmapped', 'N_multimapping', 'N_noFeature', 'N_ambiguous')),
        |m AS (
        |  SELECT id, smp,
        |    round(log2(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) + 1), 6) AS lv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "Ensembl_ID",
        |  max(CASE WHEN smp = 'SAMP-01A' THEN lv END) AS "SAMP-01A",
        |  max(CASE WHEN smp = 'SAMP-02A' THEN lv END) AS "SAMP-02A",
        |  max(CASE WHEN smp = 'SAMP-11A' THEN lv END) AS "SAMP-11A"
        |FROM m GROUP BY 1""".stripMargin,
    "q29_star_tpm" ->
      s"""WITH raw AS (
        |  SELECT gene_id AS id, CAST(tpm_unstranded AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/star_counts/*.tsv', delim='\t', header=true, skip=1, filename=true, all_varchar=true)
        |  WHERE gene_id NOT IN ('N_unmapped', 'N_multimapping', 'N_noFeature', 'N_ambiguous')),
        |m AS (
        |  SELECT id, smp,
        |    round(log2(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) + 1), 6) AS lv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "Ensembl_ID",
        |  max(CASE WHEN smp = 'SAMP-01A' THEN lv END) AS "SAMP-01A",
        |  max(CASE WHEN smp = 'SAMP-02A' THEN lv END) AS "SAMP-02A",
        |  max(CASE WHEN smp = 'SAMP-11A' THEN lv END) AS "SAMP-11A"
        |FROM m GROUP BY 1""".stripMargin,
    "q30_segment_cnv" ->
      s"""SELECT $SampleFromFilename AS sample,
        |  Chromosome AS "Chrom",
        |  CAST("Start" AS BIGINT) AS "Start",
        |  CAST("End" AS BIGINT) AS "End",
        |  CAST(Segment_Mean AS DOUBLE) AS value
        |FROM read_csv('$FixtureDir/segment_cnv_DNAcopy/*.txt', delim='\t', header=true, filename=true, all_varchar=true)""".stripMargin,
    "q31_methylation" ->
      s"""WITH raw AS (
        |  SELECT column0 AS id, CAST(column1 AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/methylation450/*.txt', delim='\t', header=false, filename=true, all_varchar=true)),
        |m AS (
        |  SELECT id, smp, CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS mv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "Composite Element REF",
        |  max(CASE WHEN smp = 'SAMP-01A' THEN mv END) AS "SAMP-01A",
        |  max(CASE WHEN smp = 'SAMP-02A' THEN mv END) AS "SAMP-02A"
        |FROM m GROUP BY 1""".stripMargin,
    "q32_protein" ->
      s"""WITH raw AS (
        |  SELECT peptide_target AS id, CAST(protein_expression AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/protein/*.tsv', delim='\t', header=true, filename=true, all_varchar=true)),
        |m AS (
        |  SELECT id, smp, CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS mv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "peptide_target",
        |  max(CASE WHEN smp = 'SAMP-01A' THEN mv END) AS "SAMP-01A",
        |  max(CASE WHEN smp = 'SAMP-02A' THEN mv END) AS "SAMP-02A"
        |FROM m GROUP BY 1""".stripMargin,
    "q33_maf_vector" ->
      s"""WITH raw AS (
        |  SELECT *, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/somaticmutation_wxs/*.maf.gz', delim='\t', header=true, skip=1, filename=true, all_varchar=true, compression='gzip'))
        |SELECT smp AS sample, Hugo_Symbol AS gene, Chromosome AS chrom,
        |  CAST(Start_Position AS BIGINT) AS "start", CAST(End_Position AS BIGINT) AS "end",
        |  Reference_Allele AS ref, Tumor_Seq_Allele2 AS alt,
        |  Tumor_Sample_Barcode, HGVSp_Short AS "Amino_Acid_Change", Consequence AS effect,
        |  callers, CAST(t_alt_count AS DOUBLE) / CAST(t_depth AS DOUBLE) AS dna_vaf
        |FROM raw
        |UNION ALL
        |SELECT 'SAMP-02A', '', '', -1, -1, '', '', NULL, '', '', NULL, NULL""".stripMargin,
    "q34_survival" ->
      s"""WITH s AS (
        |  SELECT * FROM read_csv('$FixtureDir/survival/survival.tsv', delim='\t', header=true)),
        |cs AS (
        |  SELECT id, s2.submitter_id AS sample FROM (
        |    SELECT id, unnest(samples) AS s2
        |    FROM read_json_auto('$FixtureDir/survival/case_samples.json', format='newline_delimited')
        |    WHERE samples IS NOT NULL) t)
        |SELECT sample, CASE WHEN censored THEN 0 ELSE 1 END AS "OS",
        |  CAST(time AS BIGINT) AS "OS.time", submitter_id AS "_PATIENT"
        |FROM s JOIN cs USING (id)""".stripMargin,
    "q35_clinical" ->
      s"""WITH cases AS (
        |  SELECT * FROM read_json_auto('$FixtureDir/clinical/cases.json', format='newline_delimited')),
        |base AS (
        |  SELECT id, submitter_id, disease_type,
        |    project.project_id AS "project_id.project",
        |    demographic.gender AS "gender.demographic",
        |    demographic.vital_status AS "vital_status.demographic",
        |    demographic.year_of_birth AS "year_of_birth.demographic"
        |  FROM cases),
        |ann0 AS (
        |  SELECT id,
        |    list_sort(list(coalesce(a.category, ''))) AS lc,
        |    list_sort(list(coalesce(a.classification, ''))) AS lk
        |  FROM (SELECT id, unnest(annotations) AS a FROM cases) t GROUP BY id),
        |annf AS (
        |  SELECT id,
        |    CASE WHEN len(list_filter(lc, x -> x <> '')) = 0 THEN '' ELSE array_to_string(lc, '; ') END AS "category.annotations",
        |    CASE WHEN len(list_filter(lk, x -> x <> '')) = 0 THEN '' ELSE array_to_string(lk, '; ') END AS "classification.annotations"
        |  FROM ann0),
        |dr AS (SELECT id, unnest(diagnoses) AS d FROM cases),
        |diag0 AS (
        |  SELECT id,
        |    list_sort(list(coalesce(d.age_at_diagnosis, ''))) AS la,
        |    list_sort(list(coalesce(d.tumor_grade, ''))) AS lg,
        |    min(try_cast(d.age_at_diagnosis AS DOUBLE)) AS agemin
        |  FROM dr GROUP BY id),
        |diagf AS (
        |  SELECT id,
        |    CASE WHEN len(list_filter(la, x -> x <> '')) = 0 THEN '' ELSE array_to_string(la, '; ') END AS "age_at_diagnosis.diagnoses",
        |    CASE WHEN len(list_filter(lg, x -> x <> '')) = 0 THEN '' ELSE array_to_string(lg, '; ') END AS "tumor_grade.diagnoses",
        |    round(agemin, 6) AS "age_at_earliest_diagnosis.diagnoses.xena_derived",
        |    round(agemin / 365.0, 6) AS "age_at_earliest_diagnosis_in_years.diagnoses.xena_derived"
        |  FROM diag0),
        |path0 AS (
        |  SELECT id, list_sort(list(coalesce(p.lymph_nodes_tested, ''))) AS lp
        |  FROM (SELECT id, unnest(d.pathology_details) AS p FROM dr) t GROUP BY id),
        |pathf AS (
        |  SELECT id,
        |    CASE WHEN len(list_filter(lp, x -> x <> '')) = 0 THEN '' ELSE array_to_string(lp, '; ') END AS "lymph_nodes_tested.pathology_details.diagnoses"
        |  FROM path0),
        |tr0 AS (
        |  SELECT id,
        |    list_sort(list(coalesce(t.therapeutic_agents, ''))) AS lt,
        |    list_sort(list(coalesce(t.treatment_type, ''))) AS ltt
        |  FROM (SELECT id, unnest(d.treatments) AS t FROM dr) t2 GROUP BY id),
        |trf AS (
        |  SELECT id,
        |    CASE WHEN len(list_filter(lt, x -> x <> '')) = 0 THEN '' ELSE array_to_string(lt, '; ') END AS "therapeutic_agents.treatments.diagnoses",
        |    CASE WHEN len(list_filter(ltt, x -> x <> '')) = 0 THEN '' ELSE array_to_string(ltt, '; ') END AS "treatment_type.treatments.diagnoses"
        |  FROM tr0),
        |smp AS (
        |  SELECT id, s.submitter_id AS sample,
        |    s.sample_type AS "sample_type.samples",
        |    s.tissue_type AS "tissue_type.samples"
        |  FROM (SELECT id, unnest(samples) AS s FROM cases) t)
        |SELECT base.*, annf."category.annotations", annf."classification.annotations",
        |  diagf."age_at_diagnosis.diagnoses", diagf."tumor_grade.diagnoses",
        |  diagf."age_at_earliest_diagnosis.diagnoses.xena_derived",
        |  diagf."age_at_earliest_diagnosis_in_years.diagnoses.xena_derived",
        |  pathf."lymph_nodes_tested.pathology_details.diagnoses",
        |  trf."therapeutic_agents.treatments.diagnoses", trf."treatment_type.treatments.diagnoses",
        |  smp.sample, smp."sample_type.samples", smp."tissue_type.samples"
        |FROM base
        |LEFT JOIN annf USING (id)
        |LEFT JOIN diagf USING (id)
        |LEFT JOIN pathf USING (id)
        |LEFT JOIN trf USING (id)
        |JOIN smp USING (id)""".stripMargin,
    "q36_postprocess_remap" ->
      s"""WITH seg AS (
        |  SELECT $SampleFromFilename AS sample,
        |    Chromosome AS "Chrom",
        |    CAST("Start" AS BIGINT) AS "Start",
        |    CAST("End" AS BIGINT) AS "End",
        |    CAST(Segment_Mean AS DOUBLE) AS value
        |  FROM read_csv('$FixtureDir/segment_cnv_DNAcopy/*.txt', delim='\t', header=true, filename=true, all_varchar=true)),
        |m AS (
        |  SELECT s.submitter_id AS sample, submitter_id2 AS case_id FROM (
        |    SELECT submitter_id AS submitter_id2, unnest(samples) AS s
        |    FROM read_json_auto('$FixtureDir/clinical/cases.json', format='newline_delimited')) t)
        |SELECT DISTINCT coalesce(case_id, sample) AS sample, "Chrom", "Start", "End", value
        |FROM seg LEFT JOIN m USING (sample)""".stripMargin,
    "q37_file_exts" ->
      s"""WITH f AS (
        |  SELECT regexp_extract(file, '[^/]+$$', 0) AS file_name
        |  FROM glob('$FixtureDir/star_counts/*')
        |  UNION ALL
        |  SELECT regexp_extract(file, '[^/]+$$', 0)
        |  FROM glob('$FixtureDir/somaticmutation_wxs/*')),
        |p AS (SELECT file_name, string_split(file_name, '.') AS parts FROM f),
        |x AS (
        |  SELECT file_name, parts,
        |    coalesce(
        |      list_min(list_filter(
        |        list_transform(parts, (e, i) -> CASE WHEN list_contains(
        |          ['txt','vcf','bam','tsv','xml','maf','xlsx','tar','gz','md5','xls'], e) THEN i END),
        |        v -> v IS NOT NULL)),
        |      len(parts)) AS pos
        |  FROM p)
        |SELECT file_name, array_to_string(list_slice(parts, pos, len(parts)), '.') AS ext
        |FROM x""".stripMargin,
    "q38_tumor_normal" ->
      s"""WITH fs AS (
        |  SELECT id, s.submitter_id AS sample, s.tissue_type AS tissue_type FROM (
        |    SELECT id, unnest(samples) AS s
        |    FROM read_json_auto('$FixtureDir/clinical/cases.json', format='newline_delimited')) t),
        |paired AS (
        |  SELECT id FROM fs GROUP BY id
        |  HAVING sum(CASE WHEN tissue_type = 'Tumor' THEN 1 ELSE 0 END) >= 1
        |    AND sum(CASE WHEN tissue_type = 'Normal' THEN 1 ELSE 0 END) >= 1)
        |SELECT id, sample FROM fs
        |WHERE id IN (SELECT id FROM paired) AND tissue_type = 'Tumor'""".stripMargin,
    // q95: the aHash mean test is EXACT integers (64·g vs Σg) and the
    // nearest-resize index math is integer division on both sides, so
    // the 64-bit signatures — and therefore every hamming distance —
    // are integer-equal by construction.
    // q96: DuckDB's native ASOF LEFT JOIN is the independent oracle
    // for the union+window formulation; the right side is reduced to
    // one row per (user, ts) in BOTH engines so ties cannot differ.
    "q96_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id AS v_user, ts AS v_ts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id AS purchase_id, v.view_id,
        |  epoch_us(p.ts) - epoch_us(v.v_ts) AS gap_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_user AND p.ts >= v.v_ts""".stripMargin,
    // q97: the oracle uses the plain inequality join (affordable at
    // oracle scale); the engine's hour-binned equi-join must agree.
    "q97_range_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, count(c.ts) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |  AND c.ts < p.ts + INTERVAL 1 HOUR
        |GROUP BY 1""".stripMargin,
    // q98/q140 shared: the TF-IDF float path transcribed operator-
    // for-operator (same parenthesization); norms and dots quantize
    // to ×10⁴ longs so every sum is associative integer addition, and
    // the rank cut compares ROUNDED scores — nothing engine-dependent.
    // q140's cap restricts the DOTS join only (df <= 375) — norms
    // keep the full vocabulary, matching the engine contract.
    "q98_tfidf_topk" -> tfidfOracleSql(None),
    "q140_tfidf_capped" -> tfidfOracleSql(Some(375L)),
    // q141: the persisted-store probe with frozen norms returns q98's
    // rows bit-for-bit (one shared scoring tree; integer df/stat sums
    // are order-independent) — q98's oracle VERBATIM, the q92/q136
    // one-contract-two-plans precedent.
    "q141_tfidf_indexed" -> tfidfOracleSql(None),
    // q100: DuckDB's native ASOF LEFT JOINs chained — the independent
    // oracle for COMPOSING the as-of operator (null flow through the
    // second hop, inclusive <= at both hops). Clickless purchases are
    // routed around the second ASOF explicitly: DuckDB's ASOF probe
    // treats a NULL left time as +infinity (it matches the LATEST
    // view), where ANSI comparison semantics — and the engine — make
    // NULL >= t unknown, i.e. no match.
    "q100_funnel_asof" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user, ts AS c_ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |v AS (
        |  SELECT user_id AS v_user, ts AS v_ts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |pc AS (
        |  SELECT p.purchase_id, p.user_id, c.click_id, c.c_ts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.c_user AND p.ts >= c.c_ts),
        |pv AS (
        |  SELECT pc.purchase_id, pc.click_id, v.view_id
        |  FROM (SELECT * FROM pc WHERE c_ts IS NOT NULL) pc
        |  ASOF LEFT JOIN v
        |    ON pc.user_id = v.v_user AND pc.c_ts >= v.v_ts
        |  UNION ALL
        |  SELECT purchase_id, click_id, NULL AS view_id
        |  FROM pc WHERE c_ts IS NULL)
        |SELECT purchase_id, click_id, view_id,
        |  CAST(CASE WHEN view_id IS NOT NULL THEN 2
        |            WHEN click_id IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS funnel_depth
        |FROM pv""".stripMargin,
    // q102: every frame aHash re-derived arithmetically from the AVI
    // bytes (canonical layout: w/ht from avih at fixed offsets, frame
    // fi data at 232 + fi*(8+fs)); DIB rows are bottom-up, so cell
    // (x, y) reads source row (ht-1-sy). Same exact-integer mean test
    // and pairwise-hamming tail as q95.
    "q102_video_frame_neardup" -> {
      // byte at (frame offset + pixel offset + c) as a BIGINT via hex
      def byteAt(c: Int): String =
        "CAST(concat('0x', substr(h, 2 * (232 + fi * (8 + w * ht * 3) + " +
          s"(((ht - 1 - (((k // 8) * ht) // 8)) * w + (((k % 8) * w) // 8)) * 3) + $c) + 1, 2)) AS BIGINT)"
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, hex(content) AS h
        |  FROM read_blob('$FixtureDir/video_nd/*.avi')),
        |m AS (
        |  SELECT name, h,
        |    CAST(concat('0x', substr(h,103,2), substr(h,101,2), substr(h,99,2), substr(h,97,2)) AS BIGINT) AS n_frames,
        |    CAST(concat('0x', substr(h,135,2), substr(h,133,2), substr(h,131,2), substr(h,129,2)) AS BIGINT) AS w,
        |    CAST(concat('0x', substr(h,143,2), substr(h,141,2), substr(h,139,2), substr(h,137,2)) AS BIGINT) AS ht
        |  FROM b),
        |fr AS (
        |  SELECT name, h, w, ht, unnest(generate_series(0, n_frames - 1)) AS fi FROM m),
        |g AS (
        |  SELECT name || '#' || lpad(CAST(fi AS VARCHAR), 3, '0') AS frame,
        |    list_transform(generate_series(0, 63), k ->
        |      ${byteAt(0)} + ${byteAt(1)} + ${byteAt(2)}) AS gs
        |  FROM fr),
        |sig AS (
        |  SELECT frame,
        |    list_transform(gs, x -> CASE WHEN 64 * x > tot THEN 1 ELSE 0 END) AS bits
        |  FROM (SELECT frame, gs, list_aggregate(gs, 'sum') AS tot FROM g))
        |SELECT frame_a, frame_b, hamming FROM (
        |  SELECT a.frame AS frame_a, b2.frame AS frame_b,
        |    CAST(list_aggregate(
        |      list_transform(generate_series(1, 64),
        |        i -> CASE WHEN a.bits[i] <> b2.bits[i] THEN 1 ELSE 0 END),
        |      'sum') AS BIGINT) AS hamming
        |  FROM sig a JOIN sig b2 ON a.frame < b2.frame) t
        |WHERE hamming <= 4""".stripMargin
    },
    // q101: shard = 60-bit md5 order hash mod 16, position = rank by
    // (hash, id) within the shard — both transcribe exactly.
    "q101_shard_export" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ord
        |  FROM documents)
        |SELECT doc_id, ord % 16 AS shard,
        |  CAST(row_number() OVER (PARTITION BY ord % 16 ORDER BY ord, doc_id) - 1 AS BIGINT) AS shard_pos
        |FROM k""".stripMargin,
    // q99: the eHash recomputed arithmetically from the same WAV
    // bytes — 16-bit LE samples from the hex rendering, exact
    // cross-multiplied integer mean comparison, pairwise hamming at
    // oracle scale vs the engine's banded candidate path.
    "q99_audio_neardup" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, hex(content) AS h, size
        |  FROM read_blob('$FixtureDir/audio_nd/*.wav')),
        |hdr AS (
        |  SELECT name, h,
        |    least(CAST(concat('0x', substr(h, 87, 2), substr(h, 85, 2),
        |                      substr(h, 83, 2), substr(h, 81, 2)) AS BIGINT),
        |          size - 44) AS data_len
        |  FROM b),
        |smp0 AS (
        |  SELECT name, n, h, unnest(generate_series(0, n - 1)) AS j
        |  FROM (SELECT name, h, data_len // 2 AS n FROM hdr) t),
        |smp AS (
        |  SELECT name, n, j, (j * 64) // n AS w,
        |    abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS a
        |  FROM (SELECT name, n, j,
        |          CAST(concat('0x', substr(h, 91 + 4 * j, 2), substr(h, 89 + 4 * j, 2)) AS BIGINT) AS v
        |        FROM smp0) v0),
        |tot AS (SELECT name, sum(a) AS total, count(*) AS n FROM smp GROUP BY 1),
        |ws AS (SELECT name, w, sum(a) AS s, count(*) AS c FROM smp GROUP BY 1, 2),
        |bits AS (
        |  SELECT ws.name, ws.w, CASE WHEN ws.s * t.n > t.total * ws.c THEN 1 ELSE 0 END AS bit
        |  FROM ws JOIN tot t USING (name))
        |SELECT clip_a, clip_b, hamming FROM (
        |  SELECT a.name AS clip_a, b2.name AS clip_b,
        |    CAST(sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM bits a JOIN bits b2 ON a.name < b2.name AND a.w = b2.w
        |  GROUP BY 1, 2) p
        |WHERE hamming <= 4""".stripMargin,
    "q95_image_neardup" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, decode(content) AS t
        |  FROM read_blob('$FixtureDir/images/*.ppm')),
        |tok AS (
        |  SELECT name, list_filter(string_split_regex(t, '\\s+'), x -> len(x) > 0) AS l FROM b),
        |px AS (
        |  SELECT name,
        |    CAST(l[2] AS INTEGER) AS w, CAST(l[3] AS INTEGER) AS h,
        |    list_transform(list_slice(l, 5, len(l)), x -> CAST(x AS BIGINT)) AS p
        |  FROM tok),
        |g AS (
        |  SELECT name,
        |    list_transform(
        |      list_transform(generate_series(0, 63), k ->
        |        ((((k // 8) * h) // 8) * w + ((k % 8) * w) // 8) * 3),
        |      j -> p[j + 1] + p[j + 2] + p[j + 3]) AS gs
        |  FROM px),
        |sig AS (
        |  SELECT name,
        |    list_transform(gs, x -> CASE WHEN 64 * x > tot THEN 1 ELSE 0 END) AS bits
        |  FROM (SELECT name, gs, list_aggregate(gs, 'sum') AS tot FROM g))
        |SELECT img_a, img_b, hamming FROM (
        |  SELECT a.name AS img_a, b2.name AS img_b,
        |    CAST(list_aggregate(
        |      list_transform(generate_series(1, 64),
        |        i -> CASE WHEN a.bits[i] <> b2.bits[i] THEN 1 ELSE 0 END),
        |      'sum') AS BIGINT) AS hamming
        |  FROM sig a JOIN sig b2 ON a.name < b2.name) t
        |WHERE hamming <= 6""".stripMargin,
    "q39_binary_images" ->
      s"""SELECT regexp_extract(filename, '[^/]+$$', 0) AS name,
        |  CAST(size AS BIGINT) AS length,
        |  md5(decode(content)) AS content_md5,
        |  CAST(regexp_extract(decode(content), 'P3\\s+(\\d+)\\s+(\\d+)', 1) AS INTEGER) AS width,
        |  CAST(regexp_extract(decode(content), 'P3\\s+(\\d+)\\s+(\\d+)', 2) AS INTEGER) AS height
        |FROM read_blob('$FixtureDir/images/*.ppm')""".stripMargin,
    "q40_image_decode" ->
      s"""WITH b AS (
        |  SELECT regexp_extract(filename, '[^/]+$$', 0) AS name, decode(content) AS t
        |  FROM read_blob('$FixtureDir/images/*.ppm')),
        |tok AS (
        |  SELECT name, list_filter(string_split_regex(t, '\\s+'), x -> len(x) > 0) AS l FROM b),
        |px AS (
        |  SELECT name,
        |    CAST(l[2] AS INTEGER) AS width, CAST(l[3] AS INTEGER) AS height,
        |    list_transform(list_slice(l, 5, len(l)), x -> CAST(x AS BIGINT)) AS p
        |  FROM tok),
        |ch AS (
        |  SELECT name, width, height,
        |    list_filter(list_transform(p, (e, i) -> CASE WHEN (i - 1) % 3 = 0 THEN e END), v -> v IS NOT NULL) AS r,
        |    list_filter(list_transform(p, (e, i) -> CASE WHEN (i - 1) % 3 = 1 THEN e END), v -> v IS NOT NULL) AS g,
        |    list_filter(list_transform(p, (e, i) -> CASE WHEN (i - 1) % 3 = 2 THEN e END), v -> v IS NOT NULL) AS bl
        |  FROM px)
        |SELECT name, width, height,
        |  round(CAST(list_aggregate(r, 'sum') AS DOUBLE) / len(r), 6) AS mean_r,
        |  round(CAST(list_aggregate(g, 'sum') AS DOUBLE) / len(g), 6) AS mean_g,
        |  round(CAST(list_aggregate(bl, 'sum') AS DOUBLE) / len(bl), 6) AS mean_b
        |FROM ch""".stripMargin,
    "q41_mirna" ->
      s"""WITH raw AS (
        |  SELECT "miRNA_ID" AS id, CAST(reads_per_million_miRNA_mapped AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/mirna/*.txt', delim='\t', header=true, filename=true, all_varchar=true)),
        |m AS (
        |  SELECT id, smp,
        |    round(log2(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) + 1), 6) AS lv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "miRNA_ID",
        |  max(CASE WHEN smp = 'SAMP-01A' THEN lv END) AS "SAMP-01A",
        |  max(CASE WHEN smp = 'SAMP-02A' THEN lv END) AS "SAMP-02A"
        |FROM m GROUP BY 1""".stripMargin,
    "q42_mirna_isoform" ->
      s"""WITH raw AS (
        |  SELECT isoform_coords AS id, CAST(reads_per_million_miRNA_mapped AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/mirna_isoform/*.txt', delim='\t', header=true, filename=true, all_varchar=true)),
        |m AS (
        |  SELECT id, smp,
        |    round(log2(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) + 1), 6) AS lv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "isoform_coords",
        |  max(CASE WHEN smp = 'SAMP-01A' THEN lv END) AS "SAMP-01A",
        |  max(CASE WHEN smp = 'SAMP-02A' THEN lv END) AS "SAMP-02A"
        |FROM m GROUP BY 1""".stripMargin,
    "q43_gene_cnv" ->
      s"""WITH raw AS (
        |  SELECT gene_id AS id, CAST(copy_number AS DOUBLE) AS v, $SampleFromFilename AS smp
        |  FROM read_csv('$FixtureDir/gene-level_ascat-ngs/*.tsv', delim='\t', header=true, filename=true, all_varchar=true)),
        |m AS (
        |  SELECT id, smp, CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS mv
        |  FROM raw GROUP BY 1, 2)
        |SELECT id AS "Ensembl_ID",
        |  coalesce(CAST(max(CASE WHEN smp = 'SAMP-01A' THEN mv END) AS VARCHAR), 'NA') AS "SAMP-01A",
        |  coalesce(CAST(max(CASE WHEN smp = 'SAMP-02A' THEN mv END) AS VARCHAR), 'NA') AS "SAMP-02A"
        |FROM m GROUP BY 1""".stripMargin,
    "q44_segment_ascat" ->
      s"""SELECT $SampleFromFilename AS sample,
        |  Chromosome AS "Chrom",
        |  CAST("Start" AS BIGINT) AS "Start",
        |  CAST("End" AS BIGINT) AS "End",
        |  CAST(Copy_Number AS DOUBLE) AS value
        |FROM read_csv('$FixtureDir/segment_cnv_ascat-ngs/*.txt', delim='\t', header=true, filename=true, all_varchar=true)""".stripMargin,
    "q27_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM toks, UNNEST(
        |    CASE WHEN len(tk) >= 2
        |    THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
        |    ELSE [] END) AS t(g)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8""".stripMargin,
  )
}
