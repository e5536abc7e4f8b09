package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables

/** 10× scale rehearsal: duplicates the sf base tables with noise
  * (≈ sf1-equivalent for the text/vector/event surface), runs the
  * dedup/similarity/streaming-batch headline queries once, and writes
  * `SCALE.md` with wall-times plus the scale-behavior assertions that
  * correctness gates can't see:
  *
  *  - banded-LSH recall vs the exact inverted-index ground truth must
  *    hold as the corpus grows (banding probability is data-dependent);
  *  - the hot-bucket cap must actually engage when buckets exceed it;
  *  - `Dedup.dupClusters`' distributed label propagation must produce
  *    byte-identical clusters to the driver union-find on the same 10×
  *    edge set (the two paths swap on `smallGraphThreshold` — the 100 TB
  *    path must not be a behavior change).
  *
  * Generation is duplicate-with-noise: copy k offsets every id by
  * k·ID_STRIDE, appends a copy token to each text (near- but not
  * exact-dup, J ≈ 0.9+) and shifts each embedding coordinate by a
  * small per-copy epsilon (cosine ≈ 1 within a copy family). This
  * deliberately makes every original a 10-member near-dup family —
  * the worst realistic shape for LSH buckets and clustering.
  *
  * Usage: `SPARK_DRIVER_MEM=96g sbt "runMain graft.ScaleSmoke [baseSfDir] [workDir]"`
  * (defaults /root/testdata/sf0.1 and /tmp/graft_scale10). The heap
  * override matters: the pan-cancer pivot check aggregates 240M
  * (probe, sample) groups per batch — on a cluster that state spreads
  * across executors; in this single-JVM rehearsal it needs most of
  * the machine (the sbt default of 8g OOMs in the pivot pre-agg).
  */
object ScaleSmoke {

  private val IdStride = 10000000L
  private val Copies = 10

  private def tenX(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(k => f(df, k)).reduce(_.unionByName(_))

    val docs = Tables.documents(spark, baseDir)
    copies(docs) { (d, k) =>
      d.select(
        (col("doc_id") + lit(k * IdStride)).as("doc_id"),
        // Copy 0 keeps the original text; later copies append a copy
        // token — near-dup (one gram differs), never exact-dup.
        (if (k == 0) col("text")
         else concat(col("text"), lit(s" nzcopy$k"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, baseDir)
    copies(emb) { (e, k) =>
      e.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        // Tiny uniform shift: cosine within a copy family stays ~1.
        transform(col("embedding"), x => x + lit(k * 1e-3f)).as("embedding"),
        col("label"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    copies(ev) { (e, k) =>
      e.select(
        (col("event_id") + lit(k * IdStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * IdStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Synthesizes a clinical `cases.json` with the full nested
    * array-of-struct shape (SURVEY §3 E3's input) at thousands of
    * cases — ~1000× the 4-case fixture the correctness gate reads.
    * Everything derives deterministically from the case index: 0–2
    * annotations, 1–3 diagnoses (each 0–2 treatments, 0–1 pathology
    * details), 1–4 samples, and every 5th (id+d) age is the GDC's
    * literal "not reported" so the lenient min-age parse (P13) is
    * exercised at scale, not just on the fixture. `slice(transform(
    * sequence(1, max)), 1, n)` builds the variable-length arrays —
    * `sequence(1, 0)` would yield a DESCENDING [1,0], never empty. */
  private[graft] def clinicalTenX(spark: SparkSession, outPath: String, nCases: Int): Unit = {
    val sexes = array(lit("female"), lit("male"), lit("not reported"))
    // The range column is renamed first: the output aliases one of its
    // own columns "id" (a string), and Spark's lateral-column-alias
    // resolution lets lambda bodies capture that alias over the input
    // long — a cast-to-BIGINT crash at generation time.
    val cases = spark.range(nCases).select(col("id").as("cid")).select(
      format_string("case-%06d", col("cid")).as("id"),
      format_string("TCGA-SC-%06d", col("cid")).as("submitter_id"),
      element_at(array(lit("Adenomas and Adenocarcinomas"), lit("Gliomas"),
        lit("Acute Lymphoblastic Leukemia")), pmod(col("cid"), lit(3)).cast("int") + 1)
        .as("disease_type"),
      lit("released").as("state"),
      lit("2021-03-04T00:00:00").as("created_datetime"),
      struct(format_string("TCGA-P%02d", pmod(col("cid"), lit(7))).as("project_id")).as("project"),
      struct(
        element_at(sexes, pmod(col("cid"), lit(3)).cast("int") + 1).as("gender"),
        element_at(array(lit("Alive"), lit("Dead")), pmod(col("cid"), lit(2)).cast("int") + 1)
          .as("vital_status"),
        (lit(1930L) + pmod(col("cid"), lit(60))).as("year_of_birth")).as("demographic"),
      slice(transform(sequence(lit(1), lit(2)), a =>
        struct(format_string("category_%d", a).as("category"),
          lit("Notification").as("classification"))),
        lit(1), pmod(col("cid"), lit(3)).cast("int")).as("annotations"),
      slice(transform(sequence(lit(1), lit(3)), d =>
        struct(
          when(pmod(col("cid") + d, lit(5)) === 0, lit("not reported"))
            .otherwise((lit(10000) + pmod(col("cid") * 7 + d, lit(20000))).cast("string"))
            .as("age_at_diagnosis"),
          format_string("G%d", d).as("tumor_grade"),
          slice(transform(sequence(lit(1), lit(2)), t =>
            struct(format_string("agent_%d", t).as("therapeutic_agents"),
              element_at(array(lit("Radiation Therapy, NOS"), lit("Chemotherapy")), t)
                .as("treatment_type"))),
            lit(1), pmod(col("cid") + d, lit(3)).cast("int")).as("treatments"),
          slice(transform(sequence(lit(1), lit(2)), p =>
            struct(pmod(col("cid") * 3 + p, lit(40)).cast("string").as("lymph_nodes_tested"))),
            lit(1), pmod(col("cid") + d, lit(2)).cast("int")).as("pathology_details"))),
        lit(1), pmod(col("cid"), lit(3)).cast("int") + 1).as("diagnoses"),
      slice(transform(sequence(lit(1), lit(4)), sm =>
        struct(format_string("TCGA-SC-%06d-%02dA", col("cid"), sm).as("submitter_id"),
          element_at(array(lit("Primary Tumor"), lit("Solid Tissue Normal"),
            lit("Metastatic"), lit("Blood Derived Normal")), sm).as("sample_type"),
          element_at(array(lit("Tumor"), lit("Normal"), lit("Tumor"), lit("Normal")), sm)
            .as("tissue_type"))),
        lit(1), pmod(col("cid"), lit(4)).cast("int") + 1).as("samples"))
    cases.repartition(8).write.mode("overwrite").json(outPath)
  }

  /** Driver-side mirror of `clinicalTenX`'s age formula — the oracle
    * for the derived min-age spot checks in check 6. */
  private def expectedMinAge(id: Long): Option[Double] = {
    val ages = (1 to (id % 3 + 1).toInt).collect {
      case d if (id + d) % 5 != 0 => (10000 + (id * 7 + d) % 20000).toDouble
    }
    if (ages.isEmpty) None else Some(ages.min)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The whole rehearsal starts from a CLEAN work dir (refuse-or-wipe
    // guard): every append-mode landing feed, stream checkpoint and
    // persisted store below would otherwise accumulate across runs —
    // the check-22 stale-state class, now impossible by construction.
    Harness.freshWorkDir(spark, workDir)

    val t0 = System.nanoTime()
    tenX(spark, baseDir, workDir)
    val genSec = (System.nanoTime() - t0) / 1e9

    // The headline dedup/similarity/event queries (round-4 ask list).
    // q23 (exact all-pairs, allowExact) is EXCLUDED by design: 10× puts
    // the corpus at 20k rows -> 4·10⁸ exact pairs; the scale answer is
    // the q26 LSH path (run below), and beyond 2^16 rows the unhatched
    // guard refuses outright (spec-covered in SimilaritySpec).
    val names = Seq(
      "q17_exact_dedup", "q18_ngram_jaccard", "q19_minhash_lsh",
      "q20_simhash_sig", "q21_text_stats", "q22_cosine_topk",
      "q24_session_stats", "q25_lsh_ann_topk", "q26_cosine_pairs_lsh",
      "q27_simhash_pairs", "q45_ivf_ann_topk", "q46_winnow_fingerprint",
      "q47_dup_clusters", "q52_embedding_clusters", "q56_knn_join",
      "q60_ivf_indexed",
      "q61_chunking", "q62_stratified_sample", "q63_pack",
      "q64_length_quantiles", "q65_pack_materialize", "q66_redact",
      "q67_mixture", "q68_shuffle_order", "q69_pq_topk", "q70_neardup_dedup",
      "q81_importance_weights", "q82_unigram_logprob", "q83_knn_classify",
      "q84_bpe_pairs", "q85_ngram_novelty", "q86_fuzzy_join",
      "q87_incremental_link", "q89_heavy_hitters",
      "q90_pmi_pairs", "q91_quality_buckets", "q93_bigram_logprob",
      "q94_hard_negatives", "q101_shard_export", "q103_lm_store_score",
      "q104_weighted_sample", "q105_corpus_cube", "q106_source_drift",
      "q107_mmr_rerank", "q108_naive_bayes", "q109_cluster_sample",
      "q110_nb_store_score", "q111_retrieval_eval", "q112_classifier_eval",
      "q113_token_budget", "q114_group_classifier_eval",
      "q115_source_overlap", "q116_index_health",
      "q117_tokenizer_fertility", "q118_split_leakage",
      "q119_embedding_dim_stats", "q120_filtered_ann",
      "q121_banding_report", "q122_prefix_dup_profile",
      "q123_tok_store_drift", "q124_langid_confusion", "q125_norm_quantiles",
      "q126_predlang_slice_eval", "q127_langid_store_mix",
      "q128_corpus_diff", "q129_lm_oov_drift", "q130_vocab_hll",
      "q131_score_psi", "q132_calibration", "q133_vocab_growth")
    // q88 (BM25) is EXCLUDED from the sweep for the same class of
    // reason as q23: the synthetic corpus has a ~31-token vocabulary,
    // so every one of the sweep's 2,000 query docs lexically matches
    // ALL ~48k corpus docs — the zero-selectivity regime where
    // "inverted index" degenerates to all-pairs (2k × 48k ≈ 10⁸
    // scored groups in one JVM). Real text obeys Zipf: a query's
    // terms select a sliver of the corpus and BM25's cost is
    // Σ_t df(t) over query terms, not |Q|·|corpus|. Check 10 below
    // exercises the operator at 10× with a bounded query batch —
    // the shape a retrieval pass actually runs.
    val timings = names.map { name =>
      val fn = SparkEntry.queries(name)
      val s = System.nanoTime()
      fn(spark, workDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - s) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      println(f"[scale] $name%-24s ${dt}%8.2f s")
      name -> dt
    }

    val docs = Tables.documents(spark, workDir)
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

    // 1. Banded-LSH recall at 10× against PLANTED ground truth: the
    // generator makes every (copy_j, copy_k) of a document a near-dup,
    // so the truth set is the within-family pairs whose TRUE n-gram
    // Jaccard clears the threshold (computed directly, no banding, no
    // df cap). A capped inverted index is NOT a valid truth source
    // here: at 10× every gram's doc frequency grows 10×, the cap drops
    // the bulk vocabulary, and capped-universe Jaccard diverges from
    // true Jaccard (measured: it admits pairs at 7× the true set).
    val gramArr = docs.select(col("doc_id"),
      array_distinct(graft.functions.TextFunctions.wordNgrams(
        graft.functions.TextFunctions.tokens(col("text")), 2)).as("g"))
      .localCheckpoint(false)
    val fam = docs.select(col("doc_id"), pmod(col("doc_id"), lit(IdStride)).as("base"))
    val plantedPairs = fam.select(col("doc_id").as("doc_a"), col("base"))
      .join(fam.select(col("doc_id").as("doc_b"), col("base")), Seq("base"))
      .filter(col("doc_a") < col("doc_b"))
    // Mirror verifyCandidates' arithmetic exactly (same IEEE ops) so
    // threshold-boundary pairs land on the same side in both sets.
    val truth = plantedPairs
      .join(gramArr.select(col("doc_id").as("doc_a"), col("g").as("ga")), Seq("doc_a"))
      .join(gramArr.select(col("doc_id").as("doc_b"), col("g").as("gb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("j", col("inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("inter")).cast("double"))
      .filter(col("j") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.8, numHashes = 64, bands = 16)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (truth.isEmpty) 1.0
      else banded.intersect(truth).size.toDouble / truth.size
    assert(truth.size > 10000, s"10x corpus should be dup-heavy, got ${truth.size} planted pairs")
    assert(recall >= 0.98, f"banded recall degraded at 10x: $recall%.4f")
    checks += ("banded LSH recall vs planted truth (threshold 0.8)" ->
      f"$recall%.4f over ${truth.size} planted true pairs (banded found ${banded.size} total)")

    // 2. Hot-bucket cap engages: capping band buckets at 5 must strictly
    // reduce candidates on a corpus whose every family has 10 members.
    val uncapped = Dedup.minHashCandidates(docs, "doc_id", "text", n = 2,
      numHashes = 64, bands = 16).count()
    val capped = Dedup.minHashCandidates(docs, "doc_id", "text", n = 2,
      numHashes = 64, bands = 16, maxBucketSize = 5L).count()
    assert(capped < uncapped,
      s"hot-bucket cap did not engage at 10x: $capped vs $uncapped")
    checks += ("hot-bucket cap (maxBucketSize=5)" ->
      s"candidates $uncapped -> $capped")

    // 3. Driver union-find == distributed propagation on the 10× edge
    // set (the adaptive flip must not be a behavior change).
    val nodes = docs.select(col("doc_id"))
    val edges = Dedup.minHashLshPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.8).select("doc_a", "doc_b").localCheckpoint(false)
    def canon(df: DataFrame) = df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaDriver = canon(Dedup.dupClusters(nodes, edges, "doc_id"))
    val viaDistributed = canon(Dedup.dupClusters(nodes, edges, "doc_id",
      smallGraphThreshold = 0L))
    assert(viaDriver == viaDistributed,
      "distributed label propagation diverged from driver union-find at 10x")
    checks += ("union-find paths agree (driver vs distributed)" ->
      s"${viaDriver.size} nodes, ${edges.count()} edges, identical clusters")

    // 4. Packing partitions the chunk stream exactly at 10×: the
    // distributed prefix sum must conserve every token (no chunk lost
    // or double-assigned across range-partition boundaries), pack ids
    // must be dense 0..N-1, and no offset may escape the budget.
    val chunkTok = SparkEntry.queries("q61_chunking")(spark, workDir)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    val packRow = SparkEntry.queries("q65_pack_materialize")(spark, workDir)
      .agg(sum("pack_tokens"), count(lit(1)), max("pack_id")).collect()(0)
    val maxOff = SparkEntry.queries("q63_pack")(spark, workDir)
      .agg(max("pack_offset")).collect()(0).getLong(0)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(packRow.getLong(0) == chunkTok,
      s"packing lost tokens at 10x: packs ${packRow.getLong(0)} vs chunks $chunkTok")
    assert(packRow.getLong(2) == packRow.getLong(1) - 1,
      s"pack ids not dense: max ${packRow.getLong(2)} over ${packRow.getLong(1)} packs")
    assert(maxOff < 512L, s"pack_offset escaped the budget: $maxOff")
    checks += ("packing prefix sum conserves tokens, dense pack ids, offsets < budget" ->
      s"$chunkTok tokens across ${packRow.getLong(1)} packs, max offset $maxOff")

    // 5. Persisted IVF-PQ index at 10×: build + pruned search of the
    // only index family not already in the sweep (q60 covers IVF). The
    // copy families make every query's true top-5 all within-family at
    // cos ≈ 1 — exact rank among such near-ties is not stable under
    // ADC quantization, so the gate is FAMILY precision (did the
    // compressed, cell-pruned index land in the planted near-dup
    // family?) plus the PartitionFilters pruning proof; plain
    // recall@5 is reported unguarded.
    val emb10 = Tables.embeddings(spark, workDir)
    val qs10 = emb10.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val idxPath = s"$workDir/ivfpq_index"
    val b0 = System.nanoTime()
    graft.similarity.Similarity.writeIvfPqIndex(
      emb10, "vec_id", "embedding", dim = 64, nlist = 24, path = idxPath)
    val buildSec = (System.nanoTime() - b0) / 1e9
    val prunedIdx = graft.similarity.Similarity.ivfPqTopKIndexed(
      spark, idxPath, qs10, "q_id", "q_vec", k = 5, nprobe = 6)
    val idxPlan = prunedIdx.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(idxPlan).isDefined,
      "IVF-PQ probe cells not pushed as PartitionFilters at 10x")
    val gotIdx = prunedIdx.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val famPrec = gotIdx.count { case (q, n) => n % IdStride == q % IdStride }
      .toDouble / gotIdx.length
    val truthIdx = graft.similarity.Similarity.bruteForceTopK(
        emb10, qs10, "vec_id", "embedding", "q_id", "q_vec", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallIdx = gotIdx.count(truthIdx.contains).toDouble / truthIdx.size
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(famPrec >= 0.8,
      f"IVF-PQ pruned search lost the planted families at 10x: precision $famPrec%.3f")
    checks += ("persisted IVF-PQ at 10x: pruned probe finds the planted families" ->
      (f"family precision $famPrec%.3f, recall@5 $recallIdx%.3f (near-tie ranks unstable " +
        f"under ADC by construction), build $buildSec%.1f s, PartitionFilters verified"))

    // 6. Clinical E3 at 10×: the nested-JSON pipeline (the survey's
    // declared stress test) end-to-end on 5k synthesized cases —
    // ~1000× the correctness fixture. Invariants: (a) output rows ==
    // exploded sample count (the inner sample fan-out is the only
    // row-multiplying join; every case has ≥1 sample so none vanish);
    // (b) schema identical to the fixture-sized q35 run (scale must
    // not change the column surface); (c) the derived lenient min-age
    // matches a driver-side oracle on spot cases, including an
    // all-unparseable one; (d) no exchange and no join — every
    // per-case aggregate is row-local over the case's own arrays.
    val clinPath = s"$workDir/cases10x.json"
    val c0 = System.nanoTime()
    clinicalTenX(spark, clinPath, nCases = 5000)
    val matrix = graft.transform.Clinical.clinicalMatrix(spark, clinPath)
    // toRdd.count() executes the dataset's OWN QueryExecution, so the
    // plan asserted below is the one that ran (a plain .count() wraps
    // it in a fresh aggregate QE).
    val outRows = matrix.queryExecution.toRdd.count()
    val clinSec = (System.nanoTime() - c0) / 1e9
    val expectedRows = spark.read.schema(graft.transform.Clinical.casesSchema)
      .json(clinPath).select(explode(col("samples"))).count()
    assert(outRows == expectedRows,
      s"clinical fan-out rows $outRows != exploded sample count $expectedRows")
    val fixtureCols = SparkEntry.queries("q35_clinical")(spark, workDir).columns.toSeq
    assert(matrix.columns.toSeq == fixtureCols,
      s"clinical schema drifted at 10x:\n got ${matrix.columns.mkString(",")}\n want ${fixtureCols.mkString(",")}")
    val ageCol = "age_at_earliest_diagnosis.diagnoses.xena_derived"
    val spotIds = Seq(24L, 123L, 4999L) // 24: single "not reported" age -> null
    val got = matrix.filter(col("id").isin(spotIds.map(i => f"case-$i%06d"): _*))
      .select(col("id"), col(s"`$ageCol`")).distinct().collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    spotIds.foreach { i =>
      val want = expectedMinAge(i).map(a => math.rint(a * 1e6) / 1e6)
      assert(got(f"case-$i%06d") == want,
        s"derived min-age mismatch for case $i: got ${got(f"case-$i%06d")}, want $want")
    }
    val clinPlan = matrix.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val clinExch = "Exchange".r.findAllIn(clinPlan).length
    assert(clinExch == 0 && !clinPlan.contains("Join"),
      s"clinical pipeline exchanges or joins at 10x:\n" + clinPlan.take(1500))
    checks += ("clinical E3 nested-JSON pipeline at 5k cases (~1000x fixture)" ->
      (f"$outRows rows == exploded samples, schema == fixture run, min-age oracle on " +
        f"${spotIds.size} spot cases (incl. all-unparseable), $clinExch exchanges, " +
        f"end-to-end $clinSec%.1f s"))

    // 7. Pan-cancer wide pivot at FULL width: 12,500 samples × 60,000
    // probes (the reference's join_xena.sh assembles ~11k sample
    // columns over ~60k gene/probe rows — this is that matrix, 750M
    // long cells). XenaOpsSpec proves value correctness at this width
    // on 8 probes; this check proves the other axis — that the
    // two-phase batched plan EXECUTES at full probe depth and keeps
    // its pinned exchange budget (2 per batch pivot + 1 per
    // accumulated re-shuffle = 3·batches−2; a regression to per-batch
    // full-matrix re-shuffles or a cartesian fails here before it
    // fails on a cluster).
    val pvS = 12500
    val pvP = 60000
    val pv0 = System.nanoTime()
    val pvLong = spark.range(0, pvS.toLong * pvP)
      .select(
        (col("id") % pvP).as("probe"),
        // floor, not bare division: `/` on longs is DOUBLE division in
        // Spark SQL, which would mint ~one distinct sample string per
        // row and turn phase 1's driver collect into the whole table.
        concat(lit("s"), floor(col("id") / pvP).cast("long").cast("string")).as("sample"),
        (col("id") % 1001).cast("double").as("value"))
    val pvWide = graft.ops.XenaOps.pivotMatrixWide(pvLong, "probe", "sample", "value")
    val pvBatches = math.ceil(pvS / 4000.0).toInt
    val pvPlan = pvWide.queryExecution.executedPlan.toString
    val pvExch = "Exchange hashpartitioning".r.findAllIn(pvPlan).length
    assert(pvExch == 3 * pvBatches - 2,
      s"wide pivot expected ${3 * pvBatches - 2} exchanges at $pvBatches batches, got $pvExch:\n" +
        pvPlan.take(2500))
    assert(!pvPlan.contains("CartesianProduct") && !pvPlan.contains("BroadcastNestedLoopJoin"),
      "wide pivot plan went non-equi at pan-cancer width")
    assert(pvWide.columns.length == pvS + 1,
      s"expected ${pvS + 1} columns, got ${pvWide.columns.length}")
    // toRdd.count() executes the matrix's own QueryExecution (same
    // reasoning as check 6) — every cell is materialized.
    val pvRows = pvWide.queryExecution.toRdd.count()
    val pvSec = (System.nanoTime() - pv0) / 1e9
    assert(pvRows == pvP, s"wide pivot produced $pvRows rows, expected $pvP probes")
    checks += (s"pan-cancer wide pivot ($pvS samples x $pvP probes, 750M cells)" ->
      (f"$pvExch exchanges == 3·$pvBatches−2 pinned, ${pvS + 1} cols, $pvRows rows " +
        f"materialized, no cartesian, end-to-end $pvSec%.1f s"))

    // 8. Substring-level + semantic dedup at 10×: the two round-9
    // operators against the planted copy families. Every copy contains
    // its base document's text as a PREFIX, so (a) every base window
    // recurs in 9 sibling docs — dupWindowStats must flag essentially
    // every reporting doc (the rare exception: a <8-token base whose
    // copies' single window ends in the per-copy token, globally
    // unique); and (b) family embeddings sit at cosine ≈ 1, so
    // semanticDedup must collapse families — kept count near the
    // family count, far below the corpus. Both plans must stay
    // equi-join only (the 100 TB contract from PlanShapeSpec,
    // re-asserted at 10×).
    val dw0 = System.nanoTime()
    // Plan captured BEFORE localCheckpoint (which truncates lineage to
    // an RDD scan and would make the assertion vacuous).
    val dwDf = Dedup.dupWindowStats(docs, "doc_id", "text", w = 8)
    val dwPlan = dwDf.queryExecution.executedPlan.toString
    val dw = dwDf.localCheckpoint(false)
    assert(!dwPlan.contains("CartesianProduct") && !dwPlan.contains("BroadcastNestedLoopJoin"),
      "dupWindowStats went non-equi at 10x")
    val dwRow = dw.agg(count(lit(1)), sum(when(col("n_dup_windows") > 0, 1L).otherwise(0L)),
      sum(when(col("n_dup_windows") > col("n_windows"), 1L).otherwise(0L))).collect()(0)
    val dwSec = (System.nanoTime() - dw0) / 1e9
    val (dwDocs, dwFlagged) = (dwRow.getLong(0), dwRow.getLong(1))
    assert(dwRow.getLong(2) == 0, "dup window count exceeded window count")
    assert(dwFlagged.toDouble / dwDocs >= 0.95,
      f"planted copy families under-detected: ${dwFlagged.toDouble / dwDocs}%.3f flagged")
    checks += ("substring dedup (dupWindowStats w=8) flags the planted copy families" ->
      f"$dwFlagged/$dwDocs reporting docs flagged, no count inversions, $dwSec%.1f s")

    val sd0 = System.nanoTime()
    val sdDf = graft.similarity.Similarity.semanticDedup(
      Tables.embeddings(spark, workDir), "vec_id", "embedding",
      dim = 64, nlist = 24, threshold = 0.4)
    val sdPlan = sdDf.queryExecution.executedPlan.toString
    val sd = sdDf.localCheckpoint(false)
    assert(!sdPlan.contains("CartesianProduct") && !sdPlan.contains("BroadcastNestedLoopJoin"),
      "semanticDedup went non-equi at 10x")
    val sdRow = sd.agg(count(lit(1)), sum(col("kept"))).collect()(0)
    val sdSec = (System.nanoTime() - sd0) / 1e9
    val (sdTotal, sdKept) = (sdRow.getLong(0), sdRow.getLong(1))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val sdExpected = Tables.embeddings(spark, baseDir).count() * Copies
    assert(sdTotal == sdExpected, s"semanticDedup lost rows: $sdTotal != $sdExpected")
    assert(sdKept.toDouble / sdTotal <= 0.25,
      f"cosine-1 copy families not collapsed: kept ${sdKept.toDouble / sdTotal}%.3f of corpus")
    checks += ("semantic dedup (SemDeDup threshold=0.4) collapses the cosine~1 copy families" ->
      f"kept $sdKept of $sdTotal (${100.0 * sdKept / sdTotal}%.1f%%), equi-join plan, $sdSec%.1f s")

    // Bloom-prefilter decontamination at 10×: the two physical
    // strategies of the same contract must agree row-for-row, the
    // bloom plan must stay one-shuffle (scan → bloom filter → explode
    // candidates → broadcast confirm → final agg), and the rehearsal
    // records the measured prefilter selectivity + paired wall times
    // — the evidence that the narrow path actually pays off when the
    // corpus side is 10× and ~all documents are clean.
    val bd0 = System.nanoTime()
    val bdSplit = graft.functions.TextFunctions.hashSplit(col("doc_id"))
    val bdDocs = docs.withColumn("split", bdSplit)
    val bdTrain = bdDocs.filter(col("split") === "train").select("doc_id", "text")
    val bdBench = bdDocs.filter(col("split") === "valid").select("doc_id", "text")
    // Plan captured BEFORE localCheckpoint: checkpointing truncates
    // the lineage to an RDD scan, which would make any plan assertion
    // vacuous (it bit exactly that way the first time this ran).
    val bloomDf = Dedup.crossNgramOverlapBloom(bdTrain, bdBench, "doc_id", "text", n = 5)
    val bloomPlan = bloomDf.queryExecution.executedPlan.toString
    val bloomRes = bloomDf.localCheckpoint(false)
    assert(bloomPlan.contains("bloom_any_contain") && !bloomPlan.contains("SortMergeJoin"),
      "bloom decontam lost its prefilter or broadcast shape at 10x")
    assert("Exchange hashpartitioning".r.findAllIn(bloomPlan).size == 1,
      "bloom decontam plan grew extra shuffles at 10x")
    val bloomN = bloomRes.count()
    val bdBloomSec = (System.nanoTime() - bd0) / 1e9
    val bd1 = System.nanoTime()
    val plainRes = Dedup.crossNgramOverlap(bdTrain, bdBench, "doc_id", "text", n = 5)
      .localCheckpoint(false)
    val plainN = plainRes.count()
    val bdPlainSec = (System.nanoTime() - bd1) / 1e9
    assert(bloomRes.exceptAll(plainRes).isEmpty && plainRes.exceptAll(bloomRes).isEmpty,
      s"bloom and plain decontamination disagree at 10x ($bloomN vs $plainN rows)")
    val bdTrainN = bdTrain.count()
    checks += ("bloom decontam == plain decontam at 10x, one-shuffle plan" ->
      f"$bloomN contaminated of $bdTrainN train docs (${100.0 * bloomN / bdTrainN}%.2f%% candidate rate), bloom $bdBloomSec%.1f s vs explode+join $bdPlainSec%.1f s")
    // Same pair under REALISTIC contamination: this corpus's planted
    // 10-copy families make the full valid split contaminate ~70% of
    // train (every benchmark member drags its 9 near-copies in), which
    // is the bloom prefilter's worst case — flagged docs pay explode
    // AND the filter. A 1/10th benchmark slice (hash bucket 80)
    // restores the production shape (contamination rare), where the
    // narrow fast path carries ~all documents.
    val bdBucket = pmod(
      graft.functions.Md5Prefix64(col("doc_id").cast("string")), lit(100L))
    val bdBenchSparse = bdDocs.filter(bdBucket === 80).select("doc_id", "text")
    val sp0 = System.nanoTime()
    val sparseBloom = Dedup.crossNgramOverlapBloom(
      bdTrain, bdBenchSparse, "doc_id", "text", n = 5).localCheckpoint(false)
    val sparseBloomN = sparseBloom.count()
    val spBloomSec = (System.nanoTime() - sp0) / 1e9
    val sp1 = System.nanoTime()
    val sparsePlain = Dedup.crossNgramOverlap(
      bdTrain, bdBenchSparse, "doc_id", "text", n = 5).localCheckpoint(false)
    val sparsePlainN = sparsePlain.count()
    val spPlainSec = (System.nanoTime() - sp1) / 1e9
    assert(sparseBloom.exceptAll(sparsePlain).isEmpty
        && sparsePlain.exceptAll(sparseBloom).isEmpty,
      s"sparse-benchmark bloom and plain decontamination disagree ($sparseBloomN vs $sparsePlainN)")
    // Wall times at rehearsal scale are a wash (the filter build is a
    // fixed ~0.3 s and per-gram probe costs are similar); the scale
    // argument the rehearsal CAN measure is executor memory — the
    // exact path broadcasts every benchmark gram STRING, the bloom
    // path ~9.6 bits per gram at fpp=1%. Record both footprints.
    val fullGramBytes = bdDocs.filter(col("split") === "valid")
      .select(explode(array_distinct(graft.functions.TextFunctions.wordNgrams(
        graft.functions.TextFunctions.tokens(col("text")), 5))).as("g"))
      .distinct().agg(sum(length(col("g")))).collect()(0).getLong(0)
    val fullGramCount = bdDocs.filter(col("split") === "valid")
      .select(explode(array_distinct(graft.functions.TextFunctions.wordNgrams(
        graft.functions.TextFunctions.tokens(col("text")), 5))).as("g"))
      .distinct().count()
    val bloomKb = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(1L, fullGramCount), 0.01).bitSize() / 8 / 1024
    checks += ("bloom decontam, sparse benchmark (1 hash bucket): results equal, prefilter pays" ->
      f"$sparseBloomN contaminated of $bdTrainN (${100.0 * sparseBloomN / bdTrainN}%.2f%% candidate rate), bloom $spBloomSec%.1f s vs explode+join $spPlainSec%.1f s; full-valid-bench broadcast: $bloomKb KB bloom vs ${fullGramBytes / 1024} KB raw gram strings (${fullGramCount} grams)")

    // 9. Data-selection operators at 10×: the quality/selection scores
    // must keep their SEMANTIC properties as the corpus grows, not
    // just execute. (a) q81 importance weights: the corpus-level
    // target/off-target ordering must survive — mean log-weight of the
    // target (en) documents above the rest (the separation is small by
    // construction: the synthetic langs share a bulk vocabulary and 64
    // buckets blur further, but its SIGN is the operator's contract);
    // the 64-row log-ratio table must still broadcast. (b) q85 n-gram
    // novelty: the planted copy families make ~every trigram recur in
    // 10 sibling docs, so novelty must collapse — only the ≤2 grams
    // touching a copy's per-copy suffix token can be unique; a mean
    // uniq_frac drifting up means the df join silently degraded.
    val iw0 = System.nanoTime()
    val iwDf = SparkEntry.queries("q81_importance_weights")(spark, workDir)
    val iwPlan = iwDf.queryExecution.executedPlan.toString
    assert(iwPlan.contains("BroadcastHashJoin") && !iwPlan.contains("CartesianProduct"),
      "q81 log-ratio table stopped broadcasting at 10x")
    val iwRows = iwDf.groupBy((col("lang") === "en").as("is_en"))
      .agg(avg("logweight").as("m"), count(lit(1)).as("n")).collect()
      .map(r => r.getBoolean(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val iwSec = (System.nanoTime() - iw0) / 1e9
    assert(iwRows(true)._1 > iwRows(false)._1,
      f"importance weights lost target separation at 10x: en ${iwRows(true)._1}%.4f " +
        f"vs rest ${iwRows(false)._1}%.4f")
    checks += ("DSIR importance weights keep target/off-target separation at 10x" ->
      (f"mean logweight en ${iwRows(true)._1}%.4f (${iwRows(true)._2} docs) > " +
        f"rest ${iwRows(false)._1}%.4f (${iwRows(false)._2} docs), broadcast log-ratio plan, $iwSec%.1f s"))

    val nv0 = System.nanoTime()
    val nvDf = SparkEntry.queries("q85_ngram_novelty")(spark, workDir)
    val nvPlan = nvDf.queryExecution.executedPlan.toString
    assert(!nvPlan.contains("CartesianProduct") && !nvPlan.contains("BroadcastNestedLoopJoin"),
      "q85 df join went non-equi at 10x")
    val nvRow = nvDf.agg(count(lit(1)), avg("uniq_frac"),
      sum(when(col("n_unique") > col("n_grams"), 1L).otherwise(0L))).collect()(0)
    val nvSec = (System.nanoTime() - nv0) / 1e9
    assert(nvRow.getLong(2) == 0, "n_unique exceeded n_grams")
    assert(nvRow.getDouble(1) <= 0.1,
      f"planted copy families should crush novelty at 10x, mean uniq_frac ${nvRow.getDouble(1)}%.3f")
    checks += ("n-gram novelty collapses under the planted copy families at 10x" ->
      f"mean uniq_frac ${nvRow.getDouble(1)}%.4f over ${nvRow.getLong(0)} docs (≤2 suffix grams per copy can be unique), equi-join plan, $nvSec%.1f s")

    // (c) frozen-LM store at 10×: fitting on the full 10× corpus and
    // scoring it back through the PERSISTED store must reproduce
    // q82's in-memory scores exactly (n_oov = 0 on the fitting
    // corpus) — the store layout, sidecar total, and bucketed probe
    // all on the hook at 10× row counts, not just fixture scale.
    val lm0 = System.nanoTime()
    val lmPath = s"$workDir/tmp_lm_store"
    graft.ops.LmStore.createAt(spark, docs, lmPath)
    val lmGot = graft.ops.LmStore.score(spark, lmPath, docs)
    assert(lmGot.queryExecution.executedPlan.toString.contains("Bucketed: true"),
      "frozen-LM store probe lost its bucketed scan at 10x")
    val lmRows = lmGot.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val lmWant = graft.ops.Quality.unigramLogprob(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val lmSec = (System.nanoTime() - lm0) / 1e9
    assert(lmRows.keySet == lmWant.keySet,
      s"frozen-LM doc set diverged at 10x: ${lmRows.size} vs ${lmWant.size}")
    lmRows.foreach { case (id, (nt, noov, lp)) =>
      assert(noov == 0L, s"doc $id reports OOV against its own LM at 10x")
      assert((nt, lp) == lmWant(id),
        s"doc $id: frozen-LM ($nt, $lp) != in-memory ${lmWant(id)} at 10x")
    }
    checks += ("frozen-LM store score == in-memory unigramLogprob at 10x" ->
      (f"${lmRows.size}%d docs bit-identical through the persisted store, " +
        f"n_oov 0 everywhere, fit+score+compare $lmSec%.1f s"))

    // 10. BM25 retrieval against PLANTED truth at 50k docs. The
    // testdata corpus cannot gate retrieval PRECISION: its ~31-token
    // vocabulary gives zero lexical selectivity (see the q88 sweep
    // exclusion above) — every doc matches every query, idf is
    // uniform, tf saturates, and ranking degenerates to length
    // normalization. Real retrieval lives on idf selectivity, so this
    // check synthesizes the Zipf shape the testdata lacks: 50k docs
    // in 5k families, each doc = shared filler vocabulary (the
    // zero-signal bulk) + its family's RARE term (df = 10 of 50k →
    // high idf). A family query must rank its own family's other
    // members first — precision here measures exactly the idf
    // mechanism that makes the 100 TB cost model work (score work
    // proportional to Σ_t df(t), not |Q|·|corpus|).
    val bm0 = System.nanoTime()
    val bmFiller = Array("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "and", "runs", "far", "away", "home", "again", "soon")
    val bmDocs = spark.range(0, 50000).select(
      col("id").as("doc_id"),
      concat(
        // per-doc filler slice: deterministic, varies length 5..14 so
        // dl normalization is exercised
        expr(s"array_join(slice(array(${bmFiller.map("'" + _ + "'").mkString(",")})," +
          " 1 + cast(id % 5 as int), 5 + cast(id % 10 as int)), ' ')"),
        lit(" fam"), (col("id") % 5000).cast("string"),
        lit(" fam"), (col("id") % 5000).cast("string")).as("text"))
      .localCheckpoint(false)
    val bmQueries = bmDocs.filter(col("doc_id") < 5000 && col("doc_id") % 250 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    val bmCorpus = bmDocs.filter(col("doc_id") >= 5000)
    val bmDf = graft.ops.Retrieval.bm25TopK(bmCorpus, bmQueries, k = 5)
    val bmPlan = bmDf.queryExecution.executedPlan.toString
    assert(!bmPlan.contains("CartesianProduct"), "bm25 went cartesian at 10x")
    val bmHits = bmDf.select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bmSec = (System.nanoTime() - bm0) / 1e9
    val bmTop1 = bmHits.filter(_._3 == 1L)
    val bmPrec = bmTop1.count { case (q, d, _) => d % 5000 == q }
      .toDouble / bmTop1.length
    assert(bmTop1.length == 20, s"expected 20 queries, got ${bmTop1.length}")
    assert(bmPrec >= 0.95,
      f"BM25 lost the planted families: top-1 family precision $bmPrec%.3f")
    // every family has 9 other members in the corpus; all 5 hits of
    // every query should be within-family (the rare term dominates)
    val bmAllPrec = bmHits.count { case (q, d, _) => d % 5000 == q }
      .toDouble / bmHits.length
    assert(bmAllPrec >= 0.95,
      f"BM25 top-5 family precision degraded: $bmAllPrec%.3f")
    // The SAME retrieval through the persisted posting store: the 10×
    // corpus is signed once, the probe must be bucket-pruned
    // (PartitionFilters), and the rows must match the in-memory path
    // bit-for-bit — plan changes, rows never.
    val ps0 = System.nanoTime()
    val psPath = s"$workDir/posting_store"
    graft.ops.PostingStore.create(bmCorpus, psPath)
    val psBuildSec = (System.nanoTime() - ps0) / 1e9
    val psDf = graft.ops.PostingStore.retrieve(spark, psPath, bmQueries, k = 5)
    val psPlan = psDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(psPlan).isDefined,
      "posting-store probe not bucket-pruned at 10x")
    val psRows = psDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val bmRows = bmDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val psSec = (System.nanoTime() - ps0) / 1e9
    assert(psRows == bmRows,
      "posting-store retrieval diverged from the in-memory path at 10x")
    checks += ("BM25 retrieval finds the planted families (50k docs, idf-selective corpus)" ->
      (f"top-1 family precision $bmPrec%.3f, top-5 $bmAllPrec%.3f over " +
        f"${bmTop1.length} queries, no cartesian, $bmSec%.1f s"))
    checks += ("persisted posting store at 50k docs: pruned probe == in-memory rows" ->
      (f"${psRows.length} hit rows bit-identical, PartitionFilters verified, " +
        f"build $psBuildSec%.1f s, build+probe $psSec%.1f s"))
    // The maxTermDf scale hatch on the SAME store: every query here is
    // a full document, so its filler terms (df ≈ |corpus|) dominate
    // probe candidate volume — Σ_t df(t) over query terms — while all
    // the ranking signal sits in the rare family term (df ≈ 9). The
    // cap must (a) collapse candidate volume by orders of magnitude,
    // (b) stay bit-identical to the capped in-memory path (one
    // contract, two plans — the q137 oracle transcribes the same
    // rule), and (c) keep the planted-family precision: dropped terms
    // carried no signal.
    val pcap = 1000L
    val pc0 = System.nanoTime()
    val pcDf = graft.ops.PostingStore.retrieve(spark, psPath, bmQueries,
      k = 5, maxTermDf = pcap)
    val pcRows = pcDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val pcSec = (System.nanoTime() - pc0) / 1e9
    val pcMem = graft.ops.Retrieval.bm25TopK(bmCorpus, bmQueries,
      k = 5, maxTermDf = pcap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(pcRows == pcMem,
      "capped posting-store retrieval diverged from the capped in-memory path at 10x")
    val pcTop1 = pcRows.filter(_._3 == 1L)
    val pcPrec = pcTop1.count { case (q, d, _, _) => d % 5000 == q }
      .toDouble / pcTop1.length
    assert(pcPrec >= 0.95,
      f"df cap lost the planted families: top-1 precision $pcPrec%.3f")
    // candidate volume = Σ df over (distinct query term, df) pairs the
    // probe admits — measured off the store's df ledger, the exact
    // quantity the posting join materializes before its aggregate
    val pcVol = {
      val qt = bmQueries
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .distinct()
      val df = spark.read.parquet(s"$psPath/dfreq")
        .groupBy("term").agg(sum("df").cast("long").as("df"))
        .join(qt, Seq("term")).localCheckpoint(false)
      (df.agg(coalesce(sum("df"), lit(0L))).head().getLong(0),
        df.filter(col("df") <= pcap)
          .agg(coalesce(sum("df"), lit(0L))).head().getLong(0))
    }
    assert(pcVol._2 * 100L <= pcVol._1,
      s"expected >=100x candidate-volume cut, got ${pcVol._1} -> ${pcVol._2}")
    checks += (s"posting-store maxTermDf=$pcap probe: capped == capped in-memory, volume cut measured" ->
      (f"matched-posting volume ${pcVol._1}%d -> ${pcVol._2}%d " +
        f"(${pcVol._1.toDouble / math.max(pcVol._2, 1L)}%.0fx cut), " +
        f"top-1 family precision $pcPrec%.3f over ${pcTop1.length}%d queries, " +
        f"probe $pcSec%.1f s"))
    // TF-IDF cosine over the SAME idf-selective corpus: the rare
    // family term dominates both weight and norm, so the family
    // members must outrank the filler-sharing bulk — the same idf
    // mechanism as BM25 through the cosine scoring path (q98).
    val tf0 = System.nanoTime()
    val tfDf = graft.ops.Retrieval.tfidfTopK(bmCorpus, bmQueries, k = 5)
    assert(!tfDf.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "tfidf went cartesian at 10x")
    val tfHits = tfDf.select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tfSec = (System.nanoTime() - tf0) / 1e9
    val tfPrec = tfHits.count { case (q, d, _) => d % 5000 == q }
      .toDouble / tfHits.length
    assert(tfHits.count(_._3 == 1L) == 20, "expected 20 tfidf queries")
    assert(tfPrec >= 0.95,
      f"TF-IDF lost the planted families: top-5 family precision $tfPrec%.3f")
    checks += ("TF-IDF cosine retrieval finds the planted families (50k docs)" ->
      f"top-5 family precision $tfPrec%.3f over 20 queries, no cartesian, $tfSec%.1f s")

    // 11. CMS heavy hitters ≡ exact at 10× (the no-false-negative
    // contract under 10× token counts): the sketch-prefiltered result
    // must match a direct exact aggregate bit-for-bit.
    val hh0 = System.nanoTime()
    val hhGot = graft.ops.CorpusStats.heavyHitters(docs, minCount = 5000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hhWant = docs.filter(col("text").isNotNull)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 5000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hhSec = (System.nanoTime() - hh0) / 1e9
    assert(hhGot == hhWant,
      s"CMS-prefiltered heavy hitters diverged from exact at 10x: " +
        s"${hhGot.size} vs ${hhWant.size} tokens")
    checks += ("CMS heavy hitters ≡ exact aggregate at 10x token counts" ->
      f"${hhGot.size} hitters at minCount=5000, sketch+confirm == exact, $hhSec%.1f s")

    // 12. Temporal joins over the 1M-row events table: the as-of must
    // hold its union+window shape (ONE hash exchange, no join node —
    // the inequality-join form would fan out per-user history), the
    // salt hatch must be a results no-op at saltBuckets=8, and the
    // binned range join must stay an equi hash join whose rows match
    // the naive inequality join on a sampled user slice.
    val tj0 = System.nanoTime()
    // Tables.events, not a raw parquet read: the raw scan infers
    // TIMESTAMP_NTZ (the r8 lesson) and rangeJoinBinned's
    // unix_micros rejects it.
    val ev10 = Tables.events(spark, workDir)
    val purch10 = ev10.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views10 = ev10.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .agg(max(col("event_id")).as("view_id"))
    def asofChecksum(salt: Int): (Long, String, String) = {
      val df = graft.ops.Joins.asofJoin(purch10, views10,
        "user_id", "ts", "v_user", "v_ts", Seq("view_id", "v_ts"),
        saltBuckets = salt)
      val plan = df.queryExecution.executedPlan.toString
      // decimal sum: xxhash64 values are uniform over the FULL long
      // range, so an ANSI sum(long) over 100k rows overflows almost
      // surely; decimal(38,0) holds 10^6 of them with 5 digits spare
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("event_id"), col("view_id"), col("v_ts"))
          .cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), r.getDecimal(1).toString, plan)
    }
    val (aN, aH, aPlan) = asofChecksum(1)
    assert(aPlan.contains("Window") && !aPlan.contains("Join"),
      "as-of join lost its union+window shape at 10x:\n" + aPlan.take(1500))
    val (sN, sH, _) = asofChecksum(8)
    assert((aN, aH) == (sN, sH),
      s"saltBuckets=8 changed the as-of result at 10x: ($aN,$aH) vs ($sN,$sH)")
    val clicks10 = ev10.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val intervals10 = purch10.withColumn("i_end", col("ts") + expr("INTERVAL 1 HOUR"))
    val HourUs = 3600L * 1000000L
    val rjDf = graft.ops.Joins.rangeJoinBinned(clicks10, intervals10,
      "c_user", "c_ts", "user_id", "ts", "i_end", HourUs)
    val rjPlan = rjDf.queryExecution.executedPlan.toString
    assert(!rjPlan.contains("CartesianProduct") && !rjPlan.contains("BroadcastNestedLoopJoin"),
      "range join degraded to a nested loop at 10x:\n" + rjPlan.take(1500))
    val rjN = rjDf.count()
    // sampled-slice ground truth via the naive inequality join
    val uSamp = pmod(col("user_id"), lit(101)) === 0
    val naiveN = intervals10.filter(uSamp)
      .join(clicks10, col("user_id") === col("c_user") &&
        col("c_ts") >= col("ts") && col("c_ts") < col("i_end"))
      .count()
    val binnedSampN = graft.ops.Joins.rangeJoinBinned(
      clicks10, intervals10.filter(uSamp),
      "c_user", "c_ts", "user_id", "ts", "i_end", HourUs).count()
    assert(binnedSampN == naiveN,
      s"binned range join != inequality join on the sampled slice: $binnedSampN vs $naiveN")
    val tjSec = (System.nanoTime() - tj0) / 1e9
    checks += ("as-of join at 1M events: union+window plan, salt hatch result-invariant" ->
      f"$aN matched purchases, checksum equal at saltBuckets ∈ {1, 8}, no join node")
    checks += ("range join at 1M events: equi-hash plan, rows == inequality join on sample" ->
      f"$rjN%d (purchase, click) rows, sampled slice $binnedSampN%d == naive, both joins $tjSec%.1f s")

    // 13. Image near-dup at corpus scale: a generated 800-image set
    // (400 LCG-pixel originals + one few-pixel-brightened twin each)
    // through the BANDED pair path must equal the brute-force
    // all-pairs truth exactly (the banded generator's recall contract
    // for maxHamming <= 2*bands-1), with no cartesian in the plan —
    // the fixture gate (6 images) can't see a recall loss that only a
    // populated signature space exposes.
    val im0 = System.nanoTime()
    import spark.implicits._
    import graft.multimodal.ImageOps
    val imgCorpus = spark.range(400).as[Long].flatMap { i =>
      def lcgPixels(seed: Long): Array[Int] = {
        var x = seed
        Array.fill(16 * 16 * 3) {
          x = (6364136223846793005L * x + 1442695040888963407L)
          ((x >>> 33) & 0xff).toInt
        }
      }
      val base = lcgPixels(i * 7919L + 1)
      val twin = base.clone()
      // brighten a few 8x8 cells so the twin lands a few hamming
      // bits away (3 cells measured: ~315 of 400 twins within 6
      // bits — the rest drift past via the total-sum shift)
      var c = 0
      while (c < 3) {
        val cell = ((i + c * 83) % 64).toInt
        val sy = (cell / 8) * 2; val sx = (cell % 8) * 2
        val p = (sy * 16 + sx) * 3
        twin(p) = 255; twin(p + 1) = 255; twin(p + 2) = 255
        c += 1
      }
      Seq(ImageOps.DecodedImage(f"img_$i%04d", 16, 16, base),
        ImageOps.DecodedImage(f"img_$i%04d_twin", 16, 16, twin))
    }
    val bandedPairs = ImageOps.nearDupPairs(spark, imgCorpus, maxHamming = 6)
    val imPlan = bandedPairs.queryExecution.executedPlan.toString
    assert(!imPlan.contains("CartesianProduct") && !imPlan.contains("BroadcastNestedLoopJoin"),
      "image near-dup went cartesian at 800 images:\n" + imPlan.take(1500))
    val imGot = bandedPairs.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val imSigs = ImageOps.aHash64Packed(spark, imgCorpus).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val imWant = (for {
      (na, sa) <- imSigs; (nb, sb) <- imSigs if na < nb
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (na, nb, d.toLong)).toSet
    assert(imGot == imWant,
      s"banded image pairs diverged from brute force: ${imGot.size} vs ${imWant.size}")
    assert(imWant.size >= 250,
      s"twin corpus should be near-dup heavy, got only ${imWant.size} true pairs")
    val imSec = (System.nanoTime() - im0) / 1e9
    checks += ("image near-dup banded == brute force over 800 generated images" ->
      f"${imGot.size}%d pairs identical at maxHamming=6, no cartesian, $imSec%.1f s")

    // 14. Full curation pipeline with ledger at 50k docs (the CLI
    // `curate-pipeline` path): stages may only shrink the corpus, the
    // per-source token budget must hold, and the ledger counts must
    // agree with the shipped output — the operational artifact a
    // curation run produces, rehearsed at 10×.
    val cu0 = System.nanoTime()
    val cuBench = docs
      .filter(graft.functions.TextFunctions.hashSplit(col("doc_id")) === "valid")
      .select("doc_id", "text")
    // maxDocFreq raised from the gate default 100: the df cap is
    // corpus-scale-tuned, and at 10× every gram's doc frequency grows
    // 10× — the sf-gate cap drops the bulk vocabulary and the capped
    // Jaccard misses most planted families (the check-1 lesson,
    // measured: 48495 survivors at cap 100 vs 5350 at cap 1000 on a
    // 90%-near-dup corpus). A production run sizes the cap to the
    // corpus like it sizes shuffle partitions.
    val (cuOut, cuLedger) = graft.ops.Curation.withLedger(
      docs.select("doc_id", "text", "source", "lang"), cuBench,
      graft.ops.Curation.Config(maxDocFreq = 1000L))
    val cuCounts = cuLedger.map(s => s.stage -> s.rows).toMap
    val cuSec = (System.nanoTime() - cu0) / 1e9
    assert(cuCounts("input") == 50000L, cuCounts.toString)
    assert(cuCounts("dedup_survivors") <= cuCounts("input") &&
      cuCounts("quality_gated") <= cuCounts("dedup_survivors") &&
      cuCounts("decontaminated") <= cuCounts("quality_gated") &&
      cuCounts("token_budgeted") <= cuCounts("decontaminated"),
      s"curation ledger not monotone: $cuCounts")
    // the 10× corpus is 90% near-dups by construction — dedup must bite
    assert(cuCounts("dedup_survivors") <= cuCounts("input") / 5,
      s"near-dup stage barely deduped a 10-copy corpus: $cuCounts")
    assert(cuCounts("token_budgeted") > 0, cuCounts.toString)
    val cuBySource = cuOut.groupBy("source")
      .agg(sum(col("n_tokens")).as("t")).collect()
    cuBySource.foreach(r =>
      assert(r.getLong(1) <= 10000L, s"source ${r.getString(0)} over budget"))
    assert(cuCounts("final_tokens") == cuBySource.map(_.getLong(1)).sum,
      "ledger token total != shipped corpus tokens")
    checks += ("curation pipeline + ledger at 50k docs (CLI curate-pipeline path)" ->
      (f"${cuCounts("input")}%d -> ${cuCounts("dedup_survivors")}%d -> " +
        f"${cuCounts("quality_gated")}%d -> ${cuCounts("decontaminated")}%d -> " +
        f"${cuCounts("token_budgeted")}%d rows (${cuCounts("final_tokens")}%d tokens), " +
        f"budget held, $cuSec%.1f s"))

    // 15. Incremental image near-dup through the persisted signature
    // store at 800 images: originals signed once into the store,
    // twins ARRIVE IN TWO WAVES (the SigStream foreachBatch body,
    // line for line: link-cross → pair-within → append), and the
    // union of emitted pairs must equal the twin-involving subset of
    // check 13's brute-force truth — the incremental path must not
    // lose recall as the store grows between batches.
    val ss0 = System.nanoTime()
    val sigDf = imSigs.toSeq.toDF("name", "sig")
    val sigStorePath = s"$workDir/img_sig_store"
    val sigTable = graft.dedup.SigBandStore.createAt(spark,
      sigDf.filter(!col("name").endsWith("_twin")), "name", "sig",
      sigStorePath, sigBits = 64, bands = 4, buckets = 32)
    def sigWave(waveSigs: DataFrame): Set[(String, String, Long)] = {
      val sigs = waveSigs.localCheckpoint(false)
      val cross = graft.dedup.SigBandStore.linkNew(spark, sigTable, sigs,
          "name", "sig", maxDist = 6, sigBits = 64, bands = 4)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
        .filter(col("id_a") =!= col("id_b"))
      val within = Dedup.bandedHammingPairs(sigs, "name", "sig",
        sigBits = 64, bands = 4, maxDist = 6)
      val out = cross.unionByName(within).distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      graft.dedup.SigBandStore.append(spark, sigTable, sigs, "name", "sig",
        sigBits = 64, bands = 4, buckets = 32)
      out
    }
    val twinSigs = sigDf.filter(col("name").endsWith("_twin"))
      .withColumn("famIdx", substring(col("name"), 5, 4).cast("int"))
    val streamedPairs =
      sigWave(twinSigs.filter(col("famIdx") % 2 === 0).drop("famIdx")) ++
        sigWave(twinSigs.filter(col("famIdx") % 2 === 1).drop("famIdx"))
    val wantTwin = imWant.filter { case (a, b, _) =>
      a.endsWith("_twin") || b.endsWith("_twin") }
    assert(streamedPairs == wantTwin,
      s"incremental sig-store pairs diverged from batch truth: " +
        s"${streamedPairs.size} vs ${wantTwin.size}")
    assert(wantTwin.size >= 250, s"twin truth too small: ${wantTwin.size}")
    val ssSec = (System.nanoTime() - ss0) / 1e9
    checks += ("incremental image near-dup (SigBandStore, twins in 2 waves) == batch truth" ->
      f"${streamedPairs.size}%d pairs identical over 800 images, $ssSec%.1f s")

    // 16. Banded split-leakage audit at 10×: the q118 path (banded
    // candidates + exact verifier + split labels) must place every
    // planted true pair in the right leakage cell. Reuses check 1's
    // planted truth and its 64/16 banding (the 10×-sized params the
    // banding report exists to choose); the label join must conserve
    // the pair count exactly.
    val sl0 = System.nanoTime()
    val splits10 = docs.select(col("doc_id"),
      graft.functions.TextFunctions.hashSplit(col("doc_id")).as("split"))
    val leakMatrix = Dedup.splitLeakage(docs, "doc_id", "text", splits10,
        numHashes = 64, bands = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val splitOf = splits10.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val plantedMatrix = truth.toSeq
      .map { case (a, b) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        (if (sa <= sb) (sa, sb) else (sb, sa)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    plantedMatrix.foreach { case (cell, n) =>
      assert(leakMatrix.getOrElse(cell, 0L) >= n,
        s"banded leakage lost planted pairs in $cell: ${leakMatrix.get(cell)} < $n") }
    assert(leakMatrix.values.sum == banded.size,
      s"label join dropped pairs: ${leakMatrix.values.sum} != ${banded.size}")
    val slSec = (System.nanoTime() - sl0) / 1e9
    checks += ("banded split-leakage audit covers every planted pair's cell at 10x" ->
      (f"${leakMatrix.values.sum}%d labeled pairs == banded pair count, " +
        f"planted matrix covered, $slSec%.1f s"))

    // 17. KLL-guided exact quantiles at 10×: the sketch+confirm
    // selection over 20k embedding norms must return the exact
    // rank-⌈q·N⌉ elements (driver sort is affordable here and IS the
    // definition).
    val kq0 = System.nanoTime()
    import graft.functions.VectorFunctions.{dot => vdot}
    val norms10 = Tables.embeddings(spark, workDir)
      .select(col("embedding").cast("array<double>").as("vd"))
      .select(round(sqrt(vdot(col("vd"), col("vd"))), 6).as("norm"))
    val kllGot = graft.ops.Quantiles.exactQuantiles(
        norms10, "norm", Seq(0.25, 0.5, 0.75, 0.95))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sortedNorms = norms10.collect().map(_.getDouble(0)).sorted
    val kllWant = Seq(0.25, 0.5, 0.75, 0.95).map { q =>
      q -> sortedNorms((math.ceil(q * sortedNorms.length).toLong - 1L).toInt)
    }.toMap
    assert(kllGot == kllWant, s"KLL quantiles diverged at 10x: $kllGot vs $kllWant")
    val kqSec = (System.nanoTime() - kq0) / 1e9
    checks += ("KLL sketch+confirm quantiles == exact rank elements over 20k norms" ->
      f"4 quantiles exact, $kqSec%.1f s")

    // 18. HLL vocabulary sketch at 10×: per-language estimate within
    // the 3σ envelope of the exact distinct count (p=12 → σ≈1.6%),
    // and the q128 snapshot diff conserves documents (every `now` doc
    // is added|changed|unchanged, every `prev` doc is
    // removed|changed|unchanged).
    val hd0 = System.nanoTime()
    val hllRows = SparkEntry.queries("q130_vocab_hll")(spark, workDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(hllRows.nonEmpty, "vocab_hll returned no languages at 10x")
    hllRows.foreach { case (lang, nExact, relErr) =>
      assert(relErr < 0.05, f"HLL rel_error $relErr%.4f breached 5%% on $lang (n=$nExact)")
    }
    val docs10 = Tables.documents(spark, workDir)
    val prevN = docs10.filter(col("doc_id") % 7 =!= 3).count()
    val nowN = docs10.filter(col("doc_id") % 5 =!= 0).count()
    val diffAgg = SparkEntry.queries("q128_corpus_diff")(spark, workDir)
      .agg(sum("n_added"), sum("n_removed"), sum("n_changed"), sum("n_unchanged"))
      .head()
    assert(diffAgg.getLong(0) + diffAgg.getLong(2) + diffAgg.getLong(3) == nowN,
      s"corpus diff lost `now` docs: $diffAgg vs $nowN")
    assert(diffAgg.getLong(1) + diffAgg.getLong(2) + diffAgg.getLong(3) == prevN,
      s"corpus diff lost `prev` docs: $diffAgg vs $prevN")
    val hdSec = (System.nanoTime() - hd0) / 1e9
    checks += ("HLL vocab estimate within 3σ per language; corpus diff conserves both snapshots" ->
      (f"${hllRows.length} languages < 5%% rel error, " +
        f"$nowN now-docs and $prevN prev-docs both conserved, $hdSec%.1f s"))

    // 19. Incremental AUDIO near-dup through the persisted signature
    // store at 300 clips (closes the r11 audio half of the stretch):
    // synthesized canonical WAVs — 150 LCG-sample originals + one
    // single-window-boosted twin each — signed by the REAL
    // energyHash64 decode, originals persisted once, twins arriving
    // in two waves (the SigStream body: link-cross → pair-within →
    // append); the union of emitted pairs must equal the
    // twin-involving subset of the brute-force signature truth.
    val au0 = System.nanoTime()
    def wavBytes(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII")); bb.put("fmt ".getBytes("US-ASCII"))
      bb.putInt(16); bb.putShort(1); bb.putShort(1) // canonical PCM, mono
      bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      samples.foreach(bb.putShort); bb.array()
    }
    val audioCorpus = (0 until 150).flatMap { i =>
      var x = i * 104729L + 13
      def nextS(): Short = {
        x = 6364136223846793005L * x + 1442695040888963407L
        ((x >>> 40) % 12000).toShort
      }
      val base = Array.fill(1024)(nextS())
      val twin = base.clone()
      // boost ONE 16-sample window to 9000 (clip mean ~6000): that
      // window's energy bit goes hot while the clip mean drifts by
      // only ~47, so most twins stay within hamming 6 — the truth is
      // the brute force over the actual signatures either way
      val w = i % 64
      var j = w * 16; while (j < (w + 1) * 16) { twin(j) = 9000; j += 1 }
      Seq((f"clip_$i%04d.wav", wavBytes(base)),
        (f"clip_$i%04d_twin.wav", wavBytes(twin)))
    }
    val auSigs = graft.multimodal.AudioOps.energyHash64(
      spark, audioCorpus.toDF("path", "content")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val auWant = (for {
      (na, sa) <- auSigs; (nb, sb) <- auSigs if na < nb
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (na, nb, d.toLong)).toSet
    val auTwinWant = auWant.filter { case (a, b, _) =>
      a.endsWith("_twin.wav") || b.endsWith("_twin.wav") }
    assert(auTwinWant.size >= 100,
      s"audio twin corpus should be near-dup heavy: ${auTwinWant.size}")
    val auDf = auSigs.toSeq.toDF("name", "sig")
    val auTable = graft.dedup.SigBandStore.createAt(spark,
      auDf.filter(!col("name").endsWith("_twin.wav")), "name", "sig",
      s"$workDir/audio_sig_store", sigBits = 64, bands = 4, buckets = 32)
    def auWave(waveSigs: DataFrame): Set[(String, String, Long)] = {
      val sigs = waveSigs.localCheckpoint(false)
      val cross = graft.dedup.SigBandStore.linkNew(spark, auTable, sigs,
          "name", "sig", maxDist = 6, sigBits = 64, bands = 4)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
        .filter(col("id_a") =!= col("id_b"))
      val within = Dedup.bandedHammingPairs(sigs, "name", "sig",
        sigBits = 64, bands = 4, maxDist = 6)
      val out = cross.unionByName(within).distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      graft.dedup.SigBandStore.append(spark, auTable, sigs, "name", "sig",
        sigBits = 64, bands = 4, buckets = 32)
      out
    }
    val auTwinSigs = auDf.filter(col("name").endsWith("_twin.wav"))
      .withColumn("famIdx", substring(col("name"), 6, 4).cast("int"))
    val auStreamed =
      auWave(auTwinSigs.filter(col("famIdx") % 2 === 0).drop("famIdx")) ++
        auWave(auTwinSigs.filter(col("famIdx") % 2 === 1).drop("famIdx"))
    assert(auStreamed == auTwinWant,
      s"incremental audio sig-store pairs diverged from batch truth: " +
        s"${auStreamed.size} vs ${auTwinWant.size}")
    val auSec = (System.nanoTime() - au0) / 1e9
    checks += ("incremental audio near-dup (SigBandStore, twins in 2 waves) == batch truth" ->
      f"${auStreamed.size}%d pairs identical over 300 synthesized WAVs (real decode), $auSec%.1f s")

    // 20. Incremental VIDEO frame near-dup through the persisted
    // signature store (the r11 stretch's video half): 60 synthesized
    // canonical 24bpp DIB AVIs (8 LCG frames each) + one twin video
    // per original (every frame 3-cell-brightened, the check-13
    // image construction), frames signed by the REAL container walk
    // + DIB decode (frameAHash), original videos' frames persisted
    // once, twin videos arriving in two waves.
    val vi0 = System.nanoTime()
    def putLE32(b: Array[Byte], off: Int, v: Long): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def aviBytes(frames: Seq[Array[Int]], w: Int, h: Int): Array[Byte] = {
      val rowBytes = ((w * 3 + 3) / 4) * 4
      val avih = new Array[Byte](56)
      putLE32(avih, 0, 33333L)            // us_per_frame
      putLE32(avih, 16, frames.length.toLong)
      putLE32(avih, 32, w.toLong); putLE32(avih, 36, h.toLong)
      val frameChunks = frames.map { px =>
        val payload = new Array[Byte](rowBytes * h)
        var y = 0
        while (y < h) {
          var xx = 0
          while (xx < w) {
            val d = (h - 1 - y) * rowBytes + xx * 3 // bottom-up BGR
            val s = (y * w + xx) * 3
            payload(d) = px(s + 2).toByte
            payload(d + 1) = px(s + 1).toByte
            payload(d + 2) = px(s).toByte
            xx += 1
          }
          y += 1
        }
        payload
      }
      val chunks = ("avih", avih) +: frameChunks.map(("00db", _))
      val totalLen = 12 + chunks.map(c => 8 + c._2.length + (c._2.length & 1)).sum
      val bb = java.nio.ByteBuffer.allocate(totalLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(totalLen - 8)
      bb.put("AVI ".getBytes("US-ASCII"))
      chunks.foreach { case (cc, p) =>
        bb.put(cc.getBytes("US-ASCII")); bb.putInt(p.length); bb.put(p)
        if ((p.length & 1) == 1) bb.put(0.toByte)
      }
      bb.array()
    }
    def vidPixels(seed: Long): Array[Int] = {
      var x = seed
      Array.fill(16 * 16 * 3) {
        x = 6364136223846793005L * x + 1442695040888963407L
        ((x >>> 33) & 0xff).toInt
      }
    }
    val videoCorpus = (0 until 60).flatMap { v =>
      val baseFrames = (0 until 8).map(f => vidPixels(v * 7919L + f * 101L + 5))
      val twinFrames = baseFrames.zipWithIndex.map { case (px, f) =>
        val t = px.clone()
        var c = 0
        while (c < 3) { // the check-13 twin construction, per frame
          val cell = ((v + f + c * 83) % 64)
          val sy = (cell / 8) * 2; val sx = (cell % 8) * 2
          val p = (sy * 16 + sx) * 3
          t(p) = 255; t(p + 1) = 255; t(p + 2) = 255
          c += 1
        }
        t
      }
      Seq((f"vid_$v%04d.avi", aviBytes(baseFrames, 16, 16)),
        (f"vid_$v%04d_twin.avi", aviBytes(twinFrames, 16, 16)))
    }
    val viBins = videoCorpus.toDF("path", "content").localCheckpoint(false)
    val viSigs = graft.multimodal.VideoOps.frameAHash(spark, viBins).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val viWant = (for {
      (na, sa) <- viSigs; (nb, sb) <- viSigs if na < nb
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (na, nb, d.toLong)).toSet
    val viTwinWant = viWant.filter { case (a, b, _) =>
      a.contains("_twin.avi") || b.contains("_twin.avi") }
    assert(viTwinWant.size >= 250,
      s"video twin corpus should be frame-near-dup heavy: ${viTwinWant.size}")
    val viTable = graft.dedup.SigBandStore.createAt(spark,
      graft.multimodal.VideoOps.frameAHash(spark,
        viBins.filter(!col("path").contains("_twin.avi"))),
      "name", "sig", s"$workDir/video_sig_store",
      sigBits = 64, bands = 4, buckets = 32)
    def viWave(waveBins: DataFrame): Set[(String, String, Long)] = {
      val sigs = graft.multimodal.VideoOps.frameAHash(spark, waveBins)
        .localCheckpoint(false)
      val cross = graft.dedup.SigBandStore.linkNew(spark, viTable, sigs,
          "name", "sig", maxDist = 6, sigBits = 64, bands = 4)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
        .filter(col("id_a") =!= col("id_b"))
      val within = Dedup.bandedHammingPairs(sigs, "name", "sig",
        sigBits = 64, bands = 4, maxDist = 6)
      val out = cross.unionByName(within).distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      graft.dedup.SigBandStore.append(spark, viTable, sigs, "name", "sig",
        sigBits = 64, bands = 4, buckets = 32)
      out
    }
    val viTwinBins = viBins.filter(col("path").contains("_twin.avi"))
      .withColumn("famIdx", substring(col("path"), 5, 4).cast("int"))
    val viStreamed =
      viWave(viTwinBins.filter(col("famIdx") % 2 === 0).drop("famIdx")) ++
        viWave(viTwinBins.filter(col("famIdx") % 2 === 1).drop("famIdx"))
    assert(viStreamed == viTwinWant,
      s"incremental video sig-store pairs diverged from batch truth: " +
        s"${viStreamed.size} vs ${viTwinWant.size}")
    val viSec = (System.nanoTime() - vi0) / 1e9
    checks += ("incremental video frame near-dup (SigBandStore, twin videos in 2 waves) == batch truth" ->
      (f"${viStreamed.size}%d pairs identical over 960 frames from 120 synthesized AVIs " +
        f"(real container walk + DIB decode), $viSec%.1f s"))

    // 21. BPE training cost curve at 10× (r11 task 5): bpeMerges is
    // one driver-scheduled argmax job per merge over the VOCAB table
    // (distinct whitespace tokens), fine at the gate's nMerges=5 —
    // this measures whether wall-clock per merge stays flat when the
    // loop count grows toward realistic vocab sizes. The curve is
    // recorded in SCALE.md; super-linear growth would trigger the
    // non-overlapping-merge batching rewrite.
    val bpTimes = Seq(16, 64, 256).map { nm =>
      val t0 = System.nanoTime()
      val ms = graft.ops.Quality.bpeMerges(docs, nm)
      val dt = (System.nanoTime() - t0) / 1e9
      assert(ms.nonEmpty && ms.size <= nm, s"bpeMerges returned ${ms.size} for $nm")
      (nm, ms.size, dt)
    }
    val bpPerMerge = bpTimes.map { case (nm, got, dt) => (nm, dt / math.max(got, 1)) }
    // flatness gate: per-merge cost at 256 within 3x of per-merge at
    // 16 — linear-in-merges overall, no super-linear blowup from the
    // chained vocab checkpoints
    assert(bpPerMerge.last._2 <= 3.0 * bpPerMerge.head._2,
      s"BPE per-merge cost grew super-linearly: $bpPerMerge")
    checks += ("BPE training cost is linear in nMerges at 10x (16/64/256 measured)" ->
      bpTimes.map { case (nm, got, dt) =>
        f"$nm asked/$got%d trained ${dt}%.1f s (${dt / got}%.3f s/merge)" }.mkString("; "))

    // 22. Composed streaming rehearsal at 10× (r11 stretch): ONE
    // landing directory, the curation stream plus the frozen-store
    // monitors (tok fertility, LM KL/OOV drift, PSI over n_chars,
    // HLL vocab growth, lang-mix, CMS heavy-hitter surge) all tailing
    // the SAME feed in three increasing-id waves; every ledger must
    // reconcile with the corresponding batch operator run on the same
    // waves.
    val cs0 = System.nanoTime()
    val csDir = s"$workDir/composed_stream"
    // Clean slate: the landing feed (append-mode) and the stream
    // checkpoints ACCUMULATE across runs of a reused workDir. The
    // coupling is silent for streams whose checkpoints also persist
    // (prior files are marked processed, and the deterministic corpus
    // makes the stale ledger rows value-identical), but any stream
    // added with a FRESH checkpoint receives every prior run's
    // leftover files as its batch 0 — exactly how the CMS ledger
    // first diverged here.
    val csPath = new org.apache.hadoop.fs.Path(csDir)
    csPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(csPath, true)
    val csRef = docs.filter(col("doc_id") % 4 === 0)
      .localCheckpoint(false) // stores frozen on this slice
    val csArr = docs.filter(col("doc_id") % 4 =!= 0)
    val csBench = docs
      .filter(graft.functions.TextFunctions.hashSplit(col("doc_id")) === "valid")
      .select("doc_id", "text").localCheckpoint(false)
    graft.dedup.FingerprintStore.createAt(spark, docs.limit(0), "doc_id", "text",
      s"$csDir/fp", buckets = 32)
    graft.ops.TokStore.createAt(spark, csRef, s"$csDir/tok", nMerges = 5)
    graft.ops.LmStore.createAt(spark, csRef, s"$csDir/lm")
    graft.ops.PsiStore.createAt(spark,
      csRef.select(col("doc_id"), col("n_chars")), "n_chars", s"$csDir/psi")
    graft.ops.HllStore.createAt(spark, csRef, s"$csDir/hll")
    graft.ops.HllStore.createAt(spark, csRef, s"$csDir/hll_twin") // replay twin
    graft.ops.LangIdStore.createAt(spark, csRef, s"$csDir/lid", topM = 64)
    graft.ops.CmsStore.createAt(spark, csRef, s"$csDir/cms")
    val (loId, hiId) = {
      val r = csArr.agg(min("doc_id"), max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val csCut1 = loId + (hiId - loId) / 3
    val csCut2 = loId + 2 * (hiId - loId) / 3
    val waves = Seq(
      csArr.filter(col("doc_id") <= csCut1),
      csArr.filter(col("doc_id") > csCut1 && col("doc_id") <= csCut2),
      csArr.filter(col("doc_id") > csCut2)).map(_.localCheckpoint(false))
    val csSchema = org.apache.spark.sql.types.StructType(
      graft.streaming.StreamCurate.docSchema.fields :+
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType))
    waves.foreach { w =>
      w.select("doc_id", "text", "source", "lang", "n_chars")
        .write.mode("append").parquet(s"$csDir/landing")
      def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
        try q.processAllAvailable() finally q.stop()
      run(graft.streaming.StreamCurate.maintain(spark, s"$csDir/landing",
        s"$csDir/fp", csBench, s"$csDir/curated", s"$csDir/ck_cur"))
      run(graft.streaming.TokStream.maintain(spark, s"$csDir/landing",
        s"$csDir/tok", s"$csDir/led_tok", s"$csDir/ck_tok", csSchema))
      run(graft.streaming.StreamDrift.maintain(spark, s"$csDir/landing",
        s"$csDir/lm", s"$csDir/led_lm", s"$csDir/ck_lm", csSchema, "source"))
      run(graft.streaming.PsiStream.maintain(spark, s"$csDir/landing",
        s"$csDir/psi", s"$csDir/led_psi", s"$csDir/ck_psi", csSchema, "n_chars"))
      run(graft.streaming.HllStream.maintain(spark, s"$csDir/landing",
        s"$csDir/hll", s"$csDir/led_hll", s"$csDir/ck_hll", csSchema))
      run(graft.streaming.LangIdStream.maintain(spark, s"$csDir/landing",
        s"$csDir/lid", s"$csDir/led_lid", s"$csDir/ck_lid", csSchema))
      run(graft.streaming.CmsStream.maintain(spark, s"$csDir/landing",
        s"$csDir/cms", s"$csDir/led_cms", s"$csDir/ck_cms", csSchema))
    }
    def rowSet(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
    // (a) curation: streamed first-arrival-wins over increasing-id
    // waves == batch per-doc gates + decontam + min-id exact keeper
    // over the union
    val csU = waves.reduce(_ unionByName _)
    val csGated = csU.filter(col("text").isNotNull)
      .withColumn("quality", graft.functions.TextFunctions.qualityScore(col("text")))
      .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .filter(col("quality") >= 0.5 && col("n_tokens").between(5, 1000))
    val csClean = graft.streaming.StreamDecontam.sharedGramCount(
        csGated, csBench, "text", n = 5)
      .filter(col("shared_grams") === 0L).drop("shared_grams")
      .localCheckpoint(false)
    val csKeep = Dedup.exact(csClean, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val wantCurated = csClean.join(csKeep, Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotCurated = spark.read.parquet(s"$csDir/curated/corpus")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(gotCurated == wantCurated,
      s"composed curate stream diverged: ${gotCurated.size} vs ${wantCurated.size}")
    // (b) per-wave monitor ledgers == the batch operators on that wave
    waves.zipWithIndex.foreach { case (w, i) =>
      val tokLed = spark.read.parquet(s"$csDir/led_tok")
        .filter(col("batch").cast("long") === i).drop("batch")
      assert(rowSet(tokLed) ==
        rowSet(graft.ops.TokStore.fertilityDrift(spark, s"$csDir/tok", w)),
        s"tok ledger batch $i diverged")
      val lmLed = spark.read.parquet(s"$csDir/led_lm")
        .filter(col("batch").cast("long") === i).drop("batch")
      assert(rowSet(lmLed) ==
        rowSet(graft.streaming.StreamDrift.batchDrift(spark, s"$csDir/lm", w, "source")),
        s"lm ledger batch $i diverged")
      assert(rowSet(spark.read.parquet(s"$csDir/led_psi/batch=$i")) ==
        rowSet(graft.ops.PsiStore.psi(spark, s"$csDir/psi", w, "n_chars")),
        s"psi ledger batch $i diverged")
      val lidLed = spark.read.parquet(s"$csDir/led_lid")
        .filter(col("batch").cast("long") === i).drop("batch")
      assert(rowSet(lidLed) ==
        rowSet(graft.ops.LangIdStore.mixDrift(spark, s"$csDir/lid", w)),
        s"langid ledger batch $i diverged")
      // HLL: replay against the twin store — growth per batch, then fold
      assert(rowSet(spark.read.parquet(s"$csDir/led_hll/batch=$i")) ==
        rowSet(graft.ops.HllStore.growth(spark, s"$csDir/hll_twin", w)),
        s"hll ledger batch $i diverged")
      graft.ops.HllStore.ingest(spark, s"$csDir/hll_twin", w)
      // CMS: the surge monitor is read-only over the frozen counters,
      // so the per-wave ledger must equal the batch operator directly
      assert(rowSet(spark.read.parquet(s"$csDir/led_cms/batch=$i")) ==
        rowSet(graft.ops.CmsStore.surge(spark, s"$csDir/cms", w, k = 20)),
        s"cms ledger batch $i diverged")
    }
    // (c) the maintained HLL store absorbed every wave: zero growth
    // on the union, and twin == maintained register-for-register
    val csFinal = graft.ops.HllStore.growth(spark, s"$csDir/hll", csU)
      .agg(sum(abs(col("est_growth")))).head().getDouble(0)
    assert(csFinal == 0.0, s"maintained HLL store missed arrivals: growth $csFinal")
    val csSec = (System.nanoTime() - cs0) / 1e9
    checks += ("composed streaming rehearsal: 7 streams on one landing feed, all ledgers == batch operators" ->
      (f"3 waves x ${csArr.count()}%d arrivals: curate ${gotCurated.size}%d accepted == batch union, " +
        f"tok/lm/psi/langid/cms ledgers row-equal per wave, HLL replay row-equal + zero residual growth, $csSec%.1f s"))

    // 23. Composed MAINTENANCE rehearsal at 10× (r13 task 4): the
    // index/pack maintainers — [[graft.streaming.PostingStream]] and
    // [[graft.streaming.PackStream]] tailing ONE shared document
    // landing feed, [[graft.streaming.AnnIndexStream]] tailing the
    // embedding feed, [[graft.streaming.ImageSigStream]] tailing a
    // blob feed — driven in the same increasing-id waves as check 22,
    // with per-wave store == batch-operator equality. Composition is
    // where checkpoint/offset interactions bite (the check-22
    // lesson); the run-start freshWorkDir guard gives every feed and
    // checkpoint here a clean slate by construction.
    val cm0 = System.nanoTime()
    val cmDir = s"$workDir/composed_maint"
    def runQ(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      try q.processAllAvailable() finally q.stop()

    // (a)+(b) one landing feed, two maintainers. The posting store is
    // seeded with the reference split (the corpus-release build);
    // waves of NEW doc_ids append through the ledger maintainer while
    // the pack maintainer chunks and pack-assigns the same drops with
    // the token cumsum continuing across batches.
    val cmRef = docs.filter(col("doc_id") % 4 === 0)
    graft.ops.PostingStore.create(cmRef.select("doc_id", "text"), s"$cmDir/posting")
    val cmQueries = docs.filter(col("doc_id") % 2500 === 0)
      .select(col("doc_id").as("q_id"), col("text")).localCheckpoint(false)
    val pkCols = Seq("doc_id", "chunk_seq", "n_tokens", "pack_id", "pack_offset")
    var cmSoFar = cmRef.select("doc_id", "text")
    var cmWavesSoFar: Option[DataFrame] = None
    waves.zipWithIndex.foreach { case (w, i) =>
      w.select("doc_id", "text").write.mode("append").parquet(s"$cmDir/landing")
      runQ(graft.streaming.PostingStream.maintain(spark, s"$cmDir/landing",
        s"$cmDir/posting", s"$cmDir/ck_post"))
      runQ(graft.streaming.PackStream.maintain(spark, s"$cmDir/landing",
        s"$cmDir/pack", s"$cmDir/ck_pack"))
      cmSoFar = cmSoFar.unionByName(w.select("doc_id", "text")).localCheckpoint(false)
      cmWavesSoFar = Some(cmWavesSoFar
        .map(_.unionByName(w.select("doc_id", "text"))).getOrElse(w.select("doc_id", "text"))
        .localCheckpoint(false))
      // posting ledger after wave i == in-memory BM25 over ref ∪ arrivals
      assert(rowSet(graft.ops.PostingStore.retrieve(
          spark, s"$cmDir/posting", cmQueries, k = 10)) ==
        rowSet(graft.ops.Retrieval.bm25TopK(cmSoFar, cmQueries, k = 10)),
        s"posting maintainer diverged from batch BM25 after wave $i")
      // pack offset chain: the next batch's start == total chunk
      // tokens landed so far (the exactly-once offset ledger)
      assert(graft.streaming.PackStream.startOffsetFor(
          spark, s"$cmDir/pack", (i + 1).toLong) ==
        graft.ops.Packing.chunk(cmWavesSoFar.get)
          .agg(sum("n_tokens")).head().getLong(0),
        s"pack offset chain broke after wave $i")
    }
    // key-ordered waves => streamed pack assignment == the batch q63
    // prefix sum over the union, row for row
    assert(rowSet(graft.streaming.PackStream.packed(spark, s"$cmDir/pack")
        .select(pkCols.head, pkCols.tail: _*)) ==
      rowSet(graft.ops.Packing.assign(
          graft.ops.Packing.chunk(cmWavesSoFar.get), 512L, 0L)
        .select(pkCols.head, pkCols.tail: _*)),
      "3-wave streamed pack != batch assignment on the union")

    // (c) IVF index maintainer on the embedding feed: the quantizer is
    // frozen at the reference build; three waves of arrivals append
    // through the maintainer; the store must equal the frozen-kernel
    // batch assignment after every wave, and the probe must equal a
    // one-shot batch-append twin at the end.
    val annRef = emb10.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding").localCheckpoint(false)
    val annArr = emb10.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding")
    graft.similarity.Similarity.writeIvfIndex(annRef, "vec_id", "embedding",
      dim = 64, nlist = 16, path = s"$cmDir/ivf")
    graft.similarity.Similarity.writeIvfIndex(annRef, "vec_id", "embedding",
      dim = 64, nlist = 16, path = s"$cmDir/ivf_twin")
    val annMeta = graft.similarity.Similarity.readIvfIndexMeta(spark, s"$cmDir/ivf")
    val (aLo, aHi) = {
      val r = annArr.agg(min("vec_id"), max("vec_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (aCut1, aCut2) = (aLo + (aHi - aLo) / 3, aLo + 2 * (aHi - aLo) / 3)
    val annWaves = Seq(
      annArr.filter(col("vec_id") <= aCut1),
      annArr.filter(col("vec_id") > aCut1 && col("vec_id") <= aCut2),
      annArr.filter(col("vec_id") > aCut2)).map(_.localCheckpoint(false))
    var annSoFar: Option[DataFrame] = None
    annWaves.zipWithIndex.foreach { case (w, i) =>
      w.write.mode("append").parquet(s"$cmDir/landing_emb")
      runQ(graft.streaming.AnnIndexStream.maintain(spark, s"$cmDir/landing_emb",
        s"$cmDir/ivf", s"$cmDir/ck_ann"))
      annSoFar = Some(annSoFar.map(_.unionByName(w)).getOrElse(w))
      val expect = rowSet(
        graft.streaming.AnnIndexStream.assigned(annRef.unionByName(annSoFar.get), annMeta)
          .select("vec_id", "cell"))
      assert(rowSet(spark.read.parquet(s"$cmDir/ivf/vectors")
          .select("vec_id", "cell")) == expect,
        s"IVF maintainer store diverged from frozen-kernel assignment after wave $i")
    }
    graft.streaming.AnnIndexStream.assigned(annArr,
        graft.similarity.Similarity.readIvfIndexMeta(spark, s"$cmDir/ivf_twin"))
      .write.mode("append").partitionBy("cell").parquet(s"$cmDir/ivf_twin/vectors")
    val annQ = emb10.filter(col("vec_id") % 2000 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    assert(rowSet(graft.similarity.Similarity.ivfTopKIndexed(spark, s"$cmDir/ivf", annQ,
        "q_id", "q_vec", k = 5, nprobe = 4)) ==
      rowSet(graft.similarity.Similarity.ivfTopKIndexed(spark, s"$cmDir/ivf_twin", annQ,
        "q_id", "q_vec", k = 5, nprobe = 4)),
      "3-wave streamed IVF probe != one-shot batch-append twin")

    // (d) image signature maintainer on a blob feed: originals seed
    // the store (check 15's corpus), twins land as PPM FILES in two
    // waves through the REAL ImageSigStream maintainer (decode → sign
    // → link-cross → pair-within → append, with checkpoints); the
    // emitted-pairs ledger must equal the brute-force truth restricted
    // to the twins seen so far, per wave.
    graft.dedup.SigBandStore.createAt(spark,
      imSigs.toSeq.toDF("name", "sig").filter(!col("name").endsWith("_twin")),
      "name", "sig", s"$cmDir/img_store", sigBits = 64, bands = 4, buckets = 32)
    val cmTwins = imgCorpus.collect().filter(_.name.endsWith("_twin"))
    def famIdx(n: String): Int = n.substring(4, 8).toInt
    val imgLanding = java.nio.file.Paths.get(s"$cmDir/landing_img")
    java.nio.file.Files.createDirectories(imgLanding)
    var seenPars = Set.empty[Int]
    var lastImgPairs = 0
    Seq(0, 1).foreach { par =>
      cmTwins.filter(t => famIdx(t.name) % 2 == par).foreach { t =>
        // files named WITHOUT an extension so streamed pair ids match
        // the batch truth's names exactly
        java.nio.file.Files.write(imgLanding.resolve(t.name),
          (s"P3\n${t.width} ${t.height}\n255\n" + t.pixels.mkString(" ") + "\n")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
      runQ(graft.streaming.ImageSigStream.maintain(spark, imgLanding.toString,
        s"$cmDir/img_store", s"$cmDir/img_pairs", s"$cmDir/ck_img", maxHamming = 6))
      seenPars += par
      val want = wantTwin.filter { case (a, b, _) =>
        Seq(a, b).forall(n => !n.endsWith("_twin") || seenPars.contains(famIdx(n) % 2)) }
      val got = spark.read.parquet(s"$cmDir/img_pairs")
        .select(col("img_a"), col("img_b"), col("hamming")).distinct()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want,
        s"image sig maintainer pairs diverged after wave $par: ${got.size} vs ${want.size}")
      lastImgPairs = got.size
    }
    val cmSec = (System.nanoTime() - cm0) / 1e9
    checks += ("composed maintenance rehearsal: posting+pack on ONE landing feed, IVF + image-sig maintainers, per-wave == batch" ->
      (f"posting retrieve == batch BM25 after each of 3 waves, pack cumsum chained + final == batch q63, " +
        f"IVF store frozen-kernel-equal per wave + probe == batch-append twin, " +
        f"$lastImgPairs%d streamed sig pairs == batch truth, $cmSec%.1f s"))

    // 24. BandStore retune fires under PLANTED skew (r13 task 6):
    // `retuneIfSkewed` + the persisted cap are spec-verified, but no
    // 10× check had planted a hot-bucket corpus and MEASURED the
    // retune engaging with before/after candidate volumes. Corpus:
    // 400 "normal" docs with fully distinct 12-token texts (their
    // band buckets are singletons) + 1,200 boilerplate docs sharing
    // one 200-token block with a 1-token unique tail — ~199 of each
    // boilerplate doc's 200 bigrams are shared, so nearly every band
    // minhash comes from the shared gram set and each of the 16 bands
    // funnels the whole family into ONE bucket (~1,000+ docs): the
    // exact skew shape boilerplate creates at corpus scale. The probe
    // is a twin batch of the NORMAL docs only (J = 10/12 vs their
    // original): its links ride singleton buckets, so the retune — a
    // rebuild under `cappedBucketSize` that DROPS over-full buckets
    // wholesale — must not cost it a single verified pair.
    val rt0 = System.nanoTime()
    val boiler = (1 to 200).map(j => s"boil$j").mkString(" ")
    val rtNormal = spark.range(400).select(
      (col("id") + 1000000L).as("doc_id"),
      concat_ws(" ", (0 until 12).map(t =>
        format_string(s"w${t}_%d", col("id"))): _*).as("text"))
    val rtBoiler = spark.range(1200).select(
      (col("id") + 2000000L).as("doc_id"),
      concat(lit(boiler), lit(" uniq"), col("id").cast("string")).as("text"))
    val rtRef = rtNormal.unionByName(rtBoiler).localCheckpoint(false)
    val rtTwins = spark.range(400).select(
      (col("id") + 1500000L).as("doc_id"),
      concat_ws(" ", ((0 until 11).map(t =>
        format_string(s"w${t}_%d", col("id"))) :+ lit("tw")): _*)
        .as("text")).localCheckpoint(false)
    val rtPath = s"$workDir/band_retune_store"
    val rtTable = graft.dedup.BandStore.createAt(spark, rtRef, "doc_id", "text",
      rtPath, n = 2, numHashes = 64, bands = 16, buckets = 32)
    def rtProbe(): Set[(Long, Long)] =
      graft.dedup.BandStore.linkNew(spark, rtTable, rtTwins, rtRef,
        "doc_id", "text", threshold = 0.8)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rtPairsPre = rtProbe()
    val rtDecision = graft.dedup.BandStore.retuneIfSkewed(spark, rtPath, rtRef,
      "doc_id", "text", maxCandPairsPerDoc = 50.0, cappedBucketSize = 8L)
    assert(rtDecision.retuned,
      s"retune did not fire on the planted hot-bucket corpus: $rtDecision")
    assert(rtDecision.maxBucket >= 1000,
      s"planted skew too mild to be a skew test: max bucket ${rtDecision.maxBucket}")
    // Post-rebuild measurement through the SAME instrument: a second
    // retuneIfSkewed must find the mass below threshold (convergence —
    // the rebuild actually cured what the first call measured) and is
    // contract-bound to leave the cured store untouched.
    val rtPost = graft.dedup.BandStore.retuneIfSkewed(spark, rtPath, rtRef,
      "doc_id", "text", maxCandPairsPerDoc = 50.0, cappedBucketSize = 8L)
    assert(!rtPost.retuned, s"retuned store still breaches the threshold: $rtPost")
    assert(rtPost.maxBucket <= 8L,
      s"capped rebuild left a bucket over the cap: ${rtPost.maxBucket}")
    val rtPairsPost = rtProbe()
    assert(rtPairsPre == rtPairsPost,
      s"retune cost the normal-twin probe verified pairs: " +
        s"${rtPairsPre.size} pre vs ${rtPairsPost.size} post")
    assert(rtPairsPre.size >= 390 &&
      rtPairsPre.forall { case (a, b) => b - a == 500000L },
      s"twin probe off: ${rtPairsPre.size} pairs")
    val rtSec = (System.nanoTime() - rt0) / 1e9
    checks += ("BandStore retune fires under planted boilerplate skew; twin probe loses nothing" ->
      (f"cand mass ${rtDecision.candPairsPerDoc}%.0f -> ${rtPost.candPairsPerDoc}%.2f pairs/doc, " +
        f"max bucket ${rtDecision.maxBucket}%d -> ${rtPost.maxBucket}%d (cap 8), " +
        f"verified twin pairs ${rtPairsPre.size}%d == ${rtPairsPost.size}%d, $rtSec%.1f s"))

    val total = timings.map(_._2).sum
    val md = new StringBuilder
    md ++= "# SCALE — 10× rehearsal (sf1-equivalent text/vector/event surface)\n\n"
    md ++= s"Base: `$baseDir` ×$Copies duplicate-with-noise (generation ${f"$genSec%.1f"} s). "
    md ++= "Tables: documents 50k, embeddings 20k, events 1M rows. "
    md ++= s"Harness: ${spark.sparkContext.master}, ${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")} heap " +
      "(the rehearsal holds the 750M-cell pivot and the 50k-doc retrieval corpus in one " +
      "JVM — run with SPARK_DRIVER_MEM=48g; a cluster spreads this across executors), " +
      "noop sink, one shot per query (first-run codegen included).\n\n"
    md ++= "| query | seconds |\n|---|---|\n"
    timings.foreach { case (n, t) => md ++= f"| $n | $t%.2f |\n" }
    md ++= f"| **total** | **$total%.2f** |\n\n"
    md ++= "q23 exact all-pairs is excluded by design: 20k rows → 4·10⁸ exact pairs; "
    md ++= "its scale path is q26 (run above) and past 2^16 rows the unhatched guard refuses (SimilaritySpec).\n\n"
    md ++= "## Scale-behavior assertions (all enforced by this run)\n\n"
    checks.foreach { case (k, v) => md ++= s"- **$k**: $v\n" }
    md ++= """
## Reading the numbers

The 10× hotspots are exactly the operators whose work is proportional
to the TRUE pair count, which this corpus makes extreme by design
(every document has 9 planted near-copies): q26/q52/q56 pay per-bucket
self-joins over 10-member families and q19/q27 pay candidate
verification over ~250k real pairs. That cost is output-proportional —
not a plan degradation — and shrinks linearly with the dup rate; the
partition strategies (banding, bucket caps, pruned probes) held at 10×
with zero recall loss. The corpus-preparation passes (q61–q65) are
narrow or bounded-key aggregates and scale linearly; the packing
prefix sum's driver collect stays one row per shuffle partition at
any corpus size.

The pan-cancer pivot check dominates the rehearsal's wall clock by
design: it materializes every cell of the full-width reference matrix
(750M cells through 4 batched pivots + 3 full-outer merges) in ONE
JVM. Its pinned invariant is the exchange budget (3·batches−2), which
is what survives the move to a cluster — the per-stage work spreads
across executors there, the plan shape does not change.

Of the round-11 additions, q126 (and q124 inside it) was the
costliest until the native-kernel rewrite: classification is now a
ZERO-shuffle projection (CtDocProfile builds each document's top-64
gram profile row-locally, CtBestLang carries the trained table
broadcast inside the expression), so per-document cost is
O(profile·langs) integer ops with no exchange at any scale; the one
remaining corpus-sized aggregate is profile TRAINING's (lang, gram)
count. q123's cost is the five training argmaxes over the SNAPSHOT
split only; its monitoring path is the BpePieces kernel — a narrow
primitive-array walk per token. q125 is one sketch pass plus four
bracket-sized confirm jobs over the staged norms. q130's sketch is
one pass and 4 KiB per language; its exact column (the gate) is the
only part that shuffles distinct tokens, and it is precisely the
column a 100 TB run drops.
"""
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALE.md"),
      md.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scale] total ${f"$total%.2f"} s; SCALE.md written")
    spark.stop()
  }
}
