package graft

/** Physical-plan shape assertions — the 100-TB contract encoded as
  * tests. A query that silently regresses to a cartesian product, an
  * un-broadcast dimension join or an unpruned scan should fail CI,
  * not a cluster.
  */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q104: weighted sample keeps the WindowGroupLimit pushdown, one exchange") {
    // The operator's 100-TB contract (Sampling.weightedSample): group
    // cardinality is tiny (sources), so the rank filter MUST push a
    // per-partition group-limit below the exchange — the reducer sees
    // O(partitions x k) rows per group, never the group's full mass.
    val p = plan("q104_weighted_sample")
    assert(p.contains("WindowGroupLimit"), "q104 rank cut lost the group-limit pushdown")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 shuffle (the group window), got $shuffles")
  }

  test("q135: CMS surge probe — one batch count exchange, counters broadcast, " +
    "no self-join on the top-k") {
    // The monitoring contract (CmsStore.surge): the only corpus-sized
    // work is the batch token count (one hash exchange feeding the
    // TakeOrdered head); the counter lookup is a broadcast join over
    // a d*w-row table; n_batch rides through the estimate so the
    // count aggregate has exactly ONE consumer (no self-join, no
    // second batch pass).
    val p = plan("q135_hitter_surge")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-k lost the TakeOrdered head")
    assert(p.contains("BroadcastHashJoin"), "counter lookup stopped broadcasting")
    assert(!p.contains("SortMergeJoin"), "counter lookup must never sort-merge")
    val batchCounts = "Exchange hashpartitioning\\(tok".r.findAllIn(p).size
    assert(batchCounts == 1,
      s"expected exactly 1 token-count exchange (one batch pass), got $batchCounts:\n" +
        p.take(2000))
  }

  test("q105: cube report is one Expand + one exchange, never four jobs") {
    // cube's scale contract: each row expands into its 4 grouping
    // sets BEFORE the partial aggregate, so the whole multi-
    // granularity report costs one corpus pass and one shuffle of
    // (groups x 4) partial rows — not four separate aggregations.
    val p = plan("q105_corpus_cube")
    assert(p.contains("Expand"), "cube lost its Expand node")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles")
  }

  test("q106/q107: drift and MMR stay keyed — broadcast small sides, no cartesian") {
    // q106: the only nested-loop is the 1-row grand-total broadcast;
    // group totals and the vocab join are hash joins. q107: the
    // page-bounded hits join the embeddings by key; the sequential
    // greedy runs per-group AFTER the top-N cut, never corpus-wide.
    for (q <- Seq("q106_source_drift", "q107_mmr_rerank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
    val drift = plan("q106_source_drift")
    assert("BroadcastNestedLoopJoin".r.findAllIn(drift).length <= 1, drift.take(2000))
    assert(drift.contains("BroadcastHashJoin"), "q106 group totals stopped broadcasting")
    // q107's upstream page generation is q22's deliberate broadcast
    // scan (queries build side of a BNLJ); the MMR pass itself must
    // attach vectors by a hash join and group only the page.
    val mmr = plan("q107_mmr_rerank")
    assert(mmr.contains("BroadcastHashJoin"), "q107 vector attach stopped hash-joining")
    assert(mmr.contains("MapGroups"), "q107 greedy lost its per-group stage")
  }

  test("q108/q109: NB scoring stays token-keyed; cluster sample keeps the group limit") {
    // q108: the score join is keyed on the token (vocab is never
    // broadcast or collected); only the 1-row totals/prior ride
    // nested-loop broadcasts
    val nb = plan("q108_naive_bayes")
    assert(!nb.contains("CartesianProduct"), nb.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(nb).length <= 2,
      "q108 grew a non-1-row nested loop:\n" + nb.take(2000))
    // q109: the per-cell rank cut must pre-prune below the exchange
    // (the q104 contract), and assignment is a map pass — no join at
    // all outside the window
    val cs = plan("q109_cluster_sample")
    assert(cs.contains("WindowGroupLimit"),
      "q109 rank cut lost the group-limit pushdown:\n" + cs.take(1500))
    assert(!cs.contains("CartesianProduct") && !cs.contains("BroadcastNestedLoopJoin"),
      cs.take(2000))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(cs).size
    assert(shuffles == 1, s"q109 expected exactly 1 shuffle (the cell window), got $shuffles")
  }

  test("langid classify is a zero-exchange narrow projection; q130 sketch agg") {
    // classify's 100-TB contract: the per-document profile and the
    // rank-distance argmin are row-local kernels (CtDocProfile /
    // CtBestLang), so classification itself plans with NO exchange at
    // any scale — the only corpus-sized shuffle in the family is
    // profile TRAINING's (lang, gram) count.
    val docs = graft.model.Tables.documents(spark, sfDir)
    val profiles = graft.ops.LangId.langProfiles(docs, "lang", "text", topM = 16)
    val cls = graft.ops.LangId.classify(docs, "doc_id", "text", profiles, topM = 16)
    val p = cls.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"classify gained an exchange:\n$p")
    assert(p.contains("ct_best_lang") && p.contains("ct_doc_profile"),
      "classify lost its native kernels")
    // q130: the sketch aggregate rides the one (lang)-keyed aggregation
    // tree (the exact count-distinct adds its Expand); never a join or
    // cartesian — the whole report is one aggregation of the token
    // stream.
    val vp = SparkEntry.queries("q130_vocab_hll")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(vp.contains("hll_sketch"), "q130 lost the HLL sketch aggregate")
    assert(!vp.contains("CartesianProduct") && !vp.contains("Join"),
      s"q130 should be pure aggregation, found a join:\n$vp")
  }

  test("q01: filter and column pruning reach the parquet scan") {
    val p = plan("q01_agg_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    // pruned read schema: no l_comment in the scan
    assert(!p.contains("l_comment"), "scan reads unprojected columns")
  }

  test("q02: dimension joins broadcast") {
    val p = plan("q02_join_dims")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("q03/q04: semi and anti joins stay joins, not subquery scans") {
    assert(plan("q03_semi_join").contains("LeftSemi"))
    assert(plan("q04_anti_join").contains("LeftAnti"))
  }

  test("LSH paths never produce a cartesian or nested-loop join") {
    for (q <- Seq("q18_ngram_jaccard", "q19_minhash_lsh", "q26_cosine_pairs_lsh",
      "q27_simhash_pairs", "q25_lsh_ann_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      // q25's broadcast of the probe table is a BroadcastHashJoin on
      // sig=probe, not a nested loop over the corpus.
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q22/q23/q69: scan-the-corpus paths broadcast the small side only") {
    // exact all-pairs and the PQ ADC scan are BNLJs by design — but
    // the build side must be the broadcast (small) relation, never a
    // shuffled cartesian.
    for (q <- Seq("q22_cosine_topk", "q23_cosine_pairs", "q69_pq_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("q78: Bloom decontam — one shuffle total, narrow prefilter, broadcast confirm") {
    // The 100-TB contract of the Bloom path: the corpus side runs
    // scan → project → bloom-filter → explode with NO exchange (clean
    // documents die in a narrow stage), the confirm join broadcasts
    // the benchmark gram set, and the only shuffle in the whole plan
    // is the final per-doc count aggregate.
    val p = plan("q78_bloom_decontam")
    assert(p.contains("bloom_any_contain"), "prefilter missing from the physical plan")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "confirm join fell back to SMJ")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 shuffle (final agg), got $shuffles:\n${p.take(3000)}")
  }

  test("q72/q73: semantic dedup and dup-window detection stay equi-join only") {
    // q72's pairwise stage must be the co-partitioned self-join on
    // `cell` (the SemDeDup scale contract: candidate volume bounded by
    // cluster size, never |corpus|²); q73's dup-set membership is an
    // equi-semi-join on the 60-bit window hash. Neither may degrade to
    // a cartesian or nested-loop shape.
    for (q <- Seq("q72_semantic_dedup", "q73_dup_windows", "q74_dedup_trim")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
    assert(plan("q73_dup_windows").contains("LeftSemi"),
      "q73 dup-set membership is not a semi-join")
  }

  test("q75/q76/q77: decontam trim, best-quality dedup and budget sample stay keyed") {
    // q75's benchmark-set membership is an equi-semi-join on the
    // window hash; q76 is one max_by aggregate over cluster labels;
    // q77 is a bucketed window + broadcast offset join. None may
    // degrade to a cartesian/nested-loop shape, and q77's offset
    // join must broadcast (the offsets frame is keys x buckets).
    for (q <- Seq("q75_decontam_trim", "q76_best_quality_dedup", "q77_source_budget")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
    assert(plan("q75_decontam_trim").contains("LeftSemi"),
      "q75 benchmark membership is not a semi-join")
    assert(plan("q77_source_budget").contains("BroadcastHashJoin"),
      "q77 offset join is not broadcast")
  }

  test("q28: matrix assembly is scan -> agg -> pivot with no extra shuffles") {
    val p = plan("q28_star_counts")
    assert(!p.contains("CartesianProduct"))
    // one aggregate pair for the replicate mean + one for the pivot:
    // partial/final hash aggregates; anything more means a lost
    // map-side combine.
    assert(p.contains("HashAggregate"))
  }

  test("bucketed matrix merge runs with zero exchanges and zero sorts") {
    import spark.implicits._
    import graft.io.BucketedTable
    try {
      val m1 = (1 to 50).map(i => (s"p$i", i * 1.0)).toDF("probe", "s1")
      val m2 = (20 to 70).map(i => (s"p$i", i * 2.0)).toDF("probe", "s2")
      BucketedTable.write(m1, "bm1", "probe", 4)
      BucketedTable.write(m2, "bm2", "probe", 4)
      val merged = spark.table("bm1").join(spark.table("bm2"), Seq("probe"), "full_outer")
      assert(merged.count() == 70)
      val p = merged.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1200))
      assert(!p.contains("Exchange"), "bucketed merge still shuffles:\n" + p.take(1200))
      // The zero-SORT half of the claim needs both writer and session
      // to cooperate: BucketedTable.write pre-repartitions so each bucket is
      // ONE sorted file, and GraftSession enables
      // bucketedTableScan.outputOrdering so the scan may claim that
      // order. Break either and this line catches it.
      assert(!"\\bSort\\b".r.findAllIn(p).hasNext,
        "bucketed merge re-sorts a pre-sorted bucket:\n" + p.take(1200))
      // One file per bucket is itself the writer's contract (multi-
      // file buckets silently forfeit the ordering claim).
      val loc = spark.sql("DESCRIBE FORMATTED bm1")
        .filter(org.apache.spark.sql.functions.col("col_name") === "Location")
        .head().getString(1).stripPrefix("file:")
      val dataFiles = new java.io.File(loc).listFiles
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      val bucketIds = dataFiles.flatMap(f => "_(\\d{5})\\.".r.findFirstMatchIn(f.getName))
        .map(_.group(1))
      assert(bucketIds.length == dataFiles.length && bucketIds.distinct.length == dataFiles.length,
        s"BucketedTable.write must emit at most one file per bucket, got:\n" +
          dataFiles.map(_.getName).mkString("\n"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bm1")
      spark.sql("DROP TABLE IF EXISTS bm2")
    }
  }

  /** Shuffles on the store side (the right child) of the first
    * `joinType` join in `df`'s initial adaptive plan, and that side's
    * plan text. */
  private def storeSide(df: org.apache.spark.sql.DataFrame, joinType: String): (Int, String) = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val join = p.collectFirst { case j: BaseJoinExec if j.joinType.sql == joinType => j }
      .getOrElse(fail(s"no $joinType join in:\n$p"))
    val side = join.right
    (side.collect { case e: ShuffleExchangeExec => e }.size, side.toString)
  }

  /** Run `body` with broadcast joins off (the non-broadcast shape is
    * the scale contract) and `partitions` shuffle partitions. */
  private def unbroadcast[T](partitions: Int)(body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> partitions.toString)
    val orig = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally orig.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("store joins below the shuffle width: the fingerprint anti-join reshuffles its store, the LM score join does not") {
    import org.apache.spark.sql.functions.col
    import graft.dedup.FingerprintStore
    import graft.ops.LmStore
    val docs = model.Tables.documents(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_store_floor").toString
    val fpTable = s"fp_floor_${System.nanoTime}"
    FingerprintStore.create(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", fpTable,
      s"$tmp/fp", buckets = 4)
    LmStore.createAt(spark, docs, s"$tmp/lm", buckets = 4)
    unbroadcast(partitions = 32) {
      val (fpShuffles, fpSide) = storeSide(FingerprintStore.dedupeNew(
        spark, fpTable, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"), "LEFT ANTI")
      assert(fpShuffles == 1 && fpSide.contains("Bucketed: false"),
        s"4-bucket fingerprint store at 32 shuffle partitions:\n$fpSide")
      val (lmShuffles, lmSide) = storeSide(LmStore.score(spark, s"$tmp/lm",
        docs.filter(col("doc_id") % 2 === 1)), "LEFT OUTER")
      assert(lmShuffles == 0 && lmSide.contains("Bucketed: true"),
        s"4-bucket LM store at 32 shuffle partitions:\n$lmSide")
    }
  }

  test("q45: IVF probe join broadcasts the probe table, no cartesian") {
    val p = plan("q45_ivf_ann_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "IVF cell join is not a broadcast hash join:\n" + p.take(2000))
  }

  test("dedup scale paths never self-join the raw corpus on true") {
    // The near-dup pipelines must join on band/bucket/gram keys —
    // an equi-join — so the physical plan is hash/SMJ keyed joins.
    // The verification stage materializes its candidate input
    // (Scan ExistingRDD in the final plan), so the keyed-join shape
    // is asserted on the candidate GENERATOR's own plan, and the
    // final plans are asserted join-safe.
    val cand = graft.dedup.Dedup.minHashCandidates(
      graft.model.Tables.documents(spark, sfDir), "doc_id", "text", n = 2)
      .queryExecution.executedPlan.toString
    assert(cand.contains("band") && cand.contains("bucket"),
      "LSH candidate join lost its band/bucket keys:\n" + cand.take(1500))
    for (q <- Seq("q27_simhash_pairs", "q19_minhash_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q verify stage degraded to an unkeyed join")
    }
    val p18 = plan("q18_ngram_jaccard")
    assert(p18.contains("gram"), "q18 join lost the gram key")
  }

  test("q48: vocab top-k is TakeOrdered, never a global sort") {
    val p = plan("q48_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k fell back to a full sort:\n" + p.take(1500))
  }

  test("q46/q49: narrow text pipelines have no cartesian; q49 keeps the semi join") {
    val p46 = plan("q46_winnow_fingerprint")
    // Per-row fingerprints: the only exchange allowed is the
    // round-robin Parallelism.ensure guard — never a hash shuffle.
    assert(!p46.contains("Exchange hashpartitioning"),
      "winnowing (per-row fingerprints) hash-shuffles:\n" + p46.take(1500))
    // The rolling-hash array must be a materialized attribute (its own
    // Project) before the window lambda slices it — the O(len) vs
    // O(len^2) contract documented on winnowFromHashes.
    assert(p46.contains(" AS hs#"),
      "rolling-hash array was inlined into the window lambda:\n" + p46.take(1500))
    val p49 = plan("q49_curation")
    assert(p49.contains("LeftSemi"), "curation lost the survivor semi join")
    assert(!p49.contains("CartesianProduct"))
  }

  test("q136/q137/q138: frozen-store probes keep their scale shapes") {
    // q136 — curation with the STORE-backed language column: the
    // classification must stay the zero-exchange kernel projection
    // (no join, no re-shape for lang), and the report keeps q49's
    // survivor semi-join; the CT fit is store-build-time, so no
    // (lang, gram) aggregate appears in the probe plan.
    val p136 = plan("q136_curation_store_lang")
    assert(p136.contains("ct_best_lang"),
      "store-lang curation lost the native classification kernel")
    assert(p136.contains("LeftSemi"), "store-lang curation lost the survivor semi join")
    assert(!p136.contains("CartesianProduct"))
    // q137 — the capped posting-store probe must keep the static
    // bucket pruning contract (PartitionFilters on tb) AND the q88
    // broadcast/group-limit shape: the cap only shrinks the admitted
    // bucket set, never the plan's strategy.
    val p137 = plan("q137_bm25_capped")
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(p137).isDefined,
      "capped posting-store probe lost bucket pruning:\n" + p137.take(1500))
    assert(p137.contains("BroadcastHashJoin") && p137.contains("WindowGroupLimit"))
    assert(!p137.contains("CartesianProduct"))
    // q138 — frozen-cut calibration: binning is a projection (cuts are
    // literals), so NO window of any kind survives in the plan — the
    // single-partition ntile this row exists to retire would show as
    // a Window over an empty partition spec.
    val p138 = plan("q138_calibration_frozen")
    assert(!p138.contains("Window"),
      "frozen-cut calibration gained a window:\n" + p138.take(1500))
    assert(!p138.contains("CartesianProduct"))
  }

  test("q54: benchmark gram set broadcasts; corpus side joins without a shuffle") {
    val p = plan("q54_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "decontamination gram join is not broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "corpus grams were shuffle-joined against the benchmark set:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("q55: repetition filter is a single narrow stage (no shuffle at all)") {
    val p = plan("q55_repetition")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-row repetition ratio hash-shuffles:\n" + p.take(1500))
    // tokens materialized once: a Project emits the token array
    // attribute consumed by the n-gram lambda.
    assert(p.contains(" AS toks#"),
      "token array was inlined into the n-gram lambda:\n" + p.take(1500))
  }

  test("dupClusters iteration folds proposals with one exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val sym = edges
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst")).localCheckpoint(false)
    val labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .repartition(col("id")).localCheckpoint(false)
    val next = graft.dedup.Dedup.propagateOnce(sym, labels)
    next.collect() // finalize the adaptive plan
    val finalPlan = next.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    // One exchange for the proposal fold; a second is tolerated only
    // when the label side is too big for AQE to broadcast the joins.
    // Anything more means the union-fold degraded to pairwise joins.
    assert(exchanges <= 2, s"iteration runs $exchanges shuffles:\n" + finalPlan.take(1500))
    assert(!finalPlan.contains("CartesianProduct"))
  }

  test("q57: CollapseJsonExtracts fires in the gate query's plan") {
    // The shared test session installs GraftExtensions (GraftSession
    // default), so the optimizer rewrite must land in q57's optimized
    // plan: one shared from_json, no get_json_object.
    val q = SparkEntry.queries("q57_json_collapse")(spark, sfDir)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("from_json"), "rule did not fire:\n" + opt.take(1500))
    assert(!opt.contains("get_json_object"),
      "extractions not collapsed:\n" + opt.take(1500))
  }

  test("custom dot_product participates in codegen (q23 projection)") {
    val df = SparkEntry.queries("q23_cosine_pairs")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dot_product"), p.take(1500))
    // '*(n)' prefixes mark whole-stage-codegen stages in plan toString;
    // the dot_product projection must sit inside one (any stage id —
    // upstream exchanges may shift the numbering).
    assert("""\*\(\d+\) Project""".r.findFirstIn(p).isDefined,
      "dot_product projection is outside whole-stage codegen:\n" + p.take(1500))
  }

  test("native kernels are single plan nodes inside codegen stages") {
    // hyperplane_sig: q25 computes corpus + probe signatures inline
    // (no checkpoint), so its plan must carry the O(1)-size expression
    // nodes — 4 tables × (1 + bits+1 probes) of them — instead of HOF
    // plane-literal machinery.
    val q25 = SparkEntry.queries("q25_lsh_ann_topk")(spark, sfDir)
    val p25 = q25.queryExecution.analyzed.toString
    assert(p25.contains("hyperplane_sig"), p25.take(1500))

    // md5_prefix64 under the hash-bucket split (q19's gram hash sits
    // behind a checkpoint boundary, so q53's narrow plan is the
    // visible seat).
    val q53 = SparkEntry.queries("q53_split")(spark, sfDir)
    val p53 = q53.queryExecution.analyzed.toString
    assert(p53.contains("md5_prefix64"), p53.take(1500))

    // ivf_nearest_cells in the q45 probe/assignment plan.
    val q45 = SparkEntry.queries("q45_ivf_ann_topk")(spark, sfDir)
    val p45 = q45.queryExecution.analyzed.toString
    assert(p45.contains("ivf_nearest_cells"), p45.take(1500))
  }

  test("q61: one tokenize, zero exchanges, two-column scan") {
    val p = plan("q61_chunking")
    assert("regex_tokens".r.findAllIn(p).size == 1,
      "chunking must tokenize each document exactly once (a pushed-down " +
        "size filter re-tokenizes inside the predicate)")
    assert(!p.contains("Exchange"), "chunking is a narrow map-side pass")
    assert(!p.contains("text#") || !p.contains("lang#"),
      "scan must prune to (doc_id, text)")
  }

  test("q63: prefix sum never collapses to a single-partition window") {
    val p = plan("q63_pack")
    assert(!p.contains("Exchange SinglePartition"),
      "global-order cumsum fell back to a one-partition window — the " +
        "100 TB scale bug the distributed prefix sum exists to avoid")
    assert(p.contains("BroadcastHashJoin"),
      "per-partition offsets must join as a broadcast literal:\n" + p.take(1500))
    assert(p.contains("Window"), p.take(1500))
  }

  test("q64: quantiles come from a bounded histogram, not value-buffering percentile") {
    val p = plan("q64_length_quantiles")
    assert(!p.toLowerCase.contains("percentile"),
      "exact percentile buffers every group value in executor memory — " +
        "the histogram form must never plan it")
    assert(!p.contains("Exchange SinglePartition"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "histogram quantiles need only the (lang,n_tokens) agg exchange and " +
        "the per-lang window exchange:\n" + p.take(2500))
  }

  test("q112: AUC rank-sum never collapses to a single-partition window") {
    val p = plan("q112_classifier_eval")
    assert(!p.contains("Exchange SinglePartition") || {
      // the only tolerated single-partition exchanges are the 1-row
      // final aggregates (conf row, auc row, NB prior/totals); a
      // Window near one (parent or child in the printed tree) is the
      // scale bug
      """Exchange SinglePartition[\s\S]{0,400}?Window""".r.findFirstIn(p).isEmpty &&
        """Window[\s\S]{0,400}?Exchange SinglePartition""".r.findFirstIn(p).isEmpty
    }, "AUC prefix sum fell back to a one-partition window — the " +
      "100 TB scale bug the grouped rank-sum exists to avoid:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "per-partition negative-count offsets must join as a broadcast literal")
  }

  test("q113: allocator prefix sums stay distributed; totals/level ride broadcasts") {
    val p = plan("q113_token_budget")
    assert(!p.contains("Exchange SinglePartition") || {
      """Exchange SinglePartition[\s\S]{0,400}?Window""".r.findFirstIn(p).isEmpty &&
        """Window[\s\S]{0,400}?Exchange SinglePartition""".r.findFirstIn(p).isEmpty
    }, "water-filling cumsum fell back to a one-partition window:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "per-partition offsets must join as a broadcast literal")
    assert("regex_tokens".r.findAllIn(p).size <= 1,
      "per-source token counts must tokenize the corpus at most once")
  }

  test("q67/q68: mixture broadcasts its 1-row total; shuffle order never single-partitions") {
    val p67 = plan("q67_mixture")
    assert(p67.contains("Broadcast"), p67.take(1500))
    val p68 = plan("q68_shuffle_order")
    assert(!p68.contains("Exchange SinglePartition"),
      "global row_number fell back to one partition — the scale bug " +
        "globalPositions exists to avoid")
    assert(p68.contains("BroadcastHashJoin"), p68.take(1500))
  }

  test("pivotMatrixWide: 3·batches−2 exchanges, no cartesian, joins stay key-equi") {
    import org.apache.spark.sql.functions._
    // 100 samples, batchSize 40 → 3 batch pivots. The pinned shape:
    //  - 2 exchanges per batch (Spark plans pivot as per-(key,sample)
    //    pre-agg + PivotFirst, each with its own hash exchange);
    //  - +1 exchange per merge after the first: full-outer output
    //    partitioning is unknown to Catalyst, so the accumulated side
    //    re-shuffles. 3·3−2 = 7. This pin is the budget — a regression
    //    to per-batch re-shuffles of the FULL matrix (or a cartesian)
    //    must fail here before it fails on a cluster.
    val long = spark.range(0, 100L * 20)
      .select(
        concat(lit("g"), (col("id") % 20).cast("string")).as("probe"),
        concat(lit("s"), floor(col("id") / 20).cast("string")).as("sample"),
        (col("id") % 13).cast("double").as("value"))
    val wide = graft.ops.XenaOps.pivotMatrixWide(long, "probe", "sample", "value", batchSize = 40)
    val p = wide.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 7, s"expected 3*3-2 = 7 exchanges, got $exchanges:\n" + p.take(2500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange SinglePartition"), "wide pivot single-partitioned")
  }

  test("q81/q82/q85: bounded stat tables broadcast; heavy joins stay key-equi") {
    // q81: the 64-row log-ratio table must join the per-doc bucket
    // counts as a broadcast hash join — never shuffle the doc side
    // against a 64-row dimension
    val p81 = plan("q81_importance_weights")
    assert(p81.contains("BroadcastHashJoin"), p81.take(2000))
    assert(!p81.contains("CartesianProduct"), "q81 has a cartesian product")
    // q82: doc↔vocab join is token-keyed (equi); only the 1-row total
    // may plan as a broadcast nested loop
    val p82 = plan("q82_unigram_logprob")
    assert(!p82.contains("CartesianProduct"), "q82 has a cartesian product")
    // q85: the df join is gram-keyed equi — a cartesian or nested loop
    // here is quadratic in the corpus
    val p85 = plan("q85_ngram_novelty")
    assert(!p85.contains("CartesianProduct") && !p85.contains("BroadcastNestedLoopJoin"),
      p85.take(2000))
  }

  test("q84: BPE pair stats never shuffle more than vocabulary-bounded aggregates") {
    val p = plan("q84_bpe_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // two hash aggs (vocab count, pair sum) + the global topK sort:
    // no join at all in this plan
    assert(!p.contains("Join"), "q84 should be join-free:\n" + p.take(1500))
  }

  test("q88: BM25 broadcasts query terms and df; postings build once") {
    val p = plan("q88_bm25_topk")
    // the corpus-sized postings probe joins the (small) query-term and
    // df tables as broadcasts — the postings never re-shuffle for them
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), "q88 has a cartesian product")
    // the 1-row corpus stats are the only nested-loop (broadcast cross)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(2000))
    // top-k per query uses the group-limit pushdown, not a full
    // global sort of all (query, doc) scores
    assert(p.contains("WindowGroupLimit"), "q88 rank cut lost the group-limit pushdown")
    // postings materialize once: every posting consumer reads the
    // checkpointed RDD, so exactly one tokenize+count of the corpus
    // (the two parquet scans visible are the corpus and query SIDES)
    assert(p.contains("Scan ExistingRDD"), "postings should come from the checkpoint")
  }

  test("q98: TF-IDF probe is broadcast-shaped; postings tokenize once") {
    val p = plan("q98_tfidf_topk")
    // query-restricted df, query weights and query norms are all
    // broadcast to the corpus-side probe; the corpus never
    // re-shuffles for them
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), "q98 has a cartesian product")
    // the only nested-loops are the TWO 1-row n_docs stats crosses
    // (norm pass + probe — each a broadcast of one row)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p.take(2000))
    assert(p.contains("WindowGroupLimit"), "q98 rank cut lost the group-limit pushdown")
    // both consumers (norm aggregate, dot probe) read the postings
    // CHECKPOINT — one tokenize of the corpus, no weighted copy
    assert(p.contains("Scan ExistingRDD"), "staged postings should come from the checkpoint")
  }

  test("q89: heavy hitters — CMS prefilter is narrow, one confirm exchange") {
    val p = plan("q89_heavy_hitters")
    // no join anywhere: sketch rides in the task binary
    assert(!p.contains("Join"), "q89 should be join-free:\n" + p.take(1500))
    // the cms_at_least filter sits UNDER the aggregate (narrow
    // prefilter before the shuffle), and only one exchange exists —
    // the candidate-token confirm
    assert(p.contains("cms_at_least"), "CMS prefilter missing from the plan")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "q89 should shuffle exactly once (the exact confirm):\n" + p.take(1500))
  }

  test("q90: PMI pair generation is per-row — no positional self-join") {
    val p = plan("q90_pmi_pairs")
    assert(!p.contains("CartesianProduct"), "q90 has a cartesian product")
    // pairs come from a Generate (explode of the per-row HOF), never
    // from a join of the token stream against itself; the only joins
    // are pair↔unigram (keyed; may broadcast at test scale) and the
    // 1-row totals crosses
    assert(!p.contains("SortMergeJoin"),
      "q90 should not sort-merge the token stream:\n" + p.take(1500))
  }

  test("q93: bigram LM joins stay key-equi; one ln per posting row") {
    val p = plan("q93_bigram_logprob")
    assert(!p.contains("CartesianProduct"),
      "q93 has a cartesian product:\n" + p.take(1500))
    // the bigram↔LM and prefix-marginal joins are equi-keyed (may
    // broadcast at test scale, keyed hash at cluster scale) — never a
    // nested loop over the bigram stream
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      "BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      "q93 went nested-loop beyond the 1-row total:\n" + p.take(1500))
    // fixed-point accumulation keeps the per-doc score in the fast
    // hash-aggregate path — no Object(collect_list) aggregate anywhere
    assert(!p.contains("ObjectHashAggregate"),
      "q93 regressed to a buffered-fold aggregate:\n" + p.take(1500))
  }

  test("q94: hard negatives broadcast the anchors, never the corpus") {
    val p = plan("q94_hard_negatives")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the label-inequality join is non-equi by design, so it plans as
    // a broadcast nested loop — the ANCHOR batch must be the build
    // (broadcast) side, the labeled corpus the streamed side
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert("BroadcastExchange".r.findAllIn(p).nonEmpty, p.take(2000))
    // per-anchor top-k uses the group-limit pushdown
    assert(p.contains("WindowGroupLimit"),
      "q94 rank cut lost the group-limit pushdown:\n" + p.take(1500))
  }

  test("q62: rate table broadcasts; corpus never shuffles") {
    val p = plan("q62_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") &&
      !"Exchange hashpartitioning".r.findAllIn(p).hasNext,
      "stratified sampling must be a map-only pass over the corpus")
  }

  test("q95: image near-dup pair stage is the banded equi join — no cartesian") {
    val p = plan("q95_image_neardup")
    assert(!p.contains("CartesianProduct"),
      "image near-dup regressed to the all-pairs self-join:\n" + p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q96: as-of join is union+window — no join node, one window exchange") {
    // The scale contract of `Joins.asofJoin`: never the inequality-
    // join + argmax form (quadratic per-key history fan-out). The
    // union of tagged sides shuffles ONCE on the key for the window;
    // the pre-reduction of the view side adds its own aggregate
    // exchange, so the pin is "no join, has window", not a count.
    val p = plan("q96_asof_join")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"),
      "as-of regressed from union+window to a join:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q97: range join is an equi hash join on (bin, key) — never BNLJ/cartesian") {
    val p = plan("q97_range_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join degraded to a nested loop:\n" + p.take(2000))
  }

  test("q118: split-leakage audit rides the BANDED candidate path, never the " +
    "inverted-index self-join") {
    // The banded pair generator joins on (band, bucket); the old exact
    // path self-joined postings on the raw gram key. The audit's
    // candidate stage must show the band/bucket join — gram appears
    // only inside the per-pair array verifier, never as a join key —
    // and nothing may degrade to an unkeyed join.
    val cand = graft.dedup.Dedup.minHashCandidates(
      graft.model.Tables.documents(spark, sfDir), "doc_id", "text", n = 2)
      .queryExecution.executedPlan.toString
    assert(cand.contains("band") && cand.contains("bucket"),
      "banded candidate join lost its keys:\n" + cand.take(1500))
    val p = plan("q118_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "split leakage degraded to an unkeyed join:\n" + p.take(2000))
    assert(!"""hashpartitioning\(gram""".r.findFirstIn(p).isDefined,
      "split leakage still shuffles on the gram key (inverted-index path):\n" +
        p.take(2000))
  }

  test("q125: quantile confirm prefix sum never collapses to a single-partition window") {
    // The operator runs driver-side selection over per-quantile jobs,
    // so the pin is on the confirm stage's building block: the
    // bracket cumsum must be the two-phase distributed shape (range
    // partition + per-partition window), never Window over
    // SinglePartition — same contract as q63/q112.
    import spark.implicits._
    val vals = (1 to 10000).map(i => ((i * 37) % 10000).toDouble).toDF("v")
      .groupBy("v").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
    val p = graft.ops.Packing.globalCumsum(vals, Seq("v"), "cnt")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      "bracket cumsum collapsed to a single-partition window:\n" + p.take(2000))
    assert("""windowspecdefinition\(pid""".r.findFirstIn(p).isDefined,
      "bracket cumsum window lost its range-bucket partitioning key:\n" + p.take(2000))
  }

  test("clinical: one scan, project and samples explode; no exchange, broadcast or join") {
    // Every per-case aggregate is a higher-order function over the
    // case's own arrays, so nothing re-groups or re-joins on case id.
    val p = plan("q35_clinical")
    assert(p.contains("Generate explode"), "samples fan-out lost:\n" + p)
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "clinical matrix shuffles, broadcasts or joins:\n" + p)
  }

  test("raw dtype transforms start no Spark job before their action") {
    // The raw-file schema is read on the driver, so building the plan
    // of any raw dtype (header + comment, gzip + banner, headerless,
    // segment) runs no CSV probe job.
    for (d <- Seq("star_counts", "somaticmutation_wxs", "methylation450", "segment_cnv_DNAcopy")) {
      val (df, jobs) = jobsDuring(graft.transform.GdcTransforms.transform(spark, d, s"fixtures/$d"))
      assert(jobs.isEmpty, s"$d: building the transform ran ${jobs.size} Spark job(s)")
      assert(df.count() > 0, s"$d: transform has no rows")
    }
  }


  test("merge-xena: typed reads start no inference job; a two-file merge runs only its write's jobs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_jobs").toString
    val files = Seq("sA", "sB").map { smp =>
      graft.io.XenaTsv.write(Seq(("cg01", 0.5), ("cg02", 0.25)).toDF("Composite Element REF", smp),
        s"$tmp/$smp.tsv", rowKey = Some("Composite Element REF"))
      s"$tmp/$smp.tsv"
    }
    val (dfs, readJobs) = jobsDuring(files.map(f => graft.io.XenaTsv.readTyped(spark, f,
      graft.model.DTypes.matrixSchema("methylation450", _))))
    assert(readJobs.isEmpty, s"typed reads ran ${readJobs.size} Spark job(s)")
    assert(dfs.forall(_.schema.last.dataType == org.apache.spark.sql.types.DoubleType))
    // Inference ran two jobs per input file before the merge's own.
    val (rc, mergeJobs) = jobsDuring(graft.Cli.run((Seq("merge-xena", "-t", "methylation450",
      "-o", s"$tmp/merged.tsv") ++ files.flatMap(f => Seq("-f", f))).toArray))
    assert(rc == 0)
    assert(mergeJobs.size <= 3, s"merge-xena ran ${mergeJobs.size} jobs")
  }
}
