package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.SparkSpecBase
import graft.functions.{CmsAtLeast, Md5Prefix64}

/** Behavior tests for the corpus-statistics and retrieval operators:
  * planted corpora with a known right answer (the DuckDB gate covers
  * value parity at q88–q91). */
class CorpusStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "new york is a big city and new york never sleeps"),
    (1L, "new york has the best pizza in the city"),
    (2L, "the dog sleeps and the dog barks and the dog runs"),
    (3L, "a cat naps while the dog sleeps near the city"),
    (4L, "new york new york new york new york")
  ).toDF("doc_id", "text")

  // ---- heavy hitters -------------------------------------------------

  test("heavyHitters equals the exact aggregate (sketch has no false negatives)") {
    val exact = corpus
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hh = CorpusStats.heavyHitters(corpus, minCount = 4L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == exact)
    assert(hh.contains("the") && hh.contains("new") && hh.contains("york"))
    assert(!hh.contains("pizza"))
  }

  test("heavyHitters survives a deliberately collision-prone sketch (exact confirm)") {
    // eps 0.5 → width 4: massive over-counting, so the prefilter
    // passes nearly everything — the exact confirm must still cut to
    // precisely the true heavy set.
    val loose = CorpusStats.heavyHitters(corpus, minCount = 4L, eps = 0.5)
      .collect().map(_.getString(0)).toSet
    val tight = CorpusStats.heavyHitters(corpus, minCount = 4L)
      .collect().map(_.getString(0)).toSet
    assert(loose == tight)
  }

  test("CmsAtLeast probe agrees with the sketch library's estimateCount") {
    val cms = CountMinSketch.create(1e-3, 0.99, 42)
    (1L to 50L).foreach(i => cms.add(java.lang.Long.valueOf(i % 5), 1))
    val df = (0L to 9L).toDF("k")
    val hits = df.filter(CmsAtLeast(col("k"), cms, 10L)).collect().map(_.getLong(0)).toSet
    // keys 0..4 were each added 10 times; 5..9 never — CMS may
    // over-count but never under-counts, so 0..4 must all pass
    assert(Set(0L, 1L, 2L, 3L, 4L).subsetOf(hits))
    hits.foreach(k => assert(cms.estimateCount(java.lang.Long.valueOf(k)) >= 10L))
  }

  test("CmsAtLeast null key propagates null (row filtered out)") {
    val cms = CountMinSketch.create(1e-3, 0.99, 42)
    cms.add(java.lang.Long.valueOf(7L), 100)
    val df = Seq(Some(7L), None, Some(8L)).toDF("k")
    val kept = df.filter(CmsAtLeast(col("k"), cms, 1L)).collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(7L))
  }

  // ---- PMI collocations ---------------------------------------------

  test("pmiPairs surfaces the planted collocation at the top") {
    // "new york" co-occurs every time either token appears — the
    // classic MWE signature: high pair count AND high PMI.
    val top = CorpusStats.pmiPairs(corpus, window = 3, minPairCount = 4L, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(top.nonEmpty)
    val newYork = top.find(t => t._1 == "new" && t._2 == "york")
    assert(newYork.isDefined, s"expected (new, york) in $top")
    // (the, dog) co-occurs often but 'the' is everywhere → lower PMI
    val theDog = top.find(t => t._1 == "dog" && t._2 == "the")
    theDog.foreach(td => assert(newYork.get._4 > td._4))
  }

  test("pmiPairs pools both orientations into one unordered pair") {
    val df = Seq((0L, "a b"), (1L, "b a"), (2L, "a b"), (3L, "b a"), (4L, "a b"))
      .toDF("doc_id", "text")
    val rows = CorpusStats.pmiPairs(df, window = 3, minPairCount = 1L, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(rows == Map(("a", "b") -> 5L))
  }

  test("pmiPairs window bounds co-occurrence distance") {
    val df = Seq((0L, "x p q r y")).toDF("doc_id", "text")
    val pairs = CorpusStats.pmiPairs(df, window = 2, minPairCount = 1L, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // x..y are 4 apart — beyond window 2
    assert(!pairs.contains(("x", "y")))
    assert(pairs.contains(("p", "x")) && pairs.contains(("q", "x")))
  }

  test("pmiPairs is invariant to partitioning") {
    val a = CorpusStats.pmiPairs(corpus.repartition(1), topK = 50, minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val b = CorpusStats.pmiPairs(corpus.repartition(13), topK = 50, minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(a == b)
  }

  // ---- BM25 retrieval ------------------------------------------------

  test("bm25TopK retrieves the lexically-matching doc first") {
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple banana"),
      (3L, "dog cat mouse"),
      (4L, "banana split dessert")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana")).toDF("q_id", "text")
    val hits = Retrieval.bm25TopK(docs, queries, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(hits.nonEmpty)
    // docs 1 and 2 match both terms; doc 3 matches nothing and must
    // be absent; scores strictly ordered by rank
    assert(!hits.map(_._1).contains(3L))
    assert(hits.map(_._2).toSeq == (1L to hits.length).toSeq)
    assert(hits.sliding(2).forall {
      case Array(a, b) => a._3 >= b._3
      case _ => true
    })
  }

  test("bm25TopK idf downweights ubiquitous terms") {
    // 'common' is in every doc, 'rare' in one: a query with both must
    // rank the rare-term doc first even though tf('common') is higher
    // elsewhere.
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common rare"),
      (3L, "common common"),
      (4L, "common filler words")
    ).toDF("doc_id", "text")
    val queries = Seq((9L, "rare common")).toDF("q_id", "text")
    val top = Retrieval.bm25TopK(docs, queries, k = 1).collect()
    assert(top.head.getLong(1) == 2L, s"rare-term doc should win: ${top.toSeq}")
  }

  test("bm25TopK is invariant to partitioning (ordered score fold)") {
    val docs = Tables()
    val queries = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    def run(parts: Int) = Retrieval
      .bm25TopK(docs.filter(col("doc_id") % 25 =!= 0).repartition(parts), queries, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(1) == run(13))
  }

  private def Tables() =
    graft.model.Tables.documents(spark, sfDir).select("doc_id", "text")

  // ---- persisted posting store ----------------------------------------

  test("PostingStore.retrieve == bm25TopK on the same corpus (bit-identical)") {
    val docs = Tables()
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    val queries = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_pstore").toString
    PostingStore.create(corpus, s"$tmp/store")
    val viaStore = PostingStore.retrieve(spark, s"$tmp/store", queries, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val direct = Retrieval.bm25TopK(corpus, queries, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(viaStore == direct)
  }

  test("PostingStore.retrieveTfidf (frozen norms) == tfidfTopK, capped and " +
    "uncapped; stale norms refused") {
    val docs = Tables()
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    val queries = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_tfstore").toString
    PostingStore.create(corpus, s"$tmp/store")
    // probing before any freeze names the missing fit loudly
    val e0 = intercept[RuntimeException](
      PostingStore.retrieveTfidf(spark, s"$tmp/store", queries, k = 10).collect())
    assert(e0.getMessage.contains("freezeNorms"))
    PostingStore.freezeNorms(spark, s"$tmp/store")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(PostingStore.retrieveTfidf(spark, s"$tmp/store", queries, k = 10)) ==
      rows(Retrieval.tfidfTopK(corpus, queries, k = 10)),
      "frozen-norm store probe diverged from in-memory tf-idf")
    assert(rows(PostingStore.retrieveTfidf(spark, s"$tmp/store", queries,
        k = 10, maxTermDf = 7L)) ==
      rows(Retrieval.tfidfTopK(corpus, queries, k = 10, maxTermDf = 7L)),
      "capped store probe diverged from capped in-memory tf-idf")
    // an append makes the frozen vector space stale: refuse, then a
    // re-freeze equals a from-scratch fit on the grown corpus
    PostingStore.append(docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")),
      s"$tmp/store", "b1")
    val e1 = intercept[IllegalArgumentException](
      PostingStore.retrieveTfidf(spark, s"$tmp/store", queries, k = 10))
    assert(e1.getMessage.contains("stale"))
    PostingStore.freezeNorms(spark, s"$tmp/store")
    val grown = docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      .filter(col("doc_id") % 25 =!= 0 || col("doc_id") >= 1000000L)
    assert(rows(PostingStore.retrieveTfidf(spark, s"$tmp/store", queries, k = 10)) ==
      rows(Retrieval.tfidfTopK(grown, queries, k = 10)),
      "re-frozen grown store diverged from a from-scratch tf-idf")
  }

  test("retrieveTfidf norm attach streams off its buckets: one doc_id " +
    "exchange in the whole probe (the match-bounded side), never two") {
    val docs = Tables()
    val tmp = java.nio.file.Files.createTempDirectory("graft_tfplan").toString
    PostingStore.create(docs.filter(col("doc_id") % 25 =!= 0), s"$tmp/store")
    PostingStore.freezeNorms(spark, s"$tmp/store")
    val queries = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    // Disable size-based broadcasts so the norm join takes the shape
    // it has at scale (corpus-sized norms can't broadcast); the
    // probe's own broadcast() hints are explicit and survive.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = PostingStore.retrieveTfidf(spark, s"$tmp/store", queries, k = 10)
        .queryExecution.executedPlan.toString
      assert(p.contains("tfidf_norms_"), "probe lost the catalog norm table:\n" + p.take(1500))
      assert(p.contains("SortMergeJoin"), "norm attach is not a merge join:\n" + p.take(1500))
      val docExchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
      assert(docExchanges == 1,
        s"expected exactly 1 doc_id exchange (match-bounded score side only; " +
          s"the bucketed norm side must stream), got $docExchanges:\n" + p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("PostingStore probe scan is bucket-pruned (PartitionFilters on tb)") {
    val docs = Tables()
    val tmp = java.nio.file.Files.createTempDirectory("graft_pstore_plan").toString
    PostingStore.create(docs, s"$tmp/store", nBuckets = 8)
    // single-token query: only that term's bucket may be read
    val queries = Seq((0L, "the")).toDF("q_id", "text")
    val df = PostingStore.retrieve(spark, s"$tmp/store", queries, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      "posting scan not partition-pruned:\n" + plan.take(2000))
    // and the store path never tokenizes the corpus: no Generate over
    // a corpus-text scan in the probe plan (the only Generate allowed
    // is the query batch's own tokenize)
    assert("Generate explode".r.findAllIn(plan).length <= 1,
      "store probe re-tokenized the corpus:\n" + plan.take(2000))
  }

  test("PostingStore.append: create(half) + append(half) == create(full)") {
    val docs = Tables()
    val tmp = java.nio.file.Files.createTempDirectory("graft_pstore_append").toString
    PostingStore.create(docs.filter(col("doc_id") % 2 === 0), s"$tmp/grown")
    PostingStore.append(docs.filter(col("doc_id") % 2 === 1), s"$tmp/grown", "b1")
    PostingStore.create(docs, s"$tmp/full")
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    def run(p: String) = PostingStore.retrieve(spark, p, queries, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(s"$tmp/grown") == run(s"$tmp/full"),
      "grown store diverged from a from-scratch build")
    // replaying an ingest under its tag REPLACES it (crash-retry
    // idempotence): same rows after a verbatim re-append
    PostingStore.append(docs.filter(col("doc_id") % 2 === 1), s"$tmp/grown", "b1")
    assert(run(s"$tmp/grown") == run(s"$tmp/full"),
      "re-appending the same tag double-counted the batch")
  }

  test("PostingStore guards: reserved/invalid tags refused; create replaces a dirty store") {
    val docs = Tables()
    val tmp = java.nio.file.Files.createTempDirectory("graft_pstore_guard").toString
    PostingStore.create(docs.filter(col("doc_id") % 2 === 0), s"$tmp/s")
    // 'base' is create's tag; a path-traversal-shaped tag must refuse
    intercept[IllegalArgumentException](
      PostingStore.append(docs.limit(1), s"$tmp/s", "base"))
    intercept[IllegalArgumentException](
      PostingStore.append(docs.limit(1), s"$tmp/s", "../evil"))
    // create over an existing (grown) store replaces it wholesale —
    // no stale ledger entries survive to inflate df or stats
    PostingStore.append(docs.filter(col("doc_id") % 2 === 1), s"$tmp/s", "b1")
    PostingStore.create(docs.filter(col("doc_id") % 2 === 0), s"$tmp/s")
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    PostingStore.create(docs.filter(col("doc_id") % 2 === 0), s"$tmp/fresh")
    def run(p: String) = PostingStore.retrieve(spark, p, queries, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(s"$tmp/s") == run(s"$tmp/fresh"),
      "re-created store still sees the pre-create ledger")
  }

  test("stage storage modes agree, and disk stages every reuse point DISK_ONLY") {
    val docs = Tables()
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    def pmiRows() = CorpusStats.pmiPairs(docs, topK = 10).collect().map(_.toSeq).toSeq
    def bmRows() = Retrieval.bm25TopK(docs, queries, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // Gate queries (and one stream helper) whose bodies reach a reuse
    // point in each staging module: Dedup (q18, q79), Similarity and
    // SparkEntry (q56), Curation (q79), Quality (q81), PostingStore
    // (q92), Eval (q132), LangIdStore (q127), Packing (q63), Quantiles
    // (q125), Retrieval (q98), CorpusStats (q90), SparkEntry (q67),
    // StreamDecontam (sharedGramCount).
    val gate = Seq("q18_ngram_jaccard", "q56_knn_join", "q63_pack", "q67_mixture",
      "q79_curation_pipeline", "q81_importance_weights", "q90_pmi_pairs",
      "q92_bm25_indexed", "q98_tfidf_topk", "q125_norm_quantiles",
      "q127_langid_store_mix", "q132_calibration")
    val bench = graft.model.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val bodies: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      gate.map(q => q -> (() => graft.SparkEntry.queries(q)(spark, sfDir))) :+
        ("sharedGramCount" -> (() => graft.streaming.StreamDecontam.sharedGramCount(
          docs, bench, "text", n = 5)))
    def rows(body: () => org.apache.spark.sql.DataFrame): Seq[String] =
      body().collect().map(_.toString).toSeq.sorted
    // rows of `body`, and the storage levels of the RDDs it persisted
    def stagedBy(body: () => org.apache.spark.sql.DataFrame)
        : (Seq[String], Seq[org.apache.spark.storage.StorageLevel]) = {
      spark.catalog.clearCache() // a cached plan from an earlier run would hide the staging
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val r = rows(body)
      (r, spark.sparkContext.getPersistentRDDs.toSeq
        .collect { case (id, rdd) if !before.contains(id) => rdd.getStorageLevel })
    }
    val key = "spark.graft.stage.storage"
    val base = (pmiRows(), bmRows()) // default: local-checkpoint
    val baseBodies = bodies.map { case (name, body) => name -> rows(body) }
    try {
      spark.conf.set(key, "disk")
      assert((pmiRows(), bmRows()) == base, "mode disk diverged")
      for (((name, body), (_, expected)) <- bodies.zip(baseBodies)) {
        val (got, levels) = stagedBy(body)
        assert(got == expected, s"$name: disk rows differ from local-checkpoint rows")
        assert(levels.nonEmpty, s"$name staged nothing")
        assert(levels.forall(_ == org.apache.spark.storage.StorageLevel.DISK_ONLY),
          s"$name persisted ${levels.distinct.mkString(", ")}: a reuse point bypassed stage")
      }
      for (bad <- Seq("none", "bogus")) {
        spark.conf.set(key, bad)
        intercept[RuntimeException](bmRows())
      }
    } finally {
      spark.conf.unset(key)
      spark.catalog.clearCache()
    }
  }

  test("PostingStore.retrieve ignores an uncommitted batch (no stats file = invisible)") {
    // The visibility contract: a batch exists for readers exactly when
    // its stats file does (it commits LAST). Simulate a retrieve
    // racing an in-flight append — postings and dfreq landed, stats
    // not yet — by appending and then deleting the stats file: the
    // rows must equal the pre-append store bit-for-bit, not a mix of
    // new postings with stale counters.
    val docs = Tables()
    val tmp = java.nio.file.Files.createTempDirectory("graft_pstore_race").toString
    PostingStore.create(docs.filter(col("doc_id") % 2 === 0), s"$tmp/s")
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    def run() = PostingStore.retrieve(spark, s"$tmp/s", queries, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val before = run()
    PostingStore.append(docs.filter(col("doc_id") % 2 === 1), s"$tmp/s", "inflight")
    val statsFile = new java.io.File(s"$tmp/s/stats/inflight.json")
    assert(statsFile.exists)
    assert(statsFile.delete())
    assert(run() == before,
      "retrieve saw an uncommitted batch's postings")
    // restoring the stats commit makes the batch visible atomically
    PostingStore.append(docs.filter(col("doc_id") % 2 === 1), s"$tmp/s", "inflight")
    PostingStore.create(docs, s"$tmp/full")
    def runP(p: String) = PostingStore.retrieve(spark, p, queries, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(runP(s"$tmp/s") == runP(s"$tmp/full"),
      "committed batch not fully visible")
  }

  // ---- cross-source overlap matrix -----------------------------------

  test("sourceOverlapMatrix matches a hand-computed bigram matrix") {
    val docs = Seq(
      ("A", "a b c"), ("A", "a b"), // A: {a b, b c}
      ("B", "a b d"),               // B: {a b, b d}
      ("C", "x y")                  // C: {x y} — disjoint
    ).toDF("source", "text")
    val got = CorpusStats.sourceOverlapMatrix(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("A", "B", 1L, 0.333333)),
      s"expected only (A,B) sharing 'a b': ${got.toSeq}")
  }

  test("sourceOverlapMatrix equals the posting-table self-join on real docs") {
    val docs = graft.model.Tables.documents(spark, sfDir).limit(200)
    val grams = docs.filter(col("text").isNotNull)
      .select(col("source"), explode(array_distinct(
        graft.functions.TextFunctions.wordNgrams(
          graft.functions.TextFunctions.tokens(col("text")), 2))).as("g"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("sz"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("shared"))
      .collect().map { r =>
        val (sa, sb, sh) = (r.getString(0), r.getString(1), r.getLong(2))
        (sa, sb, sh, BigDecimal(sh.toDouble / (sizes(sa) + sizes(sb) - sh))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    val got = CorpusStats.sourceOverlapMatrix(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == brute, s"matrix diverged: ${got.size} vs ${brute.size} pairs")
  }

  test("sourceOverlapMatrix plans no gram-keyed self-join") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    val p = CorpusStats.sourceOverlapMatrix(docs, "source", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "pair generation must be row-local over bounded source sets, " +
        "not a posting self-join:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(1500))
  }

  // ---- HyperLogLog vocab sketch -------------------------------------

  test("HllSketch: estimate within the standard error envelope at " +
    "cardinalities spanning both correction branches") {
    // p=12 -> sigma ~ 1.04/sqrt(4096) ~ 1.6%; 5% is ~3 sigma. The
    // hash is deterministic, so these are fixed outcomes, not flaky
    // draws. 50 and 500 exercise linear counting, 50_000 the raw HLL
    // branch.
    for (card <- Seq(50, 500, 5000, 50000)) {
      val sk = new graft.functions.HllSketch(12)
      (0 until card).foreach { i =>
        // duplicates must not move the estimate
        val h = graft.functions.HashKernels.md5Prefix64(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"item_$i"))
        sk.insert(h); sk.insert(h)
      }
      val est = sk.estimate
      val rel = math.abs(est - card) / card.toDouble
      assert(rel < 0.05, s"card=$card est=$est rel=$rel")
    }
  }

  test("HllSketch: merge of split sketches equals the single-pass sketch, " +
    "registers and estimate; serialization round-trips") {
    val whole = new graft.functions.HllSketch(10)
    val a = new graft.functions.HllSketch(10)
    val b = new graft.functions.HllSketch(10)
    (0 until 20000).foreach { i =>
      val h = graft.functions.HashKernels.md5Prefix64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"m_$i"))
      whole.insert(h)
      if (i % 3 == 0) a.insert(h) else b.insert(h)
    }
    val merged = a.merge(b)
    assert(merged.registers.toSeq == whole.registers.toSeq)
    assert(merged.estimate == whole.estimate)
    val rt = graft.functions.HllSketch.deserialize(whole.serialize)
    assert(rt.p == whole.p && rt.registers.toSeq == whole.registers.toSeq)
    assert(rt.estimate == whole.estimate)
  }

  test("vocabSize: exact column equals countDistinct; sketch column within " +
    "the envelope; distributed agg equals the single-threaded sketch") {
    val docs = (0 until 400).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      val words = (0 until 30).map(j => s"${lang}_w${(i * 31 + j * 7) % 997}")
      (i.toLong, lang, words.mkString(" "))
    }.toDF("doc_id", "lang", "text").repartition(8)
    val got = CorpusStats.vocabSize(docs, "lang", "text", p = 12)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exact = docs
      .select(col("lang"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .groupBy("lang").agg(count_distinct(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (lang, (nExact, est, relErr)) =>
      assert(nExact == exact(lang), s"$lang exact")
      assert(relErr < 0.05, s"$lang rel_error=$relErr")
      // the distributed TypedImperativeAggregate must agree with a
      // single-threaded sketch over the same distinct tokens
      val sk = new graft.functions.HllSketch(12)
      docs.select(col("lang"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
        .filter(col("lang") === lang).select("t").distinct()
        .collect().map(_.getString(0)).foreach { t =>
          sk.insert(graft.functions.HashKernels.md5Prefix64(
            org.apache.spark.unsafe.types.UTF8String.fromString(t)))
        }
      assert(est == math.rint(sk.estimate * 1e6) / 1e6 ||
        math.abs(est - sk.estimate) < 1e-6, s"$lang est=$est vs ${sk.estimate}")
    }
  }
}
