package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.similarity.Similarity

/** Behavior tests for the data-selection / quality operators: planted
  * corpora with a known right answer, not oracle replication (the
  * DuckDB gate covers value parity at q81–q85). */
class QualitySpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    // target-like docs: the "good" token distribution
    (0L, "the quick brown fox jumps over the lazy dog", "en", "web"),
    (1L, "the quick brown fox naps under the old tree", "en", "web"),
    (2L, "a quick brown dog jumps over the lazy fox", "en", "books"),
    // off-target docs: disjoint vocabulary
    (3L, "zzz qqq xxx vvv kkk zzz qqq xxx", "zz", "spam"),
    (4L, "qqq kkk vvv zzz xxx kkk qqq vvv", "zz", "spam"),
    (5L, "the fox and the dog and the tree", "en", "web")
  ).toDF("doc_id", "text", "lang", "source")

  test("importanceWeights ranks target-like docs above off-target docs") {
    val w = Quality
      .importanceWeights(corpus, isTarget = col("lang") === "en", buckets = 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(w.size == 6)
    // every English doc outscores every spam doc: their tokens live in
    // buckets the target histogram dominates
    val en = Seq(0L, 1L, 2L, 5L).map(w)
    val zz = Seq(3L, 4L).map(w)
    assert(en.min > zz.max,
      s"target docs $en should all outweigh off-target $zz")
  }

  test("importanceWeights is invariant to partitioning (ordered fold)") {
    val a = Quality.importanceWeights(corpus.repartition(1), col("lang") === "en")
      .orderBy("doc_id").collect().map(_.getDouble(3)).toSeq
    val b = Quality.importanceWeights(corpus.repartition(13), col("lang") === "en")
      .orderBy("doc_id").collect().map(_.getDouble(3)).toSeq
    assert(a == b)
  }

  test("unigramLogprob scores common-token docs above rare-token docs") {
    val lp = Quality.unigramLogprob(corpus)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 5 is all high-frequency tokens ("the" x3, "and" x2, fox/dog/
    // tree); docs 3-4 are tokens that appear only in the two spam docs
    assert(lp(5L) > lp(3L) && lp(5L) > lp(4L))
    // log-probs are always negative (no token has p = 1)
    assert(lp.values.forall(_ < 0.0))
  }

  test("unigramLogprob n_tokens matches the tokenizer") {
    val n = Quality.unigramLogprob(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n(0L) == 9 && n(3L) == 8)
  }

  test("bpePairStats counts frequency-weighted adjacent char pairs") {
    val docs = Seq((0L, "aaab aaab ab", "en", "w")).toDF("doc_id", "text", "lang", "source")
    val pairs = Quality.bpePairStats(docs, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // vocab: "aaab" x2 -> pairs aa,aa,ab each occurrence; "ab" x1
    // aa: 2 per "aaab" * 2 = 4; ab: 1 * 2 + 1 = 3
    assert(pairs("aa") == 4)
    assert(pairs("ab") == 3)
  }

  test("bpePairStats topK cut is deterministic under count ties") {
    val docs = Seq((0L, "ab cd ab cd ef", "en", "w")).toDF("doc_id", "text", "lang", "source")
    val top2 = Quality.bpePairStats(docs, topK = 2)
      .collect().map(_.getString(0)).toSeq
    // ab=2, cd=2, ef=1 -> tie on 2 broken by pair asc
    assert(top2 == Seq("ab", "cd"))
  }

  test("ngramNovelty: repeated boilerplate grams score low, unique docs high") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "w"),
      (1L, "shared header line one two three", "en", "w"),
      (2L, "shared header line four five six", "en", "w")
    ).toDF("doc_id", "text", "lang", "source")
    val nov = Quality.ngramNovelty(docs, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      .map { case (id, g, u) => id -> ((g, u)) }.toMap
    // doc 0: 3 grams, all unique
    assert(nov(0L) == ((3L, 3L)))
    // docs 1-2 share the gram "shared header line" (df=2): 4 grams, 3 unique
    assert(nov(1L) == ((4L, 3L)) && nov(2L) == ((4L, 3L)))
  }

  test("knnClassify recovers planted cluster labels by majority vote") {
    // two well-separated clusters on orthogonal axes; queries are
    // unlabeled points inside each cluster
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val v = Array.fill(4)(0.05f * jitter)
      v(axis) = 1.0f
      v
    }
    val seeds = (0 until 20).map { i =>
      val axis = i % 2
      (i.toLong + 100L, vec(axis, (i % 5).toFloat), axis)
    }.toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (0L, vec(0, 2.0f)), (1L, vec(1, 3.0f))
    ).toDF("q_id", "q_vec")
    val got = Similarity.knnClassify(
      seeds, queries, "vec_id", "embedding", "label", "q_id", "q_vec", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got(0L) == ((0, 5L)), s"query 0 should vote 5/5 for label 0, got ${got(0L)}")
    assert(got(1L) == ((1, 5L)), s"query 1 should vote 5/5 for label 1, got ${got(1L)}")
  }

  test("knnClassify vote ties break to the smaller label") {
    // 2 seeds of label 1 and 2 of label 7, all equidistant from the query
    val seeds = Seq(
      (10L, Array(1.0f, 0.0f), 7),
      (11L, Array(1.0f, 0.0f), 7),
      (12L, Array(1.0f, 0.0f), 1),
      (13L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((0L, Array(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val got = Similarity.knnClassify(
      seeds, queries, "vec_id", "embedding", "label", "q_id", "q_vec", k = 4)
      .collect()
    assert(got.length == 1 && got(0).getInt(1) == 1 && got(0).getLong(2) == 2L)
  }

  test("bigramLogprob penalizes word-salad that unigram scoring can't see") {
    // docs 0-2 share a fixed phrase (high bigram probability); doc 3
    // uses the SAME tokens shuffled into an order never seen elsewhere
    val df = Seq(
      (0L, "the quick brown fox jumps high"),
      (1L, "the quick brown fox jumps high"),
      (2L, "the quick brown fox jumps high"),
      (3L, "fox the jumps quick high brown")
    ).toDF("doc_id", "text")
    val uni = Quality.unigramLogprob(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bi = Quality.bigramLogprob(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // unigram LM: identical token multiset -> identical score
    assert(uni(3L) == uni(0L))
    // bigram LM: the shuffled doc scores strictly below the phrase docs
    assert(bi(3L) < bi(0L),
      s"word salad ${bi(3L)} should score below phrase ${bi(0L)}")
  }

  test("bigramLogprob drops sub-2-token docs and counts bigrams") {
    val df = Seq((0L, "one"), (1L, "a b c"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Quality.bigramLogprob(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L))
  }

  test("bigramLogprob is invariant to partitioning (ordered fold)") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    def run(parts: Int) = Quality.bigramLogprob(docs.repartition(parts))
      .orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    assert(run(1) == run(13))
  }

  test("hardNegatives excludes same-label vectors and ranks by cosine") {
    import graft.similarity.Similarity
    def vec(axis: Int, scale: Float) = {
      val a = Array.fill(4)(0.0f); a(axis) = scale; a
    }
    // anchor points along axis 0 with label 0; same-label near-twin
    // must NOT appear; different-label vectors rank by cosine to the
    // anchor (axis-0-ish first)
    val corpus = Seq(
      (10L, vec(0, 1.0f), 0),               // same label -> excluded
      (11L, Array(1.0f, 0.2f, 0f, 0f), 1),  // closest different-label
      (12L, Array(1.0f, 0.9f, 0f, 0f), 1),
      (13L, vec(1, 1.0f), 2)                // orthogonal
    ).toDF("vec_id", "embedding", "label")
    val anchors = Seq((0L, vec(0, 2.0f), 0))
      .toDF("a_id", "a_vec", "a_label")
    val got = Similarity.hardNegatives(
      corpus, anchors, "vec_id", "embedding", "label",
      "a_id", "a_vec", "a_label", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((11L, 1L), (12L, 2L), (13L, 3L)),
      s"got ${got.toSeq}")
  }

  test("qualityBuckets cuts each language into equal-frequency buckets") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    val rows = Quality.qualityBuckets(docs, nBuckets = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val langs = rows.keys.map(_._1).toSet
    langs.foreach { lang =>
      val perLang = (1L to 3L).flatMap(b => rows.get(lang -> b))
      assert(perLang.length == 3, s"$lang should have 3 buckets")
      // ntile: bucket sizes differ by at most one
      val sizes = perLang.map(_._1)
      assert(sizes.max - sizes.min <= 1, s"$lang sizes $sizes")
      // buckets ordered by score: bucket b's max <= bucket b+1's min
      perLang.sliding(2).foreach {
        case Seq(lo, hi) => assert(lo._4 <= hi._3 + 1e-9,
          s"$lang bucket overlap: ${lo._4} > ${hi._3}")
        case _ =>
      }
      // mean lies within [min, max]
      perLang.foreach { case (_, mean, mn, mx) =>
        assert(mean >= mn - 1e-9 && mean <= mx + 1e-9)
      }
    }
  }

  test("qualityBuckets is invariant to partitioning (ordered mean fold)") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    def run(parts: Int) = Quality.qualityBuckets(docs.repartition(parts), 3)
      .orderBy("lang", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(1) == run(13))
  }

  test("bpeMerges matches a hand-computed 3-merge example; stops when exhausted") {
    import spark.implicits._
    // corpus words: abab x2, abc x1
    // step 1 pairs: (a,b)=5 [2 per 'abab' x2 + 1 in 'abc'], (b,a)=2,
    //   (b,c)=1 -> merge (a,b) cnt 5; vocab: [ab,ab] x2, [ab,c] x1
    // step 2: (ab,ab)=2, (ab,c)=1 -> merge (ab,ab) cnt 2
    // step 3: (ab,c)=1 -> merge (ab,c) cnt 1; then nothing remains
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val merges = graft.ops.Quality.bpeMerges(docs, nMerges = 10)
    assert(merges.map(m => (m.step, m.left, m.right, m.merged, m.cnt)) == Seq(
      (1, "a", "b", "ab", 5L),
      (2, "ab", "ab", "abab", 2L),
      (3, "ab", "c", "abc", 1L)),
      merges.toString) // also proves early stop: 10 asked, 3 possible
  }

  test("bpeMerges greedy application: 'aaa' under (a,a) folds to [aa, a]") {
    import spark.implicits._
    // words: aaa x3, aab x1
    // step 1: (a,a): 'aaa' has 2 adjacent occurrences x3 = 6, 'aab' 1
    //   -> 7; (a,b) = 1 -> merge (a,a) cnt 7
    // after greedy fold: aaa -> [aa, a]; aab -> [aa, b]
    // step 2: (aa,a)=3, (aa,b)=1 -> merge (aa,a) cnt 3
    val docs = Seq((1L, "aaa aaa aaa aab")).toDF("doc_id", "text")
    val merges = graft.ops.Quality.bpeMerges(docs, nMerges = 2)
    assert(merges.map(m => (m.step, m.left, m.right, m.cnt)) == Seq(
      (1, "a", "a", 7L),
      (2, "aa", "a", 3L)),
      merges.toString)
  }

  test("bpeMerges driver loop == distributed loop (cap forced to 0) on real docs") {
    // bpeMerges runs DRIVER-SIDE when the exact vocab count fits under
    // spark.graft.bpeDriverVocabMaxRows; forcing the cap to 0 forces
    // the distributed DataFrame loop. Both must produce the identical
    // merge list — counts, tie-breaks (cnt desc, UTF-8 x, y) and the
    // greedy fold included.
    val docs = graft.model.Tables.documents(spark, sfDir)
    val driver = graft.ops.Quality.bpeMerges(docs, nMerges = 5)
    val key = "spark.graft.bpeDriverVocabMaxRows"
    spark.conf.set(key, "0")
    try {
      val dist = graft.ops.Quality.bpeMerges(docs, nMerges = 5)
      assert(driver == dist, s"driver=$driver dist=$dist")
    } finally spark.conf.unset(key)
  }

  test("bpeMerges driver loop honors UTF-8 tie-break order") {
    import spark.implicits._
    // 'ba' and 'ab' each once: (b,a)=1 and (a,b)=1 tie on count; the
    // argmax must pick (a,b) — x ascending in UTF-8 binary order —
    // in BOTH loops.
    val docs = Seq((1L, "ba ab")).toDF("doc_id", "text")
    val driver = graft.ops.Quality.bpeMerges(docs, nMerges = 1)
    assert(driver.map(m => (m.left, m.right, m.cnt)) == Seq(("a", "b", 1L)))
    val key = "spark.graft.bpeDriverVocabMaxRows"
    spark.conf.set(key, "0")
    try {
      val dist = graft.ops.Quality.bpeMerges(docs, nMerges = 1)
      assert(driver == dist, s"driver=$driver dist=$dist")
    } finally spark.conf.unset(key)
  }

  test("bpeEncode applies trained merges: hand-computed piece counts") {
    import spark.implicits._
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val merges = graft.ops.Quality.bpeMerges(docs, nMerges = 2)
    // merges: (a,b)->ab, (ab,ab)->abab
    // encode: abab -> [abab] (1), abab -> [abab] (1), abc -> [ab, c] (2)
    val got = graft.ops.Quality.bpeEncode(docs, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 4L)), got.mkString(","))
    // 0 merges degenerates to character counts (a b a b ... = 11 chars)
    val chars = graft.ops.Quality.bpeEncode(docs, Seq.empty)
      .collect().map(r => r.getLong(2))
    assert(chars.toSeq == Seq(11L), chars.mkString(","))
  }

  test("bpeEncode greedy fold matches training's vocabulary state") {
    import spark.implicits._
    // 'aaa' under merge (a,a) must fold left-to-right to [aa, a] in
    // ENCODE exactly as it did in training — 2 pieces, never [a, aa].
    val train = Seq((1L, "aaa aaa aaa aab")).toDF("doc_id", "text")
    val merges = graft.ops.Quality.bpeMerges(train, nMerges = 1)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "a")))
    val enc = graft.ops.Quality.bpeEncode(
      Seq((7L, "aaa aab")).toDF("doc_id", "text"), merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // aaa -> [aa, a] (2) ; aab -> [aa, b] (2)
    assert(enc.toSeq == Seq((7L, 2L, 4L)), enc.mkString(","))
  }

  test("LmStore: frozen LM scores == unigramLogprob on the fitting corpus") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    val path = s"${java.nio.file.Files.createTempDirectory("graft_lm").toString}/lm"
    graft.ops.LmStore.createAt(spark, docs, path, buckets = 4)
    val got = graft.ops.LmStore.score(spark, path, docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val want = graft.ops.Quality.unigramLogprob(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, (nt, noov, lp)) =>
      assert(noov == 0L, s"doc $id reports OOV against its own LM")
      assert((nt, lp) == want(id), s"doc $id: ($nt, $lp) != ${want(id)}")
    }
  }

  test("LmStore: OOV tokens counted, excluded from the average, all-OOV -> null") {
    import spark.implicits._
    val path = s"${java.nio.file.Files.createTempDirectory("graft_lm2").toString}/lm"
    graft.ops.LmStore.createAt(spark,
      Seq((1L, "aa aa bb")).toDF("doc_id", "text"), path, buckets = 2)
    // LM: aa cnt 2, bb cnt 1, total 3
    val rows = graft.ops.LmStore.score(spark, path,
        Seq((7L, "aa zz zz"), (8L, "zz qq")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // doc 7: 3 tokens, 2 OOV; avg over the one in-vocab token = ln(2/3)
    assert(rows(7L)._1 == 3L && rows(7L)._2 == 2L)
    assert(rows(7L)._3.contains(math.rint(math.log(2.0 / 3.0) * 1e6) / 1e6))
    // doc 8: all OOV -> null score, counts still reported
    assert(rows(8L) == ((2L, 2L, None)))
  }

  test("LmStore.oovReport: zero on the fitting corpus; hand-computed OOV " +
    "rollup per language; all-new language reports rate 1") {
    import spark.implicits._
    val path = s"${java.nio.file.Files.createTempDirectory("graft_lm3").toString}/lm"
    graft.ops.LmStore.createAt(spark,
      Seq((1L, "aa aa bb", "en"), (2L, "cc bb", "de"))
        .toDF("doc_id", "text", "lang"), path, buckets = 2)
    // On the fitting corpus itself: every rate exactly 0.
    val self = graft.ops.LmStore.oovReport(spark, path,
        Seq((1L, "aa aa bb", "en"), (2L, "cc bb", "de")).toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(self == Map("en" -> ((1L, 3L, 0L, 0.0)), "de" -> ((1L, 2L, 0L, 0.0))), self.toString)
    // Arrivals: en doc has 1 OOV of 4 tokens (multiplicity counts:
    // 'zz' twice in doc 11 -> 2 OOV of 3); fr entirely unseen.
    val got = graft.ops.LmStore.oovReport(spark, path, Seq(
        (10L, "aa bb cc zz", "en"),
        (11L, "zz zz aa", "en"),
        (12L, "xx yy", "fr"))
      .toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("en") == ((2L, 7L, 3L, math.rint(3.0 / 7.0 * 1e6) / 1e6)), got.toString)
    assert(got("fr") == ((1L, 2L, 2L, 1.0)), got.toString)
  }

  test("LmStore: scoring probes the vocab store with zero store-side exchanges") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val docs = graft.model.Tables.documents(spark, sfDir)
      val path = s"${java.nio.file.Files.createTempDirectory("graft_lm3").toString}/lm"
      graft.ops.LmStore.createAt(
        spark, docs.filter(col("doc_id") % 25 =!= 0), path)
      val scored = graft.ops.LmStore.score(
        spark, path, docs.filter(col("doc_id") % 25 === 0))
      scored.queryExecution.toRdd.count()
      val finalPlan = scored.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case other => other.children.flatMap(flatten)
      })
      assert(finalPlan.toString.contains("Bucketed: true"),
        s"vocab-store scan is not bucketed:\n${finalPlan.toString.take(3000)}")
      val joins = flatten(finalPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, "no join in the scoring plan")
      // the store is the right side of the tok join: only the batch
      // side repartitions, the store scan feeds the join directly
      val storeShuffles = flatten(joins.head.children.last).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(storeShuffles.isEmpty,
        s"store side of the scoring join reshuffles:\n${joins.head.children.last}")
    } finally spark.conf.set(thresholdKey, orig)
  }

  test("groupKlDrift: corpus-like group scores ~0, divergent group scores high") {
    import spark.implicits._
    // two groups with IDENTICAL token distributions + one alien group
    val docs = Seq(
      (1L, "aa aa bb cc", "g1"), (2L, "aa aa bb cc", "g2"),
      (3L, "zz zz zz zz", "alien")
    ).toDF("doc_id", "text", "source")
    val kl = graft.ops.Quality.groupKlDrift(docs, "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(kl.keySet == Set("g1", "g2", "alien"))
    assert(kl("g1")._1 == 4L && kl("g1")._2 == 3L)
    // g1 == g2 by symmetry, both > 0 (the alien mass shifts Q off P)
    assert(kl("g1") == kl("g2"))
    // alien: P(zz)=1, Q(zz)=4/12 -> KL = ln(3)
    assert(kl("alien")._3 == math.rint(math.log(3.0) * 1e6) / 1e6,
      s"alien KL ${kl("alien")._3} != ln(3)")
    assert(kl("alien")._3 > kl("g1")._3,
      "divergent group must out-drift corpus-like groups")
    // a group that IS the corpus drifts zero
    val solo = graft.ops.Quality.groupKlDrift(
      Seq((1L, "aa bb aa", "only")).toDF("doc_id", "text", "source"), "source")
      .collect()(0)
    assert(solo.getDouble(3) == 0.0)
  }

  test("LmStore: scoring an empty batch returns an empty, well-typed frame") {
    import spark.implicits._
    val path = s"${java.nio.file.Files.createTempDirectory("graft_lm4").toString}/lm"
    graft.ops.LmStore.createAt(spark,
      Seq((1L, "aa bb")).toDF("doc_id", "text"), path, buckets = 2)
    val out = graft.ops.LmStore.score(spark, path,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(out.columns.toSeq == Seq("doc_id", "n_tokens", "n_oov", "avg_logprob"))
    assert(out.isEmpty)
  }

  test("bpeMerges step 1 equals bpePairStats' top candidate on real docs") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    val top = graft.ops.Quality.bpePairStats(docs, topK = 1).collect()(0)
    val m1 = graft.ops.Quality.bpeMerges(docs, nMerges = 1).head
    assert((m1.merged, m1.cnt) == ((top.getString(0), top.getLong(1))),
      s"first merge ${m1} != bpePairStats top ${top}")
  }

  test("naiveBayesLogOdds separates the seed class on a planted corpus") {
    val out = Quality.naiveBayesLogOdds(corpus, isSeed = col("lang") === "en")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(out.size == 6)
    // seed (en) docs share vocabulary only with each other; spam docs
    // only with each other — NB log-odds must separate them cleanly,
    // and `predicted` must agree with the sign
    for (d <- Seq(0L, 1L, 2L, 5L)) assert(out(d)._2 > 0 && out(d)._3 == 1,
      s"seed doc $d scored ${out(d)}")
    for (d <- Seq(3L, 4L)) assert(out(d)._2 < 0 && out(d)._3 == 0,
      s"spam doc $d scored ${out(d)}")
    // n_tokens rides the same aggregation
    assert(out(0L)._1 == 9 && out(3L)._1 == 8)
  }

  test("naiveBayesLogOdds is invariant to partitioning (fixed-point sum)") {
    val a = Quality.naiveBayesLogOdds(corpus.repartition(1), col("lang") === "en")
      .orderBy("doc_id").collect().map(r => (r.getDouble(2), r.getInt(3))).toSeq
    val b = Quality.naiveBayesLogOdds(corpus.repartition(13), col("lang") === "en")
      .orderBy("doc_id").collect().map(r => (r.getDouble(2), r.getInt(3))).toSeq
    assert(a == b)
  }

  test("NbStore: frozen scores == naiveBayesLogOdds on the fitting corpus, n_oov 0") {
    val path = s"${java.nio.file.Files.createTempDirectory("graft_nb1").toString}/nb"
    graft.ops.NbStore.createAt(spark, corpus, col("lang") === "en", path, buckets = 4)
    val got = graft.ops.NbStore.score(spark, path, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val want = Quality.naiveBayesLogOdds(corpus, col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(1), 0L,
        r.getDouble(2), r.getInt(3))).toSet
    assert(got == want, s"frozen-model scores diverged:\n got $got\n want $want")
  }

  test("NbStore: OOV tokens are Laplace-priced and counted, never dropped") {
    val path = s"${java.nio.file.Files.createTempDirectory("graft_nb2").toString}/nb"
    graft.ops.NbStore.createAt(spark, corpus, col("lang") === "en", path, buckets = 4)
    val batch = Seq(
      (100L, "the quick fox wombat"), // one OOV token among seed-ish ones
      (101L, "wombat yyy www")        // ALL tokens unseen
    ).toDF("doc_id", "text")
    val out = graft.ops.NbStore.score(spark, path, batch)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(100L)._1 == 4 && out(100L)._2 == 1)
    assert(out(101L)._1 == 3 && out(101L)._2 == 3)
    // unlike the LM store, an all-OOV doc still scores: Laplace gives
    // every unseen token the zero-count weight ln((T-+V)/(T++V)) and
    // the prior rides on top — it must equal exactly that closed form
    val (tpos, tneg, v, npos, nneg) = {
      val (_, a, b, c, d, e) = graft.ops.NbStore.attach(spark, path)
      (a, b, c, d, e)
    }
    val wOov = math.log(1.0 / (tpos + v).toDouble) - math.log(1.0 / (tneg + v).toDouble)
    val raw = math.log(npos.toDouble / nneg.toDouble) + math.round(3.0 * wOov * 1e9) / 1e9
    assert(math.abs(out(101L)._3 - raw) < 1e-6,
      s"all-OOV score ${out(101L)._3} != prior + 3*w_oov $raw")
  }

  test("NbStore: single-class fitting corpus is refused; empty batch well-typed") {
    val path = s"${java.nio.file.Files.createTempDirectory("graft_nb3").toString}/nb"
    intercept[IllegalArgumentException] {
      graft.ops.NbStore.createAt(spark, corpus, lit(true), path)
    }
    graft.ops.NbStore.createAt(spark, corpus, col("lang") === "en", path, buckets = 4)
    val out = graft.ops.NbStore.score(spark, path,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_oov", "log_odds", "predicted"))
    assert(out.isEmpty)
  }

  test("stage storage modes agree: unigramLogprob and naiveBayesLogOdds bit-identical") {
    // Quality's reused intermediates route through Parallelism.stage
    // (pluggable: local-checkpoint / DISK_ONLY); results
    // must not depend on the mode — CorpusStatsSpec pins pmi/bm25,
    // this pins the Quality family through its shared tokenize stage
    def lp() = Quality.unigramLogprob(corpus)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def nb() = Quality.naiveBayesLogOdds(corpus, col("lang") === "en")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val key = "spark.graft.stage.storage"
    val base = (lp(), nb())
    try {
      spark.conf.set(key, "disk")
      assert((lp(), nb()) == base, "mode disk diverged")
    } finally spark.conf.unset(key)
  }

  test("q117 fertility report: bounds hold and zero merges means one piece per char") {
    val rows = graft.SparkEntry.queries("q117_tokenizer_fertility")(spark, sfDir)
      .collect()
    assert(rows.length == 5, "one row per language")
    for (r <- rows) {
      val (words, pieces, ppw, cpp) =
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(pieces >= words, "every word is at least one piece")
      assert(ppw >= 1.0 && cpp >= 1.0,
        s"fertility/compression out of range for ${r.getString(0)}: $ppw / $cpp")
    }
    // untrained tokenizer baseline: encode with NO merges = chars
    val docs = graft.model.Tables.documents(spark, sfDir)
    val raw = Quality.bpeEncode(docs, Seq.empty)
      .agg(sum("n_pieces"), sum("n_tokens")).collect()(0)
    val trained = rows.map(_.getLong(3)).sum
    assert(trained < raw.getLong(0),
      "five trained merges must strictly compress the corpus piece count")
  }

  test("TokStore: attach round-trips the merge table in training order") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tokstore").toString
    val docs = Seq((1L, "abab abab abc", "en")).toDF("doc_id", "text", "lang")
    val trained = TokStore.createAt(spark, docs, s"$tmp/tok", nMerges = 3)
    assert(trained.map(_.step) == trained.map(_.step).sorted && trained.nonEmpty)
    val attached = TokStore.attach(spark, s"$tmp/tok")
    assert(attached == trained, "frozen merge table must round-trip exactly")
  }

  test("TokStore.encode on the fitting corpus == bpeEncode with the trained merges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tokstore2").toString
    val docs = corpus
    val trained = TokStore.createAt(spark, docs, s"$tmp/tok", nMerges = 5)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(asMap(TokStore.encode(spark, s"$tmp/tok", docs)) ==
      asMap(Quality.bpeEncode(docs, trained)),
      "frozen encode must reproduce the training-time encode exactly")
  }

  test("TokStore.fertilityDrift: zero on the fitting corpus, null for unseen langs, " +
    "positive when a language's arriving words resist the frozen merges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tokstore3").toString
    // train on an 'ab'-heavy snapshot: merges favour ab-compounds
    val snapshot = Seq(
      (1L, "abab abab ab", "en"), (2L, "ab abab abab", "en"),
      (3L, "abab ab ab", "fr")).toDF("doc_id", "text", "lang")
    TokStore.createAt(spark, snapshot, s"$tmp/tok", nMerges = 2)
    // 1) fitting corpus drifts zero (same words -> same fertility)
    val self = TokStore.fertilityDrift(spark, s"$tmp/tok", snapshot)
      .collect().map(r => r.getString(0) -> r.getDouble(6)).toMap
    assert(self.values.forall(_ == 0.0), s"self-drift must be exactly 0: $self")
    // 2) arriving batch: 'en' words the merges cannot compress
    //    (fertility rises), plus a language unseen at training time
    val arriving = Seq(
      (10L, "xyz zyx xzy", "en"),          // no 'ab' anywhere
      (11L, "abab abab abab", "de")        // unseen lang
    ).toDF("doc_id", "text", "lang")
    val drift = TokStore.fertilityDrift(spark, s"$tmp/tok", arriving)
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    assert(drift("en")._2.exists(_ > 0.0),
      s"incompressible arrivals must raise fertility: $drift")
    assert(drift("de") == ((None, None)),
      s"a language unseen at training time reports null reference/delta: $drift")
  }

  test("LangId: hand-computed two-language example — profile ranks, rank " +
    "distance, out-of-place cap, argmin tie to smallest lang") {
    // lang 'xx' speaks only the word 'aa', 'yy' only 'bb': the padded
    // grams of 'aa' are {_a, aa, a_, _aa, aa_}, all count 2 in the
    // profile, ranked lexicographically on the count tie:
    // _a=1 < _aa=2 < a_=3 < aa=4 < aa_=5 (byte order: '_' < 'a')
    val train = Seq((1L, "aa aa", "xx"), (2L, "bb bb", "yy"))
      .toDF("doc_id", "text", "lang")
    val profiles = LangId.langProfiles(train, "lang", "text", topM = 64)
    val px = profiles.filter(col("lang") === "xx").orderBy("rank")
      .collect().map(r => (r.getString(1), r.getInt(2)))
    assert(px.toSeq == Seq(("_a", 1), ("_aa", 2), ("a_", 3), ("aa", 4), ("aa_", 5)),
      px.mkString(","))
    // a pure-'aa' doc has the SAME five ranks -> distance 0 to xx;
    // vs yy every gram is out-of-place: 5 x 64 = 320 -> argmin xx
    val got = LangId.classify(Seq((3L, "aa")).toDF("doc_id", "text"),
      "doc_id", "text", profiles, topM = 64)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((3L, "xx", 0L)), got.mkString(","))
    // distance ties break to the smallest language: a doc equidistant
    // from both (shares nothing with either) predicts 'xx' < 'yy'
    val tie = LangId.classify(Seq((4L, "zz")).toDF("doc_id", "text"),
      "doc_id", "text", profiles, topM = 64)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(tie.toSeq == Seq(("xx", 320L)), tie.mkString(","))
    // self-classification confusion is purely diagonal here
    val conf = LangId.confusion(train, "doc_id", "lang", "text", topM = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(conf == Map(("xx", "xx") -> 1L, ("yy", "yy") -> 1L), conf.toString)
  }

  test("LangIdStore: frozen classify == refit classify on the snapshot; " +
    "mix drift zero on the snapshot itself, surge and vanish both visible") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lidstore").toString
    val snapshot = Seq(
      (1L, "aa aa aa", "xx"), (2L, "aa aa", "xx"),
      (3L, "bb bb bb", "yy"), (4L, "bb bb", "yy"))
      .toDF("doc_id", "text", "lang")
    LangIdStore.createAt(spark, snapshot, s"$tmp/lid", topM = 64)
    // frozen classify == LangId.classify with profiles refit on the
    // same snapshot (one codepath, persisted)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val refit = LangId.classify(snapshot, "doc_id", "text",
      LangId.langProfiles(snapshot, "lang", "text", 64), 64)
    assert(asMap(LangIdStore.classify(spark, s"$tmp/lid", snapshot)) == asMap(refit))
    // self-mix: predicted == labeled on this separable corpus -> every
    // share_delta is exactly 0
    val self = LangIdStore.mixDrift(spark, s"$tmp/lid", snapshot)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(self == Map("xx" -> 0.0, "yy" -> 0.0), self.toString)
    // arrivals: all-'aa' feed -> xx surges to share 1.0 (+0.5), yy
    // vanishes but keeps its row at share 0 (-0.5)
    val arrivals = Seq((10L, "aa aa", "??"), (11L, "aa", "??"))
      .toDF("doc_id", "text", "lang")
    val drift = LangIdStore.mixDrift(spark, s"$tmp/lid", arrivals)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap
    assert(drift("xx") == ((2L, 1.0, 0.5)) && drift("yy") == ((0L, 0.0, -0.5)),
      drift.toString)
  }

  test("naiveBayesLogOdds prior: balanced classes contribute ln(N+/N-)") {
    // one doc per class with the SAME single token: the token weight
    // cancels (identical smoothed counts), leaving exactly the prior
    // — here ln(2/1) from doubling the seed side
    val tiny = Seq(
      (1L, "tok", "en"), (2L, "tok", "en"), (3L, "tok", "zz")
    ).toDF("doc_id", "text", "lang")
    val out = Quality.naiveBayesLogOdds(tiny, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val want = math.rint(math.log(2.0) * 1e6) / 1e6
    // every doc has the same tokens, so every doc scores the prior
    // plus the (identical) per-token weight; with pos=2 neg=1 tpos=2
    // tneg=1 v=1 the weight is ln(3/3) - ln(2/2) = 0
    assert(out.values.toSet == Set(want),
      s"expected pure prior ln(2)=$want, got $out")
  }
}
