package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Property-style invariants over the kernel ops (SURVEY §5), with
  * seeded deterministic generators: melt∘pivot identity, vertical
  * union column-superset stability, log2p1 round-trip, canonical
  * equality under permutation.
  */
class PropertySpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(42)

  private def randomLong(n: Int, probes: Int, samples: Int) = {
    import spark.implicits._
    // distinct (probe, sample) pairs so pivot(first/avg) is lossless
    val pairs = rnd.shuffle(
      (for (p <- 0 until probes; s <- 0 until samples) yield (p, s)).toList).take(n)
    pairs.map { case (p, s) =>
      (s"probe_$p", s"S$s", math.round(rnd.nextDouble() * 1e6) / 1e6)
    }.toDF("probe", "sample", "value")
  }

  test("property: melt(pivot(long)) == long (10 seeded trials)") {
    for (_ <- 1 to 10) {
      val long = randomLong(40, 8, 4)
      val samples = (0 until 4).map(s => s"S$s")
      val wide = XenaOps.pivotMatrix(long, "probe", "sample", "value", samples)
      val back = XenaOps.melt(wide, "probe", "sample", "value")
        .filter(col("value").isNotNull)
      assert(XenaOps.canonicalEqual(back, long),
        "melt∘pivot is not the identity on distinct-keyed long data")
    }
  }

  test("property: mergeVertical keeps every row and the column superset") {
    import spark.implicits._
    for (trial <- 1 to 10) {
      val a = (1 to 5).map(i => (s"a$trial$i", i)).toDF("id", "x")
      val b = (1 to 7).map(i => (s"b$trial$i", i.toDouble)).toDF("id", "y")
      val u = XenaOps.mergeVertical(Seq(a, b))
      assert(u.columns.sorted.toSeq == Seq("id", "x", "y"))
      assert(u.count() == 12)
      assert(u.filter(col("x").isNull).count() == 7)
      assert(u.filter(col("y").isNull).count() == 5)
    }
  }

  test("property: log2p1 inverts within 1e-9 for non-negative values") {
    import spark.implicits._
    val xs = Seq.fill(200)(rnd.nextDouble() * 1e5).toDF("x")
    val bad = xs.select(
      abs(pow(lit(2.0), XenaOps.log2p1(col("x"))) - lit(1.0) - col("x")).as("err"))
      .filter(col("err") > 1e-9).count()
    assert(bad == 0)
  }

  test("property: charShingles count/content and degenerate cases") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val texts = Seq.fill(100)(rnd.alphanumeric.take(rnd.nextInt(12)).mkString).toDF("t")
    val k = 4
    val rows = texts.select(
      col("t"), graft.ParityOracles.charShingles(col("t"), k).as("sh")).as[(String, Seq[String])]
      .collect()
    rows.foreach { case (t, sh) =>
      val expected = if (t.length >= k) t.sliding(k).toSeq else Seq.empty
      assert(sh == expected, s"shingles of '$t'")
    }
  }

  test("property: winnowing fingerprints are window minima and detect shared substrings") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val k = 8; val w = 4
    // A reference winnow in plain Scala over the same md5-derived hashes.
    def scalaHashes(t: String): Seq[Long] =
      if (t.length < k) Seq.empty
      else t.sliding(k).map { s =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
      }.toSeq
    def scalaWinnow(t: String): Set[Long] = {
      val hs = scalaHashes(t)
      if (hs.isEmpty) Set.empty
      else if (hs.length < w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val shared = "the quick brown fox jumps over the lazy dog"
    val texts = Seq(
      "short", "", "exactly8", s"prefix $shared", s"$shared and a suffix",
      rnd.alphanumeric.take(50).mkString)
    val got = texts.toDF("t")
      .select(col("t"), TextFunctions.rollingHashes(col("t"), k).as("hs"))
      .select(col("t"), TextFunctions.winnowFromHashes(col("hs"), w).as("fp"))
      .as[(String, Seq[Long])].collect().toMap
    texts.foreach { t =>
      assert(got(t).toSet == scalaWinnow(t), s"winnow of '$t'")
    }
    // Shared substring of length >= k+w-1 ⇒ at least one common fingerprint.
    assert(got(s"prefix $shared").toSet.intersect(
      got(s"$shared and a suffix").toSet).nonEmpty)
  }

  test("property: dupClusters equals union-find on seeded random graphs") {
    import spark.implicits._
    import graft.dedup.Dedup
    for (trial <- 1 to 5) {
      val r = new scala.util.Random(100 + trial)
      val n = 60 + r.nextInt(60)
      val edges = Seq.fill(n / 2)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var i = x; while (parent(i) != i) i = parent(i); i }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap

      // Default threshold -> the driver fast path.
      val got = Dedup.dupClusters(
        (0L until n.toLong).toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"), "doc_id")
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"trial $trial (n=$n, ${edges.size} edges)")
      // Threshold 0 -> the distributed label-propagation path must
      // produce the same labels on the same graph.
      val dist = Dedup.dupClusters(
        (0L until n.toLong).toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"), "doc_id", smallGraphThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(dist == expect, s"trial $trial distributed (n=$n, ${edges.size} edges)")
    }
  }

  test("property: crossNgramOverlap equals brute-force gram-set intersection") {
    import spark.implicits._
    import graft.dedup.Dedup
    val vocab = ('a' to 'j').map(_.toString)
    for (trial <- 1 to 3) {
      val r = new scala.util.Random(40 + trial)
      def doc(len: Int): String =
        Seq.fill(len)(vocab(r.nextInt(vocab.size))).mkString(" ")
      val corpus = (0L until 30L).map(i => (i, doc(8 + r.nextInt(12))))
      // benchmark docs: half substrings of corpus docs (guaranteed
      // overlap), half fresh
      val bench = (100L until 108L).map { i =>
        if (i % 2 == 0) {
          val src = corpus(r.nextInt(corpus.size))._2.split(" ")
          (i, src.slice(0, 4 + r.nextInt(math.max(1, src.length - 4))).mkString(" "))
        } else (i, doc(6 + r.nextInt(8)))
      }
      val n = 3
      def grams(text: String): Set[String] =
        text.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).toSet
      val benchGrams = bench.flatMap(b => grams(b._2)).toSet
      val expect = corpus
        .map { case (id, t) => id -> (grams(t) & benchGrams).size.toLong }
        .filter(_._2 > 0).toMap

      val got = Dedup.crossNgramOverlap(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "doc_id", "text", n)
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("property: crossNgramOverlapBloom == crossNgramOverlap (Bloom prefilter is lossless)") {
    import spark.implicits._
    import graft.dedup.Dedup
    // Tiny vocabulary: plenty of genuine overlap AND, at fpp=0.5,
    // plenty of Bloom false positives — the test proves the exact
    // confirm join scrubs them (no false negatives is the filter's
    // own guarantee; both directions together force result equality).
    val vocab = ('a' to 'h').map(_.toString)
    for (trial <- 1 to 3) {
      val r = new scala.util.Random(90 + trial)
      def doc(len: Int): String =
        Seq.fill(len)(vocab(r.nextInt(vocab.size))).mkString(" ")
      val corpus = (0L until 40L).map { i =>
        // include gram-less shorties (< n tokens) — must never surface
        (i, if (i % 13 == 0) "x" else doc(6 + r.nextInt(14)))
      }
      val bench = (100L until 110L).map { i =>
        if (i % 2 == 0) {
          val src = corpus(r.nextInt(corpus.size))._2.split(" ")
          (i, src.slice(0, 4 + r.nextInt(math.max(1, src.length - 4))).mkString(" "))
        } else (i, doc(5 + r.nextInt(8)))
      }
      val n = 3
      val exact = Dedup.crossNgramOverlap(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "doc_id", "text", n).as[(Long, Long)].collect().toMap
      for (fpp <- Seq(0.5, 0.01)) {
        val got = Dedup.crossNgramOverlapBloom(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          "doc_id", "text", n, fpp = fpp).as[(Long, Long)].collect().toMap
        assert(got == exact, s"trial $trial fpp=$fpp")
      }
    }
    // Gram-less benchmark (every doc shorter than n tokens): the
    // filter is built over zero hashes and must flag nothing.
    val empty = Dedup.crossNgramOverlapBloom(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"),
      Seq((9L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", 3).count()
    assert(empty == 0L)
  }

  test("property: dupWindowStats equals brute-force window counting; invariant to partitioning") {
    import spark.implicits._
    import graft.dedup.Dedup
    // Small vocabulary + short docs force plenty of genuine cross-doc
    // window collisions without planting them.
    val vocab = ('a' to 'f').map(_.toString)
    val w = 3
    for (trial <- 1 to 3) {
      val r = new scala.util.Random(70 + trial)
      def doc(len: Int): String =
        Seq.fill(len)(vocab(r.nextInt(vocab.size))).mkString(" ")
      // lengths straddle the window width: some docs fall below w
      val corpus = (0L until 40L).map(i => (i, doc(1 + r.nextInt(8))))
      def windows(text: String): Seq[String] =
        text.split("\\s+").filter(_.nonEmpty).sliding(w).filter(_.length == w)
          .map(_.mkString(" ")).toSeq
      val docWins = corpus.map { case (id, t) => id -> windows(t) }
      val dupSet = docWins
        .flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
        .groupBy(_._1).collect { case (g, occ) if occ.map(_._2).distinct.size >= 2 => g }
        .toSet
      val expect = docWins.collect { case (id, ws) if ws.nonEmpty =>
        val nd = ws.count(dupSet.contains).toLong
        id -> ((ws.size.toLong, nd, math.rint(nd.toDouble / ws.size * 1e6) / 1e6))
      }.toMap

      val base = corpus.toDF("doc_id", "text")
      def run(df: org.apache.spark.sql.DataFrame) =
        Dedup.dupWindowStats(df, "doc_id", "text", w)
          .as[(Long, Long, Long, Double)].collect()
          .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      val got = run(base)
      assert(got == expect, s"trial $trial: engine != brute force")
      assert(run(base.repartition(7)) == expect,
        s"trial $trial: output depends on partitioning")
    }
  }

  test("property: q63 prefix sum == driver cumsum; invariant to partition count") {
    import graft.SparkEntry
    // Driver-side reference: global cumsum over the q61 chunks in
    // (doc_id, chunk_seq) order — the single-partition semantics the
    // distributed prefix sum must reproduce exactly.
    val chunks = SparkEntry.queries("q61_chunking")(spark, sfDir)
      .select(col("doc_id"), col("chunk_seq"), col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var acc = 0L
    val expect = chunks.map { case (d, c, n) =>
      val row = (d, c, n, acc / 512L, acc % 512L)
      acc += n
      row
    }.toSeq

    def run(): Seq[(Long, Long, Long, Long, Long)] =
      SparkEntry.queries("q63_pack")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq

    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (nparts <- Seq("1", "2", "13", "32", "200")) {
        spark.conf.set("spark.sql.shuffle.partitions", nparts)
        assert(run() == expect,
          s"distributed prefix sum diverges from global cumsum at $nparts partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("property: globalPositions == driver sort index, invariant to partition count") {
    import spark.implicits._
    val rows = rnd.shuffle((0 until 500).map(i => (rnd.nextLong(), i.toLong)).toList)
    val df = rows.toDF("a", "b")
    val expect = rows.sortBy(t => (t._1, t._2)).zipWithIndex
      .map { case ((a, b), i) => (a, b, i.toLong) }.toSet
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (nparts <- Seq("1", "2", "13", "32", "200")) {
        spark.conf.set("spark.sql.shuffle.partitions", nparts)
        val got = Packing.globalPositions(df, Seq("a", "b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == expect, s"positions diverged at $nparts partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("redaction: crafted emails/URLs scrub in order, counts match removals") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val rows = Seq(
      // (text, n_urls, n_emails, redacted)
      ("mail me at a.b+c@ex-ample.co.uk today",
        0L, 1L, "mail me at <EMAIL> today"),
      ("see https://x.io/p?u=a@b.com and http://y.z/q",
        2L, 0L, "see <URL> and <URL>"), // the embedded address is URL, not email
      ("plain text, no pii 4.5@ @x .com", 0L, 0L, "plain text, no pii 4.5@ @x .com"),
      ("a@b.cd then https://h.tld", 1L, 1L, "<EMAIL> then <URL>"),
      ("", 0L, 0L, ""))
    val got = rows.map(_._1).toDF("text")
      .select(
        patternCount(col("text"), UrlPattern).as("nu"),
        redact(col("text"), UrlPattern, "<URL>").as("u"))
      .select(col("nu"),
        patternCount(col("u"), EmailPattern).as("ne"),
        redact(col("u"), EmailPattern, "<EMAIL>").as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == rows.map(t => (t._2, t._3, t._4)),
      s"redaction mismatch:\n${got.zip(rows).mkString("\n")}")
  }

  test("redaction: crafted phones/IPv4 scrub in order, range checks and " +
    "boundaries hold") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val rows = Seq(
      // (text, n_phones, n_ips, redacted)
      ("call +1 415 555 0100 now", 1L, 0L, "call <PHONE> now"),
      ("call (415) 555-0100 or 415.555.0100", 2L, 0L, "call <PHONE> or <PHONE>"),
      ("host 10.0.3.45 and 255.255.255.0", 0L, 2L, "host <IP> and <IP>"),
      // over-range octets and over-long runs must NOT match
      ("bad 999.999.999.999 and 256.1.1.1", 0L, 0L, "bad 999.999.999.999 and 256.1.1.1"),
      // digit-adjacent quad (\b) and version-string prefix must NOT match
      ("v1.2.3.4 and 51.2.3.45", 0L, 1L, "v1.2.3.4 and <IP>"),
      // bare digit runs (ids, years) are not phones
      ("order 4155550100 in 2026", 0L, 0L, "order 4155550100 in 2026"),
      // long digit/separator serial: the \b anchors refuse the
      // phone-shaped interior window (was 20<PHONE>1 pre-anchor)
      ("sn 20415-555-01001 ok", 0L, 0L, "sn 20415-555-01001 ok"),
      ("sn 415-555-01001 and 20415-555-0100", 0L, 0L,
        "sn 415-555-01001 and 20415-555-0100"),
      // zero-width anchors: adjacent phones one char apart both match
      ("415-555-0100,415.555.0101", 2L, 0L, "<PHONE>,<PHONE>"),
      // phone first, then IP, one of each in one doc
      ("+1 415 555 0100 at 10.0.0.1", 1L, 1L, "<PHONE> at <IP>"),
      ("", 0L, 0L, ""))
    val got = rows.map(_._1).toDF("text")
      .select(
        patternCount(col("text"), PhonePattern).as("np"),
        redact(col("text"), PhonePattern, "<PHONE>").as("p"))
      .select(col("np"),
        patternCount(col("p"), Ipv4Pattern).as("ni"),
        redact(col("p"), Ipv4Pattern, "<IP>").as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == rows.map(t => (t._2, t._3, t._4)),
      s"pii battery mismatch:\n${got.zip(rows).mkString("\n")}")
  }

  test("property: canonicalEqual invariant under row and column permutation") {
    import spark.implicits._
    val df = (1 to 30).map(i => (s"k$i", i % 7, i * 1.5)).toDF("k", "a", "b")
    val permuted = df.orderBy(rand(7)).select(col("b"), col("k"), col("a"))
    assert(XenaOps.canonicalEqual(df, permuted))
    val mutated = permuted.withColumn("b", col("b") + lit(1.0))
    assert(!XenaOps.canonicalEqual(df, mutated))
  }

  /** Independent in-memory BM25 (plain Scala, no Spark): the textbook
    * formulation with the same constants, fixed-point quantization and
    * rank rule as [[Retrieval.bm25TopK]]'s contract — a second
    * implementation, not a transcription of the first. */
  private def referenceBm25(
      corpus: Seq[(Long, String)],
      queries: Seq[(Long, String)],
      k: Int): Seq[(Long, Long, Long, Double)] = {
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val docToks = corpus.map { case (id, t) => id -> toks(t) }.filter(_._2.nonEmpty)
    val n = docToks.size
    val avgdl = docToks.map(_._2.size).sum.toDouble / n
    val df = docToks.flatMap(_._2.distinct).groupBy(identity).map { case (t, v) => t -> v.size }
    val (k1, b) = (1.2, 0.75)
    // HALF_UP like Spark's round(); math.rint would be HALF_EVEN
    def roundHalfUp(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    queries.flatMap { case (qid, qt) =>
      val qTerms = toks(qt).distinct.toSet
      val scored = docToks.flatMap { case (did, dts) =>
        val dl = dts.size
        val tf = dts.groupBy(identity).map { case (t, v) => t -> v.size }
        val matched = qTerms.toSeq.filter(tf.contains)
        if (matched.isEmpty) None
        else {
          val s9 = matched.map { t =>
            val f = tf(t)
            val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
            val term = idf * (f * (k1 + 1.0)) / (f + k1 * ((1.0 - b) + b * dl / avgdl))
            roundHalfUp(term * 1.0e9, 0).toLong
          }.sum
          Some((did, roundHalfUp(s9.toDouble / 1.0e9, 6)))
        }
      }
      scored.sortBy { case (did, s) => (-s, did) }.take(k).zipWithIndex
        .map { case ((did, s), i) => (qid, did, (i + 1).toLong, s) }
    }
  }

  test("property: bm25TopK == independent in-memory reference (10 seeded trials)") {
    import spark.implicits._
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "rare1", "rare2", "rare3")
    for (trial <- 1 to 10) {
      val corpus = (0L until 40L).map { i =>
        val len = 1 + rnd.nextInt(12)
        // skew toward the head of the list so df varies widely;
        // occasionally an empty doc (whitespace only)
        val text =
          if (rnd.nextInt(20) == 0) "  "
          else (0 until len).map(_ => words(math.min(rnd.nextInt(13), rnd.nextInt(13)))).mkString(" ")
        (i, text)
      }
      val queries = (100L until 105L).map { i =>
        (i, (0 until 3).map(_ => words(rnd.nextInt(13))).mkString(" "))
      }
      val got = Retrieval.bm25TopK(
        corpus.toDF("doc_id", "text"),
        queries.toDF("q_id", "text"), k = 5)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val want = referenceBm25(corpus, queries, k = 5)
        .sortBy(t => (t._1, t._3))
      assert(got == want, s"trial $trial:\n got $got\nwant $want")
    }
  }

  test("splitLeakage: planted cross-split twins land off-diagonal, in-split on") {
    import graft.dedup.Dedup
    import spark.implicits._
    // 1/2 near-twins across train/test; 3/4 near-twins inside train;
    // 5 unique — the splits table is the caller's own assignment
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "one two three four five six"),
      (4L, "one two three four five seven"),
      (5L, "totally unrelated text here now")
    ).toDF("doc_id", "text")
    val splits = Seq(
      (1L, "train"), (2L, "test"), (3L, "train"), (4L, "train"), (5L, "valid")
    ).toDF("doc_id", "split")
    val got = graft.ParityOracles.splitLeakageExact(docs, "doc_id", "text", splits,
      n = 2, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("test", "train") -> 1L, ("train", "train") -> 1L),
      s"leakage matrix $got")
    // the matrix totals must equal the raw pair count — no pair
    // dropped or double-counted by the labeling joins
    assert(got.values.sum ==
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5).count())
  }

  test("KllSketch: rank error within the advertised slack; merge-invariant " +
    "bound; exactQuantiles == sort-and-pick on seeded data") {
    import graft.functions.{KllSketch, KllSketchAgg}
    import spark.implicits._
    // 50k deterministic skewed doubles (quadratic spread + golden-ratio
    // scramble): no two runs differ, no convenient uniform structure
    val xs = (0 until 50000).map { i =>
      val j = (i * 2654435761L) % 50000
      (j * j).toDouble / 50000.0
    }
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")

    def sketchOf(parts: Int): KllSketch = KllSketch.deserialize(
      df.repartition(parts).agg(KllSketchAgg.kllSketch(col("v"), 256)).head()
        .getAs[Array[Byte]](0))
    val sorted = xs.sorted.toArray
    def exactRank(v: Double): Long = {
      // count(x <= v) via binary search on the sorted copy
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) <= v) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
    for (parts <- Seq(1, 7, 32)) {
      val sk = sketchOf(parts)
      assert(sk.n == 50000L)
      val slack = sk.rankSlack
      // probe the whole CDF: every 500th exact element
      val worst = (0 until 50000 by 500).map { i =>
        math.abs(graft.ParityOracles.estRank(sk, sorted(i)) - exactRank(sorted(i)))
      }.max
      assert(worst <= slack,
        s"parts=$parts: worst rank error $worst exceeds advertised slack $slack")
    }

    // the operator returns the exact rank-ceil(qN) element regardless
    // of sketch content
    val got = Quantiles.exactQuantiles(df, "v", Seq(0.1, 0.5, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val want = Seq(0.1, 0.5, 0.9, 1.0).map { q =>
      q -> sorted((math.ceil(q * 50000).toLong - 1L).toInt)
    }.toMap
    assert(got == want, s"got $got want $want")
  }

  test("splitLeakage: banded audit == exhaustive audit on near-identical twins") {
    import graft.dedup.Dedup
    import spark.implicits._
    // twins differ in ONE of 12 tokens (jaccard 10/12 of bigrams —
    // well above the 0.8 banding knee), planted across every split
    // combination; decoys share no grams
    def doc(seed: Int, last: String) =
      s"w${seed}a w${seed}b w${seed}c w${seed}d w${seed}e w${seed}f " +
        s"w${seed}g w${seed}h w${seed}i w${seed}j w${seed}k $last"
    val docs = (
      Seq((1L, doc(1, "x")), (2L, doc(1, "y")),   // train/test leak
        (3L, doc(2, "x")), (4L, doc(2, "y")),     // train/train benign
        (5L, doc(3, "x")), (6L, doc(3, "y"))) ++  // valid/test leak
        (7L to 12L).map(i => (i, doc(10 + i.toInt, "z")))
      ).toDF("doc_id", "text")
    val splits = Seq(
      (1L, "train"), (2L, "test"), (3L, "train"), (4L, "train"),
      (5L, "valid"), (6L, "test"), (7L, "train"), (8L, "test"),
      (9L, "valid"), (10L, "train"), (11L, "train"), (12L, "test")
    ).toDF("doc_id", "split")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val banded = toMap(Dedup.splitLeakage(docs, "doc_id", "text", splits))
    val exact = toMap(graft.ParityOracles.splitLeakageExact(docs, "doc_id", "text", splits))
    assert(banded == exact, s"banded $banded != exact $exact")
    assert(banded == Map(("test", "train") -> 1L, ("train", "train") -> 1L,
      ("test", "valid") -> 1L), s"unexpected matrix $banded")
  }
}
