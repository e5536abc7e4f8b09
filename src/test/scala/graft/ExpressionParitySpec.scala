package graft

import org.apache.spark.sql.functions._

import graft.functions.{HyperplaneSignature, IvfNearestCells, Md5Prefix64}

/** The native codegen'd expressions must be BIT-EQUAL to the
  * declarative forms they replaced — that identity is what keeps the
  * DuckDB oracles (which transcribe the declarative arithmetic) green.
  * Each test drives both the interpreted path (collect on tiny frames
  * falls back to eval) and whole-stage codegen, over adversarial
  * inputs: negative values, ties, unicode, empty strings.
  */
class ExpressionParitySpec extends SparkSpecBase {

  test("md5_prefix64 equals conv(substring(md5(s),1,15),16,10)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val strs = Seq("", " ", "a", "hello world", "naïve café — π≈3.14159", "\t\n",
      "0123456789abcdef" * 8) ++
      (0 until 500).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    val df = strs.toDF("s").repartition(4)
    val rows = df.select(
      Md5Prefix64(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("composed"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch on ${r}"))
    assert(rows.length == strs.length)
  }

  test("md5_prefix64 via SQL registration") {
    val spark2 = spark
    import spark2.implicits._
    Seq("x", "y").toDF("s").createOrReplaceTempView("mp64_t")
    val out = spark.sql(
      "SELECT md5_prefix64(s) = conv(substring(md5(s), 1, 15), 16, 10)::long FROM mp64_t")
      .collect()
    assert(out.forall(_.getBoolean(0)))
  }

  test("hyperplane_sig equals the HOF plane-literal formulation") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    val vecs = (0 until 200).map(_ => Seq.fill(dim)(rnd.nextGaussian())) ++
      Seq(Seq.fill(dim)(0.0)) ++ // all-zero vector: every dot == 0 -> all bits set
      // Ragged vectors (shorter AND longer than dim): the HOF's
      // zip_with pads with nulls, nulling every dot -> signature 0;
      // the native kernel must agree, not sign a partial sum.
      Seq(Seq.fill(dim - 3)(rnd.nextGaussian()), Seq.fill(dim + 5)(rnd.nextGaussian()),
        Seq.empty[Double])
    for (bits <- Seq(1, 6, 12); table <- Seq(0, 3)) {
      val df = vecs.toDF("v").select(col("v").cast("array<double>").as("v")).repartition(4)
      val rows = df.select(
        HyperplaneSignature(col("v"), dim, bits, table).as("native"),
        ParityOracles.lshSignatureHof(col("v"), dim, bits, table).as("hof"))
        .collect()
      rows.foreach(r =>
        assert(r.getLong(0) == r.getLong(1), s"bits=$bits table=$table: $r"))
    }
  }

  test("regex_tokens equals filter(split(lower(s)), length > 0)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(43)
    val strs = Seq("", " ", "  ", "Hello  World", "\ta\nb c\t", "ünïcödé ÅÄÖ tokens",
      "one", " leading", "trailing ", "a  b   c    d") ++
      (0 until 300).map { _ =>
        (0 until rnd.nextInt(8)).map(_ =>
          rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString).mkString(" " * (1 + rnd.nextInt(3)))
      }
    val df = strs.toDF("s").repartition(4)
    val rows = df.select(
      graft.functions.RegexTokens(col("s"), "\\s+", lowercase = true).as("native"),
      ParityOracles.tokensHof(col("s")).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"$r"))
    // Subword pattern too.
    val rows2 = df.select(
      graft.functions.RegexTokens(col("s"), "[^a-z0-9]+", lowercase = true).as("native"),
      filter(split(lower(col("s")), "[^a-z0-9]+"), t => length(t) > 0).as("hof"))
      .collect()
    rows2.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"$r"))
  }

  test("word_ngrams equals the transform/slice/array_join HOF") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(47)
    val arrays: Seq[Seq[String]] = Seq(Seq.empty[String], Seq("a"), Seq("a", "b")) ++
      (0 until 300).map(_ =>
        Seq.fill(rnd.nextInt(12))(rnd.alphanumeric.take(1 + rnd.nextInt(5)).mkString))
    val df = arrays.toDF("toks").repartition(4)
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = df.select(
        graft.functions.WordNgrams(col("toks"), n).as("native"),
        ParityOracles.wordNgramsHof(col("toks"), n).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n: $r"))
    }
  }

  test("rolling_hashes equals transform(charShingles, md5_prefix64)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(53)
    val strs = Seq("", "abc", "abcdefgh", "ünïcödé shingles — ok",
      "exactly8", "1234567") ++
      (0 until 200).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    val df = strs.toDF("s").repartition(4)
    for (k <- Seq(1, 4, 8)) {
      val rows = df.select(
        graft.functions.RollingHashes(col("s"), k).as("native"),
        ParityOracles.rollingHashesHof(col("s"), k).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k: $r"))
    }
  }

  test("winnow_minima equals the HOF window scan, including tie and degenerate cases") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(59)
    val arrays: Seq[Seq[Long]] = Seq(
      Seq.empty[Long], Seq(5L), Seq(3L, 3L, 3L), Seq(9L, 1L, 9L, 1L, 9L),
      Seq(1L, 2L, 3L, 4L, 5L), Seq(5L, 4L, 3L, 2L, 1L)) ++
      (0 until 300).map(_ =>
        Seq.fill(rnd.nextInt(30))(rnd.nextInt(10).toLong)) // dense ties
    val df = arrays.toDF("hs").repartition(4)
    for (w <- Seq(1, 2, 4, 7)) {
      val rows = df.select(
        graft.functions.WinnowMinima(col("hs"), w).as("native"),
        ParityOracles.winnowFromHashesHof(col("hs"), w).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"w=$w: $r"))
    }
  }

  test("band_buckets equals the md5/concat_ws/element_at HOF") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(67)
    for ((numHashes, bands) <- Seq((64, 16), (32, 8), (8, 4), (4, 4))) {
      // Exact-length signatures (the sketch-agg contract), including
      // zeros, Long extremes, ties — plus null slots, which concat_ws
      // SKIPS (and so must the kernel).
      val sigs: Seq[Seq[java.lang.Long]] =
        (0 until 200).map(_ => Seq.fill(numHashes)(
          java.lang.Long.valueOf(rnd.nextLong() & ((1L << 32) - 1)))) ++
        Seq(Seq.fill(numHashes)(java.lang.Long.valueOf(0L)),
          Seq.fill(numHashes)(java.lang.Long.valueOf(Long.MaxValue)),
          Seq.tabulate(numHashes)(i =>
            if (i % 3 == 0) null else java.lang.Long.valueOf(i.toLong)))
      val df = sigs.toDF("sig").repartition(4)
      val rows = df.select(
        graft.functions.BandBuckets(col("sig"), numHashes, bands).as("native"),
        ParityOracles.bandBucketsHof(col("sig"), numHashes, bands).as("hof"))
        .collect()
      rows.foreach { r =>
        val nat = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getInt(0), x.getString(1)))
        val hof = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getString(1)))
        assert(nat == hof, s"numHashes=$numHashes bands=$bands: $nat vs $hof")
      }
    }
  }

  test("band_buckets: NULL signature computes like the HOF (md5('') per band)") {
    // The HOF never null-escapes: element_at(NULL, i) is null and
    // concat_ws skips nulls, so a null sig yields md5("") in every
    // band. The kernel must agree (it used to null-intercept) —
    // reachable via the SQL-registered band_buckets even though the
    // sketch-agg pipeline never produces a null signature.
    val spark2 = spark
    import spark2.implicits._
    val df = Seq[Option[Seq[Long]]](None, Some(Seq(1L, 2L, 3L, 4L)))
      .toDF("sig")
    val rows = df.select(
      graft.functions.BandBuckets(col("sig"), 4, 2).as("native"),
      ParityOracles.bandBucketsHof(col("sig"), 4, 2).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0), "kernel must compute on a null sig, not null-escape")
      val nat = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getInt(0), x.getString(1)))
      val hof = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getString(1)))
      assert(nat == hof)
    }
    // And the SQL-registered form agrees with a literal NULL.
    val viaSql = spark.sql(
      "SELECT band_buckets(CAST(NULL AS ARRAY<BIGINT>), 4, 2)").collect()
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map(b => f"${b & 0xff}%02x").mkString
    assert(viaSql.head.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getInt(0), x.getString(1))) == Seq((0, emptyMd5), (1, emptyMd5)))
  }

  test("band_buckets via SQL registration") {
    val spark2 = spark
    import spark2.implicits._
    Seq(Seq(1L, 2L, 3L, 4L)).toDF("sig").createOrReplaceTempView("bb_t")
    val out = spark.sql(
      """SELECT band_buckets(sig, 4, 2) =
        |  array(struct(0, md5(concat_ws('_', sig[0], sig[1]))),
        |        struct(1, md5(concat_ws('_', sig[2], sig[3])))) FROM bb_t""".stripMargin)
      .collect()
    assert(out.forall(_.getBoolean(0)))
  }

  test("ivf_nearest_cells equals the HOF struct-sort formulation") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 8
    val nlist = 7
    val centroids: Seq[Seq[Long]] =
      (0 until nlist).map(_ => Seq.fill(dim)(rnd.nextInt(2000000).toLong - 1000000))
    // Duplicate one centroid to force exact distance ties — the
    // (dist, cell) tie-break must pick the lower cell in both forms.
    val tied = centroids.updated(5, centroids(2))
    val qvs = (0 until 300).map(_ => Seq.fill(dim)(rnd.nextInt(2000000).toLong - 1000000)) ++
      tied // query exactly at a duplicated centroid: dist 0 tie
    val centroidsLit = typedlit(tied)
    for (limit <- Seq(1, 3, nlist)) {
      val df = qvs.toDF("qv").repartition(4)
      val rows = df.select(
        IvfNearestCells(col("qv"), tied, limit).as("native"),
        slice(ParityOracles.nearestCellsHof(col("qv"), centroidsLit, nlist), 1, limit)
          .getField("cell").as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"limit=$limit: $r")
      }
    }
  }

  test("padded_char_grams equals the per-token substr HOF") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(61)
    // Non-empty tokens only: the tokenizer contract (RegexTokens drops
    // empties) is the kernel's declared domain.
    // Sample whole CODE POINTS (never half a surrogate pair) \u2014 broken
    // UTF-16 is outside the tokenizer's producible domain.
    def cps(s: String): IndexedSeq[String] =
      s.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toIndexedSeq
    val alphabets = Seq("abcde", "\u00e9\u00fc\u00df\u00f1o", "\u4e16\u754c\u8bed\u8a00",
      "ab" + new String(Character.toChars(0x1D54F))).map(cps) // incl. a non-BMP code point
    val arrays: Seq[Seq[String]] = Seq(Seq("a"), Seq("ab", "c"),
      Seq(new String(Character.toChars(0x1D54F)))) ++
      (0 until 300).map { _ =>
        val alpha = alphabets(rnd.nextInt(alphabets.length))
        Seq.fill(1 + rnd.nextInt(6)) {
          val n = 1 + rnd.nextInt(7)
          (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        }
      }
    val df = arrays.toDF("toks").repartition(4)
    val rows = df.select(
      graft.functions.PaddedCharGrams(col("toks")).as("native"),
      ParityOracles.gramsHof(col("toks")).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"$r"))
    assert(rows.length == arrays.length)
  }

  test("bpe_pieces equals size(foldLeft(applyMerge)) on random merge chains") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(67)
    val docs = ((0 until 200).map { i =>
      val words = Seq.fill(1 + rnd.nextInt(10)) {
        new String(Array.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(4)).toChar))
      }
      (i.toLong, words.mkString(" "))
    } :+ ((1000L, "aaa aaaa \u00e9\u00e9\u00e9"))).toDF("doc_id", "text")
    // Cascading merge chains: later merges consume earlier fusions.
    val mergeTables: Seq[Seq[(String, String)]] = Seq(
      Seq.empty,
      Seq(("a", "a")),
      Seq(("a", "a"), ("aa", "a")),
      Seq(("a", "b"), ("ab", "c"), ("b", "a"), ("c", "d"), ("abc", "d")),
      Seq(("\u00e9", "\u00e9")))
    mergeTables.foreach { pairs =>
      val merges = pairs.zipWithIndex.map { case ((x, y), i) =>
        graft.ops.Quality.BpeMerge(i + 1, x, y, x + y, 0L)
      }
      val native = graft.ops.Quality.bpeEncode(docs, merges)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val hof = ParityOracles.bpeEncodeHof(docs, merges)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(native == hof, s"merge table $pairs")
    }
  }

  test("LangId.classify equals the expand-join-window reference") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(71)
    val langs = Seq("aa", "bb", "cc", "uu")
    val train = (0 until 120).map { i =>
      val lang = langs(i % langs.length)
      // Skewed per-language alphabets so profiles differ but overlap;
      // 'uu' mixes multibyte and non-BMP code points to pin the
      // profile tie-break to BINARY string order (UTF8String), not
      // UTF-16 String.compareTo.
      val alpha: IndexedSeq[String] = (lang match {
        case "aa" => "abcdx"; case "bb" => "cdefx"; case "cc" => "efghx"
        case _ => "abé世" + new String(Character.toChars(0x1D54F))
      }).codePoints().toArray.map(cp => new String(Character.toChars(cp))).toIndexedSeq
      val words = Seq.fill(3 + rnd.nextInt(10)) {
        (0 until 1 + rnd.nextInt(6)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      (i.toLong, words.mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
    for (topM <- Seq(3, 16, 64)) {
      val profiles = graft.ops.LangId.langProfiles(train, "lang", "text", topM)
      def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val fast = asMap(graft.ops.LangId.classify(train, "doc_id", "text", profiles, topM))
      val ref = asMap(ParityOracles.classifyJoin(train, "doc_id", "text", profiles, topM))
      assert(fast == ref, s"topM=$topM")
      assert(fast.size == 120)
      // selfClassify (one shared gram pass) == fit-then-classify
      val self = asMap(graft.ops.LangId.selfClassify(train, "doc_id", "lang", "text", topM))
      assert(self == ref, s"selfClassify topM=$topM")
    }
  }

  test("LangId.classify tie-break follows UTF-8 byte order for " +
    "supplementary-plane language labels") {
    val spark2 = spark
    import spark2.implicits._
    // U+FFFF (3-byte UTF-8) vs U+10000 (4-byte, a surrogate pair in
    // UTF-16): Scala String ordering puts the surrogate pair FIRST
    // (0xD800 < 0xFFFF), UTF-8 byte order puts it LAST (0xEF < 0xF0).
    // The argmin tie-break must follow Catalyst's binary order, i.e.
    // the declarative classifyJoin's row_number.
    val langHi = "\uffff"
    val langSupp = new String(Character.toChars(0x10000))
    // identical training text for both labels -> identical profiles ->
    // every document's distance ties; the winner is purely the tie-break
    val train = Seq(
      (1L, "abc abd abe", langHi),
      (2L, "abc abd abe", langSupp)).toDF("doc_id", "text", "lang")
    val profiles = graft.ops.LangId.langProfiles(train, "lang", "text", 16)
    val docs = Seq((10L, "abc ab"), (11L, "abd abe")).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val fast = asMap(graft.ops.LangId.classify(docs, "doc_id", "text", profiles, 16))
    val ref = asMap(ParityOracles.classifyJoin(docs, "doc_id", "text", profiles, 16))
    assert(fast == ref)
    assert(fast.values.forall(_._1 == langHi),
      s"tie must resolve to the UTF-8-smaller label U+FFFF, got $fast")
  }

  test("term_counts equals explode → groupBy(count) on a row-unique key") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(41)
    // ties, unicode, near-duplicates differing only by case, a token
    // containing a space (possible for n-gram inputs), singletons
    val vocab = Seq("a", "b", "the", "naïve", "π≈3", "x y", "A", "ab", "abc")
    val docs = (0L until 300L).map { i =>
      (i, Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))))
    } :+ (1000L, Seq.empty[String]) // empty array -> no rows from either form
    val df = docs.toDF("doc_id", "tk").repartition(4)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2))
    val native = df.select(col("doc_id"),
      explode(graft.functions.TermCounts(col("tk"))).as(Seq("tok", "cnt")))
      .collect().map(key).sorted.toSeq
    val reference = df.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .collect().map(key).sorted.toSeq
    assert(native == reference)
    assert(native.nonEmpty)
  }
}
