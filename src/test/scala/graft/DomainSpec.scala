package graft

import org.apache.spark.sql.functions._

import graft.io.XenaMetadata
import graft.model.DTypes
import graft.ops.XenaOps
import graft.transform.GdcTransforms

/** Unit specs for the domain layer: registry completeness, scalar ops,
  * metadata renders, CLI. Fixture-level correctness vs DuckDB is the
  * gate's job (tools/check_correctness.py); these cover behavior the
  * gate can't (driver-side ops, sink contracts, exit codes).
  */
class DomainSpec extends SparkSpecBase {

  test("registry covers all 22 omic dtypes + clinical + survival") {
    assert(DTypes.registry.size == 24)
    assert(DTypes.duplicatedDtypes.subsetOf(DTypes.registry.keySet))
    // every raw-file dtype dispatches without throwing strategy errors
    val rawBacked = DTypes.registry.values.count {
      case c => c.strategy match {
        case _: DTypes.SampleColumnsMatrix | _: DTypes.SegmentMatrix | DTypes.MafVector => true
        case _ => false
      }
    }
    assert(rawBacked == 22)
  }

  test("getExt matches the reference's first-supported-extension rule") {
    import spark.implicits._
    val rows = Seq(
      "a.uuid.rna_seq.augmented_star_gene_counts.tsv" -> "tsv",
      "b.uuid.wxs.aliquot_ensemble_masked.maf.gz" -> "maf.gz",
      "archive.tar.gz" -> "tar.gz",
      "weird_name_no_ext" -> "weird_name_no_ext",
      "x.unknownext" -> "unknownext")
    val out = rows.map(_._1).toDF("f")
      .select(XenaOps.getExt(col("f"))).as[String].collect()
    assert(out.toSeq == rows.map(_._2))
  }

  test("dedupColumns keeps first occurrence") {
    import spark.implicits._
    val df = Seq((1, 2, 3)).toDF("a", "b", "a")
    val out = XenaOps.dedupColumns(df)
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.head.getInt(0) == 1)
  }

  test("remapSamples maps known ids, keeps unknown, dedups") {
    import spark.implicits._
    val df = Seq(("s1", 1.0), ("s2", 1.0), ("s9", 2.0)).toDF("sample", "v")
    val mapping = Seq(("s1", "c1"), ("s2", "c1")).toDF("sample", "case_id")
    val out = XenaOps.remapSamples(df, mapping, "sample", "case_id")
      .orderBy("sample").collect()
    // s1 and s2 both map to c1 with equal rows -> deduped to one
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("c1", 1.0), ("s9", 2.0)))
  }

  test("metadata renders valid JSON with template-matching keys") {
    val vars0 = XenaMetadata.Vars(xenaCohort = "GDC TCGA-XX", date = "08-12-2026",
      gdcRelease = Some("Data Release 39.0"), notes = Some("test"))
    for ((dtype, cfg) <- DTypes.registry) {
      val vars = XenaMetadata.dtypeVariables.get(dtype).map(_(vars0)).getOrElse(vars0)
      val json = XenaMetadata.render(cfg.metadataKind, vars)
      // parse with Spark's JSON reader — structural validity check
      import spark.implicits._
      val parsed = spark.read.json(Seq(json).toDS())
      assert(!parsed.columns.contains("_corrupt_record"), s"$dtype renders invalid JSON: $json")
      assert(parsed.columns.contains("cohort") && parsed.columns.contains("type") ||
        cfg.metadataKind == "clinical" || cfg.metadataKind == "survival")
      assert(json.contains("\"version\":\"08-12-2026\""))
      assert(json.contains("Data Release 39.0"))
    }
  }

  test("tumorNormalPairedSamples keeps only paired groups' tumors") {
    import spark.implicits._
    val fs = Seq(
      ("f1", "s1", "Tumor"), ("f1", "s2", "Normal"),
      ("f2", "s3", "Tumor"), ("f2", "s4", "Tumor")).toDF("id", "sample", "tissue_type")
    val out = GdcTransforms.tumorNormalPairedSamples(fs, "id", "sample", "tissue_type")
      .as[(String, String)].collect().toSet
    assert(out == Set(("f1", "s1")))
  }

  test("dupClusters: chain, clique and singletons all get component-min labels") {
    import spark.implicits._
    import graft.dedup.Dedup
    // chain 1-2-3-4-5-6-7-8 (stresses pointer jumping: diameter 7),
    // clique {10,11,12}, singletons 20, 21
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("doc_a", "doc_b")
    val nodes = ((1L to 8L) ++ Seq(10L, 11L, 12L, 20L, 21L)).toDF("doc_id")
    val got = Dedup.dupClusters(nodes, edges, "doc_id")
      .as[(Long, Long)].collect().toMap
    (1L to 8L).foreach(i => assert(got(i) == 1L, s"chain node $i"))
    Seq(10L, 11L, 12L).foreach(i => assert(got(i) == 10L, s"clique node $i"))
    assert(got(20L) == 20L && got(21L) == 21L)
    assert(got.size == 13)
    // Force the DISTRIBUTED label-propagation path (threshold 0) and
    // require identical labels from the driver union-find fast path.
    val distributed = Dedup.dupClusters(nodes, edges, "doc_id",
      smallGraphThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(distributed == got, "driver fast path != distributed propagation")
  }

  test("dupClusters contract on dangling edge ids: connect but never label") {
    import spark.implicits._
    import graft.dedup.Dedup
    // id 3 appears in edges but NOT in nodes (filtered out upstream):
    // it must CONNECT 5 and 6 into one component, must not become the
    // cluster label (even though 3 < 5), and must not emit a row.
    val nodes = Seq(5L, 6L, 9L).toDF("doc_id")
    val edges = Seq((3L, 5L), (3L, 6L)).toDF("doc_a", "doc_b")
    val expect = Map(5L -> 5L, 6L -> 5L, 9L -> 9L)
    val fast = Dedup.dupClusters(nodes, edges, "doc_id")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.dupClusters(nodes, edges, "doc_id", smallGraphThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == expect, s"fast path: $fast")
    assert(dist == expect, s"distributed path: $dist")
  }

  test("dupWindowStats: cross-doc spans flagged, within-doc repeats and short docs are not") {
    import spark.implicits._
    import graft.dedup.Dedup
    val span = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 tokens
    val docs = Seq(
      // A and B share the 8-token span verbatim inside longer text →
      // each has exactly one duplicated window position.
      (1L, s"unique one two three $span"),
      (2L, s"$span different tail here now"),
      // C: 8+ tokens, no cross-doc window → zero dups.
      (3L, "nothing here matches any other document at all ever"),
      // D: 7 tokens — below the window width, excluded from output.
      (4L, "too short to window at seven tokens"),
      // E: repeats ITS OWN window twice (within-doc repeat) but shares
      // nothing across docs → its positions must not count as dups.
      (5L, s"mike november oscar papa quebec romeo sierra tango " +
        "mike november oscar papa quebec romeo sierra tango")
    ).toDF("doc_id", "text")
    val got = Dedup.dupWindowStats(docs, "doc_id", "text", w = 8)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 5L), s"got $got") // doc 4 excluded
    // A: 12 tokens → 5 windows; only the final window (the span) dups.
    assert(got(1L) == ((5L, 1L, 0.2)))
    // B: 12 tokens → 5 windows; only the first window (the span) dups.
    assert(got(2L) == ((5L, 1L, 0.2)))
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0)
    // E: 16 tokens → 9 windows, all repeats are intra-doc only.
    assert(got(5L)._2 == 0L, s"within-doc repeat counted as cross-doc dup: ${got(5L)}")

    // Span REMOVAL over the same fixture: doc 1 (min id) owns the
    // shared span and keeps every token; doc 2 loses exactly the
    // 8-token span (its tokens 1-8) and keeps the 4-token tail; docs
    // 3 and 5 (no cross-doc window) and doc 4 (< w tokens) pass
    // through untrimmed.
    val trimmed = Dedup.trimDupSpans(docs, "doc_id", "text", w = 8)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(trimmed.keySet == Set(1L, 2L, 3L, 4L, 5L)) // trim covers ALL docs
    assert(trimmed(1L) == ((12L, 0L, s"unique one two three $span")))
    assert(trimmed(2L) == ((12L, 8L, "different tail here now")))
    assert(trimmed(3L)._2 == 0L && trimmed(4L)._2 == 0L && trimmed(5L)._2 == 0L)
    assert(trimmed(4L)._3 == "too short to window at seven tokens")
  }

  test("decontaminateTrim: benchmark spans cut from every corpus occurrence, no ownership") {
    import spark.implicits._
    import graft.dedup.Dedup
    val span = "alpha bravo charlie delta echo" // 5 tokens
    val corpus = Seq(
      // both corpus docs carry the benchmark span — BOTH lose it
      // (unlike trimDupSpans there is no canonical keeper)
      (1L, s"head words here $span"),
      (2L, s"$span tail words"),
      // clean doc passes through
      (3L, "completely unrelated clean text stays put"),
      // short doc (< w tokens) passes through
      (4L, "four short tokens only")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"benchmark question says $span verbatim")).toDF("doc_id", "text")
    val got = Dedup.decontaminateTrim(corpus, bench, "doc_id", "text", w = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((8L, 5L, "head words here")))
    assert(got(2L) == ((7L, 5L, "tail words")))
    assert(got(3L)._2 == 0L)
    assert(got(4L) == ((4L, 0L, "four short tokens only")))
  }

  test("keepBestPerCluster: max quality survives, min id on ties, singletons kept") {
    import spark.implicits._
    import graft.dedup.Dedup
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)).toDF("doc_id", "cluster_id")
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (9L, 0.1)).toDF("doc_id", "quality")
    val got = Dedup.keepBestPerCluster(clusters, scored, "doc_id", "quality")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // cluster 1: quality tie 0.9 between ids 2 and 3 -> smaller id 2
    assert(got == Map(1L -> ((2L, 0.9)), 9L -> ((9L, 0.1))))
  }

  test("tokenBudgetPerKey equals the naive per-key window cumsum, at any bucket count") {
    import spark.implicits._
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    // weights sized so every key hits its budget mid-stream
    val rows = (1L to 200L).map(i => (i, s"src${i % 3}", 7L + i % 5))
    val df = rows.toDF("doc_id", "source", "n_tokens")
    val budget = 300L
    // reference: the naive single-window formulation
    val ord = graft.functions.Md5Prefix64(
      concat(lit("budget_"), col("doc_id").cast("string")))
    val w = Window.partitionBy("source").orderBy(ord, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = df
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select("doc_id", "source", "n_tokens", "cum_before")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(naive.nonEmpty && naive.size < rows.size, "fixture must straddle the budget")
    for (buckets <- Seq(1, 4, 256)) {
      val got = Sampling.tokenBudgetPerKey(df, "source", "doc_id", "n_tokens",
        budget, nBuckets = buckets)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == naive, s"bucketed ($buckets) != naive window cumsum")
    }
  }

  test("weightedSample == driver-side Efraimidis-Spirakis reference; partition-invariant") {
    import spark.implicits._
    import graft.ops.Sampling
    val rows = (1L to 300L).map(i => (i, s"g${i % 4}", 1.0 + (i % 7).toDouble))
    val df = rows.toDF("id", "grp", "w")
    // independent reference: same u, same monotone key, plain Scala topk
    def k9(id: Long, w: Double): Long = {
      val h = graft.functions.HashKernels.md5Prefix64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"ws_$id"))
      val u = (h.toDouble + 0.5) / 1152921504606846976.0
      BigDecimal(math.log(u) / w * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val want = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.sortBy(r => (-k9(r._1, r._3), r._1)).take(10)
        .zipWithIndex.map { case ((id, _, w), i) => (id, g, w, i + 1L) }
    }.toSet
    for (parts <- Seq(1, 13)) {
      val got = Sampling.weightedSample(
        df.repartition(parts), "id", "grp", col("w"), k = 10)
        .as[(Long, String, Double, Long)].collect().toSet
      assert(got == want, s"weightedSample at $parts partitions != reference")
    }
    // heavier rows must be overrepresented: the max-weight stratum's
    // sample share exceeds its population share in every group
    val heavyShare = want.count(_._3 == 7.0).toDouble / want.size
    assert(heavyShare > 1.0 / 7.0, f"weight-7 stratum not overrepresented: $heavyShare%.3f")
    // non-positive weight fails loudly, never ranks garbage
    val err = intercept[Exception] {
      Sampling.weightedSample(
        Seq((1L, "g", 0.0)).toDF("id", "grp", "w"), "id", "grp", col("w"), k = 1)
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("CLI sample: weighted sample verb == q104 operator rows") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_sample").toString
    assert(graft.Cli.run(Array("sample", "-i", docs, "-o", s"$tmp/out",
      "-k", "12", "--group", "source", "--weight", "ln(1 + n_chars)")) == 0)
    val got = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "source", "rank").collect().map(_.toSeq).toSet
    val want = SparkEntry.q104WeightedSample(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "rank").collect().map(_.toSeq).toSet
    assert(got == want, s"CLI rows ${got.size} != q104 rows ${want.size}")
  }

  test("weightedSample edges: k past group size, singleton groups, equal weights") {
    import spark.implicits._
    import graft.ops.Sampling
    // k > group size: every row returned, ranks dense 1..n
    val small = Seq((1L, "g", 2.0), (2L, "g", 3.0), (9L, "solo", 1.0))
      .toDF("id", "grp", "w")
    val all = Sampling.weightedSample(small, "id", "grp", col("w"), k = 10)
      .as[(Long, String, Double, Long)].collect().sortBy(r => (r._2, r._4))
    assert(all.length == 3)
    assert(all.filter(_._2 == "g").map(_._4).toSeq == Seq(1L, 2L))
    assert(all.filter(_._2 == "solo").map(_._4).toSeq == Seq(1L))
    // equal weights: the draw degenerates to the md5-uniform order —
    // still a lawful sample, still deterministic across partitionings
    val eq = (1L to 100L).map(i => (i, "g", 1.0)).toDF("id", "grp", "w")
    val a = Sampling.weightedSample(eq.repartition(1), "id", "grp", col("w"), k = 5)
      .as[(Long, String, Double, Long)].collect().toSet
    val b = Sampling.weightedSample(eq.repartition(17), "id", "grp", col("w"), k = 5)
      .as[(Long, String, Double, Long)].collect().toSet
    assert(a == b && a.size == 5)
  }

  test("weighted reservoir: k may shrink between merges; empty batch is a no-op merge") {
    import spark.implicits._
    import graft.streaming.StreamSample
    val tmp = java.nio.file.Files.createTempDirectory("graft_ws_edges").toString
    val rows = (1L to 40L).map(i => (i, s"g${i % 2}", 1.0 + (i % 5).toDouble))
      .toDF("id", "grp", "w")
    StreamSample.mergeBatch(rows, s"$tmp/s", "id", "grp", col("w"), k = 7)
    // shrink: re-merging ANY batch at a smaller k re-tops the store
    StreamSample.mergeBatch(rows.limit(0), s"$tmp/s", "id", "grp", col("w"), k = 3)
    val got = spark.read.parquet(s"$tmp/s/sample")
      .select("id", "grp", "rank").collect().map(_.toSeq).toSet
    val want = graft.ops.Sampling.weightedSample(rows, "id", "grp", col("w"), k = 3)
      .select("id", "grp", "rank").collect().map(_.toSeq).toSet
    assert(got == want, "shrunk reservoir != batch sample at the smaller k")
    // empty batch at the same k: store byte-for-byte unchanged
    StreamSample.mergeBatch(rows.limit(0), s"$tmp/s", "id", "grp", col("w"), k = 3)
    assert(spark.read.parquet(s"$tmp/s/sample")
      .select("id", "grp", "rank").collect().map(_.toSeq).toSet == want)
  }

  test("weighted reservoir: interrupted swap recovers from _old on the next merge") {
    import spark.implicits._
    import graft.streaming.StreamSample
    val tmp = java.nio.file.Files.createTempDirectory("graft_ws_crash").toString
    val rows = (1L to 30L).map(i => (i, "g", 1.0 + (i % 3).toDouble)).toDF("id", "grp", "w")
    StreamSample.mergeBatch(rows, s"$tmp/s", "id", "grp", col("w"), k = 5)
    val before = spark.read.parquet(s"$tmp/s/sample").collect().map(_.toSeq).toSet
    // simulate a crash between the two swap renames: sample moved
    // aside to _old, replacement never activated
    val dir = java.nio.file.Paths.get(s"$tmp/s")
    java.nio.file.Files.move(dir.resolve("sample"), dir.resolve("_old"))
    StreamSample.mergeBatch(rows.limit(0), s"$tmp/s", "id", "grp", col("w"), k = 5)
    assert(spark.read.parquet(s"$tmp/s/sample").collect().map(_.toSeq).toSet == before,
      "recovery from _old lost the reservoir")
  }

  test("CLI sample --stream: reservoir store == batch sample over the landings") {
    import spark.implicits._
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_wss").toString
    spark.read.parquet(docs).coalesce(1).write.parquet(s"$tmp/in")
    assert(graft.Cli.run(Array("sample", "--stream", "-i", s"$tmp/in",
      "-o", s"$tmp/store", "--checkpoint", s"$tmp/ckpt", "-k", "9")) == 0)
    val got = spark.read.parquet(s"$tmp/store/sample")
      .select("doc_id", "source", "rank").collect().map(_.toSeq).toSet
    // the CLI's default weight (ln(2 + n_chars) — nonzero on empty
    // docs so the non-positive-weight guard only fires on genuinely
    // bad expressions)
    val want = graft.ops.Sampling.weightedSample(
      spark.read.parquet(docs), "doc_id", "source",
      org.apache.spark.sql.functions.expr("ln(2 + n_chars)"), k = 9)
      .select("doc_id", "source", "rank").collect().map(_.toSeq).toSet
    assert(got == want, s"CLI stream store ${got.size} != batch sample ${want.size}")
  }

  test("CLI drift-stream: ledger rows == batchDrift of the landing") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_drift").toString
    spark.read.parquet(docs).coalesce(1).write.parquet(s"$tmp/in")
    graft.ops.LmStore.createAt(spark, spark.read.parquet(docs), s"$tmp/lm")
    assert(graft.Cli.run(Array("drift-stream", "-i", s"$tmp/in", "-s", s"$tmp/lm",
      "-o", s"$tmp/ledger", "--checkpoint", s"$tmp/ckpt")) == 0)
    val got = spark.read.parquet(s"$tmp/ledger")
      .select("source", "n_tokens", "n_oov", "kl").collect().map(_.toSeq).toSet
    val want = graft.streaming.StreamDrift.batchDrift(
      spark, s"$tmp/lm", spark.read.parquet(docs), "source")
      .collect().map(_.toSeq).toSet
    assert(got == want, s"CLI ledger ${got.size} != batchDrift ${want.size}")
  }

  test("CLI eval-stream: ledger row == batchEval of the labeled landing") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_eval").toString
    val d = spark.read.parquet(docs)
    graft.ops.NbStore.createAt(spark, d.filter(col("doc_id") % 2 === 0),
      col("lang") === "en", s"$tmp/nb")
    val audit = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), (col("lang") === "en").cast("int").as("y"))
    audit.coalesce(1).write.parquet(s"$tmp/in")
    assert(graft.Cli.run(Array("eval-stream", "-i", s"$tmp/in", "-s", s"$tmp/nb",
      "-o", s"$tmp/ledger", "--checkpoint", s"$tmp/ckpt")) == 0)
    val got = spark.read.parquet(s"$tmp/ledger/batch=0").collect()(0).toSeq
    val want = graft.streaming.EvalStream.batchEval(spark, s"$tmp/nb", audit, "y")
      .collect()(0).toSeq
    assert(got == want, s"CLI ledger row $got != batchEval $want")
  }

  test("CLI corpus-diff / vocab-size / lm-store --oov: outputs re-derive " +
    "from their operators") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_diff").toString
    val d = spark.read.parquet(docs)
    d.filter(col("doc_id") % 3 =!= 0).write.parquet(s"$tmp/prev")
    d.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$tmp/now")
    assert(graft.Cli.run(Array("corpus-diff", "--prev", s"$tmp/prev",
      "--now", s"$tmp/now", "-o", s"$tmp/diff")) == 0)
    val gotDiff = spark.read.parquet(s"$tmp/diff").collect().map(_.toSeq).toSet
    val wantDiff = graft.ops.CorpusDiff.diff(
        spark.read.parquet(s"$tmp/prev"), spark.read.parquet(s"$tmp/now"))
      .collect().map(_.toSeq).toSet
    assert(gotDiff == wantDiff)

    assert(graft.Cli.run(Array("vocab-size", "-i", docs, "-o", s"$tmp/vs")) == 0)
    val gotVs = spark.read.parquet(s"$tmp/vs").collect().map(_.toSeq).toSet
    val wantVs = graft.ops.CorpusStats.vocabSize(d, "lang", "text")
      .collect().map(_.toSeq).toSet
    assert(gotVs == wantVs)

    graft.ops.LmStore.createAt(spark, d.filter(col("doc_id") % 2 === 0), s"$tmp/lm")
    d.filter(col("doc_id") % 2 === 1).write.parquet(s"$tmp/arr")
    assert(graft.Cli.run(Array("lm-store", "--oov", "-i", s"$tmp/arr",
      "-s", s"$tmp/lm", "-o", s"$tmp/oov")) == 0)
    val gotOov = spark.read.parquet(s"$tmp/oov").collect().map(_.toSeq).toSet
    val wantOov = graft.ops.LmStore.oovReport(
        spark, s"$tmp/lm", spark.read.parquet(s"$tmp/arr"))
      .collect().map(_.toSeq).toSet
    assert(gotOov == wantOov)
  }

  test("CLI psi-store / evaluate --mode calibration: outputs re-derive " +
    "from their operators") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_psi").toString
    val ref = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
    ref.write.parquet(s"$tmp/ref")
    assert(graft.Cli.run(Array("psi-store", "--create", "-i", s"$tmp/ref",
      "-s", s"$tmp/psi")) == 0)
    val arr = (20 to 60).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
    arr.write.parquet(s"$tmp/arr")
    assert(graft.Cli.run(Array("psi-store", "-i", s"$tmp/arr",
      "-s", s"$tmp/psi", "-o", s"$tmp/rep")) == 0)
    val gotPsi = spark.read.parquet(s"$tmp/rep").collect().map(_.toSeq).toSet
    val wantPsi = graft.ops.PsiStore.psi(spark, s"$tmp/psi",
        spark.read.parquet(s"$tmp/arr"), "value")
      .collect().map(_.toSeq).toSet
    assert(gotPsi == wantPsi)

    val scored = (0 until 40)
      .map(i => (i.toLong, (i % 7).toDouble - 3.0, if (i % 3 == 0) 1 else 0))
      .toDF("doc_id", "log_odds", "y")
    scored.write.parquet(s"$tmp/scored")
    assert(graft.Cli.run(Array("evaluate", "--mode", "calibration",
      "-i", s"$tmp/scored", "-o", s"$tmp/cal", "--bins", "4")) == 0)
    val gotCal = spark.read.parquet(s"$tmp/cal").collect().map(_.toSeq).toSet
    val wantCal = graft.ops.Eval.calibration(scored, "doc_id", "log_odds", "y", 4)
      .collect().map(_.toSeq).toSet
    assert(gotCal == wantCal)
  }

  test("CLI hll-store: growth and ingest re-derive from the operators") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_hll").toString
    val ref = Seq((1L, "en", "aa bb cc"), (2L, "de", "dd")).toDF("doc_id", "lang", "text")
    ref.write.parquet(s"$tmp/ref")
    assert(graft.Cli.run(Array("hll-store", "--create", "-i", s"$tmp/ref",
      "-s", s"$tmp/hll", "--p", "10")) == 0)
    val batch = Seq((3L, "en", "ee ff")).toDF("doc_id", "lang", "text")
    batch.write.parquet(s"$tmp/batch")
    assert(graft.Cli.run(Array("hll-store", "--growth", "-i", s"$tmp/batch",
      "-s", s"$tmp/hll", "-o", s"$tmp/rep")) == 0)
    val got = spark.read.parquet(s"$tmp/rep").collect().map(_.toSeq).toSet
    val want = graft.ops.HllStore.growth(spark, s"$tmp/hll",
        spark.read.parquet(s"$tmp/batch"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(graft.Cli.run(Array("hll-store", "--ingest", "-i", s"$tmp/batch",
      "-s", s"$tmp/hll")) == 0)
    val zero = graft.ops.HllStore.growth(spark, s"$tmp/hll",
        spark.read.parquet(s"$tmp/batch"))
      .collect().map(r => r.getDouble(3)).toSeq
    assert(zero.forall(_ == 0.0), "ingest did not fold the batch")
  }

  test("CLI cms-store: create + surge re-derive from the operators") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_cms").toString
    val ref = Seq((1L, "aa aa bb"), (2L, "bb cc cc cc")).toDF("doc_id", "text")
    ref.write.parquet(s"$tmp/ref")
    assert(graft.Cli.run(Array("cms-store", "--create", "-i", s"$tmp/ref",
      "-s", s"$tmp/cms", "--d", "3", "--w", "256")) == 0)
    val batch = Seq((3L, "cc zz zz")).toDF("doc_id", "text")
    batch.write.parquet(s"$tmp/batch")
    assert(graft.Cli.run(Array("cms-store", "--surge", "-i", s"$tmp/batch",
      "-s", s"$tmp/cms", "-o", s"$tmp/rep", "-k", "5")) == 0)
    val got = spark.read.parquet(s"$tmp/rep").collect().map(_.toSeq).toSet
    val want = graft.ops.CmsStore.surge(spark, s"$tmp/cms",
        spark.read.parquet(s"$tmp/batch"), k = 5)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.exists(r => r.head == "zz"), s"novel token missing: $got")
  }

  test("CLI data-card: every section re-derives from its own operator") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_card").toString
    val d = spark.read.parquet(docs)
    assert(graft.Cli.run(Array("data-card", "-i", docs, "-o", tmp,
      "--budget", "20000", "--epochs", "2")) == 0)
    val json = scala.io.Source.fromFile(s"$tmp/card.json").mkString
    import spark.implicits._
    val card = spark.read.json(Seq(json).toDS).collect()(0)
    assert(card.getAs[Long]("n_docs") == d.count())
    val wantTokens = d.filter(col("text").isNotNull)
      .agg(sum(size(graft.functions.TextFunctions.tokens(col("text")))))
      .collect()(0).getLong(0)
    assert(card.getAs[Long]("n_tokens") == wantTokens)
    // dedup section vs the operators themselves
    val dd = card.getAs[org.apache.spark.sql.Row]("dedup")
    assert(dd.getAs[Long]("exact_groups") ==
      graft.dedup.Dedup.exact(d, "doc_id", "text").count())
    assert(dd.getAs[Long]("near_dup_pairs") ==
      graft.dedup.Dedup.ngramJaccardPairs(d, "doc_id", "text", 2, 0.8, 100L).count())
    // composition sections: languages cover the corpus, buckets are 3
    // per lang, mixture honors the cap
    val langs = card.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("languages")
    assert(langs.map(_.getAs[Long]("n_docs")).sum == d.count())
    val buckets = card.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("quality_buckets")
    assert(buckets.size == langs.size * 3)
    val mix = card.getAs[org.apache.spark.sql.Row]("mixture_plan")
    assert(mix.getAs[Long]("budget") == 20000L)
    val allocs = mix.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("allocations")
    assert(allocs.map(_.getAs[Double]("epochs")).forall(_ <= 2.0))
    assert(allocs.map(_.getAs[Long]("alloc_tokens")).sum <= 20000L)
  }

  test("data card v2: the drift section re-derives from each frozen monitor store") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = d.filter(col("doc_id") % 5 =!= 0)
    val arrivals = d.filter(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_card_drift").toString
    graft.ops.LangIdStore.createAt(spark, ref, s"$tmp/lid", topM = 16)
    graft.ops.HllStore.createAt(spark, ref, s"$tmp/hll")
    graft.ops.TokStore.createAt(spark, ref, s"$tmp/tok", nMerges = 5)
    graft.ops.PsiStore.createAt(spark,
      ref.select(col("doc_id"), col("n_chars")), "n_chars", s"$tmp/psi")
    graft.ops.CmsStore.createAt(spark, ref, s"$tmp/cms")
    val json = graft.ops.DataCard.build(spark, arrivals,
      drift = graft.ops.DataCard.DriftStores(
        langIdStore = Some(s"$tmp/lid"),
        hllStore = Some(s"$tmp/hll"),
        tokStore = Some(s"$tmp/tok"),
        psiStore = Some((s"$tmp/psi", "n_chars")),
        cmsStore = Some(s"$tmp/cms")))
    val card = spark.read.json(Seq(json).toDS()).collect()(0)
    val drift = card.getAs[org.apache.spark.sql.Row]("drift")
    type Rows = scala.collection.Seq[org.apache.spark.sql.Row]
    // each family equals its own oracle-gated monitor's output
    val lm = drift.getAs[org.apache.spark.sql.Row]("lang_mix")
    val wantMix = graft.ops.LangIdStore.mixDrift(spark, s"$tmp/lid", arrivals)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(4))).toSeq
    val gotMix = lm.getAs[Rows]("rows").map(r => (r.getAs[String]("lang"),
      r.getAs[Long]("n_docs"), r.getAs[Double]("share_delta"))).toSeq
    assert(gotMix == wantMix)
    assert(lm.getAs[Double]("max_abs_share_delta") ==
      wantMix.map(t => math.abs(t._3)).max)
    val vg = drift.getAs[org.apache.spark.sql.Row]("vocab_growth")
    val wantGrowth = graft.ops.HllStore.growth(spark, s"$tmp/hll", arrivals)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getDouble(3))).toSeq
    assert(vg.getAs[Rows]("rows").map(r =>
      (r.getAs[String]("lang"), r.getAs[Double]("est_growth"))).toSeq == wantGrowth)
    val tf = drift.getAs[org.apache.spark.sql.Row]("tokenizer_fertility")
    val wantFert = graft.ops.TokStore.fertilityDrift(spark, s"$tmp/tok", arrivals)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getDouble(4))).toSeq
    assert(tf.getAs[Rows]("rows").map(r =>
      (r.getAs[String]("lang"), r.getAs[Double]("pieces_per_word"))).toSeq == wantFert)
    val ps = drift.getAs[org.apache.spark.sql.Row]("psi")
    assert(ps.getAs[String]("column") == "n_chars")
    val wantPsi = graft.ops.PsiStore.psi(spark, s"$tmp/psi", arrivals, "n_chars")
      .collect().flatMap(r => if (r.isNullAt(7)) None else Some(r.getDouble(7))).sum
    assert(math.abs(ps.getAs[Double]("psi_total") -
      math.rint(wantPsi * 1e6) / 1e6) < 1e-9)
    // CMS surge section == the q135 probe verbatim (k = 20)
    val hs = drift.getAs[org.apache.spark.sql.Row]("hitter_surge")
    val wantSurge = graft.ops.CmsStore.surge(spark, s"$tmp/cms", arrivals, k = 20)
      .orderBy(col("n_batch").desc, col("token")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(hs.getAs[Rows]("rows").map(r => (r.getAs[String]("token"),
      r.getAs[Long]("n_batch"), r.getAs[Long]("est_ref"),
      r.getAs[Double]("surge_ratio"))).toSeq == wantSurge)
    assert(hs.getAs[Double]("max_surge_ratio") == wantSurge.map(_._4).max)
    // no stores -> no drift section at all (card schema unchanged)
    val plain = graft.ops.DataCard.build(spark, arrivals)
    assert(!plain.contains("\"drift\""))
  }

  test("CLI evaluate + mixture-plan: verbs == library paths") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_eval2").toString
    // retrieval mode over a tiny ranked fixture
    import spark.implicits._
    Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("query_id", "doc_id", "rank").write.parquet(s"$tmp/res")
    Seq((1L, 10L), (1L, 12L), (2L, 99L))
      .toDF("query_id", "doc_id").write.parquet(s"$tmp/truth")
    assert(graft.Cli.run(Array("evaluate", "--mode", "retrieval",
      "-i", s"$tmp/res", "-t", s"$tmp/truth", "-o", s"$tmp/rout", "-k", "3")) == 0)
    val wantPer = graft.ops.Eval.retrievalMetrics(
      spark.read.parquet(s"$tmp/res"), spark.read.parquet(s"$tmp/truth"), 3)
      .collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$tmp/rout/per_query")
      .collect().map(_.toSeq).toSet == wantPer)
    assert(spark.read.parquet(s"$tmp/rout/summary").count() == 1)
    // classifier mode over the NB scores, grouped and ungrouped
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val d = spark.read.parquet(docs)
    graft.ops.Quality.naiveBayesLogOdds(d, col("lang") === "en")
      .join(d.select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("int").as("y")), Seq("doc_id"))
      .write.parquet(s"$tmp/scored")
    assert(graft.Cli.run(Array("evaluate", "--mode", "classifier",
      "-i", s"$tmp/scored", "-o", s"$tmp/cout")) == 0)
    assert(spark.read.parquet(s"$tmp/cout").collect().map(_.toSeq).toSeq ==
      graft.ops.Eval.classifierMetrics(
        spark.read.parquet(s"$tmp/scored"), "log_odds", "predicted", "y")
        .collect().map(_.toSeq).toSeq)
    assert(graft.Cli.run(Array("evaluate", "--mode", "classifier",
      "-i", s"$tmp/scored", "-o", s"$tmp/gout", "--group", "source")) == 0)
    assert(spark.read.parquet(s"$tmp/gout").count() == 20)
    // mixture plan == q113's operator on the same grouping
    assert(graft.Cli.run(Array("mixture-plan", "-i", docs, "-o", s"$tmp/mix",
      "--group", "lang", "--budget", "20000")) == 0)
    val per = d.filter(col("text").isNotNull)
      .select(col("lang").as("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").cast("long").as("n_tokens"))
    assert(spark.read.parquet(s"$tmp/mix").collect().map(_.toSeq).toSet ==
      graft.ops.Mixture.tokenBudgetAllocation(per, 20000L, 2L)
        .collect().map(_.toSeq).toSet)
  }

  test("CLI curate-pipeline: output == q79, ledger is consistent") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_curate").toString
    assert(graft.Cli.run(Array("curate-pipeline", "-i", docs, "-o", tmp)) == 0)

    // The verb (default thresholds, hash-split valid benchmark) must
    // reproduce the oracle-gated q79 row set exactly — one code path.
    val got = spark.read.parquet(s"$tmp/corpus")
      .select("doc_id", "source", "n_tokens", "lang", "quality")
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.q79CurationPipeline(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "n_tokens", "lang", "quality")
      .collect().map(_.toSeq).toSet
    assert(got == want, s"CLI rows ${got.size} != q79 rows ${want.size}")

    val ledgerJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "ledger.json")), "UTF-8")
    val counts = """"stage": "([a-z_]+)", "rows": (\d+)""".r
      .findAllMatchIn(ledgerJson).map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(counts.keySet == Set("input", "dedup_survivors", "quality_gated",
      "decontaminated", "token_budgeted", "final_tokens"), counts.toString)
    // pipeline stages only ever shrink the corpus, and the parquet
    // row count is the ledger's final stage count
    assert(counts("input") == 500L)
    assert(counts("dedup_survivors") <= counts("input"))
    assert(counts("quality_gated") <= counts("dedup_survivors"))
    assert(counts("decontaminated") <= counts("quality_gated"))
    assert(counts("token_budgeted") <= counts("decontaminated"))
    assert(counts("token_budgeted") == got.size.toLong)
    // budget: no source exceeds its 10k-token allowance
    val bySource = spark.read.parquet(s"$tmp/corpus")
      .groupBy("source").agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    bySource.foreach { case (s, t) => assert(t <= 10000L, s"$s over budget: $t") }
    assert(counts("final_tokens") == bySource.map(_._2).sum)
  }

  test("CLI curate-pipeline --seed: quality ledger measures each stage's filter " +
    "against the label; decontamination audit retrieves zero leakage afterwards") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_curate_q").toString
    assert(graft.Cli.run(Array("curate-pipeline", "-i", docs, "-o", tmp,
      "--seed", "lang = 'en'")) == 0)

    // same corpus as the plain verb — the quality ledger is metrology,
    // never a behavior change
    val got = spark.read.parquet(s"$tmp/corpus")
      .select("doc_id", "source", "n_tokens", "lang", "quality")
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.q79CurationPipeline(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "n_tokens", "lang", "quality")
      .collect().map(_.toSeq).toSet
    assert(got == want, s"--seed changed the curated corpus: ${got.size} vs ${want.size}")

    val ledgerJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "ledger.json")), "UTF-8")
    val rows = """"stage": "([a-z_]+)", "rows": (\d+), "tokens": (\d+), "precision": ([0-9.]+|null), "recall": ([0-9.]+|null)""".r
      .findAllMatchIn(ledgerJson)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(5)))).toMap
    assert(rows.keySet == Set("input", "dedup_survivors", "quality_gated",
      "decontaminated", "token_budgeted"), rows.toString)
    // the input stage keeps everything: recall of the label is exactly 1
    assert(rows("input")._2 == "1.0", s"input recall ${rows("input")._2}")
    // recall can only fall as stages drop documents
    val order = Seq("input", "dedup_survivors", "quality_gated",
      "decontaminated", "token_budgeted")
    val recalls = order.map(s => rows(s)._2.toDouble)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b <= a },
      s"label recall rose across a shrinking pipeline: $recalls")

    // decontamination audit: leakage retrievable before, gone after
    val audit = spark.read.parquet(s"$tmp/decontam_audit")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2)))).toMap
    assert(audit.keySet == Set("before_decontam", "after_decontam"), audit.toString)
    assert(audit("before_decontam")._2 > 0.0,
      s"benchmark leakage should be retrievable pre-decontam: $audit")
    assert(audit("after_decontam")._2 == 0.0,
      s"decontaminated corpus still retrieves leakage: $audit")
  }

  test("curation lang source is pluggable: withCtLang relabels with the CT " +
    "classifier and the pipeline's output lang agrees with LangId.selfClassify") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val relabeled = graft.ops.Curation.withCtLang(docs)
    // per-doc agreement with the oracle-gated operator: ONE lang-ID surface
    val viaOp = graft.ops.LangId.selfClassify(docs, "doc_id", "lang", "text")
      .select(col("doc_id"), col("pred_lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaCol = relabeled.filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaCol == viaOp, "withCtLang disagrees with LangId.selfClassify")
    // and the pipeline consumes the relabeled column: every curated
    // row's lang is the CT prediction for that document
    val bench = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    val out = graft.ops.Curation.pipeline(relabeled, bench).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(viaOp(id) == r.getAs[String]("lang"), s"doc $id lang mismatch")
    }
    // mixed-provenance corpus: null incoming labels are excluded from
    // the fit (no null-language profile row, no argmin NPE) and the
    // labeled documents' predictions are unchanged by the null rows
    val mixed = docs.withColumn("lang",
      when(col("doc_id") % 7 === 0, lit(null: String)).otherwise(col("lang")))
    val relabeledMixed = graft.ops.Curation.withCtLang(mixed)
    val viaMixed = relabeledMixed.filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaOpLabeled = graft.ops.LangId.selfClassify(
      mixed.filter(col("lang").isNotNull), "doc_id", "lang", "text")
      .select(col("doc_id"), col("pred_lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc (null-labeled included) classifies under the profiles
    // fit on the LABELED subset
    assert(viaMixed.keySet.size >= viaOpLabeled.size,
      s"null-labeled docs lost their predictions: ${viaMixed.size}")
    viaOpLabeled.foreach { case (id, lang) =>
      assert(viaMixed(id) == lang, s"doc $id lang moved under mixed labels")
    }

    // store-backed source: withStoreLang == withCtLang when the store
    // was fit on the same corpus (the q136-vs-q49 contract)
    val lidPath = java.nio.file.Files
      .createTempDirectory("graft_curation_store_lang").toString + "/lid"
    graft.ops.LangIdStore.createAt(spark, docs, lidPath, topM = 64)
    val viaStore = graft.ops.Curation.withStoreLang(spark, lidPath, docs)
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaStore == viaCol, "withStoreLang diverged from withCtLang on the same fit")

    // a store frozen on the MIXED corpus stays internally consistent:
    // the mix excludes null labels exactly as the profile fit does —
    // no phantom lang=null reference row (a permanent vanished-language
    // alarm mixDrift could never clear), no train_share diluted by
    // documents the profiles never saw
    val mixedPath = java.nio.file.Files
      .createTempDirectory("graft_mixed_store_lang").toString + "/lid"
    graft.ops.LangIdStore.createAt(spark, mixed, mixedPath, topM = 16)
    val mixRows = spark.read.parquet(s"$mixedPath/mix")
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(!mixRows.contains(None), s"null label leaked into the frozen mix: $mixRows")
    assert(math.abs(mixRows.values.sum - 1.0) < 1e-4,
      s"train_share diluted by excluded null-label docs: $mixRows")
    val mixedDrift = graft.ops.LangIdStore.mixDrift(spark, mixedPath, mixed)
    assert(mixedDrift.filter(col("lang").isNull).count() == 0,
      "mixDrift emitted a phantom null-language row")
  }

  test("band-store retune-on-breach: a skewed store re-bands with a bucket cap " +
    "and keeps planted links; a balanced store is a logged no-op") {
    import spark.implicits._
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    // reference: 2 originals + 30 verbatim boilerplate copies (whose
    // identical signatures flood one bucket per band — the skew)
    val reference = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten")) ++
      (100L until 130L).map(i => (i, boiler))).toDF("doc_id", "text")
    val twins = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      (4L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_band_retune").toString
    graft.dedup.BandStore.createAt(spark, reference, "doc_id", "text", s"$path/bs",
      n = 2, numHashes = 64, bands = 16, buckets = 8)
    def links(table: String, cap: Long) =
      graft.dedup.BandStore.linkNew(spark, table, twins, reference,
        "doc_id", "text", threshold = 0.5, n = 2, numHashes = 64, bands = 16,
        maxBucketSize = cap)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = graft.dedup.BandStore.retuneIfSkewed(spark, s"$path/bs", reference,
      "doc_id", "text", maxCandPairsPerDoc = 50.0, cappedBucketSize = 8L)
    assert(d.retuned, s"boilerplate-flooded store should breach: $d")
    assert(d.candPairsPerDoc > 50.0 && d.maxBucket >= 30L, d.toString)
    // link parity: the re-banded (capped) store still finds the twins —
    // the cap dropped only the boilerplate mass
    val (table2, (_, _, _, _, cap2)) = graft.dedup.BandStore.attach(spark, s"$path/bs")
    assert(cap2 == 8L,
      s"retuned store must persist its bucket cap in the sidecar, got $cap2")
    val got = links(table2, 8L)
    assert(got.contains((1L, 2L)) && got.contains((3L, 4L)),
      s"retuned store lost planted links: $got")
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "bs", "retune.json")), "UTF-8")
    assert(log.contains("\"retuned\":true"), log)
    // balanced store: unique texts, same thresholds -> logged no-op
    val balanced = (0L until 20L)
      .map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"))
      .toDF("doc_id", "text")
    graft.dedup.BandStore.createAt(spark, balanced, "doc_id", "text", s"$path/ok",
      n = 2, numHashes = 64, bands = 16, buckets = 8)
    val d2 = graft.dedup.BandStore.retuneIfSkewed(spark, s"$path/ok", balanced,
      "doc_id", "text", maxCandPairsPerDoc = 50.0, cappedBucketSize = 8L)
    assert(!d2.retuned, d2.toString)
    val log2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "ok", "retune.json")), "UTF-8")
    assert(log2.contains("\"retuned\":false"), log2)
  }

  test("sig-band-store retune-on-breach: chunk-collision skew re-bands from the " +
    "store's own rows and keeps twin links; balanced store is a logged no-op") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    // 30 items share the low 16 bits (collide in band 0 at bands=4,
    // 16-bit chunks; DISTINCT at bands=2, 32-bit chunks) + 2 twin
    // pairs at hamming <= 3 (inside the bands=2 guaranteed radius).
    def lo16(x: Long) = (x & ~0xffffL) | 0xabcdL
    val skewed = (0 until 30).map(i => (s"s$i", lo16(rnd.nextLong())))
    val a = rnd.nextLong(); val b = rnd.nextLong()
    val twins = Seq(
      ("t1", a), ("t1_twin", a ^ 7L),          // hamming 3
      ("t2", b), ("t2_twin", b ^ 1L))          // hamming 1
    val path = java.nio.file.Files.createTempDirectory("graft_sig_retune").toString
    graft.dedup.SigBandStore.createAt(spark,
      (skewed ++ twins.take(1) ++ twins.slice(2, 3)).toDF("name", "sig"),
      "name", "sig", s"$path/ss", sigBits = 64, bands = 4, buckets = 8)
    val d = graft.dedup.SigBandStore.retuneIfSkewed(spark, s"$path/ss",
      maxCandPairsPerItem = 5.0, newBands = 2)
    assert(d.retuned, s"chunk-collision skew should breach: $d")
    // the rebuild used the store's own rows; attach sees the new bands
    val (table2, (sigBits2, bands2, _)) =
      graft.dedup.SigBandStore.attach(spark, s"$path/ss")
    assert(bands2 == 2 && sigBits2 == 64)
    // mass actually dropped: a second measurement at the same
    // threshold is now a no-op
    val d2 = graft.dedup.SigBandStore.retuneIfSkewed(spark, s"$path/ss",
      maxCandPairsPerItem = 5.0, newBands = 2)
    assert(!d2.retuned && d2.candPairsPerItem < d.candPairsPerItem, s"$d -> $d2")
    // link parity: twins still found through the re-banded store
    val got = graft.dedup.SigBandStore.linkNew(spark, table2,
      twins.filter(_._1.endsWith("_twin")).toDF("name", "sig"),
      "name", "sig", maxDist = 3, sigBits = 64, bands = 2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.contains(("t1", "t1_twin")) && got.contains(("t2", "t2_twin")),
      s"retuned sig store lost twin links: $got")
    // retune.json tracks the LATEST decision — the post-rebuild
    // re-measurement above, a no-op at the already-retuned bands=2
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "ss", "retune.json")), "UTF-8")
    assert(log.contains("\"retuned\":false") && log.contains("\"bands\":2"), log)
  }

  test("CLI dedup/curate/vocab: training-data subcommands produce sane outputs") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_llm").toString

    assert(graft.Cli.run(Array("dedup", "-i", docs, "-o", s"$tmp/clusters")) == 0)
    val clusters = spark.read.parquet(s"$tmp/clusters")
    assert(clusters.columns.toSeq == Seq("doc_id", "cluster_id"))
    val total = clusters.count()
    assert(total == 500)
    val survivors = clusters.filter(col("doc_id") === col("cluster_id")).count()
    assert(survivors > 0 && survivors <= total)

    assert(graft.Cli.run(Array(
      "dedup", "-i", docs, "-o", s"$tmp/near", "--mode", "near")) == 0)
    val near = spark.read.parquet(s"$tmp/near")
    assert(near.count() == 500)
    // near-dup clustering can only merge MORE than exact dedup
    val nearSurvivors = near.filter(col("doc_id") === col("cluster_id")).count()
    assert(nearSurvivors <= survivors)

    assert(graft.Cli.run(Array(
      "curate", "-i", docs, "-o", s"$tmp/curated", "--min-quality", "0.4")) == 0)
    val curated = spark.read.parquet(s"$tmp/curated")
    assert(curated.count() > 0 && curated.count() <= 500)
    assert(curated.columns.contains("text"))

    assert(graft.Cli.run(Array(
      "vocab", "-i", docs, "-o", s"$tmp/vocab.tsv", "-k", "10")) == 0)
    val vocab = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$tmp/vocab.tsv")
    assert(vocab.count() == 10)
    assert(vocab.columns.toSeq == Seq("token", "n"))

    assert(graft.Cli.run(Array(
      "dup-windows", "-i", docs, "-o", s"$tmp/dupwin")) == 0)
    val dupwin = spark.read.parquet(s"$tmp/dupwin")
    assert(dupwin.columns.toSeq ==
      Seq("doc_id", "n_windows", "n_dup_windows", "dup_frac"))
    // every doc with >= 8 tokens reports; counts are consistent
    assert(dupwin.filter(col("n_dup_windows") > col("n_windows")).count() == 0)
    assert(dupwin.count() > 0)

    assert(graft.Cli.run(Array(
      "dedup-trim", "-i", docs, "-o", s"$tmp/trimmed")) == 0)
    val trimmed = spark.read.parquet(s"$tmp/trimmed")
    assert(trimmed.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_removed", "trimmed_text"))
    assert(trimmed.filter(col("n_removed") > col("n_tokens")).count() == 0)
    assert(trimmed.count() == 500) // trim emits every non-null-text doc

    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    assert(graft.Cli.run(Array(
      "semantic-dedup", "-i", emb, "-o", s"$tmp/semdedup")) == 0)
    val sem = spark.read.parquet(s"$tmp/semdedup")
    assert(sem.columns.toSeq == Seq("vec_id", "cell", "cos_centroid", "kept"))
    assert(sem.count() == 500)
    assert(sem.filter(col("kept") === 0).count() > 0, "default threshold drops nothing")
  }

  test("CLI quality/link/classify: data-selection subcommands produce sane outputs") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_sel").toString

    assert(graft.Cli.run(Array(
      "quality", "-i", docs, "-o", s"$tmp/lm", "--mode", "unigram-lm")) == 0)
    val lm = spark.read.parquet(s"$tmp/lm")
    assert(lm.columns.toSeq == Seq("doc_id", "n_tokens", "avg_logprob"))
    assert(lm.count() == 500)
    assert(lm.filter(col("avg_logprob") >= 0).count() == 0, "log-probs must be negative")

    assert(graft.Cli.run(Array(
      "quality", "-i", docs, "-o", s"$tmp/iw",
      "--mode", "importance", "--target-where", "lang = 'en'")) == 0)
    val iw = spark.read.parquet(s"$tmp/iw")
    assert(iw.columns.toSeq == Seq("doc_id", "lang", "n_tokens", "logweight"))
    assert(iw.count() == 500)

    assert(graft.Cli.run(Array(
      "quality", "-i", docs, "-o", s"$tmp/nov", "--mode", "novelty")) == 0)
    val nov = spark.read.parquet(s"$tmp/nov")
    assert(nov.columns.toSeq == Seq("doc_id", "n_grams", "n_unique", "uniq_frac"))
    assert(nov.filter(col("n_unique") > col("n_grams")).count() == 0)

    // link: batch (odd ids) vs reference (even ids) — matches the
    // q86 contract: doc_a from the reference, doc_b from the batch,
    // jaccard >= threshold
    val odd = s"$tmp/odd"
    val even = s"$tmp/even"
    spark.read.parquet(docs).filter(col("doc_id") % 2 === 1)
      .write.parquet(odd)
    spark.read.parquet(docs).filter(col("doc_id") % 2 === 0)
      .write.parquet(even)
    assert(graft.Cli.run(Array(
      "link", "-i", odd, "-r", even, "-o", s"$tmp/links")) == 0)
    val links = spark.read.parquet(s"$tmp/links")
    assert(links.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    assert(links.filter(col("doc_a") % 2 =!= 0 || col("doc_b") % 2 =!= 1).count() == 0)
    assert(links.filter(col("jaccard") < 0.8).count() == 0)

    // the same link THROUGH a persisted band store: identical rows
    assert(graft.Cli.run(Array(
      "band-store", "--create", "-i", even, "-s", s"$tmp/bstore")) == 0)
    assert(graft.Cli.run(Array(
      "link", "-i", odd, "-r", even, "-s", s"$tmp/bstore",
      "-o", s"$tmp/links2")) == 0)
    val links2 = spark.read.parquet(s"$tmp/links2")
    assert(links2.exceptAll(links).isEmpty && links.exceptAll(links2).isEmpty,
      "store-backed link diverged from the in-memory join")

    assert(graft.Cli.run(Array(
      "classify", "-i", emb, "-o", s"$tmp/labels",
      "--queries-where", "vec_id % 50 = 0", "-k", "10")) == 0)
    val labels = spark.read.parquet(s"$tmp/labels")
    assert(labels.columns.toSeq == Seq("query_id", "predicted_label", "n_votes"))
    assert(labels.count() == 10)
    assert(labels.filter(col("n_votes") < 1 || col("n_votes") > 10).count() == 0)
  }

  test("CLI retrieve/corpus-stats/quality-buckets: corpus-analysis subcommands") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_corpus").toString

    // retrieve --queries-where: CLI output == the q88 operator run
    assert(graft.Cli.run(Array(
      "retrieve", "-i", docs, "-o", s"$tmp/hits",
      "--queries-where", "doc_id % 25 = 0", "-k", "10")) == 0)
    val hits = spark.read.parquet(s"$tmp/hits")
    assert(hits.columns.toSeq == Seq("query_id", "doc_id", "rank", "score"))
    val direct = SparkEntry.queries("q88_bm25_topk")(spark, "/root/testdata/sf0.001")
    assert(hits.exceptAll(direct).isEmpty && direct.exceptAll(hits).isEmpty,
      "CLI retrieve diverged from the q88 operator")
    // --mode tfidf routes to the cosine scorer (== the q98 operator)
    assert(graft.Cli.run(Array(
      "retrieve", "-i", docs, "-o", s"$tmp/hits_tfidf", "--mode", "tfidf",
      "--queries-where", "doc_id % 25 = 0", "-k", "10")) == 0)
    val tfidfHits = spark.read.parquet(s"$tmp/hits_tfidf")
    val tfidfDirect = SparkEntry.queries("q98_tfidf_topk")(spark, "/root/testdata/sf0.001")
    assert(tfidfHits.exceptAll(tfidfDirect).isEmpty &&
      tfidfDirect.exceptAll(tfidfHits).isEmpty,
      "CLI retrieve --mode tfidf diverged from the q98 operator")
    // query docs are excluded from their own corpus
    assert(hits.filter(col("doc_id") % 25 === 0).count() == 0)

    // the same retrieval THROUGH a persisted posting store: identical
    // rows, no corpus re-tokenize at probe time
    val corpusOnly = s"$tmp/corpus"
    spark.read.parquet(docs).filter(col("doc_id") % 25 =!= 0)
      .write.parquet(corpusOnly)
    assert(graft.Cli.run(Array(
      "posting-store", "--create", "-i", corpusOnly, "-s", s"$tmp/pstore")) == 0)
    val queriesOnly = s"$tmp/queries"
    spark.read.parquet(docs).filter(col("doc_id") % 25 === 0)
      .write.parquet(queriesOnly)
    assert(graft.Cli.run(Array(
      "retrieve", "-i", corpusOnly, "-q", queriesOnly,
      "-s", s"$tmp/pstore", "-o", s"$tmp/hits2", "-k", "10")) == 0)
    val hits2 = spark.read.parquet(s"$tmp/hits2")
    assert(hits2.exceptAll(hits).isEmpty && hits.exceptAll(hits2).isEmpty,
      "store-backed retrieve diverged from the in-memory scoring")

    // --max-term-df: the capped CLI probe == the q137 operator (store
    // path, same 375 cap), and differs from the uncapped rows — the
    // hatch is exercised, not vacuous
    assert(graft.Cli.run(Array(
      "retrieve", "-i", corpusOnly, "-q", queriesOnly,
      "-s", s"$tmp/pstore", "-o", s"$tmp/hits_cap", "-k", "10",
      "--max-term-df", "375")) == 0)
    val hitsCap = spark.read.parquet(s"$tmp/hits_cap")
    val cappedDirect = SparkEntry.queries("q137_bm25_capped")(
      spark, "/root/testdata/sf0.001")
    assert(hitsCap.exceptAll(cappedDirect).isEmpty &&
      cappedDirect.exceptAll(hitsCap).isEmpty,
      "CLI --max-term-df diverged from the q137 operator")
    assert(hitsCap.exceptAll(hits2).count() > 0,
      "df cap changed nothing — the hatch is vacuous on this corpus")

    // tf-idf THROUGH the store needs the frozen norms: refused before
    // the freeze, == the q141 operator (and the in-memory tfidf rows)
    // after it
    val eNoNorms = intercept[RuntimeException](graft.Cli.run(Array(
      "retrieve", "-i", corpusOnly, "-q", queriesOnly, "--mode", "tfidf",
      "-s", s"$tmp/pstore", "-o", s"$tmp/hits_tf2", "-k", "10")))
    assert(eNoNorms.getMessage.contains("freezeNorms"))
    assert(graft.Cli.run(Array(
      "posting-store", "--freeze-norms", "-s", s"$tmp/pstore")) == 0)
    assert(graft.Cli.run(Array(
      "retrieve", "-i", corpusOnly, "-q", queriesOnly, "--mode", "tfidf",
      "-s", s"$tmp/pstore", "-o", s"$tmp/hits_tf2", "-k", "10")) == 0)
    val tfStore = spark.read.parquet(s"$tmp/hits_tf2")
    val tfIndexed = SparkEntry.queries("q141_tfidf_indexed")(
      spark, "/root/testdata/sf0.001")
    assert(tfStore.exceptAll(tfIndexed).isEmpty && tfIndexed.exceptAll(tfStore).isEmpty,
      "CLI store tfidf diverged from the q141 operator")
    assert(tfStore.exceptAll(tfidfHits).isEmpty && tfidfHits.exceptAll(tfStore).isEmpty,
      "frozen-norm store tfidf diverged from the in-memory q98 rows")

    assert(graft.Cli.run(Array(
      "corpus-stats", "-i", docs, "-o", s"$tmp/hh",
      "--mode", "hitters", "--min-count", "500")) == 0)
    val hh = spark.read.parquet(s"$tmp/hh")
    assert(hh.columns.toSeq == Seq("token", "cnt"))
    assert(hh.filter(col("cnt") < 500).count() == 0)
    assert(hh.count() > 0)

    assert(graft.Cli.run(Array(
      "corpus-stats", "-i", docs, "-o", s"$tmp/pmi",
      "--mode", "pmi", "--window", "3", "--min-pair", "5", "-k", "20")) == 0)
    val pmi = spark.read.parquet(s"$tmp/pmi")
    assert(pmi.columns.toSeq == Seq("x", "y", "pair_cnt", "pmi"))
    assert(pmi.count() <= 20)
    assert(pmi.filter(col("x") > col("y")).count() == 0, "pairs must be unordered (x <= y)")

    assert(graft.Cli.run(Array(
      "quality", "-i", docs, "-o", s"$tmp/qb", "--mode", "buckets")) == 0)
    val qb = spark.read.parquet(s"$tmp/qb")
    assert(qb.columns.toSeq ==
      Seq("lang", "bucket", "n_docs", "mean_logprob", "min_logprob", "max_logprob"))
    assert(qb.filter(col("bucket") < 1 || col("bucket") > 3).count() == 0)

    assert(graft.Cli.run(Array(
      "quality", "-i", docs, "-o", s"$tmp/blm", "--mode", "bigram-lm")) == 0)
    val blm = spark.read.parquet(s"$tmp/blm")
    assert(blm.columns.toSeq == Seq("doc_id", "n_bigrams", "avg_logprob"))
    assert(blm.filter(col("avg_logprob") > 0).count() == 0, "bigram log-probs must be <= 0")

    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    assert(graft.Cli.run(Array(
      "negatives", "-i", emb, "-o", s"$tmp/negs",
      "--anchors-where", "vec_id % 50 = 1", "-k", "5")) == 0)
    val negs = spark.read.parquet(s"$tmp/negs")
    assert(negs.columns.toSeq ==
      Seq("anchor_id", "negative_id", "negative_label", "rank", "cosine"))
    // no negative may carry its anchor's label
    val anchorLabels = spark.read.parquet(emb)
      .filter(col("vec_id") % 50 === 1)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(negs.collect().forall(r =>
      anchorLabels(r.getLong(0)) != r.getInt(2)), "same-label negative leaked")
  }

  test("CLI ann: ivf and brute top-k over an embedding parquet") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_ann").toString

    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/ivf", "-k", "3")) == 0)
    val ivf = spark.read.parquet(s"$tmp/ivf")
    assert(ivf.columns.toSeq == Seq("query_id", "neighbor_id", "cos", "rank"))
    // 8 default queries x up to 3 neighbors, ranks within bounds.
    assert(ivf.count() == 24)
    assert(ivf.filter(col("rank") > 3 || col("rank") < 1).count() == 0)

    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/brute", "-k", "3", "--mode", "brute")) == 0)
    val brute = spark.read.parquet(s"$tmp/brute")
    assert(brute.count() == 24)
    // IVF recall vs the exact answer on the same run: over half the
    // true neighbors survive 6/24-cell probing on this tiny corpus.
    val hit = brute.select("query_id", "neighbor_id")
      .join(ivf.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .count()
    assert(hit >= 12, s"ivf found only $hit/24 true neighbors")

    // --mmr-lambda 1.0 diversifier at pure relevance == the plain
    // page (same doc set, same order), new (doc_id, mmr) schema
    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/mmr", "-k", "3", "--mode", "brute",
      "--mmr-lambda", "1.0")) == 0)
    val mmr = spark.read.parquet(s"$tmp/mmr")
    assert(mmr.columns.toSeq == Seq("query_id", "doc_id", "rank", "mmr"))
    val wantOrder = brute.select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotOrder = mmr.select(col("query_id"), col("doc_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotOrder == wantOrder, "λ=1 MMR changed the relevance page")
  }

  test("CLI ann-index + ann --mode ivf-index: build once, query pruned") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_ivfidx").toString
    assert(graft.Cli.run(Array("ann-index", "-i", emb, "-o", s"$tmp/idx")) == 0)
    assert(new java.io.File(s"$tmp/idx/index.json").exists())
    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/hits", "--mode", "ivf-index",
      "--index", s"$tmp/idx", "-k", "3")) == 0)
    val hits = spark.read.parquet(s"$tmp/hits")
    assert(hits.columns.toSeq == Seq("query_id", "neighbor_id", "cos", "rank"))
    assert(hits.count() == 24)

    assert(graft.Cli.run(Array(
      "ann-index", "-i", emb, "-o", s"$tmp/lsh", "--family", "lsh")) == 0)
    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/lshhits", "--mode", "lsh-index",
      "--index", s"$tmp/lsh", "-k", "3")) == 0)
    assert(spark.read.parquet(s"$tmp/lshhits").count() > 0)

    assert(graft.Cli.run(Array(
      "ann-index", "-i", emb, "-o", s"$tmp/pq", "--family", "pq")) == 0)
    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/pqhits", "--mode", "pq-index",
      "--index", s"$tmp/pq", "-k", "3")) == 0)
    assert(spark.read.parquet(s"$tmp/pqhits").count() == 24)

    assert(graft.Cli.run(Array(
      "ann-index", "-i", emb, "-o", s"$tmp/ivfpq", "--family", "ivfpq")) == 0)
    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/ivfpqhits", "--mode", "ivfpq-index",
      "--index", s"$tmp/ivfpq", "-k", "3")) == 0)
    assert(spark.read.parquet(s"$tmp/ivfpqhits").count() == 24)

    // --residual: flag lands in index.json and search still serves.
    assert(graft.Cli.run(Array("ann-index", "-i", emb,
      "-o", s"$tmp/ivfpqr", "--family", "ivfpq", "--residual")) == 0)
    assert(graft.similarity.Similarity.readIvfPqIndexMeta(spark, s"$tmp/ivfpqr").residual)
    assert(graft.Cli.run(Array(
      "ann", "-i", emb, "-o", s"$tmp/ivfpqrhits", "--mode", "ivfpq-index",
      "--index", s"$tmp/ivfpqr", "-k", "3")) == 0)
    assert(spark.read.parquet(s"$tmp/ivfpqrhits").count() == 24)
  }

  test("CLI repeated flags accumulate (-f a -f b keeps both files)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_repeat").toString
    // Two matrices with DISJOINT sample columns; losing one to the
    // repeated -f (the old reset-on-reappearance bug) drops its
    // samples from the merge.
    graft.io.XenaTsv.write(
      Seq(("cg01", 0.5), ("cg02", 0.6)).toDF("Composite Element REF", "SAMP-01A"),
      s"$tmp/m0.tsv", rowKey = Some("Composite Element REF"))
    graft.io.XenaTsv.write(
      Seq(("cg01", 0.7), ("cg03", 0.8)).toDF("Composite Element REF", "SAMP-02A"),
      s"$tmp/m1.tsv", rowKey = Some("Composite Element REF"))
    assert(graft.Cli.run(Array("merge-xena",
      "-f", s"$tmp/m0.tsv", "-f", s"$tmp/m1.tsv",
      "-t", "methylation450", "-o", s"$tmp/merged.tsv")) == 0)
    val merged = graft.io.XenaTsv.read(spark, s"$tmp/merged.tsv")
    assert(merged.columns.toSet ==
      Set("Composite Element REF", "SAMP-01A", "SAMP-02A"),
      s"merge lost a repeated -f file: ${merged.columns.mkString(",")}")
  }

  test("CLI merge-xena --bucketed-store: incremental assembly across invocations == one-shot merge") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_bstore").toString
    val key = "Composite Element REF"
    def mat(sample: String, cells: (String, Double)*): String = {
      val path = s"$tmp/$sample.tsv"
      graft.io.XenaTsv.write(cells.toSeq.toDF(key, sample), path, rowKey = Some(key))
      path
    }
    val m0 = mat("SAMP-01A", "cg01" -> 0.5, "cg02" -> 0.6)
    val m1 = mat("SAMP-02A", "cg01" -> 0.7, "cg03" -> 0.8)
    val m2 = mat("SAMP-03A", "cg02" -> 0.9, "cg04" -> 0.4)
    val store = s"$tmp/store"
    // Invocation 1 initializes the store from two cohorts; invocation
    // 2 (a separate Cli.run — the store must re-attach from files +
    // store.json, never from this session's catalog luck) merges a
    // third and exports.
    assert(graft.Cli.run(Array("merge-xena", "--bucketed-store", store,
      "-f", m0, "-f", m1, "-t", "methylation450")) == 0)
    assert(graft.Cli.run(Array("merge-xena", "--bucketed-store", store,
      "-f", m2, "-t", "methylation450", "-o", s"$tmp/acc.tsv")) == 0)
    // One-shot three-way merge is the oracle.
    assert(graft.Cli.run(Array("merge-xena", "-f", m0, "-f", m1, "-f", m2,
      "-t", "methylation450", "-o", s"$tmp/oneshot.tsv")) == 0)
    assert(graft.ops.XenaOps.canonicalEqual(
      graft.io.XenaTsv.read(spark, s"$tmp/acc.tsv"),
      graft.io.XenaTsv.read(spark, s"$tmp/oneshot.tsv")),
      "incremental bucketed assembly diverged from the one-shot merge")
    // Export-only invocation: no -f, just read the store out.
    assert(graft.Cli.run(Array("merge-xena", "--bucketed-store", store,
      "-t", "methylation450", "-o", s"$tmp/export.tsv")) == 0)
    assert(graft.ops.XenaOps.canonicalEqual(
      graft.io.XenaTsv.read(spark, s"$tmp/export.tsv"),
      graft.io.XenaTsv.read(spark, s"$tmp/oneshot.tsv")))
    // A RELATIVE store dir resolves to one place: the cohort data and
    // store.json both land under it, so a second invocation re-attaches.
    val relStore = s"target/graft_cli_bstore_rel_${System.nanoTime}"
    try {
      assert(graft.Cli.run(Array("merge-xena", "--bucketed-store", relStore,
        "-f", m0, "-f", m1, "-t", "methylation450")) == 0)
      assert(graft.Cli.run(Array("merge-xena", "--bucketed-store", relStore,
        "-f", m2, "-t", "methylation450", "-o", s"$tmp/rel.tsv")) == 0)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(relStore, "cohort_3")),
        "relative store dir split the cohort data from store.json")
      assert(graft.ops.XenaOps.canonicalEqual(
        graft.io.XenaTsv.read(spark, s"$tmp/rel.tsv"),
        graft.io.XenaTsv.read(spark, s"$tmp/oneshot.tsv")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(relStore))
    // A long-shape dtype must refuse the store (vertical merges have
    // no row-key store semantics).
    val rc = try graft.Cli.run(Array("merge-xena", "--bucketed-store", store,
      "-f", m0, "-t", "segment_cnv_DNAcopy", "-o", s"$tmp/x.tsv"))
    catch { case _: IllegalArgumentException => 1 }
    assert(rc != 0, "long-shape dtype must not use --bucketed-store")
  }

  test("CLI merge-xena --bucketed-store: a sample already in the store is refused; store.json and the export are unchanged") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_cli_bstore_dup").toString
    val key = "Composite Element REF"
    def mat(name: String, sample: String, cells: (String, Double)*): String = {
      val path = s"$tmp/$name.tsv"
      graft.io.XenaTsv.write(cells.toSeq.toDF(key, sample), path, rowKey = Some(key))
      path
    }
    val store = s"$tmp/store"
    assert(Cli.run(Array("merge-xena", "--bucketed-store", store, "-t", "methylation450",
      "-f", mat("m0", "SAMP-01A", "cg01" -> 0.5, "cg02" -> 0.6),
      "-f", mat("m1", "SAMP-02A", "cg01" -> 0.7, "cg03" -> 0.8))) == 0)
    def exportBytes(name: String): Array[Byte] = {
      assert(Cli.run(Array("merge-xena", "--bucketed-store", store, "-t", "methylation450",
        "-o", s"$tmp/$name.tsv")) == 0)
      val parts = Files.list(Paths.get(s"$tmp/$name.tsv")).iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 1, s"$name: ${parts.size} part files")
      Files.readAllBytes(parts.head)
    }
    val meta = Files.readAllBytes(Paths.get(store, "store.json"))
    val before = exportBytes("before")
    val again = mat("again", "SAMP-01A", "cg01" -> 0.1, "cg05" -> 0.2)
    val rc = try Cli.run(Array("merge-xena", "--bucketed-store", store, "-t", "methylation450",
      "-f", again))
    catch { case scala.util.control.NonFatal(_) => 1 }
    assert(rc != 0, "a sample already in the store must be refused")
    assert(Files.readAllBytes(Paths.get(store, "store.json")) sameElements meta,
      "a refused merge changed store.json")
    assert(exportBytes("after") sameElements before, "a refused merge changed the export")
  }

  test("CLI frames: avi and wav frame tables land with sane schemas") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_frames").toString

    assert(graft.Cli.run(Array(
      "frames", "-i", "/root/repo/fixtures/video/*.avi",
      "-o", s"$tmp/avi", "--every", "2")) == 0)
    val avi = spark.read.parquet(s"$tmp/avi")
    assert(avi.columns.toSeq ==
      Seq("name", "frame_idx", "frame_off", "frame_bytes", "frame_md5"))
    assert(avi.count() == 21) // (12+10+20 frames) every 2nd

    assert(graft.Cli.run(Array(
      "frames", "-i", "/root/repo/fixtures/audio/*.wav",
      "-o", s"$tmp/wav", "--kind", "wav", "--frames", "2")) == 0)
    val wav = spark.read.parquet(s"$tmp/wav")
    assert(wav.count() == 6) // 3 clips x 2 frames
  }

  test("CLI split/decontaminate: deterministic split, anti-joined clean corpus") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_split").toString

    assert(graft.Cli.run(Array("split", "-i", docs, "-o", s"$tmp/split")) == 0)
    val split = spark.read.parquet(s"$tmp/split")
    assert(split.count() == 500)
    val byLabel = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "valid", "test"))
    assert(byLabel("train") > byLabel("valid") && byLabel("train") > byLabel("test"))

    // benchmark = the valid split's documents
    spark.read.parquet(docs)
      .join(split.filter(col("split") === "valid").select("doc_id"), Seq("doc_id"))
      .write.parquet(s"$tmp/bench")
    assert(graft.Cli.run(Array(
      "decontaminate", "-i", docs, "-b", s"$tmp/bench", "-o", s"$tmp/clean")) == 0)
    val clean = spark.read.parquet(s"$tmp/clean")
    // every benchmark doc shares all its grams with itself → dropped
    assert(clean.count() < 500)
    assert(clean.join(spark.read.parquet(s"$tmp/bench"), Seq("doc_id"), "left_semi").count() == 0,
      "a benchmark doc survived decontamination")

    // --trim: span-level removal over the same corpus/bench — keeps
    // every doc (trimmed), and agrees with the library call.
    assert(graft.Cli.run(Array(
      "decontaminate", "-i", docs, "-b", s"$tmp/bench", "-o", s"$tmp/trimmed",
      "--trim")) == 0)
    val trimmed = spark.read.parquet(s"$tmp/trimmed")
    assert(trimmed.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_removed", "trimmed_text"))
    val want = graft.dedup.Dedup.decontaminateTrim(
      spark.read.parquet(docs), spark.read.parquet(s"$tmp/bench"),
      "doc_id", "text", w = 5).collect().map(_.toSeq).toSet
    assert(trimmed.collect().map(_.toSeq).toSet == want,
      "CLI --trim output != decontaminateTrim")
    assert(trimmed.filter(col("n_removed") > 0).count() > 0,
      "no spans were trimmed — benchmark overlap fixture is broken")
  }

  test("CLI fp-store: create, ingest accepts only new, re-ingest is idempotent; --bloom == plain") {
    import spark.implicits._
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_fp").toString
    spark.read.parquet(docs).filter(col("doc_id") % 2 === 0)
      .write.parquet(s"$tmp/corpus")
    spark.read.parquet(docs).filter(col("doc_id") % 2 === 1)
      .write.parquet(s"$tmp/batch")

    assert(graft.Cli.run(Array(
      "fp-store", "--create", "-i", s"$tmp/corpus", "-s", s"$tmp/store")) == 0)
    assert(graft.Cli.run(Array(
      "fp-store", "--ingest", "-i", s"$tmp/batch", "-s", s"$tmp/store",
      "-o", s"$tmp/accepted1")) == 0)
    val accepted = spark.read.parquet(s"$tmp/accepted1")
    // Ground truth: batch docs whose (null-free) fingerprint is new.
    val fp = org.apache.spark.sql.functions.md5(coalesce(
      org.apache.spark.sql.functions.array_join(
        graft.functions.TextFunctions.tokens(col("text")), " "), lit("")))
    val corpusFps = spark.read.parquet(s"$tmp/corpus").select(fp.as("fp")).distinct()
    val want = spark.read.parquet(s"$tmp/batch").withColumn("fp", fp)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .join(corpusFps, Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(accepted.select("doc_id").as[Long].collect().toSet == want)
    assert(want.nonEmpty, "fixture produced no new docs — test is vacuous")

    // Idempotent re-delivery: the same batch again accepts ZERO rows
    // (its fingerprints were appended on the first ingest).
    assert(graft.Cli.run(Array(
      "fp-store", "--ingest", "-i", s"$tmp/batch", "-s", s"$tmp/store",
      "-o", s"$tmp/accepted2")) == 0)
    assert(spark.read.parquet(s"$tmp/accepted2").count() == 0)

    // decontaminate --bloom: identical clean corpus to the plain path.
    spark.read.parquet(docs).filter(col("doc_id") % 10 === 7)
      .write.parquet(s"$tmp/bench")
    assert(graft.Cli.run(Array(
      "decontaminate", "-i", docs, "-b", s"$tmp/bench", "-o", s"$tmp/clean_plain")) == 0)
    assert(graft.Cli.run(Array(
      "decontaminate", "-i", docs, "-b", s"$tmp/bench", "-o", s"$tmp/clean_bloom",
      "--bloom")) == 0)
    val plainIds = spark.read.parquet(s"$tmp/clean_plain").select("doc_id").as[Long].collect().toSet
    val bloomIds = spark.read.parquet(s"$tmp/clean_bloom").select("doc_id").as[Long].collect().toSet
    assert(plainIds == bloomIds, "--bloom changed the decontaminated corpus")
  }

  test("CLI budget + dedup --survivor best-quality") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_budget").toString

    assert(graft.Cli.run(Array(
      "budget", "-i", docs, "-o", s"$tmp/sample", "-B", "1000")) == 0)
    val sample = spark.read.parquet(s"$tmp/sample")
    assert(sample.columns.toSeq == Seq("doc_id", "source", "n_tokens", "cum_before"))
    // every kept row starts under budget; at least one source binds
    assert(sample.filter(col("cum_before") >= 1000).count() == 0)
    assert(sample.count() > 0 && sample.count() < 500,
      s"budget 1000 should bind at sf0.001 (kept ${sample.count()})")

    assert(graft.Cli.run(Array(
      "dedup", "-i", docs, "-o", s"$tmp/clusters",
      "--mode", "near", "--survivor", "best-quality")) == 0)
    val survivors = spark.read.parquet(s"$tmp/clusters.survivors")
    val clusters = spark.read.parquet(s"$tmp/clusters")
    assert(survivors.columns.toSeq == Seq("cluster_id", "doc_id", "quality"))
    // exactly one survivor per cluster label
    assert(survivors.count() ==
      clusters.select("cluster_id").distinct().count())
  }

  test("CLI pack: batch == gate assignment; --stream over a landing dir agrees") {
    val sf = "/root/testdata/sf0.001"
    val docs = s"$sf/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_pack").toString

    assert(graft.Cli.run(Array("pack", "-i", docs, "-o", s"$tmp/packs")) == 0)
    val got = spark.read.parquet(s"$tmp/packs").collect().map(_.toSeq).toSet
    val want = SparkEntry.queries("q63_pack")(spark, sf).collect().map(_.toSeq).toSet
    assert(got == want, "CLI pack batch output != q63 gate assignment")

    // Stream mode: same documents as one landing drop -> one batch ->
    // identical assignment under data/batch=0.
    val landing = s"$tmp/landing"
    spark.read.parquet(docs).select("doc_id", "text").write.parquet(landing)
    assert(graft.Cli.run(Array(
      "pack", "-i", landing, "-o", s"$tmp/spacks", "--stream")) == 0)
    val streamed = spark.read.parquet(s"$tmp/spacks/data")
      .select("doc_id", "chunk_seq", "n_tokens", "pack_id", "pack_offset")
      .collect().map(_.toSeq).toSet
    assert(streamed == want, "CLI pack --stream output != q63 gate assignment")

    // --compact on the streamed store: idempotent here (single ordered
    // batch), but drives the verb's swap + conservation end-to-end.
    assert(graft.Cli.run(Array("pack", "--compact", "-o", s"$tmp/spacks")) == 0)
    val compacted = spark.read.parquet(s"$tmp/spacks/data")
      .select("doc_id", "chunk_seq", "n_tokens", "pack_id", "pack_offset")
      .collect().map(_.toSeq).toSet
    assert(compacted == want, "CLI pack --compact output != q63 gate assignment")
  }

  test("CLI xena-eql: equal and unequal matrices, exit codes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli").toString
    import spark.implicits._
    val m1 = Seq(("p1", 1.0, 2.0), ("p2", 3.0, 4.0)).toDF("id", "s1", "s2")
    graft.io.XenaTsv.write(m1, s"$tmp/a", rowKey = Some("id"))
    graft.io.XenaTsv.write(m1.orderBy(desc("id")), s"$tmp/b", rowKey = Some("id"))
    val m2 = Seq(("p1", 9.0, 2.0)).toDF("id", "s1", "s2")
    graft.io.XenaTsv.write(m2, s"$tmp/c", rowKey = Some("id"))
    assert(Cli.run(Array("xena-eql", s"$tmp/a", s"$tmp/b")) == 0)
    assert(Cli.run(Array("xena-eql", s"$tmp/a", s"$tmp/c")) == 1)
    assert(Cli.run(Array("nonsense")) == 2)
  }

  /** `Cli.run` with its stdout and stderr captured. */
  private def cliCaptured(args: String*): (Int, String, String) = {
    val (out, err) = (new java.io.ByteArrayOutputStream, new java.io.ByteArrayOutputStream)
    def utf8(b: java.io.ByteArrayOutputStream) = new java.io.PrintStream(b, true, "UTF-8")
    val code = Console.withOut(utf8(out))(Console.withErr(utf8(err))(Cli.run(args.toArray)))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  /** `args` exits 2 before any Spark job, naming its verb and `flag` on
    * the first stderr line, then printing the verb's synopsis. */
  private def assertArgError(flag: String, args: String*): Unit = {
    val ((code, out, err), jobs) = jobsDuring(cliCaptured(args: _*))
    assert(code == 2, s"${args.mkString(" ")} exited $code; stderr: $err")
    val first = err.linesIterator.next()
    assert(first.startsWith(s"${args.head}: ") && first.contains(flag), s"stderr: $err")
    assert(err.contains(Cli.verbs.find(_.name == args.head).get.usage), s"no synopsis: $err")
    assert(out.isEmpty && jobs.isEmpty, s"stdout '$out', jobs $jobs")
  }

  test("CLI session: a verb reuses the running session without resetting its shuffle width") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_width").toString
    import spark.implicits._
    graft.io.XenaTsv.write(Seq(("p1", 1.0)).toDF("id", "s1"), s"$tmp/a", rowKey = Some("id"))
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // A width no core count sets, so a reset to the core count shows.
    spark.conf.set(key, "7")
    try {
      assert(Cli.run(Array("xena-eql", s"$tmp/a", s"$tmp/a")) == 0)
      assert(spark.conf.get(key) == "7", "Cli.run reset the running session's shuffle width")
    } finally spark.conf.set(key, before)
  }

  test("CLI argument errors: unknown flag, malformed number, missing flag exit 2 before any job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_args").toString
    val docs = s"$sfDir/documents.parquet"
    // --trm is not --trim: ignored, it would drop whole documents.
    assertArgError("--trm", "decontaminate", "-i", docs, "-b", docs, "-o", s"$tmp/clean", "--trm")
    assertArgError("-k", "vocab", "-i", docs, "-o", s"$tmp/vocab.tsv", "-k", "ten")
    assertArgError("-o", "merge-xena", "-f", s"$tmp/m0.tsv", "-t", "methylation450")
    assertArgError("<matrix-b>", "xena-eql", s"$tmp/a")
    assert(new java.io.File(tmp).list().isEmpty, "a rejected command line wrote output")
  }

  test("CLI etl-batch --resum: exits 2 and leaves unfinished.json as it was") {
    import java.nio.file.Files
    val raw = Files.createTempDirectory("graft_cli_resum")
    val ledger = raw.resolve("unfinished.json")
    Files.writeString(ledger, """{".": ["mirna"]}""")
    val before = Files.readAllBytes(ledger)
    // Ignored, --resum would re-run every dtype instead of resuming.
    assertArgError("--resum", "etl-batch", "-t", "all", "-r", raw.toString,
      "-o", raw.resolve("out").toString, "--resum")
    assert(java.util.Arrays.equals(Files.readAllBytes(ledger), before))
    assert(raw.toFile.list().toSeq == Seq("unfinished.json"), "no .err log, no output")
  }

  test("CLI usage: no verb prints every table verb's synopsis; an unknown verb exits 2") {
    val (code, _, err) = cliCaptured()
    assert(code == 2)
    assert(Cli.verbs.map(_.name).distinct.size == Cli.verbs.size, "duplicate verb names")
    Cli.verbs.foreach(v => assert(err.contains(v.usage), s"help lacks ${v.name}"))
    assert(cliCaptured("nonsense")._1 == 2)
  }

  test("CLI output is ASCII: the help (every synopsis) encodes to bytes below 0x80") {
    // Console's PrintStream encodes with the default charset; a
    // non-ASCII character prints as '?' wherever that is not UTF-8.
    // Captured through UTF-8, a character above 0x7f is a byte >= 0x80.
    val (code, out, err) = cliCaptured()
    assert(code == 2 && err.nonEmpty)
    val bad = (out + err).linesIterator.filter(_.exists(_ > 0x7f)).toList
    assert(bad.isEmpty, s"non-ASCII help lines: ${bad.take(3).mkString(" | ")}")
  }

  test("CLI explain: prints a named query's formatted physical plan") {
    val (code, out, _) = cliCaptured("explain", sfDir, "q01_agg_pushdown")
    assert(code == 0)
    val lines = out.linesIterator.toList
    val at = lines.indexOf("===== q01_agg_pushdown =====")
    assert(at >= 0, s"no header: $out")
    assert(lines.drop(at + 1).exists(_.startsWith("== Physical Plan ==")), s"no plan: $out")
    assert(!out.contains("(failed:"), out)
  }

  test("CLI etl: star_counts fixture to TSV matrix + metadata JSON") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_etl").toString
    val out = s"$tmp/star.tsv"
    assert(Cli.run(Array("etl", "-t", "star_counts",
      "-r", "/root/repo/fixtures/star_counts", "-o", out)) == 0)
    val back = graft.io.XenaTsv.read(spark, out, None)
    assert(back.columns.head == "Ensembl_ID")
    assert(back.count() == 8)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out + ".json")))
  }

  test("CLI etl-batch: quarantines the failing dtype, finishes the rest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_batch").toString
    // star_counts has fixtures under /root/repo/fixtures/star_counts;
    // 'mirna' will fail (no /root/repo/fixtures-bad/mirna dir exists
    // under this root) — the batch must still produce star_counts.
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$tmp/raw"))
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$tmp/raw/star_counts"),
      java.nio.file.Paths.get("/root/repo/fixtures/star_counts"))
    val rc = graft.Cli.run(Array("etl-batch",
      "-t", "star_counts", "mirna", "-r", s"$tmp/raw", "-o", s"$tmp/out"))
    assert(rc == 1, "a quarantined dtype must surface as a nonzero exit")
    val star = graft.io.XenaTsv.read(spark, s"$tmp/out/star_counts.tsv", None)
    assert(star.count() == 8, "healthy dtype did not complete")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/out/star_counts.tsv.json")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/out/mirna.tsv")))
  }

  test("CLI etl-batch: a truncated .maf.gz quarantines its pair, the good pair is ok") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_truncated")
    val raw = tmp.resolve("raw")
    val fixtures = Paths.get("fixtures/somaticmutation_wxs").toFile.listFiles
      .filter(_.getName.endsWith(".maf.gz")).sortBy(_.getName).map(_.toPath)
    val good = Files.createDirectories(raw.resolve("P-GOOD/somaticmutation_wxs"))
    fixtures.foreach(f => Files.copy(f, good.resolve(f.getFileName)))
    // The bad pair: one intact file next to a gzip stream cut in half,
    // so the decompressor hits end-of-input mid-member.
    val bad = Files.createDirectories(raw.resolve("P-BAD/somaticmutation_wxs"))
    Files.copy(fixtures(0), bad.resolve(fixtures(0).getFileName))
    val bytes = Files.readAllBytes(fixtures(1))
    Files.write(bad.resolve(fixtures(1).getFileName), bytes.take(bytes.length / 2))
    val out = tmp.resolve("out").toString
    val (code, stdout, _) = cliCaptured("etl-batch", "-t", "somaticmutation_wxs",
      "-p", "P-BAD", "P-GOOD", "-r", raw.toString, "-o", out)
    assert(code == 1, s"a quarantined pair must surface as a nonzero exit: $stdout")
    val lines = stdout.linesIterator.toList
    assert(lines.exists(_.startsWith("[etl-batch] P-BAD/somaticmutation_wxs: QUARANTINED")), stdout)
    assert(lines.contains("[etl-batch] P-GOOD/somaticmutation_wxs: ok"), stdout)
    assert(Files.readString(raw.resolve("unfinished.json"))
      == """{"P-BAD": ["somaticmutation_wxs"]}""",
      "the ledger must name exactly the truncated pair")
    assert(Files.exists(Paths.get(s"$out/P-GOOD/somaticmutation_wxs.tsv")))
    assert(!Files.exists(Paths.get(s"$out/P-BAD/somaticmutation_wxs.tsv")),
      "the truncated pair must not leave a partial matrix")
  }

  test("CLI etl-batch: a valid .maf.gz holding non-MAF text quarantines its pair, the good pair is ok") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_garbled")
    val raw = tmp.resolve("raw")
    val fixtures = Paths.get("fixtures/somaticmutation_wxs").toFile.listFiles
      .filter(_.getName.endsWith(".maf.gz")).sortBy(_.getName).map(_.toPath)
    val good = Files.createDirectories(raw.resolve("P-GOOD/somaticmutation_wxs"))
    fixtures.foreach(f => Files.copy(f, good.resolve(f.getFileName)))
    // The bad pair: one intact file next to a well-formed gzip stream
    // whose text is not a MAF (no header the reader can align).
    val bad = Files.createDirectories(raw.resolve("P-BAD/somaticmutation_wxs"))
    Files.copy(fixtures(0), bad.resolve(fixtures(0).getFileName))
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(bad.resolve(fixtures(1).getFileName)))
    try gz.write("<html><body>502 Bad Gateway</body></html>\nthis is not a MAF\n".getBytes("UTF-8"))
    finally gz.close()
    val out = tmp.resolve("out").toString
    val (code, stdout, _) = cliCaptured("etl-batch", "-t", "somaticmutation_wxs",
      "-p", "P-BAD", "P-GOOD", "-r", raw.toString, "-o", out)
    assert(code == 1, s"a quarantined pair must surface as a nonzero exit: $stdout")
    val lines = stdout.linesIterator.toList
    assert(lines.exists(_.startsWith("[etl-batch] P-BAD/somaticmutation_wxs: QUARANTINED")), stdout)
    assert(lines.contains("[etl-batch] P-GOOD/somaticmutation_wxs: ok"), stdout)
    assert(Files.readString(raw.resolve("unfinished.json"))
      == """{"P-BAD": ["somaticmutation_wxs"]}""",
      "the ledger must name exactly the garbled pair")
    assert(Files.exists(Paths.get(s"$out/P-GOOD/somaticmutation_wxs.tsv")))
    assert(!Files.exists(Paths.get(s"$out/P-BAD/somaticmutation_wxs.tsv")),
      "the garbled pair must not leave a matrix")
  }

  test("CLI etl-batch --parallel: concurrent datasets, same outputs and quarantine as sequential") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_batchpar")
    val raw = Files.createDirectory(tmp.resolve("raw"))
    val healthy = Seq("star_counts", "mirna", "protein", "methylation450")
    healthy.foreach(d => Files.createSymbolicLink(raw.resolve(d),
      Paths.get(s"/root/repo/fixtures/$d")))
    val out = tmp.resolve("out").toString
    // 5 datasets on 3 worker threads — more work than workers, one
    // failing dtype (no raw dir) interleaving ledger writes with the
    // successes. The contract is exactly the sequential one: healthy
    // datasets all complete, the failure quarantines, exit 1.
    val rc = graft.Cli.run(
      Array("etl-batch", "-t") ++ healthy ++ Array("segment_cnv_DNAcopy",
        "-r", raw.toString, "-o", out, "--parallel", "3"))
    assert(rc == 1, "the quarantined dtype must surface as a nonzero exit")
    healthy.foreach { d =>
      assert(Files.exists(Paths.get(s"$out/$d.tsv")), s"$d.tsv missing under --parallel")
      assert(Files.exists(Paths.get(s"$out/$d.tsv.json")), s"$d metadata missing")
    }
    assert(!Files.exists(Paths.get(s"$out/segment_cnv_DNAcopy.tsv")))
    assert(Files.readString(raw.resolve("unfinished.json"))
      == """{".": ["segment_cnv_DNAcopy"]}""",
      "concurrent ledger writes must leave exactly the failed pair recorded")
    // Parallel run's matrices equal a sequential run's (canonical
    // matrix equality, the xena-eql contract): spot-check one dtype.
    val seqOut = tmp.resolve("seq").toString
    assert(graft.Cli.run(Array("etl-batch", "-t", "star_counts",
      "-r", raw.toString, "-o", seqOut)) == 0)
    assert(graft.ops.XenaOps.canonicalEqual(
      graft.io.XenaTsv.read(spark, s"$out/star_counts.tsv", None),
      graft.io.XenaTsv.read(spark, s"$seqOut/star_counts.tsv", None)),
      "parallel and sequential matrices differ")
  }

  test("CLI etl-batch --parallel: MID-FLIGHT Spark failure quarantines; --resume heals; outputs == sequential") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_midflight")
    val raw = Files.createDirectory(tmp.resolve("raw"))
    val healthy = Seq("star_counts", "mirna", "protein")
    healthy.foreach(d => Files.createSymbolicLink(raw.resolve(d),
      Paths.get(s"/root/repo/fixtures/$d")))
    // The failing dataset dies MID-JOB, not at setup: one good MAF
    // plus one file that claims .maf.gz but is not gzip, so the
    // dataset's Spark job starts (the glob resolves, tasks launch)
    // and then a task throws inside the codec — the worst-timed
    // failure for the concurrent ledger, arriving while other
    // workers' successes interleave writes.
    val mafDir = Files.createDirectory(raw.resolve("somaticmutation_wxs"))
    val good = Paths.get("/root/repo/fixtures/somaticmutation_wxs")
      .toFile.listFiles.head.toPath
    Files.copy(good, mafDir.resolve(good.getFileName))
    val badName = "SAMP-03A.1a2b3c4d-0009-4009-8009-aaaaaaaa0009.wxs.aliquot_ensemble_masked.maf.gz"
    Files.write(mafDir.resolve(badName),
      "this is not gzip data".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = tmp.resolve("out").toString
    val all = healthy :+ "somaticmutation_wxs"
    val rc = graft.Cli.run(
      Array("etl-batch", "-t") ++ all ++
        Array("-r", raw.toString, "-o", out, "--parallel", "3"))
    assert(rc == 1, "a mid-flight Spark failure must surface as a nonzero exit")
    healthy.foreach { d =>
      assert(Files.exists(Paths.get(s"$out/$d.tsv")),
        s"$d.tsv missing: a sibling's mid-flight failure must not sink healthy datasets")
      assert(Files.exists(Paths.get(s"$out/$d.tsv.json")), s"$d metadata missing")
    }
    assert(!Files.exists(Paths.get(s"$out/somaticmutation_wxs.tsv")),
      "the failed dataset must not leave a partial matrix")
    assert(Files.readString(raw.resolve("unfinished.json"))
      == """{".": ["somaticmutation_wxs"]}""",
      "ledger must record exactly the mid-flight failure")
    val errs = raw.toFile.listFiles.filter(_.getName.matches("etl_\\d{8}-\\d{6}\\.err"))
    assert(errs.length == 1 && Files.readString(errs.head.toPath).contains("\tat "),
      "per-run .err log must carry the mid-flight stack trace")
    // Heal the corrupt member and --resume under the same
    // parallelism: exactly the quarantined pair re-runs (the healthy
    // raw links could be absent for all resume cares), the ledger
    // clears, and the healed output exists.
    Files.delete(mafDir.resolve(badName))
    val rc2 = graft.Cli.run(Array("etl-batch",
      "-r", raw.toString, "-o", out, "--resume", "--parallel", "3"))
    assert(rc2 == 0, "resume over the healed dataset must succeed")
    assert(!Files.exists(raw.resolve("unfinished.json")),
      "a fully-recovered ledger must delete unfinished.json")
    assert(Files.exists(Paths.get(s"$out/somaticmutation_wxs.tsv")))
    // Survivor parity: every output of the parallel+failure+resume
    // history equals a clean SEQUENTIAL run's matrix (canonical
    // equality, the xena-eql contract).
    val seqOut = tmp.resolve("seq").toString
    assert(graft.Cli.run(Array("etl-batch", "-t") ++ all ++
      Array("-r", raw.toString, "-o", seqOut)) == 0)
    all.foreach { d =>
      assert(graft.ops.XenaOps.canonicalEqual(
        graft.io.XenaTsv.read(spark, s"$out/$d.tsv", None),
        graft.io.XenaTsv.read(spark, s"$seqOut/$d.tsv", None)),
        s"$d: parallel-with-failure+resume matrix differs from sequential")
    }
  }

  test("CLI etl-batch --delete-raw: raw dir dropped after a successful transform") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_delraw")
    val raw = Files.createDirectories(tmp.resolve("raw/star_counts"))
    Files.list(Paths.get("/root/repo/fixtures/star_counts")).forEach(f =>
      Files.copy(f, raw.resolve(f.getFileName)))
    val out = tmp.resolve("out").toString
    assert(graft.Cli.run(Array("etl-batch", "-t", "star_counts",
      "-r", tmp.resolve("raw").toString, "-o", out, "--delete-raw")) == 0)
    assert(Files.exists(Paths.get(s"$out/star_counts.tsv.json")), "matrix not produced")
    assert(!Files.exists(raw), "--delete-raw must remove the consumed raw dir")
  }

  test("CLI etl-batch: quarantine persists; --resume re-attempts only the quarantined pairs") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_batchq")
    val raw = Files.createDirectory(tmp.resolve("raw"))
    Files.createSymbolicLink(raw.resolve("star_counts"),
      Paths.get("/root/repo/fixtures/star_counts"))
    val out = tmp.resolve("out").toString
    assert(graft.Cli.run(Array("etl-batch",
      "-t", "star_counts", "mirna", "-r", raw.toString, "-o", out)) == 1)
    // The record must survive the process: unfinished.json rewritten
    // on failure (gdc2xena.py:97-105) + a stack trace in the .err log.
    assert(Files.readString(raw.resolve("unfinished.json")) == """{".": ["mirna"]}""")
    val errs = raw.toFile.listFiles.filter(_.getName.matches("etl_\\d{8}-\\d{6}\\.err"))
    assert(errs.length == 1, "expected exactly one per-run .err log")
    val log = Files.readString(errs.head.toPath)
    assert(log.contains("[WARNING]: No mirna data for cohort .")
      && log.contains("\tat "), "err log must carry the stack trace")
    // Heal the failed dtype, SABOTAGE the succeeded one: resume must
    // re-attempt exactly the quarantined pair, so the missing
    // star_counts raw dir can only break a buggy resume.
    Files.delete(raw.resolve("star_counts"))
    Files.createSymbolicLink(raw.resolve("mirna"),
      Paths.get("/root/repo/fixtures/mirna"))
    assert(graft.Cli.run(Array("etl-batch",
      "-r", raw.toString, "-o", out, "--resume")) == 0)
    assert(Files.exists(Paths.get(s"$out/mirna.tsv")), "resume did not produce the healed dtype")
    assert(!Files.exists(raw.resolve("unfinished.json")),
      "a fully-recovered ledger must delete unfinished.json")
  }

  test("CLI etl-batch: an empty, comment-only or hidden-only raw dir quarantines naming the dir") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cli_nodata")
    val raw = tmp.resolve("raw")
    val empty = Files.createDirectories(raw.resolve("p_empty/star_counts"))
    val comments = Files.createDirectories(raw.resolve("p_comment/star_counts"))
    Files.writeString(comments.resolve(
      "SAMP-01A.1a2b3c4d-0001-4001-8001-aaaaaaaa0001.rna_seq.augmented_star_gene_counts.tsv"),
      "# gene-model: GENCODE v36\n\n# no data rows\n")
    val hidden = Files.createDirectories(raw.resolve("p_hidden/star_counts"))
    val star = Paths.get("fixtures/star_counts").toFile.listFiles.head.toPath
    Files.copy(star, hidden.resolve("." + star.getFileName))
    Files.copy(star, hidden.resolve("_" + star.getFileName))
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.Cli.run(Array("etl-batch", "-t", "star_counts",
        "-p", "p_empty", "p_comment", "p_hidden", "-r", raw.toString, "-o", tmp.resolve("out").toString))
    }
    assert(rc == 1, "a raw dir with no data line must quarantine")
    val log = out.toString("UTF-8")
    for ((p, dir) <- Seq("p_empty" -> empty, "p_comment" -> comments, "p_hidden" -> hidden))
      assert(s"\\[etl-batch\\] $p/star_counts: QUARANTINED \\(.*\\Q$dir\\E.*\\)".r
        .findFirstIn(log).isDefined, s"$p: no QUARANTINED line naming $dir in:\n$log")
    assert(Files.readString(raw.resolve("unfinished.json")) ==
      """{"p_empty": ["star_counts"], "p_comment": ["star_counts"], "p_hidden": ["star_counts"]}""")
  }

  test("rawSchema: the driver-read schema equals Spark's CSV header inference") {
    import java.nio.file.Files
    import graft.model.DTypes.{MafVector, RawReadConfig, SampleColumnsMatrix, SegmentMatrix}
    def cfgOf(dtype: String): RawReadConfig = DTypes.registry(dtype).strategy match {
      case s: SampleColumnsMatrix => s.read
      case s: SegmentMatrix => RawReadConfig(s.usecols, header = true, None, "sample")
      case MafVector => RawReadConfig(Nil, header = true, Some("#"), "sample")
      case other => fail(s"$dtype: $other has no raw files")
    }
    def sparkSchema(dir: String, cfg: RawReadConfig) =
      spark.read.options(GdcTransforms.rawReadOptions(cfg)).csv(dir).schema
    // STAR's `# gene-model` line, the gzip MAF's `#version` banner,
    // headerless methylation, and the plain-header dtypes.
    val fixtures = Seq("star_counts", "somaticmutation_wxs", "methylation450", "mirna",
      "mirna_isoform", "protein", "gene-level_ascat-ngs", "segment_cnv_DNAcopy",
      "segment_cnv_ascat-ngs")
    for (d <- fixtures) {
      val dir = s"fixtures/$d"
      assert(GdcTransforms.rawSchema(spark, dir, cfgOf(d)) == sparkSchema(dir, cfgOf(d)), d)
    }
    // An empty header name, a duplicate and a case-only duplicate,
    // behind an empty line and a comment; a hidden file sorting first
    // carries a different header that neither side may read.
    val tmp = Files.createTempDirectory("graft_header")
    Files.writeString(tmp.resolve("_SUCCESS"), "zz\tyy\n")
    Files.writeString(tmp.resolve("a.tsv"), "\n# banner\nid\t\tv\tid\tV\tw\nx\t1\t2\t3\t4\t5\n")
    for (cfg <- Seq(
        RawReadConfig(Nil, header = true, Some("#"), "id"),
        RawReadConfig(Nil, header = false, Some("#"), "id"))) {
      val got = GdcTransforms.rawSchema(spark, tmp.toString, cfg)
      assert(got == sparkSchema(tmp.toString, cfg), s"header=${cfg.header}")
      if (cfg.header) assert(got.fieldNames.toSeq == Seq("id0", "_c1", "v2", "id3", "V4", "w"))
    }
  }

  /** The explode / groupBy / broadcast-join formulation of the
    * clinical matrix, kept only as the reference for the row-local
    * `Clinical.clinicalMatrix`. */
  private def clinicalByJoins(casesJson: String): org.apache.spark.sql.DataFrame = {
    import graft.transform.Clinical
    def formatMulti(c: org.apache.spark.sql.Column) = {
      val sorted = array_sort(collect_list(coalesce(c.cast("string"), lit(""))))
      when(forall(sorted, v => v === ""), lit("")).otherwise(array_join(sorted, "; "))
    }
    val cases = spark.read.schema(Clinical.casesSchema).json(casesJson)
    val base = cases.select(col("id"), col("submitter_id"), col("disease_type"),
      col("state"), col("created_datetime"),
      col("project.project_id").as("project.project_id"),
      col("demographic.gender").as("demographic.gender"),
      col("demographic.vital_status").as("demographic.vital_status"),
      col("demographic.year_of_birth").as("demographic.year_of_birth"))
    val annotations = cases.select(col("id"), explode(col("annotations")).as("a"))
      .groupBy(col("id")).agg(
        formatMulti(col("a.category")).as("annotations.category"),
        formatMulti(col("a.classification")).as("annotations.classification"))
    val diagRows = cases.select(col("id"), explode(col("diagnoses")).as("d"))
    val age = "xena_derived.diagnoses.age_at_earliest_diagnosis"
    val diagnoses = diagRows.groupBy(col("id")).agg(
        formatMulti(col("d.age_at_diagnosis")).as("diagnoses.age_at_diagnosis"),
        formatMulti(col("d.tumor_grade")).as("diagnoses.tumor_grade"),
        min(expr("try_cast(d.age_at_diagnosis AS DOUBLE)")).as(age))
      .withColumn(s"${age}_in_years", round(col(s"`$age`") / 365.0, 6))
      .withColumn(age, round(col(s"`$age`"), 6))
    val pathology = diagRows.select(col("id"), explode(col("d.pathology_details")).as("p"))
      .groupBy(col("id")).agg(formatMulti(col("p.lymph_nodes_tested"))
        .as("diagnoses.pathology_details.lymph_nodes_tested"))
    val treatments = diagRows.select(col("id"), explode(col("d.treatments")).as("t"))
      .groupBy(col("id")).agg(
        formatMulti(col("t.therapeutic_agents")).as("diagnoses.treatments.therapeutic_agents"),
        formatMulti(col("t.treatment_type")).as("diagnoses.treatments.treatment_type"))
    val samples = cases.select(col("id"), explode(col("samples")).as("s")).select(col("id"),
      col("s.submitter_id").as("samples.submitter_id"),
      col("s.sample_type").as("samples.sample_type"),
      col("s.tissue_type").as("samples.tissue_type"))
    val joined = base
      .join(broadcast(annotations), Seq("id"), "left")
      .join(broadcast(diagnoses), Seq("id"), "left")
      .join(broadcast(pathology), Seq("id"), "left")
      .join(broadcast(treatments), Seq("id"), "left")
      .join(samples, Seq("id"), "inner")
    Clinical.reverseDotted(joined.drop(Clinical.droppedFields: _*))
      .withColumnRenamed("submitter_id.samples", "sample")
  }

  test("clinicalMatrix (row-local) == the explode/groupBy/join reference") {
    import graft.transform.Clinical
    val tmp = java.nio.file.Files.createTempDirectory("graft_clinical")
    val smp = """"samples": [{"submitter_id": "S-%s", "sample_type": "Primary Tumor", "tissue_type": "Tumor"}]"""
    val lines = Seq(
      // null and empty annotations / diagnoses
      s"""{"id": "c1", "submitter_id": "P1", ${smp.format("c1")}}""",
      s"""{"id": "c2", "annotations": [], "diagnoses": [], ${smp.format("c2")}}""",
      // null array elements, null nested arrays, an unparseable age,
      // an all-empty annotation list
      s"""{"id": "c3", "annotations": [null, {"category": null, "classification": ""}],
         |"diagnoses": [null, {"age_at_diagnosis": "n/a", "tumor_grade": null,
         |"pathology_details": null, "treatments": [null]}], ${smp.format("c3")}}""".stripMargin,
      // several diagnoses: min age across them, nested values flattened
      s"""{"id": "c4", "state": "released", "project": {"project_id": "TCGA-YY"},
         |"demographic": {"gender": "male", "vital_status": "Dead", "year_of_birth": 1950},
         |"annotations": [{"category": "b", "classification": "x"}, {"category": "a"}],
         |"diagnoses": [
         |{"age_at_diagnosis": "300", "tumor_grade": "G2", "pathology_details": [{"lymph_nodes_tested": "4"}],
         | "treatments": [{"therapeutic_agents": "Z", "treatment_type": "Chemo"}]},
         |{"age_at_diagnosis": "100.5", "tumor_grade": "G1", "pathology_details": [],
         | "treatments": [{"therapeutic_agents": null, "treatment_type": "Radiation"}, null]},
         |{"age_at_diagnosis": "zz", "pathology_details": [{"lymph_nodes_tested": null}, {"lymph_nodes_tested": "1"}]}],
         |"samples": [{"submitter_id": "S-c4a", "sample_type": "Primary Tumor", "tissue_type": "Tumor"},
         |{"submitter_id": "S-c4b", "sample_type": "Blood Derived Normal", "tissue_type": "Normal"}, null]}""".stripMargin,
      // all-null ages
      s"""{"id": "c5", "diagnoses": [{"age_at_diagnosis": null}, {"tumor_grade": "G3"}], ${smp.format("c5")}}""",
      // no samples: the case drops out
      """{"id": "c6", "diagnoses": [{"age_at_diagnosis": "5"}]}""",
      """{"id": "c7", "samples": []}""")
    java.nio.file.Files.writeString(tmp.resolve("cases.json"),
      lines.map(_.replace("\n", " ")).mkString("", "\n", "\n"))
    for (path <- Seq("fixtures/clinical/cases.json", tmp.resolve("cases.json").toString)) {
      val got = Clinical.clinicalMatrix(spark, path)
      val want = clinicalByJoins(path)
      assert(got.columns.toSeq == want.columns.toSeq, path)
      assert(got.count() == want.count() && got.count() > 0, path)
      assert(XenaOps.canonicalEqual(got, want), s"$path: row-local clinical matrix differs")
    }
  }

  test("writeSharded: globally-ordered shards cat-merge to the single-file matrix") {
    import spark.implicits._
    val df = (1 to 97)
      .map(i => (f"probe_$i%03d", i * 1.5, s"s$i"))
      .toDF("id", "v", "s")
      .orderBy(rand(42)) // deliberately unsorted input
    val tmp = java.nio.file.Files.createTempDirectory("graft_shard").toString
    graft.io.XenaTsv.write(df, s"$tmp/single", rowKey = Some("id"))
    val header = graft.io.XenaTsv.writeSharded(df, s"$tmp/shards", "id", shards = 4)

    def partLines(dir: String): Seq[String] = {
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
      parts.flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
    }
    val singleLines = partLines(s"$tmp/single")
    assert(singleLines.head == header, "sharded header != single-file header")

    val shardFiles = new java.io.File(s"$tmp/shards").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
    assert(shardFiles.length > 1, "range partitioner produced a single shard")

    // cat in filename order reproduces the single-file body, globally
    // sorted by row key (key is the line prefix, so line order == key
    // order for this fixture).
    val catted = partLines(s"$tmp/shards")
    assert(catted == singleLines.tail.sorted,
      "concatenated shards != sorted single-file body")
  }

  test("CLI image-store: create originals, ingest twins links the planted pairs") {
    val fixDir = "/root/repo/fixtures/images"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_imgstore").toString
    // split fixtures: originals become the store corpus, twins the batch
    val orig = s"$tmp/orig"; val batch = s"$tmp/batch"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(orig))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(batch))
    new java.io.File(fixDir).listFiles().filter(_.getName.endsWith(".ppm")).foreach { f =>
      val dst = if (f.getName.contains("_dup")) batch else orig
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$dst/${f.getName}"))
    }
    assert(graft.Cli.run(Array(
      "image-store", "--create", "-i", s"$orig/*.ppm", "-s", s"$tmp/store",
      "--buckets", "4")) == 0)
    assert(graft.Cli.run(Array(
      "image-store", "--ingest", "-i", s"$batch/*.ppm", "-s", s"$tmp/store",
      "-o", s"$tmp/pairs")) == 0)
    val pairs = spark.read.parquet(s"$tmp/pairs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // the planted twins at their generator-documented distances plus
    // the one true cross-family hamming-6 neighbor (MultimodalSpec's
    // pinned set — every pinned pair crosses the orig/twin split)
    assert(pairs == Set(
      ("img_0.ppm", "img_0_dup.ppm", 6L),
      ("img_1.ppm", "img_1_dup.ppm", 4L),
      ("img_2.ppm", "img_2_dup.ppm", 1L),
      ("img_1.ppm", "img_2_dup.ppm", 6L)), pairs.toString)
  }

  test("CLI curate-stream: incremental curation from an empty store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_custream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .write.parquet(s"$tmp/bench")
    docs.limit(0).write.parquet(s"$tmp/empty")
    assert(graft.Cli.run(Array(
      "fp-store", "--create", "-i", s"$tmp/empty", "-s", s"$tmp/store",
      "--buckets", "4")) == 0)
    docs.filter(col("doc_id") < 400).select("doc_id", "text", "source", "lang")
      .write.parquet(s"$tmp/landing")
    assert(graft.Cli.run(Array(
      "curate-stream", "-i", s"$tmp/landing", "-s", s"$tmp/store",
      "--bench", s"$tmp/bench", "-o", s"$tmp/out",
      "--checkpoint", s"$tmp/ckpt")) == 0)
    val corpus = spark.read.parquet(s"$tmp/out/corpus").dropDuplicates()
    assert(corpus.count() > 0 && corpus.count() < 400)
    assert(corpus.columns.contains("quality") && corpus.columns.contains("n_tokens"))
    assert(new java.io.File(s"$tmp/out/_ledger").listFiles().nonEmpty)
    // re-ingesting the same landing dir through a FRESH checkpoint
    // accepts nothing new (the store remembers)
    assert(graft.Cli.run(Array(
      "curate-stream", "-i", s"$tmp/landing", "-s", s"$tmp/store",
      "--bench", s"$tmp/bench", "-o", s"$tmp/out2",
      "--checkpoint", s"$tmp/ckpt2")) == 0)
    val out2 = new java.io.File(s"$tmp/out2/corpus")
    val parts = Option(out2.listFiles())
      .map(_.filter(_.getName.endsWith(".parquet"))).getOrElse(Array.empty)
    val reAccepted = if (parts.nonEmpty)
      spark.read.parquet(s"$tmp/out2/corpus").count() else 0L
    assert(reAccepted == 0L, s"replayed landing accepted $reAccepted rows")
  }

  test("CLI export-shards: disjoint covering shards, dense positions, manifest reconciles") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_shards").toString
    assert(graft.Cli.run(Array(
      "export-shards", "-i", docs, "-o", tmp, "--shards", "4")) == 0)
    val shards = spark.read.parquet(s"$tmp/shards")
    // every document exactly once across the shard set
    assert(shards.count() == 500)
    assert(shards.select("doc_id").distinct().count() == 500)
    // positions dense 0..n-1 within each shard, ordered by the md5 key
    val direct = graft.ops.Packing.shardAssignments(
        spark.read.parquet(docs).select(col("doc_id")), "doc_id", 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // partitionBy writes shard as a directory column; the read-back
    // infers it as INT — cast for the comparison
    shards.select(col("doc_id"), col("shard").cast("long"), col("shard_pos"))
      .collect().foreach { r =>
        assert(direct(r.getLong(0)) == ((r.getLong(1), r.getLong(2))), r.toString)
      }
    shards.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("shard_pos")).as("mx"))
      .collect().foreach(r => assert(r.getLong(2) == r.getLong(1) - 1,
        s"shard ${r.get(0)} positions not dense"))
    // manifest totals match the shipped shards
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "manifest.json")), "UTF-8")
    val mDocs = """"n_docs": (\d+)""".r.findAllMatchIn(manifest)
      .map(_.group(1).toLong).sum
    assert(mDocs == 500L, s"manifest docs $mDocs != 500")
  }

  test("CLI lm-store: frozen-LM scoring round-trips") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_lm").toString
    assert(graft.Cli.run(Array(
      "lm-store", "--create", "-i", docs, "-s", s"$tmp/lm", "--buckets", "4")) == 0)
    assert(graft.Cli.run(Array(
      "lm-store", "--score", "-i", docs, "-s", s"$tmp/lm", "-o", s"$tmp/scores")) == 0)
    val scores = spark.read.parquet(s"$tmp/scores")
    assert(scores.columns.toSeq == Seq("doc_id", "n_tokens", "n_oov", "avg_logprob"))
    assert(scores.count() == 500)
    assert(scores.filter(col("n_oov") =!= 0L).count() == 0,
      "own-corpus scoring must see no OOV")
  }

  test("CLI nb-store: frozen NB scoring round-trips and matches the library path") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_nb").toString
    assert(graft.Cli.run(Array(
      "nb-store", "--create", "-i", docs, "-s", s"$tmp/nb",
      "--seed", "lang = 'en'", "--buckets", "4")) == 0)
    assert(graft.Cli.run(Array(
      "nb-store", "--score", "-i", docs, "-s", s"$tmp/nb", "-o", s"$tmp/scores")) == 0)
    val scores = spark.read.parquet(s"$tmp/scores")
    assert(scores.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_oov", "log_odds", "predicted"))
    assert(scores.count() == 500)
    assert(scores.filter(col("n_oov") =!= 0L).count() == 0,
      "own-corpus scoring must see no OOV")
    val want = graft.ops.NbStore.score(spark, s"$tmp/nb",
      spark.read.parquet(docs)).collect().map(_.toSeq).toSet
    assert(scores.collect().map(_.toSeq).toSet == want)
  }

  test("CLI cluster-sample: batch verb == library; stream verb == batch over landings") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_cs").toString
    assert(graft.Cli.run(Array(
      "cluster-sample", "-i", emb, "-o", s"$tmp/batch", "-k", "8")) == 0)
    val want = graft.similarity.Similarity.clusterBalancedSample(
      spark.read.parquet(emb).select("vec_id", "embedding"),
      "vec_id", "embedding", dim = 64, nlist = 24, k = 8)
      .select(col("vec_id"), col("cell").cast("int"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$tmp/batch")
      .select(col("vec_id"), col("cell").cast("int"), col("rank"))
      .collect().map(_.toSeq).toSet == want)
    // stream verb against an index frozen on the full corpus
    graft.similarity.Similarity.writeIvfIndex(
      spark.read.parquet(emb).select("vec_id", "embedding"),
      "vec_id", "embedding", dim = 64, nlist = 24, path = s"$tmp/ivf")
    spark.read.parquet(emb).select("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$tmp/in")
    assert(graft.Cli.run(Array(
      "cluster-sample", "--stream", "-i", s"$tmp/in", "--index", s"$tmp/ivf",
      "-o", s"$tmp/store", "--checkpoint", s"$tmp/ckpt", "-k", "8")) == 0)
    assert(spark.read.parquet(s"$tmp/store/sample")
      .select(col("vec_id"), col("cell").cast("int"), col("rank"))
      .collect().map(_.toSeq).toSet == want)
  }

  test("CLI bpe-train + tokenize: merge TSV round-trips through encode") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_bpe").toString
    assert(graft.Cli.run(Array(
      "bpe-train", "-i", docs, "-o", s"$tmp/merges.tsv", "--merges", "4")) == 0)
    val lines = scala.io.Source.fromFile(s"$tmp/merges.tsv").getLines().toSeq
    assert(lines.head == "step\tleft\tright\tmerged\tcount")
    assert(lines.size == 5, lines.mkString("|")) // header + 4 merges
    assert(graft.Cli.run(Array(
      "tokenize", "-i", docs, "-o", s"$tmp/pieces",
      "--merges", s"$tmp/merges.tsv")) == 0)
    val got = spark.read.parquet(s"$tmp/pieces")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the CLI path == training + encoding run directly in-process
    val d = spark.read.parquet(docs)
    val want = graft.ops.Quality.bpeEncode(d, graft.ops.Quality.bpeMerges(d, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"CLI tokenize diverged: ${got.size} vs ${want.size}")
    // merges really compress: pieces < characters for some doc
    assert(got.exists { case (_, nt, np) => np > nt }, "pieces should exceed tokens")
  }

  test("CLI audio-store: create originals, ingest twins links the planted pairs") {
    val fixDir = "/root/repo/fixtures/audio_nd"
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_audstore").toString
    val orig = s"$tmp/orig"; val batch = s"$tmp/batch"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(orig))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(batch))
    new java.io.File(fixDir).listFiles().filter(_.getName.endsWith(".wav")).foreach { f =>
      val dst = if (f.getName.contains("_dup")) batch else orig
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$dst/${f.getName}"))
    }
    assert(graft.Cli.run(Array(
      "audio-store", "--create", "-i", s"$orig/*.wav", "-s", s"$tmp/store",
      "--buckets", "4")) == 0)
    assert(graft.Cli.run(Array(
      "audio-store", "--ingest", "-i", s"$batch/*.wav", "-s", s"$tmp/store",
      "-o", s"$tmp/pairs")) == 0)
    val pairs = spark.read.parquet(s"$tmp/pairs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // the generator-asserted planted truth: three twins at hamming 1
    assert(pairs == Set(
      ("clip_0.wav", "clip_0_dup.wav", 1L),
      ("clip_1.wav", "clip_1_dup.wav", 1L),
      ("clip_2.wav", "clip_2_dup.wav", 1L)), pairs.toString)
  }

  // ---- store sidecars (graft.io.StoreMeta) ----------------------------

  /** Replace a sidecar as an external writer would: its stale Hadoop
    * `.crc` goes too (object stores keep none), so the read sees the
    * content and not a checksum mismatch. */
  private def putSidecar(file: String, content: String): Unit = {
    val f = java.nio.file.Paths.get(file)
    java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
  }

  test("store sidecars: a truncated store sidecar or torn posting stats file " +
    "fails naming the file") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidecar_strict").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") % 10 === 0)
    def failsNaming(file: String)(attach: => Any): Unit = {
      val e = intercept[RuntimeException](attach)
      assert(e.getMessage.startsWith("malformed ") && e.getMessage.contains(file), e.getMessage)
    }
    // truncated after "buckets": attaching must not fall back to an
    // uncapped band store
    graft.dedup.BandStore.createAt(spark, docs, "doc_id", "text", s"$tmp/band",
      maxBucketSize = 8L, buckets = 4)
    putSidecar(s"$tmp/band/_band_store.json", """{"n": 2, "numHashes": 64, "bands": 16, "buckets": 4""")
    failsNaming(s"$tmp/band/_band_store.json")(graft.dedup.BandStore.attach(spark, s"$tmp/band"))
    // truncated after "buckets": no silent schema-inference fallback
    graft.ops.LmStore.createAt(spark, docs, s"$tmp/lm", buckets = 4)
    putSidecar(s"$tmp/lm/_lm_store.json", """{"total": 10, "buckets": 4""")
    failsNaming(s"$tmp/lm/_lm_store.json")(graft.ops.LmStore.attach(spark, s"$tmp/lm"))
    // a parsed document without a required field
    graft.ops.HllStore.createAt(spark, docs, s"$tmp/hll", p = 10)
    putSidecar(s"$tmp/hll/_hll_store.json", """{"q": 10}""")
    failsNaming(s"$tmp/hll/_hll_store.json")(graft.ops.HllStore.attach(spark, s"$tmp/hll"))
    // a torn posting stats file
    graft.ops.PostingStore.create(docs, s"$tmp/posting", nBuckets = 4)
    putSidecar(s"$tmp/posting/stats/base.json", """{"n_docs": 12, "tot""")
    failsNaming(s"$tmp/posting/stats/base.json")(graft.ops.PostingStore.retrieve(spark,
      s"$tmp/posting", docs.select(col("doc_id").as("q_id"), col("text")).limit(2)))
  }

  test("store sidecars: the spaced hand-written format and older sidecars " +
    "attach as before, for all 10 stores") {
    import spark.implicits._
    import graft.dedup.{BandStore, FingerprintStore, SigBandStore}
    import graft.ops.{CmsStore, HllStore, LangIdStore, LmStore, NbStore, PsiStore, TokStore}
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidecar_compat").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def schemaOf(table: String) = spark.table(table).schema

    BandStore.createAt(spark, docs, "doc_id", "text", s"$tmp/band", maxBucketSize = 8L, buckets = 4)
    val band = s"$tmp/band/_band_store.json"
    putSidecar(band, """{"n": 2, "numHashes": 64, "bands": 16, "buckets": 4, "maxBucketSize": 8}""")
    assert(BandStore.attach(spark, s"$tmp/band")._2 == ((2, 64, 16, 4, 8L)))
    // written before the cap persisted: uncapped
    putSidecar(band, """{"n": 2, "numHashes": 64, "bands": 16, "buckets": 4}""")
    assert(BandStore.attach(spark, s"$tmp/band")._2 == ((2, 64, 16, 4, Long.MaxValue)))

    SigBandStore.createAt(spark, (0 until 20).map(i => (s"s$i", i * 7919L)).toDF("name", "sig"),
      "name", "sig", s"$tmp/sig", sigBits = 64, bands = 4, buckets = 4)
    putSidecar(s"$tmp/sig/_sig_band_store.json", """{"sigBits": 64, "bands": 4, "buckets": 4}""")
    assert(SigBandStore.attach(spark, s"$tmp/sig")._2 == ((64, 4, 4)))

    // bucketed stores with a schema field: the spaced form and the
    // older form without it (file inference) declare the same table
    FingerprintStore.createAt(spark, docs, "doc_id", "text", s"$tmp/fp", buckets = 4)
    val fpTable = FingerprintStore.attach(spark, s"$tmp/fp")._1
    val fpSchema = schemaOf(fpTable)
    for (sidecar <- Seq(s"""{"buckets": 4, "schema": "${fpSchema.toDDL}"}""", """{"buckets": 4}""")) {
      putSidecar(s"$tmp/fp/_fp_store.json", sidecar)
      assert(FingerprintStore.attach(spark, s"$tmp/fp") == ((fpTable, 4)), sidecar)
      assert(schemaOf(fpTable) == fpSchema, sidecar)
    }
    LmStore.createAt(spark, docs, s"$tmp/lm", buckets = 4)
    val lm = LmStore.attach(spark, s"$tmp/lm")
    val lmSchema = schemaOf(lm._1)
    for (sidecar <- Seq(
        s"""{"total": ${lm._2}, "buckets": 4, "schema": "`tok` STRING,`cnt` BIGINT"}""",
        s"""{"total": ${lm._2}, "buckets": 4}""")) {
      putSidecar(s"$tmp/lm/_lm_store.json", sidecar)
      assert(LmStore.attach(spark, s"$tmp/lm") == lm, sidecar)
      assert(schemaOf(lm._1) == lmSchema, sidecar)
    }
    NbStore.createAt(spark, docs, col("lang") === "en", s"$tmp/nb", buckets = 4)
    val nb = NbStore.attach(spark, s"$tmp/nb")
    val nbSchema = schemaOf(nb._1)
    val nbScalars = s""""tpos": ${nb._2}, "tneg": ${nb._3}, "v": ${nb._4}, """ +
      s""""npos": ${nb._5}, "nneg": ${nb._6}, "buckets": 4"""
    for (sidecar <- Seq(
        s"""{$nbScalars, "schema": "`tok` STRING,`pos` BIGINT,`neg` BIGINT"}""",
        s"""{$nbScalars}""")) {
      putSidecar(s"$tmp/nb/_nb_store.json", sidecar)
      assert(NbStore.attach(spark, s"$tmp/nb") == nb, sidecar)
      assert(schemaOf(nb._1) == nbSchema, sidecar)
    }

    CmsStore.createAt(spark, docs, s"$tmp/cms", d = 4, w = 64)
    putSidecar(s"$tmp/cms/_cms_store.json", """{"d": 4, "w": 64}""")
    assert(CmsStore.attach(spark, s"$tmp/cms")._2 == ((4, 64)))
    HllStore.createAt(spark, docs, s"$tmp/hll", p = 10)
    putSidecar(s"$tmp/hll/_hll_store.json", """{"p": 10}""")
    assert(HllStore.attach(spark, s"$tmp/hll")._2 == 10)
    LangIdStore.createAt(spark, docs, s"$tmp/lid", topM = 16)
    putSidecar(s"$tmp/lid/_langid_store.json", """{"topM": 16}""")
    assert(LangIdStore.attach(spark, s"$tmp/lid")._2 == 16)

    // introspection-only sidecars: attach never reads them, the
    // reader still parses the spaced form
    val merges = TokStore.createAt(spark, docs, s"$tmp/tok", nMerges = 2)
    putSidecar(s"$tmp/tok/_tok_store.json", s"""{"n_merges": ${merges.size}}""")
    assert(graft.io.StoreMeta.read(spark, s"$tmp/tok/_tok_store.json").int("n_merges") ==
      merges.size)
    assert(TokStore.attach(spark, s"$tmp/tok") == merges)
    PsiStore.createAt(spark, docs, "n_chars", s"$tmp/psi")
    putSidecar(s"$tmp/psi/_psi_store.json", """{"n_ref": 500, "bins": 5}""")
    val psi = graft.io.StoreMeta.read(spark, s"$tmp/psi/_psi_store.json")
    assert(psi.long("n_ref") == 500L && psi.int("bins") == 5)
    assert(PsiStore.attach(spark, s"$tmp/psi")._1.size == 4)
  }

  test("sample ids: a space, % and + in raw file names survive sampleColumnsMatrix and mafVector") {
    import java.nio.file.{Files, Paths}
    // The scan URL-escapes a file name (`TCGA A1` -> `TCGA%20A1`) while
    // the listing does not; undecoded, the pivot column was all null and
    // mafVector added a sentinel row for a sample that has mutations.
    val renames = Map("SAMP-01A" -> "TCGA A1", "SAMP-02A" -> "P%C+D")
    def renamedCopy(dtype: String): String = {
      val dir = Files.createTempDirectory(s"graft_sid_$dtype")
      Files.list(Paths.get(s"fixtures/$dtype")).forEach { f =>
        val n = f.getFileName.toString
        val (sid, rest) = n.splitAt(n.indexOf('.'))
        Files.copy(f, dir.resolve(renames.getOrElse(sid, sid) + rest))
      }
      dir.toString
    }
    val star = GdcTransforms.transform(spark, "star_counts", renamedCopy("star_counts"))
    val starRef = GdcTransforms.transform(spark, "star_counts", "fixtures/star_counts")
    assert(star.columns.toSeq == Seq("Ensembl_ID", "P%C+D", "SAMP-11A", "TCGA A1"))
    assert(XenaOps.canonicalEqual(star,
      starRef.select(starRef.columns.map(c => col(s"`$c`").as(renames.getOrElse(c, c))): _*)))
    for (c <- renames.values) assert(star.filter(col(s"`$c`").isNotNull).count() > 0, c)

    val maf = GdcTransforms.mafVector(spark, renamedCopy("somaticmutation_wxs"))
    val mafRef = GdcTransforms.mafVector(spark, "fixtures/somaticmutation_wxs")
    val renamed = udf((s: String) => renames.getOrElse(s, s))
    assert(XenaOps.canonicalEqual(maf, mafRef.withColumn("sample", renamed(col("sample")))))
    assert(maf.filter(col("start") === -1).count() == mafRef.filter(col("start") === -1).count())
  }

  test("matrixSchema types each dtype's matrix as its transform writes it") {
    for (d <- Seq("star_counts", "methylation450", "gene-level_ascat-ngs", "segment_cnv_DNAcopy",
        "somaticmutation_wxs")) {
      val df = GdcTransforms.transform(spark, d, s"fixtures/$d")
      val declared = DTypes.matrixSchema(d, df.columns.toSeq).getOrElse(fail(s"$d: no schema"))
      assert(declared.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType), d)
    }
    assert(DTypes.matrixSchema("clinical", Seq("sample", "x")).isEmpty)
    assert(DTypes.matrixSchema("survival", Seq("sample", "OS")).isEmpty)
  }

  test("CLI merge-xena: typed reads write what the inference path writes (fixtures, gen.py matrices, bucketed store)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_typed_merge")
    def lines(dir: String): Seq[String] = new String(partBytes(dir), "UTF-8").split("\n").toSeq
    def sameBytes(a: String, b: String, clue: String): Unit = {
      val (x, y) = (partBytes(a), partBytes(b))
      if (!(x sameElements y)) {
        val (lx, ly) = (lines(a), lines(b))
        val diff = lx.zipAll(ly, "<none>", "<none>").zipWithIndex.filter { case ((l, r), _) => l != r }
        fail(s"$clue: ${diff.size} lines differ, first: ${diff.take(3).mkString("; ")}")
      }
    }
    def partBytes(dir: String): Array[Byte] = {
      val parts = Files.list(Paths.get(dir)).iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 1, s"$dir: ${parts.size} part files")
      Files.readAllBytes(parts.head)
    }
    val dtypes = Seq("star_counts", "methylation450", "mirna", "gene-level_ascat-ngs",
      "segment_cnv_DNAcopy", "somaticmutation_wxs")
    // Raw set 1: the fixtures split by sample into two projects.
    val fixRaw = tmp.resolve("fixtures_raw")
    for (d <- dtypes; f <- Files.list(Paths.get(s"fixtures/$d")).iterator.asScala) {
      val proj = if (f.getFileName.toString.startsWith("SAMP-02A")) "PB" else "PA"
      Files.createDirectories(fixRaw.resolve(s"$proj/$d"))
      Files.copy(f, fixRaw.resolve(s"$proj/$d/${f.getFileName}"))
    }
    // Raw set 2: the benchmark generator's shapes (replicate vials, null
    // copy numbers -> NA cells, an empty MAF -> sentinel rows).
    val genRaw = tmp.resolve("gen")
    val py = Seq("python3", "-c",
      "import sys; sys.path.insert(0, 'perfbench'); import gen; " +
        s"gen.gen_etl('$genRaw', 7, 2, 2, dtypes=${dtypes.mkString("['", "', '", "']")}, star_genes=300)")
    assert(scala.sys.process.Process(py).! == 0, "perfbench/gen.py failed")
    for ((raw, projects) <- Seq(fixRaw -> Seq("PA", "PB"), genRaw.resolve("raw") -> Seq("BENCH-P0", "BENCH-P1"))) {
      val out = s"$raw-out"
      assert(Cli.run((Seq("etl-batch", "-r", raw.toString, "-o", out, "-p") ++ projects ++
        Seq("-t") ++ dtypes).toArray) == 0)
      for (d <- dtypes) {
        val files = projects.map(p => s"$out/$p/$d.tsv")
        val long = Seq("segment_cnv_DNAcopy", "somaticmutation_wxs").contains(d)
        val inferred = files.map(f => graft.io.XenaTsv.read(spark, f, None))
        val key = inferred.head.columns.head
        val ref = if (long) XenaOps.mergeVertical(inferred) else XenaOps.mergeHorizontal(inferred, key)
        graft.io.XenaTsv.write(ref, s"$out/ref_$d.tsv", rowKey = Some(ref.columns.head))
        assert(Cli.run((Seq("merge-xena", "-t", d, "-o", s"$out/merged_$d.tsv") ++
          files.flatMap(f => Seq("-f", f))).toArray) == 0)
        sameBytes(s"$out/merged_$d.tsv", s"$out/ref_$d.tsv", s"$raw $d")
        if (!long) {
          // The reference export: the store's committed cohorts read
          // with inference, merged, in row-key order.
          val refStore = s"$out/refstore_$d"
          graft.io.CohortStore.merge(spark, refStore, files.take(1))
          graft.io.CohortStore.merge(spark, refStore, files.drop(1))
          val acc = XenaOps.mergeHorizontal(graft.io.CohortStore.matrices(spark, refStore, _ => None), key)
          graft.io.XenaTsv.write(acc.coalesce(1).sortWithinPartitions(acc.col(s"`$key`")),
            s"$out/refexport_$d.tsv", rowKey = Some(key))
          assert(Cli.run((Seq("merge-xena", "--bucketed-store", s"$out/store_$d", "-t", d,
            "-o", s"$out/export_$d.tsv") ++ files.flatMap(f => Seq("-f", f))).toArray) == 0)
          sameBytes(s"$out/export_$d.tsv", s"$out/refexport_$d.tsv", s"$raw $d bucketed store")
        }
      }
    }
    // Renderings typing changes, on a hand-written matrix: an integer
    // cell is read as a double, so it comes back `1.0` where inference
    // kept `1`; a non-numeric cell of a double-typed dtype comes back
    // empty where inference kept the text (as a string column).
    Files.createDirectories(tmp.resolve("ints"))
    Files.writeString(tmp.resolve("ints/a.tsv"), "id\ts1\ng1\t1\ng2\t2\ng3\tNA\n")
    Files.createDirectories(tmp.resolve("ints2"))
    Files.writeString(tmp.resolve("ints2/a.tsv"), "id\ts2\ng1\t0.5\n")
    assert(Cli.run(Array("merge-xena", "-t", "methylation450", "-f", s"$tmp/ints", "-f", s"$tmp/ints2",
      "-o", s"$tmp/ints_merged.tsv")) == 0)
    assert(new String(partBytes(s"$tmp/ints_merged.tsv"), "UTF-8").split("\n").toSet ==
      Set("id\ts1\ts2", "g1\t1.0\t0.5", "g2\t2.0\t", "g3\t\t"))
  }

  test("metadata sidecar: written through the session's Hadoop conf; the session-less verb writes the same bytes") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_sidecar_conf")
    // A filesystem scheme only the session's conf knows: the matrix sink
    // resolved it, and the sidecar beside it used to fail on it. Uncached,
    // so the sink's instance cannot stand in for the sidecar's lookup.
    val schemeConf = Seq("fs.graftsidecar.impl" -> classOf[SidecarSchemeFs].getName,
      "fs.graftsidecar.impl.disable.cache" -> "true")
    schemeConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(Cli.run(Array("etl", "-t", "star_counts", "-r", "fixtures/star_counts",
      "-o", s"graftsidecar://$tmp/star.tsv")) == 0)
    finally schemeConf.foreach { case (k, _) => spark.conf.unset(k) }
    val viaSession = Files.readAllBytes(Paths.get(s"$tmp/star.tsv.json"))
    assert(Cli.run(Array("metadata", "-t", "star_counts", "-p", s"$tmp/plain.tsv")) == 0)
    assert(Files.readAllBytes(Paths.get(s"$tmp/plain.tsv.json")) sameElements viaSession)
    val date = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy"))
    val vars = XenaMetadata.dtypeVariables("star_counts")(XenaMetadata.Vars("GDC star_counts", date))
    assert(new String(viaSession, "UTF-8") == XenaMetadata.render("rna", vars))
  }
}

/** The local filesystem under a scheme of its own, for a Hadoop conf
  * option that only a session carries. */
class SidecarSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsidecar:///")
  override def getScheme: String = "graftsidecar"
}
