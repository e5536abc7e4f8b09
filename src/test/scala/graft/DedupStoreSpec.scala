package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}

import graft.dedup.FingerprintStore

/** Incremental fingerprint-store dedup: multi-batch correctness
  * (create → dedupe → append → dedupe), null-fingerprint semantics,
  * and the scale contract — the store side of the anti-join scans
  * bucketed with NO exchange (the corpus never reshuffles as batches
  * arrive; only each batch does).
  */
class DedupStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("multi-batch dedupeNew/append equals brute-force global exact dedup") {
    val b1 = Seq((1L, "a b c"), (2L, "d e f"), (3L, "a b c")).toDF("doc_id", "text")
    val b2 = Seq(
      (10L, "a  B c"),  // dup of 1 after normalization
      (11L, "g h i"),   // new
      (12L, "g h i"),   // intra-batch dup of 11
      (13L, null.asInstanceOf[String])) // null text: new (store has none)
      .toDF("doc_id", "text")
    val b3 = Seq(
      (20L, "g h i"),   // dup of 11 via the APPENDED fps
      (21L, null.asInstanceOf[String]), // null dedups against 13's null fp
      (22L, "j k l"))   // new
      .toDF("doc_id", "text")

    val table = s"fp_spec_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    FingerprintStore.create(b1, "doc_id", "text", table, s"${tmpPath("fp_store")}/s", buckets = 4)

    val new2 = FingerprintStore.dedupeNew(spark, table, b2, "doc_id", "text")
    assert(new2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    assert(new2.columns.toSeq == Seq("doc_id", "text"), "batch schema must round-trip")
    FingerprintStore.append(spark, table, new2, "doc_id", "text", buckets = 4)

    val new3 = FingerprintStore.dedupeNew(spark, table, b3, "doc_id", "text")
    assert(new3.select("doc_id").as[Long].collect().sorted.toSeq == Seq(22L))
  }

  test("anti-join scans the store bucketed: zero exchanges on the store side") {
    // Disable auto-broadcast: at test scale the store would broadcast
    // (also exchange-free, but vacuously). The 100-TB contract is the
    // NON-broadcast shape — store side streams from its buckets.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val docs = model.Tables.documents(spark, sfDir)
      val table = s"fp_spec_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      FingerprintStore.create(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", table, s"${tmpPath("fp_store_plan")}/s", buckets = 32)
      val planned = FingerprintStore.dedupeNew(
        spark, table, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      // Unwrap AQE BEFORE execution: the initial plan is a plain
      // SparkPlan tree (post-execution, exchanges hide inside
      // QueryStageExec wrappers that TreeNode.collect won't enter).
      val finalPlan = planned.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val anti = finalPlan.collect {
        case j: BaseJoinExec if j.joinType.sql == "LEFT ANTI" => j
      }
      assert(anti.nonEmpty, s"no anti-join in the plan:\n$finalPlan")
      val storeSide = anti.head match {
        case smj: SortMergeJoinExec => smj.right
        case shj: ShuffledHashJoinExec => shj.right
        case other => other.children.last
      }
      val storeShuffles = storeSide.collect { case e: ShuffleExchangeExec => e }
      assert(storeShuffles.isEmpty,
        s"store side of the anti-join reshuffles:\n$storeSide")
      assert(storeSide.toString.contains("Bucketed: true"),
        s"store scan is not bucketed:\n$storeSide")
    } finally spark.conf.set(thresholdKey, orig)
  }

  test("band store: persisted link == in-memory fuzzy join; attach + append grow it") {
    val docs = model.Tables.documents(spark, sfDir)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val path = s"${tmpPath("band_store")}/s"
    val table = graft.dedup.BandStore.createAt(
      spark, even, "doc_id", "text", path, n = 2, numHashes = 64, bands = 16)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val viaStore = canon(graft.dedup.BandStore.linkNew(
      spark, table, odd, even, "doc_id", "text",
      threshold = 0.8, n = 2, numHashes = 64, bands = 16))
    val inMemory = canon(graft.dedup.Dedup.minHashLshJoin(
      even, odd, "doc_id", "text", n = 2, threshold = 0.8,
      numHashes = 64, bands = 16))
    assert(viaStore == inMemory,
      s"store round-trip diverged: ${viaStore.size} vs ${inMemory.size} links")

    // attach in the same session (fresh catalog declaration) + append
    // a doc that near-dups an odd batch doc: the link must appear
    // WITHOUT re-signing the original reference
    val (table2, (n2, nh2, b2, bk2, cap2)) = graft.dedup.BandStore.attach(spark, path)
    // created with the session-derived default bucket count — the
    // sidecar must carry the RESOLVED value, not the 0 sentinel
    assert((n2, nh2, b2, bk2, cap2) ==
      ((2, 64, 16, graft.io.BucketedTable.defaultBuckets(spark), Long.MaxValue)))
    val oddOne = odd.limit(1).collect()(0)
    val newRef = Seq((oddOne.getLong(0) + 1000000L,
      oddOne.getString(1))).toDF("doc_id", "text")
    graft.dedup.BandStore.append(spark, table2, newRef, "doc_id", "text",
      n = n2, numHashes = nh2, bands = b2, buckets = bk2)
    val extendedRef = even.select(col("doc_id"), col("text")).unionByName(newRef)
    val after = graft.dedup.BandStore.linkNew(
      spark, table2, odd, extendedRef, "doc_id", "text",
      threshold = 0.8, n = n2, numHashes = nh2, bands = b2)
    val planted = after.filter(col("doc_a") === oddOne.getLong(0) + 1000000L
      && col("doc_b") === oddOne.getLong(0))
    assert(planted.count() == 1, "appended reference doc did not link its near-dup")
    assert(after.count() >= viaStore.size.toLong, "append lost existing links")
  }

  test("band-store link scans the store bucketed: zero exchanges on the store side") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val docs = model.Tables.documents(spark, sfDir)
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val table = graft.dedup.BandStore.createAt(
        spark, even, "doc_id", "text", s"${tmpPath("band_plan")}/s",
        n = 2, numHashes = 64, bands = 16, buckets = 32)
      // Pin the plan on the CANDIDATE stage — linkNew's verify stage
      // checkpoints the candidates, so the store join never appears in
      // the end-to-end query's executed plan.
      val cands = graft.dedup.BandStore.linkCandidates(
        spark, table, odd, "doc_id", "text", n = 2, numHashes = 64, bands = 16)
      cands.queryExecution.toRdd.count()
      val finalPlan = cands.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scans = finalPlan.toString
      assert(scans.contains("Bucketed: true"),
        s"band-store scan is not bucketed:\n${scans.take(3000)}")
      // TreeNode.collect stops at QueryStageExec boundaries (the stage
      // wraps its subtree in a `plan` member, not `children`) — flatten
      // through them to reach the bkey join.
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case other => other.children.flatMap(flatten)
      })
      val joins = flatten(finalPlan).collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty, s"no join in the candidate plan:\n${scans.take(2000)}")
      // The store is the right side of the bkey join: zero exchanges
      // above its bucketed scan — only the batch side repartitions.
      val storeSide = joins.head.children.last
      val storeShuffles = flatten(storeSide).collect { case e: ShuffleExchangeExec => e }
      assert(storeShuffles.isEmpty,
        s"store side of the band join reshuffles:\n$storeSide")
    } finally spark.conf.set(thresholdKey, orig)
  }

  test("sig band store: persisted link == in-memory banded pairs; attach + append grow it") {
    import graft.dedup.SigBandStore
    import graft.multimodal.ImageOps
    val decoded = ImageOps.decodePpm(
      spark, ImageOps.readBinary(spark, "/root/repo/fixtures/images/*.ppm"))
    val sigs = ImageOps.aHash64Packed(spark, decoded).localCheckpoint(false)
    val sigMap = sigs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference = originals, batch = the _dup twins
    val ref = sigs.filter(!col("name").contains("_dup"))
    val batch = sigs.filter(col("name").contains("_dup"))
    val path = s"${tmpPath("sig_band")}/s"
    val table = SigBandStore.createAt(spark, ref, "name", "sig", path,
      sigBits = 64, bands = 4, buckets = 4)

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val viaStore = canon(SigBandStore.linkNew(spark, table, batch, "name", "sig",
      maxDist = 6, sigBits = 64, bands = 4))
    // brute-force cross truth from the collected signatures
    val want = (for {
      (na, sa) <- sigMap.toSeq if !na.contains("_dup")
      (nb, sb) <- sigMap.toSeq if nb.contains("_dup")
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (na, nb, d.toLong)).sorted
    assert(viaStore == want, s"store link diverged: $viaStore vs $want")
    assert(viaStore.nonEmpty, "fixture twins should link")

    // attach (fresh catalog declaration) + append the batch: now the
    // batch's own twins link against the GROWN store without the
    // originals ever being re-signed
    val (table2, (sb2, b2, bk2)) = SigBandStore.attach(spark, path)
    assert((sb2, b2, bk2) == ((64, 4, 4)))
    SigBandStore.append(spark, table2, batch, "name", "sig",
      sigBits = sb2, bands = b2, buckets = bk2)
    val after = canon(SigBandStore.linkNew(spark, table2, batch, "name", "sig",
      maxDist = 6, sigBits = sb2, bands = b2))
    // self-links (x, x, 0) are documented behavior when the same item
    // sits on both sides — consumers filter, the store reports
    val wantAfter = (for {
      (na, sa) <- sigMap.toSeq
      (nb, sb) <- sigMap.toSeq if nb.contains("_dup")
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 6
    } yield (na, nb, d.toLong)).sorted
    assert(after == wantAfter, s"grown-store link diverged: $after vs $wantAfter")
  }

  test("empty-store bootstrap: create over zero rows, attach, grow — both stores") {
    import graft.dedup.{FingerprintStore, SigBandStore}
    val spark2 = spark
    import spark2.implicits._
    // fingerprint store: the streaming-curation start-from-nothing case
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val fpPath = s"${tmpPath("fp_boot")}/s"
    FingerprintStore.createAt(spark, docs.limit(0), "doc_id", "text", fpPath, buckets = 4)
    val (fpTable, fpBuckets) = FingerprintStore.attach(spark, fpPath)
    val fresh = FingerprintStore.dedupeNew(spark, fpTable, docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fresh == Set(1L, 3L), s"empty store must accept batch firsts: $fresh")
    FingerprintStore.append(spark, fpTable,
      docs.filter(col("doc_id").isin(1L, 3L)), "doc_id", "text", fpBuckets)
    val replay = FingerprintStore.dedupeNew(spark, fpTable, docs, "doc_id", "text").count()
    assert(replay == 0L, "grown store must reject the replayed batch")

    // sig band store: same bootstrap over zero signatures
    val sigPath = s"${tmpPath("sig_boot")}/s"
    SigBandStore.createAt(spark,
      Seq.empty[(String, Long)].toDF("name", "sig"), "name", "sig",
      sigPath, sigBits = 64, bands = 4, buckets = 4)
    val (sigTable, (sb, bd, bk)) = SigBandStore.attach(spark, sigPath)
    val sigs = Seq(("a", 0L), ("b", 3L)).toDF("name", "sig")
    assert(SigBandStore.linkNew(spark, sigTable, sigs, "name", "sig",
      maxDist = 4, sigBits = sb, bands = bd).count() == 0L)
    SigBandStore.append(spark, sigTable, sigs, "name", "sig",
      sigBits = sb, bands = bd, buckets = bk)
    val linked = SigBandStore.linkNew(spark, sigTable, sigs, "name", "sig",
        maxDist = 4, sigBits = sb, bands = bd)
      .filter(col("id_a") =!= col("id_b")).count()
    assert(linked == 2L, s"grown sig store must link the hamming-2 pair both ways: $linked")
  }

  test("sig band store is modality-generic: audio eHash store link == brute force") {
    import graft.dedup.SigBandStore
    import graft.multimodal.{AudioOps, ImageOps}
    val sigs = AudioOps.energyHash64(
        spark, ImageOps.readBinary(spark, "/root/repo/fixtures/audio_nd/*.wav"))
      .localCheckpoint(false)
    val sigMap = sigs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = sigs.filter(!col("name").contains("_dup"))
    val batch = sigs.filter(col("name").contains("_dup"))
    val path = s"${tmpPath("sig_band_audio")}/s"
    val table = SigBandStore.createAt(spark, ref, "name", "sig", path,
      sigBits = 64, bands = 4, buckets = 4)
    val viaStore = SigBandStore.linkNew(spark, table, batch, "name", "sig",
        maxDist = 4, sigBits = 64, bands = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val want = (for {
      (na, sa) <- sigMap.toSeq if !na.contains("_dup")
      (nb, sb) <- sigMap.toSeq if nb.contains("_dup")
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 4
    } yield (na, nb, d.toLong)).sorted
    assert(viaStore == want && viaStore.size == 3,
      s"audio store link diverged: $viaStore vs $want")
  }

  test("sig-band-store link scans the store bucketed: zero exchanges on the store side") {
    import graft.dedup.SigBandStore
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      // synthetic packed signatures stand in for image hashes (the
      // plan shape is signature-source-agnostic); odd ids are 1-bit
      // twins of the preceding even id so the link is non-empty and
      // AQE cannot collapse the join to an EmptyRelation
      val all = spark.range(2000).select(
        concat(lit("img_"), col("id")).as("name"),
        xxhash64(floor(col("id") / 2)).bitwiseXOR(pmod(col("id"), lit(2))).as("sig"),
        col("id"))
      val ref = all.filter(col("id") % 2 === 0).drop("id")
      val batch = all.filter(col("id") % 2 === 1).drop("id")
      val table = SigBandStore.createAt(spark, ref, "name", "sig",
        s"${tmpPath("sig_band_plan")}/s", sigBits = 64, bands = 4, buckets = 32)
      val linked = SigBandStore.linkNew(spark, table, batch, "name", "sig",
        maxDist = 6, sigBits = 64, bands = 4)
      linked.queryExecution.toRdd.count()
      val finalPlan = linked.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      assert(finalPlan.toString.contains("Bucketed: true"),
        s"sig-band-store scan is not bucketed:\n${finalPlan.toString.take(3000)}")
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case other => other.children.flatMap(flatten)
      })
      val joins = flatten(finalPlan).collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty, s"no join in the link plan:\n${finalPlan.toString.take(2000)}")
      val storeSide = joins.head.children.last
      val storeShuffles = flatten(storeSide).collect { case e: ShuffleExchangeExec => e }
      assert(storeShuffles.isEmpty,
        s"store side of the sig band join reshuffles:\n$storeSide")
    } finally spark.conf.set(thresholdKey, orig)
  }
}
