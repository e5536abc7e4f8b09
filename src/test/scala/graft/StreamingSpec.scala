package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.streaming.EventStreams

/** Streaming surface specs: the same transform running in batch and
  * in Structured Streaming must agree (one-codepath contract).
  */
class StreamingSpec extends SparkSpecBase {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("user_id"), col("session_seq"), col("n_events"),
      col("session_start"), col("session_end"))
      .collect().map(_.toSeq).toSet

  test("sessionization is identical under both parquet inferTimestampNTZ settings") {
    // Regression for the Spark-4 NTZ drift: events.parquet stores ts
    // as micros with isAdjustedToUTC=0, which infers as TIMESTAMP_NTZ
    // when inferTimestampNTZ is on and TIMESTAMP when off.
    // Tables.events must normalize both to TIMESTAMP, and the
    // sessionizer must produce byte-identical output either way.
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val orig = spark.conf.getOption(key)
    def run(flag: Boolean) = {
      spark.conf.set(key, flag.toString)
      val ev = Tables.events(spark, sfDir)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"Tables.events must normalize ts under $key=$flag")
      canon(EventStreams.sessionStats(ev, "30 minutes"))
    }
    try {
      val batchNtz = run(true)
      val batchLtz = run(false)
      assert(batchNtz == batchLtz)
      assert(batchNtz.nonEmpty)
    } finally orig match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming decontamination == batch crossNgramOverlap, stateless, exact under forced Bloom FPs") {
    import graft.streaming.StreamDecontam
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("split", graft.functions.TextFunctions.hashSplit(col("doc_id")))
    val bench = docs.filter(col("split") === "valid").select("doc_id", "text")
    val train = docs.filter(col("split") === "train").select("doc_id", "text")
    // Ground truth: the oracle-gated batch path (contaminated docs only).
    val truth = graft.dedup.Dedup.crossNgramOverlap(train, bench, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap

    // fpp=0.5 forces Bloom false positives through the exact-intersect
    // confirm arm — parity below proves they resolve to 0, on a stream.
    val tmp = java.nio.file.Files.createTempDirectory("graft_decontam_stream").toString
    train.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/in")
    train.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
    val q = StreamDecontam.sharedGramCount(stream, bench, "text", n = 5, fpp = 0.5)
      .writeStream.outputMode("append").format("memory").queryName("decontam_stream").start()
    try q.processAllAvailable()
    finally q.stop()

    val emitted = spark.table("decontam_stream")
    // Stateless contract: EVERY train doc emitted exactly once with a
    // verdict; contaminated counts match the batch join to the row.
    assert(emitted.count() == train.count())
    val flagged = emitted.filter(col("shared_grams") > 0)
      .select(col("doc_id"), col("shared_grams")).as[(Long, Long)].collect().toMap
    assert(flagged == truth, s"stream flagged ${flagged.size}, batch ${truth.size}")
    assert(truth.nonEmpty, "fixture produced no contamination — test is vacuous")
    // Batch mode through the SAME codepath agrees too (one-codepath contract).
    val batchSide = StreamDecontam.sharedGramCount(train, bench, "text", n = 5, fpp = 0.5)
      .filter(col("shared_grams") > 0)
      .select(col("doc_id"), col("shared_grams")).as[(Long, Long)].collect().toMap
    assert(batchSide == truth)
  }

  test("text-analysis battery runs unchanged under readStream (one codepath)") {
    import graft.functions.TextFunctions
    // The scoring battery is a stateless projection, so the SAME
    // column expressions must run identically per micro-batch.
    def score(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langIdHeuristic(col("text")).as("lang"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        // the q66 redaction pass is equally stateless — same codepath
        TextFunctions.patternCount(col("text"), TextFunctions.UrlPattern).as("n_urls"),
        TextFunctions.redact(col("text"), TextFunctions.EmailPattern, "<EMAIL>").as("red"))

    val tmp = java.nio.file.Files.createTempDirectory("graft_text_stream").toString
    val docs = Tables.documents(spark, sfDir)
    // two file drops → two micro-batches
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/in")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val q = score(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"))
      .writeStream.outputMode("append").format("memory")
      .queryName("text_stream").start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("text_stream").collect().map(_.toSeq).toSet
    val batch = score(docs.select("doc_id", "text")).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.size == docs.count())
  }

  test("streaming near-dup candidates == batch LSH candidates (and batch-mode fMGWS too)") {
    import graft.dedup.Dedup
    import graft.streaming.StreamNearDup

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val batchCands = pairSet(
      Dedup.minHashCandidates(docs, "doc_id", "text", n = 2))
    assert(batchCands.nonEmpty, "fixture corpus yields no LSH candidates")

    // Same code on a batch frame: every same-bucket pair in one pass.
    val batchMode = pairSet(
      StreamNearDup.candidatePairs(docs, "doc_id", "text", n = 2))
    assert(batchMode == batchCands)

    // A configured state TTL must not change batch semantics (batch
    // execution never times out; setTimeoutDuration is tolerated).
    val batchTtl = pairSet(StreamNearDup.candidatePairs(
      docs, "doc_id", "text", n = 2, stateTtl = Some("1 hour")))
    assert(batchTtl == batchCands)

    // Streaming: two file drops, candidate pairs accumulate across
    // micro-batch boundaries via the bucket state.
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_stream").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/in")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val q = StreamNearDup.candidatePairs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"),
      "doc_id", "text", n = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    assert(pairSet(spark.table("neardup_stream")) == batchCands)
  }

  test("streaming near-dup TTL at a real trigger: state evicts, compaction catches the missed pair") {
    import graft.dedup.Dedup
    import graft.streaming.StreamNearDup
    import org.apache.spark.sql.streaming.Trigger

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // Any known near-dup pair: its halves will arrive on opposite
    // sides of the TTL window.
    val somePair = Dedup.minHashCandidates(docs, "doc_id", "text", n = 2)
      .select("doc_a", "doc_b").head()
    val (a, b) = (somePair.getLong(0), somePair.getLong(1))

    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_ttl").toString
    docs.filter(col("doc_id") === a).coalesce(1).write.parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val q = StreamNearDup.candidatePairs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"),
      "doc_id", "text", n = 2, stateTtl = Some("2 seconds"))
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_ttl")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      // processAllAvailable CANNOT be used here: ProcessingTimeTimeout
      // keeps shouldRunAnotherBatch true, so the engine schedules
      // timeout-check batches forever and the no-new-data latch never
      // fires (the exact behavior StreamNearDup's scaladoc documents).
      // Poll observable state instead.
      def stateRows: Long = Option(q.lastProgress)
        .map(_.stateOperators.apply(0).numRowsTotal).getOrElse(-1L)
      def await(desc: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
        assert(cond, s"timed out waiting for: $desc")
      }
      // Doc a's band buckets become live state.
      await("doc a planting bucket state")(stateRows > 0)
      // Real trigger keeps firing empty batches; once processing time
      // passes the TTL, the timeout branch removes every bucket —
      // state size returns to zero instead of growing unboundedly.
      await("TTL eviction at a real trigger")(stateRows == 0)

      // Doc b arrives after eviction: it re-plants state, but the
      // (a, b) candidate is MISSED — the documented TTL trade.
      docs.filter(col("doc_id") === b).coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
      await("doc b re-planting bucket state")(stateRows > 0)
      assert(q.exception.isEmpty, s"stream died under TTL: ${q.exception}")
      val streamed = spark.table("neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!streamed.contains((a, b)),
        "pair across the TTL boundary must be missed (state was evicted)")

      // The documented remedy: periodic batch compaction over the full
      // corpus catches what the TTL dropped.
      val compacted = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.0)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(compacted.contains((a, b)),
        "batch compaction must recover the TTL-evicted candidate pair")
    } finally q.stop()
  }

  test("incremental matrix stream == batch rebuild, before and after new files land") {
    import graft.model.DTypes
    import graft.streaming.MatrixStream
    import graft.transform.GdcTransforms
    import java.nio.file.{Files, Paths, StandardCopyOption}

    val strategy = DTypes.registry("star_counts")
      .strategy.asInstanceOf[DTypes.SampleColumnsMatrix]
    val srcDir = Paths.get("/root/repo/fixtures/star_counts")
    val all = Files.list(srcDir).toArray.map(_.toString).sorted
    assert(all.length >= 4, "spec needs >= 4 star fixtures")
    val landing = Files.createTempDirectory("graft_matrix_stream").toString
    def land(paths: Seq[String]): Unit = paths.foreach { p =>
      Files.copy(Paths.get(p),
        Paths.get(landing, Paths.get(p).getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def batchNow() = GdcTransforms.longMeanValues(
      GdcTransforms.readRaw(spark, landing, strategy.read), strategy)
      .collect().map(_.toSeq).toSet

    land(all.take(2))
    val schema = MatrixStream.rawSchema(spark, landing, strategy.read)
    val q = MatrixStream.incrementalLongMatrix(spark, landing, strategy, schema)
      .writeStream.outputMode("complete").format("memory")
      .queryName("matrix_stream").start()
    try {
      q.processAllAvailable()
      val after2 = spark.table("matrix_stream").collect().map(_.toSeq).toSet
      assert(after2 == batchNow(), "2-file stream state != batch rebuild")
      assert(after2.nonEmpty)

      land(all.drop(2)) // new samples arrive: fold into running state
      q.processAllAvailable()
      val after4 = spark.table("matrix_stream").collect().map(_.toSeq).toSet
      assert(after4 == batchNow(), "4-file stream state != batch rebuild")
      assert(after4.size > after2.size, "new files added no (probe,sample) cells")
    } finally q.stop()
  }

  test("streamed IVF index appends == batch index over the union (frozen quantizer)") {
    import graft.similarity.Similarity
    import graft.streaming.AnnIndexStream
    import java.nio.file.Files
    import org.apache.spark.sql.functions._

    val emb = graft.model.Tables.embeddings(spark, sfDir)
    val seed = emb.filter(col("vec_id") % 3 === 0) // initial corpus
    val tmp = Files.createTempDirectory("graft_ann_stream").toString
    val indexPath = s"$tmp/idx"
    Similarity.writeIvfIndex(seed, "vec_id", "embedding",
      dim = 64, nlist = 8, path = indexPath)

    // Land two parquet batches of new vectors, stream them in.
    val landing = s"$tmp/landing"
    emb.filter(col("vec_id") % 3 === 1)
      .write.mode("append").parquet(landing)
    val q1 = AnnIndexStream.maintain(spark, landing, indexPath, s"$tmp/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    emb.filter(col("vec_id") % 3 === 2)
      .write.mode("append").parquet(landing)
    val q2 = AnnIndexStream.maintain(spark, landing, indexPath, s"$tmp/ckpt")
    try q2.processAllAvailable() finally q2.stop()

    // Frozen-quantizer batch reference: assign ALL vectors with the
    // streamed index's own quantizer and compare stores row-for-row.
    val meta = Similarity.readIvfIndexMeta(spark, indexPath)
    val expected = AnnIndexStream.assigned(emb, meta)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val stored = spark.read.parquet(s"$indexPath/vectors")
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == expected, "streamed index store != frozen-quantizer assignment")

    // And the search over the streamed index equals the same search
    // over a batch-written index USING THE SAME quantizer: rebuild the
    // vectors dir from scratch with the frozen assignment.
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val streamedHits = Similarity.ivfTopKIndexed(
      spark, indexPath, queries, "q_id", "q_vec", k = 3, nprobe = 4)
    val rebuilt = s"$tmp/rebuilt"
    AnnIndexStream.assigned(emb, meta)
      .write.partitionBy("cell").parquet(s"$rebuilt/vectors")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rebuilt), spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$indexPath/index.json"),
      fs, new org.apache.hadoop.fs.Path(s"$rebuilt/index.json"),
      false, spark.sparkContext.hadoopConfiguration)
    val batchHits = Similarity.ivfTopKIndexed(
      spark, rebuilt, queries, "q_id", "q_vec", k = 3, nprobe = 4)
    val diff = streamedHits.exceptAll(batchHits).count() +
      batchHits.exceptAll(streamedHits).count()
    assert(diff == 0, s"streamed-index search differs from batch index by $diff rows")

    // Compaction: simulate a crash-retried duplicate batch, compact,
    // and require the store back to exactly one row per id — with the
    // search unchanged.
    val dupBatch = emb.filter(col("vec_id") % 3 === 2)
    AnnIndexStream.assigned(dupBatch, meta)
      .write.mode("append").partitionBy("cell").parquet(s"$indexPath/vectors")
    assert(spark.read.parquet(s"$indexPath/vectors").count() > emb.count(),
      "duplicate batch did not land (test setup)")
    AnnIndexStream.compact(spark, indexPath)
    val compacted = spark.read.parquet(s"$indexPath/vectors")
    assert(compacted.count() == emb.count(), "compaction lost or kept extra rows")
    assert(compacted.select("vec_id").distinct().count() == emb.count())
    val compactedHits = Similarity.ivfTopKIndexed(
      spark, indexPath, queries, "q_id", "q_vec", k = 3, nprobe = 4)
    val diff2 = compactedHits.exceptAll(batchHits).count() +
      batchHits.exceptAll(compactedHits).count()
    assert(diff2 == 0, s"post-compaction search differs by $diff2 rows")

    // Crash recovery: a compact that died BETWEEN its two swap renames
    // leaves vectors gone and vectors__old holding the only copy. A
    // retry must restore the store, not delete the last copy.
    val vecPath = new org.apache.hadoop.fs.Path(s"$indexPath/vectors")
    val oldPath = new org.apache.hadoop.fs.Path(s"$indexPath/vectors__old")
    assert(fs.rename(vecPath, oldPath), "test setup: simulate mid-swap crash")
    AnnIndexStream.compact(spark, indexPath)
    val recovered = spark.read.parquet(s"$indexPath/vectors")
    assert(recovered.count() == emb.count(), "recovery compact lost rows")
    assert(!fs.exists(oldPath), "recovery compact left vectors__old behind")
    val recoveredHits = Similarity.ivfTopKIndexed(
      spark, indexPath, queries, "q_id", "q_vec", k = 3, nprobe = 4)
    val diff3 = recoveredHits.exceptAll(batchHits).count() +
      batchHits.exceptAll(recoveredHits).count()
    assert(diff3 == 0, s"post-recovery search differs by $diff3 rows")
  }

  test("streaming pack assignment: continues offsets across batches, == batch q63 " +
    "for key-ordered landings, crash-retry rewrites identically") {
    import java.nio.file.Files
    import graft.streaming.PackStream

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val mid = docs.agg(avg(col("doc_id"))).collect()(0).getDouble(0)
    val lo = docs.filter(col("doc_id") < mid)
    val hi = docs.filter(col("doc_id") >= mid)
    assert(lo.count() > 0 && hi.count() > 0)

    val tmp = Files.createTempDirectory("graft_pack_stream").toString
    val landing = s"$tmp/landing"
    val out = s"$tmp/out"

    def drain(): Unit = {
      val q = PackStream.maintain(spark, landing, out, s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def packedNow() = PackStream.packed(spark, out)
      .select(col("doc_id"), col("chunk_seq"), col("n_tokens"),
        col("pack_id"), col("pack_offset"))
      .collect().map(_.toSeq).toSet

    // Land low doc_ids first, then high: arrival order == key order,
    // so the streamed result must equal the batch q63 assignment.
    lo.coalesce(1).write.mode("append").parquet(landing)
    drain()
    val afterLo = packedNow()
    hi.coalesce(1).write.mode("append").parquet(landing)
    drain()
    val streamed = packedNow()
    val batch = SparkEntry.queries("q63_pack")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "ordered-landing stream != batch q63")
    assert(afterLo.nonEmpty && streamed.size > afterLo.size)

    // Crash-retry path: re-running the last batch with its offset file
    // intact must rewrite byte-identical data (reuses recorded start).
    PackStream.processBatch(hi, 1L, out, 512L, 50, 40)
    assert(packedNow() == streamed, "retry with offset file diverged")

    // Crash BEFORE the offset commit: drop batch 1's offset file; the
    // retry must re-derive the same start from batch 0's end.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(out), spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$out/_offsets/1"), false))
    PackStream.processBatch(hi, 1L, out, 512L, 50, 40)
    assert(packedNow() == streamed, "retry without offset file diverged")
    assert(PackStream.startOffsetFor(spark, out, 2L) ==
      streamed.toSeq.map(_(2).asInstanceOf[Long]).sum,
      "next batch's start must equal the total token count so far")
  }

  test("streaming pack: invariants hold when landings are NOT key-ordered") {
    import java.nio.file.Files
    import graft.streaming.PackStream

    // Interleaved thirds: arrival order deliberately differs from
    // (doc_id, chunk_seq) order, so the streamed assignment is NOT
    // the batch q63 — but the packing invariants must still hold:
    // every token packed exactly once, offsets inside the budget,
    // dense pack ids, and the running offset equal to the total.
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val tmp = Files.createTempDirectory("graft_pack_disorder").toString
    val landing = s"$tmp/landing"
    var batches = 0
    for (r <- Seq(1, 0, 2)) { // lands residue-1 docs first
      docs.filter(pmod(col("doc_id"), lit(3)) === r)
        .coalesce(1).write.mode("append").parquet(landing)
      val q = PackStream.maintain(spark, landing, tmp + "/out", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
      batches += 1
    }
    val packed = PackStream.packed(spark, s"$tmp/out")
    val row = packed.agg(
      sum("n_tokens"), max("pack_offset"), max("pack_id"),
      count_distinct(col("pack_id"))).collect()(0)
    val chunkTokens = graft.ops.Packing.chunk(docs)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(row.getLong(0) == chunkTokens, "disorder stream lost or duplicated tokens")
    assert(row.getLong(1) < 512L, s"pack_offset escaped the budget: ${row.getLong(1)}")
    assert(row.getLong(2) == row.getLong(3) - 1,
      s"pack ids not dense: max ${row.getLong(2)} over ${row.getLong(3)} packs")
    assert(PackStream.startOffsetFor(spark, s"$tmp/out", batches.toLong) == chunkTokens,
      "running offset != total tokens after unordered landings")

    // Compaction: re-running the batch assignment over the landed
    // chunk rows must restore EXACTLY the batch q63 result (which the
    // arrival-order stream, by construction above, is not), conserve
    // the token total, and leave the running offset valid for the
    // next maintenance window.
    def packedSet() = PackStream.packed(spark, s"$tmp/out")
      .select(col("doc_id"), col("chunk_seq"), col("n_tokens"),
        col("pack_id"), col("pack_offset"))
      .collect().map(_.toSeq).toSet
    val batch63 = SparkEntry.queries("q63_pack")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(packedSet() != batch63,
      "precondition lost: unordered stream accidentally equals batch q63 — test can't bite")
    PackStream.compact(spark, s"$tmp/out")
    assert(packedSet() == batch63, "compacted store != batch q63 assignment")
    assert(PackStream.startOffsetFor(spark, s"$tmp/out", batches.toLong) == chunkTokens,
      "compaction must not disturb the running offset")

    // Geometry + replay guards. A divergent budget must refuse (both
    // in a batch and as a compact override): the conservation check
    // is budget-independent, so without the pin a wrong budget would
    // silently rewrite every row under the wrong pack geometry.
    val eb = intercept[RuntimeException](
      PackStream.processBatch(docs.limit(1), 99L, s"$tmp/out", 256L, 50, 40))
    assert(eb.getMessage.contains("budget"))
    val ec = intercept[RuntimeException](
      PackStream.compact(spark, s"$tmp/out", Some(256L)))
    assert(ec.getMessage.contains("budget"))
    // Replaying a batch id the compaction covered would overwrite its
    // partition with colliding arrival-order pack ids — fenced.
    val er = intercept[RuntimeException](
      PackStream.processBatch(docs.limit(1), (batches - 1).toLong, s"$tmp/out", 512L, 50, 40))
    assert(er.getMessage.contains("compacted"))
    // A genuinely new batch id continues from the same offset.
    PackStream.processBatch(docs.limit(0), batches.toLong, s"$tmp/out", 512L, 50, 40)
    assert(packedSet() == batch63, "empty continuation batch changed the store")
  }

  test("pack compact: unpinned store needs explicit budget; empty store refuses") {
    import java.nio.file.Files
    import graft.streaming.PackStream
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(20)
    val tmp = Files.createTempDirectory("graft_pack_guards").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)

    // A store that never committed an offset has nothing to compact:
    // compacting it used to write _compacted=0 + a batch=0 partition,
    // permanently fencing a legitimate first batch 0.
    val empty = s"$tmp/empty"
    val e0 = intercept[RuntimeException](PackStream.compact(spark, empty, Some(512L)))
    assert(e0.getMessage.contains("offsets"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$empty/_compacted")),
      "refused compact must not leave a _compacted watermark")
    // ...nor a budget pin: the 512 override was never validated against
    // anything, and pinning it would make the stream's first legitimate
    // batch (with the real budget) refuse against a guess.
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$empty/_budget")),
      "refused compact must not pin its unverified --budget override")

    // A pre-pin store (simulated by deleting _budget): compact with no
    // override must refuse — guessing 512 would silently rewrite a
    // 256-budget store under the wrong geometry.
    val out = s"$tmp/prepin"
    PackStream.processBatch(docs, 0L, out, 256L, 50, 40)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$out/_budget"), false))
    val e1 = intercept[RuntimeException](PackStream.compact(spark, out))
    assert(e1.getMessage.contains("_budget"))
    // With the explicit override it compacts AND re-pins the geometry,
    // so the next maintenance batch is held to the same budget again.
    PackStream.compact(spark, out, Some(256L))
    val e2 = intercept[RuntimeException](
      PackStream.processBatch(docs, 99L, out, 512L, 50, 40))
    assert(e2.getMessage.contains("budget"), "compact must re-pin the resolved budget")
  }

  test("streamed posting-store ingests == one-shot build == in-memory BM25") {
    import graft.ops.{PostingStore, Retrieval}
    import graft.streaming.PostingStream
    import java.nio.file.Files
    import org.apache.spark.sql.functions._

    val docs = graft.model.Tables.documents(spark, sfDir).select("doc_id", "text")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val tmp = Files.createTempDirectory("graft_posting_stream").toString
    val store = s"$tmp/store"
    PostingStore.create(seed, store)

    // Land two parquet drops, stream them in across two maintainer
    // lifetimes (checkpoint carries source progress between them).
    val landing = s"$tmp/landing"
    docs.filter(col("doc_id") % 3 === 1).write.mode("append").parquet(landing)
    val q1 = PostingStream.maintain(spark, landing, store, s"$tmp/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    docs.filter(col("doc_id") % 3 === 2).write.mode("append").parquet(landing)
    val q2 = PostingStream.maintain(spark, landing, store, s"$tmp/ckpt")
    try q2.processAllAvailable() finally q2.stop()

    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val streamed = rows(PostingStore.retrieve(spark, store, queries, k = 10))

    // == a one-shot store over the full corpus
    PostingStore.create(docs, s"$tmp/oneshot")
    assert(streamed == rows(PostingStore.retrieve(spark, s"$tmp/oneshot", queries, k = 10)),
      "streamed ledger != one-shot build")
    // == the in-memory scorer on the same corpus
    assert(streamed == rows(Retrieval.bm25TopK(docs, queries, k = 10)),
      "streamed ledger != in-memory BM25")

    // Crash-retry idempotence: re-writing a batch's ledger entry under
    // its tag (what a foreachBatch replay does) must not change a row.
    PostingStore.append(docs.filter(col("doc_id") % 3 === 1), store, "s0")
    assert(streamed == rows(PostingStore.retrieve(spark, store, queries, k = 10)),
      "replayed ledger entry changed retrieval rows")
  }

  test("streamed image near-dup over the sig band store == batch nearDupPairs") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.dedup.SigBandStore
    import graft.multimodal.ImageOps
    import graft.streaming.ImageSigStream

    val fixDir = "/root/repo/fixtures/images"
    val tmp = Files.createTempDirectory("graft_imgsig_stream").toString
    val landing = s"$tmp/landing"; Files.createDirectories(Paths.get(landing))
    val storePath = s"$tmp/store"
    val pairsDir = s"$tmp/pairs"

    // The corpus (originals) is decoded and signed ONCE, at store
    // creation; streamed twins link against it without re-hashing.
    val all = ImageOps.decodePpm(spark, ImageOps.readBinary(spark, s"$fixDir/*.ppm"))
    val origSigs = ImageOps.aHash64Packed(spark,
      all.filter(!col("name").contains("_dup")))
    SigBandStore.createAt(spark, origSigs, "name", "sig", storePath,
      sigBits = 64, bands = 4, buckets = 4)

    def land(names: String*): Unit = names.foreach { n =>
      Files.copy(Paths.get(s"$fixDir/$n"), Paths.get(s"$landing/$n"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    land("img_0_dup.ppm", "img_1_dup.ppm")
    val q1 = ImageSigStream.maintain(spark, landing, storePath, pairsDir,
      s"$tmp/ckpt", maxHamming = 6)
    try q1.processAllAvailable() finally q1.stop()
    land("img_2_dup.ppm")
    val q2 = ImageSigStream.maintain(spark, landing, storePath, pairsDir,
      s"$tmp/ckpt", maxHamming = 6)
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(pairsDir).dropDuplicates()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = ImageOps.nearDupPairs(spark, all, maxHamming = 6)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // every batch pair involves a twin (originals sit 7-9 bits apart),
    // so the streamed union (cross-store + within-batch) must equal
    // the full batch pair set exactly
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(streamed.size == 4, streamed.toString) // the pinned fixture set

    // a third arrival of an already-linked twin re-links idempotently
    // (pairs dedup on read) and never self-links
    land("img_2_dup.ppm")
    val q3 = ImageSigStream.maintain(spark, landing, storePath, pairsDir,
      s"$tmp/ckpt2", maxHamming = 6) // fresh checkpoint: re-delivery
    try q3.processAllAvailable() finally q3.stop()
    val replayed = spark.read.parquet(pairsDir).dropDuplicates()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(replayed == batch, s"re-delivery changed the pair set: $replayed")
  }

  test("streaming curation == batch per-doc gates + exact dedup over the union") {
    import java.nio.file.Files
    import graft.dedup.{Dedup, FingerprintStore}
    import graft.functions.TextFunctions
    import graft.streaming.{StreamCurate, StreamDecontam}

    val tmp = Files.createTempDirectory("graft_stream_curate").toString
    val docs = Tables.documents(spark, sfDir)
    val bench = docs
      .filter(TextFunctions.hashSplit(col("doc_id")) === "valid")
      .select("doc_id", "text")
    FingerprintStore.createAt(spark, docs.limit(0), "doc_id", "text",
      s"$tmp/fp_store", buckets = 4)

    // two waves with increasing ids: streamed first-arrival-wins ==
    // batch min-id keeper over the union
    val landing = s"$tmp/landing"
    docs.filter(col("doc_id") < 250)
      .select("doc_id", "text", "source", "lang")
      .write.mode("append").parquet(landing)
    val q1 = StreamCurate.maintain(spark, landing, s"$tmp/fp_store", bench,
      s"$tmp/out", s"$tmp/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    docs.filter(col("doc_id") >= 250)
      .select("doc_id", "text", "source", "lang")
      .write.mode("append").parquet(landing)
    val q2 = StreamCurate.maintain(spark, landing, s"$tmp/fp_store", bench,
      s"$tmp/out", s"$tmp/ckpt")
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(s"$tmp/out/corpus").dropDuplicates()
    val streamedIds = streamed.select("doc_id").collect().map(_.getLong(0)).toSet

    // batch reference: same per-doc gates over the union, exact dedup
    // with the min-id keeper on the clean survivors
    val gated = docs
      .filter(col("text").isNotNull)
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .filter(col("quality") >= 0.5 && col("n_tokens").between(5, 1000))
    val clean = StreamDecontam.sharedGramCount(gated, bench, "text", n = 5)
      .filter(col("shared_grams") === 0L).drop("shared_grams")
    val keepers = Dedup.exact(clean, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val wantIds = clean.join(keepers, Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedIds == wantIds && streamedIds.nonEmpty,
      s"streamed ${streamedIds.size} docs != batch ${wantIds.size}")
    assert(streamed.columns.toSet ==
      Set("doc_id", "text", "source", "lang", "quality", "n_tokens"))

    // per-batch ledger lines reconcile with the shipped corpus
    val ledger = new java.io.File(s"$tmp/out/_ledger").listFiles()
      .filter(_.getName.endsWith(".json"))
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
    assert(ledger.length == 2, ledger.mkString("|"))
    val accepted = ledger.map(l =>
      """"accepted": (\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
    assert(accepted == streamedIds.size.toLong,
      s"ledger accepted $accepted != corpus ${streamedIds.size}")
  }

  test("streamed audio near-dup over the sig band store == batch nearDupPairs") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.dedup.SigBandStore
    import graft.multimodal.{AudioOps, ImageOps}
    import graft.streaming.AudioSigStream

    val fixDir = "/root/repo/fixtures/audio_nd"
    val tmp = Files.createTempDirectory("graft_audsig_stream").toString
    val landing = s"$tmp/landing"; Files.createDirectories(Paths.get(landing))
    val storePath = s"$tmp/store"
    val pairsDir = s"$tmp/pairs"

    val allBins = ImageOps.readBinary(spark, s"$fixDir/*.wav")
    SigBandStore.createAt(spark,
      AudioOps.energyHash64(spark, allBins).filter(!col("name").contains("_dup")),
      "name", "sig", storePath, sigBits = 64, bands = 4, buckets = 4)

    def land(names: String*): Unit = names.foreach { n =>
      Files.copy(Paths.get(s"$fixDir/$n"), Paths.get(s"$landing/$n"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // two waves, like the image twin: the corpus is signed once at
    // store creation and never re-decoded
    land("clip_0_dup.wav", "clip_1_dup.wav")
    val q1 = AudioSigStream.maintain(spark, landing, storePath, pairsDir,
      s"$tmp/ckpt", maxHamming = 4)
    try q1.processAllAvailable() finally q1.stop()
    land("clip_2_dup.wav")
    val q2 = AudioSigStream.maintain(spark, landing, storePath, pairsDir,
      s"$tmp/ckpt", maxHamming = 4)
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(pairsDir).dropDuplicates()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = AudioOps.nearDupPairs(spark, allBins, maxHamming = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.size == 3,
      s"streamed $streamed != batch $batch")
  }

  test("weighted reservoir stream == batch weightedSample on the union; replay idempotent") {
    import graft.streaming.StreamSample
    val tmp = java.nio.file.Files.createTempDirectory("graft_ws_stream").toString
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val w1 = docs.filter(col("doc_id") % 2 === 0)
    val w2 = docs.filter(col("doc_id") % 2 === 1)
    w1.coalesce(1).write.parquet(s"$tmp/in")

    val schema = w1.schema
    val weight = log(lit(1.0) + col("n_chars").cast("double"))
    def run(): Unit = {
      val q = StreamSample.maintain(spark, s"$tmp/in", s"$tmp/store",
        s"$tmp/ckpt", schema, "doc_id", "source", weight, k = 7)
      try q.processAllAvailable() finally q.stop()
    }
    run() // wave 1
    w2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    run() // wave 2, fresh query over the same checkpoint

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("source"), col("rank"))
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(s"$tmp/store/sample"))
    val batch = rows(graft.ops.Sampling.weightedSample(
      docs, "doc_id", "source", weight, k = 7))
    assert(streamed == batch,
      s"streamed reservoir ${streamed.size} != batch sample ${batch.size}")

    // crash-replay: merging wave 2 AGAIN must not disturb the
    // reservoir ((group, id) dedup + deterministic keys)
    StreamSample.mergeBatch(w2, s"$tmp/store", "doc_id", "source", weight, k = 7)
    assert(rows(spark.read.parquet(s"$tmp/store/sample")) == batch,
      "replaying a merged batch disturbed the reservoir")
  }

  test("cluster reservoir stream == batch clusterBalancedSample under the frozen quantizer") {
    import graft.streaming.ClusterSampleStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_cs_stream").toString
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    // Frozen quantizer = an index built on the FULL corpus: its
    // centroids coincide with the batch operator's own training, so
    // stream and batch must agree exactly
    graft.similarity.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", dim = 64, nlist = 24, path = s"$tmp/ivf")
    val w1 = emb.filter(col("vec_id") % 2 === 0)
    val w2 = emb.filter(col("vec_id") % 2 === 1)
    w1.coalesce(1).write.parquet(s"$tmp/in")
    def run(): Unit = {
      val q = ClusterSampleStream.maintain(spark, s"$tmp/in", s"$tmp/ivf",
        s"$tmp/store", s"$tmp/ckpt", w1.schema, k = 8)
      try q.processAllAvailable() finally q.stop()
    }
    run() // wave 1
    w2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    run() // wave 2, fresh query over the same checkpoint
    // the store keys cells as strings (StreamSample contract); compare
    // on the cast
    val streamed = spark.read.parquet(s"$tmp/store/sample")
      .select(col("vec_id"), col("cell").cast("int"), col("rank"))
      .collect().map(_.toSeq).toSet
    val batch = graft.similarity.Similarity.clusterBalancedSample(
      emb, "vec_id", "embedding", dim = 64, nlist = 24, k = 8)
      .select(col("vec_id"), col("cell").cast("int"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streamed cluster reservoir ${streamed.size} != batch sample ${batch.size}")
    // crash-replay: re-merging wave 2 must not disturb the reservoir
    ClusterSampleStream.mergeBatch(spark, w2, s"$tmp/ivf", s"$tmp/store", k = 8)
    assert(spark.read.parquet(s"$tmp/store/sample")
      .select(col("vec_id"), col("cell").cast("int"), col("rank"))
      .collect().map(_.toSeq).toSet == batch,
      "replaying a merged batch disturbed the cluster reservoir")
  }

  test("drift monitor: == groupKlDrift on the fitting corpus; OOV counted; per-batch ledger") {
    import graft.streaming.StreamDrift
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
    graft.ops.LmStore.createAt(spark, docs, s"$tmp/lm")

    // On the store's own fitting corpus Q IS the corpus distribution:
    // kl must equal the batch operator exactly, with zero OOV.
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val got = StreamDrift.batchDrift(spark, s"$tmp/lm", docs, "source")
    assert(got.filter(col("n_oov") =!= 0L).isEmpty, "OOV against the fitting corpus")
    val want = graft.ops.Quality.groupKlDrift(docs, "source")
    assert(toMap(got) == toMap(want), "frozen-store drift != own-corpus drift on the fitting corpus")

    // an all-OOV feed alarms as vocabulary, not as a fabricated kl
    import spark.implicits._
    val alien = StreamDrift.batchDrift(spark, s"$tmp/lm",
      Seq((1L, "zzqqx zzqqx vvkk", "weird")).toDF("doc_id", "text", "source"), "source")
      .collect()(0)
    assert(alien.getLong(1) == 3L && alien.getLong(2) == 3L && alien.isNullAt(3))

    // streaming ledger: two landings -> one tagged row set per batch
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/in")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = StreamDrift.maintain(spark, s"$tmp/in", s"$tmp/lm", s"$tmp/ledger",
      s"$tmp/ckpt", docs.schema, "source",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    val ledger = spark.read.parquet(s"$tmp/ledger")
    assert(ledger.select("batch").distinct().count() >= 1)
    assert(ledger.filter(col("kl").isNull).isEmpty, "fitting-corpus batches must score")
  }

  test("disk staging: a stream releases what each micro-batch staged (no DISK_ONLY RDD after two batches)") {
    import graft.streaming.StreamDrift
    import org.apache.spark.storage.StorageLevel
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_release").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
    graft.ops.LmStore.createAt(spark, docs, s"$tmp/lm")
    val key = "spark.graft.stage.storage"
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      spark.conf.set(key, "disk")
      // One landing per run over one checkpoint: two micro-batches,
      // each staging StreamDrift's joined count table.
      for (part <- 0 to 1) {
        docs.filter(col("doc_id") % 2 === part).coalesce(1).write.mode("append").parquet(s"$tmp/in")
        val q = StreamDrift.maintain(spark, s"$tmp/in", s"$tmp/lm", s"$tmp/ledger",
          s"$tmp/ckpt", docs.schema, "source")
        try q.processAllAvailable() finally q.stop()
      }
      assert(spark.read.parquet(s"$tmp/ledger").select("batch").distinct().count() == 2)
      val left = spark.sparkContext.getPersistentRDDs.toSeq.collect {
        case (id, rdd) if !before(id) && rdd.getStorageLevel == StorageLevel.DISK_ONLY => id
      }
      assert(left.isEmpty, s"${left.size} staged DISK_ONLY RDD(s) outlived their micro-batch")
    } finally {
      spark.conf.unset(key)
      spark.catalog.clearCache()
    }
  }

  test("drift monitor: mixed in-vocab/OOV group renormalizes over in-vocab mass only") {
    import graft.streaming.StreamDrift
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift2").toString
    // reference LM: aa cnt 3, bb cnt 1 -> total 4
    graft.ops.LmStore.createAt(spark,
      Seq((1L, "aa aa aa bb")).toDF("doc_id", "text"), s"$tmp/lm")
    // batch group: 2x aa (in-vocab), 2x zz (OOV)
    // P(in-vocab) renormalized: aa = 1; KL = 1 * ln(1 / (3/4)) = ln(4/3)
    val r = StreamDrift.batchDrift(spark, s"$tmp/lm",
      Seq((7L, "aa zz aa zz", "feed")).toDF("doc_id", "text", "source"), "source")
      .collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == math.rint(math.log(4.0 / 3.0) * 1e6) / 1e6,
      s"mixed-OOV kl ${r.getDouble(3)} != ln(4/3)")
  }

  test("HLL vocab-growth monitor: folded store == single-shot sketch of " +
    "all landings; ledger partitioned per batch") {
    import graft.streaming.HllStream
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hllstream").toString
    val ref = Seq((1L, "en", "aa bb"), (2L, "de", "cc")).toDF("doc_id", "lang", "text")
    graft.ops.HllStore.createAt(spark, ref, s"$tmp/hll", p = 10)
    val b0 = Seq((3L, "en", "dd ee")).toDF("doc_id", "lang", "text")
    val b1 = Seq((4L, "de", "ff"), (5L, "fr", "gg hh")).toDF("doc_id", "lang", "text")
    b0.coalesce(1).write.parquet(s"$tmp/in")
    b1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = HllStream.maintain(spark, s"$tmp/in", s"$tmp/hll", s"$tmp/ledger",
      s"$tmp/ckpt", b0.schema,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    // the store after the stream == one-shot registers over everything
    val got = spark.read.parquet(s"$tmp/hll/regs")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_hllstream2").toString
    graft.ops.HllStore.createAt(spark, ref.union(b0).union(b1), s"$tmp2/hll", p = 10)
    val want = spark.read.parquet(s"$tmp2/hll/regs")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got == want, "streamed folds diverged from the single-shot sketch")
    // ledger: one partition per batch, rows per language touched-or-stored
    val ledger = spark.read.parquet(s"$tmp/ledger")
    assert(ledger.select("batch").distinct().count() >= 1)
    // 'fr' appears with est_before 0 in whichever batch introduced it
    val fr = ledger.filter(col("lang") === "fr").collect()
    assert(fr.nonEmpty && fr.forall(_.getDouble(1) == 0.0))
  }

  test("PSI monitor: streamed ledger rows == batch PsiStore.psi per landing") {
    import graft.streaming.PsiStream
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_psistream").toString
    val ref = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
    graft.ops.PsiStore.createAt(spark, ref, "value", s"$tmp/psi")
    val b0 = (1 to 30).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
    val b1 = (60 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
    b0.coalesce(1).write.parquet(s"$tmp/in")
    b1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = PsiStream.maintain(spark, s"$tmp/in", s"$tmp/psi", s"$tmp/ledger",
      s"$tmp/ckpt", b0.schema, "value",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    val ledger = spark.read.parquet(s"$tmp/ledger")
    // every batch's rows re-derive from the batch operator over the
    // union of landings it saw (AvailableNow may fold both files into
    // one micro-batch — check the union invariant, not the count);
    // `batch` is a discovered partition column, so coerce rather than
    // assume its inferred width
    val batches = ledger.select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(batches.nonEmpty)
    val streamed = ledger.drop("batch")
    // per-bin n_arr across ALL ledger rows sums to the landings' mass
    val totalArr = ledger.agg(sum("n_arr")).head().getLong(0)
    assert(totalArr == 30L + 41L, s"ledger lost arrivals: $totalArr")
    if (batches.length == 2) {
      val row0 = ledger.filter(col("batch").cast("long") === batches(0)).drop("batch")
        .collect().map(_.toSeq).toSet
      val w0 = graft.ops.PsiStore.psi(spark, s"$tmp/psi", b0, "value")
        .collect().map(_.toSeq).toSet
      val w1 = graft.ops.PsiStore.psi(spark, s"$tmp/psi", b1, "value")
        .collect().map(_.toSeq).toSet
      assert(row0 == w0 || row0 == w1, "streamed batch != batch operator")
    }
    // bins present per batch = all 5 frozen bins
    assert(ledger.groupBy("batch").count().collect().forall(_.getLong(1) == 5L))
  }

  test("heavy-hitter surge monitor: streamed ledger == batch surge per wave; " +
    "an empty re-run adds nothing") {
    import graft.streaming.CmsStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_cmsstream").toString
    val docs = Tables.documents(spark, sfDir)
    graft.ops.CmsStore.createAt(spark,
      docs.filter(col("doc_id") % 25 =!= 0), s"$tmp/cms")
    val arr = docs.filter(col("doc_id") % 25 === 0)
      .withColumn("text",
        concat(col("text"), lit(" zz"), (col("doc_id") % 3).cast("string")))
      .select("doc_id", "text")
    val w0 = arr.filter(col("doc_id") % 2 === 0).localCheckpoint(false)
    val w1 = arr.filter(col("doc_id") % 2 === 1).localCheckpoint(false)
    def runOnce(): Unit = {
      val q = CmsStream.maintain(spark, s"$tmp/in", s"$tmp/cms", s"$tmp/led",
        s"$tmp/ck", w0.schema,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try q.processAllAvailable() finally q.stop()
    }
    w0.coalesce(1).write.parquet(s"$tmp/in")
    runOnce()
    w1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    def want(w: org.apache.spark.sql.DataFrame) =
      graft.ops.CmsStore.surge(spark, s"$tmp/cms", w)
        .collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$tmp/led/batch=0")
      .collect().map(_.toSeq).toSet == want(w0), "batch 0 != batch operator")
    assert(spark.read.parquet(s"$tmp/led/batch=1")
      .collect().map(_.toSeq).toSet == want(w1), "batch 1 != batch operator")
    // no new landings: a third run must not add or change ledger rows
    val before = spark.read.parquet(s"$tmp/led").collect().map(_.toSeq).toSet
    runOnce()
    assert(spark.read.parquet(s"$tmp/led").collect().map(_.toSeq).toSet == before)
  }

  test("tokenizer fertility monitor: streamed drift == batch fertilityDrift; per-batch ledger") {
    import graft.ops.TokStore
    import graft.streaming.TokStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_tokstream").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    TokStore.createAt(spark, docs.filter(col("doc_id") % 25 === 0), s"$tmp/tok", nMerges = 3)
    val arriving = docs.filter(col("doc_id") % 25 =!= 0)

    // two landings -> one tagged per-language row set per batch
    arriving.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/in")
    arriving.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = TokStream.maintain(spark, s"$tmp/in", s"$tmp/tok", s"$tmp/ledger",
      s"$tmp/ckpt", arriving.schema,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    val ledger = spark.read.parquet(s"$tmp/ledger")
    assert(ledger.select("batch").distinct().count() >= 1)

    // summing the ledger's piece/word counts across batches must
    // reproduce the one-shot batch monitor exactly (encode is
    // per-document, so batch boundaries cannot change the totals)
    val streamed = ledger.groupBy("lang")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("n_words").cast("long").as("n_words"),
        sum("n_pieces").cast("long").as("n_pieces"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = TokStore.fertilityDrift(spark, s"$tmp/tok", arriving)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch,
      s"streamed fertility totals $streamed != batch monitor $batch")
  }

  test("language-mix monitor: streamed drift rows == batch mixDrift per wave; ledger tagged") {
    import graft.ops.LangIdStore
    import graft.streaming.LangIdStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_lidstream").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    LangIdStore.createAt(spark, docs.filter(col("doc_id") % 25 === 0), s"$tmp/lid", topM = 64)
    val arriving = docs.filter(col("doc_id") % 25 =!= 0)
    val w1 = arriving.filter(col("doc_id") % 2 === 0)
    val w2 = arriving.filter(col("doc_id") % 2 === 1)
    w1.coalesce(1).write.parquet(s"$tmp/in")
    w2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = LangIdStream.maintain(spark, s"$tmp/in", s"$tmp/lid", s"$tmp/ledger",
      s"$tmp/ckpt", arriving.schema,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    val ledger = spark.read.parquet(s"$tmp/ledger")
    assert(ledger.select("batch").distinct().count() >= 1)
    // each ledger batch is EXACTLY the batch monitor over some
    // partition of the arrivals; the summed per-lang doc counts must
    // reproduce the one-shot monitor (classification is per-document,
    // so batch boundaries cannot change a prediction)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = toMap(ledger.groupBy("lang")
      .agg(sum("n_docs").cast("long").as("n_docs")))
    val batch = toMap(LangIdStore.mixDrift(spark, s"$tmp/lid", arriving)
      .select("lang", "n_docs"))
    assert(streamed == batch, s"streamed mix $streamed != batch $batch")
  }

  test("eval ledger stream: per-batch rows equal the batch evaluation; replay idempotent") {
    import graft.streaming.EvalStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_eval_stream").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    // the FROZEN filter: fit once on the even half, never re-read
    graft.ops.NbStore.createAt(spark, docs.filter(col("doc_id") % 2 === 0),
      col("lang") === "en", s"$tmp/nb")
    val labeled = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), (col("lang") === "en").cast("int").as("y"))
    val w1 = labeled.filter(col("doc_id") % 4 === 1)
    val w2 = labeled.filter(col("doc_id") % 4 === 3)
    w1.coalesce(1).write.parquet(s"$tmp/in")
    def run(): Unit = {
      val q = EvalStream.maintain(spark, s"$tmp/in", s"$tmp/nb",
        s"$tmp/led", s"$tmp/ckpt", w1.schema, "y")
      try q.processAllAvailable() finally q.stop()
    }
    run() // wave 1 -> batch=0
    w2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    run() // wave 2, fresh query over the same checkpoint -> batch=1
    def row(p: String) = spark.read.parquet(p).collect()(0).toSeq
    val b0 = EvalStream.batchEval(spark, s"$tmp/nb", w1, "y").collect()(0).toSeq
    val b1 = EvalStream.batchEval(spark, s"$tmp/nb", w2, "y").collect()(0).toSeq
    assert(row(s"$tmp/led/batch=0") == b0,
      "ledger batch 0 diverged from the batch evaluation")
    assert(row(s"$tmp/led/batch=1") == b1,
      "ledger batch 1 diverged from the batch evaluation")
    assert(b0(0).asInstanceOf[Long] + b1(0).asInstanceOf[Long] == labeled.count(),
      "the two waves must cover the audit feed")
    // crash-replay: rewriting a batch's directory must be a no-op
    EvalStream.batchEval(spark, s"$tmp/nb", w2, "y")
      .write.mode("overwrite").parquet(s"$tmp/led/batch=1")
    assert(row(s"$tmp/led/batch=1") == b1,
      "replaying a batch disturbed its ledger row")
  }

  /** Land `arriving` through a monitor (`start` over landing, store,
    * ledger, checkpoint), forget the last commit and restart, so the
    * query re-runs that batch id as after a crash between the sink
    * write and the commit. Returns the ledger's (row count, rows)
    * before and after the replay. */
  private def replayLastBatch(
      name: String,
      tmp: String,
      arriving: org.apache.spark.sql.DataFrame,
      start: (String, String, String, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : ((Long, Set[Seq[Any]]), (Long, Set[Seq[Any]])) = {
    import java.io.File
    arriving.coalesce(1).write.parquet(s"$tmp/in")
    def land(): Unit = {
      val q = start(s"$tmp/in", s"$tmp/store", s"$tmp/ledger", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def ledger() = {
      val l = spark.read.parquet(s"$tmp/ledger")
        .withColumn("batch", col("batch").cast("long"))
      (l.count(), l.collect().map(_.toSeq).toSet)
    }
    land()
    val before = ledger()
    assert(before._1 > 0L, s"$name wrote no ledger rows")
    val commits = new File(s"$tmp/ckpt/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    val commit = new File(commits, last.toString)
    assert(commit.delete())
    new File(commits, s".$last.crc").delete()
    land()
    assert(commit.exists(), s"$name did not re-run batch $last")
    (before, ledger())
  }

  test("monitor ledgers: a replayed batch id rewrites its ledger rows, never duplicates them " +
    "(StreamDrift, TokStream, LangIdStream, PsiStream, CmsStream, EvalStream)") {
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.ops.{CmsStore, LangIdStore, LmStore, NbStore, PsiStore, TokStore}
    import graft.streaming.{CmsStream, EvalStream, LangIdStream, PsiStream, StreamDrift, TokStream}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "source", "lang")
    val ref = docs.filter(col("doc_id") % 25 === 0)
    val arriving = docs.filter(col("doc_id") % 25 =!= 0)
    // the audit feed EvalStream scores carries its label
    val labeled = arriving.withColumn("y", (col("lang") === "en").cast("int"))
    // (name, landing, create the frozen store at a path, start the
    // monitor over (landing, store, ledger, checkpoint))
    val monitors: Seq[(String, org.apache.spark.sql.DataFrame, String => Unit,
        (String, String, String, String) => StreamingQuery)] =
      Seq(
        ("StreamDrift", arriving, LmStore.createAt(spark, ref, _),
          StreamDrift.maintain(spark, _, _, _, _, arriving.schema, "source")),
        ("TokStream", arriving, TokStore.createAt(spark, ref, _, nMerges = 3),
          TokStream.maintain(spark, _, _, _, _, arriving.schema)),
        ("LangIdStream", arriving, LangIdStore.createAt(spark, ref, _, topM = 64),
          LangIdStream.maintain(spark, _, _, _, _, arriving.schema)),
        ("PsiStream", arriving, PsiStore.createAt(spark, ref, "doc_id", _),
          PsiStream.maintain(spark, _, _, _, _, arriving.schema, "doc_id")),
        ("CmsStream", arriving, CmsStore.createAt(spark, ref, _),
          CmsStream.maintain(spark, _, _, _, _, arriving.schema)),
        ("EvalStream", labeled, NbStore.createAt(spark, ref, col("lang") === "en", _),
          EvalStream.maintain(spark, _, _, _, _, labeled.schema, "y")))
    for ((name, landing, create, start) <- monitors) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ledger_replay").toString
      create(s"$tmp/store")
      val (before, after) = replayLastBatch(name, tmp, landing, start)
      assert(after._1 == before._1,
        s"$name: replaying the last batch changed the ledger row count ${before._1} -> ${after._1}")
      assert(after._2 == before._2, s"$name: replaying the last batch changed the ledger rows")
    }
  }

  test("HLL monitor: a replayed batch id keeps its ledger row count, and the store " +
    "stays the one-shot sketch") {
    // HllStream folds each batch into its store, so the replayed
    // batch's growth row may read ~0 (its scaladoc's residual window);
    // the row count and the store must not move.
    import graft.ops.HllStore
    import graft.streaming.HllStream
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    val ref = docs.filter(col("doc_id") % 25 === 0)
    val arriving = docs.filter(col("doc_id") % 25 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll_replay").toString
    HllStore.createAt(spark, ref, s"$tmp/store", p = 10)
    val (before, after) = replayLastBatch("HllStream", tmp, arriving,
      HllStream.maintain(spark, _, _, _, _, arriving.schema))
    assert(after._1 == before._1,
      s"HllStream: replaying the last batch changed the ledger row count ${before._1} -> ${after._1}")
    def regs(path: String) = spark.read.parquet(s"$path/regs")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    HllStore.createAt(spark, ref.union(arriving), s"$tmp/oneshot", p = 10)
    assert(regs(s"$tmp/store") == regs(s"$tmp/oneshot"),
      "the replayed fold diverged from the single-shot sketch")
  }
}
