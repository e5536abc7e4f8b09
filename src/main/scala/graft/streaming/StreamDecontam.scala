package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Streaming benchmark decontamination for document ingest.
  *
  * The batch paths ([[graft.dedup.Dedup.crossNgramOverlap]] and its
  * Bloom twin) end in a per-doc groupBy — fine for bounded input, but
  * on a stream that aggregation would need watermark state. Ingest
  * decontamination is naturally STATELESS per document (the benchmark
  * set is static), so this path computes the per-document shared-gram
  * count inside the row instead:
  *
  *  1. the static benchmark's gram hashes fold into a Bloom filter,
  *     evaluated per arriving document by the codegen'd
  *     [[graft.functions.BloomAnyContain]] over the document's gram
  *     hashes — the narrow fast path every clean document takes;
  *  2. the benchmark's distinct grams also collapse to ONE static row
  *     holding the sorted gram array, attached by a broadcast join
  *     (stream-static joins are stateless in Structured Streaming);
  *  3. only documents the filter flags evaluate
  *     `size(array_intersect(grams, bench_grams))` — exact distinct
  *     overlap on the gram STRINGS, so Bloom false positives resolve
  *     to 0 and the count matches the batch join's to the row.
  *
  * `when(bloom, intersect).otherwise(0)` evaluates lazily per row:
  * clean documents never touch the benchmark array. The flagged
  * fraction pays O(|benchmark grams|) per document — the right trade
  * on a stream where contamination is rare; heavy backfill sweeps
  * should use the batch path's broadcast join instead.
  *
  * State: NONE (no watermark, no aggregation buffer). Memory is
  * bounded by the benchmark contract (small vs the corpus), shipped
  * once per executor via the task-binary/broadcast machinery.
  */
object StreamDecontam {

  /** Per-document distinct shared-gram count against a static
    * benchmark, batch/stream one-codepath. Output: input columns +
    * `shared_grams` (0 for clean documents — a stream must emit every
    * document with its verdict; callers drop `shared_grams > 0` rows
    * or route them to quarantine).
    */
  def sharedGramCount(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      n: Int,
      fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val benchGrams = graft.ops.Parallelism.ensure(benchmark)
      .select(explode(array_distinct(
        TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n))).as("gram"))
      .distinct()
      .transform(graft.ops.Parallelism.stage) // consumed twice: filter build + static array
    val hashes = benchGrams.select(graft.functions.Md5Prefix64(col("gram")).as("gh"))
    val nGrams = hashes.count()
    if (nGrams == 0L) return docs.withColumn("shared_grams", lit(0L))
    val bloom = hashes.stat.bloomFilter("gh", nGrams, fpp)
    // One static row carrying the whole benchmark gram set; sorted so
    // the attached array (and thus any downstream fingerprint of it)
    // is deterministic across partitionings.
    val benchRow = benchGrams.agg(sort_array(collect_list(col("gram"))).as("bench_grams"))
    docs
      .withColumn("grams", array_distinct(
        TextFunctions.wordNgrams(TextFunctions.tokens(col(textCol)), n)))
      .withColumn("ghs", transform(col("grams"), g => graft.functions.Md5Prefix64(g)))
      .crossJoin(broadcast(benchRow)) // 1-row static side: broadcast by construction
      .withColumn("shared_grams",
        when(graft.functions.BloomAnyContain(col("ghs"), bloom),
          size(array_intersect(col("grams"), col("bench_grams"))).cast("long"))
          .otherwise(lit(0L)))
      .drop("grams", "ghs", "bench_grams")
  }
}
