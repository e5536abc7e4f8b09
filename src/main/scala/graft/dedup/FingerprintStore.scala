package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.io.BucketedTable
import graft.ops.Parallelism

/** Incremental exact-dedup against a persisted fingerprint store —
  * the production shape of corpus growth: a 100 TB corpus is deduped
  * ONCE, its fingerprints persist bucketed-by-fp, and every new batch
  * dedups against the store WITHOUT rescanning (or worse, reshuffling)
  * the corpus. Only the store's fingerprint column — ~32 bytes/doc,
  * ~3 orders of magnitude smaller than the text — is ever read again.
  *
  * Scale shape of [[dedupeNew]]'s anti-join: the store scans as a
  * bucketed table ([[BucketedTable.write]] pays the one-time shuffle
  * at write), so the store side has NO exchange in the join plan —
  * the (small) batch alone repartitions to the store's bucketing.
  * Append keeps the store bucketed, so the cost model is stable as
  * the corpus grows: per-batch work is O(batch) shuffle + O(store
  * fingerprints) bucketed scan, never O(corpus text).
  *
  * Null semantics: the store fingerprint is NULL-FREE by
  * construction — a null-text document fingerprints like an
  * empty-token one (`coalesce` before the hash), so "an empty
  * document is a duplicate of an empty document" and, decisively for
  * the plan: membership stays PLAIN equality on the bucket column. A
  * null-safe `<=>` join would compile to equality on
  * `(coalesce(fp,''), isnull(fp))` — a derived key the bucketing
  * cannot satisfy, silently reshuffling the store on every batch
  * (observed: "Bucketed: false (disabled by query planner)").
  */
object FingerprintStore {

  /** Null-free exact-dedup fingerprint: md5 of the normalized token
    * stream, null text folded to the empty stream. */
  private def storeFp(textCol: String) =
    md5(coalesce(array_join(TextFunctions.tokens(col(textCol)), " "), lit("")))

  private val layout = BucketedTable.Layout("fp_store", "fp", "_fp_store.json", "fp")

  /** One row per distinct fingerprint in `docs`, keeper = min id. */
  private def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Parallelism.ensure(docs)
      .select(col(idCol), storeFp(textCol).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"))

  /** [[fingerprints]] of `docs` written bucketed+sorted by `fp` and
    * registered as `table` (external at `path`).
    *
    * SIZE `buckets` >= the cluster's `spark.sql.shuffle.partitions`:
    * [[dedupeNew]]'s batch side arrives partitioned at that width, so
    * below it the planner reshuffles the whole store per batch
    * ([[BucketedTable.shuffleWidth]]; DedupStoreSpec pins the working
    * shape, PlanShapeSpec the fallback). `buckets` 0 =
    * session-derived ([[BucketedTable.defaultBuckets]], that floor
    * built in). */
  def create(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      path: String,
      buckets: Int = 0): Unit =
    BucketedTable.write(fingerprints(docs, idCol, textCol), table, "fp",
      if (buckets > 0) buckets else BucketedTable.defaultBuckets(docs.sparkSession), Some(path))

  /** Batch rows that are globally NEW: first occurrence of their
    * fingerprint within the batch (min `idCol` keeps) AND their
    * fingerprint is absent from the store. Returns the batch's own
    * columns. Callers [[append]] the accepted rows' fingerprints to
    * keep the store authoritative for the next batch.
    */
  def dedupeNew(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val fped = Parallelism.ensure(batch)
      .withColumn("fp", storeFp(textCol))
    // Intra-batch keeper: min id per fingerprint, as a window — one
    // shuffle on fp, no rejoin.
    val firstInBatch = fped
      .withColumn("fp_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col(idCol))))
      .filter(col("fp_rank") === 1)
      .drop("fp_rank")
    val store = spark.table(table).select(col("fp").as("store_fp"))
    firstInBatch
      .join(store, col("fp") === col("store_fp"), "left_anti")
      .drop("fp")
  }

  /** [[create]] keyed by location: table name derived from the path,
    * bucket count and schema persisted in a `_fp_store.json` sidecar
    * ([[BucketedTable.createAt]]) so a LATER session (or the CLI) can
    * [[attach]] without knowing the creation parameters. Returns the
    * table name. */
  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int = 0): String =
    BucketedTable.createAt(spark, layout, path, fingerprints(docs, idCol, textCol), buckets)(_ => Nil)

  /** Re-attach a store written by [[createAt]] in a fresh session:
    * bucketing metadata lives in the session catalog, not the files,
    * so the DDL re-declaration is what restores the exchange-free
    * anti-join plan. Returns (table name, bucket count) — the bucket
    * count feeds [[append]] so appended files keep the store's spec. */
  def attach(spark: SparkSession, path: String): (String, Int) = {
    val (table, m) = BucketedTable.attach(spark, layout, path)
    (table, m.int("buckets"))
  }

  /** Record `accepted` rows' fingerprints in the store
    * ([[BucketedTable.append]]: same bucket spec; `buckets` 0 = the
    * table's own count from the catalog). */
  def append(
      spark: SparkSession,
      table: String,
      accepted: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 0): Unit = {
    BucketedTable.append(
      Parallelism.ensure(accepted).select(storeFp(textCol).as("fp"), col(idCol).as("keep_id")),
      table, "fp", buckets)
  }
}
