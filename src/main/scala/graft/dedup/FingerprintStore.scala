package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.io.StoreMeta
import graft.ops.{Parallelism, XenaOps}

/** Incremental exact-dedup against a persisted fingerprint store —
  * the production shape of corpus growth: a 100 TB corpus is deduped
  * ONCE, its fingerprints persist bucketed-by-fp, and every new batch
  * dedups against the store WITHOUT rescanning (or worse, reshuffling)
  * the corpus. Only the store's fingerprint column — ~32 bytes/doc,
  * ~3 orders of magnitude smaller than the text — is ever read again.
  *
  * Scale shape of [[dedupeNew]]'s anti-join: the store scans as a
  * bucketed table ([[XenaOps.writeBucketed]] pays the one-time shuffle
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

  /** One row per distinct fingerprint in `docs`, keeper = min id;
    * written bucketed+sorted by `fp` and registered as `table`
    * (external at `path`, re-attachable by
    * [[XenaOps.declareBucketedTable]] in a later session).
    *
    * SIZE `buckets` >= the cluster's `spark.sql.shuffle.partitions`:
    * the planner's DisableUnnecessaryBucketedScan rule judges a scan
    * whose bucket count would CAP the join's parallelism below the
    * configured shuffle width as not worth it, and silently falls
    * back to an unbucketed scan + full store reshuffle (observed:
    * 4 buckets vs 32 shuffle partitions → "Bucketed: false (disabled
    * by query planner)"; DedupStoreSpec pins the working shape).
    * `buckets` 0 = session-derived
    * ([[XenaOps.defaultBucketedStoreBuckets]] — the shuffle-width
    * floor built in). */
  def create(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      path: String,
      buckets: Int = 0): Unit = {
    val nb = if (buckets > 0) buckets
      else XenaOps.defaultBucketedStoreBuckets(docs.sparkSession)
    XenaOps.writeBucketed(
      Parallelism.ensure(docs)
        .select(col(idCol), storeFp(textCol).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col(idCol)).as("keep_id")),
      table, "fp", nb, Some(path))
  }

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
    * bucket count persisted in a `_fp_store.json` sidecar (written by
    * [[graft.io.StoreMeta]]) so a LATER
    * session (or the CLI) can [[attach]] without knowing the creation
    * parameters. Returns the table name. */
  def createAt(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int = 0): String = {
    val nb = if (buckets > 0) buckets
      else XenaOps.defaultBucketedStoreBuckets(spark)
    val table = StoreMeta.tableName("fp_store", path)
    create(docs, idCol, textCol, table, s"$path/fp", nb)
    // schema DDL persisted for the empty-store bootstrap: a store
    // created over ZERO rows (streaming curation starting from
    // nothing) writes no data file, so a later attach has nothing to
    // infer from.
    val ddl = docs
      .select(col(idCol).as("keep_id"), storeFp(textCol).as("fp"))
      .select(col("fp"), col("keep_id")).schema.toDDL
    StoreMeta.write(spark, s"$path/_fp_store.json", "buckets" -> nb, "schema" -> ddl)
    table
  }

  /** Re-attach a store written by [[createAt]] in a fresh session:
    * bucketing metadata lives in the session catalog, not the files,
    * so the DDL re-declaration is what restores the exchange-free
    * anti-join plan. Returns (table name, bucket count) — the bucket
    * count feeds [[append]] so appended files keep the store's spec. */
  def attach(spark: SparkSession, path: String): (String, Int) = {
    val m = StoreMeta.read(spark, s"$path/_fp_store.json")
    val buckets = m.int("buckets")
    val table = StoreMeta.tableName("fp_store", path)
    // schema is absent in pre-schema sidecars: fall back to file inference
    XenaOps.declareBucketedTable(spark, table, s"$path/fp", "fp", buckets, m.optString("schema"))
    (table, buckets)
  }

  /** Record `accepted` rows' fingerprints in the store (same bucket
    * spec, appended). Appended buckets add one file per bucket per
    * batch — fine for the anti-join (hash membership doesn't need the
    * file-sort guarantee); re-[[create]] to compact when batch count
    * grows large. `buckets` 0 = read the registered table's own
    * bucket spec from the catalog, so an append can never diverge
    * from the store's layout (a mismatched explicit count fails
    * loudly in `saveAsTable`). */
  def append(
      spark: SparkSession,
      table: String,
      accepted: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 0): Unit = {
    val nb = if (buckets > 0) buckets else XenaOps.catalogBuckets(spark, table)
    Parallelism.ensure(accepted)
      .select(storeFp(textCol).as("fp"), col(idCol).as("keep_id"))
      .repartition(nb, col("fp"))
      .write.mode("append").format("parquet")
      .bucketBy(nb, "fp").sortBy("fp")
      .saveAsTable(table)
  }
}
