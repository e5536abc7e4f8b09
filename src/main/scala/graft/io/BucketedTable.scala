package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.col

/** The bucketed table: the one place that knows how a store's table
  * is sized, written, re-attached and appended.
  *
  * The frozen stores join every arriving batch on their key. Written
  * bucketed and sorted by that key, each later join is a sort-merge
  * join with no exchange and no sort on the table's side: the shuffle
  * is paid once at write time instead of per join.
  *
  * Bucketing lives in the session catalog, not in the files, so a store
  * keeps a [[StoreMeta]] sidecar with its bucket count and schema DDL,
  * and [[attach]] re-declares the table from it with no Spark job.
  */
object BucketedTable {

  /** Where a store keeps its table: the catalog name's prefix
    * ([[StoreMeta.tableName]]), the data directory and sidecar file
    * under the store path, and the bucket key. */
  final case class Layout(prefix: String, dataDir: String, sidecar: String, key: String) {
    def table(path: String): String = StoreMeta.tableName(prefix, path)
  }

  /** The session's shuffle width. Below it, whether a store join keeps
    * its bucketed side depends on the other side (PlanShapeSpec pins
    * both, broadcast off):
    *  - a probe side that arrives already hash-partitioned by the key
    *    at the shuffle width (the fingerprint anti-join's per-batch
    *    first-occurrence window) keeps that width, so the planner
    *    reshuffles the table to match and drops its bucketed scan
    *    (4 buckets vs 32 shuffle partitions);
    *  - a probe side with no keyed exchange of its own (`LmStore.score`'s
    *    token explode) is shuffled to the table's bucket count, so the
    *    table side stays exchange-free, and the join runs one task per
    *    bucket. */
  def shuffleWidth(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions

  /** Bucket count of a store created in this session: one bucket per
    * write slot, clamped to [16, 64] (a small session does not pay 64
    * parquet-writer starts per table, ~300 ms each at gate scale; a
    * large one keeps the stores' probe granularity), and never below
    * [[shuffleWidth]]. Create-time only: probes and appends read the
    * count from the store's sidecar or catalog entry. */
  def defaultBuckets(spark: SparkSession): Int =
    math.max(math.min(64, math.max(16, spark.sparkContext.defaultParallelism)),
      shuffleWidth(spark))

  private def catalogTable(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  /** Bucket count of the registered `table` (catalog only, no job). */
  def buckets(spark: SparkSession, table: String): Int =
    catalogTable(spark, table).bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"table $table carries no bucket spec"))

  /** Schema DDL of `table`'s catalog entry (catalog only, no job). */
  private[io] def schemaDdl(spark: SparkSession, table: String): String =
    catalogTable(spark, table).schema.toDDL

  private def save(df: DataFrame, table: String, key: String, buckets: Int,
      mode: String, path: Option[String]): Unit = {
    // repartition by the bucket key FIRST: Spark's repartition hash is
    // the same Murmur3-pmod the bucketing spec uses, so each task holds
    // exactly one bucket and each bucket becomes exactly ONE file.
    // Without it every upstream task writes a sliver of every bucket
    // (tasks x buckets files), and the scan trusts per-FILE sort order
    // only when a bucket is a single file (SPARK-24528): multi-file
    // buckets re-Sort on every merge. Write parallelism = bucket count.
    val w = df.repartition(buckets, col(key))
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
    // With `path` the table is EXTERNAL: its data outlives this
    // session's in-memory catalog and [[declare]] re-attaches it.
    path.fold(w.saveAsTable(table))(p => w.option("path", p).saveAsTable(table))
  }

  /** Write `df` as `table`, bucketed and sorted by `key`, replacing
    * any earlier table of that name. */
  def write(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit =
    save(df, table, key, buckets, "overwrite", path)

  /** Append `df` to the registered `table` with its bucket spec;
    * `buckets` 0 = the table's own count, so appended files cannot
    * diverge from the store's layout (a mismatched explicit count fails
    * in `saveAsTable`). Each append adds one file per bucket: fine for
    * hash membership; re-create the store to compact it. */
  def append(df: DataFrame, table: String, key: String, buckets: Int = 0): Unit =
    save(df, table, key, if (buckets > 0) buckets else this.buckets(df.sparkSession, table),
      "append", None)

  /** Declare `table` over the bucketed files at `path` in this
    * session's catalog: the DDL a production metastore would persist.
    * Without `schema` (older sidecars) it is inferred from the parquet
    * footers, which runs a job and needs a data file. */
  def declare(spark: SparkSession, table: String, path: String, key: String,
      buckets: Int, schema: Option[String]): Unit = {
    val ddl = schema.getOrElse(spark.read.parquet(path).schema.toDDL)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(
      s"CREATE TABLE `$table` ($ddl) USING PARQUET " +
        s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
  }

  /** Create the store table of `layout` at `path` from `data`
    * (`buckets` 0 = [[defaultBuckets]]), then its sidecar: the store's
    * own `fields(table)` (computed after the write, so they may read
    * the table), the resolved `buckets` and the `schema` DDL of the
    * catalog entry the write registered. Returns the table name. */
  def createAt(spark: SparkSession, layout: Layout, path: String, data: DataFrame,
      buckets: Int)(fields: String => Seq[(String, Any)]): String = {
    val nb = if (buckets > 0) buckets else defaultBuckets(spark)
    val table = layout.table(path)
    write(data, table, layout.key, nb, Some(s"$path/${layout.dataDir}"))
    StoreMeta.write(spark, s"$path/${layout.sidecar}",
      fields(table) ++ Seq("buckets" -> nb, "schema" -> schemaDdl(spark, table)): _*)
    table
  }

  /** Re-attach the store table of `layout` at `path` from its sidecar.
    * `schema` stands in for a sidecar without one (older stores); with
    * neither, the files are inferred. Returns the table name and the
    * sidecar, for the store's own fields. */
  def attach(spark: SparkSession, layout: Layout, path: String,
      schema: Option[String] = None): (String, StoreMeta.Sidecar) = {
    val m = StoreMeta.read(spark, s"$path/${layout.sidecar}")
    val table = layout.table(path)
    declare(spark, table, s"$path/${layout.dataDir}", layout.key, m.int("buckets"),
      m.optString("schema").orElse(schema))
    (table, m)
  }
}
