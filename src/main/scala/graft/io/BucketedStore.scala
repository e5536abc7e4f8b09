package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent bucketed accumulator for INCREMENTAL pan-cancer
  * assembly (CLI `merge-xena --bucketed-store`).
  *
  * The reference re-runs `join_xena.sh` — re-sort every matrix, every
  * time — whenever a cohort is added to a pan-cancer matrix
  * (`scripts/join_xena.sh:59-67`). At 100 TB the accumulated matrix
  * is the dominant volume, so the scale design keeps IT bucketed and
  * sorted on the row key between runs: each incremental merge is then
  * a sort-merge join where the accumulated side streams straight off
  * its bucket files (no exchange, no sort — see [[BucketedTable]]);
  * only the NEW matrices (one
  * cohort, orders of magnitude smaller) shuffle.
  *
  * Store layout under `dir` (resolved to an absolute path first, so
  * the table LOCATION and `store.json` never split between the
  * warehouse and the working directory):
  *  - `store.json` — the commit point, swapped atomically via temp +
  *    rename. Fields: `rowKey`; `buckets`, fixed at init; `version`,
  *    the current k; `schema`, acc_v<k>'s schema DDL (taken from the
  *    catalog entry the commit just wrote, so a later open declares
  *    the table with no footer-inference job). A store.json without
  *    `schema` (older format) still opens by inferring the schema
  *    from the parquet footers; its next commit adds the field;
  *  - `acc_v<k>/` — version k's bucketed parquet files.
  *
  * Crash contract: data for the next version is fully written before
  * `store.json` is swapped, so a crash leaves the store readable at
  * the previous version; an orphaned `acc_v<k+1>` directory is
  * removed by the next successful commit's sweep.
  */
object BucketedStore {

  case class Meta(rowKey: String, buckets: Int, version: Int, schemaDdl: Option[String])

  private val json = new ObjectMapper()

  private def abs(dir: String): Path = Paths.get(dir).toAbsolutePath.normalize

  private def metaPath(dir: String): Path = abs(dir).resolve("store.json")

  private def accTable(version: Int): String = s"graft_bucketed_acc_v$version"

  private def accPath(dir: String, version: Int): String =
    abs(dir).resolve(s"acc_v$version").toString

  def exists(dir: String): Boolean = Files.exists(metaPath(dir))

  def readMeta(dir: String): Meta = {
    val node = json.readTree(Files.readString(metaPath(dir)))
    Meta(node.get("rowKey").asText, node.get("buckets").asInt,
      node.get("version").asInt, Option(node.get("schema")).map(_.asText))
  }

  /** Commit `version`: its schema DDL comes from the catalog entry
    * [[BucketedTable.write]] just registered (metadata only, no job). */
  private def commit(spark: SparkSession, dir: String,
      rowKey: String, buckets: Int, version: Int): Unit = {
    val node = json.createObjectNode()
      .put("rowKey", rowKey).put("buckets", buckets).put("version", version)
      .put("schema", BucketedTable.schemaDdl(spark, accTable(version)))
    val tmp = abs(dir).resolve("store.json.tmp")
    Files.write(tmp, json.writeValueAsBytes(node))
    Files.move(tmp, metaPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Current accumulated matrix as a BUCKETED table (re-declared into
    * this session's catalog, restoring the exchange-free merge plan). */
  def accumulated(spark: SparkSession, dir: String): DataFrame = {
    val m = readMeta(dir)
    BucketedTable.declare(spark, accTable(m.version),
      accPath(dir, m.version), m.rowKey, m.buckets, m.schemaDdl)
    spark.table(accTable(m.version))
  }

  /** Initialize the store from a first matrix. `buckets` is fixed
    * here for the store's life; 0 = the session's shuffle width
    * ([[BucketedTable.shuffleWidth]]): the store is only merged, never
    * probed, so one bucket per shuffle slot makes each write one task
    * wave. */
  def init(spark: SparkSession, dir: String, first: DataFrame,
      rowKey: String, buckets: Int = 0): Unit = {
    require(!exists(dir), s"bucketed store already initialized at $dir")
    val nb = if (buckets > 0) buckets else BucketedTable.shuffleWidth(spark)
    Files.createDirectories(abs(dir))
    BucketedTable.write(first, accTable(1), rowKey, nb, Some(accPath(dir, 1)))
    commit(spark, dir, rowKey, nb, 1)
  }

  /** [[merge]]'s plan: `acc` full-outer-joined with each new matrix
    * on the row key. A bucketed side streams into its sort-merge join
    * with no exchange and no sort (PlanShapeSpec pins it). */
  private[graft] def mergeJoin(acc: DataFrame, newDfs: Seq[DataFrame], rowKey: String): DataFrame =
    newDfs.foldLeft(acc)((a, df) => a.join(df, Seq(rowKey), "full_outer"))

  /** Merge new matrices into the store: pairwise full-outer joins
    * where the accumulated side never shuffles or sorts, then commit
    * the result as the next bucketed version (the ONE shuffle this
    * operation pays, priming the next run's free side). Returns the
    * new accumulated matrix: the table the commit just registered.
    */
  def merge(spark: SparkSession, dir: String, newDfs: Seq[DataFrame]): DataFrame = {
    require(newDfs.nonEmpty, "bucketed-store merge needs at least one new matrix")
    val m = readMeta(dir)
    val merged = mergeJoin(accumulated(spark, dir), newDfs, m.rowKey)
    val next = m.version + 1
    BucketedTable.write(merged, accTable(next), m.rowKey, m.buckets, Some(accPath(dir, next)))
    commit(spark, dir, m.rowKey, m.buckets, next)
    // Sweep superseded and orphaned versions (crash leftovers) AFTER
    // the commit point moved.
    Files.list(abs(dir)).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("acc_v") && n.stripPrefix("acc_v").toIntOption.exists(_ != next))
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
    spark.table(accTable(next))
  }
}
