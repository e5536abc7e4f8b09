package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Download-cache reconciliation (SURVEY §2 S9/U4): the reference
  * skips downloads whose local file md5 matches the remote catalog
  * and deletes stale local files (`xena_dataset.py:571-664`, md5
  * check at `:591-622`; md5 at `:246-261`).
  *
  * Re-expressed as set algebra over two catalogs — `remote(name,
  * md5sum)` from the GDC files endpoint and `local(name, md5sum)`
  * computed by a binaryFile scan — so the reconciliation is two
  * anti-joins, not a per-file driver loop, and the md5 computation is
  * distributed over the files.
  */
object DownloadCache {

  /** Local catalog: one row per file under `glob` with its md5.
    *
    * The binaryFile scan provides the distributed FILE LISTING only
    * (path column — content is never projected, so never read); each
    * digest then STREAMS through a 1 MiB buffer in mapPartitions,
    * matching the reference's chunked read (`xena_dataset.py:246-261`).
    * Materializing `content` and hashing with `md5(col)` was the
    * obvious one-liner but needs file-sized executor memory and hard
    * caps at 2 GB per file — GDC files exceed both.
    */
  def localCatalog(
      spark: SparkSession,
      glob: String,
      /** Path substrings to exclude, e.g. `Seq("/quarantine/")` — a
        * PATH filter, not a basename one: the binaryFile glob recurses
        * into matched directories, so executor bookkeeping under
        * `quarantine/` would otherwise be cataloged (and re-md5'd)
        * under its basename every sync, could surface in toDelete, and
        * could satisfy a download whose remote md5 matches the
        * quarantined bytes while the raw dir still lacks the file. */
      excludePathContains: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.read.format("binaryFile").load(glob)
      .select(col("path"))
      // Before the hash pass: excluded files must not be md5'd at all.
      .filter(excludePathContains.foldLeft(lit(true))((acc, s) => acc && !col("path").contains(s)))
      .as[String]
      .mapPartitions { paths =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](1 << 20)
        paths.map { path =>
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(conf.value)
          digest.reset()
          val in = fs.open(p)
          try {
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) digest.update(buf, 0, n)
              n = in.read(buf)
            }
          } finally in.close()
          (p.getName, digest.digest().map(b => f"${b & 0xff}%02x").mkString)
        }
      }
      .toDF("name", "md5sum")
  }

  /** Files to (re-)download: in the remote catalog but locally absent
    * OR present with a different md5. Anti-join on (name, md5sum). */
  def toDownload(remote: DataFrame, local: DataFrame): DataFrame =
    remote.join(local, Seq("name", "md5sum"), "left_anti")

  /** Stale local files to delete: present locally but no longer in
    * the remote catalog under any md5. Anti-join on name. */
  def toDelete(local: DataFrame, remote: DataFrame): DataFrame =
    local.join(remote.select("name"), Seq("name"), "left_anti")
}
