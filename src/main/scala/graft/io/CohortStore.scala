package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.types.StructType

/** The pan-cancer store (CLI `merge-xena --bucketed-store`): a
  * manifest of committed cohort matrices, assembled into one matrix
  * only when it is exported.
  *
  * The reference keeps per-cohort matrices and joins them once when it
  * assembles (`scripts/join_xena.sh:59-67`). A store that instead keeps
  * the accumulated matrix rewrites all of it per added cohort: K
  * cohorts cost O(K^2) cohort-writes. Here a merge copies the new
  * matrices' files in unchanged and commits a manifest line per
  * cohort; it reads only their headers, on the driver, and runs no
  * Spark job. The export is the one-shot merge over the committed
  * cohorts ([[matrices]] + `XenaOps.mergeHorizontal`), so "store
  * export == one-shot merge" holds by construction.
  *
  * Store layout under `dir` (qualified against the working directory
  * first, so a relative dir names one place):
  *  - `store.json` — the commit point, swapped atomically (temp +
  *    rename through Spark's `CheckpointFileManager`). Fields: `rowKey`;
  *    `version`, the number of commits; `cohorts`, each cohort's `dir`
  *    (relative to the store) and `samples`, in commit order;
  *  - `cohort_<n>/` — the data files of one merged matrix, as copied.
  *
  * Crash contract: a merge copies its data before it swaps
  * `store.json`, so a crash leaves the store readable at the previous
  * version; a `cohort_<n>` that no manifest names is never read and is
  * removed by the next commit's sweep.
  */
object CohortStore {

  final case class Cohort(dir: String, samples: Seq[String])

  final case class Manifest(rowKey: String, version: Int, cohorts: Seq[Cohort]) {
    def samples: Seq[String] = cohorts.flatMap(_.samples)
  }

  private val json = new ObjectMapper()

  private val CohortDir = """cohort_(\d+)""".r

  /** The store's qualified root, its filesystem and the session's
    * Hadoop conf. */
  private final class Root(spark: SparkSession, dir: String) {
    val conf: Configuration = spark.sessionState.newHadoopConf()
    val fs: FileSystem = new Path(dir).getFileSystem(conf)
    val path: Path = fs.makeQualified(new Path(dir))
    val manifest: Path = new Path(path, "store.json")
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val root = new Root(spark, dir)
    root.fs.exists(root.manifest)
  }

  /** The committed manifest. A `store.json` without `cohorts` is a
    * store from before this layout and is refused in one line. */
  def read(spark: SparkSession, dir: String): Manifest = read(new Root(spark, dir))

  private def read(root: Root): Manifest = {
    val in = root.fs.open(root.manifest)
    val node = try json.readTree(in) finally in.close()
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    Option(node.get("cohorts")) match {
      case Some(cs) => Manifest(node.get("rowKey").asText, node.get("version").asInt,
        cs.elements().asScala.map(c => Cohort(c.get("dir").asText, strings(c.get("samples")))).toSeq)
      case None => throw new IllegalArgumentException(
        s"${root.manifest} is an accumulated-matrix store from an earlier release; " +
          "re-create the store from its matrices")
    }
  }

  /** Merge the matrices at `files` (each a TSV file or a directory of
    * them, as `merge-xena -f` takes) into the store at `dir`, creating
    * it when absent. Every header must have the store's row key first
    * (the first matrix's, for a new store) and no sample already in the
    * store or in another new matrix; otherwise nothing changes. Returns
    * the committed manifest. */
  def merge(spark: SparkSession, dir: String, files: Seq[String]): Manifest = {
    require(files.nonEmpty, "a store merge needs at least one matrix")
    val root = new Root(spark, dir)
    val headers = files.map(f => f -> XenaTsv.matrixHeader(spark, f)
      .getOrElse(throw new IllegalArgumentException(s"$f has no header line; nothing merged")))
    val prev =
      if (root.fs.exists(root.manifest)) read(root)
      else Manifest(headers.head._2.head, 0, Nil)
    headers.foreach { case (f, h) =>
      require(h.head == prev.rowKey,
        s"$f: row key '${h.head}' is not the store's '${prev.rowKey}'; nothing merged")
    }
    val samples = prev.samples ++ headers.flatMap(_._2.tail)
    val dups = samples.diff(samples.distinct).distinct
    require(dups.isEmpty,
      s"sample(s) already in the store at $dir: ${dups.mkString(", ")}; nothing merged")

    // Data first: copy each matrix into the next free cohort dirs
    // (an uncommitted leftover of that name is replaced).
    val first = prev.cohorts.map(_.dir).collect { case CohortDir(n) => n.toInt }
      .foldLeft(0)(math.max) + 1
    val added = headers.zipWithIndex.map { case ((f, h), i) =>
      val target = new Path(root.path, s"cohort_${first + i}")
      root.fs.delete(target, true)
      val src = new Path(f)
      val srcFs = src.getFileSystem(root.conf)
      XenaTsv.dataFiles(srcFs, src).foreach { p =>
        FileUtil.copy(srcFs, p, root.fs, new Path(target, p.getName), false, root.conf)
      }
      Cohort(target.getName, h.tail)
    }
    val next = prev.copy(version = prev.version + 1, cohorts = prev.cohorts ++ added)
    commit(root, next)
    // Sweep what no manifest names (crash leftovers) AFTER the commit
    // point moved.
    val live = next.cohorts.map(_.dir).toSet
    root.fs.listStatus(root.path).map(_.getPath)
      .filter(p => CohortDir.matches(p.getName) && !live(p.getName))
      .foreach(root.fs.delete(_, true))
    next
  }

  private def commit(root: Root, m: Manifest): Unit = {
    val node = json.createObjectNode().put("rowKey", m.rowKey).put("version", m.version)
    val cohorts = node.putArray("cohorts")
    m.cohorts.foreach { c =>
      val samples = cohorts.addObject().put("dir", c.dir).putArray("samples")
      c.samples.foreach(s => samples.add(s))
    }
    val out = CheckpointFileManager.create(root.path, root.conf)
      .createAtomic(root.manifest, overwriteIfPossible = true)
    try out.write(json.writeValueAsBytes(node))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** The committed cohorts, in commit order, each read as
    * `XenaTsv.readTyped` reads a `merge-xena -f` input. */
  def matrices(spark: SparkSession, dir: String,
      schemaOf: Seq[String] => Option[StructType]): Seq[DataFrame] = {
    val root = new Root(spark, dir)
    read(root).cohorts.map(c => XenaTsv.readTyped(spark, new Path(root.path, c.dir).toString, schemaOf))
  }
}
