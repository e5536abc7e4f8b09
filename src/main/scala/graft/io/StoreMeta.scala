package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The one reader and writer of the frozen stores' JSON sidecars
  * (`_<kind>_store.json`, the posting store's `store.json` and
  * `stats/<tag>.json`, the curation stream's `_ledger` lines), and the
  * engine's one commit point: every small file the engine commits (a
  * store's sidecars, the Xena metadata JSON, the data card) goes
  * through [[writeText]], and every store directory rewritten whole
  * goes through [[replaceDir]].
  *
  * Writes render one flat object as `{"k": v, "k2": v2}`. Reads parse
  * strictly: a document that does not parse, or lacks a required field,
  * fails with `malformed <file>: <content>`; only the `opt*` accessors
  * let a field be absent (older sidecars).
  */
object StoreMeta {

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  // `{"k": v, "k2": v2}`: the form existing sidecars carry and that
  // readers of the curation `_ledger` lines expect.
  private val flat = json.writer(new DefaultPrettyPrinter(Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
      .withObjectEntrySpacing(Separators.Spacing.AFTER)
      .withArrayValueSpacing(Separators.Spacing.AFTER))
    .withObjectIndenter(DefaultPrettyPrinter.NopIndenter.instance)
    .withArrayIndenter(DefaultPrettyPrinter.NopIndenter.instance))

  private def malformed(file: String, content: String) = sys.error(s"malformed $file: $content")

  /** One parsed sidecar; every accessor names the file on failure. */
  final class Sidecar private[StoreMeta] (file: String, content: String, node: JsonNode) {
    private def field(k: String, ok: JsonNode => Boolean): JsonNode =
      Option(node.get(k)).filter(ok).getOrElse(malformed(file, content))
    def int(k: String): Int = field(k, v => v.isIntegralNumber && v.canConvertToInt).intValue
    def long(k: String): Long = field(k, v => v.isIntegralNumber && v.canConvertToLong).longValue
    def optLong(k: String): Option[Long] = if (node.has(k)) Some(long(k)) else None
    def optString(k: String): Option[String] =
      if (node.has(k)) Some(field(k, _.isTextual).textValue) else None
    def strings(k: String): Seq[String] =
      field(k, v => v.isArray && v.elements().asScala.forall(_.isTextual))
        .elements().asScala.map(_.textValue).toSeq
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit `body` as the whole content of `path`: written to a hidden
    * temp file beside it, then renamed over it (Spark's
    * `CheckpointFileManager.createAtomic`), so a reader sees the
    * previous content or the new one, never a torn file. A missing
    * parent directory is created. `conf` is the session's
    * `hadoopConfiguration`, or [[LocalFs.hadoopConf]] without one. */
  private[graft] def writeText(conf: Configuration, path: String, body: String): Unit = {
    val p = new Path(path)
    val fm = CheckpointFileManager.create(p.getParent, conf)
    if (!fm.exists(p.getParent)) fm.mkdirs(p.getParent)
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** Replace the directory `live` whole, never in place: `write` gets
    * the sibling `<live>__new` to write the next version into (it may
    * read `live` meanwhile), then two renames swap it in, moving the
    * previous version to `<live>__old` and deleting it after.
    *
    * An in-place overwrite has a destructive window: Spark's overwrite
    * deletes the old files before its job runs, and a pinned copy of
    * the input (a local checkpoint) is not replayable, so a failed write
    * or a lost executor loses the store. Here, if `write` fails, `live`
    * is untouched; at every instant `live` or `<live>__old` holds a
    * complete version. A crash between the two renames leaves `live`
    * missing and `<live>__old` holding the only copy, so the next call
    * restores it before anything is deleted; stale siblings are cleared
    * only after that. Returns what `write` returns.
    */
  def replaceDir[T](spark: SparkSession, live: String)(write: String => T): T = {
    restoreSwap(spark, live)
    val f = fs(spark, live)
    val (dir, next, old) = (new Path(live), new Path(live + "__new"), new Path(live + "__old"))
    f.delete(old, true)
    f.delete(next, true)
    val result = write(next.toString)
    if (f.exists(dir) && !f.rename(dir, old)) sys.error(s"could not move $live aside")
    if (!f.rename(next, dir)) {
      f.rename(old, dir)
      sys.error(s"could not activate $next; $live restored")
    }
    f.delete(old, true)
    result
  }

  /** Undo a [[replaceDir]] swap interrupted between its two renames:
    * `live` missing and `<live>__old` holding the only copy. For a
    * caller that reads `live` before it decides whether to rewrite it. */
  private[graft] def restoreSwap(spark: SparkSession, live: String): Unit = {
    val f = fs(spark, live)
    val (dir, old) = (new Path(live), new Path(live + "__old"))
    if (!f.exists(dir) && f.exists(old) && !f.rename(old, dir))
      sys.error(s"$live is missing after an interrupted swap and $old could not be restored")
  }

  /** Write `fields` (Int, Long, String or Seq[String] values, in
    * order) as the JSON object at `file`. */
  def write(spark: SparkSession, file: String, fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach {
      case (k, v: Seq[_]) => m.put(k, v.asJava)
      case (k, v) => m.put(k, v)
    }
    writeText(spark.sparkContext.hadoopConfiguration, file, flat.writeValueAsString(m))
  }

  def read(spark: SparkSession, file: String): Sidecar = {
    val in = fs(spark, file).open(new Path(file))
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val node = scala.util.Try(json.readTree(content)).toOption.filter(_.isObject)
      .getOrElse(malformed(file, content))
    new Sidecar(file, content, node)
  }

  /** Session-catalog name of the bucketed table behind the store at
    * `path`: `<prefix>_<md5(path) prefix>`. */
  def tableName(prefix: String, path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(path.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"${prefix}_$hex"
  }
}
