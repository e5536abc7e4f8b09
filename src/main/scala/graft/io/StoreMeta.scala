package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one reader and writer of the frozen stores' JSON sidecars
  * (`_<kind>_store.json`, the posting store's `store.json` and
  * `stats/<tag>.json`, the curation stream's `_ledger` lines).
  *
  * Writes are temp-then-rename, so a sidecar is either absent or
  * complete, and render one flat object as `{"k": v, "k2": v2}`.
  * Reads parse strictly: a document that does not parse, or lacks a
  * required field, fails with `malformed <file>: <content>`; only the
  * `opt*` accessors let a field be absent (older sidecars).
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

  private[graft] def writeText(spark: SparkSession, path: String, body: String): Unit = {
    val f = fs(spark, path)
    // temp-then-rename: a sidecar is either absent or complete,
    // never a torn read for a concurrent reader (a posting retrieve).
    val tmp = new Path(path + "._tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(new Path(path), false)
    if (!f.rename(tmp, new Path(path)))
      sys.error(s"rename failed for $path")
  }

  /** Write `fields` (Int, Long, String or Seq[String] values, in
    * order) as the JSON object at `file`. */
  def write(spark: SparkSession, file: String, fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach {
      case (k, v: Seq[_]) => m.put(k, v.asJava)
      case (k, v) => m.put(k, v)
    }
    writeText(spark, file, flat.writeValueAsString(m))
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
