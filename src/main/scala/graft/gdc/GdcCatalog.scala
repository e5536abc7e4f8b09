package graft.gdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** GDC REST catalog layer (SURVEY §2 S4/O3/O4), network-free by
  * construction: the HTTP transport is an injected function, so the
  * query/filter DSL, pagination-probe protocol and JSON→DataFrame
  * normalization are all testable against fixtures and swappable for a
  * real client in deployment.
  *
  * Re-expresses `gdc.py:175-334`: `simple_and_filter` (the filter
  * DSL), `search` (size-1 probe → exact-size fetch → hits table) and
  * the 20k-uuid chunking (`gdc.py:622-625`).
  */
object GdcFilter {

  /** One filter condition: field `in` values, or field `exclude`
    * values. */
  sealed trait Cond { def field: String; def values: Seq[String] }
  final case class In(field: String, values: Seq[String]) extends Cond
  final case class Exclude(field: String, values: Seq[String]) extends Cond

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The GDC `{"op":"and","content":[...]}` filter JSON
    * (`gdc.py:175-218`). Empty condition list renders as `{}` — the
    * reference returns the empty dict. Condition order is preserved:
    * all `in` conditions first, then all `exclude` (reference
    * iteration order).
    */
  def simpleAndFilter(conds: Seq[Cond]): String = {
    if (conds.isEmpty) return "{}"
    val (ins, exs) = conds.partition(_.isInstanceOf[In])
    val body = (ins ++ exs).map { c =>
      val op = c match { case _: In => "in"; case _: Exclude => "exclude" }
      val vs = c.values.map(v => s""""${esc(v)}"""").mkString("[", ",", "]")
      s"""{"op":"$op","content":{"field":"${esc(c.field)}","value":$vs}}"""
    }.mkString("[", ",", "]")
    s"""{"op":"and","content":$body}"""
  }

}

/** A search request's wire parameters (`gdc.py:280-301`). */
final case class GdcRequest(
    endpoint: String,
    params: Map[String, String])

class GdcCatalog(
    spark: SparkSession,
    /** Transport: (endpoint, params) → response body JSON. Injected —
      * a real deployment passes an HTTP client; tests pass fixtures. */
    fetch: (String, Map[String, String]) => String) {

  import GdcFilter._

  private def basePayload(
      conds: Seq[Cond], fields: Seq[String], expand: Seq[String]): Map[String, String] = {
    val withFilter =
      if (conds.isEmpty) Map.empty[String, String]
      else Map("filters" -> simpleAndFilter(conds))
    withFilter ++
      (if (fields.nonEmpty) Map("fields" -> fields.mkString(",")) else Map.empty) ++
      (if (expand.nonEmpty) Map("expand" -> expand.mkString(",")) else Map.empty)
  }

  private def jsonDf(body: String): DataFrame = {
    import spark.implicits._
    spark.read.json(Seq(body).toDS())
  }

  /** The pagination-probe search protocol (O3, `gdc.py:280-301`):
    * request `size=1`, read `data.pagination.total`, then fetch
    * exactly `total` hits. Returns the hits as a DataFrame (the
    * JSON-normalize step is Spark's own nested-schema reader).
    */
  def search(
      endpoint: String,
      inFilter: Seq[Cond] = Seq.empty,
      fields: Seq[String] = Seq.empty,
      expand: Seq[String] = Seq.empty): DataFrame = {
    val payload = basePayload(inFilter, fields, expand)
    val probe = jsonDf(fetch(endpoint, payload + ("size" -> "1")))
    val total = probe.select("data.pagination.total").head().getLong(0)
    // Zero matches short-circuit BEFORE the page fetch: an empty hits
    // array infers as array<string>, so the star-expand below would
    // throw at analysis; and a `size=0` wire request is pointless.
    // The empty frame carries no columns — callers' schema comes from
    // real hits.
    if (total == 0L) return spark.emptyDataFrame
    val body = fetch(endpoint, payload + ("size" -> total.toString))
    import org.apache.spark.sql.functions._
    jsonDf(body)
      .select(explode(col("data.hits")).as("h"))
      .select(col("h.*"))
  }

  /** O4: uuid batching for bulk endpoints (`gdc.py:622-625` processes
    * 20,000 uuids per request). */
  def chunked[T](uuids: Seq[T], chunkSize: Int = 20000): Seq[Seq[T]] =
    uuids.grouped(chunkSize).map(_.toSeq).toSeq

  /** The `gdc-check-new` summary (`gdc.py:615-669`): given a data
    * release's updated file uuids, report the impacted
    * (workflow, projects, data_type) combinations.
    *
    * Mirrors the reference mechanics: uuids go to the `files` endpoint
    * in batches of `chunkSize` = 20,000 (`gdc.py:622-625`) filtered to
    * open access, each hit's case list is string-aggregated into a
    * comma-joined distinct project set (`gdc.py:637-639`), batches are
    * concatenated, `id` dropped, and duplicates removed
    * (`gdc.py:643-651`). One deliberate divergence: the reference's
    * pandas normalize splits single-case hits into a separate
    * `cases.project.project_id` column (its 1-element-array collapse
    * runs before normalize), so its output carries two
    * half-populated case columns; Spark's uniform schema keeps every
    * hit's projects in the single `cases` column.
    */
  def checkNew(uuids: Seq[String], chunkSize: Int = 20000): DataFrame = {
    import org.apache.spark.sql.functions._
    val parts = chunked(uuids, chunkSize).map { batch =>
      search("files",
        Seq(In("access", Seq("open")), In("file_id", batch)),
        fields = Seq(
          "cases.project.project_id", "data_type", "analysis.workflow_type"))
    }.filter(_.columns.nonEmpty)
    if (parts.isEmpty) return spark.emptyDataFrame
    val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    // Field-presence tolerance mirrors the reference's try/except
    // around the cases map and the id drop (`gdc.py:636-651`): a
    // release whose hits carry none of a field still summarizes.
    val have = unioned.columns.toSet
    def ifHave(name: String, c: => Column): Column =
      if (have(name)) c else lit(null).cast("string")
    unioned
      .select(
        ifHave("analysis", col("analysis.workflow_type")).as("analysis.workflow_type"),
        ifHave("cases", array_join(array_distinct(
          transform(col("cases"), c => c.getField("project").getField("project_id"))),
          ", ")).as("cases"),
        ifHave("data_type", col("data_type")).as("data_type"))
      .dropDuplicates()
  }

  /** Project catalog (`gdc.py:437-462` `get_project_info`): name,
    * primary site, project id and program name for the given projects
    * (all projects when empty). The reference indexes the frame by
    * `id`; Spark frames have no index, so `id` stays a column.
    */
  def projectInfo(projects: Seq[String] = Seq.empty): DataFrame = {
    val conds =
      if (projects.isEmpty) Seq.empty
      else Seq(In("projects.project_id", projects))
    search("projects", conds,
      fields = Seq("name", "primary_site", "project_id", "program.name"))
  }
}
