package graft.gdc

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull, Not}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the GDC REST catalog (SURVEY §2 S4, §4
  * "custom work needed: yes if we build a real GDC connector").
  *
  * The reference hand-rolls three optimizations the connector surfaces
  * as Catalyst pushdowns instead:
  *
  *  - server-side filters (`gdc.py:175-218` filter DSL) →
  *    `SupportsPushDownFilters`: `EqualTo`/`In` become `"op":"in"`,
  *    `Not(In)` becomes `"op":"exclude"`; anything else stays a
  *    residual for Spark to evaluate.
  *  - field-list projection (`gdc.py:283-284` `fields=` param) →
  *    `SupportsPushDownRequiredColumns`: the scan requests exactly the
  *    pruned columns.
  *  - size-probe pagination (`gdc.py:280-301`) + 20k batching
  *    (`gdc.py:622-625`) → `SupportsPushDownLimit` and one
  *    `InputPartition` per result page: the driver probes `size=1`
  *    for the total, then plans `ceil(total/pageSize)` partitions,
  *    each fetching its own page on an executor.
  *
  * Wire format: `{"data":{"hits":[...],"pagination":{"total":N}}}`
  * (the GDC envelope). Hit fields are dotted paths over nested JSON;
  * values are rendered as strings, arrays flattened and comma-joined
  * (the reference's `get_json_objects` walk, `utils.py:207-232`).
  *
  * The transport is an [[HttpTransport]] injected by CLASS NAME
  * (`transport` option, a zero-arg constructor) and instantiated per
  * partition — network-free tests plug a deterministic in-memory
  * server; deployment plugs an HTTP client.
  *
  * Usage:
  * {{{
  *   spark.read.format("gdc")
  *     .option("endpoint", "files")
  *     .option("fields", "file_id,cases.project.project_id,md5sum")
  *     .option("transport", "com.example.GdcHttpTransport") // an HttpTransport
  *     .load()
  *     .filter($"`cases.project.project_id`" === "TCGA-BRCA")  // pushed
  * }}}
  */
class GdcTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "gdc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GdcDataSource.schemaFor(options)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GdcTable(schema, new CaseInsensitiveStringMap(properties))
}

object GdcDataSource {
  private val mapper = new ObjectMapper()

  def schemaFor(options: CaseInsensitiveStringMap): StructType =
    StructType(fieldList(options).map(f => StructField(f, StringType)))

  def fieldList(options: CaseInsensitiveStringMap): Seq[String] = {
    val fs = options.get("fields")
    require(fs != null && fs.nonEmpty, "gdc source requires a 'fields' option")
    fs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Instantiate the named [[HttpTransport]] and mount the
    * reference's retry policy (`utils.py:187-204`, the same
    * `RetryingTransport` the Cli uses): every driver probe and every
    * executor page fetch retries up to `retries` times with
    * `backoffFactor` backoff, on statuses {500, 502, 504} and on
    * connect/read `IOException`s. `retries = 0` disables wrapping.
    * Returns the `(endpoint, params) => body` fetch.
    */
  def newTransport(
      className: String,
      retries: Int = 10,
      backoffFactor: Double = 0.5): (String, Map[String, String]) => String =
    Class.forName(className).getDeclaredConstructor().newInstance() match {
      case h: HttpTransport =>
        HttpTransport.fetchFn(if (retries <= 0) h else new RetryingTransport(h, retries, backoffFactor))
      case _ => throw new IllegalArgumentException(s"$className is not a graft.gdc.HttpTransport")
    }

  /** (`retries`, `backoffFactor`) read options — the connector's retry
    * knobs, defaulting to the reference policy. */
  def retryOptions(options: CaseInsensitiveStringMap): (Int, Double) = (
    Option(options.get("retries")).map(_.toInt).getOrElse(10),
    Option(options.get("backoffFactor")).map(_.toDouble).getOrElse(0.5))

  /** Dotted-path walk over a hit: the nodes at `path`, arrays
    * flattened (every element's sub-values collected in document
    * order), null/missing dropped — the `get_json_objects` walk
    * (`utils.py:207-232`). Empty path returns the node itself
    * (array-flattened). */
  def pathNodes(node: JsonNode, path: String): Seq[JsonNode] = {
    def walk(n: JsonNode, parts: List[String]): Seq[JsonNode] = parts match {
      case Nil => if (n.isArray) n.elements().asScala.toSeq else Seq(n)
      case p :: rest =>
        if (n.isArray) n.elements().asScala.toSeq.flatMap(walk(_, parts))
        else if (n.has(p)) walk(n.get(p), rest)
        else Seq.empty
    }
    val parts = if (path.isEmpty) Nil else path.split("\\.").toList
    walk(node, parts).filterNot(l => l.isNull || l.isMissingNode)
  }

  /** [[pathNodes]] leaves rendered as text (objects as JSON). */
  def pathValues(node: JsonNode, path: String): Seq[String] =
    pathNodes(node, path).map(l => if (l.isValueNode) l.asText() else l.toString)

  /** Leaves at `path` comma-joined, absent path → null — the column
    * rendering the DSv2 scan materializes. */
  def extractPath(node: JsonNode, path: String): String = {
    val leaves = pathValues(node, path)
    if (leaves.isEmpty) null else leaves.mkString(",")
  }

  def parseHits(body: String): Seq[JsonNode] =
    mapper.readTree(body).path("data").path("hits").elements().asScala.toSeq

  def parseTotal(body: String): Long =
    mapper.readTree(body).path("data").path("pagination").path("total").asLong()
}

class GdcTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  override def name(): String = s"gdc:${options.get("endpoint")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GdcScanBuilder(schema, options)
}

class GdcScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None
  private var countStar = false

  /** Filter attributes for dotted column names arrive backtick-quoted
    * (`` `cases.project.project_id` ``); the GDC wire field is the raw
    * dotted path. */
  private def unquote(attr: String): String =
    if (attr.length >= 2 && attr.head == '`' && attr.last == '`')
      attr.substring(1, attr.length - 1).replace("``", "`")
    else attr

  private def translate(f: Filter): Option[GdcFilter.Cond] = f match {
    case EqualTo(attr, v: String) => Some(GdcFilter.In(unquote(attr), Seq(v)))
    case In(attr, vs) if vs.forall(_.isInstanceOf[String]) =>
      Some(GdcFilter.In(unquote(attr), vs.map(_.asInstanceOf[String]).toSeq))
    case Not(In(attr, vs)) if vs.forall(_.isInstanceOf[String]) =>
      Some(GdcFilter.Exclude(unquote(attr), vs.map(_.asInstanceOf[String]).toSeq))
    case Not(EqualTo(attr, v: String)) => Some(GdcFilter.Exclude(unquote(attr), Seq(v)))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val supported = filters.filter(translate(_).isDefined)
    // DOTTED paths (nested, possibly array-typed on the server) have
    // ANY-element `in` semantics server-side, while the scan flattens
    // arrays to comma-joined strings — a multi-valued hit can satisfy
    // the server condition yet fail the literal Spark predicate. Such
    // filters are sent to the wire as a PREFILTER but stay residual so
    // Spark re-evaluates them on the materialized value (this also
    // correctly disables complete count(*) pushdown for them: the
    // server's ANY-count could overcount). Top-level scalar fields
    // have identical semantics both sides and are fully handled.
    val (dotted, scalar) = supported.partition(f =>
      translate(f).exists(_.field.contains('.')))
    // Catalyst pairs every EqualTo/In with an IsNotNull on the same
    // attribute. A GDC `in` condition already implies non-null
    // server-side, so for fully-handled scalar fields the IsNotNull
    // is covered by the pushed condition — keeping it as a residual
    // would (correctly but uselessly) block complete count(*)
    // pushdown.
    val scalarInAttrs = scalar.flatMap(translate).collect {
      case GdcFilter.In(f, _) => f
    }.toSet
    val implied: Array[Filter] = filters.collect {
      case f @ IsNotNull(a) if scalarInAttrs.contains(unquote(a)) => f
    }
    pushed = scalar ++ dotted ++ implied
    filters.filterNot(f => scalar.contains(f) || implied.contains(f))
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // An empty projection (e.g. count(*)) still needs a probe column.
    required =
      if (requiredSchema.isEmpty) StructType(fullSchema.take(1)) else requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** A9/O3: a global `count(*)` is EXACTLY the reference's pagination
    * probe (`gdc.py:297-301` — `size=1`, read `pagination.total`).
    * Complete pushdown: the scan answers with one row from one wire
    * request; no hit pages are ever fetched. */
  private def isCountStar(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar]

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    isCountStar(agg) && limit.isEmpty

  override def pushAggregation(agg: Aggregation): Boolean =
    if (isCountStar(agg) && limit.isEmpty) { countStar = true; true }
    else false

  override def build(): Scan =
    if (countStar) new GdcCountScan(options, pushed.flatMap(translate))
    else new GdcScan(required, options, pushed.flatMap(translate), limit)
}

/** The count(*) scan: one partition, one `size=1` probe request,
  * one output row holding `pagination.total`. */
class GdcCountScan(options: CaseInsensitiveStringMap, conds: Array[GdcFilter.Cond])
    extends Scan with Batch {

  private val endpoint = options.get("endpoint")
  private val transportClass = options.get("transport")
  private val (retries, backoff) = GdcDataSource.retryOptions(options)

  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"GdcCountScan(endpoint=$endpoint, pushed=${conds.mkString(",")})"

  private def probeParams: Map[String, String] = {
    val filterParam =
      if (conds.isEmpty) Map.empty[String, String]
      else Map("filters" -> GdcFilter.simpleAndFilter(conds.toSeq))
    filterParam + ("size" -> "1")
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(GdcInputPartition(0L, 1L))

  override def createReaderFactory(): PartitionReaderFactory = {
    val ep = endpoint; val tc = transportClass; val params = probeParams
    val r = retries; val bf = backoff
    (_: InputPartition) => new PartitionReader[InternalRow] {
      // PartitionReader contract: next() advances (and may do I/O),
      // get() returns the current row and must be idempotent — a
      // second get() must NOT re-issue the wire probe.
      private var emitted = false
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (emitted) false
        else {
          val total = GdcDataSource.parseTotal(
            GdcDataSource.newTransport(tc, r, bf)(ep, params))
          row = new GenericInternalRow(Array[Any](total))
          emitted = true
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

class GdcScan(
    schema: StructType,
    options: CaseInsensitiveStringMap,
    conds: Array[GdcFilter.Cond],
    limit: Option[Int])
    extends Scan with Batch {

  private val endpoint = options.get("endpoint")
  private val transportClass = options.get("transport")
  private val pageSize = Option(options.get("pageSize")).map(_.toInt).getOrElse(20000)
  private val (retries, backoff) = GdcDataSource.retryOptions(options)

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GdcScan(endpoint=$endpoint, pushed=${conds.mkString(",")}, limit=$limit)"

  private def baseParams: Map[String, String] = {
    val filterParam =
      if (conds.isEmpty) Map.empty[String, String]
      else Map("filters" -> GdcFilter.simpleAndFilter(conds.toSeq))
    filterParam + ("fields" -> schema.fieldNames.mkString(","))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // O3: the size-1 probe establishes the result count server-side.
    val fetch = GdcDataSource.newTransport(transportClass, retries, backoff)
    val total = GdcDataSource.parseTotal(fetch(endpoint, baseParams + ("size" -> "1")))
    val effective = limit.fold(total)(l => math.min(total, l.toLong))
    // O4: one partition per result page.
    (0L until effective by pageSize.toLong).map { from =>
      val size = math.min(pageSize.toLong, effective - from)
      GdcInputPartition(from, size): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GdcReaderFactory(endpoint, transportClass, baseParams, schema.fieldNames,
      retries, backoff)
}

case class GdcInputPartition(from: Long, size: Long) extends InputPartition

class GdcReaderFactory(
    endpoint: String,
    transportClass: String,
    baseParams: Map[String, String],
    fields: Array[String],
    retries: Int = 10,
    backoffFactor: Double = 0.5)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GdcInputPartition]
    new PartitionReader[InternalRow] {
      private lazy val hits = {
        val fetch = GdcDataSource.newTransport(transportClass, retries, backoffFactor)
        GdcDataSource.parseHits(fetch(endpoint,
          baseParams ++ Map("from" -> p.from.toString, "size" -> p.size.toString)))
      }.iterator
      private var current: InternalRow = _

      override def next(): Boolean =
        if (hits.hasNext) {
          val hit = hits.next()
          current = new GenericInternalRow(
            fields.map { f =>
              val v = GdcDataSource.extractPath(hit, f)
              if (v == null) null else UTF8String.fromString(v)
            }.toArray[Any])
          true
        } else false

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
