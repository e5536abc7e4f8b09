package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.gdc.{GdcDataSource, GdcResponse, HttpTransport}

/** A deterministic in-memory GDC server: 57 file records over two
  * projects, honoring filters / fields / from / size like the real
  * API, and recording every request so pushdown can be asserted at
  * the wire level — not just on results. */
class FakeGdcServer extends HttpTransport {
  import FakeGdcServer._

  override def get(endpoint: String, params: Map[String, String]): GdcResponse = {
    record(endpoint, params)
    val all = records.filter(matches(_, params.get("filters")))
    val from = params.get("from").map(_.toInt).getOrElse(0)
    val size = params.get("size").map(_.toInt).getOrElse(10)
    val page = all.slice(from, from + size)
    val hits = page.map(toJson).mkString("[", ",", "]")
    GdcResponse(200,
      s"""{"data":{"hits":$hits,"pagination":{"total":${all.size}}}}""".getBytes("UTF-8"))
  }
}

object FakeGdcServer {
  final case class Rec(fileId: String, project: String, dtype: String, md5: String)

  // 57 records, 2 projects, 3 dtypes — closed-form, no RNG.
  val records: Seq[Rec] = (0 until 57).map { i =>
    Rec(f"file-$i%04d",
      if (i % 3 == 0) "TCGA-BRCA" else "TCGA-LUAD",
      Seq("star_counts", "mirna", "maf")(i % 3),
      f"$i%032x")
  }

  val requests: mutable.Buffer[(String, Map[String, String])] =
    mutable.Buffer.empty

  def record(endpoint: String, params: Map[String, String]): Unit =
    synchronized { requests += ((endpoint, params)) }

  /** Minimal evaluator for the `{"op":"and"}` filter DSL the scan
    * pushes (string match on the rendered JSON keeps the fake free of
    * a JSON parser — conditions are rendered deterministically). */
  def matches(r: Rec, filterJson: Option[String]): Boolean = filterJson match {
    case None => true
    case Some(f) =>
      def field(name: String): String = name match {
        case "cases.project.project_id" => r.project
        case "data_type" => r.dtype
        case "file_id" => r.fileId
        case other => sys.error(s"fake server: unknown field $other")
      }
      // every {"op":...} condition block must hold
      val cond = """\{"op":"(in|exclude)","content":\{"field":"([^"]+)","value":\[([^\]]*)\]\}\}""".r
      cond.findAllMatchIn(f).forall { m =>
        val vals = m.group(3).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet
        val hit = vals.contains(field(m.group(2)))
        if (m.group(1) == "in") hit else !hit
      }
  }

  def toJson(r: Rec): String =
    s"""{"file_id":"${r.fileId}","data_type":"${r.dtype}","md5sum":"${r.md5}",
       |"cases":[{"project":{"project_id":"${r.project}"}}]}""".stripMargin.replace("\n", "")
}

/** DataSourceV2 connector: filter / column / limit pushdown reach the
  * wire, pages become partitions, dotted paths flatten arrays. */
/** Fails the first N fetches with IOException, then delegates to the
  * fixture server — exercises the connector-mounted retry policy. */
class FlakyGdcServer extends HttpTransport {
  override def get(endpoint: String, params: Map[String, String]): GdcResponse = {
    FlakyGdcServer.calls += 1
    if (FlakyGdcServer.calls <= FlakyGdcServer.failFirst)
      throw new java.io.IOException(s"connection reset #${FlakyGdcServer.calls}")
    new FakeGdcServer().get(endpoint, params)
  }
}
object FlakyGdcServer {
  @volatile var calls = 0
  @volatile var failFirst = 0
  def arm(n: Int): Unit = { calls = 0; failFirst = n }
}

/** First fetch answers 502, then delegates — exercises the
  * status-forcelist retry path. */
class Flaky502Server extends HttpTransport {
  override def get(endpoint: String, params: Map[String, String]): GdcResponse = {
    Flaky502Server.calls += 1
    if (Flaky502Server.calls == 1) GdcResponse(502, "bad gateway".getBytes("UTF-8"))
    else new FakeGdcServer().get(endpoint, params)
  }
}
object Flaky502Server { @volatile var calls = 0 }

class GdcConnectorSpec extends SparkSpecBase {

  private def gdc(pageSize: Int = 20) = spark.read.format("gdc")
    .option("endpoint", "files")
    .option("fields", "file_id,data_type,md5sum,cases.project.project_id")
    .option("transport", classOf[FakeGdcServer].getName)
    .option("pageSize", pageSize.toString)
    .load()

  test("full scan returns every record with dotted paths flattened") {
    val rows = gdc().collect()
    assert(rows.length == 57)
    val first = gdc().filter(col("file_id") === "file-0000").head()
    assert(first.getAs[String]("cases.project.project_id") == "TCGA-BRCA")
  }

  test("equality and IN filters are pushed to the wire as the GDC DSL") {
    FakeGdcServer.requests.clear()
    val brca = gdc().filter(col("`cases.project.project_id`") === "TCGA-BRCA")
    assert(brca.count() == 19)
    val filters = FakeGdcServer.requests.flatMap(_._2.get("filters")).distinct
    assert(filters.nonEmpty, "no filters reached the transport")
    assert(filters.forall(_.contains(
      """{"op":"in","content":{"field":"cases.project.project_id","value":["TCGA-BRCA"]}}""")),
      filters.mkString("\n"))
    // and the plan reports it as pushed
    val plan = brca.queryExecution.executedPlan.toString
    assert(plan.contains("GdcScan"), plan.take(800))
  }

  test("NOT IN pushes as exclude; residual filters stay in Spark") {
    FakeGdcServer.requests.clear()
    val notMaf = gdc().filter(!col("data_type").isin("maf"))
    assert(notMaf.count() == 38)
    val filters = FakeGdcServer.requests.flatMap(_._2.get("filters")).distinct
    assert(filters.forall(_.contains("\"op\":\"exclude\"")), filters.mkString("\n"))
    // contains() is not translatable → residual, evaluated by Spark
    val resid = gdc().filter(col("file_id").contains("003"))
    assert(resid.count() == 11) // file-0003 and file-0030..0039
  }

  test("column pruning reaches the fields= param") {
    FakeGdcServer.requests.clear()
    val ids = gdc().select("file_id")
    // collect, not count: count(*) is now answered by the probe alone
    // and would never send a fields= request at all
    assert(ids.collect().length == 57)
    val fieldParams = FakeGdcServer.requests.flatMap(_._2.get("fields")).distinct
    assert(fieldParams.contains("file_id"), fieldParams.mkString("\n"))
    assert(!fieldParams.exists(_.contains("md5sum")) ||
      fieldParams.forall(f => f == "file_id" || !f.contains("file_id")),
      "pruned scan still requests all fields: " + fieldParams.mkString("\n"))
  }

  test("count(*) answers from the size-probe alone (aggregate pushdown)") {
    FakeGdcServer.requests.clear()
    assert(gdc().count() == 57)
    assert(FakeGdcServer.requests.nonEmpty)
    assert(FakeGdcServer.requests.forall(_._2.get("size").contains("1")),
      "count(*) fetched hit pages: " + FakeGdcServer.requests.mkString("\n"))

    // A TOP-LEVEL scalar filter has identical semantics on both sides,
    // so the filtered count still answers from the probe alone.
    FakeGdcServer.requests.clear()
    val mafCount = gdc().filter(col("data_type") === "maf").count()
    assert(mafCount == 19)
    assert(FakeGdcServer.requests.forall { r =>
      r._2.get("size").contains("1") && r._2.contains("filters")
    }, "scalar-filtered count(*) probe lost the filter or fetched pages")

    // A DOTTED path may be array-typed server-side (ANY-element `in`
    // semantics vs Spark's literal predicate on the flattened value),
    // so the filter stays residual: the count must NOT answer from the
    // server's probe total — pages are fetched and Spark re-evaluates.
    FakeGdcServer.requests.clear()
    val brca = gdc()
      .filter(col("`cases.project.project_id`") === "TCGA-BRCA").count()
    assert(brca == 19)
    assert(FakeGdcServer.requests.exists(r => !r._2.get("size").contains("1")),
      "dotted-path filtered count(*) wrongly answered from the ANY-semantics probe")
    assert(FakeGdcServer.requests.forall(_._2.contains("filters")),
      "dotted-path prefilter did not reach the wire")
  }

  test("limit pushes into the probe protocol; pages become partitions") {
    val limited = gdc(pageSize = 20).limit(5)
    assert(limited.count() == 5)
    // pageSize 20 over 57 records → 3 partitions on the full scan
    assert(gdc(pageSize = 20).rdd.getNumPartitions == 3)
    assert(gdc(pageSize = 100).rdd.getNumPartitions == 1)
  }

  test("connector retry: executor page fetches survive transient IOExceptions") {
    // 2 failures then success: first retry immediate, second sleeps 1s
    // (urllib3 backoff) - tolerable in a spec, proves the policy is
    // mounted on the partition reader path, not just the driver probe.
    FlakyGdcServer.arm(2)
    val df = spark.read.format("gdc")
      .option("endpoint", "files")
      .option("fields", "file_id,data_type")
      .option("transport", classOf[FlakyGdcServer].getName)
      .option("pageSize", "100")
      .load()
    assert(df.count() == 57)
    assert(FlakyGdcServer.calls >= 3, "retries must have happened")
  }

  test("connector retry: retries=0 disables the policy") {
    FlakyGdcServer.arm(1)
    val df = spark.read.format("gdc")
      .option("endpoint", "files")
      .option("fields", "file_id")
      .option("transport", classOf[FlakyGdcServer].getName)
      .option("retries", "0")
      .load()
    val e = intercept[Exception](df.count())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[java.io.IOException]),
      s"unretried IOException must surface, got $e")
  }

  test("connector retry: HttpTransport fixtures get status-forcelist retries") {
    Flaky502Server.calls = 0
    val df = spark.read.format("gdc")
      .option("endpoint", "files")
      .option("fields", "file_id")
      .option("transport", classOf[Flaky502Server].getName)
      .option("pageSize", "100")
      .load()
    assert(df.count() == 57)
    assert(Flaky502Server.calls >= 2, "the 502 must have been retried")
  }
}
