package graft

import graft.gdc.{GdcCatalog, GdcFilter}
import graft.ops.XenaOps

/** Specs for the network-free GDC catalog layer (S4/O3/O4) and the
  * schema utilities (S8/V3). The filter DSL expectations mirror the
  * reference's own unit tests (`tests/test_gdc.py:13-28`).
  */
class GdcSpec extends SparkSpecBase {

  test("simple_and_filter: empty -> empty dict") {
    assert(GdcFilter.simpleAndFilter(Seq.empty) == "{}")
  }

  test("simple_and_filter: in + exclude joined by and") {
    val json = GdcFilter.simpleAndFilter(Seq(
      GdcFilter.In("a", Seq("b")),
      GdcFilter.Exclude("c", Seq("d"))))
    assert(json ==
      """{"op":"and","content":[""" +
        """{"op":"in","content":{"field":"a","value":["b"]}},""" +
        """{"op":"exclude","content":{"field":"c","value":["d"]}}]}""")
  }

  test("search: size-1 probe then exact-size fetch, hits as DataFrame") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String])]
    val fetch: (String, Map[String, String]) => String = { (endpoint, params) =>
      calls += ((endpoint, params))
      if (params("size") == "1")
        """{"data":{"pagination":{"total":3},"hits":[{"id":"x"}]}}"""
      else
        """{"data":{"pagination":{"total":3},"hits":[
          |{"id":"f1","file_name":"a.tsv"},
          |{"id":"f2","file_name":"b.tsv"},
          |{"id":"f3","file_name":"c.tsv"}]}}""".stripMargin.replace("\n", "")
    }
    val catalog = new GdcCatalog(spark, fetch)
    val df = catalog.search(
      "files",
      inFilter = Seq(GdcFilter.In("analysis.workflow_type", Seq("STAR - Counts"))),
      fields = Seq("file_id", "file_name"))
    assert(df.count() == 3)
    assert(df.columns.sorted.toSeq == Seq("file_name", "id"))
    assert(calls.size == 2)
    assert(calls(0)._2("size") == "1")
    assert(calls(1)._2("size") == "3")
    assert(calls(0)._2("filters").contains("\"field\":\"analysis.workflow_type\""))
    assert(calls(0)._2("fields") == "file_id,file_name")
  }

  test("search: zero matches short-circuit to an empty frame, no page fetch") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String])]
    val fetch: (String, Map[String, String]) => String = { (endpoint, params) =>
      calls += ((endpoint, params))
      // An empty hits array would infer array<string> and crash the
      // star-expand — the probe total must short-circuit before it.
      """{"data":{"pagination":{"total":0},"hits":[]}}"""
    }
    val catalog = new GdcCatalog(spark, fetch)
    val df = catalog.search("files",
      inFilter = Seq(GdcFilter.In("data_type", Seq("does-not-exist"))))
    assert(df.count() == 0)
    assert(calls.size == 1, "zero-hit search still fetched a page")
    assert(calls(0)._2("size") == "1")
  }

  test("chunked uuid batching") {
    val catalog = new GdcCatalog(spark, (_, _) => "{}")
    val chunks = catalog.chunked((1 to 45).toSeq, chunkSize = 20)
    assert(chunks.map(_.size) == Seq(20, 20, 5))
  }

  test("download cache reconciliation: download/delete/skip sets") {
    import spark.implicits._
    import graft.io.DownloadCache
    // img_[0-9] excludes the img_*_dup.ppm fixtures added for the
    // perceptual near-dup tests, which would inflate the local set.
    val local = DownloadCache.localCatalog(spark, "/root/repo/fixtures/images/img_[0-9].ppm")
    assert(local.count() == 3)
    // remote: img_0 unchanged, img_1 content changed (different md5),
    // img_2 gone, img_9 new
    val img0Md5 = local.filter($"name" === "img_0.ppm").head.getString(1)
    val remote = Seq(
      ("img_0.ppm", img0Md5),
      ("img_1.ppm", "feedfacefeedfacefeedfacefeedface"),
      ("img_9.ppm", "0123456789abcdef0123456789abcdef")).toDF("name", "md5sum")
    assert(DownloadCache.toDownload(remote, local).select("name").as[String].collect().sorted
      .toSeq == Seq("img_1.ppm", "img_9.ppm"))
    assert(DownloadCache.toDelete(local, remote).select("name").as[String].collect()
      .toSeq == Seq("img_2.ppm"))
  }

  test("transposeSmall flips a schema-sized frame") {
    import spark.implicits._
    val df = Seq(("r1", "a", "b"), ("r2", "c", "d")).toDF("name", "x", "y")
    val t = XenaOps.transposeSmall(df, "name")
    assert(t.columns.toSeq == Seq("name", "r1", "r2"))
    val rows = t.orderBy("name").collect()
    assert(rows.map(_.toSeq.mkString(",")).toSeq == Seq("x,a,c", "y,b,d"))
  }

  test("projectInfo: projects endpoint with the reference field list") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val fetch: (String, Map[String, String]) => String = { (endpoint, params) =>
      assert(endpoint == "projects")
      calls += params
      if (params("size") == "1")
        """{"data":{"pagination":{"total":2},"hits":[{"id":"x"}]}}"""
      else
        """{"data":{"pagination":{"total":2},"hits":[
          |{"id":"TCGA-BRCA","name":"Breast","primary_site":["Breast"],"project_id":"TCGA-BRCA","program":{"name":"TCGA"}},
          |{"id":"TARGET-NBL","name":"Neuroblastoma","primary_site":["Nervous System"],"project_id":"TARGET-NBL","program":{"name":"TARGET"}}]}}"""
          .stripMargin.replace("\n", "")
    }
    val df = new GdcCatalog(spark, fetch).projectInfo(Seq("TCGA-BRCA", "TARGET-NBL"))
    assert(df.count() == 2)
    assert(df.columns.contains("id") && df.columns.contains("program"))
    assert(calls.head("fields") == "name,primary_site,project_id,program.name")
    assert(calls.head("filters").contains("projects.project_id"))
  }
}
