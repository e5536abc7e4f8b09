package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.model.Tables

class XenaOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def longForm = Seq(
    ("g1", "s1", 1.0), ("g1", "s1", 3.0), // replicate pair → mean 2.0
    ("g1", "s2", 4.0),
    ("g2", "s1", 8.0)
  ).toDF("probe", "sample", "value")

  /** Cell-wise mean over same-(probe, sample) replicates (reference
    * `xena_dataset.py:221-227`, `concat(axis=1).mean(1)`): the
    * long-form fixture the pivot tests start from. */
  private def replicateMean(
      long: org.apache.spark.sql.DataFrame,
      rowKey: String,
      sampleCol: String,
      valueCol: String) =
    long.groupBy(col(rowKey), col(sampleCol)).agg(avg(col(valueCol)).as(valueCol))

  test("replicateMean averages same-(probe,sample) replicates") {
    val m = replicateMean(longForm, "probe", "sample", "value")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("g1", "s1")) == 2.0)
    assert(m(("g2", "s1")) == 8.0)
    assert(m.size == 3)
  }

  test("pivotMatrix builds the wide matrix with nulls for absent cells") {
    val wide = XenaOps.pivotMatrix(
      replicateMean(longForm, "probe", "sample", "value"),
      "probe", "sample", "value", Seq("s1", "s2"))
    val rows = wide.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("g1").getDouble(1) == 2.0 && rows("g1").getDouble(2) == 4.0)
    assert(rows("g2").getDouble(1) == 8.0 && rows("g2").isNullAt(2))
  }

  test("melt is the inverse of pivotMatrix (modulo null cells)") {
    val averaged = replicateMean(longForm, "probe", "sample", "value")
    val wide = XenaOps.pivotMatrix(averaged, "probe", "sample", "value", Seq("s1", "s2"))
    val back = XenaOps.melt(wide, "probe", "sample", "value").na.drop()
    assert(XenaOps.canonicalEqual(back, averaged))
  }

  test("pivotMatrixWide batched path equals plain pivot at small width") {
    // 30 samples, batchSize 7 → 5 batches with a ragged tail; sparse
    // cells so the full-outer merge must align rows across batches.
    val long = spark.range(0, 50 * 30)
      .select(
        concat(lit("g"), (col("id") % 50).cast("string")).as("probe"),
        concat(lit("s"), floor(col("id") / 50).cast("string")).as("sample"),
        (col("id") % 97).cast("double").as("value"))
      .filter((col("id") % 7) =!= 0) // holes → null cells
    val wide = XenaOps.pivotMatrixWide(long, "probe", "sample", "value", batchSize = 7)
    val plain = XenaOps.pivotMatrix(long, "probe", "sample", "value")
    assert(XenaOps.canonicalEqual(wide, plain),
      "batched wide pivot diverged from the plain single-shuffle pivot")
  }

  test("pivotMatrixWide assembles a >12k-sample pan-cancer width with default configs") {
    // SURVEY §7.4 risk 1: the reference concat(axis=1)s ~11k sample
    // columns (xena_dataset.py:224-230); our plain pivot would need a
    // pivotMaxValues bump above 10k. 12_500 distinct samples, default
    // batchSize, default spark.sql.pivotMaxValues (10k) — must build.
    val nSamples = 12500
    val nProbes = 8
    val long = spark.range(0, nSamples.toLong * nProbes)
      .select(
        concat(lit("p"), (col("id") % nProbes).cast("string")).as("probe"),
        concat(lit("s"), floor(col("id") / nProbes).cast("string")).as("sample"),
        (col("id") % 1001).cast("double").as("value"),
        col("id"))
      // drop one (probe, sample) stripe so batches see missing cells
      .filter(!(col("probe") === "p3" && floor(col("id") / nProbes) % 5 === 0))
      .drop("id")
    assert(spark.conf.get("spark.sql.pivotMaxValues").toInt == 10000,
      "test precondition: default pivotMaxValues")
    val wide = XenaOps.pivotMatrixWide(long, "probe", "sample", "value")
    assert(wide.columns.length == nSamples + 1,
      s"expected ${nSamples + 1} columns, got ${wide.columns.length}")
    val rows = wide.collect()
    assert(rows.length == nProbes)
    // Spot-check cells: value of (p, s_k) is (k*nProbes + p) % 1001.
    val byProbe = rows.map(r => r.getString(wide.columns.indexOf("probe")) -> r).toMap
    def cell(p: Int, s: Int): Option[Double] = {
      val r = byProbe(s"p$p"); val i = wide.columns.indexOf(s"s$s")
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    }
    assert(cell(1, 12344) == Some(((12344L * nProbes + 1) % 1001).toDouble))
    assert(cell(0, 0) == Some(0.0))
    assert(cell(3, 12345) == None, "dropped stripe must surface as a null cell")
    assert(cell(3, 12346) == Some(((12346L * nProbes + 3) % 1001).toDouble))
  }

  test("pivotMatrixWide refuses a null sample id") {
    val long = Seq(("g1", "s1", 1.0), ("g1", null, 2.0)).toDF("probe", "sample", "value")
    val e = intercept[IllegalArgumentException](
      XenaOps.pivotMatrixWide(long, "probe", "sample", "value"))
    assert(e.getMessage.contains("sample"))
  }

  test("mergeHorizontal is a full-outer join on the row key") {
    val a = Seq(("g1", 1.0), ("g2", 2.0)).toDF("probe", "x")
    val b = Seq(("g2", 20.0), ("g3", 30.0)).toDF("probe", "y")
    val m = XenaOps.mergeHorizontal(Seq(a, b), "probe").collect()
      .map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(m("g1") == (Some(1.0), None))
    assert(m("g2") == (Some(2.0), Some(20.0)))
    assert(m("g3") == (None, Some(30.0)))
  }

  test("mergeVertical aligns column supersets with nulls") {
    val a = Seq(("r1", 1.0)).toDF("id", "x")
    val b = Seq(("r2", 2.0)).toDF("id", "y")
    val m = XenaOps.mergeVertical(Seq(a, b))
    assert(m.columns.toSeq == Seq("id", "x", "y"))
    val rows = m.collect().map(r => r.getString(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(rows("r1") == ((false, true)) && rows("r2") == ((true, false)))
  }

  test("keepSamples/dropSamples partition the input") {
    val df = Seq(("s1", 1), ("s2", 2), ("s3", 3)).toDF("sample", "v")
    val keys = Seq("s1", "s3").toDF("sample")
    assert(XenaOps.keepSamples(df, keys, "sample").count() == 2)
    assert(XenaOps.dropSamples(df, keys, "sample").count() == 1)
  }

  test("reverseDottedRename reverses dotted column paths") {
    val df = Seq((1, 2)).toDF("a.b.c", "plain")
    assert(graft.transform.Clinical.reverseDotted(df).columns.toSeq == Seq("c.b.a", "plain"))
  }

  test("canonicalEqual is order-insensitive in rows and columns") {
    val a = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val b = Seq(("y", 2), ("x", 1)).toDF("v", "k").select("k", "v")
    assert(XenaOps.canonicalEqual(a, b))
    assert(!XenaOps.canonicalEqual(a, a.filter(col("k") === 1)))
  }

  test("pivot∘melt identity holds on real data (lineitem sample)") {
    val wide = XenaOps.pivotMatrix(
      Tables.lineitem(spark, sfDir).select(
        col("l_partkey").as("probe"),
        col("l_returnflag").as("sample"),
        col("l_quantity").as("value"))
        .groupBy("probe", "sample").agg(avg("value").as("value")),
      "probe", "sample", "value", Seq("A", "N", "R"))
    val long = XenaOps.melt(wide, "probe", "sample", "value").na.drop()
    val back = XenaOps.pivotMatrix(long, "probe", "sample", "value", Seq("A", "N", "R"))
    assert(XenaOps.canonicalEqual(wide, back))
  }

  test("TSV write/read round-trips DOTTED column names (survival OS.time shape)") {
    import spark.implicits._
    // The survival matrix ships literal dotted names; df.col parses a
    // bare dot as nested access, so the sink must backtick-quote.
    val df = Seq(("s1", 1, 100.5), ("s2", 0, 7.25))
      .toDF("sample", "OS", "OS.time")
    val tmp = java.nio.file.Files.createTempDirectory("graft_tsv_dotted").toString
    graft.io.XenaTsv.write(df, s"$tmp/m", rowKey = Some("sample"))
    val back = graft.io.XenaTsv.read(spark, s"$tmp/m")
    assert(back.columns.toSeq == Seq("sample", "OS", "OS.time"))
    assert(back.count() == 2)
  }
}
