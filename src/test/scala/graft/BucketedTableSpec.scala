package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{BucketedTable, CohortStore, StoreMeta}

/** Every bucketed store round-trips through [[BucketedTable]]: created
  * with the session-derived bucket count, its catalog entry dropped,
  * re-attached from its sidecar alone with no Spark job, declaring the
  * schema the store always had. */
class BucketedTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Drop `table`'s catalog entry, re-attach it with `attach` and check
    * the declared table: no job, `buckets` buckets, `ddl` as schema. */
  private def roundTrip(name: String, table: String, buckets: Int, ddl: String)(attach: => String): Unit = {
    spark.sql(s"DROP TABLE `$table`")
    assert(!spark.catalog.tableExists(table), name)
    val (attached, jobs) = jobsDuring(attach)
    assert(attached == table, name)
    assert(jobs.isEmpty, s"$name: attach ran ${jobs.size} Spark job(s)")
    assert(BucketedTable.buckets(spark, table) == buckets, name)
    assert(spark.table(table).schema == StructType.fromDDL(ddl), name)
  }

  test("every bucketed store: create, drop the catalog entry, attach from the sidecar with no job") {
    import graft.dedup.{BandStore, FingerprintStore, SigBandStore}
    import graft.ops.{LmStore, NbStore, PostingStore}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nb = BucketedTable.defaultBuckets(spark)
    def sidecarBuckets(file: String) = StoreMeta.read(spark, file).int("buckets")

    val fp = s"${tmp("bt_fp")}/s"
    val fpTable = FingerprintStore.createAt(spark, docs, "doc_id", "text", fp)
    assert(sidecarBuckets(s"$fp/_fp_store.json") == nb)
    roundTrip("fingerprint", fpTable, nb, "`fp` STRING,`keep_id` BIGINT")(
      FingerprintStore.attach(spark, fp)._1)

    val band = s"${tmp("bt_band")}/s"
    val bandTable = BandStore.createAt(spark, docs, "doc_id", "text", band)
    assert(sidecarBuckets(s"$band/_band_store.json") == nb)
    roundTrip("band", bandTable, nb, "`bkey` BIGINT,`doc_id` BIGINT")(BandStore.attach(spark, band)._1)

    val sig = s"${tmp("bt_sig")}/s"
    val sigTable = SigBandStore.createAt(spark,
      (0 until 20).map(i => (s"s$i", i * 7919L)).toDF("name", "sig"), "name", "sig", sig)
    assert(sidecarBuckets(s"$sig/_sig_band_store.json") == nb)
    roundTrip("sig-band", sigTable, nb, "`bkey` BIGINT,`id` STRING,`sig` BIGINT")(
      SigBandStore.attach(spark, sig)._1)

    val lm = s"${tmp("bt_lm")}/s"
    val lmTable = LmStore.createAt(spark, docs, lm)
    assert(sidecarBuckets(s"$lm/_lm_store.json") == nb)
    roundTrip("lm", lmTable, nb, "`tok` STRING,`cnt` BIGINT")(LmStore.attach(spark, lm)._1)

    val nbs = s"${tmp("bt_nb")}/s"
    val nbTable = NbStore.createAt(spark, docs, col("lang") === "en", nbs)
    assert(sidecarBuckets(s"$nbs/_nb_store.json") == nb)
    roundTrip("nb", nbTable, nb, "`tok` STRING,`pos` BIGINT,`neg` BIGINT")(NbStore.attach(spark, nbs)._1)

    // The posting store's frozen norms: created with the store's own
    // bucket count, attached by the tf-idf probe.
    val posting = s"${tmp("bt_posting")}/s"
    PostingStore.create(docs, posting)
    assert(StoreMeta.read(spark, s"$posting/store.json").int("n_buckets") == nb)
    PostingStore.freezeNorms(spark, posting)
    assert(sidecarBuckets(s"$posting/norms/_norms.json") == nb)
    val normsTable = StoreMeta.tableName("tfidf_norms", posting)
    roundTrip("posting norms", normsTable, nb, "`doc_id` BIGINT,`dnorm` DOUBLE")(
      PostingStore.attachNorms(spark, posting)._1)
  }

  test("an empty store written before the schema field attaches with its fixed DDL") {
    import graft.dedup.SigBandStore
    val sig = s"${tmp("bt_sig_empty")}/s"
    val table = SigBandStore.createAt(spark,
      Seq.empty[(String, Long)].toDF("name", "sig"), "name", "sig", sig, buckets = 4)
    StoreMeta.write(spark, s"$sig/_sig_band_store.json", "sigBits" -> 64, "bands" -> 4, "buckets" -> 4)
    spark.sql(s"DROP TABLE `$table`")
    val (_, jobs) = jobsDuring(SigBandStore.attach(spark, sig))
    assert(jobs.isEmpty)
    assert(spark.table(table).schema == StructType.fromDDL("`bkey` BIGINT,`id` STRING,`sig` BIGINT"))
    assert(spark.table(table).count() == 0L)
  }

  /** The single part file a TSV sink wrote under `dir`. */
  private def partBytes(dir: String): Array[Byte] = {
    val parts = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"$dir: ${parts.size} part files")
    Files.readAllBytes(parts.head)
  }

  test("merge-xena --bucketed-store -o: two stores of the same cohorts export the same bytes, in row-key order") {
    val dir = tmp("bt_export")
    val files = Seq("sA", "sB").map { smp =>
      graft.io.XenaTsv.write((0 until 300).map(i => (f"g$i%04d", 1.0)).toDF("id", smp),
        s"$dir/$smp.tsv", rowKey = Some("id"))
      s"$dir/$smp.tsv"
    }
    def export(store: String): Array[Byte] = {
      assert(Cli.run((Seq("merge-xena", "--bucketed-store", s"$dir/$store", "-t", "methylation450",
        "-o", s"$dir/$store.tsv") ++ files.flatMap(f => Seq("-f", f))).toArray) == 0)
      partBytes(s"$dir/$store.tsv")
    }
    val a = export("storeA")
    assert(a sameElements export("storeB"),
      "two stores of the same rows exported different bytes")
    val lines = new String(a, "UTF-8").split("\n").toSeq
    assert(lines.head == "id\tsA\tsB")
    assert(lines.tail == (0 until 300).map(i => f"g$i%04d\t1.0\t1.0"))
  }

  test("the bucketed-store export sorts inside the sink's one task: one job, no exchange") {
    val dir = tmp("bt_export_jobs")
    graft.io.XenaTsv.write((0 until 100).map(i => (f"p$i%03d", i * 1.0)).toDF("probe", "sA"),
      s"$dir/m.tsv", rowKey = Some("probe"))
    CohortStore.merge(spark, s"$dir/store", Seq(s"$dir/m.tsv"))
    // Opening the store runs no job and the sink runs one; an exchange
    // would add its own (adaptive execution runs each shuffle stage as
    // a job).
    val (rc, jobs) = jobsDuring(Cli.run(Array("merge-xena", "--bucketed-store", s"$dir/store",
      "-t", "methylation450", "-o", s"$dir/export.tsv")))
    assert(rc == 0)
    assert(jobs.size == 1, s"export ran ${jobs.size} jobs: $jobs")
    assert(new String(partBytes(s"$dir/export.tsv"), "UTF-8").split("\n").tail.toSeq ==
      (0 until 100).map(i => f"p$i%03d\t${i * 1.0}"))
  }
}
