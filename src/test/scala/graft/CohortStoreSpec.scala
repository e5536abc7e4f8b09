package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.{CohortStore, XenaTsv}

/** The pan-cancer store (`merge-xena --bucketed-store`): a merge
  * commits a manifest line per cohort with no Spark job, refuses what
  * it cannot commit with the store unchanged, and the export reads only
  * committed cohorts. */
class CohortStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private val key = "Composite Element REF"

  /** A one-sample methylation matrix under `dir`, as `merge-xena -f`
    * takes it. */
  private def mat(dir: String, sample: String, cells: (String, Double)*): String = {
    val path = s"$dir/$sample.tsv"
    XenaTsv.write(cells.toSeq.toDF(key, sample), path, rowKey = Some(key))
    path
  }

  private def merge(store: String, args: String*): Int =
    Cli.run((Seq("merge-xena", "--bucketed-store", store, "-t", "methylation450") ++ args).toArray)

  private def refused(store: String, args: String*): Throwable =
    intercept[IllegalArgumentException](merge(store, args: _*))

  private def exportLines(store: String, out: String): Seq[String] = {
    assert(merge(store, "-o", out) == 0)
    spark.read.text(out).as[String].collect().toSeq
  }

  test("a store merge runs no Spark job, creating the store or adding to it") {
    val tmp = Files.createTempDirectory("graft_cstore_jobs").toString
    val (m0, m1, m2) = (mat(tmp, "SAMP-01A", "cg01" -> 0.5), mat(tmp, "SAMP-02A", "cg02" -> 0.7),
      mat(tmp, "SAMP-03A", "cg01" -> 0.9))
    val store = s"$tmp/store"
    val (rc, jobs) = jobsDuring(merge(store, "-f", m0, "-f", m1))
    assert(rc == 0)
    assert(jobs.isEmpty, s"creating the store ran ${jobs.size} Spark job(s)")
    val (rc2, jobs2) = jobsDuring(merge(store, "-f", m2))
    assert(rc2 == 0)
    assert(jobs2.isEmpty, s"adding a cohort ran ${jobs2.size} Spark job(s)")
    val m = CohortStore.read(spark, store)
    assert(m.rowKey == key && m.version == 2)
    assert(m.cohorts.map(_.dir) == Seq("cohort_1", "cohort_2", "cohort_3"))
    assert(m.samples == Seq("SAMP-01A", "SAMP-02A", "SAMP-03A"))
    assert(exportLines(store, s"$tmp/export.tsv").toSet == Set(s"$key\tSAMP-01A\tSAMP-02A\tSAMP-03A",
      "cg01\t0.5\t\t0.9", "cg02\t\t0.7\t"))
  }

  test("a matrix with another row key, or a sample twice in one merge, is refused with the store unchanged") {
    val tmp = Files.createTempDirectory("graft_cstore_refuse").toString
    val store = s"$tmp/store"
    assert(merge(store, "-f", mat(tmp, "SAMP-01A", "cg01" -> 0.5)) == 0)
    val meta = Files.readAllBytes(Paths.get(store, "store.json"))
    XenaTsv.write(Seq(("cg01", 0.1)).toDF("probe", "SAMP-02A"), s"$tmp/other.tsv", rowKey = Some("probe"))
    assert(refused(store, "-f", s"$tmp/other.tsv").getMessage.contains(s"is not the store's '$key'"))
    val twice = Files.createDirectories(Paths.get(tmp, "twice")).toString
    assert(refused(store, "-f", mat(twice, "SAMP-03A", "cg01" -> 0.1), "-f", mat(tmp, "SAMP-03A", "cg02" -> 0.2))
      .getMessage.contains("SAMP-03A"))
    assert(Files.readAllBytes(Paths.get(store, "store.json")) sameElements meta)
    assert(Files.list(Paths.get(store)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("cohort_")).toSeq == Seq("cohort_1"))
  }

  test("a copied but uncommitted cohort dir is ignored by the export and swept by the next commit") {
    val tmp = Files.createTempDirectory("graft_cstore_orphan").toString
    val store = s"$tmp/store"
    assert(merge(store, "-f", mat(tmp, "SAMP-01A", "cg01" -> 0.5)) == 0)
    // A merge that crashed between its copy and its commit leaves the
    // next cohort dir with no manifest line.
    val orphan = mat(tmp, "SAMP-09A", "cg09" -> 9.0)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(orphan),
      Paths.get(store, "cohort_2").toFile)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(orphan),
      Paths.get(store, "cohort_7").toFile)
    assert(exportLines(store, s"$tmp/e1.tsv").toSet == Set(s"$key\tSAMP-01A", "cg01\t0.5"))
    assert(merge(store, "-f", mat(tmp, "SAMP-02A", "cg02" -> 0.7)) == 0)
    assert(Files.list(Paths.get(store)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("cohort_")).toSeq.sorted == Seq("cohort_1", "cohort_2"))
    assert(exportLines(store, s"$tmp/e2.tsv").toSet ==
      Set(s"$key\tSAMP-01A\tSAMP-02A", "cg01\t0.5\t", "cg02\t\t0.7"))
  }

  test("a store.json from the accumulated-matrix layout is refused in one line") {
    val tmp = Files.createTempDirectory("graft_cstore_old").toString
    val store = Files.createDirectories(Paths.get(tmp, "store"))
    val old = s"""{"rowKey": "$key", "buckets": 4, "version": 2, "schema": "`$key` STRING,`SAMP-01A` DOUBLE"}"""
    Files.writeString(store.resolve("store.json"), old)
    for (args <- Seq(Seq("-o", s"$tmp/export.tsv"), Seq("-f", mat(tmp, "SAMP-02A", "cg01" -> 0.5)))) {
      val msg = refused(store.toString, args: _*).getMessage
      assert(!msg.contains("\n") && msg.contains("re-create the store from its matrices"), msg)
    }
    assert(Files.readString(store.resolve("store.json")) == old)
  }
}
