package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.io.StoreMeta
import graft.ops.HllStore
import graft.similarity.Similarity

/** A file commit protocol whose job commit always fails: the write
  * job runs and its tasks commit, then the job fails as a failed
  * output commit or a lost driver would leave it. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    throw new java.io.IOException(s"job commit failed for $path")
}

/** The commit point ([[StoreMeta.replaceDir]]): a store rewritten
  * from its own files keeps its previous version when the write fails,
  * and an interrupted swap is restored by the next rewrite. */
class StoreCommitSpec extends SparkSpecBase {
  import spark.implicits._

  /** The exception `body` fails with while every file-source write
    * job fails at its job commit. */
  private def withFailingCommits(body: => Any): Throwable = {
    val key = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    try intercept[Exception](body)
    finally spark.conf.unset(key)
  }

  private def exists(path: String) = Files.exists(Paths.get(path))

  test("HllStore.ingest: a failing write job leaves the previous registers readable and equal") {
    val tmp = Files.createTempDirectory("graft_commit_hll").toString
    HllStore.createAt(spark,
      Seq((1L, "en", "aa bb"), (2L, "de", "cc")).toDF("doc_id", "lang", "text"), s"$tmp/hll", p = 10)
    def regs() = spark.read.parquet(s"$tmp/hll/regs")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val before = regs()
    val batch = Seq((3L, "en", "dd ee"), (4L, "fr", "ff")).toDF("doc_id", "lang", "text")
    withFailingCommits(HllStore.ingest(spark, s"$tmp/hll", batch))
    assert(regs() == before, "a failed ingest changed the registers")
    // the next ingest clears what the failed one left and commits
    HllStore.ingest(spark, s"$tmp/hll", batch)
    assert(regs().keySet == Set("en", "de", "fr"))
    assert(!exists(s"$tmp/hll/regs__new") && !exists(s"$tmp/hll/regs__old"))
  }

  test("Similarity.reindexIfUnhealthy: a failing rebuild leaves the previous index readable and equal") {
    val tmp = Files.createTempDirectory("graft_commit_ivf").toString
    val emb = (1L to 64L).map(i => (i, Array.tabulate(8)(j => ((i * 7 + j * 13) % 17).toFloat / 17f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dim = 8, nlist = 4, path = s"$tmp/ivf")
    def vectors() = spark.read.parquet(s"$tmp/ivf/vectors").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding"), r.getAs[Int]("cell"))).toSet
    def indexJson() = Files.readAllBytes(Paths.get(s"$tmp/ivf/index.json")).toSeq
    val (before, meta) = (vectors(), indexJson())
    // negative thresholds: every index breaches, so the rebuild runs
    withFailingCommits(Similarity.reindexIfUnhealthy(spark, s"$tmp/ivf",
      maxOccupancyCv = -1.0, maxMeanSqErr = -1.0))
    assert(vectors() == before, "a failed rebuild changed the stored vectors")
    assert(indexJson() == meta, "a failed rebuild changed the quantizer")
    // a rebuild that died between its two swap renames: the next
    // reindex measures the restored index
    Files.move(Paths.get(s"$tmp/ivf"), Paths.get(s"$tmp/ivf__old"))
    val measured = Similarity.reindexIfUnhealthy(spark, s"$tmp/ivf",
      maxOccupancyCv = 100.0, maxMeanSqErr = Double.MaxValue)
    assert(!measured.rebuilt && vectors() == before && !exists(s"$tmp/ivf__old"))
    val rebuilt = Similarity.reindexIfUnhealthy(spark, s"$tmp/ivf",
      maxOccupancyCv = -1.0, maxMeanSqErr = -1.0)
    assert(rebuilt.rebuilt && vectors().map(_._1) == before.map(_._1))
    assert(!exists(s"$tmp/ivf__new") && !exists(s"$tmp/ivf__old"))
  }

  test("replaceDir restores an interrupted swap before writing; a failed write keeps the live version") {
    val tmp = Files.createTempDirectory("graft_commit_swap").toString
    def ids() = spark.read.parquet(s"$tmp/live").as[Long].collect().toSet
    // a crash between the two swap renames: live gone, __old the only copy
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$tmp/live__old")
    val seen = StoreMeta.replaceDir(spark, s"$tmp/live") { next =>
      val prev = ids()
      prev.toSeq.map(_ * 10).toDF("id").write.parquet(next)
      prev
    }
    assert(seen == Set(1L, 2L, 3L), "the write did not see the restored version")
    assert(ids() == Set(10L, 20L, 30L))
    assert(!exists(s"$tmp/live__old") && !exists(s"$tmp/live__new"))
    val e = intercept[RuntimeException](StoreMeta.replaceDir(spark, s"$tmp/live") { next =>
      Seq(7L).toDF("id").write.parquet(next)
      sys.error("write failed after its files landed")
    })
    assert(e.getMessage.contains("write failed"))
    assert(ids() == Set(10L, 20L, 30L), "a failed write replaced the live version")
  }
}
