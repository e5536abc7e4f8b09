package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Parallelism, Sampling}

/** Streaming weighted reservoir: the cross-batch continuation of
  * [[graft.ops.Sampling.weightedSample]]. The batch operator's
  * Efraimidis–Spirakis key is a pure function of the row id, so the
  * reservoir property survives streaming EXACTLY: the k largest keys
  * per group over everything that has ever arrived ARE a size-k
  * weighted sample without replacement of the whole stream — merging
  * each micro-batch's rows into the persisted top-k is all the state
  * the algorithm needs (this is precisely the "reservoir" in the
  * paper's title).
  *
  * The store at `storeDir` holds the current sample — (id, group,
  * weight, rank), `groups × k` rows by contract — and is rewritten
  * per micro-batch via write-aside-then-two-renames with the
  * [[PackStream]] interrupted-swap recovery (at every instant either
  * `sample` or `_old` holds a complete reservoir; the store is
  * re-read while merging, so in-place overwrite would clobber its
  * own input). Per-batch cost: O(batch) for keys + a top-k over
  * (batch ∪ store); the stream never re-reads, let alone re-ranks,
  * past batches. A crash-replayed batch re-merges the same rows into
  * the same reservoir — the merge is idempotent by construction
  * ((group, id) dedup before ranking; keys are deterministic), the
  * [[PackStream]] exactly-once recipe without offset files.
  */
object StreamSample {

  private val WeightCol = "__ws_w"

  /** Hard cap on groups x k rows landed driver-side per merge; above
    * this the "reservoir is small by contract" premise is broken and
    * the job fails loud instead of OOMing the driver. */
  val MaxReservoirRows: Long = 2000000L

  /** Merge one batch of rows into the reservoir at `storeDir`.
    * Shared verbatim by the streaming sink and any batch backfill —
    * one codepath (StreamingSpec pins streamed == batch equality). */
  def mergeBatch(
      batch: DataFrame,
      storeDir: String,
      idCol: String,
      groupCol: String,
      weight: Column,
      k: Int): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(
      col(idCol), col(groupCol).cast("string").as(groupCol),
      weight.cast("double").as(WeightCol))
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sample = new org.apache.hadoop.fs.Path(s"$storeDir/sample")
    val swap = new org.apache.hadoop.fs.Path(s"$storeDir/_swap")
    val old = new org.apache.hadoop.fs.Path(s"$storeDir/_old")
    // Crash recovery BEFORE any read: a prior merge that died between
    // its swap renames leaves `sample` gone and `_old` holding the
    // only copy (the PackStream.compact recovery convention).
    if (!fs.exists(sample) && fs.exists(old))
      require(fs.rename(old, sample),
        s"mergeBatch: found interrupted swap ($sample missing) but could not restore $old")
    fs.delete(old, true)
    fs.delete(swap, true)
    val prev =
      if (fs.exists(sample))
        spark.read.parquet(sample.toString)
          .select(col(idCol), col(groupCol), col(WeightCol))
      else b.limit(0)
    val merged = b.unionByName(prev).dropDuplicates(groupCol, idCol)
      .transform(Parallelism.stage) // two consumers: group guard + sample
    // The reservoir is groups x k rows by contract; enforce the
    // contract before collecting — a high-cardinality group column
    // (misconfigured --group, huge nlist) must fail with a message,
    // not a driver OOM.
    val nGroups = merged.select(col(groupCol)).distinct().count()
    require(nGroups * k <= MaxReservoirRows,
      s"mergeBatch: $nGroups groups x k=$k exceeds the $MaxReservoirRows-row " +
        s"driver reservoir cap; '$groupCol' is too fine-grained for a " +
        "driver-merged sample store")
    val top = Sampling.weightedSample(merged, idCol, groupCol, col(WeightCol), k)
    // Bounded to MaxReservoirRows by the guard above — small enough to
    // land driver-side, which breaks the read-while-overwrite cycle.
    val rows = top.collect().toSeq
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), top.schema)
    out.write.mode("overwrite").parquet(swap.toString)
    // two-rename swap: at every instant either `sample` or `_old`
    // holds a complete reservoir, so the recovery above always has
    // something to restore.
    if (fs.exists(sample))
      require(fs.rename(sample, old), s"mergeBatch: could not move $sample aside")
    if (!fs.rename(swap, sample)) {
      fs.rename(old, sample)
      sys.error(s"mergeBatch: could not activate $swap; original reservoir restored")
    }
    fs.delete(old, true)
  }

  /** Maintain the reservoir from parquet landings in `landingDir`.
    * `schema` must cover `idCol`, `groupCol`, and every column the
    * `weight` expression reads. */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storeDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      groupCol: String,
      weight: Column,
      k: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.start(spark.readStream.schema(schema).parquet(landingDir),
        checkpointDir, trigger) { (batch, _) =>
      mergeBatch(batch, storeDir, idCol, groupCol, weight, k)
    }
}
