package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.model.DTypes.{RawReadConfig, SampleColumnsMatrix}
import graft.transform.GdcTransforms

/** Incremental matrix maintenance: the E1 omic import
  * (`xena_dataset.py:204-235`, per-sample raw TSVs → replicate-mean →
  * matrix) as a Structured Streaming job over a landing directory.
  *
  * The reference re-runs the whole per-file loop when new samples
  * land; here newly-arrived files are picked up by the file stream
  * source and folded into the running (probe, sample) mean via a
  * stateful streaming aggregation — the SAME
  * [[GdcTransforms.longMeanValues]] stage the batch path runs, so the
  * incremental result provably equals a from-scratch batch rebuild
  * (asserted in StreamingSpec).
  *
  * Scale shape: state is keyed by (probe, sample) — the long matrix
  * itself. For a pan-cancer corpus that state belongs in a sink-side
  * merge, not executor memory: run this long form in update mode with
  * `foreachBatch` upserting into a bucketed long table
  * ([[graft.io.BucketedTable]]), and render the wide pivot at
  * sink time like the batch path. The wide pivot itself is not
  * streamable (it would need the full sample list per trigger).
  */
object MatrixStream {

  /** Explicit schema for the streaming CSV source (file streams cannot
    * infer): positional string columns read on the driver from the
    * files already in the landing directory ([[GdcTransforms.rawSchema]]).
    */
  def rawSchema(spark: SparkSession, dir: String, cfg: RawReadConfig): StructType =
    GdcTransforms.rawSchema(spark, dir, cfg)

  /** `readStream` twin of [[GdcTransforms.readRaw]]: same sep/header/
    * comment options, same positional `usecols` projection, same
    * filename→sample-id derivation — per-file, so every newly-landed
    * file contributes its own sample column values.
    */
  def readRawStream(
      spark: SparkSession,
      dir: String,
      cfg: RawReadConfig,
      schema: StructType): DataFrame = {
    val raw = spark.readStream.options(GdcTransforms.rawReadOptions(cfg)).schema(schema).csv(dir)
    val cols = cfg.usecols.map(i => org.apache.spark.sql.functions.col(raw.columns(i)))
    raw.select(cols :+ GdcTransforms.sampleIdFromFile.as("__sample"): _*)
  }

  /** The incrementally-maintained long matrix: stream in, shared
    * batch stage out. Complete/update output modes both work; the
    * aggregation state carries exact decimal sums so late files never
    * lose precision to incremental averaging.
    */
  def incrementalLongMatrix(
      spark: SparkSession,
      dir: String,
      strategy: SampleColumnsMatrix,
      schema: StructType): DataFrame =
    GdcTransforms.longMeanValues(
      readRawStream(spark, dir, strategy.read, schema), strategy)
}
