package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{LmStore, Parallelism, Quality}

/** Streaming distribution-drift monitor: each arriving micro-batch is
  * scored per group against the FROZEN reference distribution in an
  * [[LmStore]] — the run-forever form of [[Quality.groupKlDrift]].
  * The batch operator compares a group against the corpus it is part
  * of; a monitor needs the opposite fixture: a trusted snapshot that
  * does NOT shift as batches arrive, so a feed's score moves only
  * when the feed does.
  *
  * Semantics: P is the batch group's IN-VOCAB token distribution
  * (renormalized over in-vocab mass), Q the store's; kl =
  * KL(P ‖ Q) over the group's in-vocab tokens — finite by
  * construction. Out-of-vocabulary mass cannot honestly enter a KL
  * against a distribution that gives it zero probability, so it is
  * COUNTED (n_oov), the [[LmStore.score]] contract: "drifted inside
  * the reference vocabulary" and "speaking new vocabulary" are
  * different alarms. An all-OOV group gets a null kl, never a
  * fabricated number. On the store's own fitting corpus, n_oov = 0
  * and kl equals [[Quality.groupKlDrift]] exactly (Q IS that
  * corpus's distribution — StreamingSpec pins the equality).
  *
  * Scale shape per batch: one O(batch) tokenize into (group, token)
  * counts, one join against the tok-bucketed store (store side
  * exchange-free), group totals broadcast, fixed-point term sums.
  * The reference corpus is never re-read.
  */
object StreamDrift {

  /** Score one batch; shared verbatim by the streaming sink (one
    * codepath). Output: (group, n_tokens, n_oov, kl). */
  def batchDrift(
      spark: SparkSession,
      storePath: String,
      batch: DataFrame,
      groupCol: String): DataFrame = {
    val (table, total) = LmStore.attach(spark, storePath)
    require(total > 0L, s"LM store at $storePath is empty — fit it on a corpus first")
    // checkpointed: the joined count table feeds TWO consumers (the
    // in-vocab group totals and the term sum) — without it the batch
    // would tokenize twice per micro-batch. Batch-vocab bounded, so
    // the pinned intermediate is small by construction.
    val gt = batch
      .filter(col("text").isNotNull)
      .select(col(groupCol).cast("string").as(groupCol),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col(groupCol), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val joined = gt
      .join(spark.table(table).select(col("tok"), col("cnt").as("c")), Seq("tok"), "left")
      .transform(Parallelism.stage)
    val inTotals = joined.filter(col("c").isNotNull)
      .groupBy(groupCol).agg(sum("cnt").as("gtot")) // groups-bounded
    // (cnt/gtot) ln((cnt·total)/(gtot·c)) with every factor cast to
    // double individually — the groupKlDrift rounding recipe.
    val term = (col("cnt").cast("double") / col("gtot").cast("double")) *
      log((col("cnt").cast("double") * lit(total).cast("double")) /
        (col("gtot").cast("double") * col("c").cast("double")))
    joined
      .join(broadcast(inTotals), Seq(groupCol), "left")
      .select(col(groupCol), col("cnt"), col("c"),
        when(col("c").isNotNull, Quality.fixedPoint9(term)).otherwise(lit(0L)).as("k9"))
      .groupBy(col(groupCol))
      .agg(
        sum("cnt").cast("long").as("n_tokens"),
        sum(when(col("c").isNull, col("cnt")).otherwise(0L)).cast("long").as("n_oov"),
        when(sum(when(col("c").isNotNull, col("cnt")).otherwise(0L)) > 0L,
          round(Quality.fromFixedPoint9(sum(col("k9"))), 6)).as("kl"))
  }

  /** Monitor parquet landings: per micro-batch, write one drift row
    * per group to `$outDir/batch=<id>` (overwrite — replay
    * idempotent) — the ledger a pipeline dashboard tails. */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      groupCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LedgerStream.maintain(spark.readStream.schema(schema).parquet(landingDir),
        outDir, checkpointDir, trigger)(
      batchDrift(spark, storePath, _, groupCol))
}
