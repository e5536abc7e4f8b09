package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation kernel: sliding-window chunking and the
  * distributed-prefix-sum pack assignment (the q61/q63 gate queries,
  * and the per-micro-batch stage of
  * [[graft.streaming.PackStream]] — one codepath batch and stream).
  */
object Packing {

  /** Sliding-window document chunking (window tokens per chunk,
    * `window - stride` token overlap): tokenize once, explode the
    * window-index sequence, slice per window. `slice` clamps at the
    * tail, so the final chunk is short rather than padded and every
    * token lands in at least one chunk. Token-less docs emit no
    * chunks via explode-of-NULL — a `filter(size > 0)` would be
    * pushed below the tokenize projection and re-tokenize every row
    * inside the predicate.
    *
    * Input contract: `(doc_id, text)`. Narrow (zero exchanges).
    */
  def chunk(docs: DataFrame, window: Int = 50, stride: Int = 40): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("nc",
        when(size(col("toks")) <= window, lit(1L))
          .otherwise(ceil((size(col("toks")) - window).cast("double") / stride).cast("long") + 1L))
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) > 0, sequence(lit(0L), col("nc") - 1)))
          .as("chunk_seq"))
      .select(col("doc_id"), col("chunk_seq"),
        slice(col("toks"), (col("chunk_seq") * stride + 1).cast("int"), lit(window)).as("ct"))
      .select(col("doc_id"), col("chunk_seq"),
        size(col("ct")).cast("long").as("n_tokens"),
        array_join(col("ct"), " ").as("chunk"))
  }

  /** Pack assignment in global `(doc_id, chunk_seq)` order, starting
    * the token cumsum at `startOffset` (0 for a whole-corpus batch;
    * the running stream offset for a micro-batch). Returns the
    * assigned frame and the batch's total token count so a caller
    * can advance its offset.
    *
    * The naive formulation is a global-order window cumsum, which
    * Spark plans as a SINGLE partition — a 100 TB scale bug. This is
    * the distributed prefix sum instead: repartitionByRange on the
    * order key (range ids are ascending, so partition order IS global
    * order), per-partition window cumsum, and the per-partition
    * totals — one row per shuffle partition — collect to the driver
    * for the cross-partition offsets, re-joined as a broadcast
    * literal. The result is a pure function of (data, startOffset) —
    * partitioning cannot change any row's cumulative sum.
    *
    * Input contract: `(doc_id, chunk_seq, n_tokens)`.
    */
  /** Shared core of the distributed prefix sum: range-partition `df`
    * on `orderCols` (range ids ascending, so partition order IS
    * global order; localCheckpoint freezes `spark_partition_id` for
    * both consumers), aggregate `valueExpr` per partition, prefix-
    * scan the per-partition totals on the driver (one row per
    * shuffle partition by contract) starting at `start`, and return
    * (ranged frame with a `pid` column, broadcastable (pid, poffset)
    * frame, grand total). */
  private def rangedWithOffsets(
      df: DataFrame,
      orderCols: Seq[String],
      valueExpr: Column,
      start: Long): (DataFrame, DataFrame, Long) = {
    val s = df.sparkSession
    import s.implicits._
    val nparts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df
      .repartitionByRange(nparts, orderCols.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .transform(Parallelism.stage)
    val totals = ranged.groupBy("pid").agg(valueExpr.as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((0, start)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
      .sliding(2).collect { case Array((_, acc), (pid, _)) => (pid, acc) }.toSeq
    val offDf = (if (offsets.isEmpty) Seq((0, start)) else offsets).toDF("pid", "poffset")
    (ranged, offDf, totals.map(_._2).sum)
  }

  def assignWithTotal(
      chunks: DataFrame,
      budget: Long = 512L,
      startOffset: Long = 0L): (DataFrame, Long) = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(startOffset >= 0, s"startOffset must be >= 0, got $startOffset")
    val order = Seq("doc_id", "chunk_seq")
    val (ranged, offDf, total) = rangedWithOffsets(
      chunks.select(col("doc_id"), col("chunk_seq"), col("n_tokens")),
      order, sum("n_tokens"), startOffset)
    val local = Window.partitionBy("pid").orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val assigned = ranged
      .withColumn("local_cum", coalesce(sum("n_tokens").over(local), lit(0L)))
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("cum", col("local_cum") + col("poffset"))
      // Integral DIV, not double division: a corpus-scale cumsum
      // exceeds 2^53 long before 100 TB and double floor would drift.
      .select(col("doc_id"), col("chunk_seq"), col("n_tokens"),
        expr(s"cum DIV ${budget}L").as("pack_id"),
        pmod(col("cum"), lit(budget)).as("pack_offset"))
    (assigned, total)
  }

  def assign(chunks: DataFrame, budget: Long = 512L, startOffset: Long = 0L): DataFrame =
    assignWithTotal(chunks, budget, startOffset)._1

  /** EXCLUSIVE running sum of long column `valueCol` in `orderCols`
    * order, appended as `cum` — the distributed form of
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING TO 1
    * PRECEDING)`, which Spark would otherwise plan as a single
    * partition. Same prefix-sum shape as [[assignWithTotal]];
    * `orderCols` need not be unique — equal keys accumulate in their
    * arbitrary-but-summed order, so the cumsum is only well-defined
    * per distinct key when `valueCol` rides a pre-grouped frame
    * (the intended use: grouped tables like per-score counts).
    */
  def globalCumsum(df: DataFrame, orderCols: Seq[String], valueCol: String): DataFrame = {
    require(orderCols.nonEmpty, "globalCumsum needs at least one order column")
    val reserved = Set("pid", "local_cum", "poffset", "cum")
    require(!df.columns.exists(reserved.contains),
      s"globalCumsum reserves columns ${reserved.mkString(", ")}; " +
        s"rename them in the input (got: ${df.columns.mkString(", ")})")
    val (ranged, offDf, _) = rangedWithOffsets(df, orderCols, sum(valueCol), 0L)
    val local = Window.partitionBy("pid").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("local_cum", coalesce(sum(valueCol).over(local), lit(0L)))
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("cum", col("local_cum") + col("poffset"))
      .drop("pid", "local_cum", "poffset")
  }

  /** 0-based global position of every row in `orderCols` order — the
    * distributed form of a single-partition `row_number` window
    * (which is THE classic Spark scale bug: `Window.orderBy` with no
    * partitionBy funnels the dataset through one task). Same
    * prefix-sum shape as [[assignWithTotal]]: range partition on the
    * order key, per-partition row_number, per-partition row counts
    * collected to the driver (one row per shuffle partition) and
    * rejoined as a broadcast literal. `orderCols` must be a unique
    * key for the position to be well-defined.
    */
  def globalPositions(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "globalPositions needs at least one order column")
    val reserved = Set("pid", "local_rn", "poffset", "pos")
    require(!df.columns.exists(reserved.contains),
      s"globalPositions reserves columns ${reserved.mkString(", ")}; " +
        s"rename them in the input (got: ${df.columns.mkString(", ")})")
    val (ranged, offDf, _) = rangedWithOffsets(df, orderCols, count(lit(1)), 0L)
    ranged
      .withColumn("local_rn",
        row_number().over(
          Window.partitionBy("pid").orderBy(orderCols.map(col): _*)).cast("long") - 1L)
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("pos", col("local_rn") + col("poffset"))
      .drop("pid", "local_rn", "poffset")
  }

  /** Deterministic shard assignment for a SHARDED training export
    * (the dataloader-facing sink shape: N shard files, each
    * internally shuffled, every document in exactly one shard):
    * shard = md5-order-hash mod `nShards` (the q68 `shuf_` key, so
    * shard membership and the within-shard order come from ONE hash
    * — stable across runs, engines and corpus growth), shard_pos =
    * 0-based rank within the shard by (hash, id).
    *
    * Scale shape: one narrow projection + one window partitioned by
    * shard — the per-shard sort is exactly the cost of writing a
    * sorted shard and parallelizes across shards; nothing global,
    * no single-partition window. Size `nShards` to the cluster's
    * write slots (hundreds to thousands at 100 TB).
    *
    * Output: (`idCol`, shard, shard_pos).
    */
  def shardAssignments(docs: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    Parallelism.ensure(docs)
      .select(col(idCol),
        graft.functions.Md5Prefix64(
          concat(lit("shuf_"), col(idCol).cast("string"))).as("__ord"))
      .withColumn("shard", pmod(col("__ord"), lit(nShards.toLong)))
      .withColumn("shard_pos",
        row_number().over(
          Window.partitionBy("shard").orderBy(col("__ord"), col(idCol)))
          .cast("long") - 1L)
      .select(col(idCol), col("shard"), col("shard_pos"))
  }
}
