package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k — a broadcast join of the
  * (small) query set against the corpus, one pass, no corpus shuffle.
  * Scale path: LSH-bucketed ANN — deterministic hyperplane signatures
  * restrict each query to one bucket's partition, so the corpus scan
  * drops to ~1/2^bits of the data once bucketed storage is
  * partition-pruned on the signature.
  */
object Similarity {

  /** Largest corpus `cosinePairs(bits = 0)` will accept without
    * `allowExact = true`: 2^16 rows ≈ 2.1e9 candidate pairs — past
    * this the exact path is a scale bug, not a query. */
  val MaxExactPairsRows: Long = 1L << 16

  /** Cosine similarity of two double arrays: sequential dot / (|a| |b|),
    * computed with the custom codegen'd [[graft.functions.DotProduct]]
    * expression — a fused zero-allocation loop inside whole-stage
    * codegen (the HOF formulation allocates an intermediate array per
    * row and evaluates its lambdas interpreted; at all-pairs scale that
    * was ~90% of the query). Identical IEEE result to the sequential
    * HOF fold, so SQL oracles agree bitwise.
    *
    * CONTRACT: embeddings are finite and nonzero-norm (enforce
    * upstream — e.g. drop empty-document vectors at embed time). A
    * zero-norm side yields 0/0 = NaN, and Spark orders NaN ABOVE every
    * number: one zero vector would pass every `>= threshold` filter
    * and displace a true neighbor at rank 1 of every top-k. The
    * arithmetic is deliberately NOT null-guarded here — the oracles
    * transcribe the raw expression, and hiding a contract violation
    * would silently skew results instead of making it visible.
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VectorFunctions.dot
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The shared top-k tail of every ANN query: rank scored
    * (query_id, neighbor_id, cos) rows per query by (cos desc,
    * neighbor_id) — the deterministic tie-break — keep k, round to
    * the 6dp oracle convention. ONE definition: the in-memory and
    * persisted-index paths must rank identically or their equality
    * contracts drift.
    */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** The per-table probe set of a query vector: its own signature plus
    * every Hamming-1 flip, as (t, probe) structs — shared by the
    * in-memory and persisted-index LSH paths. */
  private def lshProbeArray(vec: Column, dim: Int, bits: Int, tables: Int): Column =
    array((for {
      t <- 0 until tables
      sig0 = lshSignature(vec, dim, bits, t)
      flip <- -1 until bits
    } yield struct(
      lit(t).as("t"),
      (if (flip < 0) sig0 else sig0.bitwiseXOR(lit(1L << flip))).as("probe"))): _*)

  /** Exact brute-force top-k cosine neighbors for each query vector.
    *
    * `queries` is expected to be small (it is broadcast): the corpus is
    * scanned once, never shuffled in full — only (query_id, k) rows
    * survive into the window. Ties broken by neighbor id for
    * determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val scored = graft.ops.Parallelism.ensure(corpus)
      .join(broadcast(queries), col(idCol) =!= col(queryIdCol))
      .select(
        col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(asDouble(col(vecCol)), asDouble(col(queryVecCol))).as("cos"))
    topKByCos(scored, k)
  }

  /** kNN label propagation: classify each query vector by majority
    * vote among its `k` nearest labeled neighbors (cosine), the
    * label-spreading step a curation pipeline uses to extend a small
    * trusted annotation set (quality tiers, topic tags) across an
    * unlabeled corpus.
    *
    * Same plan shape as [[bruteForceTopK]] — the labeled seed set is
    * scanned once against broadcast queries, only (query, k) rows
    * survive into the vote — so the scale path is identical: swap the
    * scored CTE for an ANN candidate set ([[lshTopK]]/[[ivfTopK]])
    * when the seed pool is too large to scan per query batch.
    * Deterministic end to end: ranking ties break on neighbor id,
    * vote ties on the smaller label; the output is integer-only (no
    * float column survives to the result).
    */
  def knnClassify(
      seeds: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val scored = graft.ops.Parallelism.ensure(seeds)
      .join(broadcast(queries), col(idCol) =!= col(queryIdCol))
      .select(
        col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        col(labelCol).as("label"),
        cosine(asDouble(col(vecCol)), asDouble(col(queryVecCol))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val votes = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes
      .withColumn("r", row_number().over(vw))
      .filter(col("r") === 1)
      .select(col("query_id"), col("label").as("predicted_label"), col("n_votes"))
  }

  /** Hard-negative mining for contrastive embedding training: for
    * each labeled anchor, the `k` most cosine-similar corpus vectors
    * with a DIFFERENT label — the near-miss examples a contrastive
    * loss learns the most from (easy negatives are already far away;
    * same-label neighbors are positives, not negatives).
    *
    * Same plan shape as [[knnClassify]]: anchors broadcast against
    * one labeled-corpus scan (the brute-force reference path; at
    * cluster scale swap the candidate generator for an ANN probe and
    * keep the label-inequality filter + rank cut). Rank ties break to
    * the smaller negative id; the cosine is exposed rounded, ranked
    * unrounded (both engines compute the sequential dot product
    * bit-identically — the q22/q83 contract).
    *
    * Output: (anchor_id, negative_id, negative_label, rank, cosine).
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      anchorIdCol: String,
      anchorVecCol: String,
      anchorLabelCol: String,
      k: Int): DataFrame = {
    val scored = graft.ops.Parallelism.ensure(corpus)
      .join(broadcast(anchors),
        col(idCol) =!= col(anchorIdCol) && col(labelCol) =!= col(anchorLabelCol))
      .select(
        col(anchorIdCol).as("anchor_id"),
        col(idCol).as("negative_id"),
        col(labelCol).as("negative_label"),
        cosine(asDouble(col(vecCol)), asDouble(col(anchorVecCol))).as("cos"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("negative_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("negative_id"), col("negative_label"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cosine"))
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · plane_i).
    *
    * One native codegen'd plan node ([[graft.functions.HyperplaneSignature]])
    * with the `bits × dim` plane matrix held as a reference object —
    * plan size is O(1) in dim and bits (the earlier HOF form carried a
    * plane literal per signature occurrence: q25's probe side alone
    * embeds 28 signatures, ~11k literal nodes at 6 × 64, stalling
    * analysis + codegen), and the per-row dots run as a fused primitive
    * loop instead of interpreted lambdas. Bit-equal to
    * `ParityOracles.lshSignatureHof` (property-tested in ExpressionParitySpec).
    */
  def lshSignature(vec: Column, dim: Int, bits: Int, table: Int = 0): Column =
    graft.functions.HyperplaneSignature(asDouble(vec), dim, bits, table)

  /** ANN top-k via multi-table hyperplane LSH: `tables` independent
    * signature tables (each its own deterministic plane matrix);
    * candidates = corpus vectors sharing the query's bucket in ANY
    * table (plus buckets at Hamming distance 1 per table, for recall),
    * ranked by exact cosine within the candidate set.
    *
    * A single table's recall decays like p^bits (p = 1 - θ/π per
    * hyperplane), which is useless for genuinely near-but-not-identical
    * neighbors — the standard fix is L independent tables whose probe
    * sets union: recall 1-(1-r)^L for per-table recall r, at L× the
    * index size. Measured on the 64-dim test embeddings: 1 table ×
    * 8 bits = 0.075 recall@5; 4 tables × 6 bits ≈ 0.8.
    *
    * At scale the corpus index is written partitioned by (table, sig),
    * so a query touches `tables × (bits+1)` partitions instead of the
    * full corpus — partition pruning does the work a vector index
    * would. The corpus-side fan-out is `tables` rows per vector (the
    * index), never a shuffle of the raw corpus.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      dim: Int,
      bits: Int,
      k: Int,
      tables: Int = 4): DataFrame = {
    // Corpus index: one (table, sig) entry per vector per table — a
    // single explode, all `tables` signatures computed in one pass.
    val sigCorpus = graft.ops.Parallelism.ensure(corpus)
      .select(col("*"), explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), lshSignature(col(vecCol), dim, bits, t).as("sig"))): _*)).as("ts"))
      .select(col("*"), col("ts.t").as("t"), col("ts.sig").as("sig"))
      .drop("ts")
    // Probe buckets per table: the query's own signature and all
    // Hamming-1 flips.
    val probeSigs = queries
      .select(col("*"),
        explode(lshProbeArray(col(queryVecCol), dim, bits, tables)).as("tp"))
      .select(col("*"), col("tp.t").as("t"), col("tp.probe").as("probe"))
      .drop("tp")
    val scored = sigCorpus
      .join(broadcast(probeSigs),
        sigCorpus("t") === probeSigs("t") && col("sig") === col("probe") &&
          col(idCol) =!= col(queryIdCol))
      .select(
        col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(asDouble(col(vecCol)), asDouble(col(queryVecCol))).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    topKByCos(scored, k)
  }

  /** Quantize a double vector onto a fixed-point integer grid after
    * L2-normalizing it: `floor(x / |v| * scale + 0.5)` per component.
    * Normalizing first makes integer squared-L2 a monotone proxy for
    * angular (cosine) distance — the quantity the IVF re-rank actually
    * optimizes — so cells follow direction, not magnitude. Every step
    * (dot, sqrt, divide, multiply, add, floor) is an exact-rounded IEEE
    * double op, so any engine computing the same expression over the
    * same input produces bit-identical longs — the foundation of the
    * deterministic quantizer below (no round() half-way-case divergence
    * between engines).
    */
  private[graft] def quantizeVec(vec: Column, scale: Long): Column = quantize(vec, scale)

  private def quantize(vec: Column, scale: Long): Column = {
    import graft.functions.VectorFunctions.dot
    val v = asDouble(vec)
    val norm = sqrt(dot(v, v))
    transform(v, x => floor(x / norm * scale + lit(0.5)).cast("long"))
  }

  /** Deterministic Lloyd k-means over the fixed-point grid.
    *
    * Every arithmetic step is exact integer math, so the resulting
    * centroids are reproducible across runs, partitionings, cluster
    * sizes AND engines (a DuckDB SQL transcription produces the same
    * cells — which is what lets the pruned IVF path carry a full value
    * oracle instead of a rows-only check):
    *
    *  - init: the `nlist` vectors with the smallest
    *    `md5("ivf_" || id)` — a deterministic pseudo-random sample
    *    (`TakeOrderedAndProject`, no full sort);
    *  - assignment: integer squared-L2 argmin, ties to the lower cell;
    *  - update: per-cell per-dim integer mean, rounded half away from
    *    zero in pure integer arithmetic (`(2s ± n) / 2n` truncated);
    *    empty cells keep their previous centroid.
    *
    * Distributed shape per iteration: one narrow assignment pass over
    * the quantized corpus, `posexplode` to (cell, dim) with map-side
    * partial aggregation, and a `nlist × dim`-row collect to the
    * driver — the standard Lloyd-on-Spark layout (MLlib's KMeans does
    * the same collect; centroids are tiny by construction).
    */
  def kmeansCellsDeterministic(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      iters: Int): Seq[Seq[Long]] = {
    // Round half away from zero without leaving exact integer
    // arithmetic. BigInt, not long, for the doubled numerator: a cell
    // sum |s| near 2^62 would overflow 2*s and silently wrap. BigInt
    // `/` truncates toward zero, same as Java long division and the
    // oracle's HUGEINT `//`-on-absolute-values form, so centroids stay
    // bit-equal across engines at any magnitude.
    def roundDiv(s: Long, n: Long): Long =
      ((BigInt(s) * 2 + (if (s >= 0) n else -n)) / (BigInt(n) * 2)).toLong
    // (Spherical re-projection of centroids was tried and measured
    // WORSE here: the inputs are unit-norm, so plain integer means
    // already point the right way and the re-projection only added
    // grid-rounding noise to every cell boundary.)
    // Init: per-orthant means. ceil(log2 nlist) deterministic md5
    // hyperplanes (the q25 plane construction) bucket every vector by
    // its sign pattern; the initial centroid of cell c is the integer
    // mean of bucket c's quantized vectors. Orthant buckets spread
    // seeds by DIRECTION — the quantity the cosine re-rank cares
    // about — which beats random-vector seeding (measured recall@5 at
    // a 25% scan fraction: 0.775 vs 0.60; ML kmeans|| scored 0.75) and
    // needs no sequential k-means++ scan. Cells whose orthant is empty
    // fall back to the md5-ordered seed vectors.
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(nlist.toLong - 1))
    val bucketed = quantized
      .withColumn("__cell", pmod(lshSignature(col(vecCol), dim, bits), lit(nlist.toLong)))
      .select(col("__cell"), posexplode(col("qv")).as(Seq("pos", "q")))
      .groupBy(col("__cell"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect()
    val seedRows = quantized
      .select(col(idCol), col("qv"))
      .withColumn("__h", md5(concat(lit("ivf_"), col(idCol).cast("string"))))
      .orderBy(col("__h"), col(idCol))
      .limit(nlist)
      .select(col("qv"))
      .collect()
    // An IVF quantizer with fewer vectors than cells is degenerate, and
    // the DuckDB oracle's seed join silently drops the missing cells
    // (diverging from a modulo-wrapped seed list); fail loud instead.
    require(seedRows.length >= nlist,
      s"IVF k-means needs at least nlist=$nlist vectors; corpus has ${seedRows.length}")
    val init = Array.tabulate(nlist) { c =>
      seedRows(c).getSeq[Long](0).toArray
    }
    bucketed.foreach { r =>
      init(r.getLong(0).toInt)(r.getInt(1)) = roundDiv(r.getLong(2), r.getLong(3))
    }
    var centroids: IndexedSeq[IndexedSeq[Long]] =
      init.map(_.toIndexedSeq).toIndexedSeq
    for (_ <- 0 until iters) {
      val stats = quantized
        .withColumn("cell",
          element_at(graft.functions.IvfNearestCells(
            col("qv"), centroids.map(_.toSeq), 1), 1))
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(nlist)(c => centroids(c).toArray)
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = roundDiv(r.getLong(2), r.getLong(3))
      }
      centroids = next.map(_.toIndexedSeq).toIndexedSeq
    }
    centroids.map(_.toSeq)
  }

  /** IVF (inverted-file) ANN top-k: a coarse k-means quantizer assigns
    * every corpus vector to one of `nlist` cells; each query probes its
    * `nprobe` nearest cells and ranks ONLY those cells' vectors by
    * exact cosine.
    *
    * The scale shape: training is `iters` cheap integer-aggregate
    * passes (driver holds just `nlist` centroids), assignment is one
    * narrow pass, and at 100 TB the assigned corpus is written
    * partitioned by `cell` so a query reads `nprobe/nlist` of the data
    * via partition pruning — the same pruning story as the LSH
    * signature path, but data-adaptive, so it holds on clustered
    * embeddings where random hyperplanes are unbalanced. Probe-cell
    * selection is a broadcast of the centroid matrix (one literal, like
    * the LSH planes), never a shuffle of the corpus.
    *
    * The quantizer is [[kmeansCellsDeterministic]] — fully reproducible
    * integer Lloyd — so although the PRUNED search is approximate
    * (recall < 1 vs brute force, gated by SimilaritySpec), its output
    * is a pure function of the data and parameters and carries an exact
    * DuckDB value oracle (q45), not just a rows-only check.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      dim: Int,
      k: Int,
      nlist: Int,
      nprobe: Int,
      iters: Int = 2,
      scale: Long = 1000000L): DataFrame = {
    // Quantized corpus is scanned once per Lloyd iteration plus once
    // for the final assignment: checkpoint the (id, vec, qv) projection
    // so each pass re-reads the narrow materialized form, not the
    // source scan.
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), col(vecCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val centroids = kmeansCellsDeterministic(quantized, idCol, vecCol, dim, nlist, iters)
    // The nlist × dim centroid matrix rides inside the native probe
    // expression as one reference object — a single plan node per
    // probe, O(1) plan size in nlist and dim.
    val assigned = quantized
      .withColumn("cell",
        element_at(graft.functions.IvfNearestCells(col("qv"), centroids, 1), 1))
    // Each query's nprobe nearest cells: integer squared-L2 to every
    // centroid, (dist, cell)-ordered, explode.
    val probed = queries
      .withColumn("cell",
        explode(graft.functions.IvfNearestCells(
          quantize(col(queryVecCol), scale), centroids, nprobe)))

    // A corpus vector lives in exactly one cell and a query probes
    // distinct cells, so each (query, neighbor) pair matches at most
    // once — no dedup aggregate needed (unlike the LSH probe join).
    val scored = assigned
      .join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .select(
        col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(asDouble(col(vecCol)), asDouble(col(queryVecCol))).as("cos"))
    topKByCos(scored, k)
  }

  /** Persisted multi-table LSH index: `<path>/vectors` holds one row
    * per (table, signature, vector) — the `tables`-way replicated
    * corpus index — written `partitionBy("t", "sig")` so a probe
    * reads only its bucket directories. Directory count is
    * `tables × 2^bits`; size `bits` so buckets stay directory-sized
    * (6–10 bits; beyond that prefer the IVF index, whose cell count
    * is data-adaptive). `<path>/index.json` carries (dim, bits,
    * tables) — the planes themselves are deterministic functions of
    * those, so they never need storing.
    */
  def writeLshIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      bits: Int,
      path: String,
      tables: Int = 4): Unit = {
    val spark = corpus.sparkSession
    graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), col(vecCol),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), lshSignature(col(vecCol), dim, bits, t).as("sig"))): _*))
          .as("ts"))
      .select(col(idCol), col(vecCol), col("ts.t").as("t"), col("ts.sig").as("sig"))
      // pinned (capped) partition count: keyless repartition
      // AQE-coalesces a small build to ONE task that writes every
      // (t, sig) directory serially (the q141 posting-store lesson);
      // each (t, sig) still hashes to exactly one partition, so the
      // one-file-per-bucket layout is unchanged.
      .repartition(math.min(tables << bits, 1024), col("t"), col("sig"))
      .write.mode("overwrite").partitionBy("t", "sig").parquet(s"$path/vectors")
    // Column names are caller-supplied strings: JSON-quote them, or a
    // quote/backslash in a name writes an index.json the reader can't
    // parse (or silently mis-parses).
    val meta =
      s"""{"dim":$dim,"bits":$bits,"tables":$tables,"idCol":${graft.io.JsonUtil.quote(idCol)},"vecCol":${graft.io.JsonUtil.quote(vecCol)}}"""
    graft.io.StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$path/index.json", meta)
  }

  /** ANN top-k against a persisted LSH index: per-table probe
    * signatures (own bucket + Hamming-1 flips) are computed on the
    * query set, grouped into a per-table `sig IN (...)` disjunction —
    * a static partition predicate, so only `tables × (bits+1)`
    * bucket directories per query batch are listed and read.
    * Identical results to [[lshTopK]] over the corpus the index was
    * built from (deterministic signatures; asserted in
    * SimilaritySpec).
    */
  def lshTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val metaRow = readIndexJson(spark, path)
    val dim = metaRow.getAs[Long]("dim").toInt
    val bits = metaRow.getAs[Long]("bits").toInt
    val tables = metaRow.getAs[Long]("tables").toInt
    val idCol = metaRow.getAs[String]("idCol")
    val vecCol = metaRow.getAs[String]("vecCol")

    // Materialized ONCE (localCheckpoint): the probe frame feeds both
    // the bucket collect and the join — a re-evaluated
    // non-deterministic query source could otherwise probe buckets at
    // join time that the partition filter never admitted, silently
    // dropping neighbors.
    val probes = queries
      .select(col("*"),
        explode(lshProbeArray(col(queryVecCol), dim, bits, tables)).as("tp"))
      .select(col("*"), col("tp.t").as("t"), col("tp.probe").as("probe"))
      .drop("tp")
      .transform(graft.ops.Parallelism.stage)
    // Distinct probed buckets per table — tiny by contract — become a
    // static per-table `sig IN (...)` disjunction on the partition
    // columns: only probed bucket directories are listed/read.
    val probedBuckets: Map[Int, Seq[Long]] = probes
      .select(col("t"), col("probe")).distinct()
      .collect().groupBy(_.getInt(0)).map { case (t, rs) =>
        t -> rs.map(_.getLong(1)).toSeq
      }
    // An empty query set prunes everything (degrade to empty, like
    // the IVF path's empty isin).
    val pruneCond = probedBuckets.map { case (t, sigs) =>
      col("t") === t && col("sig").isin(sigs: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val corpus = spark.read.parquet(s"$path/vectors").filter(pruneCond)
    val scored = corpus
      .join(broadcast(probes),
        corpus("t") === probes("t") && col("sig") === col("probe") &&
          col(idCol) =!= col(queryIdCol))
      .select(
        col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(asDouble(col(vecCol)), asDouble(col(queryVecCol))).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    topKByCos(scored, k)
  }

  /** Embedding-dimension health: per-dimension count, mean, variance
    * and range of the RAW embedding values — the dead/collapsed
    * dimension detector that pairs with [[ivfHealth]]: a dimension
    * with ~zero variance carries no information (wasted index width,
    * a symptom of a truncated or mis-exported embedding run), and a
    * mean far off zero breaks the centered-geometry assumptions most
    * quantizers make.
    *
    * Raw values quantize to a fixed-point grid (floor(x·scale+0.5) —
    * the engine-portable rounding recipe, no normalization since the
    * report is about the raw space), so count/sum/sum-of-squares are
    * exact integer aggregates and the variance is one exact
    * (n·Σx² − (Σx)²)/n² expression evaluated in decimal(38,0) —
    * replayed digit-for-digit in the SQL oracle's HUGEINTs. Sums ride
    * decimals because corpus-sized n × grid² overflows a long.
    *
    * Scale shape: posexplode fans each vector into `dim` rows, but
    * the aggregate keys on the DIMENSION INDEX — a few dozen keys —
    * so hash-agg partials combine map-side and only
    * dims-per-partition rows ever shuffle.
    */
  def embeddingDimStats(corpus: DataFrame, vecCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale > 0L, s"scale must be positive, got $scale")
    val qv = transform(asDouble(col(vecCol)),
      x => floor(x * lit(scale.toDouble) + lit(0.5)).cast("long"))
    corpus
      .select(posexplode(qv).as(Seq("d", "qx")))
      .groupBy("d")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("qx").cast("decimal(38,0)")).as("s"),
        sum((col("qx") * col("qx")).cast("decimal(38,0)")).as("s2"),
        min("qx").as("mn"), max("qx").as("mx"))
      .select(col("d"), col("n_vecs"),
        round(col("s").cast("double") / col("n_vecs").cast("double") /
          lit(scale.toDouble), 6).as("mean"),
        round((col("s2") * col("n_vecs").cast("decimal(38,0)") - col("s") * col("s"))
          .cast("double") /
          (col("n_vecs").cast("double") * col("n_vecs").cast("double") *
            lit(scale.toDouble) * lit(scale.toDouble)), 6).as("variance"),
        round(col("mn").cast("double") / lit(scale.toDouble), 6).as("min_val"),
        round(col("mx").cast("double") / lit(scale.toDouble), 6).as("max_val"))
  }

  /** IVF index health report — the decide-when-to-rebuild pass over
    * the coarse quantizer: per cell, the vector count, its share of
    * the corpus, and the mean squared quantization error (distance
    * from each vector's fixed-point grid form to its centroid, in
    * grid units²). A skewed occupancy column means probe-time
    * partition pruning has stopped paying (hot cells scan like brute
    * force); a rising error mean means the centroids no longer fit
    * the data and the index wants re-training. Empty cells appear
    * with n_vecs 0 — wasted nlist capacity is part of the report.
    *
    * All-integer math under the deterministic quantizer, so the
    * whole report (assignments AND error sums) replays exactly in
    * SQL. Scale shape: one assign pass (centroid matrix broadcast
    * inside the native expression), per-vector error via a
    * `zip_with` against the broadcast centroid table (longs —
    * 64 dims × (2·scale)² stays ≪ 2⁶³), per-cell sums in
    * decimal(38,0) (corpus-sized cell counts × 10¹⁴-scale errors
    * overflow a long), one nlist-sized aggregate.
    */
  def ivfHealth(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      iters: Int = 2,
      scale: Long = 1000000L): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), col(vecCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val centroids = kmeansCellsDeterministic(quantized, idCol, vecCol, dim, nlist, iters)
    val cdf = centroids.zipWithIndex
      .map { case (cv, i) => (i, cv) }.toDF("cell", "cv")
    val perCell = quantized
      .withColumn("cell",
        element_at(graft.functions.IvfNearestCells(col("qv"), centroids, 1), 1))
      .join(broadcast(cdf), Seq("cell"))
      .select(col("cell"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("sq"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sq").cast("decimal(38,0)")).as("sqsum"))
    cellHealthReport(s, perCell, nlist)
  }

  /** Shared tail of the health reports: densify to every cell
    * (empty cells ARE the signal), attach the occupancy fraction and
    * the per-cell mean quantization error. `perCell` is nlist-bounded
    * → broadcast joins. */
  private def cellHealthReport(
      s: org.apache.spark.sql.SparkSession,
      perCell: DataFrame,
      nlist: Int): DataFrame = {
    // Materialized once (nlist-bounded): the total and the densify
    // join both consume perCell, and the two broadcast subtrees don't
    // share plans — without the checkpoint the corpus-sized
    // assign+error pass above ran TWICE per report (measured: the two
    // heaviest stages of q116 were the same scan back to back).
    val pc = graft.ops.Parallelism.stage(perCell)
    val tot = pc.agg(sum("n_vecs").as("n_total"))
    s.range(nlist).select(col("id").cast("int").as("cell"))
      .join(broadcast(pc), Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        round(coalesce(col("n_vecs"), lit(0L)).cast("double") /
          col("n_total").cast("double"), 6).as("frac"),
        when(col("n_vecs") > 0L,
          round(col("sqsum").cast("double") / col("n_vecs").cast("double"), 6))
          .as("mean_sqerr"))
  }

  /** [[ivfHealth]] for a PERSISTED index ([[writeIvfIndex]] layout):
    * per-cell occupancy and mean integer quantization error computed
    * from the STORED assignment against the STORED centroids — no
    * re-training, one scan of `<path>/vectors`. This is the monitor a
    * pipeline runs between rebuilds: as the corpus drifts from the
    * snapshot the quantizer was trained on, occupancy skews (probe
    * pruning stops paying) and the error rises (centroids stop
    * fitting). */
  def ivfHealthIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val meta = readIvfIndexMeta(spark, path)
    val nlist = meta.centroids.size
    val cLit = array(meta.centroids.map(c => array(c.map(lit): _*)): _*)
    val perCell = spark.read.parquet(s"$path/vectors")
      .select(col("cell").cast("int").as("cell"),
        quantizeVec(col(meta.vecCol), meta.scale).as("qv"))
      .select(col("cell"),
        aggregate(zip_with(col("qv"), element_at(cLit, col("cell") + 1),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x).as("sq"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sq").cast("decimal(38,0)")).as("sqsum"))
    cellHealthReport(spark, perCell, nlist)
  }

  /** What [[reindexIfUnhealthy]] measured and decided — the same
    * facts it logs to `<path>/reindex.json`. */
  final case class ReindexDecision(
      occupancyCv: Double,
      meanSqErr: Double,
      rebuilt: Boolean,
      reason: String)

  /** Act on the health report: measure the persisted index
    * ([[ivfHealthIndexed]]) against the caller's thresholds and
    * REBUILD it from its own stored vectors only when breached —
    * otherwise leave it untouched. The decision (both measurements,
    * both thresholds, what was done and why) is logged to
    * `<path>/reindex.json` the way `--residual-auto` records its
    * choice in index.json: the pipeline's audit trail says why an
    * index was or wasn't rebuilt without replaying the measurement.
    *
    * Thresholds: `maxOccupancyCv` bounds the coefficient of variation
    * of per-cell counts over ALL cells, empty included (high CV =
    * skewed cells = probe-time pruning has stopped paying);
    * `maxMeanSqErr` bounds the occupancy-weighted mean quantization
    * error (rising error = centroids no longer fit the corpus).
    *
    * The rebuild re-trains the quantizer on the CURRENT stored
    * vectors and writes a new index beside the old one, which it then
    * replaces whole ([[graft.io.StoreMeta.replaceDir]]): vectors and
    * centroids commit together, and a failed rebuild leaves the old
    * index as it was. Rebuild cost is the [[writeIvfIndex]] build; the
    * no-op path costs one vectors scan.
    */
  def reindexIfUnhealthy(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxOccupancyCv: Double,
      maxMeanSqErr: Double,
      iters: Int = 2): ReindexDecision = {
    // the measurement reads the index a crashed rebuild may have left
    // moved aside
    graft.io.StoreMeta.restoreSwap(spark, path)
    val meta = readIvfIndexMeta(spark, path)
    val nlist = meta.centroids.size
    val Array(occCv, meanErr) = ivfHealthIndexed(spark, path).agg(
      (stddev_pop(col("n_vecs").cast("double")) /
        avg(col("n_vecs").cast("double"))).as("cv"),
      (sum(col("n_vecs").cast("double") * coalesce(col("mean_sqerr"), lit(0.0))) /
        sum(col("n_vecs").cast("double"))).as("err"))
      .head().toSeq.map {
        case null => 0.0
        case d: Double => d
      }.toArray
    val breached =
      (occCv > maxOccupancyCv, meanErr > maxMeanSqErr) match {
        case (true, true) =>
          Some(f"occupancy cv $occCv%.4f > $maxOccupancyCv%.4f and " +
            f"mean sqerr $meanErr%.4f > $maxMeanSqErr%.4f")
        case (true, false) =>
          Some(f"occupancy cv $occCv%.4f > $maxOccupancyCv%.4f")
        case (false, true) =>
          Some(f"mean sqerr $meanErr%.4f > $maxMeanSqErr%.4f")
        case _ => None
      }
    if (breached.isDefined)
      graft.io.StoreMeta.replaceDir(spark, path) { next =>
        writeIvfIndex(spark.read.parquet(s"$path/vectors").select(col(meta.idCol), col(meta.vecCol)),
          meta.idCol, meta.vecCol, meta.dim, nlist, next, iters, meta.scale)
      }
    val decision = ReindexDecision(occCv, meanErr, breached.isDefined,
      breached.getOrElse(
        f"occupancy cv $occCv%.4f <= $maxOccupancyCv%.4f and " +
          f"mean sqerr $meanErr%.4f <= $maxMeanSqErr%.4f"))
    graft.io.StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$path/reindex.json",
      s"""{"occupancy_cv":$occCv,"mean_sqerr":$meanErr,""" +
        s""""max_occupancy_cv":$maxOccupancyCv,"max_mean_sqerr":$maxMeanSqErr,""" +
        s""""rebuilt":${decision.rebuilt},""" +
        s""""reason":${graft.io.JsonUtil.quote(decision.reason)}}""")
    decision
  }

  /** Persisted IVF index layout: `<path>/vectors` is the assigned
    * corpus written `partitionBy("cell")` — the physical layout that
    * turns probe-cell selection into PARTITION PRUNING, the engine's
    * answer to a vector index — and `<path>/index.json` carries the
    * quantizer (centroid matrix + params), small by construction
    * (`nlist × dim` longs).
    *
    * Build is one quantize+assign pass after the Lloyd training; the
    * index is immutable and reproducible (deterministic quantizer), so
    * rebuilding from the same corpus bit-matches.
    */
  def writeIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      path: String,
      iters: Int = 2,
      scale: Long = 1000000L): Unit = {
    val spark = corpus.sparkSession
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), col(vecCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val centroids = kmeansCellsDeterministic(quantized, idCol, vecCol, dim, nlist, iters)
    quantized
      .withColumn("cell",
        element_at(graft.functions.IvfNearestCells(col("qv"), centroids, 1), 1))
      .select(col(idCol), col(vecCol), col("cell"))
      // Cluster rows by cell before the partitioned write: without
      // this every task writes a sliver into every cell directory
      // (tasks × nlist small files); with it each cell is one
      // task's output. The partition count is PINNED to nlist — the
      // keyless form defers to AQE, which coalesces a small build's
      // exchange to one partition and serializes every cell directory
      // through a single writer task (the q141 posting-store lesson).
      // Each cell hashes to one partition either way; nlist is the
      // index's own write-parallelism parameter.
      .repartition(nlist, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    // Index metadata via the Hadoop FS API (path-scheme-agnostic: the
    // same code writes to HDFS/S3A on a cluster).
    val meta = new StringBuilder
    meta ++= s"""{"dim":$dim,"nlist":$nlist,"scale":$scale,"idCol":${graft.io.JsonUtil.quote(idCol)},"vecCol":${graft.io.JsonUtil.quote(vecCol)},"centroids":["""
    meta ++= centroids.map(_.mkString("[", ",", "]")).mkString(",")
    meta ++= "]}"
    graft.io.StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$path/index.json",
      meta.toString)
  }

  /** Self-describing index metadata (`<path>/index.json`). */
  final case class IvfIndexMeta(
      dim: Int,
      scale: Long,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Long]])

  /** Slurp `<path>/index.json` through the Hadoop FS API and parse it
    * with Spark's JSON machinery (no extra deps): one-row frame.
    * Shared by both index families' metadata readers. */
  private def readIndexJson(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.Row = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/index.json"))
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.commons.io.IOUtils.copy(in, buf)
      buf.toString("UTF-8")
    } finally in.close()
    import spark.implicits._
    spark.read.json(Seq(raw).toDS()).head()
  }

  private[graft] def readIvfIndexMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndexMeta = {
    val row = readIndexJson(spark, path)
    IvfIndexMeta(
      dim = row.getAs[Long]("dim").toInt,
      scale = row.getAs[Long]("scale"),
      idCol = row.getAs[String]("idCol"),
      vecCol = row.getAs[String]("vecCol"),
      centroids = row.getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("centroids")
        .map(_.toSeq).toSeq)
  }

  /** ANN top-k against a PERSISTED IVF index: probe cells come from
    * the (driver-held) centroid matrix, and the corpus scan reads ONLY
    * the probed cells' partitions — a static `cell IN (...)` predicate
    * on the partition column, visible as `PartitionFilters` in the
    * plan (asserted in SimilaritySpec). At any corpus size the scan
    * cost is `|distinct probed cells| / nlist` of the data; the probe
    * set stays tiny by contract (queries × nprobe).
    *
    * Results are identical to [[ivfTopK]] run with the same params on
    * the corpus the index was built from (deterministic quantizer —
    * asserted in SimilaritySpec).
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int,
      allowed: Option[DataFrame] = None): DataFrame = {
    val meta = readIvfIndexMeta(spark, path)
    val (idCol, vecCol) = (meta.idCol, meta.vecCol)
    // Materialized ONCE: the probe frame feeds both the cell collect
    // and the broadcast join — a re-evaluated non-deterministic query
    // source could otherwise probe cells at join time that the static
    // partition filter never admitted, silently dropping neighbors
    // (and the quantize + source scan would run twice).
    val probed = queries
      .withColumn("cell",
        explode(graft.functions.IvfNearestCells(
          quantize(col(queryVecCol), meta.scale), meta.centroids, nprobe)))
      .transform(graft.ops.Parallelism.stage)
    // Distinct probed cells — tiny by contract — collected once so the
    // scan carries a STATIC partition predicate (no full-index listing
    // of data files outside the probed cells).
    val cells = probed.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val base = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(cells: _*))
    // Hybrid (filtered) search: `allowed` is the caller's metadata
    // selection as an id set (one column named `idCol`). The semi
    // join lands on the CANDIDATE stage — after partition pruning,
    // before the exact ranking — so the top-k is exact among
    // admissible vectors within the probed cells (the post-filter
    // hybrid-search semantics; an id-keyed co-partitioned semi join,
    // never a scan of unprobed cells).
    val corpus = allowed match {
      case Some(ids) => base.join(ids.select(col(idCol)), Seq(idCol), "left_semi")
      case None => base
    }
    val scored = corpus
      .join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col(queryIdCol))
      .select(
        col(queryIdCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(asDouble(col(vecCol)), asDouble(col(queryVecCol))).as("cos"))
    topKByCos(scored, k)
  }

  /** All pairs with cosine >= threshold (embedding near-dup detection).
    *
    * `bits == 0`: exact full self-join — O(n²), for small corpora and
    * oracle checking only.
    *
    * `bits > 0`: the scale path — pairs are generated only within
    * hyperplane-LSH buckets (each probed at Hamming distance <= 1 for
    * recall), so the join degenerates from one quadratic blow-up to
    * many small per-bucket self-joins. At 100 TB the bucketed table
    * would additionally be written partitioned by `sig` so the
    * self-join is partition-local.
    */
  def cosinePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 0,
      bits: Int = 0,
      allowExact: Boolean = false): DataFrame = {
    val wide = graft.ops.Parallelism.ensure(corpus)
    val paired =
      if (bits == 0) {
        // Guard the quadratic path: without the `allowExact` hatch a
        // corpus beyond `MaxExactPairsRows` refuses to plan n² pairs
        // (2^16 rows already means ~2·10⁹ candidate pairs). The hatch
        // also skips the guard's count job, so a hatched caller's plan
        // is byte-identical to the unguarded original.
        if (!allowExact) {
          val n = wide.count()
          require(n <= MaxExactPairsRows,
            s"cosinePairs(bits = 0) is an exact O(n^2) self-join and the corpus has " +
              s"$n rows (guard cap $MaxExactPairsRows). Use bits > 0 for the " +
              "LSH-bucketed scale path, or pass allowExact = true if n^2 is intended.")
        }
        val a = wide.select(col(idCol).as("id_a"), asDouble(col(vecCol)).as("va"))
        val b = wide.select(col(idCol).as("id_b"), asDouble(col(vecCol)).as("vb"))
        a.join(b, col("id_a") < col("id_b"))
      } else {
        require(dim > 0, "dim is required when bits > 0")
        // Signatures are computed ONCE and materialized; both
        // self-join sides derive from the checkpoint — a per-side
        // computation would re-run the corpus scan and the
        // dim×bits-dot-product signature twice.
        val sigs = wide
          .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
          .withColumn("sig0", lshSignature(col("v"), dim, bits))
          .transform(graft.ops.Parallelism.stage)
        // Bucket each vector by its signature, plus Hamming-1 probe
        // buckets on the id_a side only (probing one side suffices:
        // a pair at signature distance 1 still collides).
        val sigA = sigs
          .select(col("id").as("id_a"), col("v").as("va"),
            explode(array(
              (col("sig0") +: (0 until bits).map(i => col("sig0").bitwiseXOR(lit(1L << i)))): _*))
              .as("bucket"))
        val sigB = sigs
          .select(col("id").as("id_b"), col("v").as("vb"), col("sig0").as("bucket"))
        sigA.join(sigB, sigA("bucket") === sigB("bucket") && col("id_a") < col("id_b"))
          .select(col("id_a"), col("va"), col("id_b"), col("vb"))
          .dropDuplicates("id_a", "id_b")
      }
    paired
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with the
    * deterministic integer k-means ([[kmeansCellsDeterministic]]),
    * compute pairwise cosines WITHIN each cluster only, and mark as
    * dropped every vector that has a same-cluster neighbor at
    * `cos >= threshold` sitting strictly farther from the centroid
    * (the paper's keep-the-low-centroid-similarity rule — dedup
    * keeps "edge" examples, which carry more training signal than
    * cluster cores), with vector id as the deterministic tiebreak.
    * The rule is a pure pairwise dominance relation — order-free, so
    * the output is a function of the data, not of execution order.
    *
    * Output: one row per corpus vector — (`idCol`, cell,
    * cos_centroid rounded 6dp, kept 0/1).
    *
    * Scale shape — the SemDeDup trick is exactly that the pairwise
    * stage never goes corpus-wide: candidates are Σ|cell|² with
    * |cell| ≈ N/nlist, and nlist grows with the corpus (the paper
    * runs 11k clusters at 10⁸ vectors), so per-cell work stays
    * bounded. Here that is a self-join co-partitioned on `cell` (one
    * exchange per side, no broadcast of the corpus); the centroid
    * matrix rides as a literal (driver-sized by construction) and
    * the dominated-id set is a distinct projection of the join
    * output, rejoined as a skinny anti-side. All cosine arithmetic
    * is the codegen'd [[graft.functions.DotProduct]] kernel; both
    * comparisons (threshold and dominance) happen on 6dp-ROUNDED
    * values so engine/oracle ordering can never disagree in the last
    * ulp.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      threshold: Double,
      iters: Int = 2,
      scale: Long = 1000000L): DataFrame = {
    // One checkpoint feeds k-means training, assignment, and both
    // self-join sides — without it the source scan and quantization
    // re-run per consumer.
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), col(vecCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val centroids = kmeansCellsDeterministic(quantized, idCol, vecCol, dim, nlist, iters)
    val cLit = array(centroids.map(c => array(c.map(v => lit(v.toDouble)): _*)): _*)
    // The double-cast vector and its norm are materialized ONCE here,
    // not inside the pairwise join condition: a join condition gets no
    // codegen subexpression elimination, so the naive
    // `round(cosine(a, b), 6)` form re-ran the float→double cast and
    // both self-norms per CANDIDATE PAIR — measured 13µs/pair (217s at
    // the 10× rehearsal's ~17M within-cell pairs). With norms carried
    // on the row, the per-pair work is one fused DotProduct + one
    // multiply-divide — same IEEE operations in the same order, so
    // results (and the oracle) are bit-identical.
    import graft.functions.VectorFunctions.dot
    val assigned = quantized
      .withColumn("cell",
        element_at(graft.functions.IvfNearestCells(col("qv"), centroids, 1), 1))
      .select(col(idCol), asDouble(col(vecCol)).as("__vd"), col("cell"),
        round(cosine(asDouble(col(vecCol)), element_at(cLit, col("cell") + 1)), 6)
          .as("cos_centroid"))
      .withColumn("__nrm", sqrt(dot(col("__vd"), col("__vd"))))
      .transform(graft.ops.Parallelism.stage)
    val a = assigned.select(col("cell"), col(idCol).as("__id_a"),
      col("__vd").as("__v_a"), col("__nrm").as("__n_a"), col("cos_centroid").as("__cc_a"))
    val b = assigned.select(col("cell"), col(idCol).as("__id_b"),
      col("__vd").as("__v_b"), col("__nrm").as("__n_b"), col("cos_centroid").as("__cc_b"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("__id_a") =!= col("__id_b"))
      .filter(round(dot(col("__v_a"), col("__v_b")) / (col("__n_a") * col("__n_b")), 6)
        >= threshold)
      .filter(col("__cc_a") < col("__cc_b") ||
        (col("__cc_a") === col("__cc_b") && col("__id_a") < col("__id_b")))
      .select(col("__id_b").as(idCol))
      .distinct()
    assigned
      .join(dominated.withColumn("__dropped", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("cos_centroid"),
        when(col("__dropped").isNotNull, lit(0)).otherwise(lit(1)).as("kept"))
  }

  /** Cluster-balanced sampling: assign every vector to a k-means cell
    * with the deterministic integer-Lloyd quantizer (the
    * [[semanticDedup]] / IVF coarse quantizer) and draw `k` per cell
    * with the Efraimidis–Spirakis reservoir
    * ([[graft.ops.Sampling.weightedSample]], uniform weights). This
    * is the diversity-preserving subset selection of the SemDeDup /
    * DataComp curation recipes: a raw uniform sample inherits the
    * corpus's cluster imbalance (the dominant mode swamps the tails),
    * a per-cell quota flattens it.
    *
    * Fully deterministic — integer centroids, md5-uniform draw — so
    * the whole operator, quantizer included, transcribes to a SQL
    * oracle. Output: (`idCol`, cell, rank), rank ∈ [1, k] within the
    * cell.
    *
    * Scale shape (100 TB): the quantizer trains on bounded aggregates
    * (nlist × dim cells); assignment is one codegen'd map pass; the
    * sample is one window keyed by cell whose rank filter pushes down
    * as WindowGroupLimit, so each input partition pre-prunes to its
    * own per-cell top-k before the single exchange.
    */
  def clusterBalancedSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      k: Int,
      iters: Int = 2,
      scale: Long = 1000000L): DataFrame = {
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), col(vecCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage) // feeds k-means training AND assignment
    val centroids = kmeansCellsDeterministic(quantized, idCol, vecCol, dim, nlist, iters)
    val assigned = quantized
      .select(col(idCol),
        element_at(graft.functions.IvfNearestCells(col("qv"), centroids, 1), 1)
          .as("cell"))
    graft.ops.Sampling.weightedSample(assigned, idCol, "cell", lit(1.0), k)
  }

  // -----------------------------------------------------------------
  // Product quantization (PQ) — memory-compressed ANN scan
  // -----------------------------------------------------------------

  /** Deterministic per-subspace Lloyd: the corpus' quantized vectors
    * are split into `m` contiguous `dsub`-dim subvectors and each
    * subspace learns `ksub` integer centroids with the SAME exact-
    * integer update rule as [[kmeansCellsDeterministic]] (seeds are
    * the md5-ordered first `ksub` subvectors per subspace).
    *
    * Scale shape: all `m` subspaces train in ONE aggregate pass per
    * iteration over the exploded (s, subvector) rows — not m separate
    * corpus scans; the driver collect is m·ksub·dsub rows (the
    * codebook itself, tiny by construction). Assignment is a
    * per-subspace `when` chain of the codegen'd
    * [[graft.functions.IvfNearestCells]] kernel — m plan nodes, O(1)
    * in corpus size.
    *
    * Input contract: `quantized` has (`idCol`, `qv` array<long>) —
    * the [[quantize]] grid, like kmeansCellsDeterministic.
    */
  def pqCodebooksDeterministic(
      quantized: DataFrame,
      idCol: String,
      m: Int,
      ksub: Int,
      dsub: Int,
      iters: Int): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    def roundDiv(s: Long, n: Long): Long =
      ((BigInt(s) * 2 + (if (s >= 0) n else -n)) / (BigInt(n) * 2)).toLong
    val sub = quantized
      .select(col(idCol).as("__id"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col("qv"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col("__id"), col("e.s").as("s"), col("e.sv").as("sv"))
      .transform(graft.ops.Parallelism.stage)
    val w = Window.partitionBy(col("s")).orderBy(col("__h"), col("__id"))
    val seedRows = sub
      .withColumn("__h",
        md5(concat(lit("pq_"), col("s").cast("string"), lit("_"), col("__id").cast("string"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ksub)
      .select(col("s"), col("rn"), col("sv"))
      .collect()
    require(seedRows.length == m * ksub,
      s"PQ needs at least ksub=$ksub vectors; got ${seedRows.length} seed rows for m=$m")
    val init = Array.fill(m)(Array.ofDim[Array[Long]](ksub))
    seedRows.foreach(r => init(r.getInt(0))(r.getInt(1) - 1) = r.getSeq[Long](2).toArray)
    var cbs: IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
      init.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq
    for (_ <- 0 until iters) {
      val stats = sub
        .withColumn("cell", subspaceNearest(col("s"), col("sv"), cbs))
        .select(col("s"), col("cell"), posexplode(col("sv")).as(Seq("pos", "q")))
        .groupBy(col("s"), col("cell"), col("pos"))
        .agg(sum(col("q")).as("sum"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(m, ksub)((s, c) => cbs(s)(c).toArray)
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = roundDiv(r.getLong(3), r.getLong(4))
      }
      cbs = next.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq
    }
    cbs
  }

  /** Nearest-centroid cell of subvector `sv` in ITS subspace `s`: a
    * when-chain over the m per-subspace [[graft.functions.IvfNearestCells]]
    * kernels (each carries its codebook as one literal). */
  private def subspaceNearest(
      s: Column, sv: Column, cbs: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): Column =
    (1 until cbs.length).foldLeft(
      element_at(graft.functions.IvfNearestCells(sv, cbs(0).map(_.toSeq), 1), 1)) {
      (acc, i) =>
        when(s === lit(i),
          element_at(graft.functions.IvfNearestCells(sv, cbs(i).map(_.toSeq), 1), 1))
          .otherwise(acc)
    }

  /** PQ code vector (m small ints) of a quantized vector. */
  private def pqCodes(
      qv: Column, cbs: IndexedSeq[IndexedSeq[IndexedSeq[Long]]], dsub: Int): Column =
    array(cbs.zipWithIndex.map { case (cb, s) =>
      element_at(
        graft.functions.IvfNearestCells(slice(qv, s * dsub + 1, dsub), cb.map(_.toSeq), 1), 1)
    }: _*)

  /** PQ ANN top-k by asymmetric distance computation (ADC).
    *
    * The 100 TB story IVF's partition pruning doesn't cover: MEMORY.
    * A dim-64 float corpus is 256 B/vector; its PQ codes are m small
    * ints — byte-packed, the q69 default (m=32, ksub=32) is 32 B per
    * vector, an 8× scan-state compression — so the corpus fits in a
    * fraction of the executors and the ADC scan is a narrow pass that
    * reads no float vectors at all. Each query precomputes its m·ksub
    * table of exact integer subspace dot products ON THE DRIVER
    * (queries are contract-small, the table is m·ksub longs), ships
    * it broadcast, and every corpus vector scores as m table
    * lookups — no per-row float math, no corpus shuffle.
    *
    * Approximate by construction (quantization distortion — recall
    * gated in SimilaritySpec), but a pure function of (data, params):
    * training, encoding and scoring are exact integer arithmetic, so
    * the whole pipeline carries a full DuckDB value oracle (q69),
    * like the IVF path (q45).
    */
  def pqTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      dim: Int,
      m: Int = 32,
      ksub: Int = 32,
      iters: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val cbs = pqCodebooksDeterministic(quantized, idCol, m, ksub, dsub, iters)
    val encoded = quantized.select(col(idCol), pqCodes(col("qv"), cbs, dsub).as("codes"))
    pqAdcRank(encoded, idCol, queries, queryIdCol, queryVecCol, cbs, k, scale)
  }

  /** The shared ADC ranking tail of the in-memory and persisted PQ
    * paths: build each query's m·ksub integer dot table ON THE DRIVER
    * (the SAME quantization arithmetic as [[quantize]] — sequential
    * dot, IEEE sqrt/floor — so grid values agree bitwise with the
    * engine and the oracle), broadcast the tables, and score every
    * encoded corpus row as m table lookups. */
  private def pqAdcRank(
      encoded: DataFrame,
      idCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      cbs: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      k: Int,
      scale: Long): DataFrame = {
    val m = cbs.length
    val ksub = cbs.head.length
    val dsub = cbs.head.head.length
    val spark = encoded.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<double>"))
      .collect()
    val tables = qRows.map { r =>
      val qid = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      var dot = 0.0
      v.foreach(x => dot += x * x)
      val norm = math.sqrt(dot)
      val qq = v.map(x => math.floor(x / norm * scale + 0.5).toLong)
      val dt = Array.ofDim[Long](m * ksub)
      for (s <- 0 until m; c <- 0 until ksub) {
        var acc = 0L
        var j = 0
        while (j < dsub) { acc += qq(s * dsub + j) * cbs(s)(c)(j); j += 1 }
        dt(s * ksub + c) = acc
      }
      (qid, dt.toSeq)
    }.toSeq
    val qdf = tables.toDF("query_id", "dt")
    val scored = encoded
      .crossJoin(broadcast(qdf))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, s) => element_at(col("dt"), s * lit(ksub) + c + lit(1))),
          lit(0L), (acc, x) => acc + x)
          .cast("double") / lit(scale.toDouble * scale.toDouble)).as("cos"))
    topKByCos(scored, k)
  }

  final case class PqIndexMeta(
      scale: Long,
      idCol: String,
      vecCol: String,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]])

  /** Persist a PQ index: `<path>/codes` (one (id, codes) row per
    * corpus vector — the 8×-compressed scan state IS the store; no
    * float vectors are written at all) plus `<path>/index.json` with
    * the codebooks. Searches reopen with [[pqTopKIndexed]].
    */
  def writePqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      path: String,
      m: Int = 32,
      ksub: Int = 32,
      iters: Int = 3,
      scale: Long = 1000000L): Unit = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val dsub = dim / m
    val spark = corpus.sparkSession
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val cbs = pqCodebooksDeterministic(quantized, idCol, m, ksub, dsub, iters)
    quantized.select(col(idCol), pqCodes(col("qv"), cbs, dsub).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    val meta = new StringBuilder
    meta ++= s"""{"scale":$scale,"idCol":${graft.io.JsonUtil.quote(idCol)},"""
    meta ++= s""""vecCol":${graft.io.JsonUtil.quote(vecCol)},"codebooks":["""
    meta ++= cbs.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")).mkString(",")
    meta ++= "]}"
    graft.io.StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$path/index.json",
      meta.toString)
  }

  private[graft] def readPqIndexMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): PqIndexMeta = {
    val row = readIndexJson(spark, path)
    PqIndexMeta(
      scale = row.getAs[Long]("scale"),
      idCol = row.getAs[String]("idCol"),
      vecCol = row.getAs[String]("vecCol"),
      codebooks = row
        .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Long]]]]("codebooks")
        .map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
  }

  /** ANN top-k against a PERSISTED PQ index: the scan reads the codes
    * store only (m small ints per vector — never the original
    * floats), the codebooks travel from `index.json` to the driver's
    * dot tables, and results are identical to [[pqTopK]] run with the
    * same params on the corpus the index was built from (asserted in
    * SimilaritySpec). */
  def pqTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val meta = readPqIndexMeta(spark, path)
    pqAdcRank(spark.read.parquet(s"$path/codes"), meta.idCol,
      queries, queryIdCol, queryVecCol, meta.codebooks, k, meta.scale)
  }

  // -----------------------------------------------------------------
  // IVF-PQ — both halves of the 100 TB ANN story in one index
  // -----------------------------------------------------------------

  /** Driver-side twin of [[quantize]] — same IEEE ops, same bits. */
  private def quantizeDriver(v: Array[Double], scale: Long): Array[Long] = {
    var dot = 0.0
    v.foreach(x => dot += x * x)
    val norm = math.sqrt(dot)
    v.map(x => math.floor(x / norm * scale + 0.5).toLong)
  }

  /** Driver-side twin of the [[graft.functions.IvfNearestCells]]
    * ordering: cells by (integer squared-L2, cell index) ascending. */
  private def nearestCellsDriver(qq: Array[Long], centroids: Seq[Seq[Long]], n: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0L
      var j = 0
      while (j < qq.length) { val t = qq(j) - c(j); d += t * t; j += 1 }
      (d, i)
    }.sorted.take(n).map(_._2)

  final case class IvfPqIndexMeta(
      scale: Long,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Long]],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      /** Codebooks trained on (and codes encoding) the RESIDUAL from
        * the assigned coarse centroid, not the raw vector — the faiss
        * IVFPQ refinement. On a CLUSTERED corpus residuals span a much
        * smaller ball than the raw vectors, so the same m·ksub budget
        * quantizes finer (SimilaritySpec's planted-cluster row: ~1.0
        * vs degraded raw-code recall). Default OFF: on the near-uniform
        * synthetic bench embeddings, residuals are as incompressible
        * as the raw vectors and measured recall was strictly worse
        * (full-probe 0.75 vs 0.80, pruned 0.60 vs 0.725). */
      residual: Boolean = false,
      /** The measured residual-norm ratio when the index was built
        * with `residualAuto` — absent on explicit-mode builds. */
      residualGain: Option[Double] = None)

  /** What [[writeIvfPqIndex]] decided (same facts it recorded in
    * index.json) — so callers report the choice without re-reading
    * and re-parsing the full centroid/codebook JSON. */
  final case class IvfPqBuildResult(residual: Boolean, residualGain: Option[Double])

  /** Exact-integer residual of a quantized vector from its cell's
    * centroid — what residual codebooks train on and codes encode. */
  private def residualOf(qv: Column, cell: Column, centroids: Seq[Seq[Long]]): Column = {
    val cLit = array(centroids.map(c => array(c.map(lit): _*)): _*)
    zip_with(qv, element_at(cLit, cell + 1), (a, b) => a - b)
  }

  /** L2 norm of an integer-quantized vector. Squares stay in long:
    * scale=1e6 entries square to 1e12, ×64 dims = 6.4e13 << 2^63. */
  private def quantNorm(v: Column): Column =
    sqrt(aggregate(v, lit(0L), (acc, x) => acc + x * x).cast("double"))

  /** Quantization-gain estimate that drives `residualAuto`: the ratio
    * of mean residual norm to mean vector norm under the trained
    * coarse quantizer. Residual codebooks win exactly when residuals
    * span a smaller ball than the corpus (clustered data: the r7
    * measurement was recall 0.775 vs 0.60 pruned), and lose when they
    * don't (near-uniform data: 0.60 vs 0.725 — residuals as
    * incompressible as the vectors, but the ADC score now stacks two
    * quantizers' error). One bounded narrow agg (2 doubles to the
    * driver) over the already-checkpointed quantized corpus. */
  private[graft] def residualGainOf(
      quantized: DataFrame, cellCol: Column, centroids: Seq[Seq[Long]]): Double = {
    val r = quantized
      .select(quantNorm(residualOf(col("qv"), cellCol, centroids)).as("rn"),
        quantNorm(col("qv")).as("vn"))
      .agg(avg("rn"), avg("vn")).collect()(0)
    r.getDouble(0) / r.getDouble(1)
  }

  /** `residualAuto` picks residual codes when the mean residual ball
    * is under this fraction of the mean vector norm. Measured anchors
    * (SimilaritySpec): 0.592 on the planted-cluster corpus (24
    * centers, 0.08 jitter — where residual recall wins) vs 0.932 on
    * the near-uniform synthetic embeddings (where it loses) — 0.75
    * sits between them with >0.15 margin on both sides. */
  private[graft] val ResidualAutoThreshold = 0.75

  /** Persist an IVF-PQ index: the coarse quantizer prunes I/O (codes
    * partitioned by cell, like [[writeIvfIndex]]) and the codes
    * compress what's read (m small ints per vector, like
    * [[writePqIndex]]) — a probe reads `nprobe/nlist` of an
    * already-8×-compressed store, the faiss-IVFPQ layout re-expressed
    * as parquet partitions + a broadcast codebook. Both quantizers
    * are the deterministic integer Lloyd, so searches are pure
    * functions of (data, params).
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      path: String,
      m: Int = 32,
      ksub: Int = 32,
      iters: Int = 2,
      pqIters: Int = 3,
      scale: Long = 1000000L,
      residual: Boolean = false,
      residualAuto: Boolean = false): IvfPqBuildResult = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    // An explicit residual=true alongside residualAuto is a
    // contradiction — auto's measurement would silently discard the
    // explicit request when the corpus measures near-uniform. Refuse
    // rather than guess which the caller meant.
    require(!(residual && residualAuto),
      "residual and residualAuto are mutually exclusive: pass residualAuto alone " +
        "to let the corpus measurement decide, or residual = true to force residual codes")
    val dsub = dim / m
    val spark = corpus.sparkSession
    val quantized = graft.ops.Parallelism.ensure(corpus)
      .select(col(idCol), quantize(col(vecCol), scale).as("qv"))
      .transform(graft.ops.Parallelism.stage)
    val centroids = kmeansCellsDeterministic(quantized, idCol, "qv", dim, nlist, iters)
    // Residual mode (the faiss-IVFPQ refinement): codebooks train on
    // qv - centroid[cell], a far smaller ball than the raw corpus, so
    // the same m·ksub budget quantizes finer; search adds the exact
    // integer query·centroid term back per probed cell.
    val cellCol =
      element_at(graft.functions.IvfNearestCells(col("qv"), centroids, 1), 1)
    // residualAuto: measure instead of asking the caller to know their
    // corpus geometry — residual when the trained quantizer shows real
    // cluster structure, raw otherwise. The estimate and the choice
    // are recorded in index.json so a build is auditable after the
    // fact.
    val gain: Option[Double] =
      if (residualAuto) Some(residualGainOf(quantized, cellCol, centroids)) else None
    val useResidual = gain.map(_ < ResidualAutoThreshold).getOrElse(residual)
    val encCol = if (useResidual) residualOf(col("qv"), cellCol, centroids) else col("qv")
    val cbs = pqCodebooksDeterministic(
      quantized.select(col(idCol), encCol.as("qv")), idCol, m, ksub, dsub, pqIters)
    quantized
      .select(col(idCol), pqCodes(encCol, cbs, dsub).as("codes"), cellCol.as("cell"))
      // pinned to nlist: see writeIvfIndex — keyless repartition
      // AQE-coalesces a small build to one serial writer task
      .repartition(nlist, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    val meta = new StringBuilder
    meta ++= s"""{"scale":$scale,"idCol":${graft.io.JsonUtil.quote(idCol)},"""
    val gainField = gain.map(g =>
      s""""residualGain":${String.format(java.util.Locale.ROOT, "%.6f", Double.box(g))},""")
      .getOrElse("")
    meta ++= s""""vecCol":${graft.io.JsonUtil.quote(vecCol)},$gainField"residual":$useResidual,"centroids":["""
    meta ++= centroids.map(_.mkString("[", ",", "]")).mkString(",")
    meta ++= """],"codebooks":["""
    meta ++= cbs.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")).mkString(",")
    meta ++= "]}"
    graft.io.StoreMeta.writeText(spark.sparkContext.hadoopConfiguration, s"$path/index.json",
      meta.toString)
    IvfPqBuildResult(useResidual, gain)
  }

  private[graft] def readIvfPqIndexMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndexMeta = {
    val row = readIndexJson(spark, path)
    IvfPqIndexMeta(
      scale = row.getAs[Long]("scale"),
      idCol = row.getAs[String]("idCol"),
      vecCol = row.getAs[String]("vecCol"),
      centroids = row.getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("centroids")
        .map(_.toSeq).toSeq,
      codebooks = row
        .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Long]]]]("codebooks")
        .map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq,
      // Pre-residual indexes carry no flag: raw-vector codes.
      residual = row.schema.fieldNames.contains("residual") && row.getAs[Boolean]("residual"),
      // Present only on residualAuto builds: the measured norm ratio
      // behind the recorded choice.
      residualGain =
        if (row.schema.fieldNames.contains("residualGain"))
          Option(row.getAs[java.lang.Double]("residualGain")).map(_.doubleValue)
        else None)
  }

  /** ANN top-k against a PERSISTED IVF-PQ index: each query's probe
    * cells and ADC dot table are computed on the driver (queries are
    * contract-small; the per-query state is nprobe ints + m·ksub
    * longs), the scan carries a static `cell IN (...)` partition
    * filter, and only probed cells' CODES are read and scored by
    * table lookups — pruned I/O of compressed state, no float math,
    * no corpus shuffle.
    */
  def ivfPqTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val meta = readIvfPqIndexMeta(spark, path)
    val cbs = meta.codebooks
    val m = cbs.length
    val ksub = cbs.head.length
    val dsub = cbs.head.head.length
    val qRows = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<double>"))
      .collect()
    val probes = qRows.map { r =>
      val qid = r.getLong(0)
      val qq = quantizeDriver(r.getSeq[Double](1).toArray, meta.scale)
      val cells = nearestCellsDriver(qq, meta.centroids, nprobe)
      val dt = Array.ofDim[Long](m * ksub)
      for (s <- 0 until m; c <- 0 until ksub) {
        var acc = 0L
        var j = 0
        while (j < dsub) { acc += qq(s * dsub + j) * cbs(s)(c)(j); j += 1 }
        dt(s * ksub + c) = acc
      }
      // Residual decomposition: q·x ≈ q·centroid[cell] + q·decode(codes),
      // exact in integer arithmetic up to the residual's own
      // quantization. cdot is the per-(query, cell) first term; 0 for
      // raw-vector indexes.
      val cdots = cells.map { c =>
        if (!meta.residual) 0L
        else {
          var acc = 0L
          var j = 0
          val cent = meta.centroids(c)
          while (j < qq.length) { acc += qq(j) * cent(j); j += 1 }
          acc
        }
      }
      (qid, cells.zip(cdots), dt.toSeq)
    }.toSeq
    val allCells = probes.flatMap(_._2.map(_._1)).distinct
    val qdf = probes
      .flatMap { case (qid, cells, dt) => cells.map { case (c, cd) => (qid, c, cd, dt) } }
      .toDF("query_id", "cell", "cdot", "dt")
    val scored = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(allCells: _*))
      .join(broadcast(qdf), Seq("cell"))
      .filter(col(meta.idCol) =!= col("query_id"))
      .select(col("query_id"), col(meta.idCol).as("neighbor_id"),
        ((col("cdot") + aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, s) => element_at(col("dt"), s * lit(ksub) + c + lit(1))),
          lit(0L), (acc, x) => acc + x))
          .cast("double") / lit(meta.scale.toDouble * meta.scale.toDouble)).as("cos"))
    topKByCos(scored, k)
  }

  /** Maximal-Marginal-Relevance diversified re-rank (Carbonell &
    * Goldstein 1998): greedily select `k` of each query's candidates,
    * each step taking the one maximizing
    *
    *   mmr(d) = λ·rel(d) − (1−λ)·max_{s ∈ picked} cos(d, s)
    *
    * λ=1 is pure relevance (input order); λ→0 is pure diversity. The
    * standard post-retrieval page diversifier: near-duplicate hits of
    * an already-picked result are demoted by their similarity to it.
    *
    * `hits` is a retrieval output (query_id, doc_id, score) — a
    * bounded top-N page per query BY CONTRACT, not a corpus;
    * `embeddings` maps `idCol` to `vecCol`. Output: (query_id,
    * doc_id, rank, mmr) with rank 1..min(k, candidates).
    *
    * Scale shape: the corpus-sized work (scoring, top-N cut) happened
    * upstream; this pass joins the page-bounded hit set to its
    * vectors (one hash join) and runs the genuinely-sequential greedy
    * per query group — O(k·N) cosines over O(N·dim) state — inside
    * `mapGroups`, the documented slot for per-group imperative logic
    * no relational operator expresses (the greedy's step t depends on
    * the argmax of step t−1).
    *
    * Determinism: relevance and pairwise cosines round to 6dp before
    * comparison, argmax ties break to the smaller doc_id, and the
    * candidate scan order is (score desc, doc_id) — engine-stable
    * regardless of partitioning.
    */
  def mmrRerank(
      hits: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambda: Double): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = hits.sparkSession
    import spark.implicits._
    val joined = hits
      .join(embeddings.select(col(idCol).as("doc_id"), asDouble(col(vecCol)).as("__v")),
        Seq("doc_id"))
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        round(col("score").cast("double"), 6).as("score"), col("__v"))
      .as[(Long, Long, Double, Seq[Double])]
    joined
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(c => (-c._3, c._2))
        val n = cand.length
        val vecs = cand.map(_._4.toArray)
        val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
        def cos6(i: Int, j: Int): Double = {
          var d = 0.0; var x = 0
          while (x < vecs(i).length) { d += vecs(i)(x) * vecs(j)(x); x += 1 }
          val den = norms(i) * norms(j)
          val c = if (den == 0.0) 0.0 else d / den
          math.rint(c * 1e6) / 1e6
        }
        val picked = new Array[Int](math.min(k, n))
        val pickedMmr = new Array[Double](picked.length) // mmr at selection time
        val maxSim = Array.fill(n)(0.0) // max cos to any picked item
        val used = new Array[Boolean](n)
        var t = 0
        while (t < picked.length) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!used(i)) {
              val m = lambda * cand(i)._3 - (1.0 - lambda) * (if (t == 0) 0.0 else maxSim(i))
              // strict > : ties keep the earlier candidate in
              // (score desc, doc_id) scan order — the smaller doc_id
              // at equal relevance
              if (m > bestScore) { bestScore = m; best = i }
            }
            i += 1
          }
          picked(t) = best; pickedMmr(t) = math.rint(bestScore * 1e6) / 1e6
          used(best) = true
          var j = 0
          while (j < n) {
            if (!used(j)) {
              val s = cos6(j, best)
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          t += 1
        }
        picked.iterator.zipWithIndex.map { case (i, rank) =>
          (qid, cand(i)._2, (rank + 1).toLong, pickedMmr(rank))
        }
      }
      .toDF("query_id", "doc_id", "rank", "mmr")
  }
}
