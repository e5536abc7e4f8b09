package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kernel operators of the Xena matrix data model, re-expressed as lazy
  * DataFrame transforms.
  *
  * The reference (ucscXena/xena-GDC-ETL) materializes a *wide* numeric
  * matrix — rows = probes, columns = samples — by appending one column
  * per sample file (`xena_dataset.py:165-243`). At cluster scale the
  * canonical internal representation here is the *long* form
  * `(probe, sample, value)`; the wide shape is produced by a pivot at
  * the sink and consumed back via unpivot at the source. This keeps
  * every intermediate operator a hash-partitioned relational op that
  * Catalyst can prune, push down and shuffle-plan — no driver-side
  * column loops.
  */
object XenaOps {

  /** Long→wide pivot: matrix assembly (reference `xena_dataset.py:204-235`,
    * the incremental `concat(axis=1)` loop).
    *
    * Pass `sampleValues` when known (one metadata pass or an external
    * catalog) — an explicit value list removes Spark's extra
    * distinct-collect job and keeps the pivot a single shuffle. At
    * pan-cancer widths (>10k samples) callers should either raise
    * `spark.sql.pivotMaxValues` or keep data long and pivot per-export.
    */
  def pivotMatrix(
      long: DataFrame,
      rowKey: String,
      sampleCol: String,
      valueCol: String,
      sampleValues: Seq[String] = Nil): DataFrame = {
    val grouped = long.groupBy(col(rowKey))
    val pivoted =
      if (sampleValues.nonEmpty) grouped.pivot(sampleCol, sampleValues)
      else grouped.pivot(sampleCol)
    pivoted.agg(avg(col(valueCol)))
  }

  /** Long→wide pivot at pan-cancer widths (reference
    * `xena_dataset.py:224-230` pandas `concat(axis=1)` and
    * `scripts/join_xena.sh:59-67`, both of which assemble ~11k sample
    * columns without a width limit).
    *
    * Two phases:
    *  1. ONE distinct pass collects the sample universe to the driver —
    *    driver list sized by the OUTPUT schema's column count, which
    *    any wide result carries anyway. The explicit value list makes
    *    each pivot a single shuffle and bypasses
    *    `spark.sql.pivotMaxValues` (that cap guards the *inference*
    *    collect, which this phase replaces).
    *  2. Pivot in bounded column batches of `batchSize`, full-outer
    *    merged on the row key. Batching keeps each aggregate's
    *    expression count (and per-group state) bounded instead of
    *    materializing one 11k-wide PivotFirst; each batch filters
    *    `sampleCol IN (batch)` — pushed to the parquet scan, so with
    *    sample-clustered inputs (the Xena layout: one file per sample)
    *    a batch reads only its own slice and the total pre-merge
    *    shuffle volume across all batches stays ~one full pass
    *    (2 exchanges per batch: Spark plans pivot as a two-level
    *    aggregate — per-(key,sample) pre-agg, then PivotFirst).
    *    The merges cost one more exchange per join after the first: a
    *    full-outer join's output partitioning is unknown to Catalyst
    *    (either side may inject nulls), so the ACCUMULATED matrix
    *    re-shuffles at each subsequent merge — (batches-2) extra
    *    passes over dense-matrix volume. At pan-cancer widths the
    *    batch count is single-digit (11k / 4000 = 3 ⇒ exactly one
    *    extra pass), which is why `batchSize` is a width bound, not a
    *    tuning knob to shrink: plan shape is pinned in PlanShapeSpec
    *    at 3·batches−2 exchanges.
    *
    * ≤`batchSize` samples degrade to the plain single-shuffle
    * [[pivotMatrix]] with explicit values.
    */
  def pivotMatrixWide(
      long: DataFrame,
      rowKey: String,
      sampleCol: String,
      valueCol: String,
      batchSize: Int = 4000,
      values: Option[Seq[String]] = None): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    // Callers with a KNOWN sample universe pass it explicitly: the
    // column set is then a function of the contract, not of which
    // samples happen to appear in this particular input (a sample
    // with no rows still gets its all-null column, and a
    // differently-derived comparison target can't drift on the
    // column list). Absent that, one distinct pass derives it.
    val samples = values.map(_.sorted.toIndexedSeq).getOrElse {
      val sampleRows = long.select(col(sampleCol).cast("string")).distinct().collect()
      // A null sample id cannot name a matrix column — same contract as
      // transposeSmall's key column. Fail loud, not a column named "null".
      require(!sampleRows.exists(_.isNullAt(0)),
        s"pivotMatrixWide: null value in sample column '$sampleCol' cannot name a column")
      sampleRows.map(_.getString(0)).sorted.toIndexedSeq
    }
    if (samples.length <= batchSize)
      pivotMatrix(long, rowKey, sampleCol, valueCol, samples)
    else {
      val slices = samples.grouped(batchSize).toSeq.map { vs =>
        pivotMatrix(
          long.filter(col(sampleCol).cast("string").isin(vs: _*)),
          rowKey, sampleCol, valueCol, vs)
      }
      mergeHorizontal(slices, rowKey)
    }
  }

  /** Wide→long unpivot (melt): inverse of [[pivotMatrix]]; reference
    * re-reads wide matrices for merge/compare (`utils.py:117-125`,
    * `main.py:27-36`). Narrow transform — no shuffle.
    */
  def melt(
      wide: DataFrame,
      rowKey: String,
      sampleCol: String = "sample",
      valueCol: String = "value"): DataFrame = {
    val valueCols = wide.columns.filterNot(_ == rowKey)
    wide.unpivot(
      Array(col(rowKey)),
      valueCols.map(col),
      sampleCol,
      valueCol)
  }

  /** `log2(x + 1)` transform toggled per-dtype in the reference
    * (`xena_dataset.py:240-241`). Codegen'd built-in, stays inside
    * whole-stage codegen.
    */
  def log2p1(c: Column): Column = log2(c + lit(1))

  /** Horizontal matrix merge: N matrices full-outer-joined on the row
    * key (reference `scripts/join_xena.sh:59-67` — coreutils sort-merge
    * full outer join; also pandas `concat(axis=1)` at
    * `utils.py:121-125`). Spark's sort-merge join is the literal engine
    * analog. For repeated merges over the same key, bucketing the
    * inputs by `rowKey` avoids re-shuffling each join.
    */
  def mergeHorizontal(dfs: Seq[DataFrame], rowKey: String): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq(rowKey), "full_outer"))

  /** Vertical merge with column-superset alignment (reference
    * `scripts/union_xena.sh:18-68`: awk computes the header union then
    * fills missing fields with ""). Exact built-in match:
    * `unionByName(allowMissingColumns = true)` — missing columns become
    * nulls, rendered as empty at the TSV sink.
    */
  def mergeVertical(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Keep only rows whose key appears in `keys` (reference
    * `keep_samples` filter, `xena_dataset.py:264-305` build /
    * `:1405-1408` apply). Semi-join; Catalyst broadcasts the key set
    * when small.
    */
  def keepSamples(df: DataFrame, keys: DataFrame, keyCol: String): DataFrame =
    df.join(keys, Seq(keyCol), "left_semi")

  /** Drop rows whose key appears in `keys` (reference `drop_samples`,
    * `xena_dataset.py:1406-1407`, `:1586-1588`). Anti-join.
    */
  def dropSamples(df: DataFrame, keys: DataFrame, keyCol: String): DataFrame =
    df.join(keys, Seq(keyCol), "left_anti")

  /** Canonical matrix equality (reference `xge xena-eql`,
    * `main.py:26-42`: sort both axes, then compare). Implemented as a
    * bidirectional exceptAll — order-insensitive, multiset semantics.
    * Returns true iff both frames hold the same multiset of rows over
    * the same (name-sorted) columns.
    */
  def canonicalEqual(a: DataFrame, b: DataFrame): Boolean = {
    if (a.columns.sorted.toSeq != b.columns.sorted.toSeq) return false
    // Backticked: phenotype columns are dotted (Clinical.reverseDotted),
    // and a bare col("a.b") parses as a struct path, not the column.
    val cols = a.columns.sorted.toIndexedSeq.map(c => col(s"`$c`"))
    val ca = a.select(cols: _*)
    val cb = b.select(cols: _*)
    ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty
  }

  /** Supported download extensions (reference `gdc.py:27-39`
    * `_SUPPORTED_FILE_TYPES`). */
  val SupportedFileTypes: Seq[String] =
    Seq("txt", "vcf", "bam", "tsv", "xml", "maf", "xlsx", "tar", "gz", "md5", "xls")

  /** P17 `get_ext` (reference `gdc.py:337-357`): split the filename on
    * '.', keep everything from the FIRST segment that is a supported
    * extension; if none matches, the last segment alone (the
    * reference's loop leaves `i` at the final index). Pure builtin
    * composition — array lambdas, no UDF.
    */
  def getExt(fileName: Column): Column = {
    val supported = array(SupportedFileTypes.map(lit): _*)
    val parts = split(fileName, "\\.")
    val firstMatch = array_min(filter(
      zip_with(parts, sequence(lit(1), size(parts)), (p, i) =>
        when(array_contains(supported, p), i)),
      v => v.isNotNull))
    val pos = coalesce(firstMatch, size(parts))
    array_join(slice(parts, pos, size(parts) - pos + 1), ".")
  }

  /** J8 sample→case remap (reference `postprocessing.py:41-99`): map a
    * long-shape table's sample ids to case ids via a mapping table,
    * keeping the original id when unmapped, then drop duplicate rows
    * (A5) introduced by the collapse.
    */
  def remapSamples(
      df: DataFrame,
      mapping: DataFrame, // (sampleCol, caseCol)
      sampleCol: String,
      caseCol: String): DataFrame = {
    val remapped = df
      .join(broadcast(mapping), Seq(sampleCol), "left")
      .withColumn(sampleCol, coalesce(col(caseCol), col(sampleCol)))
      .drop(caseCol)
      .select(df.columns.map(col).toIndexedSeq: _*)
    remapped.dropDuplicates()
  }

  /** V3 small transpose (reference `xena_dataset.py:1122`
    * `set_index('name').T`): schema-sized by contract — collects to
    * the driver and rebuilds with former rows as columns. NEVER for
    * data-sized frames; the distributed transpose is melt + pivot.
    */
  def transposeSmall(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val otherCols = df.columns.filterNot(_ == keyCol).toIndexedSeq
    val rows = df.collect()
    // Null cells stay null (pandas `.T` keeps NaN); a null KEY cannot
    // name a column — fail loud with the offending frame shape.
    def str(v: Any): String = if (v == null) null else v.toString
    val keys = rows.map { r =>
      val k = r.getAs[Any](keyCol)
      require(k != null, s"transposeSmall: null value in key column '$keyCol'")
      k.toString
    }.toIndexedSeq
    val out = otherCols.map { c =>
      org.apache.spark.sql.Row.fromSeq(
        c +: rows.toIndexedSeq.map(r => str(r.getAs[Any](c))))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(keyCol, org.apache.spark.sql.types.StringType) +:
        keys.map(k => org.apache.spark.sql.types.StructField(k, org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      schema)
  }
}
