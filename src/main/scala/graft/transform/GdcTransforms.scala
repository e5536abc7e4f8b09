package graft.transform

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.DTypes._
import graft.ops.XenaOps

/** Per-dtype raw-file → Xena-matrix transforms (the `raws2matrix`
  * strategies, SURVEY §2 X1), re-expressed Spark-first.
  *
  * The reference loops file-by-file appending pandas columns
  * (`xena_dataset.py:165-243`); here every dtype is ONE multi-file
  * scan — the sample id is derived from each file's name (S3,
  * `xena_dataset.py:196-198`), replicate averaging is a hash
  * aggregate with map-side combine (A3), and the wide matrix is a
  * single pivot (V1). At 100 TB this is a scan + two shuffles; no
  * driver-side iteration anywhere.
  */
object GdcTransforms {

  /** X1 strategy dispatch: dtype name -> registry -> transform. This
    * is the engine analog of the reference's `raws2matrix` resolution
    * (`xena_dataset.py:1142-1152`).
    *
    * @param sampleValues explicit pivot sample list; defaults to the
    *   dtype directory's file listing (driver-side metadata — avoids a
    *   distinct-collect Spark job before the pivot).
    */
  def transform(
      spark: SparkSession,
      dtype: String,
      dir: String,
      sampleValues: Seq[String] = Seq.empty): DataFrame =
    graft.model.DTypes.registry(dtype).strategy match {
      case s: SampleColumnsMatrix =>
        val samples = if (sampleValues.nonEmpty) sampleValues else listSampleIds(spark, dir)
        sampleColumnsMatrix(spark, dir, s, samples)
      case s: SegmentMatrix => segmentMatrix(spark, dir, s)
      case MafVector        => mafVector(spark, dir)
      case other =>
        throw new IllegalArgumentException(
          s"dtype $dtype uses $other - built by its dedicated pipeline, not raw files")
    }

  /** GDC file-UUID pattern (`xena_dataset.py:60-61,104-105,196-198`). */
  val UuidRe: String =
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"

  /** S3: sample id = file name prefix before `.<uuid>`.
    *
    * Read from the scan's per-file `_metadata.file_name` (a constant of
    * each file, resolved by both the batch and the streaming file
    * source), not from the full `input_file_name()` path, which took a
    * second per-row regex to cut the basename and is nondeterministic
    * to the optimizer. The scan gives the name URL-escaped (`TCGA A1`
    * arrives as `TCGA%20A1`, `%` as `%25`), so the extracted prefix is
    * percent-decoded to the name the file listing
    * ([[listSampleIds]]) sees. `url_decode` is form decoding, which
    * would turn a literal `+` (never escaped in a path) into a space,
    * so `+` is escaped first. The `.<uuid>` boundary is found on the
    * escaped name: escaping never touches `.`, `-` or hex digits, and
    * an escape's `%` is not a hex digit, so the match is the same
    * prefix as on the decoded name.
    */
  def sampleIdFromFile: Column =
    url_decode(replace(
      regexp_extract(col("_metadata.file_name"), s"^(.+?)\\.$UuidRe", 1), lit("+"), lit("%2B")))

  /** CSV reader options of a raw dtype scan — shared by the batch scan,
    * [[rawSchema]] and the streaming twin
    * ([[graft.streaming.MatrixStream.readRawStream]]). With a header,
    * `enforceSchema` off makes the scan check each file's header
    * against [[rawSchema]]'s names, so a file of another layout (or
    * text that is no raw file at all, inside a valid gzip) fails its
    * dataset instead of being read positionally into null cells. */
  private[graft] def rawReadOptions(cfg: RawReadConfig): Map[String, String] =
    Map("sep" -> "\t", "header" -> cfg.header.toString, "inferSchema" -> "false",
      "enforceSchema" -> "false") ++
      cfg.commentPrefix.map("comment" -> _)

  /** The unprojected scan of a dtype directory (all columns, string
    * typed) under the driver-derived [[rawSchema]], so building it
    * starts no Spark job. */
  private[graft] def readRawFull(spark: SparkSession, dir: String, cfg: RawReadConfig): DataFrame =
    spark.read.options(rawReadOptions(cfg)).schema(rawSchema(spark, dir, cfg)).csv(dir)

  /** The all-string schema Spark's CSV header path would infer for a
    * dtype directory, read on the driver instead of by a probe job
    * ([[graft.io.XenaTsv.headerNames]]). Files of one dtype share one
    * layout: the scan checks each file's header against these names
    * ([[rawReadOptions]]), so a header with an empty or repeated name,
    * which these names carry renamed, fails the scan. A directory with
    * no data line fails here, naming the directory.
    */
  def rawSchema(spark: SparkSession, dir: String, cfg: RawReadConfig): StructType = {
    val p = new org.apache.hadoop.fs.Path(dir)
    require(p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p), s"raw directory not found: $dir")
    val names = graft.io.XenaTsv.headerNames(spark, dir, rawReadOptions(cfg)).getOrElse(
      throw new IllegalArgumentException(
        s"no data line in raw directory $dir (empty, or only comment lines or hidden files)"))
    StructType(names.map(StructField(_, StringType)))
  }

  /** S1/S2/P1: registry-driven raw scan. One scan over all files of a
    * dtype directory; positional `usecols` projection; per-line
    * comment filtering (correct across files, unlike row-skipping).
    * All columns come back as strings — callers cast (P8).
    */
  def readRaw(spark: SparkSession, dir: String, cfg: RawReadConfig): DataFrame = {
    val raw = readRawFull(spark, dir, cfg)
    val cols = cfg.usecols.map(i => col(raw.columns(i)))
    raw.select(cols :+ sampleIdFromFile.as("__sample"): _*)
  }

  /** The `merge_sample_cols` family (star/mirna/gene-cnv/methylation/
    * protein): long (id, sample, value) → replicate mean → optional
    * log2(x+1) → wide pivot.
    *
    * The mean uses exact decimal sums (order-independent; identical
    * IEEE doubles in any engine); log2 output is rounded to 6dp, the
    * Xena float-compare convention (`main.py:26-42`).
    *
    * @param sampleValues explicit pivot values: at pan-cancer scale the
    *   sample list is known from the download map, so the pivot needs
    *   no extra distinct-collect job (SURVEY §7 risk 1).
    */
  /** The long-form value stage shared by the batch matrix assembly and
    * the incremental streaming path ([[graft.streaming.MatrixStream]]):
    * projected raw rows → (id, __sample, __value) → sentinel filter →
    * replicate mean (exact decimal sums) → optional log2(x+1) rounded
    * 6dp. Works unchanged on a batch OR streaming `raw` frame — the
    * groupBy becomes a stateful streaming aggregation under
    * `readStream` (one codepath, two execution modes).
    */
  def longMeanValues(raw: DataFrame, strategy: SampleColumnsMatrix): DataFrame = {
    val cfg = strategy.read
    val idC = col(raw.columns(0)).as(cfg.idName)
    val valC = col(raw.columns(1)).cast("double").as("__value")
    val long = raw.select(idC, col("__sample"), valC)
    val filtered =
      if (strategy.removeSentinels.isEmpty) long
      else long.filter(!col(cfg.idName).isin(strategy.removeSentinels: _*))
    val averaged = filtered
      .groupBy(col(cfg.idName), col("__sample"))
      // count(__value), not count(*): the replicate mean skips null
      // cells (pandas `mean` semantics); an all-null group stays null.
      .agg((sum(col("__value").cast("decimal(28,10)")).cast("double") /
        count(col("__value"))).as("__value"))
    if (strategy.log2)
      averaged.withColumn("__value", round(XenaOps.log2p1(col("__value")), 6))
    else averaged
  }

  def sampleColumnsMatrix(
      spark: SparkSession,
      dir: String,
      strategy: SampleColumnsMatrix,
      sampleValues: Seq[String]): DataFrame = {
    val cfg = strategy.read
    val valued = longMeanValues(readRaw(spark, dir, cfg), strategy)
    val wide = XenaOps.pivotMatrix(valued, cfg.idName, "__sample", "__value", sampleValues)
    strategy.fillNa match {
      // 'NA' fill renders at the TSV sink; in the relational result it
      // is a cast to string with null -> literal (gene-level CNV,
      // `xena_dataset.py:238-239`).
      case Some(na) =>
        wide.select(col(cfg.idName) +:
          sampleValues.map(s => coalesce(col(s).cast("string"), lit(na)).as(s)): _*)
      case None => wide
    }
  }

  /** `merge_cnv` (`xena_dataset.py:43-78`): per-sample segment files →
    * one long `sample | Chrom | Start | End | value` table. */
  def segmentMatrix(
      spark: SparkSession, dir: String, strategy: SegmentMatrix): DataFrame = {
    val cfg = RawReadConfig(strategy.usecols, header = true, None, "sample")
    val raw = readRaw(spark, dir, cfg)
    val Seq(chrom, start, end, value) = raw.columns.take(4).toSeq
    raw.select(
      col("__sample").as("sample"),
      col(chrom).as("Chrom"),
      col(start).cast("long").as("Start"),
      col(end).cast("long").as("End"),
      col(value).cast("double").as("value"))
  }

  /** `snv_maf_matrix` (`xena_dataset.py:81-162`): gzip MAF scan with
    * comment lines (S2), 12-column positional projection, dna_vaf =
    * t_alt_count / t_depth (P10), renames (P2), and a no-mutation
    * sentinel row (start = -1) for samples whose MAF has no data rows.
    *
    * The sentinel set is derived from the file listing (driver-side
    * metadata, like Spark's own file index) anti-joined against
    * samples present in the data — the exact semantics of the
    * reference's post-hoc sentinel cleanup, without per-file loops.
    */
  def mafVector(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cfg = RawReadConfig(
      Seq(0, 4, 5, 6, 10, 12, 15, 36, 39, 41, 51, 139),
      header = true, commentPrefix = Some("#"), idName = "sample")
    val raw = readRaw(spark, dir, cfg)
    val data = raw.select(
      col("__sample").as("sample"),
      col("Hugo_Symbol").as("gene"),
      col("Chromosome").as("chrom"),
      col("Start_Position").cast("long").as("start"),
      col("End_Position").cast("long").as("end"),
      col("Reference_Allele").as("ref"),
      col("Tumor_Seq_Allele2").as("alt"),
      col("Tumor_Sample_Barcode"),
      col("HGVSp_Short").as("Amino_Acid_Change"),
      col("Consequence").as("effect"),
      col("callers"),
      (col("t_alt_count").cast("double") / col("t_depth").cast("double")).as("dna_vaf"))

    val allSamples = listSampleIds(spark, dir)
    val sampleDf = allSamples.toDF("sample")
    val missing = sampleDf.join(data.select("sample").distinct(), Seq("sample"), "left_anti")
    val sentinel = missing.select(
      col("sample"),
      lit("").as("gene"), lit("").as("chrom"),
      lit(-1L).as("start"), lit(-1L).as("end"),
      lit("").as("ref"), lit("").as("alt"),
      lit(null).cast("string").as("Tumor_Sample_Barcode"),
      lit("").as("Amino_Acid_Change"), lit("").as("effect"),
      lit(null).cast("string").as("callers"),
      lit(null).cast("double").as("dna_vaf"))
    data.unionByName(sentinel)
  }

  /** A4 per-group conditional value counts (reference
    * `xena_dataset.py:1099-1115`, the duplicated-dtype download
    * pairing): keep groups having >= 1 Tumor AND >= 1 Normal sample,
    * return their Tumor samples. One aggregate + semi-join — the
    * reference's per-file `value_counts` loop collapses into a single
    * conditional-sum groupBy.
    */
  def tumorNormalPairedSamples(
      fileSamples: DataFrame,
      groupCol: String,
      sampleCol: String,
      tissueCol: String): DataFrame = {
    val paired = fileSamples
      .groupBy(col(groupCol))
      .agg(
        sum(when(col(tissueCol) === "Tumor", 1).otherwise(0)).as("n_tumor"),
        sum(when(col(tissueCol) === "Normal", 1).otherwise(0)).as("n_normal"))
      .filter(col("n_tumor") >= 1 && col("n_normal") >= 1)
      .select(col(groupCol))
    fileSamples
      .join(paired, Seq(groupCol), "left_semi")
      .filter(col(tissueCol) === "Tumor")
      .select(col(groupCol), col(sampleCol))
  }

  /** Driver-side listing of sample ids from a raw-file directory —
    * metadata-sized, the same class of operation as Spark's file
    * index. Hadoop FS API, so hdfs://s3a:// directories list the same
    * as local ones (a java.io.File listing silently returns nothing
    * for remote URIs, which dropped every sample column downstream);
    * a missing directory fails loud. The extraction pattern is the
    * SAME `<sample>.<uuid>` regex as the executor-side
    * [[sampleIdFromFile]], on the decoded name that side decodes to —
    * the two must never desynchronize, or sentinel/pivot sample sets
    * diverge from the scanned values.
    */
  def listSampleIds(spark: SparkSession, dir: String): Seq[String] = {
    val sampleRe = s"^(.+?)\\.$UuidRe".r
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"raw directory not found: $dir")
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .flatMap(n => sampleRe.findFirstMatchIn(n).map(_.group(1)))
      .distinct.sorted
  }

  /** GDCSurvivalset.transform (`xena_dataset.py:1535-1593`): survival
    * TSV + case→samples map → `sample | OS | OS.time | _PATIENT`.
    * OS = negated `censored` as 0/1 (P12); case-level rows fan out to
    * sample level by an inner join (J2); cases with no samples drop
    * out of the inner join exactly as in the reference.
    */
  def survivalMatrix(
      spark: SparkSession, survivalTsv: String, caseSamplesJson: String): DataFrame = {
    val surv = spark.read
      .option("sep", "\t").option("header", "true")
      .schema(StructType(Seq(
        StructField("id", StringType),
        StructField("project_id", StringType),
        StructField("survivalEstimate", DoubleType),
        StructField("censored", BooleanType),
        StructField("time", LongType),
        StructField("submitter_id", StringType))))
      .csv(survivalTsv)
      .drop("project_id", "survivalEstimate")
      .select(
        col("id"),
        (!col("censored")).cast("int").as("OS"),
        col("time").as("OS.time"),
        col("submitter_id").as("_PATIENT"))
    val caseSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("samples", ArrayType(StructType(Seq(
        StructField("submitter_id", StringType),
        StructField("sample_type", StringType)))))))
    val samples = spark.read.schema(caseSchema).json(caseSamplesJson)
      .filter(col("samples").isNotNull)
      .select(col("id"), explode(col("samples")).as("s"))
      .select(col("id"), col("s.submitter_id").as("sample"))
    surv.join(samples, Seq("id"), "inner")
      .select(col("sample"), col("OS"), col("`OS.time`"), col("_PATIENT"))
  }
}
