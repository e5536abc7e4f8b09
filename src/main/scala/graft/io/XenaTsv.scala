package graft.io

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Xena-matrix TSV I/O.
  *
  * The reference persists every table shape as tab-separated text with
  * the row key in column 0 (`to_csv(sep='\t')`, `xena_dataset.py:685`,
  * `:1591`, `utils.py:128`) and reads them back with header inference,
  * positional column selection and optional leading-row skips
  * (`pd.read_csv(sep='\t', usecols=..., skiprows=...)`,
  * `xena_dataset.py:208-220`).
  *
  * Here TSV is strictly an edge format: parquet/long-form inside the
  * engine, TSV only at ingest/export.
  */
object XenaTsv {

  /** Backtick-quote a column name for resolution: matrix columns may
    * contain dots (survival `OS.time`, every reverse-dotted clinical
    * column), which `df.col` would otherwise parse as nested-field
    * access and fail with UNRESOLVED_COLUMN. */
  private def quoted(n: String): String = "`" + n.replace("`", "``") + "`"

  private val ReadOptions = Map("sep" -> "\t", "header" -> "true", "nullValue" -> "")

  /** Read a TSV directory/file. Explicit schema preferred (no inference
    * pass); nulls are empty fields, matching the reference's NaN→empty
    * rendering.
    */
  def read(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.options(ReadOptions)
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  /** Read a matrix under the schema `schemaOf` gives its header
    * ([[headerNames]], read on the driver), so building the scan starts
    * no Spark job; where `schemaOf` cannot decide (None) or the path
    * has no data line, [[read]]'s two inference jobs run instead.
    */
  def readTyped(
      spark: SparkSession,
      path: String,
      schemaOf: Seq[String] => Option[StructType]): DataFrame =
    read(spark, path, matrixHeader(spark, path).flatMap(schemaOf))

  /** [[headerNames]] under [[read]]'s options: the columns a matrix at
    * `path` reads with. */
  def matrixHeader(spark: SparkSession, path: String): Option[Seq[String]] =
    headerNames(spark, path, ReadOptions)

  /** The data files of `path` (itself, when it is a file), by name;
    * hidden `.` and `_` files, which Spark's file readers skip, are
    * left out. */
  def dataFiles(fs: FileSystem, path: Path): Seq[Path] =
    fs.listStatus(path).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .sortBy(_.getName)

  /** The column names Spark's CSV reader would give `path` under
    * `options`, read on the driver instead of by a probe job: the first
    * data line of the first data file (by name; hidden `.` and `_` files
    * skipped) through the Hadoop FS API, via Spark's own helpers —
    * `readHeaderLine` (codec from `CompressionCodecFactory`, empty and
    * comment lines skipped) and `makeSafeHeader` (`_c<i>` without a
    * header; with one, an empty name becomes `_c<i>` and a duplicate
    * gets its index appended). None when no file has a data line.
    */
  def headerNames(spark: SparkSession, path: String, options: Map[String, String]): Option[Seq[String]] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val opts = new CSVOptions(options, false, conf.sessionLocalTimeZone)
    val p = new Path(path)
    dataFiles(p.getFileSystem(hadoopConf), p).iterator
      .flatMap(f => CSVUtils.readHeaderLine(f, opts, hadoopConf))
      .nextOption()
      .map(line => CSVUtils.makeSafeHeader(
        new CsvParser(opts.asParserSettings).parseLine(line), conf.caseSensitiveAnalysis, opts).toSeq)
  }

  /** Read with positional column projection + rename, the reference's
    * `usecols=[...] , names=[...]` pattern (`xena_dataset.py:208-220`).
    * Column pruning still reaches the CSV scan: the select is a plain
    * projection Catalyst pushes into the reader.
    */
  def readCols(
      spark: SparkSession,
      path: String,
      useCols: Seq[Int],
      names: Seq[String],
      schema: Option[StructType] = None): DataFrame = {
    val df = read(spark, path, schema)
    val picked = useCols.map(i => df.col(quoted(df.columns(i))))
    df.select(picked.zip(names).map { case (c, n) => c.as(n) }: _*)
  }

  /** Read a (possibly gzip) TSV whose banner/comment lines start with a
    * marker character — the real MAF case (`# version ...` banners,
    * reference `xena_dataset.py:114-120` `comment='#'`). Handled
    * natively by the CSV reader, per file, inside the optimized scan
    * path: works on directories of files, keeps column pruning, and
    * adds no extra job.
    */
  def readCommented(
      spark: SparkSession,
      path: String,
      comment: String = "#",
      schema: Option[StructType] = None): DataFrame = {
    val base = spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("nullValue", "")
      .option("comment", comment)
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  /** Read a headered TSV skipping `skip` leading banner lines that have
    * no comment marker (the reference's positional `skiprows`).
    *
    * RESTRICTED TO A SINGLE FILE by design: a distributed text scan has
    * no per-file line index, so a global skip over a directory would
    * strip lines from an arbitrary file-concatenation order (the
    * round-1 bug). For marker-prefixed banners over many files use
    * [[readCommented]] — that is the path that scales.
    */
  def readSkippingLines(
      spark: SparkSession,
      path: String,
      skip: Int,
      schema: Option[StructType] = None): DataFrame = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(p).isFile,
      s"readSkippingLines requires a single file (got $path); " +
        "use readCommented for directories of marker-prefixed files")
    val lines = spark.read.textFile(path)
      .rdd
      .zipWithIndex()
      .filter { case (_, i) => i >= skip }
      .map(_._1)
      .toDS()
    val base = spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("nullValue", "")
    schema match {
      case Some(s) => base.schema(s).csv(lines)
      case None    => base.option("inferSchema", "true").csv(lines)
    }
  }

  /** Write a single-file TSV matrix, row-key column first
    * (`to_csv(sep='\t', encoding='utf-8')`, `xena_dataset.py:685`).
    * The single-file contract of a Xena matrix forces `coalesce(1)` —
    * a deliberate, documented sink property (the upstream plan still
    * executes with full parallelism; only the final write serializes).
    * For engine-internal persistence use parquet instead.
    */
  def write(df: DataFrame, path: String, rowKey: Option[String] = None): Unit = {
    val ordered = rowKey match {
      case Some(k) =>
        val rest = df.columns.filterNot(_ == k)
        df.select((k +: rest.toIndexedSeq).map(n => df.col(quoted(n))): _*)
      case None => df
    }
    ordered
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("sep", "\t")
      .option("header", "true")
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)
  }

  /** The 100-TB write path: range-partitioned headerless TSV shards,
    * globally ordered by the row key. Each executor writes its own
    * shard; shard k's keys all sort before shard k+1's
    * (`repartitionByRange` + intra-partition sort), so the single-file
    * Xena matrix is `header + cat part-*` in filename order — an
    * O(bytes) driver-free concatenation instead of [[write]]'s
    * `coalesce(1)` serialization. Returns the header line callers
    * prepend (column order: row key first, as in [[write]]).
    */
  def writeSharded(
      df: DataFrame,
      path: String,
      rowKey: String,
      shards: Int): String = {
    val rest = df.columns.filterNot(_ == rowKey)
    val ordered = df.select((rowKey +: rest.toIndexedSeq).map(n => df.col(quoted(n))): _*)
    ordered
      .repartitionByRange(shards, col(quoted(rowKey)))
      .sortWithinPartitions(col(quoted(rowKey)))
      .write
      .mode("overwrite")
      .option("sep", "\t")
      .option("header", "false")
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)
    ordered.columns.mkString("\t")
  }
}
