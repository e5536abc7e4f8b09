package graft.io

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.StructType

/** Xena-matrix TSV I/O.
  *
  * The reference persists every table shape as tab-separated text with
  * the row key in column 0 (`to_csv(sep='\t')`, `xena_dataset.py:685`,
  * `:1591`, `utils.py:128`) and reads them back with header inference,
  * positional column selection and optional leading-row skips
  * (`pd.read_csv(sep='\t', usecols=..., skiprows=...)`,
  * `xena_dataset.py:208-220`); those raw reads are
  * [[graft.transform.GdcTransforms.readRaw]].
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
}
