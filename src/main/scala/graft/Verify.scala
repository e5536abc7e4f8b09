package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Recursive orderability, mirroring Catalyst's TypeUtils: a MapType
    * anywhere inside the type (element, struct field, value) makes the
    * whole column unorderable for orderBy. */
  private[graft] def orderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => false
      case ArrayType(et, _) => orderable(et)
      case StructType(fields) => fields.forall(f => orderable(f.dataType))
      case udt: UserDefinedType[_] => orderable(udt.sqlType)
      case _ => true
    }
  }

  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name prefixes, for
    // fast single-query iteration (the driver always passes two args).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      // Delete any prior run's output FIRST: if this query then fails,
      // a stale parquet must not survive for the DuckDB compare to
      // silently pass last run's data as current.
      val dest = s"$outDir/$name"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dest))
      // NonFatal only — after an OOM/linkage error the session can't
      // be trusted to verify anything.
      // Canonical row order (all orderable columns): output row order
      // must be a function of the data alone, never of partition
      // boundaries or core count, so an order-sensitive downstream
      // hash can't flake. Orderability is recursive — a map ANYWHERE
      // in the type (array<map<...>>, struct with a map field) makes
      // the column unorderable and orderBy throw; skip those too.
      try {
        val df = fn(spark, sfDir)
        val sortable = df.schema.fields
          .filter(f => orderable(f.dataType))
          .map(f => org.apache.spark.sql.functions.col(s"`${f.name}`"))
        val canon = if (sortable.nonEmpty) df.orderBy(sortable.toIndexedSeq: _*) else df
        canon.coalesce(1).write.mode("overwrite").parquet(dest)
      }
      catch { case scala.util.control.NonFatal(e) =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.toString}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.io.JsonUtil.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.reverse.mkString(", "))
      sys.exit(1)
    }
  }
}
