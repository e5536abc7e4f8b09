package graft.transform

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The nested-JSON clinical pipeline (SURVEY §3 E3, the reference's
  * hardest dataflow): GDC cases JSON → flat per-sample clinicalMatrix.
  *
  * Re-expresses `gdc.get_samples_clinical` (`gdc.py:462-612`) +
  * `GDCPhenoset.transform` (`xena_dataset.py:1378-1415`) as one scan
  * → project → `explode(samples)`: every aggregate the reference
  * computes by exploding a repeated field and re-joining on case id is
  * a per-row higher-order function over the case's own arrays
  * (Dremel-style within-record aggregation), so the plan has no
  * shuffle, broadcast or join:
  *  - multi-value cells (`format_multiple_data`, `gdc.py:156-173`):
  *    values null-filled to '', sorted, '; '-joined; singleton lists
  *    collapse to the scalar; all-empty lists render '' (A1/A2/P18);
  *    a null or empty array gives null (the case has no such rows)
  *  - `diagnoses.pathology_details` / `diagnoses.treatments` flattened
  *    across the case's diagnoses (V4/S5)
  *  - derived `age_at_earliest_diagnosis[_in_years]` = min over the
  *    case's ages with lenient parsing (P13: `try_cast`, unparseable
  *    ages ignored; a case with no parseable age gets null)
  *  - samples explode fanning case rows out to sample rows (J2);
  *    cases without samples drop out
  *  - drop of GDC bookkeeping fields (P4, `gdc.py:102-154`)
  *  - reverse-dotted column rename (P3, `xena_dataset.py:1397-1402`)
  *
  * Contract: each case `id` is present and occurs once in the input —
  * the GDC `cases` endpoint's key (the case UUID). Under it the matrix
  * equals the reference's group-by-id-and-join formulation row for row.
  *
  * Schema note: arrays are declared explicitly (ArrayType everywhere)
  * rather than inferred — the reference burns ~60 LoC renormalizing
  * scalar-vs-array instability (`utils.py:164-184`, `gdc.py:522-540`);
  * a declared permissive schema makes that a non-problem (SURVEY §7
  * risk 3).
  */
object Clinical {

  val casesSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("submitter_id", StringType),
    StructField("disease_type", StringType),
    StructField("state", StringType),
    StructField("created_datetime", StringType),
    StructField("project", StructType(Seq(
      StructField("project_id", StringType)))),
    StructField("demographic", StructType(Seq(
      StructField("gender", StringType),
      StructField("vital_status", StringType),
      StructField("year_of_birth", LongType)))),
    StructField("annotations", ArrayType(StructType(Seq(
      StructField("category", StringType),
      StructField("classification", StringType))))),
    StructField("diagnoses", ArrayType(StructType(Seq(
      StructField("age_at_diagnosis", StringType),
      StructField("tumor_grade", StringType),
      StructField("treatments", ArrayType(StructType(Seq(
        StructField("therapeutic_agents", StringType),
        StructField("treatment_type", StringType))))),
      StructField("pathology_details", ArrayType(StructType(Seq(
        StructField("lymph_nodes_tested", StringType))))))))),
    StructField("samples", ArrayType(StructType(Seq(
      StructField("submitter_id", StringType),
      StructField("sample_type", StringType),
      StructField("tissue_type", StringType)))))))

  /** GDC bookkeeping fields dropped from the final matrix
    * (`gdc.py:102-154` GDC_DROPPED_FIELDS — subset present in this
    * schema). */
  val droppedFields: Seq[String] = Seq("state", "created_datetime")

  /** `format_multiple_data` over one case's array of structs:
    * canonical multi-value rendering of `field`; null when the array
    * is null or empty. */
  private def formatMulti(arr: Column, field: String): Column = {
    val sorted = array_sort(transform(arr, e => coalesce(e.getField(field).cast("string"), lit(""))))
    when(size(arr) > 0,
      when(forall(sorted, v => v === ""), lit("")).otherwise(array_join(sorted, "; ")))
  }

  /** Reverse dotted column names: `a.b.c` -> `c.b.a` (P3). */
  def reverseDotted(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.split('.').reverse.mkString(".")): _*)

  def clinicalMatrix(spark: SparkSession, casesJson: String): DataFrame = {
    val cases = spark.read.schema(casesSchema).json(casesJson)
    val annotations = col("annotations")
    val diagnoses = col("diagnoses")
    // A nested array across all of the case's diagnoses.
    def perDiagnosis(field: String): Column =
      flatten(transform(diagnoses, d => coalesce(d.getField(field), array())))
    val minAge = array_min(transform(diagnoses, d => d.getField("age_at_diagnosis").try_cast("double")))

    val perCase = cases.select(
      col("id"),
      col("submitter_id"),
      col("disease_type"),
      col("state"),
      col("created_datetime"),
      col("project.project_id").as("project.project_id"),
      col("demographic.gender").as("demographic.gender"),
      col("demographic.vital_status").as("demographic.vital_status"),
      col("demographic.year_of_birth").as("demographic.year_of_birth"),
      formatMulti(annotations, "category").as("annotations.category"),
      formatMulti(annotations, "classification").as("annotations.classification"),
      formatMulti(diagnoses, "age_at_diagnosis").as("diagnoses.age_at_diagnosis"),
      formatMulti(diagnoses, "tumor_grade").as("diagnoses.tumor_grade"),
      round(minAge, 6).as("xena_derived.diagnoses.age_at_earliest_diagnosis"),
      round(minAge / 365.0, 6).as("xena_derived.diagnoses.age_at_earliest_diagnosis_in_years"),
      formatMulti(perDiagnosis("pathology_details"), "lymph_nodes_tested")
        .as("diagnoses.pathology_details.lymph_nodes_tested"),
      formatMulti(perDiagnosis("treatments"), "therapeutic_agents")
        .as("diagnoses.treatments.therapeutic_agents"),
      formatMulti(perDiagnosis("treatments"), "treatment_type")
        .as("diagnoses.treatments.treatment_type"),
      explode(col("samples")).as("s"))

    val caseCols = perCase.columns.filter(_ != "s").map(c => col(s"`$c`"))
    val rows = perCase.select(caseCols.toSeq ++ Seq(
      col("s.submitter_id").as("samples.submitter_id"),
      col("s.sample_type").as("samples.sample_type"),
      col("s.tissue_type").as("samples.tissue_type")): _*)

    val kept = rows.drop(droppedFields: _*)
    reverseDotted(kept)
      .withColumnRenamed("submitter_id.samples", "sample")
  }
}
