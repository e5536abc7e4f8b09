package graft.model

import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

/** The engine catalog (SURVEY §2 X1/X4): every GDC data type the
  * reference ETL supports, with its GDC query filter, filename prefix
  * field, raw-file reader configuration and transform strategy.
  *
  * Mirrors the behavior of the reference registry
  * (`xena_dataset.py:809-1011`: `_XENA_GDC_DTYPE`, `_GDC_PREFIX`,
  * `_RAWS2MATRIX_FUNCS`) re-expressed as data + strategy objects the
  * Spark transforms dispatch on. No pandas loop semantics are carried
  * over: each strategy is a declarative DataFrame program
  * (graft.transform).
  */
object DTypes {

  /** Xena matrix shapes (`resources/template.*.meta.json` "type"). */
  sealed trait MatrixKind
  object MatrixKind {
    case object GenomicMatrix extends MatrixKind   // wide probe × sample
    case object GenomicSegment extends MatrixKind  // long interval table
    case object MutationVector extends MatrixKind  // long variant table
    case object ClinicalMatrix extends MatrixKind  // row-per-sample pheno
    case object SurvivalMatrix extends MatrixKind  // 4-column survival
  }

  /** Raw per-sample file reader configuration (S1/S2/P1).
    *
    * `usecols` are 0-based positions into the file's column order
    * (`xena_dataset.py` `usecols`); `header=false` files get
    * positional `_c0.._cN` names. `commentPrefix` covers both MAF
    * '#version' lines and the STAR counts first line ('# gene-model:
    * …', the reference's `skiprows=1`) — a per-LINE rule, which unlike
    * row-skipping stays correct in a single multi-file Spark scan.
    */
  final case class RawReadConfig(
      usecols: Seq[Int],
      header: Boolean,
      commentPrefix: Option[String],
      idName: String)

  /** Per-dtype transform strategy (the `raws2matrix` hook, X1). */
  sealed trait TransformStrategy

  /** `merge_sample_cols` family (`xena_dataset.py:165-243`): one value
    * column per sample file keyed by probe id; replicates averaged;
    * optional sentinel-row removal, NA fill and log2(x+1).
    */
  final case class SampleColumnsMatrix(
      read: RawReadConfig,
      removeSentinels: Seq[String] = Seq.empty,
      fillNa: Option[String] = None,
      log2: Boolean = true) extends TransformStrategy

  /** `merge_cnv` (`xena_dataset.py:43-78`): long segment table
    * `sample | Chrom | Start | End | value`; `usecols` select
    * (Chromosome, Start, End, Copy_Number|Segment_Mean).
    */
  final case class SegmentMatrix(usecols: Seq[Int]) extends TransformStrategy

  /** `snv_maf_matrix` (`xena_dataset.py:81-162`): long mutation table
    * with dna_vaf derivation and no-mutation sentinel rows. */
  case object MafVector extends TransformStrategy

  /** API-driven shapes: built by dedicated pipelines, not raw files. */
  case object ClinicalPipeline extends TransformStrategy
  case object SurvivalPipeline extends TransformStrategy

  final case class DTypeConfig(
      name: String,
      kind: MatrixKind,
      /** GDC `/files` filter (S4), field -> required values. */
      gdcFilter: Map[String, String],
      /** Field whose value prefixes downloaded filenames. */
      gdcPrefix: String = "cases.samples.submitter_id",
      strategy: TransformStrategy,
      /** Metadata template key (S11). */
      metadataKind: String)

  import MatrixKind._

  private val starRead =
    RawReadConfig(Seq(0, 3), header = true, commentPrefix = Some("#"), idName = "Ensembl_ID")
  private val starSentinels =
    Seq("N_unmapped", "N_multimapping", "N_noFeature", "N_ambiguous")

  private def star(name: String, valueCol: Int) = DTypeConfig(
    name, GenomicMatrix,
    Map("analysis.workflow_type" -> "STAR - Counts"),
    strategy = SampleColumnsMatrix(
      starRead.copy(usecols = Seq(0, valueCol)), removeSentinels = starSentinels),
    metadataKind = "rna")

  private def segment(name: String, workflow: String, dataType: String, usecols: Seq[Int]) =
    DTypeConfig(
      name, GenomicSegment,
      Map("data_type" -> dataType, "analysis.workflow_type" -> workflow),
      strategy = SegmentMatrix(usecols),
      metadataKind = "cnv")

  private def geneCnv(name: String, workflow: String) = DTypeConfig(
    name, GenomicMatrix,
    Map("data_type" -> "Gene Level Copy Number", "analysis.workflow_type" -> workflow),
    strategy = SampleColumnsMatrix(
      RawReadConfig(Seq(0, 5), header = true, None, "Ensembl_ID"),
      fillNa = Some("NA"), log2 = false),
    metadataKind = "gene-level_cnv")

  private def methylation(name: String, filter: Map[String, String]) = DTypeConfig(
    name, GenomicMatrix, filter,
    strategy = SampleColumnsMatrix(
      RawReadConfig(Seq(0, 1), header = false, None, "Composite Element REF"),
      log2 = false),
    metadataKind = "methylation")

  /** All 22 GDC omic dtypes + clinical + survival (the engine's
    * catalog). */
  val registry: Map[String, DTypeConfig] = Seq(
    star("star_counts", 3),
    star("star_tpm", 6),
    star("star_fpkm", 7),
    star("star_fpkm-uq", 8),
    DTypeConfig(
      "mirna", GenomicMatrix,
      Map("data_type" -> "miRNA Expression Quantification",
        "analysis.workflow_type" -> "BCGSC miRNA Profiling"),
      strategy = SampleColumnsMatrix(
        RawReadConfig(Seq(0, 2), header = true, None, "miRNA_ID")),
      metadataKind = "rna"),
    DTypeConfig(
      "mirna_isoform", GenomicMatrix,
      Map("data_type" -> "Isoform Expression Quantification",
        "analysis.workflow_type" -> "BCGSC miRNA Profiling"),
      strategy = SampleColumnsMatrix(
        RawReadConfig(Seq(1, 3), header = true, None, "isoform_coords")),
      metadataKind = "rna"),
    segment("segment_cnv_ascat-ngs", "AscatNGS", "Copy Number Segment", Seq(1, 2, 3, 4)),
    segment("segment_cnv_DNAcopy", "DNAcopy", "Copy Number Segment", Seq(1, 2, 3, 5)),
    segment("masked_cnv_DNAcopy", "DNAcopy", "Masked Copy Number Segment", Seq(1, 2, 3, 5)),
    segment("allele_cnv_ascat2", "ASCAT2", "Allele-specific Copy Number Segment", Seq(1, 2, 3, 4)),
    segment("allele_cnv_ascat3", "ASCAT3", "Allele-specific Copy Number Segment", Seq(1, 2, 3, 4)),
    geneCnv("gene-level_ascat-ngs", "AscatNGS"),
    geneCnv("gene-level_ascat2", "ASCAT2"),
    geneCnv("gene-level_ascat3", "ASCAT3"),
    geneCnv("gene-level_absolute", "ABSOLUTE LiftOver"),
    DTypeConfig(
      "somaticmutation_wxs", MutationVector,
      Map("data_type" -> "Masked Somatic Mutation",
        "experimental_strategy" -> "WXS",
        "analysis.workflow_type" -> "Aliquot Ensemble Somatic Variant Merging and Masking"),
      strategy = MafVector,
      metadataKind = "snv"),
    DTypeConfig(
      "somaticmutation_targeted", MutationVector,
      Map("data_type" -> "Masked Somatic Mutation",
        "experimental_strategy" -> "Targeted Sequencing",
        "analysis.workflow_type" -> "Aliquot Ensemble Somatic Variant Merging and Masking"),
      strategy = MafVector,
      metadataKind = "snv"),
    methylation("methylation_epic",
      Map("data_type" -> "Methylation Beta Value",
        "analysis.workflow_type" -> "SeSAMe Methylation Beta Estimation",
        "platform" -> "illumina methylation epic")),
    methylation("methylation_epic_v2",
      Map("data_type" -> "Methylation Beta Value",
        "analysis.workflow_type" -> "SeSAMe Methylation Beta Estimation",
        "platform" -> "illumina methylation epic v2")),
    methylation("methylation27",
      Map("data_type" -> "Methylation Beta Value",
        "platform" -> "illumina Human Methylation 27")),
    methylation("methylation450",
      Map("data_type" -> "Methylation Beta Value",
        "platform" -> "illumina Human Methylation 450")),
    DTypeConfig(
      "protein", GenomicMatrix,
      Map("data_type" -> "Protein Expression Quantification", "platform" -> "rppa"),
      strategy = SampleColumnsMatrix(
        RawReadConfig(Seq(4, 5), header = true, None, "peptide_target"),
        log2 = false),
      metadataKind = "protein"),
    DTypeConfig(
      "clinical", ClinicalMatrix, Map.empty,
      strategy = ClinicalPipeline, metadataKind = "clinical"),
    DTypeConfig(
      "survival", SurvivalMatrix, Map.empty,
      strategy = SurvivalPipeline, metadataKind = "survival"),
  ).map(c => c.name -> c).toMap

  /** Column types of the long shapes' matrices, by name: the types
    * `GdcTransforms.segmentMatrix` (Start, End, value) and
    * `GdcTransforms.mafVector` (start, end, dna_vaf) give them; every
    * other long-shape column is a string. */
  private val longShapeTypes: Map[String, DataType] = Map(
    "Start" -> LongType, "End" -> LongType, "value" -> DoubleType,
    "start" -> LongType, "end" -> LongType, "dna_vaf" -> DoubleType)

  /** The schema of a dtype's Xena matrix as the ETL writes it, for the
    * matrix's header (its column names in order), so reading a matrix
    * back needs no type inference:
    *  - genomicMatrix: the row key is a string and every cell a double,
    *    or a string where the strategy fills nulls with a literal (the
    *    gene-level CNV `NA`);
    *  - genomicSegment / mutationVector: each column typed as the
    *    transform outputs it ([[longShapeTypes]]).
    * None for the clinical and survival matrices: their columns come
    * from GDC API documents, not from the registry, so a reader infers
    * them.
    */
  def matrixSchema(dtype: String, header: Seq[String]): Option[StructType] = {
    val c = registry(dtype)
    (c.kind, c.strategy) match {
      case (GenomicMatrix, s: SampleColumnsMatrix) =>
        val cell = if (s.fillNa.isDefined) StringType else DoubleType
        Some(StructType(StructField(header.head, StringType) +: header.tail.map(StructField(_, cell))))
      case (GenomicSegment | MutationVector, _) =>
        Some(StructType(header.map(n => StructField(n, longShapeTypes.getOrElse(n, StringType)))))
      case _ => None
    }
  }

  /** Dtypes whose downloads need tumor/normal pairing logic
    * (`constants.py:123-134` `duplicated_dtype`). */
  val duplicatedDtypes: Set[String] = Set(
    "segment_cnv_ascat-ngs", "segment_cnv_DNAcopy", "masked_cnv_DNAcopy",
    "allele_cnv_ascat2", "allele_cnv_ascat3",
    "gene-level_ascat-ngs", "gene-level_ascat2", "gene-level_ascat3",
    "somaticmutation_wxs", "somaticmutation_targeted")
}
