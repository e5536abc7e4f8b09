package graft.io

/** Xena Loader metadata JSON sink (SURVEY §2 S11/X3).
  *
  * Re-expresses the reference's jinja2 templates
  * (`resources/template.*.meta.json`, rendered at
  * `xena_dataset.py:689-725` with variables from
  * `xena_dataset.py:1169-1229` + `constants.py:43-94`
  * METADATA_TEMPLATE/METADATA_VARIABLES) as plain Scala builders —
  * driver-side string work, no engine involvement.
  */
object XenaMetadata {

  /** Variables feeding a render (`metadata_vars`). */
  final case class Vars(
      xenaCohort: String,
      date: String,
      gdcType: String = "",
      gdcRelease: Option[String] = None,
      unit: Option[String] = None,
      notes: Option[String] = None,
      mafUuid: Option[String] = None,
      probeMap: Option[String] = None,
      platformNum: Option[String] = None,
      platform: Option[String] = None)

  /** Per-dtype template variables (`constants.py:72-94`
    * METADATA_VARIABLES). */
  val dtypeVariables: Map[String, Vars => Vars] = Map(
    "star_counts" -> (v => v.copy(gdcType = "STAR - Counts")),
    "star_tpm" -> (v => v.copy(gdcType = "STAR - TPM", unit = Some("tpm"))),
    "star_fpkm" -> (v => v.copy(gdcType = "STAR - FPKM", unit = Some("fpkm"))),
    "star_fpkm-uq" -> (v => v.copy(gdcType = "STAR - FPKM-UQ", unit = Some("fpkm-uq"))),
    "mirna" -> (v => v.copy(gdcType = "miRNA Expression Quantification")),
    "mirna_isoform" -> (v => v.copy(gdcType = "Isoform Expression Quantification")),
    "segment_cnv_ascat-ngs" -> (v => v.copy(gdcType = "Copy Number Segment (AscatNGS)")),
    "segment_cnv_DNAcopy" -> (v => v.copy(gdcType = "Copy Number Segment (DNAcopy)")),
    "masked_cnv_DNAcopy" -> (v => v.copy(gdcType = "Masked Copy Number Segment (DNAcopy)")),
    "allele_cnv_ascat2" -> (v => v.copy(gdcType = "Allele-specific Copy Number Segment (ASCAT2)")),
    "allele_cnv_ascat3" -> (v => v.copy(gdcType = "Allele-specific Copy Number Segment (ASCAT3)")),
    "somaticmutation_wxs" -> (v => v.copy(gdcType = "Ensemble Somatic Variant (WXS)")),
    "somaticmutation_targeted" -> (v => v.copy(gdcType = "Ensemble Somatic Variant (Targeted Sequencing)")),
    "gene-level_ascat-ngs" -> (v => v.copy(gdcType = "Gene Level Copy Number (AscatNGS)")),
    "gene-level_ascat2" -> (v => v.copy(gdcType = "Gene Level Copy Number (ASCAT2)")),
    "gene-level_ascat3" -> (v => v.copy(gdcType = "Gene Level Copy Number (ASCAT3)")),
    "gene-level_absolute" -> (v => v.copy(gdcType = "Gene Level Copy Number (ABSOLUTE)")),
    "methylation_epic" -> (v => v.copy(
      probeMap = Some("EPIC.hg38.manifest.gencode.v36.probeMap"), platformNum = Some("epic"))),
    "methylation_epic_v2" -> (v => v.copy(
      probeMap = Some("EPIC.hg38.manifest.gencode.v36.probeMap"), platformNum = Some("epic v2"))),
    "methylation27" -> (v => v.copy(
      probeMap = Some("HM27.hg38.manifest.gencode.v36.probeMap"), platformNum = Some("27"))),
    "methylation450" -> (v => v.copy(
      probeMap = Some("HM450.hg38.manifest.gencode.v36.probeMap"), platformNum = Some("450"))),
    "protein" -> (v => v.copy(
      gdcType = "Protein Expression Quantification", platform = Some("rppa"))),
  )

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def url(v: Vars, suffix: String = ""): String =
    v.gdcRelease.map(_ + ", ").getOrElse("") + "https://api.gdc.cancer.gov/data/" + suffix

  /** Render the metadata JSON for a dtype (keyed by the registry's
    * `metadataKind`): ordered key/value pairs matching the reference
    * template key sets. Option-valued fields render only when set,
    * mirroring the jinja `{% if %}` blocks.
    */
  def render(metadataKind: String, v: Vars): String = {
    type KV = (String, Any)
    def common(label: String): Seq[KV] = Seq(
      "cohort" -> v.xenaCohort,
      "dataProducer" -> "Genomic Data Commons",
      "label" -> label,
      "wrangler" -> "Xena GDC ETL script",
      "version" -> v.date)
    val fields: Seq[KV] = metadataKind match {
      case "rna" => common(v.gdcType) ++ Seq(
        "url" -> url(v),
        "dataSubType" -> "gene expression RNAseq",
        ":probeMap" -> "gencode.v36.annotation.gtf.gene.probemap",
        "colNormalization" -> true,
        "PLATFORM" -> "Illumina",
        "type" -> "genomicMatrix",
        "unit" -> v.unit.map(u => s"log2($u+1)").getOrElse("log2(count+1)"))
      case "cnv" => common(v.gdcType) ++ Seq(
        "start_index" -> 1,
        "url" -> url(v),
        "dataSubType" -> "copy number",
        "colNormalization" -> "normal2",
        "assembly" -> "hg38",
        "type" -> "genomicSegment",
        "unit" -> "copy number")
      case "gene-level_cnv" => common(v.gdcType) ++ Seq(
        "url" -> url(v),
        "dataSubType" -> "copy number (gene-level)",
        ":probeMap" -> "gencode.v36.annotation.gtf.gene.probemap",
        "colNormalization" -> "normal2",
        "type" -> "genomicMatrix",
        "unit" -> "copy number")
      case "snv" => common(v.gdcType) ++ Seq(
        "start_index" -> 1,
        "url" -> url(v, v.mafUuid.getOrElse("")),
        "dataSubType" -> "somatic mutation (SNPs and small INDELs)",
        "assembly" -> "hg38",
        "PLATFORM" -> "Illumina",
        "type" -> "mutationVector")
      case "methylation" =>
        val pn = v.platformNum.getOrElse("")
        common(s"Illumina Human Methylation $pn") ++ Seq(
          "min" -> 0.0,
          "max" -> 1.0,
          "url" -> url(v),
          "dataSubType" -> "DNA methylation",
          ":probeMap" -> v.probeMap.getOrElse(""),
          "PLATFORM" -> s"Illumina Human Methylation $pn",
          "type" -> "genomicMatrix",
          "unit" -> "beta value")
      case "protein" => common(v.gdcType) ++ Seq(
        "url" -> url(v),
        "dataSubType" -> "protein expression",
        "colNormalization" -> true,
        "PLATFORM" -> v.platform.getOrElse(""),
        "type" -> "genomicMatrix",
        "unit" -> "normalized RPPA value")
      case "survival" => common("survival data") ++ Seq(
        "url" -> url(v),
        "dataSubType" -> "phenotype",
        "type" -> "clinicalMatrix")
      case "clinical" => common("Phenotype") ++ Seq(
        "url" -> url(v),
        "dataSubType" -> "phenotype",
        "type" -> "clinicalMatrix")
      case other =>
        throw new IllegalArgumentException(s"unknown metadata kind: $other")
    }
    val withNotes = fields ++ v.notes.map("notes" -> (_: Any)).toSeq
    withNotes.map {
      case (k, s: String) => s""""${esc(k)}":"${esc(s)}""""
      case (k, x)         => s""""${esc(k)}":$x"""
    }.mkString("{", ",", "}")
  }

  /** Render + write next to a matrix path (`<matrix>.json`), the
    * reference's sink contract (`xena_dataset.py:719-723`). Hadoop FS
    * API: the metadata sink must accept every URI the matrix sink
    * does (hdfs://, s3a://, file:) — a java.nio write would treat a
    * remote URI as a local relative path.
    *
    * @param hadoopConf the session's Hadoop conf when there is a session
    *   (`spark.sessionState.newHadoopConf()`), so the sidecar sees the
    *   same `spark.hadoop.*` options (credentials, filesystem impls) as
    *   the matrix sink beside it; the session-less `metadata` verb uses
    *   a plain conf with the engine's `file:` filesystem
    *   ([[LocalFs.hadoopConf]]). */
  def write(
      matrixPath: String,
      metadataKind: String,
      v: Vars,
      hadoopConf: org.apache.hadoop.conf.Configuration = LocalFs.hadoopConf()): String = {
    val out = matrixPath + ".json"
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(hadoopConf)
    val os = fs.create(p, true)
    try os.write(render(metadataKind, v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    out
  }
}
