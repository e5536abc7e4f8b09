"""Seeded, offline input generators for the benchmark workloads.

Every value is a closed-form function of a row index, a file index and
coefficients drawn from `random.Random(seed)`, so the same seed gives
byte-identical inputs and the checks recompute any expected cell
without reading the inputs back.  The raw files use the GDC shapes of
`tools/gen_fixtures.py` and `fixtures/` (STAR counts TSV, miRNA
quantification, headerless methylation betas, gene-level copy number,
DNAcopy segments, gzip MAF with a '#version' banner, nested clinical
JSON, survival TSV + case map).
"""
import gzip
import json
import math
import os
import random

# Probe counts.  STAR_GENES is the full GENCODE v36 gene model (60,661
# genes), the default of gen_etl; run.py passes a smaller count.  The
# methylation450 array (485,577 probes) and the gene-level copy-number
# gene list (60,623) are cut to 5,000 rows.  Both cuts keep a run within
# the benchmark's time budget on four cores.
STAR_GENES = 60661
MIRNA_IDS = 1881
METHYLATION_PROBES = 5000
GENE_LEVEL_GENES = 5000
SEGMENTS_PER_SAMPLE = 60
MUTATIONS_PER_SAMPLE = 40

ETL_DTYPES = ["star_counts", "mirna", "methylation450", "gene-level_ascat-ngs",
              "segment_cnv_DNAcopy", "somaticmutation_wxs", "clinical", "survival"]
# Matrix dtypes merge horizontally, segment/MAF vertically; clinical and
# survival are per-project phenotype tables and are not merged.
MERGED_DTYPES = ["star_counts", "mirna", "methylation450", "gene-level_ascat-ngs",
                 "segment_cnv_DNAcopy", "somaticmutation_wxs"]
REPLICATED = {"star_counts", "mirna", "methylation450", "gene-level_ascat-ngs"}

STAR_HEADER = ["gene_id", "gene_name", "gene_type", "unstranded", "stranded_first",
               "stranded_second", "tpm_unstranded", "fpkm_unstranded",
               "fpkm_uq_unstranded"]
STAR_SENTINELS = ["N_unmapped", "N_multimapping", "N_noFeature", "N_ambiguous"]
MAF_USED = {0: "Hugo_Symbol", 4: "Chromosome", 5: "Start_Position",
            6: "End_Position", 10: "Reference_Allele", 12: "Tumor_Seq_Allele2",
            15: "Tumor_Sample_Barcode", 36: "HGVSp_Short", 39: "Consequence",
            41: "t_depth", 51: "t_alt_count", 139: "callers"}


def uuid(rng):
    h = "%032x" % rng.getrandbits(128)
    return "%s-%s-4%s-8%s-%s" % (h[:8], h[8:12], h[13:16], h[17:20], h[20:32])


def write_text(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write("\n".join(lines) + "\n")


def gene_id(g):
    return "ENSG%011d.%d" % (g, g % 10)


class Coef:
    """Per-seed coefficients of the closed forms."""

    def __init__(self, rng):
        self.a = rng.randrange(7, 997)
        self.b = rng.randrange(7, 997)
        self.c = rng.randrange(0, 997)

    def star(self, g, f):
        return (self.a * g + self.b * f * 31 + self.c) % 997

    def mirna_rpm(self, m, f):
        return ((self.a * m + self.b * f * 17 + self.c) % 4000) / 4.0

    def beta(self, p, f):
        return ((self.a * p + self.b * f * 13 + self.c) % 10000) / 10000.0

    def copy_number(self, g, f):
        h = (self.a * g + self.b * f * 11 + self.c)
        return None if h % 7 == 3 else (h % 9) * 0.5

    def seg_mean(self, s, f):
        return ((self.a * s + self.b * f * 5 + self.c) % 400 - 200) / 100.0


def mean_or_none(vals):
    vals = [v for v in vals if v is not None]
    return sum(vals) / len(vals) if vals else None


def log2p1(v):
    return round(math.log2(v + 1.0), 6)


# ---------------------------------------------------------------- etl

def gen_etl(root, seed, projects, samples, dtypes=ETL_DTYPES, star_genes=STAR_GENES,
            empty_maf=True):
    """Raw GDC files for `projects` x `dtypes` (a subset of ETL_DTYPES)
    under root/raw, plus root/expected.json: sampled cells of every
    merged and per-project output, computed from the closed forms. With
    empty_maf, one sample per project has an empty MAF (the no-mutation
    sentinel path)."""
    want = set(dtypes)
    rng = random.Random(seed)
    co = Coef(rng)
    raw = os.path.join(root, "raw")
    proj_ids = ["BENCH-P%d" % p for p in range(projects)]
    files = {}       # (dtype, sample) -> [file index]
    sample_ids = {pj: ["P%d-S%03d-01A" % (pi, j) for j in range(samples)]
                  for pi, pj in enumerate(proj_ids)}
    all_sids = [s for p in proj_ids for s in sample_ids[p]]
    fidx = 0
    for d in sorted(REPLICATED):
        # 10% of samples (at least one) have a replicate vial, the same
        # number on every seed so every seed does the same work
        twice = set(rng.sample(all_sids, max(1, round(0.1 * len(all_sids)))))
        for sid in all_sids:
            for _ in range(2 if sid in twice else 1):
                files.setdefault((d, sid), []).append(fidx)
                fidx += 1
    empty_maf = {proj: rng.choice(sids) for proj, sids in sample_ids.items() if empty_maf}
    cells = []

    for proj in proj_ids:
        sids = sample_ids[proj]
        base = os.path.join(raw, proj)
        for sid in sids:
            for f in files[("star_counts", sid)] if "star_counts" in want else []:
                lines = ["# gene-model: GENCODE v36", "\t".join(STAR_HEADER)]
                for s in STAR_SENTINELS:
                    lines.append("\t".join([s, "", ""] + [str(90000 + f)] * 6))
                for g in range(star_genes):
                    n = co.star(g, f)
                    lines.append("%s\tG%d\tprotein_coding\t%d\t%d\t%d\t%.4f\t%.4f\t%.4f" % (
                        gene_id(g), g, n, n + 1, n + 2, n / 3.0, n / 7.0, n / 11.0))
                write_text(os.path.join(base, "star_counts", "%s.%s.rna_seq.augmented_star_gene_counts.tsv"
                                        % (sid, uuid(rng))), lines)
            for f in files[("mirna", sid)] if "mirna" in want else []:
                lines = ["miRNA_ID\tread_count\treads_per_million_miRNA_mapped\tcross-mapped"]
                for m in range(MIRNA_IDS):
                    rpm = co.mirna_rpm(m, f)
                    lines.append("hsa-mir-%04d\t%d\t%s\tN" % (m, int(rpm), repr(rpm)))
                write_text(os.path.join(base, "mirna", "%s.%s.mirbase21.mirnas.quantification.txt"
                                        % (sid, uuid(rng))), lines)
            for f in files[("methylation450", sid)] if "methylation450" in want else []:
                lines = ["cg%08d\t%.4f" % (p, co.beta(p, f)) for p in range(METHYLATION_PROBES)]
                write_text(os.path.join(base, "methylation450", "%s.%s.methylation_array.sesame.level3betas.txt"
                                        % (sid, uuid(rng))), lines)
            for f in files[("gene-level_ascat-ngs", sid)] if "gene-level_ascat-ngs" in want else []:
                lines = ["gene_id\tgene_name\tchromosome\tstart\tend\tcopy_number\tmin_copy_number\tmax_copy_number"]
                for g in range(GENE_LEVEL_GENES):
                    cn = co.copy_number(g, f)
                    lines.append("%s\tG%d\tchr%d\t%d\t%d\t%s\t0\t8" % (
                        gene_id(g), g, g % 22 + 1, 10000 * g + 1, 10000 * g + 9999,
                        "" if cn is None else repr(cn)))
                write_text(os.path.join(base, "gene-level_ascat-ngs", "%s.%s.gene_level_copy_number.v36.tsv"
                                        % (sid, uuid(rng))), lines)
        for si, sid in enumerate(sids):
            f = fidx + si
            lines = ["GDC_Aliquot\tChromosome\tStart\tEnd\tNum_Probes\tSegment_Mean"]
            for s in range(SEGMENTS_PER_SAMPLE):
                start = 100000 * s + 1
                lines.append("aliquot-%s\tchr%d\t%d\t%d\t%d\t%s" % (
                    sid, s % 22 + 1, start, start + 99999, 40 + s, repr(co.seg_mean(s, f))))
            write_text(os.path.join(base, "segment_cnv_DNAcopy", "%s.%s.grch38.seg.v2.txt"
                                    % (sid, uuid(rng))), lines)
            seg = rng.randrange(SEGMENTS_PER_SAMPLE)
            cells.append({"dtype": "segment_cnv_DNAcopy", "kind": "segment", "sample": sid,
                          "key": [sid, "chr%d" % (seg % 22 + 1), str(100000 * seg + 1)],
                          "value": co.seg_mean(seg, f)})
            # MAF: one sample per project has zero data rows (sentinel)
            header = [MAF_USED.get(i, "f%03d" % i) for i in range(140)]
            lines = ["#version gdc-1.0.0", "\t".join(header)]
            nmut = 0 if sid == empty_maf.get(proj) else MUTATIONS_PER_SAMPLE
            for m in range(nmut):
                row = [""] * 140
                depth = 50 + (co.a * m + f) % 150
                alt = 1 + (co.b * m + f) % depth
                row[0], row[4] = "GENE%d" % m, "chr%d" % (m % 22 + 1)
                row[5], row[6] = str(1000 * m + f), str(1000 * m + f + 1)
                row[10], row[12], row[15] = "C", "T", "%s-TUMOR" % sid
                row[36], row[39] = "p.X%dY" % m, "missense_variant"
                row[41], row[51], row[139] = str(depth), str(alt), "muse;mutect2"
                lines.append("\t".join(row))
                if m == 0:
                    cells.append({"dtype": "somaticmutation_wxs", "kind": "maf", "sample": sid,
                                  "key": [sid, str(1000 * m + f)], "value": alt / depth})
            path = os.path.join(base, "somaticmutation_wxs", "%s.%s.wxs.aliquot_ensemble_masked.maf.gz"
                                % (sid, uuid(rng)))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with gzip.GzipFile(path, "wb", mtime=0) as fh:
                fh.write(("\n".join(lines) + "\n").encode())
        fidx += len(sids)
        if proj in empty_maf:
            cells.append({"dtype": "somaticmutation_wxs", "kind": "maf_sentinel",
                          "sample": empty_maf[proj], "key": [empty_maf[proj], "-1"], "value": None})
        # clinical + survival: one case per sample
        cases, surv, case_samples = [], ["id\tproject_id\tsurvivalEstimate\tcensored\ttime\tsubmitter_id"], []
        for ci, sid in enumerate(sids):
            gender = ["female", "male"][(co.a * ci + co.c) % 2]
            censored = (co.b * ci + co.c) % 3 == 0
            days = 30 + (co.a * ci + co.b) % 3000
            cid = "%s-case%03d" % (proj, ci)
            cases.append({
                "id": cid, "submitter_id": "%s-PAT%03d" % (proj, ci),
                "disease_type": "Adenomas", "project": {"project_id": proj},
                "demographic": {"gender": gender, "vital_status": "Alive",
                                "year_of_birth": 1940 + ci},
                "state": "released", "created_datetime": "2020-01-01",
                "annotations": [],
                "diagnoses": [{"age_at_diagnosis": str(15000 + 10 * ci), "tumor_grade": "G2",
                               "treatments": [{"therapeutic_agents": "Cisplatin",
                                               "treatment_type": "Chemo"}],
                               "pathology_details": []}],
                "samples": [{"submitter_id": sid, "sample_type": "Primary Tumor",
                             "tissue_type": "Tumor"}]})
            surv.append("%s\t%s\t0.5\t%s\t%d\t%s-PAT%03d" % (
                cid, proj, "true" if censored else "false", days, proj, ci))
            case_samples.append({"id": cid, "samples": [
                {"submitter_id": sid, "sample_type": "Primary Tumor"}]})
            cells.append({"dtype": "clinical", "kind": "clinical", "project": proj, "sample": sid,
                          "col": "gender.demographic", "value": gender})
            cells.append({"dtype": "survival", "kind": "survival", "project": proj, "sample": sid,
                          "col": "OS.time", "value": days})
            cells.append({"dtype": "survival", "kind": "survival", "project": proj, "sample": sid,
                          "col": "OS", "value": 0 if censored else 1})
        write_text(os.path.join(base, "clinical", "cases.json"),
                   [json.dumps(c, sort_keys=True) for c in cases])
        write_text(os.path.join(base, "survival", "survival.tsv"), surv)
        write_text(os.path.join(base, "survival", "case_samples.json"),
                   [json.dumps(c, sort_keys=True) for c in case_samples])

    # sampled matrix cells, expected from the closed forms
    forms = {
        "star_counts": (star_genes, gene_id, lambda g, fs: log2p1(mean_or_none([co.star(g, f) for f in fs]))),
        "mirna": (MIRNA_IDS, lambda m: "hsa-mir-%04d" % m,
                  lambda m, fs: log2p1(mean_or_none([co.mirna_rpm(m, f) for f in fs]))),
        "methylation450": (METHYLATION_PROBES, lambda p: "cg%08d" % p,
                           lambda p, fs: mean_or_none([co.beta(p, f) for f in fs])),
        "gene-level_ascat-ngs": (GENE_LEVEL_GENES, gene_id,
                                 lambda g, fs: mean_or_none([co.copy_number(g, f) for f in fs])),
    }
    for d, (n, key, value) in forms.items():
        picks = [(rng.randrange(n), rng.choice(all_sids)) for _ in range(24)]
        # replicate-vial samples are always sampled: they exercise the mean
        picks += [(rng.randrange(n), s) for s in all_sids if len(files[(d, s)]) > 1]
        for r, s in picks:
            cells.append({"dtype": d, "kind": "matrix", "sample": s, "key": [key(r)],
                          "value": value(r, files[(d, s)])})
    plan = {"projects": proj_ids, "dtypes": [d for d in ETL_DTYPES if d in want],
            "merged": [d for d in MERGED_DTYPES if d in want], "samples": all_sids}
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump({"plan": plan, "cells": [c for c in cells if c["dtype"] in want]}, f)
    return plan


# ------------------------------------------------------ stream-landing

def gen_stream(root, seed, documents_parquet, landings, star_genes):
    """Document drops split from the documents table (contiguous,
    ascending doc_id ranges, so first arrival == min doc_id), the
    reference set the store is fitted on, and per-round STAR-counts raw files; one earlier sample lands a
    replicate vial in every later round."""
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    co = Coef(rng)
    docs = pq.read_table(documents_parquet).sort_by("doc_id")
    n = docs.num_rows
    idx = list(range(n))
    ref = sorted(rng.sample(idx, int(n * 0.4)))
    ref_set = set(ref)
    rest = [i for i in idx if i not in ref_set]
    os.makedirs(os.path.join(root, "docs"), exist_ok=True)
    pq.write_table(docs.take(ref), os.path.join(root, "reference.parquet"))
    # equal-sized drops: the seed picks which documents, not how many
    bounds = [len(rest) * r // landings for r in range(landings + 1)]
    doc_drops, star_drops = [], []
    fidx = 0
    landed = []
    for r in range(landings):
        part = rest[bounds[r]:bounds[r + 1]]
        path = os.path.join(root, "docs", "drop_%03d.parquet" % r)
        pq.write_table(docs.take(part), path)
        doc_drops.append(path)
        sids = ["R%02d-S%d-01A" % (r, j) for j in range(2)]
        if landed:
            sids.append(rng.choice(landed))  # replicate vial of an earlier sample
        names = []
        for sid in sids:
            lines = ["# gene-model: GENCODE v36", "\t".join(STAR_HEADER)]
            for s in STAR_SENTINELS:
                lines.append("\t".join([s, "", ""] + [str(90000 + fidx)] * 6))
            for g in range(star_genes):
                v = co.star(g, fidx)
                lines.append("%s\tG%d\tprotein_coding\t%d\t%d\t%d\t%.4f\t%.4f\t%.4f" % (
                    gene_id(g), g, v, v + 1, v + 2, v / 3.0, v / 7.0, v / 11.0))
            name = os.path.join(root, "star", "%03d" % r, "%s.%s.rna_seq.augmented_star_gene_counts.tsv"
                                % (sid, uuid(rng)))
            write_text(name, lines)
            names.append(name)
            fidx += 1
        landed += sids[:2]
        star_drops.append(names)
    plan = {"reference": os.path.join(root, "reference.parquet"),
            "doc_drops": doc_drops, "star_drops": star_drops}
    return plan
