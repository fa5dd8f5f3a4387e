#!/usr/bin/env python3
"""Seeded generator for the TCGA-shaped star schema of FIXTURES.md section B.

Writes, under OUT:

  expression/part-0000N.parquet  (gene_id, barcode, count) -- dense long
                                 form of the genes x samples NB count matrix
  genes/part-00000.parquet       (gene_id, gene_name)
  samples/part-00000.parquet     colData: barcode, submitter_id, the four
                                 reference factor columns, survival times
                                 and the nested `treatments` array
  goi.tsv                        genes of interest, one symbol per line

What the data plants, so every reference pipeline has work to do:

  - negative-binomial counts (Var = mu + alpha mu^2) with per-sample
    library sizes;
  - low-count genes whose totals fall under the `rowSums >= 10` prefilter;
  - differential genes for each of the four DE factors (tumor/normal,
    vital status, AJCC stage, PAM50 subtype);
  - off-level and NULL factor values (`Stage X`, NULL vital_status, NULL
    letter code, NULL subtype), raw substage spellings (`Stage IIA`);
  - one to three samples per patient (tumor, matched normal, second
    tumor);
  - a ragged nested treatments array, 0 to 4 entries per patient;
  - a gene symbol with no expression rows and lower-case symbol variants.

The output is a pure function of (seed, genes, samples): the same
arguments give byte-identical files.

Usage: gen_tcga.py --seed 1 --genes 1000 --samples 200 --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = ["A1", "A2", "AO", "BH", "E2"]
VITAL = ["Alive", "Dead", None]
VITAL_P = [0.70, 0.27, 0.03]
# raw AJCC spellings; collapse maps IIA/IIB -> Stage_II, and Stage X is
# the off-level value the reference drops
STAGES = ["Stage 0", "Stage I", "Stage IA", "Stage IB", "Stage II",
          "Stage IIA", "Stage IIB", "Stage III", "Stage IIIA", "Stage IIIB",
          "Stage IIIC", "Stage IV", "Stage X", None]
STAGE_P = [0.04, 0.06, 0.08, 0.03, 0.06, 0.18, 0.14, 0.05, 0.10, 0.05,
           0.05, 0.08, 0.04, 0.04]
STAGE_RANK = {"Stage 0": 0, "Stage I": 1, "Stage IA": 1, "Stage IB": 1,
              "Stage II": 2, "Stage IIA": 2, "Stage IIB": 2,
              "Stage III": 3, "Stage IIIA": 3, "Stage IIIB": 3,
              "Stage IIIC": 3, "Stage IV": 4}
PAM50 = ["Normal", "Basal", "Her2", "LumA", "LumB", None]
PAM50_P = [0.14, 0.18, 0.12, 0.30, 0.20, 0.06]
TREATMENT_TYPES = ["Chemotherapy", "Hormone Therapy",
                   "Targeted Molecular Therapy", "Radiation Therapy"]
AGENTS = ["Doxorubicin", "Paclitaxel", "Cyclophosphamide", "Tamoxifen",
          "Letrozole", "Anastrozole", "Trastuzumab", None]
EXPRESSION_FILES = 4

TREATMENT_TYPE = pa.struct([("submitter_id", pa.string()),
                            ("treatment_type", pa.string()),
                            ("therapeutic_agents", pa.string())])


def _pick(rng, values, p, n):
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _patients(rng, n_samples):
    """Patient rows and a sample list (patient index, sample-type code)."""
    samples = []
    pid = 0
    while len(samples) < n_samples:
        k = rng.choice(3, p=[0.40, 0.45, 0.15]) + 1
        for code in ["01A", "11A", "01B"][:k]:
            samples.append((pid, code))
        pid += 1
    return pid, samples[:n_samples]


def _write(table, path):
    # fixed writer settings: no statistics-dependent randomness, one
    # row group per file, so the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def generate(out, seed, n_genes, n_samples):
    rng = np.random.default_rng([seed, n_genes, n_samples])
    for table in ["expression", "genes", "samples"]:
        os.makedirs(os.path.join(out, table), exist_ok=True)

    # --- patients and samples (colData) --------------------------------
    n_pat, smp = _patients(rng, n_samples)
    site = rng.integers(0, len(SITES), n_pat)
    patient_id = [f"TCGA-{SITES[site[p]]}-{p:04d}" for p in range(n_pat)]
    vital = _pick(rng, VITAL, VITAL_P, n_pat)
    stage = _pick(rng, STAGES, STAGE_P, n_pat)
    pam50 = _pick(rng, PAM50, PAM50_P, n_pat)
    death = np.round(rng.gamma(2.0, 500.0, n_pat) + 1.0)
    follow = np.round(rng.uniform(30.0, 4000.0, n_pat))
    follow_null = rng.random(n_pat) < 0.05
    treatments = []
    for p in range(n_pat):
        k = int(rng.choice(5, p=[0.25, 0.30, 0.25, 0.12, 0.08]))
        tt = rng.integers(0, len(TREATMENT_TYPES), k)
        ag = rng.integers(0, len(AGENTS), k)
        treatments.append([
            {"submitter_id": patient_id[p],
             "treatment_type": TREATMENT_TYPES[tt[i]],
             "therapeutic_agents": AGENTS[ag[i]]} for i in range(k)])

    pat = np.array([p for p, _ in smp])
    code = [c for _, c in smp]
    barcode = [f"{patient_id[p]}-{c}" for p, c in smp]
    letter = ["NT" if c == "11A" else "TP" for c in code]
    letter_null = rng.random(n_samples) < 0.02
    samples = pa.table({
        "barcode": barcode,
        "submitter_id": [patient_id[p] for p in pat],
        "vital_status": [vital[p] for p in pat],
        "short_letter_code": [None if letter_null[i] else letter[i]
                              for i in range(n_samples)],
        "ajcc_pathologic_stage": [stage[p] for p in pat],
        "paper_brca_subtype_pam50": [pam50[p] for p in pat],
        "days_to_death": pa.array(
            [float(death[p]) if vital[p] == "Dead" else None for p in pat],
            pa.float64()),
        "paper_days_to_last_followup": pa.array(
            [None if follow_null[p] else float(follow[p]) for p in pat],
            pa.float64()),
        "treatments": pa.array([treatments[p] for p in pat],
                               pa.list_(TREATMENT_TYPE)),
    })
    _write(samples, os.path.join(out, "samples", "part-00000.parquet"))

    # --- genes (rowRanges) ---------------------------------------------
    gene_id = [f"ENSG{g:011d}" for g in range(n_genes)]
    gene_name = [f"SYM{g}" for g in range(n_genes)]
    for g in range(7, n_genes, 97):  # symbols differing only by case
        gene_name[g] = gene_name[g].lower()
    genes = pa.table({
        "gene_id": gene_id + [f"ENSG{n_genes:011d}"],
        "gene_name": gene_name + ["NOEXPR1"],  # no expression rows
    })
    _write(genes, os.path.join(out, "genes", "part-00000.parquet"))

    # --- NB counts with planted effects ----------------------------------
    role = rng.permutation(n_genes)
    n_low = n_genes // 10
    n_de = max(1, n_genes // 25)
    low = role[:n_low]
    de_tumor = role[n_low:n_low + n_de]
    de_vital = role[n_low + n_de:n_low + 2 * n_de]
    de_stage = role[n_low + 2 * n_de:n_low + 3 * n_de]
    de_pam50 = role[n_low + 3 * n_de:n_low + 4 * n_de]

    base = np.exp(rng.normal(np.log(150.0), 1.1, n_genes)).clip(5.0, 2e4)
    base[low] = rng.uniform(0.005, 0.03, n_low)
    lib = np.exp(rng.normal(0.0, 0.25, n_samples))
    logfc = np.zeros((n_genes, n_samples))
    tumor = np.array([c != "11A" for c in code])
    sign = lambda n: np.where(rng.random(n) < 0.5, -1.0, 1.0)
    logfc[de_tumor] += np.outer(sign(n_de) * np.log(4.0), tumor)
    dead = np.array([vital[p] == "Dead" for p in pat])
    logfc[de_vital] += np.outer(sign(n_de) * np.log(2.5), dead)
    srank = np.array([STAGE_RANK.get(stage[p], 0) for p in pat], float)
    logfc[de_stage] += np.outer(sign(n_de) * np.log(1.5), srank)
    basal = np.array([pam50[p] == "Basal" for p in pat])
    logfc[de_pam50] += np.outer(sign(n_de) * np.log(3.0), basal)

    mu = base[:, None] * lib[None, :] * np.exp(logfc)
    alpha = 0.04 + 1.0 / (base + 1.0)
    r = 1.0 / alpha
    counts = rng.negative_binomial(r[:, None], r[:, None] / (r[:, None] + mu))

    # sample-major long form, split into a few files by sample block
    bounds = np.linspace(0, n_samples, EXPRESSION_FILES + 1).astype(int)
    gid = np.array(gene_id, dtype=object)
    for f in range(EXPRESSION_FILES):
        lo, hi = bounds[f], bounds[f + 1]
        block = counts[:, lo:hi].T  # samples x genes
        _write(pa.table({
            "gene_id": np.tile(gid, hi - lo),
            "barcode": np.repeat(np.array(barcode[lo:hi], dtype=object),
                                 n_genes),
            "count": block.reshape(-1).astype(np.int64),
        }), os.path.join(out, "expression", f"part-{f:05d}.parquet"))

    # --- parameter files -------------------------------------------------
    # genes of interest: every 4th expressed, upper-case symbol (the
    # reference upper-cases the list it reads)
    low_set = set(low.tolist())
    goi = [gene_name[g] for g in range(0, n_genes, 4)
           if g not in low_set and gene_name[g].isupper()]
    with open(os.path.join(out, "goi.tsv"), "w") as fh:
        fh.write("\n".join(goi) + "\n")
    return {"expression_rows": n_genes * n_samples, "genes": n_genes,
            "samples": n_samples, "patients": n_pat}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--genes", type=int, required=True)
    ap.add_argument("--samples", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.out, a.seed, a.genes, a.samples))


if __name__ == "__main__":
    main()
