"""Output checks and content digests for the files the benchmark's sinks
write. Each check returns a list of problems (empty = pass)."""
import csv
import glob
import hashlib
import math
import os

import pyarrow.parquet as pq

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _csv_rows(path):
    """Header and data rows of a Spark CSV output directory."""
    header, rows = None, []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="") as fh:
            r = csv.reader(fh)
            h = next(r, None)
            if h is not None:
                header = h
            rows.extend(r)
    return header, rows


def _num(s):
    return None if s == "" else float(s)


def check_de(path):
    """0 <= pvalue <= padj <= 1 where non-NULL, and stat = log2fc / lfc_se."""
    header, rows = _csv_rows(path)
    if header is None or not rows:
        return ["no DE rows"]
    ix = {c: i for i, c in enumerate(header)}
    bad = []
    for row in rows:
        p, padj = _num(row[ix["pvalue"]]), _num(row[ix["padj"]])
        stat, fc, se = (_num(row[ix[c]]) for c in ("stat", "log2fc", "lfc_se"))
        if p is not None and not 0.0 <= p <= 1.0:
            bad.append(f"pvalue {p} out of [0,1]")
        if padj is not None and not 0.0 <= padj <= 1.0:
            bad.append(f"padj {padj} out of [0,1]")
        if p is not None and padj is not None and p > padj * (1 + 1e-12):
            bad.append(f"pvalue {p} > padj {padj}")
        if None not in (stat, fc, se) and se != 0.0 and not math.isclose(
                stat, fc / se, rel_tol=1e-9, abs_tol=1e-12):
            bad.append(f"stat {stat} != log2fc/lfc_se {fc / se}")
    return bad[:5]


def check_km(path):
    """Survival in [0,1] and non-increasing per stratum, and n_risk
    non-increasing."""
    header, rows = _csv_rows(path)
    if header is None or not rows:
        return ["no KM rows"]
    ix = {c: i for i, c in enumerate(header)}
    keys = [c for c in ("drug_class", "gene_name", "strat") if c in ix]
    strata = {}
    for row in rows:
        strata.setdefault(tuple(row[ix[k]] for k in keys), []).append(
            (float(row[ix["time"]]), float(row[ix["survival"]]),
             float(row[ix["n_risk"]])))
    bad = []
    for key, pts in strata.items():
        pts.sort()
        for (t0, s0, r0), (t1, s1, r1) in zip(pts, pts[1:]):
            if s1 > s0 + 1e-12:
                bad.append(f"{key}: survival rises at t={t1}")
            if r1 > r0:
                bad.append(f"{key}: n_risk rises at t={t1}")
        bad += [f"{key}: survival {s} out of [0,1]" for _, s, _ in pts
                if not 0.0 <= s <= 1.0]
    return bad[:5]


def check_png(path):
    with open(path, "rb") as fh:
        return [] if fh.read(8) == PNG_MAGIC else ["not a PNG file"]


def _packed_table(path):
    return pq.read_table(path, partitioning="hive").to_pydict()


def check_packed(path, budget):
    """doc_id unique, and every pack's token total <= budget + the largest
    document."""
    t = _packed_table(path)
    ids, packs, toks = t["doc_id"], t["pack_id"], t["n_tokens"]
    if not ids:
        return ["no packed rows"]
    bad = []
    if len(set(ids)) != len(ids):
        bad.append(f"{len(ids) - len(set(ids))} duplicate doc_id")
    totals = {}
    for p, n in zip(packs, toks):
        totals[p] = totals.get(p, 0) + n
    cap = budget + max(toks)
    bad += [f"pack {p} holds {n} tokens > {cap}"
            for p, n in totals.items() if n > cap]
    return bad[:5]


def digest(kind, path):
    """Content digest, independent of file names and row order."""
    h = hashlib.sha256()
    if kind == "png":
        with open(path, "rb") as fh:
            h.update(fh.read())
    elif kind == "packed":
        t = _packed_table(path)
        cols = sorted(t)
        for row in sorted(zip(*(t[c] for c in cols)),
                          key=lambda r: r[cols.index("doc_id")]):
            h.update(repr(row).encode())
    else:
        header, rows = _csv_rows(path)
        h.update(repr(header).encode())
        for line in sorted(map(tuple, rows)):
            h.update(repr(line).encode())
    return h.hexdigest()


def check(kind, path, budget=None):
    if not os.path.exists(path):
        return ["missing output"]
    if kind == "de":
        return check_de(path)
    if kind == "km":
        return check_km(path)
    if kind == "png":
        return check_png(path)
    if kind == "packed":
        return check_packed(path, budget)
    header, _ = _csv_rows(path)
    return [] if header else ["empty CSV"]


def files_and_bytes(path):
    """Data files a sink wrote under `path` (Spark's .crc and _SUCCESS
    markers excluded) and their total size."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
