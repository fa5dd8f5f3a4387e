#!/usr/bin/env python3
"""The repository benchmark: reference-user pipelines over the public
library surface (`graft.api.Tcga`, `graft.api.Corpus`, `graft.sinks`,
`graft.sources.CsvIO`), timed to real file sinks.

    python3 perfbench/run.py --workload tcga_de --seed 1 --seconds 8 --trace 0

Run from the repository root. Steps:

  1. build the library and the benchmark with sbt (offline), once per
     source state; the classpath lands in .bench_build/;
  2. generate the workload's inputs from --seed as parquet under
     .bench_data/, cached per (seed, size);
  3. run `perfbench.Main` in one JVM (one local session, one caller, one
     operation at a time) and read back its record;
  4. check every output the sinks wrote, and print one JSON line:
     end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

`--workload all` runs tcga_de, tcga_vst_km and corpus_pretrain in turn and
prints one line each.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import checks
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_DIR = os.path.join(ROOT, ".bench_data")

# `tcga` takes one script from each TCGA half; `all` runs the halves and
# the corpus one after another
WORKLOADS = ["tcga", "tcga_de", "tcga_vst_km", "corpus_pretrain"]
ALL = ["tcga_de", "tcga_vst_km", "corpus_pretrain"]
TCGA_SIZE = {"genes": 400, "samples": 100}
CORPUS_SF = 0.02  # tools/gen_testdata.py scale: 1,000 documents
SETUPS = 3
HEAP = "3g"
PACK_BUDGET = 4096  # Workloads.PackBudget
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 800

START = [time.monotonic()]  # reset when each workload's run starts


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# --- build ---------------------------------------------------------------

def _sources():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*",
            "perfbench/src/**/*"]
    files = {f for p in pats for f in glob.glob(os.path.join(ROOT, p),
                                                recursive=True)}
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Classpath and JVM options, building first if the sources changed."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    launch = os.path.join(BUILD_DIR, f"launch-{h.hexdigest()[:16]}.txt")
    if not os.path.exists(launch):
        sbt = shutil.which("sbt")
        if sbt is None:
            die("sbt not found")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("perfbench: building with sbt")
        r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true",
                            "launchFile"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            die("sbt build failed")
        os.makedirs(BUILD_DIR, exist_ok=True)
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


# --- inputs --------------------------------------------------------------

def _cached(key, make):
    """Directory `key` under .bench_data, made by `make(tmpdir)` once."""
    final = os.path.join(DATA_DIR, key)
    if not os.path.exists(os.path.join(final, ".done")):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        os.rename(tmp, final)
    return final


def tcga_inputs(seed):
    import gen_tcga
    g, n = TCGA_SIZE["genes"], TCGA_SIZE["samples"]
    d = _cached(f"tcga_s{seed}_g{g}_n{n}",
                lambda out: gen_tcga.generate(out, seed, g, n))
    return d, g * n, ["expression", "genes", "samples"]


def corpus_inputs(seed):
    def make(out):
        gen = os.path.join(ROOT, "tools", "gen_testdata.py")
        subprocess.run([sys.executable, gen, "--sf", str(CORPUS_SF),
                        "--seed", str(seed), "--out", os.path.join(out, "all")],
                       check=True, stdout=sys.stderr, stderr=sys.stderr)
        os.makedirs(os.path.join(out, "documents"))
        os.rename(os.path.join(out, "all", "documents.parquet"),
                  os.path.join(out, "documents", "part-00000.parquet"))
        shutil.rmtree(os.path.join(out, "all"))
    d = _cached(f"docs_s{seed}_sf{CORPUS_SF}", make)
    import pyarrow.parquet as pq
    rows = pq.ParquetFile(
        os.path.join(d, "documents", "part-00000.parquet")).metadata.num_rows
    return d, rows, ["documents"]


def input_bytes(data, tables):
    return sum(checks.files_and_bytes(os.path.join(data, t))[1] for t in tables)


# --- one run ---------------------------------------------------------------

def run_jvm(workload, data, seconds, trace, classpath, jvm_opts):
    work = os.path.join(DATA_DIR, "work", workload)
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "record.json")
    cmd = ["java", *jvm_opts, f"-Xmx{HEAP}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--data", data, "--out", out,
           "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--setups", str(SETUPS if not trace else 1),
           "--result", result]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - START[0])))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("benchmark JVM timed out")
    if code != 0 or not os.path.exists(result):
        die(f"benchmark JVM exited with {code}")
    with open(result) as fh:
        return json.load(fh)


def check_outputs(rec, digest_file):
    """(attempted, failed, sink totals per run). An operation fails if it
    raised, if any output fails its check, or if an output's content
    digest differs from the first one seen for it at this seed (kept in
    `digest_file` across runs)."""
    ref = {}
    if os.path.exists(digest_file):
        with open(digest_file) as fh:
            ref = json.load(fh)
    seen = dict(ref)
    ops, bad, sink = [], set(), {}
    for it in rec["iterations"]:
        files = size = 0
        for op in it["ops"]:
            ops.append((it["run"], op["name"], op["error"]))
            if op["error"]:
                log(f"  {op['name']} raised: {op['error']}")
            for o in op["outputs"]:
                problems = checks.check(o["kind"], o["path"], PACK_BUDGET)
                if not problems:
                    key = f"{op['name']}/{os.path.basename(o['path'])}"
                    d = checks.digest(o["kind"], o["path"])
                    if seen.setdefault(key, d) != d:
                        problems = ["digest differs from an earlier run"]
                    n, b = checks.files_and_bytes(o["path"])
                    files, size = files + n, size + b
                if problems:
                    bad.add((it["run"], op["name"]))
                    log(f"  run {it['run']} {op['name']} "
                        f"{os.path.basename(o['path'])}: {problems}")
        sink[it["run"]] = (files, size)
    attempted, failed = stats.failures(ops, bad)
    if failed == 0 and not ref:
        with open(digest_file, "w") as fh:
            json.dump(seen, fh, indent=1, sort_keys=True)
    return attempted, failed, sink


def end_to_end(rec, rows, attempted, failed):
    first = [it for it in rec["iterations"] if it["first"]]
    steady = [it for it in rec["iterations"] if not it["first"]]
    wall = stats.median([it["wall_s"] for it in steady])
    return {
        "setup_s": (stats.median(rec["setup_s"]), "s"),
        "first_run_s": (first[0]["wall_s"], "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "peak_heap_mb": (stats.median([max(it["heap_after_gc_mb"], default=0.0)
                                       for it in steady]), "MB"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
    }


def per_layer(rec, sink):
    """Per-layer metrics: medians over traced iterations of each layer's
    span sums; cache, JVM and job counts from the untraced iterations."""
    traced = [it for it in rec["iterations"] if it["traced"]]
    plain = [it for it in rec["iterations"] if not it["traced"] and not it["first"]]
    spans_by_run = {}
    for s in rec["spans"]:
        spans_by_run.setdefault(s["run"], []).append(s)
    span_run = {s["id"]: s["run"] for s in rec["spans"]}
    stages_by_run = {}
    for st in rec["stages"]:
        stages_by_run.setdefault(span_run.get(st["span"]), []).append(st)

    samples = {name: [] for name, _ in stats.per_layer_units()}
    for it in traced:
        layers, ctr = stats.layer_metrics(spans_by_run.get(it["run"], []),
                                          rec["jobs"],
                                          stages_by_run.get(it["run"], []))
        for layer, ms in layers.items():
            for m, v in ms.items():
                samples[f"{layer}.{m}"].append(v)
        samples["functions.DiffExpression.genes_fit"].append(ctr.get("genes_fit", 0.0))
        samples["functions.DiffExpression.tested_ratio"].append(
            stats.ratio(ctr.get("tested", 0.0), ctr.get("results", 0.0)))
        samples["functions.Normalization.genes_kept_ratio"].append(
            stats.ratio(ctr.get("genes_kept", 0.0), ctr.get("genes_in", 0.0)))
        samples["operators.Dedup.candidate_pairs"].append(ctr.get("candidate_pairs", 0.0))
        samples["operators.Dedup.verified_ratio"].append(
            stats.ratio(ctr.get("verified_pairs", 0.0), ctr.get("candidate_pairs", 0.0)))
        busy = sum(v for layer, ms in layers.items() for m, v in ms.items()
                   if m == "busy_s")
        samples["trace.wall_s"].append(it["wall_s"])
        samples["trace.coverage"].append(busy / it["wall_s"])
    for it in plain:
        ids = {op["span"] for op in it["ops"]}
        jobs = [j for j in rec["jobs"] if j["span"] in ids]
        st = [s for s in rec["stages"] if s["span"] in ids]
        n = len(it["ops"])
        samples["api.jobs"].append(len(jobs) / n)
        samples["api.stages"].append(len(st) / n)
        samples["api.tasks"].append(sum(s["tasks"] for s in st) / n)
        samples["Caches.peak_cached_mb"].append(it["peak_cached_mb"])
        samples["Caches.blocks_live_after_op"].append(
            max(op["blocks_live_after"] for op in it["ops"]))
        samples["jvm.jit_s"].append(it["jit_s"])
        samples["jvm.heap_after_gc_mb"].append(max(it["heap_after_gc_mb"], default=0.0))
        files, size = sink[it["run"]]
        samples["sinks.files_written"].append(files)
        samples["sinks.bytes_written_mb"].append(size / 1048576.0)
    samples["jvm.setup_cold_s"].append(rec["setup_s"][0])
    out = {name: stats.median(samples[name]) if samples[name] else 0.0
           for name, _ in stats.per_layer_units()}
    out["trace.overhead_s"] = out["trace.wall_s"] - stats.median(
        [it["wall_s"] for it in plain])
    return {name: (out[name], unit) for name, unit in stats.per_layer_units()}


def run_workload(workload, seed, seconds, trace, launch):
    START[0] = time.monotonic()
    if workload == "corpus_pretrain":
        data, rows, tables = corpus_inputs(seed)
    else:
        data, rows, tables = tcga_inputs(seed)
    log(f"perfbench: {workload} seed={seed}: {rows} input rows, "
        f"{input_bytes(data, tables)} bytes of parquet")
    rec = run_jvm(workload, data, seconds, trace, *launch)
    attempted, failed, sink = check_outputs(
        rec, os.path.join(data, f"digests-{workload}.json"))
    metrics = per_layer(rec, sink) if trace else end_to_end(
        rec, rows, attempted, failed)
    log(f"perfbench: {workload}: failed_ratio = {failed}/{attempted}")
    for name, (v, unit) in metrics.items():
        log(f"  {name:48s} {v:14.4f} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ["build.sbt", "tools/gen_testdata.py", "src/main/scala/graft"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from a checkout of the repository")
    launch = build()
    for w in ALL if a.workload == "all" else [a.workload]:
        print(json.dumps(run_workload(w, a.seed, a.seconds, a.trace, launch)),
              flush=True)


if __name__ == "__main__":
    main()
