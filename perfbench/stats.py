"""Arithmetic of the benchmark: medians and spreads, failure counting, and
span self time folded into per-layer metrics. Pure functions over the
record `perfbench.Main` writes; no I/O."""
import statistics

# layers that get spans in the traced run, in report order
SPAN_LAYERS = [
    "sources", "api", "functions.Normalization", "functions.DiffExpression",
    "functions.Stats", "functions.Survival", "operators.Dedup",
    "operators.Components", "operators.Sampling", "sinks", "Caches",
]
# (metric, unit) recorded for every span layer
SPAN_METRICS = [
    ("busy_s", "s"), ("driver_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("fetch_wait_s", "s"), ("spill_mb", "MB"), ("task_skew", "ratio"),
    ("rows_out", "count"),
]
STAGE_SUMS = ["cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
              "fetch_wait_s", "spill_mb"]
# (metric, unit) of one layer only
LAYER_METRICS = [
    ("functions.DiffExpression.genes_fit", "count"),
    ("functions.DiffExpression.tested_ratio", "ratio"),
    ("functions.Normalization.genes_kept_ratio", "ratio"),
    ("operators.Dedup.candidate_pairs", "count"),
    ("operators.Dedup.verified_ratio", "ratio"),
    ("sinks.bytes_written_mb", "MB"),
    ("sinks.files_written", "count"),
    ("Caches.peak_cached_mb", "MB"),
    ("Caches.blocks_live_after_op", "count"),
    ("jvm.jit_s", "s"),
    ("jvm.setup_cold_s", "s"),
    ("jvm.heap_after_gc_mb", "MB"),
    ("api.jobs", "count"),
    ("api.stages", "count"),
    ("api.tasks", "count"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.coverage", "ratio"),
]


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"{layer}.{m}", u) for layer in SPAN_LAYERS for m, u in SPAN_METRICS]
    return out + LAYER_METRICS


def median(xs):
    return statistics.median(xs)


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def failures(ops, bad):
    """(attempted, failed): `ops` are (run, name, error) triples; `bad` is
    the set of (run, name) that failed an output check. An operation that
    both raised and failed a check counts once."""
    failed = {(r, n) for r, n, err in ops if err is not None} | set(bad)
    return len(ops), len(failed)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """Span duration minus the part of it its child spans cover (ms)."""
    return (span["end"] - span["start"]) - union_length(
        _clip([(c["start"], c["end"]) for c in children],
              span["start"], span["end"]))


def driver_time(span, children, jobs):
    """Self time during which no Spark job ran (ms): the span's interval
    minus its children and minus every job's run interval."""
    lo, hi = span["start"], span["end"]
    busy = _clip([(c["start"], c["end"]) for c in children], lo, hi)
    covered = union_length(busy + _clip(
        [(j["start"], j["end"]) for j in jobs], lo, hi))
    return (hi - lo) - covered


def layer_metrics(spans, jobs, stages):
    """Per-layer sums over the spans of one traced run. Times in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_span = {}
    for st in stages:
        by_span.setdefault(st["span"], []).append(st)
    out = {layer: {m: 0.0 for m, _ in SPAN_METRICS} for layer in SPAN_LAYERS}
    counters = {}
    for s in spans:
        for k, v in s["counters"].items():
            counters[k] = counters.get(k, 0.0) + v
        if s["layer"] not in out:
            continue
        m = out[s["layer"]]
        ch = kids.get(s["id"], [])
        m["busy_s"] += self_time(s, ch) / 1000.0
        m["driver_s"] += driver_time(s, ch, jobs) / 1000.0
        m["rows_out"] += s["counters"].get("rows_out", 0.0)
        for st in by_span.get(s["id"], []):
            for k in STAGE_SUMS:
                m[k] += st[k]
            if st["tasks"] >= 2 and st["task_median_s"] > 0:
                m["task_skew"] = max(m["task_skew"],
                                     st["task_max_s"] / st["task_median_s"])
    return out, counters


def ratio(num, den):
    return num / den if den else 0.0
