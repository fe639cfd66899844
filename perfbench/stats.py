"""Arithmetic of the benchmark: percentiles, the tail rule, span self
times and the assembly of end-to-end and per-layer metrics from one
run's raw measurements (the JSON `BenchMain` writes)."""
import math
import statistics

CORES = 4
TAIL_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank percentile `p` (0 < p <= 100) of `xs`."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p * len(s) / 100.0) - 1)]


def tail(xs):
    """The tail rule: the highest whole percentile in [50, 99] that has
    at least TAIL_BEYOND samples beyond its rank. With fewer than
    2 * TAIL_BEYOND samples no percentile above the median qualifies and
    the median is reported. Returns (p, value, n)."""
    n = len(xs)
    p = 50
    for q in range(99, 50, -1):
        if n - math.ceil(q * n / 100.0) >= TAIL_BEYOND:
            p = q
            break
    return p, percentile(xs, p), n


def _union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of every span: its duration minus the union of its
    children's intervals inside it. Returns {span id: self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(kids, s["start"], s["end"])
    return out


def self_by_kind(spans):
    """Seconds of self time per span kind (op, job, stage)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]] / 1e3
    return out


def end_to_end(res):
    """End-to-end metrics of a run, from its untraced passes. Returns the
    metrics and, per tail metric, the (percentile, n) it was taken at."""
    passes = [p for p in res["passes"] if not p["traced"]]
    ops = [o for o in res["ops"] if not o["traced"]]
    wp, wtail, n = tail([o["wall_s"] for o in ops])
    cp, ctail, _ = tail([o["cpu_s"] for o in ops])
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "op_cpu_p50_s": percentile([o["cpu_s"] for o in ops], 50),
        "op_cpu_tail_s": ctail,
        "rss_peak_mb": res["rss_peak_mb"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": percentile([o["wall_s"] for o in ops], 50),
        "op_tail_s": wtail,
    }, {"op_tail_s": (wp, n), "op_cpu_tail_s": (cp, n)}


# per-layer values that take the maximum over a pass instead of the sum
_MAX_KEYS = {"exec.peak_mem_mb"}


def per_layer(res, spans):
    """Per-layer metrics: the median over traced passes of each layer's
    per-pass total, plus span self times and the tracing overhead."""
    mart = res.get("mart", {})
    by_pass = {}
    for o in res["ops"]:
        if o["traced"]:
            by_pass.setdefault(o["pass"], []).append(o)
    op_pass = {o["id"]: o["pass"] for o in res["ops"] if o["traced"]}
    walls = {p["idx"]: p["wall_s"] for p in res["passes"]}
    spans_by_pass = {}
    for s in spans:
        if s["op"] in op_pass:
            spans_by_pass.setdefault(op_pass[s["op"]], []).append(s)
    rows = []
    for idx, ops in sorted(by_pass.items()):
        row = {}
        for o in ops:
            for k, v in o["layers"].items():
                row[k] = max(row.get(k, 0.0), v) if k in _MAX_KEYS else row.get(k, 0.0) + v
        sk = self_by_kind(spans_by_pass.get(idx, []))
        # the op layer's self time is the driver gap: no job running
        row["driver.gap_s"] = sk.get("op", 0.0)
        row["trace.job_self_s"] = sk.get("job", 0.0)
        row["trace.stage_self_s"] = sk.get("stage", 0.0)
        row["exec.slot_busy_ratio"] = row.get("exec.run_s", 0.0) / (CORES * walls[idx])
        rows.append(row)
    keys = sorted({k for r in rows for k in r})
    out = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
    rows_n = mart.get("rows", 0)
    out["pipeline.mart_files"] = float(mart.get("files", 0))
    out["pipeline.mart_bytes_per_row"] = mart["bytes"] / rows_n if rows_n else 0.0
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced) - 1.0
    return out
