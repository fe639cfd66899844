"""The repo benchmark: one command, three workloads (see README.md).

    python3 perfbench/run.py --workload mart_sql --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It builds the program from source
(`build.py`), runs one fresh JVM with a private `java.io.tmpdir`, checks
the outputs, prints every metric with its unit and, as its last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones, and the traced run also writes a trace file under
`.bench_build/traces/`.
"""
import argparse
import collections
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_counts.json")
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
JVM_TIMEOUT_S = 165

# Query workloads: graded queries of the program's registry, run once per
# pass in an order the seed permutes. nightly_tick runs NightlyRun ticks.
WORKLOADS = {
    "mart_sql": [
        "q01_scan_project", "q12_upsert_latest_wins", "q15_enrich_join_update",
        "q17_store_day_agg", "q23_topk", "q41_partitioned_write",
        "q52_dsv2_sink_upsert",
    ],
    "text_sim": [
        "q24_dedup_docs", "q30_simhash", "q37_ngram_jaccard_join",
        "q55_ann_lsh", "q78_bm25", "q88_decontam",
    ],
    "nightly_tick": None,
}

# Nominal seconds of one pass on a quiet 4-core box. A run measures a
# fixed number of passes, --seconds / nominal, so every run of a
# workload holds the same ops and its order statistics stay comparable.
NOMINAL_PASS_S = {"mart_sql": 3.9, "text_sim": 6.0, "nightly_tick": 1.8}

UNITS = {
    "setup_s": "s", "cpu_s": "s", "op_cpu_p50_s": "s", "op_cpu_tail_s": "s",
    "rss_peak_mb": "MB", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def gated_units(kind):
    """{name: unit} of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def root_entries():
    return set(os.listdir(os.getcwd()))


def run_jvm(classes, args, tmp, log_path):
    cmd = build.java_command(classes, "perfbench.BenchMain")
    cmd.insert(1, "-Djava.io.tmpdir=" + tmp)
    launch_ms = int(time.time() * 1000)
    cmd += sum((["--" + k, str(v)] for k, v in args.items()), [])
    cmd += ["--launch-ms", str(launch_ms)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(DATA) or not os.path.isfile(EXPECTED):
        fail("benchmark inputs missing under " + HERE)
    try:
        classes = build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e)

    names = WORKLOADS[a.workload]
    passes = max(2, math.ceil(a.seconds / NOMINAL_PASS_S[a.workload]))
    # the cap only bounds a run on a badly overloaded machine
    jargs = {"workload": a.workload, "seed": a.seed, "passes": passes,
             "cap-seconds": 2 * a.seconds, "trace": a.trace}
    if names:
        with open(EXPECTED) as fh:
            counts = json.load(fh)["counts"]
        jargs.update(data=DATA, queries=",".join(names),
                     expect=",".join("%s=%d" % (n, counts[n]["rows"]) for n in names))

    work = os.path.join(build.BUILD, "runs", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_path = os.path.join(work, "result.json")
    spans_path = os.path.join(work, "spans.jsonl")
    log_path = os.path.join(build.BUILD, "last-%s.log" % a.workload)
    jargs.update(out=out_path, spans=spans_path)
    before = root_entries()
    rc = run_jvm(classes, jargs, tmp, log_path)
    res = None
    if rc == 0 and os.path.isfile(out_path):
        with open(out_path) as fh:
            res = json.load(fh)
    spans = []
    if res and a.trace and os.path.isfile(spans_path):
        with open(spans_path) as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
    # hermetic run: the private tmpdir goes, and nothing the program
    # wrote may survive outside it
    shutil.rmtree(work, ignore_errors=True)
    residue = sorted(root_entries() - before)
    if os.path.exists(work):
        residue.append(os.path.relpath(work))
    if res is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail("JVM %s (log %s)" % ("timed out" if rc is None else "exited %s" % rc, log_path), 3)

    report(a, res, spans, residue)


def report(a, res, spans, residue):
    # operations: every timed op, plus the checks made after the loop
    # (nightly_tick's mart oracle)
    timed = res["ops"]
    attempted = len(timed) + res["checks"]
    failed = sum(1 for o in timed if not o["ok"]) + res["failed_checks"]
    failures = collections.Counter("%s: %s" % (n, d) for n, d in res["failures"])
    failures.update("residue left behind: " + r for r in residue)
    tick = a.workload == "nightly_tick"

    print("perfbench workload=%s seed=%d seconds=%d trace=%d cores=%d" % (
        a.workload, a.seed, a.seconds, a.trace, res["cores"]))
    passes = [p for p in res["passes"] if not p["traced"]]
    print("  set-ups (s): %s" % ", ".join("%.3f" % s for s in res["setup_s"]))
    print("  set-up ops (s): %s" % " ".join(
        "%s=%.2f" % (o["name"], o["wall_s"]) for o in res["setup_ops"]))
    print("  passes (wall s / cpu s): %s" % " ".join(
        "%s%.3f/%.2f" % ("T" if p["traced"] else "", p["wall_s"], p["cpu_s"])
        for p in res["passes"]))
    e2e, tails = stats.end_to_end(res)
    gated = gated_units("end_to_end")
    # op_* are per query on the query workloads and per tick on nightly_tick
    word = "tick" if tick else "query"
    for k, v in e2e.items():
        alias = k.replace("op_", word + "_") if k.startswith("op_") else k
        note = " (p%d of n=%d)" % tails[k] if k in tails else ""
        if k == "pass_s" and tick:
            note = " (one pass is one tick)"
        print("  %-14s %-16s %12.4f %-3s %s%s" % (
            k, "[" + alias + "]", v, UNITS[k], "gated" if k in gated else "     ", note))
    print("  %-14s %-16s %12.4f ratio  (%d of %d ops)" % (
        "failed_ratio", "", failed / attempted if attempted else 0.0, failed, attempted))
    for f, n in failures.items():
        print("  FAILED %s%s" % (f, " (x%d)" % n if n > 1 else ""))
    correct = not failures
    print("  correct: %s" % ("yes" if correct else "NO"))

    if a.trace:
        units = gated_units("per_layer")
        layers = stats.per_layer(res, spans)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        for k in sorted(layers):
            print("  %-28s %16.6f %s" % (k, layers[k], units.get(k, "(trace only)")))
        trace_path = write_trace(a, res, spans, layers)
        print("  trace: %s  (tracing overhead %+.1f%% of an untraced pass)" % (
            trace_path, 100 * layers["trace.overhead_ratio"]))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in gated.items()}

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def write_trace(a, res, spans, layers):
    """The span tree and the per-op rows of a traced run, as one file."""
    d = os.path.join(build.BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "%s-seed%d.json" % (a.workload, a.seed))
    self_ms = stats.self_times(spans)
    rows = [{"id": o["id"], "pass": o["pass"], "name": o["name"], "wall_s": o["wall_s"],
             "build_s": o["build_s"], "ok": o["ok"],
             "cpu_s": o["layers"].get("exec.cpu_s", 0.0),
             "scan_bytes": o["layers"].get("scan.bytes", 0.0),
             "shuffle_bytes": o["layers"].get("shuffle.write_bytes", 0.0),
             "jobs": o["layers"].get("driver.jobs", 0.0), "layers": o["layers"]}
            for o in res["ops"] if o["traced"]]
    with open(path, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "per_layer": layers,
                   "ops": rows,
                   "spans": [dict(s, self_ms=self_ms[s["id"]]) for s in spans]}, fh, indent=1)
    return os.path.relpath(path)


if __name__ == "__main__":
    main()
