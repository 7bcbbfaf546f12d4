#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM in local[4].

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs the workload
(graftbench.Main) and turns its raw record into metrics. The last line of
stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
The full result, the JVM log and, when traced, the spans are written to
.bench_build/results/. See perfbench/README.md for the metric map.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["quant_universe", "llm_pipeline"]
JVM_TIMEOUT_S = 170

# per-layer metrics: name -> unit; the layer a step belongs to is its name prefix
STEP_METRICS = [
    "ta.overseries", "ta.frames", "ta.patterns", "bt.vectorized", "bt.sequential",
    "etl.align", "pipeline.keep_scrub", "pipeline.cluster", "pipeline.minhash",
    "pipeline.reps_pack", "pipeline.read", "similarity.append",
    "similarity.delete", "similarity.compact", "similarity.batch_query",
]
# steps that run in the warm-up pass only
SETUP_STEPS = ["similarity.write"]
COUNTERS = {
    "spark.plan.analysis_ms": "ms", "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms", "spark.codegen.compile_ms": "ms",
    "spark.codegen.classes": "count", "spark.exec.jobs": "count", "spark.exec.tasks": "count",
    "spark.exec.run_s": "s", "spark.exec.cpu_s": "s", "spark.exec.gc_s": "s",
    "spark.exec.shuffle_write_mb": "MB", "spark.exec.shuffle_read_mb": "MB",
    "spark.exec.spill_mb": "MB", "spark.exec.failed_tasks": "count",
}
FACTS = {
    "pipeline.candidate_pairs": "count", "pipeline.true_pair_share": "ratio",
    "pipeline.dedup_recall": "ratio", "pipeline.dedup_precision": "ratio",
    "pipeline.kept_share": "ratio", "similarity.recall_at_5": "ratio",
    "similarity.index_files": "count", "similarity.index_bytes_per_input_byte": "ratio",
}
SELF_LAYERS = ["ta", "bt", "etl", "pipeline", "similarity", "queries"]


def per_layer_units():
    units = {f"{s}_s": "s" for s in STEP_METRICS}
    units.update(COUNTERS)
    units.update({"spark.exec.idle_core_share": "ratio", "spark.exec.job_s": "s",
                  "queries.build_ms": "ms", "queries.exec_s": "s",
                  "queries.jobs_per_query": "count", "similarity.mutate_s": "s"})
    units.update({f"{s}_s": "s" for s in SETUP_STEPS})
    units.update(FACTS)
    units.update({f"self.{layer}_s": "s" for layer in SELF_LAYERS})
    units.update({"io.gen_s": "s", "io.input_mb": "MB", "trace.pass_s": "s",
                  "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
                  "trace.check_s": "s", "trace.unaccounted_s": "s",
                  "noise.calib_start_ms": "ms", "noise.calib_end_ms": "ms",
                  "noise.gc_ms": "ms", "noise.loadavg": "load",
                  "reads.tail_s": "s", "reads.tail_percentile": "%", "reads.samples": "count",
                  "jvm.peak_rss_mb": "MB"})
    return units


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return (s[-1] if s else 0.0), 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def pass_walls(raw, traced):
    """Pass time without the benchmark's own output checks."""
    return [p["wall_s"] - p["check_s"] for p in raw["passes"] if p["traced"] == traced]


def reads(ops):
    return [o["wall_s"] for o in ops if o["pass"] >= 0 and o["kind"] == "read" and o["ok"]]


def end_to_end(raw, ops):
    setup = raw["session_s"] + median(raw["gen_s"]) + raw["warm_s"]
    m = {
        "setup_s": (setup, "s"),
        "pass_s": (median(pass_walls(raw, False)), "s"),
        "query_p50_s": (median(reads(ops)), "s"),
    }
    notes = {"pass_samples": len(pass_walls(raw, False)), "query_samples": len(reads(ops)),
             "gen_samples": len(raw["gen_s"])}
    return m, notes


def per_layer(raw, ops):
    traced = {p["pass"] for p in raw["passes"] if p["traced"]}
    by_pass = {i: [o for o in ops if o["pass"] == i] for i in traced}
    units = per_layer_units()
    vals = {k: [] for k in units}
    for i, pops in sorted(by_pass.items()):
        wall = sum(o["wall_s"] for o in pops)
        for s in STEP_METRICS:
            vals[f"{s}_s"].append(sum(o["wall_s"] for o in pops if o["name"] == s))
        for c in COUNTERS:
            vals[c].append(sum(o["attrs"].get(c, 0.0) for o in pops))
        run = sum(o["attrs"].get("spark.exec.run_s", 0.0) for o in pops)
        vals["spark.exec.idle_core_share"].append(1 - run / (wall * 4) if wall > 0 else 0.0)
        vals["spark.exec.job_s"].append(sum(o["attrs"].get("job_s", 0.0) for o in pops))
        for layer in SELF_LAYERS:
            vals[f"self.{layer}_s"].append(sum(o["attrs"].get("self_s", 0.0) for o in pops
                                              if o["name"].split(".")[0] == layer))
        mut = [o["wall_s"] for o in pops if o["kind"] == "mutate"]
        vals["similarity.mutate_s"].append(sum(mut))
        p = next(p for p in raw["passes"] if p["pass"] == i)
        vals["trace.check_s"].append(p["check_s"])
        vals["trace.unaccounted_s"].append(p["self_s"] - p["check_s"])
        vals["noise.gc_ms"].append(p["gc_ms"])
    q = [o for o in ops if o["pass"] in traced and o["name"] == "queries"]
    for o in q:
        vals["queries.build_ms"].append(o["attrs"].get("build_ms", 0.0))
        vals["queries.exec_s"].append(o["wall_s"] - o["attrs"].get("build_ms", 0.0) / 1e3)
        vals["queries.jobs_per_query"].append(o["attrs"].get("spark.exec.jobs", 0.0))
    for s in SETUP_STEPS:
        vals[f"{s}_s"] = [o["wall_s"] for o in ops if o["pass"] < 0 and o["name"] == s]
    for f in FACTS:
        vals[f] = [x["value"] for x in raw["facts"] if x["name"] == f and x["pass"] >= 0]
    vals["io.gen_s"] = raw["gen_s"]
    vals["io.input_mb"] = [raw["input_mb"]]
    traced_pass, untraced_pass = median(pass_walls(raw, True)), median(pass_walls(raw, False))
    vals["trace.pass_s"] = [traced_pass]
    vals["trace.untraced_pass_s"] = [untraced_pass]
    vals["trace.overhead_s"] = [traced_pass - untraced_pass]
    vals["noise.calib_start_ms"] = [raw["calib_start_ms"]]
    vals["noise.calib_end_ms"] = [raw["calib_end_ms"]]
    vals["noise.loadavg"] = [float(p["loadavg"].split()[0]) for p in raw["passes"]
                             if p["loadavg"]]
    t, pct = tail(reads(ops))
    vals["reads.tail_s"], vals["reads.tail_percentile"] = [t], [pct]
    vals["reads.samples"] = [len(reads(ops))]
    vals["jvm.peak_rss_mb"] = [raw["peak_rss_mb"]]
    return {k: (median(vals[k]), units[k]) for k in units}, {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build.build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    results = os.path.join(build.BUILD, "results")
    work = os.path.join(build.BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    raw_path = os.path.join(results, f"{tag}.raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    log_path = os.path.join(results, f"{tag}.log")
    with open(log_path, "w") as log:
        try:
            jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace),
                        "--work", work, "--out", raw_path]
            cds = f"-XX:SharedArchiveFile={build.CDS}" if os.path.exists(build.CDS) else "-Xshare:auto"
            r = subprocess.run(build.jvm_cmd(work, jvm_args, cds), stdout=log,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {tag} timed out after {JVM_TIMEOUT_S} s (log {log_path})")
    if r.returncode != 0 or not os.path.exists(raw_path):
        raise SystemExit(f"perfbench: {tag} JVM exited {r.returncode} (log {log_path})")
    with open(raw_path) as fh:
        raw = json.load(fh)

    ops = raw["ops"]
    checks = {}
    if args.workload == "quant_universe":
        checks = oracle.compare(os.path.join(work, "oracle"), raw["input_dir"])
        for o in ops:
            if o["name"] == "queries" and checks.get(o["detail"]) != "ok":
                o["ok"], o["err"] = False, f"oracle: {checks.get(o['detail'])}"
    for p in raw["passes"]:
        p["check_s"] = sum(o.get("check_s", 0.0) for o in ops if o["pass"] == p["pass"])
    failed = [o for o in ops if not o["ok"]]
    metrics, notes = (per_layer if args.trace else end_to_end)(raw, ops)
    correct = not failed and bool(raw["passes"])
    result = {
        "correct": correct, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    full = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                failed_frac=len(failed) / len(ops) if ops else 1.0, notes=notes,
                oracle=checks, failures=[(o["pass"], o["name"], o["detail"], o["err"])
                                         for o in failed],
                passes=raw["passes"], input_mb=raw["input_mb"],
                setup={k: raw[k] for k in ("session_s", "gen_s", "check_prep_s", "warm_s")},
                peak_rss_mb=raw["peak_rss_mb"],
                calib_start_ms=raw["calib_start_ms"], calib_end_ms=raw["calib_end_ms"])
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    if args.trace:
        spans = raw_path.replace(".raw.json", ".raw.spans.json")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(results, f"{tag}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
