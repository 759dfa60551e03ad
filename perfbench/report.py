#!/usr/bin/env python3
"""Run every workload once untraced and once traced, and write the traced-run
artifact: each per-layer metric with its value on the workloads that measure
it, the end-to-end metric and workload it should move, a per-span summary,
and the tracing overhead.

    python3 perfbench/report.py [--seed N] [--out perfbench/results/traced_run.json]

Run it from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} --trace {trace} failed with exit code {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, "work", "results", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return result, json.load(fh)


def span_summary(spans):
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return {name: {"count": len(ss),
                   "wall_s_median": statistics.median(s["wall_s"] for s in ss),
                   "self_s_median": statistics.median(s["self_s"] for s in ss)}
            for name, ss in sorted(by.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(BENCH, "results", "traced_run.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(BENCH, "metrics.json")) as fh:
        layer_map = json.load(fh)
    seconds = spec["run_seconds"]

    env, workloads, values = None, {}, {}
    for w in (w["name"] for w in spec["workloads"]):
        plain, plain_detail = run(w, args.seed, seconds, 0)
        traced, traced_detail = run(w, args.seed, seconds, 1)
        env = {k: traced_detail[k] for k in ("nproc", "max_heap_mb", "spark_version", "jdk_version",
                                             "source_sha", "git_sha")}
        calls = traced_detail["info"]["call_walls_s"]
        traced_calls = calls[0::2]  # every other call of a traced run is traced
        p50_untraced_ms = plain["metrics"]["call_p50_ms"]["value"]
        workloads[w] = {
            "correct": plain["correct"] and traced["correct"],
            "attempted": plain["attempted"] + traced["attempted"],
            "failed": plain["failed"] + traced["failed"],
            "end_to_end_untraced": {k: v["value"] for k, v in plain["metrics"].items()},
            "tracing_overhead": {
                "traced_call_p50_s": statistics.median(traced_calls),
                "untraced_run_call_p50_s": p50_untraced_ms / 1e3,
                "traced_vs_untraced_run_pct":
                    (statistics.median(traced_calls) / (p50_untraced_ms / 1e3) - 1) * 100,
                "in_run_traced_vs_untraced_calls_pct": traced["metrics"]["trace.overhead_pct"]["value"],
                "untraced_run_uptime_s": plain_detail["info"].get("uptime_s.done"),
                "traced_run_uptime_s": traced_detail["info"].get("uptime_s.done"),
            },
            "untraced_calls": plain_detail["info"].get("calls"),
            "untraced_call_tail_percentile": plain_detail["info"].get("call_tail_percentile"),
            "spans": span_summary(traced_detail["spans"]),
        }
        values[w] = {k: v["value"] for k, v in traced["metrics"].items()}

    per_layer = []
    for m in layer_map["per_layer"]:
        per_layer.append({
            "name": m["name"], "unit": m["unit"], "better": m["better"], "layer": m["layer"],
            "what": m["what"], "moves": m["moves"],
            "values": {w: values[w][m["name"]] for w in m["measured_on"]},
        })
    artifact = {
        "about": "Traced run of every workload (python3 perfbench/report.py). Per-layer values are "
                 "medians over the traced calls of one run; 'moves' names the end-to-end metric and "
                 "workload each should move. Tracing overhead compares traced calls with untraced "
                 "calls, within the traced run (calls alternate, the first traced) and against the "
                 "untraced run of the same seed; with only two calls (corpus-prep) the in-run figure "
                 "also carries the JIT warm-up between the first and second call.",
        "seed": args.seed,
        "run_seconds": seconds,
        "env": env,
        "workloads": workloads,
        "per_layer": per_layer,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1)
        fh.write("\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
