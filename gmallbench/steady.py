#!/usr/bin/env python3
"""Steadiness check for gmallbench.

    python3 gmallbench/steady.py [--workloads a,b] [--runs 10] [--seed0 1] [--trace-overhead]

Runs each workload `--runs` times with seeds seed0, seed0+1, ..., alternating
the workload order between rounds (a b, b a, ...), and prints for every
end-to-end metric its median, quartiles (statistics.quantiles, n=4) and the
spread (Q3 - Q1) / median against the metric's bound in BENCHMARK.json. A
spread above a third of its bound is flagged. The wall-clock figures each run
keeps beside its result (work_s and the latency percentiles, no bound) and
the host steal time are printed the same way. With --trace-overhead each
round also makes a traced run, and the tool prints tracing overhead: the
traced run's figures against the untraced medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_work", workload, "summary.json")) as f:
        summary = json.load(f)
    return out, summary


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    names = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    vals = {w: {} for w in names}
    traced = {w: {} for w in names}
    for i in range(a.runs):
        order = names if i % 2 == 0 else names[::-1]
        for w in order:
            out, summary = run_once(w, a.seed0 + i, bench["run_seconds"], 0)
            ok = out["correct"] and out["failed"] == 0
            figures = {k: v["value"] for k, v in out["metrics"].items()}
            figures.update(summary["wall"])
            figures["host_steal_s"] = summary["noise"]["steal_s"]
            print(f"run {i} {w}: correct={ok} " + " ".join(
                f"{k}={v:.4g}" for k, v in figures.items()), flush=True)
            for k, v in figures.items():
                vals[w].setdefault(k, []).append(v)
            if a.trace_overhead:
                tout, _ = run_once(w, a.seed0 + i, bench["run_seconds"], 1)
                for k, v in tout["metrics"].items():
                    if k.startswith("traced."):
                        traced[w].setdefault(k[len("traced."):], []).append(v["value"])
    for w in names:
        print(f"\n== {w} ({a.runs} runs)")
        for k, xs in vals[w].items():
            med, q1, q3, s = spread(xs) if len(xs) > 1 else (xs[0], xs[0], xs[0], 0.0)
            b = bounds.get(k)
            flag = "" if b is None or s <= b / 3 else "  <-- above a third of its bound"
            print(f"{k:16s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={s:.3f}"
                  f" bound={b}{flag}")
        for k, xs in traced[w].items():
            base = statistics.median(vals[w][k])
            t = statistics.median(xs)
            print(f"tracing overhead {k}: traced median {t:.4g} vs untraced {base:.4g}"
                  f" ({(t - base) / base:+.1%})")


if __name__ == "__main__":
    main()
