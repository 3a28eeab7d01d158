#!/usr/bin/env python3
"""Paired A/B runs of gmallbench: a parent checkout against a change.

Usage: tools/ab_pairs.py PARENT_DIR CHANGE_DIR [--pairs N]
           [--workloads log_chain,registry_slice] [--seed0 1] [--out FILE]
           [--jobs]

PARENT_DIR and CHANGE_DIR are two checkouts (`git archive <ref> | tar -x
-C DIR`), each with its own `gmallbench/`. Both are built first, so no
timed run pays the compile. Pair i runs every workload once in each
checkout with seed seed0 + i; the checkout that goes first alternates
between pairs (parent first in even pairs), so a drift of the host moves
both sides alike. Metrics, bounds and directions come from the parent's
BENCHMARK.json (its `end_to_end` list) and the run length from its
`run_seconds`.

Per workload and metric it prints the median and quartiles of each side,
the change's wins (pairs where it beat its own partner) and a verdict:

- gain: the change won at least 9 of every 10 pairs, and its median beats
  the parent's by more than the parent's interquartile range;
- regression: the change's median is worse than the parent's by more than
  the metric's bound (a fraction of the parent's median);
- unresolved: neither.

It also prints each side's share of failed operations. `--out` writes
every run's raw values as JSON. Exits 1 if any metric reads regression.

With `--jobs` it runs no pairs: each checkout runs every workload once
with `--trace 1` (seed seed0) and it prints the Spark jobs of each side,
`exec.jobs` (the whole timed window) for every workload and, for
registry_slice, each query's jobs in the last timed pass (`detail` in
`.bench_work/registry_slice/trace.json`). A query's count is set by its
plan; log_chain's `exec.jobs` also follows how many triggers ran, so it
moves between runs of one checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(values):
    """(q1, median, q3); a single value is its own quartiles."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def wins(parent, change, better):
    """Pairs in which the change beat its partner run."""
    if better == "lower":
        return sum(1 for p, c in zip(parent, change) if c < p)
    return sum(1 for p, c in zip(parent, change) if c > p)


def verdict(parent, change, better, bound):
    """gain / regression / unresolved for paired samples of one metric."""
    q1, med_p, q3 = quartiles(parent)
    med_c = statistics.median(change)
    # positive when the change is better, in the metric's own unit
    gap = med_p - med_c if better == "lower" else med_c - med_p
    if wins(parent, change, better) * 10 >= 9 * len(parent) and gap > q3 - q1:
        return "gain"
    if med_p and -gap / abs(med_p) > bound:
        return "regression"
    return "unresolved"


def build(checkout):
    """Compile a checkout's engine and harness without running a workload."""
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'gmallbench'); import run; run.build()"],
                   cwd=checkout, check=True, timeout=900)


def run_once(checkout, workload, seed, seconds, trace=0):
    """One run's stdout JSON line: {correct, attempted, failed, metrics}."""
    cmd = [sys.executable, "gmallbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def job_counts(result, trace):
    """{label: jobs} of one traced run: `exec.jobs` from its result line and
    each query's jobs from its trace.json `detail`, where it has one."""
    counts = {"exec.jobs": int(result["metrics"]["exec.jobs"]["value"])}
    for q, d in trace.get("detail", {}).items():
        counts[q] = int(d["jobs"])
    return counts


def jobs_report(counts):
    """Table lines of {workload: {"parent": {label: jobs}, "change": ...}}."""
    lines = []
    for w, sides in counts.items():
        par, chg = sides["parent"], sides["change"]
        lines.append(f"{w}: jobs")
        lines.append(f"  {'':<28}{'parent':>8}{'change':>8}{'delta':>8}")
        for label in list(par) + [k for k in chg if k not in par]:
            p, c = par.get(label), chg.get(label)
            delta = f"{c - p:+d}" if p is not None and c is not None else "-"
            lines.append(f"  {label:<28}{'-' if p is None else p:>8}"
                         f"{'-' if c is None else c:>8}{delta:>8}")
    return lines


def traced_jobs(a, bench, workloads):
    """One `--trace 1` run per checkout and workload: their job counts."""
    counts = {w: {} for w in workloads}
    for w in workloads:
        for side in ("parent", "change"):
            checkout = getattr(a, side)
            r = run_once(checkout, w, a.seed0, bench["run_seconds"], trace=1)
            with open(os.path.join(checkout, ".bench_work", w, "trace.json")) as f:
                counts[w][side] = job_counts(r, json.load(f))
    return counts


def report(runs, metrics):
    """Table lines and whether any metric regressed."""
    lines, regressed = [], False
    for w, sides in runs.items():
        n = len(sides["change"])
        lines.append(f"{w}: {n} pairs")
        for side in ("parent", "change"):
            att = sum(r["attempted"] for r in sides[side])
            fail = sum(r["failed"] for r in sides[side])
            lines.append(f"  {side} failed operations: {fail}/{att}")
        lines.append(f"  {'metric':<14}{'parent q1 / med / q3':>30}"
                     f"{'change q1 / med / q3':>30}{'wins':>7}  verdict")
        for m in metrics:
            name = m["name"]
            par = [r["metrics"][name]["value"] for r in sides["parent"]]
            chg = [r["metrics"][name]["value"] for r in sides["change"]]
            v = verdict(par, chg, m["better"], m["bound"])
            regressed |= v == "regression"
            fmt = "{:9.2f} /{:9.2f} /{:9.2f}"
            lines.append(f"  {name:<14}{fmt.format(*quartiles(par)):>30}"
                         f"{fmt.format(*quartiles(chg)):>30}"
                         f"{wins(par, chg, m['better']):>4}/{n:<2}  {v}")
    return lines, regressed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--workloads", default="log_chain,registry_slice")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--jobs", action="store_true",
                    help="print each side's Spark job counts instead of pairs")
    a = ap.parse_args(argv)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    workloads = a.workloads.split(",")
    for d in (a.parent, a.change):
        build(d)
    if a.jobs:
        counts = traced_jobs(a, bench, workloads)
        if a.out:
            with open(a.out, "w") as f:
                json.dump(counts, f, indent=1)
        print("\n".join(jobs_report(counts)))
        return 0
    runs = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            for side in order:
                r = run_once(getattr(a, side), w, a.seed0 + i, bench["run_seconds"])
                runs[w][side].append(r)
                print(f"pair {i + 1} {w} {side}: " +
                      " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.2f}"
                               for m in metrics), file=sys.stderr, flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    lines, regressed = report(runs, metrics)
    print("\n".join(lines))
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
