#!/usr/bin/env python3
"""Compare two bench_times.json files (full-line format with `queries`).

Usage: tools/bench_diff.py BEFORE.json AFTER.json [min_sec]
Prints per-query before/after/ratio sorted by absolute delta, plus totals,
then the queries whose per-rep Janino compile counts (`codegen_compiles`)
changed. A query whose rep-2+ compiles rise from 0 is flagged: it now
recompiles inside the timed window, i.e. the codegen cache is under
pressure, whatever the seconds say.
"""
import json
import sys


def load(p):
    with open(p) as f:
        return json.loads(f.readline())


def compile_diff(a, b):
    """(query, before, after, flagged) for each query whose per-rep compile
    list changed; flagged when its rep-2+ compiles rise from 0. Files
    written before the field existed have no `codegen_compiles`: no rows."""
    ca, cb = a.get("codegen_compiles"), b.get("codegen_compiles")
    if ca is None or cb is None:
        return []
    rows = []
    for k in sorted(ca.keys() & cb.keys()):
        if ca[k] != cb[k]:
            flagged = sum(ca[k][1:]) == 0 and sum(cb[k][1:]) > 0
            rows.append((k, ca[k], cb[k], flagged))
    return rows


def main():
    a = load(sys.argv[1])
    b = load(sys.argv[2])
    min_sec = float(sys.argv[3]) if len(sys.argv) > 3 else 0.0
    qa, qb = a["queries"], b["queries"]
    common = [k for k in qa if k in qb and qa[k] >= 0 and qb[k] >= 0]
    rows = [(qa[k] - qb[k], qa[k], qb[k], k) for k in common
            if max(qa[k], qb[k]) >= min_sec]
    # rank by MAGNITUDE so large regressions (negative delta) surface at the
    # top alongside improvements instead of sinking to the table's bottom
    rows.sort(key=lambda r: -abs(r[0]))
    print(f"{'query':34s} {'before':>8s} {'after':>8s} {'delta':>8s} {'ratio':>6s}")
    for d, x, y, k in rows:
        r = y / x if x > 0 else float('inf')
        print(f"{k:34s} {x:8.3f} {y:8.3f} {d:+8.3f} {r:6.2f}")
    ta = sum(qa[k] for k in common)
    tb = sum(qb[k] for k in common)
    print(f"\ncommon {len(common)}: before {ta:.1f}s after {tb:.1f}s "
          f"ratio {tb/ta:.3f}  (before contaminated={a.get('contaminated')}, "
          f"after contaminated={b.get('contaminated')})")
    if "codegen_compiles" not in a or "codegen_compiles" not in b:
        print("\ncodegen_compiles: absent from one file, not compared")
        return
    rows = compile_diff(a, b)
    print(f"\ncodegen_compiles changed on {len(rows)} queries "
          f"({sum(r[3] for r in rows)} flagged: rep 2+ compiles rose from 0)")
    for k, x, y, flagged in rows:
        print(f"{'FLAG ' if flagged else '     '}{k:34s} {x} -> {y}")


if __name__ == "__main__":
    main()
