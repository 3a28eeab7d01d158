#!/usr/bin/env python3
"""Compare two bench_times.json files (full-line format with `queries`).

Usage: tools/bench_diff.py BEFORE.json AFTER.json [min_sec] [--base-rerun BEFORE2.json]
Prints per-query before/after/ratio sorted by absolute delta, plus totals,
then the queries whose per-rep Janino compile counts (`codegen_compiles`)
changed. A query whose rep-2+ compiles rise from 0 is flagged: it now
recompiles inside the timed window, i.e. the codegen cache is under
pressure, whatever the seconds say. With `--base-rerun`, a second run of
the base, a query whose compile counts differ between the two base runs
is listed as unstable, neither changed nor flagged.
"""
import json
import sys


def load(p):
    with open(p) as f:
        return json.loads(f.readline())


def unstable_compiles(a, a2):
    """Queries whose per-rep compile lists differ between two base runs."""
    ca, c2 = a.get("codegen_compiles") or {}, a2.get("codegen_compiles") or {}
    return sorted(k for k in ca.keys() & c2.keys() if ca[k] != c2[k])


def compile_diff(a, b, unstable=()):
    """(query, before, after, flagged) for each query whose per-rep compile
    list changed, leaving out the `unstable` ones; flagged when its rep-2+
    compiles rise from 0. Files written before the field existed have no
    `codegen_compiles`: no rows."""
    ca, cb = a.get("codegen_compiles"), b.get("codegen_compiles")
    if ca is None or cb is None:
        return []
    rows = []
    for k in sorted(ca.keys() & cb.keys()):
        if ca[k] != cb[k] and k not in unstable:
            flagged = sum(ca[k][1:]) == 0 and sum(cb[k][1:]) > 0
            rows.append((k, ca[k], cb[k], flagged))
    return rows


def main():
    args = sys.argv[1:]
    a2 = None
    if "--base-rerun" in args:
        i = args.index("--base-rerun")
        a2 = load(args[i + 1])
        del args[i:i + 2]
    a = load(args[0])
    b = load(args[1])
    min_sec = float(args[2]) if len(args) > 2 else 0.0
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
    unstable = unstable_compiles(a, a2) if a2 is not None else []
    rows = compile_diff(a, b, unstable)
    print(f"\ncodegen_compiles changed on {len(rows)} queries "
          f"({sum(r[3] for r in rows)} flagged: rep 2+ compiles rose from 0)")
    for k, x, y, flagged in rows:
        print(f"{'FLAG ' if flagged else '     '}{k:34s} {x} -> {y}")
    if a2 is not None:
        print(f"unstable between the two base runs ({len(unstable)}): "
              f"{', '.join(unstable) or '-'}")


if __name__ == "__main__":
    main()
