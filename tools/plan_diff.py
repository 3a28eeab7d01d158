#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories: a change against its base.

Usage: tools/plan_diff.py <base> <change> [--base-rerun <dir>]

Each directory holds one `<query>.txt` formatted plan per registry query.
Before the compare, the ids that differ between runs of the same classes
are stripped: expression ids (`#123`), `plan_id`s, RDD ids and the source
lines of localCheckpoint RDDs, JVM lambda class numbers
(`Multimodal$$$Lambda$6031/0x00007f46653d2000`) and object identity hashes
(`TopK@1a2b`).
With `--base-rerun`, a second PlanDump of the base, a query whose two base
plans differ is listed as unstable, not as changed. Prints the identical,
changed, unstable, added and removed queries; exits 1 if any query
changed, was added or was removed, else 0.
"""
import os
import re
import sys

STRIP = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(\.scala):\d+"), r"\1:"),
    (re.compile(r"(\$Lambda)\$\d+/0x[0-9a-f]+"), r"\1"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
]


def normalize(plan):
    for pattern, repl in STRIP:
        plan = pattern.sub(repl, plan)
    return plan


def plans(d):
    """{query: normalized plan} of one PlanDump directory."""
    out = {}
    for f in os.listdir(d):
        if f.endswith(".txt"):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                out[f[:-len(".txt")]] = normalize(fh.read())
    return out


def compare(base, change, rerun=None):
    """(identical, changed, unstable, added, removed) sorted query lists."""
    identical, changed, unstable = [], [], []
    for q in sorted(base.keys() & change.keys()):
        if rerun is not None and rerun.get(q) != base[q]:
            unstable.append(q)
        elif base[q] == change[q]:
            identical.append(q)
        else:
            changed.append(q)
    return (identical, changed, unstable,
            sorted(change.keys() - base.keys()), sorted(base.keys() - change.keys()))


def main(argv):
    args = list(argv)
    rerun_dir = None
    if "--base-rerun" in args:
        i = args.index("--base-rerun")
        if i + 1 >= len(args):
            print(__doc__.strip().splitlines()[2], file=sys.stderr)
            return 2
        rerun_dir = args[i + 1]
        del args[i:i + 2]
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    base, change = plans(args[0]), plans(args[1])
    rerun = plans(rerun_dir) if rerun_dir else None
    identical, changed, unstable, added, removed = compare(base, change, rerun)
    print(f"plans: {len(identical)} identical, {len(changed)} changed, "
          f"{len(unstable)} unstable")
    for label, qs in (("changed", changed), ("unstable", unstable),
                      ("added", added), ("removed", removed)):
        print(f"{label} ({len(qs)}): {', '.join(qs) or '-'}")
    return 1 if changed or added or removed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
