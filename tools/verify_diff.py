#!/usr/bin/env python3
"""Compare two graft.Verify output directories: a change against its base.

Usage: tools/verify_diff.py <baseVerifyDir> <changeVerifyDir>

For every query, the Spark parquet output must hold the same rows in both
directories: columns are taken by name, types must match, and the rows are
compared as sorted multisets of exact values (NaN equals NaN). For every
key of oracle_sql.json the SQL text is compared byte for byte; changed,
added and removed keys are listed. Exits 1 if any query's rows, columns
or presence differ, else 0; oracle text changes are reported but do not
fail, since a change may alter an oracle on purpose.
"""
import glob
import json
import os
import sys

import duckdb


def queries(d):
    return {os.path.basename(p) for p in glob.glob(os.path.join(d, "*"))
            if os.path.isdir(p)}


def table(con, d, name):
    """(sorted [(column, type)], sorted row reprs) of one query's output."""
    files = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
    if not files:
        return None
    src = f"read_parquet({files!r})"
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    sel = ", ".join('"' + c.replace('"', '""') + '"' for c, _ in cols)
    rows = sorted(repr(r) for r in con.execute(f"SELECT {sel} FROM {src}").fetchall())
    return cols, rows


def diff_rows(base, change):
    """None when equal, else a one-line reason."""
    if base is None or change is None:
        return "no output in " + ("base" if base is None else "change")
    (bc, br), (cc, cr) = base, change
    if bc != cc:
        return f"columns {bc} != {cc}"
    if len(br) != len(cr):
        return f"rows {len(br)} != {len(cr)}"
    for a, b in zip(br, cr):
        if a != b:
            return f"first differing sorted row: {a} != {b}"
    return None


def oracles(d):
    with open(os.path.join(d, "oracle_sql.json"), encoding="utf-8") as f:
        return json.load(f)


def diff_oracles(base, change):
    """(changed, added, removed) key lists between two oracle_sql maps."""
    changed = sorted(k for k in base.keys() & change.keys() if base[k] != change[k])
    return changed, sorted(change.keys() - base.keys()), sorted(base.keys() - change.keys())


def main(base_dir, change_dir):
    con = duckdb.connect()
    n_same = n_diff = 0
    for name in sorted(queries(base_dir) | queries(change_dir)):
        why = diff_rows(table(con, base_dir, name), table(con, change_dir, name))
        if why:
            print(f"DIFF {name}: {why}")
            n_diff += 1
        else:
            n_same += 1
    print(f"rows: {n_same} identical, {n_diff} differ")
    changed, added, removed = diff_oracles(oracles(base_dir), oracles(change_dir))
    for label, keys in (("changed", changed), ("added", added), ("removed", removed)):
        print(f"oracle_sql {label} ({len(keys)}): {', '.join(keys) if keys else '-'}")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
