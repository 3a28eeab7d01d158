#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Runs after `tools/run.sh graft.Verify <sfDir> <outDir>`:
for each query, loads outDir/<name> (Spark parquet) and runs the oracle SQL
from outDir/oracle_sql.json in DuckDB with the fixture tables registered as
views, then compares (columns sorted by name, rows sorted, exact values).

Every top-level CTE runs MATERIALIZED (computed once, same rows): DuckDB
otherwise inlines a CTE at each reference, and the pretrain_prep family's
oracles then exceed any memory limit on the 500-document sf0.01 corpus
("failed to pin block"; 12.5 GiB unbounded). DuckDB also runs under a
memory limit of half the host's RAM and spills to a temp directory under
/tmp, so one oracle cannot exhaust a shared host.
"""
import sys, json, glob, math, os, re, tempfile
import duckdb

CTE_HEAD = re.compile(r"(?m)^(WITH )?(\w+) AS \(")

def materialized(sql: str) -> str:
    return CTE_HEAD.sub(r"\1\2 AS MATERIALIZED (", sql)

def main(sf_dir: str, out_dir: str) -> int:
    with tempfile.TemporaryDirectory(prefix="check_duckdb_", dir="/tmp") as spill:
        return check(sf_dir, out_dir, spill)

def check(sf_dir: str, out_dir: str, spill: str) -> int:
    half_ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    con = duckdb.connect(config={"memory_limit": f"{half_ram_mb}MB",
                                 "temp_directory": spill})
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got_tbl = con.execute(
                f"SELECT * FROM read_parquet({files!r})").arrow()
            exp_tbl = con.execute(materialized(sql)).arrow()
            got = got_tbl.to_pandas()
            exp = exp_tbl.to_pandas()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        # Driver parity: the driver hashes TYPED values, so a DuckDB HUGEINT
        # (windowed SUM(int) -> decimal128 via Arrow) against Spark int64
        # hash-mismatches even when every value compares equal in Python
        # (the pack_sequences round-3 failure). Fail on cross-CATEGORY type
        # divergence; int/float width differences are tolerated by the driver.
        def tcat(t):
            import pyarrow.types as pt
            if pt.is_integer(t): return "int"
            if pt.is_floating(t): return "float"
            if pt.is_decimal(t): return "decimal"
            if pt.is_boolean(t): return "bool"
            if pt.is_string(t) or pt.is_large_string(t): return "str"
            return str(t)
        gt = {f.name: tcat(f.type) for f in got_tbl.schema}
        et = {f.name: tcat(f.type) for f in exp_tbl.schema}
        tbad = [c for c in gt if c in et and gt[c] != et[c]]
        if tbad:
            c = tbad[0]
            print(f"FAIL {name}: type category col={c}: spark={gt[c]} duck={et[c]}")
            n_fail += 1; continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}"); n_fail += 1; continue
        g = got.sort_values(list(got.columns)).reset_index(drop=True)
        e = exp.sort_values(list(exp.columns)).reset_index(drop=True)
        bad = None
        for c in g.columns:
            gv, ev = g[c].tolist(), e[c].tolist()
            for i, (a, b) in enumerate(zip(gv, ev)):
                an = a is None or (isinstance(a, float) and math.isnan(a))
                bn = b is None or (isinstance(b, float) and math.isnan(b))
                if an and bn:
                    continue
                if an != bn or a != b:
                    bad = (c, i, a, b); break
            if bad: break
        if bad:
            c, i, a, b = bad
            print(f"FAIL {name}: col={c} row={i}: spark={a!r} duck={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
