"""Metric arithmetic, output checks and the result line for gmallbench."""
import glob
import json
import math
import os
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# log_chain's streaming stages
STAGES = ("p2_split", "p4_uv", "p5_bounce")
STAGE_FIELDS = ("batches", "overhead_ms", "add_batch_ms", "rows_per_s", "state_commit_ms",
                "watermark_lag_ms", "late_dropped_rows", "state_rows", "state_bytes")
EXEC_FIELDS = ("jobs", "stages", "tasks", "sched_wait_s", "task_cpu_s", "task_run_s",
               "shuffle_mb", "spill_mb", "gc_s", "peak_exec_mem_mb")

# every per-layer metric, in report order; a layer a workload does not run
# reports 0 there
LAYER_METRICS = (
    ["sources.post_p50_ms", "sources.post_p99_ms", "sources.spool_files",
     "sources.backlog_end_rows", "sources.gen_late_p99_ms"]
    + [f"streaming.{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    + [f"exec.{f}" for f in EXEC_FIELDS] + ["exec.local1_drain_rows_per_s"]
    + ["operators.warehouse_s", "operators.corpus_s", "operators.warehouse_jobs",
       "operators.corpus_jobs", "functions.codegen_fallbacks",
       "session.build_s", "session.warm_s", "session.spool_s",
       "checks.failed_ratio", "host.other_cpu_s",
       "traced.work_s", "traced.latency_p50_ms", "traced.latency_p99_ms", "traced.cpu_s"])


def percentile(values, p):
    """Nearest-rank percentile and the number of samples strictly beyond it.

    Returns (value, beyond). The report rule: a percentile is quoted only
    when `beyond` is at least 10, so p99 needs 1000 samples."""
    if not values:
        return float("nan"), 0
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1], len(s) - k


def check_name(name):
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def result(correct, attempted, failed, metrics):
    """The last stdout line: {correct, attempted, failed, metrics}."""
    out = {}
    for name, (value, unit) in metrics.items():
        v = float(value)
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"metric {name} is not a number: {value}")
        out[check_name(name)] = {"value": v, "unit": unit}
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": out}


def _tcat(t):
    import pyarrow.types as pt
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_decimal(t):
        return "decimal"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    return str(t)


def oracle_compare(tables_dir, results_dir, oracle, names):
    """Compare each query's Spark output with its DuckDB oracle on the same
    tables: same columns, same type category, same rows as a multiset
    (columns sorted by name, rows by value). Returns {name: reason}."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(tables_dir, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    bad = {}
    for name in names:
        sql = oracle.get(name)
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if sql is None:
            bad[name] = "no oracle"
            continue
        if not files:
            bad[name] = "no spark output"
            continue
        try:
            got_t = con.execute(f"SELECT * FROM read_parquet({files!r})").arrow()
            exp_t = con.execute(sql).arrow()
        except Exception as e:  # an oracle or read error is a failed check
            bad[name] = str(e)[:200]
            continue
        gt = {f.name: _tcat(f.type) for f in got_t.schema}
        et = {f.name: _tcat(f.type) for f in exp_t.schema}
        if sorted(gt) != sorted(et):
            bad[name] = f"columns {sorted(gt)} != {sorted(et)}"
            continue
        if any(gt[c] != et[c] for c in gt):
            bad[name] = "type category differs"
            continue
        cols = sorted(gt)

        def rows(t):
            d = t.to_pydict()
            return sorted((tuple(_norm(d[c][i]) for c in cols) for i in range(t.num_rows)),
                          key=repr)
        if rows(got_t) != rows(exp_t):
            bad[name] = "rows differ"
    return bad


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def layer_metrics(workload, work, r, noise):
    """Per-layer figures of a traced run; see LAYER_METRICS."""
    with open(os.path.join(work, "trace.json")) as f:
        tr = json.load(f)
    res = r["res"]
    m = {k: 0.0 for k in LAYER_METRICS}
    for k, v in tr.items():
        if k in m or k.startswith("streaming."):
            m[k] = float(v)
    g = r.get("gen")
    if g is not None:
        if g.post_ms and workload == "log_chain":
            m["sources.post_p50_ms"] = percentile(g.post_ms, 50)[0]
            m["sources.post_p99_ms"] = percentile(g.post_ms, 99)[0]
        m["sources.gen_late_p99_ms"] = percentile(g.late_ms, 99)[0]
        spool = os.path.join(work, "spool")
        m["sources.spool_files"] = float(len([f for f in os.listdir(spool)
                                              if not f.startswith(".")]))
        m["sources.backlog_end_rows"] = float(r.get("backlog_end_rows", 0))
    m["exec.local1_drain_rows_per_s"] = float(r.get("local1_rows_per_s", 0.0))
    m["session.build_s"] = res["session_build_s"]
    m["session.warm_s"] = res.get("warm_s", 0.0)
    m["session.spool_s"] = r.get("spool_s", 0.0)
    m["checks.failed_ratio"] = r["failed"] / r["attempted"]
    m["host.other_cpu_s"] = noise["other_cpu_s"]
    m["traced.work_s"] = r["work_s"]
    m["traced.latency_p50_ms"] = percentile(r["lat"], 50)[0]
    m["traced.latency_p99_ms"] = percentile(r["lat"], 99)[0]
    m["traced.cpu_s"] = res["cpu_s"]
    return {k: (v, unit_of(k)) for k, v in m.items()}


def unit_of(name):
    """A per-layer metric's unit, from its name's suffix."""
    for suffix, unit in (("_per_s", "rows/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_bytes", "bytes"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"
