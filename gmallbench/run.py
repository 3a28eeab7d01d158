#!/usr/bin/env python3
"""gmallbench: end-to-end and per-layer benchmark of the gmall-spark engine.

    python3 gmallbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(src/main/scala) plus the harness (gmallbench/src) into $CARGO_TARGET_DIR
(default .bench_build); later runs reuse the classes while the sources are
unchanged. Each run generates its inputs from --seed, runs the workload in a
fresh JVM at local[nproc], checks every output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 runs the same workload with listeners and spans
and reports the per-layer metrics. See gmallbench/README.md.
"""
import argparse
import bisect
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.parse
import http.client

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402


def spark_jars():
    """The Spark install's jars/ (Spark itself and the Scala compiler)."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("gmallbench: set SPARK_HOME to the Spark installation")
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()
# Spark's default driver heap, fixed (-Xms = -Xmx) so that heap growth does
# not make the peak RSS wander from run to run
JVM_HEAP = "1g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# registry_slice: a fixed, stratified slice. The warehouse half holds the
# paper's twins plus two TPC-H core queries; the corpus/graph half holds the
# iterative and expression-heavy operators.
WAREHOUSE = ["visitor_fix", "uv_first_visits", "bounce_events", "sessionize", "cdc_route",
             "order_wide", "q3_segment_revenue"]
CORPUS = ["pagerank_pages", "dedup_winnow", "gopher_rules"]
# two timed passes after two warm ones: work_s sums both (about 15 s of
# timed work), each query's latency is its median over them; with a third
# pass a steadiness check (48 runs) no longer fits inside an hour
REGISTRY_PASSES = 2

# chain sizes: warm-up files (set-up), drained backlog, paced phase
LOG = dict(warm_rows=1500, backlog_files=50, rows_per_file=150, files_per_trigger=10,
           rate=200, watermark_delay="5 seconds")

RUN_BUDGET_S = 170  # a run (after the build) must end inside 180 s
RUN_START = time.time()
JVMS = []


def log(msg):
    print(f"[gmallbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def build():
    """Compile engine + harness into the build dir unless already current."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise SystemExit("gmallbench: engine sources (src/main/scala) not found; run from the repo root")
    srcs = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "gmallbench")
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", classes, "-classpath", cp] + srcs, check=True, timeout=840,
                   stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


# ------------------------------------------------------------------ JVM

class Jvm:
    """The system under test: one JVM running graft.gmallbench.Harness."""

    def __init__(self, classes, workload, work, cpus, trace):
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + ADD_OPENS + ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
                              "graft.gmallbench.Harness", workload, work, str(cpus), str(trace)])
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.err = open(os.path.join(work, "jvm.log"), "w")
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.err, text=True, cwd=work)
        self.timer = threading.Timer(max(1.0, RUN_START + RUN_BUDGET_S - time.time()), self.kill)
        self.timer.start()
        JVMS.append(self)

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
            self.p.wait()

    def expect(self, prefix):
        for line in self.p.stdout:
            if line.startswith(prefix):
                return line[len(prefix):].strip()
        raise RuntimeError(f"JVM exited before {prefix!r}; see {self.err.name}")

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def finish(self):
        self.expect("@@END")
        rc = self.p.wait()
        self.timer.cancel()
        self.err.close()
        if rc != 0:
            raise RuntimeError(f"JVM exit code {rc}")


def read_json(path):
    with open(path) as f:
        return json.load(f)


def write_params(work, **kv):
    with open(os.path.join(work, "params.txt"), "w") as f:
        for k, v in kv.items():
            f.write(f"{k}={v}\n")


# ------------------------------------------------------------- generator

class OpenLoop:
    """Open-loop load generator: item k is due at t0 + k * period whatever the
    system does; `threads` workers (at most nproc) each own every threads-th
    item and one connection. Lateness = actual start - due time."""

    def __init__(self, n, period_s, threads, send):
        self.n, self.period, self.threads, self.send = n, period_s, threads, send
        self.late_ms, self.post_ms, self.errors = [], [], 0
        self.spans = []  # (k, start, end) of every send, epoch seconds
        self.t0 = None

    def run(self):
        cpu0 = sum(os.times()[:2])
        self.t0 = time.time() + 0.05
        lock = threading.Lock()

        def worker(j):
            late, post, spans, errs = [], [], [], 0
            for k in range(j, self.n, self.threads):
                due = self.t0 + k * self.period
                now = time.time()
                if due > now:
                    time.sleep(due - now)
                start = time.time()
                late.append((start - due) * 1e3)
                try:
                    self.send(k)
                except Exception:
                    errs += 1
                end = time.time()
                post.append((end - start) * 1e3)
                spans.append((k, start, end))
            with lock:
                self.late_ms += late
                self.post_ms += post
                self.spans += spans
                self.errors += errs
        ts = [threading.Thread(target=worker, args=(j,)) for j in range(self.threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        self.cpu_s = sum(os.times()[:2]) - cpu0
        return self.t0


def http_sender(port, lines):
    def send(k):
        # one short-lived connection per record, as app log SDKs send: on a
        # kept-alive connection the collector's two-write response meets
        # delayed ACK and every POST stalls ~40 ms
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        try:
            c.request("POST", "/applog", body="param=" + urllib.parse.quote(lines[k]),
                      headers={"Content-Type": "application/x-www-form-urlencoded",
                               "Connection": "close"})
            r = c.getresponse()
            r.read()
        finally:
            c.close()
        if r.status != 200:
            raise RuntimeError(r.status)
    return send


# ------------------------------------------------------------ workloads

def commit_times(files, ends):
    """Date each sink file by the end of the first trigger that ended at or
    after the file's mtime (the trigger that committed it)."""
    out = {}
    for f in files:
        m = os.stat(f).st_mtime_ns / 1e6
        i = bisect.bisect_left(ends, m)
        out[f] = ends[i] if i < len(ends) else m
    return out


def batch_ends(res, stage):
    return sorted(p["end_ms"] for p in res["progress"][stage])


def parquet_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def read_cols(files, cols):
    import pyarrow.parquet as pq
    for f in files:
        t = pq.read_table(f, columns=cols)
        yield f, [t.column(c).to_pylist() for c in cols]


def run_registry(a, work, classes, cpus, t_setup):
    tables = os.path.join(work, "tables")
    gen.tables(a.seed, tables)
    spool_s = time.time() - t_setup
    write_params(work, warehouse=",".join(WAREHOUSE), corpus=",".join(CORPUS),
                 passes=REGISTRY_PASSES)
    jvm = Jvm(classes, "registry_slice", work, cpus, a.trace)
    jvm.finish()
    res = read_json(os.path.join(work, "result.json"))
    oracle = read_json(os.path.join(work, "oracle_sql.json"))
    mism = M.oracle_compare(tables, os.path.join(work, "results"), oracle,
                            WAREHOUSE + CORPUS)
    failed = set(res["failed"]) | set(mism)
    for k, v in {**res["failed"], **mism}.items():
        log(f"FAILED {k}: {v}")
    secs = list(res["query_s"].values())
    # attempted: each query's oracle check plus its timed runs
    out = dict(attempted=len(secs) * (1 + REGISTRY_PASSES), failed=len(res["failed"]) + len(mism),
               work_s=sum(res["pass_s"]), lat=[s * 1e3 for s in secs], res=res, spool_s=spool_s)
    out["setup_s"] = (res["first_timed_ms"] / 1e3) - t_setup
    out["correct"] = not failed
    return out


def chain_inputs_log(seed, work, paced_s):
    n_warm, n_back = LOG["warm_rows"], LOG["backlog_files"] * LOG["rows_per_file"]
    n_paced = int(LOG["rate"] * paced_s)
    ev = gen.log_events(seed, n_warm + n_back + n_paced + 2)
    lines = ev["lines"]
    gen.write_spool(lines[:n_warm], os.path.join(work, "warm"), n_warm, "a-warm")
    gen.write_spool(lines[n_warm:n_warm + n_back], os.path.join(work, "backlog"),
                    LOG["rows_per_file"], "b-backlog")
    paced = lines[n_warm + n_back:n_warm + n_back + n_paced]
    # sentinels: one page event each, far past every timeout (flush only)
    last = int(ev["ts"][n_warm + n_back + n_paced])
    for i, dt in ((1, 60_000), (2, 120_000)):
        rec = {"common": {"mid": "mid_sentinel", "is_new": "0"},
               "page": {"page_id": "home", "last_page_id": "home"}, "ts": last + dt}
        gen.write_spool([json.dumps(rec)], os.path.join(work, f"sentinel{i}"), 1, f"z-sentinel{i}")
    return ev, paced, n_warm + n_back


def log_drain_local1(a, classes):
    """Single-threaded baseline: the same backlog drained at local[1]."""
    work = os.path.join(ROOT, ".bench_work", "log_chain_local1")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    chain_inputs_log(a.seed, work, paced_s=0)
    write_params(work, files_per_trigger=LOG["files_per_trigger"],
                 backlog_rows=LOG["backlog_files"] * LOG["rows_per_file"],
                 watermark_delay=LOG["watermark_delay"])
    jvm = Jvm(classes, "log_chain", work, 1, 0)
    jvm.expect("@@PACED ")
    jvm.send("DONE")
    jvm.finish()
    res = read_json(os.path.join(work, "result.json"))
    return res["drain_rows"] / res["drain_s"]


def run_log(a, work, classes, cpus, t_setup):
    ev, paced, first_paced = chain_inputs_log(a.seed, work, a.seconds)
    write_params(work, files_per_trigger=LOG["files_per_trigger"],
                 backlog_rows=LOG["backlog_files"] * LOG["rows_per_file"],
                 watermark_delay=LOG["watermark_delay"])
    spool_s = time.time() - t_setup
    jvm = Jvm(classes, "log_chain", work, cpus, a.trace)
    port = int(jvm.expect("@@PACED "))
    gl = OpenLoop(len(paced), 1.0 / LOG["rate"], min(cpus, 4), http_sender(port, paced))
    t0 = gl.run()
    gen_end_ms = time.time() * 1e3
    jvm.send("DONE")
    jvm.finish()
    res = read_json(os.path.join(work, "result.json"))
    n_total = first_paced + len(paced)
    n_ev = {k: v[:n_total] for k, v in ev.items()}
    exp_uv, exp_bounce = gen.expected_log(n_ev)
    paced_base = int(ev["ts"][first_paced])
    # sink rows -> commit times
    p2_ends, p4_ends = batch_ends(res, "p2_split"), batch_ends(res, "p4_uv")
    commit = {}
    seen_p2 = {}
    for d in ("dwd_page_log", "dwd_start_log"):
        files = parquet_files(os.path.join(work, "p2", d))
        ct = commit_times(files, p2_ends)
        for f, (mids, tss) in read_cols(files, ["mid", "ts"]):
            for m, t in zip(mids, tss):
                if m == "mid_sentinel":
                    continue
                seen_p2[t] = seen_p2.get(t, 0) + 1
                commit[t] = max(commit.get(t, 0), ct[f])
    uv_got, bounce_got = {}, {}
    for stage, ends, dest in (("p4", p4_ends, uv_got), ("p5", None, bounce_got)):
        files = parquet_files(os.path.join(work, stage, "out"))
        ct = commit_times(files, ends) if ends else {}
        for f, (mids, tss) in read_cols(files, ["mid", "ts"]):
            for m, t in zip(mids, tss):
                if m == "mid_sentinel":
                    continue
                dest[(m, t)] = dest.get((m, t), 0) + 1
                if ends:
                    commit[t] = max(commit.get(t, 0), ct[f])
    # checks: every event once in the P2 split, P4/P5 equal to the reference
    want_ts = [int(t) for t in ev["ts"][:n_total]]
    want = set(want_ts)
    p2_bad = sum(1 for t in want_ts if seen_p2.get(t, 0) != 1) + \
        sum(1 for t in seen_p2 if t not in want)
    uv_bad = len(set(uv_got) ^ exp_uv) + sum(c - 1 for c in uv_got.values())
    bounce_bad = len(set(bounce_got) ^ exp_bounce) + sum(c - 1 for c in bounce_got.values())
    lat = []
    for t in want_ts[first_paced:]:
        if t in commit:
            lat.append(commit[t] - (t0 * 1e3 + (t - paced_base)))
    # rows the split had not committed two P2 triggers after the generator
    # stopped: non-zero means the paced rate was not sustained
    trig = sorted(p["end_ms"] - p["start_ms"] for p in res["progress"]["p2_split"])
    horizon = gen_end_ms + 2 * trig[len(trig) // 2]
    backlog_end = sum(1 for t in want_ts[first_paced:] if commit.get(t, horizon + 1) > horizon)
    if p2_bad or uv_bad or bounce_bad or res["failed_batches"]:
        log(f"FAILED checks: p2={p2_bad} p4={uv_bad} p5={bounce_bad} batches={res['failed_batches']}")
    attempted = n_total + len(exp_uv) + len(exp_bounce) + len(paced)
    failed = p2_bad + uv_bad + bounce_bad + res["failed_batches"] + gl.errors
    if a.trace:  # the generator's POSTs join the JVM's spans
        with open(os.path.join(work, "spans.jsonl"), "a") as f:
            for k, s0, s1 in sorted(gl.spans):
                f.write(json.dumps({"id": f"post-{k}", "name": f"POST {k}", "parent": 0,
                                    "start_ms": round(s0 * 1e3), "end_ms": round(s1 * 1e3)}) + "\n")
    out = dict(attempted=attempted, failed=failed, correct=failed == 0,
               work_s=res["drain_s"], lat=lat, res=res, gen=gl, gen_cpu_s=gl.cpu_s,
               setup_s=res["first_timed_ms"] / 1e3 - t_setup, spool_s=spool_s,
               backlog_end_rows=backlog_end)
    if a.trace:
        out["local1_rows_per_s"] = log_drain_local1(a, classes)
    return out


RUNNERS = {"registry_slice": run_registry, "log_chain": run_log}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classes = build()
    global RUN_START
    RUN_START = time.time()
    cpus = os.cpu_count() or 4
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_setup = time.time()
    try:
        r = RUNNERS[a.workload](a, work, classes, cpus, t_setup)
    finally:
        for j in JVMS:
            j.timer.cancel()
            j.kill()
    res = r["res"]
    # host noise: CPU that neither the JVM nor the load generator used
    # during the timed window
    noise = dict(loadavg_start=res["loadavg_start"], loadavg_end=res["loadavg_end"],
                 other_cpu_s=max(0.0, res["host_busy_s"] - res["window_cpu_s"] -
                                 r.get("gen_cpu_s", 0.0)),
                 steal_s=res["host_steal_s"])
    log(f"phases: run {time.time() - t_setup:.1f} s, setup {r['setup_s']:.1f} s, "
        f"timed window {(res['window_end_ms'] - res['window_start_ms']) / 1e3:.1f} s")
    log(f"host: {json.dumps(noise)}")
    p50, n50 = M.percentile(r["lat"], 50)
    p99, n99 = M.percentile(r["lat"], 99)
    log(f"latency samples={len(r['lat'])} p50={p50:.1f} ms p99={p99:.1f} ms")
    g = r.get("gen")
    if g is not None:
        log(f"generator: n={len(g.late_ms)} late p50={M.percentile(g.late_ms, 50)[0]:.1f} "
            f"p99={M.percentile(g.late_ms, 99)[0]:.1f} ms, call p50={M.percentile(g.post_ms, 50)[0]:.1f} "
            f"p99={M.percentile(g.post_ms, 99)[0]:.1f} ms, errors={g.errors}")
    e2e = {"setup_s": (r["setup_s"], "s"), "cpu_s": (res["cpu_s"], "s"),
           "rss_peak_mb": (res["rss_peak_mb"], "MB"), "heap_live_mb": (res["heap_live_mb"], "MB")}
    # wall-clock work and latency are kept beside the result, not reported as
    # end-to-end metrics: host steal moves them by more than any bound
    # allows (README, "Spreads")
    wall = {"work_s": r["work_s"], "latency_p50_ms": p50, "latency_p99_ms": p99}
    log(f"wall: {json.dumps(wall)}")
    if a.trace:
        layer = M.layer_metrics(a.workload, work, r, noise)
        out = M.result(r["correct"], r["attempted"], r["failed"], layer)
    else:
        out = M.result(r["correct"], r["attempted"], r["failed"], e2e)
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"e2e": e2e, "wall": wall, "noise": noise, "samples": len(r["lat"])}, f)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
