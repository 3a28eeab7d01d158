"""Deterministic input generators for gmallbench.

Everything here is a pure function of the workload seed: the same seed gives
byte-identical tables and event streams. Event times sit on a fixed synthetic
clock (BASE_MS plus a constant step per event), so the backlog and the paced
phase form one event-time line; only the wall-clock moment the paced phase
starts differs between runs, and latency is measured against that moment.

Tables mirror the repo's sf0.01 fixture tables (FIXTURES.md): the same
columns, types, row counts and value distributions. FIXTURE_PROFILE holds
figures measured on those fixtures with profile.py; test_gmallbench.py checks
the generated tables against them.
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the fixture's event epoch

WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
COLORS = "blue cold hot large new old red small".split()
THINGS = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click signup error view purchase".split()
LANGS = "en zh de fr es".split()


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _day_ts(rng, n, start, end):
    """Day-precision timestamps (microseconds) uniform in [start, end)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def tables(seed, out_dir):
    """Write the ten fixture tables as parquet under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    n_cust, n_part, n_supp = 1500, 2000, 100
    n_ord, n_line = 15000, 60000
    n_docs, n_vec = 500, 500

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 1)
    put("part", {
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("P", "O", "F")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _day_ts(r, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})
    l_part = r.integers(0, n_part, n_line).astype(np.int64)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    flags = r.integers(0, 3, n_line)
    put("lineitem", {
        "l_orderkey": np.sort(r.integers(0, n_ord, n_line)).astype(np.int64),
        "l_partkey": l_part,
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(r, n_line, "1995-01-02", "2001-11-05")})
    pq.write_table(events_table(seed), os.path.join(out_dir, "events.parquet"))
    lens = r.integers(10, 101, n_docs)
    texts = [" ".join(WORDS[w] for w in r.integers(0, len(WORDS), n)) for n in lens]
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = r.normal(size=(n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vec).astype(np.int32)})


# ---------------------------------------------------------------- log chain

LOG_STEP_MS = 5        # one event every 5 ms of event time (200 events/s)
LOG_REPLAYS = 8        # salted replays: key cardinality = 150 users * 8 salts
SESSION_GAP_MS = 10_000
EVENT_SPAN_US = 30 * 86_400_000_000  # the events table covers 30 days
# how an `events` row renders as an app-log envelope: signup is a launch
# (`start`) record, every other type a page view of one of two pages,
# chosen by props.k
PAGE_OF = {"view": ("home", "good_list"), "click": ("good_detail", "cart"),
           "purchase": ("trade", "payment"), "error": ("mine", "mine")}


def events_table(seed):
    """The sf0.01 `events` table: 10000 rows, ordered timestamps uniform over
    30 days from 2024-01-01, 150 uniform users, uniform event types, value
    exponential with mean 50, props {"k": 0..99} (the fixture's measured
    distributions)."""
    r = _rng(seed, 5)
    n, n_users = 10_000, 150
    ts = np.sort(r.integers(0, EVENT_SPAN_US, n)) + BASE_MS * 1000
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)]})


def log_events(seed, n):
    """The log chain's event sequence: n app-log envelopes in event-time order.

    The input is the seed's `events` table (the one registry_slice reads),
    replayed LOG_REPLAYS times. Replay j salts every mid (`mid_<user>_<salt>`,
    user_id -> mid) and shifts event time cyclically by an offset inside the
    table's 30 days; salts and offsets come from the seed. The merged
    replays, in shifted-time order, are cut to n events and re-spaced onto
    the paced clock: event i has ts = BASE_MS + i * LOG_STEP_MS (the table's
    own spacing, minutes per user, would leave no session state to keep).
    An event is a session entry (empty last_page_id) when its mid was idle
    for more than SESSION_GAP_MS or just launched.

    Returns a dict of per-event lists plus the rendered JSON lines.
    """
    tab = events_table(seed)
    us = tab.column("ts").cast(pa.int64()).to_numpy() - BASE_MS * 1000
    t = tab.select(["user_id", "event_type", "props"]).to_pydict()
    r = _rng(seed, 2)
    salts = r.choice(1000, LOG_REPLAYS, replace=False)
    shifts = r.integers(0, EVENT_SPAN_US, LOG_REPLAYS)
    rows = len(us)
    if n > rows * LOG_REPLAYS:
        raise ValueError(f"log_events: {n} events exceed {LOG_REPLAYS} replays of {rows} rows")
    key = np.concatenate([(us + shifts[j]) % EVENT_SPAN_US for j in range(LOG_REPLAYS)])
    order = np.argsort(key, kind="stable")[:n]
    ts = BASE_MS + np.arange(n, dtype=np.int64) * LOG_STEP_MS
    last_seen, last_page = {}, {}
    mids, lines, is_start, last_pid = [], [], np.zeros(n, bool), [None] * n
    for i, o in enumerate(order):
        j, row = divmod(int(o), rows)
        m, tm = f"mid_{t['user_id'][row]}_{salts[j]}", int(ts[i])
        etype, k = t["event_type"][row], json.loads(t["props"][row])["k"]
        prev = last_seen.get(m)
        common = {"mid": m, "is_new": "1" if prev is None else "0"}
        if etype == "signup":
            is_start[i] = True
            rec = {"common": common, "start": {"entry": "icon"}, "ts": tm}
            last_page.pop(m, None)
        else:
            pid = PAGE_OF[etype][k % 2]
            entry = prev is None or tm - prev > SESSION_GAP_MS
            lp = None if entry else last_page.get(m)
            last_pid[i] = lp
            rec = {"common": common, "page": {"page_id": pid, "last_page_id": lp}, "ts": tm}
            if pid == "good_list":
                rec["displays"] = [{"item": str(k), "pos_id": 1},
                                   {"item": str(k * 7 % 100), "pos_id": 2}]
            last_page[m] = pid
        last_seen[m] = tm
        mids.append(m)
        lines.append(json.dumps(rec, separators=(",", ":")))
    return {"mid": mids, "ts": ts, "is_start": is_start, "last_page_id": last_pid,
            "lines": lines}


def expected_log(ev):
    """Reference results of the log chain's stateful stages, computed by a
    plain per-key scan (the semantics of UniqueVisits and BounceDetect):

    - uv: the first session-entry page of each mid per UTC day;
    - bounce: a session-entry page whose next page event of the same mid is
      missing or more than 10 s later (all pending anchors flushed).
    Both are returned as sets of (mid, ts).
    """
    from collections import defaultdict
    per = defaultdict(list)
    for m, t, s, lp in zip(ev["mid"], ev["ts"], ev["is_start"], ev["last_page_id"]):
        if not s:
            per[m].append((int(t), lp is None))
    uv, bounce = set(), set()
    for m, rows in per.items():
        last_day = ""
        anchor = None
        for t, entry in rows:
            if entry:
                day = str(np.datetime64(t, "ms").astype("datetime64[D]"))
                if day > last_day:
                    last_day = day
                    uv.add((m, t))
            if anchor is not None:
                if t - anchor > 10_000:
                    bounce.add((m, anchor))
                anchor = None
            if anchor is None and entry:
                anchor = t
        if anchor is not None:
            bounce.add((m, anchor))
    return uv, bounce


def write_spool(lines, spool_dir, rows_per_file, prefix):
    """Write lines into immutable spool files of rows_per_file lines each.

    The file stream source orders files by modification time in whole
    milliseconds, so the files get mtimes 10 ms apart in write order; files
    sharing a millisecond would be consumed in arbitrary order."""
    os.makedirs(spool_dir, exist_ok=True)
    names = []
    t = time.time()
    for k in range(0, len(lines), rows_per_file):
        name = f"{prefix}-{k // rows_per_file:05d}.jsonl"
        path = os.path.join(spool_dir, name)
        with open(path, "w") as f:
            f.write("\n".join(lines[k:k + rows_per_file]) + "\n")
        t = max(t + 0.01, time.time())
        os.utime(path, (t, t))
        names.append(name)
    time.sleep(max(0.0, t - time.time()) + 0.01)
    return names
