#!/usr/bin/env python3
"""Distribution profile of a directory of fixture-shaped parquet tables.

    python3 gmallbench/fixture_profile.py <tables_dir>

Prints one JSON object of named figures (row counts, key cardinalities,
category shares, value quantiles, document lengths and vocabulary). gen.py's
tables are calibrated against FIXTURE, the profile of the repo's sf0.01
fixture tables (FIXTURES.md, seed 42) as this tool printed it;
test_gmallbench.py checks a generated set against it within TOLERANCE.
"""
import json
import os
import sys

FIGURES = {
    "customer.rows": "SELECT count(*) FROM customer",
    "supplier.rows": "SELECT count(*) FROM supplier",
    "part.rows": "SELECT count(*) FROM part",
    "orders.rows": "SELECT count(*) FROM orders",
    "lineitem.rows": "SELECT count(*) FROM lineitem",
    "events.rows": "SELECT count(*) FROM events",
    "documents.rows": "SELECT count(*) FROM documents",
    "embeddings.rows": "SELECT count(*) FROM embeddings",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.span_days": "SELECT (epoch(max(ts)) - epoch(min(ts))) / 86400 FROM events",
    "events.signup_share": "SELECT avg(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) FROM events",
    "events.view_share": "SELECT avg(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) FROM events",
    "events.value_mean": "SELECT avg(value) FROM events",
    "events.value_p50": "SELECT quantile_cont(value, 0.5) FROM events",
    "events.value_p90": "SELECT quantile_cont(value, 0.9) FROM events",
    "events.props_k_distinct": "SELECT count(DISTINCT props) FROM events",
    "events.per_user_p50": "SELECT quantile_cont(n, 0.5) FROM "
                           "(SELECT count(*) n FROM events GROUP BY user_id)",
    "documents.words_min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "documents.words_p50": "SELECT quantile_cont(len(string_split(text, ' ')), 0.5) FROM documents",
    "documents.words_max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "documents.vocab": "SELECT count(DISTINCT w) FROM "
                       "(SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents.distinct_texts": "SELECT count(DISTINCT text) FROM documents",
    "documents.en_share": "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
    "customer.acctbal_mean": "SELECT avg(c_acctbal) FROM customer",
    "part.names": "SELECT count(DISTINCT p_name) FROM part",
    "part.retail_mean": "SELECT avg(p_retailprice) FROM part",
    "orders.totalprice_mean": "SELECT avg(o_totalprice) FROM orders",
    "orders.customers": "SELECT count(DISTINCT o_custkey) FROM orders",
    "lineitem.per_order_p50": "SELECT quantile_cont(n, 0.5) FROM "
                              "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)",
    "lineitem.quantity_mean": "SELECT avg(l_quantity) FROM lineitem",
    "lineitem.discount_mean": "SELECT avg(l_discount) FROM lineitem",
}

FIXTURE = {
    "customer.rows": 1500, "supplier.rows": 100, "part.rows": 2000, "orders.rows": 15000,
    "lineitem.rows": 60000, "events.rows": 10000, "documents.rows": 500,
    "embeddings.rows": 500, "events.users": 150, "events.span_days": 29.998,
    "events.signup_share": 0.2017, "events.view_share": 0.1982, "events.value_mean": 49.63,
    "events.value_p50": 34.59, "events.value_p90": 113.29, "events.props_k_distinct": 100,
    "events.per_user_p50": 66.5, "documents.words_min": 10, "documents.words_p50": 56,
    "documents.words_max": 99, "documents.vocab": 31, "documents.distinct_texts": 500,
    "documents.en_share": 0.436, "documents.sources": 20, "customer.acctbal_mean": 4495.7,
    "part.names": 64, "part.retail_mean": 949.95, "orders.totalprice_mean": 250563.0,
    "orders.customers": 1500, "lineitem.per_order_p50": 4.0, "lineitem.quantity_mean": 25.40,
    "lineitem.discount_mean": 0.0499,
}
# relative tolerance per figure; row counts, cardinalities and ranges are exact
TOLERANCE = {k: 0.1 for k in ("events.signup_share", "events.view_share",
                              "events.value_mean", "events.value_p50", "events.value_p90",
                              "events.per_user_p50", "documents.words_p50",
                              "documents.en_share", "customer.acctbal_mean",
                              "orders.totalprice_mean", "lineitem.quantity_mean",
                              "lineitem.discount_mean")}
TOLERANCE.update({"events.span_days": 0.01, "part.retail_mean": 0.01,
                  "documents.words_max": 0.02})


def profile(tables_dir):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, f)}'")
    return {k: float(con.execute(q).fetchone()[0]) for k, q in FIGURES.items()}


def differences(got, want=FIXTURE):
    """Figures of `got` outside their tolerance around `want`."""
    bad = {}
    for k, w in want.items():
        tol = TOLERANCE.get(k, 0.0)
        if abs(got[k] - w) > tol * abs(w) + 1e-9:
            bad[k] = (got[k], w)
    return bad


if __name__ == "__main__":
    print(json.dumps(profile(sys.argv[1]), indent=1))
