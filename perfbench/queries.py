"""Bench-flagged registry queries (``plans.registry.bench_queries()``)
through the noop sink, under ``session.get_spark`` defaults (part of the
``batch`` workload).

The tables (the TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``, in the column layout ``kafka_flow_spark.tables`` loads) are
generated from the seed with numpy and pyarrow.  Every query's result is
compared with its registered DuckDB oracle, outside the timing.

``QUERIES`` is a fixed subset of the bench-flagged set, one to three per plan
module, sized so a run stays within its time budget; the slowest flagged
queries (MinHash and incremental dedup, k-means, MMR re-rank, LM perplexity)
cost one to several seconds each even on small tables.
"""

from __future__ import annotations

import math
import os
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import Tracer

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_fold_running_totals",
    "q_asof_purchase_click",
    "q_text_stats",
    "q_knn_bruteforce_arrow",
    "q_media_dedup_exact",
    "q_repetition_stats",
    "q_hash_sample",
]
SIZES = {"full": 0.002, "smoke": 0.0005}

WORDS = (
    "the a fast slow key order sort table scan merge part window small big hash join "
    "batch stream spark value line row column filter query agg data customer vector"
).split()
LANGS = (["en"] * 4) + ["zh", "de", "es", "fr"]


def generate(rng, out: str, sf: float) -> int:
    """Write every table under ``out``; returns the total row count."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = max(int(150000 * sf), 50), max(int(10000 * sf), 10), max(int(200000 * sf), 50)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users, n_docs, n_vec = max(int(15000 * sf), 15), max(int(50000 * sf), 100), max(int(50000 * sf), 100)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def dates(start: str, days: int, n):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj, noun = ["blue", "hot", "small", "old", "red", "new", "cold"], ["bolt", "gear", "anvil", "ring", "rod", "plate", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(dates("1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": pa.array(dates("1995-01-02", 2498, n_line), pa.timestamp("us")),
    })
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev).tolist(),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 90))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):  # exact duplicates
        texts[i] = texts[int(rng.integers(0, n_docs))]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 0.125, (n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return sum(table.num_rows for table in t.values())


# --------------------------------------------------------------------------
# oracle comparison: columns by name, rows by value, exact equality


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    return v


def _rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def oracle_result(sql: str, data: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    from kafka_flow_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        res = con.sql(sql)
        return res.columns, res.fetchall()
    finally:
        con.close()


def mismatches(cols: list[str], rows: list, o_cols: list[str], o_rows: list) -> int:
    """Rows that differ between a Spark result and its DuckDB oracle."""
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in o_cols):
        return max(len(o_rows), 1)
    want, got = _rows(o_cols, o_rows), _rows(cols, rows)
    return sum(a != b for a, b in zip(want, got)) + abs(len(want) - len(got))


# --------------------------------------------------------------------------
# the run


def one_pass(spark, data: str, tracer: Tracer) -> dict[str, float]:
    from kafka_flow_spark.cache import release_all
    from kafka_flow_spark.plans.registry import all_queries

    qs = all_queries()
    times = {}
    for name in QUERIES:
        with tracer.span(f"plans.{name}"):
            t0 = time.perf_counter()
            qs[name](spark, data).write.format("noop").mode("overwrite").save()
            times[name] = time.perf_counter() - t0
        release_all()
    return times


def first_pass(spark, data: str, tracer: Tracer) -> tuple[float, int, list[str]]:
    """Collect every query once (timed) and compare each result with its
    DuckDB oracle (untimed).  Returns (Spark seconds, failed queries, notes)."""
    from kafka_flow_spark.cache import release_all
    from kafka_flow_spark.plans.registry import all_oracles, all_queries

    qs, oracles = all_queries(), all_oracles()
    spent, failed, notes = 0.0, 0, []
    for name in QUERIES:
        with tracer.span("warmup", query=name):
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, data)
                cols, rows = df.columns, df.collect()
            except Exception as exc:  # noqa: BLE001 - a failing query counts as failed
                failed += 1
                notes.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            finally:
                spent += time.perf_counter() - t0
                release_all()
        with tracer.span("check", query=name):
            bad = mismatches(cols, rows, *oracle_result(oracles[name], data))
        if bad:
            failed += 1
            notes.append(f"{name}: {bad} rows differ from the DuckDB oracle")
    return spent, failed, notes
