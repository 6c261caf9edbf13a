"""``batch`` workload: every non-streaming layer in one Spark session.

Each round, on fresh tables, runs one persist-then-recover cycle of
``perfbench.recover`` (journal and snapshot appends, compaction,
snapshot-seeded journal replay) and then one pass over the bench-flagged
registry queries of ``perfbench.queries`` through the noop sink.

Set-up is session start plus one untimed-for-the-metrics round: the cycle on
its own tables and a first query pass that collects every result (its
comparison with the DuckDB oracles is not timed).  Then ``seconds / ROUND_S``
timed rounds run; every round's recovered states are checked against the
reference fold over the whole journal (untimed).
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import queries, recover
from perfbench.harness import Tracer, median, start_session

SIZES = {
    "full": dict(recover=recover.SIZES["full"], sf=queries.SIZES["full"]),
    "smoke": dict(recover=recover.SIZES["smoke"], sf=queries.SIZES["smoke"]),
}
ROUND_S = 6.0  # nominal round time: timed rounds per run = seconds / ROUND_S


def _cycle(spark, inputs: dict, tables: str, tracer: Tracer, acc) -> tuple[list[float], float, float, object]:
    """One persist-then-recover cycle: (per-epoch append latencies,
    persist seconds, recover seconds, recovered states)."""
    t0 = time.perf_counter()
    with tracer.span("persist"):
        lat = recover.persist(spark, inputs, tables, tracer)
    t1 = time.perf_counter()
    with tracer.span("recover"):
        states = recover.recover(spark, inputs, tables, tracer, acc)
    return lat, t1 - t0, time.perf_counter() - t1, states


def run(workload: str, seed: int, seconds: float, tracer: Tracer, work: str, size: str) -> dict:
    from kafka_flow_spark.plans.registry import bench_queries

    missing = set(queries.QUERIES) - set(bench_queries())
    if missing:
        raise RuntimeError(f"not bench-flagged in the registry: {sorted(missing)}")
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    data = os.path.join(work, "tables")
    with tracer.span("generator"):
        inputs = recover.generate(rng, os.path.join(work, "staged"), **cfg["recover"])
        rows = queries.generate(rng, data, cfg["sf"])

    t0 = time.time()
    with tracer.span("setup"):
        with tracer.span("session.start"):
            spark = start_session(work)
        session_s = time.time() - t0
        acc = spark.sparkContext.accumulator(0.0) if tracer.enabled else None
        with tracer.span("warmup"):
            w0 = time.time()
            _, _, _, states = _cycle(spark, inputs, os.path.join(work, "warm_tables"), Tracer(False), None)
            warm_cycle_s = time.time() - w0
        attempted, failed, notes = recover.check(states, inputs["final"])
        first_s, q_failed, q_notes = queries.first_pass(spark, data, tracer)
    setup_s = session_s + warm_cycle_s + first_s
    attempted, failed, notes = attempted + len(queries.QUERIES), failed + q_failed, notes + q_notes

    lat, persist_s, recover_s, passes = [], [], [], []
    fold0 = acc.value if acc is not None else 0.0
    # a fixed number of rounds per run, so the JIT warm-up the rounds see
    # does not depend on how many fit into ``seconds``
    rounds = max(1, round(seconds / ROUND_S))
    for i in range(rounds):
        with tracer.span("round", i=i):
            with tracer.span("cycle", i=i):
                ls, p, r, states = _cycle(spark, inputs, os.path.join(work, f"tables{i}"), tracer, acc)
            with tracer.span("pass", i=i):
                passes.append(queries.one_pass(spark, data, tracer))
        lat += ls
        persist_s.append(p)
        recover_s.append(r)
        with tracer.span("check"):
            n, bad, why = recover.check(states, inputs["final"])
        attempted, failed, notes = attempted + n, failed + bad, notes + why

    query_s = {q: median(p[q] for p in passes) for q in queries.QUERIES}
    queries_s = sum(query_s.values())
    job_s = median(persist_s) + median(recover_s) + queries_s
    records = inputs["records"]
    result = {
        "e2e": {
            "setup_s": setup_s,
            "records_per_s": records / median(recover_s),
            "latency_ms_p50": median(lat) * 1000.0,
            "job_s": job_s,
        },
        "named": {
            "setup_s": (setup_s, "s"),
            "records_per_s": (records / median(recover_s), "rec/s"),
            "persist_s": (median(persist_s), "s"),
            "recover_s": (median(recover_s), "s"),
            "queries_s": (queries_s, "s"),
        },
        "attempted": attempted,
        "failed": failed,
        "notes": notes + [
            f"{rounds} rounds of one persist+recover cycle over {records} journal records and one "
            f"pass over {len(queries.QUERIES)} queries on {rows} input rows",
            f"persist {[round(x, 3) for x in persist_s]} s, recover {[round(x, 3) for x in recover_s]} s, "
            f"passes {[round(sum(p.values()), 3) for p in passes]} s",
        ],
    }
    if tracer.enabled:
        result["layers"] = {
            **recover.layers(tracer, rounds, session_s, acc, fold0),
            **{f"plans.{q}_s": s for q, s in query_s.items()},
        }
    spark.stop()
    return result
