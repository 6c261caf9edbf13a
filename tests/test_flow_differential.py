"""Differential test: the streaming stateful executor vs a pure-Python
simulator of the reference semantics (ordered per-key fold, delete-on-None,
state persistence across runs), over randomized inputs split across multiple
checkpointed runs at randomized boundaries."""

from __future__ import annotations

import random

from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.streaming.flow import FlowSpec, run_to_parquet_sink, stateful_flow

SCHEMA = "seq BIGINT, key STRING, op STRING, n INT"


def make_step():
    """A state machine with add / set / delete / conditional ops.

    Built as a closure so cloudpickle ships it by value to executors (a
    module-level function in a test file is pickled by reference, and workers
    cannot import the test module)."""

    def step(s, rec):
        if rec["op"] == "add":
            return (s or 0) + rec["n"]
        if rec["op"] == "set":
            return rec["n"]
        if rec["op"] == "del":
            return None
        if rec["op"] == "double_if_over":  # state-dependent transition
            return s * 2 if s is not None and s > rec["n"] else s
        raise AssertionError(rec["op"])

    return step


def simulate(step, records):
    """The reference semantics in plain Python: per-key ordered fold, emit
    (key, before, after) per record, delete-on-None."""
    states: dict = {}
    out = []
    for seq, key, op, n in sorted(records):
        before = states.get(key)
        after = step(before, {"op": op, "n": n})
        out.append((key, seq, before, after))
        if after is None:
            states.pop(key, None)
        else:
            states[key] = after
    return sorted(out), states


def test_randomized_multi_run_equivalence(spark, tmp_path):
    rng = random.Random(1234)
    keys = [f"k{i}" for i in range(7)]
    ops = ["add", "set", "del", "double_if_over"]
    records = [
        (seq, rng.choice(keys), rng.choice(ops), rng.randint(0, 9))
        for seq in range(1, 121)
    ]
    # split into 4 runs at random boundaries (each run = stop + recover)
    cuts = sorted(rng.sample(range(10, 110), 3))
    chunks = [
        records[: cuts[0]],
        records[cuts[0] : cuts[1]],
        records[cuts[1] : cuts[2]],
        records[cuts[2] :],
    ]

    step = make_step()
    spec = FlowSpec(
        key_cols=["key"],
        order_col="seq",
        fold=fold_option(step),
        output_schema="key STRING, seq BIGINT, before INT, after INT",
        emit=lambda key, rec, before, after: {
            "key": key["key"], "seq": rec["seq"], "before": before, "after": after,
        },
    )
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    for chunk in chunks:
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)
        rec_stream = spark.readStream.schema(SCHEMA).parquet(input_dir)
        run_to_parquet_sink(stateful_flow(rec_stream, spec), chk, out_dir)

    got = sorted(
        (r["key"], r["seq"], r["before"], r["after"])
        for r in spark.read.parquet(out_dir).collect()
    )
    expected, final_states = simulate(step, records)
    assert got == expected

    # live state store agrees with the simulator's final states
    import json

    from kafka_flow_spark.persistence import registry

    live = {
        r["key"]: json.loads(r["value"])
        for r in registry.entities(spark, chk).collect()
    }
    assert live == final_states


def test_batch_folds_carry_state_across_arrow_batches(spark):
    """The batch folds (operators.keyed) vs the same simulator, with Arrow
    batches of 3 records so every key's run (5-10 records) spans batch
    boundaries: the fold state must carry over them.  Key ``a`` is deleted
    mid-run and refolds from empty; key ``b`` ends deleted (no final row)."""
    from kafka_flow_spark.operators.keyed import keyed_fold, keyed_fold_final

    rng = random.Random(99)
    runs = {
        "a": [("set", 3), ("add", 2), ("del", 0), ("add", 4), ("add", 1),
              ("double_if_over", 2), ("add", 1)],
        "b": [("set", 5), ("add", 1), ("double_if_over", 1), ("add", 2), ("del", 0)],
    }
    for i in range(6):
        runs[f"k{i}"] = [
            (rng.choice(["add", "set", "double_if_over"]), rng.randint(0, 9))
            for _ in range(rng.randint(5, 10))
        ]
    records = [(seq, key, op, n) for key, ops in runs.items() for seq, (op, n) in enumerate(ops)]
    rng.shuffle(records)
    step = make_step()
    expected, final_states = simulate(step, records)
    assert "a" in final_states and "b" not in final_states

    df = spark.createDataFrame(records, SCHEMA)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        rows = keyed_fold(
            df, ["key"], "seq", fold_option(step),
            "key STRING, seq BIGINT, before INT, after INT",
            lambda key, rec, before, after: {
                "key": key["key"], "seq": rec["seq"], "before": before, "after": after,
            },
        ).collect()
        finals = keyed_fold_final(
            df, ["key"], "seq", fold_option(step), "key STRING, state INT",
            lambda key, s: {"key": key["key"], "state": s},
        ).collect()
    finally:
        spark.conf.set(conf, old)
    assert sorted((r["key"], r["seq"], r["before"], r["after"]) for r in rows) == expected
    assert {r["key"]: r["state"] for r in finals} == final_states
