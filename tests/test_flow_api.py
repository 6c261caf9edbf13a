"""Flow facade + metrics listener + enhanced fold."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from kafka_flow_spark.flow import Flow
from kafka_flow_spark.operators.fold import enhanced_fold, fold_option
from kafka_flow_spark.streaming.flow import FlowSpec
from kafka_flow_spark.streaming.metrics import FlowMetricsListener, attach_metrics
from tests.test_streaming_flow import SCHEMA, write_inputs


def counter_flow_spec(fold):
    return FlowSpec(
        key_cols=["key"],
        order_col="seq",
        fold=fold,
        output_schema="key STRING, state_before INT, n INT",
        emit=lambda key, rec, before, after: {
            "key": key["key"],
            "state_before": before,
            "n": rec["n"],
        },
    )


def test_flow_assembly_end_to_end(spark, tmp_path):
    """source → filter → remap → fold → parquet sink through the facade."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    write_inputs(spark, input_dir, [(1, "a", 1), (2, "a", 2), (3, "b", 0), (4, "b", 4)])

    fold = fold_option(lambda s, rec: rec["n"])
    (
        Flow.from_files(spark, input_dir, SCHEMA)
        .filter(F.col("n") > 0)  # drops (b, 0)
        .remap_key("key", F.upper("key"))
        .fold(counter_flow_spec(fold))
        .to_parquet(out_dir, chk)
    )
    rows = sorted(
        ((r["key"], r["state_before"], r["n"]) for r in spark.read.parquet(out_dir).collect()),
        key=lambda t: (t[0], t[2]),
    )
    assert rows == [("A", None, 1), ("A", 1, 2), ("B", None, 4)]


def test_metrics_listener_collects_progress(spark, tmp_path):
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    listener = attach_metrics(spark)
    try:
        write_inputs(spark, input_dir, [(1, "a", 1), (2, "a", 2)])
        (
            Flow.from_files(spark, input_dir, SCHEMA)
            .fold(counter_flow_spec(fold_option(lambda s, rec: rec["n"])))
            .to_memory("metrics_q", chk)
        )
        # listener events are async; allow delivery
        deadline = time.time() + 10
        while time.time() < deadline:
            m = listener.summary().get("metrics_q")
            if m and m.input_rows >= 2:
                break
            time.sleep(0.2)
        m = listener.summary()["metrics_q"]
        assert m.input_rows == 2
        assert m.batches >= 1
        assert m.total_duration_ms > 0
        assert m.state_rows == 1  # one live key
    finally:
        spark.streams.removeListener(listener)


def test_enhanced_fold_sees_key_extras(spark, tmp_path):
    """EnhancedFold (#10): the fold body reads framework extras (key identity,
    additional-persist hook) alongside state and record."""

    def step(extras, state, rec):
        extras.request_additional_persist()  # no-op under epoch durability
        return f"{extras.key['key']}:{rec['n']}"

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    write_inputs(spark, input_dir, [(1, "a", 1), (2, "b", 2)])
    spec = FlowSpec(
        key_cols=["key"],
        order_col="seq",
        fold=enhanced_fold(step),
        output_schema="key STRING, state STRING",
        emit=lambda key, rec, before, after: {"key": key["key"], "state": after},
    )
    Flow.from_files(spark, input_dir, SCHEMA).fold(spec).to_parquet(out_dir, chk)
    got = {r["key"]: r["state"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"a": "a:1", "b": "b:2"}


def test_fold_with_state_ttl_drains_and_stops(spark, tmp_path):
    """state_ttl_ms compiles to a processing-time timer, under which an
    availableNow query never ends — the facade must drain it instead.  A
    watchdog stops a hung query, so a regression fails on time, not hangs."""
    import dataclasses
    import threading

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    write_inputs(spark, input_dir, [(1, "a", 1), (2, "b", 2)])
    spec = dataclasses.replace(
        counter_flow_spec(fold_option(lambda s, rec: rec["n"])), state_ttl_ms=1000
    )
    limit_s = 60
    watchdog = threading.Timer(limit_s, lambda: [q.stop() for q in spark.streams.active])
    watchdog.start()
    t0 = time.monotonic()
    try:
        Flow.from_files(spark, input_dir, SCHEMA).fold(spec).to_parquet(out_dir, chk)
    finally:
        watchdog.cancel()
    assert time.monotonic() - t0 < limit_s, "the query ran until the watchdog stopped it"
    rows = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    assert rows == [("a", None, 1), ("b", None, 2)]


def test_fold_with_state_ttl_fails_fast_when_the_fold_raises(spark, tmp_path):
    """A timer-bearing flow runs on a drained 200 ms trigger; when its fold
    raises, the query dies before any progress and the drain must stop
    waiting at once and re-raise the fold's error, not poll until its
    120 s deadline first."""
    import dataclasses

    import pytest
    from pyspark.errors import StreamingQueryException

    def failing_fold(s, rec):
        raise ValueError("fold failed on purpose")

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    write_inputs(spark, input_dir, [(1, "a", 1)])
    spec = dataclasses.replace(counter_flow_spec(fold_option(failing_fold)), state_ttl_ms=1000)
    t0 = time.monotonic()
    with pytest.raises(StreamingQueryException, match="fold failed on purpose"):
        Flow.from_files(spark, input_dir, SCHEMA).fold(spec).to_parquet(
            str(tmp_path / "out"), chk
        )
    assert time.monotonic() - t0 < 60, "the fold's error surfaced only at the drain deadline"
