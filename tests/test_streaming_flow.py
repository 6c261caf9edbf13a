"""Golden stateful streaming scenarios (FIXTURES.md §2, §4).

Port of the reference's end-to-end golden test
(persistence-kafka-it-tests/.../StatefulProcessingWithKafkaSpec.scala:214-264):
Input(n) sets state to n, Input(0) deletes state; outputs are
(key, state_before, n); runs are separate queries over one checkpoint to force
persist + recover between them.
"""

from __future__ import annotations

import time

import pytest

from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.operators.tick import TickOption
from kafka_flow_spark.streaming.flow import (
    FlowSpec,
    _drain,
    needs_drain,
    run_to_parquet_sink,
    stateful_flow,
)

SCHEMA = "seq BIGINT, key STRING, n INT"


def counter_spec(timeout_ms=None, tick=None, tick_emit=None) -> FlowSpec:
    def step(state, rec):
        return None if rec["n"] == 0 else rec["n"]

    def emit(key, rec, before, after):
        return {"key": key["key"], "state_before": before, "n": rec["n"]}

    return FlowSpec(
        key_cols=["key"],
        order_col="seq",
        fold=fold_option(step),
        output_schema="key STRING, state_before INT, n INT",
        emit=emit,
        timeout_ms=timeout_ms,
        tick=tick,
        tick_emit=tick_emit,
    )


def run_once(spark, input_dir, checkpoint, name, spec) -> list[tuple]:
    """Run the flow over the current backlog; return only THIS run's outputs.

    The parquet sink accumulates across runs (append); outputs are diffed via
    a snapshot of previously-seen rows, so each run's delta is asserted."""
    out_dir = checkpoint + "__out"
    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    flowed = stateful_flow(records, spec)
    run_to_parquet_sink(flowed, checkpoint, out_dir, available_now=not needs_drain(spec))
    rows = [tuple(r) for r in spark.read.parquet(out_dir).collect()]
    prev = _seen.setdefault(out_dir, [])
    new = rows.copy()
    for r in prev:
        new.remove(r)
    _seen[out_dir] = rows
    return sorted(new, key=lambda t: (t[0], t[2]))  # (key, n) — unique per scenario


_seen: dict[str, list[tuple]] = {}


def write_inputs(spark, input_dir, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)


def test_golden_counter_recovery(spark, tmp_path):
    input_dir = str(tmp_path / "input")
    checkpoint = str(tmp_path / "chk")
    spec = counter_spec()

    # run 1: 1,2,3 → (NULL,1),(1,2),(2,3)
    write_inputs(spark, input_dir, [(1, "a", 1), (2, "a", 2), (3, "a", 3)])
    out1 = run_once(spark, input_dir, checkpoint, "golden_r1", spec)
    assert out1 == [("a", None, 1), ("a", 1, 2), ("a", 2, 3)]

    # run 2: 4,5,6 → recovery continues from State(3)
    write_inputs(spark, input_dir, [(4, "a", 4), (5, "a", 5), (6, "a", 6)])
    out2 = run_once(spark, input_dir, checkpoint, "golden_r2", spec)
    assert out2 == [("a", 3, 4), ("a", 4, 5), ("a", 5, 6)]

    # run 3: 0 → (6,0) and state deleted
    write_inputs(spark, input_dir, [(7, "a", 0)])
    out3 = run_once(spark, input_dir, checkpoint, "golden_r3", spec)
    assert out3 == [("a", 6, 0)]

    # run 4: 9 → (NULL,9) — proves state was removed from persistence
    write_inputs(spark, input_dir, [(8, "a", 9)])
    out4 = run_once(spark, input_dir, checkpoint, "golden_r4", spec)
    assert out4 == [("a", None, 9)]


def test_golden_counter_multi_key_order(spark, tmp_path):
    """Per-key offset order is preserved under interleaved multi-key input."""
    input_dir = str(tmp_path / "input")
    checkpoint = str(tmp_path / "chk")
    spec = counter_spec()
    rows = [(1, "a", 1), (2, "b", 5), (3, "a", 2), (4, "b", 6), (5, "a", 3)]
    write_inputs(spark, input_dir, rows)
    out = run_once(spark, input_dir, checkpoint, "golden_mk", spec)
    assert out == [
        ("a", None, 1),
        ("a", 1, 2),
        ("a", 2, 3),
        ("b", None, 5),
        ("b", 5, 6),
    ]


def test_timer_tick_expires_idle_state(spark, tmp_path):
    """Idle-state expiry: tick fires on processing-time timeout and deletes
    state (TimerFlowOf.unloadOrphaned / session-expiry analog)."""
    input_dir = str(tmp_path / "input")
    checkpoint = str(tmp_path / "chk")
    expired: str = "tick_expired"

    spec = counter_spec(
        timeout_ms=1000,
        tick=TickOption(lambda s: None),  # delete on timer
        tick_emit=lambda key, before, after: {
            "key": key["key"],
            "state_before": before,
            "n": -1,  # sentinel marking a timer-driven output
        },
    )

    # Micro-batch wall-clock is jittery, so the tick may fire during run 1's
    # drain or after restart in run 2 (timer recovered from the checkpoint) —
    # both are correct; assert the semantics, not the batch placement.
    write_inputs(spark, input_dir, [(1, "a", 7)])
    out1 = run_once(spark, input_dir, checkpoint, f"{expired}_r1", spec)
    assert ("a", None, 7) in out1

    time.sleep(1.5)  # let key 'a' pass its timeout while the query is down
    write_inputs(spark, input_dir, [(2, "b", 8)])
    out2 = run_once(spark, input_dir, checkpoint, f"{expired}_r2", spec)
    assert ("b", None, 8) in out2
    # the tick fired exactly once, in run 1 or run 2
    assert (out1 + out2).count(("a", 7, -1)) == 1

    # key a's state was deleted by the tick → a new record sees empty state
    write_inputs(spark, input_dir, [(3, "a", 9)])
    out3 = run_once(spark, input_dir, checkpoint, f"{expired}_r3", spec)
    assert ("a", None, 9) in out3


def test_state_ttl_evicts_idle_key_without_tick(spark, tmp_path):
    """state_ttl_ms (unloadOrphaned, #19): an idle key's state is GONE after
    the TTL with no tick declared — zero user timer code."""
    import dataclasses

    input_dir = str(tmp_path / "input")
    checkpoint = str(tmp_path / "chk")
    spec = dataclasses.replace(counter_spec(), state_ttl_ms=1000)

    write_inputs(spark, input_dir, [(1, "a", 7)])
    out1 = run_once(spark, input_dir, checkpoint, "ttl_r1", spec)
    assert ("a", None, 7) in out1

    time.sleep(1.5)  # idle past the TTL while the query is down
    # run 2 processes only key 'b' — batches where 'a' is idle let the
    # (checkpoint-recovered) TTL timer fire and evict 'a'
    write_inputs(spark, input_dir, [(2, "b", 8)])
    out2 = run_once(spark, input_dir, checkpoint, "ttl_r2", spec)
    assert ("b", None, 8) in out2
    # eviction emitted nothing (no tick_emit): TTL is silent deletion
    assert all(n != -1 for (_, _, n) in out1 + out2)

    # new record for 'a': the fold must see empty state (None)
    write_inputs(spark, input_dir, [(3, "a", 9)])
    out3 = run_once(spark, input_dir, checkpoint, "ttl_r3", spec)
    assert ("a", None, 9) in out3, f"state survived the TTL: {out3}"


def test_state_ttl_conflicts_with_custom_timers(spark, tmp_path):
    """TTL emulation on this path owns the single processing-time timer —
    combining it with user timers must fail loudly, not drop one of them."""
    import dataclasses

    import pytest as _pytest

    spec = dataclasses.replace(
        counter_spec(timeout_ms=500, tick=TickOption.identity()), state_ttl_ms=1000
    )
    records = spark.readStream.schema(SCHEMA).parquet(str(tmp_path))
    with _pytest.raises(ValueError, match="state_ttl_ms"):
        stateful_flow(records, spec)


def test_filter_record(spark, tmp_path):
    """FilterRecord (#7): dropped records don't reach the fold but the stream
    still progresses (offsets commit past them)."""
    input_dir = str(tmp_path / "input")
    checkpoint = str(tmp_path / "chk")
    spec = counter_spec()
    spec.filter_record = lambda rec: rec["n"] % 2 == 1  # odds only

    write_inputs(spark, input_dir, [(1, "a", 1), (2, "a", 2), (3, "a", 3)])
    out = run_once(spark, input_dir, checkpoint, "filter_rec", spec)
    assert out == [("a", None, 1), ("a", 1, 3)]


class _BusyQuery:
    """A streaming query whose micro-batches never stop reading input."""

    def __init__(self):
        self.stopped = False

    @property
    def recentProgress(self):
        return [{"numInputRows": 5}] * 3

    def stop(self):
        self.stopped = True

    def awaitTermination(self):
        pass


def test_drain_raises_at_deadline_after_stopping():
    """A drain that runs out of time must not pass for a finished run: the
    query is stopped (graceful shutdown) and the caller gets TimeoutError."""
    q = _BusyQuery()
    with pytest.raises(TimeoutError):
        _drain(q, available_now=False, timeout_s=0.3)
    assert q.stopped
