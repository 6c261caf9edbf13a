"""Timer-kind parity (offset / event-time) and Kafka sink record shaping."""

from __future__ import annotations

from datetime import datetime

import pandas as pd

from pyspark.sql import functions as F

from kafka_flow_spark import sinks
from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.operators.tick import TickOption
from kafka_flow_spark.streaming.flow import (
    FlowSpec,
    _make_with_state_fn,
    run_to_parquet_sink,
    stateful_flow,
)
from tests.test_streaming_flow import SCHEMA, write_inputs


def _offset_spec() -> FlowSpec:
    """Running sum per key; an offset-lag tick (gap >= 10) resets it to 0."""
    return FlowSpec(
        key_cols=["key"],
        order_col="seq",
        fold=fold_option(lambda s, rec: (s or 0) + rec["n"]),
        output_schema="key STRING, n INT, kind STRING",
        emit=lambda key, rec, before, after: {"key": key["key"], "n": after, "kind": "fold"},
        tick=TickOption(lambda s: 0),
        tick_emit=lambda key, before, after: {"key": key["key"], "n": before, "kind": "tick"},
        offset_timer_threshold=10,
    )


def test_offset_timer_ticks_on_lag(spark, tmp_path):
    """Offset timers (KafkaTimer.Offset / maxOffsetDifference eviction): the
    tick runs when a key's order column advances >= threshold since
    registration — no wall clock involved."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")

    spec = _offset_spec()
    # seq 1 registers; seq 12 crosses the 10-offset gap -> tick fires (resets),
    # then seq 13 folds onto the reset state
    write_inputs(spark, input_dir, [(1, "a", 5), (12, "a", 7), (13, "a", 1)])
    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    run_to_parquet_sink(stateful_flow(records, spec), chk, out_dir)
    rows = [
        (r["kind"], r["n"])
        for r in sorted(spark.read.parquet(out_dir).collect(), key=lambda r: (r["kind"], r["n"]))
    ]
    assert ("tick", 12) in rows  # state was 5+7 when the tick fired
    assert ("fold", 1) in rows  # post-reset fold: 0 + 1


def test_offset_timer_state_survives_restart(spark, tmp_path):
    """The offset-timer registration offset persists in the state blob across
    checkpointed runs."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    spec = _offset_spec()
    def run_once():
        records = spark.readStream.schema(SCHEMA).parquet(input_dir)
        run_to_parquet_sink(stateful_flow(records, spec), chk, out_dir)

    write_inputs(spark, input_dir, [(1, "a", 5)])  # registers at seq 1
    run_once()
    write_inputs(spark, input_dir, [(11, "a", 2)])  # run 2: crosses the gap
    run_once()
    kinds = {(r["kind"], r["n"]) for r in spark.read.parquet(out_dir).collect()}
    assert ("tick", 7) in kinds  # 5 + 2 folded, then the gap tick fired


class _FakeGroupState:
    """Just enough of pyspark's GroupState to drive ``_make_with_state_fn``."""

    def __init__(self, stored=None):
        self.stored = stored
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.stored is not None

    @property
    def get(self):
        return self.stored

    def update(self, t):
        self.stored = tuple(t)

    def remove(self):
        self.stored = None

    def setTimeoutDuration(self, ms):
        pass

    def setTimeoutTimestamp(self, ms):
        pass


def _fold_group(spec, pdf, stored=None):
    """One key's group — a DataFrame, or a list of the Arrow chunks it arrives
    in — through the executor fn: ((kind, n) rows, stored state).  Needs a
    live session: the fn parses its output DDL on the JVM."""
    state = _FakeGroupState(stored)
    chunks = pdf if isinstance(pdf, list) else [pdf]
    out = pd.concat(list(_make_with_state_fn(spec)(("a",), iter(chunks), state)))
    return [(r["kind"], r["n"]) for r in out.to_dict("records")], state.stored


_GOLDEN = pd.DataFrame({"seq": [1, 12, 13], "key": ["a"] * 3, "n": [5, 7, 1]})


def test_offset_timer_golden_rows_and_envelope(spark):
    """The golden seq 1/12/13 group in one call: seq 12 crosses the gap, the
    tick sees 5+7 and resets, 13 folds onto 0; the stored envelope holds the
    re-registration offset."""
    rows, stored = _fold_group(_offset_spec(), _GOLDEN)
    assert rows == [("fold", 5), ("fold", 12), ("tick", 12), ("fold", 1)]
    assert '"reg": 12' in stored[0]


def test_out_of_order_chunks_fold_in_offset_order(spark):
    """A group split into chunks that arrive out of offset order, or one
    unsorted chunk, still folds in ``order_col`` order: the golden rows and
    stored state, as for the sorted single chunk."""
    spec = _offset_spec()
    golden = _fold_group(spec, _GOLDEN)
    assert golden[0] == [("fold", 5), ("fold", 12), ("tick", 12), ("fold", 1)]
    assert _fold_group(spec, [_GOLDEN.iloc[[2, 0]], _GOLDEN.iloc[[1]]]) == golden
    assert _fold_group(spec, _GOLDEN.iloc[::-1]) == golden


def test_offset_timer_envelope_carries_over_split_runs(spark):
    """The offset-timer registration rides in the stored state envelope, so
    the golden group folded in one call and split across two (seq 1, then
    12 and 13 from the stored state) emit the same rows and state."""
    spec = _offset_spec()
    whole, whole_state = _fold_group(spec, _GOLDEN)
    first, first_state = _fold_group(spec, _GOLDEN.iloc[:1])
    rest, rest_state = _fold_group(spec, _GOLDEN.iloc[1:], first_state)
    assert first + rest == whole
    assert rest_state == whole_state


def test_event_time_timer_fires_on_watermark(spark, tmp_path):
    """Watermark timers (KafkaTimer.Watermark): the tick fires when the stream
    watermark passes last-event-time + gap — driven by event time, not wall
    clock, so it is deterministic."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")

    ev_schema = "ts TIMESTAMP, key STRING, n INT"

    def write(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode("append").parquet(input_dir)

    spec = FlowSpec(
        key_cols=["key"],
        order_col="ts",
        fold=fold_option(lambda s, rec: rec["n"]),
        output_schema="key STRING, n INT, kind STRING",
        emit=lambda key, rec, before, after: {"key": key["key"], "n": rec["n"], "kind": "fold"},
        tick=TickOption(lambda s: None),  # session-expiry analog: delete
        tick_emit=lambda key, before, after: {"key": key["key"], "n": before, "kind": "expired"},
        timeout_ms=60_000,  # 1 minute of event time
        timeout_mode="event",
        event_time_col="ts",
    )

    def run():
        records = spark.readStream.schema(ev_schema).parquet(input_dir)
        run_to_parquet_sink(stateful_flow(records, spec), chk, out_dir)
        return {(r["kind"], r["key"], r["n"]) for r in spark.read.parquet(out_dir).collect()}

    t = lambda m: datetime(2026, 1, 1, 12, m, 0)
    write([(t(0), "a", 7)])
    out1 = run()
    assert ("fold", "a", 7) in out1

    # an event 10 minutes later (other key) pushes the watermark past a's
    # expiry (12:01) -> a's timer fires on the next run, state deleted
    write([(t(10), "b", 8)])
    out2 = run()
    assert ("expired", "a", 7) in out2

    # a returns as a fresh entity
    write([(t(11), "a", 9)])
    out3 = run()
    assert ("fold", "a", 9) in out3


def test_kafka_sink_row_shaping_and_tombstones(spark):
    df = spark.createDataFrame(
        [("a", "s1", False, 0), ("b", None, True, 1)],
        "key STRING, state STRING, deleted BOOLEAN, part INT",
    )
    rows = sinks.to_kafka_rows(
        df,
        key=F.col("key"),
        value=F.col("state").cast("binary"),
        tombstone_when=F.col("deleted"),
        partition=F.col("part"),
    ).collect()
    got = {bytes(r["key"]).decode(): (r["value"], r["partition"]) for r in rows}
    assert got["a"] == (bytearray(b"s1"), 0)
    assert got["b"] == (None, 1)  # tombstone


def test_kafka_snapshot_recovery_read(spark):
    """Compacted-topic recovery: last value per key wins, tombstone drops."""
    log = spark.createDataFrame(
        [("a", b"v1", 1), ("a", b"v2", 5), ("b", b"x", 2), ("b", None, 7)],
        "key STRING, value BINARY, offset BIGINT",
    )
    got = {
        r["key"]: bytes(r["value"])
        for r in sinks.recover_from_kafka_snapshots(log).collect()
    }
    assert got == {"a": b"v2"}
