"""Persistence modes (SURVEY.md §7 Phase 2): snapshot log compaction, journal
replay recovery, compression envelope, state-store introspection."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.persistence import compression, journal, registry, snapshots
from kafka_flow_spark.streaming.flow import stateful_flow, run_to_parquet_sink
from tests.test_streaming_flow import SCHEMA, counter_spec, write_inputs

SNAP_SCHEMA = "key STRING, offset BIGINT, value STRING"


def snap_rows(spark, rows):
    return spark.createDataFrame(rows, SNAP_SCHEMA)


def test_snapshot_last_write_wins_and_tombstone(spark, tmp_path):
    d = str(tmp_path / "snap")
    # two writes for key a (offsets 1, 3), one for b, tombstone for c after a value
    snapshots.append_snapshots(
        snap_rows(spark, [("a", 1, "s1"), ("b", 2, "s2"), ("c", 1, "s3")]), d
    )
    snapshots.append_snapshots(snap_rows(spark, [("a", 3, "s9"), ("c", 4, None)]), d)
    latest = {
        r["key"]: (r["offset"], r["value"])
        for r in snapshots.latest_snapshots(spark, d).collect()
    }
    assert latest == {"a": (3, "s9"), "b": (2, "s2")}  # c tombstoned away


def test_snapshot_replayed_epoch_is_idempotent(spark, tmp_path):
    """At-least-once appends: re-appending the same (key, offset) rows does not
    change the compacted view (KafkaPartitionPersistence recovery contract)."""
    d = str(tmp_path / "snap")
    batch = [("a", 5, "s5"), ("b", 5, "s6")]
    snapshots.append_snapshots(snap_rows(spark, batch), d)
    snapshots.append_snapshots(snap_rows(spark, batch), d)  # crash-replay
    latest = sorted(
        (r["key"], r["offset"], r["value"])
        for r in snapshots.latest_snapshots(spark, d).collect()
    )
    assert latest == [("a", 5, "s5"), ("b", 5, "s6")]


def test_snapshot_compaction_rewrites_log(spark, tmp_path):
    d = str(tmp_path / "snap")
    snapshots.append_snapshots(
        snap_rows(spark, [("a", 1, "s1"), ("a", 2, "s2"), ("b", 1, None)]), d
    )
    snapshots.compact_snapshots(spark, d)
    log = spark.read.parquet(d).collect()
    assert len(log) == 1  # only a's latest survives; b's tombstone dropped
    assert (log[0]["key"], log[0]["offset"], log[0]["value"]) == ("a", 2, "s2")
    # compacted log still reads correctly
    latest = snapshots.latest_snapshots(spark, d).collect()
    assert [(r["key"], r["value"]) for r in latest] == [("a", "s2")]
    # the temp-and-swap leaves no side directories behind
    import os

    assert not os.path.exists(d + ".compacting") and not os.path.exists(d + ".old")


def test_snapshot_compaction_never_truncates_source_before_swap(spark, tmp_path):
    """The durability contract: the source log must still be fully present
    when the compacted copy finishes writing (no self-overwrite — a recompute
    from the source mid-job must see the complete log)."""
    d = str(tmp_path / "snap")
    snapshots.append_snapshots(
        snap_rows(spark, [("a", 1, "s1"), ("a", 2, "s2"), ("b", 1, "s3")]), d
    )
    observed = {}
    orig_write = snapshots.latest_snapshots

    def spying_latest(spark_, table_dir, key_cols=("key",)):
        out = orig_write(spark_, table_dir, key_cols)
        # count the source AFTER the compacted plan is built but BEFORE any
        # write: then re-count when the returned df is materialized by the
        # parquet write — the source must be intact both times
        observed["before"] = spark_.read.parquet(table_dir).count()
        return out

    snapshots.latest_snapshots = spying_latest
    try:
        snapshots.compact_snapshots(spark, d)
    finally:
        snapshots.latest_snapshots = orig_write
    assert observed["before"] == 3  # full log visible while compacting
    latest = sorted((r["key"], r["value"]) for r in spark.read.parquet(d).collect())
    assert latest == [("a", "s2"), ("b", "s3")]


JOURNAL_SCHEMA = "key STRING, offset BIGINT, n INT"


def test_journal_replay_rebuilds_state(spark, tmp_path):
    """ReadState (Persistence.scala:178-192): re-fold the ordered journal;
    delete-on-None removes the entity."""
    d = str(tmp_path / "journal")
    journal.append_journal(
        spark.createDataFrame(
            [("a", 1, 1), ("a", 2, 2), ("b", 1, 7), ("c", 1, 3), ("c", 2, 0)],
            JOURNAL_SCHEMA,
        ),
        d,
    )
    fold = fold_option(lambda s, rec: None if rec["n"] == 0 else rec["n"])
    states = journal.replay(
        journal.read_journal(spark, d),
        fold,
        finish=lambda key, s: {"key": key["key"], "state": s},
        output_schema="key STRING, state INT",
    )
    got = {r["key"]: r["state"] for r in states.collect()}
    assert got == {"a": 2, "b": 7}  # c deleted by n=0


def test_journal_replay_offset_dedup(spark, tmp_path):
    """SnapshotFold offset-dedup (#26): replay skips offsets <= snapshot offset
    and duplicate appends of the same offset fold once."""
    d = str(tmp_path / "journal")
    rows = [("a", 1, 10), ("a", 2, 20), ("a", 2, 20), ("a", 3, 30)]
    journal.append_journal(spark.createDataFrame(rows, JOURNAL_SCHEMA), d)
    fold = fold_option(lambda s, rec: (s or 0) + rec["n"])
    states = journal.replay(
        journal.read_journal(spark, d, min_offset_exclusive=1),
        fold,
        finish=lambda key, s: {"key": key["key"], "state": s},
        output_schema="key STRING, state INT",
    )
    assert states.collect()[0]["state"] == 50  # 20 + 30: offset 1 skipped, dup folded once


def test_journal_sink_drains_ttl_flow_and_stops(spark, tmp_path):
    """state_ttl_ms compiles to a processing-time timer, under which an
    availableNow query never ends — journal_sink must see that in the plan it
    writes and drain instead.  A watchdog stops a hung query, so a regression
    fails on time, not hangs."""
    import dataclasses
    import threading
    import time

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    d = str(tmp_path / "journal")
    write_inputs(spark, input_dir, [(1, "a", 1), (2, "b", 2)])
    spec = dataclasses.replace(counter_spec(), state_ttl_ms=60_000)
    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    limit_s = 60
    watchdog = threading.Timer(limit_s, lambda: [q.stop() for q in spark.streams.active])
    watchdog.start()
    t0 = time.monotonic()
    try:
        journal.journal_sink(stateful_flow(records, spec), chk, d)
    finally:
        watchdog.cancel()
    assert time.monotonic() - t0 < limit_s, "the query ran until the watchdog stopped it"
    rows = sorted(tuple(r) for r in spark.read.parquet(d).select("key", "n").collect())
    assert rows == [("a", 1), ("b", 2)]


def test_compression_roundtrip_small_and_large():
    small = b"x" * 10
    large = (json.dumps({"k": list(range(5000))})).encode()
    assert compression.decompress(compression.compress(small)) == small
    assert compression.decompress(compression.compress(large)) == large
    # small stays uncompressed inside the envelope; large shrinks
    assert small in compression.compress(small)
    assert len(compression.compress(large)) < len(large)


def test_compression_legacy_json_sniff():
    legacy = json.dumps({"plain": "json state"}).encode()
    assert compression.decompress(legacy) == legacy  # passes through untouched


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=30000), st.integers(min_value=1, max_value=20000))
def test_compression_roundtrip_property(payload, threshold):
    if payload[:1] == b"{":  # legacy-sniff ambiguity is by design (reference too)
        payload = b"\x00" + payload
    assert compression.decompress(compression.compress(payload, threshold)) == payload


def test_compression_cols(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(b"tiny",), (b"y" * 20000,)], "blob BINARY"
    ).withColumn("env", compression.compress_col(F.col("blob")))
    back = df.withColumn("out", compression.decompress_col(F.col("env"))).collect()
    for r in back:
        assert bytes(r["out"]) == bytes(r["blob"])


def test_state_registry_reads_live_entities(spark, tmp_path):
    """EntityRegistry (#39): the state-store reader exposes per-key live state
    from a flow checkpoint as a batch DataFrame."""
    input_dir = str(tmp_path / "in")
    checkpoint = str(tmp_path / "chk")
    write_inputs(spark, input_dir, [(1, "a", 1), (2, "a", 2), (3, "a", 3), (4, "b", 5)])
    records = spark.readStream.schema("seq BIGINT, key STRING, n INT").parquet(input_dir)
    run_to_parquet_sink(
        stateful_flow(records, counter_spec()), checkpoint, str(tmp_path / "out")
    )
    got = {
        r["key"]: json.loads(r["value"])
        for r in registry.entities(spark, checkpoint).collect()
    }
    assert got == {"a": 3, "b": 5}
    assert json.loads(registry.get_entity(spark, checkpoint, "key", "a")[0]["value"]) == 3
