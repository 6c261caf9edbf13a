"""Golden stream→maintain→restart→maintain scenarios for the materialized-view
sinks (streaming/materialize.py) — the StatefulProcessingWithKafkaSpec restart
pattern (persistence-kafka-it-tests/.../StatefulProcessingWithKafkaSpec.scala:
214-264) applied to relational views: separate queries over ONE checkpoint
force persist + recover between runs, and the maintained view must equal a
full recompute over everything ever streamed."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_flow_spark.streaming.materialize import (
    MaterializedAggView,
    MaterializedJoinView,
    run_view_sink,
)

EVENT_SCHEMA = "k STRING, v DOUBLE"
CDC_SCHEMA = "pk BIGINT, k STRING, v DOUBLE, status STRING"
FACT_CDC_SCHEMA = "pk BIGINT, fk BIGINT, qty DOUBLE, status STRING"


def _write(spark, input_dir, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        input_dir
    )


def _run(spark, input_dir, schema, sink, checkpoint):
    stream = spark.readStream.schema(schema).parquet(input_dir)
    run_view_sink(stream, sink, checkpoint)


def _result_rows(sink, spark):
    return {
        tuple(r)
        for r in sink.result(spark)
        .select("k", "n_rows", "sum_v", "min_v", "max_v")
        .collect()
    }


def _recompute_rows(df):
    return {
        tuple(r)
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }


def test_agg_view_append_stream_restart_equals_recompute(spark, tmp_path):
    """Append-only stream: two separate runs over one checkpoint; after each
    run the maintained aggregate equals a direct groupBy over ALL input so
    far — state persisted at stop and recovered at restart."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    sink = MaterializedAggView(str(tmp_path / "view"), ["k"], "v")

    _write(spark, input_dir, [("a", 1.25), ("a", 2.0), ("b", 10.0)], EVENT_SCHEMA)
    _run(spark, input_dir, EVENT_SCHEMA, sink, chk)
    assert _result_rows(sink, spark) == _recompute_rows(
        spark.read.parquet(input_dir)
    )

    # restart: new backlog, same checkpoint — the view must roll FORWARD
    # from recovered state, not re-aggregate history
    _write(spark, input_dir, [("a", 0.75), ("c", 5.5)], EVENT_SCHEMA)
    _run(spark, input_dir, EVENT_SCHEMA, sink, chk)
    assert _result_rows(sink, spark) == _recompute_rows(
        spark.read.parquet(input_dir)
    )
    got = {r["k"]: r for r in sink.result(spark).collect()}
    assert got["a"]["n_rows"] == 3 and got["a"]["sum_v"] == 4.0


def test_agg_view_cdc_stream_restart_equals_recompute(spark, tmp_path):
    """CDC stream (adds, in-place changes, deletes, group moves) across a
    stop/restart boundary: maintained state == agg_state over the final
    snapshot, and the maintained base == changesets applied in order."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    sink = MaterializedAggView(str(tmp_path / "view"), ["k"], "v", row_pk=["pk"])

    _write(
        spark,
        input_dir,
        [
            (1, "a", 1.0, "added"),
            (2, "a", 2.0, "added"),
            (3, "b", 30.0, "added"),
            (4, "b", 40.0, "added"),
        ],
        CDC_SCHEMA,
    )
    _run(spark, input_dir, CDC_SCHEMA, sink, chk)
    assert _result_rows(sink, spark) == {
        ("a", 2, 3.0, 1.0, 2.0),
        ("b", 2, 70.0, 30.0, 40.0),
    }

    # restart with a delta that exercises every CDC verb: pk 1 changes value,
    # pk 3 MOVES group b→a, pk 4 is deleted, pk 5 is a new group
    _write(
        spark,
        input_dir,
        [
            (1, "a", 9.0, "changed"),
            (3, "a", 30.0, "changed"),
            (4, None, None, "deleted"),
            (5, "c", 7.0, "added"),
        ],
        CDC_SCHEMA,
    )
    _run(spark, input_dir, CDC_SCHEMA, sink, chk)
    # final snapshot: a={9,2,30}, b=∅ (dropped), c={7}
    assert _result_rows(sink, spark) == {
        ("a", 3, 41.0, 2.0, 30.0),
        ("c", 1, 7.0, 7.0, 7.0),
    }
    base = {tuple(r) for r in sink._read(spark, sink.last_committed(spark), "base").collect()}
    assert base == {(1, "a", 9.0), (2, "a", 2.0), (3, "a", 30.0), (5, "c", 7.0)}


def test_agg_view_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch redelivers the LAST batch with the same batch_id after a
    crash; the versioned commit must make the second delivery a no-op.  A
    batch id BELOW the committed head is not a crash replay (Spark only
    redelivers the last batch of one checkpoint) — it means a different
    stream incarnation is pointed at this view, and the sink must refuse
    rather than eat its backlog or double-apply history (review r8)."""
    import pytest as _pytest

    sink = MaterializedAggView(str(tmp_path / "view"), ["k"], "v")
    b0 = spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA)
    b1 = spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA)
    sink(b0, 0)
    sink(b1, 1)
    before = _result_rows(sink, spark)
    sink(b1, 1)  # replay: same batch_id — idempotent no-op
    assert _result_rows(sink, spark) == before
    with _pytest.raises(ValueError, match="checkpoint does not match"):
        sink(b0, 0)  # foreign stream restarting at 0: refuse loudly
    assert _result_rows(sink, spark) == before
    assert before == {("a", 2, 2.0, 1.0, 1.0)}


def test_agg_view_torn_version_is_ignored_and_overwritten(spark, tmp_path):
    """A crash mid-write leaves a version directory WITHOUT the commit
    marker; the retry must ignore it (roll forward from the last committed
    version) and overwrite the debris."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v")
    sink(spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA), 0)
    # simulate the torn attempt at batch 1: parquet written, no _VIEW_COMMIT
    spark.createDataFrame([("POISON", -1.0)], EVENT_SCHEMA).write.parquet(
        f"{path}/v=1/state"
    )
    assert sink.last_committed(spark) == 0  # torn version invisible
    sink(spark.createDataFrame([("a", 3.0)], EVENT_SCHEMA), 1)  # the retry
    assert sink.last_committed(spark) == 1
    assert _result_rows(sink, spark) == {("a", 2, 4.0, 1.0, 3.0)}


def test_agg_view_vacuum_keeps_latest_and_clears_old_debris(spark, tmp_path):
    import os

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v")
    for i in range(4):
        sink(spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA), i)
    # torn debris: an uncommitted version OLDER than the head (crashed batch
    # whose id was never redelivered) must be vacuumed; one NEWER than the
    # head may be an in-flight write and must survive
    os.remove(f"{path}/v=2/_VIEW_COMMIT")  # make v=2 torn
    spark.createDataFrame([("y", 0.0)], EVENT_SCHEMA).write.parquet(
        f"{path}/v=9/state"
    )  # in-flight (uncommitted, newer than head 3)
    dropped = sink.vacuum(spark, keep=2)
    # committed survivors are {1, 3} (newest two of 0,1,3); 0 drops as old
    # committed, 2 drops as old torn debris
    assert dropped == [0, 2]
    assert sink.last_committed(spark) == 3
    assert os.path.isdir(f"{path}/v=9")  # in-flight write untouched
    assert _result_rows(sink, spark) == {("a", 4, 4.0, 1.0, 1.0)}


def test_vacuum_refuses_to_drop_the_committed_head(spark, tmp_path):
    """keep=0 would delete the newest committed version; the next batch would
    see no committed head and silently re-initialize the view from that one
    batch (state loss) — the sink must refuse keep < 1 (review r8)."""
    import pytest as _pytest

    sink = MaterializedAggView(str(tmp_path / "view"), ["k"], "v")
    sink(spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA), 0)
    with _pytest.raises(ValueError, match="keep must be >= 1"):
        sink.vacuum(spark, keep=0)
    assert sink.last_committed(spark) == 0


def test_join_view_cdc_stream_restart_equals_recompute(spark, tmp_path):
    """Fact-CDC stream maintaining fact⋈dim across a restart: adds, an fk
    move, a value change and a delete; after each run the maintained view
    equals the full recompute fact_now ⋈ dim."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk"
    )

    _write(
        spark,
        input_dir,
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added"), (3, 99, 7.0, "added")],
        FACT_CDC_SCHEMA,
    )
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)

    def view_rows():
        # USING-style anti joins reorder columns; pin the projection
        return {
            tuple(r)
            for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
        }

    # pk 3's fk=99 has no dim row: inner semantics drop it
    assert view_rows() == {(1, 10, 5.0, "red"), (2, 20, 6.0, "blue")}

    # restart: pk 1 moves fk 10→20, pk 2 deleted, pk 3 changes fk to a real
    # dim key (appears in the view for the first time), pk 4 added
    _write(
        spark,
        input_dir,
        [
            (1, 20, 5.0, "changed"),
            (2, None, None, "deleted"),
            (3, 10, 7.5, "changed"),
            (4, 10, 8.0, "added"),
        ],
        FACT_CDC_SCHEMA,
    )
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)
    want = {
        (1, 20, 5.0, "blue"),
        (3, 10, 7.5, "red"),
        (4, 10, 8.0, "red"),
    }
    assert view_rows() == want
    fact = {
        tuple(r)
        for r in sink._read(spark, sink.last_committed(spark), "fact")
        .select("pk", "fk", "qty")
        .collect()
    }
    assert fact == {(1, 20, 5.0), (3, 10, 7.5), (4, 10, 8.0)}


def test_join_view_matches_batch_operator_on_same_deltas(spark, tmp_path):
    """Differential: streaming the deltas through the sink equals calling the
    batch operator directly with the same changesets — the sink adds commit
    machinery, not semantics."""
    from kafka_flow_spark.operators.incremental import (
        apply_changeset,
        maintain_join_view,
    )

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    d1 = spark.createDataFrame(
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added")], FACT_CDC_SCHEMA
    )
    d2 = spark.createDataFrame(
        [(1, 20, 5.5, "changed"), (3, 10, 1.0, "added")], FACT_CDC_SCHEMA
    )
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk"
    )
    sink(d1, 0)
    sink(d2, 1)

    fact0 = d1.drop("status").limit(0)
    view0 = fact0.join(dim, fact0["fk"] == dim["b_pk"]).drop("b_pk")
    empty_db = dim.withColumn("status", F.lit("added")).limit(0)
    v1 = maintain_join_view(view0, fact0, d1, dim, empty_db, ["pk"], "fk", "b_pk")
    f1 = apply_changeset(fact0, d1, ["pk"])
    v2 = maintain_join_view(v1, f1, d2, dim, empty_db, ["pk"], "fk", "b_pk")
    cols = ["pk", "fk", "qty", "color"]
    assert {tuple(r) for r in sink.view(spark).select(*cols).collect()} == {
        tuple(r) for r in v2.select(*cols).collect()
    }


def test_agg_view_time_travel_reads_history(spark, tmp_path):
    """Committed versions stay readable (time travel) until vacuumed;
    uncommitted/absent versions are refused through the read path too."""
    import pytest as _pytest

    sink = MaterializedAggView(str(tmp_path / "view"), ["k"], "v")
    for i in range(3):
        sink(spark.createDataFrame([("a", float(i + 1))], EVENT_SCHEMA), i)
    assert sink.versions(spark) == [0, 1, 2]
    # version 0: just the first row; version 2 (latest): all three
    v0 = {tuple(r) for r in sink.result(spark, version=0)
          .select("k", "n_rows", "sum_v").collect()}
    assert v0 == {("a", 1, 1.0)}
    latest = {tuple(r) for r in sink.result(spark)
              .select("k", "n_rows", "sum_v").collect()}
    assert latest == {("a", 3, 6.0)}
    with _pytest.raises(ValueError, match="not committed"):
        sink.state(spark, version=7)
    sink.vacuum(spark, keep=1)
    with _pytest.raises(ValueError, match="not committed"):
        sink.state(spark, version=0)  # vacuumed away


def test_sketch_view_stream_restart_equals_whole_corpus_sketch(spark, tmp_path):
    """Streaming distinct-count maintenance: occupancy set rolled forward by
    the merge law across a stop/restart equals the one-shot sketch (and
    therefore the identical estimate) of everything ever streamed."""
    from kafka_flow_spark.operators.sketches import (
        linear_counting_estimate,
        linear_counting_sketch,
    )
    from kafka_flow_spark.streaming.materialize import MaterializedSketchView

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    sink = MaterializedSketchView(str(tmp_path / "view"), ["k"], "v", m=512)
    _write(spark, input_dir, [("a", float(i % 37)) for i in range(300)], EVENT_SCHEMA)
    _run(spark, input_dir, EVENT_SCHEMA, sink, chk)
    _write(spark, input_dir, [("a", float(i % 91)) for i in range(300)]
           + [("b", 1.0)], EVENT_SCHEMA)
    _run(spark, input_dir, EVENT_SCHEMA, sink, chk)  # restart, same checkpoint

    whole = linear_counting_estimate(
        linear_counting_sketch(spark.read.parquet(input_dir), ["k"], "v", 512),
        ["k"], 512,
    )
    got = {tuple(r) for r in sink.result(spark).collect()}
    assert got == {tuple(r) for r in whole.collect()} and len(got) == 2
    # state stays capped: at most groups*m rows regardless of stream volume
    assert sink.sketch(spark).count() <= 2 * 512


def _dir_bytes(root):
    import os

    total = 0
    for r, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(r, f))
    return total


def _bucket_dirs(path, version, table):
    import os

    d = f"{path}/v={version}/{table}"
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n.split("=", 1)[1]) for n in os.listdir(d) if n.startswith("_bkt=")
    )


def test_cdc_view_write_is_delta_proportional(spark, tmp_path):
    """THE r8-review scale fix: a small CDC delta against a big base must
    rewrite only its touched buckets — bucket-dir count per version == the
    delta's bucket count (not n_buckets), version bytes a small fraction of
    the initial snapshot's — while the maintained result stays exact."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=32)
    # batch 0: a 3000-row base across all 32 buckets
    rows0 = [(i, f"g{i % 7}", float(i % 100), "added") for i in range(3000)]
    sink(spark.createDataFrame(rows0, CDC_SCHEMA), 0)
    assert len(_bucket_dirs(path, 0, "base")) == 32
    base_bytes = _dir_bytes(f"{path}/v=0/base")

    # batches 1..3: 2-row deltas — each version dir must hold <= 2 buckets
    snap = {i: (f"g{i % 7}", float(i % 100)) for i in range(3000)}
    for b in range(1, 4):
        pk1, pk2 = b * 17, b * 911
        delta = [
            (pk1, "gX", 1000.0 + b, "changed"),
            (pk2, None, None, "deleted"),
        ]
        snap[pk1] = ("gX", 1000.0 + b)
        snap.pop(pk2, None)
        sink(spark.createDataFrame(delta, CDC_SCHEMA), b)
        touched = _bucket_dirs(path, b, "base")
        assert 1 <= len(touched) <= 2, touched
        assert _dir_bytes(f"{path}/v={b}/base") < base_bytes / 4

    # and the maintained aggregate still equals the full recompute
    import collections

    want = collections.defaultdict(list)
    for k, v in snap.values():
        want[k].append(v)
    expect = {
        (k, len(vs), round(sum(vs), 2), min(vs), max(vs))
        for k, vs in want.items()
    }
    assert _result_rows(sink, spark) == expect
    # the recovered base (manifest multi-version read) equals the snapshot
    got_base = {
        r["pk"]: (r["k"], r["v"])
        for r in sink._read(spark, 3, "base").collect()
    }
    assert got_base == snap


def test_join_view_two_sided_dim_deltas_across_restart(spark, tmp_path):
    """r8-review gap: an in-place dim edit (value change, delete, insert)
    between micro-batches must evolve the view incrementally — fact CDC +
    dim CDC applied across a restart == full recompute on the final
    snapshots."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue"), (30, "green")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk",
        n_buckets=8,
    )
    _write(
        spark,
        input_dir,
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added"), (3, 30, 7.0, "added"),
         (4, 40, 8.0, "added")],
        FACT_CDC_SCHEMA,
    )
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)

    def view_rows():
        return {
            tuple(r)
            for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
        }

    assert view_rows() == {
        (1, 10, 5.0, "red"), (2, 20, 6.0, "blue"), (3, 30, 7.0, "green")
    }

    # IN-PLACE dim edit: 10 recolors, 20 deleted, 40 appears (fact pk 4 was
    # waiting on it); plus a fact delta touching an unrelated row
    spark.createDataFrame(
        [(10, "crimson"), (30, "green"), (40, "gold")],
        "b_pk BIGINT, color STRING",
    ).write.mode("overwrite").parquet(dim_path)
    _write(spark, input_dir, [(5, 30, 9.0, "added")], FACT_CDC_SCHEMA)
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)  # restart, same chk

    # full recompute on final snapshots: fact {1,2,3,4,5} x dim {10,30,40}
    assert view_rows() == {
        (1, 10, 5.0, "crimson"),
        (3, 30, 7.0, "green"),
        (4, 40, 8.0, "gold"),
        (5, 30, 9.0, "green"),
    }
    # stored dim snapshot advanced too
    got_dim = {
        tuple(r)
        for r in sink._read(spark, sink.last_committed(spark), "dim").collect()
    }
    assert got_dim == {(10, "crimson"), (30, "green"), (40, "gold")}


def test_join_view_refresh_advances_dim_with_zero_fact_rows(spark, tmp_path):
    """r9-review gap #1: a dim-only change must reach the committed view
    WITHOUT waiting for fact traffic — the reference's empty-poll timer
    path (ConsumerFlow.scala:103-104, Tick.scala), here the ``refresh()``
    admin advance on the same versioned-commit path.  The golden contract:
    refresh == full recompute; a later fact micro-batch (and a crash-replay
    of an OLD batch) behave exactly as before the refresh."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk",
        n_buckets=8,
    )
    _write(
        spark,
        input_dir,
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added"), (3, 30, 7.0, "added")],
        FACT_CDC_SCHEMA,
    )
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)

    def view_rows():
        return {
            tuple(r)
            for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
        }

    head0 = sink.last_committed(spark)
    assert view_rows() == {(1, 10, 5.0, "red"), (2, 20, 6.0, "blue")}

    # dim-only edit, ZERO fact rows: 10 recolors, 20 dies, 30 appears
    # (fact pk 3 was waiting on it)
    spark.createDataFrame(
        [(10, "crimson"), (30, "green")], "b_pk BIGINT, color STRING"
    ).write.mode("overwrite").parquet(dim_path)
    v1 = sink.refresh(spark)
    assert v1 == head0 + 1  # one bounded admin trigger, committed
    assert view_rows() == {(1, 10, 5.0, "crimson"), (3, 30, 7.0, "green")}
    # stored dim baseline advanced with it
    got_dim = {tuple(r) for r in sink._read(spark, v1, "dim").collect()}
    assert got_dim == {(10, "crimson"), (30, "green")}

    # unchanged dim: refresh is a no-op — no new version (schedulable)
    assert sink.refresh(spark) is None
    assert sink.last_committed(spark) == v1

    # the stream continues over the refreshed head: next fact batch applies
    # on top (restart, same checkpoint — replay of old batch ids must skip)
    _write(spark, input_dir, [(4, 30, 9.0, "added")], FACT_CDC_SCHEMA)
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)
    assert view_rows() == {
        (1, 10, 5.0, "crimson"),
        (3, 30, 7.0, "green"),
        (4, 30, 9.0, "green"),
    }
    # version log stayed strictly monotone through the interleaving
    vs = sink.versions(spark)
    assert vs == sorted(vs) and len(vs) == len(set(vs))


def test_join_view_refresh_requires_committed_head(spark, tmp_path):
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(1, "x")], "b_pk BIGINT, color STRING").write.parquet(
        dim_path
    )
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed version"):
        sink.refresh(spark)


def test_vacuum_keeps_manifest_referenced_versions(spark, tmp_path):
    """Bucketed tables carry untouched buckets forward by POINTER: vacuum
    must keep every version a surviving manifest references (transitively),
    or the head view would lose data."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=16)
    rows0 = [(i, f"g{i % 3}", float(i), "added") for i in range(400)]
    sink(spark.createDataFrame(rows0, CDC_SCHEMA), 0)
    snap = {i: (f"g{i % 3}", float(i)) for i in range(400)}
    for b in range(1, 4):
        pk = b * 31
        snap[pk] = ("gZ", 999.0)
        sink(
            spark.createDataFrame([(pk, "gZ", 999.0, "changed")], CDC_SCHEMA), b
        )
    dropped = sink.vacuum(spark, keep=1)
    # v=0 holds most buckets' only copy: it MUST survive although keep=1
    assert 0 not in dropped
    import os

    assert os.path.isdir(f"{path}/v=0")
    got = {
        r["pk"]: (r["k"], r["v"]) for r in sink._read(spark, 3, "base").collect()
    }
    assert got == snap


def test_bucketed_view_migrates_legacy_full_write_layout(spark, tmp_path):
    """A pre-bucketing (r8) version dir — full parquet tables, no manifest —
    must roll forward: the next batch migrates the table to the bucketed
    layout in one full write, preserving content."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    # hand-build the legacy v=0: plain full-write tables + commit marker
    rows = [(i, f"g{i % 2}", float(i)) for i in range(50)]
    base = spark.createDataFrame(rows, "pk BIGINT, k STRING, v DOUBLE")
    from kafka_flow_spark.operators.incremental import agg_state

    base.write.parquet(f"{path}/v=0/base")
    agg_state(base, ["k"], "v").write.parquet(f"{path}/v=0/state")
    open(f"{path}/v=0/_VIEW_COMMIT", "w").close()

    sink(spark.createDataFrame([(0, "g0", 100.0, "changed")], CDC_SCHEMA), 1)
    got = {r["pk"]: r["v"] for r in sink._read(spark, 1, "base").collect()}
    assert got[0] == 100.0 and len(got) == 50
    # migrated: v=1 holds a manifest and ALL live buckets point at v=1
    man = sink._manifest(spark, 1, "base")
    assert man is not None and set(man["buckets"].values()) == {1}


def test_bucketed_view_refuses_n_buckets_change(spark, tmp_path):
    """The bucket function must be stable for pointer carry-forward: a sink
    configured with a different n_buckets over an existing view refuses."""
    import pytest as _pytest

    path = str(tmp_path / "view")
    MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)(
        spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0
    )
    bad = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=16)
    with _pytest.raises(ValueError, match="n_buckets"):
        bad(spark.createDataFrame([(2, "a", 2.0, "added")], CDC_SCHEMA), 1)


def test_rebucket_migrates_view_and_stays_delta_proportional(spark, tmp_path):
    """r9-review gap #3: a view that outgrew its bucket count needed a full
    recreate.  rebucket(n_new) writes ONE full bucketed version under the
    new count; reads are unchanged, subsequent delta advances are
    delta-proportional under n_new, and an old-count sink still refuses."""
    import pytest as _pytest

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    dim_path = str(tmp_path / "dim")
    path = str(tmp_path / "view")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    sink = MaterializedJoinView(
        path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=4
    )
    _write(
        spark,
        input_dir,
        [(i, 10 if i % 2 else 20, float(i), "added") for i in range(1, 9)],
        FACT_CDC_SCHEMA,
    )
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)
    before = {
        tuple(r)
        for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
    }
    head = sink.last_committed(spark)

    v_new = sink.rebucket(spark, 16)
    assert v_new == head + 1 and sink.n_buckets == 16
    # same rows, fresh manifest under the new count, no stale pointers
    after = {
        tuple(r)
        for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
    }
    assert after == before
    man = sink._manifest(spark, v_new, "view")
    assert man["n_buckets"] == 16
    assert all(v == v_new for v in man["buckets"].values())

    # next delta advances under n_new and rewrites ONLY touched buckets
    _write(spark, input_dir, [(100, 10, 99.0, "added")], FACT_CDC_SCHEMA)
    _run(spark, input_dir, FACT_CDC_SCHEMA, sink, chk)
    head2 = sink.last_committed(spark)
    assert len(_bucket_dirs(path, head2, "fact")) == 1  # one key, one bucket
    got = {
        tuple(r)
        for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
    }
    assert got == before | {(100, 10, 99.0, "red")}

    # a sink still constructed with the OLD count refuses, pointing here
    stale = MaterializedJoinView(
        path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=4
    )
    with _pytest.raises(ValueError, match="rebucket"):
        stale(
            spark.createDataFrame([(101, 20, 1.0, "added")], FACT_CDC_SCHEMA),
            10**6,
        )

    with _pytest.raises(ValueError, match="n_new"):
        sink.rebucket(spark, 0)


def test_agg_view_topk_finalizer(spark, tmp_path):
    """top-k over the maintained state: ranked by the chosen measure with
    key tie-break, only k rows, straight off the committed version."""
    import pytest as _pytest

    sink = MaterializedAggView(str(tmp_path / "view"), ["k"], "v")
    rows = [("a", 1.0)] * 5 + [("b", 2.0)] * 3 + [("c", 9.0)] * 3
    sink(spark.createDataFrame(rows, EVENT_SCHEMA), 0)
    top = sink.topk(spark, 2, by="n_rows").select("k", "n_rows", "rank").collect()
    assert [(r["k"], r["n_rows"], r["rank"]) for r in top] == [("a", 5, 1), ("b", 3, 2)]
    by_sum = sink.topk(spark, 1, by="sum_v").collect()
    assert by_sum[0]["k"] == "c"
    with _pytest.raises(ValueError, match="by must be"):
        sink.topk(spark, 2, by="bogus")
    with _pytest.raises(ValueError, match="k must be"):
        sink.topk(spark, 0)


def test_join_view_upgrades_legacy_two_table_layout(spark, tmp_path):
    """An r8-format join view (view+fact full-write dirs, NO stored dim)
    must roll forward after the upgrade: the current dim source becomes the
    diff baseline (empty first delta) instead of a missing-path crash
    (review r9)."""
    path = str(tmp_path / "view")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 6.0)], "pk BIGINT, fk BIGINT, qty DOUBLE"
    )
    dim = spark.read.parquet(dim_path)
    # hand-build the legacy v=0: full-write view+fact, commit marker, no dim
    fact.join(dim, fact["fk"] == dim["b_pk"]).drop("b_pk").write.parquet(
        f"{path}/v=0/view"
    )
    fact.write.parquet(f"{path}/v=0/fact")
    open(f"{path}/v=0/_VIEW_COMMIT", "w").close()

    sink = MaterializedJoinView(
        path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=8
    )
    sink(
        spark.createDataFrame([(3, 10, 7.0, "added")], FACT_CDC_SCHEMA), 1
    )
    got = {
        tuple(r)
        for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
    }
    assert got == {(1, 10, 5.0, "red"), (2, 20, 6.0, "blue"), (3, 10, 7.0, "red")}
    # the dim snapshot is now stored and manifest-backed
    assert sink._manifest(spark, 1, "dim") is not None


def test_cms_view_stream_restart_equals_whole_corpus_sketch(spark, tmp_path):
    """Streaming CMS maintenance: cell-wise-sum roll-forward across a
    stop/restart equals the one-shot cms_build of everything ever streamed
    (and therefore every probe estimate matches), with state capped at
    depth x width cells regardless of stream volume."""
    from kafka_flow_spark.operators.sketches import cms_build, cms_probe
    from kafka_flow_spark.streaming.materialize import MaterializedCmsView

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    sink = MaterializedCmsView(str(tmp_path / "view"), "k", depth=3, width=64)
    _write(spark, input_dir,
           [(f"k{i % 11}", float(i)) for i in range(200)], EVENT_SCHEMA)
    _run(spark, input_dir, EVENT_SCHEMA, sink, chk)
    _write(spark, input_dir,
           [(f"k{i % 23}", float(i)) for i in range(150)], EVENT_SCHEMA)
    _run(spark, input_dir, EVENT_SCHEMA, sink, chk)  # restart, same checkpoint

    whole = cms_build(spark.read.parquet(input_dir), "k", depth=3, width=64)
    got_cells = {(r["r"], r["b"]): r["cnt"] for r in sink.cells(spark).collect()}
    want_cells = {(r["r"], r["b"]): r["cnt"] for r in whole.collect()}
    assert got_cells == want_cells
    assert len(got_cells) <= 3 * 64  # state bounded by construction

    keys = spark.createDataFrame([(f"k{i}",) for i in range(23)], "k STRING")
    got = {r["k"]: r["est"] for r in sink.probe(spark, keys, "k").collect()}
    want = {r["k"]: r["est"]
            for r in cms_probe(whole, keys, "k", depth=3, width=64).collect()}
    assert got == want
    # one-sided error: estimate never below the true count
    from collections import Counter

    truth = Counter(r["k"] for r in spark.read.parquet(input_dir).collect())
    assert all(got[k] >= truth.get(k, 0) for k in got)


def test_cms_view_replay_idempotent(spark, tmp_path):
    """Replaying an already-committed batch (crash between commit and
    checkpoint ack) must not double-count cells — the versioned-commit
    protocol makes the second apply a no-op."""
    from kafka_flow_spark.streaming.materialize import MaterializedCmsView

    sink = MaterializedCmsView(str(tmp_path / "view"), "k", depth=2, width=32)
    b0 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)], EVENT_SCHEMA)
    sink(b0, 0)
    before = {(r["r"], r["b"]): r["cnt"] for r in sink.cells(spark).collect()}
    sink(b0, 0)  # replay of the same epoch
    after = {(r["r"], r["b"]): r["cnt"] for r in sink.cells(spark).collect()}
    assert before == after


def test_changes_between_is_cdf_and_bucket_bounded(spark, tmp_path):
    """CDF read: changes_between(v_a, v_b) returns the row-level changeset
    keyed by the table's pk, reads ONLY buckets whose manifest pointers
    differ, and replays: apply_changeset(old, changes) == new."""
    from kafka_flow_spark.operators.incremental import apply_changeset

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=32)
    rows0 = [(i, f"g{i % 5}", float(i), "added") for i in range(2000)]
    sink(spark.createDataFrame(rows0, CDC_SCHEMA), 0)
    sink(
        spark.createDataFrame(
            [(7, "gX", 999.0, "changed"), (11, None, None, "deleted")], CDC_SCHEMA
        ),
        1,
    )
    sink(spark.createDataFrame([(5000, "gN", 1.5, "added")], CDC_SCHEMA), 2)

    ch = sink.changes_between(spark, 0, 2, table="base")
    got = {(r["pk"], r["k"], r["v"], r["status"]) for r in ch.collect()}
    assert got == {
        (7, "gX", 999.0, "changed"),
        (11, None, None, "deleted"),
        (5000, "gN", 1.5, "added"),
    }
    # bucket-bounded: only the <=3 delta-touched buckets' dirs are read
    dirs = {f.split("/_bkt=")[1].split("/")[0] for f in ch.inputFiles()}
    assert len(dirs) <= 3
    # replay law: old + changes == new
    old = sink._read(spark, 0, "base")
    new = {tuple(r) for r in sink._read(spark, 2, "base").collect()}
    replayed = {tuple(r) for r in apply_changeset(old, ch, ["pk"]).collect()}
    assert replayed == new

    import pytest as _pytest

    with _pytest.raises(ValueError, match="older than"):
        sink.changes_between(spark, 2, 0, table="base")
    with _pytest.raises(ValueError, match="pk-bucketed"):
        sink.changes_between(spark, 0, 2, table="state")


def test_changes_between_default_table_on_join_view(spark, tmp_path):
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(10, "red")], "b_pk BIGINT, color STRING").write.parquet(
        dim_path
    )
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk",
        n_buckets=8,
    )
    sink(spark.createDataFrame([(1, 10, 5.0, "added")], FACT_CDC_SCHEMA), 0)
    sink(spark.createDataFrame([(2, 10, 6.0, "added")], FACT_CDC_SCHEMA), 1)
    ch = {  # default table resolves to 'view' (ambiguous among view/fact/dim)
        (r["pk"], r["status"])
        for r in sink.changes_between(spark, 0, 1).collect()
    }
    assert ch == {(2, "added")}


def test_bucketed_patch_refuses_schema_drift(spark, tmp_path):
    """Reads resolve through the manifest's PINNED schema, so a patch whose
    rows carry different columns would have them silently dropped or nulled
    on every later read — the patch writer must refuse before writing.
    (The view subclasses' own maintenance usually fails upstream on a
    drifted batch; this guards the write layer itself — e.g. a type change
    that survives the joins.)"""
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import BucketPatch

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    extra_col = spark.createDataFrame(
        [(2, "b", 2.0, "x")], "pk BIGINT, k STRING, v DOUBLE, surprise STRING"
    )
    with _pytest.raises(ValueError, match="pinned schema"):
        sink._write_bucketed_patch(spark, 1, 0, "base", BucketPatch([0], extra_col))
    type_drift = spark.createDataFrame(
        [(2, "b", 2)], "pk BIGINT, k STRING, v BIGINT"  # v was DOUBLE
    )
    with _pytest.raises(ValueError, match="pinned schema"):
        sink._write_bucketed_patch(spark, 1, 0, "base", BucketPatch([0], type_drift))
    assert sink.last_committed(spark) == 0  # nothing was written


def test_view_cascade_via_subscription(spark, tmp_path):
    """Derived-view composability, driven by the SUBSCRIPTION primitive (r10
    drove the cursor by hand): a DOWNSTREAM MaterializedAggView follows the
    upstream's CDF via ``follow()`` — cursor management, bootstrap and
    exactly-once all live in the primitive, the consumer writes zero
    orchestration code.  The cascade must equal a direct aggregate over the
    upstream's final base at every step, and a caught-up follow() is a
    no-op."""
    from kafka_flow_spark.streaming.materialize import follow

    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedAggView(up_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    down = MaterializedAggView(down_path, ["k"], "v", row_pk=["pk"], n_buckets=8)

    batches = [
        [(i, f"g{i % 3}", float(i), "added") for i in range(30)],
        [(7, "gX", 100.0, "changed"), (11, None, None, "deleted")],
        [(99, "g0", 5.0, "added"), (7, None, None, "deleted")],
    ]
    for bid, rows in enumerate(batches):
        up(spark.createDataFrame(rows, CDC_SCHEMA), bid)
        committed = follow(spark, up_path, down, table="base")
        assert committed is not None
        # cascade invariant: downstream result == direct agg over upstream base
        head = up.last_committed(spark)
        truth = {
            tuple(r)
            for r in up._read(spark, head, "base")
            .groupBy("k")
            .agg(
                F.count("*").alias("n_rows"),
                F.round(F.sum("v"), 2).cast("double").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            )
            .collect()
        }
        assert _result_rows(down, spark) == truth, f"diverged at batch {bid}"
    assert follow(spark, up_path, down, table="base") is None  # caught up
    # a lagging subscriber coalesces multiple upstream versions in ONE hop
    late_path = str(tmp_path / "late")
    late = MaterializedAggView(late_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    assert follow(spark, up_path, late, table="base") == 0  # bootstrap at head
    up(spark.createDataFrame([(5, "gY", 50.0, "changed")], CDC_SCHEMA), 3)
    up(spark.createDataFrame([(6, None, None, "deleted")], CDC_SCHEMA), 4)
    assert follow(spark, up_path, late, table="base") == 1  # two versions, one hop
    final_truth = {
        tuple(r)
        for r in up._read(spark, up.last_committed(spark), "base")
        .groupBy("k")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }
    assert _result_rows(late, spark) == final_truth


def test_vacuum_closure_discovered_from_disk(spark, tmp_path):
    """The referenced-closure protection must come from the on-disk
    manifests, not the sink's configured table map: a kind-agnostic admin
    handle (tools/view_admin.py pattern — no bucketed map at all) running
    vacuum on a bucketed view must keep every version the head's manifests
    point into."""
    from kafka_flow_spark.streaming.materialize import _VersionedView

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink(
        spark.createDataFrame(
            [(i, f"g{i % 3}", float(i), "added") for i in range(40)], CDC_SCHEMA
        ),
        0,
    )
    sink(spark.createDataFrame([(1, "gX", 9.0, "changed")], CDC_SCHEMA), 1)
    before = {tuple(r) for r in sink._read(spark, 1, "base").collect()}

    blind = _VersionedView(path, 8)  # no tables, no bucketed map
    dropped = blind.vacuum(spark, keep=1)
    assert dropped == []  # v=1's manifest points into v=0: both survive
    after = {tuple(r) for r in sink._read(spark, 1, "base").collect()}
    assert after == before  # head still fully readable


def test_changes_between_replay_property_random_cdc(spark, tmp_path):
    """Property over seeded-random CDC histories: for EVERY committed pair
    (i < j), apply_changeset(base_i, changes_between(i, j)) == base_j —
    the CDF read is exact regardless of how adds/changes/deletes interleave
    or how many versions apart the endpoints are."""
    import random

    from kafka_flow_spark.operators.incremental import apply_changeset

    rng = random.Random(20260816)
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=16)
    live: set[int] = set()
    for bid in range(5):
        batch = []
        for _ in range(rng.randint(3, 12)):
            verb = rng.choice(["added", "changed", "deleted"])
            if verb == "added" or not live:
                pk = rng.randint(0, 10_000)
                while pk in live:
                    pk = rng.randint(0, 10_000)
                batch.append((pk, f"g{pk % 4}", float(pk % 97), "added"))
                live.add(pk)
            elif verb == "changed":
                pk = rng.choice(sorted(live))
                batch.append((pk, f"g{(pk + 1) % 4}", float(rng.randint(0, 500)), "changed"))
            else:
                pk = rng.choice(sorted(live))
                batch.append((pk, None, None, "deleted"))
                live.discard(pk)
            # a pk must appear at most once per changeset batch
        dedup = {}
        for row in batch:
            dedup[row[0]] = row
        sink(spark.createDataFrame(list(dedup.values()), CDC_SCHEMA), bid)

    versions = sink.versions(spark)
    snaps = {
        v: {tuple(r) for r in sink._read(spark, v, "base").collect()}
        for v in versions
    }
    for i in versions:
        for j in versions:
            if i >= j:
                continue
            ch = sink.changes_between(spark, i, j, table="base")
            replayed = {
                tuple(r)
                for r in apply_changeset(
                    sink._read(spark, i, "base"), ch, ["pk"]
                ).collect()
            }
            assert replayed == snaps[j], f"replay {i}->{j} diverged"


def test_run_view_sink_refresh_dim_picks_up_dim_only_drift(spark, tmp_path):
    """refresh_dim=True: a scheduled run over an EMPTY fact backlog still
    picks up a dim edit in the same invocation — the batch-run analog of
    the reference's empty-poll timer tick."""
    import pytest as _pytest

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk",
        n_buckets=8,
    )
    _write(
        spark, input_dir,
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added")], FACT_CDC_SCHEMA,
    )
    stream = spark.readStream.schema(FACT_CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, sink, chk, refresh_dim=True)

    def rows():
        return {
            tuple(r)
            for r in sink.view(spark).select("pk", "fk", "qty", "color").collect()
        }

    assert rows() == {(1, 10, 5.0, "red"), (2, 20, 6.0, "blue")}
    head = sink.last_committed(spark)

    # dim-only edit, NO new fact rows: a scheduled re-run must surface it
    spark.createDataFrame(
        [(10, "crimson"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.mode("overwrite").parquet(dim_path)
    stream = spark.readStream.schema(FACT_CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, sink, chk, refresh_dim=True)
    assert rows() == {(1, 10, 5.0, "crimson"), (2, 20, 6.0, "blue")}
    assert sink.last_committed(spark) == head + 1  # exactly one refresh version

    # unchanged dim: another scheduled run writes nothing
    stream = spark.readStream.schema(FACT_CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, sink, chk, refresh_dim=True)
    assert sink.last_committed(spark) == head + 1

    # a sink without refresh() refuses the flag
    agg = MaterializedAggView(str(tmp_path / "agg"), ["k"], "v")
    spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA).write.parquet(input_dir + "_none")
    s2 = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir + "_none")
    with _pytest.raises(ValueError, match="refresh"):
        run_view_sink(s2, agg, str(tmp_path / "chk2"), refresh_dim=True)


# --- self-describing roots (_VIEW_META.json) + open_view (review r10) --------


def test_view_meta_written_and_open_view_roundtrip(spark, tmp_path):
    """Every commit writes the root-level _VIEW_META.json; open_view
    reconstructs the REAL sink from it (kind, bucketing, constructor args)
    so admin ops never trust caller flags."""
    import os as _os

    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import open_view

    agg_path = str(tmp_path / "agg")
    agg = MaterializedAggView(agg_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    agg(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    assert _os.path.exists(agg_path + "/_VIEW_META.json")
    got = open_view(spark, agg_path)
    assert isinstance(got, MaterializedAggView)
    assert (got.keys, got.value_col, got.row_pk, got.n_buckets) == (
        ["k"], "v", ["pk"], 8
    )

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(10, "red")], "b_pk BIGINT, color STRING").write.parquet(
        dim_path
    )
    join_path = str(tmp_path / "join")
    jv = MaterializedJoinView(
        join_path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=4
    )
    jv(spark.createDataFrame([(1, 10, 5.0, "added")], FACT_CDC_SCHEMA), 0)
    got_j = open_view(spark, join_path)
    assert isinstance(got_j, MaterializedJoinView)
    assert (got_j.a_pk, got_j.fk, got_j.b_pk, got_j.n_buckets, got_j.dim_path) == (
        ["pk"], "fk", "b_pk", 4, dim_path
    )

    with _pytest.raises(ValueError, match="_VIEW_META"):
        open_view(spark, str(tmp_path / "nothing"))


def test_meta_mismatch_refuses_wrong_writer(spark, tmp_path):
    """A sink constructed with DIFFERENT bucketing/grouping args pointed at
    an existing root must refuse before writing anything — a wrong-pk
    writer corrupts the view silently otherwise."""
    import pytest as _pytest

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)

    wrong_pk = MaterializedAggView(path, ["k"], "v", row_pk=["k"], n_buckets=8)
    with _pytest.raises(ValueError, match="created as"):
        wrong_pk(spark.createDataFrame([(2, "b", 2.0, "added")], CDC_SCHEMA), 1)
    wrong_keys = MaterializedAggView(path, ["v"], "v", row_pk=["pk"], n_buckets=8)
    with _pytest.raises(ValueError, match="created as"):
        wrong_keys(spark.createDataFrame([(2, "b", 2.0, "added")], CDC_SCHEMA), 1)
    assert sink.last_committed(spark) == 0  # nothing was written
    # the true writer continues unharmed
    sink(spark.createDataFrame([(2, "b", 2.0, "added")], CDC_SCHEMA), 1)
    assert sink.last_committed(spark) == 1


def test_rebucket_partial_handle_refuses_uncovered_tables(spark, tmp_path):
    """Review r10 HIGH: a rebucket through a handle covering only SOME of
    the head's table dirs would commit a new HEAD missing the others — the
    stream's next advance crashes on them and vacuum can then delete their
    last versions (permanent data loss).  The library now refuses; the CLI
    reconstructs the real sink from _VIEW_META.json (see the CLI test)."""
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import _VersionedView

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink(
        spark.createDataFrame(
            [(i, f"g{i % 3}", float(i), "added") for i in range(20)], CDC_SCHEMA
        ),
        0,
    )
    partial = _VersionedView(path, 8)  # the old CLI shape: one table only
    partial.tables = ["base"]
    partial.bucketed = {"base": ["pk"]}
    with _pytest.raises(ValueError, match="would drop table dirs"):
        partial.rebucket(spark, 4)
    # evolve is guarded by the same check
    with _pytest.raises(ValueError, match="would drop table dirs"):
        partial.evolve(spark, {"extra": "CAST(NULL AS STRING)"})
    assert sink.last_committed(spark) == 0  # nothing was committed

    # the REAL sink migrates all tables and the stream continues under n_new
    v = sink.rebucket(spark, 4)
    assert set(sink._table_dirs_on_disk(spark, v)) >= {"state", "base"}
    sink(spark.createDataFrame([(99, "gX", 7.0, "added")], CDC_SCHEMA), 1)
    assert _result_rows(sink, spark) == _recompute_rows(
        sink._read(spark, sink.last_committed(spark), "base")
    )


def test_view_admin_cli_is_meta_driven(spark, tmp_path, monkeypatch, capsys):
    """The CLI reconstructs the real sink from _VIEW_META.json: rebucket on
    a 3-table join view migrates ALL tables (the r10 defect committed a
    head with one), flags contradicting the meta refuse, flag-free changes
    works."""
    import sys as _sys

    import pytest as _pytest

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import view_admin

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    path = str(tmp_path / "view")
    sink = MaterializedJoinView(
        path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=8
    )
    sink(spark.createDataFrame([(1, 10, 5.0, "added")], FACT_CDC_SCHEMA), 0)
    sink(spark.createDataFrame([(2, 20, 6.0, "added")], FACT_CDC_SCHEMA), 1)

    monkeypatch.setattr(
        _sys, "argv", ["view_admin.py", "rebucket", path, "--n-new", "4"]
    )
    view_admin.main()
    from kafka_flow_spark.streaming.materialize import open_view

    migrated = open_view(spark, path)
    head = migrated.last_committed(spark)
    assert migrated.n_buckets == 4
    # ALL tables rode the migration — the defect left only one
    assert set(migrated._table_dirs_on_disk(spark, head)) >= {
        "view", "fact", "dim"
    }
    # the stream continues under the new count
    migrated(spark.createDataFrame([(3, 10, 7.0, "added")], FACT_CDC_SCHEMA), 2)
    got = {
        tuple(r)
        for r in migrated.view(spark).select("pk", "fk", "qty", "color").collect()
    }
    assert got == {(1, 10, 5.0, "red"), (2, 20, 6.0, "blue"), (3, 10, 7.0, "red")}

    # changes: flag-free works off the meta; a contradicting --pk refuses
    monkeypatch.setattr(
        _sys,
        "argv",
        ["view_admin.py", "changes", path, "--from", "0", "--to", "1"],
    )
    view_admin.main()
    assert "added" in capsys.readouterr().out
    monkeypatch.setattr(
        _sys,
        "argv",
        [
            "view_admin.py", "changes", path,
            "--from", "0", "--to", "1", "--pk", "wrong",
        ],
    )
    with _pytest.raises(SystemExit, match="contradicts"):
        view_admin.main()


# --- additive schema evolution (evolve) ---------------------------------------


def test_evolve_agg_view_then_deltas_continue(spark, tmp_path):
    """evolve() extends the pinned schema with ONE full rewrite: existing
    rows carry the backfill, subsequent micro-batches must bring the new
    column and advance delta-proportionally again."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink(
        spark.createDataFrame(
            [(i, f"g{i % 2}", float(i), "added") for i in range(10)], CDC_SCHEMA
        ),
        0,
    )
    v = sink.evolve(spark, {"src": "CAST(NULL AS STRING)"})
    assert v == 1
    base = sink._read(spark, v, "base")
    assert "src" in base.columns
    assert base.where(F.col("src").isNotNull()).count() == 0  # backfilled

    # the evolved stream advances normally
    CDC2 = "pk BIGINT, k STRING, v DOUBLE, src STRING, status STRING"
    sink(
        spark.createDataFrame(
            [(50, "g0", 5.5, "web", "added"), (1, None, None, None, "deleted")],
            CDC2,
        ),
        1,
    )
    final = sink._read(spark, sink.last_committed(spark), "base")
    assert final.count() == 10  # 10 - 1 deleted + 1 added
    assert {r["src"] for r in final.collect()} == {None, "web"}
    assert _result_rows(sink, spark) == _recompute_rows(final)

    # a batch still producing the OLD shape refuses loudly, pointing at evolve
    import pytest as _pytest

    with _pytest.raises(Exception):
        sink(spark.createDataFrame([(60, "g1", 9.0, "added")], CDC_SCHEMA), 2)


def test_evolve_join_view_extends_fact_and_view(spark, tmp_path):
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    path = str(tmp_path / "view")
    sink = MaterializedJoinView(
        path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=4
    )
    sink(
        spark.createDataFrame(
            [(1, 10, 5.0, "added"), (2, 20, 6.0, "added")], FACT_CDC_SCHEMA
        ),
        0,
    )
    v = sink.evolve(spark, {"discount": "qty / 2"})
    view_rows = {
        tuple(r)
        for r in sink.view(spark, v).select("pk", "discount").collect()
    }
    assert view_rows == {(1, 2.5), (2, 3.0)}  # backfill over EXISTING rows
    # dim snapshot untouched (evolve_tables excludes it)
    assert "discount" not in sink._read(spark, v, "dim").columns

    FACT2 = "pk BIGINT, fk BIGINT, qty DOUBLE, discount DOUBLE, status STRING"
    sink(spark.createDataFrame([(3, 10, 8.0, 0.0, "added")], FACT2), 1)
    got = {
        tuple(r)
        for r in sink.view(spark)
        .select("pk", "fk", "qty", "discount", "color")
        .collect()
    }
    assert got == {
        (1, 10, 5.0, 2.5, "red"),
        (2, 20, 6.0, 3.0, "blue"),
        (3, 10, 8.0, 0.0, "red"),
    }


def test_evolve_cdf_across_boundary_resolves_with_nulls(spark, tmp_path):
    """Pinned semantics for CDF reads spanning an evolution: both sides read
    under the NEWER manifest's schema, so old-side rows fill the added
    column with NULL.  A NULL backfill therefore reports NO change (null
    <=> null); a non-null backfill reports every row 'changed' — both are
    the semantic truth."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink(
        spark.createDataFrame(
            [(1, "a", 1.0, "added"), (2, "b", 2.0, "added")], CDC_SCHEMA
        ),
        0,
    )
    v_null = sink.evolve(spark, {"src": "CAST(NULL AS STRING)"})
    assert sink.changes_between(spark, 0, v_null, table="base").count() == 0
    v_lit = sink.evolve(spark, {"origin": "'backfilled'"})
    ch = sink.changes_between(spark, v_null, v_lit, table="base")
    got = {(r["pk"], r["status"], r["origin"]) for r in ch.collect()}
    assert got == {(1, "changed", "backfilled"), (2, "changed", "backfilled")}


def test_evolve_refusals(spark, tmp_path):
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import MaterializedCmsView

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    with _pytest.raises(ValueError, match="no committed version"):
        sink.evolve(spark, {"x": "1"})
    sink(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    with _pytest.raises(ValueError, match="already exist"):
        sink.evolve(spark, {"v": "0.0"})
    with _pytest.raises(ValueError, match="at least one column"):
        sink.evolve(spark, {})
    with _pytest.raises(ValueError, match="unknown tables"):
        sink.evolve(spark, {"x": "1"}, tables=["nope"])
    cms = MaterializedCmsView(str(tmp_path / "cms"), "k")
    cms(spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA), 0)
    with _pytest.raises(ValueError, match="no evolvable"):
        cms.evolve(spark, {"x": "1"})


# --- ViewSubscription: two-hop DAG + exactly-once restart ---------------------


def test_subscription_two_hop_agg_over_join(spark, tmp_path):
    """A two-hop DAG — stream → JOIN view → (subscription) → AGG view — must
    equal the direct recompute (fact⋈dim grouped) at every step, including
    an upstream version produced by a dim-only refresh()."""
    from kafka_flow_spark.streaming.materialize import ViewSubscription, open_view

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedJoinView(
        up_path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=4
    )
    down = MaterializedAggView(
        down_path, ["color"], "qty", row_pk=["pk"], n_buckets=4
    )

    def down_rows():
        return {
            tuple(r)
            for r in down.result(spark)
            .select("color", "n_rows", "sum_v", "min_v", "max_v")
            .collect()
        }

    def truth():
        return {
            tuple(r)
            for r in up.view(spark)
            .groupBy("color")
            .agg(
                F.count("*").alias("n_rows"),
                F.round(F.sum("qty"), 2).cast("double").alias("sum_v"),
                F.min("qty").alias("min_v"),
                F.max("qty").alias("max_v"),
            )
            .collect()
        }

    batches = [
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added"), (3, 10, 2.0, "added")],
        [(1, 20, 5.0, "changed"), (3, None, None, "deleted")],
        [(4, 10, 9.0, "added")],
    ]
    sub = None
    for bid, rows in enumerate(batches):
        up(spark.createDataFrame(rows, FACT_CDC_SCHEMA), bid)
        if sub is None:  # table auto-resolves to 'view' for a join upstream
            sub = ViewSubscription(open_view(spark, up_path), down)
        assert sub.advance(spark) is not None
        assert down_rows() == truth(), f"diverged at batch {bid}"

    # a dim-only refresh version flows through the subscription too
    spark.createDataFrame(
        [(10, "crimson"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.mode("overwrite").parquet(dim_path)
    assert up.refresh(spark) is not None
    assert sub.advance(spark) is not None
    assert down_rows() == truth()
    assert sub.advance(spark) is None  # caught up


def test_subscription_crash_between_write_and_commit_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Kill/restart golden: a crash AFTER the downstream tables are written
    but BEFORE the commit marker must lose nothing and double-apply nothing
    — the cursor only moves inside a commit, so the retry re-reads the same
    CDF window and overwrites the torn version."""
    import pytest as _pytest

    import kafka_flow_spark.streaming.materialize as M

    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedAggView(up_path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    down = MaterializedAggView(down_path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    up(
        spark.createDataFrame(
            [(i, f"g{i % 2}", float(i), "added") for i in range(8)], CDC_SCHEMA
        ),
        0,
    )
    sub = M.ViewSubscription(up, down, table="base")
    assert sub.advance(spark) == 0  # bootstrap
    up(
        spark.createDataFrame(
            [(0, "gX", 100.0, "changed"), (7, None, None, "deleted")], CDC_SCHEMA
        ),
        1,
    )

    real = M._commit_version
    state = {"crashed": False}

    def boom(s, root, version):
        if root == down_path and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash before commit")
        return real(s, root, version)

    monkeypatch.setattr(M, "_commit_version", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        sub.advance(spark)
    # torn: no new committed version, cursor still at the old upstream head
    assert down.last_committed(spark) == 0
    assert sub.cursor(spark) == 0

    v = sub.advance(spark)  # the restart
    assert v == 1 and sub.cursor(spark) == 1
    truth = _recompute_rows(up._read(spark, 1, "base"))
    assert _result_rows(down, spark) == truth
    assert sub.advance(spark) is None  # nothing double-applies


def test_subscription_refuses_foreign_or_rolled_back_upstream(spark, tmp_path):
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import ViewSubscription

    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedAggView(up_path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    down = MaterializedAggView(down_path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    up(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    sub = ViewSubscription(up, down, table="base")
    assert sub.advance(spark) == 0
    # a downstream head with no cursor (stream-written) refuses
    other = MaterializedAggView(
        str(tmp_path / "plain"), ["k"], "v", row_pk=["pk"], n_buckets=4
    )
    other(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    sub2 = ViewSubscription(up, other, table="base")
    with _pytest.raises(ValueError, match="no subscription cursor"):
        sub2.advance(spark)
    # a different upstream root for the same downstream refuses
    up_b = MaterializedAggView(
        str(tmp_path / "up_b"), ["k"], "v", row_pk=["pk"], n_buckets=4
    )
    up_b(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    sub3 = ViewSubscription(up_b, down, table="base")
    with _pytest.raises(ValueError, match="one subscription per downstream"):
        sub3.advance(spark)


# --- continuous-trigger dim freshness (review r10: refresh_dim guard) --------


def test_run_view_sink_refuses_continuous_refresh_without_heartbeat(
    spark, tmp_path
):
    """refresh_dim=True + a continuous trigger used to DEFER the dim refresh
    to run end silently — now it refuses up front unless the in-loop
    heartbeat is requested."""
    import pytest as _pytest

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(10, "red")], "b_pk BIGINT, color STRING").write.parquet(
        dim_path
    )
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk"
    )
    input_dir = str(tmp_path / "in")
    _write(spark, input_dir, [(1, 10, 5.0, "added")], FACT_CDC_SCHEMA)
    stream = spark.readStream.schema(FACT_CDC_SCHEMA).parquet(input_dir)
    with _pytest.raises(ValueError, match="dim_heartbeat_rps"):
        run_view_sink(
            stream, sink, str(tmp_path / "chk"),
            available_now=False, refresh_dim=True,
        )


def test_dim_heartbeat_picks_up_dim_edit_with_zero_fact_rows(spark, tmp_path):
    """The continuous-trigger freshness golden: with the rate-source
    heartbeat unioned in, a dim-only edit lands IN-LOOP (same single-writer
    foreachBatch) within a couple of trigger intervals, with zero fact rows
    — and unchanged-world heartbeats commit NO versions (no churn)."""
    import time

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    _write(
        spark, input_dir,
        [(1, 10, 5.0, "added"), (2, 20, 6.0, "added")],
        FACT_CDC_SCHEMA,
    )
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk",
        n_buckets=4,
    )
    def start_q():
        return run_view_sink(
            spark.readStream.schema(FACT_CDC_SCHEMA).parquet(input_dir),
            sink, chk,
            available_now=False, refresh_dim=True, dim_heartbeat_rps=5,
        )

    qbox = [start_q()]

    def wait_for(pred, timeout=60.0):
        t0 = time.monotonic()
        while time.monotonic() - t0 < timeout:
            if pred():
                return True
            if not qbox[0].isActive:
                # a heartbeat dim diff can race the test's non-atomic dim
                # overwrite (parquet files vanish mid-read) and kill the
                # query; the sink is restart-safe by design — restart and
                # keep going (which also exercises exactly that contract)
                qbox[0] = start_q()
            time.sleep(0.3)
        return False

    def view_rows():
        head = sink.last_committed(spark)
        if head is None:
            return set()
        return {
            tuple(r)
            for r in sink._read(spark, head, "view")
            .select("pk", "qty", "color")
            .collect()
        }

    try:
        assert wait_for(
            lambda: view_rows() == {(1, 5.0, "red"), (2, 6.0, "blue")}
        ), "fact batch never landed"
        head0 = sink.last_committed(spark)
        time.sleep(2.0)  # many heartbeats with nothing to do...
        assert sink.last_committed(spark) == head0  # ...commit NOTHING

        fact_before = {
            tuple(r) for r in sink._read(spark, head0, "fact").collect()
        }
        # dim-only edit: NO fact rows accompany it
        spark.createDataFrame(
            [(10, "crimson"), (20, "blue")], "b_pk BIGINT, color STRING"
        ).write.mode("overwrite").parquet(dim_path)
        assert wait_for(
            lambda: view_rows() == {(1, 5.0, "crimson"), (2, 6.0, "blue")}
        ), "dim edit never picked up in-loop"
    finally:
        qbox[0].stop()
    head1 = sink.last_committed(spark)
    fact_after = {tuple(r) for r in sink._read(spark, head1, "fact").collect()}
    assert fact_after == fact_before  # the freshness hop carried ZERO fact rows


def test_subscription_exactly_once_under_random_crashes(spark, tmp_path, monkeypatch):
    """Property over a seeded-random CDC history with randomly injected
    crashes: the subscription is advanced at random points, each advance
    crashing (between table writes and the commit marker) with probability
    1/3 — after final recovery the downstream must equal the direct
    recompute over the upstream head, the cursor must equal the upstream
    head, and a further advance must be a no-op.  The lagging windows also
    exercise multi-version CDF coalescing."""
    import random

    import pytest as _pytest

    import kafka_flow_spark.streaming.materialize as M

    rng = random.Random(20260817)
    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedAggView(up_path, ["k"], "v", row_pk=["pk"], n_buckets=16)
    down = MaterializedAggView(down_path, ["k"], "v", row_pk=["pk"], n_buckets=16)
    sub = M.ViewSubscription(up, down, table="base")

    real = M._commit_version
    crash_next = {"armed": False}

    def maybe_boom(s, root, version):
        if root == down_path and crash_next["armed"]:
            crash_next["armed"] = False
            raise RuntimeError("injected crash")
        return real(s, root, version)

    monkeypatch.setattr(M, "_commit_version", maybe_boom)

    live: set[int] = set()
    for bid in range(6):
        batch = {}
        for _ in range(rng.randint(3, 10)):
            verb = rng.choice(["added", "changed", "deleted"])
            if verb == "added" or not live:
                pk = rng.randint(0, 10_000)
                while pk in live:
                    pk = rng.randint(0, 10_000)
                batch[pk] = (pk, f"g{pk % 3}", float(pk % 89), "added")
                live.add(pk)
            elif verb == "changed":
                pk = rng.choice(sorted(live))
                batch[pk] = (pk, f"g{(pk + 1) % 3}", float(rng.randint(0, 400)), "changed")
            else:
                pk = rng.choice(sorted(live))
                batch[pk] = (pk, None, None, "deleted")
                live.discard(pk)
        up(spark.createDataFrame(list(batch.values()), CDC_SCHEMA), bid)
        if rng.random() < 0.6:  # sometimes lag, coalescing versions
            continue
        if rng.random() < 0.5:
            crash_next["armed"] = True
            with _pytest.raises(RuntimeError, match="injected crash"):
                sub.advance(spark)
        sub.advance(spark)  # recovery (or the plain advance)

    # final recovery: catch up whatever is left, possibly through one more crash
    crash_next["armed"] = True
    try:
        sub.advance(spark)
    except RuntimeError:
        pass
    sub.advance(spark)
    head = up.last_committed(spark)
    assert sub.cursor(spark) == head
    assert sub.advance(spark) is None
    truth = _recompute_rows(up._read(spark, head, "base"))
    assert _result_rows(down, spark) == truth


def test_subscription_across_evolution_boundary(spark, tmp_path):
    """The operational recipe for evolving a view INSIDE a cascade, pinned:
    (1) evolve the UPSTREAM with a NULL backfill (its CDF across the
    boundary is then empty — nothing flows), (2) evolve the DOWNSTREAM with
    the same column, (3) resume — subsequent deltas carry the column end to
    end and the cascade still equals direct recompute.  The refuse-don't-
    corrupt guards hold in both wrong orders: a non-evolved downstream
    refuses a column-bearing changeset at the patch layer, and a downstream
    evolved FIRST refuses the next column-less changeset at apply time."""
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import ViewSubscription

    CDC2 = "pk BIGINT, k STRING, v DOUBLE, src STRING, status STRING"
    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedAggView(up_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    down = MaterializedAggView(down_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sub = ViewSubscription(up, down, table="base")
    up(
        spark.createDataFrame(
            [(i, f"g{i % 2}", float(i), "added") for i in range(10)], CDC_SCHEMA
        ),
        0,
    )
    assert sub.advance(spark) == 0

    # wrong order A: downstream evolves first -> the next column-less
    # upstream delta refuses at apply time (changeset missing the column)
    down_early = MaterializedAggView(
        str(tmp_path / "down_early"), ["k"], "v", row_pk=["pk"], n_buckets=8
    )
    sub_early = ViewSubscription(up, down_early, table="base")
    assert sub_early.advance(spark) == 0
    down_early.evolve(spark, {"src": "CAST(NULL AS STRING)"})
    up(spark.createDataFrame([(50, "g0", 5.0, "added")], CDC_SCHEMA), 1)
    with _pytest.raises(Exception, match="src"):
        sub_early.advance(spark)

    # the pinned recipe: upstream NULL-backfill evolve (empty CDF across
    # the boundary), downstream same evolve, resume
    v_up = up.evolve(spark, {"src": "CAST(NULL AS STRING)"})
    down.evolve(spark, {"src": "CAST(NULL AS STRING)"})
    assert sub.advance(spark) is not None  # batch 1 + the empty-CDF evolve hop
    up(
        spark.createDataFrame(
            [(60, "g1", 7.0, "web", "added"), (0, None, None, None, "deleted")],
            CDC2,
        ),
        2,
    )
    assert sub.advance(spark) is not None
    head = up.last_committed(spark)
    truth = _recompute_rows(up._read(spark, head, "base"))
    assert _result_rows(down, spark) == truth
    # the evolved column flowed end to end into the downstream base
    got_src = {
        r["src"] for r in down._read(spark, down.last_committed(spark), "base").collect()
    }
    assert got_src == {None, "web"}

    # wrong order B: a LITERAL-backfill upstream evolve makes every row
    # 'changed' with the new column; a non-evolved downstream refuses at
    # the patch layer instead of silently dropping it
    down_b = MaterializedAggView(
        str(tmp_path / "down_b"), ["k"], "v", row_pk=["pk"], n_buckets=8
    )
    sub_b = ViewSubscription(up, down_b, table="base")
    assert sub_b.advance(spark) == 0
    up.evolve(spark, {"origin": "'bulk'"})
    with _pytest.raises(Exception, match="origin"):
        sub_b.advance(spark)


def test_subscription_across_upstream_rebucket_and_vacuum(spark, tmp_path):
    """Two more cascade × admin-op interactions, pinned: (a) an upstream
    rebucket commits a version whose content is UNCHANGED — the cross-
    bucket-count CDF read degrades to a full diff (bucket ids no longer
    correspond) but stays CORRECT (empty changeset), and the subscription
    advances through it; (b) an upstream vacuum that outruns the
    subscriber's cursor makes the next advance refuse LOUDLY (the cursor
    version is gone) instead of silently skipping history."""
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import ViewSubscription

    up_path, down_path = str(tmp_path / "up"), str(tmp_path / "down")
    up = MaterializedAggView(up_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    down = MaterializedAggView(down_path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sub = ViewSubscription(up, down, table="base")
    up(
        spark.createDataFrame(
            [(i, f"g{i % 2}", float(i), "added") for i in range(12)], CDC_SCHEMA
        ),
        0,
    )
    assert sub.advance(spark) == 0
    # a second subscriber stays parked at the bootstrap cursor (v0) — the
    # one version the rebucket's FRESH manifests cut out of the closure
    stale = MaterializedAggView(
        str(tmp_path / "stale"), ["k"], "v", row_pk=["pk"], n_buckets=8
    )
    sub_stale = ViewSubscription(up, stale, table="base")
    assert sub_stale.advance(spark) == 0

    # (a) rebucket upstream: content identical, cursor behind the new head
    up.rebucket(spark, 16)
    assert sub.advance(spark) is not None  # advances through the boundary
    up(spark.createDataFrame([(99, "g0", 9.0, "added")], CDC_SCHEMA), 1)
    assert sub.advance(spark) is not None
    head = up.last_committed(spark)
    assert _result_rows(down, spark) == _recompute_rows(
        up._read(spark, head, "base")
    )

    # (b) vacuum: manifest-closure protection keeps every version the head
    # still points into — only the pre-rebucket v0 (the stale subscriber's
    # cursor) is droppable.  The caught-up subscriber is untouched; the
    # stale one refuses LOUDLY instead of silently skipping history.
    dropped = up.vacuum(spark, keep=1)
    assert dropped == [0]
    assert sub.advance(spark) is None  # caught up, unharmed
    with _pytest.raises(ValueError, match="not committed"):
        sub_stale.advance(spark)


def test_evolve_dim_side_recipe(spark, tmp_path):
    """The DIM-side evolution story, pinned: when the dim SOURCE gains a
    column, the next dim diff refuses loudly (the stored snapshot lacks the
    compare column — changeset's absent-side guard), and the remedy is
    evolve(add_columns, tables=['dim', 'view']) — the dim snapshot and the
    view rows (which carry dim columns) extend together, after which the
    diff resumes and new dim values flow through maintenance."""
    import pytest as _pytest

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(10, "red"), (20, "blue")], "b_pk BIGINT, color STRING"
    ).write.parquet(dim_path)
    path = str(tmp_path / "view")
    sink = MaterializedJoinView(
        path, dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk", n_buckets=4
    )
    sink(
        spark.createDataFrame(
            [(1, 10, 5.0, "added"), (2, 20, 6.0, "added")], FACT_CDC_SCHEMA
        ),
        0,
    )
    # dim source gains a column: the next advance refuses loudly
    spark.createDataFrame(
        [(10, "red", "EU"), (20, "blue", "US")],
        "b_pk BIGINT, color STRING, region STRING",
    ).write.mode("overwrite").parquet(dim_path)
    with _pytest.raises(Exception, match="region|absent"):
        sink(spark.createDataFrame([(3, 10, 7.0, "added")], FACT_CDC_SCHEMA), 1)

    # the remedy: extend the stored dim snapshot AND the view rows together
    sink.evolve(spark, {"region": "CAST(NULL AS STRING)"}, tables=["dim", "view"])
    sink(spark.createDataFrame([(3, 10, 7.0, "added")], FACT_CDC_SCHEMA), 1)
    got = {
        tuple(r)
        for r in sink.view(spark)
        .select("pk", "color", "region")
        .collect()
    }
    # the diff resumed: every dim row's region changed NULL -> value, so
    # ALL view rows carry the live region (not just the new fact row)
    assert got == {(1, "red", "EU"), (2, "blue", "US"), (3, "red", "EU")}


# --- r11 advice: metadata torn-write hardening --------------------------------


def test_corrupt_root_meta_cache_does_not_wedge_committed_view(spark, tmp_path):
    """The root-level _VIEW_META.json is a discovery CACHE; the authoritative
    copy is version-scoped inside the committed head (atomic with the commit
    marker).  Garbage in the root file — the torn-write the old in-place
    rewrite could leave — must neither wedge reads nor admin ops, and the
    next commit self-heals the cache (review r11)."""
    import kafka_flow_spark.streaming.materialize as M

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", n_buckets=4)
    sink(spark.createDataFrame([("a", 1.0)], EVENT_SCHEMA), 0)

    with open(f"{path}/{M._VIEW_META}", "w") as f:
        f.write('{"kind": "agg", "n_bu')  # truncated mid-write
    crc = f"{path}/.{M._VIEW_META}.crc"
    if os.path.exists(crc):
        os.remove(crc)  # out-of-band edit: drop the local-FS checksum sidecar

    # reads resolve through the committed head's version-scoped copy
    assert M.read_view_meta(spark, path)["kind"] == "agg"
    assert isinstance(M.open_view(spark, path), MaterializedAggView)
    # the stream is not wedged: _check_meta passes, the advance commits
    sink(spark.createDataFrame([("b", 2.0)], EVENT_SCHEMA), 1)
    # ... and the commit self-healed the root cache
    import json as _json

    with open(f"{path}/{M._VIEW_META}") as f:
        assert _json.load(f)["kind"] == "agg"


def test_corrupt_meta_on_headless_root_names_file_and_remedy(spark, tmp_path):
    """A root with NO committed head falls back to the root-level file; if
    THAT is torn the error must name the corrupt file and the fix, not be a
    bare JSONDecodeError surfacing from every admin op (review r11)."""
    import pytest as _pytest

    import kafka_flow_spark.streaming.materialize as M

    path = str(tmp_path / "legacyish")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/{M._VIEW_META}", "w") as f:
        f.write("{not json")
    crc = f"{path}/.{M._VIEW_META}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    with _pytest.raises(ValueError, match="corrupt JSON metadata.*delete"):
        M.read_view_meta(spark, path)


def test_json_sidecars_written_via_temp_rename(spark, tmp_path):
    """_write_json_file goes through temp+rename: after any commit no
    .__tmp__ debris remains and every sidecar parses (the in-place fs.create
    overwrite could leave truncated JSON on crash; review r11)."""
    import glob
    import json as _json

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    sink(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    sink(spark.createDataFrame([(2, "b", 2.0, "added")], CDC_SCHEMA), 1)
    assert glob.glob(f"{path}/**/*.__tmp__", recursive=True) == []
    for p in glob.glob(f"{path}/**/*.json", recursive=True):
        with open(p) as f:
            _json.load(f)  # every sidecar is whole


def test_rebucket_crash_before_commit_keeps_meta_and_head_consistent(
    spark, tmp_path, monkeypatch
):
    """The r11-advice torn-migration case: a rebucket crash AFTER the new
    version's tables+meta are written but BEFORE the commit marker.  The
    authoritative meta is version-scoped, so the committed head still
    advertises the OLD bucket count — the running stream's correctly-
    configured sink is NOT refused, and re-running the migration succeeds."""
    import pytest as _pytest

    import kafka_flow_spark.streaming.materialize as M

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    sink(
        spark.createDataFrame(
            [(i, f"g{i % 2}", float(i), "added") for i in range(8)], CDC_SCHEMA
        ),
        0,
    )

    real = M._commit_version
    state = {"crashed": False}

    def boom(s, root, version):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash before commit")
        return real(s, root, version)

    monkeypatch.setattr(M, "_commit_version", boom)
    mig = M.open_view(spark, path)
    with _pytest.raises(RuntimeError, match="injected crash"):
        mig.rebucket(spark, 8)

    # committed head + authoritative meta still agree on the OLD count
    assert M.read_view_meta(spark, path)["n_buckets"] == 4
    # the owning stream's sink (old count) advances untouched
    sink2 = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    sink2(spark.createDataFrame([(8, "g0", 8.0, "changed")], CDC_SCHEMA), 1)
    # and the remedy — re-run the migration via open_view — succeeds
    mig2 = M.open_view(spark, path)
    v = mig2.rebucket(spark, 8)
    assert M.read_view_meta(spark, path)["n_buckets"] == 8
    sink3 = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=8)
    sink3(spark.createDataFrame([(9, "g1", 9.0, "added")], CDC_SCHEMA), 2)
    truth = {("g0", 5, 20.0, 0.0, 8.0), ("g1", 5, 25.0, 1.0, 9.0)}
    assert _result_rows(sink3, spark) == truth
    assert v == sink3.last_committed(spark) - 1


def test_run_view_sink_refuses_heartbeat_misuse(spark, tmp_path):
    """dim_heartbeat_rps was silently ignored with available_now=True and
    version-churned with refresh_dim=False — both now refuse up front
    (review r11)."""
    import pytest as _pytest

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(10, "red")], "b_pk BIGINT, color STRING").write.parquet(
        dim_path
    )
    sink = MaterializedJoinView(
        str(tmp_path / "view"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk"
    )
    input_dir = str(tmp_path / "in")
    _write(spark, input_dir, [(1, 10, 5.0, "added")], FACT_CDC_SCHEMA)
    stream = spark.readStream.schema(FACT_CDC_SCHEMA).parquet(input_dir)
    with _pytest.raises(ValueError, match="only applies to continuous"):
        run_view_sink(
            stream, sink, str(tmp_path / "chk"),
            available_now=True, refresh_dim=True, dim_heartbeat_rps=5,
        )
    with _pytest.raises(ValueError, match="refresh_dim=True"):
        run_view_sink(
            stream, sink, str(tmp_path / "chk"),
            available_now=False, refresh_dim=False, dim_heartbeat_rps=5,
        )


# --- r12: in-loop cascades (run_view_sink cascade=), follow_all, view_status --


def _sub(up, down, table="base"):
    from kafka_flow_spark.streaming.materialize import ViewSubscription

    return ViewSubscription(up, down, table=table)


def test_cascade_two_hop_dag_advances_in_one_invocation(spark, tmp_path):
    """The round-11 gap closed: run_view_sink(cascade=[...]) drives a 2-hop
    DAG to truth in ONE invocation — no external scheduler calling follow()
    per hop (the reference's in-loop consumer fan-out,
    core/.../TopicFlow.scala:84-104).  A second invocation over new backlog
    rolls every hop forward from its committed cursor."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d2 = MaterializedAggView(str(tmp_path / "d2"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    casc = [_sub(up, d1), _sub(d1, d2)]

    _write(
        spark, input_dir,
        [(i, f"g{i % 3}", float(i), "added") for i in range(9)],
        CDC_SCHEMA,
    )
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, up, chk, cascade=casc)
    truth = _recompute_rows(up._read(spark, up.last_committed(spark), "base"))
    assert _result_rows(d1, spark) == truth
    assert _result_rows(d2, spark) == truth

    # new backlog, same checkpoint: one invocation rolls ALL hops forward
    _write(
        spark, input_dir,
        [(0, "gX", 100.0, "changed"), (8, None, None, "deleted"),
         (9, "g0", 9.0, "added")],
        CDC_SCHEMA,
    )
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, up, chk, cascade=casc)
    truth = _recompute_rows(up._read(spark, up.last_committed(spark), "base"))
    assert truth == _result_rows(up, spark)
    assert _result_rows(d1, spark) == truth
    assert _result_rows(d2, spark) == truth


def test_cascade_crash_mid_hop_recovers_exactly_once(spark, tmp_path, monkeypatch):
    """A crash in a downstream hop's commit during the cascade loses nothing
    and double-applies nothing: the next invocation (no new fact data at
    all) resumes every hop from its committed cursor — the subscription
    protocol composes with the in-loop wiring unchanged."""
    import pytest as _pytest

    import kafka_flow_spark.streaming.materialize as M

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d2 = MaterializedAggView(str(tmp_path / "d2"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1_path, d2_path = d1.path, d2.path
    casc = [_sub(up, d1), _sub(d1, d2)]

    _write(
        spark, input_dir,
        [(i, f"g{i % 2}", float(i), "added") for i in range(6)],
        CDC_SCHEMA,
    )
    real = M._commit_version
    state = {"crashed": False}

    def boom(s, root, version):
        if root == d2_path and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash in hop 2")
        return real(s, root, version)

    monkeypatch.setattr(M, "_commit_version", boom)
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(input_dir)
    with _pytest.raises(RuntimeError, match="injected crash"):
        run_view_sink(stream, up, chk, cascade=casc)
    # hop 1 committed, hop 2 torn (no marker)
    assert d1.last_committed(spark) is not None
    assert d2.last_committed(spark) is None

    # the retry: NO new data — the drain does nothing, the cascade catches up
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, up, chk, cascade=casc)
    truth = _recompute_rows(up._read(spark, up.last_committed(spark), "base"))
    assert _result_rows(d1, spark) == truth
    assert _result_rows(d2, spark) == truth
    # idempotent: nothing further to apply
    assert _sub(up, d1).advance(spark) is None
    assert _sub(d1, d2).advance(spark) is None


def test_cascade_validates_topology_before_starting(spark, tmp_path):
    """Out-of-order (or disconnected) cascade entries refuse BEFORE the
    stream starts — a hop following a root the loop never advances would
    silently lag forever."""
    import pytest as _pytest

    input_dir = str(tmp_path / "in")
    _write(spark, input_dir, [(1, "a", 1.0, "added")], CDC_SCHEMA)
    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d2 = MaterializedAggView(str(tmp_path / "d2"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(input_dir)
    # wrong order: d2's upstream (d1) is not yet a known downstream
    with _pytest.raises(ValueError, match="topological order"):
        run_view_sink(
            stream, up, str(tmp_path / "chk"),
            cascade=[_sub(d1, d2), _sub(up, d1)],
        )
    with _pytest.raises(ValueError, match="ViewSubscription"):
        run_view_sink(stream, up, str(tmp_path / "chk"), cascade=[d1])


def test_cascading_sink_continuous_advances_downstream_per_batch(spark, tmp_path):
    """The continuous-trigger wrapper (cascading_sink — what run_view_sink
    installs for available_now=False): every committed micro-batch advances
    the downstream inside the SAME foreachBatch turn, and the call returns
    the running query."""
    import time

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)

    _write(spark, input_dir, [(1, "a", 1.0, "added"), (2, "b", 2.0, "added")], CDC_SCHEMA)
    q = run_view_sink(
        spark.readStream.schema(CDC_SCHEMA).parquet(input_dir), up, chk,
        available_now=False, cascade=[_sub(up, d1)],
    )

    def wait_for(pred, timeout=60.0):
        t0 = time.monotonic()
        while time.monotonic() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.3)
        return False

    def d1_rows():
        try:
            return _result_rows(d1, spark) if d1.last_committed(spark) is not None else set()
        except ValueError:
            return set()

    try:
        assert wait_for(
            lambda: d1_rows() == {("a", 1, 1.0, 1.0, 1.0), ("b", 1, 2.0, 2.0, 2.0)}
        ), "hop never advanced in-loop"
        # second batch while the query is live: the hop rides it too
        _write(spark, input_dir, [(1, "a", 9.0, "changed")], CDC_SCHEMA)
        assert wait_for(
            lambda: d1_rows() == {("a", 1, 9.0, 9.0, 9.0), ("b", 1, 2.0, 2.0, 2.0)}
        ), "second batch never cascaded"
    finally:
        q.stop()


def test_follow_all_topo_sorts_and_refuses_uninitialized(spark, tmp_path):
    """follow_all advances every given follower in topological order derived
    from the on-disk cursors (roots may be passed in ANY order), and refuses
    a root that was never bootstrapped (its upstream is unknowable)."""
    import pytest as _pytest

    from kafka_flow_spark.streaming.materialize import follow_all

    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d2 = MaterializedAggView(str(tmp_path / "d2"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    up(spark.createDataFrame([(1, "a", 1.0, "added"), (2, "b", 2.0, "added")], CDC_SCHEMA), 0)
    # bootstrap once per hop (records each downstream's upstream on disk)
    assert _sub(up, d1).advance(spark) == 0
    assert _sub(d1, d2).advance(spark) == 0

    up(spark.createDataFrame([(3, "a", 3.0, "added")], CDC_SCHEMA), 1)
    # reverse order given: topo sort must advance d1 BEFORE d2 anyway
    out = follow_all(spark, [d2.path, d1.path])
    assert out[d1.path] == 1 and out[d2.path] == 1
    truth = _recompute_rows(up._read(spark, 1, "base"))
    assert _result_rows(d1, spark) == truth
    assert _result_rows(d2, spark) == truth
    # caught up: all None
    assert follow_all(spark, [d2.path, d1.path]) == {d1.path: None, d2.path: None}

    d3 = MaterializedAggView(str(tmp_path / "d3"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    with _pytest.raises(ValueError, match="bootstrap"):
        follow_all(spark, [d3.path])


def test_view_status_reports_follower_lag(spark, tmp_path):
    """The lag golden: a subscriber 3 versions behind reports 3; the
    min-follower cursor names the oldest version vacuum must keep; a root
    following a DIFFERENT upstream is flagged, not miscounted."""
    from kafka_flow_spark.streaming.materialize import view_status

    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    other_up = MaterializedAggView(str(tmp_path / "oup"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d_other = MaterializedAggView(str(tmp_path / "dot"), ["k"], "v", row_pk=["pk"], n_buckets=4)

    up(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    assert _sub(up, d1).advance(spark) == 0
    other_up(spark.createDataFrame([(9, "z", 9.0, "added")], CDC_SCHEMA), 0)
    assert _sub(other_up, d_other).advance(spark) == 0

    # upstream advances 3 more versions; d1 does not follow
    for i in range(1, 4):
        up(spark.createDataFrame([(1 + i, "a", float(i), "added")], CDC_SCHEMA), i)

    st = view_status(spark, up.path, [d1.path, d_other.path])
    assert st["head"] == 3 and st["kind"] == "agg" and st["n_buckets"] == 4
    f1 = next(f for f in st["followers"] if f["root"] == d1.path)
    assert f1["follows_this_root"] and f1["cursor"] == 0
    assert f1["versions_behind"] == 3
    f2 = next(f for f in st["followers"] if f["root"] == d_other.path)
    assert not f2["follows_this_root"] and f2["cursor"] is None
    assert st["min_follower_cursor"] == 0 and st["droppable_before"] == 0

    # catch up: lag drops to zero
    assert _sub(up, d1).advance(spark) is not None
    st2 = view_status(spark, up.path, [d1.path])
    assert st2["followers"][0]["versions_behind"] == 0
    assert st2["min_follower_cursor"] == 3


def test_view_admin_status_and_follow_all_cli(spark, tmp_path, monkeypatch, capsys):
    """CLI smoke for the two new subcommands: status prints head + follower
    lag; follow-all advances followers given in any order."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import view_admin

    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d2 = MaterializedAggView(str(tmp_path / "d2"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    up(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    assert _sub(up, d1).advance(spark) == 0
    assert _sub(d1, d2).advance(spark) == 0
    up(spark.createDataFrame([(2, "b", 2.0, "added")], CDC_SCHEMA), 1)

    monkeypatch.setattr(
        _sys, "argv",
        ["view_admin.py", "status", up.path, "--downstream", d1.path],
    )
    view_admin.main()
    out = capsys.readouterr().out
    assert "head=v1" in out and "versions_behind=1" in out

    monkeypatch.setattr(
        _sys, "argv", ["view_admin.py", "follow-all", d2.path, d1.path]
    )
    view_admin.main()
    out = capsys.readouterr().out
    assert "committed v=1" in out
    truth = _recompute_rows(up._read(spark, 1, "base"))
    assert _result_rows(d2, spark) == truth


# --- r12: payload-column rename (evolve_rename) --------------------------------


def test_evolve_rename_then_deltas_continue(spark, tmp_path):
    """evolve_rename commits ONE full rewrite pinning the renamed schema:
    existing rows keep their values under the new name, subsequent batches
    must carry it (old-name batches refuse via the standing drift guard),
    and maintained state equals the recompute."""
    import pytest as _pytest

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    sink(
        spark.createDataFrame(
            [(1, "a", 1.0, "added"), (2, "b", 2.0, "added")], CDC_SCHEMA
        ),
        0,
    )
    # 'k' is a grouping key and 'v' the value column — only a payload rename
    # is possible here, so evolve a payload column first, then rename it
    sink.evolve(spark, {"note": "upper(k)"})
    v = sink.evolve_rename(spark, {"note": "tag"})
    assert v == 2
    base = {tuple(r) for r in sink._read(spark, v, "base").select("pk", "tag").collect()}
    assert base == {(1, "A"), (2, "B")}  # values preserved under the new name

    # a batch still carrying the OLD name refuses loudly
    old_shape = spark.createDataFrame(
        [(3, "c", 3.0, "C", "added")],
        "pk BIGINT, k STRING, v DOUBLE, note STRING, status STRING",
    )
    # (the changeset coverage guard fires first — the renamed column is
    # absent from the old-shape batch; either guard is loud, never silent)
    with _pytest.raises(ValueError, match="tag.*missing|evolve_rename"):
        sink(old_shape, 1)
    # the new shape continues; state == recompute
    sink(
        spark.createDataFrame(
            [(3, "c", 3.0, "C", "added")],
            "pk BIGINT, k STRING, v DOUBLE, tag STRING, status STRING",
        ),
        1,
    )
    assert _result_rows(sink, spark) == _recompute_rows(
        sink._read(spark, sink.last_committed(spark), "base")
    )


def test_evolve_rename_refusal_battery(spark, tmp_path):
    """Critical-column renames (pk / grouping key / value col / fk) refuse
    with the copy-evolve-backfill recipe; missing columns, clashes, no-ops
    and duplicate targets refuse too."""
    import pytest as _pytest

    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    sink(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    for crit in ("pk", "k", "v"):
        with _pytest.raises(ValueError, match="critical"):
            sink.evolve_rename(spark, {crit: "renamed"})
    with _pytest.raises(ValueError, match="do not exist"):
        sink.evolve_rename(spark, {"ghost": "renamed"})
    sink.evolve(spark, {"note": "upper(k)"})
    with _pytest.raises(ValueError, match="already exist"):
        sink.evolve_rename(spark, {"note": "k"})
    with _pytest.raises(ValueError, match="no-op"):
        sink.evolve_rename(spark, {"note": "note"})
    with _pytest.raises(ValueError, match="duplicate"):
        sink.evolve_rename(spark, {"note": "x", "k": "x"})

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(10, "red")], "b_pk BIGINT, color STRING").write.parquet(
        dim_path
    )
    jsink = MaterializedJoinView(
        str(tmp_path / "jview"), dim_path, a_pk=["pk"], fk="fk", b_pk="b_pk",
        n_buckets=4,
    )
    jsink(spark.createDataFrame([(1, 10, 5.0, "added")], FACT_CDC_SCHEMA), 0)
    for crit in ("pk", "fk", "b_pk"):
        with _pytest.raises(ValueError, match="critical"):
            jsink.evolve_rename(spark, {crit: "renamed"}, tables=["fact", "view"])


def test_evolve_rename_cdf_across_boundary(spark, tmp_path):
    """Pinned: a CDF read SPANNING the rename boundary resolves old-side
    rows under the NEWER schema (renamed column NULL), so every surviving
    row reports 'changed' — values were preserved, but the pinned-schema
    read cannot know the mapping.  Reads on either side of the boundary
    stay exact."""
    path = str(tmp_path / "view")
    sink = MaterializedAggView(path, ["k"], "v", row_pk=["pk"], n_buckets=4)
    sink(
        spark.createDataFrame(
            [(1, "a", 1.0, "added"), (2, "b", 2.0, "added")], CDC_SCHEMA
        ),
        0,
    )
    sink.evolve(spark, {"note": "upper(k)"})       # v1
    sink.evolve_rename(spark, {"note": "tag"})     # v2
    ch = sink.changes_between(spark, 1, 2).collect()
    by_pk = {r["pk"]: r for r in ch}
    assert set(by_pk) == {1, 2}
    for r in ch:
        assert r["status"] == "changed" and r["tag"] is not None
    # within-side reads stay exact
    assert sink.changes_between(spark, 0, 1).count() == 2  # backfill literal


def test_cascade_fan_out_two_followers_one_upstream(spark, tmp_path):
    """Fan-OUT DAG shape: two subscriptions off the SAME upstream advance in
    one invocation (the topological check admits siblings; each follower
    keeps its own independent cursor)."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d2 = MaterializedAggView(str(tmp_path / "d2"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    casc = [_sub(up, d1), _sub(up, d2)]

    _write(
        spark, input_dir,
        [(i, f"g{i % 2}", float(i), "added") for i in range(6)],
        CDC_SCHEMA,
    )
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(input_dir)
    run_view_sink(stream, up, chk, cascade=casc)
    truth = _recompute_rows(up._read(spark, up.last_committed(spark), "base"))
    assert _result_rows(d1, spark) == truth
    assert _result_rows(d2, spark) == truth
    # independent cursors: advancing one sibling does not disturb the other
    up(spark.createDataFrame([(6, "g0", 6.0, "added")], CDC_SCHEMA), 99)
    assert _sub(up, d1).advance(spark) is not None
    assert _sub(up, d1).cursor(spark) > _sub(up, d2).cursor(spark)


def test_vacuum_protect_refuses_stranding_lagging_follower(spark, tmp_path):
    """Subscription-aware vacuum: with protect=, dropping a version a listed
    follower's cursor still needs REFUSES with the remedy (advance or raise
    keep) — prevention of the parked-subscriber state instead of recovery.
    Foreign/uninitialized roots never block; after the follower catches up
    the same vacuum proceeds."""
    import pytest as _pytest

    up = MaterializedAggView(str(tmp_path / "up"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d1 = MaterializedAggView(str(tmp_path / "d1"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    other_up = MaterializedAggView(str(tmp_path / "oup"), ["k"], "v", row_pk=["pk"], n_buckets=4)
    d_other = MaterializedAggView(str(tmp_path / "dot"), ["k"], "v", row_pk=["pk"], n_buckets=4)

    up(spark.createDataFrame([(1, "a", 1.0, "added")], CDC_SCHEMA), 0)
    assert _sub(up, d1).advance(spark) == 0  # cursor at v0
    other_up(spark.createDataFrame([(9, "z", 9.0, "added")], CDC_SCHEMA), 0)
    assert _sub(other_up, d_other).advance(spark) == 0

    for i in range(1, 4):
        up(spark.createDataFrame([(1 + i, "a", float(i), "added")], CDC_SCHEMA), i)

    with _pytest.raises(ValueError, match="still needs.*raise keep to >= 4"):
        up.vacuum(spark, keep=1, protect=[d1.path, d_other.path])
    # nothing was dropped by the refused call
    assert up.versions(spark) == [0, 1, 2, 3]
    # a follower of a DIFFERENT root never blocks (no refusal; what actually
    # drops is the manifest closure's business, not the guard's)
    up.vacuum(spark, keep=3, protect=[d_other.path])

    # catch up, then the same keep=1 vacuum proceeds and the follower stays
    # serviceable (the closure may retain pointer-referenced older dirs —
    # the guard only decides refusal, never the drop set)
    assert _sub(up, d1).advance(spark) is not None
    up.vacuum(spark, keep=1, protect=[d1.path])
    assert up.versions(spark)[-1] == 3
    assert _sub(up, d1).advance(spark) is None  # caught up, still serviceable
