"""Streaming exact dedup: first-wins across micro-batches (state survives the
checkpoint), and watermark-bounded state for the windowed form."""

from __future__ import annotations

from datetime import datetime

from kafka_flow_spark.streaming import dedup

SCHEMA = "ts TIMESTAMP, doc_id INT, text STRING"


def ts(minute):
    return datetime(2026, 1, 1, 12, minute)


def write_batch(spark, d, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(d)


def run_stream(spark, input_dir, checkpoint, build):
    out_dir = checkpoint + "__out"
    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    q = (
        build(records)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).collect()


def test_first_wins_across_restarts(spark, tmp_path):
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    build = lambda r: dedup.dedup_exact_stream(r, "text")
    write_batch(spark, input_dir, [(ts(0), 1, "alpha"), (ts(1), 2, "beta"), (ts(2), 3, "alpha")])
    out1 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out1) == [1, 2]
    # restart from checkpoint: a later duplicate of 'alpha' must STILL drop
    # (fingerprint state recovered), a new text passes
    write_batch(spark, input_dir, [(ts(9), 4, "alpha"), (ts(9), 5, "gamma")])
    out2 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out2) == [1, 2, 5]
    # whitespace/case variants are the same content (normalized fingerprint)
    write_batch(spark, input_dir, [(ts(10), 6, "  ALPHA "), (ts(10), 7, "beta\n")])
    out3 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out3) == [1, 2, 5]


def test_windowed_dedup_bounds_state_but_drops_near_duplicates(spark, tmp_path):
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    build = lambda r: dedup.dedup_exact_stream_windowed(r, "text", "ts", "5 minutes")
    # duplicate within the horizon drops
    write_batch(spark, input_dir, [(ts(0), 1, "alpha"), (ts(2), 2, "alpha"), (ts(3), 3, "beta")])
    out1 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out1) == [1, 3]
    # the watermark advances only AFTER a batch is processed: first push it
    # far past the horizon with unrelated content (evicting 'alpha' state)...
    write_batch(spark, input_dir, [(ts(30), 4, "delta")])
    out2 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out2) == [1, 3, 4]
    # ...then the same content is admitted again (bounded-state contract)
    write_batch(spark, input_dir, [(ts(31), 5, "alpha")])
    out3 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out3) == [1, 3, 4, 5]


def test_streaming_quality_gate_filters_and_keeps_schema(spark, tmp_path):
    """Flow.quality_gate in a streaming pipeline: failing docs drop, schema is
    unchanged, and the step is stateless (no state rows in the checkpoint)."""
    from kafka_flow_spark.flow import Flow
    from kafka_flow_spark.operators.quality import with_quality_stats

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    good = "the quick brown fox jumps over a lazy dog near the old mill today"
    write_batch(
        spark,
        input_dir,
        [(ts(0), 1, good), (ts(1), 2, "too short"), (ts(2), 3, " ".join(["ab"] * 20))],
    )
    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    flow = Flow(records).quality_gate("text")
    assert flow.df.columns == ["ts", "doc_id", "text"]
    out_dir = chk + "__out"
    q = (
        flow.df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir).collect()
    assert [r["doc_id"] for r in out] == [1]
    # batch/stream parity: the same operator on a batch df agrees
    batch = spark.createDataFrame([(ts(0), 1, good), (ts(1), 2, "too short")], SCHEMA)
    kept = with_quality_stats(batch, "text").where("keep").count()
    assert kept == 1


def _near_docs():
    base = "the quick brown fox jumps over the lazy dog while seven wizards watch quietly tonight"
    near = base.replace("quietly", "silently")  # high-jaccard near-dup of base
    other = "completely different content about databases indexes shuffles partitions and aggregation strategies"
    return base, near, other


def run_near_stream(spark, input_dir, chk, index_dir, out_dir):
    from kafka_flow_spark.streaming.dedup import dedup_near_stream

    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    q = dedup_near_stream(records, "text", "doc_id", index_dir, out_dir, chk)
    q.awaitTermination()
    return sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())


def test_near_dedup_stream_first_wins_across_batches(spark, tmp_path):
    """Streaming MinHash-LSH dedup: near-dups drop within a batch (min id
    survives) and across batches/restarts (persisted band index)."""
    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()

    # batch 1: base + its near-dup + one unique -> keep 1 (min id) and 3
    write_batch(spark, input_dir, [(ts(0), 1, base), (ts(0), 2, near), (ts(0), 3, other)])
    assert run_near_stream(spark, input_dir, chk, index_dir, out_dir) == [1, 3]

    # batch 2 (restart from checkpoint): another near-dup of base drops via
    # the index; a fresh doc passes
    fresh = "yet another unrelated document mentioning graphs components stars and deterministic convergence checks"
    write_batch(spark, input_dir, [(ts(5), 4, base + " extra"), (ts(5), 5, fresh)])
    assert run_near_stream(spark, input_dir, chk, index_dir, out_dir) == [1, 3, 5]


def test_near_dedup_stream_agrees_with_batch_operator(spark, tmp_path):
    """Stream-ingesting a corpus in one batch keeps exactly the canonical
    survivors the batch pipeline (minhash_lsh_pairs -> dedup_clusters) keeps."""
    from kafka_flow_spark.operators.dedup import minhash_lsh_pairs
    from kafka_flow_spark.operators.graph import dedup_clusters

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    rows = [(ts(0), 1, base), (ts(0), 2, near), (ts(0), 3, other), (ts(0), 4, near + " tail")]
    write_batch(spark, input_dir, rows)
    kept_stream = run_near_stream(spark, input_dir, chk, index_dir, out_dir)

    docs = spark.createDataFrame(rows, SCHEMA)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.0)
    clusters = dedup_clusters(docs, pairs)
    kept_batch = sorted(
        r["cluster_id"] for r in clusters.select("cluster_id").distinct().collect()
    )
    assert kept_stream == kept_batch


def test_flow_to_near_dedup_sink(spark, tmp_path):
    """Flow API form of the near-dedup sink behaves like dedup_near_stream."""
    from kafka_flow_spark.flow import Flow

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    write_batch(spark, input_dir, [(ts(0), 1, base), (ts(0), 2, near), (ts(0), 3, other)])
    flow = Flow.from_files(spark, input_dir, SCHEMA)
    flow.to_near_dedup("text", "doc_id", index_dir, out_dir, chk)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 3]


def test_flow_to_near_dedup_drains_ttl_fold_and_stops(spark, tmp_path):
    """A ``state_ttl_ms`` fold in front of the near-dedup sink compiles to a
    processing-time timer, under which an availableNow query never ends: the
    sink must drain and stop like the other sinks.  A watchdog stops a hung
    query, so a regression fails on time, not hangs."""
    import threading
    import time

    from kafka_flow_spark.flow import Flow
    from kafka_flow_spark.operators.fold import fold_option
    from kafka_flow_spark.streaming.flow import FlowSpec

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    write_batch(spark, input_dir, [(ts(0), 1, base), (ts(0), 2, near), (ts(0), 3, other)])
    spec = FlowSpec(
        key_cols=["doc_id"],
        order_col="ts",
        fold=fold_option(lambda s, rec: rec["text"]),
        output_schema="doc_id INT, text STRING",
        emit=lambda key, rec, before, after: {"doc_id": key["doc_id"], "text": after},
        state_ttl_ms=60_000,
    )
    flow = Flow.from_files(spark, input_dir, SCHEMA).fold(spec)
    limit_s = 60
    watchdog = threading.Timer(limit_s, lambda: [q.stop() for q in spark.streams.active])
    watchdog.start()
    t0 = time.monotonic()
    try:
        flow.to_near_dedup("text", "doc_id", index_dir, out_dir, chk)
    finally:
        watchdog.cancel()
    assert time.monotonic() - t0 < limit_s, "the query ran until the watchdog stopped it"
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 3]


def test_crawl_stream_dedup_on_canonical_url(spark, tmp_path):
    """Composition proof: the streaming exact-dedup state keyed on the
    CANONICAL url (operators/text.canonicalize_url) collapses crawl
    variants of the same page across batches AND restarts — the ingest-time
    form of q_url_dedup_pages' batch LWW."""
    from kafka_flow_spark.operators.text import canonicalize_url

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")

    def build(r):
        return dedup.dedup_exact_stream(
            r.withColumn("canon", canonicalize_url("text")), "canon"
        )

    write_batch(spark, input_dir, [
        (ts(0), 1, "http://www.Example.com:80/news/?utm_source=feed"),
        (ts(1), 2, "HTTP://example.COM/news#top"),          # same page
        (ts(2), 3, "https://other.org/a"),
    ])
    out1 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out1) == [1, 3]
    # restart: a third variant of the same page still drops
    write_batch(spark, input_dir, [
        (ts(9), 4, "http://example.com/news?utm_medium=cpc"),
        (ts(9), 5, "http://example.com/news/today"),        # genuinely new
    ])
    out2 = run_stream(spark, input_dir, chk, build)
    assert sorted(r["doc_id"] for r in out2) == [1, 3, 5]


def test_near_dedup_replayed_batch_is_exactly_once(spark, tmp_path):
    """A re-delivered foreachBatch epoch (same epoch_id, the crash-replay
    contract) must append ZERO duplicate kept docs and zero duplicate band
    rows — the per-(stream, epoch) overwrite partitions make the sink
    idempotent (r12 verdict defect (b))."""
    from kafka_flow_spark.streaming.dedup import make_near_dedup_batch_fn

    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    fn = make_near_dedup_batch_fn("text", "doc_id", index_dir, out_dir, stream_ns="s1")
    batch = spark.createDataFrame(
        [(ts(0), 1, base), (ts(0), 2, near), (ts(0), 3, other)], SCHEMA
    )
    fn(batch, 0)
    fn(batch, 0)  # replay of the SAME epoch
    kept = [r["doc_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(kept) == [1, 3]  # no duplicates
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.dropDuplicates(["doc_id", "band_id", "band_hash"]).count()


def test_near_dedup_crash_between_writes_then_replay(spark, tmp_path, monkeypatch):
    """Crash AFTER the kept-docs write but BEFORE the index write, then
    replay: the corpus must contain the batch's survivors exactly once and
    the index must end complete — the batch's own partition is excluded
    from the probe so the half-written index cannot make the replay drop
    its own docs."""
    from kafka_flow_spark.streaming import dedup as sd

    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    fn = sd.make_near_dedup_batch_fn("text", "doc_id", index_dir, out_dir, stream_ns="s1")
    b0 = spark.createDataFrame([(ts(0), 1, base), (ts(0), 3, other)], SCHEMA)
    fn(b0, 0)

    # epoch 1: crash between the two writes — simulate by running the real fn
    # once, then DELETING the out partition (write order is out first, index
    # second; a crash after the index write leaves out written too, so the
    # harsher torn state to prove is "index written, out missing", which is
    # what a crash between write start and commit can leave on object stores)
    b1 = spark.createDataFrame([(ts(5), 5, "fresh unrelated content about stars"),
                                (ts(5), 6, base + " tail")], SCHEMA)
    fn(b1, 1)
    import shutil

    shutil.rmtree(f"{out_dir}/stream=s1/epoch_id=1")
    # replay of epoch 1: must re-emit ITS OWN kept docs (5) even though its
    # bands are already in the index, and must not duplicate anything
    fn(b1, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 3, 5]
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.dropDuplicates(["doc_id", "band_id", "band_hash"]).count()


def test_near_dedup_index_probe_is_cluster_portable(spark, tmp_path):
    """The index-existence probe must resolve through the Hadoop FS API: a
    ``file:`` URI (which os.path.isdir reports as absent) must still be
    seen as an existing index, or a cluster deployment silently re-admits
    near-duplicates of everything kept (r12 verdict defect (a))."""
    import os

    from kafka_flow_spark.streaming.dedup import make_near_dedup_batch_fn

    index_dir = "file://" + str(tmp_path / "idx")
    out_dir = "file://" + str(tmp_path / "out")
    assert not os.path.isdir(index_dir)  # the old probe's blind spot
    base, near, other = _near_docs()
    fn = make_near_dedup_batch_fn("text", "doc_id", index_dir, out_dir, stream_ns="s1")
    fn(spark.createDataFrame([(ts(0), 1, base)], SCHEMA), 0)
    # second epoch: a near-dup of base MUST drop — only possible if the
    # probe saw the file:-URI index
    fn(spark.createDataFrame([(ts(5), 2, near)], SCHEMA), 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1]


def test_near_dedup_wiped_checkpoint_cannot_clobber_previous_incarnation(
    spark, tmp_path
):
    """Wiping a checkpoint dir and restarting at the SAME path is a routine
    operational reset: epochs restart at 0, so the namespace must change or
    the new incarnation's overwrite writes clobber the previous one's
    stream=<ns>/epoch_id=0 partitions (silent loss of kept docs — ADVICE
    r13).  The run-id marker persisted inside the checkpoint dies with it,
    so the second incarnation gets a fresh namespace."""
    import shutil

    input_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    write_batch(spark, input_dir, [(ts(0), 1, base), (ts(0), 3, other)])
    assert run_near_stream(spark, input_dir, chk, index_dir, out_dir) == [1, 3]
    ns1 = {
        r["stream"] for r in spark.read.parquet(out_dir).select("stream").collect()
    }

    # operational reset: wipe ONLY the checkpoint, keep index + corpus
    shutil.rmtree(chk)
    # the new incarnation reprocesses the same input at epoch 0; every doc is
    # a near-dup of the already-kept corpus, so it keeps nothing — and it
    # must NOT overwrite the previous incarnation's epoch-0 partition
    assert run_near_stream(spark, input_dir, chk, index_dir, out_dir) == [1, 3]
    ns2 = {
        r["stream"] for r in spark.read.parquet(out_dir).select("stream").collect()
    }
    assert ns1 <= ns2  # the first incarnation's partition survived


def test_near_dedup_same_checkpoint_restart_keeps_namespace(spark, tmp_path):
    """A restart of the SAME checkpoint must reuse its namespace (the marker
    is read back), so a replayed epoch overwrites its own partition."""
    from kafka_flow_spark.streaming.dedup import _stream_namespace

    chk = str(tmp_path / "chk")
    ns_a = _stream_namespace(spark, chk)
    ns_b = _stream_namespace(spark, chk)
    assert ns_a == ns_b
    import shutil

    shutil.rmtree(chk)
    assert _stream_namespace(spark, chk) != ns_a


def test_near_dedup_legacy_flat_index_is_refused_loudly(spark, tmp_path):
    """An index_dir holding the pre-epoch FLAT parquet layout must fail
    loudly instead of being silently ignored (which would re-admit
    near-duplicates of everything already kept — ADVICE r13)."""
    import pytest

    from kafka_flow_spark.streaming.dedup import make_near_dedup_batch_fn

    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    base, near, other = _near_docs()
    # legacy layout: band rows as flat parquet at the index root
    spark.createDataFrame(
        [(1, 0, 123456789)], "doc_id INT, band_id INT, band_hash LONG"
    ).coalesce(1).write.parquet(index_dir)
    fn = make_near_dedup_batch_fn("text", "doc_id", index_dir, out_dir, stream_ns="s1")
    with pytest.raises(RuntimeError, match="legacy|flat parquet"):
        fn(spark.createDataFrame([(ts(0), 2, near)], SCHEMA), 0)
