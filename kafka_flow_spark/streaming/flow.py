"""The streaming Flow — per-key stateful fold/tick over a record stream.

Reference lifecycle (SURVEY.md §3.1): poll → route → group by key → ordered
fold per key → timers → persist → commit offsets after state is durable.
Spark-first mapping: micro-batch engine + ``groupBy(key).applyInPandasWithState``
(state store per key, checkpoint commits offsets only after state commit —
exactly the reference's offsets-never-ahead-of-state contract, for free).

- fold (FoldOption): applied to each key's batch records in order-column order
  (Kafka offset order when the source is Kafka); None state ⇒ state.remove()
  (FoldToState.scala:62-89 delete contract).
- tick (TickOption): runs on processing-time timeout for idle keys
  (Tick.scala / TimerFlowOf.unloadOrphaned analog); None ⇒ remove.
- state is JSON-encoded into a single-column state struct by default — the
  schema-ful replacement for the reference's ToBytes/FromBytes
  (CassandraPersistence.scala:31); pass custom codecs for typed state structs.

Scale: state lives in the executor state store (RocksDB-capable via
``spark.sql.streaming.stateStore.providerClass``), keys are hash-partitioned
across executors, and per-key ordering within a batch is enforced by an
in-group sort — the same guarantee the reference builds from per-key fibers.
"""

from __future__ import annotations

import dataclasses
import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kafka_flow_spark.operators.fold import FoldOption
from kafka_flow_spark.operators.keyed import EmitFn, _fold_key, _iter_records, _schema_cols
from kafka_flow_spark.operators.tick import TickOption


def _json_encode(state: Any) -> tuple:
    return (json.dumps(state, sort_keys=True, default=str),)


def _json_decode(stored: tuple) -> Any:
    return json.loads(stored[0])


@dataclass
class FlowSpec:
    """Wiring of one per-key stateful flow (the reference's KeyFlow assembly:
    KeyFlow.scala:66-89 = fold + tick + persistence strategy).

    Timer kinds (KafkaTimer.scala:16-37 — clock / watermark / offset):
    - ``timeout_ms`` + ``timeout_mode='processing'``: wall-clock timers
      (``Clock``), via ProcessingTimeTimeout.
    - ``timeout_ms`` + ``timeout_mode='event'``: event-time timers
      (``Watermark``), via EventTimeTimeout — the timer fires when the stream
      watermark (``event_time_col`` minus ``watermark_delay``) passes the last
      seen event time plus ``timeout_ms``.
    - ``offset_timer_threshold``: offset timers (``Offset``) have no Spark
      primitive; emulated in-state — the tick runs when the key observes an
      order-column advance ≥ threshold since registration (the
      ``maxOffsetDifference`` eviction trigger, TimerFlowOf.scala:36-77).

    ``state_ttl_ms`` is the idle-state eviction contract (``unloadOrphaned``,
    TimerFlowOf.scala:36-77): a key whose state has not been updated for the
    TTL is deleted without any user tick code.  It compiles to a
    processing-time timeout that removes the state (``_with_ttl_emulation``),
    which requires ``timeout_ms``/``tick`` to be unset — combine TTL with
    custom timers by encoding the eviction in your own tick instead.
    """

    key_cols: list[str]
    order_col: str
    fold: FoldOption
    output_schema: str
    emit: EmitFn
    tick: TickOption | None = None
    tick_emit: Callable[[dict[str, Any], Any, Any], dict[str, Any] | None] | None = None
    # tick_emit(key_dict, state_before, state_after) -> row | None
    timeout_ms: int | None = None  # processing-time timer (TimerFlowOf.fireEvery analog)
    timeout_mode: str = "processing"  # 'processing' | 'event'
    event_time_col: str | None = None  # required for timeout_mode='event'
    watermark_delay: str = "0 seconds"
    offset_timer_threshold: int | None = None
    state_ttl_ms: int | None = None  # idle-state eviction (unloadOrphaned, #19)
    state_schema: str = "value STRING"
    encode_state: Callable[[Any], tuple] = field(default=_json_encode)
    decode_state: Callable[[tuple], Any] = field(default=_json_decode)


def _make_with_state_fn(spec: FlowSpec):
    key_cols = list(spec.key_cols)
    off_thresh = spec.offset_timer_threshold
    # parse the DDL once, driver-side (StructType.fromDDL needs the JVM; the
    # returned fn runs in executor Python workers) — naive comma-splitting
    # breaks on nested/parameterized types like DECIMAL(10,2) or STRUCT<...>
    out_cols = _schema_cols(spec.output_schema)

    # offset timers ride inside the state blob: {"v": user_state, "reg": offset}
    def decode(stored) -> tuple[Any, Any]:
        raw = spec.decode_state(stored)
        if off_thresh is not None:
            return raw["v"], raw["reg"]
        return raw, None

    def encode(s: Any, reg: Any) -> tuple:
        return spec.encode_state({"v": s, "reg": reg} if off_thresh is not None else s)

    def run_tick(key_dict: dict, s: Any, out: list) -> Any:
        """Tick + tick_emit (the timer path, SURVEY.md §3.3); returns new state."""
        s2 = spec.tick(s) if spec.tick is not None else s
        if spec.tick_emit is not None:
            row = spec.tick_emit(key_dict, s, s2)
            if row is not None:
                out.append(row)
        return s2

    def set_timeout(state, pdf: pd.DataFrame | None) -> None:
        if spec.timeout_ms is None:
            return
        if spec.timeout_mode == "event":
            # watermark timer: fire when the stream watermark passes the last
            # event time seen by this key plus the gap (KafkaTimer.Watermark)
            if pdf is not None and len(pdf):
                last_ms = int(pd.Timestamp(pdf[spec.event_time_col].max()).timestamp() * 1000)
                state.setTimeoutTimestamp(last_ms + spec.timeout_ms)
        else:
            state.setTimeoutDuration(spec.timeout_ms)

    def fn(key: tuple, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        key_dict = dict(zip(key_cols, key))
        out: list[dict[str, Any]] = []

        if state.hasTimedOut:
            s, reg = decode(state.get) if state.exists else (None, None)
            s2 = run_tick(key_dict, s, out)
            if s2 is None:
                if state.exists:
                    state.remove()
            else:
                state.update(encode(s2, reg))
                if spec.timeout_mode != "event":
                    set_timeout(state, None)
            yield pd.DataFrame(out, columns=out_cols)
            return

        chunks = list(pdf_iter)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if not pdf[spec.order_col].is_monotonic_increasing:
            pdf = pdf.sort_values(spec.order_col, kind="mergesort")  # per-key offset order
        s, reg = decode(state.get) if state.exists else (None, None)
        after = None
        if off_thresh is not None:
            def after(rec: dict[str, Any], s: Any) -> Any:
                # offset timer (KafkaTimer.Offset emulation): register at first
                # record, tick on order-column advance >= threshold, re-register
                nonlocal reg
                cur = rec[spec.order_col]
                if reg is None:
                    reg = cur
                elif cur - reg >= off_thresh:
                    s = run_tick(key_dict, s, out)
                    reg = cur
                return s

        s = _fold_key(_iter_records(pdf), key_dict, s, spec.fold, spec.emit, out, after)
        if s is None:
            if state.exists:
                state.remove()  # delete-on-None (FoldToState.scala:83-89)
        else:
            state.update(encode(s, reg))
            set_timeout(state, pdf)
        yield pd.DataFrame(out, columns=out_cols)

    return fn


def _with_ttl_emulation(spec: FlowSpec) -> FlowSpec:
    """Compile ``state_ttl_ms`` to a processing-time timeout whose tick
    deletes the state (idle keys evict without any user code — the
    unloadOrphaned contract)."""
    if spec.state_ttl_ms is None:
        return spec
    if spec.timeout_ms is not None or spec.tick is not None:
        raise ValueError(
            "state_ttl_ms emulates TTL via the processing-time timer, so "
            "timeout_ms/tick must be unset — encode eviction in your own tick"
        )
    return dataclasses.replace(
        spec,
        timeout_ms=spec.state_ttl_ms,
        timeout_mode="processing",
        tick=TickOption(lambda s: None),  # expire ⇒ delete
        state_ttl_ms=None,
    )


def stateful_flow(records: DataFrame, spec: FlowSpec) -> DataFrame:
    """Apply the flow to a (streaming or batch) keyed record DataFrame.

    Streaming: compiles to ``applyInPandasWithState`` (state store + timers).
    The returned DataFrame is started with ``.writeStream`` by the caller —
    checkpointing then gives the reference's recovery semantics (§3.2) with
    zero user code.
    """
    spec = _with_ttl_emulation(spec)
    if spec.timeout_ms is None:
        timeout = "NoTimeout"
    elif spec.timeout_mode == "event":
        if spec.event_time_col is None:
            raise ValueError("timeout_mode='event' requires event_time_col")
        timeout = "EventTimeTimeout"
        records = records.withWatermark(spec.event_time_col, spec.watermark_delay)
    else:
        timeout = "ProcessingTimeTimeout"
    return records.groupBy(*spec.key_cols).applyInPandasWithState(
        _make_with_state_fn(spec),
        outputStructType=spec.output_schema,
        stateStructType=spec.state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def _drain(q, idle_batches: int = 3, timeout_s: float = 120.0) -> None:
    """Run a timer-bearing query's backlog to completion and stop.

    With processing-time timers, Spark's stateful operator reports
    ``shouldRunAnotherBatch = true`` unconditionally, so an ``availableNow``
    query never terminates and even ``processAllAvailable`` never unblocks
    (the engine never latches "no new data").  Timer-bearing flows therefore
    run on a short processing-time trigger and are drained by watching
    progress: once the trailing ``idle_batches`` micro-batches read zero input
    rows, the backlog is consumed and pending timers have had a chance to
    fire — then ``stop``.  Offsets and state commit per batch, so stopping is
    the reference's graceful shutdown (TopicFlow.safeguard, SURVEY.md §2.1
    #43): nothing uncommitted is lost, the next run recovers from the
    checkpoint.  A query that dies (a failing fold) ends the wait at once and
    its error re-raises from ``awaitTermination``.  A stream still reading
    input after ``timeout_s`` is stopped the same way and raises
    ``TimeoutError``: its backlog is not consumed.
    """
    deadline = time.time() + timeout_s
    try:
        while q.isActive:
            tail = q.recentProgress[-idle_batches:]
            if len(tail) == idle_batches and all(p["numInputRows"] == 0 for p in tail):
                return
            if time.time() >= deadline:
                raise TimeoutError(
                    f"stream still reading input after {timeout_s}s; "
                    "stopped with its backlog unprocessed"
                )
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()


def run_query(
    flowed: DataFrame, writer: DataStreamWriter, checkpoint: str, long_running: bool = False
) -> StreamingQuery:
    """Start ``writer`` (a ``flowed.writeStream`` with its sink and output
    mode set) on ``checkpoint`` — the one place the library starts a
    streaming query, so every query shares one trigger rule and one stop.

    - Run to completion (the default): ``availableNow``, or a 200 ms trigger
      drained by ``_drain`` when a stateful operator in ``flowed``'s analyzed
      plan has processing-time timeouts (``timeout_ms`` in processing mode,
      or ``state_ttl_ms``; event-time timers stop with the watermark).
      Returns the stopped query; a failed query raises.
    - ``long_running=True``: start on the 200 ms trigger and return the
      running query; the caller stops it (or supervises it with
      ``supervision.run_with_retry``).
    """
    timers = long_running or any(
        "WithState" in line and line.rstrip().endswith("ProcessingTimeTimeout")
        for line in flowed._jdf.queryExecution().analyzed().toString().splitlines()
    )
    trigger = {"processingTime": "200 milliseconds"} if timers else {"availableNow": True}
    q = writer.option("checkpointLocation", checkpoint).trigger(**trigger).start()
    if long_running:
        return q
    if timers:
        _drain(q)
    else:
        q.awaitTermination()
    return q


def run_to_memory_sink(flowed: DataFrame, checkpoint: str, query_name: str) -> None:
    """Run a flow to completion into an in-memory sink table.

    The micro-batch loop is the reference's poll loop (ConsumerFlow.scala:83-105);
    draining the backlog then stopping is the test-harness analog of
    'run until inputs are consumed'.
    """
    run_query(flowed, flowed.writeStream.format("memory").queryName(query_name), checkpoint)


def run_to_parquet_sink(flowed: DataFrame, checkpoint: str, out_dir: str) -> None:
    """Run a flow to completion into a parquet file sink.

    The file sink is fault-tolerant: restarting with the same checkpoint
    resumes from committed offsets + state — the reference's recovery path
    (§3.2), exercised by the golden test's multi-run scenario."""
    run_query(flowed, flowed.writeStream.format("parquet").option("path", out_dir), checkpoint)
