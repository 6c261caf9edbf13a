"""Streaming twin of ``operators.timeseries.ewma_anomaly``: a per-key
stateful flow that maintains the last-k value history across micro-batches
and flags each arriving observation against the truncated EWMA of its own
recent history — the online form of the batch window operator, with the
SAME integer arithmetic (power-of-two weights, division truncating toward
zero — Spark's ``div``, NOT Python's floor ``//``: they differ on negative
numerators, -199 div 3 = -66 vs -199 // 3 = -67), so the stream's output is
bit-identical to a batch recompute over the union of all micro-batches —
including negative-valued series (golden test: tests/test_streaming_anomaly.py, including a
checkpoint stop/restart in the middle of a key's history).

Built on the reference-parity flow assembly (``streaming.flow.FlowSpec`` =
KeyFlow fold + emit + persistence; core/src/main/scala/.../KeyFlow.scala:66-89)
rather than a bespoke operator: the EWMA is just a fold whose state is the
bounded history deque, so it inherits checkpoint recovery, TTL eviction, and
the stateful executor for free.  State is k bigints per key — at 100 TB
scale the state store holds |keys|·k longs, the smallest state class there is.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.streaming.flow import FlowSpec, stateful_flow


def _ewma_of(history: list[int], k: int) -> int | None:
    """Truncated EWMA of a most-recent-first history — the same weights
    (alpha=1/2, weights 2^(k-j)) and the same ROUNDING as the batch
    operator: truncation toward zero (Spark ``div``), implemented as
    sign·(|num| // den) because Python's ``//`` floors — on a negative
    weighted sum the two differ by one and would break the bit-identical
    stream/batch twin contract (pinned by
    tests/test_streaming_anomaly.py on a negative-valued series)."""
    if not history:
        return None
    recent = history[:k]
    weights = [2 ** (k - j) for j in range(1, len(recent) + 1)]
    num = sum(w * x for w, x in zip(weights, recent))
    den = sum(weights)
    return num // den if num >= 0 else -((-num) // den)


def ewma_flow_spec(
    key_cols: list[str],
    order_col: str,
    value_col: str,
    k: int = 4,
    threshold: int = 0,
    state_ttl_ms: int | None = None,
) -> FlowSpec:
    """FlowSpec for the online EWMA anomaly flow.

    Input rows need ``key_cols``, ``order_col`` and an INTEGER ``value_col``
    (quantize upstream, exactly as the batch operator requires).  Output:
    key columns + (seq, value, ewma, deviation, is_anomaly) per record.
    ``state_ttl_ms`` evicts idle keys (a key silent that long restarts its
    ramp-in — document the contract where you enable it).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")

    def step(state: list[int] | None, rec: dict[str, Any]) -> list[int]:
        hist = state or []
        return [int(rec[value_col])] + hist[: k - 1]

    def emit(key, rec, before, after):
        x = int(rec[value_col])
        ewma = _ewma_of(before or [], k)
        dev = None if ewma is None else x - ewma
        return {
            **{c: key[c] for c in key_cols},
            "seq": rec[order_col],
            "value": x,
            "ewma": ewma,
            "deviation": dev,
            "is_anomaly": dev is not None and abs(dev) > threshold,
        }

    key_schema = ", ".join(f"{c} STRING" for c in key_cols)
    return FlowSpec(
        key_cols=key_cols,
        order_col=order_col,
        fold=fold_option(step),
        output_schema=(
            f"{key_schema}, seq BIGINT, value BIGINT, ewma BIGINT, "
            "deviation BIGINT, is_anomaly BOOLEAN"
        ),
        emit=emit,
        state_ttl_ms=state_ttl_ms,
    )


def ewma_stream(
    records: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    k: int = 4,
    threshold: int = 0,
) -> DataFrame:
    """Wire the spec onto a streaming DataFrame (see FlowSpec for paths)."""
    return stateful_flow(
        records, ewma_flow_spec(key_cols, order_col, value_col, k, threshold)
    )
