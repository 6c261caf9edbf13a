"""Batch execution of per-key ordered folds — the reference's hot path, Spark-first.

Reference hot path (core/.../PartitionFlow.scala:151-194 + FoldToState.scala:44-90):
group records by key, left-fold each key's records *in offset order* through the
user fold; a ``None`` final state deletes the key.

Spark mapping: a **sort-merge fold** — ``repartition(key)`` hash-co-locates every
key's records in one partition, ``sortWithinPartitions(key, order)`` makes each
key a contiguous ordered run, and ``mapInPandas`` streams the partition's Arrow
batches through one generator that detects key changes and carries (key, state)
across batch boundaries.  Compared to ``groupBy().applyInPandas`` this costs one
in-partition sort but amortizes the Python/pandas overhead over whole Arrow
batches instead of paying it per key group — at 100 TB key groups are small and
plentiful, and per-group dispatch dominates.  The per-record Python loop is the
cost of arbitrary user state machines (same trade the reference makes — its
folds are arbitrary Scala closures); it is written once, in ``_fold_key``,
which the streaming flow (``streaming.flow``) runs too.

Scale: the shuffle partitions by key hash, so 1000 executors each fold a
disjoint key range; state never leaves the task, nothing is collected to the
driver.  A single giant key streams through in bounded memory (only its state
and the current Arrow batch are resident — grouped-map would materialize the
whole group).  Skewed keys are single-task by semantic necessity (per-key
ordering), identical to the reference's per-key fiber serialization.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from itertools import groupby
from operator import itemgetter
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from kafka_flow_spark.operators.fold import FoldOption, Record, State

# emit(key_dict, record, state_before, state_after) -> output row dict | None
EmitFn = Callable[[dict[str, Any], Record, State, State], dict[str, Any] | None]


def _iter_records(pdf: pd.DataFrame):
    """Row dicts via column-wise zip — several× faster than to_dict('records')."""
    cols = pdf.columns.tolist()
    arrays = [pdf[c].tolist() for c in cols]
    for vals in zip(*arrays):
        yield dict(zip(cols, vals))


def _fold_key(
    records: Iterable[Record],
    key_dict: dict[str, Any],
    state: State,
    fold: FoldOption,
    emit: EmitFn | None,
    out: list[dict[str, Any]],
    after: Callable[[Record, State], State] | None = None,
) -> State:
    """The per-key fold every batch and streaming fold runs: left-fold one
    key's ordered ``records`` from ``state``, append ``emit`` rows to ``out``,
    apply the optional per-record ``after(rec, state) -> state`` hook (the
    streaming offset timer); returns the final state (``None`` = delete)."""
    for rec in records:
        before = state
        state = fold(state, rec)
        if emit is not None:
            row = emit(key_dict, rec, before, state)
            if row is not None:
                out.append(row)
        if after is not None:
            state = after(rec, state)
    return state


def _schema_cols(ddl: str) -> list[str]:
    """Column names of a DDL schema string — a real parse (handles nested and
    parameterized types: ARRAY<STRUCT<...>>, DECIMAL(10,2), …).  Driver-side
    only: the parser needs the JVM."""
    return [f.name for f in StructType.fromDDL(ddl).fields]


def _sort_merge_fold(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    fold: FoldOption,
    output_schema: str,
    emit: EmitFn | None,
    finish: Callable[[dict[str, Any], State], dict[str, Any]] | None,
) -> DataFrame:
    """``_fold_key`` over sorted key runs: each Arrow batch splits into
    per-key runs, a key spanning batches carries its state, and output leaves
    once per batch (a giant key's rows never pile up).  ``finish`` maps a
    non-``None`` final state to the key's one row."""
    key_cols = list(key_cols)
    out_cols = _schema_cols(output_schema)
    key_of = itemgetter(*key_cols)
    as_tuple = (lambda k: (k,)) if len(key_cols) == 1 else tuple

    def run(batches: Iterable[pd.DataFrame]):
        cur: Any = object()  # equal to no key
        key_dict: dict[str, Any] = {}
        state: State = None
        out: list[dict[str, Any]] = []
        for pdf in batches:
            for k, recs in groupby(_iter_records(pdf), key_of):
                if k != cur:
                    if finish is not None and state is not None:
                        out.append(finish(key_dict, state))
                    cur, key_dict, state = k, dict(zip(key_cols, as_tuple(k))), None
                state = _fold_key(recs, key_dict, state, fold, emit, out)
            if out:
                yield pd.DataFrame(out, columns=out_cols)
                out = []
        if finish is not None and state is not None:
            yield pd.DataFrame([finish(key_dict, state)], columns=out_cols)

    sorted_runs = df.repartition(*key_cols).sortWithinPartitions(*key_cols, order_col)
    return sorted_runs.mapInPandas(run, schema=output_schema)


def keyed_fold(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    fold: FoldOption,
    output_schema: str,
    emit: EmitFn,
) -> DataFrame:
    """Fold each key's records in ``order_col`` order; emit one output row per record.

    ``emit`` sees (key, record, state_before, state_after) — the shape of the
    golden test's expected output (StatefulProcessingWithKafkaSpec.scala:123-161).
    Returning ``None`` from ``emit`` suppresses the row.
    """
    return _sort_merge_fold(df, key_cols, order_col, fold, output_schema, emit, None)


def keyed_fold_final(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    fold: FoldOption,
    output_schema: str,
    finish: Callable[[dict[str, Any], State], dict[str, Any]],
) -> DataFrame:
    """Fold each key's records and emit only the final state (snapshot semantics).

    The delete-on-None contract (FoldToState.scala:62-89): a key whose final
    state is ``None`` produces no row — the entity does not exist.
    """
    return _sort_merge_fold(df, key_cols, order_col, fold, output_schema, None, finish)
