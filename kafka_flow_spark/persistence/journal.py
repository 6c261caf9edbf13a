"""Journal persistence: append-only per-key event log + re-fold recovery.

Reference model (#32 CassandraJournals, core/.../journal/JournalDatabase.scala:
39-67): events append under ``PRIMARY KEY((…key), offset)``; recovery re-folds
the ordered events through the user fold (ReadState,
core/.../persistence/Persistence.scala:178-192).

Spark-first: the journal is an append-only parquet log; replay is one
``groupBy(key).applyInPandas`` with an in-group offset sort — each key's
events land in one task, state never touches the driver, and 1000 executors
replay disjoint key ranges in parallel.  Offset-dedup on replay (#26
SnapshotFold, core/.../snapshot/SnapshotFold.scala:13-23) is a pushed-down
``offset > snapshot_offset`` filter — Catalyst prunes parquet row groups, so
replay cost is proportional to the *uncovered* suffix, not the full log.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flow_spark.operators.fold import FoldOption, State
from kafka_flow_spark.operators.keyed import keyed_fold_final
from kafka_flow_spark.streaming.flow import _run_sink


def append_journal(batch: DataFrame, table_dir: str) -> None:
    """Append journal rows ``(…key cols, offset, …event cols)``."""
    batch.write.mode("append").parquet(table_dir)


def journal_sink(flowed: DataFrame, checkpoint: str, table_dir: str) -> None:
    """Stream records into the journal log (write-behind analog, #25).

    Replayed epochs re-append identical (key, offset) rows; ``replay`` dedups
    by offset, so the journal is at-least-once + idempotent-on-read.
    """
    _run_sink(
        flowed.writeStream.foreachBatch(lambda batch, _bid: append_journal(batch, table_dir)),
        checkpoint,
    )


def read_journal(
    spark: SparkSession, table_dir: str, min_offset_exclusive: int | None = None
) -> DataFrame:
    """Journal read, optionally only offsets > a snapshot offset.

    The filter is pushed to the parquet scan (row-group pruning) — the replay
    analog of the Cassandra clustering-key range read
    (CassandraJournals.scala:128 ``ORDER BY offset``).  Rows may repeat a
    (key, offset): ``journal_sink`` is at-least-once, and ``replay`` dedups.
    """
    df = spark.read.parquet(table_dir)
    if min_offset_exclusive is not None:
        df = df.filter(F.col("offset") > min_offset_exclusive)
    return df


def replay(
    journal: DataFrame,
    fold: FoldOption,
    finish: Callable[[dict[str, Any], State], dict[str, Any]],
    output_schema: str,
    key_cols: Sequence[str] = ("key",),
    order_col: str = "offset",
) -> DataFrame:
    """Rebuild state per key by re-folding ordered journal events (ReadState).

    Delete-on-None holds: keys whose fold ends ``None`` produce no state row.
    """
    deduped = journal.dropDuplicates([*key_cols, order_col])
    return keyed_fold_final(deduped, key_cols, order_col, fold, output_schema, finish)
