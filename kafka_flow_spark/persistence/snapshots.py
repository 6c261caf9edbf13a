"""Explicit snapshot persistence: append-only log + last-write-wins compaction.

Model (reference #33 Cassandra snapshots / #34 compacted Kafka topic,
persistence-kafka/.../KafkaPartitionPersistence.scala:124-210): a snapshot
write is an append of ``(key cols…, offset, value)``; a delete is a tombstone
(null value); the *current* state of a key is the value at its max offset,
and a tombstone there means "entity does not exist".

Spark-first shape: appends are blind writes (no read-modify-write, no MERGE
needed — the log IS the table), reads compact with one hash-aggregate
(``max_by(value, offset)``), and a periodic ``compact`` job rewrites the log
to just the latest rows — exactly Kafka log compaction, but on parquet, so it
scales to any key cardinality: the aggregate shuffles one row per key, and
appends never contend.

The snapshot identity columns default to ``("key",)`` but callers carry the
full reference identity ``(application_id, group_id, topic, partition, key)``
(KafkaKey, core/.../KafkaKey.scala:6-11) when multiple apps share the store.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flow_spark.streaming.flow import _run_sink


def append_snapshots(batch: DataFrame, table_dir: str) -> None:
    """Append snapshot rows ``(…key cols, offset, value)`` to the log.

    A ``None``/null ``value`` is a tombstone (delete marker) — the write path
    of KafkaSnapshotWriteDatabase.scala:188-207 (tombstone = null-valued
    record on the compacted topic).
    """
    batch.write.mode("append").parquet(table_dir)


def last_write_wins(
    log: DataFrame, key_cols: Sequence[str], value_cols: Sequence[str]
) -> DataFrame:
    """One row per key of an ``(…key cols, offset, …value cols)`` log: the
    ``value_cols`` at the key's max offset, and that offset; keys whose
    latest ``value`` is null (a tombstone) are dropped."""
    latest = log.groupBy(*key_cols).agg(
        *[F.max_by(c, "offset").alias(c) for c in value_cols],
        F.max("offset").alias("offset"),
    )
    return latest.filter(F.col("value").isNotNull())


def latest_snapshots(
    spark: SparkSession, table_dir: str, key_cols: Sequence[str] = ("key",)
) -> DataFrame:
    """Current state per key: value at max offset, tombstones filtered.

    The recovery read of the compacted topic (KafkaPartitionPersistence.scala:
    184-210: last value per key wins, tombstone removes the key) as one
    hash-aggregate — partial aggregation makes the shuffle one row per key.
    """
    log = spark.read.parquet(table_dir)
    value_cols = [c for c in log.columns if c not in key_cols and c != "offset"]
    return last_write_wins(log, key_cols, value_cols).select(*log.columns)


def compact_snapshots(
    spark: SparkSession, table_dir: str, key_cols: Sequence[str] = ("key",)
) -> None:
    """Rewrite the log to only the latest row per key (log compaction).

    Tombstoned keys are dropped entirely — after compaction the log is the
    minimal state table.  Run periodically; readers are correct without it
    (``latest_snapshots`` compacts on read).

    Crash-safe by construction: the compacted table is fully written to a
    side directory first, then swapped in with two directory renames — the
    source log is never read and truncated by the same job, so a task retry,
    executor loss, or cache eviction mid-write can never recompute from a
    half-truncated source (a durability hazard on the state path at scale).
    A crash between the renames leaves the old or the new table plus a
    leftover side dir — never a truncated table.  Renames go through the
    Hadoop FileSystem API, so HDFS-like stores swap atomically; on object
    stores (rename = copy) use a transactional table format instead.
    """
    stem = table_dir.rstrip("/")
    tmp, old = stem + ".compacting", stem + ".old"
    latest_snapshots(spark, table_dir, key_cols).write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(stem).getFileSystem(hconf)
    fs.delete(hpath(old), True)
    if not fs.rename(hpath(stem), hpath(old)):
        raise IOError(f"compact_snapshots: cannot move {stem} aside")
    if not fs.rename(hpath(tmp), hpath(stem)):
        fs.rename(hpath(old), hpath(stem))  # roll back: old table intact
        raise IOError(f"compact_snapshots: swap failed, restored {stem}")
    fs.delete(hpath(old), True)


def snapshot_sink(
    flowed: DataFrame,
    checkpoint: str,
    table_dir: str,
) -> None:
    """Run a streaming flow whose output rows are snapshot rows into the log.

    ``foreachBatch`` append per epoch: because appends are blind and keyed by
    offset, replays of an epoch after a crash rewrite the same (key, offset)
    rows — ``latest_snapshots`` dedups them, giving idempotent at-least-once
    persistence, the reference's exact contract (docs/kafka-single-writer-
    design.md:80-88).
    """
    _run_sink(
        flowed,
        flowed.writeStream.foreachBatch(lambda batch, _bid: append_snapshots(batch, table_dir)),
        checkpoint,
    )
