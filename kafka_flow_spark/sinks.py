"""Sinks: Kafka (snapshot/compacted-topic writes), files, and foreachBatch.

Reference counterparts:
- Kafka snapshot sink (#34, persistence-kafka/.../KafkaSnapshotWriteDatabase.
  scala:188-207): snapshots keyed by entity key on a compacted topic; delete =
  tombstone (null value).  ``to_kafka_rows`` produces exactly that record
  shape; ``write_kafka`` / ``kafka_sink`` attach it to batch/streaming plans.
- The transactional single-writer mode (#36) is deliberately NOT ported: one
  Spark driver per query + epoch-fenced checkpoints already provide the
  fencing that KIP-447 generation tracking builds by hand (SURVEY.md §2.1
  #36) — reproduce with a transactional producer in foreachBatch only if an
  external consumer needs read-committed isolation.
- Partition mapping (#37): pass ``partition_col`` derived from
  ``sources.with_partition_mapping`` or an explicit expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_flow_spark.persistence.snapshots import last_write_wins
from kafka_flow_spark.streaming.flow import run_query


def to_kafka_rows(
    df: DataFrame,
    key: Column,
    value: Column | None,
    tombstone_when: Column | None = None,
    partition: Column | None = None,
    headers: Column | None = None,
) -> DataFrame:
    """Shape a DataFrame into Kafka producer rows (key/value/partition/headers).

    ``value`` must already be BINARY/STRING; rows matching ``tombstone_when``
    get a null value — the compacted-topic delete marker
    (KafkaSnapshotWriteDatabase.scala:201-207).
    """
    v = value if value is not None else F.lit(None).cast("binary")
    if tombstone_when is not None:
        v = F.when(tombstone_when, F.lit(None).cast("binary")).otherwise(v)
    cols = [key.cast("binary").alias("key"), v.alias("value")]
    if partition is not None:
        cols.append(partition.cast("int").alias("partition"))
    if headers is not None:
        cols.append(headers.alias("headers"))
    return df.select(*cols)


def write_kafka(kafka_rows: DataFrame, bootstrap_servers: str, topic: str) -> None:
    """Batch write pre-shaped rows to a topic."""
    (
        kafka_rows.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def kafka_sink(
    kafka_rows: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str
):
    """Streaming write to a topic; returns the started, long-running query
    (``run_query(long_running=True)``: the library's 200 ms trigger, not
    Spark's default trigger).

    At-least-once: a replayed epoch rewrites the same keyed records, and log
    compaction collapses them — identical to the reference's non-transactional
    snapshot mode contract.
    """
    writer = (
        kafka_rows.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )
    return run_query(kafka_rows, writer, checkpoint, long_running=True)


def recover_from_kafka_snapshots(
    records: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Recovery read of a compacted snapshot topic (#34 read side,
    KafkaPartitionPersistence.scala:184-210): last value per key wins,
    tombstones drop the key.

    ``records`` is a batch Kafka read (``spark.read.format('kafka')``) or any
    DataFrame with (key, value, offset) columns.  One hash-aggregate; the
    shuffle carries one row per key.
    """
    return last_write_wins(records, key_cols or ["key"], ["value"])
