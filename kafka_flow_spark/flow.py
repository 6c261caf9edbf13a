"""Flow — the top-level assembly API (the reference's KafkaFlow builder).

Reference assembly (docs/overview.md:33-52): ``KafkaFlow ← ConsumerFlowOf ←
TopicFlowOf ← PartitionFlowOf ← KeyStateOf/KeyFlowOf ← TimerFlowOf +
FoldOption/TickOption + PersistenceOf`` — constructor wiring of the poll
loop, per-key folds, timers and persistence.  Spark-first, the same program
is: source → projections/filters → keyed stateful fold (+ timers) → sink,
with the checkpoint supplying persistence/recovery/commit semantics.

    flow = (Flow.from_files(spark, path, schema)
              .filter(F.col("n") > 0)
              .remap_key("key", F.upper("key"))
              .fold(spec))
    flow.to_parquet(out_dir, checkpoint)

Every step is lazy plan assembly; nothing runs until a sink method starts the
query (exactly the reference's Resource wiring vs. run split).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flow_spark import sources
from kafka_flow_spark.streaming.flow import (
    FlowSpec,
    run_query,
    run_to_memory_sink,
    run_to_parquet_sink,
    stateful_flow,
)


@dataclass
class Flow:
    """A lazily-assembled record-stream program."""

    df: DataFrame

    # --- sources (ConsumerFlow #1 / file & rate test sources) ---
    @classmethod
    def from_kafka(cls, spark: SparkSession, bootstrap_servers: str, topics: str, **kw) -> "Flow":
        return cls(sources.kafka_records(spark, bootstrap_servers, topics, **kw))

    @classmethod
    def from_files(cls, spark: SparkSession, path: str, schema: str, **kw) -> "Flow":
        return cls(sources.file_records(spark, path, schema, **kw))

    @classmethod
    def from_rate(cls, spark: SparkSession, rows_per_second: int = 100) -> "Flow":
        return cls(sources.rate_records(spark, rows_per_second))

    # --- record transforms (pre-grouping; #3, #6, #7, #11) ---
    def filter(self, predicate: Column) -> "Flow":
        return Flow(sources.filter_records(self.df, predicate))

    def remap_key(self, key_col: str, new_key: Column) -> "Flow":
        return Flow(sources.remap_key(self.df, key_col, new_key))

    def select(self, *cols) -> "Flow":
        return Flow(self.df.select(*cols))

    def with_column(self, name: str, col: Column) -> "Flow":
        return Flow(self.df.withColumn(name, col))

    def dedup(self, text_col: str) -> "Flow":
        """First-wins exact content dedup (streaming.dedup) — Phase-4 ingest
        dedup as a pipeline step; state = one row per distinct fingerprint."""
        from kafka_flow_spark.streaming.dedup import dedup_exact_stream

        return Flow(dedup_exact_stream(self.df, text_col))

    def quality_gate(
        self, text_col: str, rules: dict | None = None, lang: str = "en"
    ) -> "Flow":
        """Drop records failing the Gopher/C4-style rule gate
        (operators.quality).  Stateless projection + filter — streaming-safe
        with no state, watermark, or shuffle; the stat columns are computed,
        consulted, and dropped so the record schema is unchanged."""
        from kafka_flow_spark.operators.quality import STAT_COLS, with_quality_stats

        gated = (
            with_quality_stats(self.df, text_col, rules, lang)
            .where(F.col("keep"))
            .drop(*STAT_COLS)
        )
        return Flow(gated)

    def dedup_within(self, text_col: str, ts_col: str, horizon: str) -> "Flow":
        """Watermark-bounded exact dedup: duplicates within ``horizon`` drop,
        older fingerprint state is evicted."""
        from kafka_flow_spark.streaming.dedup import dedup_exact_stream_windowed

        return Flow(dedup_exact_stream_windowed(self.df, text_col, ts_col, horizon))

    # --- the keyed stateful core (#9, #17, #18) ---
    def fold(self, spec: FlowSpec) -> "Flow":
        return Flow(stateful_flow(self.df, spec))

    # --- sinks (checkpoint = persistence + offset commit, §3.1 steps 5-6) ---
    def to_parquet(self, out_dir: str, checkpoint: str) -> None:
        run_to_parquet_sink(self.df, checkpoint, out_dir)

    def to_memory(self, query_name: str, checkpoint: str) -> None:
        run_to_memory_sink(self.df, checkpoint, query_name)

    def to_near_dedup(
        self,
        text_col: str,
        id_col: str,
        index_dir: str,
        out_dir: str,
        checkpoint: str,
        **kw,
    ) -> None:
        """Near-dup dedup sink (streaming MinHash-LSH vs a persisted band
        index — streaming.dedup.make_near_dedup_batch_fn): kept docs append to
        ``out_dir``, the dedup index to ``index_dir``; the index carries the
        dedup state across restarts.  The exactly-once stream namespace is a
        marker inside ``checkpoint`` (``_stream_namespace``): a restart of the
        same checkpoint resumes it, a fresh or wiped checkpoint mints a new
        one.  Runs like every other sink, so a timer-bearing fold in front of
        it drains and stops."""
        from kafka_flow_spark.streaming.dedup import _stream_namespace, make_near_dedup_batch_fn

        kw.setdefault("stream_ns", _stream_namespace(self.df.sparkSession, checkpoint))
        self.foreach_batch(
            make_near_dedup_batch_fn(text_col, id_col, index_dir, out_dir, **kw), checkpoint
        )

    def foreach_batch(self, fn, checkpoint: str) -> None:
        """Custom sink per epoch (explicit snapshot/journal tables, Kafka
        writes, MERGE upserts) — the foreachBatch escape hatch."""
        run_query(self.df, self.df.writeStream.foreachBatch(fn), checkpoint)
