"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every config here is chosen to also be the
right default on a 1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — replaces
  the reference's hand-tuned per-partition/per-key parallelism bounds
  (core/.../PartitionFlowConfig.scala:52-58).
- Arrow on — every pandas-UDF operator crosses the JVM/Python boundary in
  columnar batches, never row-at-a-time.
- Session timezone pinned to UTC so timestamp semantics are deterministic and
  match the DuckDB oracle.
- Shuffle partitions default to cpu count locally; on a real cluster leave it
  to AQE's coalescing with a high initial partition number.
- Streaming checkpoints commit through Spark's ``FileSystem``-based checkpoint
  file manager: on a local filesystem without the native Hadoop library the
  ``FileContext`` default starts a ``readlink`` process per link lookup, ~8
  per checkpoint file (ARCHITECTURE.md design note 11).  A cluster builder
  keeps the default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "kafka-flow-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Post-shuffle coalescing keeps Spark's DEFAULT parallelism-first
        # policy: coalesce only down to the 1 MB minPartitionSize while
        # preserving ≥ default-parallelism reduce tasks.  The alternative
        # (parallelismFirst=false, coalesce straight to the 64 MB advisory)
        # was measured here both ways: it wins only on sub-megabyte shuffles
        # (32 one-row reduce tasks → 1), a regime the bench now covers with
        # its AQE-off small profile anyway — while at GB scale on local[32]
        # it starves CPU-bound reduces to ⌈shuffle/64 MB⌉ ≈ 8 tasks (sf10
        # measured: window-rank 4.1→1.7 s, fold 4.9→1.1 s, as-of 5.5→1.4 s,
        # minhash 10.5→4.2 s with parallelism-first).  At 100 TB shuffles
        # dwarf advisory×cores, so the two policies converge; the default
        # only matters in the cores-starved middle, where parallelism wins.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # File-split floor.  Spark sizes scan splits as
        # max(openCostInBytes, totalBytes/defaultParallelism) capped at
        # maxPartitionBytes; the 4 MB default floor was tuned for
        # seek-expensive filesystems and leaves a megabytes-scale columnar
        # file on 1-2 cores even when it holds many row groups — fatal for
        # per-row CPU-heavy scans (tokenization/quality gates measured 2-3×
        # slower at sf1).  1 MB keeps splits row-group-aligned in practice
        # and is invisible at cluster scale, where bytes-per-core dwarfs any
        # floor.
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when a join side is small
        # enough to hash per partition: fact⋈reduced-dim joins whose build
        # side just outgrew the broadcast threshold were paying an O(n log n)
        # sort of the BIG fact side for nothing (TPC-H Q3 analog at sf10:
        # 9.0 s SMJ → 5.3 s SHJ).  Scale posture: AQE's 64 MB advisory
        # partition sizing bounds the per-task build relation, and Spark
        # still falls back to SMJ when neither side is hashable-small
        # (shuffledHashJoinFactor), so spill-safe sorting remains the
        # worst-case path.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # Checkpoint files (offset, commit, source and sink logs, state-store
        # deltas) go through Hadoop FileSystem, not the FileContext default.
        # Without the native Hadoop library the FileContext manager shells
        # out for every file it writes: ~8 `readlink` per rename
        # (getFileLinkStatus) plus one `chmod` per create, ~4 ms each, ~130
        # process launches per stateful micro-batch.  This builder is always
        # local[N], so checkpoints sit on the local filesystem.  There a
        # no-overwrite create (the metadata logs) still checks existence and
        # fails on close, renames stay atomic and the .crc sidecars stay; an
        # overwriting create (state-store deltas) is best effort, as Spark
        # defines it, and keeps an existing file (ARCHITECTURE.md note 11).
        # A cluster builder should keep Spark's default, whose FileContext
        # rename gives HDFS an atomic overwrite.  extra_conf can override it.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # testdata events.parquet stores TIMESTAMP(NANOS).  Spark 3.x needs
        # this conf to read it at all (as long, converted to µs in
        # tables.load); on Spark 4.1+ the conf is a no-op and the column reads
        # natively as timestamp_ntz (ns→µs truncation matching DuckDB either
        # way, so oracles agree).  Kept for cross-version portability.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ObjectHashAggregate (collect_set/collect_list mixed with scalar aggs,
        # e.g. the MinHash mins+shingle-set aggregate) falls back to SORT-based
        # aggregation after only 128 distinct keys by default — that turns a
        # streaming hash-agg into a full sort of the exploded token table
        # (measured 2× on the MinHash pipeline).  8192 keys × a few KB of set
        # buffer per key stays well under task memory while keeping the
        # hash path for realistic per-partition group counts.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
        # SQL-cache column builders batch this many rows per cached batch
        # BEFORE serializing (even for DISK_ONLY levels), and that transient
        # is NOT task-memory-tracked: at the default 10000, 32 concurrent
        # cache-materializing tasks over a wide per-doc relation (128 minhash
        # minima + a shingle-set array) OOM'd the 8 GB local heap at the
        # sf100 probe while the unified pool was saturated by the agg sort.
        # 4000 bounds the per-task transient at ~2.5× less with NO measured
        # cost (minhash sf10 3.91 s vs 4.05 s default, sf100 completes in
        # 101 s vs OOM) — and at cluster scale executors run 4-8 tasks, not
        # 32, so the smaller batch is simply invisible.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "4000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
