"""The session's checkpoint file manager: streaming checkpoints commit through
Hadoop ``FileSystem`` (no ``readlink`` process per rename when the native
Hadoop library is missing) and keep the contract the metadata logs and the
state store rely on."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.streaming.flow import FlowSpec, run_to_parquet_sink, stateful_flow

_CKPT = "org.apache.spark.sql.execution.streaming.checkpointing."


def _manager(spark, path: str):
    """The checkpoint file manager the session's streaming queries use for
    ``path``, with ``path``'s directory made (as the logs and stores do)."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = getattr(jvm, _CKPT + "CheckpointFileManager")
    mgr = cfm.create(jvm.org.apache.hadoop.fs.Path(path), hconf)
    mgr.mkdirs(jvm.org.apache.hadoop.fs.Path(os.path.dirname(path)))
    return mgr


def _write_atomic(spark, mgr, path: str, data: bytes, overwrite: bool) -> None:
    out = mgr.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(path), overwrite)
    out.write(bytearray(data))
    out.close()


def _class_names(cls) -> list[str]:
    """``cls`` and its superclasses, by name (Spark raises subclasses of
    Hadoop's exceptions)."""
    names = []
    while cls is not None:
        names.append(cls.getName())
        cls = cls.getSuperclass()
    return names


def test_manager_is_filesystem_based(spark, tmp_path):
    mgr = _manager(spark, str(tmp_path / "chk" / "0"))
    assert mgr.getClass().getName() == _CKPT + "FileSystemBasedCheckpointFileManager"


def test_atomic_write_keeps_no_overwrite_guard(spark, tmp_path):
    """The offset and commit logs write with ``overwriteIfPossible=false``: a
    second writer of the same batch id must fail on close and leave the first
    writer's file in place."""
    path = str(tmp_path / "chk" / "0")
    mgr = _manager(spark, path)
    _write_atomic(spark, mgr, path, b"first", overwrite=False)
    with pytest.raises(Py4JJavaError) as err:
        _write_atomic(spark, mgr, path, b"second", overwrite=False)
    assert "org.apache.hadoop.fs.FileAlreadyExistsException" in _class_names(
        err.value.java_exception.getClass()
    )
    with open(path, "rb") as f:
        assert f.read() == b"first"
    assert [n for n in os.listdir(tmp_path / "chk") if not n.startswith(".")] == ["0"]


def test_atomic_write_with_overwrite_does_not_raise(spark, tmp_path):
    """State-store delta and snapshot files are written with
    ``overwriteIfPossible=true``, which Spark defines as a best-effort
    overwrite that must not raise.  The file holds one writer's complete
    bytes, never a mix; on the session's ``file://`` FileSystem (Hive's
    ``ProxyLocalFileSystem``, whose ``rename`` refuses an existing target) it
    is the first writer's."""
    path = str(tmp_path / "chk" / "1.delta")
    mgr = _manager(spark, path)
    _write_atomic(spark, mgr, path, b"attempt 0", overwrite=True)
    _write_atomic(spark, mgr, path, b"attempt 1", overwrite=True)
    with open(path, "rb") as f:
        assert f.read() in (b"attempt 0", b"attempt 1")
    assert [n for n in os.listdir(tmp_path / "chk") if not n.startswith(".")] == ["1.delta"]


_SCHEMA = "key STRING, offset BIGINT, n INT"
_SPEC = FlowSpec(
    key_cols=["key"],
    order_col="offset",
    fold=fold_option(lambda s, rec: (s or 0) + rec["n"]),
    output_schema="key STRING, offset BIGINT, total BIGINT",
    emit=lambda key, rec, before, after: {"key": key["key"], "offset": rec["offset"], "total": after},
)


def _run_counter(spark, tmp_path, first_offset: int) -> None:
    """Append three records per key (a, b, c) from ``first_offset``, then run
    the running-total flow over the backlog into ``tmp_path/out``."""
    input_dir = str(tmp_path / "input")
    rows = [(k, first_offset + i, 1) for i in range(3) for k in "abc"]
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)
    records = spark.readStream.schema(_SCHEMA).parquet(input_dir)
    run_to_parquet_sink(stateful_flow(records, _SPEC), str(tmp_path / "chk"), str(tmp_path / "out"))


def _totals(spark, tmp_path) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect())


def test_batch_rerun_after_state_commit_recovers(spark, tmp_path):
    """A crash after a batch's state-store commit but before its commit-log
    entry re-runs that batch on restart; the rerun writes delta files that
    already exist (``overwriteIfPossible=true``), and the next batch still
    folds on the right state."""
    _run_counter(spark, tmp_path, 0)
    _run_counter(spark, tmp_path, 10)
    commits = tmp_path / "chk" / "commits"
    (commits / "1").unlink()
    (commits / ".1.crc").unlink()
    _run_counter(spark, tmp_path, 20)
    assert sorted(n for n in os.listdir(commits) if not n.startswith(".")) == ["0", "1", "2"]
    expected = [
        (k, base + i, 3 * run + i + 1) for run, base in enumerate((0, 10, 20)) for i in range(3)
        for k in "abc"
    ]
    assert _totals(spark, tmp_path) == sorted(expected)


def test_stateful_checkpoint_starts_no_readlink(spark, tmp_path):
    """A checkpointed stateful flow commits without a ``readlink`` process.

    The FileContext-based manager resolves link status on every rename; without
    the native Hadoop library each resolution runs ``readlink``.  JFR's
    ``jdk.ProcessStart`` event records every process the JVM starts."""
    jvm = spark._jvm
    dump = jvm.java.io.File(str(tmp_path / "spawns.jfr")).toPath()
    recording = jvm.jdk.jfr.Recording()
    try:
        recording.enable("jdk.ProcessStart")
        recording.start()
        _run_counter(spark, tmp_path, 0)
        recording.stop()
        recording.dump(dump)
    finally:
        recording.close()
    commands = [
        e.getString("command") for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]

    assert os.listdir(tmp_path / "chk" / "commits"), "no micro-batch committed"
    assert len(_totals(spark, tmp_path)) == 9
    readlinks = [c for c in commands if "readlink" in c]
    assert not readlinks, f"{len(readlinks)} readlink processes, e.g. {readlinks[0]!r}"
