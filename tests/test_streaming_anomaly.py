"""Golden tests for the streaming EWMA anomaly flow: the stream's output —
including across a checkpoint stop/restart in the middle of a key's history —
must be BIT-IDENTICAL to the batch operator recomputed over the union of all
micro-batches (the twin contract every streaming operator here carries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_flow_spark.streaming.anomaly import ewma_flow_spec, ewma_stream
from kafka_flow_spark.streaming.flow import run_to_parquet_sink

SCHEMA = "seq BIGINT, key STRING, x BIGINT"


def _batch_truth(spark, rows, threshold):
    from kafka_flow_spark.operators.timeseries import ewma_anomaly

    df = spark.createDataFrame(rows, SCHEMA)
    out = ewma_anomaly(df, "key", ["seq"], "x", k=4, threshold=threshold)
    return sorted(
        (r["key"], r["seq"], r["x"], r["ewma"], r["deviation"], r["is_anomaly"])
        for r in out.collect()
    )


def _run(spark, input_dir, checkpoint, out_dir, threshold):
    records = spark.readStream.schema(SCHEMA).parquet(input_dir)
    flowed = ewma_stream(records, ["key"], "seq", "x", k=4, threshold=threshold)
    run_to_parquet_sink(flowed, checkpoint, out_dir)
    return sorted(
        (r["key"], r["seq"], r["value"], r["ewma"], r["deviation"], r["is_anomaly"])
        for r in spark.read.parquet(out_dir).collect()
    )


def test_stream_equals_batch_across_restart(spark, tmp_path):
    input_dir, checkpoint = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    batch1 = [(1, "a", 100), (2, "a", 200), (1, "b", 50)]
    batch2 = [(3, "a", 400), (2, "b", 55), (4, "a", 120)]  # a's ramp continues

    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)
    _run(spark, input_dir, checkpoint, out_dir, threshold=60)

    # second, separate query over the SAME checkpoint: state must recover
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)
    got = _run(spark, input_dir, checkpoint, out_dir, threshold=60)

    assert got == _batch_truth(spark, batch1 + batch2, threshold=60)
    # spot-check the restart-spanning row: a@seq3 sees history [200, 100]
    a3 = [r for r in got if r[0] == "a" and r[1] == 3][0]
    assert a3[3] == (8 * 200 + 4 * 100) // 12  # ewma from recovered state
    assert a3[5] is True  # |400 - 166| > 60


def test_first_observation_never_flags(spark, tmp_path):
    input_dir, checkpoint = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame([(1, "z", 10**6)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    got = _run(spark, input_dir, checkpoint, out_dir, threshold=0)
    assert got == [("z", 1, 10**6, None, None, False)]


def test_history_truncates_at_k(spark, tmp_path):
    input_dir, checkpoint = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    rows = [(i, "a", v) for i, v in enumerate([1000, 1000, 1000, 1000, 1000, 85])]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)
    got = _run(spark, input_dir, checkpoint, out_dir, threshold=900)
    last = [r for r in got if r[1] == 5][0]
    assert last[3] == 1000  # four 1000s, fifth observation evicted from state
    assert last[4] == 85 - 1000 and last[5] is True
    assert got == _batch_truth(spark, rows, threshold=900)


def test_stream_equals_batch_on_negative_series(spark, tmp_path):
    # The regression the twin contract exists to catch: Spark's `div`
    # truncates toward zero while Python's `//` floors, and they differ on
    # negative weighted sums (history [-99, -100]: batch ewma -99, a floor
    # stream would say -100).  Both sides must truncate identically.
    input_dir, checkpoint = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    rows = [(i, "n", v) for i, v in enumerate([-99, -100, -101, -7, -199, 3])]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(input_dir)
    got = _run(spark, input_dir, checkpoint, out_dir, threshold=50)
    assert got == _batch_truth(spark, rows, threshold=50)
    # seq 2 sees history [-100, -99]: (8·-100 + 4·-99) div 12 = -99 (trunc),
    # not -100 (floor)
    s2 = [r for r in got if r[1] == 2][0]
    assert s2[3] == -99


def test_spec_validates_args():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        ewma_flow_spec(["key"], "seq", "x", k=0)
    with _pytest.raises(ValueError, match="threshold"):
        ewma_flow_spec(["key"], "seq", "x", threshold=-5)
