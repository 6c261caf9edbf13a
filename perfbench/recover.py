"""Persistence writes beside recovery reads, no streaming (part of the
``batch`` workload).

One cycle, on fresh tables:

- persist: per epoch, ``journal.append_journal`` (one small file, as a
  journal sink leaves it) and, for all but the last ``SNAPSHOT_LAG`` epochs,
  ``snapshots.append_snapshots`` of every touched key's state (tombstones for
  deleted keys); then ``snapshots.compact_snapshots``.
- recover: ``snapshots.latest_snapshots`` seeds each key, ``journal.read_journal``
  with ``min_offset_exclusive`` at the last snapshotted offset supplies the
  uncovered suffix, and ``journal.replay`` (the ``operators.keyed`` sort-merge
  fold) rebuilds every key's state, collected to the driver.

``perfbench.batch`` runs these cycles; the recovered states are checked
against the reference fold over the whole journal (untimed).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import Tracer, median

SIZES = {
    "full": dict(keys=20000, epochs=5, rows=16000),
    "smoke": dict(keys=50, epochs=4, rows=200),
}
ZERO_SHARE = 0.02  # share of n == 0 records (delete state)
SNAPSHOT_LAG = 2
STATE_SCHEMA = "key STRING, c INT, s BIGINT"


def counter_fold(s, rec):
    if rec["n"] == 0:
        return None
    if s is None:
        return {"c": 1, "s": rec["n"]}
    return {"c": s["c"] + 1, "s": s["s"] + rec["n"]}


def snapshot_fold(s, rec):
    """Counter fold seeded by snapshot rows (``snap`` set, no input)."""
    if rec["snap"] is not None:
        return json.loads(rec["snap"])
    return counter_fold(s, rec)


def finish(key, s):
    return {"key": key["key"], "c": s["c"], "s": s["s"]}


def expected_counter(records: pd.DataFrame) -> pd.DataFrame:
    """Every record's state after the counter fold, vectorised: ``n == 0``
    deletes the key (null state), other records count and sum since the last
    delete."""
    df = records.sort_values(["key", "offset"], kind="mergesort").reset_index(drop=True)
    zero = df["n"] == 0
    epoch = zero.astype(np.int64).groupby(df["key"]).cumsum()
    groups = [df["key"], epoch]
    c = (~zero).astype(np.int64).groupby(groups).cumsum()
    s = df["n"].astype(np.int64).groupby(groups).cumsum()
    return pd.DataFrame({
        "key": df["key"],
        "offset": df["offset"],
        "c": c.where(~zero).astype("Int64"),
        "s": s.where(~zero).astype("Int64"),
    })


def generate(rng, out: str, keys: int, epochs: int, rows: int) -> dict:
    """Stage the journal epochs and snapshot epochs as parquet (untimed) and
    compute the reference final state of every key."""
    ranks = np.arange(1, keys + 1, dtype=np.float64)
    p = ranks**-0.7
    p /= p.sum()
    total = epochs * rows
    names = np.array([f"k{i:05d}" for i in range(keys)], dtype=object)
    n = rng.integers(1, 10, size=total, dtype=np.int32)
    n[rng.random(total) < ZERO_SHARE] = 0
    records = pd.DataFrame(
        {"key": names[rng.choice(keys, size=total, p=p)], "offset": np.arange(total), "n": n}
    )
    states = expected_counter(records)
    states["epoch"] = states["offset"] // rows
    journal, snaps = [], []
    for e in range(epochs):
        path = os.path.join(out, "journal", f"epoch-{e:03d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(records.iloc[e * rows : (e + 1) * rows],
                                            preserve_index=False), path)
        journal.append(path)
        if e >= epochs - SNAPSHOT_LAG:
            continue
        # each touched key's state at the end of the epoch; null = tombstone
        last = states[states["epoch"] == e].groupby("key").tail(1)
        value = [
            None if pd.isna(c) else json.dumps({"c": int(c), "s": int(s)}, sort_keys=True)
            for c, s in zip(last["c"], last["s"])
        ]
        snap = pa.table({
            "key": pa.array(last["key"].tolist(), pa.string()),
            "offset": pa.array(last["offset"].to_numpy(), pa.int64()),
            "value": pa.array(value, pa.string()),
        })
        path = os.path.join(out, "snapshots", f"epoch-{e:03d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(snap, path)
        snaps.append(path)
    final = states.groupby("key").tail(1)
    final = final[final["c"].notna()][["key", "c", "s"]]
    cut = (epochs - SNAPSHOT_LAG) * rows - 1
    return {"journal": journal, "snapshots": snaps, "cut": cut, "records": total,
            "final": final.sort_values("key").reset_index(drop=True)}


def _fold(acc):
    from kafka_flow_spark.operators.fold import fold_option

    if acc is None:
        return fold_option(snapshot_fold)
    from time import perf_counter

    def timed(s, rec):
        t0 = perf_counter()
        out = snapshot_fold(s, rec)
        acc.add(perf_counter() - t0)
        return out

    return fold_option(timed)


def persist(spark, inputs: dict, tables: str, tracer: Tracer) -> list[float]:
    """Append every epoch, then compact; returns per-epoch append latencies."""
    from kafka_flow_spark.persistence import journal, snapshots

    jdir, sdir = os.path.join(tables, "journal"), os.path.join(tables, "snapshots")
    lat = []
    for e, jpath in enumerate(inputs["journal"]):
        t0 = time.perf_counter()
        with tracer.span("persistence.journal.append"):
            journal.append_journal(spark.read.parquet(jpath), jdir)
        if e < len(inputs["snapshots"]):
            with tracer.span("persistence.snapshots.append"):
                snapshots.append_snapshots(spark.read.parquet(inputs["snapshots"][e]), sdir)
        lat.append(time.perf_counter() - t0)
    log_files = sum(f.endswith(".parquet") for f in os.listdir(sdir))
    with tracer.span("persistence.snapshots.compact", log_files=log_files):
        snapshots.compact_snapshots(spark, sdir)
    return lat


def recover(spark, inputs: dict, tables: str, tracer: Tracer, acc) -> pd.DataFrame:
    """Rebuild every key's state: snapshot seed + journal suffix replay."""
    from pyspark.sql import functions as F

    from kafka_flow_spark.persistence import journal, snapshots

    jdir, sdir = os.path.join(tables, "journal"), os.path.join(tables, "snapshots")
    latest = snapshots.latest_snapshots(spark, sdir)
    suffix = journal.read_journal(spark, jdir, min_offset_exclusive=inputs["cut"])
    if tracer.enabled:  # traced runs materialise the two reads on their own
        with tracer.span("persistence.snapshots.latest"):
            latest.count()
        with tracer.span("persistence.journal.read", log_rows=spark.read.parquet(jdir).count()):
            tracer.spans[-1]["kept_rows"] = suffix.count()
    seeded = suffix.select("key", "offset", "n", F.lit(None).cast("string").alias("snap")).unionByName(
        latest.select("key", "offset", F.lit(None).cast("int").alias("n"), F.col("value").alias("snap"))
    )
    with tracer.span("persistence.journal.replay"):
        states = journal.replay(seeded, _fold(acc), finish, STATE_SCHEMA).toPandas()
    return states


def check(states: pd.DataFrame, final: pd.DataFrame) -> tuple[int, int, list[str]]:
    got = states.sort_values("key").reset_index(drop=True).astype({"c": "Int64", "s": "Int64"})
    want = final.astype({"c": "Int64", "s": "Int64"})
    merged = want.merge(got, on="key", how="outer", suffixes=("", "_got"), indicator=True)
    bad = (merged["_merge"] != "both") | (merged["c"] != merged["c_got"]).fillna(True) | (
        merged["s"] != merged["s_got"]
    ).fillna(True)
    wrong = int(bad.sum())
    notes = [f"{wrong} of {len(merged)} recovered states differ"] if wrong else []
    return len(merged), wrong, notes


def layers(tracer: Tracer, cycles: int, session_s: float, acc, fold0: float) -> dict:
    def per_cycle(name: str) -> float:
        return tracer.total(name) / cycles

    reads = [s for s in tracer.spans if s["name"] == "persistence.journal.read"]
    log_files = [s["log_files"] for s in tracer.spans if s["name"] == "persistence.snapshots.compact"]
    return {
        "session.start_s": session_s,
        "persistence.journal.append_s": per_cycle("persistence.journal.append"),
        "persistence.journal.replay_s": per_cycle("persistence.journal.replay"),
        "persistence.journal.scanned_share": (
            sum(s["kept_rows"] for s in reads) / sum(s["log_rows"] for s in reads)
        ),
        "persistence.snapshots.append_s": per_cycle("persistence.snapshots.append"),
        "persistence.snapshots.latest_s": per_cycle("persistence.snapshots.latest"),
        "persistence.snapshots.compact_s": per_cycle("persistence.snapshots.compact"),
        "persistence.snapshots.log_files": median(log_files),
        "operators.keyed.user_fold_ms": (acc.value - fold0) * 1000.0 / cycles,
    }
