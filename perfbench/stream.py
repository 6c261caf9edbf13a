"""``stream_zipf_keys`` workload: a file-source record stream
(``key STRING, offset BIGINT, n INT``) drained through
``streaming.flow.stateful_flow`` into a parquet sink, one file per
micro-batch.

Keys are Zipf(1.0) over 20 000 keys, so each 500-record batch holds a few
hot keys with tens to a hundred records and hundreds of cold keys with one or
two: per-group dispatch and state-store churn (cold keys) share each batch
with the per-record fold loop and state-codec bytes (hot keys).  The state is
a count/sum plus a buffer of the key's newest records (up to 10 KiB), stored
through ``persistence.compression.compressed_json_codec``: hot keys' buffers
cross the 10 000-byte compression threshold, cold keys' stay small.  An
offset timer (``offset_timer_threshold``) ticks every key whose offset has
advanced far enough; the tick trims the buffer.  ``n == 0`` (cold keys only)
deletes the key's state (delete-on-None).

One run: generate every input file (untimed); set up (session start plus the
query's first ``WARMUP_BATCHES`` data-bearing micro-batches: the first pays
the JVM and Python worker start, the next ones JIT warm-up); time the next
``seconds / BATCH_S`` micro-batches, which drain the source; then, twelve
times, add one file and restart the query on its checkpoint until that file's
batch is committed (the first restart warms the recovery path, the other
eleven are timed); then check every emitted row against a reference fold
(untimed).
"""

from __future__ import annotations

import os
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import (
    ProgressLog,
    Tracer,
    median,
    pct,
    progress_end,
    progress_start,
    start_session,
)

SCHEMA = "key STRING, offset BIGINT, n INT"
OUTPUT_SCHEMA = "key STRING, offset BIGINT, c INT, s BIGINT, t INT, crc BIGINT"
SIZES = {
    "full": dict(keys=20000, zipf_s=1.0, rows=500),
    "smoke": dict(keys=200, zipf_s=1.0, rows=60),
}
HOT_KEYS = 64  # the most frequent keys never see n == 0
ZERO_SHARE = 0.02  # share of cold-key records with n == 0 (delete state)
BUF_BYTES = 10 * 1024
TICK_EVERY = 2000  # offset-timer threshold
TICK_KEEP = 8 * 1024  # a tick trims the buffer to its newest 8 KiB
WARMUP_BATCHES = 8  # data-bearing micro-batches charged to set-up
RESTARTS = 12  # the first restart warms the recovery path and is not counted
BATCH_S = 2.0  # nominal batch time: timed micro-batches per run = seconds / BATCH_S


# --------------------------------------------------------------------------
# user code: fold, emit, tick (run in Spark's Python workers)


def token(rec) -> str:
    return f"{rec['n']}:{rec['offset']:012d};" + "." * 48


def fold(s, rec):
    if rec["n"] == 0:
        return None
    if s is None:
        s = {"c": 0, "s": 0, "t": 0, "buf": ""}
    return {
        "c": s["c"] + 1,
        "s": s["s"] + rec["n"],
        "t": s["t"],
        "buf": (s["buf"] + token(rec))[-BUF_BYTES:],
    }


def tick(s):
    if s is None:
        return None
    return {**s, "t": s["t"] + 1, "buf": s["buf"][-TICK_KEEP:]}


def emit(key, rec, before, after):
    if after is None:
        return {"key": key["key"], "offset": rec["offset"],
                "c": None, "s": None, "t": None, "crc": None}
    return {
        "key": key["key"],
        "offset": rec["offset"],
        "c": after["c"],
        "s": after["s"],
        "t": after["t"],
        "crc": zlib.crc32(after["buf"].encode()),
    }


def _timed(fn, acc):
    from time import perf_counter

    def run(*args):
        t0 = perf_counter()
        out = fn(*args)
        acc.add(perf_counter() - t0)
        return out

    return run


def _timed_codec(encode, decode, accs):
    import json
    from time import perf_counter

    def enc(s):
        t0 = perf_counter()
        out = encode(s)
        accs["enc"].add(perf_counter() - t0)
        accs["raw"].add(len(json.dumps(s, sort_keys=True, default=str)))
        accs["stored"].add(len(out[0]))
        return out

    def dec(stored):
        t0 = perf_counter()
        out = decode(stored)
        accs["dec"].add(perf_counter() - t0)
        return out

    return enc, dec


def flow_spec(accs: dict | None):
    """The workload's FlowSpec; with ``accs`` every user callback is timed
    into Spark accumulators (traced runs only)."""
    from kafka_flow_spark.operators.fold import fold_option
    from kafka_flow_spark.operators.tick import tick_option
    from kafka_flow_spark.persistence.compression import compressed_json_codec
    from kafka_flow_spark.streaming.flow import FlowSpec

    f, e, t = fold, emit, tick
    encode, decode, state_schema = compressed_json_codec()
    if accs:
        f, e, t = (_timed(fn, accs["fold"]) for fn in (f, e, t))
        encode, decode = _timed_codec(encode, decode, accs)
    return FlowSpec(
        key_cols=["key"],
        order_col="offset",
        fold=fold_option(f),
        output_schema=OUTPUT_SCHEMA,
        emit=e,
        tick=tick_option(t),
        offset_timer_threshold=TICK_EVERY,
        state_schema=state_schema,
        encode_state=encode,
        decode_state=decode,
    )


# --------------------------------------------------------------------------
# inputs and the reference


def generate(rng, out_dir: str, n_files: int, keys: int, zipf_s: float, rows: int) -> pd.DataFrame:
    """Write ``n_files`` parquet files of ``rows`` records; return all records.

    File modification times increase with the file number so the file
    source takes them in order, one per micro-batch."""
    os.makedirs(out_dir, exist_ok=True)
    p = np.arange(1, keys + 1, dtype=np.float64) ** -zipf_s
    p /= p.sum()
    total = n_files * rows
    key_ix = rng.choice(keys, size=total, p=p)
    n = rng.integers(1, 10, size=total, dtype=np.int32)
    n[(key_ix >= HOT_KEYS) & (rng.random(total) < ZERO_SHARE)] = 0
    names = np.array([f"k{i:05d}" for i in range(keys)], dtype=object)
    df = pd.DataFrame({"key": names[key_ix], "offset": np.arange(total), "n": n})
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        part = df.iloc[f * rows : (f + 1) * rows]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        os.utime(path, (1_000_000_000 + f, 1_000_000_000 + f))
    return df


def expected(records: pd.DataFrame, rows: int) -> pd.DataFrame:
    """Every record's emitted state under the flow's contract: per batch (one
    file), each key's records fold in offset order from the state committed
    by the previous batch; the offset timer registers at a key's first record
    and ticks once the offset has advanced ``TICK_EVERY`` past it; a ``None``
    state at the end of a batch deletes the key, timer included."""
    store: dict[str, tuple] = {}
    out = []
    for start in range(0, len(records), rows):
        batch = records.iloc[start : start + rows]
        for key, grp in batch.groupby("key", sort=False):
            s, reg = store.get(key, (None, None))
            for off, n in zip(grp["offset"].tolist(), grp["n"].tolist()):
                s = fold(s, {"offset": off, "n": n})
                row = emit({"key": key}, {"offset": off}, None, s)
                out.append((key, off, row["c"], row["s"], row["t"], row["crc"]))
                if reg is None:
                    reg = off
                elif off - reg >= TICK_EVERY:
                    s, reg = tick(s), off
            if s is None:
                store.pop(key, None)
            else:
                store[key] = (s, reg)
    df = pd.DataFrame(out, columns=["key", "offset", "c", "s", "t", "crc"])
    return df.astype({c: "Int64" for c in ["c", "s", "t", "crc"]})


def check_output(got: pd.DataFrame, records: pd.DataFrame, rows: int) -> tuple[int, int, list[str]]:
    """Compare every emitted row with the reference over the consumed files.
    Returns (rows checked, rows wrong, notes)."""
    notes = []
    dupes = int(got.duplicated("offset").sum())
    if dupes:
        notes.append(f"{dupes} duplicated output rows")
    got = got.drop_duplicates("offset")
    n_in = len(got)
    if n_in % rows or got["offset"].max() != n_in - 1:
        notes.append(f"{n_in} output rows are not a prefix of whole input files")
    want = expected(records.iloc[: -(-n_in // rows) * rows], rows)
    cols = ["c", "s", "t", "crc"]
    got = got.astype({c: "Int64" for c in cols})
    merged = want.merge(got, on="offset", how="outer", suffixes=("", "_got"), indicator=True)
    bad = (merged["_merge"] != "both") | (merged["key"] != merged["key_got"])
    for c in cols:
        a, b = merged[c], merged[f"{c}_got"]
        bad |= ~((a == b).fillna(False) | (a.isna() & b.isna()))
    wrong = int(bad.sum()) + dupes
    if wrong:
        notes.append(f"{wrong} of {len(merged)} rows differ from the reference")
    # the last emitted row of a key carries its final state
    last = merged.sort_values("offset").groupby("key").tail(1)
    finals_bad = int(bad.loc[last.index].sum())
    if finals_bad:
        notes.append(f"{finals_bad} keys end in a wrong state")
    return len(merged), wrong, notes


# --------------------------------------------------------------------------
# the run


class _Query:
    """The streaming query over ``src``; every start resumes its checkpoint."""

    def __init__(self, spark, spec, src: str, out: str, ckpt: str):
        from kafka_flow_spark.sources import file_records
        from kafka_flow_spark.streaming.flow import stateful_flow

        records = file_records(spark, src, SCHEMA, max_files_per_trigger=1)
        self.writer = (
            stateful_flow(records, spec)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )

    def start(self):
        return self.writer.start()


def _data_batches(plog: ProgressLog, q, n: int, timeout_s: float = 150.0) -> list[dict]:
    """Wait for the query's first ``n`` data-bearing micro-batches."""
    rid = str(q.runId)
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        done = [p for p in plog.of(rid) if p["numInputRows"] > 0]
        if len(done) >= n:
            return done[:n]
        if not q.isActive:
            raise RuntimeError(f"query stopped after {len(done)} batches: {q.exception()}")
        time.sleep(0.05)
    raise TimeoutError(f"fewer than {n} data-bearing micro-batches before the timeout")


def _stop(q) -> None:
    q.stop()
    exc = q.exception()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")


def run(workload: str, seed: int, seconds: float, tracer: Tracer, work: str, size: str) -> dict:
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    # a fixed number of timed micro-batches per run, so the JIT warm-up they
    # see does not depend on how many fit into ``seconds``
    timed = max(2, round(seconds / BATCH_S))
    n_drain = WARMUP_BATCHES + timed
    staged, src = os.path.join(work, "staged"), os.path.join(work, "src")
    with tracer.span("generator"):
        records = generate(rng, staged, n_drain + RESTARTS, **cfg)
    # the drain's files are there from the start; each restart adds one, so
    # every stop finds the query idle, never inside a batch
    files = sorted(os.listdir(staged))
    os.makedirs(src)
    for name in files[:n_drain]:
        os.rename(os.path.join(staged, name), os.path.join(src, name))

    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    t0 = time.time()
    with tracer.span("setup"):
        with tracer.span("session.start"):
            spark = start_session(work)
        session_s = time.time() - t0
        plog = ProgressLog()
        spark.streams.addListener(plog)
        accs = _accumulators(spark) if tracer.enabled else None
        query = _Query(spark, flow_spec(accs), src, out, ckpt)
        with tracer.span("warmup"):
            q = query.start()
            warm = _data_batches(plog, q, WARMUP_BATCHES)
    setup_s = progress_end(warm[-1]) - t0

    with tracer.span("drain"):
        acc0 = _acc_values(accs)
        drained = _data_batches(plog, q, WARMUP_BATCHES + timed)[WARMUP_BATCHES:]
        acc1 = _acc_values(accs)
        _stop(q)

    restarts = []
    for i, name in enumerate(files[n_drain:]):
        os.rename(os.path.join(staged, name), os.path.join(src, name))
        with tracer.span("restart", i=i):
            t0 = time.time()
            rq = query.start()
            p = _data_batches(plog, rq, 1)[0]
            restarts.append(progress_end(p) - t0)
            _stop(rq)

    with tracer.span("check"):
        got = spark.read.parquet(out).toPandas()
        checked, wrong, notes = check_output(got, records, cfg["rows"])

    durations = [p["batchDuration"] for p in drained]
    rates = [p["numInputRows"] * 1000.0 / p["batchDuration"] for p in drained]
    rows_in = sum(p["numInputRows"] for p in drained)
    result = {
        "e2e": {
            "setup_s": setup_s,
            "records_per_s": median(rates),
            "latency_ms_p50": median(durations),
            "job_s": median(restarts[1:]),
        },
        "named": {
            "setup_s": (setup_s, "s"),
            "records_per_s": (median(rates), "rec/s"),
            "batch_ms_p50": (median(durations), "ms"),
            f"batch_ms_p90_of_{len(durations)}": (pct(durations, 90), "ms"),
            "restart_s": (median(restarts[1:]), "s"),
        },
        "attempted": checked,
        "failed": wrong,
        "notes": notes + [
            f"{len(drained)} timed micro-batches, {rows_in} records, durations {durations} ms",
            f"restarts {[round(r, 3) for r in restarts]} s",
        ],
    }
    if tracer.enabled:
        result["layers"] = _layers(plog, q, drained, acc0, acc1, out, len(got), session_s, tracer)
    spark.streams.removeListener(plog)
    spark.stop()
    return result


def _accumulators(spark) -> dict:
    sc = spark.sparkContext
    return {k: sc.accumulator(0.0) for k in ("fold", "enc", "dec", "raw", "stored")}


def _acc_values(accs: dict | None) -> dict:
    return {k: a.value for k, a in accs.items()} if accs else {}


def _layers(plog, q, drained, acc0, acc1, out, output_rows, session_s, tracer) -> dict:
    n = len(drained)
    dur = [p["durationMs"] for p in drained]
    ops = [(p.get("stateOperators") or [{}])[0] for p in drained]
    for p in plog.of(str(q.runId)):
        b = tracer.add("micro_batch", progress_start(p), progress_end(p),
                       batch=p["batchId"], rows=p["numInputRows"])
        t = progress_start(p)
        for part, ms in p["durationMs"].items():
            if part != "triggerExecution":
                tracer.add(f"micro_batch.{part}", t, t + ms / 1000.0, parent=b)
    update_ms = sum(o.get("allUpdatesTimeMs", 0) for o in ops)
    fold_ms = (acc1["fold"] - acc0["fold"]) * 1000.0
    stored = acc1["stored"] - acc0["stored"]
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    return {
        "session.start_s": session_s,
        "sources.latest_offset_ms": median(d.get("latestOffset", 0) for d in dur),
        "sources.get_batch_ms": median(d.get("getBatch", 0) for d in dur),
        "sources.input_rows": sum(p["numInputRows"] for p in drained),
        "flow.planning_ms": median(d.get("queryPlanning", 0) for d in dur),
        "flow.offset_commit_ms": median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        ),
        "flow.add_batch_ms": median(d.get("addBatch", 0) for d in dur),
        "flow.batches": n,
        "streaming.flow.update_ms": median(o.get("allUpdatesTimeMs", 0) for o in ops),
        "streaming.flow.user_fold_ms": fold_ms / n,
        "streaming.flow.overhead_share": 1.0 - fold_ms / update_ms if update_ms else 0.0,
        "streaming.flow.remove_ms": median(o.get("allRemovalsTimeMs", 0) for o in ops),
        "streaming.flow.commit_ms": median(o.get("commitTimeMs", 0) for o in ops),
        "streaming.flow.state_rows": ops[-1].get("numRowsTotal", 0),
        "streaming.flow.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "streaming.flow.rows_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
        "streaming.flow.state_bytes": ops[-1].get("memoryUsedBytes", 0),
        "streaming.flow.output_rows": output_rows,
        "persistence.compression.encode_ms": (acc1["enc"] - acc0["enc"]) * 1000.0 / n,
        "persistence.compression.decode_ms": (acc1["dec"] - acc0["dec"]) * 1000.0 / n,
        "persistence.compression.ratio": (acc1["raw"] - acc0["raw"]) / stored if stored else 0.0,
        "sinks.output_files": len(files),
        "sinks.output_bytes": sum(os.path.getsize(os.path.join(out, f)) for f in files),
    }
