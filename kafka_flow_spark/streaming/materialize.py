"""Streaming materialized-view maintenance — foreachBatch sinks that roll a
stored aggregate / join view forward one micro-batch at a time.

This wires the batch incremental-maintenance family
(operators/incremental.py: agg_state/agg_merge/agg_maintain/
maintain_join_view/apply_changeset) into the streaming surface: each
micro-batch IS the changeset, and the view on disk advances with it.  That is
the reference's core reason to exist — maintaining state FROM A STREAM
(core/.../FoldToState.scala:44-90 folds records into persisted per-key state;
docs/overview.md:31-42 describes the same keep-state-near-the-stream loop) —
applied to relational views instead of opaque per-key blobs.

Exactly-once without a transactional table format
-------------------------------------------------
``foreachBatch`` is at-least-once: after a crash the engine REPLAYS the last
unacknowledged micro-batch with the SAME ``batch_id`` and (for replayable
sources) the same rows.  The sinks here make the replay a no-op with the
standard versioned-commit protocol:

- every batch writes its outputs to a fresh ``v=<n>`` directory — never in
  place — so a crash mid-write can only tear an UNCOMMITTED version;
- a version counts as committed solely on its view-level ``_VIEW_COMMIT``
  marker, written after every table's parquet job has returned — commit-
  last, the same ordering discipline as save_minhash_index's params row
  (the per-table ``_SUCCESS`` files Spark writes are thereby subsumed);
- version numbers and stream batch ids are DECOUPLED (r10): each version
  records the batch id that produced it in ``_BATCH_META.json`` (legacy
  dirs without one used version == batch_id, the read fallback), because a
  ``refresh()`` admin advance commits a version with NO new batch;
- on entry the sink consults the head version's RECORDED batch id:
  ``batch_id`` EQUAL to it ⇒ the crash-replay of the last batch, skip
  (idempotent); ``batch_id`` BELOW it ⇒ a different stream incarnation
  (new/cleared checkpoint) — refuse loudly rather than eat its backlog as
  phantom replays or double-apply history; otherwise roll forward FROM the
  committed head into version ``max(head+1, batch_id)`` (a torn
  half-written version is simply ignored and overwritten).

Offsets live in the streaming checkpoint, view state lives in the versioned
parquet log, and the batch_id ties them together — the same
offsets-never-ahead-of-state contract the reference builds from Kafka commits
(SURVEY.md §3.2), here built from Spark's replay + idempotent sink.

Delta-proportional WRITES (the r8-review scale fix)
---------------------------------------------------
Compute was always delta-sized, but the r8 sinks REWROTE every row-level
snapshot (``base``/``fact``/``view``) in full per micro-batch — a
100 TB-view killer on the write path.  Now every row-level table is
HASH-BUCKETED by its primary key (``pmod(xxhash64(pk), n_buckets)``) and a
version writes only the buckets its delta touches:

- each version's table dir holds ``_bkt=<b>/`` parquet dirs for the buckets
  REWRITTEN at that version, plus a ``_BUCKET_MANIFEST.json`` mapping EVERY
  live bucket to the version whose dir holds its current data (absolute
  pointers, not a delta chain — reading a version opens exactly the dirs
  its own manifest names);
- untouched buckets are carried forward by manifest POINTER, not by copy —
  the Spark-native form of the reference's dirty-keys-only write-behind
  flush (core/.../persistence/Persistence.scala:100-137, snapshot
  value-dedup core/.../snapshot/Snapshots.scala:67-121: only what changed
  hits storage);
- per-batch bytes written ∝ |touched buckets| ≈ |Δ| · ceil(|table| /
  n_buckets) in the worst case of all-distinct delta buckets — pinned by a
  bytes-counting multi-batch test, NOT ∝ |table|;
- ``vacuum`` keeps the transitive closure of manifest-referenced versions,
  so every committed version that remains on disk stays fully readable.

Group-bounded tables (the agg ``state``, the linear-counting ``sketch``)
stay full-write: their cardinality is the view's OUTPUT cardinality, the
thing the user asked to keep small, and a full write is one file per
version — simpler and cheap by construction.

Scale shape: each micro-batch costs |Δ| + |touched groups| compute (agg) or
|Δ|-sized joins + per-table scans with delta-keyed semi/anti joins (join
view) — never a recompute over history — and writes only delta-touched
buckets.  Old versions are retained for time travel / debugging;
``vacuum(keep=n)`` prunes them.

The operations surface around the store (r10–r11):

- **Self-describing roots**: every commit writes ``_VIEW_META.json`` (kind +
  constructor args); ``open_view(root)`` reconstructs the real sink, admin
  ops never trust caller flags, and a sink whose args contradict the stored
  meta refuses before writing.
- **``rebucket(n_new)``** / **``evolve(add_columns)``**: the two offline
  full-rewrite migrations (bucket-count growth; additive schema evolution
  with per-row backfill) — both refuse through a handle that does not cover
  every on-disk table at the head (a partial head loses tables to the next
  vacuum).
- **CDF + subscriptions**: ``changes_between`` is the bucket-pointer-bounded
  change feed; ``ViewSubscription``/``follow`` maintain a DOWNSTREAM view
  from it with the upstream cursor committed inside the downstream's own
  versioned commit — multi-hop view DAGs are exactly-once and restart-safe
  with zero orchestration code (the reference's read-log-to-recorded-
  position recovery, KafkaPartitionPersistence.scala:124-210).
- **Dim freshness**: ``refresh()`` (admin advance, zero fact rows) for
  scheduled runs; ``with_dim_heartbeat`` + ``_skip_quiet_batch`` for
  continuous triggers (a rate-source union fires micro-batches on a quiet
  fact source — the reference's empty-poll timer tick on Spark's trigger
  machinery — and unchanged-world heartbeats commit nothing).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_flow_spark.operators.incremental import (
    agg_maintain,
    agg_merge,
    agg_result,
    agg_state,
    apply_changeset,
    changeset,
    maintain_join_view,
)
from kafka_flow_spark.streaming.flow import run_query

_VIEW_COMMIT = "_VIEW_COMMIT"
_MANIFEST = "_BUCKET_MANIFEST.json"
_BATCH_META = "_BATCH_META.json"
_VIEW_META = "_VIEW_META.json"
_CURSOR_META = "_CURSOR_META.json"


@dataclass
class BucketPatch:
    """A bucketed table's advance: rewrite exactly ``touched`` buckets with
    ``rows`` (which must contain ONLY rows hashing into those buckets);
    every other bucket carries forward by manifest pointer."""

    touched: list[int]
    rows: DataFrame


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — works for local, HDFS and object
    stores alike (the sink must not assume a POSIX view of cluster storage)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jvm


def _list_versions(spark: SparkSession, root: str) -> list[tuple[int, bool]]:
    """All ``v=<n>`` directories under the view root as (version, committed);
    committed iff the view-level ``_VIEW_COMMIT`` marker exists — the marker
    alone is the commit point (it is written only after every table's
    parquet job, whose own ``_SUCCESS`` files it therefore subsumes)."""
    fs, jvm = _fs(spark, root)
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        committed = fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{root}/{name}/{_VIEW_COMMIT}")
        )
        out.append((v, committed))
    return sorted(out)


def _committed_versions(spark: SparkSession, root: str) -> list[int]:
    return [v for v, committed in _list_versions(spark, root) if committed]


def _commit_version(spark: SparkSession, root: str, version: int) -> None:
    fs, jvm = _fs(spark, root)
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{root}/v={version}/{_VIEW_COMMIT}"), True
    ).close()


def _write_batch_meta(
    spark: SparkSession, root: str, version: int, batch_id: int
) -> None:
    """Record which STREAM batch produced ``version`` (written before the
    commit marker).  Versions and batch ids are decoupled since r10: a
    ``refresh()`` admin advance creates a version with NO new batch (it
    carries the previous batch id forward), so replay idempotence must
    compare against the batch id ON RECORD, not the version number."""
    fs, jvm = _fs(spark, root)
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{root}/v={version}/{_BATCH_META}"), True
    )
    try:
        out.write(bytearray(json.dumps({"batch_id": batch_id}).encode("utf-8")))
    finally:
        out.close()


def _read_batch_meta(spark: SparkSession, root: str, version: int) -> int:
    """Batch id recorded for ``version`` — legacy version dirs (pre-r10)
    have no meta file and used version == batch_id, the fallback."""
    fs, jvm = _fs(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(f"{root}/v={version}/{_BATCH_META}")
    if not fs.exists(p):
        return version
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        return int(json.loads(text)["batch_id"])
    finally:
        stream.close()


def _read_json_file(spark: SparkSession, path: str) -> dict | None:
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return json.loads(text)
    except ValueError as e:
        # a torn write (crash mid-create on a pre-atomic-writer layout, or a
        # filesystem without atomic rename) must not wedge every subsequent
        # micro-batch and admin op behind a bare JSONDecodeError — name the
        # file and the remedy (review r11)
        raise ValueError(
            f"corrupt JSON metadata at {path} ({e}) — a crash tore the "
            "write; delete the file (the owning sink's next commit rewrites "
            "it; version-scoped copies under committed v=<n>/ dirs remain "
            "authoritative)"
        ) from e


def _write_json_file(spark: SparkSession, path: str, obj: dict) -> None:
    """Write JSON via temp + rename so a crash can never leave a TRUNCATED
    file at ``path`` (rename is atomic on HDFS/local; object stores get a
    copy, whose failure leaves the old file intact).  A crash between the
    delete and the rename leaves the file ABSENT — every reader treats an
    absent metadata file as a defined state (legacy root / no cursor),
    unlike torn JSON which used to wedge the stream (review r11)."""
    fs, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.__tmp__")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    dst = jvm.org.apache.hadoop.fs.Path(path)
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"rename {path}.__tmp__ -> {path} failed")


def read_view_meta(spark: SparkSession, root: str) -> dict | None:
    """The view's self-describing metadata — kind + constructor arguments,
    the record that lets ``open_view`` / tools/view_admin.py reconstruct the
    REAL sink instead of trusting caller-supplied flags (a wrong ``--pk`` on
    a CDF read produced a wrong changeset silently; review r10).

    AUTHORITATIVE copy: ``v=<head>/_VIEW_META.json`` inside the newest
    COMMITTED version dir — written before the commit marker, so it flips
    atomically with the head (a rebucket crash between meta write and
    commit can no longer leave root meta claiming the NEW bucket count over
    an OLD committed head; review r11).  The root-level file is a discovery
    cache synced after each commit; it is read only for legacy roots whose
    head predates version-scoped meta.  None for a root with neither."""
    vs = _committed_versions(spark, root)
    if vs:
        m = _read_json_file(spark, f"{root}/v={vs[-1]}/{_VIEW_META}")
        if m is not None:
            return m
        # committed head has no version-scoped meta: legacy root, fall back
    return _read_json_file(spark, f"{root}/{_VIEW_META}")


class _VersionedView:
    """Shared versioned-commit machinery: a view root holding
    ``v=<batch_id>/<table>/`` parquet directories plus a commit marker per
    version.  Subclasses implement ``_initial`` (first batch) and ``_advance``
    (committed state + batch → new tables dict); tables named in
    ``bucketed`` are hash-bucketed by their pk and may advance with a
    ``BucketPatch`` (rewrite touched buckets only)."""

    tables: list[str] = []
    bucketed: dict[str, list[str]] = {}

    def __init__(self, path: str, n_buckets: int = 64):
        self.path = path
        self.n_buckets = n_buckets

    # -- bucketing ----------------------------------------------------------
    def _bkt(self, pk: list[str]) -> F.Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in pk]), F.lit(self.n_buckets))

    def touched_buckets(self, df: DataFrame, pk: list[str]) -> list[int]:
        """The bucket ids a delta's keys hash into — a bounded collect
        (≤ n_buckets ints), the write-planning scalar gate."""
        return sorted(
            int(r["_b"])
            for r in df.select(self._bkt(pk).alias("_b")).distinct().collect()
        )

    def _in_buckets(self, df: DataFrame, pk: list[str], buckets: list[int]) -> DataFrame:
        return df.where(self._bkt(pk).isin([int(b) for b in buckets]))

    # -- versioned-table plumbing ------------------------------------------
    def last_committed(self, spark: SparkSession) -> int | None:
        vs = _committed_versions(spark, self.path)
        return vs[-1] if vs else None

    def _manifest(self, spark: SparkSession, version: int, table: str) -> dict | None:
        """The bucket manifest of ``table`` at ``version`` — None for a
        pre-bucketing (legacy full-write) version directory."""
        fs, jvm = _fs(spark, self.path)
        p = jvm.org.apache.hadoop.fs.Path(
            f"{self.path}/v={version}/{table}/{_MANIFEST}"
        )
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )  # commons-io ships with Spark; avoids a per-byte py4j loop
            return json.loads(text)
        finally:
            stream.close()

    def _write_manifest(
        self, spark: SparkSession, version: int, table: str, man: dict
    ) -> None:
        fs, jvm = _fs(spark, self.path)
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(
                f"{self.path}/v={version}/{table}/{_MANIFEST}"
            ),
            True,
        )
        try:
            out.write(bytearray(json.dumps(man).encode("utf-8")))
        finally:
            out.close()

    def _table_dirs_on_disk(self, spark: SparkSession, version: int) -> list[str]:
        """Table directory names actually present under ``v=<version>`` —
        the on-disk truth, independent of how this handle was configured."""
        fs, jvm = _fs(spark, self.path)
        d = jvm.org.apache.hadoop.fs.Path(f"{self.path}/v={version}")
        return sorted(
            st.getPath().getName() for st in fs.listStatus(d) if st.isDirectory()
        )

    def _refuse_uncovered_tables(self, spark: SparkSession, version: int, op: str) -> None:
        """A full-rewrite op (rebucket/evolve) commits a new HEAD containing
        ONLY self.tables — if the on-disk head holds table dirs this handle
        does not cover, the new head would drop them: the next stream
        advance crashes reading them, and a later vacuum (closure from the
        new head) can delete the last versions holding them — permanent
        data loss (review r10, the view_admin rebucket defect).  Refuse."""
        uncovered = set(self._table_dirs_on_disk(spark, version)) - set(self.tables)
        if uncovered:
            raise ValueError(
                f"{op} on {self.path} would drop table dirs "
                f"{sorted(uncovered)}: the head version holds them but this "
                f"handle only covers {sorted(self.tables)} — reconstruct the "
                "real sink (open_view / the documented constructor) instead "
                "of a partial handle; a head committed without them breaks "
                "the stream's next advance and exposes them to vacuum"
            )

    def _list_bucket_dirs(self, spark: SparkSession, version: int, table: str) -> list[int]:
        fs, jvm = _fs(spark, self.path)
        d = jvm.org.apache.hadoop.fs.Path(f"{self.path}/v={version}/{table}")
        out = []
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("_bkt="):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def _read(self, spark: SparkSession, version: int, table: str) -> DataFrame:
        if table in self.bucketed:
            man = self._manifest(spark, version, table)
            if man is not None:
                from pyspark.sql.types import StructType

                schema = StructType.fromJson(json.loads(man["schema"]))
                paths = [
                    f"{self.path}/v={v}/{table}/_bkt={b}"
                    for b, v in man["buckets"].items()
                ]
                if not paths:
                    return spark.createDataFrame([], schema)
                return spark.read.schema(schema).parquet(*paths)
            # legacy full-write dir (pre-bucketing layout): plain read —
            # the next advance migrates it to the bucketed layout
        return spark.read.parquet(f"{self.path}/v={version}/{table}")

    def _write_bucketed_full(
        self, spark: SparkSession, version: int, table: str, rows: DataFrame
    ) -> None:
        """Write EVERY bucket of a bucketed table at ``version`` (initial
        batch, or the one-time migration off a legacy full-write dir)."""
        from pyspark.sql.types import StructField, StructType

        pk = self.bucketed[table]
        # pin the manifest schema all-nullable: parquet round-trips are
        # nullable anyway, and a non-nullable literal column in the first
        # batch must not tighten the contract every later read is held to
        schema_json = StructType(
            [StructField(f.name, f.dataType, True) for f in rows.schema.fields]
        ).json()
        tagged = rows.withColumn("_bkt", self._bkt(pk))
        (
            tagged.repartition("_bkt")
            .write.mode("overwrite")
            # STATIC overwrite regardless of the session's
            # partitionOverwriteMode: the whole version/table dir must be
            # replaced, or a torn previous attempt's stale _bkt dirs survive
            # a dynamic-mode retry and resurrect rows (review r9)
            .option("partitionOverwriteMode", "static")
            .partitionBy("_bkt")
            .parquet(f"{self.path}/v={version}/{table}")
        )
        present = self._list_bucket_dirs(spark, version, table)
        self._write_manifest(
            spark,
            version,
            table,
            {
                "n_buckets": self.n_buckets,
                "schema": schema_json,
                "buckets": {str(b): version for b in present},
            },
        )

    def _write_bucketed_patch(
        self,
        spark: SparkSession,
        version: int,
        prev: int,
        table: str,
        patch: BucketPatch,
    ) -> None:
        """Rewrite only ``patch.touched`` buckets; every other bucket's
        manifest pointer carries forward from the committed ``prev``
        version.  An absent pointer means the bucket is empty."""
        prev_man = self._manifest(spark, prev, table)
        if prev_man is None:
            # legacy full-write predecessor: migrate in one full bucketed
            # write — untouched buckets from the legacy dir + the patch
            # rows.  Resolved through self._read so a subclass fallback for
            # a table the legacy layout never stored (the join view's dim)
            # applies here too.
            legacy = self._read(spark, prev, table)
            pk = self.bucketed[table]
            carried = legacy.where(
                ~self._bkt(pk).isin([int(b) for b in patch.touched])
            )
            self._write_bucketed_full(
                spark, version, table, carried.unionByName(patch.rows)
            )
            return
        if int(prev_man["n_buckets"]) != self.n_buckets:
            raise ValueError(
                f"materialized view table {table!r} at {self.path} was "
                f"bucketed with n_buckets={prev_man['n_buckets']} but this "
                f"sink is configured with n_buckets={self.n_buckets} — the "
                "bucket function must be stable for pointer carry-forward; "
                "run rebucket(spark, n_new) once (offline, between batches) "
                "to migrate the view, then restart the stream with sinks "
                "constructed under the new count"
            )
        # schema drift refusal: reads resolve through the manifest's PINNED
        # schema, so a patch written with different columns would have its
        # new columns silently DROPPED (or nulled) on every subsequent read
        # — silent data loss, the worst failure class.  Names + types must
        # match exactly (nullability excluded: the manifest is pinned
        # all-nullable by _write_bucketed_full).
        from pyspark.sql.types import StructType

        pinned = {
            (f.name, f.dataType)
            for f in StructType.fromJson(json.loads(prev_man["schema"])).fields
        }
        incoming = {(f.name, f.dataType) for f in patch.rows.schema.fields}
        if incoming != pinned:
            raise ValueError(
                f"materialized view table {table!r} at {self.path}: patch "
                f"schema {sorted(n for n, _ in incoming)} does not match the "
                f"view's pinned schema {sorted(n for n, _ in pinned)} — "
                "reads resolve through the manifest schema, so a mismatched "
                "write would silently drop or null the divergent columns; "
                "for ADDED columns run evolve(spark, add_columns={name: "
                "backfill_expr}) once (offline, between batches); for "
                "RENAMED payload columns run evolve_rename(spark, {old: "
                "new}) once; for TYPE changes rebuild the view under a new "
                "root (read the head, cast, write fresh, repoint consumers "
                "— old parquet read under a retyped pinned schema can fail "
                "mid-read, so there is no safe in-place retype)"
            )
        schema_json = prev_man["schema"]
        pk = self.bucketed[table]
        tagged = patch.rows.withColumn("_bkt", self._bkt(pk))
        (
            tagged.repartition("_bkt")
            .write.mode("overwrite")
            # static for the same torn-retry reason as _write_bucketed_full
            .option("partitionOverwriteMode", "static")
            .partitionBy("_bkt")
            .parquet(f"{self.path}/v={version}/{table}")
        )
        present = set(self._list_bucket_dirs(spark, version, table))
        stray = present - {int(b) for b in patch.touched}
        if stray:
            raise ValueError(
                f"BucketPatch for {table!r} wrote rows into undeclared "
                f"buckets {sorted(stray)} — the patch rows must hash only "
                "into its touched set"
            )
        buckets = dict(prev_man["buckets"])
        for b in patch.touched:
            buckets.pop(str(int(b)), None)  # touched-and-now-empty: drop
        for b in present:
            buckets[str(b)] = version
        self._write_manifest(
            spark,
            version,
            table,
            {
                "n_buckets": self.n_buckets,
                "schema": schema_json,
                "buckets": buckets,
            },
        )

    # -- self-describing root metadata ---------------------------------------
    _KIND: str | None = None  # concrete sinks override; None = generic handle

    def _meta(self) -> dict | None:
        """Constructor-argument record written to the root-level
        ``_VIEW_META.json`` at every commit — enough for ``open_view`` to
        reconstruct THIS sink (kind + n_buckets + the subclass fields).
        None (the generic-handle default) writes nothing."""
        if self._KIND is None:
            return None
        return {"kind": self._KIND, "n_buckets": self.n_buckets}

    def _check_meta(self, spark: SparkSession) -> None:
        """Refuse when the root's stored meta disagrees with this sink's
        constructor arguments on anything bucketing/grouping-critical — a
        sink built with the wrong pk/keys pointed at an existing root would
        corrupt it silently.  ``dim_path`` is excluded (an input LOCATION
        may legitimately move; the next commit records the new one).
        Legacy roots (no meta) pass — their first commit writes one."""
        mine = self._meta()
        if mine is None:
            return
        stored = read_view_meta(spark, self.path)
        if stored is None:
            return
        volatile = {"dim_path"}
        a = {k: v for k, v in stored.items() if k not in volatile}
        b = {k: v for k, v in mine.items() if k not in volatile}
        if a != b:
            raise ValueError(
                f"materialized view at {self.path} was created as {a} but "
                f"this sink is configured as {b} — a mismatched writer "
                "would corrupt the view; fix the constructor arguments (or "
                "rebuild under a fresh root if the change is intentional)"
            )

    def _sync_meta(self, spark: SparkSession) -> None:
        """Sync the ROOT-LEVEL discovery cache of ``_VIEW_META.json`` (run
        after the commit marker; the version-scoped copy written inside the
        version dir is the authoritative one — see ``read_view_meta``)."""
        mine = self._meta()
        if mine is None:
            return
        try:
            stored = _read_json_file(spark, f"{self.path}/{_VIEW_META}")
        except Exception:
            # ANY unreadable cache (torn JSON, checksum mismatch from an
            # out-of-band edit) self-heals on this rewrite — it is only a
            # discovery convenience, never the authoritative copy
            stored = None
        if stored != mine:
            _write_json_file(spark, f"{self.path}/{_VIEW_META}", mine)

    def _carry_extras(self, spark: SparkSession, version: int) -> dict[str, dict]:
        """Version-scoped sidecar metadata to CARRY FORWARD across an admin
        full-rewrite (rebucket/evolve/refresh) — like the batch id, the
        subscription cursor lives inside the version dir, so a rewrite that
        drops it orphans a subscription-managed downstream (its next
        advance refuses on the missing cursor)."""
        out = {}
        cur = _read_json_file(spark, f"{self.path}/v={version}/{_CURSOR_META}")
        if cur is not None:
            out[_CURSOR_META] = cur
        return out

    def _write_all(
        self,
        spark: SparkSession,
        version: int,
        frames: dict[str, DataFrame | BucketPatch],
        prev: int | None = None,
        batch_id: int | None = None,
        extras: dict[str, dict] | None = None,
    ) -> None:
        assert set(frames) == set(self.tables)
        for t in self.tables:
            f = frames[t]
            if isinstance(f, BucketPatch):
                assert t in self.bucketed and prev is not None
                self._write_bucketed_patch(spark, version, prev, t, f)
            elif t in self.bucketed:
                self._write_bucketed_full(spark, version, t, f)
            else:
                # overwrite: a torn, uncommitted attempt at this version from
                # a previous incarnation must not poison the retry
                f.write.mode("overwrite").parquet(f"{self.path}/v={version}/{t}")
        if batch_id is not None:
            _write_batch_meta(spark, self.path, version, batch_id)
        for fname, obj in (extras or {}).items():
            # pre-commit sidecar metadata (e.g. a subscription's upstream
            # cursor): lives INSIDE the version dir, so it is atomic with
            # the version — readable only once the commit marker lands
            _write_json_file(spark, f"{self.path}/v={version}/{fname}", obj)
        mine = self._meta()
        if mine is not None:
            # authoritative meta is version-scoped (atomic with the commit
            # marker — a rebucket crash here leaves the OLD head and its OLD
            # meta in agreement; review r11); root-level copy is a cache
            _write_json_file(spark, f"{self.path}/v={version}/{_VIEW_META}", mine)
        _commit_version(spark, self.path, version)  # commit point
        self._sync_meta(spark)  # refresh the root-level discovery cache

    # -- the foreachBatch hook ---------------------------------------------
    def _skip_quiet_batch(
        self, spark: SparkSession, last: int, batch: DataFrame
    ) -> bool:
        """Subclass hook: True when an (empty) micro-batch changes nothing
        and should commit NO version — the heartbeat path (run_view_sink
        dim heartbeats fire batches with zero rows so continuous streams
        get bounded dim freshness; an unchanged-world heartbeat must not
        churn a version every interval).  Skipping records no batch id:
        a crash-replay of the skipped batch re-evaluates to the same skip."""
        return False

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        self._check_meta(spark)
        last = self.last_committed(spark)
        # replay idempotence compares STREAM batch ids, not version numbers:
        # a refresh() admin advance creates versions with no new batch, so
        # the head version's recorded batch id is the real high-water mark
        last_bid = (
            None if last is None else _read_batch_meta(spark, self.path, last)
        )
        if last_bid is not None and batch_id == last_bid:
            return  # crash-replay of the last batch: already applied, skip
        if last_bid is not None and batch_id < last_bid:
            # Structured Streaming batch ids are monotonic within ONE
            # checkpoint and only the LAST batch is ever redelivered; an id
            # below the committed head means a DIFFERENT stream incarnation
            # (new/cleared checkpoint restarting at 0) is pointed at this
            # view root.  Silently skipping would eat its backlog (the
            # batches would look like replays); silently applying would
            # double-count everything the view already holds.  Refuse —
            # the operator must keep the checkpoint, or rebuild the view
            # under a fresh root (review r8).
            raise ValueError(
                f"materialized view at {self.path} is at committed batch "
                f"{last_bid} (version {last}) but received batch {batch_id} "
                "— this stream's checkpoint does not match the view (was it "
                "cleared or relocated?); keep checkpoint and view together, "
                "or point the new stream at a fresh view path"
            )
        if last is not None and self._skip_quiet_batch(spark, last, batch):
            return
        from kafka_flow_spark.cache import mark, release_since

        pos = mark()  # scope any _advance persist to THIS micro-batch
        try:
            if last is None:
                frames = self._initial(batch)
                version = batch_id
            else:
                committed = {t: self._read(spark, last, t) for t in self.tables}
                frames = self._advance(committed, batch)
                # next version slot, NOT batch_id: refresh() versions may sit
                # between batches, and a version number must never collide
                version = max(last + 1, batch_id)
            self._write_all(spark, version, frames, prev=last, batch_id=batch_id)
        finally:
            release_since(pos)

    def versions(self, spark: SparkSession) -> list[int]:
        """Committed versions available for time travel, oldest first."""
        return _committed_versions(spark, self.path)

    def _resolve(self, spark: SparkSession, version: int | None) -> int:
        """Validate a time-travel version (None = latest committed).  Reading
        an uncommitted/absent version is refused — torn data must stay
        invisible through EVERY read path, not just the roll-forward."""
        vs = _committed_versions(spark, self.path)
        if not vs:
            raise ValueError(f"no committed version under {self.path}")
        if version is None:
            return vs[-1]
        if version not in vs:
            raise ValueError(
                f"version {version} is not committed under {self.path} "
                f"(committed: {vs}; vacuumed versions are gone for good)"
            )
        return version

    def vacuum(
        self,
        spark: SparkSession,
        keep: int = 2,
        protect: list[str] | None = None,
    ) -> list[int]:
        """Drop all but the newest ``keep`` committed versions, plus any
        UNCOMMITTED debris older than the newest committed version (a torn
        directory from a crashed batch whose id was never redelivered —
        newer uncommitted dirs are left alone, they may be an in-flight
        write).  Returns dropped versions.

        ``protect``: downstream roots whose subscription cursors must stay
        serviceable — if a listed follower of THIS root is parked at a
        version the vacuum would drop, REFUSE with the exact remedy
        (advance the follower, or raise ``keep``) instead of leaving it to
        refuse loudly on its next CDF read after the history is gone (the
        prevention form of the r11 parked-subscriber protection; pair with
        ``view_status`` which reports the same ``droppable_before`` bound).
        Roots following a different upstream, or with no cursor, never
        block.

        Bucketed tables share storage across versions by manifest pointer,
        so a kept version may read buckets out of an OLDER version's dir:
        the TRANSITIVE closure of manifest-referenced versions survives too
        (every committed version still on disk stays fully readable — the
        Delta-style rule that data files referenced by a live snapshot are
        not vacuumable)."""
        if keep < 1:
            # keep=0 would delete the committed head; the next micro-batch
            # would then see last_committed()=None and silently re-initialize
            # the view from that single batch — silent state loss, and the
            # foreign-checkpoint refusal would be bypassed too (review r8).
            raise ValueError(
                f"vacuum keep must be >= 1 (got {keep}) — the roll-forward "
                "always needs the committed head"
            )
        all_vs = _list_versions(spark, self.path)
        committed = [v for v, ok in all_vs if ok]
        if protect:
            cursors = {}
            for root in protect:
                meta = _follower_cursor_meta(spark, root)
                if meta is not None and meta.get("upstream_root") == self.path:
                    cursors[root] = int(meta["upstream_version"])
            kept = committed[-keep:]
            stranded = {
                r: c for r, c in cursors.items() if kept and c < kept[0]
            }
            if stranded:
                need = min(stranded.values())
                need_keep = sum(1 for v in committed if v >= need)
                raise ValueError(
                    f"vacuum(keep={keep}) on {self.path} would drop versions "
                    f"a protected follower still needs: {stranded} (oldest "
                    f"needed: v{need}, oldest kept would be v{kept[0]}) — "
                    f"advance the follower(s) first (follow/follow_all), or "
                    f"raise keep to >= {need_keep}"
                )
        keep_set = set(committed[-keep:])
        # the referenced closure is discovered from DISK, not from
        # self.bucketed: a kind-agnostic caller (tools/view_admin.py, or a
        # sink constructed with the wrong table map) must never be able to
        # delete a version some kept manifest still points into
        fs, jvm = _fs(spark, self.path)

        def _table_dirs(version: int) -> list[str]:
            d = jvm.org.apache.hadoop.fs.Path(f"{self.path}/v={version}")
            return [
                st.getPath().getName()
                for st in fs.listStatus(d)
                if st.isDirectory()
            ]

        frontier = list(keep_set)
        while frontier:
            v = frontier.pop()
            for t in _table_dirs(v):
                man = self._manifest(spark, v, t)
                if man is None:
                    continue
                for ref in set(man["buckets"].values()):
                    if ref not in keep_set:
                        keep_set.add(ref)
                        frontier.append(ref)
        head = committed[-1] if committed else None
        drop = [
            v
            for v, ok in all_vs
            if (ok and v not in keep_set)
            or (not ok and head is not None and v < head)
        ]
        for v in drop:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{self.path}/v={v}"), True)
        return drop

    def changes_between(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        table: str | None = None,
    ) -> DataFrame:
        """Row-level changeset between two committed versions — the CDF
        ("change data feed") read: ``(row columns…, status)`` with status in
        added/deleted/changed, keyed by the table's bucketing pk, suitable
        for feeding a DOWNSTREAM incremental consumer exactly as the fact
        stream feeds this view (``apply_changeset(old, changes) == new`` —
        pinned by test; views CASCADE — a second sink maintained purely
        from this one's CDF reads equals the direct recompute at every
        step, test_view_cascade_via_cdf_reads).

        Bucket-aware, the reason it scales: a bucket whose manifest POINTER
        is identical in both versions holds byte-identical data (pointers
        name the version whose dir wrote the bucket — equality proves no
        rewrite happened between the two), so only buckets with DIFFERING
        pointers are read and diffed.  Cost ∝ |touched buckets between the
        versions|, never |table| — at 100 TB a 3-version-apart CDF read on
        a quiet view touches a handful of bucket dirs.  Falls back to the
        full-table diff for legacy (pre-manifest) version dirs.

        ``table`` defaults to the sink's single bucketed row-level table
        when unambiguous (the join view's ``view``); pass it explicitly
        otherwise.  ``v_from`` must be the OLDER version (refused
        otherwise, so consumers can't silently invert add/delete).
        """
        if table is None:
            if len(self.bucketed) == 1:
                table = next(iter(self.bucketed))
            elif "view" in self.bucketed:
                table = "view"
            else:
                raise ValueError(
                    f"ambiguous table for changes_between — pass one of "
                    f"{sorted(self.bucketed)}"
                )
        if table not in self.bucketed:
            raise ValueError(
                f"changes_between needs a pk-bucketed table, got {table!r} "
                f"(bucketed: {sorted(self.bucketed)})"
            )
        a = self._resolve(spark, v_from)
        b = self._resolve(spark, v_to)
        if a >= b:
            raise ValueError(
                f"v_from must be older than v_to (got {a} >= {b}) — an "
                "inverted range would silently swap added/deleted"
            )
        pk = self.bucketed[table]
        man_a = self._manifest(spark, a, table)
        man_b = self._manifest(spark, b, table)
        if man_a is None or man_b is None:
            # legacy full-write dir on either side: full diff
            return changeset(
                self._read(spark, a, table), self._read(spark, b, table), pk
            )
        ba, bb = man_a["buckets"], man_b["buckets"]
        differing = sorted(
            int(k)
            for k in set(ba) | set(bb)
            if ba.get(k) != bb.get(k)  # absent != present == differing
        )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(man_b["schema"]))

        def side(man: dict, version: int) -> DataFrame:
            paths = [
                f"{self.path}/v={man['buckets'][str(bkt)]}/{table}/_bkt={bkt}"
                for bkt in differing
                if str(bkt) in man["buckets"]
            ]
            if not paths:
                return spark.createDataFrame([], schema)
            return spark.read.schema(schema).parquet(*paths)

        return changeset(side(man_a, a), side(man_b, b), pk)

    def rebucket(self, spark: SparkSession, n_new: int) -> int:
        """One-shot OFFLINE re-bucket: read every table at the committed
        head and commit one new version whose bucketed tables are FULLY
        rewritten under ``n_new`` buckets with a fresh manifest (no pointer
        carry-forward across the bucket-function change — the one write
        that must be snapshot-sized, by definition).  The operations story
        for a view that outgrew its bucket count: without this, the
        n_buckets-change refusal in ``_write_bucketed_patch`` is terminal
        and the only remedy is recreating the view — a full REPROCESS of
        history at 100 TB, vs this one full REWRITE of current state.

        Cost: |view| + |fact| + |dim| bytes once; subsequent micro-batches
        are delta-proportional again under the new bucket count.

        After it returns, this sink instance advances under ``n_new``;
        restart the stream with sinks constructed with ``n_buckets=n_new``
        (a sink still configured with the old count refuses loudly on its
        next patch, as ever).  Carries the head's batch id forward like
        ``refresh()``, so the running stream's replay/refusal logic is
        untouched.  Run from the single-writer context, between batches.
        """
        if n_new < 1:
            raise ValueError(f"n_new must be >= 1, got {n_new}")
        last = self.last_committed(spark)
        if last is None:
            raise ValueError(
                f"materialized view at {self.path} has no committed version "
                "to rebucket"
            )
        self._check_meta(spark)
        self._refuse_uncovered_tables(spark, last, "rebucket")
        committed = {t: self._read(spark, last, t) for t in self.tables}
        self.n_buckets = n_new
        version = last + 1
        # full frames (no BucketPatch): _write_all routes every bucketed
        # table through _write_bucketed_full → fresh manifest under n_new
        self._write_all(
            spark,
            version,
            committed,
            prev=last,
            batch_id=_read_batch_meta(spark, self.path, last),
            extras=self._carry_extras(spark, last),
        )
        return version

    def evolve(
        self,
        spark: SparkSession,
        add_columns: dict[str, str],
        tables: list[str] | None = None,
    ) -> int:
        """Additive schema evolution: ONE offline full rewrite (the
        ``rebucket`` pattern) committing a new version whose row-shaped
        tables carry the new columns, each backfilled for EXISTING rows by
        its SQL expression (evaluated over the table's current columns —
        ``"NULL"``, a literal, or an expression like ``upper(k)``).  The
        schema-drift refusal in ``_write_bucketed_patch`` is correct
        (silent column dropping was the alternative) but its only remedy
        used to be a full REPROCESS under a new root; this makes the common
        evolution — the stream gains a column — one full rewrite of current
        state instead.

        After it returns, the manifests pin the EXTENDED schema: subsequent
        micro-batches must carry the new columns (a stream still producing
        the old shape refuses loudly, as ever).  ``tables`` defaults to the
        sink's stream-row-shaped set (``evolve_tables``: the agg view's
        ``base``; the join view's ``fact`` and ``view`` — the dim evolves
        with its source and is refused here).  Group-bounded tables
        (``state``/``sketch``/``cells``) never evolve this way — their
        columns are derived, not stored rows.

        CDF reads ACROSS the evolution boundary resolve old-side rows with
        NULL in the added columns (both sides read under the newer
        manifest's schema; parquet fills absent columns with null), so a
        NULL backfill diffs EMPTY and a literal backfill reports every row
        ``changed`` — both semantically true, pinned by
        test_evolve_cdf_across_boundary.

        Evolving inside a CASCADE (subscription-managed downstream), the
        pinned recipe: evolve the UPSTREAM with a NULL backfill first (its
        CDF across the boundary is empty, nothing flows), then evolve the
        DOWNSTREAM with the same column, then resume advancing — the
        subscription cursor is carried through the rewrite.  Both wrong
        orders refuse loudly instead of corrupting
        (test_subscription_across_evolution_boundary).

        Cost: one |tables| full rewrite; subsequent micro-batches are
        delta-proportional again under the extended schema.  Run from the
        single-writer context, between batches.
        """
        if not add_columns:
            raise ValueError("evolve needs at least one column to add")
        targets = list(tables) if tables is not None else list(self.evolve_tables)
        if not targets:
            raise ValueError(
                f"{type(self).__name__} has no evolvable (stream-row-shaped) "
                "tables — pass tables= explicitly if you know better"
            )
        bad = [t for t in targets if t not in self.tables]
        if bad:
            raise ValueError(f"unknown tables {bad} (have {sorted(self.tables)})")
        last = self.last_committed(spark)
        if last is None:
            raise ValueError(
                f"materialized view at {self.path} has no committed version "
                "to evolve"
            )
        self._check_meta(spark)
        self._refuse_uncovered_tables(spark, last, "evolve")
        committed = {t: self._read(spark, last, t) for t in self.tables}
        for t in targets:
            cur = committed[t]
            clash = [c for c in add_columns if c in cur.columns]
            if clash:
                raise ValueError(
                    f"evolve: columns {clash} already exist on table {t!r}"
                )
            for name, expr in add_columns.items():
                cur = cur.withColumn(name, F.expr(expr))
            committed[t] = cur
        version = last + 1
        # full frames: _write_all routes bucketed tables through
        # _write_bucketed_full → fresh manifests pinning the extended schema
        self._write_all(
            spark,
            version,
            committed,
            prev=last,
            batch_id=_read_batch_meta(spark, self.path, last),
            extras=self._carry_extras(spark, last),
        )
        return version

    @property
    def evolve_tables(self) -> list[str]:
        """The stream-row-shaped tables ``evolve`` extends by default."""
        return sorted(self.bucketed)

    def _critical_columns(self) -> set[str]:
        """Columns the sink's CONSTRUCTOR names — bucketing pks, grouping
        keys, the join fk, the aggregated value column.  Renaming one of
        these is not a schema evolution, it is a different view (the bucket
        hash inputs and the maintenance logic change identity)."""
        out: set[str] = set()
        for pk in self.bucketed.values():
            out.update(pk)
        meta = self._meta() or {}
        for k in ("keys", "group_cols"):
            out.update(meta.get(k) or [])
        for k in ("value_col", "fk", "b_pk"):
            if meta.get(k):
                out.add(meta[k])
        return out

    def evolve_rename(
        self,
        spark: SparkSession,
        renames: dict[str, str],
        tables: list[str] | None = None,
    ) -> int:
        """Rename PAYLOAD columns: one offline full rewrite (the ``evolve``
        pattern) committing a new version whose target tables carry
        ``renames[old] = new``, with fresh manifests pinning the renamed
        schema.  Completes the evolution surface: ADD is ``evolve``, RENAME
        is this, and a RETYPE stays a loud refusal with the rebuild recipe
        (``_write_bucketed_patch``'s drift message) — old parquet read
        under a retyped pinned schema can fail mid-read, so there is no
        safe in-place form.

        Bucketing/grouping-CRITICAL columns refuse: a pk/keys/fk/value_col
        rename changes the sink's identity (the bucket hash inputs, the
        maintenance logic, the stored meta), so the remedy is the
        copy-evolve-backfill recipe — read the head, rename, write a FRESH
        root with the renamed constructor, repoint stream + consumers.

        CDF across the rename boundary (pinned by
        test_evolve_rename_cdf_across_boundary): both sides read under the
        NEWER manifest's schema, the old side's renamed column resolves
        NULL (parquet fills absent columns), so every row reports
        ``changed`` with old-side NULLs — values were preserved but the
        pinned-schema read cannot know the mapping.  Renaming inside a
        cascade therefore follows the evolve recipe: rename the DOWNSTREAM
        first is not possible (its batches still carry the old name), so
        drain the subscription to the head, rename upstream AND downstream
        in the same maintenance window, then resume.

        After it returns, subsequent micro-batches must carry the NEW name
        (a stream still producing the old one refuses loudly, as ever).
        """
        if not renames:
            raise ValueError("evolve_rename needs at least one column")
        for old, new in renames.items():
            if old == new:
                raise ValueError(f"rename {old!r} -> {new!r} is a no-op")
        if len(set(renames.values())) != len(renames):
            raise ValueError(f"duplicate rename targets in {renames}")
        targets = list(tables) if tables is not None else list(self.evolve_tables)
        if not targets:
            raise ValueError(
                f"{type(self).__name__} has no evolvable (stream-row-shaped) "
                "tables — pass tables= explicitly if you know better"
            )
        bad = [t for t in targets if t not in self.tables]
        if bad:
            raise ValueError(f"unknown tables {bad} (have {sorted(self.tables)})")
        crit = sorted(set(renames) & self._critical_columns())
        if crit:
            raise ValueError(
                f"evolve_rename refuses bucketing/grouping-critical columns "
                f"{crit} — renaming them changes the view's identity (bucket "
                "hash inputs, maintenance keys, stored meta); use the "
                "copy-evolve-backfill recipe instead: read the head, rename, "
                "write a FRESH root with the renamed constructor arguments, "
                "then repoint the stream and every subscriber"
            )
        last = self.last_committed(spark)
        if last is None:
            raise ValueError(
                f"materialized view at {self.path} has no committed version "
                "to rename columns on"
            )
        self._check_meta(spark)
        self._refuse_uncovered_tables(spark, last, "evolve_rename")
        committed = {t: self._read(spark, last, t) for t in self.tables}
        for t in targets:
            cur = committed[t]
            missing = [c for c in renames if c not in cur.columns]
            if missing:
                raise ValueError(
                    f"evolve_rename: columns {missing} do not exist on "
                    f"table {t!r} (has {cur.columns})"
                )
            clash = [n for n in renames.values() if n in cur.columns]
            if clash:
                raise ValueError(
                    f"evolve_rename: target names {clash} already exist on "
                    f"table {t!r}"
                )
            for old, new in renames.items():
                cur = cur.withColumnRenamed(old, new)
            committed[t] = cur
        version = last + 1
        self._write_all(
            spark,
            version,
            committed,
            prev=last,
            batch_id=_read_batch_meta(spark, self.path, last),
            extras=self._carry_extras(spark, last),
        )
        return version

    # -- subclass contract ---------------------------------------------------
    def _initial(self, batch: DataFrame) -> dict[str, DataFrame]:
        raise NotImplementedError

    def _advance(
        self, committed: dict[str, DataFrame], batch: DataFrame
    ) -> dict[str, DataFrame]:
        raise NotImplementedError


class MaterializedAggView(_VersionedView):
    """Streaming-maintained per-group aggregate (count/sum/avg/min/max of
    ``value_col`` by ``keys``), stored as an ``agg_state`` table.

    Two stream shapes:
    - ``row_pk=None`` (append-only stream, e.g. events): each micro-batch is
      a new shard; state advances by ``agg_merge(state, agg_state(batch))`` —
      pure algebraic merge, cost |Δ| + |groups|.
    - ``row_pk=[...]`` (CDC stream): micro-batch rows are a ``changeset()``
      (carry ``status`` ∈ added/changed/deleted + full new values); the sink
      also maintains the BASE snapshot (needed to retract old contributions
      and recompute touched groups' min/max) and advances by
      ``agg_maintain`` + ``apply_changeset``.  The base is HASH-BUCKETED by
      ``row_pk``: a micro-batch rewrites only the buckets its pks hash into
      (bytes ∝ |Δ|-touched buckets, never ∝ |base| — the r8-review write-
      amplification fix); the group-bounded ``state`` stays full-write.
      Changeset contract: at most ONE row per pk per micro-batch (a CDC
      burst with several versions of a key in one batch must be collapsed
      last-wins upstream — the same requirement ``changeset()`` output
      satisfies by construction).

    ``result(spark)`` finalizes the committed state into the user-facing
    aggregate exactly as a full recompute would (same unscaled-cents
    arithmetic — the golden restart test pins maintained == recomputed
    across a stop/start boundary).
    """

    _KIND = "agg"

    def __init__(
        self,
        path: str,
        keys: list[str],
        value_col: str,
        row_pk: list[str] | None = None,
        n_buckets: int = 64,
    ):
        super().__init__(path, n_buckets)
        self.keys, self.value_col, self.row_pk = list(keys), value_col, row_pk
        self.tables = ["state"] + (["base"] if row_pk is not None else [])
        self.bucketed = {"base": list(row_pk)} if row_pk is not None else {}

    def _meta(self) -> dict:
        return {
            "kind": self._KIND,
            "n_buckets": self.n_buckets,
            "keys": self.keys,
            "value_col": self.value_col,
            "row_pk": self.row_pk,
        }

    @classmethod
    def _from_meta(cls, root: str, meta: dict) -> "MaterializedAggView":
        return cls(
            root,
            meta["keys"],
            meta["value_col"],
            row_pk=meta["row_pk"],
            n_buckets=meta["n_buckets"],
        )

    def _initial(self, batch: DataFrame) -> dict[str, DataFrame]:
        if self.row_pk is None:
            return {"state": agg_state(batch, self.keys, self.value_col)}
        rows = batch.where(F.col("status") != "deleted").drop("status")
        return {"state": agg_state(rows, self.keys, self.value_col), "base": rows}

    def _advance(self, committed, batch) -> dict[str, DataFrame | BucketPatch]:
        if self.row_pk is None:
            return {
                "state": agg_merge(
                    committed["state"], agg_state(batch, self.keys, self.value_col)
                )
            }
        base = committed["base"]
        # agg_maintain must see the FULL base (min/max recompute reaches any
        # row of an affected GROUP, and a group's rows live in any bucket) —
        # the read is scan-cost; only the WRITE is bucket-restricted
        touched = self.touched_buckets(batch, self.row_pk)
        new_base_touched = apply_changeset(
            self._in_buckets(base, self.row_pk, touched), batch, self.row_pk
        )
        return {
            "state": agg_maintain(
                committed["state"], base, batch, self.keys, self.row_pk, self.value_col
            ),
            "base": BucketPatch(touched, new_base_touched),
        }

    def state(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The agg_state table at a committed ``version`` (None = latest) —
        time travel over the retained version log (see ``versions``)."""
        return self._read(spark, self._resolve(spark, version), "state")

    def result(
        self,
        spark: SparkSession,
        frac_digits: int = 2,
        version: int | None = None,
    ) -> DataFrame:
        return agg_result(self.state(spark, version), frac_digits)

    def topk(
        self,
        spark: SparkSession,
        k: int,
        by: str = "n_rows",
        frac_digits: int = 2,
        version: int | None = None,
    ) -> DataFrame:
        """The classic materialized-view read: top-k groups by ``n_rows`` /
        ``sum_v`` / ``min_v`` / ``max_v`` at a committed version, ranked
        descending with the group keys as the deterministic tie-break.
        Pure finalizer over the group-bounded state — no recompute, no scan
        of history; the rank window is WindowGroupLimit-shaped so only k
        rows survive the final exchange."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        res = self.result(spark, frac_digits, version)
        valid = {"n_rows", "sum_v", "avg_v", "min_v", "max_v"}
        if by not in valid:
            raise ValueError(f"by must be one of {sorted(valid)}, got {by!r}")
        from pyspark.sql.window import Window

        w = Window.orderBy(F.desc(by), *[F.asc(c) for c in self.keys])
        return (
            res.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
        )


class MaterializedJoinView(_VersionedView):
    """Streaming-maintained INNER fact⋈dim join view: the fact side arrives
    as a CDC stream (``changeset()`` rows); the dim side is read from
    ``dim_path`` and DIFFED against the view's own stored dim snapshot every
    batch, so a slowly-changing dim evolves the view incrementally — both
    deltas feed ``maintain_join_view`` (two-sided maintenance, the r8-review
    gap: the batch operator always took a dim delta, the sink used to pin it
    empty and require a frozen dim).  An in-place dim edit is therefore
    PICKED UP, not forbidden — at the next fact micro-batch (the dim diff
    rides the fact stream's trigger), or immediately via ``refresh()``:
    the admin advance that runs the same maintenance with ZERO fact rows,
    so a quiet fact stream over a fast-moving dim never serves stale joins
    (the empty-poll timer path of the reference, Spark-shaped).

    Maintains three tables per version: the view, the fact snapshot (to find
    unchanged fact rows whose dim side changes later and to apply the next
    delta) and the dim snapshot (the diff baseline).  All three are
    HASH-BUCKETED (view/fact by ``a_pk``, dim by ``b_pk``) and each batch
    rewrites only delta-touched buckets; a dim delta's touched view buckets
    come from the fact rows its keys hit (one semi-join over the fact scan —
    read is scan-cost, WRITE stays delta-proportional).  NO full A⋈B re-join,
    ever; per-batch compute is |Δ|-sized joins plus delta-keyed anti/semi
    joins over the view/fact/dim scans, plus the dim-sized diff.
    """

    _KIND = "join"

    def __init__(
        self,
        path: str,
        dim_path: str,
        a_pk: list[str],
        fk: str,
        b_pk: str,
        n_buckets: int = 64,
    ):
        super().__init__(path, n_buckets)
        self.dim_path, self.a_pk, self.fk, self.b_pk = dim_path, list(a_pk), fk, b_pk
        self.tables = ["view", "fact", "dim"]
        self.bucketed = {
            "view": list(a_pk),
            "fact": list(a_pk),
            "dim": [b_pk],
        }

    def _meta(self) -> dict:
        return {
            "kind": self._KIND,
            "n_buckets": self.n_buckets,
            "dim_path": self.dim_path,
            "a_pk": self.a_pk,
            "fk": self.fk,
            "b_pk": self.b_pk,
        }

    @classmethod
    def _from_meta(cls, root: str, meta: dict) -> "MaterializedJoinView":
        return cls(
            root,
            meta["dim_path"],
            a_pk=meta["a_pk"],
            fk=meta["fk"],
            b_pk=meta["b_pk"],
            n_buckets=meta["n_buckets"],
        )

    @property
    def evolve_tables(self) -> list[str]:
        # DEFAULT = the fact-evolution case (stream gains a column): the
        # stream-derived fact rows and the view rows built from them.  When
        # the DIM SOURCE gains a column instead, the next dim diff refuses
        # loudly (stored snapshot lacks the compare column) and the remedy
        # is evolve(add_columns, tables=["dim", "view"]) — snapshot and
        # view extend together, the diff resumes, and the NULL→value
        # transition propagates the live values to every view row
        # (test_evolve_dim_side_recipe).
        return ["fact", "view"]

    def _dim(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.dim_path)

    def _skip_quiet_batch(
        self, spark: SparkSession, last: int, batch: DataFrame
    ) -> bool:
        """Heartbeat batches (zero fact rows — the run_view_sink dim
        heartbeat, or a genuinely empty replayed batch) commit a version
        ONLY when the dim actually changed: an unchanged-world heartbeat
        every interval must not churn the version log.  Cost of the check
        on a quiet heartbeat: one bounded fact-batch probe + the dim-sized
        diff (the price of dim freshness, paid per heartbeat — size the
        heartbeat interval accordingly)."""
        if batch.limit(1).count() > 0:
            return False
        dim_old = self._read(spark, last, "dim")
        delta = changeset(dim_old, self._dim(spark), [self.b_pk])
        return delta.limit(1).count() == 0

    def _read(self, spark: SparkSession, version: int, table: str) -> DataFrame:
        if table == "dim":
            # legacy (r8 two-table) version dirs have no stored dim snapshot
            # — the old sinks required a frozen dim, so the CURRENT dim
            # source IS the baseline: the first post-upgrade batch sees an
            # empty dim delta and simply starts tracking from here (without
            # this, a pre-existing view bricks on a missing-path read;
            # review r9)
            fs, jvm = _fs(spark, self.path)
            if not fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{self.path}/v={version}/dim")
            ):
                return self._dim(spark)
        return super()._read(spark, version, table)

    def _empty_dim_delta(self, dim: DataFrame) -> DataFrame:
        return dim.withColumn("status", F.lit("added")).limit(0)

    def _initial(self, batch: DataFrame) -> dict[str, DataFrame]:
        spark = batch.sparkSession
        dim = self._dim(spark)
        fact = batch.where(F.col("status") != "deleted").drop("status")
        empty_fact = fact.limit(0)
        empty_view = empty_fact.join(dim, empty_fact[self.fk] == dim[self.b_pk]).drop(
            self.b_pk
        )
        view = maintain_join_view(
            empty_view, empty_fact, batch, dim, self._empty_dim_delta(dim),
            self.a_pk, self.fk, self.b_pk,
        )
        return {"view": view, "fact": fact, "dim": dim}

    def _advance(self, committed, batch) -> dict[str, DataFrame | BucketPatch]:
        from kafka_flow_spark.cache import scoped_persist

        spark = batch.sparkSession
        dim_old = committed["dim"]
        # the dim delta: diff the current dim source against the stored
        # snapshot (ONE full-outer key join at dim cardinality); persisted
        # because maintain_join_view + the touched-bucket plan reuse it
        delta_b = scoped_persist(
            changeset(dim_old, self._dim(spark), [self.b_pk])
        )
        fact = committed["fact"]
        touched_fact = self.touched_buckets(batch, self.a_pk)
        # view rows a dim change touches: every fact row whose fk is in the
        # dim delta (view ⊆ fact⋈dim, so this covers dropped, changed AND
        # newly-joining view rows); their a_pk buckets join the rewrite set
        b_keys = delta_b.select(self.b_pk).distinct()
        hit_a = fact.join(
            b_keys.withColumnRenamed(self.b_pk, self.fk), [self.fk], "left_semi"
        )
        touched_view = sorted(
            set(touched_fact) | set(self.touched_buckets(hit_a, self.a_pk))
        )
        # maintenance restricted to the rewrite set: rows outside it are
        # untouched by BOTH deltas (fact delta by bucket construction; dim
        # delta because every hit row's bucket is in the set)
        view_t = self._in_buckets(committed["view"], self.a_pk, touched_view)
        fact_t = self._in_buckets(fact, self.a_pk, touched_view)
        new_view_t = maintain_join_view(
            view_t, fact_t, batch, dim_old, delta_b,
            self.a_pk, self.fk, self.b_pk,
        )
        new_fact_t = apply_changeset(
            self._in_buckets(fact, self.a_pk, touched_fact), batch, self.a_pk
        )
        touched_dim = self.touched_buckets(delta_b, [self.b_pk])
        new_dim_t = apply_changeset(
            self._in_buckets(dim_old, [self.b_pk], touched_dim),
            delta_b,
            [self.b_pk],
        )
        return {
            "view": BucketPatch(touched_view, new_view_t),
            "fact": BucketPatch(touched_fact, new_fact_t),
            "dim": BucketPatch(touched_dim, new_dim_t),
        }

    def view(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The join view at a committed ``version`` (None = latest) — time
        travel over the retained version log (see ``versions``)."""
        return self._read(spark, self._resolve(spark, version), "view")

    def refresh(self, spark: SparkSession) -> int | None:
        """Advance the dim diff with ZERO fact rows — the admin twin of a
        fact micro-batch, for the quiet-fact-stream/fast-moving-dim case
        (the reference runs state transitions on EMPTY polls:
        core/.../ConsumerFlow.scala:103-104 — empty polls still drive
        timers; core/.../Tick.scala:7-31.  Spark's foreachBatch only fires
        on data, so the empty-poll path is an explicit call wired to the
        SAME ``_advance`` + versioned-commit protocol).

        Diffs ``dim_path`` against the stored dim snapshot and, if anything
        changed, commits one new version carrying the head's batch id
        forward — the running stream's replay/refusal logic is untouched
        because it compares batch ids on record, not version numbers, and
        its next micro-batch rolls forward from the refreshed head exactly
        as from a batch-written one (restart-safe: a crash mid-refresh
        leaves an uncommitted torn dir that the next writer overwrites).

        Returns the committed version, or None when the dim is unchanged
        (no version is written — safe to call on a schedule).  Refuses on a
        view with no committed head: there is no fact schema or baseline to
        advance from until the stream's first batch lands.

        Concurrency contract (same as the reference's single-writer fence,
        sinks.py:8-14): run refresh() from the SAME single-writer context
        as the stream's foreachBatch — between micro-batches, not racing
        one.
        """
        last = self.last_committed(spark)
        if last is None:
            raise ValueError(
                f"materialized join view at {self.path} has no committed "
                "version to refresh — the stream's first micro-batch "
                "initializes the view (fact schema + dim baseline)"
            )
        from kafka_flow_spark.cache import mark, release_since, scoped_persist

        pos = mark()
        try:
            dim_old = self._read(spark, last, "dim")
            delta_b = scoped_persist(changeset(dim_old, self._dim(spark), [self.b_pk]))
            if delta_b.limit(1).count() == 0:
                return None  # dim unchanged: nothing to advance, no version
            committed = {t: self._read(spark, last, t) for t in self.tables}
            empty_fact_batch = (
                committed["fact"].limit(0).withColumn("status", F.lit("added"))
            )
            frames = self._advance(committed, empty_fact_batch)
            version = last + 1
            self._write_all(
                spark,
                version,
                frames,
                prev=last,
                batch_id=_read_batch_meta(spark, self.path, last),
                extras=self._carry_extras(spark, last),
            )
            return version
        finally:
            release_since(pos)


class MaterializedCmsView(_VersionedView):
    """Streaming-maintained count-min sketch: the (r, b, cnt) cell table
    (operators/sketches.cms_build) rolled forward per micro-batch by the CMS
    merge law — cells of a union are the CELL-WISE SUM of the parts — so a
    live "how often has this key streamed past, roughly?" probe table stays
    depth x width rows no matter how much history flowed.  The frequency
    sibling of MaterializedSketchView's distinct-count occupancy (both are
    merge-law views: state bounded by construction, never by retention).

    ``probe(spark, keys, col)`` point-queries the committed cells with the
    one-sided >=-truth estimator (operators/sketches.cms_probe — the same
    cell addressing by construction).
    """

    _KIND = "cms"

    def __init__(self, path: str, value_col: str, depth: int = 4, width: int = 1024):
        super().__init__(path)
        self.value_col, self.depth, self.width = value_col, depth, width
        self.tables = ["cells"]

    def _meta(self) -> dict:
        return {
            "kind": self._KIND,
            "n_buckets": self.n_buckets,
            "value_col": self.value_col,
            "depth": self.depth,
            "width": self.width,
        }

    @classmethod
    def _from_meta(cls, root: str, meta: dict) -> "MaterializedCmsView":
        v = cls(root, meta["value_col"], depth=meta["depth"], width=meta["width"])
        v.n_buckets = meta["n_buckets"]
        return v

    def _cells(self, batch: DataFrame) -> DataFrame:
        from kafka_flow_spark.operators.sketches import cms_build

        return cms_build(batch, self.value_col, self.depth, self.width)

    def _initial(self, batch: DataFrame) -> dict[str, DataFrame]:
        return {"cells": self._cells(batch)}

    def _advance(self, committed, batch) -> dict[str, DataFrame]:
        merged = (
            committed["cells"]
            .unionByName(self._cells(batch))
            .groupBy("r", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
        return {"cells": merged}

    def cells(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return self._read(spark, self._resolve(spark, version), "cells")

    def probe(
        self,
        spark: SparkSession,
        keys: DataFrame,
        col: str,
        version: int | None = None,
    ) -> DataFrame:
        from kafka_flow_spark.operators.sketches import cms_probe

        return cms_probe(
            self.cells(spark, version), keys, col, self.depth, self.width
        )


def with_dim_heartbeat(stream: DataFrame, rows_per_second: int = 1) -> DataFrame:
    """Union a rate-source heartbeat (mapped to the stream's schema and
    filtered to ZERO rows) into a streaming DataFrame: the micro-batch
    planner triggers on SOURCE offsets, so every interval a batch fires
    even when the real source is quiet — the foreachBatch sink then runs
    its dim diff with zero fact rows, exactly the reference's empty-poll
    timer tick (core/.../ConsumerFlow.scala:103-104: empty polls still
    drive state transitions; Tick.scala:7-31) rebuilt on Spark's trigger
    machinery.  Paired with ``_skip_quiet_batch`` so an unchanged world
    commits nothing.

    Checkpoint caveat: adding a source changes the query's source list —
    enable the heartbeat from the stream's FIRST run (or start a fresh
    checkpoint), as with any Structured Streaming source change."""
    if rows_per_second < 1:
        raise ValueError(f"rows_per_second must be >= 1, got {rows_per_second}")
    spark = stream.sparkSession
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    empty = rate.select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in stream.schema.fields]
    ).where(F.lit(False))
    return stream.unionByName(empty)


def _validate_cascade(
    sink: _VersionedView, cascade: "list[ViewSubscription] | None"
) -> "list[ViewSubscription]":
    """Topological-order validation, run BEFORE the stream starts: a hop
    whose upstream is neither the primary sink nor an earlier entry's
    downstream would silently lag one invocation behind (or follow a root
    this loop never advances at all)."""
    casc = list(cascade or [])
    known = {sink.path}
    for i, sub in enumerate(casc):
        if not isinstance(sub, ViewSubscription):
            raise ValueError(
                f"cascade[{i}] must be a ViewSubscription, got "
                f"{type(sub).__name__}"
            )
        if sub.upstream.path not in known:
            raise ValueError(
                f"cascade[{i}] follows {sub.upstream.path!r}, which is "
                "neither the primary sink's root nor an earlier cascade "
                "entry's downstream — list subscriptions in topological "
                "order from the sink outward"
            )
        known.add(sub.downstream.path)
    return casc


def cascading_sink(
    sink: _VersionedView, cascade: "list[ViewSubscription]"
):
    """The in-loop cascade wrapper ``run_view_sink`` installs for continuous
    triggers: after the primary sink's commit, every subscription advances
    in topological order INSIDE the same foreachBatch turn — the engine
    only acknowledges the batch once the whole DAG has committed, so a
    crash anywhere replays the batch, the primary sink skips the replay
    (batch id on record) and each hop resumes from its committed cursor."""
    casc = _validate_cascade(sink, cascade)

    def fb(batch: DataFrame, batch_id: int) -> None:
        sink(batch, batch_id)
        for sub in casc:
            sub.advance(batch.sparkSession)

    return fb


def run_view_sink(
    stream: DataFrame,
    sink: _VersionedView,
    checkpoint: str,
    available_now: bool = True,
    refresh_dim: bool = False,
    dim_heartbeat_rps: int | None = None,
    cascade: "list[ViewSubscription] | None" = None,
) -> StreamingQuery:
    """Drive a CDC/append stream into a materialized-view sink through
    ``streaming.flow.run_query`` — with ``available_now=True`` (the
    scheduled-run shape) to backlog exhaustion and stop; with
    ``available_now=False`` as a long-running query on the 200 ms trigger,
    which is returned for the caller to stop or supervise.  Restartable:
    the checkpoint replays the last in-flight batch, the versioned commit
    makes the replay idempotent.

    ``cascade=[ViewSubscription, ...]`` drives DOWNSTREAM views IN-LOOP —
    the reference's consumer fan-out (``TopicFlow.apply`` routes each poll
    to every registered consumer and commits in one place,
    core/.../TopicFlow.scala:84-104): one invocation advances the whole
    multi-hop DAG to truth instead of the caller scheduling N ``follow()``
    calls in topological order themselves.  Subscriptions must be listed in
    topological order (each upstream is the primary sink or an EARLIER
    entry's downstream — validated up front); fan-out (two subscriptions
    off one upstream) is fine.  Per trigger mode:

    - ``available_now=True``: the cascade advances once AFTER the drain
      (and after the optional post-drain dim refresh, so a dim-only version
      propagates too) — the scheduled-run shape.
    - ``available_now=False``: the cascade advances after EVERY committed
      micro-batch, inside the same foreachBatch single-writer turn —
      heartbeat batches included, so a dim-heartbeat version propagates
      downstream within the same trigger interval.

    Exactly-once under crashes needs no new machinery: a crash mid-cascade
    fails the batch, the stream replays it, the primary sink skips the
    replay (batch id on record) and each subscription resumes from its
    committed cursor — the existing protocols compose
    (test_cascade_crash_mid_hop_recovers_exactly_once).

    ``refresh_dim=True`` (join-view sinks) keeps the dim fresh without fact
    traffic, per trigger mode:

    - ``available_now=True``: runs ``sink.refresh()`` AFTER the drain — a
      dim-only change is picked up in the same invocation even when the
      fact backlog was empty, single-writer safe because the stream has
      stopped before the refresh commits.
    - ``available_now=False`` (long-lived continuous stream): no refresh
      runs when the returned query stops — without fact traffic the dims
      would stay stale for the run's lifetime, so this combination REFUSES
      unless ``dim_heartbeat_rps`` is set (review r10): the heartbeat unions a
      rate source into the stream (``with_dim_heartbeat``) so a micro-batch
      fires every interval even on a quiet fact source; the sink's own
      per-batch dim diff then picks the change up IN-LOOP (same
      single-writer foreachBatch — no out-of-band writer), and
      ``_skip_quiet_batch`` keeps unchanged-world heartbeats from churning
      versions.  Dim freshness bound: ~the trigger interval.

    No-op when the dim is unchanged or the view has no committed head yet."""
    if refresh_dim and not hasattr(sink, "refresh"):
        # validate BEFORE starting the stream: a post-drain failure would
        # leave work applied under a flag the caller got wrong
        raise ValueError(
            f"refresh_dim=True needs a sink with refresh() — "
            f"{type(sink).__name__} has none"
        )
    if refresh_dim and not available_now and dim_heartbeat_rps is None:
        raise ValueError(
            "refresh_dim=True with a continuous trigger would leave the dim "
            "stale on a quiet fact source for the query's lifetime (no "
            "refresh runs at stop) — pass dim_heartbeat_rps=N for in-loop "
            "dim freshness (a heartbeat batch every ~1/N s runs the dim diff "
            "with zero fact rows), or use available_now=True scheduled runs"
        )
    if dim_heartbeat_rps is not None:
        # validate BEFORE starting the stream, like refresh_dim above
        if available_now:
            raise ValueError(
                "dim_heartbeat_rps only applies to continuous triggers — "
                "with available_now=True it would be silently ignored (the "
                "post-drain refresh() already covers dim freshness there); "
                "drop the flag, or pass available_now=False"
            )
        if not refresh_dim:
            raise ValueError(
                "dim_heartbeat_rps without refresh_dim=True would fire "
                "heartbeat batches into a sink with no dim to refresh — "
                "only the join view's quiet-batch skip keeps unchanged-"
                "world heartbeats from committing a version per trigger "
                "interval; pass refresh_dim=True on a join-view sink, or "
                "drop the flag"
            )
        stream = with_dim_heartbeat(stream, dim_heartbeat_rps)
    casc = _validate_cascade(sink, cascade)
    fb = cascading_sink(sink, cascade) if casc and not available_now else sink
    q = run_query(
        stream,
        stream.writeStream.foreachBatch(fb).outputMode("update"),
        checkpoint,
        long_running=not available_now,
    )
    if not available_now:
        return q
    if refresh_dim and sink.last_committed(stream.sparkSession) is not None:
        sink.refresh(stream.sparkSession)
    for sub in casc:
        sub.advance(stream.sparkSession)
    return q


class MaterializedSketchView(_VersionedView):
    """Streaming-maintained approximate-distinct sketch: the linear-counting
    occupancy set (operators/sketches.linear_counting_sketch) rolled forward
    per micro-batch by its own merge law — sketch(A ∪ B) = distinct-union of
    sketches — so a live "distinct users per group, so far" stays one
    |groups|·m-cardinality table no matter how much history streamed past.
    The third view shape next to the aggregate and join views, and the one
    whose state can NEVER grow with the data (the agg view's state is
    group-cardinality; this one is capped at groups·m rows by construction).

    ``result(spark)`` finalizes to (group…, occupied, est_e6) via
    ``linear_counting_estimate`` — value-exact for any replayed prefix of
    the stream (same FLOOR-e6 contract as q_approx_distinct_linear).
    """

    _KIND = "sketch"

    def __init__(self, path: str, group_cols: list[str], value_col: str, m: int = 4096):
        super().__init__(path)
        self.group_cols, self.value_col, self.m = list(group_cols), value_col, m
        self.tables = ["sketch"]

    def _meta(self) -> dict:
        return {
            "kind": self._KIND,
            "n_buckets": self.n_buckets,
            "group_cols": self.group_cols,
            "value_col": self.value_col,
            "m": self.m,
        }

    @classmethod
    def _from_meta(cls, root: str, meta: dict) -> "MaterializedSketchView":
        v = cls(root, meta["group_cols"], meta["value_col"], m=meta["m"])
        v.n_buckets = meta["n_buckets"]
        return v

    def _sketch(self, batch: DataFrame) -> DataFrame:
        from kafka_flow_spark.operators.sketches import linear_counting_sketch

        return linear_counting_sketch(batch, self.group_cols, self.value_col, self.m)

    def _initial(self, batch: DataFrame) -> dict[str, DataFrame]:
        return {"sketch": self._sketch(batch)}

    def _advance(self, committed, batch) -> dict[str, DataFrame]:
        return {
            "sketch": committed["sketch"]
            .unionByName(self._sketch(batch))
            .distinct()
        }

    def sketch(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return self._read(spark, self._resolve(spark, version), "sketch")

    def result(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        from kafka_flow_spark.operators.sketches import linear_counting_estimate

        return linear_counting_estimate(
            self.sketch(spark, version), self.group_cols, self.m
        )


_KINDS: dict[str, type] = {}


def _register_kinds() -> dict[str, type]:
    if not _KINDS:
        _KINDS.update(
            {
                MaterializedAggView._KIND: MaterializedAggView,
                MaterializedJoinView._KIND: MaterializedJoinView,
                MaterializedCmsView._KIND: MaterializedCmsView,
                MaterializedSketchView._KIND: MaterializedSketchView,
            }
        )
    return _KINDS


def open_view(spark: SparkSession, root: str) -> _VersionedView:
    """Reconstruct the REAL sink for an existing view root from its
    ``_VIEW_META.json`` — the self-describing entry point admin ops and
    subscriptions use so nothing trusts caller-supplied bucketing flags
    (review r10: a wrong ``--pk`` on a CDF read produced a wrong changeset
    silently; a partial rebucket handle could lose tables).  Refuses on a
    root with no meta: legacy roots are adopted by their owning sink's next
    commit (every ``_write_all`` syncs the meta), or by constructing the
    documented sink class directly."""
    meta = read_view_meta(spark, root)
    if meta is None:
        raise ValueError(
            f"no {_VIEW_META} under {root} — the root predates self-"
            "describing metadata (any commit by the owning sink writes it) "
            "or is not a materialized-view root; construct the concrete "
            "sink class with its documented arguments instead"
        )
    kinds = _register_kinds()
    kind = meta.get("kind")
    if kind not in kinds:
        raise ValueError(f"unknown view kind {kind!r} at {root} (have {sorted(kinds)})")
    return kinds[kind]._from_meta(root, meta)


class ViewSubscription:
    """The restart-safe subscription primitive for VIEW CASCADES: maintain a
    ``downstream`` sink purely from an ``upstream`` view's CDF reads
    (``changes_between``), with the upstream cursor committed INSIDE the
    downstream's own versioned commit — each hop is exactly-once with zero
    orchestration code (the r10 cascade golden drove the cursor by hand;
    every consumer re-implemented cursor management).

    Mechanism, mirroring the reference's read-log-to-recorded-position
    recovery (persistence-kafka/.../KafkaPartitionPersistence.scala:124-210
    — recover by reading the journal from the snapshot's recorded offset):

    - the downstream's committed head records the upstream version it has
      applied, in a ``_CURSOR_META.json`` sidecar written BEFORE the commit
      marker (atomic with the version: a torn advance leaves an uncommitted
      dir whose cursor is invisible);
    - ``advance()`` reads the cursor off the committed head, CDF-reads
      ``upstream.changes_between(cursor, up_head)`` (bucket-pointer-bounded
      — cost ∝ touched buckets, never |table|), feeds it through the
      downstream's normal ``_advance``, and commits the new cursor with the
      new version;
    - a crash anywhere re-runs from the committed cursor: nothing is lost
      (the cursor only moves inside a commit) and nothing double-applies
      (the torn version has no marker and is overwritten).

    First ``advance()`` on an empty downstream initializes it from the
    upstream head SNAPSHOT (status='added' changeset — the bootstrap the
    golden used to hand-roll).  Scale shape per hop: one bucket-bounded CDF
    read + the downstream's own delta-proportional maintenance.  Run from
    the downstream's single-writer context; the downstream must not also be
    stream-fed."""

    def __init__(
        self,
        upstream: _VersionedView,
        downstream: _VersionedView,
        table: str | None = None,
    ):
        self.upstream, self.downstream, self.table = upstream, downstream, table

    def cursor(self, spark: SparkSession) -> int | None:
        """The upstream version the downstream's committed head has applied
        (None: downstream uninitialized)."""
        head = self.downstream.last_committed(spark)
        if head is None:
            return None
        meta = _read_json_file(
            spark, f"{self.downstream.path}/v={head}/{_CURSOR_META}"
        )
        if meta is None:
            raise ValueError(
                f"downstream view at {self.downstream.path} has a committed "
                "head with no subscription cursor — it was not maintained "
                "by ViewSubscription (mixing writers breaks exactly-once); "
                "start the subscription on a fresh downstream root"
            )
        if meta.get("upstream_root") != self.upstream.path:
            raise ValueError(
                f"downstream at {self.downstream.path} follows "
                f"{meta.get('upstream_root')!r}, not {self.upstream.path!r} "
                "— one subscription per downstream root"
            )
        return int(meta["upstream_version"])

    def advance(self, spark: SparkSession) -> int | None:
        """Apply everything the upstream committed since the cursor; commit
        ONE downstream version recording the new cursor.  Returns the
        committed downstream version, or None when already caught up (safe
        on a schedule).  Upstream versions between cursor and head are
        COALESCED into one CDF read (changes_between spans versions), so a
        lagging subscriber catches up in one delta-proportional hop."""
        up_head = self.upstream.last_committed(spark)
        if up_head is None:
            return None  # upstream not initialized yet: nothing to follow
        cur = self.cursor(spark)
        if cur is not None and cur == up_head:
            return None  # caught up
        if cur is not None and cur > up_head:
            raise ValueError(
                f"subscription cursor {cur} is AHEAD of upstream head "
                f"{up_head} at {self.upstream.path} — the upstream was "
                "rebuilt or rolled back; rebuild the downstream too"
            )
        from kafka_flow_spark.cache import mark, release_since, scoped_persist

        down = self.downstream
        pos = mark()
        try:
            if cur is None:
                table = self.table
                if table is None:
                    if len(self.upstream.bucketed) == 1:
                        table = next(iter(self.upstream.bucketed))
                    elif "view" in self.upstream.bucketed:
                        table = "view"
                    else:
                        raise ValueError(
                            "ambiguous upstream table — pass table= "
                            f"(one of {sorted(self.upstream.bucketed)})"
                        )
                snapshot = self.upstream._read(spark, up_head, table)
                batch = snapshot.withColumn("status", F.lit("added"))
                frames = down._initial(batch)
                version, prev, bid = 0, None, 0
            else:
                # persisted: the CDF read is a full-outer key join over the
                # differing buckets, and the downstream's _advance consumes
                # the changeset several times (touched-bucket planning,
                # retraction, recompute, apply) — recomputing it per
                # consumer turned a delta advance into N changeset joins.
                # Measured on a 2M-row upstream, 200-row delta: 14.6 →
                # 9.6 s, on par with the direct sink's own delta advance
                # (9.0 s) — the remainder is the downstream's documented
                # scan-cost maintain read, not the subscription.
                ch = scoped_persist(
                    self.upstream.changes_between(
                        spark, cur, up_head, table=self.table
                    )
                )
                prev = down.last_committed(spark)
                committed = {t: down._read(spark, prev, t) for t in down.tables}
                frames = down._advance(committed, ch)
                version = prev + 1
                bid = _read_batch_meta(spark, down.path, prev)
            down._write_all(
                spark,
                version,
                frames,
                prev=prev,
                batch_id=bid,
                extras={
                    _CURSOR_META: {
                        "upstream_version": up_head,
                        "upstream_root": self.upstream.path,
                    }
                },
            )
            return version
        finally:
            release_since(pos)


def follow(
    spark: SparkSession,
    upstream_root: str,
    downstream: _VersionedView,
    table: str | None = None,
) -> int | None:
    """One-call subscription advance: open the upstream by root (its
    ``_VIEW_META.json``), CDF-read since the downstream's recorded cursor,
    commit one downstream version carrying the new cursor.  Returns the
    committed version or None when caught up — idempotent, restart-safe,
    schedule-friendly (the cron shape: ``follow(spark, up_root, down)``
    after every upstream drain)."""
    return ViewSubscription(open_view(spark, upstream_root), downstream, table).advance(
        spark
    )


def _follower_cursor_meta(spark: SparkSession, root: str) -> dict | None:
    """The ``_CURSOR_META.json`` off ``root``'s committed head — None when
    the root has no head or its head carries no cursor (not
    subscription-managed)."""
    vs = _committed_versions(spark, root)
    if not vs:
        return None
    return _read_json_file(spark, f"{root}/v={vs[-1]}/{_CURSOR_META}")


def follow_all(
    spark: SparkSession, roots: list[str], table: str | None = None
) -> dict[str, int | None]:
    """Advance EVERY subscription-managed downstream root in ``roots`` in
    topological order — the cron shape of ``run_view_sink``'s in-loop
    ``cascade``: each root's upstream is read off its own committed head's
    ``_CURSOR_META`` (the on-disk truth, never caller flags), edges among
    the given roots are topologically sorted, and each hop advances via the
    normal exactly-once subscription protocol.  Returns {root: committed
    version or None (caught up)}.

    Refuses a root with no committed head or no cursor (bootstrap a new
    downstream once with ``follow(spark, upstream_root, sink)`` — its
    upstream is unknowable from an empty directory) and a cycle among the
    given roots (a subscription DAG cannot contain one; a cycle means the
    cursors were hand-edited)."""
    ups: dict[str, str] = {}
    for root in roots:
        meta = _follower_cursor_meta(spark, root)
        if meta is None:
            raise ValueError(
                f"{root} has no committed head with a subscription cursor — "
                "bootstrap it once with follow(spark, upstream_root, sink) "
                "(an empty root does not record which upstream it follows)"
            )
        ups[root] = meta["upstream_root"]
    ordered: list[str] = []
    seen: set[str] = set()

    def visit(root: str, path: tuple[str, ...]) -> None:
        if root in seen:
            return
        if root in path:
            raise ValueError(
                f"cycle among subscription roots: {' -> '.join(path + (root,))}"
            )
        up = ups.get(root)
        if up in ups:
            visit(up, path + (root,))
        seen.add(root)
        ordered.append(root)

    for root in roots:
        visit(root, ())
    out: dict[str, int | None] = {}
    for root in ordered:
        out[root] = follow(spark, ups[root], open_view(spark, root), table)
    return out


def view_status(
    spark: SparkSession, root: str, downstreams: list[str] | None = None
) -> dict:
    """Cascade-health introspection for a view root — the store's analog of
    the reference's registry introspection (#39,
    core/.../EntityRegistry.scala:23-121 exposes the live entities;
    a 100 TB view's operators need the same visibility over versions and
    followers before they vacuum):

    - ``head`` / ``head_batch_id`` / ``committed``: the version log;
    - ``kind`` / ``n_buckets``: the head's authoritative meta (None legacy);
    - per downstream root in ``downstreams``: its recorded cursor, whether
      it follows THIS root, and ``versions_behind`` (committed upstream
      versions after the cursor — 3 versions behind reports 3);
    - ``min_follower_cursor`` / ``droppable_before``: the oldest upstream
      version some follower still needs — ``vacuum`` must keep at least
      back to it or a lagging follower's next CDF read refuses; versions
      OLDER than it are safe to drop (subject to vacuum's own manifest
      closure, which it computes itself).
    """
    committed = _committed_versions(spark, root)
    head = committed[-1] if committed else None
    meta = read_view_meta(spark, root)
    out = {
        "root": root,
        "head": head,
        "head_batch_id": (
            _read_batch_meta(spark, root, head) if head is not None else None
        ),
        "committed": committed,
        "kind": None if meta is None else meta.get("kind"),
        "n_buckets": None if meta is None else meta.get("n_buckets"),
        "followers": [],
    }
    cursors = []
    for d in downstreams or []:
        cmeta = _follower_cursor_meta(spark, d)
        follows_this = cmeta is not None and cmeta.get("upstream_root") == root
        cur = int(cmeta["upstream_version"]) if follows_this else None
        behind = (
            sum(1 for v in committed if cur < v) if cur is not None else None
        )
        out["followers"].append(
            {
                "root": d,
                "follows_this_root": follows_this,
                "cursor": cur,
                "versions_behind": behind,
            }
        )
        if cur is not None:
            cursors.append(cur)
    out["min_follower_cursor"] = min(cursors) if cursors else None
    out["droppable_before"] = min(cursors) if cursors else None
    return out
