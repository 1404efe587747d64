"""Custom Python DataSource (Spark 4 DSv2-Python API): the reference's
synthetic locations generator (cmd/gen_file/main.go, O13) as a true
pluggable SOURCE — ``spark.read.format("locations_gen")`` — instead of a
DataFrame helper.

Why this exists alongside io/generator.py (the spark.range form): the
DataSource API is the engine's extension point for sources Spark has no
built-in reader for (internal services, proprietary formats, synthetic
feeds). Implementing the generator through it exercises the full
contract — name/schema/reader registration, PLANNED PARTITIONS (each
``InputPartition`` carries an id range, so parallelism is the planner's
choice, not the data's), and Arrow-batch emission from ``read`` so rows
cross the Python→JVM boundary columnar, not row-at-a-time.

Determinism contract shared with io/generator.py: every field is a pure
function of (seed, field, id) through md5, so the SAME (n_rows, seed)
yields byte-identical tables from either implementation at any
partitioning — asserted in tests/test_reference_core.py. That also keeps
this source oracle-checkable by the same DuckDB SQL as gen_locations.

Scale: partitions are independent id ranges (no shared RNG state — the
reference's per-worker ``rand`` seeding, main.go:49-50, made parallel
determinism impossible); a 10^9-row synthetic feed is just more
partitions. Batches are built with pyarrow in ROWS_PER_BATCH chunks to
bound per-task memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from .generator import BUSINESSES, COUNTRIES, LOCNAMES, TIMEZONES

SCHEMA = (
    "locid string, loctimezone string, country string, "
    "locname string, business string"
)
ROWS_PER_BATCH = 30_000  # the reference generator's batch size (main.go:17)


class _IdRange(InputPartition):
    def __init__(self, start: int, end: int, seed: int):
        self.start = start
        self.end = end
        self.seed = seed


def _h60(field: str, idx: int, seed: int) -> int:
    """Python twin of generator._h60: first 15 md5 hex chars as int —
    identical draws to the JVM expression form (and DuckDB's)."""
    s = f"{seed}:{field}:{idx}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _row(idx: int, seed: int) -> tuple[str, str, str, str, str]:
    def pick(field: str, domain: tuple[str, ...]) -> str:
        return domain[_h60(field, idx, seed) % len(domain)]

    def suffixed(field: str, domain: tuple[str, ...]) -> str:
        return (
            f"{pick(field, domain)}_"
            f"{_h60(field + '_n', idx, seed) % 1000}"
        )

    return (
        f"LOC{idx:012d}",
        pick("tz", TIMEZONES),
        pick("country", COUNTRIES),
        suffixed("locname", LOCNAMES),
        suffixed("business", BUSINESSES),
    )


class LocationsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("rows", 1_000_000))
        self.seed = int(options.get("seed", 0))
        self.num_partitions = int(options.get("numpartitions", 8))

    def partitions(self) -> list[InputPartition]:
        if self.n_rows <= 0:
            # one empty range — an empty dataset, not a planning crash
            return [_IdRange(1, 1, self.seed)]
        per = -(-self.n_rows // self.num_partitions)
        return [
            _IdRange(lo, min(lo + per, self.n_rows + 1), self.seed)
            for lo in range(1, self.n_rows + 1, per)
        ]

    def read(self, partition: _IdRange) -> Iterator:
        import pyarrow as pa

        for lo in range(partition.start, partition.end, ROWS_PER_BATCH):
            hi = min(lo + ROWS_PER_BATCH, partition.end)
            rows = [_row(i, partition.seed) for i in range(lo, hi)]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[c] for r in rows]) for c in range(5)],
                names=[
                    "locid", "loctimezone", "country", "locname", "business",
                ],
            )


class LocationsDataSource(DataSource):
    """``spark.dataSource.register(LocationsDataSource)`` then
    ``spark.read.format("locations_gen").option("rows", n).load()``."""

    @classmethod
    def name(cls) -> str:
        return "locations_gen"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> LocationsReader:
        return LocationsReader(self.options)


# ---------------------------------------------------------------------------
# Streaming Python DataSource — a deterministic synthetic event feed
# through the SimpleDataSourceStreamReader contract.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double"
)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z — fixed, deterministic


def _event_row(i: int, seed: int, n_users: int):
    import datetime

    # timezone-AWARE UTC: a naive datetime would be reinterpreted in the
    # session timezone, so a restart under a different TZ would replay
    # committed offset ranges with shifted instants — breaking the
    # bit-identical-replay contract below
    return (
        i,
        datetime.datetime.fromtimestamp(
            _BASE_EPOCH + i, tz=datetime.timezone.utc
        ),
        _h60("user", i, seed) % n_users,
        EVENT_TYPES[_h60("type", i, seed) % len(EVENT_TYPES)],
        (_h60("value", i, seed) % 10_000) / 100.0,
        )


class EventsStreamReader(SimpleDataSourceStreamReader):
    """Offset = one monotonically increasing row index. ``read`` emits
    the next ``rows_per_batch`` rows; ``readBetweenOffsets`` regenerates
    any committed range bit-identically (every row is a pure function of
    (seed, index)), which is what makes the source exactly-once
    replayable after a failure — the whole point of the offset contract.
    """

    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rowsperbatch", 100))
        self.seed = int(options.get("seed", 0))
        self.n_users = int(options.get("nusers", 10))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        lo = start["idx"]
        hi = lo + self.rows_per_batch
        return (
            iter(
                [
                    _event_row(i, self.seed, self.n_users)
                    for i in range(lo, hi)
                ]
            ),
            {"idx": hi},
        )

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [
                _event_row(i, self.seed, self.n_users)
                for i in range(start["idx"], end["idx"])
            ]
        )


class EventsStreamDataSource(DataSource):
    """``spark.dataSource.register(EventsStreamDataSource)`` then
    ``spark.readStream.format("events_gen").load()`` — the synthetic
    analog of a message-bus source (Kafka-shaped: offset-tracked,
    replayable, schema-stable), for exercising streaming operators
    without external infrastructure."""

    @classmethod
    def name(cls) -> str:
        return "events_gen"

    def schema(self) -> str:
        return EVENTS_SCHEMA

    def simpleStreamReader(self, schema) -> EventsStreamReader:
        return EventsStreamReader(self.options)


# ---------------------------------------------------------------------------
# Python DataSource WRITER — the sink-side extension point, with the
# task-commit / driver-commit protocol made visible.
# ---------------------------------------------------------------------------


@dataclass
class ShardCommit(WriterCommitMessage):
    shard: str
    n_rows: int


class JsonlShardWriter(DataSourceWriter):
    """Each task writes ONE gzip JSONL shard named by (task partition,
    uuid) and returns a ShardCommit; the DRIVER, only after every task
    succeeds, writes _MANIFEST.json listing the committed shards + row
    counts. Readers that honor the manifest never see a partially
    written dataset — the same two-phase contract parquet jobs get from
    the Hadoop output committer, here made explicit in ~30 lines.

    This mirrors the reference's at-least-once ingest semantics
    (internal/db/db.go:74 commits per-chunk with no wrapping txn): task
    shards may exist from failed attempts, but only manifest-listed
    shards are the dataset.
    """

    def __init__(self, options: dict, overwrite: bool):
        import glob
        import os

        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shard writer requires path option")
        if overwrite and os.path.isdir(self.path):
            # honor mode('overwrite') at the FILE level too: stale
            # shards from a previous dataset must not survive for
            # glob-based readers, manifest-honoring or not
            for p in glob.glob(os.path.join(self.path, "part-*.jsonl.gz")):
                os.remove(p)
            m = os.path.join(self.path, "_MANIFEST.json")
            if os.path.exists(m):
                os.remove(m)

    def write(self, iterator):
        import gzip
        import json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        shard = f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl.gz"
        n = 0
        with gzip.open(os.path.join(self.path, shard), "wt") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return ShardCommit(shard=shard, n_rows=n)

    def commit(self, messages):
        import json
        import os

        manifest = {
            "shards": sorted(
                (
                    {"shard": m.shard, "n_rows": m.n_rows}
                    for m in messages
                    if m is not None
                ),
                key=lambda s: s["shard"],
            ),
            "total_rows": sum(m.n_rows for m in messages if m is not None),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=1)

    def abort(self, messages):
        # leave shards for forensics; absence of _MANIFEST.json is what
        # marks the dataset uncommitted
        pass


class JsonlShardDataSource(DataSource):
    """``df.write.format("jsonl_shard").option("path", dir).save()`` —
    O8's JSONL wire format as a custom sink with an explicit manifest."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_shard"

    def schema(self) -> str:  # pragma: no cover — writer-only source
        return "value string"

    def writer(self, schema, overwrite: bool) -> JsonlShardWriter:
        return JsonlShardWriter(self.options, overwrite)


# ---------------------------------------------------------------------------
# Python DataSource STREAM over the versioned table — the table
# changefeed (Delta's "streaming source on a table"): snapshot versions
# are the offsets, so a stream tails commits exactly-once.
# ---------------------------------------------------------------------------


def _branch_meta_root(path: str, branch: str | None) -> str | None:
    """Manifest root for a named branch (None = main). Validates the
    branch exists so a typo fails with the live-branch list instead of
    a bare missing-manifest error."""
    if not branch:
        return None
    import os

    from .versioned import VersionedTable, _check_ref_name

    _check_ref_name(branch)
    root = os.path.join(path, "_refs", "branches", branch)
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"no such branch {branch!r} at {path} (live branches: "
            f"{VersionedTable(path).branches()})"
        )
    return root


def _append_like_mode(mode: str, v: int) -> bool:
    """The changefeed's append-only classification — ONE predicate so
    the plain feed, the CDF feed, and the batch table_changes can
    never drift. Metadata-only evolution commits add no groups and
    retract nothing — they pass by construction. A branch's v0 is a
    metadata COPY of the fork manifest (its 'added' is []). A
    write-audit-publish fast-forward that only ADDED data is committed
    as publish_branch:<name> (publish_branch verifies: every fork
    group retained, no new delete entries); a publish that rewrote or
    deleted is committed as publish_branch_rewrite:<name> and is NOT
    append-like, exactly like any overwrite."""
    return (
        mode == "append"
        or (mode == "overwrite" and v == 0)
        or mode.startswith(
            ("rename_column:", "drop_column:", "widen_column:")
        )
        or mode.startswith("branch_fork:")
        or mode.startswith("publish_branch:")
    )


def _cdf_diff_arrow(
    path: str,
    meta_root: str | None,
    v: int,
    key_cols: list[str],
    declared,
    fallback_colmap: dict | None = None,
):
    """Row-level change-data-feed delta of snapshot ``v`` vs ``v-1``
    as ONE Arrow table — the stream-side twin of the batch
    ``snapshot_diff`` (io/versioned.py), computed with pyarrow/pandas
    in the reader's executor task because stream readers have no
    SparkSession. Same manifest-aware skip: groups present in both
    snapshots contribute identical rows to both sides and are never
    read, so a pruned MERGE/DELETE diff costs O(its delta), not
    O(table).

    Output columns: the pinned table fields + ``_change_type``
    ('insert' | 'delete' | 'update_preimage' | 'update_postimage') +
    ``_commit_version`` — Delta's CDF row shape. Both sides align BY
    NAME to the pinned schema through their own manifests' column
    maps.

    Contract (inherited from snapshot_diff): snapshots must be
    key-unique on ``key_cols`` (merge/apply_changes-maintained
    tables); merge-on-read delete entries are not explainable
    read-side here — compact them away or consume the batch
    ``table_changes_rows``."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_type

    from .versioned import VersionedTable

    t = VersionedTable(path, _meta_root=meta_root)
    try:
        # the parent manifest can expire between the planner's check
        # of v and this (possibly executor-side) load — surface the
        # same vacuum remedy the callers raise for v itself, not a
        # bare FileNotFoundError from a task
        ma, mb = t._load_manifest(v - 1), t._load_manifest(v)
    except FileNotFoundError as e:
        raise ValueError(
            f"snapshot {v - 1} or {v} has been expired by vacuum() "
            f"({e}); restart the stream from a fresh checkpoint with "
            "startingversion=latest (or a retained version)"
        ) from None
    for m, lbl in ((ma, v - 1), (mb, v)):
        if m.get("delete_entries"):
            raise ValueError(
                f"snapshot {lbl} carries merge-on-read delete entries; "
                "readchangedata computes row diffs from data files "
                "only — compact() the table (rewriting the entries "
                "away) or consume the batch table_changes_rows / "
                "snapshot_diff API"
            )
    names = [f.name for f in declared.fields]
    missing = [k for k in key_cols if k not in names]
    if missing:
        raise ValueError(
            f"key column(s) {missing} not in the table schema {names}"
        )
    pay = [c for c in names if c not in key_cols]
    shared = set(ma["groups"]) & set(mb["groups"])

    def side(m) -> "pd.DataFrame":
        colmap = m.get("colmap") or {}
        tables = []
        for g in m["groups"]:
            if g in shared:
                continue
            # the reader's pinned ranged union wins where it covers
            # the group (r13): it synthesizes and rename-FOLDS routing
            # to the PINNED names, while a manifest's own entry maps
            # to its own era's names — stale when a later rename sits
            # between this version and the pin. Own routing remains
            # the backstop for groups committed after the stream
            # pinned (the union cannot know them); the union also
            # covers a rollback-restored manifest whose OLD colmap
            # state predates a rename.
            mapping = (fallback_colmap or {}).get(g) or colmap.get(g)
            d = os.path.join(path, g)
            for fname in sorted(os.listdir(d)):
                if fname.endswith(".parquet"):
                    tables.append(
                        _arrow_align(
                            pq.read_table(os.path.join(d, fname)),
                            declared,
                            mapping,
                        )
                    )
        if not tables:
            empty = pa.table(
                {
                    f.name: pa.array([], type=to_arrow_type(f.dataType))
                    for f in declared.fields
                }
            )
            tables = [empty]
        # arrow-backed dtypes keep ints ints (the numpy path upcasts
        # nullable int64 to float64, silently corrupting keys past
        # 2^53 on the way back)
        return pa.concat_tables(tables).to_pandas(
            types_mapper=pd.ArrowDtype
        )

    a, b = side(ma), side(mb)
    for df, lbl in ((a, v - 1), (b, v)):
        if len(df) and df.duplicated(subset=key_cols).any():
            raise ValueError(
                f"snapshot {lbl} has duplicate keys on {key_cols}; "
                "readchangedata requires key-unique snapshots "
                "(merge/apply_changes-maintained tables)"
            )
    ind = "__cdf_merge_side"
    m = a.merge(
        b, on=key_cols, how="outer", suffixes=("_a", "_b"),
        indicator=ind,
    )

    def null_safe_eq(s1, s2):
        both_na = (s1.isna() & s2.isna()).fillna(False)
        try:
            # NaN is a VALUE under arrow dtypes (not null, so both_na
            # misses it) and compares unequal to itself — treat
            # both-NaN as unchanged so a pure rewrite of a group whose
            # float payload holds NaN still diffs to zero rows
            both_nan = (s1.ne(s1) & s2.ne(s2)).fillna(False)
            eq = (s1 == s2).fillna(False) | both_nan
        except Exception:
            # nested types (list/struct payloads) compare by value in
            # python — arrow-backed == is not implemented for them.
            # Nulls (None / pd.NA from .tolist()) are handled by the
            # both_na term; here they compare unequal.
            def _eq(x, y):
                if x is None or x is pd.NA or y is None or y is pd.NA:
                    return False
                return bool(x == y)

            eq = pd.Series(
                [_eq(x, y) for x, y in zip(s1.tolist(), s2.tolist())],
                index=s1.index,
                dtype=bool,
            )
        return (both_na | eq).astype(bool)

    both = m[m[ind] == "both"]
    if pay and len(both):
        same = None
        for c in pay:
            e = null_safe_eq(both[f"{c}_a"], both[f"{c}_b"])
            same = e if same is None else (same & e)
        changed = both[~same]
    else:
        changed = both.iloc[0:0]

    def emit(frame, suffix, change):
        cols = {}
        for c in names:
            src = c if c in key_cols or not pay else f"{c}{suffix}"
            # key-only tables have no suffixed columns
            if src not in frame.columns:
                src = c
            cols[c] = frame[src]
        out = pd.DataFrame(cols)
        out["_change_type"] = change
        return out

    parts = [
        emit(m[m[ind] == "right_only"], "_b", "insert"),
        emit(m[m[ind] == "left_only"], "_a", "delete"),
        emit(changed, "_a", "update_preimage"),
        emit(changed, "_b", "update_postimage"),
    ]
    out = pd.concat(parts, ignore_index=True)
    out["_commit_version"] = v
    arrays = []
    for f in declared.fields:
        # NOT from_pandas=True: that folds float NaN into null, so a
        # NaN preimage/postimage would surface as null and break
        # batch/stream payload symmetry (Spark keeps NaN a value).
        # Arrow-backed tolist() yields pd.NA for nulls — map those to
        # None, which pa.array accepts natively.
        arrays.append(
            pa.array(
                [
                    None if x is pd.NA else x
                    for x in out[f.name].tolist()
                ],
                type=to_arrow_type(f.dataType),
            )
        )
    arrays.append(
        pa.array(out["_change_type"].tolist(), type=pa.string())
    )
    arrays.append(
        pa.array(out["_commit_version"].tolist(), type=pa.int32())
    )
    return pa.table(
        dict(zip(names + ["_change_type", "_commit_version"], arrays))
    )


def _ref_table_or_raise(path: str, meta_root: str | None):
    """Table handle for the readers' per-trigger calls, with the
    branch lifecycle contract (r12): a branch dir that EXISTED at
    stream start but is gone now means delete_branch() landed
    mid-stream — surface the documented error + remedy instead of the
    bare FileNotFoundError / silently-regressing offsets a missing
    manifest chain would otherwise produce."""
    import os

    from .versioned import BranchDeletedError, VersionedTable

    if meta_root is not None and not os.path.isdir(meta_root):
        raise BranchDeletedError(
            f"branch {os.path.basename(meta_root)!r} at {path} was "
            "deleted while the stream was tailing it (delete_branch "
            "landed mid-stream); rows already consumed are safely "
            "checkpointed — re-point the stream at main or a live "
            "branch with a fresh checkpoint"
        )
    return VersionedTable(path, _meta_root=meta_root)


# version-range size from which changefeed planning consults the
# history checkpoint: below this, one checkpoint parse costs more than
# the handful of manifest loads it would save (streaming triggers are
# typically 1-4 versions; 302-version backfills are the target)
_CKPT_PLAN_MIN = 8

# commit modes that can CREATE colmap/castmap entries — every other
# mode only inherits them filtered to live groups (versioned.py's
# _publish inheritance), so a range whose floor manifest carries no
# entries and whose modes contain no setter provably has none anywhere
# (the skip condition _resolved_map and _OverlayCache use)
_MAP_SETTERS = (
    "rename_column:",
    "drop_column:",
    "widen_column:",
    "rollback:",
    "publish_branch",
)


# parsed-checkpoint cache keyed by (base-file stat, newest segment):
# a long-lived stream's repeated _plan_rows calls re-parse the (big,
# whole-history) checkpoint only when it actually changed (review
# r14 — the per-call parse scaled with TOTAL history, not the range)
_PLAN_ROWS_CACHE: dict = {}
_PLAN_ROWS_CACHE_MAX = 16


def _plan_rows(t, lo: int, hi: int):
    """(rows_by_version, retained_set) for checkpoint-served
    changefeed planning over [lo, hi] — or (None, None) when the range
    is short or the checkpoint is unreadable/empty. A checkpoint row
    carries (mode, added) — everything per-version planning needs —
    at a few hundred bytes, vs the full manifest's group list +
    per-group stats (the measured long-backfill residual at 400-group
    tables). Rows for vacuum-expired versions can linger in stale
    segments, so every use must guard with the RETAINED set."""
    if hi - lo + 1 < _CKPT_PLAN_MIN:
        return None, None
    import os

    from .versioned import _ckpt_path, _seg_files

    try:
        try:
            st = os.stat(_ckpt_path(t._meta_root))
            base_key = (st.st_mtime_ns, st.st_size)
        except OSError:
            base_key = None
        segs = _seg_files(t._meta_root)
        key = (base_key, segs[-1] if segs else None)
        cached = _PLAN_ROWS_CACHE.get(t._meta_root)
        if cached is not None and cached[0] == key:
            rows = cached[1]
        else:
            rows = {
                int(r["version"]): r
                for r in t._read_checkpoint()["rows"]
            }
            if len(_PLAN_ROWS_CACHE) >= _PLAN_ROWS_CACHE_MAX:
                _PLAN_ROWS_CACHE.pop(next(iter(_PLAN_ROWS_CACHE)))
            _PLAN_ROWS_CACHE[t._meta_root] = (key, rows)
    except (OSError, ValueError, KeyError, TypeError):
        return None, None
    if not rows:
        return None, None
    return rows, set(t.versions())


def _expired_remedy(v: int):
    raise ValueError(
        f"snapshot {v} has been expired by vacuum(); restart "
        "the stream from a fresh checkpoint with "
        "startingversion=latest (or a retained version)"
    )


def _changefeed_added_groups(
    path: str,
    lo: int,
    hi: int,
    ignore_changes: bool,
    meta_root: str | None = None,
) -> list[tuple[int, str]]:
    """(version, group-relpath) pairs ADDED by snapshots [lo, hi], in
    commit order — the one walk the changefeed stream reader and the
    batch ``table_changes`` share, so the append-only contract and the
    vacuum-expiry remedy behave identically on both surfaces.
    ``meta_root`` selects a branch's manifest chain (data groups stay
    table-rooted)."""
    t = _ref_table_or_raise(path, meta_root)

    def manifest_or_expired(v: int) -> dict:
        try:
            return t._load_manifest(v)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {v} has been expired by vacuum(); restart "
                "the stream from a fresh checkpoint with "
                "startingversion=latest (or a retained version)"
            ) from None

    rows, retained = _plan_rows(t, lo, hi)
    out: list[tuple[int, str]] = []
    prev_groups: set | None = None
    for v in range(lo, hi + 1):
        row = rows.get(v) if rows is not None else None
        if row is not None and row.get("added") is not None:
            # checkpoint-served planning (r14): mode + added straight
            # from the history row — no manifest parse for this version
            if v not in retained:
                _expired_remedy(v)
            mode = str(row.get("mode", ""))
            if not _append_like_mode(mode, v) and not ignore_changes:
                raise ValueError(
                    f"snapshot {v} is {mode!r}, not an append; the "
                    "changefeed is append-only — pass "
                    "ignorechanges=true to tail only added groups "
                    "(removed data is never retracted)"
                )
            out.extend((v, g) for g in row["added"])
            prev_groups = None  # not tracked on the row-served path
            continue
        m = manifest_or_expired(v)
        mode = str(m.get("mode", ""))
        append_like = _append_like_mode(mode, v)
        if not append_like and not ignore_changes:
            raise ValueError(
                f"snapshot {v} is {mode!r}, not an append; the "
                "changefeed is append-only — pass "
                "ignorechanges=true to tail only added groups "
                "(removed data is never retracted)"
            )
        added = m.get("added")
        if added is None:
            # legacy manifest without the explicit delta: fall back
            # to the parent diff (requires the parent manifest)
            if prev_groups is None:
                prev_groups = (
                    set(manifest_or_expired(v - 1)["groups"])
                    if v > 0
                    else set()
                )
            added = [g for g in m["groups"] if g not in prev_groups]
        prev_groups = set(m["groups"])
        out.extend((v, g) for g in added)
    return out


def _admitted_end(
    path: str,
    lo: int,
    head: int,
    max_versions: int,
    max_files: int,
    max_bytes: int = 0,
    meta_root: str | None = None,
) -> int:
    """Admission control for changefeed catch-up (Delta's
    maxFilesPerTrigger / Iceberg's max-files-per-micro-batch): bound
    one micro-batch's END offset so a stream starting at
    ``startingversion=earliest`` on a long history plans MANY bounded
    batches instead of ONE backlog-sized batch — checkpoint granularity
    and retry cost stay proportional to the trigger, not the backlog.
    Driver-side metadata walk only (manifest 'added' lists + a listdir
    per added group); always admits at least one version so the stream
    can't stall. A vacuum-expired manifest in the range stops the walk
    early — partitions() raises the documented remedy for it."""
    import os

    from .versioned import VersionedTable

    end = head
    if max_versions > 0:
        end = min(end, lo + max_versions)
    if (max_files > 0 or max_bytes > 0) and end > lo:
        t = VersionedTable(path, _meta_root=meta_root)
        files, nbytes, admitted, v = 0, 0, lo, lo
        # long catch-up backlogs (r14): serve added lists + bytes from
        # checkpoint rows instead of parsing each manifest; per-group
        # listdir (the file count) is unavoidable either way
        rows, retained = _plan_rows(t, lo, end - 1)
        while v < end:
            row = rows.get(v) if rows is not None else None
            if (
                row is not None
                and row.get("added") is not None
                and (max_bytes <= 0 or row.get("added_bytes") is not None)
            ):
                if v not in retained:
                    break  # expired: partitions() raises the remedy
                cnt = 0
                for g in row["added"]:
                    try:
                        cnt += sum(
                            1
                            for n in os.listdir(os.path.join(path, g))
                            if n.endswith(".parquet")
                        )
                    except FileNotFoundError:
                        pass
                b = int(row.get("added_bytes") or 0)
                over = (
                    max_files and files and files + cnt > max_files
                ) or (
                    max_bytes and nbytes and nbytes + b > max_bytes
                )
                if over:
                    break
                files += cnt
                nbytes += b
                admitted = v + 1
                v += 1
                continue
            try:
                m = t._load_manifest(v)
            except FileNotFoundError:
                break  # expired range: partitions() raises the remedy
            cnt, b = 0, 0
            stats = m.get("stats") or {}
            for g in m.get("added") or []:
                gb = (stats.get(g) or {}).get("_bytes")
                d = os.path.join(path, g)
                try:
                    names = [
                        n
                        for n in os.listdir(d)
                        if n.endswith(".parquet")
                    ]
                except FileNotFoundError:
                    names = []
                cnt += len(names)
                if gb is not None:
                    b += int(gb)
                else:
                    # legacy manifest without _bytes: size the group's
                    # files directly (same listdir, one getsize each)
                    for n in names:
                        try:
                            b += os.path.getsize(os.path.join(d, n))
                        except OSError:
                            pass
            over = (max_files and files and files + cnt > max_files) or (
                max_bytes and nbytes and nbytes + b > max_bytes
            )
            if over:
                break
            files += cnt
            nbytes += b
            admitted = v + 1
            v += 1
        end = max(admitted, lo + 1)
    return max(end, lo)


def _resolved_map(
    t,
    lo: int,
    latest: int,
    mkey: str = "colmap",
    pin_v: int | None = None,
    modes: dict | None = None,
) -> dict:
    """Evolution-map entries (colmap or castmap) unioned over manifests
    [lo, latest], NEWEST manifest winning per group. The latest
    manifest alone (the r11 pin) is enough for groups it still
    retains — but a group that was renamed/widened and then REWRITTEN
    AWAY before the read exists only in historical manifests, and only
    they hold its file->current routing (the latest manifest inherits
    entries only for retained groups). CDF streams, ignorechanges
    replays, and batch table_changes all replay exactly such history,
    so their pin must be the ranged union. Entries exist only for
    evolution-affected groups, so the dict stays small; the walk is
    one manifest load per version in the range the reader will read
    anyway.

    RENAMES INSIDE THE RANGE (r13): a group that died BEFORE a rename
    never gets a recorded colmap entry (rename_column routes only
    LIVE groups), yet a replay of its era must still surface its rows
    under the pinned post-rename names — so for every walked manifest
    the rename chain AFTER it (each rename commit records
    ``renamed: {old, new}``) synthesizes file->pinned routing for its
    unrouted groups (an unrouted group's file columns are named
    exactly by its manifest's schema), and recorded entries are
    folded through the same chain so a group whose last routing
    predates a later rename still lands on the final names.

    ``pin_v`` (default: ``latest``) is the version whose schema the
    caller pinned — the fold TARGET. Manifests at or before pin_v
    fold FORWARD through the rename events up to the pin; manifests
    AFTER it fold BACKWARD (new -> old, newest event first), which is
    how a stream whose schema pinned before a MID-STREAM rename keeps
    the renamed column's values flowing under the pinned name instead
    of NULLing it (the r13 post-pin overlay)."""
    import json as _json

    if pin_v is None:
        pin_v = latest
    floor = max(lo, 0)
    walked: list = []  # ascending (oldest first)
    fast = False
    if modes is not None:
        # checkpoint-served skip (r14): evolution-map entries are only
        # CREATED by _MAP_SETTERS commits and otherwise inherited
        # filtered to live groups, so after probing the range FLOOR a
        # version can be skipped when no setter (and no unknown-mode
        # manifest) has appeared at or below it — its map is provably
        # the inherited-from-empty one and it carries no rename event.
        # This collapses the long-backfill construction walk (one
        # manifest JSON parse per version, the measured residual) to
        # the floor probe + the unknown tail past the checkpoint.
        try:
            m_lo = t._load_manifest(floor)
        except FileNotFoundError:
            m_lo = None  # expired floor: classic walk handles it
        if m_lo is not None:
            fast = True
            walked.append((floor, m_lo))
            must = bool(m_lo.get(mkey) or {}) or str(
                m_lo.get("mode", "")
            ).startswith(_MAP_SETTERS)
            skipped: list[int] = []
            for v in range(floor + 1, latest + 1):
                mode = modes.get(v)
                if (
                    not must
                    and mode is not None
                    and not mode.startswith(_MAP_SETTERS)
                ):
                    skipped.append(v)
                    continue
                try:
                    m = t._load_manifest(v)
                except FileNotFoundError:
                    continue  # raced vacuum: nothing left to learn
                if not must and str(m.get("mode", "")).startswith(
                    _MAP_SETTERS
                ):
                    # first setter discovered: versions skipped BELOW
                    # it need their manifests after all — the forward
                    # fold synthesizes routing for pre-rename groups
                    # (incl. groups dead before the rename, the r13
                    # case) from events AFTER them, so a later rename
                    # reaches back. Rename-free ranges (the common
                    # backfill) never pay this.
                    for sv in skipped:
                        try:
                            walked.append((sv, t._load_manifest(sv)))
                        except FileNotFoundError:
                            continue
                    skipped = []
                walked.append((v, m))
                if str(m.get("mode", "")).startswith(_MAP_SETTERS):
                    must = True
    if not fast:
        desc: list = []
        for v in range(latest, floor - 1, -1):
            try:
                desc.append((v, t._load_manifest(v)))
            except FileNotFoundError:
                break  # older versions expired: nothing left to learn
        walked = list(reversed(desc))
    events = []  # rename commits inside the walked suffix, ascending
    if mkey == "colmap":
        events = [
            (v, m["renamed"]["old"], m["renamed"]["new"])
            for v, m in walked
            if str(m.get("mode", "")).startswith("rename_column:")
            and m.get("renamed")
        ]

    def fold(name: str, from_v: int) -> str:
        if from_v <= pin_v:
            for ev_v, old, new in events:
                if from_v < ev_v <= pin_v and name == old:
                    name = new
        else:
            for ev_v, old, new in reversed(events):
                if pin_v < ev_v <= from_v and name == new:
                    name = old
        return name

    out: dict = {}
    for v, m in reversed(walked):  # newest first
        for g, mp in (m.get(mkey) or {}).items():
            if g not in out and mp:
                out[g] = {
                    fc: (None if cur is None else fold(cur, v))
                    for fc, cur in mp.items()
                }
        if not events:
            continue
        names = [
            f["name"] for f in _json.loads(m["schema"])["fields"]
        ]
        synth = {
            s: fold(s, v) for s in names if fold(s, v) != s
        }
        if synth:
            routed = set(m.get(mkey) or {})
            for g in m["groups"]:
                if g not in out and g not in routed:
                    out[g] = dict(synth)
    return out


def _post_pin_overlay(t, pinned_latest: int, hi: int) -> dict:
    """Routing for groups of versions AFTER the stream's schema pin,
    folded BACK to the pinned column names (r13): a rename landing
    mid-stream renames live groups' files forward, but the stream's
    output schema is pinned — without this overlay the renamed
    column's post-pin rows surface as NULL under the pinned name
    (silent data loss; Delta stops the stream instead). Empty when the
    batch end is at or before the pin. Stateless form — long-lived
    streams use _OverlayCache, which computes the identical union
    O(delta) per trigger instead of re-walking the whole post-pin
    range."""
    if hi <= pinned_latest:
        return {}
    return _resolved_map(
        t, pinned_latest + 1, hi, pin_v=pinned_latest
    )


class _OverlayCache:
    """Incremental _post_pin_overlay (review finding, r13
    continuation): the stateless form re-walks and JSON-parses every
    manifest past the stream's pin on EVERY micro-batch, so a
    long-lived stream's per-trigger driver planning grew linearly with
    stream age. This cache walks only versions (upto, hi] per trigger
    and merges, which is sound because a post-pin entry's BACKWARD
    fold at version v uses only rename events in (pinned, v] — events
    discovered later can never change an already-folded entry — and
    the full walk's newest-manifest-wins union is exactly
    {**older, **newer}. A checkpoint restart rebuilds the cache with
    one full walk (same cost as one pre-fix trigger)."""

    def __init__(self, pinned_latest: int, pinned_has_map: bool = True):
        self.pinned = pinned_latest
        self.upto = pinned_latest
        self.events: list[tuple[int, str, str]] = []  # ascending
        self.out: dict = {}
        # conservative default True: only a caller that KNOWS the
        # pinned colmap is empty may enable the checkpoint-mode skip
        # below (a non-empty pin means rename history exists and any
        # post-pin manifest may inherit routing entries)
        self.pinned_has_map = pinned_has_map

    def extend(self, t, hi: int, modes: dict | None = None) -> dict:
        import json as _json

        if hi <= self.upto:
            return self.out
        walked = []
        # checkpoint-served skip (r14, same argument as _resolved_map):
        # with an empty pinned colmap and no rename events so far, a
        # version whose mode is known and is not a _MAP_SETTERS op can
        # carry no colmap entries (inheritance from empty) and no
        # rename event — loading its manifest would contribute nothing.
        # Once any setter (or unknown-mode manifest that turns out to
        # be one) appears, everything after it walks as before.
        must_walk = self.pinned_has_map or bool(self.events)
        for v in range(self.upto + 1, hi + 1):
            if (
                not must_walk
                and modes is not None
                and v in modes
                and not str(modes[v]).startswith(_MAP_SETTERS)
            ):
                continue
            try:
                m = t._load_manifest(v)
            except FileNotFoundError:
                continue  # expired: the CDF planner raises its remedy
            walked.append((v, m))
            if str(m.get("mode", "")).startswith(_MAP_SETTERS):
                must_walk = True
        self.upto = hi
        for v, m in walked:
            if str(m.get("mode", "")).startswith(
                "rename_column:"
            ) and m.get("renamed"):
                self.events.append(
                    (v, m["renamed"]["old"], m["renamed"]["new"])
                )
        events = self.events

        def fold(name: str, from_v: int) -> str:
            # post-pin versions only: BACKWARD (new -> old), newest
            # event first — the mirror of _resolved_map's else-branch
            for ev_v, old, new in reversed(events):
                if self.pinned < ev_v <= from_v and name == new:
                    name = old
            return name

        delta_out: dict = {}
        for v, m in reversed(walked):  # newest first within the delta
            for g, mp in (m.get("colmap") or {}).items():
                if g not in delta_out and mp:
                    delta_out[g] = {
                        fc: (None if cur is None else fold(cur, v))
                        for fc, cur in mp.items()
                    }
            if not events:
                continue
            names = [
                f["name"] for f in _json.loads(m["schema"])["fields"]
            ]
            synth = {
                s: fold(s, v) for s in names if fold(s, v) != s
            }
            if synth:
                routed = set(m.get("colmap") or {})
                for g in m["groups"]:
                    if g not in delta_out and g not in routed:
                        delta_out[g] = dict(synth)
        self.out = {**self.out, **delta_out}
        return self.out


def _starting_option(options: dict, t) -> str:
    """Resolve the stream's starting point: ``startingversion``
    ("earliest" | "latest" | number) or ``startingtimestamp`` (epoch
    seconds or ISO date/datetime — Delta's startingTimestamp), mapped
    to the first version committed AT or AFTER the instant via the
    manifest committed_at index (the read-side mirror of
    version_as_of). Both options together is an error."""
    sv = options.get("startingversion")
    ts = options.get("startingtimestamp")
    if ts is None:
        return str(sv if sv is not None else "earliest")
    if sv is not None:
        raise ValueError(
            "pass option 'startingversion' OR 'startingtimestamp', "
            "not both"
        )
    from .versioned import _parse_instant, _version_at_or_after

    return str(_version_at_or_after(t, _parse_instant(ts)))


def _cdf_options(options: dict) -> tuple[bool, list[str]]:
    """Parse + validate ``readchangedata`` (Delta's readChangeFeed) and
    its required ``key`` option. CDF mode and ignorechanges are
    mutually exclusive: the first EXPLAINS non-append commits as row
    deltas, the second silently skips their retractions."""
    on = str(options.get("readchangedata", "false")).lower() == "true"
    key = [
        k.strip()
        for k in str(options.get("key", "")).split(",")
        if k.strip()
    ]
    if on:
        if str(options.get("ignorechanges", "false")).lower() == "true":
            raise ValueError(
                "readchangedata and ignorechanges are mutually "
                "exclusive — CDF explains rewrites as row deltas, "
                "ignorechanges drops them"
            )
        if not key:
            raise ValueError(
                "readchangedata requires .option('key', 'col[,col]') "
                "— row-level diffs need the snapshots' key-unique "
                "identity (merge/apply_changes-maintained tables)"
            )
    return on, key


def _trigger_limits(options: dict) -> tuple[int, int, int]:
    """(max_versions, max_files, max_bytes) per micro-batch;
    0 = unbounded. The two counts are integers; maxbytespertrigger is a
    Spark byte string ("64m", "1g"; tables._parse_bytes). Bytes come
    from the manifest's per-group _bytes (recorded at commit time) with
    a file-size fallback for legacy manifests. A malformed or negative
    bound raises ValueError naming the option: _admitted_end would read
    a negative one as already exceeded and admit one version per
    batch."""
    from .tables import _parse_bytes

    limits = []
    for name, parse in (
        ("maxversionspertrigger", int),
        ("maxfilespertrigger", int),
        ("maxbytespertrigger", _parse_bytes),
    ):
        try:
            n = parse(options.get(name) or "0")
        except ValueError as e:
            raise ValueError(f"option {name!r}: {e}") from None
        if n < 0:
            raise ValueError(
                f"option {name!r} must be >= 0 (0 = unbounded), got {n}"
            )
        limits.append(n)
    return tuple(limits)


def _nullable(schema):
    """Force every field nullable for a READ-side schema declaration:
    evolution back-fill (added/renamed/dropped-and-readded columns)
    legitimately produces NULLs in groups whose files predate the
    change, and Spark validates Python-DataSource batches against the
    declared nullability ("Value at index is null" otherwise). The JVM
    parquet path resolves everything nullable for the same reason."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )


def _arrow_align(table, declared, mapping):
    """Executor-side align of one parquet file's Arrow table to the
    declared schema THROUGH a column name map (RENAME/DROP evolution):
    ``mapping`` is the group's colmap entry (file_name ->
    current_name, None = tombstoned). Shared by the changefeed's
    stream and batch readers; it must route exactly like
    VersionedTable._read_groups. Widening casts fall out of the
    declared-type cast (int32 -> int64 is a plain Arrow cast)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    mapping = mapping or {}
    n = table.num_rows
    current = {fc: cur for fc, cur in mapping.items() if cur is not None}
    dropped = {fc for fc, cur in mapping.items() if cur is None}
    file_of = {cur: fc for fc, cur in current.items()}
    arrays, names = [], []
    for f in declared.fields:
        at = to_arrow_type(f.dataType)
        fcol = file_of.get(f.name, f.name)
        # a file column is unusable for this field when it's
        # tombstoned (DROPped, possibly re-added under the same name)
        # or routed to a DIFFERENT current name by a rename
        routed_away = fcol in dropped or (
            fcol in current and current[fcol] != f.name
        )
        if fcol in table.column_names and not routed_away:
            col = table.column(fcol)
            try:
                arrays.append(col.cast(at))
            except pa.ArrowInvalid as e:
                # a WIDEN landed after this reader pinned its schema:
                # post-widen files carry the wide type, and values that
                # still FIT the pinned narrow type flow through this
                # safe cast — but an out-of-range value cannot be
                # represented in the pinned schema at all. Surface the
                # restart remedy instead of a bare executor
                # ArrowInvalid (Delta stops the stream on ANY schema
                # change; we stop only when data is unrepresentable).
                raise ValueError(
                    f"column {f.name!r}: a value in file type "
                    f"{col.type} does not fit this reader's pinned "
                    f"type {f.dataType.simpleString()} — the column "
                    "was widened after the reader pinned its schema; "
                    "restart the stream from a fresh checkpoint (or "
                    "re-create the batch reader) to adopt the widened "
                    "schema"
                ) from e
        else:
            arrays.append(pa.nulls(n, type=at))
        names.append(f.name)
    return pa.table(dict(zip(names, arrays)))


class _ChangeFile(InputPartition):
    """One parquet file of one ADDED group — the unit of executor
    parallelism in the partitioned changefeed. Carries the declared
    schema JSON (and the group's column name map, if any, after a
    RENAME/DROP evolution) so the executor can align columns by name
    without a driver round-trip. ``commit_version`` is set only in CDF
    mode: the rows gain ('insert', v) metadata columns."""

    def __init__(
        self, file_path: str, schema_json, mapping=None,
        commit_version=None,
    ):
        self.file_path = file_path
        self.schema_json = schema_json
        self.mapping = mapping
        self.commit_version = commit_version


class _CdfDiffPartition(InputPartition):
    """One NON-append commit under readchangedata: the executor task
    computes the commit's row delta vs its parent (the pyarrow twin of
    snapshot_diff — manifest-aware shared-group skip, so a pruned
    MERGE's diff reads O(delta)). One task per rewrite commit: the
    diff needs both sides together; its size is the rewrite's touched
    groups, already file-pruned by the DML machinery. For historical
    backfills over LONG ranges, the batch read of this same format
    (TableChangefeedBatchReader) plans the whole range as one job."""

    def __init__(self, version: int, fallback: dict | None = None):
        self.version = version
        # per-batch pinned routing (driver-computed): the stream-start
        # union plus the post-pin rename overlay for versions past the
        # schema pin — executors must not re-walk manifests per task
        self.fallback = fallback


class TableChangefeedPartitionedReader(DataSourceStreamReader):
    """The table changefeed stream reader. Offset =
    ``{"next_version": v}`` — snapshots < v are consumed; a batch
    emits the rows of data groups ADDED by snapshots [start, end)
    (each manifest records its own ``added`` delta, so the feed never
    needs a parent manifest that vacuum may have expired).

    Append-only contract (Delta-identical): an overwrite in the tailed
    range raises unless ``ignorechanges=true``, in which case only NEW
    groups are emitted and removed data is never retracted — including
    OPTIMIZE rewrites, which (like Delta's ignoreChanges) re-emit the
    rewritten rows; rollbacks add no groups. A vacuum-expired range
    raises with the remedy (fresh checkpoint + startingversion). All
    of it is enforced at PLANNING time in ``partitions()``, which is
    driver-side metadata work only: it emits one InputPartition per
    parquet file of each ADDED group. The DATA never touches the
    driver: ``read(partition)`` runs on executors and yields Arrow
    record batches (aligned by name through ``_arrow_align``), so a
    commit of N files fans out to N parallel tasks.

    Replay is bit-identical because partitions are a pure function of
    the immutable manifest range — exactly-once through a sink
    checkpoint.

    Schema is pinned at stream start (latest manifest): groups written
    before an additive evolution align by name and read NULL for the
    new columns; groups written AFTER the pinned schema would silently
    drop the new column until restart (Delta's semantics — restart
    picks up the evolved schema)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self._meta = _branch_meta_root(
            self.path, options.get("branch")
        )
        self.read_change_data, self.cdf_key = _cdf_options(options)
        (
            self.max_versions,
            self.max_files,
            self.max_bytes,
        ) = _trigger_limits(options)
        t = self._table()
        self.starting = _starting_option(options, t)
        latest = t.latest_version()
        if latest is None:
            raise FileNotFoundError(
                "table has no snapshots yet — commit once before tailing"
            )
        pinned = t._load_manifest(latest)
        self._pinned_latest = latest
        self._schema_json = pinned["schema"]
        # the column maps are pinned WITH the schema: a
        # bounded batch ending before a rename commit needs the
        # pinned maps to route pre-rename file columns to the pinned
        # field names (the batch-end manifest has no entry yet); CDF
        # and ignorechanges modes pin the ranged union (groups
        # rewritten away before stream start route only through
        # historical manifests)
        if self.read_change_data or self.ignore_changes:
            pin_lo = (
                0 if self.starting == "earliest" else (
                    latest if self.starting == "latest"
                    else int(self.starting)
                )
            )
            # r14: a LONG starting range (historical backfill) serves
            # the ranged-union walk and per-version planning from the
            # history checkpoint's rows instead of parsing every
            # interim manifest. The modes dict is built ONCE here and
            # cached (review r14: rebuilding it per trigger cost
            # O(total history) on every micro-batch).
            self._plan_cache, _retained = _plan_rows(t, pin_lo, latest)
            self._plan_modes = (
                None
                if self._plan_cache is None
                else {
                    v: str(r.get("mode", ""))
                    for v, r in self._plan_cache.items()
                }
            )
            self._pinned_colmap = _resolved_map(
                t, pin_lo, latest, modes=self._plan_modes
            )
        else:
            self._plan_cache = None
            self._plan_modes = None
            self._pinned_colmap = pinned.get("colmap") or {}
        self._overlay_cache = _OverlayCache(
            latest, pinned_has_map=bool(self._pinned_colmap)
        )
        # the next-unplanned-version floor latestOffset() caps against
        # (the Python DataSourceStreamReader API gives latestOffset no
        # start argument, so the reader tracks it). Seeded from
        # startingversion because on a FRESH stream Spark calls
        # latestOffset() BEFORE initialOffset() (observed call order);
        # on a RESTART Spark replays the checkpointed last batch via
        # partitions(start, end) before asking for a new offset, which
        # raises the floor to the checkpoint — so a stale seed can
        # never regress a restarted stream's offsets.
        self._floor: int = self._starting_offset()

    def _table(self):
        return _ref_table_or_raise(self.path, self._meta)

    def _starting_offset(self) -> int:
        if self.starting == "earliest":
            return 0
        if self.starting == "latest":
            return (self._table().latest_version() or -1) + 1
        return int(self.starting)

    def initialOffset(self) -> dict:
        off = {"next_version": self._starting_offset()}
        self._floor = max(self._floor, off["next_version"])
        return off

    def latestOffset(self) -> dict:
        latest = self._table().latest_version()
        head = (latest if latest is not None else -1) + 1
        lo = self._floor
        if (
            self.max_versions <= 0
            and self.max_files <= 0
            and self.max_bytes <= 0
        ) or head <= lo:
            return {"next_version": head}
        end = _admitted_end(
            self.path, lo, head,
            self.max_versions, self.max_files, self.max_bytes,
            self._meta,
        )
        self._floor = end
        return {"next_version": end}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        import os

        lo = int(start["next_version"])
        hi = int(end["next_version"]) - 1
        self._floor = max(self._floor, hi + 1)
        # batch-end manifest's column name maps, OVERLAID with the
        # maps pinned at stream start (pinned wins for groups in
        # both): the end manifest covers groups added after the pin,
        # while only the pinned map can route a pre-rename group when
        # the bounded batch ends BEFORE the rename commit — and for
        # groups the pinned manifest knows, its map is by definition
        # the one consistent with the pinned output schema
        colmap = {}
        if hi >= lo:
            try:
                colmap = (
                    self._table()._load_manifest(hi).get("colmap") or {}
                )
            except FileNotFoundError:
                pass  # expired: the walk below raises the remedy
        # r14: refresh the checkpoint-row cache FIRST when a LONG CDF
        # range outruns it (new commits / segments extended since
        # construction) — both the overlay skip and the per-version
        # loop below feed from it. Short ranges (every steady-state
        # streaming trigger) never refresh: missing versions just fall
        # back to their manifests, so no per-trigger checkpoint work.
        rows = self._plan_cache
        retained = None
        if (
            self.read_change_data
            and hi - lo + 1 >= _CKPT_PLAN_MIN
            and (
                rows is None
                or any(
                    v not in rows or rows[v].get("added") is None
                    for v in range(lo, hi + 1)
                )
            )
        ):
            fresh, retained = _plan_rows(self._table(), lo, hi)
            if fresh is not None:
                rows = {**rows, **fresh} if rows else fresh
                self._plan_cache = rows
                self._plan_modes = {
                    v: str(r.get("mode", "")) for v, r in rows.items()
                }
        # post-pin overlay (r13): a mid-stream rename's versions fold
        # their routing back to the pinned names, so values keep
        # flowing under the pinned column instead of reading NULL;
        # planned driver-side once per batch. Checkpoint
        # rows (r14) let it skip manifest loads for known non-setter
        # versions.
        overlay = self._overlay_cache.extend(
            self._table(), max(hi, lo), modes=self._plan_modes
        )
        colmap = {**colmap, **overlay, **self._pinned_colmap}
        cdf_fallback = {**overlay, **self._pinned_colmap}
        parts: list[InputPartition] = []

        def file_parts(g: str, commit_version=None):
            d = os.path.join(self.path, g)
            for name in sorted(os.listdir(d)):
                if name.endswith(".parquet"):
                    parts.append(
                        _ChangeFile(
                            os.path.join(d, name),
                            self._schema_json,
                            colmap.get(g),
                            commit_version,
                        )
                    )

        if not self.read_change_data:
            for _v, g in _changefeed_added_groups(
                self.path, lo, hi, self.ignore_changes, self._meta
            ):
                file_parts(g)
        else:
            # CDF planning: append-like versions fan out per added
            # file (as usual, plus 'insert' metadata); each non-append
            # version plans ONE diff task. Long ranges (r14) plan from
            # history-checkpoint rows — mode + added per version at a
            # few hundred bytes — instead of parsing every interim
            # manifest (group list + per-group stats).
            t = self._table()
            if rows is not None and retained is None:
                retained = set(t.versions())
            for v in range(lo, hi + 1):
                row = rows.get(v) if rows is not None else None
                if row is not None and v not in retained:
                    _expired_remedy(v)
                if row is not None and _append_like_mode(
                    str(row.get("mode", "")), v
                ) and row.get("added") is not None:
                    for g in row["added"]:
                        file_parts(g, commit_version=v)
                    continue
                if row is not None and not _append_like_mode(
                    str(row.get("mode", "")), v
                ):
                    parts.append(_CdfDiffPartition(v, cdf_fallback))
                    continue
                try:
                    m = t._load_manifest(v)
                except FileNotFoundError:
                    raise ValueError(
                        f"snapshot {v} has been expired by vacuum(); "
                        "restart the stream from a fresh checkpoint "
                        "with startingversion=latest (or a retained "
                        "version)"
                    ) from None
                if _append_like_mode(str(m.get("mode", "")), v):
                    added = m.get("added")
                    if added is not None:
                        # modern manifest: the delta is explicit — no
                        # second parse through the shared walk
                        for g in added:
                            file_parts(g, commit_version=v)
                    else:
                        for _vv, g in _changefeed_added_groups(
                            self.path, v, v, True, self._meta
                        ):
                            file_parts(g, commit_version=v)
                else:
                    parts.append(_CdfDiffPartition(v, cdf_fallback))
        # a planned batch can still add zero groups (rollback/compact
        # under ignorechanges); Spark requires >= 1 partition
        return parts or [_ChangeFile("", self._schema_json)]

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .versioned import _schema_from_json

        declared = _schema_from_json(self._schema_json)
        if isinstance(partition, _CdfDiffPartition):
            fb = getattr(partition, "fallback", None)
            yield from _cdf_diff_arrow(
                self.path, self._meta, partition.version,
                self.cdf_key, declared,
                self._pinned_colmap if fb is None else fb,
            ).to_batches(max_chunksize=65536)
            return
        if not partition.file_path:
            return
        table = pq.read_table(partition.file_path)
        aligned = _arrow_align(
            table, declared, getattr(partition, "mapping", None)
        )
        v = getattr(partition, "commit_version", None)
        if v is not None:
            n = aligned.num_rows
            aligned = aligned.append_column(
                "_change_type", pa.array(["insert"] * n, pa.string())
            ).append_column(
                "_commit_version", pa.array([v] * n, pa.int32())
            )
        yield from aligned.to_batches(max_chunksize=65536)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the sink checkpoint; nothing to ack


class TableChangefeedDataSource(DataSource):
    """``spark.readStream.format("table_changefeed")
    .option("path", table_dir).load()`` — tail a VersionedTable's
    commits as a stream through TableChangefeedPartitionedReader.
    ``.option("startingversion", v)``: "earliest" (default — version
    0), "latest" (only commits AFTER stream start), or a number.

    Catch-up admission control (Delta's maxFilesPerTrigger analog):
    ``.option("maxversionspertrigger", n)`` bounds each micro-batch to
    n snapshots, ``.option("maxfilespertrigger", n)`` to ~n added
    parquet files, ``.option("maxbytespertrigger", n)`` to ~n added
    bytes via the manifest's per-group _bytes (always at least one
    version) — so starting at
    ``startingversion=earliest`` on a long history plans MANY bounded
    batches instead of one backlog-sized batch, keeping checkpoint
    granularity and retry cost proportional to the trigger. Unset or
    0 = unbounded; a negative bound raises.

    ``.option("branch", name)`` tails a BRANCH's commit chain instead
    of main — the audit side of write-audit-publish watches staged
    commits land as they happen (data stays table-rooted; only the
    manifest chain differs). Offsets are branch-local versions.

    ``.option("startingtimestamp", ts)`` (r12 — Delta's
    startingTimestamp): start at the first commit AT or AFTER the
    instant (epoch seconds or ISO datetime), resolved through the
    manifest committed_at index like TIMESTAMP AS OF. Mutually
    exclusive with startingversion.

    ``.option("readchangedata", "true")`` + ``.option("key", cols)``
    (r12) — Delta's readChangeFeed: instead of REJECTING non-append
    commits (or silently skipping them under ignorechanges), the feed
    EXPLAINS each one as its exact row delta vs the parent snapshot.
    The schema gains ``_change_type`` ('insert' | 'delete' |
    'update_preimage' | 'update_postimage') and ``_commit_version``;
    append-like commits emit their rows as 'insert'. So a rewrite
    publish (``publish_branch_rewrite:``), an overwrite, a MERGE, a
    CoW delete/update, or a rollback streams through as row-level
    CDC — and a pure compaction/OPTIMIZE diffs to ZERO rows, exactly
    the Delta semantics. Requires key-unique snapshots on ``key``
    (merge-maintained tables) and no merge-on-read delete entries in
    the diffed pair (compact them away, or use the batch
    table_changes_rows).
    """

    @classmethod
    def name(cls) -> str:
        return "table_changefeed"

    def schema(self):
        from pyspark.sql.types import (
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        from .versioned import VersionedTable, _schema_from_json

        t = VersionedTable(
            self.options["path"],
            _meta_root=_branch_meta_root(
                self.options["path"], self.options.get("branch")
            ),
        )
        latest = t.latest_version()
        if latest is None:
            raise FileNotFoundError(
                "table has no snapshots yet — the changefeed needs the "
                "schema from a first commit"
            )
        base = _schema_from_json(t._load_manifest(latest)["schema"])
        on, _key = _cdf_options(self.options)
        if on:
            base = StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", IntegerType()),
                ]
            )
        return _nullable(base)

    def streamReader(self, schema) -> TableChangefeedPartitionedReader:
        return TableChangefeedPartitionedReader(self.options)

    def reader(self, schema) -> "TableChangefeedBatchReader":
        return TableChangefeedBatchReader(self.options)


class TableChangefeedBatchReader(DataSourceReader):
    """BATCH read of a changefeed version RANGE — Delta's batch-CDF
    surface (``spark.read.format("delta").option("readChangeFeed",
    "true").option("startingVersion", ...).option("endingVersion",
    ...)``), sharing the streaming partitioned reader's PLANNER and
    execution kernels verbatim, so the two surfaces can never drift:
    append-like versions fan out one task per added parquet file,
    each non-append version plans ONE executor-side Arrow diff task.

    This is the executor-parallel path for LONG historical backfills:
    the driver does metadata-only planning (one manifest load per
    version), and the per-pair diffs run as one Spark job of N
    parallel tasks — unlike the batch ``table_changes_rows``, whose
    per-pair full-outer-join plans cost a few driver-planned jobs
    EACH (measured ~0.7 s/pair overhead at 300 pairs regardless of
    delta size). Options: ``startingversion`` (default earliest) /
    ``startingtimestamp``, plus batch-only ``endingversion`` (number
    or "latest", default latest) / ``endingtimestamp``; readchangedata
    + key exactly as the stream. Rows align to the LATEST schema (the
    stream's pin), Delta's batch-CDF behavior."""

    def __init__(self, options: dict):
        self._inner = TableChangefeedPartitionedReader(options)
        t = self._inner._table()
        ev = options.get("endingversion")
        ets = options.get("endingtimestamp")
        if ev is not None and ets is not None:
            raise ValueError(
                "pass option 'endingversion' OR 'endingtimestamp', "
                "not both"
            )
        latest = t.latest_version()
        if ets is not None:
            from .versioned import _parse_instant

            self._hi = t.version_as_of(_parse_instant(ets))
        elif ev is None or str(ev).lower() == "latest":
            self._hi = latest
        else:
            self._hi = int(ev)
            # validate at construction: past-the-end versions would
            # otherwise fail in partitions() on the missing manifest
            # with the misleading expired-by-vacuum remedy (r13 advice)
            if latest is None or self._hi > latest:
                raise ValueError(
                    f"endingversion {self._hi} does not exist "
                    f"(latest is {latest})"
                )
        self._lo = self._inner._starting_offset()

    def partitions(self) -> list[InputPartition]:
        if self._hi is None or self._hi < self._lo:
            return [_ChangeFile("", self._inner._schema_json)]
        return self._inner.partitions(
            {"next_version": self._lo},
            {"next_version": self._hi + 1},
        )

    def read(self, partition):
        yield from self._inner.read(partition)
