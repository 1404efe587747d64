"""Snapshot-versioned parquet table: manifest-listed data files with
atomic commits, time travel, and rollback — the Iceberg/Delta core
mechanic (a table IS its manifest; data files are immutable) built on
nothing but parquet + atomic rename, since the real table formats are
classpath-blocked here (README "Lakehouse ACID MERGE INTO" note).

Layout:

    table/
      data/<uuid>/part-*.parquet   immutable file groups, one per commit
      _manifests/v00000001.json    ordered snapshots; each lists the
                                   FULL set of data files it reads
      _refs/tags/<name>.json       named snapshot pointers (immutable;
                                   vacuum retains tagged history)
      _refs/branches/<name>/       independent manifest chains sharing
        _manifests/v00000001.json  the data root — write-audit-publish
                                   (see "refs: tags & branches")

Protocol (the invariants that give snapshot isolation):

* Data files are written FIRST, under a fresh uuid directory. A crash
  after the data write but before the manifest rename leaves orphan
  files that no manifest references — invisible to every reader,
  reclaimable by vacuum().
* A commit is ONE atomic create of the next version's manifest —
  ``os.link`` of a temp file into the slot, which fails with
  FileExistsError if another writer got there first (rename would
  silently REPLACE the winner). Losers do NOT blindly retry:
  ``_publish_or_rebase`` validates the concurrent commits
  Delta/Iceberg-style (disjoint groups? non-overlapping key boxes?
  same schema/constraints? txn watermark untouched?) and REBASES a
  provably-disjoint commit onto the actual latest — independent
  pipelines (CDC + backfill + appends on disjoint key ranges) land
  without recompute; CommitConflictError surfaces only on true
  overlap.
* ``append`` reuses the parent snapshot's file list plus the new group
  (no rewrite — O(delta) commit cost); ``overwrite`` starts an empty
  list. ``rollback`` is a NEW commit whose file list equals an old
  snapshot's — history is never mutated, exactly like Iceberg's
  rollback-as-new-snapshot.
* Readers resolve a version (default: latest) to its manifest and read
  exactly that file list — a reader mid-query never sees a half commit.

Schema contract: the manifest records the commit's schema JSON; append
requires an identical schema unless ``allow_evolution=True``, which
permits ADDITIVE columns (old groups read them as NULL via parquet
schema merging — unionByName semantics). Beyond additive evolution,
three METADATA-ONLY schema changes exist (r10 — each is one manifest
commit, zero data IO, with reads routed per group):

* ``rename_column`` — Iceberg field-identity semantics via per-group
  ``colmap`` name maps (file_name -> current_name); no numeric field
  IDs needed because group relpaths are immutable uuids, so the
  (group, file_column) pair IS the stable identity;
* ``drop_column`` — the colmap entry becomes a TOMBSTONE
  (file_name -> None), so re-ADDing the same name later reads NULL
  from old groups instead of resurrecting dropped bytes;
* ``widen_column`` — int->wider-integral / float->double / decimal
  precision growth via per-group ``castmap`` scan-time casts.

Other type changes still require an explicit overwrite migration.
``_publish`` carries both maps forward automatically for carried
groups, so DML/compaction code never needs to know about them.

At 100 TB the manifest lists file GROUPS (one directory per commit),
so manifest size grows with commit count, not file count; the
data-file listing inside a group is delegated to the parquet reader.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F


class CommitConflictError(RuntimeError):
    """Another writer committed the version this commit targeted."""


# the manifest format this engine reads AND writes (Iceberg/Delta
# protocol-version mechanic): bump when a manifest gains semantics an
# old reader would silently misread rather than merely ignore.
# Format 2 = DELTA manifests: the file carries only this commit's
# diff against its parent for the width-sized keys (groups/stats/
# delete_entries/colmap/castmap/clustered); a format-1 reader would
# misread the missing keys as an empty table, hence the bump. FULL
# manifests (v0, every _SNAP_EVERY-th version, vacuum boundary snaps)
# stay format 1.
_FORMAT_VERSION = 2


class UnsupportedFormatError(RuntimeError):
    """The manifest declares a format newer than this reader supports."""


class BranchDeletedError(RuntimeError):
    """The branch a reader/stream was following no longer exists —
    delete_branch() landed underneath it. Streams tailing the branch
    surface this with the remedy (the data already consumed is safely
    checkpointed; re-point the stream at main or a live branch with a
    fresh checkpoint)."""


# -- per-group column statistics (the Iceberg manifest-stats analog) ----
#
# Each commit records a row count and min/max/null-count per
# stats-eligible column for every group it writes, with no second scan
# of the data. Rows, and min/max/nulls of the footer types below, are
# read from the Parquet footers of the files just written, which the
# Parquet writer fills anyway (Iceberg's writer takes its per-file
# lower/upper bounds and null counts the same way); the rest — SUMs,
# the other types' min/max/nulls, CHECK violation counts and bloom NDV —
# is one aggregate that rides the write (see _write_groups). Readers and
# MERGE use the stats to prune whole groups without listing or opening
# their files — at 100 TB that is the difference between an O(delta)
# incremental merge and an O(table) rewrite (Iceberg/Delta data
# skipping; reference's read-side acceleration is "index every payload
# column", internal/db/db.go:97-103 — group stats are the lake-scale
# analog).

_STATS_ATOMIC = (
    "byte", "short", "integer", "long", "float", "double",
    "string", "date", "boolean",
)

# Types whose Parquet footer min/max order as Spark orders them (by
# simpleString, so a collated string — "string collate …" — is not one).
# Not decimals (pyarrow cannot decode their statistics), INT96
# timestamps (no statistics) or floats (a NaN reads as the max).
_FOOTER_STATS = (
    "tinyint", "smallint", "int", "bigint", "date", "boolean", "string",
)


def _stats_eligible(dtype) -> bool:
    name = dtype.typeName()
    return (
        name in _STATS_ATOMIC
        or name.startswith("decimal")
        or name in ("timestamp", "timestamp_ntz")
    )


def _footer_stats_type(dtype) -> bool:
    return dtype.simpleString() in _FOOTER_STATS


def _json_safe(v, dtype):
    """Convert an observed min/max to a JSON value whose ORDER survives
    the round trip: dates/timestamps → ISO strings (lexicographic ==
    chronological), decimals → str (re-parsed as Decimal on compare),
    non-finite floats → None (no stats → conservative)."""
    import datetime
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None  # unexpected type: no stats, conservative


import re as _re

_TRANSFORM_RE = _re.compile(
    r"^\s*(years|months|days|hours)\s*\(\s*([A-Za-z_][\w]*)\s*\)\s*$"
)
_PARAM_TRANSFORM_RE = _re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([A-Za-z_][\w]*)\s*\)\s*$"
)


def _partition_transform(spec: str, schema):
    """Parse one ``partition_by`` entry into (source_column,
    hidden_partition_expr) — Iceberg's HIDDEN PARTITIONING transforms,
    so users partition a timestamp table by ``days(ts)`` instead of
    hand-materializing a date column:

    * ``years(c)`` / ``months(c)`` / ``days(c)`` / ``hours(c)`` —
      temporal truncations (each group then spans one bucket of time,
      so its SOURCE-column stats box is a tight interval and range
      pruning on ``c`` works with no extra machinery);
    * ``bucket(n, c)`` — xxhash64 mod n (point lookups prune via the
      per-group blooms if declared; the box can't help on hashes);
    * ``truncate(w, c)`` — width-w value truncation (ints) or prefix
      (strings);
    * a bare column name — partition by the raw value (the pre-r10
      form, unchanged).
    """
    types = {f.name: f.dataType for f in schema.fields}

    def temporal(col, name):
        if types[col].typeName() not in (
            "timestamp", "timestamp_ntz", "date"
        ):
            raise ValueError(
                f"{name}() needs a date/timestamp column, got "
                f"{types[col].typeName()} for {col!r}"
            )

    mt = _TRANSFORM_RE.match(spec)
    if mt:
        fn, col = mt.group(1), mt.group(2)
        if col not in types:
            raise ValueError(f"partition_by column not in data: {col!r}")
        temporal(col, fn)
        expr = {
            "years": lambda c: F.year(c),
            "months": lambda c: F.date_format(c, "yyyy-MM"),
            "days": lambda c: F.to_date(c),
            "hours": lambda c: F.date_format(c, "yyyy-MM-dd-HH"),
        }[fn](F.col(col))
        return col, expr
    mp = _PARAM_TRANSFORM_RE.match(spec)
    if mp:
        fn, n, col = mp.group(1), int(mp.group(2)), mp.group(3)
        if col not in types:
            raise ValueError(f"partition_by column not in data: {col!r}")
        if n <= 0:
            raise ValueError(f"{fn}() width must be positive: {spec!r}")
        if fn == "bucket":
            return col, F.pmod(F.xxhash64(F.col(col)), F.lit(n))
        tname = types[col].typeName()
        if tname in ("byte", "short", "integer", "long"):
            return col, F.col(col) - F.pmod(F.col(col), F.lit(n))
        if tname == "string":
            return col, F.substring(F.col(col), 1, n)
        raise ValueError(
            f"truncate() supports int/string columns, got {tname} "
            f"for {col!r}"
        )
    if spec not in types:
        raise ValueError(
            f"partition_by column not in data: {spec!r} (transforms: "
            f"years/months/days/hours(col), bucket(n, col), "
            f"truncate(w, col))"
        )
    return spec, F.col(spec)


def _sum_stat_expr(f, alias: str):
    """SUM observation for a numeric column (part of the aggregate that
    rides the write, see _write_groups; Parquet footers carry no sums —
    powers agg_where's metadata-only SUM): integral types
    sum in decimal(38,0) so a 100 TB group can't overflow under ANSI,
    decimals sum natively (Spark widens precision), floats as double.
    None for non-numeric columns (no SUM semantics)."""
    name = f.dataType.typeName()
    if name in ("byte", "short", "integer", "long"):
        return F.sum(F.col(f.name).cast("decimal(38,0)")).alias(alias)
    if name.startswith("decimal") or name in ("double", "float"):
        return F.sum(F.col(f.name)).alias(alias)
    return None


def _stat_unjson(v, dtype):
    """Decode a manifest stats value back into the column's Python
    domain (the inverse of _json_safe): ISO strings → datetime/date,
    decimal-as-str → Decimal (collapsed to int for integral columns),
    numerics pass through."""
    import datetime
    import decimal

    if v is None:
        return None
    name = dtype.typeName()
    if name == "date":
        return datetime.date.fromisoformat(v)
    if name in ("timestamp", "timestamp_ntz"):
        return datetime.datetime.fromisoformat(v)
    if name.startswith("decimal"):
        return decimal.Decimal(str(v))
    if name in ("byte", "short", "integer", "long") and isinstance(
        v, str
    ):
        return int(decimal.Decimal(v))
    return v


# string min/max longer than this are TRUNCATED in the manifest
# (Delta stores 32-char prefixes): a documents-style table would
# otherwise carry two full text bodies per group in EVERY manifest —
# metadata growing with payload size, the one thing manifests must
# never do at 100 TB. Truncation keeps the entries valid BOUNDS (see
# _truncate_str_stats), so pruning/containment stay conservative; the
# "trunc" marker tells exact-value consumers (agg_where MIN/MAX) the
# entry is a bound, not the answer — they scan instead.
_STATS_STR_MAX = 64


def _truncate_str_stats(mn: str, mx: str):
    """(min, max, truncated): min prefixes down (a prefix sorts <= the
    full string, valid lower bound); max takes the prefix with its
    rightmost incrementable char bumped and the tail dropped (sorts >
    any string sharing the prefix, valid upper bound — Delta's rule).
    The bump skips the surrogate block (U+D7FF becomes U+E000): a lone
    surrogate is no character, and py4j cannot encode it into the
    literal a MERGE touch test compares against. A max prefix of all
    U+10FFFF cannot be bumped: max becomes None and the caller omits
    the entry (conservative scan)."""
    trunc = False
    if isinstance(mn, str) and len(mn) > _STATS_STR_MAX:
        mn = mn[:_STATS_STR_MAX]
        trunc = True
    if isinstance(mx, str) and len(mx) > _STATS_STR_MAX:
        p = mx[:_STATS_STR_MAX]
        mx = None
        for i in range(len(p) - 1, -1, -1):
            if ord(p[i]) < 0x10FFFF:
                c = ord(p[i]) + 1
                mx = p[:i] + chr(0xE000 if c == 0xD800 else c)
                break
        trunc = True
    return mn, mx, trunc


def _col_stats_entry(mn_raw, mx_raw, nulls: int, rows: int, dtype):
    """Build one column's manifest-stats entry, or ``None`` to OMIT it.

    The manifest encodes two very different facts with min/max:

    * ``min is None and max is None`` **with** ``nulls == rows`` means
      "every value is NULL" — consumers may prune the group against any
      bound (SQL NULL compares to nothing).
    * A non-finite float min/max (NaN/±inf) or an unexpected type is
      "stats exist but are NOT usable for ordering". Encoding those as
      None used to collide with the all-NULL case and let
      ``read(where=...)`` / file-pruned MERGE silently skip groups that
      DO hold in-range rows. Now the column's entry is omitted entirely
      — consumers already treat missing stats as "scan conservatively".

    Long STRING min/max are truncated to bound-preserving prefixes
    with a ``trunc`` marker (r12) — see _STATS_STR_MAX.
    """
    mn, mx = _json_safe(mn_raw, dtype), _json_safe(mx_raw, dtype)
    trunc = False
    if (
        dtype is not None
        and getattr(dtype, "typeName", lambda: "")() == "string"
    ):
        mn, mx, trunc = _truncate_str_stats(mn, mx)
    if (mn is None or mx is None) and nulls != rows:
        # raw value existed but didn't survive _json_safe (non-finite
        # float / unexpected type) or the max prefix was unbumpable:
        # no usable ordering stats
        return None
    out = {"min": mn, "max": mx, "nulls": nulls}
    if trunc:
        out["trunc"] = True
    return out


# -- per-group Bloom filters (point-lookup data skipping) ---------------
#
# Range min/max stats cannot prune POINT lookups on high-cardinality
# unordered keys (uuids, content hashes): every group's [min, max] box
# spans the whole key space, so a MERGE of 100 keys touches every
# group. A per-group Bloom filter answers "could this group contain
# key X?" in O(1) bits — false positives only cost an unnecessary
# rewrite/scan (correctness-safe); false negatives are impossible.
# Blooms ride INSIDE the group's stats entry (key "_bloom"), so every
# existing carry-forward/rebase path propagates them untouched.
# Sizing: ``bits_per_key`` bits per DISTINCT key (default 10, the
# set_bloom_columns knob; NDV observed via approx_count_distinct in
# the same job as the stats — Iceberg's rule, since fpp depends only
# on distinct insertions and row-count sizing wastes bits on
# duplicated keys), clamped to [2^13, 2^24] bits (1 KiB - 2 MiB
# packed per column per group, stored as dense SIDECAR files in the
# group dir — only {m, k, file} rides the manifest JSON); a saturated
# bloom degrades to "always maybe" — never wrong, just not selective.
#
# False-positive math (standard Bloom estimate, k=6 hashes, n keys,
# m = bits_per_key * n): fpp ≈ (1 - e^(-k/bits_per_key))^k
#     bits/key:   5        10        16        20
#     fpp:        ~8.7%    ~0.84%    ~0.094%   ~0.030%
# A false positive only costs an unnecessary group rewrite/scan
# (correctness-safe), so bits_per_key trades sidecar bytes against
# wasted I/O on point lookups and MERGE touch tests —
# tools/ab_bloom.py --sweep-bits measures the trade on real data.

_BLOOM_K = 6
_BLOOM_MIN_BITS = 1 << 13
_BLOOM_MAX_BITS = 1 << 24  # 2 MiB packed: ~800k keys/group at 20 bits/key
_BLOOM_DEFAULT_BITS_PER_KEY = 10


def _bloom_m(rows: int, bits_per_key: int = _BLOOM_DEFAULT_BITS_PER_KEY) -> int:
    m = _BLOOM_MIN_BITS
    while m < bits_per_key * max(1, rows) and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def _bloom_positions(col, m: int) -> list:
    """k bit positions for a value: xxhash64 double-hashed with the
    seed index folded in as a second hashed column (the Python API has
    no seed parameter; hashing (value, i) is equivalent)."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
        for i in range(_BLOOM_K)
    ]


def _bloom_build(
    df: DataFrame,
    cols: list[str],
    rows: int,
    table_path: str,
    group: str,
    bits_per_key: int = _BLOOM_DEFAULT_BITS_PER_KEY,
    ndv: dict | None = None,
) -> dict:
    """One small aggregation per column over the (just-written, so
    page-cached) group: explode the k positions, OR the bits per
    64-bit word, collect (bounded by m/64 rows), and pack the DENSE
    bitset into a SIDECAR file inside the group dir —
    ``<group>/_bloom_<col>.bin`` (the underscore prefix keeps Spark's
    parquet reader from touching it; the file is immutable and travels
    with the group through every carry/rebase/vacuum). The manifest
    stores only {m, k, file}: 1 MiB of filter never inflates the JSON
    (Iceberg keeps blooms in file metadata for the same reason).

    ``ndv`` ({col: approx distinct count}) sizes each filter by the
    column's DISTINCT key count instead of the row count (Iceberg's
    rule): a bloom's fpp depends only on how many distinct values are
    inserted, so on a low-cardinality or heavily duplicated key,
    row-count sizing wastes bits_per_key × (rows − ndv) bits per
    group. approx_count_distinct's few-percent error only moves fpp
    marginally (correctness-safe either way). Columns absent from the
    dict fall back to row-count sizing (a strict upper bound)."""
    out: dict = {}
    for c in cols:
        if c not in df.columns:
            continue
        n_keys = int((ndv or {}).get(c) or rows)
        m = _bloom_m(n_keys, bits_per_key)
        pos = F.explode(
            F.array(*_bloom_positions(F.col(c), m))
        ).alias("p")
        words = (
            df.select(pos)
            .groupBy(F.floor(F.col("p") / 64).cast("long").alias("w"))
            .agg(
                F.bit_or(
                    # SQL form: the DSL shiftleft takes only a literal
                    # shift count, the SQL function takes a column
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
                    )
                ).alias("bits")
            )
            .collect()
        )
        import numpy as np

        arr = np.zeros(m // 64, dtype="<u8")
        for r in words:
            arr[int(r["w"])] = int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
        fname = f"_bloom_{c}.bin"
        with open(os.path.join(table_path, group, fname), "wb") as f:
            f.write(arr.tobytes())
        out[c] = {
            "m": m,
            "k": _BLOOM_K,
            "file": os.path.join(group, fname),
        }
    return out


def _stat_lit(value, dtype):
    """Rebuild a Spark literal of the column's type from a JSON-safe
    stats value (the inverse of _json_safe) — comparisons during MERGE
    pruning happen JVM-side in the column's own type semantics."""
    name = dtype.typeName()
    if name in ("date", "timestamp", "timestamp_ntz") or name.startswith(
        "decimal"
    ):
        return F.lit(value).cast(dtype)
    return F.lit(value)


def _stat_lt(a, b) -> bool:
    """Order stats values; ``False`` on any doubt (caller treats
    not-provably-less as non-prunable — conservative)."""
    import decimal

    try:
        if isinstance(a, str) != isinstance(b, str):
            # mixed domain (decimal-as-str vs a numeric bound)
            a, b = decimal.Decimal(str(a)), decimal.Decimal(str(b))
        return a < b
    except (ValueError, TypeError, decimal.InvalidOperation):
        return False


def _stat_le(a, b) -> bool:
    """PROVABLY a <= b — True only on a successful comparison, False on
    any doubt. The containment-proof dual of _stat_lt: _stat_lt's
    doubt-is-False contract is conservative for PRUNING but
    anti-conservative when NEGATED to prove full containment (a NaN
    stats value, or a cross-domain bound the Decimal fallback can't
    convert, would read as "provably inside" and let count_where count
    a group it should scan — ADVICE r10). NaN is unordered, so
    ``a <= b`` on a float NaN is already False; the except arm covers
    the Decimal('NaN') / unconvertible cases, which RAISE."""
    import decimal

    try:
        if isinstance(a, str) != isinstance(b, str):
            a, b = decimal.Decimal(str(a)), decimal.Decimal(str(b))
        return bool(a <= b)
    except (ValueError, TypeError, decimal.InvalidOperation):
        return False


def _where_bounds(bound) -> tuple:
    """Normalize one ``where`` entry to (lo, hi): a TUPLE is a range
    (either side may be None); a LIST/SET is an IN-set whose box is
    [min, max] (the per-value bloom refinement happens separately).
    A value list whose members aren't mutually comparable (a mixed-type
    IN-set out of an OR-hull) has no usable box — (None, None), never a
    TypeError at group-match time (ADVICE r10)."""
    if isinstance(bound, (list, set, frozenset)):
        vs = [v for v in bound if v is not None]
        if not vs:
            return (None, None)
        try:
            return (min(vs), max(vs))
        except TypeError:
            return (None, None)
    lo, hi = bound
    return (lo, hi)


def derive_prune_bounds(condition) -> dict:
    """Delta-file-skipping-style predicate analysis: the per-column
    bounds IMPLIED by a DataFrame predicate, in prune_where form —
    ``{col: (lo, hi)}`` ranges and ``{col: [v1, ...]}`` IN-sets. The
    contract is one-directional soundness: condition TRUE for a row ⇒
    every bound in the returned dict holds for that row (so a group
    whose stats box is disjoint from the bounds provably holds no
    matching row). An EMPTY dict means "nothing derivable — scan
    everything"; it never guesses.

    Walks the Spark 4 ColumnNode tree (UnresolvedFunction /
    UnresolvedAttribute / Literal) via the column's JVM handle:

    * comparisons (=, >, >=, <, <=) between a BARE column and a
      literal (either side) → a range; literals may be int/float/str,
      Decimal, or date/timestamp (converted to the stats domain's ISO
      encodings, where lexicographic order == time order);
    * IN over literals → a value list (read()'s bloom refinement form);
    * AND → per-column interval intersection;
    * OR  → per-column hull, and only for columns bounded on BOTH
      branches (a column bounded on one branch only is unconstrained);
    * anything else (NOT, isNull, UDFs, col-vs-col, binary/array
      literals, compound names) contributes nothing — conservative.

    NULL semantics make comparison-derived bounds safe: a comparison
    never evaluates TRUE on a NULL operand, so "condition TRUE ⇒ col
    in range" includes "col is non-null" for free — exactly the
    guarantee _group_may_match's all-NULL pruning relies on.
    """
    try:
        return _node_bounds(condition._jc.node()) or {}
    except Exception:
        return {}  # unexpected tree shape: no pruning, never wrong


_RANGE_OPS = {
    ">": lambda v: (v, None),
    ">=": lambda v: (v, None),
    "<": lambda v: (None, v),
    "<=": lambda v: (None, v),
    "=": lambda v: (v, v),
    "==": lambda v: (v, v),
}
_FLIPPED = {">": "<", ">=": "<=", "<": ">", "<=": ">=", "=": "=", "==": "=="}


def _node_attr_name(node) -> str | None:
    """Bare column name of an UnresolvedAttribute node (None for
    compound a.b names — those are never stats columns)."""
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        return None
    parts = node.nameParts()
    if parts.size() != 1:
        return None
    return parts.apply(0)


def _node_literal(node):
    """(ok, value) for a Literal node, converted into the manifest
    STATS domain (the _json_safe encodings) so derived bounds compare
    directly against group min/max:

    * Python primitives (int/float/str) pass through;
    * decimal.Decimal passes through (_stat_lt compares decimal-vs-str
      numerically, and _json_safe re-encodes it for the rebase box);
    * java.sql.Date → its ISO yyyy-mm-dd toString, the same encoding
      _json_safe gives observed date stats;
    * java.sql.Timestamp → isoformat-canonical form: 'T' separator and
      the fraction normalized to isoformat's convention (exactly six
      digits when nonzero, absent when zero) — Timestamp.toString says
      "…:45.0" where datetime.isoformat says "…:45", and a mixed
      encoding would make lexicographic comparison disagree with time
      order exactly at whole-second boundaries (a wrong prune).

    bool and NULL literals yield no bound (bool ranges are useless;
    a comparison with NULL never evaluates TRUE)."""
    import decimal

    if node.getClass().getSimpleName() != "Literal":
        return False, None
    v = node.value()
    if isinstance(v, bool) or v is None:
        return False, None
    if isinstance(v, (int, float, str, decimal.Decimal)):
        return True, v
    cls = v.getClass().getName() if hasattr(v, "getClass") else None
    if cls == "java.sql.Date":
        return True, str(v.toString())
    if cls == "java.sql.Timestamp":
        s = str(v.toString())
        date_part, _, time_part = s.partition(" ")
        base, _, frac = time_part.partition(".")
        # Spark timestamps are microsecond precision, so padding /
        # truncating the printed fraction to 6 digits is lossless
        micros = int((frac + "000000")[:6]) if frac else 0
        time_part = base + (f".{micros:06d}" if micros else "")
        return True, f"{date_part}T{time_part}"
    return False, None  # binary / array / struct / unknown JVM object


def _bounds_intersect(a, b):
    """AND of two per-column bounds (each a (lo,hi) tuple or a list)."""
    if isinstance(a, list) and isinstance(b, list):
        sb = set(b)
        sa = [v for v in a if v in sb]
        return sa if sa else a  # empty intersection: keep either (sound)
    if isinstance(a, list) or isinstance(b, list):
        vs, (lo, hi) = (a, b) if isinstance(a, list) else (b, a)
        kept = [
            v
            for v in vs
            if not (lo is not None and _stat_lt(v, lo))
            and not (hi is not None and _stat_lt(hi, v))
        ]
        return kept if kept else vs
    (alo, ahi), (blo, bhi) = a, b
    lo = alo if blo is None else blo if alo is None else max(alo, blo) \
        if type(alo) == type(blo) else alo
    hi = ahi if bhi is None else bhi if ahi is None else min(ahi, bhi) \
        if type(ahi) == type(bhi) else ahi
    return (lo, hi)


def _bounds_hull(a, b):
    """OR of two per-column bounds: the convex hull."""
    if isinstance(a, list) and isinstance(b, list):
        sa = set(a)
        vs = a + [v for v in b if v not in sa]
        try:
            min(vs), max(vs)  # comparability probe (mixed-type IN-sets
            # out of e.g. isin(1,2) | isin('a') have no orderable box —
            # mirror the range branch's type-mismatch fallback)
        except TypeError:
            return (None, None)
        return vs
    alo, ahi = _where_bounds(a)
    blo, bhi = _where_bounds(b)
    if alo is None or blo is None or ahi is None or bhi is None:
        lo = None if (alo is None or blo is None) else min(alo, blo)
        hi = None if (ahi is None or bhi is None) else max(ahi, bhi)
        return (lo, hi)
    if type(alo) != type(blo) or type(ahi) != type(bhi):
        return (None, None)
    return (min(alo, blo), max(ahi, bhi))


def _node_bounds(node) -> dict:
    if node.getClass().getSimpleName() != "UnresolvedFunction":
        return {}
    fn = node.functionName()
    args = node.arguments()
    n = args.size()
    if fn == "and" and n == 2:
        left = _node_bounds(args.apply(0))
        right = _node_bounds(args.apply(1))
        out = dict(left)
        for c, b in right.items():
            out[c] = _bounds_intersect(out[c], b) if c in out else b
        return out
    if fn == "or" and n == 2:
        left = _node_bounds(args.apply(0))
        right = _node_bounds(args.apply(1))
        return {
            c: _bounds_hull(left[c], right[c])
            for c in set(left) & set(right)
        }
    if fn == "in" and n >= 2:
        col = _node_attr_name(args.apply(0))
        if col is None:
            return {}
        vals = []
        for i in range(1, n):
            ok, v = _node_literal(args.apply(i))
            if not ok:
                return {}  # a non-literal member: can't bound the set
            vals.append(v)
        return {col: vals} if vals else {}
    if fn in _RANGE_OPS and n == 2:
        col = _node_attr_name(args.apply(0))
        lit_side = 1
        if col is None:
            col = _node_attr_name(args.apply(1))
            lit_side = 0
            fn = _FLIPPED[fn]
        if col is None:
            return {}
        ok, v = _node_literal(args.apply(lit_side))
        if not ok:
            return {}
        return {col: _RANGE_OPS[fn](v)}
    return {}


def _canon_stats_value(v, dtype):
    """(ok, canon): coerce one bound literal into the column's STATS
    domain encoding so _stat_lt/_stat_le compare apples to apples
    (ADVICE r10, high). The dangerous case is a Python str literal on
    a temporal column — Spark casts ``F.col('ts') < '2020-01-15
    12:00:00'`` implicitly, but the stats domain is isoformat with a
    'T' separator, and ``' ' < 'T'`` makes lexicographic order disagree
    with time order for same-day values (a WRONG prune → silent row
    loss). Decimal columns have the mirror problem: their stats are
    numeric-as-str, so a str literal would compare lexicographically
    ('10.0' < '9.5'). ok=False means the literal can't be made
    comparable — the caller DROPS the bound for that column (scan,
    never a wrong prune)."""
    import datetime
    import decimal

    name = dtype.typeName()
    if name in ("timestamp", "timestamp_ntz", "date"):
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                return False, None
            if name == "date":
                # a datetime bound on a DATE column: its isoformat
                # ('T'-separated) would mis-order against the date
                # stats domain ('2020-01-15' < '...T00:00:00'
                # lexicographically — a wrong equality prune). The
                # date part is the sound box: flooring a lower bound
                # keeps more groups, and a date row can only satisfy
                # hi <= <datetime> if its date <= the datetime's date.
                return True, v.date().isoformat()
            return True, v.isoformat()
        if isinstance(v, datetime.date):
            if name != "date":
                # a date bound on a TIMESTAMP column: midnight form
                return True, datetime.datetime(
                    v.year, v.month, v.day
                ).isoformat()
            return True, v.isoformat()
        if not isinstance(v, str):
            return False, None
        try:
            if name == "date":
                return True, datetime.date.fromisoformat(v).isoformat()
            dt = datetime.datetime.fromisoformat(v)
        except ValueError:
            return False, None
        if dt.tzinfo is not None:
            # stats are naive-encoded; a zoned literal isn't comparable
            return False, None
        return True, dt.isoformat()
    if name.startswith("decimal"):
        if isinstance(v, decimal.Decimal):
            return True, v
        if isinstance(v, (int, float, str)) and not isinstance(v, bool):
            try:
                d = decimal.Decimal(str(v))
            except decimal.InvalidOperation:
                return False, None
            return (True, d) if d.is_finite() else (False, None)
        return False, None
    # numeric/str/bool columns: _stat_lt's Decimal fallback already
    # handles str-vs-number mixes numerically; pass through
    return True, v


def _normalize_prune_bounds(where: dict, types: dict) -> tuple:
    """Re-encode a bounds dict into the manifest stats domain using the
    manifest SCHEMA (the application sites know it; derivation doesn't).
    Returns ``(normalized, dropped)``: ``normalized`` is a new dict safe
    to hand to _group_may_match / bloom refinement, with any
    un-normalizable column bound REMOVED (that column simply can't
    prune — conservative); ``dropped`` names the removed columns so
    containment proofs (_group_fully_contained consumers) know the
    normalized dict is WEAKER than the caller's predicate and must not
    treat box-inside as row-filter-true. Columns absent from ``types``
    pass through (no stats will exist for them either)."""
    out, dropped = {}, set()
    for col, bound in where.items():
        dtype = types.get(col)
        if dtype is None:
            out[col] = bound
            continue
        if isinstance(bound, (list, set, frozenset)):
            vals, ok = [], True
            for v in bound:
                if v is None:
                    continue
                o, c = _canon_stats_value(v, dtype)
                if not o:
                    ok = False
                    break
                vals.append(c)
            if ok:
                out[col] = vals
            else:
                dropped.add(col)
            continue
        try:
            lo, hi = bound
        except (TypeError, ValueError):
            out[col] = bound  # malformed: downstream validation raises
            continue
        ok_lo, lo_c = (
            (True, None) if lo is None else _canon_stats_value(lo, dtype)
        )
        ok_hi, hi_c = (
            (True, None) if hi is None else _canon_stats_value(hi, dtype)
        )
        if ok_lo and ok_hi:
            out[col] = (lo_c, hi_c)
        else:
            dropped.add(col)
    return out, dropped


def _group_may_match(gstats: dict | None, where: dict) -> bool:
    """Can any row of a group satisfy every [lo, hi] bound (or IN-set,
    boxed to its [min, max])? Missing stats → True (scan it); an
    all-NULL column can satisfy no bound → prunable, matching SQL
    comparison-with-NULL semantics."""
    if not gstats:
        return True
    for col, bound in where.items():
        lo, hi = _where_bounds(bound)
        st = gstats.get(col)
        if not st:
            continue  # no stats for this column in this group
        mn, mx = st.get("min"), st.get("max")
        if mn is None or mx is None:
            # all-NULL proof requires nulls == rows (legacy manifests
            # encoded non-finite float min/max as None with non-null
            # rows — those must scan, not prune)
            nulls, rows = st.get("nulls"), gstats.get("_rows")
            if (
                (lo is not None or hi is not None)
                and nulls is not None
                and rows is not None
                and int(nulls) == int(rows)
            ):
                return False  # no non-null values: no row can compare
            continue
        if lo is not None and _stat_lt(mx, lo):
            return False
        if hi is not None and _stat_lt(hi, mn):
            return False
    return True


def _group_fully_contained(gstats: dict | None, where: dict) -> bool:
    """Does EVERY row of the group provably satisfy every bound — the
    stats box fully inside the where box, with ZERO nulls in each
    referenced column (NULL rows live in ``_rows`` but fail any SQL
    comparison, so one null breaks the proof)? IN-set bounds are never
    provable by a box (the box says values lie in [min, max], not that
    each equals a member). The dual of _group_may_match: may_match
    False ⇒ count 0, fully_contained True ⇒ count ``_rows``, anything
    between ⇒ scan."""
    if not gstats:
        return False
    for col, bound in where.items():
        if isinstance(bound, (list, set, frozenset)):
            return False
        lo, hi = bound
        st = gstats.get(col)
        if not isinstance(st, dict):
            return False
        mn, mx = st.get("min"), st.get("max")
        if mn is None or mx is None:
            return False
        nulls = st.get("nulls")
        if nulls is None or int(nulls) > 0:
            return False
        # proofs need PROVABLY-inside (_stat_le: False on any doubt);
        # negating doubt-is-False _stat_lt would read a NaN/unorderable
        # stats value as "provably contained" (ADVICE r10, medium)
        if lo is not None and not _stat_le(lo, mn):
            return False
        if hi is not None and not _stat_le(mx, hi):
            return False
    return True


# Size gate for the write-side REBALANCE hint (see _size_write_delta):
# only deltas of at most this many estimated bytes get the extra
# shuffle. 256 MB = 4x the 64 MB AQE advisory — a cluster that raises
# advisoryPartitionSizeInBytes should raise this in step. Rationale:
# the small-files pathology the hint fixes only exists for small
# deltas (a 1k-row commit landing as one ~30-row file per upstream
# partition); for a large delta the shuffle is a full extra pass over
# the data that buys nothing locally (measured 1.7x slower on a
# 20M-row/280 MB commit with the file count UNCHANGED at 32 either
# way, because AQE's default parallelism-first coalescing targets
# bytes/cores, not the advisory — measured when the gate landed,
# revision 9f98adb).
_WRITE_REBALANCE_MAX_BYTES = 256 << 20
# Plans whose leaves have no real statistics (e.g. LogicalRDD from a
# localCheckpoint, createDataFrame over Python rows, or a foreachBatch
# micro-batch that commit() appends) report the defaultSizeInBytes
# sentinel (Long.MaxValue); joins can multiply finite estimates past
# it too. At or above this, the estimate carries no information. MERGE
# writes are not such plans: merge_into / apply_changes pin their
# source, and once the touch test has filled the cache it reports its
# real size.
_STATS_UNKNOWN = 1 << 62


def _write_size_estimate(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate for the about-to-be-written
    DataFrame, or None when unknown (the defaultSizeInBytes sentinel
    from LogicalRDD-backed plans, or a py4j/connect edge). Same
    statistic broadcast planning trusts; plan-time only, no Spark
    job."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover — py4j/connect edge
        return None
    if est >= _STATS_UNKNOWN:
        return None
    return est


def _advisory_bytes(spark) -> int:
    """AQE's advisory partition size (the write-sizing target) from the
    session conf, read with Spark's byte-string grammar
    (tables._parse_bytes, so "1t" or "134217728b" read as Spark reads
    them); 64 MB fallback mirrors session.py."""
    from .tables import _parse_bytes

    raw = "64m"
    try:
        raw = spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
        )
    except Exception:  # pragma: no cover
        pass
    return _parse_bytes(raw)


def _size_write_delta(df: DataFrame) -> DataFrame:
    """Write-side file sizing (guide §6) for one data-group write.

    A commit delta arriving in N upstream partitions otherwise lands as
    N files regardless of size — a 1k-row exactly-once commit on
    local[32] wrote 32 ~30-row files, and the per-file-planned
    changefeed then fanned a tiny catch-up into 256 Python tasks. Three
    outcomes, by the optimizer's size estimate:

    * over _WRITE_REBALANCE_MAX_BYTES: ``df`` as is — a LARGE delta
      keeps its upstream partitioning; there the extra shuffle costs a
      full pass over the data and cannot produce the tiny-files
      pathology anyway.
    * KNOWN and at most the AQE advisory size: ``coalesce(1)`` — the
      rebalance would coalesce to ONE partition anyway, and coalesce
      produces the identical single-file layout with ZERO shuffle (the
      hint pays an exchange + one AQE stage materialization per write;
      an MV-refresh cycle runs several).
    * anything else, unknown estimates included: a REBALANCE hint,
      which makes AQE coalesce the write to advisory-sized partitions —
      one bounded shuffle of the delta, the Iceberg
      write.distribution-mode analog. The unknown-stats shapes
      (appended micro-batches, checkpointed fixtures) are mostly small
      commits that need the protection; coalesce on a misjudged large
      one would serialize the whole write onto one task.

    Only the one-group form of _write_groups passes through here; its
    multi-group form (partitioned commits, clustering) writes the
    caller's own shuffle, so no clustered ordering is destroyed."""
    est = _write_size_estimate(df)
    if est is not None and est > _WRITE_REBALANCE_MAX_BYTES:
        return df
    if est is not None and est <= _advisory_bytes(df.sparkSession):
        return df.coalesce(1)
    return df.hint("rebalance")


_STATS_EXPR_CACHE: dict = {}


def _minmax_nulls_exprs(f, i: int) -> list:
    """Min, max and NULL count of ``f``, the ``i``-th stats column, as
    aggregate Columns."""
    return [
        F.min(f.name).alias(f"mn_{i}"),
        F.max(f.name).alias(f"mx_{i}"),
        F.sum(F.when(F.col(f.name).isNull(), 1).otherwise(0)).alias(
            f"nu_{i}"
        ),
    ]


def _stats_observe_exprs(
    cols: tuple, checks_items: tuple, ndv_cols: tuple
) -> tuple[list, set]:
    """The one aggregate list behind every group's manifest stats: what
    the Parquet footers cannot answer (see _write_groups). Min/max/null
    count per stats-eligible column that is not a footer type
    (_FOOTER_STATS), SUM per numeric column, a violation count per
    CHECK constraint, approx NDV per bloom column — so the list is
    empty for an all-string table with no CHECK or bloom. The Columns
    serve as ``observe(...)`` on a one-group write and as
    ``groupBy(<group id>).agg(...)`` over a multi-group write.
    Memoized per (schema, checks, bloom, SparkContext) signature.

    The Columns are unresolved expressions, reusable across any number
    of DataFrames under the same JVM; building them fresh costs ~400
    py4j round trips PER WRITE (r17 site-attributed profile) for a
    signature that repeats on every commit of the same table — the
    single largest plan-construction site on the MV refresh path."""
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    key = (
        id(ctx),
        tuple((f.name, f.dataType.json()) for f in cols),
        checks_items,
        ndv_cols,
    )
    hit = _STATS_EXPR_CACHE.get(key)
    if hit is not None:
        return hit
    checks = dict(checks_items)
    exprs: list = []
    summable: set = set()
    for i, f in enumerate(cols):
        if not _footer_stats_type(f.dataType):
            exprs.extend(_minmax_nulls_exprs(f, i))
        se = _sum_stat_expr(f, f"sm_{i}")
        if se is not None:
            exprs.append(se)
            summable.add(i)
    for i, name in enumerate(sorted(checks)):
        bad = ~F.coalesce(F.expr(checks[name]), F.lit(True))
        exprs.append(
            F.sum(F.when(bad, 1).otherwise(0)).alias(f"ck_{i}")
        )
    # approx NDV per bloom column observed in the SAME job — sizes the
    # filters by distinct keys, not rows (see _bloom_build's ndv note)
    for i, c in enumerate(ndv_cols):
        exprs.append(F.approx_count_distinct(c).alias(f"nd_{i}"))
    if len(_STATS_EXPR_CACHE) > 256:  # stale-context / churn backstop
        _STATS_EXPR_CACHE.clear()
    _STATS_EXPR_CACHE[key] = (exprs, summable)
    return exprs, summable


def _data_files(d: str) -> list[str]:
    """Paths of one group directory's data files: its parquet files,
    not the ``_``-prefixed bloom sidecars and markers or ``.``
    checksums."""
    return [
        os.path.join(d, n)
        for n in os.listdir(d)
        if not n.startswith(("_", "."))
    ]


def _files_bytes(paths: list[str]) -> int:
    """Data bytes of ``paths`` (a group's _data_files)."""
    return sum(os.path.getsize(p) for p in paths)


def _read_footer(path: str):
    """One data file's Parquet footer (a pyarrow FileMetaData)."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path)


def _chunk_stats(s, rows: int):
    """(min, max, nulls) from the footer statistics ``s`` of one column
    chunk of ``rows`` rows (min and max None when every value is NULL),
    or None where they cannot answer: no null count, or no min/max
    beside non-NULL values (parquet-mr writes neither when a chunk's
    min and max together exceed 4 KB), or a string min/max that is not
    valid UTF-8 (Spark reads it with U+FFFD in place)."""
    if s is None or not s.has_null_count:
        return None
    if not s.has_min_max:
        return (None, None, s.null_count) if s.null_count == rows else None
    try:
        return s.min, s.max, s.null_count
    except UnicodeDecodeError:
        return None


def _footer_stats(mds: list, fcols: dict) -> tuple[int, dict]:
    """(rows, {i: (min, max, nulls) or None}) of one group, folded over
    the footers ``mds`` of its files and their row groups, for the
    footer-type columns ``fcols`` ({stats index: field}). None marks a
    column that some chunk cannot answer (_chunk_stats), or dates that
    Spark's LEGACY rebase mode stored in the Julian calendar: the
    fallback aggregate answers those."""
    rows = 0
    out = {i: (None, None, 0) for i in fcols}
    for md in mds:
        rows += md.num_rows
        # top-level primitive columns by name; a name two leaves share
        # (a column "a.b" beside a required struct a) is ambiguous
        leaf: dict = {}
        for j in range(md.num_columns):
            c = md.schema.column(j)
            if c.max_repetition_level == 0 and c.max_definition_level <= 1:
                leaf[c.path] = None if c.path in leaf else j
        rebased = b"org.apache.spark.legacyDateTime" in (md.metadata or {})
        for k in range(md.num_row_groups):
            rg = md.row_group(k)
            for i, f in fcols.items():
                j = leaf.get(f.name)
                if out[i] is None:
                    continue
                c = None
                if j is not None and not (
                    rebased and f.dataType.simpleString() == "date"
                ):
                    c = _chunk_stats(rg.column(j).statistics, rg.num_rows)
                if c is None:
                    out[i] = None
                    continue
                (lo, hi, n), (mn, mx, nulls) = c, out[i]
                if lo is not None:
                    mn = lo if mn is None or lo < mn else mn
                    mx = hi if mx is None or hi > mx else mx
                out[i] = (mn, mx, nulls + n)
    return rows, out


def _flat_name(gid: str, name: str) -> str:
    """A staged file's name in the flat stats directory: prefixed by
    its group id, keeping a leading ``.``/``_`` so checksums and markers
    stay hidden from the reader."""
    if name.startswith((".", "_")):
        return f"{name[0]}{gid}-{name[1:]}"
    return f"{gid}-{name}"


def _write_groups(
    df: DataFrame, table_path: str, m: dict, part_cols: tuple = ()
) -> tuple[list[str], dict]:
    """Write ``df`` as new data groups of the table at ``table_path``;
    returns (groups, {group: stats entry}). ``m`` is the manifest the
    write is computed against: its CHECK constraints are validated and
    its bloom columns get a per-group sidecar. Every write of data
    groups — plain, partitioned and MERGE/DML commits, compaction,
    clustering — goes through here, so groups of the same rows carry
    the same stats however they were written.

    * No ``part_cols``: ONE group. The _stats_observe_exprs aggregates,
      if any, ride the write job as an Observation (no second scan,
      which matters when the group is TBs); _size_write_delta sizes its
      files.
    * ``part_cols``: ``df`` arrives shuffled by the caller and carries
      the derived columns ``part_cols``; each distinct value becomes
      one group. A staged ``partitionBy`` write lays the values out as
      directories (the derived columns leave the files, every source
      column stays), each leaf directory becomes an immutable group —
      in name order with digit runs compared as numbers, so
      clustering's ``__bucket=2`` precedes ``__bucket=10`` and the
      groups stay in key order. When the aggregate list is not empty,
      ONE grouped aggregate of it, keyed by the group id each file
      carries while all of them sit in one flat staging directory,
      yields every group's share.

    Each group's ``_rows``, and min/max/nulls of its footer-type
    columns (_FOOTER_STATS), are folded from the Parquet footers of the
    files just written (_footer_stats). Cost model: one footer read per
    data file written, O(files) and never O(rows), serial, from the
    same _data_files listing that sizes ``_bytes``. A footer-type
    column some footer cannot answer (a string over 4 KB) takes its
    stats from one fallback aggregate over the written groups — the
    only case that reads the data back.

    The entry holds ``_rows``, ``_bytes`` (data bytes: compact() sizes
    groups from it without walking the data tree), ``{"min", "max",
    "nulls"}`` (+ ``"sum"`` for numerics) per stats-eligible column,
    and ``_bloom`` when blooms are declared. CHECK violations raise
    ConstraintViolationError AFTER the write: the data files become
    orphans that no manifest references (the standard crash-window
    shape, reclaimed by vacuum), so atomicity is preserved without a
    separate validation pass. CHECK semantics are SQL's: a
    NULL-evaluating condition PASSES (only FALSE violates)."""
    import shutil

    from pyspark.sql import Observation
    from pyspark.sql.types import StructType

    spark = df.sparkSession
    checks = m.get("constraints") or {}
    bloom_cols = m.get("bloom_cols") or []
    schema = StructType(
        [f for f in df.schema.fields if f.name not in part_cols]
    )
    cols = [f for f in schema.fields if _stats_eligible(f.dataType)]
    fcols = {
        i: f for i, f in enumerate(cols) if _footer_stats_type(f.dataType)
    }
    ndv_cols = [c for c in bloom_cols if c in schema.names]
    exprs, summable = _stats_observe_exprs(
        tuple(cols), tuple(sorted(checks.items())), tuple(ndv_cols)
    )

    def footers(files: dict) -> tuple[dict, list]:
        """{group: (rows, bytes, footer stats)} of ``files`` ({group:
        data file paths}), and the fallback aggregate's Columns."""
        foot = {}
        for g, paths in files.items():
            rows, fs = _footer_stats([_read_footer(p) for p in paths], fcols)
            foot[g] = (rows, _files_bytes(paths), fs)
        late = sorted(
            {i for *_, fs in foot.values() for i, v in fs.items() if v is None}
        )
        return foot, [e for i in late for e in _minmax_nulls_exprs(cols[i], i)]

    if not part_cols:
        group = os.path.join("data", uuid.uuid4().hex)
        gd = os.path.join(table_path, group)
        out = _size_write_delta(df)
        if exprs:
            obs = Observation()
            out = out.observe(obs, *exprs)
        out.write.parquet(gd)
        foot, late = footers({group: _data_files(gd)})
        aggs = {group: dict(obs.get) if exprs else {}}
        if late:
            aggs[group].update(
                spark.read.schema(schema).parquet(gd).agg(*late).first()
                .asDict()
            )
    else:
        staged = os.path.join(
            table_path, "data", f"stage-{uuid.uuid4().hex}"
        )
        df.write.partitionBy(*part_cols).parquet(staged)
        leaves = [staged]
        for _ in part_cols:
            leaves = [
                os.path.join(d, n)
                for d in leaves
                for n in sorted(
                    os.listdir(d),
                    key=lambda name: [
                        int(t) if t.isdecimal() else t
                        for t in _re.split(r"(\d+)", name)
                    ],
                )
                if os.path.isdir(os.path.join(d, n))
            ]
        # the aggregate reads ONE flat directory holding every leaf's
        # files under a group-id prefix: one path per group would make
        # Spark list past 32 paths (parallelPartitionDiscovery
        # threshold) in an extra job, and so would one root holding
        # more than 32 leaf directories
        flat = os.path.join(staged, "flat")
        os.mkdir(flat)
        moved: dict[str, list[str]] = {}
        files: dict[str, list[str]] = {}
        for d in leaves:
            gid = uuid.uuid4().hex
            files[os.path.join("data", gid)] = [
                os.path.join(flat, _flat_name(gid, os.path.basename(p)))
                for p in _data_files(d)
            ]
            moved[gid] = sorted(os.listdir(d))
            for n in moved[gid]:
                os.rename(
                    os.path.join(d, n), os.path.join(flat, _flat_name(gid, n))
                )
        foot, late = footers(files)
        aggs = {g: {} for g in foot}
        if foot and (exprs or late):
            # the files' schema IS ``schema``: read under it instead of
            # inferring, which runs a footer-reading job at plan time
            for r in (
                spark.read.schema(schema)
                .parquet(flat)
                .groupBy(
                    F.regexp_extract(
                        F.input_file_name(), "/([0-9a-f]{32})-[^/]*$", 1
                    ).alias("__g")
                )
                .agg(*exprs, *late)
                .collect()
            ):
                aggs[os.path.join("data", r["__g"])] = r.asDict()
        for gid, names in moved.items():
            g = os.path.join("data", gid)
            os.mkdir(os.path.join(table_path, g))
            for n in names:
                os.rename(
                    os.path.join(flat, _flat_name(gid, n)),
                    os.path.join(table_path, g, n),
                )
        shutil.rmtree(staged, ignore_errors=True)
    violated = {}
    for i, name in enumerate(sorted(checks)):
        n = sum(int(r[f"ck_{i}"] or 0) for r in aggs.values())
        if n:
            violated[name] = n
    if violated:
        raise ConstraintViolationError(
            "CHECK constraint(s) violated: "
            + ", ".join(
                f"{n} ({c} rows, condition: {checks[n]!r})"
                for n, c in violated.items()
            )
            + "; the rejected data groups are unreferenced and will be "
            "vacuumed"
        )
    stats: dict = {}
    for g, (rows, nbytes, fs) in foot.items():
        r = aggs[g]
        st: dict = {"_rows": rows, "_bytes": nbytes}
        for i, f in enumerate(cols):
            mn, mx, nulls = fs.get(i) or (
                r[f"mn_{i}"], r[f"mx_{i}"], int(r[f"nu_{i}"] or 0)
            )
            entry = _col_stats_entry(mn, mx, nulls, rows, f.dataType)
            if entry is None:
                continue
            if i in summable:
                sm = _json_safe(r[f"sm_{i}"], f.dataType)
                if r[f"sm_{i}"] is None or sm is not None:
                    entry["sum"] = sm  # None = all-NULL (SQL SUM=NULL)
            st[f.name] = entry
        if bloom_cols:
            gd = os.path.join(table_path, g)
            # a second (tiny, page-cached) pass over the group just
            # written: an aggregate cannot express the per-row
            # k-position fan-out
            blooms = _bloom_build(
                spark.read.schema(schema).parquet(gd), bloom_cols, rows,
                table_path, g,
                bits_per_key=m.get("bloom_bits")
                or _BLOOM_DEFAULT_BITS_PER_KEY,
                ndv={
                    c: int(r[f"nd_{i}"] or 0)
                    for i, c in enumerate(ndv_cols)
                },
            )
            if blooms:
                st["_bloom"] = blooms
        stats[g] = st
    return list(foot), stats


class SchemaMismatchError(ValueError):
    """Append schema differs from the table's current schema."""


class ConstraintViolationError(ValueError):
    """Incoming rows violate a table CHECK constraint."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _check_ref_name(name: str) -> None:
    """Tag/branch names become filesystem entries under _refs/ — keep
    them to one path segment of safe characters."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,127}", name or ""):
        raise ValueError(
            f"invalid ref name {name!r}: use [A-Za-z0-9._-], start "
            "alphanumeric, max 128 chars"
        )


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:08d}.json")


# -- metadata scaling (hint + checkpoint) --------------------------------
#
# At real commit volumes (~100k snapshots) three metadata walks grow
# linearly and start to dominate the COMMIT path itself:
#   * latest_version() listed the whole _manifests dir on every call —
#     and optimistic-concurrency loops call it per retry;
#   * version_as_of() loaded EVERY manifest to find a timestamp;
#   * history() loaded every manifest.
# The fixes are the Iceberg version-hint + metadata-checkpoint ideas:
#   * `_latest.hint` records the newest version after each publish
#     (best-effort, atomically replaced). latest_version() reads the
#     hint and probes FORWARD with os.path.exists until the first gap —
#     O(1 + commits-since-hint) file ops, no listing. A stale/missing/
#     corrupt hint falls back to the full listing, so the hint is never
#     load-bearing for correctness.
#   * version_as_of() binary-searches the manifest list on committed_at
#     (monotone by construction — _publish clamps child >= parent), so
#     resolution loads O(log n) manifests.
#   * `_history.ckpt.json` checkpoints the audit rows every
#     _CKPT_EVERY commits (the incremental extension loads only the
#     manifests since the previous checkpoint — amortized one extra
#     load per commit); history() reads checkpoint rows + only the
#     manifests newer than the checkpoint. vacuum() trims expired rows.

_HINT_NAME = "_latest.hint"
_CKPT_NAME = "_history.ckpt.json"
_CKPT_EVERY = 64
# The checkpoint is a BASE file plus an append-only SEGMENT log: each
# extension writes ONLY the new rows as one segment file (O(delta) per
# commit, the base is never rewritten on the commit path), and the
# segments fold into the base when _SEG_COMPACT of them accumulate or
# when vacuum trims expired rows — so the whole-file rewrite is paid
# once per _SEG_COMPACT * _CKPT_EVERY commits, not per _CKPT_EVERY.
_SEG_DIR = "_history_segs"
_SEG_COMPACT = 16


def _hint_path(path: str) -> str:
    return os.path.join(_manifest_dir(path), _HINT_NAME)


def _ckpt_path(path: str) -> str:
    return os.path.join(_manifest_dir(path), _CKPT_NAME)


def _seg_dir(path: str) -> str:
    return os.path.join(_manifest_dir(path), _SEG_DIR)


def _seg_files(path: str) -> list[tuple[int, str]]:
    """(upto, fullpath) for every history segment, sorted by upto.
    The segment directory holds at most ~_SEG_COMPACT entries, so this
    listing is O(1)-ish — never the O(#manifests) listing the hint and
    checkpoint anchors exist to avoid."""
    d = _seg_dir(path)
    out: list[tuple[int, str]] = []
    try:
        names = os.listdir(d)
    except OSError:
        return out
    for name in names:
        if not (name.startswith("seg-") and name.endswith(".json")):
            continue
        try:
            out.append((int(name[4:-5]), os.path.join(d, name)))
        except ValueError:
            continue
    out.sort()
    return out


def _history_row(version: int, m: dict) -> dict:
    return {
        "version": version,
        "parent": m.get("parent"),
        "mode": m.get("mode"),
        "n_groups": len(m.get("groups", [])),
        "txn": m.get("txn") or {},
        # carried so inspect_history stays checkpoint-served (a
        # pre-r11 checkpoint lacks these; readers fall back to the
        # manifest for exactly those rows)
        "committed_at": m.get("committed_at"),
        "n_added": len(m.get("added") or []),
        # the ADDED group list itself (r14): long changefeed/CDF
        # backfills plan their per-version partitions from checkpoint
        # rows instead of parsing every interim manifest (each of
        # which carries the FULL group list + per-group stats — the
        # measured residual at 400-group tables). None for legacy
        # manifests without the explicit delta; the planner falls
        # back to the manifest for exactly those versions.
        "added": m.get("added"),
        # added data bytes (r14): lets the files/bytes admission walk
        # (_admitted_end) bound long catch-up backlogs without parsing
        # each manifest. None when any added group lacks write-time
        # _bytes (legacy) — consumers fall back to the manifest.
        "added_bytes": _added_bytes(m),
    }


def _added_bytes(m: dict) -> int | None:
    added = m.get("added")
    if added is None:
        return None
    stats = m.get("stats") or {}
    total = 0
    for g in added:
        b = (stats.get(g) or {}).get("_bytes")
        if b is None:
            return None
        total += int(b)
    return total


# -- O(delta) commit metadata (delta manifests + snapshot cadence) -------
#
# A full manifest serializes the WHOLE table state — group list,
# per-group stats boxes, bloom refs, delete entries, colmaps — so every
# commit paid O(table width) in serialization and bytes even when it
# touched one group (measured: `compact` of a fixed 20-group backlog
# 0.46 s -> 4.0 s at 100x groups; ~140 KB/commit at 401 groups). The
# fix is the Delta-log idea re-applied at the manifest level: most
# commits write a DELTA manifest (format 2) holding the resolved small
# keys (mode/schema/txn/committed_at/...) plus per-key DIFFS against
# the parent for the width-sized keys; every _SNAP_EVERY-th version
# writes a classic FULL manifest so reconstruction chains stay short.
# _load_manifest reconstructs the merged view behind the existing API —
# no reader, rebase validation, or changefeed code changes.
#
# Diff encodings (chosen so reconstruction is EXACT, not rule-based):
#   dict keys  (stats/colmap/castmap/clustered): {"s": {set}, "x": [del]}
#   list keys  (groups/delete_entries):          {"a": [add], "r": [del
#       keys], "ks": 1 if both lists are all-str} — falls back to the
#       explicit full value when the list has duplicates or the new
#       order is not (parent minus removed) + appended.
# A key absent from the in-memory manifest is absent from the delta and
# reconstructs as absent — no implicit inheritance at READ time (all
# inheritance already happened in _publish before encoding).
#
# vacuum() writes a BOUNDARY SNAP (`_snap-v{N}.json`, the materialized
# full manifest of the newest expired version) before unlinking the
# expired prefix, so retained delta chains always have a base; readers
# consult snaps only while walking PARENTS (expired versions stay
# unreadable directly, preserving time-travel semantics).

_SNAP_EVERY = 32
_DELTA_BIG = (
    "groups",
    "stats",
    "delete_entries",
    "colmap",
    "castmap",
    "clustered",
)
_MAX_CHAIN = 100_000  # corrupt parent-pointer cycle guard


def _snap_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"_snap-v{version:08d}.json")


def _seq_keys(xs: list) -> tuple[list, bool]:
    """Identity keys for list diffing. All-string lists (group names)
    key by the strings themselves; anything else keys by canonical
    JSON. The bool rides the diff record so encoder and folder agree."""
    if all(isinstance(x, str) for x in xs):
        return list(xs), True
    return [json.dumps(x, sort_keys=True) for x in xs], False


def _diff_seq(pv: list, nv: list) -> dict | None:
    """Exact list diff, or None when the delta encoding cannot
    reproduce the new list verbatim (duplicates, or an order that is
    not kept-parent-order + appended) — the caller then stores the
    full list. Correctness never depends on this succeeding."""
    joint = pv + nv
    keys, ks = _seq_keys(joint)
    pk, nk = keys[: len(pv)], keys[len(pv) :]
    if len(set(pk)) != len(pk) or len(set(nk)) != len(nk):
        return None
    ps, ns = set(pk), set(nk)
    rm = [k for k in pk if k not in ns]
    add = [x for x, k in zip(nv, nk) if k not in ps]
    kept = [k for k in pk if k in ns]
    if kept + [k for k in nk if k not in ps] != nk:
        return None
    return {"a": add, "r": rm, "ks": 1 if ks else 0}


def _encode_delta(manifest: dict, parent: dict) -> dict:
    """Delta (format 2) on-disk form of ``manifest`` against its
    already-materialized ``parent``. Small keys are stored resolved;
    each width-sized key becomes a diff (or an explicit full value
    when the diff cannot be exact)."""
    out = {k: v for k, v in manifest.items() if k not in _DELTA_BIG}
    out["format"] = 2
    out["delta"] = 1
    for k in _DELTA_BIG:
        if k not in manifest:
            continue
        nv = manifest[k]
        pv = parent.get(k)
        if isinstance(nv, dict):
            pv = pv if isinstance(pv, dict) else {}
            out["d_" + k] = {
                "s": {
                    kk: vv
                    for kk, vv in nv.items()
                    if kk not in pv or pv[kk] != vv
                },
                "x": [kk for kk in pv if kk not in nv],
            }
        elif isinstance(nv, list):
            pv = pv if isinstance(pv, list) else []
            d = _diff_seq(pv, nv)
            if d is None:
                out[k] = nv
            else:
                out["d_" + k] = d
        else:
            out[k] = nv
    return out


def _fold_delta(parent: dict, raw: dict) -> dict:
    """Reconstruct the full manifest a format-1 write would have
    produced, from the parent's materialized view + one delta record.
    Mutates nothing it was given beyond top-level copies; the result
    may SHARE substructure with ``parent`` (callers of _load_manifest
    always receive a private tree — see the cache)."""
    full = {
        k: v
        for k, v in raw.items()
        if k != "delta" and not k.startswith("d_")
    }
    full["format"] = 1
    for k in _DELTA_BIG:
        d = raw.get("d_" + k)
        if d is None:
            continue  # explicit full value (already copied) or absent
        if "a" in d:  # list diff
            # mirror the ENCODER's type guard (_encode_delta diffs
            # against [] when the parent value is not a list): a key
            # that ever changed type dict->list must fold against the
            # same base the diff was computed from
            pv = parent.get(k)
            base = pv if isinstance(pv, list) else []
            rm = set(d.get("r") or [])
            if rm:
                # key mode must be the ENCODER's ("ks"), never
                # re-derived: a parent list that happens to be all-str
                # under a mixed joint list would otherwise key
                # differently and skip removals
                if d.get("ks"):
                    keys = list(base)
                else:
                    keys = [json.dumps(x, sort_keys=True) for x in base]
                base = [x for x, kk in zip(base, keys) if kk not in rm]
            else:
                base = list(base)
            full[k] = base + list(d.get("a") or [])
        else:  # dict diff
            pv = parent.get(k)
            base = dict(pv) if isinstance(pv, dict) else {}
            for kk in d.get("x") or []:
                base.pop(kk, None)
            base.update(d.get("s") or {})
            full[k] = base
    return full


# Materialized-manifest cache: canonical JSON strings keyed by the
# manifest FILE's identity (path, version, inode, mtime_ns, size) so a
# rebuilt table at the same path can never serve stale state. Strings,
# not dicts: _load_manifest returns a fresh parse per call, so callers
# that mutate a loaded manifest (rename's stats rewrite does) cannot
# poison the cache. Bytes-bounded LRU; thread-safe (streaming
# maintainers fold concurrently on driver threads).
import threading as _threading
from collections import OrderedDict as _OrderedDict

_MCACHE: "_OrderedDict[tuple, str]" = _OrderedDict()
_MCACHE_BYTES = 0
_MCACHE_CAP = 128 << 20
_MCACHE_LOCK = _threading.Lock()


def _mcache_clear() -> None:
    """Drop every cached manifest (tests force cold reconstruction)."""
    global _MCACHE_BYTES
    with _MCACHE_LOCK:
        _MCACHE.clear()
        _MCACHE_BYTES = 0


def _mcache_get(key: tuple) -> str | None:
    with _MCACHE_LOCK:
        text = _MCACHE.get(key)
        if text is not None:
            _MCACHE.move_to_end(key)
        return text


def _mcache_put(key: tuple, text: str) -> None:
    global _MCACHE_BYTES
    with _MCACHE_LOCK:
        old = _MCACHE.pop(key, None)
        if old is not None:
            _MCACHE_BYTES -= len(old)
        _MCACHE[key] = text
        _MCACHE_BYTES += len(text)
        while _MCACHE_BYTES > _MCACHE_CAP and len(_MCACHE) > 1:
            _, ev = _MCACHE.popitem(last=False)
            _MCACHE_BYTES -= len(ev)


class VersionedTable:
    def __init__(self, path: str, _meta_root: str | None = None) -> None:
        # ``path`` is the DATA root (immutable uuid group dirs, shared
        # by every ref); ``_meta_root`` is where this ref's manifest
        # chain lives — the table path itself for main, or
        # ``path/_refs/branches/<name>`` for a branch handle returned
        # by ``branch()``. Internal: users go through branch()/tags().
        self.path = path
        self._meta_root = _meta_root or path

    @property
    def is_branch(self) -> bool:
        return self._meta_root != self.path

    @property
    def branch_name(self) -> str | None:
        if not self.is_branch:
            return None
        return os.path.basename(self._meta_root)

    # -- introspection ------------------------------------------------

    def versions(self) -> list[int]:
        """Retained versions WITHOUT listing the directory when an
        anchor exists: versions are allocated contiguously (_publish's
        atomic create of parent+1) and vacuum expires a strict PREFIX
        (oldest first), so the retained set is always one contiguous
        range [first, latest]. From an anchor (the hint, else the
        history checkpoint's upto) the probe finds latest by walking
        forward and first by binary-searching the lower boundary —
        O(log n) exists() calls against a ~100k-entry directory whose
        full listing used to dominate version_as_of and vacuum. No
        anchor (fresh clone, both advisory files missing) falls back
        to the listing, which is also the authority the anchors are
        validated against (a stale anchor = its manifest is gone =
        fall back)."""
        d = _manifest_dir(self._meta_root)
        if not os.path.isdir(d):
            return []
        anchor = self._read_hint()
        if anchor is None or not os.path.exists(
            _manifest_path(self._meta_root, anchor)
        ):
            ck_upto = int(self._read_checkpoint().get("upto", -1))
            anchor = ck_upto if ck_upto >= 0 else None
            if anchor is not None and not os.path.exists(
                _manifest_path(self._meta_root, anchor)
            ):
                anchor = None
        if anchor is None:
            out = []
            for name in os.listdir(d):
                if name.startswith("v") and name.endswith(".json"):
                    out.append(int(name[1:-5]))
            return sorted(out)
        latest = anchor
        while os.path.exists(_manifest_path(self._meta_root, latest + 1)):
            latest += 1
        # smallest retained version at or below the anchor (contiguity:
        # exists() is monotone over [first, latest])
        lo, hi = 0, anchor
        while lo < hi:
            mid = (lo + hi) // 2
            if os.path.exists(_manifest_path(self._meta_root, mid)):
                hi = mid
            else:
                lo = mid + 1
        return list(range(lo, latest + 1))

    def _load_manifest(self, version: int) -> dict:
        """The MATERIALIZED manifest for ``version`` — delta manifests
        (format 2) are folded onto their parent chain transparently, so
        every consumer keeps seeing the classic full shape. Returns a
        private tree per call (parsed fresh from the cache's canonical
        string), so in-place mutation by callers stays as harmless as
        it was when every call re-read the file."""
        return self._load_full(version, allow_snap=False)

    def _raw_manifest(self, version: int, allow_snap: bool) -> tuple:
        """(cache_key, raw dict or cached full text). FileNotFoundError
        propagates for expired/unpublished versions; during a PARENT
        walk (allow_snap) the vacuum boundary snap substitutes for the
        newest expired manifest."""
        path = _manifest_path(self._meta_root, version)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            if not allow_snap:
                raise
            path = _snap_path(self._meta_root, version)
            st = os.stat(path)  # missing too -> FileNotFoundError out
        key = (self._meta_root, version, st.st_ino, st.st_mtime_ns, st.st_size)
        cached = _mcache_get(key)
        if cached is not None:
            return key, cached
        with open(path) as f:
            text = f.read()
        m = json.loads(text)
        # forward-compat guard (Iceberg/Delta protocol versioning):
        # a manifest written by a NEWER writer with semantics this
        # reader can't honor (e.g. a new delete-entry kind) must fail
        # loudly, not silently misread. Absent = format 1 (all
        # manifests this engine wrote before delta manifests).
        fmt = int(m.get("format", 1))
        if fmt > _FORMAT_VERSION:
            raise UnsupportedFormatError(
                f"manifest v{version} at {self._meta_root} declares "
                f"format {fmt}, newer than this reader's supported "
                f"{_FORMAT_VERSION} — upgrade the engine to read "
                "this table"
            )
        if not m.get("delta"):
            _mcache_put(key, text)  # full form: cache the file text
        return key, m

    def _load_full(self, version: int, allow_snap: bool) -> dict:
        """Materialize one version: walk back collecting delta records
        until a full manifest, a cached ancestor, or the vacuum
        boundary snap, then fold forward ONCE — O(width) total, not
        O(chain x width). Only the REQUESTED version is cached (walks
        over consecutive versions hit the parent in cache, so chains
        re-fold one delta per step in steady state)."""
        key0, first = self._raw_manifest(version, allow_snap)
        if isinstance(first, str):
            return json.loads(first)
        if not first.get("delta"):
            return first
        chain = [first]
        v = first.get("parent")
        base = None
        while True:
            if v is None or len(chain) > _MAX_CHAIN:
                raise ValueError(
                    f"manifest v{version} at {self._meta_root}: delta "
                    f"chain has no full ancestor (broken parent link)"
                )
            _, raw = self._raw_manifest(int(v), True)
            if isinstance(raw, str):
                base = json.loads(raw)
                break
            if not raw.get("delta"):
                base = raw
                break
            chain.append(raw)
            v = raw.get("parent")
        full = base
        for raw in reversed(chain):
            full = _fold_delta(full, raw)
        _mcache_put(key0, json.dumps(full))
        return full

    def latest_version(self) -> int | None:
        """Newest committed version, resolved in O(1 + commits since
        the hint was written) file operations: read `_latest.hint`,
        verify its manifest exists, probe forward to the first gap.
        Any hint problem (missing, corrupt, pointing at a vacuumed
        manifest) falls back to the full listing — the hint is an
        accelerator, never a correctness dependency."""
        hint = self._read_hint()
        if hint is not None and os.path.exists(
            _manifest_path(self._meta_root, hint)
        ):
            v = hint
            while os.path.exists(_manifest_path(self._meta_root, v + 1)):
                v += 1
            return v
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_hint(self) -> int | None:
        try:
            with open(_hint_path(self._meta_root)) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _write_hint(self, version: int) -> None:
        """Best-effort, atomic (tmp + replace), and monotone: a slower
        concurrent writer must not move the hint backwards — the
        forward probe would still recover, but every reader would pay
        the gap walk until the next commit."""
        try:
            cur = self._read_hint()
            if cur is not None and cur >= version:
                return
            tmp = _hint_path(self._meta_root) + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, _hint_path(self._meta_root))
        except OSError:
            pass  # advisory only

    # -- commit -------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        allow_evolution: bool = False,
        expected_parent: int | None | str = "any",
        txn: dict[str, int] | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot; returns the version number.
        ``mode='append'`` adds to the parent snapshot's files,
        ``'overwrite'`` replaces them. Raises CommitConflictError if a
        concurrent writer takes the target version first.

        ``partition_by`` splits the commit into ONE GROUP PER
        PARTITION VALUE (one hash shuffle on the values, then the
        multi-group form of _write_groups, the writer every commit,
        DML and clustering write shares): each group's stats box for
        a partition column is a point, so reads, MERGE touch tests,
        and auto-pruned DML on that column skip exactly —
        the Iceberg/Delta partitioned-table layout without needing a
        clustering OPTIMIZE. Many tiny partitions per commit are the
        compact() use case. Entries may be HIDDEN-PARTITIONING
        transforms (Iceberg's ergonomic, r10): ``days(ts)`` /
        ``hours(ts)`` / ``months(ts)`` / ``years(ts)`` partition a
        timestamp by its truncation (no hand-materialized date column;
        each group's ts stats box is one tight interval, so plain
        range predicates on ts prune), ``bucket(n, col)`` hash-buckets
        a key, ``truncate(w, col)`` groups by int width / string
        prefix.

        ``allow_evolution=True`` permits ADDITIVE schema evolution on
        append: new columns join the table schema (old rows read them
        as NULL via parquet schema merging — unionByName semantics, the
        same by-NAME resolution rule as the reference's header map,
        writer.go:86-91); changing an existing column's type stays an
        error in every mode. Schema equality is nullability-insensitive
        (parquet reads resolve everything nullable, so flags drift).

        ``expected_parent`` pins the snapshot this commit was computed
        FROM: read-modify-write callers (MERGE, rollback) pass the
        version they read, and a concurrent commit landing in between
        surfaces as CommitConflictError instead of silently vanishing
        under the overwrite. The default "any" keeps blind appends
        race-free (the publish itself is atomic either way).

        ``txn`` merges ``{writer_name: epoch}`` into the manifest's txn
        map ATOMICALLY with the data (the exactly-once contract for
        make_idempotent_table_writer); parent txn marks are carried
        forward on every commit so the LATEST manifest always holds
        each writer's high-water mark."""
        if mode not in ("append", "overwrite", "delete"):
            raise ValueError(f"unknown mode {mode!r}")
        # "delete" is an overwrite with intent recorded in history (and
        # surfaced to the changefeed's append-only contract)
        parent = self.latest_version()
        if expected_parent != "any" and parent != expected_parent:
            if mode == "append":
                # Delta-style optimistic concurrency: compute against
                # the PINNED snapshot; publish-time validation rebases
                # onto the actual latest (appends have no read
                # dependency, so only schema/constraint/txn changes
                # conflict — _publish_or_rebase checks them)
                parent = expected_parent
            else:
                # overwrite/delete replace the whole table: rebasing
                # over a concurrent commit would silently erase it
                raise CommitConflictError(
                    f"table advanced to {parent} since this commit read "
                    f"{expected_parent}; recompute and retry"
                )
        schema_json = df.schema.json()
        # ONE parent load serves the schema check, the group rule, and
        # the bloom/constraint lookups below (each load parses the full
        # materialized manifest — O(width) per call at large widths)
        pm = self._load_manifest(parent) if parent is not None else {}
        if mode == "append" and parent is not None:
            if _schema_key(pm["schema"]) != _schema_key(schema_json):
                if not allow_evolution:
                    raise SchemaMismatchError(
                        "append schema differs from table schema; pass "
                        "allow_evolution=True for additive columns, or "
                        "overwrite to migrate explicitly"
                    )
                schema_json = _evolve_schema(pm["schema"], df.schema)
        # (1) immutable data files first, invisible until the manifest;
        # stats + CHECK validation in the same pass as the write
        pcols: tuple = ()
        if partition_by:
            # the PARTITION VALUE of each entry (a bare column or a
            # hidden-partitioning transform) is a derived ``__p_i``
            # column, so the source columns stay in the files and
            # every reader sees the full schema; one hash shuffle
            # co-locates each value
            transforms = [
                _partition_transform(spec, df.schema)
                for spec in partition_by
            ]
            pcols = tuple(f"__p_{i}" for i in range(len(transforms)))
            df = df.select("*", *[
                expr.alias(p) for (_, expr), p in zip(transforms, pcols)
            ]).repartition(*pcols)
        added, stats = _write_groups(df, self.path, pm, pcols)
        # (2) atomic manifest publish. An append removes nothing: the
        # parent's groups, stats and pending merge-on-read deletes carry
        # (the new groups are younger than every delete and stay outside
        # its scope), and it rebases over concurrent commits (no read
        # dependency: only schema/constraint/txn changes conflict).
        # overwrite/delete remove every parent group and stay strictly
        # pinned: rebasing over a concurrent commit would erase it.
        append = mode == "append"
        return self._publish_or_rebase(
            pm,
            [] if append else list(pm.get("groups") or []),
            added,
            stats,
            mode=mode,
            schema=schema_json,
            txn=txn,
            concurrent_adds_ok=True,
            pinned=not append,
        )

    def _publish(
        self,
        parent: int | None,
        manifest: dict,
        txn: dict[str, int] | None = None,
        parent_m: dict | None = None,
    ) -> int:
        """Publish ``manifest`` at ``parent + 1``. ``parent_m`` is the
        parent's manifest when the caller already holds it parsed (a
        write's base or rebase head); otherwise it is loaded here."""
        os.makedirs(_manifest_dir(self._meta_root), exist_ok=True)
        version = (parent if parent is not None else -1) + 1
        manifest["version"] = version
        manifest["parent"] = parent
        # the in-memory (and full on-disk) form is format 1; only the
        # delta ENCODING below stamps format 2 on its own payload
        manifest.setdefault("format", 1)
        import time as _time

        if parent_m is not None:
            parent_manifest = parent_m
        else:
            parent_manifest = (
                self._load_manifest(parent) if parent is not None else {}
            )
        # wall-clock commit instant for TIMESTAMP AS OF resolution; the
        # ORDER of versions is authoritative (monotone by construction),
        # the timestamp is best-effort metadata like Delta's — and, like
        # Delta, clamped to >= the parent's instant so clock skew across
        # writers can never make TIMESTAMP AS OF resolve to a state
        # inconsistent with version order
        manifest.setdefault("committed_at", _time.time())
        parent_ts = parent_manifest.get("committed_at")
        if parent_ts is not None and manifest["committed_at"] < parent_ts:
            manifest["committed_at"] = parent_ts
        # CHECK constraints ride every manifest like txn marks, unless
        # the commit explicitly sets them (add/drop constraint)
        manifest.setdefault(
            "constraints", dict(parent_manifest.get("constraints") or {})
        )
        # bloom-indexed column declaration inherits the same way
        manifest.setdefault(
            "bloom_cols", list(parent_manifest.get("bloom_cols") or [])
        )
        # column name maps (RENAME/DROP evolution) ride every manifest:
        # carried groups keep their file->current maps automatically —
        # commit sites never need to know about them because group
        # relpaths are immutable uuids (a stale entry cannot attach to
        # rewritten data; rewritten groups carry fresh uuids and need
        # no entry). A commit that SETS "colmap" itself (rename/drop/
        # rollback) is authoritative and skips inheritance.
        live = set(manifest.get("groups") or [])
        for mkey in ("colmap", "castmap"):
            if mkey not in manifest:
                inherited_cm = {
                    g: mp
                    for g, mp in (
                        parent_manifest.get(mkey) or {}
                    ).items()
                    if g in live and mp
                }
                if inherited_cm:
                    manifest[mkey] = inherited_cm
            elif not manifest[mkey]:
                del manifest[mkey]
        if parent_manifest.get("bloom_bits") is not None:
            manifest.setdefault(
                "bloom_bits", int(parent_manifest["bloom_bits"])
            )
        # the clustered-set record rides forward like bloom_bits;
        # clustering commits SET it, everything else carries it (stale
        # entries for since-rewritten groups are harmless — consumers
        # intersect with the live group list)
        if parent_manifest.get("clustered") is not None:
            manifest.setdefault(
                "clustered", parent_manifest["clustered"]
            )
        # txn watermarks ride every manifest: start from the parent's
        # map so vacuum (which always retains the latest) never loses a
        # writer's high-water mark, then fold in this commit's epochs
        inherited = dict(parent_manifest.get("txn") or {})
        for name, epoch in (txn or {}).items():
            prev = inherited.get(name)
            inherited[name] = (
                int(epoch) if prev is None else max(int(prev), int(epoch))
            )
        manifest["txn"] = inherited
        # O(delta) commit metadata: most versions write a DELTA record
        # against the parent; every _SNAP_EVERY-th version writes the
        # classic full manifest so reconstruction chains stay short
        # (and so pre-delta readers of a fresh table's v0 still work)
        if parent is None or version % _SNAP_EVERY == 0:
            payload = manifest
        else:
            payload = _encode_delta(manifest, parent_manifest)
        tmp = _manifest_path(self._meta_root, version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        target = _manifest_path(self._meta_root, version)
        try:
            # link+unlink = atomic create-if-absent (rename would
            # silently REPLACE an existing target and clobber the
            # concurrent winner's manifest)
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflictError(
                f"version {version} was committed concurrently; retry"
            ) from None
        finally:
            os.unlink(tmp)
        # metadata-scaling upkeep, both advisory (readers fall back to
        # the listing / per-manifest loads if they're stale or missing)
        self._write_hint(version)
        if version % _CKPT_EVERY == 0:
            self._extend_checkpoint(version)
        return version

    def _read_checkpoint_base(self) -> dict:
        try:
            with open(_ckpt_path(self._meta_root)) as f:
                ck = json.load(f)
            if isinstance(ck, dict) and isinstance(ck.get("rows"), list):
                return ck
        except (OSError, ValueError):
            pass
        return {"upto": -1, "rows": []}

    def _read_checkpoint(self) -> dict:
        """Merged view of the base checkpoint + the segment log, same
        {upto, rows} shape the pre-segment readers consumed. Rows are
        deduped by version (they're immutable audit facts, so any
        winner is correct) and returned in version order. A crash
        between a vacuum compaction and its segment cleanup can leave
        trimmed rows resurrected from a stale segment — benign: every
        reader already filters rows to the retained version set."""
        base = self._read_checkpoint_base()
        segs = _seg_files(self._meta_root)
        if not segs:
            return base
        by_v: dict[int, dict] = {
            int(r["version"]): r for r in base["rows"]
        }
        upto = int(base["upto"])
        for seg_upto, path in segs:
            try:
                with open(path) as f:
                    seg = json.load(f)
                rows = seg.get("rows")
                if not isinstance(rows, list):
                    continue
            except (OSError, ValueError):
                continue  # racing compaction unlinked it / corrupt
            for r in rows:
                by_v[int(r["version"])] = r
            upto = max(upto, seg_upto)
        return {
            "upto": upto,
            "rows": [by_v[v] for v in sorted(by_v)],
        }

    def _extend_checkpoint(self, upto: int) -> None:
        """Append audit rows for versions (previous upto, upto] to the
        history SEGMENT log — O(delta): only the new rows are written;
        the base file is untouched until _SEG_COMPACT segments fold
        into it. Best-effort: a race between two extenders resolves by
        last-writer-wins on the segment name (identical content), and
        any missing coverage is served from the manifests directly."""
        try:
            segs = _seg_files(self._meta_root)
            if segs:
                prev = segs[-1][0]
            else:
                prev = int(self._read_checkpoint_base()["upto"])
            rows = []
            for v in range(prev + 1, upto + 1):
                try:
                    rows.append(_history_row(v, self._load_manifest(v)))
                except FileNotFoundError:
                    continue  # expired mid-extend
            if upto > prev:
                d = _seg_dir(self._meta_root)
                os.makedirs(d, exist_ok=True)
                tmp = os.path.join(d, f"seg.tmp-{uuid.uuid4().hex}")
                with open(tmp, "w") as f:
                    json.dump({"from": prev + 1, "upto": upto, "rows": rows}, f)
                os.replace(tmp, os.path.join(d, f"seg-{upto:010d}.json"))
            if len(segs) + 1 >= _SEG_COMPACT:
                self._compact_checkpoint()
        except OSError:
            pass  # advisory only

    def _compact_checkpoint(
        self, drop: set[int] | None = None
    ) -> None:
        """Fold the segment log into the base checkpoint and delete the
        folded segments. ``drop`` removes those versions' rows (vacuum
        passes the expired set) — the filter is applied to THIS call's
        own merged read, so the written rows and the written ``upto``
        come from one snapshot: a segment landed by a concurrent commit
        between vacuum's planning read and this compaction keeps its
        row instead of being silently dropped while its segment is
        unlinked (pre-r14 the caller passed a materialized row list
        from an earlier read, which could claim coverage it didn't
        have — a permanent history() perf hole). Dropping by expired
        set, not filtering by retained set, for the same reason: a
        concurrent commit's brand-new version is in neither list and
        must survive. Base is replaced atomically BEFORE segments are
        unlinked, so a reader racing the compaction sees at worst
        duplicated rows, never missing coverage."""
        try:
            ck = self._read_checkpoint()
            rows = ck["rows"]
            if drop:
                rows = [
                    r for r in rows if int(r["version"]) not in drop
                ]
            upto = int(ck["upto"])
            tmp = _ckpt_path(self._meta_root) + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"upto": upto, "rows": rows}, f)
            os.replace(tmp, _ckpt_path(self._meta_root))
            for seg_upto, path in _seg_files(self._meta_root):
                if seg_upto <= upto:
                    try:
                        os.unlink(path)
                    except OSError:
                        pass  # racing compactor got it first
        except OSError:
            pass  # advisory only

    def _publish_or_rebase(
        self,
        m: dict,
        removed: list[str],
        added: list[str],
        stats: dict,
        *,
        mode: str,
        txn: dict[str, int] | None = None,
        update_box=None,
        update_membership=None,
        concurrent_adds_ok: bool = False,
        pinned: bool = False,
        **keys,
    ) -> int:
        """Publish a data write computed against snapshot ``m`` (the
        loaded base manifest; ``{}`` for an empty table) — the one place
        a write's groups become a manifest. The write names the groups
        it ``removed`` and the groups it ``added`` with their
        ``stats``; ``keys`` are the extra manifest keys it owns
        (``schema`` when it evolves the base's, ``clustered``).

        THE GROUP RULE, applied to a head snapshot: the head's groups
        minus ``removed``, in head order, then ``added``; the kept
        groups' stats carried by reference plus the added ones; each
        pending merge-on-read delete entry rescoped to the kept groups
        it applies to (removed groups were rewritten with the deletes
        applied), and dropped once its scope is empty. The first attempt
        applies the rule to ``m``. ``pinned`` (overwrite/delete: the
        write replaced the whole table) publishes that once at base + 1
        and conflicts on any concurrent commit.

        Otherwise a lost slot REBASES through _commit_loop: the
        concurrent commits between base and the latest snapshot are
        VALIDATED for overlap (Delta/Iceberg-style optimistic
        concurrency, _validate_rebase) and the rule is applied to the
        latest snapshot, recorded with ``rebased_from`` — disjoint
        writers both land without recompute, concurrent work preserved
        verbatim. CommitConflictError only on a TRUE conflict:

        * a concurrent commit removed (rewrote) a group this commit
          also rewrote — both touched the same data;
        * a concurrent commit ADDED a group whose key-stats box
          overlaps this commit's update-key box (its rows might have
          matched this MERGE's keys, so the matched/not-matched
          decisions are stale) — unless ``concurrent_adds_ok`` (pure
          appends have no read dependency). ``update_box`` is a
          ``{key_col: (lo, hi)}`` dict in the stats domain, or a
          zero-arg callable evaluated only when a rebase is actually
          needed (no extra job on the uncontended path); ``None``
          means "no proof available" → any concurrent add conflicts;
          ``update_membership`` is the Bloom second chance for the
          groups the box cannot clear;
        * the schema, CHECK constraints, or this writer's txn
          watermark advanced, or merge-on-read delete entries are in
          play (row-level intent the group algebra can't see)."""
        base = m.get("version")
        gone = set(removed)
        keys.setdefault("schema", m.get("schema"))

        def apply_rule(head_m: dict) -> dict:
            kept = [g for g in head_m.get("groups") or [] if g not in gone]
            keep = set(kept)
            hstats = head_m.get("stats") or {}
            out_stats = {g: hstats[g] for g in kept if g in hstats}
            out_stats.update({g: stats[g] for g in added if g in stats})
            entries = []
            for e in head_m.get("delete_entries") or []:
                applies = [g for g in e["applies_to"] if g in keep]
                if applies:
                    entries.append({**e, "applies_to": applies})
            return {
                "groups": kept + list(added),
                "mode": mode,
                "added": list(added),
                "delete_entries": entries,
                "stats": out_stats,
                **keys,
            }

        if pinned:
            return self._publish(base, apply_rule(m), txn=txn, parent_m=m)

        def attempt(head: int | None) -> tuple[dict, dict]:
            if head == base:
                return apply_rule(m), m
            try:
                latest_m = self._load_manifest(head)
            except FileNotFoundError:
                raise CommitConflictError(
                    "concurrent commit landed and its lineage is no "
                    "longer readable; recompute and retry"
                ) from None
            rebased = {**apply_rule(latest_m), "rebased_from": base}
            self._validate_rebase(
                m, latest_m, rebased, gone, txn,
                update_box, update_membership, concurrent_adds_ok,
            )
            return rebased, latest_m

        return self._commit_loop(base, attempt, txn=txn)

    def _commit_loop(
        self,
        head: int | None,
        attempt,
        txn: dict[str, int] | None = None,
    ) -> int:
        """The one optimistic-concurrency loop (Delta's commit
        protocol): ``attempt(head)`` validates the write against
        snapshot ``head`` — raising CommitConflictError on a true
        conflict, by the writer's own rule — and returns the manifest
        to publish at ``head + 1`` paired with ``head``'s own manifest
        when the rule parsed it (None otherwise; the publish then loads
        it), or a version number when there is nothing left to
        publish. Each publish is an atomic
        create-if-absent link; a lost slot re-lists the table and
        calls ``attempt`` again with the new latest snapshot.

        Stale-listing guard: a lost slot whose re-listing still shows
        ``head`` as latest is a listing race (a writer mid-publish, a
        vacuum mid-unlink), not a new head. It re-lists after a short
        back-off, and raises a distinct "listing inconsistent" error
        after five in a row instead of burning attempts on identical
        publishes and reporting a misleading commit storm. At most 50
        publishes are tried in all."""
        stale_lists = 0
        planned = attempt(head)
        for _ in range(50):
            if isinstance(planned, int):
                return planned
            manifest, head_m = planned
            try:
                return self._publish(
                    head, dict(manifest), txn=txn, parent_m=head_m
                )
            except CommitConflictError:
                pass
            latest = self.latest_version()
            if latest is None or latest == head:
                stale_lists += 1
                if stale_lists > 5:
                    raise CommitConflictError(
                        "version listing inconsistent: version "
                        f"{(head if head is not None else -1) + 1} "
                        "exists but the manifest listing does not show "
                        "it; check _manifests/ for external interference"
                    )
                import time as _time

                _time.sleep(0.01 * stale_lists)
                continue
            stale_lists = 0
            head = latest
            planned = attempt(head)
        raise CommitConflictError(
            "gave up after 50 rebase attempts (commit storm)"
        )

    def _validate_rebase(
        self,
        base_m: dict,
        latest_m: dict,
        manifest: dict,
        removed_set: set,
        txn: dict[str, int] | None,
        update_box,
        update_membership,
        concurrent_adds_ok: bool,
    ) -> None:
        """Raise CommitConflictError unless every concurrent commit
        between base and latest is provably disjoint from this one.
        Group sets are compared base-vs-latest directly: groups are
        immutable uuid directories, never re-added once removed, so
        the endpoint diff covers every intermediate commit; txn and
        constraints inherit monotonically, so the latest manifest
        carries every intermediate's marks."""

        def conflict(why: str):
            raise CommitConflictError(
                f"concurrent commit conflicts ({why}); recompute and retry"
            )

        if _schema_key(latest_m["schema"]) != _schema_key(
            manifest["schema"]
        ):
            conflict("schema changed")
        if (latest_m.get("constraints") or {}) != (
            base_m.get("constraints") or {}
        ):
            conflict("CHECK constraints changed — data not validated "
                     "against the new set")
        for name, epoch in (txn or {}).items():
            prev = (latest_m.get("txn") or {}).get(name)
            if prev is not None and int(prev) >= int(epoch):
                conflict(
                    f"txn {name!r} advanced to {prev} — this epoch "
                    f"{epoch} already committed"
                )
        if (base_m.get("delete_entries") or []) or (
            latest_m.get("delete_entries") or []
        ):
            conflict("merge-on-read delete entries in play")
        base_groups = set(base_m.get("groups") or [])
        latest_groups = set(latest_m["groups"])
        c_removed = base_groups - latest_groups
        if c_removed & removed_set:
            conflict("both commits rewrote the same group(s)")
        c_added = latest_groups - base_groups
        if c_added and not concurrent_adds_ok:
            if callable(update_box):
                update_box = update_box()
            if update_box is None:
                conflict("concurrent groups added and no update-key "
                         "box to prove disjointness")
            lstats = latest_m.get("stats") or {}
            box_overlapping = []
            for g in sorted(c_added):
                st = lstats.get(g)
                if not st:
                    conflict(f"concurrent group {g} has no stats")
                overlaps = True
                for col, (lo, hi) in update_box.items():
                    cs = st.get(col)
                    if not isinstance(cs, dict):
                        break  # no usable stats: stay conservative
                    mn, mx = cs.get("min"), cs.get("max")
                    if mn is None or mx is None:
                        # None min/max proves "all NULL" (NULL matches
                        # no key) ONLY when the null count covers every
                        # row: manifests written before _col_stats_entry
                        # encoded non-finite float min/max as None with
                        # non-null rows, and treating those as disjoint
                        # would silently drop a true conflict
                        nulls, rows = cs.get("nulls"), st.get("_rows")
                        if (
                            nulls is not None
                            and rows is not None
                            and int(nulls) == int(rows)
                        ):
                            overlaps = False
                        break
                    if _stat_lt(mx, lo) or _stat_lt(hi, mn):
                        overlaps = False
                        break
                if overlaps:
                    box_overlapping.append(g)
            if box_overlapping:
                # second chance for hash-keyed tables, where every box
                # spans the whole key space: a membership probe (the
                # Bloom test over the concurrent groups' sidecars) can
                # still prove this commit's keys absent from them
                maybe = None
                if update_membership is not None:
                    maybe = update_membership(lstats, box_overlapping)
                if maybe is None:
                    maybe = set(box_overlapping)
                for g in box_overlapping:
                    if g in maybe:
                        conflict(
                            f"concurrent group {g} overlaps this "
                            "commit's update-key range"
                        )

    # -- read / time travel ------------------------------------------

    def version_as_of(self, timestamp: float) -> int:
        """TIMESTAMP AS OF: the newest version committed at or before
        the given epoch seconds. committed_at is monotone in version
        order by construction (_publish clamps child >= parent), so
        this binary-searches the version list and loads O(log n)
        manifests instead of every one.

        A probe landing on a manifest with NO committed_at (a legacy or
        externally authored manifest — self-written ones always record
        it) breaks the monotonicity assumption the search rests on, so
        the whole resolution falls back to the pre-r8 linear scan,
        which skips timestamp-less entries — same answer, just O(n)."""
        vs = self.versions()
        best = None
        lo, hi = 0, len(vs) - 1
        while lo <= hi:
            mid = (lo + hi) // 2
            ts = self._load_manifest(vs[mid]).get("committed_at")
            if ts is None:
                best = None
                for v in vs:
                    t = self._load_manifest(v).get("committed_at")
                    if t is not None and t <= timestamp:
                        best = v
                break
            if ts <= timestamp:
                best = vs[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        if best is None:
            raise FileNotFoundError(
                f"no snapshot at or before {timestamp} in {self.path}"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_timestamp: float | None = None,
        where: dict | None = None,
        where_expr=None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Read a snapshot. ``where={col: (lo, hi)}`` (either bound may
        be None) prunes whole file GROUPS via the manifest column stats
        before Spark lists a single file — the lake-scale analog of the
        reference's per-column indexes (internal/db/db.go:97-103) — and
        applies the equivalent row filter for exactness. Groups without
        stats for a referenced column are scanned (conservative).

        ``where={col: [v1, v2, ...]}`` (a LIST instead of a 2-tuple) is
        an IN-set point probe: the box test uses [min(vs), max(vs)] and
        each value is additionally bit-tested against the per-group
        Bloom filters (when declared via set_bloom_columns), so a
        multi-key lookup on a hash-keyed table scans only the groups
        that might hold one of the keys.

        ``where_expr`` takes an arbitrary Column PREDICATE instead of a
        bounds dict: derive_prune_bounds extracts whatever per-column
        boxes/IN-sets the predicate implies (same pruning machinery,
        including bloom point refinement), and the predicate itself is
        applied as the exact row filter — so pruning quality degrades
        gracefully from "skips like the dict form" (comparisons over
        stats columns) to "full scan, still exact" (opaque
        expressions). Both forms compose (AND).

        Bound-literal domain: where-dict (and normalized where_expr)
        literals are interpreted in the COLUMN's type domain, not the
        literal's — a ``datetime`` bound on a DATE column is truncated
        to its date (``d >= datetime(2020,1,15,12,0)`` behaves as
        ``d >= date(2020,1,15)``), and a ``date`` bound on a TIMESTAMP
        column becomes midnight. read(), count_where() and agg_where()
        all agree on this, but it diverges from Spark's own
        ``F.col('d') >= F.lit(datetime(...))`` (which promotes the
        DATE column to timestamp); callers porting predicates that
        need sub-day precision on a DATE column should filter the
        returned DataFrame instead.

        ``tag="name"`` reads the snapshot a tag pins (VERSION AS OF
        the tag's version) — mutually exclusive with version/
        as_of_timestamp. ``branch="name"`` reads the branch's head
        (version/as_of compose and resolve within the BRANCH's chain;
        tag does not — tags pin main-chain versions) — sugar for
        ``self.branch(name).read()``."""
        if branch is not None:
            if tag is not None:
                raise ValueError(
                    "tag= pins a main-chain version; it cannot combine "
                    "with branch="
                )
            return self.branch(branch).read(
                spark,
                version=version,
                as_of_timestamp=as_of_timestamp,
                where=where,
                where_expr=where_expr,
            )
        if sum(x is not None for x in (version, as_of_timestamp, tag)) > 1:
            raise ValueError(
                "pass ONE of version, as_of_timestamp, tag"
            )
        if tag is not None:
            self._require_main("read(tag=)")  # tags pin MAIN versions
            version = self.tag_version(tag)
        pinned = version is not None
        for attempt in range(3):
            v = version
            if as_of_timestamp is not None:
                v = self.version_as_of(as_of_timestamp)
            if v is None:
                v = self.latest_version()
            if v is None:
                raise FileNotFoundError(f"no snapshots at {self.path}")
            try:
                m = self._load_manifest(v)
                break
            except FileNotFoundError:
                # vacuum-vs-reader race: a concurrent commit + vacuum
                # (keep_versions=1) can expire the version resolved a
                # moment ago before its manifest is opened. A PINNED
                # version is genuinely gone — surface it; a resolved
                # one re-resolves against the new latest.
                if pinned or attempt == 2:
                    raise
        version = v
        groups = list(m["groups"])
        prune_maps = [w for w in (where,) if w]
        if where_expr is not None:
            derived = derive_prune_bounds(where_expr)
            if derived:
                prune_maps.append(derived)
        # re-encode bounds into the stats domain against THIS manifest's
        # schema (a str literal on a timestamp column would otherwise
        # compare ' '-form vs 'T'-form lexicographically — a wrong
        # prune). Pruning only — the exact row filter below uses the
        # caller's originals, so a dropped bound costs a scan, never
        # rows.
        _types = {
            f.name: f.dataType
            for f in _schema_from_json(m["schema"]).fields
        }
        prune_maps = [
            _normalize_prune_bounds(w, _types)[0] for w in prune_maps
        ]
        prune_maps = [w for w in prune_maps if w]
        for wmap in prune_maps:
            stats = m.get("stats") or {}
            groups = [
                g for g in groups if _group_may_match(stats.get(g), wmap)
            ]
            # POINT lookups (lo == hi) and IN-sets (a list of values)
            # additionally consult per-group Bloom filters: on
            # high-cardinality unordered keys the min/max box can't
            # prune, the bloom can
            groups = _bloom_prune_where(spark, m, groups, wmap, self.path)
        out = self._read_groups(spark, m, groups)
        if where_expr is not None:
            out = out.filter(where_expr)
        if where:
            out = self._apply_where_rowfilter(out, m, where)
        return out

    def _apply_where_rowfilter(
        self, out: DataFrame, m: dict, where: dict
    ) -> DataFrame:
        """The exact row filter a ``where`` bounds dict means — the
        semantics the group pruning approximates. Shared by read() and
        the boundary scans of count_where() and agg_where() so the
        three can never drift."""
        declared = _schema_from_json(m["schema"])
        types = {f.name: f.dataType for f in declared.fields}

        for col, bound in where.items():
            if isinstance(bound, (list, set, frozenset)):
                vals = [v for v in bound if v is not None]
                if not vals:
                    out = out.filter(F.lit(False))  # IN () is empty
                    continue
                # ONE In() node, not an OR chain: a reduce-built
                # chain is a linear expression tree whose depth is
                # len(vals) — Catalyst recursion overflows the JVM
                # stack around ~3k values (hit by the join-MV's
                # pruned point read at sf0.01)
                out = out.filter(
                    F.col(col).isin(
                        *[_stat_lit(v, types[col]) for v in vals]
                    )
                )
                continue
            lo, hi = bound
            if lo is not None:
                out = out.filter(
                    F.col(col) >= _stat_lit(lo, types[col])
                )
            if hi is not None:
                out = out.filter(
                    F.col(col) <= _stat_lit(hi, types[col])
                )
        return out

    def _classify_where(
        self,
        spark: SparkSession,
        where: dict | None,
        version: int | None,
        column: str | None = None,
        need_sum: bool = False,
    ):
        """count_where's and agg_where's split of a snapshot's groups
        into pruned, metadata-answered and scanned (see their
        docstrings). With ``column``, a metadata group also needs that
        column's stats entry, untruncated (truncated string stats are
        BOUNDS: they prune/contain but cannot answer MIN/MAX), with a
        ``sum`` when ``need_sum``. Returns ``(m, metadata_groups,
        boundary, detail)``: ``boundary`` is the exactly row-filtered
        scan of the other groups (None when none scan)."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(v)
        declared = _schema_from_json(m["schema"])
        types = {f.name: f.dataType for f in declared.fields}
        if column is not None:
            if column not in types:
                raise ValueError(f"no such column: {column!r}")
            if need_sum and _sum_stat_expr(
                next(f for f in declared.fields if f.name == column), "s"
            ) is None:
                raise ValueError(
                    f"SUM is undefined for column {column!r} of type "
                    f"{types[column].simpleString()}"
                )
        where = where or {}
        # classification runs on stats-domain bounds; the boundary scan
        # keeps the caller's originals (exact semantics). A bound that
        # can't be normalized is WEAKER than the predicate, so it may
        # not prune AND must break containment proofs (else metadata
        # rows would include rows the scan filter rejects).
        cls_where, cls_dropped = _normalize_prune_bounds(where, types)
        stats = m.get("stats") or {}
        del_groups: set[str] = set()
        for e in m.get("delete_entries") or []:
            del_groups.update(e["applies_to"])
        pruned, metadata, scan = 0, [], []
        for g in m["groups"]:
            st = stats.get(g) or {}
            # pruning stays sound under pending deletes: an equality
            # delete only REMOVES rows, so a box disjoint from the
            # bounds still holds none
            if cls_where and not _group_may_match(st, cls_where):
                pruned += 1
                continue
            entry = st.get(column) if column is not None else {}
            if (
                g not in del_groups
                and st.get("_rows") is not None
                and not cls_dropped
                and (not where or _group_fully_contained(st, cls_where))
                and isinstance(entry, dict)
                and (not need_sum or "sum" in entry)
                and not entry.get("trunc")
            ):
                metadata.append(g)
            else:
                scan.append(g)
        boundary = None
        if scan:
            boundary = self._apply_where_rowfilter(
                self._read_groups(spark, m, scan), m, where
            )
        detail = {"pruned": pruned, "metadata": len(metadata),
                  "scanned": len(scan)}
        return m, metadata, boundary, detail

    def count_where(
        self,
        spark: SparkSession,
        where: dict | None = None,
        version: int | None = None,
        detail: bool = False,
    ):
        """COUNT(*) answered from manifest METADATA wherever provable
        (Iceberg's snapshot-summary / min-max trick — the reference's
        row counting, internal/writer/writer.go:96-109, re-done at
        lake scale): per group, a stats box DISJOINT from the bounds
        counts 0 without touching a file; a box FULLY INSIDE with zero
        nulls in the referenced columns counts its manifest ``_rows``;
        only BOUNDARY groups scan (with the exact row filter). On a
        clustered table the boundary is O(groups the cutoff line
        crosses), so a 100 TB COUNT costs a metadata walk plus a scan
        of the edge groups — and COUNT(*) with no predicate is pure
        metadata, zero Spark jobs.

        Exactness guards: groups covered by pending merge-on-read
        delete entries scan (their ``_rows`` overstate; the anti-join
        applies), IN-set bounds scan every may-match group (a box
        can't prove each value is a member), and groups without stats
        scan. ``detail=True`` additionally returns the classification
        counts ``{"pruned", "metadata", "scanned"}`` — tests pin the
        classification, not just totals, because a misclassified group
        is silently wrong at any scale.

        Bound literals are interpreted in the column's type domain
        (a datetime bound on a DATE column truncates to the date) —
        see read()'s docstring for the full contract."""
        m, metadata, boundary, info = self._classify_where(
            spark, where, version
        )
        stats = m.get("stats") or {}
        total = sum(int(stats[g]["_rows"]) for g in metadata)
        if boundary is not None:
            total += boundary.count()
        if detail:
            return total, info
        return total

    def agg_where(
        self,
        spark: SparkSession,
        column: str,
        ops: tuple = ("min", "max", "sum", "count"),
        where: dict | None = None,
        version: int | None = None,
        detail: bool = False,
    ):
        """MIN/MAX/SUM/COUNT over one column answered from manifest
        METADATA wherever provable — count_where's classification
        (VERDICT r9 #4, the Iceberg/DuckDB min-max-from-stats trick)
        extended to the other distributive aggregates. Per group:

        * stats box DISJOINT from ``where`` → contributes nothing;
        * box FULLY INSIDE (zero nulls in every where-column) and not
          covered by pending merge-on-read deletes → the group's
          manifest entry answers exactly: ``min``/``max`` directly
          (they ignore NULLs, as SQL does), ``sum`` from the per-group
          SUM observed at write time, ``count`` as rows − nulls;
        * anything else (boundary box, missing stats, missing sum on a
          pre-r10 manifest, delete-covered) → the group SCANS with the
          exact row filter.

        SQL semantics throughout: NULLs don't contribute; an all-NULL
        table yields None for min/max/sum and 0 for count. Returns
        ``{op: value}`` (values decoded into the column's Python
        domain); ``detail=True`` adds the pruned/metadata/scanned
        classification, which tests PIN — a misclassified group is
        silently wrong at any scale.

        Bound literals are interpreted in the column's type domain
        (a datetime bound on a DATE column truncates to the date) —
        see read()'s docstring for the full contract."""
        import decimal

        bad = [o for o in ops if o not in ("min", "max", "sum", "count")]
        if bad:
            raise ValueError(f"unsupported agg op(s): {bad}")
        need_sum = "sum" in ops
        m, metadata, boundary, info = self._classify_where(
            spark, where, version, column=column, need_sum=need_sum
        )
        field = next(
            f for f in _schema_from_json(m["schema"]).fields
            if f.name == column
        )
        dtype = field.dataType
        stats = m.get("stats") or {}
        mn_md, mx_md, n_md = None, None, 0
        sum_md = None
        for g in metadata:
            entry = stats[g][column]
            nn = int(stats[g]["_rows"]) - int(entry.get("nulls") or 0)
            n_md += nn
            if nn > 0:
                gmn = _stat_unjson(entry["min"], dtype)
                gmx = _stat_unjson(entry["max"], dtype)
                mn_md = gmn if mn_md is None else min(mn_md, gmn)
                mx_md = gmx if mx_md is None else max(mx_md, gmx)
                if need_sum and entry.get("sum") is not None:
                    gs = entry["sum"]
                    gs = (
                        decimal.Decimal(gs) if isinstance(gs, str) else gs
                    )
                    sum_md = gs if sum_md is None else sum_md + gs
        mn_sc, mx_sc, sum_sc, n_sc = None, None, None, 0
        if boundary is not None:
            se = _sum_stat_expr(field, "s")
            aggs = [
                F.min(column).alias("mn"),
                F.max(column).alias("mx"),
                F.count(column).alias("n"),
            ]
            if se is not None:
                aggs.append(se)
            r = boundary.agg(*aggs).first()
            mn_sc, mx_sc, n_sc = r["mn"], r["mx"], int(r["n"])
            sum_sc = r["s"] if se is not None else None
        out: dict = {}
        for op in ops:
            if op == "count":
                out[op] = n_md + n_sc
            elif op == "min":
                vals = [x for x in (mn_md, mn_sc) if x is not None]
                out[op] = min(vals) if vals else None
            elif op == "max":
                vals = [x for x in (mx_md, mx_sc) if x is not None]
                out[op] = max(vals) if vals else None
            else:  # sum
                vals = [x for x in (sum_md, sum_sc) if x is not None]
                total = None
                for x in vals:
                    x = (
                        decimal.Decimal(str(x))
                        if not isinstance(
                            x, (int, float, decimal.Decimal)
                        )
                        else x
                    )
                    total = x if total is None else total + x
                if (
                    total is not None
                    and isinstance(total, decimal.Decimal)
                    and dtype.typeName()
                    in ("byte", "short", "integer", "long")
                ):
                    total = int(total)
                out[op] = total
        if detail:
            return out, info
        return out

    def _read_groups(
        self, spark: SparkSession, m: dict, groups: list[str]
    ) -> DataFrame:
        """DataFrame over a subset of a manifest's groups, with that
        manifest's merge-on-read delete entries applied (scoped to the
        groups each entry covers — Iceberg sequence-number semantics:
        a key re-inserted by a later append survives)."""
        from functools import reduce

        declared = _schema_from_json(m["schema"])
        if not groups:
            return _empty_frame(spark, declared)
        colmap = m.get("colmap") or {}
        castmap = m.get("castmap") or {}
        dtypes = {f.name: f.dataType for f in declared.fields}

        def align(df):
            # by-name alignment: a column added by evolution (or
            # re-added after a DROP) reads NULL in groups whose files
            # predate it; file columns outside the declared schema
            # (DROPped) are projected away
            for f in declared.fields:
                if f.name not in df.columns:
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            return df.select(*[f.name for f in declared.fields])

        def remap(df, mapping: dict):
            # one-shot projection, mirroring pysource._arrow_align so
            # the JVM and Arrow read paths can't diverge: sequential
            # withColumnRenamed breaks on cyclic maps (the legal
            # a->c, b->a, c->b history yields colmap {a:'b', b:'a'};
            # renaming a->b first duplicates 'b' and the table becomes
            # unreadable). Tombstones (file col -> None) read NULL —
            # a dropped column whose name a later ADD re-used must
            # never surface the old file bytes.
            if not mapping:
                return df
            current = {
                fc: cur for fc, cur in mapping.items() if cur is not None
            }
            dropped = {
                fc for fc, cur in mapping.items() if cur is None
            }
            file_of = {cur: fc for fc, cur in current.items()}
            cols = set(df.columns)
            exprs = []
            for f in declared.fields:
                fcol = file_of.get(f.name, f.name)
                routed_away = fcol in dropped or (
                    fcol in current and current[fcol] != f.name
                )
                if fcol in cols and not routed_away:
                    exprs.append(F.col(fcol).alias(f.name))
            if not exprs:
                # every declared field is tombstoned/absent in these
                # files; keep the row count, align() adds the NULLs
                exprs = [F.lit(None).alias("__remap_placeholder__")]
            return df.select(*exprs)

        def widen(df, cols: tuple):
            # pre-widening groups hold the narrow type; cast AFTER the
            # rename routing so the column is under its current name.
            # A widening cast can't lose values by construction
            # (widen_column validates the promotion set).
            for c in cols:
                if c in df.columns and c in dtypes:
                    df = df.withColumn(c, F.col(c).cast(dtypes[c]))
            return df

        def load(gs: list[str]) -> DataFrame:
            # one multi-path scan per (colmap, castmap) SIGNATURE: the
            # no-evolution common case stays ONE mergeSchema scan over
            # all paths; after a rename/widen, pre-evolution groups
            # batch into a second scan with the name map / casts
            # applied — still O(signatures) scans, not O(groups).
            # Mixed-width parquet files must NOT share a mergeSchema
            # scan (Spark refuses to merge int vs long), which the
            # castmap split guarantees.
            by_sig: dict = {}
            for g in gs:
                sig = (
                    tuple(sorted((colmap.get(g) or {}).items(),
                                 key=lambda kv: kv[0])),
                    tuple(sorted(castmap.get(g) or ())),
                )
                by_sig.setdefault(sig, []).append(g)

            def scan(nsig, csig, gg):
                paths = [os.path.join(self.path, g) for g in gg]
                if not nsig and not csig:
                    # no rename routing, no width casts: read under the
                    # DECLARED manifest schema directly — columns a file
                    # predates read NULL natively, file columns outside
                    # the schema are pruned, and no footer-merge job
                    # runs at plan time (mergeSchema reads every footer
                    # in a Spark job; the manifest already knows the
                    # schema)
                    return spark.read.schema(declared).parquet(*paths)
                return align(
                    widen(
                        remap(
                            spark.read.option(
                                "mergeSchema", "true"
                            ).parquet(*paths),
                            dict(nsig),
                        ),
                        csig,
                    )
                )

            parts = [
                scan(nsig, csig, gg)
                # repr-keyed: signatures mix str and None (tombstones)
                for (nsig, csig), gg in sorted(by_sig.items(), key=repr)
            ]
            return reduce(lambda a, b: a.unionByName(b), parts)

        read_set = set(groups)
        dels = [
            e
            for e in (m.get("delete_entries") or [])
            if read_set.intersection(e["applies_to"])
        ]
        if not dels:
            return load(groups)

        touched = {
            g for e in dels for g in e["applies_to"] if g in read_set
        }
        parts = []
        untouched = [g for g in groups if g not in touched]
        if untouched:
            # the untouched majority stays ONE multi-path scan
            parts.append(load(untouched))

        for g in (g for g in groups if g in touched):
            dfg = load([g])
            for e in dels:
                if g not in e["applies_to"]:
                    continue
                # sidecar rows are distinct by construction
                # (delete_where writes .distinct()); the join is
                # NULL-SAFE so a delete keyed on a NULL value removes
                # the row, matching the copy-on-write strategy
                ddf = spark.read.parquet(
                    os.path.join(self.path, e["file"])
                )
                # a rename after the delete was staged: the sidecar
                # FILE keeps the old column name; keymap routes it to
                # the current name so the anti-join keys line up.
                # One-shot select (not sequential withColumnRenamed)
                # so cyclic swap histories can't collide names.
                keymap = e.get("keymap") or {}
                if keymap:
                    ddf = ddf.select(
                        *[
                            F.col(c).alias(keymap.get(c) or c)
                            for c in ddf.columns
                        ]
                    )
                cond = reduce(
                    lambda a, b: a & b,
                    [dfg[k].eqNullSafe(ddf[k]) for k in e["key"]],
                )
                dfg = dfg.join(ddf, cond, "left_anti")
            parts.append(dfg)
        return reduce(lambda a, b: a.unionByName(b), parts)

    # -- rollback / vacuum -------------------------------------------

    def rollback(self, to_version: int) -> int:
        """Publish a NEW snapshot with ``to_version``'s file list —
        history stays intact, time travel to the bad version still
        works, exactly like Iceberg's rollback."""
        m = self._load_manifest(to_version)
        # read-modify-write: the parent read here IS the base; if a
        # concurrent commit lands before the publish, the version slot
        # collision inside _publish raises CommitConflictError
        return self._publish(
            self.latest_version(),
            {
                "schema": m["schema"],
                "groups": list(m["groups"]),
                "mode": f"rollback:{to_version}",
                "added": [],
                # pending merge-on-read deletes are part of the state
                # being reproduced — dropping them would resurrect rows
                "delete_entries": list(m.get("delete_entries") or []),
                "stats": dict(m.get("stats") or {}),
                # the target version's name/cast maps, NOT the
                # latest's — a rollback across a rename/widen must
                # reproduce the old schema with the old routing
                # (explicit maps skip _publish's parent inheritance)
                "colmap": dict(m.get("colmap") or {}),
                "castmap": dict(m.get("castmap") or {}),
            },
        )

    # -- RENAME / DROP column evolution --------------------------------

    def _evolution_base(self, expected_parent):
        base = (
            self.latest_version() if expected_parent == "any"
            else expected_parent
        )
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        return base, self._load_manifest(base)

    @staticmethod
    def _check_constraints_clear(m: dict, col: str, action: str) -> None:
        import re as _re

        for cname, expr in (m.get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(col)}\b", str(expr)):
                raise ValueError(
                    f"cannot {action} column {col!r}: CHECK constraint "
                    f"{cname!r} references it — drop the constraint "
                    f"first, then recreate it against the new schema"
                )

    def rename_column(
        self, old: str, new: str, expected_parent: int | str = "any"
    ) -> int:
        """METADATA-ONLY column rename (Iceberg's field-identity
        semantics, VERDICT r9 #2): data files keep the old name; the
        manifest schema adopts the new one; a per-group ``colmap``
        entry (file_name -> current_name) routes old files to the new
        name at scan time — zero data IO on a 100 TB table, where the
        pre-field-ID alternative is a full rewrite. Iceberg needs
        numeric field IDs because its files are reused across tables;
        here group relpaths are immutable uuids, so the (group,
        file_column) pair IS the stable identity and plain name maps
        suffice. Stats/bloom keys rekey to the new name (pruning keeps
        working), pending merge-on-read delete entries rekey with a
        sidecar ``keymap``, and _publish carries maps forward on every
        later commit automatically. Conflicts: publishes base-pinned —
        any concurrent commit wins the version slot and this raises
        CommitConflictError (schema changes never rebase)."""
        base, m = self._evolution_base(expected_parent)
        declared = _schema_from_json(m["schema"])
        names = [f.name for f in declared.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        self._check_constraints_clear(m, old, "rename")
        sdict = json.loads(m["schema"])
        for f in sdict["fields"]:
            if f["name"] == old:
                f["name"] = new
        colmap = {
            g: dict(mp) for g, mp in (m.get("colmap") or {}).items()
        }
        for g in m["groups"]:
            mp = colmap.get(g, {})
            fcol = next(
                (fc for fc, cur in mp.items() if cur == old), None
            )
            if fcol is None:
                if old in mp:
                    # tombstoned file column: the CURRENT field named
                    # ``old`` was re-added after a DROP and has no file
                    # data in this group — nothing to route
                    continue
                fcol = old
            mp = dict(mp)
            mp[fcol] = new
            colmap[g] = {
                fc: cur
                for fc, cur in mp.items()
                if cur is None or fc != cur  # prune identity maps
            }
        colmap = {g: mp for g, mp in colmap.items() if mp}
        stats = {
            g: dict(st) for g, st in (m.get("stats") or {}).items()
        }
        for st in stats.values():
            if old in st:
                st[new] = st.pop(old)
            bl = st.get("_bloom")
            if isinstance(bl, dict) and old in bl:
                bl = dict(bl)
                bl[new] = bl.pop(old)
                st["_bloom"] = bl
        entries = []
        for e in m.get("delete_entries") or []:
            if old in e["key"]:
                keymap = dict(e.get("keymap") or {})
                fcol = next(
                    (fc for fc, cur in keymap.items() if cur == old),
                    old,
                )
                keymap[fcol] = new
                e = {
                    **e,
                    "key": [new if k == old else k for k in e["key"]],
                    "keymap": {
                        fc: cur
                        for fc, cur in keymap.items()
                        if fc != cur
                    },
                }
            entries.append(e)
        return self._publish(
            base,
            {
                "schema": json.dumps(sdict),
                "groups": list(m["groups"]),
                "mode": f"rename_column:{old}:{new}",
                "added": [],
                "delete_entries": entries,
                "stats": stats,
                "colmap": colmap,
                # widening casts follow the rename: the cast applies
                # AFTER name routing, so entries rekey to the new name
                "castmap": {
                    g: sorted(new if c == old else c for c in cols)
                    for g, cols in (m.get("castmap") or {}).items()
                },
                "bloom_cols": [
                    new if c == old else c
                    for c in (m.get("bloom_cols") or [])
                ],
                # surfaced so snapshot_diff can align column identity
                # across the rename
                "renamed": {"old": old, "new": new},
            },
        )

    def drop_column(
        self, name: str, expected_parent: int | str = "any"
    ) -> int:
        """METADATA-ONLY column drop: the manifest schema loses the
        field; data files keep the bytes (reclaimed as groups rewrite/
        compact); a per-group colmap TOMBSTONE (file_name -> None)
        guarantees that re-ADDing a column with the same name later
        reads NULL from old groups instead of resurrecting the dropped
        bytes — the resurrection bug Iceberg's field IDs exist to
        prevent. Refuses while the column keys a pending merge-on-read
        delete (the anti-join still needs it; optimize() first) or a
        CHECK constraint references it."""
        base, m = self._evolution_base(expected_parent)
        declared = _schema_from_json(m["schema"])
        names = [f.name for f in declared.fields]
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        self._check_constraints_clear(m, name, "drop")
        for e in m.get("delete_entries") or []:
            if name in e["key"]:
                raise ValueError(
                    f"cannot drop {name!r}: a pending merge-on-read "
                    f"delete is keyed on it — optimize() to materialize "
                    f"the delete first"
                )
        sdict = json.loads(m["schema"])
        sdict["fields"] = [
            f for f in sdict["fields"] if f["name"] != name
        ]
        colmap = {
            g: dict(mp) for g, mp in (m.get("colmap") or {}).items()
        }
        for g in m["groups"]:
            mp = dict(colmap.get(g, {}))
            fcol = next(
                (fc for fc, cur in mp.items() if cur == name), None
            )
            if fcol is None:
                if name in mp:
                    continue  # already tombstoned (re-add then re-drop)
                fcol = name
            else:
                del mp[fcol]
            mp[fcol] = None
            colmap[g] = mp
        colmap = {g: mp for g, mp in colmap.items() if mp}
        stats = {
            g: dict(st) for g, st in (m.get("stats") or {}).items()
        }
        for st in stats.values():
            st.pop(name, None)
            bl = st.get("_bloom")
            if isinstance(bl, dict) and name in bl:
                bl = dict(bl)
                bl.pop(name)
                st["_bloom"] = bl
        return self._publish(
            base,
            {
                "schema": json.dumps(sdict),
                "groups": list(m["groups"]),
                "mode": f"drop_column:{name}",
                "added": [],
                "delete_entries": list(m.get("delete_entries") or []),
                "stats": stats,
                "colmap": colmap,
                "castmap": {
                    g: [c for c in cols if c != name]
                    for g, cols in (m.get("castmap") or {}).items()
                },
                "bloom_cols": [
                    c for c in (m.get("bloom_cols") or []) if c != name
                ],
            },
        )

    def widen_column(
        self, name: str, new_type, expected_parent: int | str = "any"
    ) -> int:
        """METADATA-ONLY column type WIDENING (Iceberg's allowed
        promotions): byte/short/int -> any wider integral, float ->
        double, decimal(p,s) -> decimal(P,s) with P > p (same scale —
        a scale change alters VALUES, not just range). Data files keep
        the narrow type; the manifest schema adopts the wide one; a
        per-group ``castmap`` entry makes reads CAST the file column
        at scan time (a no-op projection, not a rewrite). Stats stay
        valid as-is (int/float/decimal-str compare identically across
        the widening); per-group BLOOM filters for the column are
        DROPPED — xxhash64 is type-sensitive, so a probe cast to the
        wide type could no longer find the narrow-hashed bits (a false
        negative = a wrong prune; dropping is merely conservative).
        Appends after the widening must use the wide type (schema
        equality, as with any evolution). Narrowing or cross-family
        changes still require an explicit overwrite migration."""
        from pyspark.sql.types import DecimalType, _parse_datatype_string

        if isinstance(new_type, str):
            new_type = _parse_datatype_string(new_type)
        base, m = self._evolution_base(expected_parent)
        declared = _schema_from_json(m["schema"])
        fields = {f.name: f for f in declared.fields}
        if name not in fields:
            raise ValueError(f"no such column: {name!r}")
        old_t = fields[name].dataType
        integral = ["byte", "short", "integer", "long"]
        ok = False
        if (
            old_t.typeName() in integral
            and new_type.typeName() in integral
        ):
            ok = integral.index(new_type.typeName()) > integral.index(
                old_t.typeName()
            )
        elif old_t.typeName() == "float" and new_type.typeName() == (
            "double"
        ):
            ok = True
        elif isinstance(old_t, DecimalType) and isinstance(
            new_type, DecimalType
        ):
            ok = (
                new_type.scale == old_t.scale
                and new_type.precision > old_t.precision
            )
        if not ok:
            raise ValueError(
                f"cannot widen {name!r} from {old_t.simpleString()} to "
                f"{new_type.simpleString()}: allowed promotions are "
                "byte/short/int -> wider integral, float -> double, "
                "decimal(p,s) -> decimal(P,s) with P > p"
            )
        sdict = json.loads(m["schema"])
        for f in sdict["fields"]:
            if f["name"] == name:
                f["type"] = json.loads(new_type.json())
        castmap = {
            g: sorted(set(cols))
            for g, cols in (m.get("castmap") or {}).items()
        }
        for g in m["groups"]:
            castmap[g] = sorted(set(castmap.get(g, [])) | {name})
        stats = {
            g: dict(st) for g, st in (m.get("stats") or {}).items()
        }
        bloom_dropped = False
        for st in stats.values():
            bl = st.get("_bloom")
            if isinstance(bl, dict) and name in bl:
                bl = dict(bl)
                bl.pop(name)
                bloom_dropped = True
                if bl:
                    st["_bloom"] = bl
                else:
                    st.pop("_bloom")
        bloom_cols = [
            c for c in (m.get("bloom_cols") or []) if c != name
        ] if bloom_dropped or name in (m.get("bloom_cols") or []) else (
            m.get("bloom_cols") or []
        )
        return self._publish(
            base,
            {
                "schema": json.dumps(sdict),
                "groups": list(m["groups"]),
                "mode": f"widen_column:{name}:{new_type.simpleString()}",
                "added": [],
                "delete_entries": list(m.get("delete_entries") or []),
                "stats": stats,
                "castmap": castmap,
                "bloom_cols": list(bloom_cols),
            },
        )

    def history(self) -> list[dict]:
        """Audit view: one row per snapshot (version, parent, mode,
        n_groups, txn marks) — the DESCRIBE HISTORY analog. Served from
        the history checkpoint where it covers (rows for vacuumed
        versions are filtered out); only manifests NEWER than the
        checkpoint are loaded."""
        vs = self.versions()
        retained = set(vs)
        ck = self._read_checkpoint()
        upto = int(ck["upto"])
        by_v = {
            int(r["version"]): r
            for r in ck["rows"]
            if int(r["version"]) in retained
        }
        out = []
        for v in vs:
            row = by_v.get(v) if v <= upto else None
            if row is None:
                row = _history_row(v, self._load_manifest(v))
            out.append(row)
        return out

    # -- metadata inspection tables (Iceberg $files/$history/$refs) ----
    #
    # Operational introspection as DataFrames — the queries a 100 TB
    # table's operator actually runs ("how many small groups need
    # compaction?", "what did last night's job commit?", "which refs
    # pin old history?") answered from MANIFEST metadata only: no data
    # file is opened by any of these, so they cost the same on 10 rows
    # and 10 PB.

    def inspect_files(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """One row per data GROUP of a snapshot (default: latest):
        rows/bytes from write-time stats, the versions that added it,
        and whether pending merge-on-read deletes cover it. The
        small-files query that drives compaction policy
        (``WHERE n_bytes < threshold``) is a filter on this frame."""
        v = self.latest_version() if version is None else int(version)
        if v is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(v)
        stats = m.get("stats") or {}
        del_groups: set[str] = set()
        for e in m.get("delete_entries") or []:
            del_groups.update(e["applies_to"])
        rows = []
        for g in m["groups"]:
            st = stats.get(g) or {}
            rows.append(
                (
                    g,
                    int(st["_rows"]) if "_rows" in st else None,
                    int(st["_bytes"]) if "_bytes" in st else None,
                    g in del_groups,
                )
            )
        return spark.createDataFrame(
            rows,
            "group string, n_rows bigint, n_bytes bigint,"
            " has_pending_deletes boolean",
        )

    def inspect_history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY as a DataFrame: one row per retained
        snapshot with version, parent, mode, commit instant, and
        group/added counts — checkpoint-served like history(); a
        manifest is loaded only for rows a pre-r11 checkpoint recorded
        without the instant/added fields."""
        rows = []
        for h in self.history():
            v = int(h["version"])
            if "committed_at" in h and "n_added" in h:
                ts, n_added = h["committed_at"], h["n_added"]
            else:  # legacy checkpoint row: fall back to the manifest
                m = self._load_manifest(v)
                ts = m.get("committed_at")
                n_added = len(m.get("added") or [])
            rows.append(
                (
                    v,
                    h.get("parent"),
                    str(h.get("mode")),
                    float(ts or 0.0),
                    int(h.get("n_groups") or 0),
                    int(n_added),
                )
            )
        return spark.createDataFrame(
            rows,
            "version int, parent int, mode string, committed_at double,"
            " n_groups int, n_added int",
        )

    def inspect_refs(self, spark: SparkSession) -> DataFrame:
        """Every live named ref: tags (their pinned version) and
        branches (head version + fork point) — what's pinning history
        against vacuum, and what's staged but unpublished."""
        rows = []
        for name, v in sorted(self.tags().items()):
            rows.append(("tag", name, int(v), None))
        for name in self.branches():
            b = self.branch(name)
            head = b.latest_version()
            try:
                fork = int(b._load_manifest(0)["fork"]["version"])
            except (FileNotFoundError, KeyError):
                fork = None
            rows.append(
                ("branch", name,
                 int(head) if head is not None else None, fork)
            )
        return spark.createDataFrame(
            rows,
            "kind string, name string, version int, fork_version int",
        )

    def _cluster_write(
        self, m: dict, df, cluster_cols: list[str], k: int
    ) -> tuple[list[str], dict]:
        """Range-cluster ``df`` on the (single or Z-order-interleaved)
        key into ``k`` new data groups through _write_groups — the
        clustering shuffle shared by optimize() and
        optimize_incremental(), so full and incremental clustering can
        never produce differently-shaped groups."""
        if len(cluster_cols) == 1:
            keyed, key, drop = df, F.col(cluster_cols[0]), []
        else:
            from .layout import add_zorder_key

            keyed = add_zorder_key(df, cluster_cols)
            key, drop = F.col("__zkey"), ["__zkey"]
        # range-cluster in one shuffle; spark assigns contiguous value
        # ranges to partitions, which the bucket column then names (NULLs
        # sort first — they land in bucket 0 and leave its min/max NULL-
        # insensitive, matching the stats contract)
        clustered = (
            keyed.repartitionByRange(k, key)
            .withColumn("__bucket", F.spark_partition_id())
            .drop(*drop)
        )
        return _write_groups(clustered, self.path, m, ("__bucket",))

    def optimize(
        self,
        spark: SparkSession,
        target_partitions: int = 1,
        cluster_by: str | list[str] | None = None,
        target_groups: int = 4,
    ) -> int:
        """Compaction (OPTIMIZE): rewrite the current snapshot's many
        small groups and publish the result as a new snapshot — same
        rows, fewer files. History keeps the fragmented versions
        (vacuum reclaims them later). Concurrency (r9b, Delta's
        OPTIMIZE-vs-append rule): the clustered form REBASES over
        commits that only APPENDED groups — continuous ingest and
        periodic clustering compose without stop-the-world — while any
        concurrent rewrite of a base group (merge/delete/update/
        compact), schema or constraint change, or merge-on-read delete
        entry still conflicts; the plain coalesce form (cluster_by
        None) routes through commit(mode="overwrite") and stays
        strictly parent-pinned.

        ``cluster_by`` is Delta's OPTIMIZE ZORDER idea: with ONE
        column, rows are RANGE-clustered on it into ``target_groups``
        groups; with SEVERAL columns, rows are range-clustered on the
        Morton (Z-order) interleaving of the columns
        (io/layout.py::add_zorder_key), so each group's manifest
        min/max box is tight in EVERY clustered dimension at once —
        which is what makes ``read(where=...)`` group pruning and the
        file-pruned MERGE actually selective (on any of the clustered
        columns, not just a primary one). Compaction is the moment to
        buy data skipping: it is already O(table), and the clustered
        layout pays that cost back on every subsequent read/merge.
        Implementation: one range-shuffled write into bucket
        subdirectories (one job), renamed into per-bucket groups, plus
        one aggregate pass for per-group stats — two table scans total,
        the floor for any clustering compaction (the z-key adds one
        broadcast of a 1-row extrema aggregate)."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if cluster_by is None:
            df = self.read(spark, base).coalesce(target_partitions)
            return self.commit(df, mode="overwrite", expected_parent=base)

        m = self._load_manifest(base)
        df = self.read(spark, base)
        cluster_cols = (
            [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        )
        groups, stats = self._cluster_write(
            m, df, cluster_cols, max(1, target_groups)
        )
        # Delta's OPTIMIZE-vs-append concurrency: clustering is an
        # O(table) rewrite, so forcing a full redo because an ingest
        # appended mid-flight would make continuous ingest + periodic
        # clustering mutually exclusive. removed = EVERY base group, so
        # the shared-group rule still conflicts with any concurrent
        # rewrite (merge/delete/update/compact rebased or not), and
        # validation conflicts when merge-on-read delete entries are in
        # play; pure appends carry into the clustered snapshot verbatim
        # (their rows simply stay unclustered until the next optimize).
        return self._publish_or_rebase(
            m,
            list(m["groups"]),
            groups,
            stats,
            mode=f"optimize:cluster_by={cluster_by}",
            # the clustered-set record optimize_incremental reads:
            # inherited by later commits (like txn/bloom_bits) and
            # intersected with the live group list at use, so groups
            # rewritten away simply drop out
            clustered={"cols": ",".join(cluster_cols), "groups": groups},
            concurrent_adds_ok=True,
        )

    def optimize_incremental(
        self,
        spark: SparkSession,
        target_groups: int | None = None,
    ) -> int:
        """INCREMENTAL clustering (the LSM answer to OPTIMIZE ZORDER
        being O(table)): rewrite ONLY the groups appended since the
        last clustering — range-clustered on the SAME key through the
        clustering shuffle optimize() uses (_cluster_write) — and carry
        every already-clustered group by reference. Continuous ingest
        + periodic re-clustering then costs O(new data) per run
        instead of O(table); each run adds one clustered LAYER per key range
        (groups stay tight in every clustered dimension, so
        read(where=...) pruning and file-pruned MERGE stay selective —
        a point probe touches one group per layer instead of one per
        ingest commit). Run the full optimize() occasionally to fold
        layers back to one.

        The clustered set rides the manifest's inherited ``clustered``
        record (set by optimize(), carried like txn/bloom_bits,
        intersected with the live group list here so groups rewritten
        away just drop out). Like clustering itself, the publish
        REBASES over concurrent pure appends (their groups join the
        unclustered tail for the next run) and conflicts with any
        concurrent rewrite of a rewritten group. Rows are untouched,
        so the change-data-feed diffs this commit to ZERO rows,
        exactly like compact/optimize. Returns the new version (or
        the current one when there is nothing unclustered — a no-op
        mints no version)."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(base)
        rec = m.get("clustered")
        if not rec:
            raise ValueError(
                "no prior clustering to extend — run "
                "optimize(cluster_by=...) once; optimize_incremental "
                "maintains that layout from then on"
            )
        cluster_cols = str(rec["cols"]).split(",")
        live = list(m["groups"])
        live_set = set(live)
        rec_set = set(rec["groups"])
        clustered_live = [g for g in rec["groups"] if g in live_set]
        delta = [g for g in live if g not in rec_set]
        if not delta:
            return base  # everything already clustered: no-op
        delta_set = set(delta)
        dels = m.get("delete_entries") or []
        if any(set(e["applies_to"]) & delta_set for e in dels):
            raise ValueError(
                "merge-on-read delete entries apply to the "
                "unclustered tail; run optimize() (or compact) to "
                "materialize them first"
            )
        stats_all = m.get("stats") or {}
        df = self._read_groups(spark, m, delta)
        if target_groups is None:
            # size the new layer's groups like the clustered ones
            cl_rows = [
                int((stats_all.get(g) or {}).get("_rows") or 0)
                for g in clustered_live
            ]
            d_rows = sum(
                int((stats_all.get(g) or {}).get("_rows") or 0)
                for g in delta
            )
            sized = [r for r in cl_rows if r > 0]
            mean = (sum(sized) // len(sized)) if sized else 0
            k = (
                max(1, -(-d_rows // mean))
                if d_rows > 0 and mean > 0
                else max(1, len(delta))
            )
        else:
            k = max(1, target_groups)
        new_groups, new_stats = self._cluster_write(
            m, df, cluster_cols, k
        )
        return self._publish_or_rebase(
            m,
            delta,
            new_groups,
            new_stats,
            mode=f"optimize_delta:cluster_by={rec['cols']}",
            clustered={
                "cols": rec["cols"],
                "groups": clustered_live + new_groups,
            },
            concurrent_adds_ok=True,
        )

    def compact(
        self,
        spark: SparkSession,
        min_bytes: int = 32 << 20,
        target_partitions: int = 1,
    ) -> int:
        """Incremental bin-packing compaction (Delta's OPTIMIZE
        bin-pack, as opposed to optimize()'s full clustering rewrite):
        coalesce only the groups SMALLER than ``min_bytes`` into one
        new group; every group already at a healthy size carries into
        the new snapshot by reference. Cost is O(small groups), so the
        streaming-ingest pattern (exactly-once writer → one small
        group per micro-batch) can compact continuously without ever
        paying an O(table) rewrite — and because compaction reads only
        the groups it rewrites, it REBASES over concurrent appends and
        over rewrites of OTHER groups (only a concurrent rewrite of a
        group being compacted truly conflicts).

        Pending merge-on-read deletes scoped to compacted groups are
        materialized by the rewrite (same scoping rule as MERGE);
        entries on surviving groups carry. Group sizes come from the
        manifest's ``_bytes`` stats field (recorded once at write
        time), so selection is METADATA-ONLY; groups from legacy
        manifests without the field fall back to a directory walk.

        Returns the new version, or the current one if fewer than two
        groups are under the threshold (nothing to pack)."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(base)
        stats = m.get("stats") or {}
        small: list[str] = []
        for g in m["groups"]:
            size = (stats.get(g) or {}).get("_bytes")
            if size is None:
                size = _files_bytes(
                    _data_files(os.path.join(self.path, g))
                )
            if int(size) < min_bytes:
                small.append(g)
        if len(small) < 2:
            return base
        out_df = self._read_groups(spark, m, small).coalesce(
            max(1, target_partitions)
        )
        added, added_stats = _write_groups(out_df, self.path, m)
        return self._publish_or_rebase(
            m,
            small,
            added,
            added_stats,
            mode=f"compact:{len(small)}",
            # no read dependency on concurrent adds: compaction only
            # rewrites what it read, so pure appends rebase cleanly
            concurrent_adds_ok=True,
        )

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        strategy: str = "copy-on-write",
        key_cols: list[str] | None = None,
        prune_where: dict | None = None,
        expected_parent: int | str = "any",
    ) -> int:
        """Row-level DELETE. ``strategy="copy-on-write"`` rewrites the
        snapshot without the matching rows (read-optimized).
        ``strategy="merge-on-read"`` writes only the matched KEYS as an
        equality-delete sidecar (Iceberg equality deletes / Delta
        deletion vectors): O(matched) commit cost, the anti-join is
        paid at read time, and the delete is SCOPED to the data groups
        present at delete time — a key re-inserted by a later append
        survives. ``optimize()`` materializes pending deletes.
        Either way: parent-pinned, mode "delete" in history, the
        removed rows stay time-travelable until vacuum.

        ``prune_where`` ({col: (lo, hi)}, copy-on-write only, same
        contract as update_where's): the caller asserts the condition
        cannot match rows outside those stats boxes, so groups whose
        box is disjoint carry into the new snapshot BY REFERENCE —
        an O(delta) delete instead of an O(table) rewrite — and the
        commit gains the box-disjointness REBASE rule: two concurrent
        pruned deletes on disjoint ranges both land; overlapping
        ranges (or an unpruned rewrite) still conflict.
        ``prune_where="auto"`` DERIVES the boxes from the condition
        itself (derive_prune_bounds — the Delta file-skipping-planner
        move), falling back to the full rewrite when nothing is
        derivable; explicit boxes remain for predicates the analyzer
        can't see through (UDFs, expressions over columns).
        ``expected_parent`` pins the snapshot the delete was computed
        against (like merge_into's)."""
        base = (
            self.latest_version() if expected_parent == "any"
            else expected_parent
        )
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if isinstance(prune_where, str):
            if prune_where != "auto":
                raise ValueError(
                    f"prune_where must be a dict or 'auto', got "
                    f"{prune_where!r}"
                )
            prune_where = derive_prune_bounds(condition) or None
        if strategy == "copy-on-write":
            # keep rows where the condition is NOT TRUE: a predicate
            # evaluating to NULL (comparison on a NULL column) must KEEP
            # the row, matching SQL DELETE and the merge-on-read branch
            # (which deletes only TRUE matches)
            keep_cond = ~F.coalesce(condition, F.lit(False))
            if prune_where is None:
                kept = self.read(spark, base).filter(keep_cond)
                return self.commit(
                    kept, mode="delete", expected_parent=base
                )
            return self._rewrite_pruned(
                spark,
                base,
                self._load_manifest(base),
                lambda cur: cur.filter(keep_cond),
                "delete",
                prune_where,
            )
        if prune_where is not None:
            raise ValueError(
                "prune_where applies to copy-on-write deletes only "
                "(merge-on-read is already O(matched))"
            )
        if strategy != "merge-on-read":
            raise ValueError(f"unknown strategy {strategy!r}")
        if not key_cols:
            raise ValueError(
                "merge-on-read needs key_cols identifying rows to drop"
            )
        m = self._load_manifest(base)
        matched = (
            self.read(spark, base)
            .filter(condition)
            .select(*key_cols)
            .distinct()
        )
        if matched.limit(1).count() == 0:
            # nothing to delete: publishing an empty sidecar would tax
            # every later read with a no-op anti-join forever
            return base
        dfile = os.path.join("data", uuid.uuid4().hex)
        matched.write.parquet(os.path.join(self.path, dfile))
        entry = {
            "file": dfile,
            "key": list(key_cols),
            "applies_to": list(m["groups"]),
        }

        def attempt(head: int) -> tuple[dict, dict]:
            """The sidecar joins the head's delete entries; everything
            else carries. On a lost slot the MoR delete REBASES with
            its own rule set: a delete sidecar composes with
            concurrent PURE APPENDS (the new groups are deliberately
            outside applies_to — re-inserted keys survive, the
            documented scoping semantics) and with other delete entries
            (independent sidecars), but NOT with commits that rewrote
            any of the groups it scopes to — the matched rows may have
            moved to files the sidecar doesn't cover, which would
            silently lose the delete."""
            if head == base:
                latest_m = m
            else:
                latest_m = self._load_manifest(head)
                if _schema_key(latest_m["schema"]) != _schema_key(
                    m["schema"]
                ):
                    raise CommitConflictError(
                        "concurrent commit changed the schema; recompute "
                        "the delete"
                    )
                if (latest_m.get("constraints") or {}) != (
                    m.get("constraints") or {}
                ):
                    raise CommitConflictError(
                        "concurrent commit changed CHECK constraints; "
                        "recompute the delete"
                    )
                rewritten = set(entry["applies_to"]) - set(
                    latest_m["groups"]
                )
                if rewritten:
                    raise CommitConflictError(
                        "concurrent commit rewrote group(s) this delete "
                        "scopes to; recompute the delete"
                    )
            manifest = {
                "schema": latest_m["schema"],
                "groups": list(latest_m["groups"]),
                "mode": "delete",
                "added": [],
                "delete_entries": list(latest_m.get("delete_entries") or [])
                + [entry],
                "stats": dict(latest_m.get("stats") or {}),
            }
            if head != base:
                manifest["rebased_from"] = base
            return manifest, latest_m

        return self._commit_loop(base, attempt)

    # -- Bloom-indexed columns -----------------------------------------

    def bloom_columns(self) -> list[str]:
        """Columns carrying per-group Bloom filters for point-lookup
        data skipping (empty list if none declared)."""
        v = self.latest_version()
        if v is None:
            return []
        return list(self._load_manifest(v).get("bloom_cols") or [])

    def set_bloom_columns(
        self,
        spark: SparkSession,
        cols: list[str],
        bits_per_key: int = _BLOOM_DEFAULT_BITS_PER_KEY,
    ) -> int:
        """Declare Bloom-indexed columns (the data-skipping move for
        POINT lookups on high-cardinality unordered keys — uuids,
        content hashes — where min/max boxes span everything). Builds
        blooms for every EXISTING group (one bounded aggregation pass
        per group) and records the declaration; every later commit /
        MERGE / APPLY / UPDATE blooms its new groups automatically.
        MERGE's touch test and ``read(where={col: (v, v)})`` point
        reads then skip groups that provably lack the key.

        ``bits_per_key`` sizes the filters: with k=6 hashes,
        fpp ≈ (1 - e^(-6/bits_per_key))^6 — 10 bits/key ≈ 0.84%,
        16 ≈ 0.094%, 20 ≈ 0.030% (see the sizing note at the top of
        this module and tools/ab_bloom.py --sweep-bits). The value is
        recorded in the manifest and inherited by every later commit's
        automatic bloom builds. Re-declaring with a different value
        rebuilds EXISTING groups' filters only where a column has no
        filter yet; already-built sidecars keep their size (immutable
        groups), so resize takes effect on new/rewritten groups —
        run optimize() to rebuild everything at the new size."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(base)
        stats = {g: dict(s) for g, s in (m.get("stats") or {}).items()}
        for g in m["groups"]:
            st = stats.setdefault(g, {})
            have = set((st.get("_bloom") or {}))
            need = [c for c in cols if c not in have]
            if not need:
                continue
            gdf = spark.read.parquet(os.path.join(self.path, g))
            rows = int(st.get("_rows") or gdf.count())
            present = [c for c in need if c in gdf.columns]
            ndv_row = (
                gdf.agg(
                    *[
                        F.approx_count_distinct(c).alias(f"nd_{i}")
                        for i, c in enumerate(present)
                    ]
                ).first()
                if present
                else None
            )
            ndv = {
                c: int(ndv_row[f"nd_{i}"] or 0)
                for i, c in enumerate(present)
            }
            blooms = dict(st.get("_bloom") or {})
            blooms.update(
                _bloom_build(
                    gdf, need, rows, self.path, g,
                    bits_per_key=bits_per_key, ndv=ndv,
                )
            )
            if blooms:
                st["_bloom"] = blooms
        return self._publish(
            base,
            {
                "schema": m["schema"],
                "groups": list(m["groups"]),
                "mode": f"set_bloom_columns:{','.join(cols)}",
                "added": [],
                "delete_entries": list(m.get("delete_entries") or []),
                "stats": stats,
                "bloom_cols": list(cols),
                "bloom_bits": int(bits_per_key),
            },
        )

    # -- CHECK constraints ---------------------------------------------

    def constraints(self) -> dict[str, str]:
        """The table's active CHECK constraints (name -> SQL condition)."""
        v = self.latest_version()
        if v is None:
            return {}
        return dict(self._load_manifest(v).get("constraints") or {})

    def add_check_constraint(
        self, spark: SparkSession, name: str, condition: str
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (condition): existing
        data is validated first (one scan — Delta does the same), then
        a metadata-only snapshot records the constraint; every later
        commit / MERGE / APPLY CHANGES / UPDATE validates incoming rows
        inside its write job and rejects the whole batch on violation.
        SQL CHECK semantics: NULL-evaluating conditions pass."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(base)
        cons = dict(m.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        bad = (
            self.read(spark, base)
            .filter(~F.coalesce(F.expr(condition), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolationError(
                f"existing rows violate {name!r} ({condition!r}); "
                "clean the data before adding the constraint"
            )
        cons[name] = condition
        return self._publish(
            base,
            {
                "schema": m["schema"],
                "groups": list(m["groups"]),
                "mode": f"add_constraint:{name}",
                "added": [],
                "delete_entries": list(m.get("delete_entries") or []),
                "stats": dict(m.get("stats") or {}),
                "constraints": cons,
            },
        )

    def drop_check_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT: metadata-only snapshot."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load_manifest(base)
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint named {name!r}")
        del cons[name]
        return self._publish(
            base,
            {
                "schema": m["schema"],
                "groups": list(m["groups"]),
                "mode": f"drop_constraint:{name}",
                "added": [],
                "delete_entries": list(m.get("delete_entries") or []),
                "stats": dict(m.get("stats") or {}),
                "constraints": cons,
            },
        )

    def update_where(
        self,
        spark: SparkSession,
        condition,
        assignments: dict,
        prune_where: dict | None = None,
        expected_parent: int | str = "any",
    ) -> int:
        """Row-level UPDATE (Delta's UPDATE table SET ... WHERE ...):
        rows where ``condition`` is TRUE get each ``assignments`` column
        replaced by its expression; everything else is carried
        unchanged. NULL-evaluating conditions leave the row unchanged
        (SQL UPDATE semantics, matching delete_where's fix).

        ``prune_where`` ({col: (lo, hi)}, same form as read()) bounds
        WHERE matching rows can live: groups outside those stats boxes
        are carried into the new snapshot BY REFERENCE instead of
        rewritten — the caller asserts the condition cannot match
        outside the boxes (e.g. updating one day's partition). Without
        it the whole snapshot rewrites. ``prune_where="auto"`` derives
        the boxes from the condition (derive_prune_bounds — the Delta
        file-skipping-planner move: comparisons/IN over bare columns
        and literals, AND-intersected, OR-hulled), falling back to the
        full rewrite when nothing is derivable; explicit boxes remain
        for predicates the analyzer can't see through. Completes the
        DML matrix: MERGE / DELETE / apply_changes / UPDATE.
        ``expected_parent`` pins the snapshot the update was computed
        against (like merge_into's)."""
        base = (
            self.latest_version() if expected_parent == "any"
            else expected_parent
        )
        if base is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if isinstance(prune_where, str):
            if prune_where != "auto":
                raise ValueError(
                    f"prune_where must be a dict or 'auto', got "
                    f"{prune_where!r}"
                )
            prune_where = derive_prune_bounds(condition) or None
        cond = F.coalesce(condition, F.lit(False))

        def transform(cur: DataFrame) -> DataFrame:
            updated = cur
            for col, expr in assignments.items():
                updated = updated.withColumn(
                    col, F.when(cond, expr).otherwise(F.col(col))
                )
            return updated

        return self._rewrite_pruned(
            spark, base, self._load_manifest(base), transform, "update",
            prune_where,
        )

    def _rewrite_pruned(
        self,
        spark: SparkSession,
        base: int,
        m: dict,
        transform,
        mode: str,
        prune_where: dict | None,
    ) -> int:
        """Shared pruned copy-on-write rewrite behind UPDATE and DELETE:
        groups whose stats box is disjoint from ``prune_where`` carry
        into the new snapshot by reference; the touched groups are read,
        ``transform``ed, and rewritten as ONE new group. A PRUNED
        rewrite rebases like MERGE — prune_where IS the box the caller
        asserts the condition lives in, so a concurrent commit whose
        added groups sit outside it is provably disjoint. An unpruned
        rewrite (prune_where=None) touches everything and any
        concurrent commit truly conflicts; the validation reaches the
        same verdict."""
        groups = list(m["groups"])
        stats = m.get("stats") or {}
        if prune_where:
            # validate EVERY bound before any data write: a malformed
            # entry (scalar, 3-tuple) used to pass the touch computation
            # and crash only at box serialization — after the new group
            # was already on disk (an orphan until vacuum)
            for col, bound in prune_where.items():
                try:
                    _where_bounds(bound)
                except (TypeError, ValueError):
                    raise ValueError(
                        f"prune_where[{col!r}] must be a (lo, hi) "
                        f"2-tuple or a list/set of values; got {bound!r}"
                    ) from None
            # re-encode into the stats domain (str-on-temporal bounds
            # would prune lexicographically — wrong); a dropped bound
            # widens the touch set, never loses rows
            prune_where, _ = _normalize_prune_bounds(
                prune_where,
                {
                    f.name: f.dataType
                    for f in _schema_from_json(m["schema"]).fields
                },
            )
            prune_where = prune_where or None
        if prune_where:
            touched = [
                g for g in groups
                if _group_may_match(stats.get(g), prune_where)
            ]
            # POINT/IN-set bounds additionally consult the per-group
            # Bloom filters (same refinement as read()'s): on a
            # hash-keyed table every min/max box spans the whole key
            # space, so without this a single-uid auto-pruned DELETE
            # rewrites the entire table instead of the one group the
            # key can live in. False positives only cost an
            # unnecessary rewrite; false negatives are impossible.
            touched = _bloom_prune_where(
                spark, m, touched, prune_where, self.path
            )
        else:
            touched = groups
        if prune_where and not touched:
            return base  # nothing can match: metadata-only no-op
        out_df = transform(self._read_groups(spark, m, touched))
        added, added_stats = _write_groups(out_df, self.path, m)
        types = {
            f.name: f.dataType for f in _schema_from_json(m["schema"]).fields
        }
        box = _rebase_box(prune_where, types) if prune_where else None
        return self._publish_or_rebase(
            m, touched, added, added_stats, mode=mode, update_box=box
        )

    # -- refs: tags & branches (write-audit-publish) --------------------
    #
    # Iceberg's named references re-done over this linear-manifest
    # layout. A TAG is an immutable name -> main-chain version pointer
    # (`_refs/tags/<name>.json`, created atomically like a manifest);
    # vacuum retains every tagged snapshot. A BRANCH is an independent
    # manifest chain under `_refs/branches/<name>/_manifests` that
    # SHARES the table's immutable data groups — branching is a
    # metadata copy (zero data IO at any table size), branch commits
    # go through the exact same optimistic-concurrency machinery as
    # main (per-branch version slots), and `publish_branch` fast-
    # forwards main to the audited branch head in one atomic commit:
    # the write-audit-publish pattern (stage to branch -> audit the
    # branch -> publish), without readers of main ever seeing
    # unaudited rows.

    def _tags_dir(self) -> str:
        return os.path.join(self.path, "_refs", "tags")

    def _branches_dir(self) -> str:
        return os.path.join(self.path, "_refs", "branches")

    def _require_main(self, op: str) -> None:
        if self.is_branch:
            raise ValueError(
                f"{op} operates on the table, not a branch handle "
                f"(this handle is branch {self.branch_name!r})"
            )

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Name a main-chain snapshot. Immutable (delete + recreate to
        move), atomic create-if-absent (a concurrent create of the
        same name loses with ValueError), and vacuum-pinning: vacuum
        never expires a tagged version (it retains the contiguous
        suffix from the oldest tag forward)."""
        self._require_main("create_tag")
        _check_ref_name(name)
        v = self.latest_version() if version is None else int(version)
        if v is None:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if not os.path.exists(_manifest_path(self._meta_root, v)):
            raise FileNotFoundError(
                f"version {v} is not retained (vacuumed or never "
                "committed) — tags must point at a live snapshot"
            )
        os.makedirs(self._tags_dir(), exist_ok=True)
        import time as _time

        target = os.path.join(self._tags_dir(), f"{name}.json")
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {"name": name, "version": v, "created_at": _time.time()},
                f,
            )
        try:
            os.link(tmp, target)  # atomic create-if-absent
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        finally:
            os.unlink(tmp)
        # the exists-check above is TOCTOU with a concurrent vacuum:
        # its unlink can land between the check and the link, leaving
        # a tag that pins nothing (vacuum's pin loop only sees tags
        # over retained versions). Re-verify AFTER the link — the tag
        # is now visible to any vacuum starting later, so a manifest
        # still present here stays retained; one gone means the race
        # was lost, so remove the dangling tag and report it.
        if not os.path.exists(_manifest_path(self._meta_root, v)):
            try:
                os.unlink(target)
            except FileNotFoundError:
                pass
            raise FileNotFoundError(
                f"version {v} was expired by a concurrent vacuum() "
                "while the tag was being created — retry against a "
                "retained version"
            )
        return v

    def tags(self) -> dict[str, int]:
        """{tag_name: version} for every live tag."""
        d = self._tags_dir()
        if not os.path.isdir(d):
            return {}
        out: dict[str, int] = {}
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".json") or ".tmp-" in fname:
                continue
            try:
                with open(os.path.join(d, fname)) as f:
                    row = json.load(f)
                out[row["name"]] = int(row["version"])
            except (OSError, ValueError, KeyError):
                continue  # torn tmp / concurrent delete — advisory
        return out

    def tag_version(self, name: str) -> int:
        try:
            with open(
                os.path.join(self._tags_dir(), f"{name}.json")
            ) as f:
                return int(json.load(f)["version"])
        except (OSError, ValueError, KeyError):
            raise KeyError(
                f"no such tag {name!r} at {self.path} "
                f"(live tags: {sorted(self.tags())})"
            ) from None

    def delete_tag(self, name: str) -> None:
        self._require_main("delete_tag")
        _check_ref_name(name)
        try:
            os.unlink(os.path.join(self._tags_dir(), f"{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"no such tag {name!r}") from None

    def create_branch(
        self, name: str, from_version: int | None = None
    ) -> "VersionedTable":
        """Fork an independent commit chain at ``from_version``
        (default: latest). The branch's v0 is a metadata COPY of the
        fork manifest (mode ``branch_fork:<v>``) — zero data IO; data
        groups are shared with main and stay immutable. Returns the
        branch handle: commit/merge/delete/evolve on it exactly like a
        table; main never sees branch commits until publish_branch."""
        self._require_main("create_branch")
        _check_ref_name(name)
        v = self.latest_version() if from_version is None else int(
            from_version
        )
        if v is None:
            raise FileNotFoundError(
                f"no snapshots at {self.path} — commit before branching"
            )
        fork = self._load_manifest(v)
        os.makedirs(self._branches_dir(), exist_ok=True)
        broot = os.path.join(self._branches_dir(), name)
        try:
            os.mkdir(broot)  # atomic create-if-absent
        except FileExistsError:
            # a manifest-less dir is a crashed create_branch (died
            # between mkdir and the v0 publish) — adopt it and publish
            # the fork copy; the v0 link below is itself atomic
            # create-if-absent, so racing adopters resolve there
            if VersionedTable(
                self.path, _meta_root=broot
            ).latest_version() is not None:
                raise ValueError(
                    f"branch {name!r} already exists"
                ) from None
        b = VersionedTable(self.path, _meta_root=broot)
        manifest = {
            "schema": fork["schema"],
            "groups": list(fork["groups"]),
            "mode": f"branch_fork:{v}",
            "added": [],
            "delete_entries": list(fork.get("delete_entries") or []),
            "stats": dict(fork.get("stats") or {}),
            "fork": {"version": v},
        }
        # maps/constraints are copied EXPLICITLY (branch v0 has no
        # parent to inherit from)
        for k in ("colmap", "castmap"):
            if fork.get(k):
                manifest[k] = dict(fork[k])
        manifest["constraints"] = dict(fork.get("constraints") or {})
        manifest["bloom_cols"] = list(fork.get("bloom_cols") or [])
        if fork.get("bloom_bits") is not None:
            manifest["bloom_bits"] = int(fork["bloom_bits"])
        # txn watermarks inherit parent-to-child on EVERY commit
        # (io/versioned.py _publish) — the branch v0 has no parent in
        # its own chain, so the fork's map must be passed explicitly or
        # an idempotent writer pointed at the branch would re-apply
        # epochs already committed to main before the fork
        try:
            b._publish(None, manifest, txn=fork.get("txn"))
        except CommitConflictError:
            # lost the v0 race to a concurrent creator/adopter of the
            # same name — same outcome as losing the mkdir
            raise ValueError(f"branch {name!r} already exists") from None
        return b

    def branch(self, name: str) -> "VersionedTable":
        """Handle for an existing branch."""
        self._require_main("branch")
        _check_ref_name(name)
        broot = os.path.join(self._branches_dir(), name)
        if not os.path.isdir(broot):
            raise KeyError(
                f"no such branch {name!r} at {self.path} "
                f"(live branches: {self.branches()})"
            )
        b = VersionedTable(self.path, _meta_root=broot)
        if b.latest_version() is None:
            # a dir without a v0 manifest is a crashed create_branch,
            # not a branch: it has no fork point and no state. Treat
            # as absent (create_branch can adopt it; delete_branch
            # still removes the leftover dir).
            raise KeyError(
                f"branch {name!r} at {self.path} has no manifests "
                "(a crashed create_branch left an empty ref) — "
                "create_branch to adopt it or delete_branch to clean up"
            )
        return b

    def branches(self) -> list[str]:
        d = self._branches_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
        )

    def delete_branch(self, name: str) -> None:
        """Drop the branch's manifest chain. Data groups only the
        branch referenced become orphans and are reclaimed by the next
        main ``vacuum()`` (age-gated, like any orphan)."""
        self._require_main("delete_branch")
        _check_ref_name(name)
        import shutil

        broot = os.path.join(self._branches_dir(), name)
        if not os.path.isdir(broot):
            raise KeyError(f"no such branch {name!r}")
        shutil.rmtree(broot)

    def _publish_rebase_check(
        self, name: str, b: "VersionedTable", bh: int,
        fork_v: int, main_latest: int,
    ) -> None:
        """CommitConflictError unless a diverged publish can REBASE:
        every main commit after the fork point AND every branch commit
        after the fork copy must be a pure ``append`` — appends
        commute, so replaying the branch's staged groups on top of
        main's interim appends preserves both histories exactly.
        Anything else in either range (overwrite/merge/delete/compact/
        rollback/evolution) made a decision against a state the other
        side has since changed, so the rebase would silently alter its
        semantics — recreate and re-audit instead."""
        remedy = (
            f"main advanced past branch {name!r}'s fork point (fork "
            f"{fork_v}, main {main_latest}) — recreate the branch from "
            "the current head and re-audit"
        )
        if main_latest is None or main_latest < fork_v:
            raise CommitConflictError(
                f"main is behind branch {name!r}'s fork point (fork "
                f"{fork_v}, main {main_latest}); " + remedy
            )

        def ckpt_modes(t: "VersionedTable", lo: int, hi: int) -> dict:
            """Commit modes for [lo, hi] served from the history
            checkpoint where it covers (a mode is an immutable fact of
            a published manifest, so checkpoint rows are authoritative
            evidence even if the manifest itself has since expired) —
            the walk loads ONE manifest per commit PAST the
            checkpoint, not per interim commit, so a 1000-commit
            publish backlog costs O(uncheckpointed tail)."""
            ck = t._read_checkpoint()
            upto = int(ck.get("upto", -1))
            return {
                int(r["version"]): str(r.get("mode") or "")
                for r in ck.get("rows", [])
                if lo <= int(r["version"]) <= min(hi, upto)
            }

        # fork_v is NEVER served from the checkpoint: its manifest is
        # loaded by the publish itself right after this check, so an
        # expired fork must surface here as the documented conflict,
        # not later as a bare FileNotFoundError (its mode is ignored
        # by the v > fork_v guard anyway — this load is the retention
        # probe)
        main_modes = ckpt_modes(self, fork_v + 1, main_latest)
        for v in range(fork_v, main_latest + 1):
            mode = main_modes.get(v)
            if mode is None:
                try:
                    mode = str(self._load_manifest(v).get("mode", ""))
                except FileNotFoundError:
                    raise CommitConflictError(
                        f"main snapshot {v} (branch {name!r}'s fork "
                        "range) is no longer retained (vacuumed) — "
                        "cannot prove the interim commits are "
                        "appends; " + remedy
                    ) from None
            # an ADDITIVE publish of another branch commutes exactly
            # like an append (it only adds staged groups), so two WAP
            # pipelines over one table compose; a rewrite publish is
            # committed as publish_branch_rewrite: and refused here
            if v > fork_v and mode != "append" and not mode.startswith(
                "publish_branch:"
            ):
                raise CommitConflictError(
                    f"main commit {v} is {mode!r}, not an append, so "
                    "the publish cannot rebase over it; " + remedy
                )
        branch_modes = ckpt_modes(b, 1, bh)
        for v in range(1, bh + 1):
            mode = branch_modes.get(v)
            if mode is None:
                try:
                    mode = str(b._load_manifest(v).get("mode", ""))
                except FileNotFoundError:
                    raise CommitConflictError(
                        f"branch {name!r} snapshot {v} is no longer "
                        "retained (branch-vacuumed) — cannot prove the "
                        "staged commits are appends; " + remedy
                    ) from None
            if mode != "append":
                raise CommitConflictError(
                    f"branch commit {v} is {mode!r}, not an append, so "
                    "the publish cannot rebase it over main's interim "
                    "commits; " + remedy
                )

    def publish_branch(self, name: str) -> int:
        """Fast-forward main to the branch head — the PUBLISH step of
        write-audit-publish. One atomic main commit whose state is
        EXACTLY the audited branch head (groups, delete entries,
        schema, maps, constraints); the branch keeps its detailed
        history.

        If main still sits at the branch's fork point, the publish is
        a plain fast-forward. If main ADVANCED since the fork, the
        publish REBASES when both histories are provably disjoint:
        every interim main commit and every staged branch commit must
        be a pure ``append`` (appends commute — production WAP audits
        take long enough that main ingesting meanwhile is the common
        case). The rebased commit is main's current groups plus the
        branch's staged groups, recorded with ``rebased_from`` lineage
        (the same field the concurrent-writer rebase uses). Anything
        non-append in either range raises CommitConflictError —
        recreate the branch from the new head and re-audit (publishing
        anyway would silently drop or reorder the other side's
        semantics, because a manifest is a full state, not a delta).
        A concurrent commit racing the publish itself triggers another
        validate-and-rebase round through _commit_loop, the loop every
        rebasing write shares.

        The main commit's mode is ``publish_branch:<name>`` when the
        branch only ADDED data (every fork group still present, no new
        delete entries) — the changefeed treats it as an append;
        otherwise ``publish_branch_rewrite:<name>``, which the
        changefeed rejects without ignorechanges, exactly like any
        overwrite/delete (a rewrite never rebases — it requires main
        at the fork point).

        Branch txn watermarks max-fold into main's inherited map, so
        an idempotent writer that staged epochs on the branch cannot
        replay them against main after the publish."""
        self._require_main("publish_branch")
        b = self.branch(name)
        bh = b.latest_version()
        if bh is None:
            raise FileNotFoundError(
                f"branch {name!r} has no manifests — a crash between "
                "create_branch's directory create and its fork publish "
                "left an empty ref; delete_branch and recreate"
            )
        try:
            fork_v = int(b._load_manifest(0)["fork"]["version"])
        except (FileNotFoundError, KeyError):
            raise FileNotFoundError(
                f"branch {name!r} has no retained fork manifest "
                "(branch-vacuumed away?) — cannot verify the fork "
                "point; recreate the branch"
            ) from None
        bm = b._load_manifest(bh) if bh > 0 else {}

        def attempt(main_latest: int | None):
            # the fast-forward or rebase rule above, against main_latest
            diverged = main_latest != fork_v
            if diverged:
                self._publish_rebase_check(
                    name, b, bh, fork_v, main_latest
                )
            if bh == 0:
                # nothing staged beyond the fork's metadata copy: a
                # fast-forward to an unchanged branch is a NO-OP (no
                # new main version, no changefeed noise), like git's —
                # over a diverged main this holds only once the rebase
                # check proved the interim commits pure appends
                return main_latest
            fork_m = self._load_manifest(fork_v)
            fork_groups = set(fork_m["groups"])
            fork_dels = {
                e["file"] for e in (fork_m.get("delete_entries") or [])
            }
            head_dels = {
                e["file"] for e in (bm.get("delete_entries") or [])
            }
            additive = fork_groups <= set(bm["groups"]) and (
                head_dels == fork_dels
            )
            branch_added = [
                g for g in bm["groups"] if g not in fork_groups
            ]
            if not diverged:
                mode = (
                    f"publish_branch:{name}"
                    if additive
                    else f"publish_branch_rewrite:{name}"
                )
                manifest = {
                    "schema": bm["schema"],
                    "groups": list(bm["groups"]),
                    "mode": mode,
                    "added": branch_added,
                    "delete_entries": list(
                        bm.get("delete_entries") or []
                    ),
                    "stats": dict(bm.get("stats") or {}),
                    # lineage: which audited state this publish
                    # reproduces — the audit trail a WAP pipeline's
                    # operator asks for
                    "published_from": {
                        "branch": name,
                        "head": int(bh),
                        "fork": fork_v,
                    },
                }
                for k in ("colmap", "castmap"):
                    if bm.get(k):
                        manifest[k] = dict(bm[k])
                manifest["constraints"] = dict(
                    bm.get("constraints") or {}
                )
                manifest["bloom_cols"] = list(
                    bm.get("bloom_cols") or []
                )
                if bm.get("bloom_bits") is not None:
                    manifest["bloom_bits"] = int(bm["bloom_bits"])
            else:
                # REBASE: both sides proved pure appends. Main's
                # current groups + the branch's staged groups; schemas
                # union additively (an append may add columns), and
                # under append-only histories colmap/castmap/
                # constraints/bloom declarations are carried verbatim
                # on both sides, so main's (== the fork's) are kept.
                latest_m = self._load_manifest(main_latest)
                # A staged group already on main means a prior publish
                # of THIS branch (retry, append-then-republish) or a
                # concurrent publisher landed it — group relpaths are
                # immutable uuids, so membership is identity. Re-adding
                # it would duplicate rows and re-emit them on the
                # changefeed; append only what main lacks, and when
                # nothing new remains the publish is an idempotent
                # no-op (no new main version), like bh == 0 above.
                latest_groups = set(latest_m["groups"])
                rebase_added = [
                    g for g in branch_added if g not in latest_groups
                ]
                if not rebase_added:
                    return main_latest
                try:
                    schema_json = _evolve_schema(
                        latest_m["schema"],
                        _schema_from_json(bm["schema"]),
                    )
                except SchemaMismatchError as e:
                    raise CommitConflictError(
                        f"branch {name!r} and main evolved the schema "
                        f"incompatibly since the fork ({e}) — recreate "
                        "the branch from the current head and re-audit"
                    ) from None
                bstats = bm.get("stats") or {}
                stats = dict(latest_m.get("stats") or {})
                stats.update(
                    {g: bstats[g] for g in rebase_added if g in bstats}
                )
                manifest = {
                    "schema": schema_json,
                    "groups": list(latest_m["groups"]) + rebase_added,
                    "mode": f"publish_branch:{name}",
                    "added": rebase_added,
                    "delete_entries": list(
                        latest_m.get("delete_entries") or []
                    ),
                    "stats": stats,
                    "published_from": {
                        "branch": name,
                        "head": int(bh),
                        "fork": fork_v,
                    },
                    "rebased_from": fork_v,
                }
                for k in ("colmap", "castmap"):
                    merged = {
                        **(latest_m.get(k) or {}),
                        **(bm.get(k) or {}),
                    }
                    if merged:
                        manifest[k] = merged
                manifest["constraints"] = dict(
                    latest_m.get("constraints") or {}
                )
                manifest["bloom_cols"] = list(
                    latest_m.get("bloom_cols") or []
                )
                if latest_m.get("bloom_bits") is not None:
                    manifest["bloom_bits"] = int(
                        latest_m["bloom_bits"]
                    )
                return manifest, latest_m
            return manifest, None

        return self._commit_loop(
            self.latest_version(), attempt, txn=bm.get("txn")
        )

    def vacuum(
        self,
        keep_versions: int = 1,
        min_age_seconds: float = 3600.0,
        dry_run: bool = False,
    ) -> list[str]:
        """Iceberg's expire-snapshots + orphan cleanup: drop manifests
        older than the newest ``keep_versions``, then delete every data
        group no REMAINING manifest references — which also reclaims
        crash orphans (data written, manifest never published). Time
        travel keeps working for retained versions only. Returns the
        removed group dirs.

        ``min_age_seconds`` guards the commit-in-flight race: a writer
        legitimately writes its data group BEFORE publishing the
        manifest, so a brand-new unreferenced group may be a commit
        about to land, not an orphan. Only groups older than the
        threshold are reclaimed (Iceberg's orphan-file retention age);
        pass 0 only when no writer can be active.

        ``dry_run=True`` (Delta's VACUUM DRY RUN, r12): report the
        data groups the sweep WOULD reclaim — nothing is unlinked, no
        manifest expires, no checkpoint is trimmed. The report uses
        the same live-set walk as the real sweep, so operators can
        audit retention before committing to it."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        import shutil
        import time

        vs = self.versions()
        # TAGS pin history: retain the contiguous suffix from the
        # oldest tagged version forward (tags point into the main
        # chain, so a tagged snapshot — and everything after it, to
        # keep the retained range contiguous for the binary-search
        # probes — survives until the tag is deleted)
        cut = max(len(vs) - keep_versions, 0)
        if not self.is_branch:
            tagged = set(self.tags().values())
            for i, v in enumerate(vs):
                if v in tagged:
                    cut = min(cut, i)
                    break
        expired, keep = vs[:cut], vs[cut:]
        if expired and not dry_run:
            # BOUNDARY SNAP before any unlink: the first retained
            # version may be a delta manifest whose chain crosses into
            # the expired prefix — materialize the newest expired
            # version in full so reconstruction always has a base.
            # Written before unlinking (and read via allow_snap only),
            # so a racing reader never loses coverage; failure here
            # aborts the vacuum with the table intact.
            boundary = expired[-1]
            full = self._load_full(boundary, allow_snap=True)
            sp = _snap_path(self._meta_root, boundary)
            tmp = sp + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(full, f)
            os.replace(tmp, sp)
        if not dry_run:
            for v in expired:
                os.unlink(_manifest_path(self._meta_root, v))
            if expired:
                # older boundary snaps are unreachable now (every
                # retained chain stops at the new boundary first)
                mdir = _manifest_dir(self._meta_root)
                for name in os.listdir(mdir):
                    if (
                        name.startswith("_snap-v")
                        and name.endswith(".json")
                        and name < os.path.basename(sp)
                    ):
                        try:
                            os.unlink(os.path.join(mdir, name))
                        except OSError:
                            pass  # racing vacuum
        if expired and not dry_run:
            # trim expired rows out of the history checkpoint (readers
            # filter too — this just stops the file growing forever);
            # the trim compacts the segment log in the same pass. The
            # EXPIRED set is passed and _compact_checkpoint re-reads
            # the merged view itself, so rows and upto come from one
            # snapshot (a concurrent commit's segment row survives).
            self._compact_checkpoint(drop=set(expired))
        live: set[str] = set()
        if not self.is_branch:
            for v in keep:
                mk = self._load_manifest(v)
                live.update(mk["groups"])
                live.update(
                    e["file"] for e in (mk.get("delete_entries") or [])
                )
            # every branch's retained manifests keep their groups
            # live — branch chains share the data root (metadata-only
            # forks)
            for bname in self.branches():
                try:
                    b = self.branch(bname)
                except (KeyError, FileNotFoundError):
                    # concurrent delete_branch between the listing and
                    # the handle lookup (or a crashed create's empty
                    # dir) — advisory skip, like racing manifest loads
                    continue
                for v in b.versions():
                    try:
                        mk = b._load_manifest(v)
                    except FileNotFoundError:
                        continue  # concurrent branch vacuum/delete
                    live.update(mk["groups"])
                    live.update(
                        e["file"]
                        for e in (mk.get("delete_entries") or [])
                    )
        removed = []
        cutoff = time.time() - min_age_seconds
        # sweep orphaned tmp files in _manifests/: _publish, _write_hint,
        # and _extend_checkpoint all write `<name>.tmp-<uuid>` then
        # link/replace — a crash in between leaves litter nothing else
        # reclaims. Age-gated by the same threshold as data orphans (a
        # fresh tmp may belong to a publish in flight right now).
        mdir = _manifest_dir(self._meta_root)
        # the table ROOT also collects write-then-replace litter from
        # sidecar publishers (e.g. operators/mv.py's _mv_spec.json) —
        # same `<name>.tmp-<uuid>` convention, same age gate; files
        # only, and only the table handle (the root is shared by refs)
        sweep_dirs = [mdir, _seg_dir(self._meta_root)]
        if not self.is_branch:
            sweep_dirs.append(self.path)
        for sweep_dir in sweep_dirs:
            if not (os.path.isdir(sweep_dir) and not dry_run):
                continue
            for name in os.listdir(sweep_dir):
                if ".tmp-" not in name:
                    continue
                full = os.path.join(sweep_dir, name)
                try:
                    if os.path.isfile(full) and (
                        os.path.getmtime(full) <= cutoff
                    ):
                        os.unlink(full)
                except OSError:
                    pass  # already gone / racing writer — advisory
        # the data root is shared by main and every ref: only the
        # TABLE handle sweeps orphans (a branch handle's view of
        # "live" would wrongly reclaim everyone else's groups)
        data_root = os.path.join(self.path, "data")
        if not self.is_branch and os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                g = os.path.join("data", d)
                full = os.path.join(self.path, g)
                if g not in live and os.path.getmtime(full) <= cutoff:
                    if not dry_run:
                        shutil.rmtree(full)
                    removed.append(g)
        return removed


def _schema_from_json(schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


def _empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty DataFrame of ``schema`` built JVM-side as a
    LocalRelation. ``spark.createDataFrame([], schema)`` is a Python
    RDD: every action over it starts Python workers, and its unknown
    size keeps the optimizer from folding the empty side away — the
    write of a MERGE that touches no group ran three Spark jobs over it
    instead of one."""
    jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
        schema.json()
    )
    return DataFrame(
        spark._jsparkSession.createDataFrame(
            spark._jvm.java.util.ArrayList(), jschema
        ),
        spark,
    )


def _schema_key(schema) -> list[tuple[str, str]]:
    """Nullability- and metadata-insensitive schema identity: parquet
    reads resolve every column nullable, so flags drift between a
    source DataFrame and the same data read back — (name, type) pairs
    are the stable comparison."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromJson(json.loads(schema))
    return [(f.name, f.dataType.json()) for f in schema.fields]


def _evolve_schema(table_schema_json: str, incoming) -> str:
    """Additive-only evolution: incoming may ADD columns; every column
    shared with the table must keep its exact type. Returns the evolved
    schema JSON (table columns first, then the new ones — stable order
    so repeated evolutions are deterministic)."""
    from pyspark.sql.types import StructType

    table = StructType.fromJson(json.loads(table_schema_json))
    by_name = {f.name: f for f in table.fields}
    for f in incoming.fields:
        old = by_name.get(f.name)
        if old is not None and old.dataType != f.dataType:
            raise SchemaMismatchError(
                f"column {f.name!r} changes type "
                f"{old.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()}; type changes need an "
                "explicit overwrite migration"
            )
    evolved = list(table.fields) + [
        f for f in incoming.fields if f.name not in by_name
    ]
    return StructType(evolved).json()


@contextmanager
def _materialized(df: DataFrame):
    """Persist ``df`` (MEMORY_AND_DISK, lineage kept) for the body of
    the block, then unpersist it. A DataFrame that is already cached —
    looked up in the JVM cache manager, not the Python-side
    ``is_cached`` flag — is used as is and stays cached."""
    if df.storageLevel != StorageLevel.NONE:
        yield
        return
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield
    finally:
        df.unpersist()


def merge_into(
    table: VersionedTable,
    spark: SparkSession,
    updates: DataFrame,
    key: str | list[str],
    txn: dict[str, int] | None = None,
    expected_parent: int | None | str = "any",
    when_matched: str | dict | None = "update_all",
    matched_condition=None,
    when_not_matched: str | None = "insert_all",
    when_not_matched_by_source: str | dict | None = None,
    not_matched_by_source_condition=None,
    allow_evolution: bool = False,
    source_unique: bool = False,
    fold: dict[str, str] | None = None,
    prune_where: dict | None = None,
) -> int:
    """MERGE INTO the versioned table. Default clauses: WHEN MATCHED
    THEN UPDATE SET *, WHEN NOT MATCHED THEN INSERT * — the lakehouse
    upsert (README design note), committed as a new snapshot so the
    pre-merge state stays time-travelable.

    Full clause matrix (Delta's MERGE surface; r9):

    * ``when_matched="update_all"`` — replace the whole matched row
      with the source row (default);
    * ``when_matched="delete"`` — WHEN MATCHED THEN DELETE;
    * ``when_matched={col: expr}`` — UPDATE SET a SUBSET: each expr is
      a Column over the aliases ``t`` (target row) and ``s`` (source
      row), e.g. ``{"cents": F.col("s.cents"),
      "n_updates": F.col("t.n_updates") + 1}``; unassigned columns
      keep their target values;
    * ``when_matched=None`` — matched rows stay untouched (an
      insert-only merge);
    * ``matched_condition`` — optional Column over t/s gating the
      matched action (WHEN MATCHED AND cond THEN ...); matched rows
      failing it keep their target values;
    * ``when_not_matched="insert_all"`` (default) or ``None`` — WHEN
      NOT MATCHED THEN INSERT * or no insert clause;
    * ``when_not_matched_by_source`` — the target-side sweep (Delta's
      WHEN NOT MATCHED BY SOURCE): ``"delete"`` removes target rows
      with no source match, ``{col: expr}`` updates them (exprs over
      BARE target column names — only the target row exists for this
      clause), ``None`` (default) leaves them untouched;
      ``not_matched_by_source_condition`` gates it (a Column over
      bare target columns). NOTE the cost model: this clause concerns
      rows whose keys are ABSENT from the source, so it touches every
      group the condition cannot prune — pass a condition the planner
      can bound (derive_prune_bounds) to keep the rewrite O(delta),
      otherwise the whole table rewrites; and because the decision
      depends on key NON-existence, a commit carrying this clause
      does not rebase over concurrent adds (they truly conflict).
    * ``fold={col: how}`` — the FOLD form of WHEN MATCHED THEN UPDATE
      / WHEN NOT MATCHED THEN INSERT *, for merging deltas into an
      aggregate (operators/mv.py): the touched groups' rows and the
      source rows are unioned and reduced by ONE ``groupBy(key)``
      instead of joined. ``how`` per non-key column is ``"add"``
      (``coalesce(t, 0) + coalesce(s, 0)``), ``"source"`` (the source
      value wins, NULL included) or ``"map_add"`` (union-keyed
      per-entry add of two maps, zero entries dropped); every non-key
      column must be named. A key held by one side only keeps that
      row as is, so on a target unique on the key the result equals
      the clause engine's with the same assignments. The fold is
      defined for such targets: rows sharing a key all fold into one,
      so duplicate TARGET keys collapse (as in the default upsert),
      their "add" columns summed. NULL keys never match: a row with a
      NULL key column passes through on its own. Not combinable with
      the other clause arguments.

    ``prune_where`` ({col: (lo, hi)} over key columns, stats domain or
    plain literals) is the caller's ASSERTION that every source row
    lies inside the box — the ``update_where``/``delete_where``
    contract. Groups whose stats box is disjoint from it are carried
    by reference and NO touch-test pass runs; every other group is
    rewritten. A wrong box loses matches (rows outside it are treated
    as inserts), so derive it from metadata that bounds the source by
    construction (diff_stats_box).

    Like SQL MERGE (and the Derby staging path in io/jdbc.py), the
    source must be unique per key — duplicate source keys would make
    the result order-dependent, so they fail loudly; callers resolve
    them first (operators/upsert.py::merge_upsert is the
    last-writer-wins resolver).

    Duplicate TARGET keys (which plain appends can legitimately
    create) are handled differently by the two clause paths, and the
    difference is contractual (pinned by tests), not an accident:

    * the DEFAULT clause set (update_all + insert_all, no conditions)
      is the lakehouse UPSERT — duplicate target rows sharing a
      matched key COLLAPSE to the single source row (Postgres
      ON CONFLICT semantics, the reference's O5; also what
      operators/upsert.py does). It compiles to the narrow anti-join +
      union plan, measured ~1.25x faster than the clause engine on the
      bench hot path (26fac7e:tools/ab_merge_default_path.py).
    * any NON-default clause (a condition, a {col: expr} dict,
      "delete", a BY SOURCE clause) engages the SQL-MERGE clause
      engine, where EACH matched target row is updated/kept per row
      (Delta/SQL MERGE semantics) — duplicates stay duplicated.

    Callers who want SQL-MERGE duplicate semantics with otherwise
    default clauses can pass ``matched_condition=F.lit(True)``.

    FILE-PRUNED copy-on-write (the Iceberg/Delta granularity): using
    the manifest's per-group key min/max stats, only groups whose key
    range actually CONTAINS an update key are rewritten; every other
    group is carried into the new snapshot BY REFERENCE — its files are
    not read, not rewritten, not even listed. The touch test is one
    small aggregate over the updates (per candidate group: does any
    update row fall inside the group's key box?), so merge cost is
    O(updates + touched groups), not O(table) — the property that keeps
    an incremental 100 TB pipeline alive. Groups without stats (legacy
    manifests, all-stats-ineligible key types) are rewritten
    conservatively.

    The source is MATERIALIZED ONCE for the whole call (Delta's
    MergeIntoMaterializeSource): persisted MEMORY_AND_DISK with its
    lineage kept (executor loss recomputes), unpersisted after the
    publish, so the touch test, the write plan (which reads the source
    twice: anti-join + union) and the rebase callbacks all see the same
    rows. Without it each action re-executes the source — its whole
    upstream pipeline, which for an MV refresh is the CDF diff and the
    aggregation (measured 3x the per-refresh cost) — and a
    non-deterministic source could land keys the touch test never saw.
    Once the touch test has filled the cache, the write plan also sees
    the source's real size, so the anti-join broadcasts it and a small
    merge lands as one file. A source the caller already cached is used
    as is and stays cached. A ``fold`` with a ``prune_where`` box over a
    ``source_unique`` source is not pinned: no touch test and no probe
    run, the one-sided fold plan reads the source once, and a rebase
    proves disjointness from the box — a pin would only add a cache
    stage (one more Spark job) to the write.

    ``expected_parent`` pins the snapshot the caller's decision was
    based on (exactly-once writers pass the version their watermark
    was read from); the default "any" merges onto the current latest.

    ``allow_evolution=True`` (Delta's spark.databricks.delta.schema.
    autoMerge, r14): a source carrying ADDITIVE new columns evolves
    the table schema inside the same MERGE commit — matched rows take
    the new values, rewritten unmatched target rows and untouched
    groups surface NULL for the new columns (the additive-evolution
    read path appends already use). The source must still cover every
    existing column, and shared columns must keep their exact types.
    """
    keys = [key] if isinstance(key, str) else list(key)
    # Duplicate-source-key probe: count(*) vs exact COUNT DISTINCT of
    # the key tuple (struct keeps NULL keys comparable, matching the
    # old groupBy probe). The aggregates RIDE the touch-test pass below
    # (zero extra jobs); only the no-touch-test paths pay a standalone
    # one-job aggregate. ``source_unique=True`` skips the probe — the
    # MV refreshers pass it for deltas that are the output of a groupBy
    # on the merge key, unique by construction.
    dup_exprs = (
        None
        if source_unique
        else [
            F.count(F.lit(1)).alias("__mrg_n"),
            F.count_distinct(
                F.struct(*[F.col(k) for k in keys])
            ).alias("__mrg_nd"),
        ]
    )

    def _check_dup(row) -> None:
        if row is not None and row["__mrg_n"] != row["__mrg_nd"]:
            raise ValueError(
                "MERGE source has duplicate keys; resolve "
                "last-writer-wins first "
                "(operators/upsert.py::merge_upsert)"
            )
    # Delta-style snapshot pinning: with an explicit expected_parent
    # the merge is COMPUTED against that snapshot even if the table
    # has advanced — publish-time validation (_publish_or_rebase)
    # rebases onto the actual latest when the concurrent commits are
    # provably disjoint (different groups, non-overlapping key boxes),
    # and conflicts only on true overlap. Independent pipelines
    # (CDC + backfill on disjoint key ranges) land without retries.
    if isinstance(when_matched, str) and when_matched not in (
        "update_all", "delete"
    ):
        raise ValueError(
            f"when_matched must be 'update_all', 'delete', a "
            f"{{col: expr}} dict, or None; got {when_matched!r}"
        )
    if when_not_matched not in ("insert_all", None):
        raise ValueError(
            f"when_not_matched must be 'insert_all' or None; got "
            f"{when_not_matched!r}"
        )
    if isinstance(when_not_matched_by_source, str) and (
        when_not_matched_by_source != "delete"
    ):
        raise ValueError(
            f"when_not_matched_by_source must be 'delete', a "
            f"{{col: expr}} dict, or None; got "
            f"{when_not_matched_by_source!r}"
        )
    if fold is not None and (
        when_matched != "update_all"
        or matched_condition is not None
        or when_not_matched != "insert_all"
        or when_not_matched_by_source is not None
    ):
        raise ValueError(
            "fold= is its own matched/not-matched clause pair; pass no "
            "other clause arguments with it"
        )
    if prune_where is not None and when_not_matched_by_source is not None:
        raise ValueError(
            "prune_where bounds the source rows; a BY SOURCE clause "
            "concerns target rows outside it"
        )
    # a caller-boxed fold of a unique source reads it once, in the write
    # plan (no touch test, no probe, one-sided plan): nothing to pin
    read_once = (
        fold is not None and prune_where is not None and source_unique
    )
    with nullcontext() if read_once else _materialized(updates):
        base = (
            table.latest_version() if expected_parent == "any"
            else expected_parent
        )
        if base is None:
            if dup_exprs is not None:
                _check_dup(updates.agg(*dup_exprs).first())
            return table.commit(
                updates
                if when_not_matched == "insert_all"
                else updates.filter(F.lit(False)),
                mode="overwrite", txn=txn,
                expected_parent=expected_parent,
            )
        m = table._load_manifest(base)
        schema_json = m["schema"]
        declared = _schema_from_json(schema_json)
        if _schema_key(declared) != _schema_key(updates.schema):
            if not allow_evolution:
                raise SchemaMismatchError(
                    "MERGE source schema differs from table schema; pass "
                    "allow_evolution=True for additive source columns"
                )
            # Delta's schema.autoMerge: the source may ADD columns, which
            # evolve the table additively INSIDE the merge commit — the
            # same _evolve_schema path appends use, so old groups carried
            # by reference read the new columns as NULL. The source must
            # still cover every existing table column (additive only) and
            # shared columns must keep their exact types (_evolve_schema
            # raises otherwise).
            have = set(updates.columns)
            missing = [
                f.name for f in declared.fields if f.name not in have
            ]
            if missing:
                raise SchemaMismatchError(
                    f"MERGE source lacks table column(s) {missing}; "
                    "evolution is additive — the source must carry every "
                    "existing column"
                )
            schema_json = _evolve_schema(m["schema"], updates.schema)
            declared = _schema_from_json(schema_json)
            # align the source's column order to the evolved schema so
            # the positional union below stays by-name correct
            updates = updates.select(*[f.name for f in declared.fields])
        types = {f.name: f.dataType for f in declared.fields}
        if prune_where is not None:
            # the caller's box bounds every source row: groups outside
            # it are untouched by assertion, no touch-test pass
            prune_where, _ = _normalize_prune_bounds(prune_where, types)
            gstats = m.get("stats") or {}
            touched = [
                g for g in m["groups"]
                if _group_may_match(gstats.get(g), prune_where)
            ]
            touched_set = set(touched)
            untouched = [g for g in m["groups"] if g not in touched_set]
            probe_row = None
        else:
            touched, untouched, probe_row = _split_touched_groups(
                m, updates, keys, types, table_path=table.path,
                extra_aggs=dup_exprs,
            )
        if dup_exprs is not None:
            if probe_row is None:  # no touch-test pass ran
                probe_row = updates.agg(*dup_exprs).first()
            _check_dup(probe_row)
        if when_not_matched_by_source is not None and untouched:
            # the BY SOURCE clause concerns target rows whose keys are
            # ABSENT from the source — they live in any group, so groups
            # escape the rewrite only when the clause's own condition
            # provably can't match them (the planner's bounds vs their
            # stats box); no condition or no derivable bounds → full sweep
            bys_bounds = (
                derive_prune_bounds(not_matched_by_source_condition)
                if not_matched_by_source_condition is not None
                else {}
            )
            # stats-domain re-encoding (str-on-temporal literals prune
            # lexicographically otherwise); drops only widen the sweep
            bys_bounds, _ = _normalize_prune_bounds(bys_bounds, types)
            gstats = m.get("stats") or {}
            extra = [
                g
                for g in untouched
                if not bys_bounds
                or _group_may_match(gstats.get(g), bys_bounds)
            ]
            extra_set = set(extra)
            widened = set(touched) | extra_set
            touched = [g for g in m["groups"] if g in widened]
            untouched = [g for g in untouched if g not in extra_set]
        current = table._read_groups(spark, m, touched)
        # evolved columns: rewritten target rows NULL-backfill the new
        # columns (untouched groups get the same NULLs lazily at read)
        for f in declared.fields:
            if f.name not in current.columns:
                current = current.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        if fold is not None:
            merged = _merge_fold(current, updates, keys, declared, fold)
        elif (
            when_matched == "update_all"
            and matched_condition is None
            and when_not_matched == "insert_all"
            and when_not_matched_by_source is None
        ):
            # default clauses: the classic anti-join + union upsert (no
            # per-column conditionals, narrower shuffle)
            merged = current.join(updates, keys, "left_anti").unionByName(
                updates
            )
        else:
            merged = _merge_clauses(
                current, updates, keys, declared,
                when_matched, matched_condition, when_not_matched,
                when_not_matched_by_source, not_matched_by_source_condition,
            )

        # the touched groups' rows, merged, are ONE new group; the write
        # removes the touched groups and adds it, and _publish_or_rebase's
        # group rule carries the untouched groups with their stats and
        # rescopes pending deletes (touched groups were rewritten with
        # theirs applied). A concurrent commit that overlaps conflicts
        # instead of silently disappearing under the rewrite.
        added, added_stats = _write_groups(merged, table.path, m)
        return table._publish_or_rebase(
            m,
            touched,
            added,
            added_stats,
            mode="overwrite",
            schema=schema_json,
            txn=txn,
            # evaluated ONLY if a rebase is needed: one tiny agg job over
            # the updates proving which key range this merge could touch
            # (the caller's box when it gave one: no second read).
            # A BY SOURCE clause depends on key NON-existence, so no box
            # can prove a concurrent add disjoint — rebase is disabled
            # (update_box=None → any concurrent add truly conflicts).
            update_box=(
                None
                if when_not_matched_by_source is not None
                else _rebase_box(prune_where, types)
                if prune_where is not None
                else (lambda: _key_box(updates, keys, types))
            ),
            update_membership=(
                None
                if when_not_matched_by_source is not None
                or prune_where is not None
                else (
                    lambda lstats, gs: _rebase_bloom_membership(
                        updates, keys, lstats, gs, table.path
                    )
                )
            ),
        )


def _merge_clauses(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    declared,
    when_matched,
    matched_condition,
    when_not_matched,
    when_not_matched_by_source=None,
    not_matched_by_source_condition=None,
) -> DataFrame:
    """Non-default MERGE clause construction over the touched groups:
    one left-outer join of target ``t`` against source ``s`` resolves
    every matched action (delete / full replace / subset assignments /
    keep, each optionally gated by ``matched_condition``), the
    unmatched target side peels off the same join for the BY SOURCE
    sweep (bare column names — only the target row exists there), and
    the not-matched inserts arrive via an anti-join. All clause logic
    is per-row JVM-side CASE WHEN — the join on the merge keys is the
    only shuffle, same as the default path."""
    out_cols = [f.name for f in declared.fields]
    t = current.alias("t")
    s = updates.select(
        *updates.columns, F.lit(True).alias("__s_present")
    ).alias("s")
    joined = t.join(
        s,
        # plain equality, like the default path's name-join: a NULL
        # key never matches (SQL MERGE ON semantics)
        [t[k] == F.col(f"s.{k}") for k in keys],
        "left_outer",
    )
    present = F.coalesce(F.col("s.__s_present"), F.lit(False))
    gate = (
        present
        if matched_condition is None
        else present & F.coalesce(matched_condition, F.lit(False))
    )
    bare_t = [F.col(f"t.{c}").alias(c) for c in out_cols]
    matched_side = joined.filter(present)
    if when_matched == "delete":
        kept = matched_side.filter(~gate).select(*bare_t)
    elif when_matched == "update_all":
        kept = matched_side.select(
            *[
                F.when(gate, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in out_cols
            ]
        )
    elif isinstance(when_matched, dict):
        unknown = set(when_matched) - set(out_cols)
        if unknown:
            raise ValueError(
                f"when_matched assigns unknown column(s): {sorted(unknown)}"
            )
        kept = matched_side.select(
            *[
                (
                    F.when(gate, when_matched[c])
                    .otherwise(F.col(f"t.{c}"))
                    if c in when_matched
                    else F.col(f"t.{c}")
                ).alias(c)
                for c in out_cols
            ]
        )
    elif when_matched is None:
        kept = matched_side.select(*bare_t)
    else:  # pragma: no cover - validated at entry
        raise ValueError(f"bad when_matched {when_matched!r}")
    # the target rows with NO source match, back on bare names so the
    # BY SOURCE condition/assignments resolve unambiguously
    unmatched = joined.filter(~present).select(*bare_t)
    if when_not_matched_by_source is None:
        kept = kept.unionByName(unmatched)
    else:
        bys_gate = (
            F.lit(True)
            if not_matched_by_source_condition is None
            else F.coalesce(
                not_matched_by_source_condition, F.lit(False)
            )
        )
        if when_not_matched_by_source == "delete":
            kept = kept.unionByName(unmatched.filter(~bys_gate))
        elif isinstance(when_not_matched_by_source, dict):
            unknown = set(when_not_matched_by_source) - set(out_cols)
            if unknown:
                raise ValueError(
                    f"when_not_matched_by_source assigns unknown "
                    f"column(s): {sorted(unknown)}"
                )
            kept = kept.unionByName(
                unmatched.select(
                    *[
                        (
                            F.when(
                                bys_gate,
                                when_not_matched_by_source[c],
                            ).otherwise(F.col(c))
                            if c in when_not_matched_by_source
                            else F.col(c)
                        ).alias(c)
                        for c in out_cols
                    ]
                )
            )
        else:  # pragma: no cover - validated at entry
            raise ValueError(
                f"bad when_not_matched_by_source "
                f"{when_not_matched_by_source!r}"
            )
    if when_not_matched == "insert_all":
        inserts = updates.join(current, keys, "left_anti").select(
            *out_cols
        )
        kept = kept.unionByName(inserts)
    return kept


_FOLD_KINDS = ("add", "source", "map_add")


def _merge_fold(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    declared,
    fold: dict[str, str],
) -> DataFrame:
    """merge_into's ``fold`` clause: the touched groups' rows and the
    source rows, tagged by side, reduced by one ``groupBy(key)``. A
    key with one row keeps it as is (an unmatched target row or an
    insert); a key with several folds each column per ``fold``. A NULL
    key never matches, so such a row groups on its own
    (monotonically_increasing_id is unique per row of the union)."""
    from functools import reduce

    out = [f.name for f in declared.fields]
    types = {f.name: f.dataType for f in declared.fields}
    payload = [c for c in out if c not in keys]
    bad = {c: k for c, k in fold.items() if k not in _FOLD_KINDS}
    unknown = set(fold) - set(payload)
    missing = set(payload) - set(fold)
    if bad or unknown or missing:
        raise ValueError(
            f"fold must map every non-key column to one of {_FOLD_KINDS}"
            f"; bad kinds {bad}, unknown {sorted(unknown)}, missing "
            f"{sorted(missing)}"
        )
    side = "__fold_src"
    rows = current.select(*out, F.lit(0).alias(side)).unionByName(
        updates.select(*out, F.lit(1).alias(side))
    )
    null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    lone = F.when(null_key, F.monotonically_increasing_id()).alias(
        "__fold_lone"
    )

    aggs = []
    for c in payload:
        dt = types[c]
        if fold[c] == "add":
            folded = F.coalesce(F.sum(c), F.lit(0)).cast(dt)
        elif fold[c] == "source":
            folded = F.max_by(c, side)
        else:
            zero = F.lit(0).cast(dt.valueType)
            folded = F.map_filter(
                F.aggregate(
                    F.collect_list(c),
                    F.expr(f"cast(map() as {dt.simpleString()})"),
                    lambda acc, m: F.map_zip_with(
                        acc, m,
                        lambda _, a, b: F.coalesce(a, zero)
                        + F.coalesce(b, zero),
                    ),
                ),
                lambda _, v: v != 0,
            )
        aggs.append(
            F.when(F.count(F.lit(1)) > 1, folded)
            .otherwise(F.first(c))
            .alias(c)
        )
    return rows.groupBy(*keys, lone).agg(*aggs).select(*out)


def _rebase_box(where: dict, types: dict) -> dict:
    """A caller-asserted prune box in the manifest-stats domain, as
    _publish_or_rebase's ``update_box``. _where_bounds normalizes both
    forms — a (lo, hi) range and an IN-set list, whose box is [min,
    max] (the rebase disjointness proof only needs the conservative
    hull)."""
    box = {}
    for col, bound in where.items():
        lo, hi = _where_bounds(bound)
        box[col] = (
            _json_safe(lo, types.get(col)) if lo is not None else None,
            _json_safe(hi, types.get(col)) if hi is not None else None,
        )
    return box


def _key_box(updates: DataFrame, keys: list[str], types: dict):
    """Global min/max of the update keys in the manifest-stats domain
    (`_json_safe` encodings) — the box used to prove a concurrent
    commit's added groups could not have matched this merge's keys.
    Returns None ("no proof") if any key column has no usable ordering
    stats (empty updates, non-finite floats, exotic types)."""
    aggs = []
    for i, k in enumerate(keys):
        aggs += [F.min(k).alias(f"mn_{i}"), F.max(k).alias(f"mx_{i}")]
    r = updates.agg(*aggs).first()
    box = {}
    for i, k in enumerate(keys):
        mn = _json_safe(r[f"mn_{i}"], types[k])
        mx = _json_safe(r[f"mx_{i}"], types[k])
        if mn is None or mx is None:
            return None
        box[k] = (mn, mx)
    return box


# max candidate-group boxes tested per aggregate pass in the MERGE
# touch test (module-level so tests can lower it)
_TOUCH_CHUNK = 256


def _split_touched_groups(
    m: dict,
    updates: DataFrame,
    keys: list[str],
    types: dict,
    table_path: str | None = None,
    extra_aggs: list | None = None,
) -> tuple[list[str], list[str], object]:
    """Partition a manifest's groups into (touched, untouched) by the
    update keys. One aggregate pass over the updates answers, per
    candidate group, "does any update row fall inside this group's
    per-key-column min/max box?" — exact row-level evidence, not just
    range overlap, all JVM-side. NULL update keys never join-match any
    row, and NULL current keys never match an update, so key-box
    pruning on non-null values is lossless.

    ``extra_aggs`` piggybacks caller aggregates (merge_into's
    duplicate-key probe, apply_changes' duplicate-key and op probes) on
    the FIRST touch-test pass, so the caller pays zero extra jobs; the
    third return value is that pass's Row (None when no touch-test pass
    ran — the caller aggregates itself). Callers pin ``updates`` first:
    every pass, and the bloom refinement, re-reads it."""
    groups = list(m["groups"])
    stats = m.get("stats") or {}
    candidates: list[tuple[str, object]] = []  # (group, box condition)
    touched: list[str] = []
    for g in groups:
        st = stats.get(g)
        box = None
        prunable_empty = False
        if st is not None:
            conds = []
            for k in keys:
                cs = st.get(k)
                if not isinstance(cs, dict):
                    conds = None
                    break
                mn, mx = cs.get("min"), cs.get("max")
                if mn is None or mx is None:
                    # provably untouched only when ALL rows are NULL in
                    # this key column; legacy non-finite-float stats
                    # (None min/max, non-null rows) must rewrite
                    # conservatively instead
                    nulls, rows = cs.get("nulls"), st.get("_rows")
                    if (
                        nulls is not None
                        and rows is not None
                        and int(nulls) == int(rows)
                    ):
                        prunable_empty = True
                    else:
                        conds = None
                    break
                conds.append(
                    F.col(k).between(
                        _stat_lit(mn, types[k]), _stat_lit(mx, types[k])
                    )
                )
            if prunable_empty:
                continue  # untouched by proof
            if conds is not None:
                from functools import reduce

                box = reduce(lambda a, b: a & b, conds)
        if box is None:
            touched.append(g)  # no usable stats: rewrite conservatively
        else:
            candidates.append((g, box))
    # chunked so a many-commit table (thousands of candidate groups)
    # never builds one giant aggregate expression tree — each pass
    # tests <= _TOUCH_CHUNK boxes; passes share the caller's pinned
    # source
    extra_row = None
    for lo in range(0, len(candidates), _TOUCH_CHUNK):
        chunk = candidates[lo : lo + _TOUCH_CHUNK]
        hit = updates.select(
            *[
                F.max(F.when(box, 1).otherwise(0)).alias(f"g{i}")
                for i, (_, box) in enumerate(chunk)
            ],
            # caller aggregates ride the first pass for free
            *(extra_aggs if lo == 0 and extra_aggs else []),
        ).first()
        if lo == 0:
            extra_row = hit
        for i, (g, _) in enumerate(chunk):
            if hit[f"g{i}"] == 1:
                touched.append(g)
    # Bloom refinement (point-lookup skipping): a box-touched group
    # whose blooms cover EVERY key column stays touched only if some
    # update ROW is maybe-present in all of them — on uuid-ish keys,
    # where every box spans the whole key space, this is what turns a
    # 100-key merge from O(table) back into O(touched). False
    # positives cost a rewrite; false negatives cannot happen.
    bloomable = [
        g
        for g in touched
        if table_path is not None
        and all(k in (stats.get(g, {}).get("_bloom") or {}) for k in keys)
    ]
    if bloomable:
        passed = _bloom_touched(
            updates, keys, stats, bloomable, table_path
        )
        bloom_set = set(bloomable)
        touched = [
            g for g in touched if g not in bloom_set or g in passed
        ]
    touched_set = set(touched)
    return (
        [g for g in groups if g in touched_set],
        [g for g in groups if g not in touched_set],
        extra_row,
    )


# -- Bloom membership probes --------------------------------------------
#
# Every bloom question — read()'s point/IN refinement, the auto-pruned
# DML touch set, merge_into/apply_changes touch tests and rebase
# membership — is one test: raw xxhash64 matrices per probed column
# (cast literals for a point/IN probe, collected update keys for a
# touch test) bit-tested against each candidate (group, column)
# sidecar by ONE kernel, _bloom_maybe. A point lookup is a touch test
# whose probe rows are literals; only the rule combining the
# per-(group, column) maybe-vectors differs.


def _bloom_prune_where(
    spark: SparkSession,
    m: dict,
    groups: list[str],
    where: dict,
    table_path: str,
) -> list[str]:
    """Bloom refinement of a stats-pruned candidate list for a
    (normalized) bounds map: POINT bounds (lo == hi) and IN-sets (a
    list of values) are bit-tested, range bounds are not. A group
    survives a column if ANY probed value is maybe-present (IN is a
    disjunction) and survives overall only if EVERY bloom'd probed
    column passes (the WHERE is a conjunction); groups without a bloom
    for a column pass it (conservative). The literals are hashed in
    ONE tiny Spark job, each CAST to the column's declared type first
    (xxhash64 is type-sensitive and the blooms hashed the column in
    its own type). No bloom'd candidate: no job, no sidecar read."""
    stats = m.get("stats") or {}
    eq: dict = {}
    for c, bound in where.items():
        if isinstance(bound, (list, set, frozenset)):
            vals = [v for v in bound if v is not None]
        else:
            lo, hi = bound
            vals = [lo] if lo is not None and lo == hi else []
        if vals and any(
            c in (stats.get(g, {}).get("_bloom") or {}) for g in groups
        ):
            eq[c] = vals
    if not eq:
        return groups
    types = {
        f.name: f.dataType for f in _schema_from_json(m["schema"]).fields
    }
    hashes = [
        _bloom_hashes(
            [F.lit(v).cast(types[c]) if c in types else F.lit(v) for v in vs]
        ).alias(c)
        for c, vs in eq.items()
    ]
    row = spark.range(1).select(*hashes).first()
    H = {c: _hash_matrix([row[c]], len(vs))[0] for c, vs in eq.items()}
    maybe = _bloom_maybe(spark, H, stats, groups, table_path)
    absent = {gi for (gi, _), hit in maybe.items() if not hit.any()}
    return [g for gi, g in enumerate(groups) if gi not in absent]


def _bloom_touched(
    updates: DataFrame,
    keys: list[str],
    stats: dict,
    groups: list[str],
    table_path: str,
) -> set:
    """The groups (subset of ``groups``, each bloom'd on EVERY key
    column) where some update ROW is maybe-present in every key
    column's Bloom filter. A bounded delta collects k raw hashes per
    key column per row (NO key values) and goes through _bloom_maybe;
    a delta over _BLOOM_DRIVER_MAX_ROWS takes the fully distributed
    hash-join (_bloom_touched_join)."""
    if not groups:
        return set()
    import numpy as np

    head = (
        updates.select(_bloom_hashes([F.col(k) for k in keys]))
        .limit(_BLOOM_DRIVER_MAX_ROWS + 1)
        .collect()
    )
    if len(head) > _BLOOM_DRIVER_MAX_ROWS:
        return _bloom_touched_join(updates, keys, stats, groups, table_path)
    if not head:
        return set()
    M = _hash_matrix([r[0] for r in head], len(keys))
    maybe = _bloom_maybe(
        updates.sparkSession,
        {k: M[:, ci] for ci, k in enumerate(keys)},
        stats,
        groups,
        table_path,
    )
    return {
        g
        for gi, g in enumerate(groups)
        if np.logical_and.reduce([maybe[(gi, k)] for k in keys]).any()
    }


def _rebase_bloom_membership(
    updates: DataFrame,
    keys: list[str],
    lstats: dict,
    groups: list[str],
    table_path: str,
):
    """Membership probe used by rebase validation: which of the
    concurrent commits' added ``groups`` might contain one of this
    commit's update keys? Returns None ("no proof either way") when
    any group lacks blooms for every key column — the caller then
    treats all of them as overlapping (conservative)."""
    if not all(
        all(k in (lstats.get(g, {}).get("_bloom") or {}) for k in keys)
        for g in groups
    ):
        return None
    return _bloom_touched(updates, keys, lstats, groups, table_path)


# Regime split for the kernel: the driver numpy regime wins while the
# sidecar set is small (zero Spark jobs; tools/ab_bloom.py
# --many-groups measures it against the executor regime at 128
# page-cached 8 KiB sidecars), and the executor regime wins when
# driver I/O would serialize — thousands of groups × up to 2 MiB each
# through one process, which on object storage is the MERGE touch
# test's wall clock. The executor regime therefore triggers only when
# BOTH hold: more groups than _BLOOM_DRIVER_MAX_GROUPS AND more planned
# sidecar bytes than _BLOOM_DRIVER_MAX_BYTES (computed from the
# manifests' m values — no file I/O). Module-level so tests can pin
# the regimes.
_BLOOM_DRIVER_MAX_GROUPS = 64
_BLOOM_DRIVER_MAX_BYTES = 64 << 20

# update-row ceiling for collecting the raw key-hash matrix to the
# driver (k int64 per key column per row — NO key values); larger
# deltas take the fully distributed hash-join path. Module-level so
# tests can lower it.
_BLOOM_DRIVER_MAX_ROWS = 200_000


def _bloom_distributed_regime(groups: list, probes: list) -> bool:
    return len(groups) > _BLOOM_DRIVER_MAX_GROUPS and (
        sum(int(meta["m"]) // 8 for _, _, meta in probes)
        > _BLOOM_DRIVER_MAX_BYTES
    )


def _bloom_hashes(cols: list):
    """ONE array of the k raw xxhash64 values of each column in
    ``cols``, column-major — the hashes the filters were built from
    (_bloom_positions) before the per-group ``pmod m``."""
    return F.array(
        *[F.xxhash64(c, F.lit(i)) for c in cols for i in range(_BLOOM_K)]
    )


def _hash_matrix(flat_rows: list, n_cols: int):
    """Collected _bloom_hashes arrays as an (n, n_cols, k) uint64
    matrix. Spark longs are signed: reinterpret them as uint64 two's
    complement (an int64 VIEW, not a value cast — numpy deprecates
    implicit negative→uint64)."""
    import numpy as np

    return (
        np.array(flat_rows, dtype=np.int64)
        .view(np.uint64)
        .reshape(len(flat_rows), n_cols, _BLOOM_K)
    )


def _bloom_probes(stats: dict, groups: list[str], cols) -> list:
    """(group index, column, manifest bloom meta) for every candidate
    group with a bloom on a probed column."""
    return [
        (gi, c, bl[c])
        for gi, g in enumerate(groups)
        for bl in [stats.get(g, {}).get("_bloom") or {}]
        for c in cols
        if c in bl
    ]


def _bloom_maybe(
    spark: SparkSession,
    H: dict,
    stats: dict,
    groups: list[str],
    table_path: str,
) -> dict:
    """THE bloom membership kernel. ``H`` maps each probed column to
    an (n, k) raw-hash matrix; the result maps (group index, column)
    to n maybe-present flags, for every candidate group with a bloom
    on that column. Two regimes, same bit test (_bloom_test):

    * driver — numpy over each sidecar read on the driver: zero Spark
      jobs;
    * executor — H is broadcast and one mapInPandas pass over the
      sidecar scan tests each sidecar where it lives; only a packed
      n-bit bitmap per (group, column) comes back, so the driver never
      touches sidecar bytes at any group count."""
    import numpy as np

    probes = _bloom_probes(stats, groups, H)
    if not _bloom_distributed_regime(groups, probes):
        return {
            (gi, c): _bloom_test(
                _bloom_words(table_path, meta), H[c], int(meta["m"])
            )
            for gi, c, meta in probes
        }
    bH = spark.sparkContext.broadcast(H)

    def probe(batches):
        import numpy as np

        for pdf in batches:
            pdf["bitmap"] = [
                np.packbits(
                    _bloom_test(_sidecar_words(path, m), bH.value[c], m)
                ).tobytes()
                for c, m, path in zip(pdf["c"], pdf["m"], pdf["path"])
            ]
            yield pdf[["gi", "c", "bitmap"]]

    rows = (
        _bloom_sidecar_scan(spark, table_path, probes)
        .mapInPandas(probe, "gi int, c string, bitmap binary")
        .collect()
    )
    return {
        (r["gi"], r["c"]): np.unpackbits(
            np.frombuffer(r["bitmap"], dtype=np.uint8), count=len(H[r["c"]])
        ).astype(bool)
        for r in rows
    }


def _bloom_test(words, H, m: int):
    """The bit test: maybe-present flags for the rows of ``H`` (n × k
    raw hashes) against one m-bit sidecar. (h + 2^64) mod m ==
    pmod(h, m) BECAUSE m is a power of two (_bloom_m) — the modulus
    must stay a power of two or this and the JVM-side pmod the filters
    were built with would disagree."""
    import numpy as np

    pos = H % np.uint64(m)
    bits = (words[pos >> np.uint64(6)] >> (pos & np.uint64(63))) & np.uint64(1)
    return bits.all(axis=1)


def _sidecar_words(path: str, m: int):
    """A bloom sidecar as little-endian uint64 words. A file whose size
    disagrees with its manifest's ``m`` (truncated, foreign) reads as
    SATURATED — every probe maybe-present — so every regime keeps its
    group: a bad sidecar costs a scan or a rewrite, never a false
    negative."""
    import numpy as np

    with open(path, "rb") as f:
        data = f.read()
    if len(data) * 8 != m:
        return np.full(m // 64, np.iinfo(np.uint64).max, dtype="<u8")
    return np.frombuffer(data, dtype="<u8")


def _bloom_words(table_path: str, meta: dict):
    """Driver-side read of the sidecar a manifest bloom ``meta``
    ({m, k, file}) names."""
    return _sidecar_words(
        os.path.join(table_path, meta["file"]), int(meta["m"])
    )


def _bloom_sidecar_scan(
    spark: SparkSession, table_path: str, probes: list
) -> DataFrame:
    """(gi, c, m, path) rows, one per probed sidecar, spread across
    executors so each task opens and decodes its files where it runs;
    m is the manifest's, so a size mismatch reads saturated there too.
    A ``binaryFile`` read would be the idiomatic route, but Hadoop's
    hidden-file filter silently drops ``_``-prefixed paths — and the
    sidecars are named ``_bloom_<col>.bin`` precisely so the parquet
    reader ignores them — so the kernels open the files directly; the
    table already requires a shared POSIX-semantics filesystem (the
    manifest protocol's atomic os.link), so every executor can."""
    rows = [
        (gi, c, int(meta["m"]), os.path.join(table_path, meta["file"]))
        for gi, c, meta in probes
    ]
    par = min(len(rows), spark.sparkContext.defaultParallelism)
    return spark.createDataFrame(
        rows, "gi int, c string, m long, path string"
    ).repartition(par)


def _bloom_touched_join(
    updates: DataFrame,
    keys: list[str],
    stats: dict,
    groups: list[str],
    table_path: str,
) -> set:
    """_bloom_touched for an oversized delta, fully distributed:
    update-key hashes join the sparse (gi, c, widx, word) table of
    NONZERO sidecar words, which the executor-side sidecar scan
    extracts. Group blooms may differ in m (sized by NDV at write
    time), so the raw hash is computed once per (row, col, seed) and
    reduced mod each group's own m."""
    spark = updates.sparkSession
    probes = _bloom_probes(stats, groups, keys)

    def extract(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for gi, c, m, path in pdf.itertuples(index=False):
                arr = _sidecar_words(path, m)
                nz = np.nonzero(arr)[0]
                if len(nz):
                    yield pd.DataFrame(
                        {
                            "gi": np.full(len(nz), gi, dtype="int32"),
                            "c": c,
                            "widx": nz.astype("int64"),
                            "word": arr[nz].view(np.int64),
                        }
                    )

    words = _bloom_sidecar_scan(spark, table_path, probes).mapInPandas(
        extract, "gi int, c string, widx long, word long"
    )
    metas = spark.createDataFrame(
        [(gi, c, int(meta["m"])) for gi, c, meta in probes],
        "gi int, c string, m long",
    )
    hs = updates.select(
        F.struct(*[F.col(k) for k in keys]).alias("kid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("c"),
                        F.lit(i).alias("si"),
                        F.xxhash64(F.col(k), F.lit(i)).alias("h"),
                    )
                    for k in keys
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("x"),
    ).select("kid", "x.*")
    pos = (
        hs.join(F.broadcast(metas), "c")
        .select(
            "kid",
            "gi",
            "c",
            "si",
            F.pmod(F.col("h"), F.col("m")).alias("p"),
        )
        .select(
            "kid",
            "gi",
            "c",
            "si",
            F.floor(F.col("p") / 64).cast("long").alias("widx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
            ).alias("bit"),
        )
    )
    # no broadcast hint on words: it comes from a distributed sidecar
    # scan (groups × m/64 nonzero words can exceed driver memory at
    # thousands of groups); AQE picks broadcast when small
    hits = pos.join(words, ["gi", "c", "widx"]).filter(
        F.col("word").bitwiseAND(F.col("bit")) != 0
    )
    per_col = (
        hits.groupBy("kid", "gi", "c")
        .agg(F.countDistinct("si").alias("ns"))
        .filter(F.col("ns") == _BLOOM_K)
    )
    per_row = (
        per_col.groupBy("kid", "gi")
        .agg(F.count("*").alias("nc"))
        .filter(F.col("nc") == len(keys))
    )
    gids = {r["gi"] for r in per_row.select("gi").distinct().collect()}
    return {groups[gi] for gi in gids}


def apply_changes(
    table: VersionedTable,
    spark: SparkSession,
    changes: DataFrame,
    key: str | list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    txn: dict[str, int] | None = None,
    expected_parent: int | None | str = "any",
) -> int:
    """APPLY CHANGES INTO: land an I/U/D changelog batch on the
    versioned table in ONE file-pruned rewrite — the lakehouse CDC
    apply (Delta's APPLY CHANGES INTO / Iceberg's merge-on-write CDC),
    composing the batch semantics of queries/round4 cdc_merge_changelog
    with io/versioned.py's group-skipping machinery.

    ``changes`` carries the table's columns plus ``op_col`` with values
    'I'/'U'/'D' (insert/update are both upserts — CDC feeds rarely
    distinguish reliably) and optionally ``seq_col``, a monotone
    ordering column used to resolve multiple changes to one key
    LAST-WRITER-WINS within the batch (without it, duplicate keys fail
    loudly like merge_into). Groups whose key box contains NO change
    key are carried by reference — a trickle of CDC rows against a
    100 TB table rewrites only the touched groups. The batch (after the
    ``seq_col`` resolution) is materialized once for the whole call,
    like merge_into's source."""
    keys = [key] if isinstance(key, str) else list(key)
    if seq_col is not None:
        w = W.partitionBy(*keys).orderBy(F.col(seq_col).desc())
        changes = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", seq_col)
        )
    # Batch probes — an op outside I/U/D and (without seq_col) a
    # duplicate key, as count(*) vs COUNT DISTINCT of the key tuple like
    # merge_into's — RIDE the touch-test pass below; only the no-pass
    # paths pay one standalone aggregate.
    bad_op = ~F.coalesce(F.col(op_col).isin("I", "U", "D"), F.lit(False))
    probes = [F.max(bad_op).alias("__chg_bad")]
    if seq_col is None:
        probes += [
            F.count(F.lit(1)).alias("__chg_n"),
            F.count_distinct(
                F.struct(*[F.col(k) for k in keys])
            ).alias("__chg_nd"),
        ]

    def _check_probes(row) -> None:
        if seq_col is None and row["__chg_n"] != row["__chg_nd"]:
            raise ValueError(
                "changelog batch has duplicate keys; pass seq_col for "
                "last-writer-wins resolution"
            )
        if row["__chg_bad"]:
            bad = [
                r[0]
                for r in changes.select(op_col).distinct()
                .filter(bad_op).collect()
            ]
            raise ValueError(
                f"unknown changelog op(s) {bad!r}; expected I/U/D"
            )

    with _materialized(changes):
        upserts = changes.filter(F.col(op_col) != "D").drop(op_col)
        all_keys = changes.select(*keys)

        # snapshot-pinned like merge_into: compute against
        # expected_parent, validate-and-rebase at publish (disjoint
        # concurrent commits land)
        base = (
            table.latest_version() if expected_parent == "any"
            else expected_parent
        )
        if base is None:
            _check_probes(changes.agg(*probes).first())
            return table.commit(
                upserts, mode="overwrite", txn=txn,
                expected_parent=expected_parent,
            )
        m = table._load_manifest(base)
        declared = _schema_from_json(m["schema"])
        if _schema_key(declared) != _schema_key(upserts.schema):
            raise SchemaMismatchError(
                "changelog schema (minus op/seq) differs from table schema"
            )
        types = {f.name: f.dataType for f in declared.fields}
        # a group is touched if ANY change key (upsert OR delete) hits it
        touched, _, probe_row = _split_touched_groups(
            m, changes, keys, types, table_path=table.path,
            extra_aggs=probes,
        )
        if probe_row is None:  # no touch-test pass ran
            probe_row = changes.agg(*probes).first()
        _check_probes(probe_row)
        current = table._read_groups(spark, m, touched)
        rewritten = current.join(all_keys, keys, "left_anti").unionByName(
            upserts
        )
        added, added_stats = _write_groups(rewritten, table.path, m)
        return table._publish_or_rebase(
            m,
            touched,
            added,
            added_stats,
            mode="overwrite",
            txn=txn,
            update_box=lambda: _key_box(all_keys, keys, types),
            update_membership=lambda lstats, gs: _rebase_bloom_membership(
                all_keys, keys, lstats, gs, table.path
            ),
        )


def _parse_instant(ts) -> float:
    """Epoch seconds from a number, numeric string, or ISO date /
    datetime (naive = UTC) — the one instant parser the timestamp
    read surfaces share (TIMESTAMP AS OF semantics)."""
    try:
        return float(ts)
    except (TypeError, ValueError):
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(str(ts))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()


def _version_at_or_after(table: VersionedTable, epoch: float) -> int:
    """First version committed AT or AFTER the instant: one past the
    newest version committed strictly before it (0 when the instant
    precedes the whole history)."""
    try:
        return table.version_as_of(epoch - 1e-6) + 1
    except FileNotFoundError:
        return 0


def _change_range(
    table: VersionedTable,
    from_version,
    to_version,
    from_timestamp,
    to_timestamp,
) -> tuple[int, int]:
    """``(lo, hi)`` versions of a changes read whose bounds may be
    versions OR instants: ``from_timestamp`` resolves to the first
    commit AT or AFTER the instant, ``to_timestamp`` to the newest
    commit at or before it, and a missing end to the latest version.
    ``lo > hi`` is an empty range, not an error."""
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "pass from_version OR from_timestamp, not both"
            )
        from_version = _version_at_or_after(
            table, _parse_instant(from_timestamp)
        )
    if from_version is None:
        raise ValueError("pass from_version or from_timestamp")
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError("pass to_version OR to_timestamp, not both")
        to_version = table.version_as_of(_parse_instant(to_timestamp))
    hi = (
        table.latest_version() if to_version is None else int(to_version)
    )
    if hi is None:
        raise FileNotFoundError(f"no snapshots at {table.path}")
    return int(from_version), hi


def table_changes(
    table: VersionedTable,
    spark: SparkSession,
    from_version: int | None = None,
    to_version: int | None = None,
    ignore_changes: bool = False,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Batch CDC — Delta's ``table_changes`` TVF shape: the rows ADDED
    by snapshots [from_version, to_version] (default: latest) as ONE
    DataFrame with ``_commit_version`` (the snapshot that added each
    row) and ``_change_type`` ('insert') metadata columns. The
    nightly-incremental consumer's API: "give me what landed since the
    version I processed last", without running a stream.

    Shares the changefeed's walk (pysource._changefeed_added_groups),
    so the append-only contract is identical: a non-append snapshot in
    the range raises unless ``ignore_changes=True`` (then only added
    groups are emitted and removed data is never retracted — OPTIMIZE
    rewrites re-emit, exactly like the stream with ignorechanges).
    Rows align to the END version's schema through its column name /
    cast maps; delete entries are NOT applied (CDC reports what was
    inserted, not the net state — use snapshot_diff for exact row
    deltas including deletes). O(added data) IO: the walk is manifest
    metadata, and only added groups are scanned.

    Bounds may be versions OR instants (Delta's table_changes TVF
    accepts both): ``from_timestamp`` resolves to the first commit AT
    or AFTER the instant, ``to_timestamp`` to the newest commit at or
    before it (epoch seconds or ISO datetime; version and timestamp
    forms of the same bound are mutually exclusive)."""
    from functools import reduce

    from .pysource import _changefeed_added_groups, _resolved_map

    lo, hi = _change_range(
        table, from_version, to_version, from_timestamp, to_timestamp
    )
    m_hi = table._load_manifest(hi)
    declared = _schema_from_json(m_hi["schema"])
    by_v: dict[int, list[str]] = {}
    for v, g in _changefeed_added_groups(
        table.path,
        lo,
        hi,
        ignore_changes,
        # a BRANCH handle's changes walk ITS manifest chain (versions
        # are branch-local), not main's
        table._meta_root if table.is_branch else None,
    ):
        by_v.setdefault(v, []).append(g)
    empty = _empty_frame(spark, declared).select(
        "*",
        F.lit(None).cast("int").alias("_commit_version"),
        F.lit(None).cast("string").alias("_change_type"),
    )
    if not by_v:
        return empty
    # evolution maps unioned over the WHOLE range, newest wins: the
    # end manifest only inherits entries for groups it still retains,
    # but this walk replays groups that may have been renamed/widened
    # and then rewritten away inside the range — their routing lives
    # only in the historical manifests (same pin as the CDF stream)
    colmap = _resolved_map(table, lo, hi, "colmap")
    castmap = _resolved_map(table, lo, hi, "castmap")
    parts = []
    for v, gs in sorted(by_v.items()):
        gset = set(gs)
        synth = {
            "schema": m_hi["schema"],
            "groups": gs,
            "colmap": {
                g: mp for g, mp in colmap.items() if g in gset
            },
            "castmap": {
                g: cs for g, cs in castmap.items() if g in gset
            },
            "delete_entries": [],
        }
        parts.append(
            table._read_groups(spark, synth, gs).select(
                "*",
                F.lit(v).cast("int").alias("_commit_version"),
                F.lit("insert").alias("_change_type"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


_CDF_PLAN_CHUNK = 24  # max per-pair diffs in one lazy Spark plan


def table_changes_rows(
    table: VersionedTable,
    spark: SparkSession,
    from_version: int,
    to_version: int | None = None,
    key: str | list[str] = "id",
    dup_probe: str = "eager",
    columns: list | None = None,
) -> DataFrame:
    """Row-level change-data-feed between snapshots (Delta's CDF read
    shape, computed READ-SIDE): for each version v in [from_version,
    to_version], the exact row delta vs v-1 — ``_change_type`` in
    ('I','U','D') with ``old``/``new`` payload structs and
    ``_commit_version`` — so a consumer can replay precisely what each
    commit did to each key, including deletes and rewrites the
    append-only ``table_changes`` cannot express.

    Built on snapshot_diff per adjacent version pair, so each pair
    reads O(its delta) via the manifest-aware shared-group skip — a
    bounded nightly range of k commits costs k pruned diffs, never
    k table scans. from_version=0 emits version 0's rows as inserts.
    Each pair is a driver-planned diff plan (a few Spark jobs,
    ~0.7 s/pair overhead regardless of delta size), so for LONG
    backfill ranges use the BATCH changefeed datasource instead
    (``spark.read.format("table_changefeed")`` + readchangedata +
    endingversion — one metadata-planned job, ~10x faster at 300
    pairs); ranges past _CDF_PLAN_CHUNK pairs here evaluate eagerly
    in bounded chunks to keep Catalyst analysis linear.

    Contract inherited from snapshot_diff: snapshots must be
    key-unique on ``key`` (merge/apply_changes-maintained tables;
    raw-append tables with duplicate keys raise). Payload structs are
    aligned BY NAME to the END version's schema (missing columns read
    NULL); a rename INSIDE the range is folded per pair by
    snapshot_diff, but versions before the rename align to the end
    names only through that fold — consume per-pair snapshot_diff
    directly for exotic multi-rename ranges."""
    from functools import reduce

    keys = [key] if isinstance(key, str) else list(key)
    hi = (
        table.latest_version() if to_version is None else int(to_version)
    )
    if hi is None:
        raise FileNotFoundError(f"no snapshots at {table.path}")
    lo = int(from_version)
    declared = _schema_from_json(table._load_manifest(hi)["schema"])
    payload_fields = [
        f
        for f in declared.fields
        if f.name not in keys
        and (columns is None or f.name in set(columns))
    ]

    def realign(d: DataFrame) -> DataFrame:
        """Project old/new structs to the END version's payload
        fields by name (missing -> typed NULL), preserving NULL
        structs so IS NULL change semantics survive."""
        out = d
        for side in ("old", "new"):
            have = set(out.schema[side].dataType.names)
            inner = [
                (
                    F.col(f"{side}.{f.name}")
                    if f.name in have
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in payload_fields
            ]
            out = out.withColumn(
                side,
                F.when(
                    F.col(side).isNull(), F.lit(None)
                ).otherwise(F.struct(*inner)),
            )
        return out

    parts: list[DataFrame] = []
    for v in range(lo, hi + 1):
        if v == 0:
            try:
                m0 = table._load_manifest(0)
            except FileNotFoundError as e:
                raise ValueError(
                    f"snapshot 0 has been expired by vacuum() ({e}); "
                    "start the CDF range at a retained version"
                ) from None
            df0 = table._read_groups(spark, m0, list(m0["groups"]))
            pay0 = [
                c
                for c in df0.columns
                if c not in keys
                and (columns is None or c in set(columns))
            ]
            base = df0.select(
                *keys,
                F.lit("I").alias("change"),
                F.struct(*pay0).alias("new"),
            )
            d = base.select(
                *keys,
                "change",
                F.lit(None)
                .cast(base.schema["new"].dataType)
                .alias("old"),
                "new",
            )
        else:
            d = snapshot_diff(
                table, spark, v - 1, v, keys, dup_probe=dup_probe,
                columns=columns,
            )
        parts.append(
            realign(d).select(
                *keys,
                F.col("change").alias("_change_type"),
                F.lit(v).cast("int").alias("_commit_version"),
                "old",
                "new",
            )
        )
    if not parts:
        # an empty range (from_version past the end): the typed empty
        # frame of the same columns a non-empty range returns
        payload = F.struct(*[f.name for f in payload_fields])
        return _empty_frame(spark, declared).select(
            *keys,
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("int").alias("_commit_version"),
            payload.alias("old"),
            payload.alias("new"),
        )
    union = lambda ps: reduce(  # noqa: E731
        lambda a, b: a.unionByName(b), ps
    )
    if len(parts) <= _CDF_PLAN_CHUNK:
        return union(parts)
    # LONG replay ranges: one lazy plan holding every per-pair diff
    # (each a grouped aggregate over two scans) makes Catalyst
    # analysis superlinear in the range — 300 pairs measured ~227 s
    # (join-era number; the shape concern is unchanged) of mostly
    # DRIVER planning for 301 delta rows. Materialize in bounded
    # chunks instead: each chunk's plan holds <= _CDF_PLAN_CHUNK
    # diffs (analysis cost bounded), its delta-bound rows checkpoint
    # to executor storage, and the result unions trivial RDD scans —
    # total planning LINEAR in the range. The trade: ranges past the
    # chunk size evaluate eagerly at call time (a CDC backfill is
    # consumed immediately anyway).
    chunks = []
    for i in range(0, len(parts), _CDF_PLAN_CHUNK):
        chunks.append(
            union(parts[i:i + _CDF_PLAN_CHUNK]).localCheckpoint(
                eager=True
            )
        )
    return union(chunks)


def table_changes_cdf(
    table: VersionedTable,
    spark: SparkSession,
    from_version: int | None = None,
    to_version: int | None = None,
    key: str | list[str] = "id",
    from_timestamp=None,
    to_timestamp=None,
    dup_probe: str = "eager",
    columns: list | None = None,
) -> DataFrame:
    """Row-level CDF in Delta's FLAT row shape — the batch twin of the
    changefeed's ``readchangedata`` stream: table columns plus
    ``_change_type`` ('insert' | 'delete' | 'update_preimage' |
    'update_postimage') and ``_commit_version``, with each update as a
    pre/postimage row PAIR. Built on ``table_changes_rows`` (per-pair
    snapshot_diff: executor-parallel Spark jobs, manifest-aware
    shared-group skip, O(delta) per commit) — use this for historical
    backfills too large for the stream's one-task-per-rewrite diff.
    Bounds may be versions or instants, like ``table_changes``."""
    keys = [key] if isinstance(key, str) else list(key)
    # resolve the end version ONCE and pass it down — re-reading
    # latest_version() after table_changes_rows resolved its own end
    # let a concurrent evolution commit in between pin a schema the
    # diffed payload structs don't carry (review finding, r13
    # continuation)
    lo, hi = _change_range(
        table, from_version, to_version, from_timestamp, to_timestamp
    )
    d = table_changes_rows(
        table, spark, lo, hi, key=keys, dup_probe=dup_probe,
        columns=columns,
    )
    # output columns follow the DECLARED schema's field order (keys in
    # place, not hoisted) + _change_type + _commit_version, the exact
    # flat shape the streaming readchangedata CDF emits — positional
    # consumers can swap batch backfill and stream tail freely.
    # ``columns`` (internal, the MV refresh path) restricts the
    # payload to the columns the fold consumes — see snapshot_diff's
    # projected-diff note.
    declared = _schema_from_json(table._load_manifest(hi)["schema"])
    names = [
        f.name
        for f in declared.fields
        if columns is None
        or f.name in (set(columns) | set(keys))
    ]
    row = lambda side, label: F.struct(  # noqa: E731
        F.lit(label).alias("_change_type"), F.col(side).alias("p")
    )
    pairs = (
        F.when(
            F.col("_change_type") == "I",
            F.array(row("new", "insert")),
        )
        .when(
            F.col("_change_type") == "D",
            F.array(row("old", "delete")),
        )
        .otherwise(
            F.array(
                row("old", "update_preimage"),
                row("new", "update_postimage"),
            )
        )
    )
    e = d.select(
        *keys, F.col("_commit_version"), F.explode(pairs).alias("c")
    )
    return e.select(
        *[
            F.col(c) if c in keys else F.col(f"c.p.{c}").alias(c)
            for c in names
        ],
        F.col("c._change_type").alias("_change_type"),
        "_commit_version",
    )


def _type_has_map(dt) -> bool:
    """True when a MAP lurks anywhere in the type tree — such a column
    cannot sit inside an equality-compared struct (Spark's `<=>`
    rejects unorderable types)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _type_has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_type_has_map(f.dataType) for f in dt.fields)
    return False


def _comparable_expr(col, dt):
    """An equality-comparable, order-canonical twin of ``col``: every
    MAP in the type tree becomes its entries array sorted by key
    (map keys are unique, so the sort is total and deterministic),
    applied recursively through arrays and structs. Subtrees without
    maps pass through untouched."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        entries = F.map_entries(col)
        if _type_has_map(dt.valueType):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    e["key"].alias("key"),
                    _comparable_expr(e["value"], dt.valueType).alias(
                        "value"
                    ),
                ),
            )
        return F.array_sort(entries)
    if isinstance(dt, ArrayType) and _type_has_map(dt.elementType):
        return F.transform(
            col, lambda x: _comparable_expr(x, dt.elementType)
        )
    if isinstance(dt, StructType) and any(
        _type_has_map(f.dataType) for f in dt.fields
    ):
        # field access on a NULL struct yields a NON-null struct of
        # nulls — a leading isNull discriminator keeps "NULL struct"
        # and "struct of all-null fields" distinct under equality
        return F.struct(
            col.isNull().alias("__nul"),
            *[
                _comparable_expr(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ],
        )
    return col


def _differing_groups(ma: dict, mb: dict) -> tuple[list, list]:
    """The groups of two manifests a diff must read: all but the
    shared ones (a group in both with identical applicable delete
    entries contributes identical rows to both sides)."""

    def entry_sig(m: dict, g: str) -> tuple:
        return tuple(
            (e["file"], tuple(e["key"]))
            for e in (m.get("delete_entries") or [])
            if g in e["applies_to"]
        )

    shared = {
        g
        for g in set(ma["groups"]) & set(mb["groups"])
        if entry_sig(ma, g) == entry_sig(mb, g)
    }
    return (
        [g for g in ma["groups"] if g not in shared],
        [g for g in mb["groups"] if g not in shared],
    )


def diff_stats_box(
    table: VersionedTable,
    from_version: int,
    to_version: int,
    cols: list[str],
) -> dict | None:
    """``{col: (lo, hi)}``: the hull of ``cols``' manifest min/max over
    every group that differs between adjacent snapshots in
    (from_version, to_version] — metadata only, no Spark job. Every row
    a diff of that range yields (keyed CDF or signed rows, either
    side) comes from one of those groups, so it lies in the box or has
    a NULL in that column. None when that cannot be proven from stats:
    a differing group lacks min/max for a column (no stats, non-finite
    floats), or the schema changes inside the range (a rename re-keys
    and a widen re-types the stats). Bounds are decoded to the
    column's Python domain (Decimal, date, datetime), ready for
    ``prune_where``."""
    cols = list(cols)
    ms = [
        table._load_manifest(v)
        for v in range(int(from_version), int(to_version) + 1)
    ]
    if not cols or len(ms) < 2:
        return None
    if any(m["schema"] != ms[-1]["schema"] for m in ms):
        return None
    types = {
        f.name: f.dataType for f in _schema_from_json(ms[-1]["schema"]).fields
    }
    box: dict = {}
    for ma, mb in zip(ms, ms[1:]):
        for m, groups in zip((ma, mb), _differing_groups(ma, mb)):
            stats = m.get("stats") or {}
            for g in groups:
                gst = stats.get(g) or {}
                for c in cols:
                    st = gst.get(c)
                    if not isinstance(st, dict):
                        return None
                    mn, mx = st.get("min"), st.get("max")
                    if mn is None or mx is None:
                        nulls, rows = st.get("nulls"), gst.get("_rows")
                        if nulls is not None and nulls == rows:
                            continue  # all NULL: no row can match
                        return None
                    mn = _stat_unjson(mn, types[c])
                    mx = _stat_unjson(mx, types[c])
                    lo, hi = box.get(c, (mn, mx))
                    box[c] = (min(lo, mn), max(hi, mx))
    return box or None


def _diff_pair_sides(
    table: VersionedTable,
    spark: SparkSession,
    from_version: int,
    to_version: int,
    want: set | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """Aligned (old-side, new-side, column-types) row frames for a
    version-range diff — the shared prologue of the keyed diff
    (snapshot_diff) and the signed fold (table_signed_rows):
    manifest-aware shared-group skip (a group in both snapshots with
    identical applicable delete entries contributes identical rows
    and is never read), rename-chain folding onto the FROM side, and
    additive-evolution alignment (missing columns read typed NULL).
    ``want`` projects the aligned columns; the caller includes its
    own key columns in it if it needs them."""
    try:
        ma = table._load_manifest(from_version)
        mb = table._load_manifest(to_version)
    except FileNotFoundError as e:
        # the documented vacuum remedy, not a bare executor/driver
        # FileNotFoundError (same contract as the stream-side
        # _cdf_diff_arrow): an expired endpoint means the consumer's
        # baseline is gone
        raise ValueError(
            f"snapshot {from_version} or {to_version} has been "
            f"expired by vacuum() ({e}); diff retained versions only "
            "— CDC consumers should re-baseline (fresh stream "
            "checkpoint / MV re-bootstrap), or pin watermarks with a "
            "tag to keep them retained"
        ) from None

    ga, gb = _differing_groups(ma, mb)
    a = table._read_groups(spark, ma, ga)
    b = table._read_groups(spark, mb, gb)
    # RENAME evolution between the versions: each rename commit records
    # {"old", "new"}; fold the chain and rename the FROM side so the
    # field compares as ONE column (else every row would look Updated:
    # old-name vs NULL). history() is checkpoint-served, so spotting
    # the rename versions doesn't load every manifest.
    chain: dict = {}
    for row in table.history():
        v = int(row["version"])
        if not (from_version < v <= to_version):
            continue
        if not str(row.get("mode", "")).startswith("rename_column:"):
            continue
        r = table._load_manifest(v).get("renamed")
        if not r:
            continue
        src = next(
            (s for s, d in chain.items() if d == r["old"]), r["old"]
        )
        chain[src] = r["new"]
    ren = {s: d for s, d in chain.items() if s != d and s in a.columns}
    if ren:
        # one-shot select: a cyclic swap chain (a->b, b->a) collides
        # under sequential withColumnRenamed
        a = a.select(*[F.col(c).alias(ren.get(c, c)) for c in a.columns])
    # additive evolution between the versions: align BOTH sides to the
    # union of columns (missing ones read NULL), so the payload structs
    # are type-identical and comparable
    types = {f.name: f.dataType for f in a.schema.fields}
    types.update({f.name: f.dataType for f in b.schema.fields})
    all_cols = list(b.columns) + [c for c in a.columns if c not in b.columns]
    if want is not None:
        all_cols = [c for c in all_cols if c in want]

    def align(df: DataFrame) -> DataFrame:
        for c in all_cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        return df.select(*all_cols)

    return align(a), align(b), types


def table_signed_rows(
    table: VersionedTable,
    spark: SparkSession,
    from_version: int,
    to_version: int,
    columns: list | None = None,
) -> DataFrame:
    """Signed-multiset delta between two snapshots WITHOUT the keyed
    diff: for each adjacent version pair, every row of the pair's
    differing groups, new side tagged ``__sign``=+1 and old side −1.
    A row unchanged across a pair appears as a canceling ± pair, so
    any aggregate LINEAR in the row multiset — SUM, COUNT, signed
    histogram-bucket counts — over EXACT arithmetic (integral /
    decimal) folds to precisely the result the keyed CDF delta gives,
    with no per-key shuffle, no pair join, and no key-uniqueness
    precondition (nothing joins, so nothing can multiply). Per-pair
    reads are the same manifest-aware O(delta) group reads
    snapshot_diff does; rename/evolution folding is shared
    (_diff_pair_sides), and output columns CAST to the END version's
    declared types so widening inside the range unions cleanly.

    NOT for min/max/HLL/exact-distinct folds (not linear in the
    multiset) nor float/double sums (IEEE cancellation over unchanged
    pairs is order-sensitive, so the fold could drift from the keyed
    delta by ULPs) — callers gate on their fold types
    (refresh_mv/refresh_rollup_mv do)."""
    from functools import reduce

    lo, hi = int(from_version), int(to_version)
    declared = _schema_from_json(table._load_manifest(hi)["schema"])
    wanted = [
        f
        for f in declared.fields
        if columns is None or f.name in set(columns)
    ]
    want = None if columns is None else set(columns)
    parts: list[DataFrame] = []
    for v in range(lo + 1, hi + 1):
        a, b, _ = _diff_pair_sides(table, spark, v - 1, v, want)
        for df, sgn in ((b, 1), (a, -1)):
            have = set(df.columns)
            parts.append(
                df.select(
                    *[
                        (
                            F.col(f.name)
                            if f.name in have
                            else F.lit(None)
                        )
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in wanted
                    ],
                    F.lit(sgn).alias("__sign"),
                )
            )
    return reduce(lambda x, y: x.unionByName(y), parts)


def snapshot_diff(
    table: VersionedTable,
    spark: SparkSession,
    from_version: int,
    to_version: int,
    key: str | list[str],
    dup_probe: str = "eager",
    columns: list | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots: one row per key whose
    state changed, with ``change`` in ('I','D','U') and the old/new
    payload structs — "what did last night's job change?", the READ
    side of CDC (the changefeed streams appended GROUPS; this computes
    exact row deltas between ARBITRARY versions, including deletes and
    rewrites).

    MANIFEST-AWARE: a group present in both snapshots with identical
    applicable delete entries contributes identical rows to both sides
    and is skipped entirely — only differing groups are read, so
    diffing two adjacent snapshots of a 100 TB table after a pruned
    MERGE reads O(delta), not O(table). A key that merely MOVED
    between groups with an unchanged payload pairs up across the
    sides and cancels to "unchanged". Payload comparison is
    null-safe.

    PRECONDITION — keys must be unique within each snapshot. Tables
    maintained through ``merge_into`` / ``apply_changes`` satisfy this
    by construction (both reject duplicate source keys); a table built
    from raw ``append`` commits can violate it, and a duplicated key
    would pick an arbitrary payload when the sides pair up and let the
    shared-group skip hide one copy. A single probe job (the same
    ``limit(1)`` test ``merge_into`` uses) checks BOTH sides' read
    rows and raises ValueError on a duplicate. The probe covers the
    groups the diff actually reads — a duplicate split across a
    skipped shared group and a differing group is outside the
    contract (it cannot arise from merge/apply-maintained tables)."""
    keys = [key] if isinstance(key, str) else list(key)
    # PROJECTED diff (guide §2.3: shuffle only the bytes the
    # consumer folds): keys + the requested payload columns flow
    # into the diff aggregate; the U test then compares only the
    # projected payload, so an update touching ONLY untracked
    # columns emits no row — for the signed MV folds that is
    # byte-identical output (such a ± pair cancels in every
    # aggregate) with narrower shuffles and fewer spurious
    # endangered-group recomputes.
    want = None if columns is None else set(columns) | set(keys)
    a, b, types = _diff_pair_sides(
        table, spark, from_version, to_version, want
    )
    # key-uniqueness probe over the rows this diff reads (O(delta)
    # like the diff itself). "eager" runs it as its own job NOW and
    # raises ValueError at call time (the public contract), naming
    # the offending key and side; dup_probe="lazy" (the internal
    # MV/CDF refresh path) rides the diff aggregate below for free —
    # both paths keep the per-side counts in the grouped row, and the
    # guard filter raises Spark's USER_RAISED_EXCEPTION (same
    # contract message) for EVERY consumed group, so a duplicate
    # anywhere surfaces when the diff is first consumed.
    if dup_probe != "lazy":
        probe = (
            a.select(*keys, F.lit("from").alias("__side"))
            .unionByName(b.select(*keys, F.lit("to").alias("__side")))
            .groupBy("__side", *keys)
            .count()
            .filter(F.col("count") > 1)
        )
        dup = probe.limit(1).collect()
        if dup:
            r = dup[0]
            raise ValueError(
                f"snapshot_diff requires key-unique snapshots: key "
                f"{tuple(r[k] for k in keys)} appears {r['count']}x "
                f"in the '{r['__side']}' snapshot (raw-append-built "
                "table?); deduplicate via merge_into/apply_changes "
                "first"
            )
    payload = [c for c in a.columns if c not in keys]
    # UNION + one grouped aggregate instead of a full-outer join (r16
    # optimization 2, guide §2.1/§1.2): both sides carry a side tag
    # and their payload struct; grouping by key rebuilds the
    # (old, new) pair with ONE exchange and NO per-side sort, where
    # the join shape cost two shuffles — and the old lazy dup guard's
    # broadcast subtree re-read both sides entirely; here the per-side
    # counts ride the same aggregate, so each side is read ONCE.
    # first(..., ignorenulls) is deterministic because the guard
    # admits at most one row per (key, side).
    #
    # MAP columns are not equatable in Spark (`<=>` rejects any struct
    # containing one — a percentile MV's <col>_hist is exactly that),
    # so the U test compares a CANONICALIZED twin struct where every
    # map is its key-sorted entries array (recursively). Only built
    # when the payload actually contains a map — the common-case plan
    # is unchanged — and map equality becomes ORDER-INSENSITIVE, which
    # is the correct semantics for maps anyway.
    has_map = any(_type_has_map(types[c]) for c in payload)

    def tagged(df: DataFrame, side: str) -> DataFrame:
        cols = [
            *keys,
            F.lit(side).alias("__side"),
            F.struct(*payload).alias("__p"),
        ]
        if has_map:
            cols.append(
                F.struct(
                    *[
                        _comparable_expr(F.col(c), types[c]).alias(c)
                        for c in payload
                    ]
                ).alias("__pc")
            )
        return df.select(*cols)

    u = tagged(a, "o").unionByName(tagged(b, "n"))
    o_side = F.col("__side") == "o"
    aggs = [
        F.first(F.when(o_side, F.col("__p")), ignorenulls=True).alias(
            "old"
        ),
        F.first(F.when(~o_side, F.col("__p")), ignorenulls=True).alias(
            "new"
        ),
        F.count(F.when(o_side, F.lit(1))).alias("__n_old"),
        F.count(F.when(~o_side, F.lit(1))).alias("__n_new"),
    ]
    if has_map:
        aggs += [
            F.first(
                F.when(o_side, F.col("__pc")), ignorenulls=True
            ).alias("__oc"),
            F.first(
                F.when(~o_side, F.col("__pc")), ignorenulls=True
            ).alias("__nc"),
        ]
    g = u.groupBy(*keys).agg(*aggs)
    # the guard filter sits directly above the aggregate and
    # references its count columns, so it cannot be pushed below it
    # or merged into a later filter — every group evaluates it on
    # first consumption, exactly like the old global broadcast guard
    g = g.where(
        F.assert_true(
            (F.col("__n_old") <= 1) & (F.col("__n_new") <= 1),
            F.lit(
                "snapshot_diff requires key-unique snapshots: "
                "a key appears more than once in one side "
                "(raw-append-built table?); deduplicate via "
                "merge_into/apply_changes first"
            ),
        ).isNull()
    )
    if has_map:
        upd = ~F.col("__oc").eqNullSafe(F.col("__nc"))
    else:
        upd = ~F.col("old").eqNullSafe(F.col("new"))
    change = (
        F.when(F.col("old").isNull(), F.lit("I"))
        .when(F.col("new").isNull(), F.lit("D"))
        .when(upd, F.lit("U"))
    )
    # NULL keys never matched under the old full-outer join, so a
    # NULL-key row surfaced as a pure D (old side) or I (new side) —
    # but groupBy treats NULLs as equal, so such a group decomposes
    # back into its per-side rows here. when(lit(False), col) is a
    # typed NULL without hand-building the struct DataType.
    d_row = F.struct(
        F.lit("D").alias("change"),
        F.col("old").alias("old"),
        F.when(F.lit(False), F.col("new")).alias("new"),
    )
    i_row = F.struct(
        F.lit("I").alias("change"),
        F.when(F.lit(False), F.col("old")).alias("old"),
        F.col("new").alias("new"),
    )
    n_row = F.struct(
        change.alias("change"),
        F.col("old").alias("old"),
        F.col("new").alias("new"),
    )
    any_key_null = F.col(keys[0]).isNull()
    for k in keys[1:]:
        any_key_null = any_key_null | F.col(k).isNull()
    rows = F.when(
        any_key_null,
        F.array_compact(
            F.array(
                F.when(F.col("old").isNotNull(), d_row),
                F.when(F.col("new").isNotNull(), i_row),
            )
        ),
    ).otherwise(
        F.array_compact(F.array(F.when(change.isNotNull(), n_row)))
    )
    return (
        g.select(*keys, F.explode(rows).alias("__c"))
        .select(
            *keys,
            F.col("__c.change").alias("change"),
            F.col("__c.old").alias("old"),
            F.col("__c.new").alias("new"),
        )
    )


def _txn_watermark(
    table: VersionedTable, tag: str
) -> tuple[int | None, int | None]:
    """(latest version, ``tag``'s txn epoch) from ONE manifest: marks
    inherit parent-to-child on every commit, so the latest manifest
    holds them all and survives vacuum."""
    latest = table.latest_version()
    if latest is None:
        return None, None
    hw = (table._load_manifest(latest).get("txn") or {}).get(tag)
    return latest, (None if hw is None else int(hw))


def _txn_epoch_commit(
    table: VersionedTable,
    tag: str,
    batch_id: int,
    commit: Callable[[int | None, dict], int],
) -> int | None:
    """The exactly-once loop of every foreachBatch lake sink: skip a
    ``batch_id`` at or below ``tag``'s watermark, else
    ``commit(latest, txn)``, which must publish with
    ``expected_parent=latest`` and ``txn=txn`` so the replay check is
    ATOMIC with the commit. Of two deliveries of one batch (zombie
    driver / speculative retry) the loser conflicts, re-reads the
    watermark and skips. Returns the landed version, None on replay."""
    while True:
        latest, hw = _txn_watermark(table, tag)
        if hw is not None and int(batch_id) <= hw:
            return None  # replay of a committed epoch
        try:
            return commit(latest, {tag: int(batch_id)})
        except CommitConflictError:
            continue  # table advanced: re-read the watermark


def make_idempotent_table_writer(
    table: VersionedTable,
    query_name: str,
    key: str | list[str] | None = None,
    partition_by: list[str] | None = None,
    auto_compact_every: int | None = None,
    compact_min_bytes: int = 32 << 20,
):
    """foreachBatch-compatible exactly-once writer INTO the versioned
    table — the lake-side twin of streaming/exactly_once.py's JDBC sink,
    using the Delta transactional-writer idea (txn appId + epoch) on
    manifests instead of a ledger table: each commit carries
    ``{"txn": {query_name: batch_id}}`` ATOMICALLY in its manifest
    publish (no post-commit stamping — a crash can't separate data from
    its epoch mark), and a replayed batch_id at or below the writer's
    high-water mark is skipped (_txn_epoch_commit).

    ``key=None`` appends the batch; with a key, the batch MERGEs
    (upsert) — give last-writer-wins resolution to duplicate keys
    within the batch first if the stream can produce them.

    ``partition_by`` (append mode only) lands each micro-batch as one
    group per partition value — exact partition pruning from the first
    commit. ``auto_compact_every=N`` runs compact(min_bytes=
    ``compact_min_bytes``) after every Nth snapshot, bin-packing the
    small groups a stream inevitably accumulates; a lost compaction
    race is silently skipped (the NEXT trigger packs), so exactly-once
    never depends on maintenance.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def land(latest: int | None, txn: dict) -> int:
            if key is None or latest is None:
                return table.commit(
                    batch_df, mode="append", txn=txn,
                    expected_parent=latest, partition_by=partition_by,
                )
            return merge_into(
                table, batch_df.sparkSession, batch_df, key,
                txn=txn, expected_parent=latest,
            )

        v = _txn_epoch_commit(table, query_name, batch_id, land)
        # continuous maintenance (r9): every Nth snapshot, bin-pack the
        # small groups this stream keeps landing (one per micro-batch /
        # per partition value). Losing a compaction race to another
        # writer is FINE - the data is committed, a later trigger packs
        # it; the exactly-once guarantee never depends on compaction.
        if v is not None and auto_compact_every and (
            v % int(auto_compact_every) == 0
        ):
            try:
                table.compact(
                    batch_df.sparkSession, min_bytes=compact_min_bytes
                )
            except CommitConflictError:
                pass

    return write


def make_idempotent_cdc_writer(
    table: VersionedTable,
    query_name: str,
    key: str | list[str],
    op_col: str = "op",
    seq_col: str | None = None,
):
    """foreachBatch exactly-once CDC sink: each micro-batch is an I/U/D
    changelog applied via ``apply_changes`` (one file-pruned rewrite),
    with the same atomic txn-epoch replay protection as
    make_idempotent_table_writer — a replayed or concurrently-delivered
    batch_id is skipped, pinned to the version the watermark was read
    from. This is the streaming half of APPLY CHANGES INTO: a Debezium/
    CDC topic lands on the lake table exactly once."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _txn_epoch_commit(
            table, query_name, batch_id,
            lambda latest, txn: apply_changes(
                table, batch_df.sparkSession, batch_df, key,
                op_col=op_col, seq_col=seq_col,
                txn=txn, expected_parent=latest,
            ),
        )

    return write


def make_cdf_replicator(
    replica: VersionedTable,
    query_name: str,
    key: str | list[str],
):
    """foreachBatch sink that REPLICATES a source table into
    ``replica`` from its CDF stream — the Delta "readChangeFeed →
    MERGE" replication pattern, closed end to end on this engine.
    Point a changefeed with ``readchangedata=true`` + ``key`` at the
    source and hand this writer to foreachBatch: each micro-batch's
    CDF rows map to an I/U/D changelog (``update_preimage`` rows are
    dropped — the postimage carries the new state; ``_commit_version``
    is the last-writer-wins sequence, so a catch-up batch spanning
    several commits on one key resolves to the newest), and land
    through make_idempotent_cdc_writer's ATOMIC txn-epoch replay
    protection — exactly-once across restarts and zombie drivers.

    After each batch the replica equals the source AS OF the batch-end
    commit — including through rewrite publishes, overwrites, CoW
    deletes/updates, and rollbacks, which an append-only replication
    (plain changefeed → append) cannot express. A pure compaction
    diffs to zero CDF rows, so maintenance on the source never
    rewrites the replica."""
    inner = make_idempotent_cdc_writer(
        replica, query_name, key, op_col="__op", seq_col="__seq"
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        ch = (
            batch_df.filter(
                F.col("_change_type") != "update_preimage"
            )
            .withColumn(
                "__op",
                F.when(F.col("_change_type") == "delete", "D")
                .when(F.col("_change_type") == "insert", "I")
                .otherwise("U"),
            )
            .withColumn(
                "__seq", F.col("_commit_version").cast("long")
            )
            .drop("_change_type", "_commit_version")
        )
        # a planned-but-empty batch (e.g. a compaction version) needs
        # no replica commit; skipping leaves the watermark untouched,
        # which is safe — a replayed empty batch skips again
        if not ch.take(1):
            return
        inner(ch, batch_id)

    return write
