"""LakeTable — a snapshot-versioned transactional Parquet table.

A thin, Iceberg-semantics table format (the Iceberg Spark runtime jar is
unavailable offline; SURVEY.md §7.1 step-1 fallback). It reproduces the
behavioral surface the reference gets from its managed Iceberg
destination (cdk_stacks/firehose_to_iceberg.py:79-119; README.md:292-309):

- **Atomic snapshot commits**: every write produces an immutable JSON
  manifest under ``_snapshots/`` listing the full data-file set; the
  ``_current`` pointer is swapped with an atomic rename. Readers always
  see a whole snapshot (snapshot isolation, "transactional data lake").
- **Time travel**: ``read(version=N)`` ≡ Iceberg ``VERSION AS OF``.
- **File-level stats pruning**: the manifest stores per-file row counts
  and min/max for scalar columns (what Iceberg keeps in manifests). A
  predicate can skip files before Spark plans the scan — this is the
  partition-pruning story at 100 TB: the driver-side manifest filter
  replaces listing+footer reads, and data is clustered on the declared
  ``cluster_by`` columns (reference: ``PARTITIONED BY (event)``,
  README.md:301) so min/max ranges are tight.
- **Copy-on-write row-level ops** (see ``merge.py``): only files that
  contain matched keys are rewritten; everything else is carried over by
  reference in the new manifest.

Scale posture: manifests are O(#files) JSON on the driver — at 100 TB /
512 MB files that is ~200k entries, fine for JSON; a production swap-in
would be Iceberg's Avro manifests, and this class is deliberately
API-compatible with that move. Data files are self-contained (cluster
columns stay in the files), so reads are a plain
``spark.read.schema(...).parquet(*files)`` — pushdown, vectorized scan
and whole-stage codegen all apply.

Single-writer discipline: commits use exclusive-create of the manifest
file, so a lost race raises instead of corrupting (optimistic
concurrency, Iceberg-style).
"""

from __future__ import annotations

import base64
import bisect
import collections as _collections
import contextlib as _contextlib
import datetime as _dt
import functools as _functools
import hashlib
import json
import os
import shutil
import uuid

import threading as _threading

try:  # POSIX advisory file locking for the commit critical section
    import fcntl as _fcntl
except ImportError:  # non-POSIX: optimistic exclusive-create only
    _fcntl = None

# per-table-root in-process commit locks (see LakeTable._commit_lock)
_COMMIT_LOCKS: dict[str, _threading.RLock] = {}
_COMMIT_LOCKS_GUARD = _threading.Lock()
_COMMIT_TL = _threading.local()
from dataclasses import dataclass
from typing import Any, Iterable
from urllib.parse import unquote as _unquote, urlsplit as _urlsplit

import numpy as np
import pyarrow as _pa
import pyarrow.compute as _pc
import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import read_parquet

_SNAPSHOT_DIR = "_snapshots"
_CURRENT = "_current"
_DATA_DIR = "data"
_REFS_DIR = "refs"
# tombstone lineage of expired snapshots (version -> parent), at the
# table root so snapshot-dir walkers never see it
_LINEAGE_FILE = "_lineage.json"

# columns whose min/max we keep in the manifest (scalar types only)
_STATS_TYPES = (
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.StringType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.BooleanType,
)


def _encode_stat(v: Any) -> Any:
    """JSON-safe, totally-ordered encoding for a stats value."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None


def _encode_pred_value(v: Any) -> Any:
    if isinstance(v, _dt.datetime) or isinstance(v, _dt.date):
        return _encode_stat(v)
    return v


# --- per-file key bloom filters (manifest-level point-lookup skipping) ----
# Iceberg-parity idea: min/max stats prune RANGE predicates, but point
# lookups (``Predicate`` "=" / "in" on a key, as in MOR deletes and
# snapshot reads) on a table whose key ranges overlap across files prune
# nothing. A small per-file bloom over the key column lets
# `key = v` / `key IN (...)` skip files that provably lack the key
# (Iceberg ships the same capability via parquet bloom filters +
# metadata skipping). ~10 bits/key, 7 probes -> ~1% false positives;
# false negatives impossible. ``_collect_stats`` builds one per file from
# its key columns; files beyond the row cap skip the bloom (their
# min/max still applies), keeping manifests metadata-scale.

_BLOOM_K = 7
_BLOOM_MAX_ROWS = 65536
_BLOOM_BITS_PER_KEY = 10
# most rows an output may have to be written in-process (``_small_output``)
_INPROCESS_MAX_ROWS = 65536

# target bytes per written data file when a caller supplies a write-size
# hint (Iceberg's write.target-file-size-bytes analogue)
_TARGET_FILE_BYTES = 128 * 1024 * 1024

# flat column types the in-process small-output writer takes: pyarrow
# writes each as a value Spark reads back unchanged and sorts each in
# Spark's order (UTF-8 binary collation only; float cluster keys stay
# on the Spark path, where NaN sorts last instead of with the nulls)
_INPROCESS_TYPES = tuple(
    t() for t in (
        T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.DateType,
        T.TimestampType, T.TimestampNTZType,
    )
)
# spark.sql.parquet.compression.codec -> pyarrow compression; a codec
# missing here (lzo, Hadoop-framed lz4) keeps the Spark writer
_ARROW_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy",
    "gzip": "gzip", "brotli": "brotli", "zstd": "zstd", "lz4_raw": "lz4",
}


def _range_cuts(lead, n_parts: int) -> list[int]:
    """Row offsets splitting a column sorted nulls-first into at most
    ``n_parts`` contiguous files the way ``RangePartitioner`` bounds
    do: a cut only ever falls where the value changes, at the first
    change at or past each 1/n_parts quantile; with no more values than
    parts, every value gets its own file."""
    n = len(lead)
    if n < 2:
        return []
    a, b = lead.slice(1), lead.slice(0, n - 1)
    same = _pc.or_(
        _pc.and_(a.is_null(), b.is_null()),
        _pc.fill_null(_pc.equal(a, b), False),
    )
    starts = (np.flatnonzero(~same.to_numpy(zero_copy_only=False)) + 1).tolist()
    if len(starts) < n_parts:
        return starts
    picks = (bisect.bisect_left(starts, k * n / n_parts) for k in range(1, n_parts))
    return sorted({starts[i] for i in picks if i < len(starts)})


def _inprocess_format(
    spark: SparkSession, fields: list[T.StructField], cluster_cols: list[str],
):
    """``(pyarrow codec, columns to write statistics for)`` when columns
    ``fields`` sorted on ``cluster_cols`` may be written in-process
    under the session's parquet conf, else None. Runs no job."""
    types = {f.name: f.dataType for f in fields}
    if not all(
        isinstance(t, T.DecimalType) or t in _INPROCESS_TYPES for t in types.values()
    ) or any(
        isinstance(types[c], (T.FloatType, T.DoubleType)) for c in cluster_cols
    ):
        return None
    codec = _ARROW_CODECS.get(
        spark.conf.get("spark.sql.parquet.compression.codec").lower()
    )
    ltz = [f.name for f in fields if isinstance(f.dataType, T.TimestampType)]
    ts_out = spark.conf.get("spark.sql.parquet.outputTimestampType")
    if codec is None or (ltz and ts_out not in ("INT96", "TIMESTAMP_MICROS")):
        return None
    # pyarrow writes LTZ timestamps as INT64 micros; Spark's INT96
    # columns carry no min/max, so neither do these
    stat_cols = [
        f.name for f in fields if ts_out == "TIMESTAMP_MICROS" or f.name not in ltz
    ]
    return codec, stat_cols


def _plan_estimate(df: DataFrame) -> tuple[int, int] | None:
    """``(bytes, rows)`` of ``df`` by its plan's size estimate, the rows
    at the row's default size; None when the plan has no estimate. The
    plan is taken as written, before cached data replaces any part of
    it: a filled cache reports its compressed in-memory bytes, which
    would shrink the estimate of the same rows several-fold. Runs no
    job."""
    plan = df._jdf.queryExecution().analyzed()
    # a leaf without statistics (a frame from a Python list or an RDD)
    # reports spark.sql.defaultSizeInBytes, which projections above it
    # rescale: then the plan has no estimate at all
    leaves = plan.collectLeaves()
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    if not all(
        int(leaves.apply(i).stats().sizeInBytes()) < unknown
        for i in range(leaves.length())
    ):
        return None
    plan_bytes = int(plan.stats().sizeInBytes())
    return plan_bytes, plan_bytes // max(1, df._jdf.schema().defaultSize())


def _small_output(
    df: DataFrame, cluster_cols: list[str],
    size_hint_bytes: int | None, max_rows: int | None,
):
    """``(arrow table, pyarrow codec, columns to write statistics
    for)`` when the conformed ``df`` may be written in-process (see
    ``_write_files``), else None. Every fact of the gate but the
    size of a frame with no estimate is known before any job runs.
    The row bound is the caller's proven ``max_rows`` or, failing
    that, the plan's estimate (``_plan_estimate``); an estimated frame
    is collected under ``limit(_INPROCESS_MAX_ROWS + 1)``, so a wrong
    estimate costs one bounded collect and then the Spark path. A
    frame with no estimate takes the same bounded collect and is gated
    on the rows and Arrow bytes it returns."""
    spark = df.sparkSession
    fmt = _inprocess_format(spark, df.schema.fields, cluster_cols)
    if fmt is None:
        return None
    estimate = None
    if max_rows is None or size_hint_bytes is None:
        estimate = _plan_estimate(df)
        if size_hint_bytes is None and estimate is not None:
            size_hint_bytes = estimate[0]
    if size_hint_bytes is not None and size_hint_bytes > _TARGET_FILE_BYTES:
        return None
    if max_rows is not None:
        tbl = df.toArrow() if max_rows <= _INPROCESS_MAX_ROWS else None
    elif estimate is None or estimate[1] <= _INPROCESS_MAX_ROWS:
        tbl = df.limit(_INPROCESS_MAX_ROWS + 1).toArrow()
    else:
        tbl = None
    if tbl is None or tbl.num_rows > _INPROCESS_MAX_ROWS or (
        size_hint_bytes is None and tbl.nbytes > _TARGET_FILE_BYTES
    ):
        return None
    return (tbl, *fmt)


def _write_sorted(
    tbl: _pa.Table, commit_dir: str, cluster_cols: list[str], n_files: int,
    codec: str, stat_cols: list[str], unwritten: list[str],
) -> None:
    """Write a non-empty Arrow table into ``commit_dir`` as at most
    ``n_files`` parquet files, sorted on ``cluster_cols`` ascending with
    nulls first (``sortWithinPartitions`` order) and split by
    ``_range_cuts`` on the leading cluster column; the ``unwritten``
    sort columns are dropped before the write."""
    if cluster_cols:
        tbl = tbl.take(_pc.sort_indices(
            tbl, sort_keys=[(c, "ascending") for c in cluster_cols],
            null_placement="at_start",
        ))
    # every column optional, whatever the frame's nullability: file
    # sources read parquet columns as nullable either way
    tbl = tbl.cast(_pa.schema([f.with_nullable(True) for f in tbl.schema]))
    cuts = _range_cuts(tbl.column(cluster_cols[0]), n_files) if cluster_cols else []
    tbl = tbl.drop_columns(unwritten)
    stat_cols = [c for c in stat_cols if c not in unwritten]
    # dictionary-encode only columns that repeat values, as parquet-mr
    # falls back to plain for near-unique ones (on the CDC table
    # always-dictionary files come out ~13% larger)
    dict_cols = [
        c for c in tbl.column_names
        if 2 * _pc.count_distinct(tbl.column(c)).as_py() <= tbl.num_rows
    ]
    os.makedirs(commit_dir)
    tag = uuid.uuid4().hex
    bounds = [0, *cuts, tbl.num_rows]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        _pq.write_table(
            tbl.slice(lo, hi - lo),
            os.path.join(commit_dir, f"part-{i:05d}-{tag}.parquet"),
            compression=codec,
            use_dictionary=dict_cols,
            write_statistics=stat_cols,
        )


def _bloom_hashes(v: Any) -> tuple[int, int]:
    """Stable double-hash basis (md5 — process- and engine-independent,
    unlike Python's seeded str hash). Memoized: an IN-list probe hashes
    each value once, not once per candidate file. Integral floats
    canonicalize to int so a bloom built before a type widening
    (int->double) still matches probes with the widened value — str(5)
    and str(5.0) must hash identically or widened lookups silently
    false-negative into wrong pruning."""
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        v = int(v)
    return _bloom_hashes_cached(str(v))


@_functools.lru_cache(maxsize=65536)
def _bloom_hashes_cached(s: str) -> tuple[int, int]:
    h = hashlib.md5(s.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "little"), int.from_bytes(h[8:], "little") | 1


def _bloom_build(values: set) -> dict:
    """Sets bit (h1 + i*h2) % m for each value and each i < k. Vectorized
    over values (the in-process commit path builds up to 65,536 keys):
    h1 and h2 are reduced mod m per value first, so the uint64
    (h1 % m + i*(h2 % m)) % m is the same bit and stays far below 2^64.
    A test pins the bitset against the plain big-int loop."""
    m_bits = max(1024, _BLOOM_BITS_PER_KEY * len(values))
    m_bits = (m_bits + 7) // 8 * 8
    m = np.uint64(m_bits)
    hs = [_bloom_hashes(v) for v in values]
    h1 = np.fromiter((a % m_bits for a, _ in hs), np.uint64, len(hs))
    h2 = np.fromiter((b % m_bits for _, b in hs), np.uint64, len(hs))
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for i in range(_BLOOM_K):
        b = (h1 + np.uint64(i) * h2) % m
        np.bitwise_or.at(
            bits, b >> np.uint64(3),
            (np.uint64(1) << (b & np.uint64(7))).astype(np.uint8),
        )
    return {"m": m_bits, "k": _BLOOM_K, "bits": base64.b64encode(bits.tobytes()).decode()}


# decoded-bitset memo keyed by the base64 payload (CPython caches a
# str's hash after first use, so repeat lookups are cheap): an IN-list
# point prune evaluates O(files x values) probes, and re-decoding the
# same file's up-to-~80 KB bitset per probe dwarfed the scan the prune
# saves (review round 10). Bounded LRU; shares the manifest-cache lock.
_BLOOM_BITS_MEMO: "OrderedDict[str, bytes]" = _collections.OrderedDict()
_BLOOM_BITS_MEMO_MAX = 4096


def _bloom_bits(bloom: dict) -> bytes:
    s = bloom["bits"]
    with _MANIFEST_CACHE_LOCK:
        b = _BLOOM_BITS_MEMO.get(s)
        if b is not None:
            _BLOOM_BITS_MEMO.move_to_end(s)
            return b
    b = base64.b64decode(s)
    with _MANIFEST_CACHE_LOCK:
        _BLOOM_BITS_MEMO[s] = b
        while len(_BLOOM_BITS_MEMO) > _BLOOM_BITS_MEMO_MAX:
            _BLOOM_BITS_MEMO.popitem(last=False)
    return b


def _bloom_may_contain(bloom: dict, v: Any) -> bool:
    m_bits = bloom["m"]
    bits = _bloom_bits(bloom)
    h1, h2 = _bloom_hashes(v)
    for i in range(int(bloom.get("k", _BLOOM_K))):
        b = (h1 + i * h2) % m_bits
        if not (bits[b >> 3] >> (b & 7)) & 1:
            return False
    return True


@dataclass(frozen=True)
class Predicate:
    """A simple file-pruning predicate ``col op value``.

    Conservative: a file is skipped only when its stats *prove* no row
    can match. Spark still applies the full filter after the scan, so
    pruning is purely an optimization (exactly like Iceberg manifest
    filtering).
    """

    col: str
    op: str  # one of =, <, <=, >, >=, in
    value: Any

    def may_match(self, fmeta: dict) -> bool:
        # point predicates consult the per-file key bloom first: it
        # prunes files whose key RANGE covers the value but which
        # provably never wrote it (overlapping-range CDC files)
        if self.op in ("=", "in"):
            bloom = fmeta.get("bloom", {}).get(self.col)
            if bloom:
                vals = self.value if self.op == "in" else (self.value,)
                if not any(
                    _bloom_may_contain(bloom, _encode_stat(_encode_pred_value(x)))
                    for x in vals
                ):
                    return False
        mins, maxs = fmeta.get("min", {}), fmeta.get("max", {})
        lo, hi = mins.get(self.col), maxs.get(self.col)
        if lo is None or hi is None:
            return True  # no stats -> cannot prune
        v = _encode_pred_value(self.value)
        try:
            if self.op == "=":
                return lo <= v <= hi
            if self.op == "<":
                return lo < v
            if self.op == "<=":
                return lo <= v
            if self.op == ">":
                return hi > v
            if self.op == ">=":
                return hi >= v
            if self.op == "in":
                return any(lo <= _encode_pred_value(x) <= hi for x in self.value)
        except TypeError:
            return True  # incomparable types -> keep
        return True


class SnapshotNotFound(Exception):
    pass


class CommitConflict(Exception):
    pass


def _is_manifest_name(name: str) -> bool:
    """True iff ``name`` is a published snapshot manifest file name
    (``v`` + 12 digits + ``.json``). _write_manifest's in-flight
    ``v{N}.json.tmp.{hex}`` files and any other stray entries in the
    snapshot directory must be invisible to walkers — a fully-written
    tmp otherwise double-counts its version in snapshots()."""
    return len(name) == 18 and name.startswith("v") and name.endswith(".json") and name[1:13].isdigit()


def _load_manifest_or_none(path: str) -> dict | None:
    """Parse one snapshot manifest; ``None`` if the file is torn.

    Since _write_manifest went write-then-link (round-9 advice), a
    manifest at its final name is born complete and a torn ``v{N}.json``
    can only predate that change (or arrive via external copy). The
    guard stays as defense in depth: the commit protocol guarantees such
    a file was NEVER the committed head — the
    atomic pointer swap only runs after the manifest write returns — so
    every snapshot-directory walker (``snapshots()``,
    ``referenced_files()``, expiry) must treat it as a non-snapshot
    rather than crash on JSONDecodeError: before this guard, one torn
    manifest permanently wedged ``expire_snapshots`` (it parsed every
    manifest before removing any) and broke the ``.snapshots`` metadata
    table. ``_next_version`` needs no guard — it numbers off filenames,
    so the torn version is simply skipped, exactly like Iceberg's
    orphaned metadata files under an uncommitted snapshot."""
    try:
        with open(path) as f:
            return json.load(f)
    except (json.JSONDecodeError, ValueError):
        import sys as _sys

        print(
            f"lake_table: skipping torn manifest {path} (crashed commit; "
            "expiry will reap it)",
            file=_sys.stderr,
        )
        return None


# Process-wide parsed-manifest cache. Published manifests are IMMUTABLE
# by construction (_write_manifest links them complete; no code path
# rewrites a published v{N}.json — the ONE rewrite-at-same-path case,
# crashed-create v0 reclaim, purges the path from this cache under the
# commit lock), so a parse keyed on the file's (path, inode, mtime_ns,
# size) identity can never go stale in-process. At 100 TB a manifest
# holds ~200k file entries (tens of MB of JSON); without this, EVERY
# schema/keys/properties access and every commit's head re-read
# re-parses it. Cached dicts are shared read-only objects — commit
# paths build fresh dicts rather than mutating the head (re-parse
# equality pinned by test_manifest_cache_identity_and_invalidation).
# Cross-process safety: the key also carries a 32-byte content probe
# (first+last 16 bytes, two preads — microseconds vs the multi-ms JSON
# parse it saves), so a reclaimed-then-recreated v0 in ANOTHER process
# can never collide on stat identity alone — the recreated manifest's
# header (version/uuid/timestamp live in the first bytes) differs, so
# the key differs structurally (round-10 advice closing the
# inode+mtime_ns+size reuse window).
_MANIFEST_CACHE: "OrderedDict[tuple, dict]" = _collections.OrderedDict()
# Bounded by COUNT and by BYTES (sum of manifest file sizes; the parsed
# dicts are a small multiple of that): a count-only bound of 64 let 64
# hundred-MB-scale manifests pin GBs of driver heap at 100 TB, while a
# long snapshots()/referenced_files() walk over a >64-snapshot table
# evicted the hot head manifest every time (review round 12). Entries
# over the per-entry cap are served uncached — at that size the parse
# is milliseconds against a multi-second scan anyway.
_MANIFEST_CACHE_MAX = 256
_MANIFEST_CACHE_MAX_BYTES = 64 << 20
_MANIFEST_CACHE_ENTRY_MAX_BYTES = 16 << 20
_MANIFEST_CACHE_BYTES = 0  # guarded by _MANIFEST_CACHE_LOCK
_MANIFEST_CACHE_LOCK = _threading.Lock()
_MANIFEST_MISSING = object()


def _purge_manifest_cache(path: str) -> None:
    """Drop every cache entry for ``path`` — required before a
    rewrite-at-same-path (crashed-create v0 reclaim): the freed inode is
    typically reused immediately, so the stat identity alone cannot be
    trusted to change across remove+recreate."""
    global _MANIFEST_CACHE_BYTES
    with _MANIFEST_CACHE_LOCK:
        for k in [k for k in _MANIFEST_CACHE if k[0] == path]:
            del _MANIFEST_CACHE[k]
            _MANIFEST_CACHE_BYTES -= k[3]


def _content_probe(path: str, size: int) -> bytes:
    """First+last 16 bytes of the file — cheap content evidence for the
    cache key (a manifest's header carries version/uuid/timestamp, so
    distinct manifests differ here even at equal stat identity)."""
    with open(path, "rb") as f:
        head = f.read(16)
        if size > 16:
            f.seek(max(size - 16, 16))
            tail = f.read(16)
        else:
            tail = b""
    return head + tail


def _load_manifest_cached(path: str):
    """Cached manifest load: the parsed dict, ``None`` for a torn file,
    ``_MANIFEST_MISSING`` if the file does not exist."""
    from . import metrics

    try:
        st = os.stat(path)
        probe = _content_probe(path, st.st_size)
    except FileNotFoundError:
        # ONLY a missing file is "missing". Any other OSError (EMFILE,
        # EACCES, EIO...) must PROPAGATE: referenced_files() treats a
        # missing manifest as contributing no files, so mapping a
        # transient fd-pressure error to MISSING let the orphan sweep
        # delete a live snapshot's data (review round 12).
        return _MANIFEST_MISSING
    key = (path, st.st_ino, st.st_mtime_ns, st.st_size, probe)
    with _MANIFEST_CACHE_LOCK:
        m = _MANIFEST_CACHE.get(key)
        if m is not None:
            _MANIFEST_CACHE.move_to_end(key)
            metrics.bump("manifest_cache.hit")
            return m
    try:
        m = _load_manifest_or_none(path)
    except FileNotFoundError:
        # reaped (expiry) between the stat above and the open: walkers
        # must see "missing", not crash (manifest() raises as usual)
        return _MANIFEST_MISSING
    if m is None:  # torn: never cache (expiry may reap it)
        return None
    # re-stat AND re-probe AFTER the read: if the file changed identity
    # or content mid-read (stat-then-read TOCTOU against a
    # reclaim/recreate), serve the parse but never cache it under the
    # stale key
    try:
        st2 = os.stat(path)
        probe2 = _content_probe(path, st2.st_size)
    except OSError:
        return m
    if (st2.st_ino, st2.st_mtime_ns, st2.st_size, probe2) != key[1:]:
        return m
    metrics.bump("manifest_cache.miss")
    if st.st_size > _MANIFEST_CACHE_ENTRY_MAX_BYTES:
        return m  # serve uncached: one entry must not own the budget
    global _MANIFEST_CACHE_BYTES
    with _MANIFEST_CACHE_LOCK:
        if key not in _MANIFEST_CACHE:
            _MANIFEST_CACHE_BYTES += key[3]
        _MANIFEST_CACHE[key] = m
        _MANIFEST_CACHE.move_to_end(key)
        while _MANIFEST_CACHE and (
            len(_MANIFEST_CACHE) > _MANIFEST_CACHE_MAX
            or _MANIFEST_CACHE_BYTES > _MANIFEST_CACHE_MAX_BYTES
        ):
            old_key, _ = _MANIFEST_CACHE.popitem(last=False)
            _MANIFEST_CACHE_BYTES -= old_key[3]
    return m


class DanglingDeleteRefs(CommitConflict):
    """A position-delete commit references data files no longer in the
    head snapshot (a concurrent compaction/COW rewrite removed them).
    Retrying would commit delete entries that dangle — their rows
    silently resurrect while total_rows still subtracts them — so the
    commit loop re-raises immediately instead of re-attempting (Iceberg
    RowDelta.validateDataFilesExist parity). Subclasses CommitConflict
    so callers' re-plan paths engage unchanged."""


# ---------------------------------------------------------------------------
# Streaming exactly-once ledger. Every streaming writer (the foreachBatch
# CDC pipeline, its dead-letter appends and the lake_table stream sink)
# records the batch it commits in ONE snapshot-summary entry,
# ``stream_sink_txn`` = {app id: last committed batch id}, inside the
# same atomic commit as the batch's data. Modeled on Delta's
# txnAppId/txnVersion idempotent-write contract: each app id owns its
# watermark, so a query under its own app id (fresh checkpoint, batch
# ids from 0) is never mistaken for a replay of another's batches.
# Writers that share an app id share its watermark; the pipeline and
# the sink both default to the implicit "default" app. Every commit
# carries the entry forward (``_carried_summary``), so maintenance and
# DDL between batches never erase the replay guard. This section is
# the only code that knows the entry's format and the replay policy.
# ---------------------------------------------------------------------------
_TXN_KEY = "stream_sink_txn"
DEFAULT_APP_ID = "default"


def batch_watermark(summary: dict, app_id: str) -> int:
    """``app_id``'s last committed batch id in a snapshot summary, or -1
    when it has committed none."""
    hwm = summary.get(_TXN_KEY, {}).get(app_id)
    return -1 if hwm is None else int(hwm)


def is_replay(summary: dict, app_id: str, batch_id: int) -> bool:
    """True when ``batch_id`` already committed for ``app_id`` (at or
    below its watermark): the writer drops the batch whole.

    An explicit app id owns its uniqueness, so any id at or below the
    watermark is a legitimate replay (e.g. a checkpoint restored from
    backup). The implicit ``"default"`` app is shared by every anonymous
    writer, and a restarted query replays at most its last batch: an id
    strictly below the watermark means a NEW query is writing
    anonymously, and dropping its batches as replays would lose data
    silently, so that raises instead."""
    hwm = batch_watermark(summary, app_id)
    if app_id == DEFAULT_APP_ID and 0 <= batch_id < hwm:
        raise ValueError(
            f"batch {batch_id} is below the implicit app's committed "
            f"watermark {hwm}. A restarted query replays at most its "
            "last batch; a far-regressed id means a NEW query (fresh "
            "checkpoint) is writing anonymously to this table, and "
            "treating its batches as replays would silently drop data. "
            "Give each independent writer its own app id: "
            "CdcStreamPipeline(..., app_id=...) or the lake_table "
            "sink's .option('txnAppId', ...)."
        )
    return batch_id <= hwm


def batch_stamp(app_id: str, batch_id: int) -> dict:
    """The ``extra_summary`` fragment that records ``batch_id`` for
    ``app_id`` in the commit carrying the batch's data. ``commit``
    merges it into the head's ledger (``merge_watermarks``), so one
    app's stamp never regresses another's watermark."""
    return {_TXN_KEY: {app_id: batch_id}}


def merge_watermarks(head: dict, stamp: dict) -> dict:
    """Per-app max of two ledgers. Watermarks only advance, so the max
    over (freshly re-read head, this commit's stamp) is exact even when
    another app committed between this writer's ledger read and its
    commit."""
    merged = {str(k): int(v) for k, v in head.items()}
    for k, v in stamp.items():
        merged[str(k)] = max(int(v), merged.get(str(k), int(v)))
    return merged


def append_once(table: "LakeTable", df: DataFrame, scope: tuple[str, int] | None) -> None:
    """Append ``df`` to ``table`` at most once per ``scope`` =
    ``(app_id, batch_id)``: the streaming dead-letter appends, which
    commit before the batch's watermark-stamping MERGE and so replay
    after a crash in between. Rows and stamp land in one commit; a
    replayed scope commits nothing, and neither does an empty frame
    (replaying zero rows is trivially idempotent). ``scope=None`` is a
    plain append."""
    if scope is None:
        table.append(df)
        return
    app_id, batch_id = scope
    if is_replay(table.manifest()["summary"], app_id, batch_id):
        return
    metas = table._write_files(df)
    if metas:
        table.commit(
            metas, operation="append",
            extra_summary=batch_stamp(app_id, batch_id),
        )


def _carried_summary(summary: dict, keys_unique: bool) -> dict:
    """Summary entries a new snapshot inherits from its parent: the
    streaming ledger always, ``keys_unique`` only when the caller says
    the commit cannot break key uniqueness."""
    carried = {_TXN_KEY: summary[_TXN_KEY]} if _TXN_KEY in summary else {}
    if keys_unique and summary.get("keys_unique") is True:
        carried["keys_unique"] = True
    return carried


def _live_rows(files: list[dict], delete_files: list[dict]) -> int:
    """Delete-aware live-row count from manifest entries, no scan: data
    rows minus position-delete rows (exact because the delete set is
    kept dangling-free and deduplicated). Pending EQUALITY deletes are
    not subtracted (their match count needs a scan), so the count is
    then an upper bound, as with Iceberg's record_count."""
    return sum(f["rows"] for f in files) - sum(
        d["rows"] for d in delete_files if d.get("kind", "position") != "equality"
    )


def _file_defaults(m: dict, fmeta: dict) -> dict[str, Any]:
    """The initial defaults the data file ``fmeta`` of manifest ``m``
    reads: those of the columns added after the file was written, which
    it therefore predates (its ``schema_v`` is older than the column's
    add-commit)."""
    sv = fmeta.get("schema_v", 0)
    return {c: d["value"] for c, d in m.get("defaults", {}).items() if sv < d["v"]}


def _default_scalar(value: Any, typ: _pa.DataType) -> _pa.Scalar:
    """An initial default as a scalar of ``typ``, cast as Spark's scan
    casts it: a timestamp string without a zone reads in the session
    zone, which ``session.get_spark`` pins to UTC."""
    if _pa.types.is_timestamp(typ) and isinstance(value, str):
        value = _dt.datetime.fromisoformat(value)
        if value.tzinfo is None and typ.tz is not None:
            value = value.replace(tzinfo=_dt.timezone.utc)
    return _pa.array([value]).cast(typ)[0]


def _file_batches(
    path: str, schema: _pa.Schema, renames: dict, defaults: dict
) -> Iterable[_pa.RecordBatch]:
    """One data file's record batches under the Arrow ``schema``, by
    Iceberg's per-file column projection: a column reads under its own
    name, else the first name of ``renames[column]`` (its former names)
    the file stores, else its initial default from ``defaults``
    (``_file_defaults``), else NULL. A narrower stored type is cast up
    and an INT96 timestamp reads as microseconds, which hold years
    outside the 1677-2262 range of nanoseconds."""
    pf = _pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
    have = set(pf.schema_arrow.names)
    stored = {}
    for f in schema:
        stored_as = [c for c in (f.name, *renames.get(f.name, ())) if c in have]
        if stored_as:
            stored[f.name] = stored_as[0]
    fills = {
        f.name: _default_scalar(defaults[f.name], f.type)
        for f in schema if f.name not in stored and f.name in defaults
    }
    for batch in pf.iter_batches(columns=sorted(set(stored.values()))):
        yield _pa.RecordBatch.from_arrays([
            batch.column(stored[f.name]).cast(f.type, safe=False) if f.name in stored
            else _pa.repeat(fills[f.name], batch.num_rows) if f.name in fills
            else _pa.nulls(batch.num_rows, f.type)
            for f in schema
        ], schema=schema)


def _key_codes(tbl: _pa.Table, keys: list[str]) -> np.ndarray:
    """One int64 code per row of ``tbl``, equal exactly when the rows'
    ``keys`` tuples are equal, NULL equal to NULL (SQL MERGE's null-safe
    ``t.k <=> s.k``)."""
    codes = None
    for k in keys:
        enc = _pc.dictionary_encode(tbl.column(k).combine_chunks(), null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        codes = idx if codes is None else np.unique(
            codes * len(enc.dictionary) + idx, return_inverse=True
        )[1]
    return codes


class LakeTable:
    """A snapshot-versioned Parquet table rooted at a directory."""

    # operations that cannot introduce a duplicate key into a table that
    # had none: row removal (delete/delete-eq), row-preserving rewrites
    # (compact/zorder/rewrite-deletes), and MERGE (collapses its source
    # per key and rewrites matched rows 1:1). append/overwrite bring
    # arbitrary new rows and update may assign a key column — those drop
    # the keys_unique flag unless the caller vouches for it.
    _KU_PRESERVING_OPS = frozenset(
        {"delete", "delete-eq", "compact", "zorder", "rewrite-deletes", "merge"}
    )

    def __init__(self, root: str, pointer: str = _CURRENT):
        self.root = os.path.abspath(root)
        # relative path of the pointer file this handle reads/advances:
        # _CURRENT for the main table, refs/<name>.json for a branch
        # handle (see branch()) — all snapshot/data plumbing is shared
        self._pointer = pointer

    # ------------------------------------------------------------------
    # creation / loading
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        keys: list[str] | None = None,
        cluster_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        """Create an empty table (snapshot v0, no files).

        ``keys``: unique key columns for MERGE (reference:
        ``unique_keys=["trans_id"]``, cdk_stacks/firehose_to_iceberg.py:114).
        ``cluster_by``: layout columns — writes repartition+sort on these
        so manifest min/max prune like Iceberg partitions (reference:
        ``PARTITIONED BY (event)``, README.md:301).
        """
        t = cls(root)
        os.makedirs(os.path.join(t.root, _SNAPSHOT_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.root, _DATA_DIR), exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "schema": schema.json(),
            "keys": keys or [],
            "cluster_by": cluster_by or [],
            "properties": properties or {},
            "files": [],
            "delete_files": [],
            # an empty keyed table is vacuously one-row-per-key; commits
            # preserve or drop the flag (see _commit_once), and the
            # changelog reader skips its uniqueness probe when both ends
            # of a diff still carry it
            "summary": {"operation": "create", "total_rows": 0}
            | ({"keys_unique": True} if keys else {}),
            "created": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        t._publish_v0(manifest)
        return t

    def _publish_v0(self, manifest: dict) -> None:
        """Publish a table's FIRST snapshot (create / shallow_clone):
        crashed-create reclaim -> manifest write -> pointer swap, all
        under the commit lock. The unlocked read-then-delete reclaim
        could reap the v0 of a CONCURRENT creator sitting between its
        manifest write and pointer swap, after which that creator's
        swap published a v0 written by someone else (round-9 advice,
        medium). Serialized, the loser simply hits CommitConflict("v0
        already exists") — first-wins, like the exclusive-create it
        wraps.

        The reclaim itself: a v0 manifest WITHOUT the pointer file
        means an earlier create died between manifest write and
        pointer swap — v0 was never committed (nothing can reference
        it), and leaving it would brick the root (every retry hits
        CommitConflict while the table stays unreadable). The rewrite
        at the same path must purge the parse cache: the freed inode
        is reused, so stat identity alone may not change.

        ``publish_token`` (random, serialized LAST so it lands in the
        parse cache's tail content probe): v0 is the ONE manifest ever
        rewritten at the same path, so distinct publishes must differ
        inside the probed bytes — this makes a cross-process stale
        cache hit on a reclaimed-then-recreated v0 structurally
        impossible even if inode, mtime_ns, and size all repeat
        (round-10 advice)."""
        manifest = {**manifest, "publish_token": uuid.uuid4().hex}
        with self._commit_lock():
            v0_path = os.path.join(self.root, _SNAPSHOT_DIR, "v000000000000.json")
            if os.path.exists(v0_path) and not os.path.exists(
                os.path.join(self.root, _CURRENT)
            ):
                os.remove(v0_path)
                _purge_manifest_cache(v0_path)
            self._write_manifest(manifest)
            self._swap_pointer(0)

    def shallow_clone(self, dest_root: str) -> "LakeTable":
        """Delta ``SHALLOW CLONE`` / Iceberg ``register_table`` parity:
        a NEW independent table whose v0 snapshot references this
        table's current data/delete files BY PATH — zero data copied,
        metadata-only cost. The clone and the source diverge freely
        from here: commits on either never touch the other, a COW
        rewrite on the clone materializes its own files under its own
        root, and the clone's snapshot expiry never deletes borrowed
        (outside-root) files — ``expire_snapshots`` refuses to remove
        any path resolving outside the expiring table's root, which is
        exactly Delta's vacuum-on-clone contract.

        Schema, keys, layout, properties, rename/default/schema_v
        history and row-lineage cursor all carry over (a borrowed
        file's stats, blooms and schema_v stamps stay valid — the
        bytes ARE the same file). Stream-sink watermarks deliberately
        do NOT carry: a clone is a new sink target, and inheriting the
        source's ledger would silently drop the first replayed batches
        of a re-pointed stream."""
        cur = self.manifest()
        if cur.get("delete_files"):
            # The source's pending deletes cannot carry over: a position-
            # delete parquet's 'file' column holds SOURCE-root-relative
            # paths, which name no file of the clone, so the deleted rows
            # would silently RESURRECT on the clone while total_rows
            # still subtracts them. (The clone's own deletes name its
            # borrowed files by clone-relative paths and apply.) Delta
            # materializes deletion vectors on CLONE; the equivalent
            # here is one delete-file rewrite.
            raise ValueError(
                "shallow_clone of a table with pending merge-on-read "
                "delete files would resurrect deleted rows on the clone "
                "— run maintenance.rewrite_deletes (or compact) first"
            )
        dest = LakeTable(dest_root)
        if os.path.exists(os.path.join(dest.root, _CURRENT)):
            raise ValueError(f"destination already a table: {dest.root}")
        os.makedirs(os.path.join(dest.root, _SNAPSHOT_DIR), exist_ok=True)
        os.makedirs(os.path.join(dest.root, _DATA_DIR), exist_ok=True)

        def _borrow(fm: dict) -> dict:
            out = dict(fm)
            out["path"] = os.path.relpath(
                os.path.join(self.root, fm["path"]), dest.root
            )
            # the clone's v0 holds every borrowed file, so each is older
            # than any equality delete the clone commits: the source's
            # sequence numbers would outrank the clone's first deletes
            out["seq"] = 0
            return out

        carried_summary = {
            k: cur["summary"][k]
            for k in ("keys_unique",)
            if k in cur.get("summary", {})
        }
        manifest = {
            "version": 0,
            "parent": None,
            "schema": cur["schema"],
            "keys": cur.get("keys", []),
            "cluster_by": cur.get("cluster_by", []),
            "properties": cur.get("properties", {}),
            **({"renames": cur["renames"]} if cur.get("renames") else {}),
            **({"defaults": cur["defaults"]} if cur.get("defaults") else {}),
            **({"schema_v": cur["schema_v"]} if cur.get("schema_v") else {}),
            **(
                {"next_row_id": cur["next_row_id"]}
                if cur.get("next_row_id") is not None
                else {}
            ),
            "files": [_borrow(f) for f in cur["files"]],
            "delete_files": [],  # pending MOR deletes refuse above
            "summary": {
                "operation": "shallow-clone",
                "source_root": self.root,
                "source_version": cur["version"],
                "total_rows": cur["summary"].get("total_rows"),
                **carried_summary,
            },
            "created": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        dest._publish_v0(manifest)  # create()'s publish discipline
        return dest

    @classmethod
    def load(cls, root: str) -> "LakeTable":
        t = cls(root)
        if not os.path.exists(os.path.join(t.root, _CURRENT)):
            raise SnapshotNotFound(f"not a LakeTable: {root}")
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(root), _CURRENT))

    # ------------------------------------------------------------------
    # snapshot plumbing
    # ------------------------------------------------------------------
    def current_version(self) -> int:
        with open(os.path.join(self.root, self._pointer)) as f:
            content = f.read().strip()
        # main pointer holds a bare version; ref pointers hold JSON
        return int(json.loads(content)["version"]) if content.startswith("{") else int(content)

    def manifest(self, version: int | None = None) -> dict:
        """Load one snapshot manifest (cached — see _load_manifest_cached).

        The returned dict is a SHARED read-only object: commit paths
        build fresh manifests rather than mutating the head in place."""
        v = self.current_version() if version is None else version
        p = os.path.join(self.root, _SNAPSHOT_DIR, f"v{v:012d}.json")
        m = _load_manifest_cached(p)
        if m is _MANIFEST_MISSING:
            raise SnapshotNotFound(f"version {v} of {self.root}")
        if m is None:
            # a torn manifest was never committed (the pointer swap only
            # follows a completed write) — time travel to it behaves as
            # "no such version", with the crash named for the operator
            raise SnapshotNotFound(
                f"version {v} of {self.root} is a torn manifest (crash "
                "mid-commit before the pointer swap); it was never "
                "committed and snapshot expiry will reap it"
            )
        return m

    def snapshots(self) -> list[dict]:
        d = os.path.join(self.root, _SNAPSHOT_DIR)
        out = []
        for name in sorted(os.listdir(d)):
            if not _is_manifest_name(name):  # in-flight .tmp / stray file
                continue
            m = _load_manifest_cached(os.path.join(d, name))
            if m is None or m is _MANIFEST_MISSING:  # torn / raced expiry
                continue
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "operation": m["summary"].get("operation"),
                    "total_rows": m["summary"].get("total_rows"),
                    "n_files": len(m["files"]),
                    "created": m.get("created"),
                }
            )
        return out

    # ------------------------------------------------------------------
    # metadata tables — Iceberg inspection parity (`db.table.snapshots`
    # / `.files` / `.history` / `.refs`). All are manifest-scale (KBs of
    # JSON per commit), so building them driver-side is the same cost
    # Iceberg's own metadata tables pay; no data file is ever opened.
    # ------------------------------------------------------------------
    def meta_snapshots(self, spark: SparkSession) -> DataFrame:
        """Every snapshot in the table (all heads, ordered by version)."""
        rows = [
            (s["version"], s["parent"], s["operation"], s["total_rows"],
             s["n_files"], s["created"])
            for s in self.snapshots()
        ]
        return spark.createDataFrame(
            rows,
            "version int, parent int, operation string, total_rows bigint,"
            " n_files int, created string",
        )

    def meta_history(self, spark: SparkSession) -> DataFrame:
        """Ancestry of the CURRENT snapshot, root first — unlike
        meta_snapshots this excludes rolled-back / unpublished heads
        (Iceberg ``history`` with ``is_current_ancestor=true``).
        EXPIRED ancestors resolve through the lineage tombstones with
        NULL operation/created — the chain stays complete to the root
        after expiry instead of breaking at the first reaped version."""
        lineage: dict[int, int | None] | None = None
        chain: list[tuple] = []
        v: int | None = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except SnapshotNotFound:
                if lineage is None:
                    lineage = self._lineage_map()
                if v not in lineage:
                    break  # pre-tombstone expiry: chain ends here
                chain.append((v, lineage[v], None, None))
                v = lineage[v]
                continue
            chain.append((v, m["parent"], m["summary"].get("operation"), m.get("created")))
            v = m["parent"]
        chain.reverse()
        return spark.createDataFrame(
            chain, "version int, parent int, operation string, created string"
        )

    def meta_refs(self, spark: SparkSession) -> DataFrame:
        """Named refs (tags + branches) with their pinned row counts."""
        rows = [
            (name, r["type"], r["version"], self.row_count(r["version"]))
            for name, r in self.refs().items()
        ]
        return spark.createDataFrame(
            rows, "name string, type string, version int, total_rows bigint"
        )

    def meta_partitions(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Per-partition-value rollup (Iceberg ``partitions`` metadata
        table parity). The cluster-by layout is range-based rather than
        hive-discrete, so a file REPRESENTS a partition value exactly
        when its min == max on the leading cluster column — the normal
        case for low-cardinality cluster keys (the reference's
        ``PARTITIONED BY (event)``, README.md:301); files spanning a
        value range roll up under the NULL partition with their span
        preserved in ``value_lo``/``value_hi``. Manifest-scale: no data
        file is opened."""
        cb = self.cluster_by
        m = self.manifest(version)
        agg: dict[object, list] = {}
        for f in m["files"]:
            lo = f.get("min", {}).get(cb[0]) if cb else None
            hi = f.get("max", {}).get(cb[0]) if cb else None
            key = lo if (lo is not None and lo == hi) else None
            row = agg.setdefault(key, [0, 0, 0, None, None])
            row[0] += 1
            row[1] += f["rows"]
            row[2] += f.get("bytes", 0)
            row[3] = lo if row[3] is None else min(row[3], lo) if lo is not None else row[3]
            row[4] = hi if row[4] is None else max(row[4], hi) if hi is not None else row[4]
        rows = [
            (None if k is None else str(k), c, r, b,
             None if lo is None else str(lo), None if hi is None else str(hi))
            for k, (c, r, b, lo, hi) in sorted(
                agg.items(), key=lambda kv: (kv[0] is None, str(kv[0]))
            )
        ]
        return spark.createDataFrame(
            rows,
            "partition string, file_count int, row_count bigint,"
            " bytes bigint, value_lo string, value_hi string",
        )

    def meta_files(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Data + position-delete files of one snapshot with their
        manifest stats (min/max per tracked column, stringified)."""
        m = self.manifest(version)
        rows = []
        for f in m["files"]:
            mins, maxs = f.get("min", {}), f.get("max", {})
            stats = {c: f"{mins[c]}..{maxs.get(c)}" for c in mins}
            rows.append((
                "data", f["path"], f["rows"], stats,
                f.get("schema_v"), f.get("first_row_id"),
            ))
        for d in m.get("delete_files", []):
            label = (
                "equality-deletes"
                if d.get("kind") == "equality"
                else "position-deletes"
            )
            rows.append((label, d["path"], d["rows"], {}, None, None))
        return spark.createDataFrame(
            rows,
            "content string, path string, rows bigint, stats map<string,string>,"
            " schema_v int, first_row_id bigint",
        )

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest()["schema"]))

    @property
    def keys(self) -> list[str]:
        return list(self.manifest().get("keys", []))

    @property
    def cluster_by(self) -> list[str]:
        return list(self.manifest().get("cluster_by", []))

    @_contextlib.contextmanager
    def _commit_lock(self):
        """Serialize the data-commit critical section (head read ->
        manifest write -> pointer swap) across threads AND processes.

        The exclusive-create of ``v{N}.json`` alone leaves a hole: after
        writer A creates v5 but BEFORE it swaps the pointer, a retrying
        writer B still reads head v4 through the pointer, mints v6 with
        parent v4 (skipping A's commit), and whichever pointer swap runs
        last silently discards the other writer's snapshot from the head
        lineage — a lost update the conflict backstop cannot see (found
        by the simultaneous two-writer ledger test, round 9).

        Two layers, both REENTRANT within a thread (a commit whose own
        code triggers a nested commit on the same table — how the race
        tests simulate interleavings — must fall through to plain
        optimistic behavior, never self-deadlock):

        - a per-root ``threading.RLock`` serializes threads in-process;
        - at depth 1 only, an advisory ``flock`` on
          ``<root>/_commit.lock`` serializes processes (kernel-released
          on death, so no stale-lock sweeps; ``flock`` is per-open-
          file-description, so re-acquiring it in the same thread would
          deadlock — hence the depth gate).

        At real scale this critical section IS the catalog's atomic
        compare-and-swap (Iceberg HadoopTableOperations / Glue-Nessie
        CAS); the lock pair is the local-filesystem stand-in. Non-POSIX
        hosts keep the RLock and fall back to optimistic
        exclusive-create across processes."""
        key = os.path.abspath(self.root)
        with _COMMIT_LOCKS_GUARD:
            rlock = _COMMIT_LOCKS.setdefault(key, _threading.RLock())
        rlock.acquire()
        depths = getattr(_COMMIT_TL, "depths", None)
        if depths is None:
            depths = _COMMIT_TL.depths = {}
        depths[key] = depths.get(key, 0) + 1
        fd = None
        try:
            if depths[key] == 1 and _fcntl is not None:
                try:
                    fd = os.open(
                        os.path.join(self.root, "_commit.lock"),
                        os.O_CREAT | os.O_RDWR,
                        0o644,
                    )
                    _fcntl.flock(fd, _fcntl.LOCK_EX)
                except OSError:
                    pass  # FS without flock support: backstop only
            yield
        finally:
            depths[key] -= 1
            if not depths[key]:
                del depths[key]
            if fd is not None:
                os.close(fd)  # releases the flock
            rlock.release()

    def _write_manifest(self, manifest: dict) -> None:
        # Write-then-link, like _create_ref: `open(p, "x") + json.dump`
        # published the manifest BYTE BY BYTE at its final name, so a
        # concurrent reader (snapshot expiry's torn-manifest reap, a
        # snapshots() walk) could observe — and expiry could DELETE — a
        # half-written file that a live committer was about to complete
        # and swap the pointer to (round-9 advice, high). os.link makes
        # the manifest appear fully-written or not at all, and still
        # fails on an existing target, preserving the optimistic
        # exclusive-create. The `.tmp.` name is invisible to every
        # snapshot-dir walker (_is_manifest_name); a crashed writer's
        # leftover tmp is age-swept by expire_snapshots.
        p = os.path.join(self.root, _SNAPSHOT_DIR, f"v{manifest['version']:012d}.json")
        tmp = f"{p}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, p)
        except FileExistsError as e:  # optimistic concurrency: lost the race
            raise CommitConflict(f"snapshot v{manifest['version']} already exists") from e
        finally:
            os.unlink(tmp)

    def _swap_pointer(self, version: int) -> None:
        target = os.path.join(self.root, self._pointer)
        tmp = f"{target}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            if self._pointer == _CURRENT:
                f.write(str(version))
            else:
                json.dump({"type": "branch", "version": version}, f)
        os.replace(tmp, target)  # atomic

    def _next_version(self) -> int:
        """Next free snapshot number — global max + 1, NOT head + 1:
        with branches and rollback the snapshot graph is a DAG (lineage
        lives in each manifest's ``parent``), so two heads must never
        mint the same number. Exclusive-create in _write_manifest still
        backstops a lost race."""
        d = os.path.join(self.root, _SNAPSHOT_DIR)
        return 1 + max(int(n[1:13]) for n in os.listdir(d) if _is_manifest_name(n))

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    def _conform(self, df: DataFrame, schema: T.StructType | None = None) -> DataFrame:
        """Project+cast to the table schema (declared-schema discipline).
        A ``_row_id`` column rides along when present: rewrites carrying
        row lineage materialize it physically in their output files."""
        if schema is None:
            schema = self.schema
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        if "_row_id" in df.columns:
            cols.append(F.col("_row_id").cast("long").alias("_row_id"))
        return df.select(*cols)

    def _write_files(self, df: DataFrame | _pa.Table, sort_by: list[str] | None = None,
                     size_hint_bytes: int | None = None,
                     max_rows: int | None = None,
                     spark: SparkSession | None = None) -> list[dict]:
        """Write df as parquet under data/<uuid>/ and return file metas.
        Every data file a write or a copy-on-write rewrite adds is
        written here.

        ``df`` may also be an Arrow table already conformed to the
        table schema (its columns, in order, typed as ``toArrow``
        returns them), as MERGE's driver path builds one. It is written
        in-process, and ``spark`` supplies the parquet conf; its schema
        and codec must pass ``_inprocess_format``.

        ``sort_by`` (default: the table's ``cluster_by``) orders the
        rows: range partitioning + a local sort make the per-file
        min/max tight on those columns — that's what turns the manifest
        stats into a partition-pruning structure at scale. A ``sort_by``
        column outside the table schema (z-order's ``__z``) orders the
        rows on both write paths and is not written.

        ``size_hint_bytes``: caller's estimate of the output volume (a
        rewrite knows its files' manifest bytes). It sizes the output
        to ``ceil(hint / _TARGET_FILE_BYTES)`` files — a micro-batch
        rewrite writes 1 file with 1 task, a 10 GB rewrite ~80: a
        sorted output is range-partitioned into that many files (one
        file skips the range-boundary sampling job, a global sort of
        one partition being the same file), an unsorted one is
        coalesced to them.

        ``max_rows``: a proven upper bound on the output rows (a
        rewrite knows its files' manifest rows).

        Small outputs are written in-process (see ``_small_output``): one
        Arrow collect, a pyarrow sort on ``sort_by`` (ascending, nulls
        first, as ``sortWithinPartitions``) and ``pq.write_table``
        replace the range-sampling job, the shuffle and the Spark write.
        The gate is a flat schema of whitelisted types, at most
        ``_INPROCESS_MAX_ROWS`` rows and at most ``_TARGET_FILE_BYTES``
        bytes; a frame whose plan has no size estimate is measured by
        one bounded collect. The file layout stays the one the
        Spark path writes: a hint under the byte gate always means one
        file; with no hint a sorted output splits like
        ``RangePartitioner`` into at most ``spark.sql.shuffle.partitions``
        contiguous files, no value of the leading sort column spanning
        two (one file per value when there are no more values than
        partitions), and an unsorted output is one file. Both paths end
        in the same ``_collect_stats``, so stats, blooms and the commit
        are shared.
        """
        from . import metrics

        # one manifest read for both the conform schema and the
        # schema_v stamp: a stamp older than the conformed schema would
        # mis-apply initial defaults to files that physically contain
        # the column (single-writer discipline covers the reverse race)
        head = self.manifest()
        head_schema_v = head.get("schema_v", 0)
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        cb = self.cluster_by if sort_by is None else list(sort_by)
        n_files = (
            None if size_hint_bytes is None
            else max(1, -(-int(size_hint_bytes) // _TARGET_FILE_BYTES))
        )
        commit_dir = os.path.join(self.root, _DATA_DIR, uuid.uuid4().hex[:16])
        if isinstance(df, _pa.Table):
            unwritten = []
            fmt = _inprocess_format(spark, schema.fields, cb)
            if fmt is None or df.column_names != schema.fieldNames():
                raise ValueError(
                    "an Arrow table is written only in-process and in the "
                    "table's column order"
                )
            small = (df, *fmt)
        else:
            unwritten = [c for c in cb if c not in schema.fieldNames()]
            df = self._conform(
                df, T.StructType([*schema.fields, *(df.schema[c] for c in unwritten)])
            )
            spark = df.sparkSession
            small = _small_output(df, cb, size_hint_bytes, max_rows)
        metrics.bump("write.spark" if small is None else "write.inprocess")
        if small is not None:
            tbl, codec, stat_cols = small
            if tbl.num_rows == 0:
                return []
            _write_sorted(
                tbl, commit_dir, cb,
                n_files or int(spark.conf.get("spark.sql.shuffle.partitions")),
                codec, stat_cols, unwritten,
            )
        elif cb:
            # RANGE partitioning, not hash: each output file covers a
            # contiguous range of the sort columns, so per-file min/max
            # are tight and disjoint -> manifest pruning behaves like
            # partition pruning (hash would co-locate unrelated values
            # and widen every file's range). AQE partition coalescing
            # would merge adjacent ranges back together on small
            # batches, so it is suspended for the sorted write
            # (single-writer; restored immediately after).
            if n_files == 1:
                df = df.repartition(1)
            else:
                df = df.repartitionByRange(
                    *([n_files] if n_files else []), *[F.col(c) for c in cb]
                )
            df = df.sortWithinPartitions(*cb).drop(*unwritten)
            prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
            try:
                df.write.mode("errorifexists").parquet(commit_dir)
            finally:
                spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
        else:
            if n_files:
                df = df.coalesce(n_files)
            df.write.mode("errorifexists").parquet(commit_dir)
        metas = self._collect_stats(commit_dir, schema_v=head_schema_v)
        if not metas:  # all parts empty: leave no orphan dir behind
            shutil.rmtree(commit_dir, ignore_errors=True)
        return metas

    def _manifest_volume(self, rel_paths) -> tuple[int, int]:
        """Summed manifest bytes and rows of the given data files (the
        size of a rewrite, MERGE's probe and rewrite gates)."""
        wanted = set(rel_paths)
        files = [f for f in self.manifest()["files"] if f["path"] in wanted]
        return sum(int(f.get("bytes", 0)) for f in files), sum(int(f["rows"]) for f in files)

    def bloom_key_columns(self) -> list[str]:
        """Key columns eligible for per-file blooms: exact-match-
        friendly types only (never float)."""
        return [
            f.name
            for f in self.schema.fields
            if f.name in (self.keys or [])
            and isinstance(
                f.dataType,
                (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                 T.StringType, T.DateType),
            )
        ]

    def _collect_stats(self, commit_dir: str, schema_v: int | None = None) -> list[dict]:
        """Footer min/max and the key bloom of every parquet file under
        ``commit_dir``, one manifest entry each. Every writer (the Spark
        and in-process writes, the Arrow sink, compaction) ends here."""
        from . import metrics

        # every data file records the schema generation it was written
        # under — how initial-default columns tell pre-ALTER files (read
        # the default) from post-ALTER files (read stored values); a
        # compaction/zorder rewrite stamps the CURRENT generation since
        # it materializes the default into the new files
        if schema_v is None:
            schema_v = self.manifest().get("schema_v", 0)
        schema = self.schema
        stat_cols = {f.name for f in schema.fields if isinstance(f.dataType, _STATS_TYPES)}
        bloom_cols = self.bloom_key_columns()
        metas: list[dict] = []
        built_bloom = False
        for dirpath, _dirs, files in os.walk(commit_dir):
            for name in sorted(files):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(dirpath, name)
                pf = _pq.ParquetFile(path)
                md = pf.metadata
                if md.num_rows == 0:
                    continue
                mins: dict[str, Any] = {}
                maxs: dict[str, Any] = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        cname = col.path_in_schema
                        if cname not in stat_cols:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            mins[cname] = maxs[cname] = None
                            continue
                        lo, hi = _encode_stat(st.min), _encode_stat(st.max)
                        if cname not in mins:
                            mins[cname], maxs[cname] = lo, hi
                        else:
                            if mins[cname] is not None and lo is not None:
                                mins[cname] = min(mins[cname], lo)
                            else:
                                mins[cname] = None
                            if maxs[cname] is not None and hi is not None:
                                maxs[cname] = max(maxs[cname], hi)
                            else:
                                maxs[cname] = None
                meta = {
                    "path": os.path.relpath(path, self.root),
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(path),
                    "min": {k: v for k, v in mins.items() if v is not None},
                    "max": {k: v for k, v in maxs.items() if v is not None},
                    **({"schema_v": schema_v} if schema_v else {}),
                }
                # per-file key blooms (see module-level notes), read from
                # the open file's key columns; files over the row cap
                # skip them (min/max still applies) to keep manifests
                # metadata-scale
                if md.num_rows <= _BLOOM_MAX_ROWS:
                    blooms = {}
                    for kcol in bloom_cols:
                        vals = {
                            _encode_stat(x)
                            for x in pf.read(columns=[kcol]).column(0).to_pylist()
                            if x is not None
                        }
                        if vals:
                            blooms[kcol] = _bloom_build(vals)
                    if blooms:
                        meta["bloom"] = blooms
                        built_bloom = True
                metas.append(meta)
        if built_bloom:
            metrics.bump("bloom.inprocess_small")
        return metas

    def commit(
        self,
        added: list[dict],
        removed_paths: Iterable[str] = (),
        operation: str = "append",
        extra_summary: dict | None = None,
        added_deletes: list[dict] | None = None,
        removed_delete_paths: Iterable[str] = (),
        preserves_key_uniqueness: bool | None = None,
    ) -> int:
        """Write snapshot N+1 = (current files - removed) + added.

        ``preserves_key_uniqueness``: caller override for the
        ``keys_unique`` manifest flag (None = derive from ``operation``
        via ``_KU_PRESERVING_OPS``). ``update_where`` passes False when
        an assignment targets a key column.

        The streaming ledger (``batch_stamp``) is carried forward from
        the parent summary and a caller's stamp is merged into it: a
        maintenance compaction or manual DML between stream batches must
        not erase the exactly-once replay guard (a checkpoint-replayed
        batch would otherwise re-apply stale after-images over newer
        data).

        Merge-on-read bookkeeping: ``added_deletes`` registers position-
        delete files; delete entries are carried forward, minus
        ``removed_delete_paths``, and minus entries made dangling by
        ``removed_paths`` (a copy-on-write rewrite of a data file applies
        pending deletes, so entries referencing it are pruned — via
        pyarrow rewrite when a delete file also references surviving
        files). Keeping the delete set dangling-free makes
        ``total_rows = data rows − delete rows`` exact with no scan.

        Optimistic-concurrency retry (Iceberg fast-append parity): a
        commit that REMOVES nothing commutes with any concurrent commit,
        so on losing the exclusive-create race it re-reads the new head
        and re-attempts with the same already-written files (bounded
        attempts). Commits that remove files (COW rewrite, compaction)
        must NOT auto-retry — their file list was derived from a base
        that no longer exists — and keep raising ``CommitConflict`` for
        the caller to re-plan."""
        removed = set(removed_paths)
        removed_del = set(removed_delete_paths)
        # Auto-retry is safe only when the commit commutes with ANY
        # concurrent commit. Removing files/deletes never commutes. An
        # added EQUALITY delete doesn't either: re-stamped to the new
        # version it would also apply to rows inserted by the very commit
        # it raced (write skew — Iceberg validateNoConflictingAppends).
        # Added POSITION deletes may retry, but _commit_once validates
        # their refs still exist in the re-read head (DanglingDeleteRefs
        # aborts the loop immediately — the refs cannot come back).
        has_eq_deletes = any(
            d.get("kind") == "equality" for d in (added_deletes or [])
        )
        commutative = not removed and not removed_del and not has_eq_deletes
        # entries the caller did not pre-stamp get the (attempt-fresh)
        # committing version as their data-sequence number
        unstamped_files = [f for f in added if "seq" not in f]
        unstamped_dels = [d for d in (added_deletes or []) if "seq" not in d]
        attempts = 5 if commutative else 1
        for attempt in range(attempts):
            try:
                # the lock makes the head read inside _commit_once
                # fresh w.r.t. every concurrent data commit; the
                # CommitConflict retry loop remains for races with
                # unlocked writers (refs, DDL, older library versions)
                with self._commit_lock():
                    return self._commit_once(
                        added,
                        removed,
                        operation,
                        extra_summary,
                        added_deletes,
                        removed_del,
                        unstamped_files,
                        unstamped_dels,
                        preserves_key_uniqueness,
                    )
            except DanglingDeleteRefs:
                raise  # permanent: the referenced files are gone
            except CommitConflict:
                if attempt == attempts - 1:
                    raise
        raise AssertionError("unreachable")

    def _commit_once(
        self,
        added: list[dict],
        removed: set[str],
        operation: str,
        extra_summary: dict | None,
        added_deletes: list[dict] | None,
        removed_del: set[str],
        unstamped_files: list[dict],
        unstamped_dels: list[dict],
        preserves_key_uniqueness: bool | None = None,
    ) -> int:
        cur = self.manifest()
        # RewriteFiles validation (Iceberg parity): every file this
        # commit removes must still be LIVE in the re-read head. A COW
        # rewrite (delete/update/merge/compact) that lost a race to a
        # concurrent rewrite of the same files would otherwise commit
        # silently — its survivors re-append rows the winner already
        # carried (duplicates) and the rows it meant to drop live on in
        # the winner's output (resurrection). Raising CommitConflict
        # sends the caller back to re-plan against the new head, which
        # is exactly what the optimistic-retry loops do.
        live_now = {f["path"] for f in cur["files"]}
        gone = removed - live_now
        if gone:
            raise CommitConflict(
                f"{operation} removes files no longer live at head "
                f"v{cur['version']} (a concurrent rewrite won): "
                f"{sorted(gone)[:3]}"
            )
        live_dels = {d["path"] for d in cur.get("delete_files", [])}
        gone_dels = removed_del - live_dels
        if gone_dels:
            raise CommitConflict(
                f"{operation} removes delete files no longer live at "
                f"head v{cur['version']}: {sorted(gone_dels)[:3]}"
            )
        kept = [f for f in cur["files"] if f["path"] not in removed]
        files = kept + added
        # validateDataFilesExist: every data file a new position-delete
        # references must still be in the snapshot being committed. On
        # the first attempt this holds by construction (the caller
        # derived refs from the head it read); on an optimistic retry a
        # concurrent compaction/COW rewrite may have removed them, and
        # committing anyway would leave dangling deletes whose rows
        # resurrect at read time.
        if added_deletes:
            live = {f["path"] for f in files}
            for d in added_deletes:
                dangling = set(d.get("refs", ())) - live
                if dangling:
                    raise DanglingDeleteRefs(
                        f"position-delete file {d['path']} references data "
                        f"files no longer in the head snapshot: "
                        f"{sorted(dangling)[:3]}"
                    )
        version = self._next_version()
        # sequence stamping (Iceberg data-sequence-number parity): every
        # added data file and delete file records the commit it entered
        # in. Equality deletes apply only to rows of files with a LOWER
        # seq, so a key re-inserted after the delete survives. Re-stamped
        # on every retry attempt — the version changes.
        for f in unstamped_files:
            f["seq"] = version
        for d in unstamped_dels:
            d["seq"] = version
        # row lineage (Iceberg v3): every added data file gets a fresh
        # first_row_id block off the table-level counter; physical
        # _row_id columns (materialized by rewrites) take precedence at
        # read time, so a rewritten file's unused block ids are simply
        # burned. Re-assigned on each optimistic-retry attempt against
        # the re-read head (like seq), so blocks never collide.
        next_row_id = cur.get("next_row_id")
        if cur.get("properties", {}).get("row-lineage") == "true":
            cursor = int(next_row_id or 0)
            for f in added:
                f["first_row_id"] = cursor
                cursor += f["rows"]
            next_row_id = cursor
        kept_deletes = [
            d for d in cur.get("delete_files", []) if d["path"] not in removed_del
        ]
        if removed:
            kept_deletes = self._prune_dangling_deletes(kept_deletes, removed)
        delete_files = kept_deletes + list(added_deletes or [])

        # keys_unique is carried only through commits that cannot break
        # it; anything else drops it to unknown (absent). The changelog
        # reader falls back to its per-diff uniqueness probe when either
        # end of a diff lacks the flag, so losing it costs a probe job,
        # never correctness.
        preserves = (
            operation in self._KU_PRESERVING_OPS
            if preserves_key_uniqueness is None
            else preserves_key_uniqueness
        )
        carried = _carried_summary(
            cur.get("summary", {}), bool(cur["keys"]) and preserves
        )
        # Streaming ledger: MERGE the caller's stamp, never overwrite.
        # Another app (or a commit this retry loop lost the pointer race
        # to) may have advanced ITS watermark since the caller read the
        # ledger; ``cur`` is re-read on every optimistic-retry attempt,
        # so the per-app max is race-free under the exclusive-create
        # commit protocol.
        extra_summary = dict(extra_summary or {})
        if _TXN_KEY in extra_summary and _TXN_KEY in carried:
            extra_summary[_TXN_KEY] = merge_watermarks(
                carried[_TXN_KEY], extra_summary[_TXN_KEY]
            )
        manifest = {
            "version": version,
            "parent": cur["version"],
            "schema": cur["schema"],
            "keys": cur["keys"],
            "cluster_by": cur["cluster_by"],
            "properties": cur.get("properties", {}),
            # rename history must survive every data commit — losing it
            # makes pre-rename files read their renamed columns as null
            **({"renames": cur["renames"]} if cur.get("renames") else {}),
            **({"defaults": cur["defaults"]} if cur.get("defaults") else {}),
            **({"schema_v": cur["schema_v"]} if cur.get("schema_v") else {}),
            **({"next_row_id": next_row_id} if next_row_id is not None else {}),
            "files": files,
            "delete_files": delete_files,
            "summary": {
                "operation": operation,
                "added_files": len(added),
                "removed_files": len(removed),
                "total_rows": _live_rows(files, delete_files),
                **(
                    {
                        "position_delete_files": len(
                            [d for d in delete_files if d.get("kind", "position") != "equality"]
                        ),
                        "position_delete_rows": sum(
                            d["rows"]
                            for d in delete_files
                            if d.get("kind", "position") != "equality"
                        ),
                        "equality_delete_files": len(
                            [d for d in delete_files if d.get("kind") == "equality"]
                        ),
                    }
                    if delete_files
                    else {}
                ),
                **carried,
                **(extra_summary or {}),
            },
            "created": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        self._write_manifest(manifest)
        self._swap_pointer(version)
        return version

    def _prune_dangling_deletes(
        self, delete_files: list[dict], removed_data_paths: set[str]
    ) -> list[dict]:
        """Drop/rewrite delete entries that reference removed data files.

        Each delete meta records ``refs`` (the distinct data relpaths it
        covers) at write time, so the common cases are metadata-only:
        refs disjoint from removed -> keep; refs subset of removed ->
        drop. Only a straddling delete file (some refs removed, some
        live) is rewritten — driver-side pyarrow, fine because position
        deletes are metadata-scale (ids, not rows)."""
        out: list[dict] = []
        for d in delete_files:
            refs = set(d.get("refs", []))
            if not (refs & removed_data_paths):
                out.append(d)
                continue
            live_refs = refs - removed_data_paths
            if not live_refs:
                continue  # fully dangling -> drop the entry
            tbl = _pq.read_table(os.path.join(self.root, d["path"]))
            live_arr = _pa.array(sorted(live_refs), type=_pa.string())
            kept = self._write_delete_file(
                tbl.filter(_pc.is_in(tbl.column("file"), value_set=live_arr))
            )
            if kept is not None:
                out.append(kept)
        return out

    def append(self, df: DataFrame) -> int:
        """Append rows as a new atomic snapshot (INSERT INTO).

        An empty ``df`` is a no-op returning the current version (no
        empty snapshot): callers can append unconditionally — e.g. the
        streaming dead-letter sink — without paying a probe job to ask
        "is there anything?" first; emptiness falls out of the one write
        action itself."""
        added = self._write_files(df)
        if not added:
            return self.current_version()
        return self.commit(added, operation="append")

    def overwrite(self, df: DataFrame) -> int:
        """Replace the whole table contents atomically."""
        cur = self.manifest()
        added = self._write_files(df)
        return self.commit(
            added, removed_paths=[f["path"] for f in cur["files"]], operation="overwrite"
        )

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def file_paths(
        self, version: int | None = None, predicates: list[Predicate] | None = None
    ) -> list[str]:
        return [
            os.path.join(self.root, f["path"]) for f in self._pruned_files(version, predicates)
        ]

    def _pruned_files(
        self, version: int | None = None, predicates: list[Predicate] | None = None
    ) -> list[dict]:
        """The manifest entries of the data files ``predicates`` may
        match, by their stats under the current column names."""
        m = self.manifest(version)
        renames = m.get("renames", {})
        return [
            f for f in m["files"]
            if not predicates or all(
                p.may_match(self._stats_under_current_names(f, renames)) for p in predicates
            )
        ]

    @staticmethod
    def _stats_under_current_names(fmeta: dict, renames: dict) -> dict:
        """File stats re-keyed to CURRENT column names: a file written
        before a RENAME COLUMN carries min/max/bloom under the former
        physical name, and a predicate on the new name must still prune
        it. Metadata-scale, and a no-op (same dict) without renames."""
        if not renames:
            return fmeta
        fm = dict(fmeta)
        for kind in ("min", "max", "bloom"):
            stats = fmeta.get(kind)
            if not stats:
                continue
            out = dict(stats)
            for cur_name, formers in renames.items():
                if cur_name in out:
                    continue
                for former in reversed(formers):
                    if former in out:
                        out[cur_name] = out[former]
                        break
            fm[kind] = out
        return fm

    def _scan(
        self,
        spark: SparkSession,
        paths: list[str],
        m: dict,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """The live rows of data files ``paths`` under manifest ``m``,
        typed by ``m``'s schema: the read every Spark reader of the table
        shares (``read_files``, a merge-on-read delete, ``changelog``).

        On top of ``_scan_plain`` it resolves, per file, what the file's
        manifest entry says: a file that predates a defaulted column
        (``_file_defaults``) reads its INITIAL DEFAULT, every other file
        its stored values (explicit NULLs stay NULL); ``with_row_ids``
        attaches ``_row_id`` (``_ROW_ID_FIELD``); pending position and
        equality deletes drop their rows. Each of these keys on the raw
        ``_metadata.file_path`` through ``_file_map``, so no row's path
        is rewritten. A default is a ``when(file in the older files)``
        over the map's spellings; the entry's ``seq`` and
        ``first_row_id`` come from one broadcast relation built from the
        map; the position deletes are re-keyed to the map's spellings on
        the driver. A table with none of these is the plain scan."""
        df = self._scan_plain(
            spark, paths, m, [self._ROW_ID_FIELD] if with_row_ids else None
        )
        dels = m.get("delete_files", [])
        if not (m.get("defaults") or with_row_ids or dels):
            return df
        files = self._file_map(df, m)
        fp = F.col("_metadata.file_path")
        older: dict[str, list[str]] = {}
        for u, fm in files.items():
            for c in _file_defaults(m, fm):
                older.setdefault(c, []).append(u)
        if older:
            types = {f.name: f.dataType for f in T.StructType.fromJson(json.loads(m["schema"]))}
            df = df.withColumns({
                c: F.when(fp.isin(us), F.lit(m["defaults"][c]["value"]).cast(types[c]))
                .otherwise(F.col(c))
                for c, us in older.items()
            })
        # Iceberg assigns equality field ids PER delete file, so files
        # with different ``eq_cols`` may coexist: each column set gets
        # its own anti-join (reading one file's keys under another's
        # columns would delete the wrong rows)
        eq: dict[tuple[str, ...], list[dict]] = {}
        for d in dels:
            if d.get("kind") == "equality" and d.get("eq_cols", self.keys):
                eq.setdefault(tuple(d.get("eq_cols", self.keys)), []).append(d)
        if with_row_ids or eq:
            facts = _pa.table({
                "__f_file": list(files),
                "__f_seq": [int(fm.get("seq", 0)) for fm in files.values()],
                "__f_row_id": [int(fm.get("first_row_id", -1)) for fm in files.values()],
            })
            df = df.join(
                F.broadcast(spark.createDataFrame(facts)), fp == F.col("__f_file"), "left"
            )
        if with_row_ids:
            # a row's id is its physically stored value when present
            # (rewrites materialize ids to survive compaction), else its
            # file's first_row_id plus its position: lazy lineage that
            # keeps plain appends free
            derived = F.when(
                F.col("__f_row_id") >= 0, F.col("__f_row_id") + F.col("_metadata.row_index")
            )
            df = df.withColumn("_row_id", F.coalesce(F.col("_row_id"), derived).cast("long"))
        rels = {fm["path"] for fm in files.values()}
        pos = [
            d for d in dels
            if d.get("kind") != "equality" and not rels.isdisjoint(d.get("refs", ()))
        ]
        if pos:
            spellings = _pa.table({
                "file": [fm["path"] for fm in files.values()], "__del_file": list(files),
            })
            gone = _pa.concat_tables(
                _pq.read_table(os.path.join(self.root, d["path"])) for d in pos
            ).join(spellings, "file", join_type="inner")
            gone = gone.select(["__del_file", "pos"]).rename_columns(["__del_file", "__del_pos"])
            df = df.join(
                F.broadcast(spark.createDataFrame(gone)),
                (fp == F.col("__del_file"))
                & (F.col("_metadata.row_index") == F.col("__del_pos")),
                "left_anti",
            )
        for key_cols, group in eq.items():
            # an equality delete drops the rows of files with a LOWER
            # sequence number, so a key re-inserted later survives. The
            # FILE's footer schema types the keys: delete_eq writes
            # Python values through pyarrow, and the footer read keeps
            # plan building free of Spark jobs
            parts = [
                read_parquet(spark, os.path.join(self.root, d["path"])).select(
                    *[F.col(k).alias(f"__eq_{k}") for k in key_cols],
                    F.lit(int(d.get("seq", 0))).alias("__del_seq"),
                )
                for d in group
            ]
            eq_df = _functools.reduce(DataFrame.unionByName, parts)
            cond = F.col("__del_seq") > F.col("__f_seq")
            for k in key_cols:
                cond = cond & F.col(k).eqNullSafe(F.col(f"__eq_{k}"))
            df = df.join(F.broadcast(eq_df), cond, "left_anti")
        return df.drop("__f_file", "__f_seq", "__f_row_id")

    def _file_map(self, df: DataFrame, m: dict) -> dict[str, dict]:
        """Each spelling Spark gives a data file ``df`` scans -> the
        file's entry in manifest ``m``: the one file identity of the
        Spark side. Spark spells a file as a URI: percent-encoded (a
        space reads ``%20``), with the ``..`` of a shallow clone's
        borrowed file resolved, ``file:///x`` in ``inputFiles`` and
        ``file:/x`` in ``_metadata.file_path``. The map is built on the
        driver from ``inputFiles`` and holds both, so a per-file join
        keys on the raw ``_metadata.file_path`` and a collected
        spelling maps back to its relpath with a lookup. A file ``m``
        does not list (a racing commit removed it) maps to an entry
        holding only its relpath, which the commit then finds gone."""
        entries = {
            os.path.normpath(os.path.join(self.root, f["path"])): f for f in m["files"]
        }
        out: dict[str, dict] = {}
        for u in df.inputFiles():
            x = _urlsplit(u).path
            p = _unquote(x)
            out["file:" + x] = out["file://" + x] = entries.get(p) or {
                "path": os.path.relpath(p, self.root)
            }
        return out

    def _scan_plain(
        self,
        spark: SparkSession,
        paths: list[str],
        m: dict,
        extra_fields: list[T.StructField] | None = None,
    ) -> DataFrame:
        """The parquet scan under ``m``'s schema that ``_scan`` resolves
        defaults, row lineage and deletes on.

        With RENAME COLUMN history, files written before a rename carry
        the FORMER physical column name; parquet resolves columns by
        name, so reading them under the new name alone would yield
        nulls. The scan schema therefore includes a typed shadow field
        per former name and projects ``coalesce(current, newest-former,
        ...)`` — each file physically contains exactly one of the chain,
        so the coalesce is unambiguous (rename_column enforces that no
        physical name is ever reused). The hidden ``_metadata`` column is
        NOT materialized — Spark propagates the virtual column through
        projections, so ``_scan``'s per-file joins and ``_file`` read
        it above this select, and materializing it flips
        the scan onto a read path where the shadow columns come back
        null. Without renames this is the plain pushdown scan."""
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        extras = list(extra_fields or [])
        renames = m.get("renames", {})
        if not renames:
            return spark.read.schema(
                T.StructType(list(schema.fields) + extras)
            ).parquet(*paths)
        read_fields: list[T.StructField] = []
        for f in schema.fields:
            read_fields.append(f)
            for former in renames.get(f.name, []):
                read_fields.append(T.StructField(former, f.dataType, True))
        read_fields.extend(extras)
        rdf = spark.read.schema(T.StructType(read_fields)).parquet(*paths)
        cols = []
        for f in schema.fields:
            formers = renames.get(f.name, [])
            if formers:
                c = F.coalesce(
                    F.col(f.name), *[F.col(x) for x in reversed(formers)]
                ).alias(f.name)
            else:
                c = F.col(f.name)
            cols.append(c)
        cols.extend(F.col(e.name) for e in extras)
        return rdf.select(*cols)

    @property
    def row_lineage(self) -> bool:
        """True when the table tracks Iceberg-v3-style row lineage."""
        return (
            self.manifest().get("properties", {}).get("row-lineage") == "true"
        )

    _ROW_ID_FIELD = T.StructField("_row_id", T.LongType(), True)

    def delete_eq(self, rows: list[dict], eq_cols: list[str] | None = None) -> int:
        """DELETE by key values as a pure metadata+keys commit: write one
        equality-delete file holding the key tuples (``_write_delete_file``,
        in-process, no Spark job) and commit — ZERO data-file I/O, the
        property that makes merge-on-read CDC deletes O(batch) instead of
        O(touched files). ``rows``: list of {key_col: value} dicts
        (metadata scale); the file's column types are pyarrow's for
        those Python values. ``eq_cols`` defaults to the table keys;
        Iceberg assigns equality field ids per delete file, so different
        commits may delete by different column sets (the read path
        applies each file under its OWN columns)."""
        eq_cols = list(eq_cols or self.keys or [])
        if not eq_cols:
            raise ValueError("delete_eq requires eq_cols (or a keyed table)")
        if not rows:
            return self.current_version()
        meta = self._write_delete_file(
            _pa.table({k: [r[k] for r in rows] for k in eq_cols}), eq_cols
        )
        return self.commit(
            [],
            operation="delete-eq",
            added_deletes=[meta],
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        predicates: list[Predicate] | None = None,
        with_file_path: bool = False,
        ref: str | None = None,
        timestamp: str | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot read (``version`` = time travel, Iceberg VERSION AS OF;
        ``ref`` = a named tag/branch; ``timestamp`` = ISO-8601 UTC,
        Iceberg TIMESTAMP AS OF).

        ``predicates`` prune files via manifest stats before Spark ever
        lists them; the caller still applies the real filter. Pending
        position deletes (merge-on-read) are applied transparently.
        ``with_row_ids`` surfaces the stable ``_row_id`` lineage column
        (tables created with ``properties={"row-lineage": "true"}``).
        """
        if sum(x is not None for x in (version, ref, timestamp)) > 1:
            raise ValueError("pass at most one of version, ref, timestamp")
        if ref is not None:
            version = self.resolve_ref(ref)
        elif timestamp is not None:
            version = self.version_as_of_timestamp(timestamp)
        m = self.manifest(version)
        paths = self.file_paths(m["version"], predicates)
        if not paths:
            df = spark.createDataFrame([], T.StructType.fromJson(json.loads(m["schema"])))
            if with_row_ids:
                df = df.withColumn("_row_id", F.lit(None).cast("long"))
            return df.withColumn("_file", F.lit(None).cast("string")) if with_file_path else df
        return self.read_files(
            spark, paths, m["version"],
            with_file_path=with_file_path, with_row_ids=with_row_ids,
        )

    def read_files(
        self,
        spark: SparkSession,
        paths: list[str],
        version: int | None = None,
        with_file_path: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Delete-aware read of SPECIFIC data files of a snapshot — the
        read every copy-on-write rewrite (merge/update/delete/compact)
        must use, or it would resurrect rows deleted by pending
        merge-on-read delete files."""
        df = self._scan(spark, paths, self.manifest(version), with_row_ids)
        if with_file_path:
            df = df.withColumn("_file", F.col("_metadata.file_path"))
        return df

    def _read_arrow(self, rel_paths: list[str], schema: _pa.Schema) -> list[_pa.Table]:
        """The live rows of the head's data files ``rel_paths`` read
        in-process with pyarrow, one table per file, in file order,
        typed as ``schema`` (Spark's Arrow types for the table columns
        it names). Each file is read by ``_file_batches`` under the
        head's renames and its ``_file_defaults``, and loses the rows
        ``read_files`` deletes: the positions of every position-delete
        file whose ``refs`` name it, and the key tuples, matched
        null-safe, of every equality-delete file with a higher ``seq``.
        Row lineage is not attached."""
        m = self.manifest()
        fmetas = {f["path"]: f for f in m["files"]}
        dels = m.get("delete_files", [])
        # each delete file is read once per call
        rows_of = _functools.cache(lambda d: _pq.read_table(os.path.join(self.root, d)))
        out = []
        for rel in rel_paths:
            # a file a racing commit removed reads as the oldest; the
            # caller's commit then conflicts and re-plans
            fm = fmetas.get(rel, {})
            eq = [
                (d, d.get("eq_cols", self.keys)) for d in dels
                if d.get("kind") == "equality" and d.get("eq_cols", self.keys)
                and int(d.get("seq", 0)) > int(fm.get("seq", 0))
            ]
            # an equality column ``schema`` lacks reads as its delete file types it
            extra = {
                k: rows_of(d["path"]).schema.field(k)
                for d, cols in eq for k in cols if k not in schema.names
            }
            read_schema = _pa.schema([*schema, *extra.values()])
            tbl = _pa.Table.from_batches(
                _file_batches(
                    os.path.join(self.root, rel), read_schema,
                    m.get("renames", {}), _file_defaults(m, fm),
                ),
                schema=read_schema,
            )
            live = np.ones(tbl.num_rows, dtype=bool)
            for d in dels:
                if rel in d.get("refs", ()):
                    pos = rows_of(d["path"])
                    hit = pos.filter(_pc.equal(pos.column("file"), rel))
                    live[hit.column("pos").to_numpy()] = False
            for d, cols in eq:
                keys = tbl.select(cols)
                gone = rows_of(d["path"]).select(cols).cast(keys.schema)
                codes = _key_codes(_pa.concat_tables([gone, keys]), cols)
                live &= ~np.isin(codes[gone.num_rows:], codes[: gone.num_rows])
            out.append(tbl.filter(_pa.array(live)).select(schema.names))
        return out

    def row_count(self, version: int | None = None) -> int:
        """Row count from manifest stats, no scan (Iceberg parity): the
        delete-aware ``_live_rows``, an upper bound while EQUALITY
        deletes are pending."""
        m = self.manifest(version)
        return _live_rows(m["files"], m.get("delete_files", []))

    def changelog(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change stream between two snapshots (Iceberg
        ``create_changelog_view`` parity — the CDC-OUT half of the
        transactional lake: downstream incremental consumers read only
        what changed instead of re-scanning the table).

        Emits the table columns plus ``_change_type`` (INSERT, DELETE,
        UPDATE_BEFORE, UPDATE_AFTER — UPDATE_* only when the table has
        keys) and ``_change_version`` (the snapshot that introduced the
        change), for ``from_version`` (exclusive) .. ``to_version``
        (inclusive, default current).

        100 TB posture: per transition, only CHANGED files are read —
        (added ∪ removed ∪ referenced-by-new-delete-files), straight from
        the manifest diff — and the before/after multiset diff
        (``exceptAll``) shuffles changed-file rows only, so cost tracks
        the commit's touched bytes, not table size. Maintenance commits
        (compact, rewrite-deletes) are metadata no-ops and are skipped
        without a scan. The version loop is driver-side over snapshots
        (metadata scale), never over rows.
        """
        to_version = self.current_version() if to_version is None else to_version
        schema = self.schema
        cols = [f.name for f in schema.fields]
        # walk the parent chain (the snapshot graph is a DAG once
        # branches/rollback exist — consecutive integers are NOT lineage)
        chain: list[dict] = []
        v_walk: int | None = to_version
        while v_walk != from_version:
            if v_walk is None:
                raise SnapshotNotFound(
                    f"v{from_version} is not an ancestor of v{to_version}"
                )
            try:
                m_walk = self.manifest(v_walk)
            except SnapshotNotFound:
                if v_walk in self._lineage_map():
                    # the range crosses an EXPIRED snapshot: its file
                    # lists (and data) are gone, so an incremental diff
                    # is impossible by design — name the remedy instead
                    # of surfacing a bare missing-version error
                    raise SnapshotNotFound(
                        f"changelog range v{from_version}..v{to_version} "
                        f"crosses expired snapshot v{v_walk}: incremental "
                        "history was removed by expire_snapshots — "
                        "re-bootstrap the consumer from a full table read"
                    ) from None
                raise
            chain.append(m_walk)
            v_walk = m_walk["parent"]
        chain.reverse()
        # both sides of every diff read as the head reads its rows: its
        # schema, renames and initial defaults over that version's files
        # and deletes, so the changelog emits today's names and types
        # and a file older than a defaulted column reads the default
        head = self.manifest()
        projection = {k: head.get(k, {}) for k in ("renames", "defaults")}

        def _visible(paths: list[str], m: dict) -> DataFrame:
            if not paths:
                return spark.createDataFrame([], schema)
            return self._scan(
                spark, [os.path.join(self.root, p) for p in paths],
                {**m, "schema": head["schema"], **projection},
            )

        parts: list[DataFrame] = []
        for cur in chain:
            v = cur["version"]
            try:
                # the diff base: from_version itself must be live too
                prev = self.manifest(cur["parent"])
            except SnapshotNotFound:
                raise SnapshotNotFound(
                    f"changelog range v{from_version}..v{to_version} "
                    f"needs expired snapshot v{cur['parent']} as a diff "
                    "base: incremental history was removed by "
                    "expire_snapshots — re-bootstrap the consumer from "
                    "a full table read"
                ) from None
            if cur["summary"].get("operation") in ("compact", "rewrite-deletes"):
                continue
            prev_files = {f["path"] for f in prev["files"]}
            cur_files = {f["path"] for f in cur["files"]}
            prev_dels = {d["path"] for d in prev.get("delete_files", [])}
            del_refs: set[str] = set()
            for d in cur.get("delete_files", []):
                if d["path"] not in prev_dels:
                    if d.get("kind") == "equality":
                        # an equality delete can affect any file with a
                        # lower sequence number — conservative candidate
                        # set; the before/after diff prunes the rest
                        del_refs.update(
                            f["path"]
                            for f in prev["files"]
                            if int(f.get("seq", 0)) < int(d.get("seq", v))
                        )
                    else:
                        del_refs.update(d.get("refs", []))
            changed = (cur_files ^ prev_files) | del_refs
            before_paths = sorted(changed & prev_files)
            after_paths = sorted(changed & cur_files)
            if not before_paths and not after_paths:
                continue

            after = _visible(after_paths, cur)
            before = _visible(before_paths, prev)
            unique_per_key = False
            if self.keys:
                # The single-join classification below assumes at most one
                # visible row per key per side. MERGE enforces that, but
                # append() on a keyed table does not (and the repo's own
                # property tests build such histories), and a many-to-many
                # full-outer join would fan out spurious UPDATE_* rows.
                # Commits whose manifests carry keys_unique (create ->
                # preserved through _KU_PRESERVING_OPS) settle this from
                # metadata with zero jobs; only histories that lost the
                # flag (append/overwrite/key-assigning update) pay the
                # per-diff probe — one aggregate over the CHANGED rows
                # only (never table-volume), falling back to the multiset
                # diff when duplicates exist.
                if (
                    cur["summary"].get("keys_unique") is True
                    and prev["summary"].get("keys_unique") is True
                ):
                    unique_per_key = True
                else:
                    probe = (
                        after.select(F.lit("a").alias("__side"), *self.keys)
                        .unionByName(
                            before.select(F.lit("b").alias("__side"), *self.keys)
                        )
                        .groupBy("__side", *self.keys)
                        .count()
                        .agg(F.max("count").alias("__mx"))
                        .collect()
                    )
                    unique_per_key = (probe[0]["__mx"] or 0) <= 1
            if self.keys and unique_per_key:
                # Keyed tables carry at most one row per key per snapshot
                # (probed above), so ONE full-outer join on the keys
                # classifies every change in a single shuffle: key only on
                # the after side -> INSERT, only on the before side ->
                # DELETE, both sides with a differing row ->
                # UPDATE_BEFORE/UPDATE_AFTER pair, both sides identical ->
                # carried-over row of a rewritten file, not a change. (The
                # previous exceptAll x2 + intersect + 4 semi/anti joins
                # computed the same relation in ~7 shuffle stages;
                # per-stage fixed cost dominated at micro-batch row
                # counts.) Struct equality is null-safe per field, so rows
                # differing only in a nullable column still classify as
                # updates.
                a = after.select(
                    *self.keys, F.struct(*cols).alias("__after")
                )
                b = before.select(
                    *self.keys, F.struct(*cols).alias("__before")
                )
                j = a.join(b, on=list(self.keys), how="full_outer")
                entries = (
                    F.when(
                        F.col("__before").isNull(),
                        F.array(F.struct(
                            F.lit("INSERT").alias("ct"),
                            F.col("__after").alias("r"),
                        )),
                    )
                    .when(
                        F.col("__after").isNull(),
                        F.array(F.struct(
                            F.lit("DELETE").alias("ct"),
                            F.col("__before").alias("r"),
                        )),
                    )
                    .when(
                        F.col("__after") != F.col("__before"),
                        F.array(
                            F.struct(
                                F.lit("UPDATE_BEFORE").alias("ct"),
                                F.col("__before").alias("r"),
                            ),
                            F.struct(
                                F.lit("UPDATE_AFTER").alias("ct"),
                                F.col("__after").alias("r"),
                            ),
                        ),
                    )
                )
                # no otherwise(): the unchanged-row case leaves the array
                # NULL, and explode() of NULL emits no rows
                tagged = (
                    j.select(F.explode(entries).alias("__e"))
                    .select(F.col("__e.r.*"), F.col("__e.ct").alias("_change_type"))
                )
            elif self.keys:
                # duplicate-key history (append-built): multiset diff
                # keeps cardinality right. Only keys whose changed-row
                # count is EQUAL on both sides classify as UPDATE_* —
                # that keeps before/after images paired 1:1. A key whose
                # multiplicity changed (2 rows -> 1) emits DELETE+INSERT
                # rows instead, matching Iceberg changelog semantics
                # where cardinality changes never masquerade as updates
                # (round-5 advice: unpaired UPDATE images mis-apply in
                # consumers that expect pairs).
                ins = after.exceptAll(before)
                dels = before.exceptAll(after)
                upd_keys = (
                    ins.groupBy(*self.keys)
                    .agg(F.count("*").alias("__ic"))
                    .join(
                        dels.groupBy(*self.keys).agg(F.count("*").alias("__dc")),
                        list(self.keys),
                    )
                    .filter(F.col("__ic") == F.col("__dc"))
                    .select(*self.keys)
                )
                tagged = (
                    ins.join(F.broadcast(upd_keys), list(self.keys), "left_anti")
                    .withColumn("_change_type", F.lit("INSERT"))
                    .unionByName(
                        dels.join(
                            F.broadcast(upd_keys), list(self.keys), "left_anti"
                        ).withColumn("_change_type", F.lit("DELETE"))
                    )
                    .unionByName(
                        dels.join(
                            F.broadcast(upd_keys), list(self.keys), "left_semi"
                        ).withColumn("_change_type", F.lit("UPDATE_BEFORE"))
                    )
                    .unionByName(
                        ins.join(
                            F.broadcast(upd_keys), list(self.keys), "left_semi"
                        ).withColumn("_change_type", F.lit("UPDATE_AFTER"))
                    )
                )
            else:
                # multiset semantics for keyless tables: exceptAll keeps
                # duplicate cardinality right
                ins = after.exceptAll(before)
                dels = before.exceptAll(after)
                tagged = ins.withColumn("_change_type", F.lit("INSERT")).unionByName(
                    dels.withColumn("_change_type", F.lit("DELETE"))
                )
            parts.append(tagged.withColumn("_change_version", F.lit(v)))
        if not parts:
            empty = spark.createDataFrame([], schema).select(*cols)
            return empty.withColumn("_change_type", F.lit(None).cast("string")).withColumn(
                "_change_version", F.lit(None).cast("int")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    # row-level DML (copy-on-write rewrites, merge-on-read delete files)
    # ------------------------------------------------------------------
    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        predicates: list[Predicate] | None = None,
    ) -> int:
        """``DELETE FROM t WHERE condition`` (reference runbook Q6,
        README.md:421-431).

        The table property ``write.delete.mode`` picks the layout:
        ``copy-on-write`` (default) rewrites only files that hold a
        matching live row; ``merge-on-read`` writes one position-delete
        file of the matching live rows' (file, pos) instead — O(matched
        rows) written, no data-file rewrite (the reference runs its
        Iceberg tables merge-on-read with
        ``optimize_rewrite_delete_file_threshold=10``, README.md:307).
        Rows already removed by a pending position or equality delete
        never match, so a delete of nothing live commits nothing."""
        cand = self.file_paths(predicates=predicates)
        if not cand:
            return self.current_version()
        props = self.manifest().get("properties", {})
        if props.get("write.delete.mode") == "merge-on-read":
            return self._delete_positions(spark, cand, lambda df: df.filter(condition))
        return self._rewrite_hit_files(
            spark, cand, condition, lambda old: old.filter(f"NOT ({condition})"),
            operation="delete",
        )

    def delete_by_keys_mor(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        keys: list[str] | None = None,
    ) -> int:
        """Merge-on-read DELETE by key set: the live rows whose key
        appears in ``keys_df`` (null-safe, ``t.k <=> s.k``) get their
        (file, pos) recorded in one position-delete file; no data file
        is rewritten, and a key set that matches no live row commits
        nothing. Same delete-aware scan and writer as a merge-on-read
        ``delete_where``. The key set is broadcast (a delete's key set
        is tiny next to the table). CDC micro-batches do not come here:
        ``apply_batch`` applies their deletes in its one MERGE commit."""
        keys = keys or self.keys
        # null-safe semi-join (t.k <=> s.k): a NULL-key delete must hit
        # the NULL-key row, matching the COW path's MERGE semantics; the
        # probe side takes reserved __-names so no column can collide
        probe = keys_df.select(
            *[F.col(k).alias(f"__d_{k}") for k in keys]
        ).distinct()
        # single-column key sets are micro-batch scale (they broadcast
        # below anyway): collect them once and let the per-file key
        # bloom + min/max prune the candidate scan down to files that
        # may actually hold a doomed row — the point-lookup pruning this
        # delete path exists for
        extra_preds: list[Predicate] = []
        has_null_key = False
        if len(keys) == 1:
            kvals = [r[0] for r in probe.limit(10001).collect()]
            if len(kvals) <= 10000:
                # the collect holds the whole key set: probe with it
                # rather than evaluate keys_df a second time
                probe = spark.createDataFrame([(v,) for v in kvals], probe.schema)
            # blooms and min/max stats exclude NULLs: a NULL-key delete
            # row would prune away the very file holding the NULL-key
            # target, so ANY null in the batch disables pruning (and the
            # semi-join below goes null-safe) — the same null contract
            # as merge_into's probe
            has_null_key = any(v is None for v in kvals)
            kvals = [v for v in kvals if v is not None]
            if 0 < len(kvals) <= 10000 and not has_null_key:
                extra_preds = [Predicate(keys[0], "in", tuple(kvals))]
        cand = self.file_paths(predicates=None if has_null_key else extra_preds)
        if not cand:
            return self.current_version()
        cond = [F.col(k).eqNullSafe(F.col(f"__d_{k}")) for k in keys]
        return self._delete_positions(
            spark, cand,
            lambda df: df.join(F.broadcast(probe), on=cond, how="left_semi"),
        )

    def _delete_positions(self, spark: SparkSession, cand: list[str], hits) -> int:
        """The merge-on-read tail of every row-level delete: the rows
        ``hits`` keeps of the live rows of ``cand`` (the scan with every
        pending position and equality delete applied) are collected as
        (file, pos) in one Arrow collect and committed as one position-
        delete file. Live rows only, so the delete set stays duplicate-
        free (manifest row accounting stays exact) and a hit set that
        is already gone commits nothing. The collect adds no scale limit
        reads do not have: every read broadcasts the whole position-
        delete set already."""
        m = self.manifest()
        live = self._scan(spark, cand, m)
        got = hits(live).select(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.row_index").alias("pos"),
        ).toArrow()
        files = self._file_map(live, m)
        rels = _pa.array([fm["path"] for fm in files.values()], _pa.string())
        idx = _pc.index_in(got.column("file"), value_set=_pa.array(list(files), _pa.string()))
        meta = self._write_delete_file(got.set_column(0, "file", rels.take(idx)))
        if meta is None:
            return self.current_version()
        return self.commit(
            [],
            operation="delete",
            added_deletes=[meta],
            extra_summary={"delete_mode": "merge-on-read"},
        )

    # position-delete file schema; ``file`` is a ROOT-RELATIVE data-file
    # path (the manifest's), which keeps a relocated table matching its
    # pending deletes: a read re-keys it to the scan's own spellings
    # through ``_file_map``
    _POSITION_DELETE_SCHEMA = _pa.schema(
        [("file", _pa.string()), ("pos", _pa.int64())]
    )

    def _write_delete_file(
        self, tbl: _pa.Table, eq_cols: list[str] | None = None
    ) -> dict | None:
        """Write ``tbl`` in-process as one delete file,
        ``data/<del|eqdel>-<uuid>.parquet``, and return its manifest
        entry (``path``, ``rows``, ``bytes``, ``refs``), or None when
        ``tbl`` has no rows. Every delete file is written here.

        Without ``eq_cols`` ``tbl`` holds positions: it is cast to
        ``_POSITION_DELETE_SCHEMA`` and sorted by (file, pos), and
        ``refs`` lists the distinct data files it covers. With
        ``eq_cols`` it holds equality-delete key tuples; the entry adds
        ``kind``/``eq_cols`` and has no refs."""
        if tbl.num_rows == 0:
            return None
        if eq_cols is None:
            tbl = tbl.cast(self._POSITION_DELETE_SCHEMA).sort_by(
                [("file", "ascending"), ("pos", "ascending")]
            )
            refs = sorted(_pc.unique(tbl.column("file")).to_pylist())
        else:
            refs = []
        rel = os.path.join(
            _DATA_DIR,
            f"{'del' if eq_cols is None else 'eqdel'}-{uuid.uuid4().hex[:16]}.parquet",
        )
        path = os.path.join(self.root, rel)
        _pq.write_table(tbl, path)
        meta = {
            "path": rel,
            "rows": tbl.num_rows,
            "bytes": os.path.getsize(path),
            "refs": refs,
        }
        if eq_cols is not None:
            meta.update(kind="equality", eq_cols=list(eq_cols))
        return meta

    def update_where(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict[str, str],
        predicates: list[Predicate] | None = None,
    ) -> int:
        """``UPDATE t SET c=expr WHERE condition`` (reference runbook Q5,
        README.md:400-418)."""
        cand = self.file_paths(predicates=predicates)
        if not cand:
            return self.current_version()
        cond = F.expr(condition)

        def assign(old: DataFrame) -> DataFrame:
            cols = [
                F.when(cond, F.expr(assignments[f.name]).cast(f.dataType))
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in self.schema.fields
            ]
            if "_row_id" in old.columns:
                cols.append(F.col("_row_id"))  # updated rows keep their lineage id
            return old.select(*cols)

        return self._rewrite_hit_files(
            spark, cand, condition, assign,
            operation="update",
            # SET on a non-key column keeps one-row-per-key intact; an
            # assignment targeting a key column may collide with rows in
            # untouched files, so only then is the flag dropped
            preserves_key_uniqueness=not (set(assignments) & set(self.keys or [])),
        )

    def _rewrite_hit_files(
        self, spark: SparkSession, cand: list[str], condition: str,
        transform, **commit_kw,
    ) -> int:
        """The copy-on-write tail of ``delete_where`` and
        ``update_where``: one distinct-file probe finds the files of
        ``cand`` holding a live row matching ``condition``; only those
        are rewritten through ``transform`` by ``_rewrite_files``. No
        hit commits nothing."""
        df = self.read_files(spark, cand, with_file_path=True)
        files = self._file_map(df, self.manifest())
        hit_rel = {
            files[r["_file"]]["path"]
            for r in df.filter(condition).select("_file").distinct().collect()
        }
        if not hit_rel:
            return self.current_version()
        return self._rewrite_files(spark, sorted(hit_rel), transform, **commit_kw)

    def _rewrite_files(
        self, spark: SparkSession, rel_paths: list[str], transform,
        extra_bytes: int = 0, extra_rows: int | None = 0,
        sort_by: list[str] | None = None, **commit_kw,
    ) -> int:
        """The one copy-on-write rewrite (Iceberg's RewriteFiles): the
        live rows of the data files ``rel_paths`` (delete-aware, row
        lineage carried) pass through ``transform`` and are written by
        ``_write_files`` in one commit that removes those files. The
        write is sized by the files' manifest bytes plus
        ``extra_bytes`` and bounded by their manifest rows plus
        ``extra_rows`` (None: no bound), which is what a transform that
        adds rows (a MERGE's inserts) declares. MERGE, copy-on-write
        UPDATE/DELETE, compaction, z-order and the delete-file fold
        all end here."""
        n_bytes, n_rows = self._manifest_volume(rel_paths)
        old = self.read_files(
            spark,
            [os.path.join(self.root, p) for p in rel_paths],
            with_row_ids=self.row_lineage,
        )
        added = self._write_files(
            transform(old),
            sort_by=sort_by,
            size_hint_bytes=n_bytes + extra_bytes,
            max_rows=None if extra_rows is None else n_rows + extra_rows,
        )
        return self.commit(added, removed_paths=rel_paths, **commit_kw)

    # ------------------------------------------------------------------
    # schema evolution (Iceberg-parity: add-column is a metadata-only op)
    # ------------------------------------------------------------------
    def add_column(self, name: str, dtype: T.DataType, default=None) -> int:
        """ALTER TABLE ADD COLUMN — metadata-only commit. Existing data
        files lack the column; the explicit-schema parquet read fills it
        with NULLs (exactly Iceberg's add-column semantics: no rewrite).

        ``default`` (Iceberg v3 initial-default parity): files written
        BEFORE this commit read ``default`` for the column instead of
        NULL — still metadata-only, no rewrite. Files written after the
        commit store the column physically (including explicit NULLs,
        which stay NULL). Pre/post is decided by each file's stamped
        ``schema_v`` vs this commit's, so a later compaction that
        materializes the default keeps the semantics stable. Scalar
        JSON-safe values only (int/float/str/bool; date/timestamp as
        ISO strings — the scan casts to the column type)."""
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur["schema"]))
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column {name} already exists")
        # rename_column's invariant: physical names stay unambiguous
        # FOREVER (this format has no Iceberg field ids). Re-adding a
        # former physical name would make old files' bytes bleed into
        # the new column through both rename-chain resolvers (the Spark
        # scan's shadow-coalesce and the pyarrow ``_file_batches`` of the
        # driver MERGE and the stream source) instead of reading the
        # declared default/NULL.
        for cur_name, formers in cur.get("renames", {}).items():
            if name in formers:
                raise ValueError(
                    f"column name {name!r} was previously renamed to "
                    f"{cur_name!r}; old data files still carry bytes "
                    "under it — pick a fresh name"
                )
        new_schema = T.StructType(list(schema.fields) + [T.StructField(name, dtype, True)])
        updates: dict | None = None
        if default is not None:
            if not isinstance(default, (int, float, str, bool)):
                raise ValueError(
                    "initial default must be a JSON-safe scalar "
                    "(int/float/str/bool; date/timestamp as ISO string), "
                    f"got {type(default).__name__}"
                )
            updates = {
                "defaults": {
                    **cur.get("defaults", {}),
                    # v = the schema_v _metadata_commit will stamp (same
                    # formula): files with schema_v < v predate the column
                    name: {"v": cur.get("schema_v", 0) + 1, "value": default},
                }
            }
        return self._metadata_commit(
            cur, new_schema, {"operation": "add-column", "column": name}, updates
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only commit (Iceberg
        semantics: no rewrite). Data files keep the column bytes on disk,
        but every read projects to the manifest schema, so the parquet
        scanner prunes the dropped column at the reader; the bytes are
        physically dropped whenever a copy-on-write rewrite or compaction
        next touches the file."""
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur["schema"]))
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        if name in cur.get("keys", []) or name in cur.get("cluster_by", []):
            raise ValueError(f"cannot drop key/cluster column: {name}")
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        updates = None
        if name in cur.get("defaults", {}):
            updates = {
                "defaults": {
                    k: v for k, v in cur["defaults"].items() if k != name
                }
            }
        return self._metadata_commit(
            cur, new_schema, {"operation": "drop-column", "column": name}, updates
        )

    # Iceberg-compatible widening promotions (ALTER COLUMN ... TYPE):
    # value-preserving, metadata-only. Spark 4's parquet readers promote
    # narrower physical types natively (SPARK-40876), so old files need
    # no shadow mechanics — just the widened read schema.
    _WIDENINGS = frozenset(
        {
            ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
            ("smallint", "int"), ("smallint", "bigint"),
            ("int", "bigint"),
            ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
            ("float", "double"),
            ("decimal", "decimal"),  # precision increase checked below
        }
    )

    def widen_column(self, name: str, new_type: T.DataType) -> int:
        """ALTER TABLE ALTER COLUMN type widening — metadata-only commit
        (Iceberg type-promotion semantics: int->long, float->double,
        decimal precision increase). Old files keep the narrow physical
        type; the parquet reader promotes it at scan time. Manifest
        min/max stats stay valid (JSON numbers compare numerically) and
        key blooms stay valid through integral-value canonicalization in
        ``_bloom_hashes``."""
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur["schema"]))
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: {name}")
        old_s, new_s = field.dataType.simpleString(), new_type.simpleString()
        base = (old_s.split("(")[0], new_s.split("(")[0])
        if base not in self._WIDENINGS:
            raise ValueError(
                f"not a widening promotion: {old_s} -> {new_s} "
                "(allowed: int->bigint, float->double, decimal precision up, ...)"
            )
        if base == ("decimal", "decimal"):
            op, os_ = field.dataType, new_type
            if not (
                isinstance(op, T.DecimalType)
                and isinstance(os_, T.DecimalType)
                and os_.scale == op.scale
                and os_.precision >= op.precision
            ):
                raise ValueError(
                    f"decimal widening requires same scale, >= precision: "
                    f"{old_s} -> {new_s}"
                )
        new_schema = T.StructType(
            [
                T.StructField(name, new_type, f.nullable) if f.name == name else f
                for f in schema.fields
            ]
        )
        return self._metadata_commit(
            cur,
            new_schema,
            {"operation": "widen-column", "column": name, "from": old_s, "to": new_s},
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only commit (Iceberg
        semantics: no rewrite). Data files written before the rename keep
        the former physical name; the manifest records the rename chain
        (``renames``: current name -> former physical names) and every
        scan resolves it with typed shadow columns + coalesce (see
        ``_scan``), while stats/bloom pruning re-keys per file (see
        ``_stats_under_current_names``). Key and cluster columns rename
        along with their lists.

        Guards (this format has no Iceberg field ids, so physical names
        must stay unambiguous forever):
        - ``new`` must not collide with any live column;
        - ``new`` must never have been used by ANY ancestor schema or a
          prior rename (a dropped column's bytes still sit in old files
          and would bleed into the coalesce);
        - the column must not be referenced by pending equality-delete
          files (their stored key tuples are bound to the old name).
        """
        cur = self.manifest()
        schema = T.StructType.fromJson(json.loads(cur["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        renames = {k: list(v) for k, v in cur.get("renames", {}).items()}
        # sweep every LIVE snapshot (not the head's parent chain): the
        # chain walk crashed on the first EXPIRED ancestor after
        # expire_snapshots, bricking rename forever (review round 10).
        # Live manifests suffice — a file can only be referenced by a
        # live manifest, and that manifest's schema + rename chain
        # records every physical name its files may carry; the sweep
        # also covers branch/rolled-back lineages the chain missed.
        used_physical = set()
        snap_dir = os.path.join(self.root, _SNAPSHOT_DIR)
        for fname in os.listdir(snap_dir):
            if not _is_manifest_name(fname):
                continue
            anc = _load_manifest_cached(os.path.join(snap_dir, fname))
            if anc is None or anc is _MANIFEST_MISSING:
                continue
            anc_schema = T.StructType.fromJson(json.loads(anc["schema"]))
            used_physical.update(f.name for f in anc_schema.fields)
            for formers in anc.get("renames", {}).values():
                used_physical.update(formers)
        if new in used_physical:
            raise ValueError(
                f"cannot rename to {new!r}: the name was used by an earlier "
                "schema and old data files may still carry its bytes"
            )
        for d in cur.get("delete_files", []):
            if d.get("kind") == "equality" and old in d.get(
                "eq_cols", cur.get("keys", [])
            ):
                raise ValueError(
                    f"cannot rename {old!r}: pending equality-delete files "
                    "reference it; run rewrite_delete_files first"
                )
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in schema.fields
            ]
        )
        renames[new] = renames.pop(old, []) + [old]
        updates = {
            "renames": renames,
            "keys": [new if k == old else k for k in cur.get("keys", [])],
            "cluster_by": [new if c == old else c for c in cur.get("cluster_by", [])],
        }
        if old in cur.get("defaults", {}):
            updates["defaults"] = {
                (new if k == old else k): v for k, v in cur["defaults"].items()
            }
        return self._metadata_commit(
            cur,
            new_schema,
            {"operation": "rename-column", "from": old, "to": new},
            manifest_updates=updates,
        )

    def version_as_of_timestamp(self, ts: str) -> int:
        """Iceberg ``TIMESTAMP AS OF``: the newest snapshot on the
        CURRENT lineage committed at or before ``ts`` (ISO-8601 string;
        manifest ``created`` stamps are UTC ISO-8601, so lexicographic
        comparison is chronological). Driver-side metadata walk."""
        best: int | None = None
        v: int | None = self.current_version()
        lineage: dict[int, int | None] | None = None
        created: dict[int, str | None] = {}
        crossed_expired = False
        while v is not None:
            try:
                m = self.manifest(v)
            except SnapshotNotFound:
                # EXPIRED intermediate: descend through the lineage
                # tombstones (same fallback meta_history/is_ancestor
                # use) — a LIVE tag-pinned older ancestor below the
                # expired stretch can still satisfy the timestamp
                # (review round 12) — but ONLY while the expired
                # snapshot's recorded created stamp is strictly after
                # ``ts``. If it is at-or-before (or unrecorded, for
                # pre-round-12 tombstones), the TRUE as-of state was
                # expired, and silently returning a deeper (older)
                # ancestor would serve a state missing committed rows —
                # raise the remedial error instead.
                if lineage is None:
                    lineage = self._lineage_map()
                    created = self._lineage_created()
                if v in lineage:
                    stamp = created.get(v)
                    if stamp is None or stamp <= ts:
                        raise SnapshotNotFound(
                            f"the snapshot as of {ts} on the current "
                            f"lineage (v{v}) was removed by "
                            "expire_snapshots — an older live ancestor "
                            "would silently miss its rows; raise the "
                            "expiry retention or read a live version"
                        ) from None
                    crossed_expired = True
                    v = lineage[v]
                    continue
                raise SnapshotNotFound(
                    f"no readable snapshot at or before {ts} on the "
                    f"current lineage: history at and below v{v} was "
                    "removed by expire_snapshots"
                ) from None
            if m.get("created", "") <= ts:
                best = v
                break  # ancestry is chronological: first hit is newest
            v = m["parent"]
        if best is None:
            raise SnapshotNotFound(
                f"no snapshot at or before {ts} on the current lineage"
                + (
                    " (older history was removed by expire_snapshots)"
                    if crossed_expired
                    else ""
                )
            )
        return best

    def set_cluster_by(self, cols: list[str]) -> int:
        """Partition-spec evolution (Iceberg ``ALTER TABLE ... WRITE
        ORDERED BY`` / partition evolution): change the clustering layout
        for FUTURE writes in a metadata-only commit. Existing files are
        not rewritten — their manifest stats still prune under the old
        layout, exactly like Iceberg tables carrying data in several
        partition specs; a later compact()/zorder_by() converges old
        files onto the new layout."""
        # read-to-swap under the commit lock: this manifest copies the
        # head's file list, so an unlocked racing data commit would be
        # silently dropped (round-9 lost-update class)
        with self._commit_lock():
            cur = self.manifest()
            schema = T.StructType.fromJson(json.loads(cur["schema"]))
            for c in cols:
                if c not in schema.fieldNames():
                    raise ValueError(f"no such column: {c}")
            return self._metadata_commit_locked(
                cur, schema,
                {"operation": "set-cluster-by", "cluster_by": ",".join(cols)},
                {"cluster_by": list(cols)},
            )

    def _metadata_commit(
        self,
        cur: dict,
        new_schema: T.StructType,
        summary: dict,
        manifest_updates: dict | None = None,
    ) -> int:
        """Metadata-only DDL commit: same files, new schema. Carries the
        streaming watermark and keeps total_rows delete-aware (a
        metadata-only DDL between stream batches must not erase the
        exactly-once guard or distort the row count).
        ``manifest_updates`` lets rename_column update keys/cluster_by/
        renames, and set_cluster_by the layout, in the same atomic
        commit.

        Runs under the commit lock with a parent-freshness check: the
        caller derived ``cur`` (and the new schema) from an UNLOCKED
        head read, so a data commit landing in between would otherwise
        be silently dropped — this manifest copies ``cur``'s file list
        (the same lost-update class the data path closed in round 9).
        A stale base raises CommitConflict (fail loudly; DDL is cheap
        to re-issue) rather than guessing at a merge."""
        with self._commit_lock():
            return self._metadata_commit_locked(
                cur, new_schema, summary, manifest_updates
            )

    def _metadata_commit_locked(
        self,
        cur: dict,
        new_schema: T.StructType,
        summary: dict,
        manifest_updates: dict | None = None,
    ) -> int:
        head = self.current_version()
        if head != cur["version"]:
            raise CommitConflict(
                f"concurrent commit v{head} landed while this DDL was "
                f"derived from v{cur['version']}; re-read and retry"
            )
        version = self._next_version()
        manifest = {
            **cur,
            **(manifest_updates or {}),
            "version": version,
            "parent": cur["version"],
            "schema": new_schema.json(),
            # monotone schema-evolution counter: data files are stamped
            # with the schema_v they were written under, which is how
            # initial-default columns know which files predate them
            # (Iceberg v3 initial-default via field presence; here via
            # the write-time schema generation)
            "schema_v": cur.get("schema_v", 0) + 1,
            "summary": {
                **summary,
                "total_rows": _live_rows(
                    cur["files"], cur.get("delete_files", [])
                ),
                # schema evolution is row-preserving and key columns
                # cannot be dropped, so keys_unique survives too
                **_carried_summary(cur.get("summary", {}), True),
            },
            "created": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        self._write_manifest(manifest)
        self._swap_pointer(version)
        return version

    # ------------------------------------------------------------------
    # named refs: tags (immutable) + branches (movable) — Iceberg
    # SnapshotRef parity; branches enable write-audit-publish staging
    # (reference contract: Iceberg table_type, README.md:292-309)
    # ------------------------------------------------------------------
    def _ref_file(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid ref name: {name!r}")
        return os.path.join(self.root, _REFS_DIR, f"{name}.json")

    def refs(self) -> dict[str, dict]:
        """All named refs: ``{name: {"type": "tag"|"branch", "version": N}}``."""
        d = os.path.join(self.root, _REFS_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, dict] = {}
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".json"):
                continue  # in-flight .tmp.* from the write-then-link path
            r = _load_manifest_or_none(os.path.join(d, fname))
            if r is None:
                # pre-fix torn ref (creation now links atomically);
                # defensive: a wedged refs() breaks expiry's pinned set
                continue
            out[fname[:-5]] = r
        return out

    def _create_ref(self, name: str, kind: str, version: int | None) -> int:
        # under the commit lock: expire_snapshots computes its pinned
        # ref set and removes manifests while holding it, so an
        # unlocked create could pass the existence check, lose the
        # race, and leave a ref permanently dangling at a reaped
        # snapshot (review round 12)
        with self._commit_lock():
            return self._create_ref_locked(name, kind, version)

    def _create_ref_locked(self, name: str, kind: str, version: int | None) -> int:
        v = self.current_version() if version is None else version
        self.manifest(v)  # must exist
        os.makedirs(os.path.join(self.root, _REFS_DIR), exist_ok=True)
        # write-then-link: `open(p, "x") + json.dump` could crash
        # mid-dump and leave a TORN ref file — unlike a torn manifest
        # (never the committed head, skippable), a ref file IS its own
        # pointer, so it must appear fully-written or not at all.
        # os.link is atomic AND fails on an existing target, preserving
        # the born-once exclusivity (tags stay immutable).
        tmp = f"{self._ref_file(name)}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"type": kind, "version": v}, f)
        try:
            os.link(tmp, self._ref_file(name))
        except FileExistsError as e:
            raise CommitConflict(f"ref {name!r} already exists") from e
        finally:
            os.unlink(tmp)
        return v

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default current) under an immutable name.
        Tagged snapshots are protected from expiry (see expire_snapshots)."""
        return self._create_ref(name, "tag", version)

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Create a movable branch ref at ``version`` (default current)."""
        return self._create_ref(name, "branch", version)

    def drop_ref(self, name: str) -> None:
        p = self._ref_file(name)
        if not os.path.exists(p):
            raise SnapshotNotFound(f"no such ref: {name}")
        os.remove(p)

    def resolve_ref(self, name: str) -> int:
        p = self._ref_file(name)
        if not os.path.exists(p):
            raise SnapshotNotFound(f"no such ref: {name}")
        # tolerate a torn legacy ref file the same way refs() does —
        # SnapshotNotFound with a remedy, not a raw JSONDecodeError
        # (creation is write-then-link now, so only pre-fix artifacts
        # or external copies can be torn; review round 12)
        r = _load_manifest_or_none(p)
        if r is None:
            raise SnapshotNotFound(
                f"ref {name!r} is torn (crashed pre-atomic-creation "
                "write) — drop_ref() it and recreate"
            )
        return int(r["version"])

    def branch(self, name: str) -> "LakeTable":
        """A writable handle on a branch: every append/MERGE/DML through
        it advances ``refs/<name>.json`` while the main pointer (and
        every concurrent reader of the table) is untouched. This is the
        staging half of write-audit-publish; fast_forward() publishes."""
        r = self.refs().get(name)
        if r is None:
            raise SnapshotNotFound(f"no such ref: {name}")
        if r["type"] != "branch":
            raise ValueError(f"ref {name!r} is a tag (immutable); cannot write")
        return LakeTable(self.root, pointer=os.path.join(_REFS_DIR, f"{name}.json"))

    def _lineage_raw(self) -> dict[int, object]:
        p = os.path.join(self.root, _LINEAGE_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            raw = json.load(f)
        return {int(k): v for k, v in raw.items()}

    def _lineage_map(self) -> dict[int, int | None]:
        """Tombstone lineage of EXPIRED snapshots: version -> parent,
        recorded by expire_snapshots before it removes a manifest (the
        snapshot-log survivor Iceberg keeps in table metadata). A few
        bytes per expired snapshot, never expired itself — ancestry
        stays answerable across the whole table history. Since round 12
        each entry also carries the dropped snapshot's ``created`` stamp
        ({"p": parent, "c": created}); legacy entries are bare parents."""
        return {
            k: (v["p"] if isinstance(v, dict) else v)
            for k, v in self._lineage_raw().items()
        }

    def _lineage_created(self) -> dict[int, str | None]:
        """created stamps of EXPIRED snapshots (None for pre-round-12
        tombstones that recorded only the parent edge)."""
        return {
            k: (v.get("c") if isinstance(v, dict) else None)
            for k, v in self._lineage_raw().items()
        }

    def is_ancestor(self, anc: int, desc: int) -> bool:
        """True iff ``anc`` is on ``desc``'s parent chain (or equal).
        Driver-side metadata walk — O(history), no data touched. Walks
        live manifests first; an EXPIRED intermediate (its manifest
        reaped, but lineage tombstoned by expiry) resolves through
        _lineage_map, so rollback to a tag-pinned ancestor keeps
        working after the snapshots between head and tag are expired."""
        lineage: dict[int, int | None] | None = None
        v: int | None = desc
        while v is not None:
            if v == anc:
                return True
            try:
                v = self.manifest(v)["parent"]
            except SnapshotNotFound:
                if lineage is None:
                    lineage = self._lineage_map()
                if v not in lineage:
                    return False  # genuinely unknown (pre-tombstone expiry)
                v = lineage[v]
        return False

    def cherry_pick(self, version: int) -> int:
        """Iceberg ``cherrypick_snapshot``: re-apply ONE commit's delta
        (files added, files removed, delete files added) on top of the
        CURRENT head — the publish path for a write-audit-publish branch
        whose base has since advanced, where ``fast_forward`` refuses.

        Safe by construction for append-shaped commits (nothing
        removed). A commit that removed data files or whose delete
        files reference data files conflicts unless those files are
        still live at head (Iceberg's cherry-pick raises for
        non-append snapshots in the same situations); the normal
        commit-time ``DanglingDeleteRefs`` validation enforces the
        delete-file half.

        Row lineage: fresh ids are re-drawn from the head counter for
        the picked files, but a file REWRITTEN on the branch carries
        physically-materialized ids drawn from the branch's counter,
        which may overlap ids the head allocated after the divergence
        point. That is ENFORCED below, not just documented: on
        lineage-enabled tables, any picked file whose parquet footer
        shows a physical ``_row_id`` column raises CommitConflict —
        cherry-pick plain appends (the WAP staging shape), not
        post-rewrite branch states (r6 ADVICE)."""
        m = self.manifest(version)
        parent = self.manifest(m["parent"])
        parent_files = {f["path"] for f in parent["files"]}
        cur_files = {f["path"] for f in m["files"]}
        added = [f for f in m["files"] if f["path"] not in parent_files]
        removed = sorted(parent_files - cur_files)
        head = self.manifest()
        head_files = {f["path"] for f in head["files"]}
        if any(f["path"] in head_files for f in added):
            raise CommitConflict(
                f"cherry-pick of v{version}: its files are already present "
                "at head (picked twice, or published via fast_forward)"
            )
        missing = [p for p in removed if p not in head_files]
        if missing:
            raise CommitConflict(
                f"cherry-pick of v{version}: it removed files that are no "
                f"longer live at head: {missing[:3]}"
            )
        parent_dels = {d["path"] for d in parent.get("delete_files", [])}
        added_dels = [
            dict(d)
            for d in m.get("delete_files", [])
            if d["path"] not in parent_dels
        ]
        # an equality delete re-stamped to the publish point would also
        # apply to rows the head inserted AFTER the branch diverged —
        # write skew the original commit never expressed. Position
        # deletes are safe: they target exact (file, pos) refs that are
        # validated live above.
        if any(d.get("kind") == "equality" for d in added_dels):
            raise CommitConflict(
                f"cherry-pick of v{version}: it adds equality-delete "
                "files, which cannot be re-sequenced onto a moved head "
                "without write skew; re-issue the delete against head"
            )
        if self.row_lineage:
            # footer-only reads, metadata scale (one per picked file):
            # a physical _row_id column means the file was rewritten on
            # the branch with ids from the BRANCH counter — re-drawing
            # first_row_id at head cannot retract ids already baked
            # into the data, so duplicates would silently enter
            import pyarrow.parquet as _pq

            tainted = [
                f["path"]
                for f in added
                if "_row_id"
                in _pq.read_schema(os.path.join(self.root, f["path"])).names
            ]
            if tainted:
                raise CommitConflict(
                    f"cherry-pick of v{version}: picked file(s) carry "
                    f"physically-materialized _row_id columns from the "
                    f"branch's counter ({tainted[:3]}); publishing them "
                    "onto a moved head can duplicate row ids. Re-append "
                    "the rows at head instead."
                )
        # strip the original seq: commit() re-stamps added files and
        # delete files with the NEW version so equality-delete ordering
        # stays consistent at the publish point
        added = [dict(f) for f in added]
        for f in added:
            f.pop("seq", None)
            f.pop("first_row_id", None)  # re-drawn from the head counter
        for d in added_dels:
            d.pop("seq", None)
        return self.commit(
            added,
            removed_paths=removed,
            operation="cherry-pick",
            added_deletes=added_dels or None,
            extra_summary={"cherry_picked_version": version},
        )

    def fast_forward(self, name: str) -> int:
        """Publish a branch: move THIS handle's pointer to the branch
        head, iff the head is a descendant of the handle's current
        version (Iceberg ``fast_forward``). The audited branch state
        becomes visible to readers in one atomic pointer swap; diverged
        branches are refused rather than silently merged."""
        # check-to-swap under the commit lock: a data commit landing
        # between the ancestry check and the pointer swap would be
        # silently discarded by the swap (round-9 lost-update class)
        with self._commit_lock():
            target = self.resolve_ref(name)
            cur = self.current_version()
            if not self.is_ancestor(cur, target):
                raise CommitConflict(
                    f"cannot fast-forward: v{cur} is not an ancestor of {name}@v{target}"
                )
            self._swap_pointer(target)
            return target

    def rollback_to(self, version: int) -> int:
        """Iceberg ``rollback_to_snapshot``: atomically move the current
        pointer back to an ancestor snapshot. No manifest is written and
        nothing is deleted — later snapshots stay readable by version
        until expiry; the next commit parents off the restored snapshot
        (the snapshot graph becomes a DAG, see _next_version)."""
        # same lock discipline as fast_forward: rollback is an
        # EXPLICIT pointer move, but a commit racing the ancestry check
        # deserves a conflict, not silent burial under the rollback
        with self._commit_lock():
            cur = self.current_version()
            if not self.is_ancestor(version, cur):
                raise SnapshotNotFound(
                    f"v{version} is not an ancestor of current v{cur}"
                )
            # ancestry alone is not enough: the lineage tombstones
            # deliberately answer is_ancestor across EXPIRED history, so
            # rolling back to a reaped version would swap the pointer to
            # a manifest that no longer exists — bricking the head until
            # manual pointer surgery (review round 12). The manifest
            # read names expiry in its remedial error.
            self.manifest(version)
            self._swap_pointer(version)
            return version

    # ------------------------------------------------------------------
    # maintenance (see also plans/maintenance.py)
    # ------------------------------------------------------------------
    def referenced_files(self) -> set[str]:
        d = os.path.join(self.root, _SNAPSHOT_DIR)
        refs: set[str] = set()
        for name in os.listdir(d):
            if not _is_manifest_name(name):  # in-flight .tmp / stray file
                continue
            m = _load_manifest_cached(os.path.join(d, name))
            if m is None or m is _MANIFEST_MISSING:
                # a torn manifest's data files were never committed —
                # correctly orphans, eligible for the sweep
                continue
            refs.update(fm["path"] for fm in m["files"])
            refs.update(fm["path"] for fm in m.get("delete_files", []))
        return refs

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
