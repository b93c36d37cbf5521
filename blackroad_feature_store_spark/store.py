"""The feature store: registry control plane + append-only data plane.

Re-expresses the full public API of the reference engine
(``feature_store.py:142-516``, surveyed in SURVEY.md §2.12) on Spark:

* ``features`` / ``feature_groups`` — small parquet-backed registry
  tables. Metadata is kilobytes even with millions of features, so
  registry *writes* go through pyarrow directly (no Spark job per
  register call — the control plane must be cheap), while registry
  *reads* are exposed as Spark DataFrames (``features_df`` /
  ``groups_df``) that get broadcast into data-plane joins.
* ``entity_records`` — the append-only, timestamped snapshot log
  (reference ``feature_store.py:178-186``), a parquet table partitioned
  by ``group_id`` so every read prunes to one partition directory. At
  100 TB you would additionally partition by a date derived from the
  snapshot timestamp (not enabled here: the testdata scale doesn't
  warrant it and it would complicate the fixed RECORDS_SCHEMA reads).
  ``feature_values`` is a ``map<string,string>`` with each value
  JSON-encoded, preserving the reference's open-schema "store anything
  JSON-serializable" semantics (feature_store.py:322-370) while staying
  a single typed column (no per-read JSON blob parse — the map is
  parsed once at ingest).

Query semantics preserved bit-for-bit from the reference (see tests):

* as-of reads are **snapshot-wins** — the single latest record's dict
  verbatim, never a per-key coalesce across records
  (feature_store.py:391-409; SURVEY.md §2.3).
* point-in-time join: left spine, input order preserved, later group
  overwrites earlier on feature-name collision, ``setdefault``-style
  null-fill (feature_store.py:411-448).
* statistics: ``count`` includes non-numeric values; ``mean/min/max``
  over the numeric subset only, with booleans participating as 0/1
  (Python ``isinstance(True, int)``); ``mean`` rounded to 6 places;
  ``null_count`` counts absent keys too (feature_store.py:450-508).
* soft-delete asymmetry: ``list_features`` filters ``is_active``,
  ``get_feature`` does not (feature_store.py:243-261, SURVEY.md P5).
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import json
import logging
import math
import os
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Iterable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blackroad_feature_store_spark.errors import (
    ConstraintViolationError,
    GroupExistsError,
    InvalidDtypeError,
    UnknownFeatureError,
    UnknownGroupError,
)
from blackroad_feature_store_spark.operators.asof import latest_as_of_arrow
from blackroad_feature_store_spark.operators.stats import feature_statistics
from blackroad_feature_store_spark.streaming.fsio import (
    read_json,
    write_json_atomic,
)
from blackroad_feature_store_spark.versioning import CommitLog

# Declared dtypes (reference feature_store.py:25-31).
DTYPE_INT = "int"
DTYPE_FLOAT = "float"
DTYPE_STR = "str"
DTYPE_BOOL = "bool"
DTYPE_LIST = "list"
DTYPES = {DTYPE_INT, DTYPE_FLOAT, DTYPE_STR, DTYPE_BOOL, DTYPE_LIST}

# Group frequencies (reference feature_store.py:33-34).
FREQ_BATCH = "batch"
FREQ_STREAMING = "streaming"

logger = logging.getLogger("blackroad_feature_store_spark")


def _utcnow() -> datetime:
    # The reference stores naive datetime.utcnow() ISO strings
    # (feature_store.py:351); we keep naive-UTC datetimes and a UTC
    # session timezone so values round-trip identically.
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _coerce_ts(ts: datetime | str | None) -> Optional[datetime]:
    if ts is None:
        return None
    if isinstance(ts, str):
        return datetime.fromisoformat(ts)
    return ts


def _naive_utc(ts: Optional[datetime]) -> Optional[datetime]:
    """The store's timestamp contract is naive UTC (``_utcnow``): an
    aware value is converted to UTC and its zone dropped."""
    if ts is None or ts.tzinfo is None:
        return ts
    return ts.astimezone(timezone.utc).replace(tzinfo=None)


def encode_value(v: Any) -> str:
    """JSON-encode one feature value (the map-cell canonical form)."""
    return json.dumps(v, separators=(",", ":"), sort_keys=True)


def decode_value(s: Optional[str]) -> Any:
    return None if s is None else json.loads(s)


@dataclass
class Feature:
    """Feature definition — metadata only (reference feature_store.py:37-67)."""

    name: str
    entity_type: str
    dtype: str
    description: str = ""
    tags: list[str] = field(default_factory=list)
    source_query: str = ""
    id: str = field(default_factory=lambda: str(uuid.uuid4()))
    created_at: datetime = field(default_factory=_utcnow)
    is_active: bool = True

    def to_dict(self) -> dict[str, Any]:
        d = self.__dict__.copy()
        d["created_at"] = self.created_at.isoformat()
        return d


@dataclass
class FeatureGroup:
    """Versioned feature group (reference feature_store.py:70-96)."""

    name: str
    features: list[str]
    entity_key: str
    frequency: str = FREQ_BATCH
    version: int = 1
    id: str = field(default_factory=lambda: str(uuid.uuid4()))
    created_at: datetime = field(default_factory=_utcnow)

    def to_dict(self) -> dict[str, Any]:
        d = self.__dict__.copy()
        d["created_at"] = self.created_at.isoformat()
        return d


@dataclass
class EntityRecord:
    """One append-only snapshot (reference feature_store.py:99-123)."""

    group_id: str
    entity_id: str
    feature_values: dict[str, Any]
    timestamp: datetime
    version: int = 1
    id: str = field(default_factory=lambda: str(uuid.uuid4()))


_FEATURES_PA_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("name", pa.string()),
        ("entity_type", pa.string()),
        ("dtype", pa.string()),
        ("description", pa.string()),
        ("tags", pa.list_(pa.string())),
        ("source_query", pa.string()),
        ("created_at", pa.timestamp("us")),
        ("is_active", pa.bool_()),
    ]
)

_GROUPS_PA_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("name", pa.string()),
        ("features", pa.list_(pa.string())),
        ("entity_key", pa.string()),
        ("frequency", pa.string()),
        ("version", pa.int32()),
        ("created_at", pa.timestamp("us")),
    ]
)

# Arrow twin of RECORDS_SCHEMA: appends build a pa.Table against it and
# write each group's rows straight to parquet, without ``group_id`` (the
# partition directory carries it; see _append_records). ``timestamp`` is
# UTC-adjusted, so the file holds TIMESTAMP_MICROS with
# isAdjustedToUTC=true — Spark reads it as TimestampType — and its
# footer carries the min/max stats the manifest entry takes.
_RECORDS_PA_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("group_id", pa.string()),
        ("entity_id", pa.string()),
        ("feature_values", pa.map_(pa.string(), pa.string())),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("version", pa.int32()),
    ]
)

# What a data file holds: the record columns minus ``group_id``.
_RECORDS_FILE_SCHEMA = _RECORDS_PA_SCHEMA.remove(
    _RECORDS_PA_SCHEMA.get_field_index("group_id")
)

# pyarrow's default maximum row-group length (ParquetWriter.write_table).
_ROW_GROUP_ROWS = 1024 * 1024

RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("group_id", T.StringType()),
        T.StructField("entity_id", T.StringType()),
        T.StructField("feature_values", T.MapType(T.StringType(), T.StringType())),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("version", T.IntegerType()),
    ]
)


def _file_stats(
    path: str,
) -> tuple[Optional[int], Optional[str], Optional[str]]:
    """The footer row count of one parquet file and the min/max of its
    ``timestamp`` column, as ISO strings (a min/max is None when
    indeterminable — empty file, stats absent for the physical type;
    all three are None when the footer is unreadable). Footer
    statistics first (metadata-only read); falls back to scanning just
    the timestamp column, which is a single narrow column of the file.
    Spark writes ``timestamp`` as INT96, which has no footer stats; it
    is decoded at microsecond precision, since nanoseconds overflow
    outside 1677–2262."""
    try:
        pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        md = pf.metadata
        idx = next(
            (
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == "timestamp"
            ),
            None,
        )
        if idx is None or md.num_rows == 0:
            return md.num_rows, None, None
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:  # stats absent (e.g. INT96): read the one column
            col = pf.read(columns=["timestamp"])["timestamp"]
            if col.null_count == len(col):
                return md.num_rows, None, None
            mm = pc.min_max(col).as_py()
            mins, maxs = [mm["min"]], [mm["max"]]

        def _norm(dt):
            # Stats may come back tz-aware (parquet TIMESTAMP is
            # adjusted-to-UTC); the store's cutoffs are naive UTC.
            if dt.tzinfo is not None:
                dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
            return dt.isoformat()

        return md.num_rows, _norm(min(mins)), _norm(max(maxs))
    except Exception:
        # Stats are an optimization: an unreadable footer must never
        # fail a write, it just makes this file unskippable.
        return None, None, None


_SERVING_COLUMNS = ["id", "entity_id", "timestamp", "feature_values"]


def _read_serving_rows(path: str, want: list[str]) -> pa.Table:
    """The columns a serving read needs from the row groups of ``path``
    whose footer ``entity_id`` min/max can hold one of ``want``
    (sorted); a row group without usable stats is read. Row-level
    filtering is the caller's. Spark writes ``timestamp`` as INT96,
    decoded at microsecond precision (nanoseconds overflow outside
    1677–2262)."""
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        md = pf.metadata
        idx = next(
            i
            for i in range(md.num_columns)
            if md.schema.column(i).path == "entity_id"
        )
        groups = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                lo, hi = st.min, st.max
                if isinstance(lo, str) and isinstance(hi, str):
                    j = bisect.bisect_left(want, lo)
                    if j == len(want) or want[j] > hi:
                        continue
            groups.append(rg)
        return pf.read_row_groups(groups, columns=_SERVING_COLUMNS)


def _file_batches(paths: Iterable[str]) -> Iterable[pa.RecordBatch]:
    """The rows of the data files ``paths``, file by file, in
    :data:`_RECORDS_FILE_SCHEMA` as Spark's ``.schema(RECORDS_SCHEMA)``
    read sees them: each column cast to its declared type (INT96
    decoded at microsecond precision, any timestamp unit to micros), a
    missing column as NULLs, any other column (a data-file
    ``group_id``) dropped."""
    for path in paths:
        with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
            for b in pf.iter_batches():
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(f.name).cast(f.type)
                        if f.name in b.schema.names
                        else pa.nulls(b.num_rows, f.type)
                        for f in _RECORDS_FILE_SCHEMA
                    ],
                    schema=_RECORDS_FILE_SCHEMA,
                )


def _row_groups(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.Table]:
    """Re-cut ``batches`` into tables of :data:`_ROW_GROUP_ROWS` rows
    (the last one shorter), so tiny inputs still make full row groups;
    at most one table's rows plus one batch are held at a time."""
    buf: list[pa.RecordBatch] = []
    n = 0
    for b in batches:
        buf.append(b)
        n += b.num_rows
        while n >= _ROW_GROUP_ROWS:
            t = pa.Table.from_batches(buf, _RECORDS_FILE_SCHEMA)
            yield t.slice(0, _ROW_GROUP_ROWS)
            rest = t.slice(_ROW_GROUP_ROWS)
            buf, n = rest.to_batches(), rest.num_rows
    if n:
        yield pa.Table.from_batches(buf, _RECORDS_FILE_SCHEMA)


# --- per-file entity-id bloom index (Delta bloom-filter-index analogue) ---
#
# A point lookup (get_features / records_df(entity_id=...)) on a 100 TB
# table must not open every file of the entity's group partition: min/max
# ts stats don't help an equality predicate on a high-cardinality id. The
# write path therefore records a small bloom filter over each file's
# distinct entity_ids in its manifest add-entry; the read path drops any
# file whose bloom proves the id absent — driver-side, from the commit
# log alone, before the scan starts. False positives only cost an extra
# file read (the row predicate still applies); false negatives cannot
# occur. Blooms are capped so manifests stay small: a file with more
# distinct ids than the cap gets no bloom and is simply unskippable
# (production table formats move large blooms to sidecar index files;
# the inline form keeps this log single-file-atomic).

_BLOOM_K = 7  # optimal for ~10 bits/key (FP ~1%)
_BLOOM_BITS_PER_KEY = 10
_BLOOM_MAX_BITS = 1 << 17  # 16 KiB of bits -> ~21 KB base64 per entry cap


def _bloom_positions(
    values: Iterable[str], m: int, k: int = _BLOOM_K
) -> np.ndarray:
    """The ``(len(values), k)`` bit positions of ``values`` in an
    ``m``-bit bloom, ``m`` a power of two. Double hashing
    (Kirsch-Mitzenmacher): one 128-bit blake2b digest per value, read
    as little-endian ``h1``/``h2``, gives positions ``(h1 + i*h2) mod
    m``. uint64 arithmetic wraps mod 2**64, which ``m`` divides, so
    the mask is exact. Deterministic across processes — unlike
    ``hash()`` — so blooms written by one writer prune on any reader."""
    d = np.frombuffer(
        b"".join(
            hashlib.blake2b(v.encode("utf-8"), digest_size=16).digest()
            for v in values
        ),
        dtype="<u8",
    ).reshape(-1, 2)
    h1, h2 = d[:, :1], d[:, 1:] | np.uint64(1)
    return (h1 + np.arange(k, dtype=np.uint64) * h2) & np.uint64(m - 1)


def _entity_bloom(ids: pa.Array | pa.ChunkedArray) -> Optional[dict[str, Any]]:
    """Bloom over the distinct non-NULL values of ``ids`` (None when
    there are none or too many for the inline size cap)."""
    # to_numpy, not to_pylist: ~15x faster for a column of strings
    distinct = pc.drop_null(pc.unique(ids)).to_numpy(zero_copy_only=False)
    if not len(distinct):
        return None
    m = 1 << max(6, math.ceil(math.log2(len(distinct) * _BLOOM_BITS_PER_KEY)))
    if m > _BLOOM_MAX_BITS:
        return None
    flags = np.zeros(m, dtype=bool)
    flags[_bloom_positions(distinct, m).ravel()] = True
    bits = np.packbits(flags, bitorder="little").tobytes()
    return {"m": m, "k": _BLOOM_K, "bits": base64.b64encode(bits).decode()}


def _file_entity_bloom(path: str) -> Optional[dict[str, Any]]:
    """:func:`_entity_bloom` of one parquet file's ``entity_id`` column,
    the one column it reads (None when it cannot be read)."""
    try:
        with pq.ParquetFile(path) as pf:
            return _entity_bloom(pf.read(columns=["entity_id"])["entity_id"])
    except Exception:
        # The bloom is an optimization; a write must never fail over it.
        return None


def _bloom_maybe_contains(bloom: Any, *values: str) -> bool:
    """False only when the bloom PROVES every value absent; the bits
    decode once however many values are probed. Any malformed/missing
    bloom — ``m`` not a power of two included — reads as "maybe
    present": pruning must stay safe against manifests written by
    older versions or corrupted entries."""
    try:
        m, k = int(bloom["m"]), int(bloom["k"])
        bits = base64.b64decode(bloom["bits"])
        if m <= 0 or m & (m - 1) or not 0 < k <= 64 or len(bits) * 8 < m:
            return True
        # a probe tests a few values: plain ints index the bytes faster
        # than a numpy gather would
        return any(
            all(bits[p >> 3] >> (p & 7) & 1 for p in row)
            for row in _bloom_positions(values, m, k).tolist()
        )
    except Exception:
        return True


class FeatureStore:
    """Spark-native feature store with the reference's API surface.

    ``base_path`` is a directory (local or any Hadoop-compatible FS URI
    without a scheme restriction) holding three tables::

        base_path/features/          -- registry parquet
        base_path/feature_groups/    -- registry parquet
        base_path/entity_records/    -- data plane, partitioned by group_id
        base_path/_versions/         -- record-table commit log (versioning.py)

    The record table is versioned: every append/compact/delete is one
    atomic manifest commit, reads are snapshot-isolated at a version,
    and ``records_df(version=...)`` / ``as_of_commit=...`` time-travel.
    """

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = str(base_path)
        self._features_path = os.path.join(self.base_path, "features")
        self._groups_path = os.path.join(self.base_path, "feature_groups")
        self._records_path = os.path.join(self.base_path, "entity_records")
        # Recover any compaction interrupted between its two renames
        # BEFORE makedirs: recovery keys off "does the live path
        # exist", and makedirs would fabricate an empty live path.
        self._recover_compaction()
        os.makedirs(self._features_path, exist_ok=True)
        os.makedirs(self._groups_path, exist_ok=True)
        os.makedirs(self._records_path, exist_ok=True)
        # Record-table commit log (versioning.py): every data-plane
        # mutation is one atomic manifest commit; readers resolve a
        # file set per version. Stores written before versioning
        # existed have no log directory, and only those get a
        # migration commit adopting their files: once the directory
        # exists, a file no commit lists is an orphan of a crashed
        # write (vacuum's to reclaim), even before the first commit.
        log_dir = os.path.join(self.base_path, "_versions")
        if not os.path.isdir(log_dir):
            self._migrate_unversioned(log_dir)
        self._log = CommitLog(log_dir)
        # Streaming replay-guard cache: last committed batch id per
        # stream_id, seeded lazily from one manifest scan.
        self._stream_commits: dict[str, int] = {}
        self._stream_commits_scanned: set[str] = set()
        # Driver-side registry cache. The registry is control-plane
        # metadata (KBs); caching it avoids a Spark job per lookup the
        # same way the reference's SQLite indexes make lookups ~free.
        self._features: dict[str, Feature] = {}
        self._groups: dict[str, FeatureGroup] = {}
        # Concurrent-writer bookkeeping: keys THIS instance changed
        # since its last sync with disk, plus the file stat observed at
        # that sync. A flush that finds the file changed underneath
        # reloads disk state and overlays only the dirty keys — two
        # stores writing different features both survive (per-key
        # last-writer-wins, not whole-file clobber).
        self._dirty_features: set[str] = set()
        self._dirty_groups: set[str] = set()
        self._reg_stat: dict[str, tuple[int, int]] = {}
        self._load_registry()

    # ------------------------------------------------------------------
    # registry persistence (pyarrow: control plane stays job-free)
    # ------------------------------------------------------------------

    def _registry_file(self, path: str) -> str:
        return os.path.join(path, "part-0.parquet")

    def _stat_key(self, path: str) -> tuple[int, int]:
        try:
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            return (0, 0)

    def _registry_lock(self):
        """Advisory exclusive lock serializing read-merge-write flushes
        across processes (POSIX flock; degrades to no-op where
        unavailable — the mtime merge still protects in-process)."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            lock_path = os.path.join(self.base_path, ".registry.lock")
            fh = open(lock_path, "w")
            try:
                try:
                    import fcntl

                    fcntl.flock(fh, fcntl.LOCK_EX)
                except ImportError:  # non-POSIX: mtime check only
                    pass
                yield
            finally:
                fh.close()  # releases the flock

        return _cm()

    def _load_registry(self) -> None:
        f = self._registry_file(self._features_path)
        self._reg_stat[f] = self._stat_key(f)
        if os.path.exists(f):
            for row in pq.read_table(f).to_pylist():
                self._features[row["name"]] = Feature(**row)
        g = self._registry_file(self._groups_path)
        self._reg_stat[g] = self._stat_key(g)
        if os.path.exists(g):
            for row in pq.read_table(g).to_pylist():
                self._groups[row["id"]] = FeatureGroup(**row)

    def _atomic_write(self, table: pa.Table, path: str) -> None:
        # Write-then-rename so a crash mid-write never corrupts the
        # registry (the reference's SQLite writes were transactional).
        tmp = path + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)

    def _flush_features(self) -> None:
        path = self._registry_file(self._features_path)
        with self._registry_lock():
            if self._stat_key(path) != self._reg_stat.get(path):
                # Another writer flushed since our last sync: reload
                # disk truth, overlay only the keys WE changed.
                disk: dict[str, Feature] = {}
                if os.path.exists(path):
                    for row in pq.read_table(path).to_pylist():
                        disk[row["name"]] = Feature(**row)
                for name in self._dirty_features:
                    if name in self._features:
                        disk[name] = self._features[name]
                self._features = disk
            rows = [f.__dict__ for f in self._features.values()]
            table = pa.Table.from_pylist(rows, schema=_FEATURES_PA_SCHEMA)
            self._atomic_write(table, path)
            self._reg_stat[path] = self._stat_key(path)
            self._dirty_features.clear()

    def _flush_groups(self) -> None:
        path = self._registry_file(self._groups_path)
        with self._registry_lock():
            conflict: Optional[FeatureGroup] = None
            if self._stat_key(path) != self._reg_stat.get(path):
                disk: dict[str, FeatureGroup] = {}
                if os.path.exists(path):
                    for row in pq.read_table(path).to_pylist():
                        disk[row["id"]] = FeatureGroup(**row)
                disk_nv = {(g.name, g.version) for g in disk.values()}
                for gid in self._dirty_groups:
                    g = self._groups.get(gid)
                    if g is None:
                        continue
                    if gid not in disk and (g.name, g.version) in disk_nv:
                        # Another writer created this (name, version)
                        # first — the uniqueness contract holds across
                        # writers, detected at flush time.
                        conflict = g
                        continue
                    disk[gid] = g
                self._groups = disk
            rows = [g.__dict__ for g in self._groups.values()]
            table = pa.Table.from_pylist(rows, schema=_GROUPS_PA_SCHEMA)
            self._atomic_write(table, path)
            self._reg_stat[path] = self._stat_key(path)
            self._dirty_groups.clear()
        if conflict is not None:
            raise GroupExistsError(
                f"Feature group '{conflict.name}' version "
                f"{conflict.version} already exists (concurrent writer)"
            )

    # ------------------------------------------------------------------
    # registry API (reference feature_store.py:195-320,510-516)
    # ------------------------------------------------------------------

    def register_feature(
        self,
        name: str,
        entity_type: str,
        dtype: str,
        description: str = "",
        tags: Optional[list[str]] = None,
        source_query: str = "",
    ) -> Feature:
        """Upsert a feature definition by name.

        Re-registering a name replaces the old definition — the
        reference's ``INSERT OR REPLACE`` on the UNIQUE name column
        (feature_store.py:157,195-241). Invalid dtype raises
        ``ValueError`` (feature_store.py:217-218).
        """
        if dtype not in DTYPES:
            raise InvalidDtypeError(
                f"Invalid dtype '{dtype}'. Must be one of {sorted(DTYPES)}"
            )
        feat = Feature(
            name=name,
            entity_type=entity_type,
            dtype=dtype,
            description=description,
            tags=list(tags or []),
            source_query=source_query,
        )
        self._features[name] = feat
        self._dirty_features.add(name)
        self._flush_features()
        return feat

    def register_features(self, specs: list[dict[str, Any]]) -> list[Feature]:
        """Bulk upsert: validate every spec, apply all in memory, flush
        the registry ONCE. The per-call path rewrites the full registry
        parquet under flock per feature — O(N²) bytes over a bulk load
        of N features; this is the O(N) batch form a large catalog
        import should use. Each spec is the ``register_feature`` kwargs
        (``name``, ``entity_type``, ``dtype`` required).

        All-or-nothing: an invalid dtype anywhere rejects the whole
        batch before any in-memory mutation.
        """
        for spec in specs:
            if spec["dtype"] not in DTYPES:
                raise InvalidDtypeError(
                    f"Invalid dtype '{spec['dtype']}'. "
                    f"Must be one of {sorted(DTYPES)}"
                )
        feats = []
        for spec in specs:
            feat = Feature(
                name=spec["name"],
                entity_type=spec["entity_type"],
                dtype=spec["dtype"],
                description=spec.get("description", ""),
                tags=list(spec.get("tags") or []),
                source_query=spec.get("source_query", ""),
            )
            self._features[feat.name] = feat
            self._dirty_features.add(feat.name)
            feats.append(feat)
        self._flush_features()
        return feats

    def get_feature(self, name: str) -> Optional[Feature]:
        """Point lookup by name; returns deactivated features too —
        the reference's soft-delete asymmetry (feature_store.py:243-247
        vs :254; SURVEY.md §2.2 P5)."""
        return self._features.get(name)

    def list_features(self, entity_type: Optional[str] = None) -> list[Feature]:
        """Active features, optionally filtered by entity type, ordered
        like the reference (feature_store.py:249-261)."""
        feats = [f for f in self._features.values() if f.is_active]
        if entity_type is not None:
            feats = [f for f in feats if f.entity_type == entity_type]
            feats.sort(key=lambda f: f.name)
        else:
            feats.sort(key=lambda f: (f.entity_type, f.name))
        return feats

    def deactivate_feature(self, name: str) -> bool:
        """Soft delete (sets is_active=False). Extension: the reference
        stores the flag but exposes no setter."""
        f = self._features.get(name)
        if f is None:
            return False
        f.is_active = False
        self._dirty_features.add(name)
        self._flush_features()
        return True

    def create_group(
        self,
        name: str,
        features: list[str],
        entity_key: str,
        frequency: str = FREQ_BATCH,
        version: int = 1,
    ) -> FeatureGroup:
        """Create a versioned group; every feature must be registered
        (feature_store.py:284-286) and (name, version) must be unique
        (feature_store.py:175)."""
        for fname in features:
            if fname not in self._features:
                raise UnknownFeatureError(f"Feature '{fname}' not registered")
        for g in self._groups.values():
            if g.name == name and g.version == version:
                raise GroupExistsError(
                    f"Feature group '{name}' version {version} already exists"
                )
        group = FeatureGroup(
            name=name,
            features=list(features),
            entity_key=entity_key,
            frequency=frequency,
            version=version,
        )
        self._groups[group.id] = group
        self._dirty_groups.add(group.id)
        self._flush_groups()
        return group

    def get_group(self, group_id: str) -> Optional[FeatureGroup]:
        return self._groups.get(group_id)

    def get_group_by_name(self, name: str, version: int = 1) -> Optional[FeatureGroup]:
        for g in self._groups.values():
            if g.name == name and g.version == version:
                return g
        return None

    def list_groups(self) -> list[FeatureGroup]:
        return sorted(self._groups.values(), key=lambda g: (g.name, g.version))

    # ------------------------------------------------------------------
    # registry as DataFrames (for data-plane joins; broadcast-sized)
    # ------------------------------------------------------------------

    def features_df(self) -> DataFrame:
        rows = [
            (f.id, f.name, f.entity_type, f.dtype, f.description, f.tags,
             f.source_query, f.created_at, f.is_active)
            for f in self._features.values()
        ]
        schema = ("id string, name string, entity_type string, dtype string, "
                  "description string, tags array<string>, source_query string, "
                  "created_at timestamp, is_active boolean")
        return self._local_df(rows, schema)

    def groups_df(self) -> DataFrame:
        rows = [
            (g.id, g.name, g.features, g.entity_key, g.frequency, g.version,
             g.created_at)
            for g in self._groups.values()
        ]
        schema = ("id string, name string, features array<string>, "
                  "entity_key string, frequency string, version int, "
                  "created_at timestamp")
        return self._local_df(rows, schema)

    def _local_df(self, rows: list[tuple], schema: str) -> DataFrame:
        """Registry rows → DataFrame via the Arrow (pandas) path, which
        plans a LocalTableScan. The plain-list path parallelizes to
        defaultParallelism slices, so a 9-row control-plane query
        schedules ~100 tasks, and a coalesce(1) over those plain-list
        slices is even slower (one task relaunching the Python runner
        per parent slice). Record appends need no frame at all:
        _append_records writes its pa.Table with pyarrow. Measured:
        0.12s vs 0.54s (plain) vs 4.4s (plain + coalesce)."""
        import pandas as pd

        from pyspark.sql.types import StructType

        names = [f.name for f in StructType.fromDDL(schema).fields]
        pdf = pd.DataFrame(rows, columns=names)
        return self.spark.createDataFrame(pdf, schema)

    # ------------------------------------------------------------------
    # data plane: writes (reference feature_store.py:322-370)
    # ------------------------------------------------------------------

    def _require_group(self, group_id: str) -> FeatureGroup:
        g = self._groups.get(group_id)
        if g is None:
            raise UnknownGroupError(f"Feature group '{group_id}' not found")
        return g

    def write_features(
        self,
        group_id: str,
        entity_id: str,
        feature_values: dict[str, Any],
        timestamp: datetime | str | None = None,
    ) -> EntityRecord:
        """Append one snapshot. Open schema: keys outside the group's
        feature list are stored anyway (feature_store.py:347-349)."""
        group = self._require_group(group_id)
        for k in feature_values:
            if k not in group.features:
                # Open schema: store anyway (feature_store.py:347-349).
                logger.warning(
                    "Feature '%s' not in group '%s', storing anyway.",
                    k, group.name,
                )
        rec = EntityRecord(
            group_id=group_id,
            entity_id=str(entity_id),
            feature_values=dict(feature_values),
            timestamp=_coerce_ts(timestamp) or _utcnow(),
        )
        self._append_records([rec])
        return rec

    def write_features_batch(self, records: Iterable[EntityRecord]) -> int:
        """Append many snapshots with no Spark job, one file per group
        (the scale write path; the reference only has the one-row
        form)."""
        recs = list(records)
        for r in recs:
            self._require_group(r.group_id)
        self._append_records(recs)
        return len(recs)

    def write_records_df(self, df: DataFrame) -> None:
        """Append a pre-shaped DataFrame of records — the bulk-ingest /
        backfill path a 100 TB pipeline uses. ``df`` must match
        RECORDS_SCHEMA minus partition bookkeeping; values must already
        be JSON-encoded strings. The append is one atomic commit."""
        self._stage_and_commit(
            df.select("id", "group_id", "entity_id", "feature_values",
                      "timestamp", "version"),
            op="append",
        )

    def _append_records(self, recs: list[EntityRecord]) -> None:
        """Append driver-held records with no Spark job: the batch is
        already a pa.Table, so pyarrow writes one file per group
        straight into the live tree under a final unique name, fsyncs
        it, and one manifest commit makes the files visible (the same
        data-files-then-log contract as :meth:`_stage_and_commit`). A
        crash before the commit leaves unreferenced files, which
        :meth:`vacuum`'s orphan grace reclaims."""
        # Coerce here, not just in write_features: batch callers build
        # EntityRecord directly and may pass ISO strings (the reference
        # accepted either — feature_store.py:351). pyarrow would take an
        # aware datetime's wall clock as UTC, hence _naive_utc first.
        tbl = pa.Table.from_pylist(
            [
                {
                    "id": r.id,
                    "group_id": r.group_id,
                    "entity_id": r.entity_id,
                    "feature_values": {
                        k: encode_value(v) for k, v in r.feature_values.items()
                    },
                    "timestamp": _naive_utc(_coerce_ts(r.timestamp)),
                    "version": r.version,
                }
                for r in recs
            ],
            schema=_RECORDS_PA_SCHEMA,
        )
        self._enforce_constraints(tbl)
        added = [
            self._write_live_file(
                gid,
                [tbl.filter(pc.equal(tbl["group_id"], gid)).drop_columns("group_id")],
            )
            for gid in sorted(tbl["group_id"].unique().to_pylist())
        ]
        if added:
            self._log.commit("append", add=added, remove=[])

    def _write_live_file(
        self, group_id: str, tables: Iterable[pa.Table]
    ) -> dict[str, Any]:
        """Write ``tables`` (in :data:`_RECORDS_FILE_SCHEMA`) as one new
        file of ``group_id``'s partition, straight into the live tree
        under a unique name, and fsync it; returns its manifest
        add-entry. The file stays invisible until a commit lists it. A
        table of up to pyarrow's default row-group length is one row
        group. The entry's row count and entity bloom come from the
        tables as they stream through (``pc.unique`` per table), so the
        file is not read back for them."""
        rel = os.path.join(f"group_id={group_id}", f"part-{uuid.uuid4().hex}.parquet")
        dst = os.path.join(self._records_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        rows, ids = 0, []
        with open(dst, "wb") as fh:
            with pq.ParquetWriter(fh, _RECORDS_FILE_SCHEMA) as writer:
                for t in tables:
                    writer.write_table(t)
                    rows += t.num_rows
                    ids.append(pc.unique(t["entity_id"]))
            fh.flush()
            os.fsync(fh.fileno())
        return self._add_entry(rel, rows, pa.chunked_array(ids, pa.string()))

    # ------------------------------------------------------------------
    # data plane: commit-log plumbing (versioning.py)
    # ------------------------------------------------------------------

    # ------------------------------------------------------------------
    # data plane: CHECK constraints (Delta-style write-time contracts)
    # ------------------------------------------------------------------

    def _constraints_path(self, group_id: str) -> str:
        return os.path.join(
            self.base_path, "_constraints", f"{group_id}.json"
        )

    def add_constraint(self, group_id: str, name: str, expr: str) -> None:
        """Attach a CHECK constraint (a boolean SQL expression over the
        record columns — ``entity_id``, ``timestamp``,
        ``feature_values`` map, ...) to a group. Every subsequent
        append into that group validates the batch BEFORE its commit:
        a violating batch raises :class:`ConstraintViolationError` and
        nothing lands — Delta's ``ALTER TABLE ADD CONSTRAINT CHECK``
        contract. Validation costs one extra aggregation over the
        incoming BATCH (all constraints folded into a single pass),
        never a table scan.

        A check evaluating to NULL counts as a VIOLATION (strict
        reading — unparseable values don't sneak through). Under
        Spark 4's default ANSI mode use ``TRY_CAST`` in expressions
        (a plain ``CAST`` of a malformed value throws instead of
        yielding the NULL this rule is designed to catch).
        """
        self._require_group(group_id)
        if not name or any(c in name for c in "/\\"):
            raise ValueError(f"Invalid constraint name: {name!r}")
        # analysis-validate the expression against the record schema NOW
        # so a typo fails at definition time, not at first write
        try:
            self.spark.createDataFrame([], RECORDS_SCHEMA).where(
                F.expr(expr)
            ).schema
        except Exception as e:  # noqa: BLE001 — surface analysis error
            raise ValueError(
                f"Constraint expression does not analyze: {expr!r} ({e})"
            ) from None
        path = self._constraints_path(group_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        current = self.list_constraints(group_id)
        current[name] = expr
        write_json_atomic(path, current)

    def list_constraints(self, group_id: str) -> dict[str, str]:
        # Only an ABSENT file means "no constraints". A corrupted or
        # unreadable _constraints/<group>.json must surface — silently
        # returning {} here would disable CHECK enforcement for the
        # group and let writes that should be rejected land unnoticed.
        path = self._constraints_path(group_id)
        try:
            return dict(read_json(path) or {})
        except (OSError, ValueError) as e:
            raise RuntimeError(
                f"Constraint file for group {group_id!r} is unreadable "
                f"or corrupt ({e}); refusing to silently disable CHECK "
                f"enforcement. Repair or delete {path}"
            ) from e

    def drop_constraint(self, group_id: str, name: str) -> None:
        current = self.list_constraints(group_id)
        if name not in current:
            raise ValueError(f"Constraint {name!r} does not exist")
        del current[name]
        write_json_atomic(self._constraints_path(group_id), current)

    def _enforce_constraints(self, batch: DataFrame | pa.Table) -> None:
        """One aggregation pass over the batch counting violations of
        every constrained group's checks; raises listing each violated
        constraint and its row count. A ``pa.Table`` batch (a direct
        append) becomes a DataFrame only when some check exists, so an
        unconstrained append runs no Spark job."""
        cons_dir = os.path.join(self.base_path, "_constraints")
        try:
            gids = [f[:-5] for f in os.listdir(cons_dir) if f.endswith(".json")]
        except OSError:
            return
        aggs, labels = [], []
        for gid in sorted(gids):
            for name, expr in sorted(self.list_constraints(gid).items()):
                aggs.append(
                    F.sum(
                        F.when(
                            (F.col("group_id") == gid)
                            & ~F.coalesce(F.expr(expr), F.lit(False)),
                            1,
                        ).otherwise(0)
                    ).alias(f"__c{len(labels)}")
                )
                labels.append((gid, name))
        if not aggs:
            return
        if isinstance(batch, pa.Table):
            batch = self.spark.createDataFrame(batch, RECORDS_SCHEMA)
        row = batch.agg(*aggs).collect()[0]
        bad = [
            (gid, name, row[i])
            for i, (gid, name) in enumerate(labels)
            if row[i]
        ]
        if bad:
            detail = "; ".join(
                f"{name} ({n} row(s), group {gid})" for gid, name, n in bad
            )
            raise ConstraintViolationError(
                f"Write rejected by CHECK constraint(s): {detail}"
            )

    def _stage_and_commit(
        self,
        df: DataFrame,
        op: str,
        remove: Optional[list[str]] = None,
        meta: Optional[dict[str, Any]] = None,
    ) -> list[str]:
        """Write ``df``, a frame Spark produces (``write_records_df``,
        clustered and multi-file compaction, stream ingest), into the
        record table as ONE atomic commit. Driver-held rows go through
        :meth:`_write_live_file` instead.

        Data files land in a staging directory first, move into the
        live tree under fresh unique names (invisible: readers only see
        files listed in committed manifests), and become visible when
        the manifest commits. A crash at any point before the commit
        leaves only unreferenced files, which :meth:`vacuum` reclaims —
        there is no window where the table is missing or doubled.
        Returns the relative paths added.
        """
        import shutil
        import tempfile as _tf

        if op in self._INSERT_OPS and op != "migrate":
            # New rows must honor the groups' CHECK constraints; a
            # compaction re-adds already-validated rows and migrate
            # adopts pre-versioning data as-is.
            self._enforce_constraints(df)

        stage = _tf.mkdtemp(prefix="fs_stage_", dir=self.base_path)
        try:
            (df.write.mode("overwrite").partitionBy("group_id").parquet(stage))
            added = self._absorb_stage(stage)
            if added or remove:
                self._log.commit(op, add=added, remove=remove or [], meta=meta)
            return added
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _add_entry(
        self,
        rel: str,
        rows: Optional[int] = None,
        ids: Optional[pa.ChunkedArray] = None,
    ) -> dict[str, Any]:
        """The manifest add-entry of one live data file: its path, row
        count and byte size, min/max ``timestamp`` statistics, so
        versioned reads can skip files wholesale (Delta's per-file
        stats pattern), and the entity-id bloom when the file is small
        enough for one. The timestamp stats come from the parquet
        footer when present (a metadata-only read). ``rows`` and
        ``ids`` are what a driver writer already holds of the file;
        for a Spark-staged file they default to the footer's row count
        and a read of its ``entity_id`` column."""
        path = os.path.join(self._records_path, rel)
        footer_rows, lo, hi = _file_stats(path)
        entry: dict[str, Any] = {
            "path": rel,
            "min_ts": lo,
            "max_ts": hi,
            "rows": footer_rows if rows is None else rows,
            "bytes": os.path.getsize(path),
        }
        bloom = _file_entity_bloom(path) if ids is None else _entity_bloom(ids)
        if bloom is not None:
            entry["entity_bloom"] = bloom
        return entry

    def _absorb_stage(self, stage: str) -> list[dict[str, Any]]:
        """Move staged parquet files into the live record tree under
        collision-free names; returns one manifest add-entry per file."""
        added: list[dict[str, Any]] = []
        for part in sorted(os.listdir(stage)):
            src_dir = os.path.join(stage, part)
            if not (part.startswith("group_id=") and os.path.isdir(src_dir)):
                continue  # _SUCCESS markers etc.
            dst_dir = os.path.join(self._records_path, part)
            os.makedirs(dst_dir, exist_ok=True)
            for f in sorted(os.listdir(src_dir)):
                if not f.endswith(".parquet"):
                    continue
                rel = os.path.join(part, f"part-{uuid.uuid4().hex}.parquet")
                dst = os.path.join(self._records_path, rel)
                os.rename(os.path.join(src_dir, f), dst)
                added.append(self._add_entry(rel))
        return added

    def _migrate_unversioned(self, log_dir: str) -> None:
        """Create the log directory of a store opened without one. A
        pre-versioning store's record files are adopted by a version-0
        ``migrate`` commit listing them verbatim.

        The log is built in a staging directory and renamed to
        ``log_dir`` with its commit already inside, so the directory
        never exists without the migration: a crash or a failed commit
        leaves the store unversioned, and the next open migrates again
        instead of leaving the files to vacuum as orphans."""
        import shutil
        import tempfile

        found: list[str] = []
        for root, _dirs, files in os.walk(self._records_path):
            rel_root = os.path.relpath(root, self._records_path)
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                try:
                    pq.read_metadata(os.path.join(root, f))
                except (OSError, pa.ArrowInvalid):
                    # A torn file (a direct append that crashed in a
                    # store opened before opens made the log directory)
                    # has no footer: leave it unreferenced for vacuum
                    # rather than adopt an unreadable file.
                    continue
                found.append(
                    f if rel_root == "." else os.path.join(rel_root, f)
                )
        stage = tempfile.mkdtemp(prefix="._versions-", dir=self.base_path)
        try:
            if found:
                CommitLog(stage).commit(
                    "migrate", add=sorted(found), remove=[]
                )
            try:
                os.rename(stage, log_dir)
            except OSError:
                # A concurrent open got there first (the rename only
                # replaces an empty directory); its log stands.
                if not os.path.isdir(log_dir):
                    raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def stream_batch_committed(self, stream_id: str, batch_id: int) -> bool:
        """True when a streaming micro-batch (identified by its
        checkpoint + batch id) already landed in the table — the replay
        guard that turns at-least-once checkpoint recovery into an
        exactly-once sink.

        The manifest scan (newest-first, stops at the stream's most
        recent commit — batch ids are monotonic per checkpoint, so one
        hit decides) runs once per stream per store instance: the
        answer is cached and advanced in-process by
        :meth:`_note_stream_commit`, so steady-state micro-batches cost
        a dict lookup, not a log walk."""
        cached = self._stream_commits.get(stream_id)
        if cached is not None and cached >= batch_id:
            return True
        if stream_id in self._stream_commits_scanned:
            return False
        for v in reversed(self._log.versions()):
            m = self._log.read(v)
            if m.get("stream_id") == stream_id:
                self._stream_commits[stream_id] = m.get("batch_id", -1)
                self._stream_commits_scanned.add(stream_id)
                return self._stream_commits[stream_id] >= batch_id
        self._stream_commits_scanned.add(stream_id)
        return False

    def _note_stream_commit(self, stream_id: str, batch_id: int) -> None:
        self._stream_commits[stream_id] = max(
            self._stream_commits.get(stream_id, -1), batch_id
        )
        self._stream_commits_scanned.add(stream_id)

    @property
    def current_version(self) -> Optional[int]:
        """Latest committed record-table version (None before any
        data-plane commit)."""
        return self._log.latest_version()

    def history(self) -> list[dict[str, Any]]:
        """Record-table commit history, newest first — version, commit
        timestamp, operation, and files added/removed per commit."""
        return self._log.history()

    # Commit ops whose added files carry NEW rows. Rewrite ops
    # ("compact", "delete-entity") re-add pre-existing rows and must
    # never re-emit through the change feed. "migrate" (version 0
    # adopting a pre-versioning store's files) IS an insert: those rows
    # have never been through the log, and a full-history feed
    # (since_version=-1) must include them.
    _INSERT_OPS = frozenset(
        {"append", "stream-append", "stream-features", "migrate"}
    )

    def records_changes(
        self,
        since_version: int,
        to_version: Optional[int] = None,
        group_id: Optional[str] = None,
        include_deletes: bool = False,
    ) -> DataFrame:
        """Change data feed: every record INSERTED by commits in
        ``(since_version, to_version]`` — the incremental-consumption
        primitive (Delta CDF's insert stream) that lets a downstream
        pipeline refresh derived tables from a cursor instead of
        rescanning the log.

        Reads ONLY the data files those commits added (the manifests
        name them — no live-set diffing, no table scan), so the cost is
        proportional to the new data, not the table: the property that
        makes daily incremental dedup/training-set refresh viable at
        100 TB. Each row carries ``_commit_version``. Only insert
        commits contribute; compaction and delete rewrites re-add
        pre-existing rows and are skipped. A file already superseded
        by compaction still serves the feed until vacuum physically
        reclaims it, at which point the feed raises a clear
        horizon error instead of a scan failure.

        ``include_deletes=True`` adds a ``_change_type`` column
        ('insert' / 'delete') and surfaces the rows REMOVED by
        ``delete-entity`` commits in the range (Delta CDF's delete
        stream): per delete commit, removed-files minus added-files
        anti-joined on the record ``id`` — cost ∝ the rewritten
        partition, and only while the pre-delete files survive vacuum
        (below the horizon the same re-baseline error raises).
        Compaction commits never emit either way: their file churn is
        row-preserving by construction.
        """
        vs = self._log.versions()
        latest = vs[-1] if vs else None
        if to_version is None:
            to_version = latest
        if latest is None:
            if since_version == -1:
                # Empty store + full-history cursor: an empty feed, not
                # an error — the cursor value is valid.
                empty = self.spark.createDataFrame([], RECORDS_SCHEMA)
                empty = empty.withColumn(
                    "_commit_version", F.lit(None).cast("int")
                )
                if include_deletes:
                    empty = empty.withColumn(
                        "_change_type", F.lit(None).cast("string")
                    )
                return empty
            raise ValueError(
                f"Record-table version {since_version} does not exist "
                f"(latest: {latest})"
            )
        if since_version != -1 and since_version not in vs:
            raise ValueError(
                f"Record-table version {since_version} does not exist "
                f"(latest: {latest})"
            )
        if to_version not in vs:
            raise ValueError(
                f"Record-table version {to_version} does not exist "
                f"(latest: {latest})"
            )
        prefix = f"group_id={group_id}/" if group_id is not None else ""

        def _paths(entries) -> list[str]:
            files = [
                (f if isinstance(f, str) else f["path"]) for f in entries
            ]
            return [f for f in files if f.startswith(prefix)] if prefix else files

        def _check_horizon(files: list[str], v: int, verb: str) -> None:
            missing = [
                f
                for f in files
                if not os.path.exists(os.path.join(self._records_path, f))
            ]
            if missing:
                raise ValueError(
                    f"Change feed since version {since_version} is below "
                    f"the vacuum horizon: {len(missing)} file(s) {verb} by "
                    f"version {v} were physically reclaimed (first: "
                    f"{missing[0]!r}). Re-baseline from a snapshot read."
                )

        def _read(files: list[str]) -> DataFrame:
            return (
                self.spark.read.schema(RECORDS_SCHEMA)
                .option("basePath", self._records_path)
                .parquet(
                    *(os.path.join(self._records_path, f) for f in files)
                )
            )

        parts: list[DataFrame] = []
        for v in vs:
            if not (since_version < v <= to_version):
                continue
            m = self._log.read(v)
            op = m.get("op")
            if op in self._INSERT_OPS:
                files = _paths(m.get("add", ()))
                if not files:
                    continue
                _check_horizon(files, v, "added")
                part = _read(files).withColumn("_commit_version", F.lit(v))
                if include_deletes:
                    part = part.withColumn(
                        "_change_type", F.lit("insert")
                    )
                parts.append(part)
            elif include_deletes and op == "delete-entity":
                removed = _paths(m.get("remove", ()))
                if not removed:
                    continue
                added = _paths(m.get("add", ()))
                _check_horizon(removed, v, "removed")
                _check_horizon(added, v, "added")
                old = _read(removed)
                if added:
                    survivors = _read(added).select("id")
                    old = old.join(survivors, "id", "left_anti")
                parts.append(
                    old.withColumn("_commit_version", F.lit(v)).withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
        if not parts:
            empty = self.spark.createDataFrame([], RECORDS_SCHEMA)
            out = empty.withColumn("_commit_version", F.lit(None).cast("int"))
            if include_deletes:
                out = out.withColumn(
                    "_change_type", F.lit(None).cast("string")
                )
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if group_id is not None:
            out = out.where(F.col("group_id") == F.lit(group_id))
        return out

    # ------------------------------------------------------------------
    # data plane: incremental materialized rollup (change-feed consumer)
    # ------------------------------------------------------------------

    def _mv_dir(self, name: str) -> str:
        if not name or any(c in name for c in "/\\."):
            raise ValueError(f"Invalid materialized-view name: {name!r}")
        return os.path.join(self.base_path, "_materialized", name)

    def _mv_state(self, name: str) -> Optional[dict[str, Any]]:
        return read_json(os.path.join(self._mv_dir(name), "cursor.json"))

    def read_entity_rollup(self, name: str) -> DataFrame:
        """The materialized per-entity rollup as last refreshed (a
        snapshot read — concurrent refreshes write new data dirs and
        flip the cursor, they never mutate the dir a reader holds)."""
        state = self._mv_state(name)
        if state is None:
            raise ValueError(
                f"Materialized view {name!r} has never been refreshed"
            )
        return self.spark.read.parquet(
            os.path.join(self._mv_dir(name), state["data"])
        )

    def refresh_entity_rollup(self, name: str, group_id: str) -> DataFrame:
        """Incrementally maintain a per-entity rollup — ``n_records``,
        ``first_ts``, ``last_ts`` per ``entity_id`` — as a materialized
        table under ``<base>/_materialized/<name>``.

        The refresh consumes :meth:`records_changes` from the view's
        stored cursor: cost is (aggregate the NEW rows) + (merge into
        the existing rollup, ∝ entity count) — never a rescan of the
        record table. That asymmetry is the point at 100 TB: a daily
        refresh over a year of history touches one day of data. The
        delta merge is only sound for insert-only histories, so any
        shrinking commit since the cursor (``delete-entity``) forces a
        full recompute at the pinned snapshot; compaction commits
        re-add existing rows and are already invisible to the feed.

        Each refresh writes a fresh data dir ``v<version>`` and flips
        ``cursor.json`` atomically (readers keep their snapshot; a
        crash mid-refresh leaves the old cursor valid). Two concurrent
        refreshes race benignly: both compute the same content for the
        same table version. Returns the refreshed rollup DataFrame.
        """
        self._require_group(group_id)
        latest = self._log.latest_version()
        mv_dir = self._mv_dir(name)
        try:
            state = self._mv_state(name)
        except ValueError:
            state = None  # a corrupt cursor is rebuilt: full recompute
        if latest is None or (state is not None and state["version"] == latest):
            if state is not None:
                return self.read_entity_rollup(name)
            if latest is None:
                raise ValueError(
                    "Cannot refresh a rollup over an empty record table"
                )
        agg_cols = [
            F.count(F.lit(1)).alias("n_records"),
            F.min("timestamp").alias("first_ts"),
            F.max("timestamp").alias("last_ts"),
        ]
        shrinking = state is not None and any(
            self._log.read(v).get("op") == "delete-entity"
            for v in self._log.versions()
            if state["version"] < v <= latest
        )
        if state is None or shrinking:
            merged = (
                self.records_df(group_id, version=latest)
                .groupBy("entity_id")
                .agg(*agg_cols)
            )
        else:
            delta = (
                self.records_changes(
                    state["version"], to_version=latest, group_id=group_id
                )
                .groupBy("entity_id")
                .agg(*agg_cols)
            )
            old = self.read_entity_rollup(name)
            # least/greatest skip NULLs in Spark, so a key present on
            # only one side keeps that side's bounds.
            merged = (
                old.alias("o")
                .join(delta.alias("d"), "entity_id", "full_outer")
                .select(
                    "entity_id",
                    (
                        F.coalesce(F.col("o.n_records"), F.lit(0))
                        + F.coalesce(F.col("d.n_records"), F.lit(0))
                    ).alias("n_records"),
                    F.least("o.first_ts", "d.first_ts").alias("first_ts"),
                    F.greatest("o.last_ts", "d.last_ts").alias("last_ts"),
                )
            )
        data_rel = f"v{latest:08d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(mv_dir, data_rel)
        merged.write.mode("overwrite").parquet(out_dir)
        write_json_atomic(
            os.path.join(mv_dir, "cursor.json"),
            {"version": latest, "data": data_rel, "group_id": group_id},
        )
        # Best-effort GC of data dirs older than the one just superseded
        # (keep the previous dir: a reader may still hold it).
        import shutil

        dirs = sorted(
            d
            for d in os.listdir(mv_dir)
            if d.startswith("v") and os.path.isdir(os.path.join(mv_dir, d))
        )
        for d in dirs[:-2]:
            shutil.rmtree(os.path.join(mv_dir, d), ignore_errors=True)
        return self.read_entity_rollup(name)

    # ------------------------------------------------------------------
    # data plane: named version tags (Iceberg-style refs)
    # ------------------------------------------------------------------

    def _tags_dir(self) -> str:
        return os.path.join(self.base_path, "_versions", "_tags")

    def _tag_path(self, name: str) -> str:
        if not name or any(c in name for c in "/\\.") or name.startswith("_"):
            raise ValueError(f"Invalid tag name: {name!r}")
        return os.path.join(self._tags_dir(), f"{name}.json")

    def tag_version(self, name: str, version: Optional[int] = None) -> int:
        """Pin a named tag to a table version (Iceberg's tags: a
        human-meaningful ref — 'training-2026-08', 'audit-q3' — that
        survives vacuum). Defaults to the current version. Re-tagging
        an existing name moves it (atomic replace). Tagged versions
        are protected from :meth:`vacuum` regardless of
        ``retain_versions``, so the dataset a model was trained on
        stays reproducible for as long as the tag lives."""
        vs = self._log.versions()
        if version is None:
            version = vs[-1] if vs else None
        if version is None or version not in vs:
            raise ValueError(
                f"Record-table version {version} does not exist"
            )
        wm = self._vacuum_watermark()
        if wm is not None and version < wm:
            # Files below the watermark may already be reclaimed — a
            # tag there would pin a hole, not a snapshot.
            raise ValueError(
                f"Version {version} is below the vacuum watermark "
                f"({wm}); it can no longer be pinned"
            )
        path = self._tag_path(name)
        os.makedirs(self._tags_dir(), exist_ok=True)
        write_json_atomic(
            path, {"version": version, "created": _utcnow().isoformat()}
        )
        return version

    def list_tags(self) -> dict[str, int]:
        """All tags as {name: version}. An unreadable or corrupt tag
        file raises: skipped, its version would lose vacuum's
        protection."""
        out: dict[str, int] = {}
        try:
            names = os.listdir(self._tags_dir())
        except FileNotFoundError:
            return out
        for f in sorted(names):
            if f.endswith(".json"):
                doc = read_json(os.path.join(self._tags_dir(), f))
                if doc is not None:  # None: deleted since the listing
                    out[f[:-5]] = int(doc["version"])
        return out

    def delete_tag(self, name: str) -> None:
        """Remove a tag (the version becomes vacuumable again by the
        normal retention rule)."""
        try:
            os.unlink(self._tag_path(name))
        except FileNotFoundError:
            raise ValueError(f"Tag {name!r} does not exist")

    def vacuum(
        self, retain_versions: int = 1, orphan_grace_seconds: float = 3600.0
    ) -> int:
        """Physically delete data files no retained version references.

        Keeps the live file sets of the last ``retain_versions``
        versions; everything else under the record tree — files removed
        by old compactions/deletes, and orphans from crashed writes —
        is unlinked. Time travel reaches back only as far as the oldest
        retained version afterwards (same contract as Delta's VACUUM);
        a watermark is persisted so travel past it raises a clear
        error instead of a missing-file scan failure. Returns the
        number of files deleted.

        Files no manifest has EVER referenced get a grace period:
        :meth:`_stage_and_commit` moves data files into the live tree,
        and :meth:`_append_records` writes them there directly, both
        *before* the manifest commits, so a zero-grace vacuum racing an
        in-flight writer would delete files its imminent commit is
        about to reference. An unreferenced file younger (by mtime)
        than ``orphan_grace_seconds`` is therefore skipped — Delta's
        retention-hours pattern. Committed-but-superseded files (those
        some old manifest added and a later commit removed) carry no
        such risk and are deleted regardless of age.

        An unreadable or corrupt tag file or watermark stops it before
        any delete: skipped, a tag would stop protecting its version.
        """
        import time

        vs = self._log.versions()
        retained_versions = vs[-max(1, retain_versions):]
        # Tagged versions are pinned (Iceberg's tag-protection rule):
        # their file sets stay reachable no matter how small
        # retain_versions is. The WATERMARK however stays the retention
        # horizon: tags form readable islands below it (records_df
        # admits exactly-tagged versions), while untagged versions
        # below the horizon keep the clear vacuumed error.
        tagged = set(self.list_tags().values()) & set(vs)
        protect = sorted(set(retained_versions) | tagged)
        retained: set[str] = set()
        for v in protect:
            retained.update(self._log.live_files(v))
        if retained_versions:
            self._write_vacuum_watermark(retained_versions[0])
        ever_referenced = self._log.referenced_paths()
        orphan_cutoff = time.time() - max(0.0, orphan_grace_seconds)
        deleted = 0
        for root, _dirs, files in os.walk(self._records_path, topdown=False):
            rel_root = os.path.relpath(root, self._records_path)
            for f in files:
                rel = f if rel_root == "." else os.path.join(rel_root, f)
                if not f.endswith(".parquet") or rel in retained:
                    continue
                full = os.path.join(root, f)
                if rel not in ever_referenced:
                    try:
                        if os.path.getmtime(full) > orphan_cutoff:
                            continue  # possible in-flight writer
                    except OSError:
                        continue  # gone already — someone else's commit
                os.unlink(full)
                deleted += 1
            if rel_root != ".":
                try:
                    os.rmdir(root)  # prune now-empty partition dirs
                except OSError:
                    pass
        return deleted

    def _vacuum_path(self) -> str:
        return os.path.join(self.base_path, "_versions", "_vacuum.json")

    def _write_vacuum_watermark(self, earliest_retained: int) -> None:
        """Persist the earliest still-travelable version (monotonic)."""
        current = self._vacuum_watermark() or 0
        write_json_atomic(
            self._vacuum_path(),
            {"retained_from": max(current, earliest_retained)},
        )

    def _vacuum_watermark(self) -> Optional[int]:
        """The earliest still-travelable version; None before any
        vacuum. A corrupt watermark raises: read as "no horizon" it
        would admit reads of versions whose files are gone."""
        doc = read_json(self._vacuum_path())
        return None if doc is None else doc["retained_from"]

    def compact_records(
        self,
        group_id: Optional[str] = None,
        target_rows_per_file: int = 1_000_000,
        cluster_by: Optional[list[str]] = None,
        zorder: bool = False,
    ) -> int:
        """Rewrite the record log into right-sized files.

        ``cluster_by`` additionally range-partitions and sorts the
        rewrite on the given columns (Delta's ``OPTIMIZE ... ZORDER``
        niche, linear-order flavor): with ``cluster_by=["timestamp"]``
        the compacted files get *disjoint* timestamp ranges, so the
        manifest min/max stats keep as-of reads skipping files even
        after compaction merges many small writes.

        ``zorder=True`` switches the multi-column case from
        lexicographic to Z-order clustering
        (:func:`operators.util.zorder_key` — Delta's ``OPTIMIZE ...
        ZORDER BY``): with ``cluster_by=["entity_id", "timestamp"]``
        lexicographic layout makes entity point-lookups perfect but
        leaves every file spanning the full time range; the interleaved
        key gives every file locality in BOTH columns, so the bloom
        index AND the ts min/max stats stay selective after one
        compaction.

        The reference-parity single-record ``write_features`` emits one
        tiny parquet file per call; at any real ingest rate that is a
        small-files scan killer. Compaction rewrites a group's partition
        (or all of them) into ``ceil(rows / target)`` files, sized from
        the live files' footers, and commits ``{add: compacted, remove:
        old}`` in one atomic manifest. Returns the row count.

        A rewrite into one file without ``cluster_by`` (at most
        ``target_rows_per_file`` rows in all) runs no Spark job: each partition's
        live files stream through pyarrow on the driver into one new
        file per ``group_id=`` partition, in full row groups (one per
        file at the default target), read as Spark's schema'd read
        would (INT96 at microsecond precision, a missing column as
        NULLs). Clustered and multi-file rewrites need a range sort or
        parallel writers, so they stay Spark jobs.

        Crash safety and concurrency come from the commit log: the
        table is never unreachable (old files stay live until the
        commit lands; a crash leaves only unreferenced new files, which
        :meth:`vacuum` reclaims after its orphan grace), readers pinned
        at older versions keep their snapshot, and an append that
        commits *while* the compaction runs survives — its files are
        not in this commit's remove set, so replay keeps them live
        alongside the compacted files. A delete that commits first
        makes this commit's remove set stale, so it aborts with
        :class:`ConcurrentModificationError`. Old pre-compaction files
        remain for time travel until vacuumed.
        """
        snapshot = self._log.latest_version()
        old_files = self._log.live_files(snapshot)
        if group_id is not None:
            prefix = f"group_id={group_id}/"
            old_files = [f for f in old_files if f.startswith(prefix)]
        # Footer row counts size the rewrite with no count job; exact,
        # since every row under group_id=<g>/ belongs to <g>. Empty
        # files are only removed, so a group with no rows gets no new
        # file, as in Spark's rewrite.
        by_group: dict[str, list[str]] = {}
        n = 0
        for f in old_files:
            rows = pq.read_metadata(os.path.join(self._records_path, f)).num_rows
            if rows:
                gid = f.split("/", 1)[0][len("group_id="):]
                by_group.setdefault(gid, []).append(f)
                n += rows
        if n == 0:
            return 0
        files = max(1, math.ceil(n / target_rows_per_file))
        if files == 1 and not cluster_by:
            added = [
                self._write_live_file(
                    gid,
                    _row_groups(
                        _file_batches(
                            os.path.join(self._records_path, f) for f in paths
                        )
                    ),
                )
                for gid, paths in sorted(by_group.items())
            ]
            self._log.commit("compact", add=added, remove=old_files)
            return n
        df = self.records_df(group_id, version=snapshot)
        if cluster_by and zorder and len(cluster_by) > 1:
            from blackroad_feature_store_spark.operators.util import (
                zorder_key,
            )

            rewritten = (
                zorder_key(df, list(cluster_by))
                .repartitionByRange(files, "__zkey")
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
        elif cluster_by:
            rewritten = df.repartitionByRange(
                files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            rewritten = df.repartition(files)
        self._stage_and_commit(rewritten, op="compact", remove=old_files)
        return n

    def maybe_compact(
        self,
        group_id: Optional[str] = None,
        max_files: int = 64,
        target_rows_per_file: int = 1_000_000,
        cluster_by: Optional[list[str]] = None,
        zorder: bool = False,
    ) -> int:
        """Policy-gated compaction: rewrite only when the live file
        count (for the group's partition, or the whole log) exceeds
        ``max_files`` — the auto-OPTIMIZE loop an ingest pipeline calls
        after each batch without thinking about it. The trigger check
        is driver-side from the commit log alone (no file listing, no
        scan), so calling it every batch costs nothing until it fires.
        Returns rows compacted, or 0 when below threshold.
        """
        v = self._log.latest_version()
        if v is None:
            return 0
        files = self._log.live_files(v)
        if group_id is not None:
            prefix = f"group_id={group_id}/"
            files = [f for f in files if f.startswith(prefix)]
        if len(files) <= max_files:
            return 0
        return self.compact_records(
            group_id,
            target_rows_per_file=target_rows_per_file,
            cluster_by=cluster_by,
            zorder=zorder,
        )

    def delete_entity_records(self, group_id: str, entity_id: str) -> int:
        """Physically remove every record of one entity from a group —
        the right-to-erasure path an append-only log still has to
        offer. Only the live files holding the entity are rewritten
        (Delta's file-level ``DELETE WHERE``), with no Spark job: the
        candidates are the group's files whose entity bloom admits the
        entity (plus any file without a bloom), each candidate's
        ``entity_id`` column is counted, and each file with a hit
        streams through pyarrow on the driver minus the entity's rows
        (rows with a NULL ``entity_id`` are kept) into one new file; a
        file left empty is only removed. One ``delete-entity`` commit
        swaps the hit files for their rewrites, so an append that
        commits meanwhile survives, and a concurrent compaction of a
        hit file aborts one side with
        :class:`ConcurrentModificationError`. Returns the number of
        records removed.

        Note the erasure contract: the purged rows stay reachable
        through OLDER versions until :meth:`vacuum` runs — a real GDPR
        pipeline follows a delete with a retention-bounded vacuum.
        """
        self._require_group(group_id)
        eid = str(entity_id)
        removed, remove, added = 0, [], []
        for e in self._live_entries([group_id], entity_ids=[eid]):
            path = os.path.join(self._records_path, e["path"])
            with pq.ParquetFile(path) as pf:
                ids = pf.read(columns=["entity_id"])["entity_id"]
            hits = pc.sum(pc.equal(ids, eid)).as_py() or 0
            if not hits:
                continue  # a bloom false positive: left as it is
            removed += hits
            remove.append(e["path"])
            if hits < len(ids):
                added.append(
                    self._write_live_file(
                        group_id,
                        _row_groups(
                            b.filter(
                                pc.fill_null(
                                    pc.not_equal(b["entity_id"], eid), True
                                )
                            )
                            for b in _file_batches([path])
                        ),
                    )
                )
        if removed:
            self._log.commit("delete-entity", add=added, remove=remove)
        return removed

    def _recover_compaction(self) -> None:
        """Finish a LEGACY (pre-commit-log) compaction interrupted
        between its two renames. Current compactions are single-commit
        and need no recovery; this runs at open only so stores written
        by older builds of this package still recover.

        ``compact_old/<name>`` holds the pre-compaction copy of either
        the whole log (``__all__``) or one ``group_id=...`` partition.
        If the corresponding live path is missing, the crash happened
        before the compacted data moved in — restore the copy (no data
        was lost: the aside rename is atomic). If the live path exists,
        the compacted data is already in place — drop the stale copy.
        """
        import shutil

        old_root = os.path.join(self.base_path, "compact_old")
        if not os.path.isdir(old_root):
            return
        for name in os.listdir(old_root):
            src = os.path.join(old_root, name)
            dst = (
                self._records_path
                if name == "__all__"
                else os.path.join(self._records_path, name)
            )
            if not os.path.exists(dst):
                os.replace(src, dst)
            else:
                shutil.rmtree(src)
        try:
            os.rmdir(old_root)
        except OSError:
            pass

    def create_views(self, prefix: str = "fs_") -> None:
        """Register the store's tables as temp views so the whole
        surface is queryable with ``spark.sql`` — ``{prefix}features``,
        ``{prefix}groups``, ``{prefix}records``, plus
        ``{prefix}history`` (the record-table commit log: version, ts,
        op, files added/removed — Delta's DESCRIBE HISTORY shape) and
        one typed wide view per group,
        ``{prefix}wide_<group_name>_v<version>`` (non-alphanumeric
        name characters become ``_``). Views are lazy where possible:
        each query re-reads current registry/record state; the history
        view is a snapshot taken here (re-run create_views to refresh
        it)."""
        self.features_df().createOrReplaceTempView(f"{prefix}features")
        self.groups_df().createOrReplaceTempView(f"{prefix}groups")
        self.records_df().createOrReplaceTempView(f"{prefix}records")
        for g in self._groups.values():
            safe = "".join(
                c if c.isalnum() else "_" for c in g.name
            )
            self.typed_records_df(g.id).createOrReplaceTempView(
                f"{prefix}wide_{safe}_v{g.version}"
            )
        hist = self.history()
        self.spark.createDataFrame(
            [
                (
                    h["version"],
                    h["ts"],
                    h["op"],
                    h["files_added"],
                    h["files_removed"],
                )
                for h in hist
            ],
            "version int, ts string, op string, "
            "files_added int, files_removed int",
        ).createOrReplaceTempView(f"{prefix}history")

    # ------------------------------------------------------------------
    # data plane: reads
    # ------------------------------------------------------------------

    def _live_entries(
        self,
        group_ids: Optional[list[str]] = None,
        version: Optional[int] = None,
        as_of_commit: datetime | str | None = None,
        ts_lte: datetime | None = None,
        entity_ids: Optional[list[str]] = None,
        tag: Optional[str] = None,
    ) -> list[dict[str, Any]]:
        """The manifest entries a read must open: the live file set at
        the pinned version (``tag`` / ``version`` / ``as_of_commit``,
        checked against the vacuum watermark), pruned driver-side to
        the ``group_ids`` partitions, to files whose ``min_ts`` is at
        or before ``ts_lte``, and to files whose bloom admits one of
        ``entity_ids``. Every record read resolves its files here, so
        each pruning and time-travel rule is defined once.
        """
        if tag is not None:
            if version is not None or as_of_commit is not None:
                raise ValueError(
                    "pass tag= alone, not with version=/as_of_commit="
                )
            tags = self.list_tags()
            if tag not in tags:
                raise ValueError(f"Tag {tag!r} does not exist")
            version = tags[tag]
        if version is not None and as_of_commit is not None:
            raise ValueError("pass version= or as_of_commit=, not both")
        if version is not None and version not in self._log.versions():
            # Same contract as Delta's VERSION AS OF: asking for a
            # version that never existed (or was never committed) is a
            # caller bug, not an empty result.
            raise ValueError(
                f"Record-table version {version} does not exist "
                f"(latest: {self._log.latest_version()})"
            )
        if version is not None:
            wm = self._vacuum_watermark()
            if (
                wm is not None
                and version < wm
                # a tagged version below the horizon is a protected
                # island — its files survived vacuum by the tag rule
                and version not in set(self.list_tags().values())
            ):
                raise ValueError(
                    f"Record-table version {version} was vacuumed; "
                    f"earliest time-travelable version is {wm}"
                )
        if as_of_commit is not None:
            version = self._log.version_as_of(_coerce_ts(as_of_commit))
            if version is None:  # before the first commit
                entries: list[dict[str, Any]] = []
            else:
                # Same watermark contract as the version= branch: an
                # instant that resolves below the vacuum horizon gets
                # the clear earliest-travelable error, not a
                # missing-file scan failure mid-query.
                wm = self._vacuum_watermark()
                if wm is not None and version < wm:
                    raise ValueError(
                        f"as_of_commit={as_of_commit!r} resolves to "
                        f"record-table version {version}, which was "
                        f"vacuumed; earliest time-travelable version "
                        f"is {wm}"
                    )
                entries = self._log.live_entries(version)
        else:
            entries = self._log.live_entries(version)
        if group_ids is not None:
            prefixes = tuple(f"group_id={g}/" for g in group_ids)
            entries = [e for e in entries if e["path"].startswith(prefixes)]
        if ts_lte is not None:
            # Data skipping via manifest stats (Delta-style): an as-of
            # read drops every file whose min timestamp is already past
            # the cutoff — no footer reads, no scan, pruned driver-side
            # from the commit log alone. Files without stats stay in.
            cutoff = _naive_utc(ts_lte).isoformat()
            entries = [
                e
                for e in entries
                if e.get("min_ts") is None or e["min_ts"] <= cutoff
            ]
        if entity_ids is not None:
            # Bloom-index skipping: an equality lookup on a
            # high-cardinality id is invisible to min/max stats, so each
            # add-entry carries a bloom over the file's distinct
            # entity_ids; files the bloom proves id-free drop here,
            # driver-side. Entries without a bloom stay in (safe), and
            # the reader's row-level predicate still applies — a bloom
            # false positive costs one extra file read, never a wrong
            # result.
            entries = [
                e
                for e in entries
                if "entity_bloom" not in e
                or _bloom_maybe_contains(e["entity_bloom"], *entity_ids)
            ]
        return entries

    def records_df(
        self,
        group_id: Optional[str] = None,
        version: Optional[int] = None,
        as_of_commit: datetime | str | None = None,
        ts_lte: datetime | None = None,
        entity_id: Optional[str] = None,
        tag: Optional[str] = None,
    ) -> DataFrame:
        """The record table at a pinned version (snapshot read).
        ``tag=`` reads the version a named tag pins
        (:meth:`tag_version`) — 'give me exactly what
        training-2026-08 saw'.

        The file set comes from the commit log, resolved once by
        :meth:`_live_entries` — concurrent commits cannot change the
        files under a running query, and uncommitted/orphaned files are
        never read. Time
        travel: ``version=`` pins an exact table version,
        ``as_of_commit=`` the latest version committed at or before a
        wall-clock instant (Delta's `VERSION AS OF` / `TIMESTAMP AS
        OF`). Filtering by ``group_id`` prunes the file list to one
        partition directory driver-side; ``entity_id=`` additionally
        drops every file whose manifest bloom proves the id absent
        (together, the Spark analogue of the reference's
        (group_id, entity_id) index, feature_store.py:190).

        An empty store reads as an empty DataFrame; any real read error
        (corruption, permissions) propagates rather than silently
        looking like zero records.
        """
        entries = self._live_entries(
            group_ids=None if group_id is None else [group_id],
            version=version,
            as_of_commit=as_of_commit,
            ts_lte=ts_lte,
            entity_ids=None if entity_id is None else [str(entity_id)],
            tag=tag,
        )
        files = [e["path"] for e in entries]
        if not files:
            df = self.spark.createDataFrame([], RECORDS_SCHEMA)
        else:
            df = (
                self.spark.read.schema(RECORDS_SCHEMA)
                .option("basePath", self._records_path)
                .parquet(*(os.path.join(self._records_path, f) for f in files))
            )
        if group_id is not None:
            df = df.where(F.col("group_id") == F.lit(group_id))
        if entity_id is not None:
            df = df.where(F.col("entity_id") == F.lit(str(entity_id)))
        return df

    def typed_records_df(
        self,
        group_id: str,
        version: Optional[int] = None,
        as_of_commit: datetime | str | None = None,
    ) -> DataFrame:
        """Typed WIDE view of a group's records — one column per
        declared feature, cast from the canonical JSON map cells per
        the registry dtype (the SURVEY §1.5 layer over the map-column
        storage: parse once at view construction, downstream plans see
        real types and never re-touch JSON).

        Casts are dtype-directed and best-effort, matching the
        reference's advisory typing (dtypes are never enforced on
        write — feature_store.py:322-370): ``int``→bigint,
        ``float``→double, ``bool``→boolean, ``str``→string (JSON-
        decoded, escapes intact), ``list``→array<string>; a cell that
        cannot coerce reads as NULL rather than failing the scan. A
        feature deactivated or deleted from the registry falls back to
        the decoded-string form. Open schema survives alongside:
        undeclared keys land in an ``_extras`` map column instead of
        being dropped.

        Same snapshot semantics as :meth:`records_df` (``version=`` /
        ``as_of_commit=`` pin the table version).
        """
        g = self._require_group(group_id)
        df = self.records_df(
            group_id, version=version, as_of_commit=as_of_commit
        )

        def _decode_str(cell):
            # JSON-decode a scalar by parsing it as a 1-element array:
            # handles quotes, escapes, and unicode exactly (from_json
            # does not accept bare atomic schemas for malformed input).
            return F.from_json(
                F.concat(F.lit("["), cell, F.lit("]")), "array<string>"
            )[0]

        cols = [
            F.col("id"),
            F.col("entity_id"),
            F.col("timestamp"),
            F.col("version"),
        ]
        for name in g.features:
            cell = F.element_at("feature_values", name)
            feat = self._features.get(name)
            dtype = feat.dtype if feat is not None else "str"
            if dtype == "int":
                typed = cell.try_cast("long")
            elif dtype == "float":
                typed = cell.try_cast("double")
            elif dtype == "bool":
                typed = cell.try_cast("boolean")
            elif dtype == "list":
                typed = F.from_json(cell, "array<string>")
            else:
                typed = _decode_str(cell)
            cols.append(typed.alias(name))
        declared = F.array(*[F.lit(n) for n in g.features])
        cols.append(
            F.map_filter(
                F.col("feature_values"),
                lambda k, _v: ~F.array_contains(declared, k),
            ).alias("_extras")
        )
        return df.select(*cols)

    def _latest_snapshots(
        self,
        group_ids: list[str],
        entity_ids: list[str],
        as_of: Optional[datetime],
        version: Optional[int] = None,
    ) -> dict[tuple[str, str], dict[str, str]]:
        """The newest record per ``(group_id, entity_id)`` over
        ``group_ids`` × ``entity_ids`` at table ``version`` as of
        ``as_of``, read with pyarrow on the driver — no Spark job.
        Returns each winner's raw ``feature_values`` map (JSON-encoded
        cells).

        :meth:`_live_entries` resolves the files; each is read by
        :func:`_read_serving_rows` (the row groups that can hold the
        entities) and the pick is
        :func:`operators.asof.latest_as_of_arrow`, the driver form of
        the as-of top-1. The group comes from the partition directory.
        """
        want = sorted(set(entity_ids))
        entries = self._live_entries(
            group_ids=group_ids,
            version=version,
            ts_lte=as_of,
            entity_ids=want,
        )
        parts = (
            (
                e["path"].split("/", 1)[0][len("group_id="):],
                _read_serving_rows(
                    os.path.join(self._records_path, e["path"]), want
                ),
            )
            for e in entries
        )
        best = latest_as_of_arrow(
            parts, "entity_id", want, "feature_values", as_of=as_of
        )
        return {key: dict(fv or ()) for key, fv in best.items()}

    def get_features(
        self,
        group_id: str,
        entity_id: str,
        as_of: datetime | str | None = None,
        table_version: Optional[int] = None,
    ) -> Optional[dict[str, Any]]:
        """As-of point read: the latest snapshot with ts <= as_of,
        returned verbatim (snapshot-wins — reference
        feature_store.py:372-409). Missing entity → None.

        The read is bitemporal: ``as_of`` pins VALUE time (which
        snapshot was current), ``table_version`` pins COMMIT time
        (what the table itself contained at that version — time
        travel). "What did we believe user X's features were, as of
        last Tuesday's table?" is ``table_version=`` + ``as_of=``
        together; an audit can distinguish late-arriving data from
        data present all along.

        No Spark job: the commit log prunes the files to the group's
        partition, the ``as_of`` stats and the entity's bloom, and
        pyarrow reads those on the driver (:meth:`_latest_snapshots`),
        the one-key case of the point-in-time join's read.
        """
        self._require_group(group_id)
        as_of_dt = _coerce_ts(as_of)
        eid = str(entity_id)
        snap = self._latest_snapshots(
            [group_id], [eid], as_of_dt, version=table_version
        ).get((group_id, eid))
        if snap is None:
            return None
        return {k: decode_value(v) for k, v in snap.items()}

    def point_in_time_join(
        self,
        entities: list[str],
        feature_groups: list[str],
        timestamp: datetime | str | None = None,
    ) -> list[dict[str, Any]]:
        """Point-in-time join with the reference's exact semantics
        (feature_store.py:411-448; SURVEY.md §2.3):

        * one row per input entity, **input order preserved**;
        * per (group, entity): snapshot-wins as-of read;
        * later group in the list overwrites earlier on key collision
          (``row.update``), while null-fill never clobbers
          (``setdefault``);
        * null-fill applies only to groups whose as-of read returned
          no (or an empty) snapshot for that entity — a present
          snapshot that merely omits a declared feature leaves the key
          absent, exactly like the reference's ``if values:
          row.update(values) else: setdefault(None)``
          (feature_store.py:433-442);
        * entities with no data still get a row with group features None.

        Unlike the reference's E×G nested loop of point queries, the
        reads are one pass with no Spark job: the commit log prunes the
        files to the listed groups' partitions, the cutoff's stats and
        the entities' blooms (each decoded once), and pyarrow reads
        them on the driver, keeping at most E×G snapshots
        (:meth:`_latest_snapshots`). Precedence and null-fill then run
        as the reference's own loop, O(E×G×F).
        """
        groups = [self._require_group(gid) for gid in feature_groups]
        as_of_dt = _coerce_ts(timestamp) or _utcnow()
        ents = [str(e) for e in entities]

        snaps = {
            key: {k: decode_value(v) for k, v in fv.items()}
            for key, fv in self._latest_snapshots(
                feature_groups, ents, as_of_dt
            ).items()
        }
        out: list[dict[str, Any]] = []
        for e in ents:
            row: dict[str, Any] = {"entity_id": e}
            for g in groups:
                values = snaps.get((g.id, e))
                if values:
                    row.update(values)
                else:  # miss or an all-empty snapshot → null-fill
                    for fname in g.features:
                        row.setdefault(fname, None)
            out.append(row)
        return out

    # ------------------------------------------------------------------
    # statistics (reference feature_store.py:450-508)
    # ------------------------------------------------------------------

    def statistics(self, group_id: str) -> dict[str, Any]:
        """Per-feature stats for one group, distributed.

        Output shape and edge semantics match the reference
        (SURVEY.md §2.4): count includes non-numeric values,
        mean/min/max numeric-only with booleans as 0/1, mean rounded to
        6 places, null_count counts absent keys, empty group → zeroed
        stats for every declared feature.
        """
        group = self._require_group(group_id)
        recs = self.records_df(group_id)
        stats_rows = feature_statistics(recs, group.features).collect()
        by_feature = {r["feature"]: r for r in stats_rows}
        # Every record contributes one long-form row per declared
        # feature, so total = count + null_count of any feature — no
        # second scan. Empty stats → empty group (or no declared
        # features, where one cheap count is unavoidable).
        if stats_rows:
            total = stats_rows[0]["count"] + stats_rows[0]["null_count"]
        elif group.features:
            total = 0
        else:
            total = recs.count()

        def _minmax(r, key):
            # The reference's min()/max() return the winning element
            # with its own type (feature_store.py:491-492): mixed
            # [1, 2.5] → min is int 1, max is float 2.5.
            v = r[key]
            if v is not None and r[f"{key}_is_int"] and v == int(v):
                return int(v)
            return v

        features_out = {}
        for fname in group.features:
            r = by_feature.get(fname)
            if r is None:
                features_out[fname] = {
                    "count": 0, "null_count": total,
                    "mean": None, "min": None, "max": None,
                }
            else:
                features_out[fname] = {
                    "count": r["count"],
                    "null_count": r["null_count"],
                    "mean": r["mean"],
                    "min": _minmax(r, "min"),
                    "max": _minmax(r, "max"),
                }
        return {
            "group_id": group.id,
            "group_name": group.name,
            "total_records": total,
            "features": features_out,
        }
