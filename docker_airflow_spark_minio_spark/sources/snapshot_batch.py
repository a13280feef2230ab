"""BATCH reads of snapshot tables through the Spark Python DataSource
API -- the missing half of :mod:`..streaming.table_source`: with it,
``spark.read.format("snapshot_table").option("path", root)`` returns a
DataFrame, so a snapshot table can be registered as a TEMP VIEW and
consumed with plain ``spark.sql`` -- the reference's primary
consumption pattern (its gold job queries the silver table via SQL
over a named catalog table, /root/reference/spark/jobs/job_gold.py:71-88).

Two design problems and how they are solved:

* **Planning runs in a Python worker with NO SparkSession**, but all
  the scan-planning logic (delta-chain manifest resolution, sharded
  checkpoints, hidden-partitioning segment pruning, zone maps, bloom
  probes, file-stats sidecars) lives on
  :class:`~..snapshots.SnapshotStore` and occasionally calls back into
  Spark (JVM filesystem IO, 1-row transform-evaluation jobs, sidecar
  scans).  Rather than fork that logic -- a guaranteed drift source --
  :class:`LocalSnapshotPlanner` SUBCLASSES the store and overrides
  exactly the Spark-touching leaves: manifest/ref IO becomes plain
  ``open()`` (the source serves LOCAL table roots, like the streaming
  side), transform evaluation becomes a pinned pure-Python twin of the
  Catalyst expressions (xxhash64 bucket, truncate, time transforms --
  equality with ``F.xxhash64`` / ``escapePathName`` is pinned by
  tests, and anything the twin cannot evaluate falls back to "no
  pruning on this transform", which is sound), and sidecar pruning
  reads the stats parquet with pyarrow applying the very same
  inline-path decision functions per row.

* **SQL filters must reach the planner** or the SQL path loses the
  pruning the API path has.  :meth:`SnapshotTablePushdownReader.pushFilters`
  (Spark 4.1 Python DataSource filter pushdown) translates
  EqualTo/In into ``point_filter`` (partition-segment + bloom pruning,
  including hidden-partitioning transforms) and
  GreaterThan[OrEqual]/LessThan[OrEqual] into one-sided
  ``range_filter`` bounds (zone-map pruning), then returns EVERY
  filter as unhandled so Spark re-applies the exact predicates on top
  -- pruning is advisory, exactness never depends on it.

**Upstream one-slot-cache hazard (why pushdown is OPT-IN here).**
Spark 4.1's ``PythonDataSourceV2`` keeps ONE mutable ``readInfo``
(partitions + read function) per relation: the pushdown path
(``setReadInfo``) overwrites it with the PRUNED plan, while any scan
of the same relation whose predicates contain no pushable filter
bypasses the pushdown runner entirely (``pushdownFiltersInPython``
returns None when no filter is serializable) and serves the cached
slot via ``getOrCreateReadInfo`` -- i.e. a later UNFILTERED query on a
shared relation (a temp view, or re-collecting an unfiltered
DataFrame after a filtered one) silently returns the previous query's
pruned row set.  Verified against the shipped bytecode
(PythonDataSourceV2.setReadInfo / getOrCreateReadInfo,
PythonScanBuilder.pushFilters) and pinned by
tests/test_sql_snapshot_source.py::test_upstream_one_slot_cache_hazard
-- when an upstream Spark fixes the cache, that test fails and the
opt-in restriction can be lifted.  Until then:

* the DEFAULT reader does not implement ``pushFilters`` at all, so
  every plan of a shared view is the full (correct) scan; selective
  pruning is available SAFELY through explicit ``point_filter`` /
  ``range_filter`` READER OPTIONS (baked into the relation, identical
  for every scan of it -- the reference's gold-job shape, where the
  pipeline knows its partition predicate);
* automatic pushdown lives in :func:`~..streaming.table_source.snapshot_sql`,
  which registers FRESH single-query relations, runs one statement,
  and drops them -- the one-slot cache is never shared across
  statements.

Execution mirrors :meth:`SnapshotStore.read` semantics file-by-file:
one scan task per surviving data file, packed in plan order into at
most one input partition per core (executors scan the runs in
parallel, Arrow batches, data never routes through the driver),
field-id schema evolution resolved per directory epoch
(:func:`~..snapshots._epoch_fields`), merge-on-read equality AND
positional delete sets applied with sequence-number rules (delete sets
are small by contract -- O(keys) parquet -- so re-reading them per task
is bounded; a cluster deployment would broadcast them instead).

Scale note (100 TB posture): planning cost is O(matching manifest
shards + surviving files), the same as the API path; execution is one
Spark task per run of files, at most one run per core.  The Python
DataSource API has no column-pruning hook (filters only), so Spark's
own projection cannot reach the source; instead the ``columns`` READER
OPTION projects at the source (only the named columns decode and
surface -- option-filter and delete-key columns still decode for
masking, then drop), and
:func:`~..streaming.table_source.snapshot_sql` INFERS it per statement
from the referenced identifiers (conservative: a ``*`` outside
``COUNT(*)`` disables pruning).  Independent of projection, tasks
always prune at the parquet footer to the needed physical columns, so
dead/dropped file columns never leave the decoder.  The scan report
records ``n_cols_projected`` vs ``n_cols_table`` so projection is
assertable through the SQL path.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

# Hive path escaping twin: one definition for the whole package (the
# read planner here, the Spark-path writer via fsmeta.hive_partition_dir),
# JVM-parity-pinned by tests/test_sql_snapshot_source.py -- the charsets
# cannot drift between the two write paths.
from ..fsmeta import _HIVE_ESCAPE, escape_path_name  # noqa: F401
from ..snapshots import (
    DATA_DIR,
    MANIFEST_DIR,
    REFS_DIR,
    SHARDS_SUBDIR,
    SnapshotStore,
    _bloom_probe_positions,
    _epoch_fields,
    _point_values,
    _vdir_version,
)

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def check_local_root(root: str) -> str:
    """The snapshot_table DataSource reads manifests/files directly
    (no JVM round-trip), so it serves local/POSIX table roots only --
    scheme-qualified stores refuse loudly here, same contract as the
    streaming side.  ``file:`` URIs are NORMALIZED to plain paths (the
    session catalog qualifies a ``CREATE TABLE ... OPTIONS (path ...)``
    location to ``file:/...`` before handing it back to the source);
    a ``file://host/...`` form with a non-empty authority is refused."""
    if root.startswith("file:"):
        rest = root[len("file:"):]
        if rest.startswith("//") and not rest.startswith("///"):
            raise ValueError(
                f"non-local file URI authority in {root!r}; "
                "snapshot_table serves local table roots only"
            )
        root = "/" + rest.lstrip("/")
    if "://" in root:
        raise ValueError(
            "snapshot_table data source reads manifests/files directly "
            f"and supports local table roots only, got {root!r}; use "
            "SnapshotStore.read for scheme-qualified stores"
        )
    return root.rstrip("/")


# ---------------------------------------------------------------------------
# Pure-Python twins of the JVM expressions the planner needs
# ---------------------------------------------------------------------------

# XXH64 primes (public algorithm constants; Spark's XxHash64 is
# standard XXH64 with seed 42 over the value's physical encoding).
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
XXHASH_SEED = 42  # Spark's fixed xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_long(value: int, seed: int = XXHASH_SEED) -> int:
    """Spark ``xxhash64`` of a LongType value (signed result)."""
    h = (seed + _P5 + 8) & _M64
    h ^= (_rotl((value & _M64) * _P2 & _M64, 31) * _P1) & _M64
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    return _signed(_fmix(h))


def xxhash64_int(value: int, seed: int = XXHASH_SEED) -> int:
    """Spark ``xxhash64`` of a Byte/Short/Integer/Date value (4-byte
    lane, sign-extended to 32 bits like the JVM's int)."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _signed(_fmix(h))


def xxhash64_bytes(data: bytes, seed: int = XXHASH_SEED) -> int:
    """Spark ``xxhash64`` of a StringType value's UTF-8 bytes
    (standard XXH64 over the byte stream)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            w1 = int.from_bytes(data[i : i + 8], "little")
            w2 = int.from_bytes(data[i + 8 : i + 16], "little")
            w3 = int.from_bytes(data[i + 16 : i + 24], "little")
            w4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v1 = (_rotl((v1 + w1 * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + w2 * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + w3 * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + w4 * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _signed(_fmix(h))




def hive_dir_local(cols: list[str], vals: tuple) -> str:
    """Spark-less twin of :func:`~..fsmeta.hive_partition_dir`."""
    parts = []
    for c, v in zip(cols, vals):
        pv = HIVE_NULL if v is None else escape_path_name(str(v))
        parts.append(f"{escape_path_name(c)}={pv}")
    return "/".join(parts)


class _TransformUnsupported(Exception):
    """The pure evaluator cannot reproduce Catalyst's semantics for
    this (transform, value type) -- the planner skips pruning on it."""


_INT_TYPES = frozenset({"byte", "short", "integer"})
_EPOCH_DATE = datetime.date(1970, 1, 1)

#: Inclusive value range per integral type: a literal outside its
#: declared column width does not round-trip through Catalyst's cast
#: the way the twin's raw int would (wrap/ANSI-error), so the twin
#: refuses and the Spark evaluator decides (advisor round 13).
_INT_RANGES = {
    "byte": (-(1 << 7), (1 << 7) - 1),
    "short": (-(1 << 15), (1 << 15) - 1),
    "integer": (-(1 << 31), (1 << 31) - 1),
    "long": (-(1 << 63), (1 << 63) - 1),
}

#: Spark's string->integral cast accepts only an optional sign plus
#: ASCII digits; Python ``int()`` additionally accepts underscores and
#: unicode digits (which Spark casts to NULL) -- refuse those.
_ASCII_INT_RX = re.compile(r"[+-]?[0-9]+\Z")


def _coerce_literal(value, ftype: str):
    """Mirror ``_eval_transform``'s ``lit(value).cast(field type)`` for
    the types the pure evaluator supports; anything else refuses."""
    if isinstance(value, bool):
        raise _TransformUnsupported(ftype)
    if ftype in _INT_TYPES or ftype == "long":
        if isinstance(value, str):
            if not _ASCII_INT_RX.match(value):
                raise _TransformUnsupported(ftype)
            value = int(value)
        if not isinstance(value, int):
            raise _TransformUnsupported(ftype)
        lo, hi = _INT_RANGES[ftype]
        if not lo <= value <= hi:
            raise _TransformUnsupported(ftype)
        return value
    if ftype == "string":
        if isinstance(value, str):
            return value
        if isinstance(value, int):
            return str(value)
        raise _TransformUnsupported(ftype)
    if ftype == "date":
        if isinstance(value, datetime.datetime):
            raise _TransformUnsupported(ftype)
        if isinstance(value, datetime.date):
            return value
        if isinstance(value, str):
            try:
                return datetime.date.fromisoformat(value)
            except ValueError:
                raise _TransformUnsupported(ftype) from None
        raise _TransformUnsupported(ftype)
    # timestamps (session-timezone semantics) and exotic types stay on
    # the Spark evaluator; refusing here just disables pruning (sound).
    raise _TransformUnsupported(ftype)


def eval_transform_pure(spec: dict, value, ftype: str):
    """Pure-Python twin of ``_apply_transforms`` for one literal: the
    derived partition value, or :class:`_TransformUnsupported` when the
    Catalyst semantics cannot be reproduced exactly (callers then skip
    pruning on this transform -- sound by omission).  Equality with the
    Spark expressions is pinned by tests."""
    if value is None:
        raise _TransformUnsupported("null literal")
    v = _coerce_literal(value, ftype)
    kind = spec["kind"]
    if kind == "bucket":
        if ftype in _INT_TYPES:
            h = xxhash64_int(v)
        elif ftype == "long":
            h = xxhash64_long(v)
        elif ftype == "date":
            h = xxhash64_int((v - _EPOCH_DATE).days)
        elif ftype == "string":
            h = xxhash64_bytes(v.encode("utf-8"))
        else:
            raise _TransformUnsupported(ftype)
        return h % spec["arg"]  # Python % == pmod for positive modulus
    if kind == "truncate":
        if ftype == "string":
            return v[: spec["arg"]]
        if ftype in _INT_TYPES or ftype == "long":
            return v - (v % spec["arg"])
        raise _TransformUnsupported(ftype)
    if isinstance(v, datetime.date) and not isinstance(
        v, datetime.datetime
    ):
        if kind == "years":
            return v.year - 1970
        if kind == "months":
            return (v.year - 1970) * 12 + v.month - 1
        if kind == "days":
            return (v - _EPOCH_DATE).days
    raise _TransformUnsupported(f"{kind}({ftype})")


# ---------------------------------------------------------------------------
# Spark-less planner
# ---------------------------------------------------------------------------


class LocalSnapshotPlanner(SnapshotStore):
    """A :class:`~..snapshots.SnapshotStore` that plans WITHOUT a
    SparkSession (``spark=None``): every Spark-touching leaf is
    overridden -- manifest/shard/ref IO with ``open()``, Hive escaping
    and transform evaluation with the pinned pure twins, sidecar
    pruning with pyarrow.  All resolution/pruning LOGIC (delta chains,
    sharded checkpoints, segment requirements, zone maps, blooms) is
    inherited, so the SQL path and the API path cannot drift.

    Construct with :meth:`for_root`; only the planning surface
    (``versions``/``current_version``/``resolve_ref``/``plan_dirs``/
    ``plan_files``/``resolve_as_of_ts``) is supported -- write paths
    would dereference the absent session and fail loudly."""

    @classmethod
    def for_root(cls, root: str) -> "LocalSnapshotPlanner":
        return cls(spark=None, root=check_local_root(root))

    # -- IO leaves ----------------------------------------------------------

    def versions(self) -> list[int]:
        try:
            names = os.listdir(f"{self.root}/{MANIFEST_DIR}")
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            if n.startswith("v") and n.endswith(".json"):
                try:
                    out.append(int(n[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _read_manifest_raw(self, version: int) -> dict:
        with open(
            f"{self.root}/{MANIFEST_DIR}/v{version}.json", encoding="utf-8"
        ) as fh:
            return json.load(fh)

    def _read_shard(self, name: str) -> dict:
        with open(
            f"{self.root}/{MANIFEST_DIR}/{SHARDS_SUBDIR}/{name}",
            encoding="utf-8",
        ) as fh:
            return json.load(fh)

    def tags(self) -> dict[str, int]:
        try:
            names = os.listdir(f"{self.root}/{REFS_DIR}")
        except FileNotFoundError:
            return {}
        out: dict[str, int] = {}
        for n in names:
            if not n.endswith(".json") or n.startswith("."):
                continue
            try:
                with open(
                    f"{self.root}/{REFS_DIR}/{n}", encoding="utf-8"
                ) as fh:
                    ref = json.load(fh)
            except ValueError:
                continue  # torn writer
            out[ref["name"]] = int(ref["version"])
        return out

    # -- expression leaves ---------------------------------------------------

    def _hive_dir(self, cols: list[str], vals: tuple) -> str:
        return hive_dir_local(cols, vals)

    def _field_type(self, spec: dict, manifest: dict) -> str:
        for f in json.loads(manifest["schema"])["fields"]:
            if f["name"] == spec["src"]:
                t = f["type"]
                return t if isinstance(t, str) else "complex"
        return "missing"

    def _try_eval_transform(self, spec: dict, value, manifest: dict):
        try:
            return eval_transform_pure(
                spec, value, self._field_type(spec, manifest)
            )
        except _TransformUnsupported:
            return None

    def _try_eval_transform_many(
        self, spec: dict, values: list, manifest: dict
    ) -> list | None:
        ftype = self._field_type(spec, manifest)
        try:
            return [eval_transform_pure(spec, v, ftype) for v in values]
        except _TransformUnsupported:
            return None

    # -- sidecar pruning (pyarrow) --------------------------------------------

    def _plan_files_sidecar(
        self,
        sidecar_by_vdir: dict[str, dict],
        deferred: list[tuple[str, str]],
        file_ranges: list[tuple],
        points: dict,
    ) -> dict[str, tuple[int, list[str]]]:
        """Per-row pyarrow evaluation of the stats sidecars, running the
        SAME inline decision functions the manifest path uses
        (``_provably_disjoint`` / bloom probe positions), so decisions
        match the Spark sidecar scan bit-for-bit.  Driver-side and
        O(files of the deferred commits) -- acceptable for the local
        SQL path; the Spark path keeps this executor-side."""
        want = {f"{vd}/{part}" if part else vd for vd, part in deferred}
        out: dict[str, tuple[int, list[str]]] = {}
        for vd in sorted({vd for vd, _part in deferred}):
            s = sidecar_by_vdir[vd]
            tab = _read_parquet_dir(f"{self.root}/{s['path']}")
            if tab is None:
                continue
            rows = tab.to_pylist()
            for row in rows:
                dkey = row["dkey"]
                if dkey not in want:
                    continue
                total, keep = out.get(dkey, (0, []))
                total += 1
                col_stats = {
                    c: (row.get(f"mn_{c}"), row.get(f"mx_{c}"))
                    for c in s["stats_cols"]
                }
                excluded = self._provably_disjoint(col_stats, file_ranges)
                if not excluded:
                    for col, value in points.items():
                        if col not in s["bloom_cols"]:
                            continue
                        positions = row.get(f"bl_{col}")
                        if positions is None:
                            continue
                        pos_set = set(positions)
                        if all(
                            any(
                                p not in pos_set
                                for p in _bloom_probe_positions(
                                    v, s["bloom_bits"]
                                )
                            )
                            for v in _point_values(value)
                        ):
                            excluded = True
                            break
                if not excluded:
                    keep.append(row["fname"])
                out[dkey] = (total, keep)
        return {k: (t, sorted(fs)) for k, (t, fs) in out.items()}


#: worker-process cache of delete-set tables (path -> pa.Table | None):
#: delete-set dirs are IMMUTABLE once a committed manifest references
#: them (attempt-unique names, written before the claim), so a reused
#: Python worker reads each set ONCE per process instead of once per
#: task -- the single-process stand-in for "broadcast the delete sets
#: once per executor" (module docstring).  Content is O(keys) by
#: contract; the cache is size-bounded anyway.
_DELETE_SET_CACHE: dict[str, object] = {}


def _read_delete_set(path: str):
    if path in _DELETE_SET_CACHE:
        return _DELETE_SET_CACHE[path]
    tab = _read_parquet_dir(path)
    while len(_DELETE_SET_CACHE) >= 64:
        # evict OLDEST (dict preserves insertion order): a window
        # spanning >64 sets keeps its hot tail instead of thrashing a
        # full re-read of every set per trigger
        _DELETE_SET_CACHE.pop(next(iter(_DELETE_SET_CACHE)))
    _DELETE_SET_CACHE[path] = tab
    return tab


#: per-SET / total byte caps under which a delete set is read ONCE at
#: plan time and shipped to the scan tasks INSIDE the task payload as
#: an Arrow IPC buffer -- the broadcast equivalent the Python
#: DataSource API allows.  Tasks then materialize the frame from
#: memory (zero disk IO per worker process); sets above the cap stay
#: path-referenced and served by the per-process cache.  The caps are
#: deliberately small: every input partition (a run of files) carries
#: its own copy of the ctx (the API has no shared-broadcast hook), so a
#: large inline set would multiply across the plan.
INLINE_DELETE_SET_BYTES = 256 * 1024
INLINE_DELETE_TOTAL_BYTES = 1024 * 1024


def _dir_bytes_local(path: str) -> int | None:
    """Total file bytes under a local dir (None when missing)."""
    total = 0
    seen = False
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
                seen = True
            except OSError:
                return None
    return total if seen else None


def inline_delete_sets(root: str, dsets: list[dict]) -> list[dict]:
    """Plan-time leg of the inline-payload path: read each small delete
    set ONCE (through the planner process's cache) and attach its Arrow
    IPC bytes to the set descriptor; large sets pass through untouched.
    One materialization per PLAN for capped sets -- pinned by test."""
    import pyarrow as pa

    out: list[dict] = []
    total = 0
    for d in dsets:
        dd = dict(d)
        path = f"{root}/{DATA_DIR}/{d['dir']}"
        sz = _dir_bytes_local(path)
        if (
            sz is not None
            and sz <= INLINE_DELETE_SET_BYTES
            and total + sz <= INLINE_DELETE_TOTAL_BYTES
        ):
            tab = _read_delete_set(path)
            if tab is not None:
                sink = pa.BufferOutputStream()
                with pa.ipc.new_stream(sink, tab.schema) as w:
                    w.write_table(tab)
                dd["inline_ipc"] = sink.getvalue().to_pybytes()
                total += len(dd["inline_ipc"])
        out.append(dd)
    return out


def _delete_table(root: str, d: dict):
    """Task-side delete-set materialization: inline IPC payload when
    the planner shipped one (memory-only; cached per process so N
    tasks deserialize once), else the path-referenced parquet read."""
    path = f"{root}/{DATA_DIR}/{d['dir']}"
    ipc = d.get("inline_ipc")
    if ipc is None:
        return _read_delete_set(path)
    if path in _DELETE_SET_CACHE:
        return _DELETE_SET_CACHE[path]
    import pyarrow as pa

    tab = pa.ipc.open_stream(ipc).read_all()
    while len(_DELETE_SET_CACHE) >= 64:
        _DELETE_SET_CACHE.pop(next(iter(_DELETE_SET_CACHE)))
    _DELETE_SET_CACHE[path] = tab
    return tab


def _read_parquet_dir(path: str):
    """All parquet files of one directory as a single pyarrow table
    (skipping Spark's _SUCCESS/.crc companions); None when empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        names = sorted(
            n
            for n in os.listdir(path)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    except FileNotFoundError:
        return None
    if not names:
        return None
    tabs = [pq.read_table(f"{path}/{n}") for n in names]
    return pa.concat_tables(tabs) if len(tabs) > 1 else tabs[0]


# ---------------------------------------------------------------------------
# Arrow schema plumbing (shared with the streaming source)
# ---------------------------------------------------------------------------

_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")


def arrow_type(t, tz: str):
    """Spark schema-JSON type -> pyarrow type.  Timestamps carry the
    SESSION timezone (Spark's TIMESTAMP is an instant rendered in the
    session zone -- callers thread ``spark.sql.session.timeZone``
    through the ``session_tz`` option).  Unknown types fail LOUDLY --
    a silent string default would surface as a runtime schema mismatch
    far from the cause."""
    import pyarrow as pa

    if isinstance(t, str):
        scalars = {
            "byte": pa.int8(),
            "short": pa.int16(),
            "integer": pa.int32(),
            "long": pa.int64(),
            "float": pa.float32(),
            "double": pa.float64(),
            "string": pa.string(),
            "boolean": pa.bool_(),
            "date": pa.date32(),
            "binary": pa.binary(),
        }
        if t in scalars:
            return scalars[t]
        if t == "timestamp":
            return pa.timestamp("us", tz=tz)
        if t == "timestamp_ntz":
            return pa.timestamp("us")
        m = _DECIMAL_RE.match(t)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
        raise ValueError(
            f"snapshot_table source: unsupported column type {t!r} "
            "(refusing loudly rather than mis-typing the scan)"
        )
    kind = t.get("type")
    if kind == "array":
        return pa.list_(arrow_type(t["elementType"], tz))
    if kind == "struct":
        return pa.struct(
            [(f["name"], arrow_type(f["type"], tz)) for f in t["fields"]]
        )
    if kind == "map":
        return pa.map_(
            arrow_type(t["keyType"], tz), arrow_type(t["valueType"], tz)
        )
    raise ValueError(
        f"snapshot_table source: unsupported column type {t!r}"
    )


def parse_partition_value(raw: str | None, t, tz: str):
    """A Hive directory-segment string back to a typed Python value.
    Timestamp segments are written by Spark in the SESSION timezone --
    parse them under ``tz`` (the advisor-flagged fix: a hard-coded UTC
    shifted values for non-UTC sessions)."""
    if raw is None:
        return None
    if t == "timestamp":
        from zoneinfo import ZoneInfo

        return datetime.datetime.fromisoformat(raw).replace(
            tzinfo=ZoneInfo(tz)
        )
    if t == "timestamp_ntz":
        return datetime.datetime.fromisoformat(raw)
    if t == "date":
        return datetime.date.fromisoformat(raw)
    if t == "boolean":
        return raw == "true"
    if t in ("byte", "short", "integer", "long"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "string":
        return raw
    raise ValueError(
        f"snapshot_table source: unsupported partition column type {t!r}"
    )


# ---------------------------------------------------------------------------
# Batch reader
# ---------------------------------------------------------------------------


class _TaskRun(InputPartition):
    """One Spark task's input: a contiguous run of per-file scan tasks,
    read in order by one ``read()`` call.  A Python DataSource task
    costs about 0.25 CPU-s whatever it reads (worker hand-off, unpickle,
    Arrow stream set-up), so the planners pack their per-file tasks
    into at most one run per core (:func:`pack_runs`).  The file tasks
    of a plan share their table context by reference, and pickle
    memoizes shared objects, so the context is written once per run."""

    def __init__(self, tasks: list):
        self.tasks = tasks


def pack_runs(tasks: list) -> list[_TaskRun]:
    """Split ``tasks`` (objects with a ``path``), in order, into at most
    ``min(len(tasks), cores)`` contiguous runs of roughly equal bytes.
    The count comes from the planner process's CPU affinity: planning
    runs in a Python worker without a SparkContext to ask."""
    n = min(len(tasks), len(os.sched_getaffinity(0)))
    weights = [max(os.path.getsize(t.path), 1) for t in tasks]
    rest = sum(weights)  # bytes not yet in a closed run
    runs: list[_TaskRun] = []
    cur: list = []
    acc = 0
    for i, (t, w) in enumerate(zip(tasks, weights)):
        cur.append(t)
        acc += w
        left = n - len(runs) - 1  # runs still to open after this one
        if left and (
            acc * (left + 1) >= rest  # this run has its share
            or len(tasks) - i - 1 == left  # one file per remaining run
        ):
            runs.append(_TaskRun(cur))
            rest -= acc
            cur, acc = [], 0
    if cur:
        runs.append(_TaskRun(cur))
    return runs


class _BatchFilePartition:
    """One data file's scan task: everything the executor needs,
    primitives only.  Spark reads it inside a :class:`_TaskRun`."""

    def __init__(
        self,
        path: str,
        rel_path: str,
        part_values: list,
        epoch: int,
        ctx: dict,
    ):
        self.path = path
        self.rel_path = rel_path  # data-root-relative (vdir/part/fname)
        self.part_values = part_values  # [(col, raw_string_or_None)]
        self.epoch = epoch  # _vdir_version of the owning dir
        self.ctx = ctx  # shared table context (schema, deletes, tz)


class SnapshotTableBatchReader(DataSourceReader):
    """Batch half of the ``snapshot_table`` Python DataSource.  Options:
    ``path`` (table root, local), ``as_of`` / ``ref`` / ``as_of_ts``
    (time travel, mutually exclusive -- same contract as
    :meth:`SnapshotStore.read`), ``session_tz`` (the session timezone
    for timestamp columns; the register helpers thread it through),
    ``point_filter`` / ``range_filter`` (JSON-encoded EXPLICIT pruning
    predicates, the safe-for-shared-views pruning path -- see the
    module docstring's one-slot-cache note; the matching exact filters
    are applied by this reader's tasks, so option-pruned views return
    exactly the predicate's rows), ``report_path`` (optional: planning
    writes a JSON scan report -- pruned/total file counts and the
    effective filters -- so tests and observability can assert pruning
    THROUGH the SQL path).

    This base class deliberately does NOT implement ``pushFilters``
    (see module docstring); :class:`SnapshotTablePushdownReader` adds
    it for single-query relations.

    Fidelity note: partition columns surface with their DECLARED
    manifest-schema types.  ``SnapshotStore.read`` leaves Spark's
    path-value type inference on, so a string partition column whose
    values look numeric comes back int THERE but string HERE -- this
    reader is the schema-faithful one (Iceberg behavior); results are
    otherwise identical."""

    def __init__(self, root: str, options: dict):
        self.root = check_local_root(root)
        if options.get("mode") == "changelog":
            raise ValueError(
                "mode=changelog is a STREAMING-only option "
                "(spark.readStream); batch consumers read changes via "
                "SnapshotStore.read_changes"
            )
        self.session_tz = options.get("session_tz", "UTC")
        self.report_path = options.get("report_path")
        planner = LocalSnapshotPlanner.for_root(self.root)
        selectors = [
            k for k in ("as_of", "ref", "as_of_ts") if options.get(k)
        ]
        if len(selectors) > 1:
            raise ValueError(
                "pass at most one of as_of / ref / as_of_ts"
            )
        if options.get("as_of"):
            self.version = int(options["as_of"])
        elif options.get("ref"):
            self.version = planner.resolve_ref(options["ref"])
        elif options.get("as_of_ts"):
            self.version = planner.resolve_as_of_ts(
                int(options["as_of_ts"])
            )
        else:
            v = planner.current_version()
            if v is None:
                raise ValueError(
                    f"no snapshots committed under {self.root}"
                )
            self.version = v
        # explicit option-level pruning (safe on shared relations:
        # identical for every scan of this relation by construction)
        self._opt_points: dict = (
            json.loads(options["point_filter"])
            if options.get("point_filter")
            else {}
        )
        self._opt_ranges: list[tuple] = [
            (c, lo, hi)
            for c, lo, hi in (
                json.loads(options["range_filter"])
                if options.get("range_filter")
                else []
            )
        ]
        # column PROJECTION (the Python DataSource API has no pruning
        # hook, so this is the option-level stand-in): only these
        # columns surface AND decode -- JSON list or comma-separated
        self.columns: list[str] | None = None
        if options.get("columns"):
            raw = options["columns"]
            cols = (
                json.loads(raw)
                if raw.lstrip().startswith("[")
                else [c.strip() for c in raw.split(",") if c.strip()]
            )
            self.columns = list(dict.fromkeys(cols))  # de-dup, keep order
            if not self.columns:
                raise ValueError("columns option must name >= 1 column")
        if self._opt_points or self._opt_ranges or self.columns:
            # a typo'd filter column would prune nothing AND apply
            # nothing -- the view would silently serve the whole table;
            # a typo'd projection column would silently vanish;
            # validate against the resolved version's schema instead
            schema_cols = {
                f["name"]
                for f in json.loads(
                    planner._read_manifest(self.version)["schema"]
                )["fields"]
            }
            bad = sorted(
                (
                    set(self._opt_points)
                    | {c for c, _lo, _hi in self._opt_ranges}
                    | set(self.columns or [])
                )
                - schema_cols
            )
            if bad:
                raise ValueError(
                    f"point_filter/range_filter/columns names {bad} not "
                    f"in the table schema {sorted(schema_cols)}"
                )
        # pushdown state, filled only on the pushdown subclass
        self._eq: dict[str, set] = {}
        self._lo: dict[str, object] = {}
        self._hi: dict[str, object] = {}

    @staticmethod
    def _tighten(prev, new, pick):
        if new is None:
            return prev
        if prev is None:
            return new
        try:
            return pick(prev, new)
        except TypeError:
            return prev

    def _effective_filters(self) -> tuple[dict, list[tuple]]:
        points = {
            c: (next(iter(vs)) if len(vs) == 1 else sorted(vs))
            for c, vs in self._eq.items()
        }
        for c, v in self._opt_points.items():
            points.setdefault(c, v)
        ranges = [
            (c, self._lo.get(c), self._hi.get(c))
            for c in sorted(set(self._lo) | set(self._hi))
            if c not in points
        ]
        ranges += [
            (c, lo, hi)
            for c, lo, hi in self._opt_ranges
            if c not in points
        ]
        return points, ranges

    # -- planning (Python worker, manifest metadata only) ---------------------

    def partitions(self):
        planner = LocalSnapshotPlanner.for_root(self.root)
        points, ranges = self._effective_filters()
        manifest, units, n_skipped, n_total = planner.plan_files(
            as_of=self.version,
            range_filter=ranges or None,
            point_filter=points or None,
        )
        schema_log = manifest.get("schema_log")
        dsets = inline_delete_sets(
            self.root,
            sorted(
                manifest.get("delete_sets") or [],
                key=lambda d: int(d["version"]),
            ),
        )
        ctx = {
            "root": self.root,
            "schema_json": manifest["schema"],
            "schema_log": schema_log,
            "delete_sets": dsets,
            "session_tz": self.session_tz,
            # OPTION filters are invisible to Spark, so tasks apply
            # them exactly (pushdown filters are Spark-reapplied and
            # deliberately absent here)
            "exact_points": self._opt_points,
            "exact_ranges": self._opt_ranges,
            # OPTION projection: only these columns surface (filter
            # and delete-key columns still decode for masking)
            "columns": self.columns,
        }
        parts: list[_BatchFilePartition] = []
        for vd in sorted(units):
            epoch = _vdir_version(vd)
            for part in sorted(units[vd]):
                files = units[vd][part]
                dirp = (
                    f"{self.root}/{DATA_DIR}/{vd}"
                    if part == ""
                    else f"{self.root}/{DATA_DIR}/{vd}/{part}"
                )
                if files is None:
                    try:
                        files = sorted(
                            n
                            for n in os.listdir(dirp)
                            if n.endswith(".parquet")
                            and not n.startswith((".", "_"))
                        )
                    except FileNotFoundError:
                        files = []
                elif not files:
                    continue
                pvals = []
                if part:
                    for seg in part.split("/"):
                        col, _, raw = seg.partition("=")
                        val = unquote(raw)
                        pvals.append(
                            (col, None if val == HIVE_NULL else val)
                        )
                for fname in files:
                    rel = f"{vd}/{part}/{fname}" if part else f"{vd}/{fname}"
                    parts.append(
                        _BatchFilePartition(
                            f"{dirp}/{fname}", rel, pvals, epoch, ctx
                        )
                    )
        if self.report_path:
            # dir-level pruning counts too (bucket/segment pruning shows
            # up here even when every surviving dir is single-file);
            # metadata-sized re-plan, report-gated
            _, _, d_skipped, d_total = planner.plan_dirs(
                as_of=self.version,
                range_filter=ranges or None,
                point_filter=points or None,
            )
            n_table_cols = len(json.loads(manifest["schema"])["fields"])
            with open(self.report_path, "w", encoding="utf-8") as fh:
                json.dump(
                    {
                        "version": self.version,
                        "n_dirs_skipped": d_skipped,
                        "n_dirs_total": d_total,
                        "n_files_skipped": n_skipped,
                        "n_files_total": n_total,
                        "n_tasks": len(parts),
                        "pushed_points": {
                            c: _point_values(v) for c, v in points.items()
                        },
                        "pushed_ranges": [
                            [c, repr(lo), repr(hi)] for c, lo, hi in ranges
                        ],
                        "columns": self.columns,
                        "n_cols_projected": (
                            len(self.columns)
                            if self.columns
                            else n_table_cols
                        ),
                        "n_cols_table": n_table_cols,
                    },
                    fh,
                    default=str,
                )
        return pack_runs(parts)

    @staticmethod
    def _apply_exact_filters(tab, ctx):
        """Row-exact application of the OPTION-level filters (tasks own
        them because Spark never saw them).  Null predicate values drop
        the row -- SQL WHERE semantics."""
        import pyarrow as pa
        import pyarrow.compute as pc

        names = set(tab.column_names)
        for col, value in ctx["exact_points"].items():
            if col not in names:
                continue
            c = tab.column(col)
            vals = pa.array(_point_values(value)).cast(c.type)
            keep = pc.is_in(c, value_set=vals)
            tab = tab.filter(pc.fill_null(keep, False))
        for col, lo, hi in ctx["exact_ranges"]:
            if col not in names:
                continue
            c = tab.column(col)
            if lo is not None:
                keep = pc.greater_equal(c, pa.scalar(lo).cast(c.type))
                tab = tab.filter(pc.fill_null(keep, False))
                c = tab.column(col)
            if hi is not None:
                keep = pc.less_equal(c, pa.scalar(hi).cast(c.type))
                tab = tab.filter(pc.fill_null(keep, False))
        return tab

    # -- execution (executor-side, pyarrow) -----------------------------------

    def read(self, run: _TaskRun | None):
        if run is None:
            return  # Spark's stand-in partition for an empty plan
        for task in run.tasks:
            yield from self._read_file(task)

    def _read_file(self, partition: _BatchFilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        ctx = partition.ctx
        tz = ctx["session_tz"]
        w = partition.epoch
        all_fields = json.loads(ctx["schema_json"])["fields"]
        requested = ctx.get("columns")
        if requested:
            # OPTION-level projection: the output carries only the
            # requested columns (table-schema order); option-FILTER
            # columns outside the projection still decode for masking
            # and are dropped after the filters apply.
            want = set(requested)
            fields_out = [f for f in all_fields if f["name"] in want]
            filter_names = set(ctx["exact_points"]) | {
                c for c, _lo, _hi in ctx["exact_ranges"]
            }
            mask_only = [
                f
                for f in all_fields
                if f["name"] in filter_names and f["name"] not in want
            ]
        else:
            fields_out, mask_only = all_fields, []
        fields = fields_out + mask_only
        stored_of = _stored_names(ctx["schema_log"], w)
        pvals = dict(partition.part_values)
        # COLUMN PRUNING at the parquet footer: read only the physical
        # columns the output schema (minus path-derived partition cols)
        # and the applicable equality-delete keys need -- the Python
        # DataSource API has no column-pruning hook, but dead file
        # columns never have to leave the decoder.  Positional deletes
        # index rows, not columns, so pruning cannot shift them.
        pf = pq.ParquetFile(partition.path)
        avail = set(pf.schema_arrow.names)
        needed: set[str] = set()
        for f in fields:
            name = f["name"]
            if name in pvals:
                continue
            stored = stored_of.get(name) if stored_of is not None else name
            if stored is not None and stored in avail:
                needed.add(stored)
        data_stored = stored_of or {}
        for d in ctx["delete_sets"]:
            if int(d["version"]) <= w or d.get("kind") == "positional":
                continue
            for k in d.get("key_cols", []):
                dn = data_stored.get(k, k)
                if dn is not None and dn in avail:
                    needed.add(dn)
        tab = (
            pf.read(columns=sorted(needed)) if needed else pf.read()
        )

        # merge-on-read deletes: only sets NEWER than this dir apply
        # (sequence-number rule); sets are O(keys) parquet by contract.
        # Masks are pyarrow BooleanArrays end-to-end -- never per-row
        # Python loops (the file side is O(file-rows); only the delete
        # side, O(keys) by contract, may cross into Python).
        mask = None
        for d in ctx["delete_sets"]:
            if int(d["version"]) <= w:
                continue
            if d.get("kind") == "positional":
                if partition.rel_path.split("/", 1)[0] not in d.get(
                    "vdirs", []
                ):
                    continue
                dtab = _delete_table(ctx["root"], d)
                if dtab is None:
                    continue
                pos_mask = _positional_delete_mask(
                    tab.num_rows, dtab, partition.rel_path
                )
                if pos_mask is not None:
                    mask = _and_mask(mask, pos_mask)
            else:
                dtab = _delete_table(ctx["root"], d)
                if dtab is None:
                    continue
                tab_mask = _eq_delete_mask(
                    tab,
                    dtab,
                    d,
                    ctx["schema_log"],
                    w,
                    tz,
                    pvals,
                    {f["name"]: f["type"] for f in all_fields},
                )
                if tab_mask is not None:
                    mask = _and_mask(mask, tab_mask)
        if mask is not None:
            tab = tab.filter(mask)

        n = tab.num_rows
        cols = []
        for f in fields:
            name, typ = f["name"], f["type"]
            target = arrow_type(typ, tz)
            if name in pvals:
                cols.append(
                    pa.array(
                        [parse_partition_value(pvals[name], typ, tz)] * n,
                        type=target,
                    )
                )
                continue
            stored = (
                stored_of.get(name) if stored_of is not None else name
            )
            if stored is not None and stored in tab.column_names:
                col = tab.column(stored)
                if col.type != target:
                    col = col.cast(target)
                cols.append(col)
            else:
                # added by a later commit / this epoch never stored it:
                # null-fill (read()'s allowMissingColumns semantics)
                cols.append(pa.nulls(n, type=target))
        out = pa.table(cols, names=[f["name"] for f in fields])
        if ctx["exact_points"] or ctx["exact_ranges"]:
            out = self._apply_exact_filters(out, ctx)
        if mask_only:
            out = out.drop_columns([f["name"] for f in mask_only])
        yield from out.to_batches()


class SnapshotTablePushdownReader(SnapshotTableBatchReader):
    """The batch reader PLUS Spark filter pushdown -- only safe on
    single-query relations (see the module docstring's one-slot-cache
    note); reached via the ``pushdown=true`` option, which
    :func:`~..streaming.table_source.snapshot_sql` sets on the fresh
    per-statement relations it registers."""

    def pushFilters(self, filters):
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            if isinstance(f, EqualTo) and f.value is not None:
                vals = {f.value}
                self._eq[col] = (
                    vals if col not in self._eq else self._eq[col] & vals
                )
            elif isinstance(f, In):
                vals = {v for v in f.value if v is not None}
                self._eq[col] = (
                    vals if col not in self._eq else self._eq[col] & vals
                )
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                # strict bounds widen to inclusive: pruning is advisory
                # (every filter is returned for Spark to re-apply), so
                # over-inclusive is sound and keeps zone-map compares
                # simple
                self._lo[col] = self._tighten(
                    self._lo.get(col), f.value, max
                )
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._hi[col] = self._tighten(
                    self._hi.get(col), f.value, min
                )
        # every filter stays Spark-applied: the source prunes, Spark
        # keeps exactness
        return filters


def _and_mask(mask, new):
    """AND of two keep-masks (pyarrow BooleanArrays; None = keep all)."""
    import pyarrow.compute as pc

    if mask is None:
        return new
    return pc.and_(mask, new)


def _row_index(n: int):
    """0..n-1 as an int64 pyarrow Array (vectorized via numpy)."""
    import numpy as np
    import pyarrow as pa

    return pa.array(np.arange(n, dtype=np.int64))


def _positional_delete_mask(n_rows: int, dtab, rel_path: str):
    """Keep-mask for a positional delete set against one data file:
    drop rows whose ordinal appears under ``rel_path`` in the set.
    Fully vectorized -- the hit positions come out of an Arrow filter
    and membership is one ``is_in`` over an index array, never a
    per-row Python loop (the file side is O(file-rows))."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sel = pc.equal(dtab.column("_file"), rel_path)
    hits = dtab.filter(pc.fill_null(sel, False)).column("_pos")
    if hits.length() == 0:
        return None
    hits = hits.cast(pa.int64()).combine_chunks()
    return pc.invert(pc.is_in(_row_index(n_rows), value_set=hits))


def _stored_names(schema_log: list | None, w: int) -> dict | None:
    """current field name -> STORED column name for a dir written at
    version ``w`` (None value: the field did not exist then -> null-
    fill).  None result: table never evolved -- read by name.  Mirrors
    :meth:`SnapshotStore._field_xform`'s drop/rename mapping: a current
    name is resolved ONLY through its field id, so a dropped field's
    reused name never surfaces dead data."""
    if not schema_log:
        return None
    cur = {int(f["id"]): f["name"] for f in schema_log[-1]["fields"]}
    epoch = _epoch_fields(schema_log, w)
    return {name: epoch.get(fid) for fid, name in cur.items()}


def _eq_mask_py_fallback(probe, dkeys, key_cols):
    """Hit ordinals when Acero cannot hash-join the key type: a Python
    set over the (all-non-null, O(keys)-bounded delete side) rows.
    Named so tests can pin that common key types take the Arrow-join
    path, never this one."""
    import pyarrow as pa

    del_tuples = set(
        zip(*(dkeys.column(k).to_pylist() for k in key_cols))
    )
    hit_list = [
        i
        for *t, i in zip(
            *(probe.column(c).to_pylist() for c in probe.column_names)
        )
        if tuple(t) in del_tuples
    ]
    return pa.array(hit_list, type=pa.int64())


def _all_keys_valid(table, key_cols):
    """Filter to rows whose EVERY key column is non-null (NULL keys
    never match -- the anti-join contract)."""
    import pyarrow.compute as pc

    valid = None
    for k in key_cols:
        v = pc.is_valid(table.column(k))
        valid = v if valid is None else pc.and_(valid, v)
    return table.filter(valid) if valid is not None else table


def _eq_delete_mask(tab, dtab, entry, schema_log, w, tz, pvals, types):
    """Keep-mask (pyarrow BooleanArray) for equality-delete ``entry``
    against data table ``tab`` (written at epoch ``w``): a row is
    dropped when its full key tuple -- all members non-null -- appears
    in the delete set (NULL keys never match, the anti-join contract).
    The delete frame is epoch-mapped through ``frame_version`` and
    cast to the CURRENT key types, mirroring ``_xform_delete``.

    A key column that is an IDENTITY PARTITION column is materialized
    from the path value in ``pvals`` (advisor-flagged: null-filling it
    silently resurrected deleted rows in partitioned tables, where the
    value lives in the directory name, not the file).  ``types`` is
    the current manifest schema's name->type map.

    Vectorized: membership is an Arrow hash semi-join on the key
    columns plus one ``is_in`` over the row ordinals -- the file side
    is O(file-rows) Arrow compute; only exotic key types Acero cannot
    join fall back to a Python set over the (bounded, all-non-null)
    probe rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    key_cols = list(entry["key_cols"])
    fv = int(entry.get("frame_version", entry["version"]))
    # the delete frame's stored column names at ITS write epoch
    del_stored = _stored_names(schema_log, fv) or {}
    # the DATA file's stored names at its epoch
    data_stored = _stored_names(schema_log, w) or {}

    def _cast_cur(col, k):
        t = types.get(k)
        if isinstance(t, str):
            target = arrow_type(t, tz)
            if col.type != target:
                return col.cast(target)
        return col

    del_cols = []
    for k in key_cols:
        dn = del_stored.get(k, k)
        if dn is None or dn not in dtab.column_names:
            return None  # delete never stored this key: masks nothing
        del_cols.append(_cast_cur(dtab.column(dn), k))
    dkeys = _all_keys_valid(pa.table(del_cols, names=key_cols), key_cols)
    if dkeys.num_rows == 0:
        return None

    n = tab.num_rows
    data_cols = []
    for k in key_cols:
        dn = data_stored.get(k, k)
        if dn is not None and dn in tab.column_names:
            data_cols.append(_cast_cur(tab.column(dn), k))
        elif k in pvals:
            # identity-partition key: the value is in the PATH, not
            # the file -- materialize the parsed constant
            t = types.get(k)
            val = parse_partition_value(pvals[k], t, tz)
            if val is None:
                return None  # NULL partition value never matches
            data_cols.append(
                pa.repeat(pa.scalar(val, type=arrow_type(t, tz)), n)
            )
        else:
            return None  # rows carry NULL for this key -> never match

    idx = _row_index(n)
    probe = _all_keys_valid(
        pa.table(data_cols + [idx], names=key_cols + ["__row_idx"]),
        key_cols,
    )
    if probe.num_rows == 0:
        return None
    try:
        hit = probe.join(
            dkeys, keys=key_cols, join_type="left semi"
        ).column("__row_idx")
    except pa.lib.ArrowError:
        hit = _eq_mask_py_fallback(probe, dkeys, key_cols)
    if hit.length() == 0:
        return None
    if isinstance(hit, pa.ChunkedArray):
        hit = hit.combine_chunks()
    return pc.invert(pc.is_in(idx, value_set=hit))
