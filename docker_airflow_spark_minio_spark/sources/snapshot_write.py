"""BATCH WRITES to snapshot tables through the Spark Python DataSource
API -- the write half of the SQL surface: with it,

    df.write.format("snapshot_table").option("path", root)
      .mode("append" | "overwrite").save()

commits ``df`` as a new snapshot version through the store's atomic
claim protocol, and a table registered in the session catalog
(``CREATE TABLE t USING snapshot_table OPTIONS (path '...')``) takes
``INSERT INTO`` -- the reference's jobs write via the table catalog
(``df.write.format("iceberg").mode("overwrite").saveAsTable(...)``,
/root/reference/spark/jobs/job_silver.py:174-178, job_gold.py:98-102);
this is that consumption shape over the snapshot store.

Execution model (mirrors the batch reader's constraints):

* **Tasks write the parquet data files** (executor-side, pyarrow over
  Arrow record batches -- :class:`DataSourceArrowWriter`, no
  row-at-a-time path): each task routes its rows into Hive partition
  directories under an ATTEMPT-UNIQUE data dir (``v{N}-{attempt}``,
  the same convention as :meth:`SnapshotStore.write`), using the
  pinned pure-Python twin of Spark's path escaping so API-path appends
  to the same partition land in the same directory name.
* **The commit runs in a Python worker with NO SparkSession** (same
  constraint as the reader's planner), so it goes through
  :class:`LocalSnapshotCommitter` -- a
  :class:`~.snapshot_batch.LocalSnapshotPlanner` whose commit leaves
  are local: manifest claim via ``link(2)`` (write the payload to an
  attempt-unique tmp, hard-link to the final name -- creation fails
  atomically when a racer already committed, the exact file:// claim
  semantics of ``write_atomic_claim``), recursive delete via shutil.
  Manifest ASSEMBLY is **not** re-implemented: it calls the very same
  :meth:`SnapshotStore._assemble_and_commit_dir` the API write path
  uses (carry-forward of stats/sidecars/delete-set pruning/watermarks,
  delta-vs-checkpoint cadence), so the two write paths cannot drift.

Restricted surface (refused loudly, with the API alternative named):
partition-spec evolution, WAP staging, and ``overwrite_partitions``
stay on :meth:`SnapshotStore.write` -- a SQL ``INSERT`` can express
none of them.  Statistics ARE recorded (round 13): per-file zone maps
and blooms are computed task-side over the in-memory Arrow tables
(``pc.min_max`` + md5-twin bloom hashing, bit-identical with the API
path's Spark stats scan and parity-tested), the table's recorded stats
configuration is inherited by default so INSERTs keep a stats-bearing
table prunable, and NDV sketches arrive pre-merged from the entry
point (``write_snapshot_table`` computes the batch HLL union with the
SparkSession it has) -- so an INSERT no longer invalidates
``col_ndv``.  Supported: ``append`` (INSERT
INTO), ``overwrite`` = full table-replacing snapshot (INSERT
OVERWRITE), identity partitioning AND hidden-partitioning transforms
(bucket/truncate/years/months/days over the pinned source types --
tasks recompute the derived routing columns with numpy-vectorized
twins of the Catalyst expressions, bit-exact parity-tested, so
SQL-written rows land in exactly the directories plan-time pruning
expects -- including, since round 13, ``hours()`` over tz-aware
timestamps; ``timestamp_ntz`` sources stay refused, their wall-time
interpretation is genuinely session-entangled), field-id
schema-evolution-aware appends (the same
renamed-away-name refusal and evolved-schema merge as the API path).

Lost-update safety: the version and parent are pinned at plan time;
the claim decides same-version races, and the commit re-checks the
head so a table that advanced DURING the write raises
:class:`SnapshotConflict` (retry the INSERT) instead of silently
committing against a stale parent.

Scale note (100 TB posture): data never routes through the driver --
tasks stream Arrow batches straight to parquet; the commit is
metadata-only (one manifest JSON).  Each task buffers its own rows
per partition value before writing one file per (task, partition) --
the same memory shape as Spark's unsorted FileFormatWriter; very
wide fan-out per task should pre-``repartition`` by the partition
columns, exactly as with ``DataFrameWriter.partitionBy``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from ..snapshots import (
    BLOOM_BITS,
    BLOOM_K,
    DATA_DIR,
    SIDECAR_FILE_THRESHOLD,
    SnapshotConflict,
    _BLOOM_KEY_TYPES,
    _parse_partition_spec,
)
from .snapshot_batch import (
    LocalSnapshotPlanner,
    XXHASH_SEED,
    check_local_root,
    hive_dir_local,
    xxhash64_bytes,
)

#: Identity partition column types the SQL write path can round-trip
#: through a Hive directory name bit-exactly with the Spark writer's
#: own formatting.  Timestamps (session-tz rendering) and floats
#: (repr instability) are refused -- use SnapshotStore.write.
_PART_TYPES = frozenset(
    {"string", "byte", "short", "integer", "long", "date", "boolean"}
)


def _format_part_value(v) -> str | None:
    """Python value -> the string Spark's partitioned writer would put
    in the directory name (before Hive escaping)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)  # int -> digits, datetime.date -> ISO


# ---------------------------------------------------------------------------
# Vectorized transform twins (hidden partitioning on the write path)
# ---------------------------------------------------------------------------
#
# The derived routing column must match Catalyst's `_apply_transforms`
# BIT-EXACTLY or SQL-written rows land in directories plan-time pruning
# will skip.  The scalar twins (snapshot_batch.eval_transform_pure /
# xxhash64_*) are already JVM-pinned; these are their numpy-vectorized
# forms for whole Arrow columns (uint64 arithmetic wraps like the JVM's
# long), property-tested against the scalar twins AND parity-tested
# against an API-path write of the same frame.  NULL source values
# follow Spark: xxhash64(NULL) hashes nothing -> the SEED (42), so
# bucket(NULL) = pmod(42, N); truncate/time transforms of NULL stay
# NULL (HIVE_DEFAULT_PARTITION).

#: (kind -> source types) the SQL write path can route itself; anything
#: else refuses toward SnapshotStore.write.  `hours(timestamp)` is
#: supported since round 13 (the Arrow int64 is the session-independent
#: UTC instant); `timestamp_ntz` sources remain session-entangled and
#: refuse.
_TRANSFORM_TYPES = {
    "bucket": frozenset(
        {"byte", "short", "integer", "long", "string", "date"}
    ),
    "truncate": frozenset({"byte", "short", "integer", "long", "string"}),
    "years": frozenset({"date"}),
    "months": frozenset({"date"}),
    "days": frozenset({"date"}),
    # round 13: hours() over tz-aware TimestampType -- Arrow's int64 is
    # the UTC instant in epoch micros (session-INDEPENDENT), and the
    # twin mirrors Catalyst's double math bit-for-bit (IEEE-754 ops are
    # identical on JVM and numpy).  timestamp_ntz stays refused: its
    # Catalyst cast-to-timestamp interprets wall time in the SESSION
    # zone -- genuinely session-entangled.
    "hours": frozenset({"timestamp"}),
}

#: what Spark's xxhash64 returns for a NULL input: the seed itself
XXHASH_SEED_HASH_NULL = XXHASH_SEED

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _np_rotl(x, r):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _np_fmix(h):
    import numpy as np

    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_XXP2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_XXP3)
    h = h ^ (h >> np.uint64(32))
    return h


def xxhash64_long_np(v):
    """Vectorized twin of :func:`..snapshot_batch.xxhash64_long` over an
    int64 numpy array (signed int64 result)."""
    import numpy as np

    u = v.astype(np.int64).view(np.uint64)
    h = np.uint64((XXHASH_SEED + _XXP5 + 8) & ((1 << 64) - 1))
    h = h ^ (_np_rotl(u * np.uint64(_XXP2), 31) * np.uint64(_XXP1))
    h = _np_rotl(h, 27) * np.uint64(_XXP1) + np.uint64(_XXP4)
    return _np_fmix(h).view(np.int64)


def xxhash64_int_np(v):
    """Vectorized twin of :func:`..snapshot_batch.xxhash64_int` over an
    int32 numpy array (4-byte lane; signed int64 result)."""
    import numpy as np

    u = (v.astype(np.int64) & np.int64(0xFFFFFFFF)).view(np.uint64)
    h = np.uint64((XXHASH_SEED + _XXP5 + 4) & ((1 << 64) - 1))
    h = h ^ (u * np.uint64(_XXP1))
    h = _np_rotl(h, 23) * np.uint64(_XXP2) + np.uint64(_XXP3)
    return _np_fmix(h).view(np.int64)


def derive_transform_column(col, ftype: str, spec: dict):
    """Derived routing values for one transform over one Arrow column
    (the task-side twin of `_apply_transforms`' Catalyst expressions).
    Bucket lanes are numpy-vectorized except string (per-row pure
    xxhash64 over UTF-8 -- correct, the documented slow lane)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    kind, n = spec["kind"], len(col)
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if kind == "bucket":
        arg = spec["arg"]
        if ftype == "string":
            hashes = np.fromiter(
                (
                    XXHASH_SEED_HASH_NULL
                    if v is None
                    else xxhash64_bytes(v.encode("utf-8"))
                    for v in col.to_pylist()
                ),
                dtype=np.int64,
                count=n,
            )
        else:
            if ftype == "date":
                ints = col.cast(pa.int32())  # date32 storage IS days
            elif ftype == "long":
                ints = col.cast(pa.int64())
            else:
                ints = col.cast(pa.int32())
            null_mask = np.asarray(pc.is_null(ints).to_numpy(
                zero_copy_only=False
            ))
            filled = pc.fill_null(ints, 0)
            arr = filled.to_numpy(zero_copy_only=False)
            with np.errstate(over="ignore"):
                hashes = (
                    xxhash64_long_np(arr)
                    if ftype == "long"
                    else xxhash64_int_np(arr)
                )
            # Spark: xxhash64(NULL) hashes nothing -> the seed
            hashes = np.where(null_mask, np.int64(XXHASH_SEED), hashes)
        return pa.array(
            np.mod(hashes, np.int64(arg)).astype(np.int32), type=pa.int32()
        )
    if kind == "truncate":
        arg = spec["arg"]
        if ftype == "string":
            # Catalyst substring(1, W) slices CODE POINTS, like v[:W]
            return pc.utf8_slice_codeunits(col, 0, arg)
        target = pa.int64() if ftype == "long" else pa.int32()
        ints = col.cast(target)
        null_mask = np.asarray(
            pc.is_null(ints).to_numpy(zero_copy_only=False)
        )
        arr = pc.fill_null(ints, 0).to_numpy(zero_copy_only=False)
        out = arr - np.mod(arr, arg)  # numpy % follows Python pmod sign
        return pa.array(out, type=target, mask=null_mask)
    if kind == "hours":
        # Catalyst: floor(ts.cast('timestamp').cast('double') / 3600)
        # .cast('int') -- epoch MICROS -> double seconds -> /3600 ->
        # floor.  Mirror the exact double pipeline (not the ideal
        # integer division): IEEE-754 divide + floor are bit-identical
        # between the JVM and numpy, so boundary micros round the same.
        micros = col.cast(pa.int64())
        null_mask = np.asarray(
            pc.is_null(micros).to_numpy(zero_copy_only=False)
        )
        arr = pc.fill_null(micros, 0).to_numpy(zero_copy_only=False)
        out = np.floor((arr.astype(np.float64) / 1e6) / 3600.0)
        return pa.array(
            out.astype(np.int64).astype(np.int32),
            type=pa.int32(),
            mask=null_mask,
        )
    if kind in ("years", "months", "days"):
        days = col.cast(pa.int32())
        null_mask = np.asarray(
            pc.is_null(days).to_numpy(zero_copy_only=False)
        )
        if kind == "days":
            arr = pc.fill_null(days, 0).to_numpy(zero_copy_only=False)
            return pa.array(arr, type=pa.int32(), mask=null_mask)
        years = pc.subtract(pc.year(col), 1970)
        if kind == "years":
            out = pc.fill_null(years, 0).to_numpy(zero_copy_only=False)
        else:
            months = pc.add(
                pc.multiply(years, 12), pc.subtract(pc.month(col), 1)
            )
            out = pc.fill_null(months, 0).to_numpy(zero_copy_only=False)
        return pa.array(
            out.astype(np.int32), type=pa.int32(), mask=null_mask
        )
    raise ValueError(f"unsupported transform kind {kind!r}")



class LocalSnapshotCommitter(LocalSnapshotPlanner):
    """A Spark-less :class:`~..snapshots.SnapshotStore` that can COMMIT:
    planning IO comes from :class:`LocalSnapshotPlanner`; the commit
    leaves (`_commit_manifest` claim, `_delete_prefix`,
    `_list_partition_dirs`) are local-filesystem implementations, and
    manifest assembly is the inherited
    :meth:`~..snapshots.SnapshotStore._assemble_and_commit_dir` --
    shared with the API write path, never a twin."""

    def _commit_manifest(self, version: int, manifest: dict) -> None:
        # Claim semantics identical to write_atomic_claim's file://
        # arm: full payload to an attempt-unique tmp, then link(2) --
        # hard-link creation fails atomically when the destination
        # exists, so a racing committer loses LOUDLY and readers never
        # observe a torn manifest.  (No shard externalization here:
        # inline checkpoints are always correct; sharding is a
        # Spark-path optimization.)
        final = self._manifest_path(version)
        d = os.path.dirname(final)
        os.makedirs(d, exist_ok=True)
        tmp = f"{d}/.v{version}.json.tmp.{uuid.uuid4().hex[:12]}"
        with open(tmp, "wb") as fh:
            fh.write(json.dumps(manifest).encode("utf-8"))
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise SnapshotConflict(
                f"version {version} already committed at {final}"
            ) from None
        os.unlink(tmp)

    def _delete_prefix(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def _dir_file_sizes(self, data_path: str, depth: int) -> dict[str, list[int]]:
        from ..snapshots import _local_dir_file_sizes

        return _local_dir_file_sizes(data_path, depth)

    def _list_partition_dirs(self, data_path: str, depth: int) -> list[str]:
        def leaves(p: str, d: int, rel: str):
            if d == 0:
                yield rel
                return
            try:
                names = sorted(os.listdir(p))
            except FileNotFoundError:
                return
            for name in names:
                fp = f"{p}/{name}"
                if os.path.isdir(fp):
                    yield from leaves(
                        fp, d - 1, f"{rel}/{name}" if rel else name
                    )

        return sorted(leaves(data_path, depth, ""))


#: column types whose task-side pyarrow min/max serializes to exactly
#: the JSON form the API path's Spark stats scan records (`_stat_json`
#: over Spark row values): ints stay ints, floats floats, strings
#: strings, dates -> ISO strings (same ordering).  Timestamps are
#: session-zone-entangled (same reason hours() transforms refuse on
#: this path) and decimals stringify differently -- excluded.
_STATS_TYPES = frozenset(
    {
        "byte",
        "short",
        "integer",
        "int",
        "long",
        "bigint",
        "float",
        "double",
        "string",
        "date",
    }
)


def _stat_val(v):
    """Python value -> the zone-map JSON form `snapshots._stat_json`
    records (numbers/strings/None pass; dates ISO-stringify)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def _bloom_hex(values, bits: int) -> str:
    """Bitmap hex for a file's bloom entry, bit-identical with the API
    path's Spark scan: per distinct non-null value, k=BLOOM_K positions
    ``(h1 + i*h2) % bits`` from `snapshots._bloom_hash_pair` -- the
    SAME md5 twin the driver-side probe uses, so build and probe cannot
    drift (Spark-parity pinned in tests)."""
    from ..snapshots import _bloom_hash_pair

    bm = 0
    for v in values:
        if v is None:
            continue
        h1, h2 = _bloom_hash_pair(v)
        for i in range(BLOOM_K):
            bm |= 1 << ((h1 + i * h2) % bits)
    return f"{bm:0{bits // 4}x}"


@dataclass
class _TaskFiles(WriterCommitMessage):
    n_rows: int
    n_files: int
    #: per-file statistics computed while the file was in memory:
    #: [{dir, file, rows, stats: {col: [mn, mx]}, blooms: {col: hex}}]
    stats: list | None = None


class SnapshotTableArrowWriter(DataSourceArrowWriter):
    """Batch writer half of the ``snapshot_table`` Python DataSource.
    Options: ``path`` (table root, local -- same contract as the batch
    reader), ``partition_by`` (comma-separated IDENTITY columns; only
    honored when the table does not exist yet -- an existing table's
    spec is inherited and a conflicting option refuses),
    ``metadata_json`` (JSON object recorded verbatim in the manifest,
    e.g. a job id)."""

    def __init__(self, schema, overwrite: bool, options: dict):
        root = options.get("path")
        if not root:
            raise ValueError("snapshot_table write requires a path")
        self.root = check_local_root(root)
        self.mode = "snapshot" if overwrite else "append"
        self.metadata = json.loads(options.get("metadata_json") or "{}")
        frame = json.loads(schema.json())
        frame_names = [f["name"] for f in frame["fields"]]
        ftypes = {f["name"]: f["type"] for f in frame["fields"]}

        c = LocalSnapshotCommitter.for_root(self.root)
        # ONE versions() listing feeds both the pinned parent and the
        # claimed version number: deriving them from two separate
        # listings left a window where a commit landing in between made
        # version-1 == latest at commit time (advance guard passes)
        # while the pinned parent was stale -- silently dropping the
        # interleaved commit's directories (lost update).  commit()
        # additionally re-asserts the published head == parent_v.
        vs = c.versions()
        self.parent_v = next(
            (
                v
                for v in reversed(vs)
                if c._read_manifest_raw(v).get("staged") is None
            ),
            None,
        )
        parent = (
            c._read_manifest(self.parent_v)
            if self.parent_v is not None
            else None
        )
        opt_specs = _split_specs(options.get("partition_by") or "")
        opt_pby, opt_transforms = _parse_partition_spec(opt_specs)
        ptrans = dict((parent or {}).get("partition_transforms") or {})
        if parent is not None:
            pby = list(parent["partition_by"])
            transforms = ptrans
            if opt_specs and not (
                # restating the table's spec exactly, or addressing it
                # by physical names (the table remembers its
                # transforms) -- same contract as SnapshotStore.write
                (opt_pby == pby and opt_transforms in ({}, ptrans))
            ):
                raise ValueError(
                    f"partition spec {opt_specs} != table's {pby} / "
                    f"{ptrans}; the SQL write path does not evolve "
                    "partition specs"
                )
            if self.mode == "append":
                specs = set(
                    map(tuple, _filled_dir_specs_local(parent).values())
                )
                if specs - {tuple(pby)}:
                    raise ValueError(
                        "table has mixed partition specs (spec "
                        "evolution); append through SnapshotStore.write"
                    )
        else:
            pby, transforms = opt_pby, opt_transforms
        # transform support: the task must recompute the derived
        # routing columns itself, bit-exactly with Catalyst -- only the
        # (kind, source type) pairs with pinned vectorized twins pass
        for name, spec in transforms.items():
            src_t = ftypes.get(spec["src"])
            ok = _TRANSFORM_TYPES.get(spec["kind"], frozenset())
            if not (isinstance(src_t, str) and src_t in ok):
                raise ValueError(
                    f"transform {spec['kind']}({spec['src']}: {src_t}) "
                    "is not supported by the SQL write path (supported "
                    f"source types: {sorted(ok)}); use "
                    "SnapshotStore.write"
                )
        # derived names in the frame are caller-supplied routing
        # columns: replaced by the recomputed transform (write()'s
        # contract -- the transform is the source of truth) and never
        # part of the table schema
        self.drop_derived = [n for n in transforms if n in frame_names]
        frame_names = [n for n in frame_names if n not in transforms]
        frame["fields"] = [
            f for f in frame["fields"] if f["name"] not in transforms
        ]
        missing = [
            p for p in pby if p not in transforms and p not in frame_names
        ]
        if missing:
            raise ValueError(
                f"partition columns {missing} not in the written frame "
                f"{frame_names}"
            )
        bad = {
            p: ftypes[p]
            for p in pby
            if p not in transforms
            and not (
                isinstance(ftypes[p], str) and ftypes[p] in _PART_TYPES
            )
        }
        if bad:
            raise ValueError(
                f"partition column types {bad} not supported by the SQL "
                f"write path (supported: {sorted(_PART_TYPES)}); use "
                "SnapshotStore.write"
            )
        self.pby = pby
        self.transforms = transforms
        self.ftypes = ftypes

        # Field-id schema evolution: the same stale-producer refusal and
        # evolved-schema merge as SnapshotStore.write (pure dict logic).
        slog = (parent or {}).get("schema_log")
        if slog and self.mode != "snapshot":
            live_ids = {int(f["id"]) for f in slog[-1]["fields"]}
            cur_names = {f["name"] for f in slog[-1]["fields"]}
            renamed_away = set()
            for e in slog:
                for f in e["fields"]:
                    if int(f["id"]) in live_ids and f["name"] not in cur_names:
                        renamed_away.add(f["name"])
                for fid_s, nm in (e.get("synced") or {}).items():
                    if int(fid_s) in live_ids and nm not in cur_names:
                        renamed_away.add(nm)
            stale = sorted(renamed_away & set(frame_names))
            if stale:
                raise ValueError(
                    f"columns {stale} were renamed by evolve_schema; "
                    "write with the current names (see the manifest's "
                    "schema_log)"
                )
            pfields = json.loads(parent["schema"])["fields"]
            known = {f["name"] for f in pfields}
            extra = [f for f in frame["fields"] if f["name"] not in known]
            self.schema_json = json.dumps(
                {"type": "struct", "fields": pfields + extra}
            )
        else:
            # `frame` has the derived routing columns already stripped
            self.schema_json = json.dumps(frame)
        self.slog = slog

        # -- write-time statistics (round 13): zone maps / blooms / row
        # counts are computed TASK-SIDE over the in-memory Arrow tables
        # (pc.min_max + md5-twin bloom hashing, zero extra scans) so a
        # SQL INSERT no longer lands unprunable directories.  Config
        # resolution: explicit ``stats_cols``/``bloom_cols`` options
        # win (unsupported types REFUSE); absent them, the table's
        # recorded stats configuration (``table_stats``) is INHERITED
        # -- the Iceberg table-property behavior, where every writer
        # records the configured metrics -- with unsupported-typed
        # columns dropped (recording less is sound; refusing would
        # wedge SQL writes on e.g. timestamp-stat tables).
        ts_cfg = (parent or {}).get("table_stats") or {}
        opt_stats = options.get("stats_cols")
        opt_bloom = options.get("bloom_cols")
        explicit = opt_stats is not None or opt_bloom is not None
        if explicit:
            want_stats = [
                c.strip() for c in (opt_stats or "").split(",") if c.strip()
            ]
            want_bloom = [
                c.strip() for c in (opt_bloom or "").split(",") if c.strip()
            ]
            self.bloom_bits = int(options.get("bloom_bits") or BLOOM_BITS)
        else:
            want_stats = list(ts_cfg.get("stats_cols") or [])
            want_bloom = list(ts_cfg.get("bloom_cols") or [])
            self.bloom_bits = int(ts_cfg.get("bloom_bits") or BLOOM_BITS)

        def _resolve(cols: list[str], ok_types, what: str) -> list[str]:
            out = []
            for c in cols:
                t = self.ftypes.get(c)
                supported = (
                    c not in self.transforms
                    and isinstance(t, str)
                    and t in ok_types
                )
                if supported:
                    out.append(c)
                elif explicit:
                    raise ValueError(
                        f"{what} column {c!r} (type {t}) is not "
                        f"supported by the SQL write path (supported "
                        f"types: {sorted(ok_types)}); use "
                        "SnapshotStore.write"
                    )
            return out

        self.stats_cols = _resolve(want_stats, _STATS_TYPES, "stats_cols")
        self.bloom_cols = _resolve(
            want_bloom, _BLOOM_KEY_TYPES, "bloom_cols"
        )
        # the table's recorded CONFIG keeps the full inherited lists
        # even when a column's type can't be recorded on this path --
        # degrading the config would silently stop later API writes
        # (and compact's re-record) from collecting those stats
        self.cfg_stats_cols = want_stats
        self.cfg_bloom_cols = want_bloom
        # pre-merged base64 NDV sketches, computed by the entry point
        # (which HAS a SparkSession) -- see write_snapshot_table
        self.ndv_sketches = json.loads(
            options.get("ndv_sketches_json") or "null"
        )

        latest = vs[-1] if vs else None
        self.version = 0 if latest is None else latest + 1
        self.vdir = f"v{self.version}-{uuid.uuid4().hex[:8]}"
        self.data_path = f"{self.root}/{DATA_DIR}/{self.vdir}"
        # exists up front so an all-empty-tasks write still commits a
        # listable (empty) directory
        os.makedirs(self.data_path, exist_ok=True)

    # -- executor side -------------------------------------------------------

    def write(self, iterator) -> _TaskFiles:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        bufs: dict[str, list] = {}
        for batch in iterator:
            tab = pa.Table.from_batches([batch])
            if self.drop_derived:
                tab = tab.drop_columns(self.drop_derived)
            for name, spec in self.transforms.items():
                tab = tab.append_column(
                    name,
                    derive_transform_column(
                        tab.column(spec["src"]),
                        self.ftypes[spec["src"]],
                        spec,
                    ),
                )
            if not self.pby:
                bufs.setdefault("", [(), []])[1].append(tab)
                continue
            combos = tab.group_by(self.pby).aggregate([])
            for i in range(combos.num_rows):
                vals = tuple(
                    combos.column(c)[i].as_py() for c in self.pby
                )
                mask = None
                for col_name, v in zip(self.pby, vals):
                    col = tab.column(col_name)
                    if v is None:
                        m = pc.is_null(col)
                    else:
                        m = pc.fill_null(
                            pc.equal(col, pa.scalar(v, type=col.type)),
                            False,
                        )
                    mask = m if mask is None else pc.and_(mask, m)
                part = hive_dir_local(
                    self.pby, tuple(_format_part_value(v) for v in vals)
                )
                bufs.setdefault(part, [vals, []])[1].append(
                    tab.filter(mask).drop_columns(list(self.pby))
                )
        n_rows = n_files = 0
        stats_entries: list[dict] = []
        record = bool(self.stats_cols or self.bloom_cols)
        for part, (vals, tabs) in bufs.items():
            out = pa.concat_tables(tabs)
            if out.num_rows == 0:
                continue
            dirp = f"{self.data_path}/{part}" if part else self.data_path
            os.makedirs(dirp, exist_ok=True)
            fname = f"part-{uuid.uuid4().hex}.parquet"
            pq.write_table(out, f"{dirp}/{fname}")
            n_rows += out.num_rows
            n_files += 1
            if not record:
                continue
            by_part = dict(zip(self.pby, vals))
            stats: dict[str, list] = {}
            for c in self.stats_cols:
                if c in by_part:  # identity partition col: constant
                    v = _stat_val(by_part[c])
                    stats[c] = [v, v]
                else:
                    mm = pc.min_max(out.column(c))
                    stats[c] = [
                        _stat_val(mm["min"].as_py()),
                        _stat_val(mm["max"].as_py()),
                    ]
            blooms: dict[str, list] = {}
            for c in self.bloom_cols:
                values = (
                    {by_part[c]}
                    if c in by_part
                    else set(out.column(c).to_pylist())
                )
                blooms[c] = [
                    self.bloom_bits,
                    _bloom_hex(values, self.bloom_bits),
                ]
            stats_entries.append(
                {
                    "dir": f"{self.vdir}/{part}" if part else self.vdir,
                    "file": fname,
                    "rows": out.num_rows,
                    "stats": stats,
                    "blooms": blooms,
                }
            )
        return _TaskFiles(
            n_rows=n_rows, n_files=n_files, stats=stats_entries or None
        )

    # -- driver side (Python worker, no SparkSession) -------------------------

    def commit(self, messages) -> None:
        c = LocalSnapshotCommitter.for_root(self.root)
        latest = c.latest_version()
        if (latest if latest is not None else -1) != self.version - 1:
            # The table advanced between plan and commit: committing
            # against the pinned parent would silently drop the
            # interleaved commit (lost update) -- refuse; the claim
            # below only arbitrates SAME-version races.
            c._delete_prefix(self.data_path)
            raise SnapshotConflict(
                f"table advanced during the write (planned v{self.version}, "
                f"head now v{latest}); retry the INSERT"
            )
        if c.current_version() != self.parent_v:
            # belt-and-braces for the init-time race fixed above: the
            # published head this write chained from must still BE the
            # head, or committing would drop the interleaved commit
            c._delete_prefix(self.data_path)
            raise SnapshotConflict(
                f"published head moved from v{self.parent_v} during the "
                "write; retry the INSERT"
            )
        parent = (
            c._read_manifest(self.parent_v)
            if self.parent_v is not None
            else None
        )
        n_rows = sum(m.n_rows for m in messages if m is not None)
        precomputed = None
        if self.stats_cols or self.bloom_cols or self.ndv_sketches:
            file_stats: dict[str, dict] = {}
            file_blooms: dict[str, dict] = {}
            dir_rows: dict[str, int] = {}
            raw_dir: dict[str, dict[str, list]] = {}
            entries = [
                e
                for m in messages
                if m is not None and m.stats
                for e in m.stats
            ]
            for e in entries:
                key = f"{e['dir']}/{e['file']}"
                if e["stats"]:
                    file_stats[key] = e["stats"]
                if e["blooms"]:
                    file_blooms[key] = e["blooms"]
                dir_rows[e["dir"]] = dir_rows.get(e["dir"], 0) + int(
                    e["rows"]
                )
                agg = raw_dir.setdefault(e["dir"], {})
                for col, (mn, mx) in e["stats"].items():
                    cur = agg.setdefault(col, [None, None])
                    if mn is not None and (cur[0] is None or mn < cur[0]):
                        cur[0] = mn
                    if mx is not None and (cur[1] is None or mx > cur[1]):
                        cur[1] = mx
            if len(entries) > SIDECAR_FILE_THRESHOLD:
                # keep the manifest O(directories): beyond the inline
                # threshold the per-FILE rows are dropped and only the
                # per-directory rollup is recorded (sound -- coarser
                # pruning, never wrong; the API path writes a parquet
                # sidecar here, which needs executors)
                file_stats, file_blooms = {}, {}
            precomputed = {
                "stats_cols": self.cfg_stats_cols,
                "bloom_cols": self.cfg_bloom_cols,
                "bloom_bits": self.bloom_bits,
                "file_stats": file_stats,
                "file_blooms": file_blooms,
                "dir_stats": dict(raw_dir),
                "dir_rows": dir_rows,
                "col_ndv": self.ndv_sketches or None,
            }
        c._assemble_and_commit_dir(
            version=self.version,
            vdir=self.vdir,
            data_path=self.data_path,
            parent=parent,
            parent_v=self.parent_v,
            mode=self.mode,
            pby=self.pby,
            transforms=self.transforms,
            schema_json=self.schema_json,
            slog=self.slog,
            metadata={**self.metadata, "sql_write": True, "n_rows": n_rows},
            claimed_partitions=None,
            watermarks=None,
            staged=None,
            precomputed_stats=precomputed,
        )

    def abort(self, messages) -> None:
        shutil.rmtree(self.data_path, ignore_errors=True)


def _filled_dir_specs_local(manifest: dict) -> dict[str, list[str]]:
    from ..snapshots import _filled_dir_specs

    return _filled_dir_specs(manifest)


def _split_specs(s: str) -> list[str]:
    """Split a comma-separated partition-spec option, respecting
    parentheses (``"lang, bucket(8, doc_id)"`` -> two specs)."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "," and depth == 0:
            if "".join(cur).strip():
                out.append("".join(cur).strip())
            cur = []
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out
