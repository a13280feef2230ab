"""Versioned snapshot log over path-rooted tables (time travel + retention).

The reference's silver/gold tables are Iceberg -- every write is a
snapshot commit, old snapshots stay readable (time travel) and are
expired by retention options (reference spark/jobs/job_silver.py:66-88,
174-178; job_gold.py:96-101).  :mod:`.catalog` pins that DDL/option
surface at the SQL level (no iceberg runtime jar in this container);
THIS module makes the snapshot *semantics* real, Spark-first, with a
minimal manifest log over any Hadoop filesystem (file://, s3a://, hdfs://).

Layout::

    <root>/data/v{N}-<attempt>/... immutable per-commit data directories
                                   (attempt-unique: racing committers
                                   never share a path)
    <root>/_manifests/v{N}.json    snapshot manifest

A manifest maps each live partition directory (Hive ``col=value`` form;
``""`` is the unpartitioned slot) to the LIST of data-directory names
holding its current rows -- a list because ``append`` accumulates
commits without rewriting old files.

Commit protocol (optimistic, single-winner per version)::

    1. write the new rows under data/v{N}-<attempt>/ (never touches a
       live dir, and no other committer's dir either)
    2. write the manifest to _manifests/.v{N}.json.tmp
    3. rename -> _manifests/v{N}.json

On HDFS-semantics stores rename fails when the destination exists, so
two racing committers cannot both claim version N -- the loser gets
:class:`SnapshotConflict` and may retry against the new head.  A crash
before (3) leaves a dangling tmp + an orphan data dir: invisible to
every reader, reclaimed by :meth:`SnapshotStore.expire_snapshots`.
On S3-semantics stores (rename = copy+delete, overwrites, not atomic)
steps 2-3 are replaced by a CONDITIONAL PUT of the final manifest
(``create`` with overwrite=False -- S3's If-None-Match, which s3a maps
it onto): the claim resolves atomically at request completion, so a
racing second committer fails loudly, never a lost update
(race-tested against the mocks3:// fixture).  On ``file://`` the claim
is a hard-link creation (POSIX ``link(2)``) for the same reason: a
POSIX rename silently replaces its destination.

Write modes mirror :class:`..storage.TableManager`:

 * ``snapshot``             -- manifest points every partition at v{N}
 * ``append``               -- parent mapping + v{N} appended per new partition
 * ``overwrite_partitions`` -- parent mapping with only the partitions
                               PRESENT IN ``df`` repointed at v{N}

Reads resolve one manifest (latest or ``as_of``) into one scan per
referenced data directory -- with ``basePath`` set so Hive partition
columns survive -- unioned by name.  The number of referenced data dirs
is bounded by retention, and every per-version scan is a plain
partitioned parquet scan: partition pruning and pushdown work unchanged.

Scale notes (100 TB posture): manifests are partition METADATA (one
entry per partition directory, the same cardinality dynamic partition
overwrite tracks); commits never rewrite previous data files, so commit
cost is O(new data) like Iceberg, not O(table); time travel is free
(old manifests + immutable data dirs); ``expire_snapshots(keep_last=10)``
is the reference's ``write.metadata.previous-versions-max: 10`` retention
behavior, executed.
"""

from __future__ import annotations

import json
import logging
import os
import re
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession

from .fsmeta import (
    _bare_paths_local,
    _fs_and_path,
    delete_file,
    delete_prefix,
    list_entries,
    local_path,
    read_bytes,
)
from .fsmeta import exists as _path_exists
from .fsmeta import hive_partition_dir as _hive_partition_dir

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
STATS_DIR = "_stats"

_log = logging.getLogger(__name__)

#: Session-wide memo of parquet RELATIONS (immutable plans over
#: immutable committed path-sets) keyed on (applicationId, session,
#: basePath, path-tuple) -- see :meth:`SnapshotStore._read_parquet`.
#: LRU-bounded; holds plan objects only, never rows or results.  Every
#: access holds ``_PQ_PLAN_LOCK``: reads may run on several threads (a
#: threaded bench harness) while ``clear_persist_caches`` clears it.
_PQ_PLAN_MEMO: OrderedDict = OrderedDict()
_PQ_PLAN_MEMO_MAX = 512
_PQ_PLAN_LOCK = threading.Lock()
#: Per-commit file count above which write() stores the per-file
#: zone-map/bloom rows in an executor-written PARQUET SIDECAR instead
#: of inline JSON collected to the driver.  Below it the inline path
#: is cheaper (no extra files, no Spark job at plan time); above it
#: the driver never materializes O(files x cols) stats rows -- the
#: 100 TB posture (a 10^7-file table plans through a Spark job over
#: the sidecars, collecting only surviving file names).
SIDECAR_FILE_THRESHOLD = 512
REFS_DIR = "_refs"

# Stores whose rename is copy+delete (overwrites, non-atomic): the
# commit claim must be a conditional PUT, not a rename -- see
# _commit_manifest.  "mocks3" is the test fixture emulating exactly
# these semantics (tests/fixtures/mockfs/MockS3FileSystem.java).
NO_ATOMIC_RENAME_SCHEMES = frozenset({"s3", "s3a", "s3n", "mocks3"})

# Markers that identify a LOST COMMIT RACE across the stores we claim
# on.  file:// createLink raises java.nio.file.FileAlreadyExistsException;
# HDFS create(overwrite=False) raises o.a.h.fs.FileAlreadyExistsException;
# real s3a conditional-create failures can instead surface as HTTP 412
# PreconditionFailed or RemoteFileChangedException whose message lacks
# any "AlreadyExists" substring -- so classification checks the py4j
# java_exception CLASS NAMES down the cause chain, not just str(exc).
_CONFLICT_MSG_MARKERS = (
    "AlreadyExists",
    "PreconditionFailed",
    "Precondition Failed",
    "RemoteFileChanged",
    "Status Code: 412",
    "status code: 412",
)
_CONFLICT_CLASS_MARKERS = (
    "FileAlreadyExistsException",
    "RemoteFileChangedException",
    "PathExistsException",
)


def _is_conflict_exc(exc: Exception) -> bool:
    """True when ``exc`` (possibly a py4j-wrapped Java exception) means
    ANOTHER WRITER ALREADY CREATED the destination -- a lost
    single-winner race, not an infrastructure failure.  Misclassifying
    a real conflict as a raw error would bypass callers' SnapshotConflict
    cleanup/retry contracts, so this matches both message markers and
    Java exception class names along the getCause() chain."""
    if any(m in str(exc) for m in _CONFLICT_MSG_MARKERS):
        return True
    j = getattr(exc, "java_exception", None)
    hops = 0
    while j is not None and hops < 8:
        try:
            cls = j.getClass().getName()
            msg = j.getMessage() or ""
        except Exception:  # noqa: BLE001 -- dead gateway: fall through
            return False
        if any(c in cls for c in _CONFLICT_CLASS_MARKERS):
            return True
        if any(m in msg for m in _CONFLICT_MSG_MARKERS):
            return True
        try:
            j = j.getCause()
        except Exception:  # noqa: BLE001
            return False
        hops += 1
    return False


def write_atomic_claim(
    spark: SparkSession, final: str, payload: bytes, tmp: str, what: str
) -> None:
    """Single-winner creation of ``final`` holding ``payload`` -- the
    claim primitive behind manifest commits, non-replace tags, and the
    transaction coordinator's WAL records (any path needing lost-update
    safety).  Raises :class:`SnapshotConflict` when a racer already
    created the destination; lost races are classified via
    :func:`_is_conflict_exc` (class names + 412 markers, not just a
    substring -- real s3a failures don't always say AlreadyExists).

    Per store semantics:

    * ``file://`` -- claim via ``java.nio.Files.createLink(final, tmp)``:
      hard-link creation fails atomically when the destination exists
      (POSIX ``link(2)``), closing the exists()-then-rename TOCTOU where
      a POSIX rename silently REPLACES a racing committer's file.
    * S3-semantics schemes (NO_ATOMIC_RENAME_SCHEMES) -- the final file
      is written ONCE with ``create(path, overwrite=False)``, the Hadoop
      spelling of S3's conditional PUT (If-None-Match).
    * other schemes -- exists() check + rename (correct on
      HDFS-semantics stores, whose rename fails on an existing
      destination).

    The staging path gets an ATTEMPT-UNIQUE suffix: were two racers to
    share one tmp file, the winner's hard link would capture the inode
    while the LOSER was overwriting it, publishing the loser's bytes
    under the winner's claim -- then the loser's conflict cleanup
    deletes the very directories the published file references."""
    tmp = f"{tmp}.{uuid.uuid4().hex[:12]}"
    final_lp, tmp_lp = local_path(final), local_path(tmp)
    if (
        final_lp is not None
        and tmp_lp is not None
        and (final.startswith("file:") or _bare_paths_local(spark))
    ):
        # Pure-Python twin of the file:// branch below: link(2) is the
        # same atomic single-winner primitive java.nio createLink wraps,
        # without the ~10 py4j round-trips per claim (the commit plane
        # runs hundreds of claims per multi-commit scenario).
        os.makedirs(os.path.dirname(tmp_lp), exist_ok=True)
        with open(tmp_lp, "wb") as fh:
            fh.write(payload)
        os.makedirs(os.path.dirname(final_lp), exist_ok=True)
        try:
            os.link(tmp_lp, final_lp)
        except FileExistsError:
            os.remove(tmp_lp)
            raise SnapshotConflict(
                f"{what} already committed at {final}"
            ) from None
        except OSError:
            # A filesystem without hard links (some tmpfs/overlay
            # mounts): fall back to the Hadoop branch below, whose
            # java.nio createLink may work through a different mount
            # view -- and if not, IT raises (same loud failure as
            # before, one extra attempt).  Advisor round 13.
            os.remove(tmp_lp)
        else:
            os.remove(tmp_lp)
            return
    fs, final_p = _fs_and_path(spark, final)
    scheme = fs.getUri().getScheme()
    buf = bytearray(payload)
    if scheme in NO_ATOMIC_RENAME_SCHEMES:
        fs.mkdirs(final_p.getParent())
        try:
            out = fs.create(final_p, False)
            try:
                out.write(buf)
            finally:
                out.close()  # conditional-PUT completion = the claim
        except Exception as exc:  # noqa: BLE001 -- py4j-wrapped java exc
            if _is_conflict_exc(exc):
                raise SnapshotConflict(
                    f"{what} already committed at {final}"
                ) from None
            raise
        return
    fs, tmp_p = _fs_and_path(spark, tmp)
    fs.mkdirs(tmp_p.getParent())
    out = fs.create(tmp_p, True)
    try:
        out.write(buf)
    finally:
        out.close()
    if scheme == "file":
        jvm = spark._jvm
        src = jvm.java.io.File(tmp_p.toUri().getPath()).toPath()
        dst = jvm.java.io.File(final_p.toUri().getPath()).toPath()
        try:
            jvm.java.nio.file.Files.createLink(dst, src)
        except Exception as exc:  # noqa: BLE001 -- py4j-wrapped java exc
            fs.delete(tmp_p, False)
            if _is_conflict_exc(exc):
                raise SnapshotConflict(
                    f"{what} already committed at {final}"
                ) from None
            raise
        fs.delete(tmp_p, False)
        return
    if fs.exists(final_p) or not fs.rename(tmp_p, final_p):
        fs.delete(tmp_p, False)
        raise SnapshotConflict(f"{what} already committed at {final}")


def write_atomic_replace(
    spark: SparkSession, final: str, payload: bytes, tmp: str
) -> None:
    """Overwrite ``final`` with ``payload`` such that a reader never
    observes a torn file AND the destination never transiently
    disappears: ``file://`` gets an atomic REPLACE_EXISTING move, other
    schemes a create-overwrite (their strongest primitive).  The staging
    path is attempt-unique for the same reason as
    :func:`write_atomic_claim` -- concurrent replacers must not publish
    each other's in-flight bytes."""
    tmp = f"{tmp}.{uuid.uuid4().hex[:12]}"
    final_lp, tmp_lp = local_path(final), local_path(tmp)
    if (
        final_lp is not None
        and tmp_lp is not None
        and (final.startswith("file:") or _bare_paths_local(spark))
    ):
        # Pure-Python twin of the file:// branch below (os.replace is
        # rename(2) = REPLACE_EXISTING move), skipping the py4j detour.
        os.makedirs(os.path.dirname(tmp_lp), exist_ok=True)
        with open(tmp_lp, "wb") as fh:
            fh.write(payload)
        os.makedirs(os.path.dirname(final_lp), exist_ok=True)
        os.replace(tmp_lp, final_lp)
        return
    fs, final_p = _fs_and_path(spark, final)
    payload = bytearray(payload)
    if fs.getUri().getScheme() == "file":
        _, tmp_p = _fs_and_path(spark, tmp)
        fs.mkdirs(tmp_p.getParent())
        out = fs.create(tmp_p, True)
        try:
            out.write(payload)
        finally:
            out.close()
        jvm = spark._jvm
        src = jvm.java.io.File(tmp_p.toUri().getPath()).toPath()
        dst = jvm.java.io.File(final_p.toUri().getPath()).toPath()
        # CopyOption is a varargs parameter: build the Java array
        # explicitly (py4j does not auto-wrap varargs).
        gateway = spark.sparkContext._gateway
        opts = gateway.new_array(jvm.java.nio.file.CopyOption, 1)
        opts[0] = jvm.java.nio.file.StandardCopyOption.REPLACE_EXISTING
        jvm.java.nio.file.Files.move(src, dst, opts)
        return
    fs.mkdirs(final_p.getParent())
    out = fs.create(final_p, True)
    try:
        out.write(payload)
    finally:
        out.close()

# Per-file BLOOM FILTERS (``bloom_cols`` at write time): zone maps
# prune range predicates, but a POINT lookup on a high-cardinality key
# whose values are hash-scattered across files (the common layout for
# ids) intersects every file's [min, max] -- zone maps prune nothing.
# Iceberg/Delta/Parquet all answer this with per-file bloom filters;
# the manifest records one bitmap per (file, column) built from the
# same write-time scan as the stats.  k hash probes via Kirsch-
# Mitzenmacher double hashing g_i = (h1 + i*h2) mod bits over the two
# independent 32-bit streams one md5 already yields (functions.hashing
# h32 / h32_hi), so the executor-side build and the driver-side probe
# agree bit-for-bit.  No false negatives => skipping is sound; false
# positives only cost an extra file open.  Default 16384 bits = 2 KiB
# of manifest per file-column -- ~4e-4 false-positive rate at ~600
# values/file, and ``bloom_bits`` is per-write tunable (recorded in
# each entry, so mixed sizes coexist in one table).
BLOOM_BITS = 16384
BLOOM_K = 4


def _bloom_hash_pair(value) -> tuple[int, int]:
    """Driver-side twin of the executor build's hash pair: md5 of the
    value's STRING form (Spark ``CAST(col AS STRING)`` and Python
    ``str()`` agree for the supported int/string key types), low
    quadword split into the same two little-endian 32-bit halves
    functions.hashing.h32 / h32_hi extract."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    return (
        int.from_bytes(d[8:12], "little"),
        int.from_bytes(d[12:16], "little"),
    )


def _bloom_probe_positions(value, bits: int) -> list[int]:
    if not isinstance(value, (int, str)) or isinstance(value, bool):
        # probing with a type whose str() diverges from Spark's string
        # cast would skip files that DO hold the value -- refuse
        raise ValueError(
            f"bloom point_filter supports int/string values; got "
            f"{type(value).__name__}"
        )
    h1, h2 = _bloom_hash_pair(value)
    return [(h1 + i * h2) % bits for i in range(BLOOM_K)]


# Key types whose Spark CAST(col AS STRING) agrees with Python str():
# the bloom build/probe contract.  Doubles ('1.0E-4' vs '0.0001'),
# booleans ('true' vs 'True'), decimals etc. DIVERGE -- hashing them
# would make the probe miss real rows (an unsound skip), so both the
# write and the probe validate instead of guessing.
_BLOOM_KEY_TYPES = frozenset(
    {"byte", "short", "int", "integer", "long", "bigint", "string"}
)


def _point_values(value) -> list:
    """A point predicate's value set: a scalar is a 1-element set, a
    list/tuple/set is an IN-list (empty = provably no rows)."""
    if isinstance(value, (list, tuple, set, frozenset)):
        return list(value)
    return [value]


def _bloom_excludes(file_blooms: dict, points: dict) -> bool:
    """True when ANY point predicate is PROVABLY unsatisfiable in the
    file: for a scalar, some probe bit unset; for an IN-list, EVERY
    member provably absent.  Columns without a bloom are inconclusive
    (kept: sound -- blooms have no false negatives)."""
    for col, value in points.items():
        entry = file_blooms.get(col)
        if not entry:
            continue
        bits, hexmap = entry
        bm = int(hexmap, 16)
        if all(
            any(
                not (bm >> pos) & 1
                for pos in _bloom_probe_positions(v, bits)
            )
            for v in _point_values(value)
        ):
            return True
    return False


def _vdir_version(vdir: str) -> int:
    """The commit version that wrote a data directory, parsed from its
    attempt-unique name (``v<version>-<uuid>[-del]``).  This is the
    table's SEQUENCE NUMBER: equality deletes apply only to data
    written BEFORE them (dir version < delete version), so a key
    re-inserted after a delete is visible again -- the Iceberg v2
    merge-on-read rule."""
    return int(vdir[1:].split("-", 1)[0])


def _local_dir_file_sizes(path: str, depth: int) -> dict[str, list[int]]:
    """Pure-Python per-partition-dir data-file sizes of a local data
    dir (relative Hive part -> byte size per file; ``""`` for
    unpartitioned) -- shared by the Spark store's local fast lane and
    the Spark-less SQL-write committer."""
    import os as _os

    out: dict[str, list[int]] = {}
    for dirpath, _dirs, files in _os.walk(path):
        rel = _os.path.relpath(dirpath, path)
        part = "" if rel == "." else rel.replace(_os.sep, "/")
        segs = part.count("/") + 1 if part else 0
        if segs != depth:
            continue
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.setdefault(part, []).append(
                    _os.path.getsize(f"{dirpath}/{f}")
                )
    return out


def _prune_delete_sets(delete_sets: list, partitions: dict) -> list:
    """Drop delete sets that can no longer affect any live data dir
    (no live dir older than the delete): after compaction rewrites
    every partition, old equality deletes become dead weight and fall
    out of the manifest automatically."""
    if not delete_sets:
        return []
    vers = {
        _vdir_version(vd) for vds in partitions.values() for vd in vds
    }
    min_w = min(vers) if vers else None
    return [
        d
        for d in delete_sets
        if min_w is not None and min_w < int(d["version"])
    ]


def _filled_dir_specs(manifest: dict) -> dict[str, list[str]]:
    """A COMPLETE vdir -> partition-spec map for a resolved manifest:
    directories recorded before spec evolution existed (or before the
    table ever evolved) default to the manifest's own table-level
    ``partition_by`` -- correct because a manifest written before any
    evolution has exactly one spec."""
    specs = {k: list(v) for k, v in manifest.get("dir_specs", {}).items()}
    for vds in manifest["partitions"].values():
        for vd in vds:
            specs.setdefault(vd, list(manifest["partition_by"]))
    return specs


# Every Nth version is committed as a FULL manifest (a checkpoint);
# versions in between commit DELTAS -- only the partitions this commit
# touched plus its fresh stats.  Commit METADATA cost is thereby
# O(delta), not O(table partitions): at 10^5 partitions an append that
# touches one day writes a few hundred bytes, not a multi-MB partition
# map (the Delta-log checkpoint pattern; Iceberg's manifest-list serves
# the same purpose).  Resolution walks at most CHECKPOINT_EVERY-1
# deltas back to a checkpoint -- bounded driver-side JSON reads.
CHECKPOINT_EVERY = 8

#: Partition-map size above which a full checkpoint is written SHARDED:
#: the root manifest keeps only a shard INDEX -- per shard its file
#: name, [min, max] partition-key range and aggregate column bounds --
#: and the partition-keyed maps (partitions / dir_stats / dir_rows /
#: per-file stats+blooms) move to range-clustered shard files under
#: ``_manifests/shards/``.  This is Iceberg's manifest-list analog: a
#: read pruned by ``partitions=`` or ``range_filter`` resolves against
#: O(matching shards) manifest bytes instead of parsing the full
#: O(table-directories) map driver-side (at 10^6 partitions the
#: difference between one ~100 KB shard and a ~100 MB checkpoint).
#: Below the threshold the inline form is cheaper (one file, no extra
#: round-trips) and nothing changes.
SHARD_PARTITIONS_THRESHOLD = 4096
#: Partitions per shard file once sharding engages -- sized so a shard
#: parses in single-digit milliseconds and a pruned point read touches
#: a few hundred KB however large the table grows.
SHARD_SIZE = 2048
#: Subdirectory of MANIFEST_DIR holding shard files.  The name must not
#: match the ``v*.json`` version glob: :meth:`SnapshotStore.versions`
#: scans only file names starting with ``v``.
SHARDS_SUBDIR = "shards"


def _dkey_part(dkey: str) -> str:
    """The partition key of a ``dir_stats``/``dir_rows`` map key
    (``"<vdir>/<part>"``; bare ``"<vdir>"`` is the unpartitioned slot --
    vdir names never contain ``/``)."""
    return dkey.split("/", 1)[1] if "/" in dkey else ""


#: Hidden-partitioning transform syntax accepted in ``partition_by``
#: (the Iceberg partition-transform set): ``bucket(N, col)``,
#: ``truncate(W, col)``, ``years(col)``, ``months(col)``, ``days(col)``,
#: ``hours(col)``.  Time transforms produce the Iceberg-spec integer
#: encodings (years/months/days/hours since the 1970 epoch).
_TRANSFORM_RE = re.compile(
    r"^(?:(bucket|truncate)\(\s*(\d+)\s*,\s*(\w+)\s*\)"
    r"|(years|months|days|hours)\(\s*(\w+)\s*\))$"
)


def _parse_partition_spec(pby: list[str]) -> tuple[list[str], dict]:
    """Split a ``partition_by`` list into (physical column names,
    transform specs keyed by derived column name).  Identity columns
    pass through; ``bucket(8, doc_id)`` becomes the derived physical
    column ``doc_id_bucket_8`` with spec ``{kind, src, arg}``."""
    physical: list[str] = []
    transforms: dict[str, dict] = {}
    for item in pby:
        if "(" not in item:
            physical.append(item)
            continue
        m = _TRANSFORM_RE.match(item.strip())
        if m is None:
            raise ValueError(
                f"unparseable partition transform {item!r}: expected "
                "bucket(N, col) / truncate(W, col) / "
                "years|months|days|hours(col)"
            )
        if m.group(1):
            kind, src = m.group(1), m.group(3)
            spec = {"kind": kind, "src": src, "arg": int(m.group(2))}
            name = f"{src}_{kind}_{m.group(2)}"
        else:
            kind, src = m.group(4), m.group(5)
            spec = {"kind": kind, "src": src}
            name = f"{src}_{kind}"
        transforms[name] = spec
        physical.append(name)
    return physical, transforms


# Logical-plan nodes that pass rows through without changing their
# placement or order; the layout probe walks through these to find what
# actually determines the frame's physical arrangement.
_LAYOUT_TRANSPARENT_NODES = frozenset({"Project", "Filter", "SubqueryAlias"})
# Nodes a caller writes to ARRANGE a layout deliberately: explicit
# repartition/coalesce (Repartition), repartition(cols)/
# repartitionByRange (RepartitionByExpression), a rebalance hint
# (RebalancePartitions), and orderBy/sortWithinPartitions (Sort).
_LAYOUT_OWNING_NODES = frozenset(
    {"Sort", "Repartition", "RepartitionByExpression", "RebalancePartitions"}
)

#: Alias name a data producer attaches ABOVE a repartition it inserted
#: purely as an input-parallelism defense (not a layout): everything
#: below a ``SubqueryAlias`` with this name is INCIDENTAL to
#: :func:`_caller_arranged_layout`, so identity-partitioned writes of
#: such frames still gain the spec-keyed rebalance.  A caller arranging
#: a layout ON TOP of a marked frame (their own repartition/sort) sits
#: above the marker in the plan and is found first -- deliberate
#: layouts always win.
INCIDENTAL_LAYOUT_ALIAS = "__incidental_layout__"


def _caller_arranged_layout(df: DataFrame) -> bool:
    """True when the caller deliberately arranged ``df``'s physical
    layout -- the analyzed plan's root, looked at through
    layout-transparent Project/Filter/alias nodes, is an explicit
    Sort/repartition/rebalance node.

    This is how the write side decides whether it may cluster an
    identity-partitioned frame to the partition spec (Iceberg's
    ``write.distribution-mode=hash``) without shuffling away a layout
    the caller owns: a frame ending in ``repartitionByRange('doc_id')``
    or ``sortWithinPartitions(...)`` was clustered ON PURPOSE (zone-map
    envelopes, file-count shaping, sorted runs) and must pass through
    untouched, while a frame that is merely task-scattered by whatever
    scan/join/aggregate produced it gains a spec-keyed rebalance.
    Returns True (= leave the frame alone) whenever the plan cannot be
    inspected -- never cluster on a guess; such failures are counted
    in :data:`LAYOUT_PROBE_FAILURES` and logged once per session."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        for _ in range(64):
            name = plan.getClass().getSimpleName()
            if name in _LAYOUT_OWNING_NODES:
                return True
            if name not in _LAYOUT_TRANSPARENT_NODES:
                return False
            if (
                name == "SubqueryAlias"
                and plan.alias() == INCIDENTAL_LAYOUT_ALIAS
            ):
                # Everything below the marker is a producer-inserted
                # parallelism defense, not a layout -- stop before the
                # repartition underneath can masquerade as arranged.
                return False
            plan = plan.children().apply(0)
    except Exception as exc:  # noqa: BLE001 -- Connect frames, plan API drift
        _layout_probe_failed(df, exc)
    return True


#: Plan-inspection failures of :func:`_caller_arranged_layout` per
#: session (``id`` of the frame's SparkSession): each one left a frame
#: unclustered because its layout could not be read.
LAYOUT_PROBE_FAILURES: dict[int | None, int] = {}
_LAYOUT_PROBE_LOCK = threading.Lock()


def _layout_probe_failed(df, exc: Exception) -> None:
    """Count a failed layout probe; log the first one of each session."""
    try:
        session = id(df.sparkSession)
    except Exception:  # noqa: BLE001 -- the frame may be as broken as its plan
        session = None
    with _LAYOUT_PROBE_LOCK:
        n = LAYOUT_PROBE_FAILURES.get(session, 0) + 1
        LAYOUT_PROBE_FAILURES[session] = n
    if n == 1:
        _log.warning(
            "cannot inspect the plan of a partitioned write (%s: %s); "
            "writing it without the partition-spec rebalance. Later "
            "failures in this session are only counted.",
            type(exc).__name__,
            exc,
        )


def _apply_transforms(df: DataFrame, transforms: dict) -> DataFrame:
    """Materialize the derived partition columns on ``df`` (recomputed
    unconditionally -- the transform, not the caller, is the source of
    truth for routing).  All expressions are deterministic built-ins,
    so write-side routing and plan-side point evaluation cannot
    drift."""
    from pyspark.sql import functions as F

    for name, spec in transforms.items():
        src, kind = F.col(spec["src"]), spec["kind"]
        if kind == "bucket":
            expr = F.pmod(F.xxhash64(src), F.lit(spec["arg"])).cast("int")
        elif kind == "truncate":
            dt = df.schema[spec["src"]].dataType.simpleString()
            expr = (
                F.substring(src, 1, spec["arg"])
                if dt == "string"
                else src - F.pmod(src, F.lit(spec["arg"]))
            )
        elif kind == "years":
            expr = (F.year(src) - 1970).cast("int")
        elif kind == "months":
            expr = ((F.year(src) - 1970) * 12 + F.month(src) - 1).cast("int")
        elif kind == "days":
            expr = F.datediff(src.cast("date"), F.lit("1970-01-01")).cast(
                "int"
            )
        elif kind == "hours":
            expr = F.floor(
                src.cast("timestamp").cast("double") / 3600
            ).cast("int")
        else:  # pragma: no cover - parse() only emits the kinds above
            raise ValueError(f"unknown transform kind {kind!r}")
        df = df.withColumn(name, expr)
    return df

#: Namespace prefix separating BRANCH markers from plain WAP ids in the
#: ``staged`` manifest field -- a branch is a staged chain with extra
#: lifecycle rules (repeat fast-forwards allowed; see :meth:`SnapshotStore.branch_write`).
BRANCH_NS = "branch."

#: Type widenings :meth:`SnapshotStore.evolve_schema` accepts -- the
#: Iceberg-spec promotion set (int -> long, float -> double, decimal
#: precision growth handled separately): every value representable in
#: the source type is exactly representable in the target, so old data
#: files read through a cast lose nothing.
_TYPE_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}

_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")

#: Spark spells scalar types two ways -- schema JSON ("integer",
#: "long", "short", "byte") vs DDL/simpleString ("int", "bigint",
#: "smallint", "tinyint").  Evolution metadata normalizes to DDL (what
#: ``cast()`` and ``dataType.simpleString()`` speak); manifest schema
#: JSON keeps the JSON spelling (what ``StructType.fromJson`` expects).
_JSON_TO_DDL = {"byte": "tinyint", "short": "smallint", "integer": "int", "long": "bigint"}
_DDL_TO_JSON = {v: k for k, v in _JSON_TO_DDL.items()}


def _ddl_type(t):
    """Either spelling (or a nested-type dict) -> DDL form for strings."""
    return _JSON_TO_DDL.get(t, t) if isinstance(t, str) else t


def _json_type(t):
    """Either spelling (or a nested-type dict) -> schema-JSON form."""
    return _DDL_TO_JSON.get(t, t) if isinstance(t, str) else t


def _is_widening(frm, to) -> bool:
    """True iff ``frm -> to`` is a lossless type promotion (Iceberg's
    schema-evolution rule: int->long, float->double, decimal(p,s) ->
    decimal(p',s) with p' >= p).  Accepts either type spelling."""
    frm, to = _ddl_type(frm), _ddl_type(to)
    if not isinstance(frm, str) or not isinstance(to, str):
        return False
    if to in _TYPE_WIDENINGS.get(frm, ()):
        return True
    mf, mt = _DECIMAL_RE.match(frm), _DECIMAL_RE.match(to)
    if mf and mt:
        return int(mt.group(1)) >= int(mf.group(1)) and mt.group(2) == mf.group(2)
    return False


def _epoch_fields(schema_log: list, w: int) -> dict[int, str]:
    """Field-id -> STORED column name for a data directory written at
    version ``w``: the newest schema-log entry at or before ``w``, plus
    RETROACTIVE registrations from later entries' ``synced`` maps.

    ``synced`` records fields first registered at an evolve commit from
    columns that already existed in the table (added by ordinary writes,
    which never rename): such a column carried the same name across all
    earlier versions, so mapping it back in time is exact -- EXCEPT when
    the name already belongs to a field in the base epoch (a dropped
    field's name later reused): the base field owns the stored column
    for directories of that epoch, so the synced id is skipped there."""
    base: dict[int, str] = {}
    names: set[str] = set()
    for e in schema_log:
        if e["version"] <= w:
            base = {int(f["id"]): f["name"] for f in e["fields"]}
            names = set(base.values())
        else:
            for fid_s, nm in (e.get("synced") or {}).items():
                fid = int(fid_s)
                if fid not in base and nm not in names:
                    base[fid] = nm
                    names.add(nm)
    return base


class SnapshotConflict(RuntimeError):
    """Another committer claimed this version first (optimistic-commit
    loser).  The table is unchanged; re-read the head and retry."""


@dataclass
class SnapshotStore:
    """Snapshot-versioned table rooted at ``root``.

    ``shard_partitions_threshold`` overrides
    :data:`SHARD_PARTITIONS_THRESHOLD` for this store (``0`` shards
    every full checkpoint -- used by tests and by tables known to grow
    past the default before their first checkpoint); ``shard_size``
    overrides :data:`SHARD_SIZE` (partitions per shard file)."""

    spark: SparkSession
    root: str
    shard_partitions_threshold: int | None = None
    shard_size: int | None = None

    # -- manifest plumbing ------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return f"{self.root.rstrip('/')}/{MANIFEST_DIR}/v{version}.json"

    def _read_parquet(
        self,
        paths: list[str],
        base_path: str | None = None,
        declared=None,
    ):
        """Parquet read with a per-store SCHEMA memo.  Every bare
        ``spark.read.parquet`` pays a driver-side footer-inference pass
        per call (~70 ms: list + one-footer Spark job -- 41 such reads
        were 26% of the matview-refresh scenario's profile).  Committed
        data/sidecar dirs are IMMUTABLE, so the schema inference would
        return for an identical (basePath, path-set) read cannot
        change: the first read's inferred schema is memoized and fed
        back via ``.schema()`` on repeats -- exact equivalence by
        construction (the value IS what inference returned for exactly
        this key; no partition-type or merge behavior is altered).

        ``declared`` (data columns only, NO partition columns) skips
        inference on the FIRST touch too: Spark appends the partition
        path columns with its own partition-type inference, so the
        result schema is identical to a bare read of files physically
        holding exactly those columns (empirically pinned by
        tests/test_fsmeta_lanes.py::test_declared_schema_read_parity).

        On top of the schema memo, the RELATION itself is memoized
        session-wide: creating a parquet relation costs a driver-side
        py4j + analysis + file-listing pass (~20 ms) per call, and a
        bench sweep of the scenario families repeats 41% of its
        relation creations on identical keys (measured: 101 of 246).
        A DataFrame is an immutable PLAN over an immutable committed
        path-set -- returning the same plan object is exactly what
        rebuilding it would produce, and every action on it still
        reads and computes from the parquet files."""
        key = (
            self.spark.sparkContext.applicationId,
            self.spark,  # sessions of one application differ in conf
            base_path,
            tuple(paths),
        )
        with _PQ_PLAN_LOCK:
            plan = _PQ_PLAN_MEMO.get(key)
            if plan is not None:
                _PQ_PLAN_MEMO.move_to_end(key)
                return plan
        memo = self.__dict__.setdefault("_pq_schema_memo", {})
        reader = self.spark.read
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        cached = memo.get(key)
        if cached is not None:
            df = reader.schema(cached).parquet(*paths)
        elif declared is not None:
            df = reader.schema(declared).parquet(*paths)
        else:
            df = reader.parquet(*paths)
            memo[key] = df.schema
        with _PQ_PLAN_LOCK:
            _PQ_PLAN_MEMO[key] = df
            while len(_PQ_PLAN_MEMO) > _PQ_PLAN_MEMO_MAX:
                _PQ_PLAN_MEMO.popitem(last=False)
        return df

    def _declared_dir_schema(self, vd: str, parts):
        """The DATA schema of a committed dir's parquet files: the
        writing commit's recorded schema minus the dir's partition path
        columns (Spark re-appends those from the directory names with
        its own partition-type inference -- the read path's documented
        partition-typing semantics, untouched).  None (-> fall back to
        footer inference) when anything is unusual: manifest schema
        unreadable, escaped segment names."""
        from pyspark.sql import types as T

        try:
            m = self._read_manifest_raw(_vdir_version(vd))
            sj = json.loads(m["schema"])
        except Exception:  # noqa: BLE001 -- any oddity: infer instead
            return None
        path_cols: set[str] = set()
        for part in parts:
            if not part:
                continue
            for seg in part.split("/"):
                name = seg.split("=", 1)[0]
                if "%" in name:
                    return None  # escaped column name: let Spark infer
                path_cols.add(name)
        fields = [f for f in sj["fields"] if f["name"] not in path_cols]
        if not fields:
            return None
        if any(not isinstance(f.get("type"), str) for f in fields):
            # nested struct/array/map: footer inference marks NESTED
            # levels nullable too; declaring the recorded nested
            # nullability could diverge -- let Spark infer (advisor
            # round 13).  Primitive columns (every bench table) keep
            # the fast lane.
            return None
        # file sources surface data columns nullable; declare the same
        fields = [{**f, "nullable": True} for f in fields]
        try:
            return T.StructType.fromJson(
                {"type": "struct", "fields": fields}
            )
        except Exception:  # noqa: BLE001 -- unparseable: infer instead
            return None

    def versions(self) -> list[int]:
        """Committed versions, ascending (tmp files are not commits)."""
        out = []
        for e in list_entries(
            self.spark, f"{self.root.rstrip('/')}/{MANIFEST_DIR}"
        ):
            if e.name.startswith("v") and e.name.endswith(".json"):
                out.append(int(e.name[1:-5]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def current_version(self) -> int | None:
        """The PUBLISHED table head: the newest committed version that is
        not a staged write-audit-publish snapshot (see
        :meth:`write` ``staged=``).  This -- not :meth:`latest_version`,
        which is the raw commit counter -- is what reads, writes and
        maintenance chain from; staged snapshots are invisible until
        :meth:`publish_staged` replays them here.  Usually one manifest
        read (staged commits are transient)."""
        for v in reversed(self.versions()):
            if self._read_manifest_raw(v).get("staged") is None:
                return v
        return None

    def _pin_head(self) -> tuple[int | None, int]:
        """(published parent version, next claimable version) from ONE
        ``versions()`` listing.  Every commit path must allocate its
        version number from the SAME listing that chose its parent:
        with two listings, a commit landing in between makes the new
        version number skip past the interloper while the parent stays
        stale -- the atomic claim then succeeds and the interleaved
        commit's directories silently drop from the live set (lost
        update).  From one listing, any commit landing after it
        collides at the manifest claim and raises
        :class:`SnapshotConflict` -- loud, retriable, never lossy."""
        vs = self.versions()
        parent = next(
            (
                v
                for v in reversed(vs)
                if self._read_manifest_raw(v).get("staged") is None
            ),
            None,
        )
        return parent, (vs[-1] + 1 if vs else 0)

    def _read_manifest_raw(self, version: int) -> dict:
        """One manifest FILE, as committed (full checkpoint or delta)."""
        raw = read_bytes(self.spark, self._manifest_path(version))
        return json.loads(raw.decode("utf-8"))

    def _read_manifest(self, version: int) -> dict:
        """The RESOLVED manifest for ``version``: a delta chain is
        folded onto its nearest full checkpoint (<= CHECKPOINT_EVERY-1
        steps), a SHARDED checkpoint is inlined, reproducing exactly
        the dict a full commit would have written -- callers never see
        the delta or shard encodings.

        Stats carry-forward happens here: a parent's dir/file stats
        survive into the child iff their directory is still live in the
        child's partition map and the child did not re-stat it (same
        rule the eager full-manifest writer applies)."""
        return self._resolve_manifest(version)

    def _read_manifest_pruned(
        self,
        version: int,
        partitions: list[str] | None = None,
        range_filter: tuple | list[tuple] | None = None,
    ) -> dict:
        """:meth:`_read_manifest` restricted -- soundly, possibly
        over-inclusively -- to the partition keys a selector can match:
        against a sharded checkpoint only the shards whose key range
        covers a requested partition (``partitions=``) or whose
        aggregate column bounds intersect every range
        (``range_filter=``) are read, so a pruned plan touches
        O(matching shards + delta chain) manifest bytes, never the full
        partition map.  The returned dict is exact for every partition
        it contains and contains every partition the selectors can
        match; it may carry extra partitions (the surrounding shard),
        which :meth:`plan_dirs` filters exactly.  Unsharded manifests
        resolve fully (already one file)."""
        ranges = self._normalize_ranges(range_filter)
        if partitions is None and not ranges:
            return self._resolve_manifest(version)
        want = sorted(set(partitions)) if partitions is not None else None
        m = self._resolve_manifest(version, want=want, ranges=ranges)
        if not m["partitions"]:
            # Corner: every selected shard's partitions were removed by
            # later deltas.  Fall back to the full resolve so read()'s
            # empty-table vs no-matching-partitions distinction stays
            # exact (rare; metadata-plane cost only).
            return self._resolve_manifest(version)
        return m

    def _resolve_manifest(
        self,
        version: int,
        want: list[str] | None = None,
        ranges: list[tuple] | None = None,
    ) -> dict:
        """Shared resolver behind :meth:`_read_manifest` (``want`` and
        ``ranges`` both None: full fidelity) and
        :meth:`_read_manifest_pruned` (shard selection applies)."""
        chain: list[dict] = []
        raw = self._read_manifest_raw(version)
        while raw.get("manifest_kind") == "delta":
            chain.append(raw)
            raw = self._read_manifest_raw(raw["parent"])
        if not chain and "partition_shards" not in raw:
            return raw
        cur = self._load_base(raw, want, ranges)
        for d in reversed(chain):
            partitions = {k: list(v) for k, v in cur["partitions"].items()}
            for p in d["partitions_removed"]:
                partitions.pop(p, None)
            for k, v in d["partitions_set"].items():
                partitions[k] = list(v)
            live = {
                f"{vd}/{p}" if p else vd
                for p, vds in partitions.items()
                for vd in vds
            }
            dir_stats = {
                k: v for k, v in cur.get("dir_stats", {}).items() if k in live
            }
            dir_stats.update(d["dir_stats_added"])
            file_stats = {
                k: v
                for k, v in cur.get("file_stats", {}).items()
                if k.rsplit("/", 1)[0] in live
            }
            file_stats.update(d["file_stats_added"])
            file_blooms = {
                k: v
                for k, v in cur.get("file_blooms", {}).items()
                if k.rsplit("/", 1)[0] in live
            }
            file_blooms.update(d.get("file_blooms_added", {}))
            sidecars = self._live_sidecars(
                cur.get("file_stats_sidecars"), partitions
            ) + list(d.get("file_stats_sidecars_added", []))
            delete_sets = _prune_delete_sets(
                list(cur.get("delete_sets", []))
                + list(d.get("delete_sets_added", [])),
                partitions,
            )
            vdir_live = {vd for vds in partitions.values() for vd in vds}
            parent_specs = _filled_dir_specs(cur)
            dir_specs = {
                vd: spec
                for vd, spec in parent_specs.items()
                if vd in vdir_live
            }
            dir_specs.update(d.get("dir_specs_added", {}))
            dir_rows = {
                k: v for k, v in cur.get("dir_rows", {}).items() if k in live
            }
            dir_rows.update(d.get("dir_rows_added", {}))
            dir_bytes = {
                k: v
                for k, v in cur.get("dir_bytes", {}).items()
                if k in live
            }
            dir_bytes.update(d.get("dir_bytes_added", {}))
            cur = {
                "version": d["version"],
                "parent": d["parent"],
                "mode": d["mode"],
                "partition_by": d["partition_by"],
                "partitions": partitions,
                "dir_stats": dir_stats,
                "file_stats": file_stats,
                "file_blooms": file_blooms,
                "file_stats_sidecars": sidecars,
                "delete_sets": delete_sets,
                "dir_specs": dir_specs,
                "dir_rows": dir_rows,
                "dir_bytes": dir_bytes,
                "table_stats": (
                    d.get("table_stats")
                    if d.get("table_stats") is not None
                    else cur.get("table_stats")
                ),
                "committed_at_ms": d["committed_at_ms"],
                "metadata": d["metadata"],
                "schema": d["schema"],
                **(
                    {
                        "schema_log": (
                            d["schema_log"]
                            if d.get("schema_log")
                            else cur.get("schema_log")
                        )
                    }
                    if d.get("schema_log") or cur.get("schema_log")
                    else {}
                ),
                **(
                    {
                        "partition_transforms": (
                            d["partition_transforms"]
                            if "partition_transforms" in d
                            else cur.get("partition_transforms")
                        )
                    }
                    if "partition_transforms" in d
                    or cur.get("partition_transforms") is not None
                    else {}
                ),
                "watermarks": {
                    **(cur.get("watermarks") or {}),
                    **(d.get("watermarks") or {}),
                },
                "manifest_kind": "delta",
                **(
                    {"staged": d["staged"]}
                    if d.get("staged") is not None
                    else {}
                ),
            }
        return cur

    def _shard_path(self, name: str) -> str:
        return (
            f"{self.root.rstrip('/')}/{MANIFEST_DIR}/{SHARDS_SUBDIR}/{name}"
        )

    def _read_shard(self, name: str) -> dict:
        return json.loads(
            read_bytes(self.spark, self._shard_path(name)).decode("utf-8")
        )

    def _load_base(
        self,
        raw: dict,
        want: list[str] | None,
        ranges: list[tuple] | None,
    ) -> dict:
        """A full-checkpoint root manifest with its shard content
        merged back in -- all shards for a full resolve, only the
        selector-matching ones (plus one fallback shard, keeping
        read()'s empty-result paths intact) for a pruned one."""
        shards = raw.get("partition_shards")
        if not shards:
            return raw
        if want is None and not ranges:
            selected = list(shards)
        else:
            selected = [
                s
                for s in shards
                if (
                    want is None
                    or any(s["min"] <= k <= s["max"] for k in want)
                )
                and not (
                    ranges
                    and self._provably_disjoint(s.get("stats", {}), ranges)
                )
            ]
            if not selected:
                selected = shards[:1]
        out = {k: v for k, v in raw.items() if k != "partition_shards"}
        out["partitions"] = dict(raw.get("partitions", {}))
        for key in ("dir_stats", "file_stats", "file_blooms", "dir_rows",
                    "dir_bytes"):
            out[key] = dict(raw.get(key, {}))
        for s in selected:
            sh = self._read_shard(s["file"])
            out["partitions"].update(sh["partitions"])
            for key in (
                "dir_stats",
                "file_stats",
                "file_blooms",
                "dir_rows",
                "dir_bytes",
            ):
                out[key].update(sh.get(key, {}))
        return out

    def _commit_manifest(self, version: int, manifest: dict) -> None:
        """Single-winner commit point, per store semantics.

        * ``file://`` -- claim via ``java.nio.Files.createLink(final,
          tmp)``: hard-link creation fails atomically when the
          destination exists (POSIX ``link(2)``), closing the
          exists()-then-rename TOCTOU where a POSIX rename silently
          REPLACES a racing committer's manifest (lost update).
        * S3-semantics schemes (NO_ATOMIC_RENAME_SCHEMES) -- rename is
          copy+delete and OVERWRITES, so no rename-based claim is
          sound; instead the final manifest is written ONCE with
          ``create(path, overwrite=False)``, the Hadoop spelling of
          S3's conditional PUT (If-None-Match): the object appears and
          the existence check resolves atomically at request
          completion, so a racing second committer fails with
          FileAlreadyExists -- loudly, never a lost update.  (s3a maps
          create-no-overwrite onto exactly this conditional PUT when
          ``fs.s3a.create.conditional.enabled`` is on, its default.)
        * other schemes -- exists() check + rename.  Correct on
          HDFS-semantics stores (rename fails on an existing
          destination).
        """
        manifest, shard_paths = self._externalize_manifest(version, manifest)
        try:
            write_atomic_claim(
                self.spark,
                self._manifest_path(version),
                json.dumps(manifest).encode("utf-8"),
                f"{self.root.rstrip('/')}/{MANIFEST_DIR}/.v{version}.json.tmp",
                what=f"version {version}",
            )
        except SnapshotConflict:
            # Loser's shard files are invisible (only a committed root
            # references its shards); reclaim them eagerly like the
            # orphaned data dir.
            for sp in shard_paths:
                delete_prefix(self.spark, sp)
            raise

    def _replace_manifest(self, version: int, manifest: dict) -> None:
        """Maintenance-only overwrite of an EXISTING manifest with a
        semantically identical materialization (expire's delta-chain
        checkpointing).  Not a commit claim -- the version is already
        committed and the content equivalent, so overwrite semantics
        are safe; on ``file://`` the swap is an atomic REPLACE_EXISTING
        move, elsewhere a create-overwrite (readers racing the
        maintenance window may retry, the same contract expire already
        carries for data-dir reclamation).  A replaced SHARDED root's
        new shards are written (attempt-unique names) before the root
        swap; the old shards become orphans, reclaimed by expire's
        age-gated shard sweep so a reader holding the old root can
        still finish."""
        manifest, _ = self._externalize_manifest(version, manifest)
        write_atomic_replace(
            self.spark,
            self._manifest_path(version),
            json.dumps(manifest).encode("utf-8"),
            f"{self.root.rstrip('/')}/{MANIFEST_DIR}/.v{version}.json.mat.tmp",
        )

    def _externalize_manifest(
        self, version: int, manifest: dict
    ) -> tuple[dict, list[str]]:
        """Split a large full checkpoint into range-clustered shard
        files (written here, before the root claim -- a visible root
        always has its shards) and return ``(root manifest, shard
        paths)``.  Small checkpoints, deltas, and already-externalized
        dicts pass through unchanged.  Shard names embed an attempt
        token, so racing committers of one version never share files.

        Per shard the root records its partition-key range and, for
        range-filter skipping, aggregate column bounds -- present for a
        column only when EVERY directory in the shard carries non-null
        bounds for it (the lifted form of plan_dirs' "missing stats are
        inconclusive" rule, so skipping a whole shard is exactly as
        sound as skipping each of its directories)."""
        thresh = (
            self.shard_partitions_threshold
            if self.shard_partitions_threshold is not None
            else SHARD_PARTITIONS_THRESHOLD
        )
        parts = manifest.get("partitions")
        if (
            manifest.get("manifest_kind") != "full"
            or "partition_shards" in manifest
            or parts is None
            or len(parts) <= thresh
        ):
            return manifest, []
        shard_size = self.shard_size if self.shard_size else SHARD_SIZE
        keys = sorted(parts)
        shard_of = {
            k: i // shard_size for i, k in enumerate(keys)
        }
        n_shards = shard_of[keys[-1]] + 1
        payloads: list[dict] = [
            {
                "partitions": {},
                "dir_stats": {},
                "file_stats": {},
                "file_blooms": {},
                "dir_rows": {},
                "dir_bytes": {},
            }
            for _ in range(n_shards)
        ]
        for k, v in parts.items():
            payloads[shard_of[k]]["partitions"][k] = v
        leftovers: dict[str, dict] = {
            "dir_stats": {},
            "file_stats": {},
            "file_blooms": {},
            "dir_rows": {},
            "dir_bytes": {},
        }
        for key in ("dir_stats", "dir_rows", "dir_bytes"):
            for dk, v in manifest.get(key, {}).items():
                j = shard_of.get(_dkey_part(dk))
                (payloads[j][key] if j is not None else leftovers[key])[
                    dk
                ] = v
        for key in ("file_stats", "file_blooms"):
            for fk, v in manifest.get(key, {}).items():
                j = shard_of.get(_dkey_part(fk.rsplit("/", 1)[0]))
                (payloads[j][key] if j is not None else leftovers[key])[
                    fk
                ] = v
        token = uuid.uuid4().hex[:8]
        metas: list[dict] = []
        paths: list[str] = []
        for j, payload in enumerate(payloads):
            skeys = sorted(payload["partitions"])
            name = f"v{version}-{token}-{j}.json"
            path = self._shard_path(name)
            write_atomic_replace(
                self.spark,
                path,
                json.dumps(payload).encode("utf-8"),
                f"{self.root.rstrip('/')}/{MANIFEST_DIR}/{SHARDS_SUBDIR}"
                f"/.{name}.tmp",
            )
            metas.append(
                {
                    "file": name,
                    "min": skeys[0],
                    "max": skeys[-1],
                    "n": len(skeys),
                    "stats": self._shard_agg_stats(payload),
                }
            )
            paths.append(path)
        root = {
            k: v
            for k, v in manifest.items()
            if k
            not in ("partitions", "dir_stats", "file_stats", "file_blooms",
                    "dir_rows", "dir_bytes")
        }
        root["partitions"] = {}
        root.update(leftovers)
        root["partition_shards"] = metas
        return root, paths

    @staticmethod
    def _shard_agg_stats(payload: dict) -> dict:
        """Aggregate [min, max] per column over a shard's directory
        zone maps -- a column appears only when every directory in the
        shard carries usable bounds for it (and they compare cleanly),
        so a shard-level disjointness proof implies per-directory
        disjointness for every member."""
        agg: dict | None = None
        for p, vds in payload["partitions"].items():
            for vd in vds:
                dk = f"{vd}/{p}" if p else vd
                ds = payload["dir_stats"].get(dk) or {}
                usable = {
                    c: b
                    for c, b in ds.items()
                    if b[0] is not None and b[1] is not None
                }
                if agg is None:
                    agg = {c: list(b) for c, b in usable.items()}
                    continue
                for c in list(agg):
                    b = usable.get(c)
                    if b is None:
                        agg.pop(c)
                        continue
                    try:
                        if b[0] < agg[c][0]:
                            agg[c][0] = b[0]
                        if b[1] > agg[c][1]:
                            agg[c][1] = b[1]
                    except TypeError:
                        agg.pop(c)
                if not agg:
                    return {}
        return agg or {}

    def history(self) -> list[dict]:
        """Commit metadata per version, ascending (the ``.history``
        equivalent of an Iceberg table)."""
        return [
            {
                **{
                    k: m.get(k)
                    for k in (
                        "version",
                        "parent",
                        "mode",
                        "committed_at_ms",
                        "metadata",
                    )
                },
                "staged": self._read_manifest_raw(m["version"]).get("staged"),
            }
            for m in (self._read_manifest(v) for v in self.versions())
        ]

    def committed_metadata(self, key: str) -> set:
        """Every value of ``metadata[key]`` across committed snapshots.
        The streaming-sink idempotence probe: a replayed micro-batch
        whose batch id is already here was fully committed before the
        crash and must be skipped.  O(versions) manifest reads --
        metadata-plane, bounded by retention."""
        out = set()
        for v in self.versions():
            raw = self._read_manifest_raw(v)
            if raw.get("staged") is not None:
                # Unpublished WAP snapshots are not table state: their
                # metadata must not satisfy a replay probe, or a staged
                # batch later abandoned would read as "already applied".
                # publish_staged re-records it on the publish commit.
                continue
            val = raw.get("metadata", {}).get(key)
            if val is not None:
                out.add(val)
        return out

    def watermark(self, key: str, default=None):
        """The carried-forward ``watermarks[key]`` at the PUBLISHED table
        head (see :meth:`write`; staged WAP snapshots' marks are
        invisible until published).  O(1), retention-proof."""
        v = self.current_version()
        if v is None:
            return default
        return (self._read_manifest(v).get("watermarks") or {}).get(key, default)

    # -- named refs (tags) --------------------------------------------------

    def _ref_path(self, name: str) -> str:
        return f"{self.root.rstrip('/')}/{REFS_DIR}/{name}.json"

    @staticmethod
    def _check_ref_name(name: str) -> None:
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(f"invalid ref name: {name!r}")

    def tag(self, name: str, version: int | None = None, replace: bool = False) -> int:
        """Pin a NAMED, RETENTION-PROOF reference to a snapshot (the
        Iceberg tag): :meth:`expire_snapshots` keeps tagged versions
        (and their data) alive regardless of ``keep_last``, and
        :meth:`read` accepts ``ref=name``.  Defaults to the current
        head; ``replace=True`` re-points an existing tag.

        Creation rides the SAME single-winner claim as
        :meth:`_commit_manifest` (createLink on ``file://``, conditional
        create on S3 schemes): a plain exists()+rename has a TOCTOU on
        RawLocalFileSystem, whose rename silently REPLACES an existing
        destination -- two racing tag() calls would both "succeed" with
        one silently clobbered.  ``replace=True`` is an atomic
        REPLACE_EXISTING swap, so a repointed ref never transiently
        disappears to a concurrent reader."""
        self._check_ref_name(name)
        v = self.current_version() if version is None else version
        if v is None or v not in self.versions():
            raise ValueError(f"cannot tag missing version {v}")
        payload = json.dumps(
            {"name": name, "version": v, "created_at_ms": int(time.time() * 1000)}
        ).encode("utf-8")
        final = self._ref_path(name)
        tmp = f"{self.root.rstrip('/')}/{REFS_DIR}/.{name}.json.tmp"
        if replace:
            if _path_exists(self.spark, final):
                write_atomic_replace(self.spark, final, payload, tmp)
                return v
        try:
            write_atomic_claim(
                self.spark, final, payload, tmp, what=f"tag {name!r}"
            )
        except SnapshotConflict:
            if replace:
                # lost a race with a concurrent creator between the
                # exists() probe and the claim: the tag exists now, and
                # replace=True means "repoint whatever is there"
                write_atomic_replace(self.spark, final, payload, tmp)
                return v
            raise ValueError(f"tag {name!r} already exists") from None
        return v

    def tags(self) -> dict[str, int]:
        """All named refs, name -> version."""
        refs_dir = f"{self.root.rstrip('/')}/{REFS_DIR}"
        out: dict[str, int] = {}
        for e in list_entries(self.spark, refs_dir):
            n = e.name
            if not n.endswith(".json") or n.startswith("."):
                continue
            raw = read_bytes(self.spark, f"{refs_dir}/{n}")
            try:
                ref = json.loads(raw.decode("utf-8"))
            except ValueError:
                continue  # in-flight or torn writer on a weaker store
            out[ref["name"]] = int(ref["version"])
        return out

    def resolve_ref(self, name: str) -> int:
        refs = self.tags()
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        return refs[name]

    def delete_tag(self, name: str) -> None:
        self._check_ref_name(name)
        if not delete_file(self.spark, self._ref_path(name)):
            raise ValueError(f"unknown ref {name!r}")

    # -- writes -----------------------------------------------------------

    def rollback(self, version: int, watermarks: dict | None = None) -> int:
        """Restore the table to ``version``'s state as a NEW commit --
        metadata-only, like Iceberg's rollback_to_snapshot: the commit
        re-points the partition map (and stats/blooms) at the old
        version's still-immutable data directories; no data is
        rewritten, history is preserved (time travel to the rolled-back
        versions keeps working until retention drops them).

        Watermarks are carried from the HEAD, not the target: replay
        guards (CDC batch ids) must never rewind with the data, or an
        already-committed batch would apply twice after the rollback.
        Pass ``watermarks`` to override explicitly."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        if version not in self.versions():
            raise ValueError(f"cannot roll back to missing version {version}")
        if self._read_manifest_raw(version).get("staged") is not None:
            raise ValueError(
                f"v{version} is an unpublished staged snapshot; "
                "publish_staged() it instead of rolling back to it"
            )
        target = self._read_manifest(version)
        head_man = self._read_manifest(head)
        # Guard: every data dir the target references must still exist
        # (retention may have reclaimed them).
        droot = f"{self.root.rstrip('/')}/{DATA_DIR}"
        missing = []
        target_dirs = [vd for vds in target["partitions"].values() for vd in vds]
        target_dirs += [d["dir"] for d in target.get("delete_sets", [])]
        for vd in target_dirs:
            if not _path_exists(self.spark, f"{droot}/{vd}"):
                missing.append(vd)
        if missing:
            raise ValueError(
                f"cannot roll back to v{version}: data dirs expired: "
                f"{sorted(set(missing))}"
            )
        # Version numbers are a GLOBAL counter (staged commits hold
        # numbers too); the logical parent is the published head.
        new_v = self.latest_version() + 1
        manifest = {
            "version": new_v,
            "parent": head,
            "mode": "rollback",
            "partition_by": target["partition_by"],
            **(
                {"partition_transforms": target["partition_transforms"]}
                if target.get("partition_transforms")
                else {}
            ),
            "manifest_kind": "full",
            "partitions": target["partitions"],
            "dir_stats": target.get("dir_stats", {}),
            "file_stats": target.get("file_stats", {}),
            "file_blooms": target.get("file_blooms", {}),
            # sidecars pin to their data dirs, which this rollback just
            # verified still exist; refs stay valid as long as the
            # target manifest is retained (expire keeps sidecars
            # referenced by ANY kept manifest)
            "file_stats_sidecars": target.get("file_stats_sidecars", []),
            # the target's visible state includes its delete sets
            "delete_sets": target.get("delete_sets", []),
            "dir_specs": _filled_dir_specs(target),
            "dir_rows": target.get("dir_rows", {}),
            "dir_bytes": target.get("dir_bytes", {}),
            "table_stats": target.get("table_stats"),
            "committed_at_ms": int(time.time() * 1000),
            "metadata": {"rollback_to": version},
            "schema": target["schema"],
            # the TARGET's log, not the head's: rolling back across an
            # evolve restores that epoch's names/types, and every live
            # dir after the rollback predates the trimmed entries
            **(
                {"schema_log": target["schema_log"]}
                if target.get("schema_log")
                else {}
            ),
            "watermarks": {
                **(head_man.get("watermarks") or {}),
                **(watermarks or {}),
            },
        }
        self._commit_manifest(new_v, manifest)
        return new_v

    # -- write-audit-publish (staged snapshots) ---------------------------

    def staged_versions(self, wap_id: str | None = None) -> dict[int, str]:
        """Unpublished staged snapshots, version -> wap id (optionally
        filtered to one id).  A published stage keeps its ``staged``
        marker (the publish is a separate cherry-pick commit), so
        versions any publish commit recorded as ``published_from`` are
        excluded here.  O(versions) raw manifest reads."""
        published_from = self.committed_metadata("published_from")
        out: dict[int, str] = {}
        for v in self.versions():
            if v in published_from:
                continue
            s = self._read_manifest_raw(v).get("staged")
            if s is not None and (wap_id is None or s == wap_id):
                out[v] = s
        return out

    def _staged_own_watermarks(self, raw: dict, base: dict | None) -> dict:
        """The marks a staged commit itself set (a full staged manifest
        merged its base's marks in; peel those back off so publishing
        never overwrites a newer head mark with the base's stale one)."""
        if raw.get("manifest_kind") == "delta":
            return dict(raw.get("watermarks") or {})
        base_wm = (base or {}).get("watermarks") or {}
        return {
            k: v
            for k, v in (raw.get("watermarks") or {}).items()
            if base_wm.get(k) != v
        }

    #: bounded driver probe in :meth:`_delete_may_target`: at most this
    #: many distinct partition tuples of a delete set are pulled to
    #: decide targeting; past it the answer is conservative.
    _DELETE_PROBE_MAX = 65536

    def _window_append_only(self, since: int, head_v: int | None) -> bool:
        """Whether every published commit in ``(since, head_v]`` only
        ADDED rows (append / delete_keys) -- the condition under which
        a recovered transactional delete may keep its claim-time
        sequence stamp (a replace in the window rewrites pre-claim rows
        into newer dirs, where a claim stamp would let deleted data
        resurrect).  ``wap_publish`` commits are classified by their
        SOURCE stage's mode (a published append transaction is
        append-only; retention-expired sources read conservatively as
        replaces), so concurrent committed transactions do not force
        the over-masking fallback."""
        for v, m in self.commit_modes(since, as_of=head_v).items():
            # evolve_schema is metadata-only: no rows added or rewritten,
            # so it can never let a claim-stamped delete resurrect data
            if m in ("append", "delete_keys", "evolve_schema"):
                continue
            if m == "wap_publish":
                pf = (
                    self._read_manifest_raw(v).get("metadata") or {}
                ).get("published_from")
                src_mode = None
                if pf is not None:
                    # Only a retention-EXPIRED source stage (manifest
                    # file gone) reads conservatively as a replace; any
                    # other IO failure must surface -- swallowing it
                    # would silently switch delete semantics to the
                    # over-masking publish-version fallback.
                    if _path_exists(
                        self.spark, self._manifest_path(int(pf))
                    ):
                        src_mode = self._read_manifest_raw(int(pf))[
                            "mode"
                        ]
                if src_mode in ("append", "delete_keys"):
                    continue
            return False
        return True

    def _delete_may_target(
        self, entry: dict, parts: set, pby: list[str]
    ) -> str | None:
        """Whether a merge-on-read delete set can remove rows from any
        of the given hive partition dirs (spec ``pby``).  Returns None
        when PROVABLY disjoint -- decided exactly from the delete-set
        KEYS (O(deleted keys), bounded probe) when they carry the
        partition columns -- else a human-readable reason (conservative
        on unpartitioned tables, partition-blind keys, or key sets
        spanning more distinct values than the probe bound)."""
        if entry.get("kind") == "positional":
            # Positions name EXPLICIT files, all under the vdir
            # prefixes recorded at delete time; the rows this check
            # protects live in still-staged dirs (the replay/claim
            # targets), so the delete can mask them only if one of its
            # recorded vdirs IS a staged dir -- i.e. someone read a
            # staged snapshot with positions and deleted from it.
            # Decided from metadata alone, no data read.
            if "vdirs" not in entry:
                return "it is a positional delete without recorded dirs"
            staged = set(self.staged_versions())
            hit = sorted(
                vd
                for vd in entry["vdirs"]
                if _vdir_version(vd) in staged
            )
            if hit:
                return f"positions reference staged dirs {hit[:8]}"
            return None
        if not pby:
            return "the table is unpartitioned"
        if any(c not in entry["key_cols"] for c in pby):
            return (
                f"its key_cols {entry['key_cols']} do not carry the "
                f"partition columns {pby}, so targeting cannot be "
                "ruled out"
            )
        rows = (
            self._read_parquet(
                [f"{self.root.rstrip('/')}/{DATA_DIR}/{entry['dir']}"]
            )
            .select(*pby)
            .distinct()
            .limit(self._DELETE_PROBE_MAX + 1)
            .collect()
        )
        if len(rows) > self._DELETE_PROBE_MAX:
            return (
                f"it spans more than {self._DELETE_PROBE_MAX} distinct "
                "partition values (disjointness not provable within "
                "the probe bound)"
            )
        key_dirs = {
            _hive_partition_dir(self.spark, pby, tuple(r[c] for c in pby))
            for r in rows
        }
        hit = sorted(key_dirs & set(parts))
        if hit:
            return f"keys target claimed partitions {hit[:8]}"
        return None

    def publish_staged(
        self,
        wap_id: str,
        force_overwrite_replay: bool = False,
        delete_restamp_to: int | None = None,
    ) -> int:
        """Cherry-pick every staged snapshot carrying ``wap_id`` onto the
        published head, in commit order -- the Iceberg
        ``cherrypick_snapshot`` / WAP publish step.  Metadata-only: the
        staged data directories are re-pointed, never rewritten, so
        publish cost is O(manifest) regardless of batch size.

        Replay rules (matching Iceberg's cherry-pick restrictions):

        * head unchanged since the stage -- fast-forward, any mode;
        * head moved, staged ``append`` -- its directories are appended
          to the current head's partition map;
        * head moved, staged ``overwrite_partitions`` -- replayed only
          if every partition it touched is UNCHANGED between its base
          and the head (else :class:`SnapshotConflict`: the overwrite
          was computed against data that no longer exists);
        * head moved, staged ``snapshot`` (full replace) --
          :class:`SnapshotConflict` always.

        The publish commit records the staged commit's ``metadata``
        (plus ``published_wap``) and its own watermarks, so replay
        probes and CDC exactly-once see the batch only once it is
        table state.  A wap id publishes at most once (checked).
        Merge-on-read equality deletes committed while the snapshot
        was staged DO apply to it on read (the staged directory keeps
        its stage-time sequence number) -- the audit saw that data, so
        a delete targeting a key removes the staged copy too.
        ``read_appends`` refuses windows crossing a publish commit
        (mode ``wap_publish``), the same contract as any replace.

        ``force_overwrite_replay``: replay a staged
        ``overwrite_partitions`` onto a moved head even when its
        touched partitions changed since the stage -- the claimed
        partitions are re-pointed last-writer-wins instead of raising
        :class:`SnapshotConflict`.  FOR CLAIMED MULTI-TABLE
        TRANSACTIONS ONLY (:mod:`..transactions`): after a
        transaction's WAL claim there is no abort path, so its
        roll-forward must be refusal-free; the coordinator validates
        the touched partitions BEFORE claiming, and this flag only
        decides the races that land inside the validate-to-claim
        window, where claim order is the documented winner.  Ordinary
        WAP audits must leave it off (the refusal is the conflict
        detection).  Full replaces still refuse -- their conflict
        surface is the whole table, not a claimable partition set.

        An overwrite replay WITHOUT the force flag also refuses when a
        merge-on-read delete committed after the stage could target a
        touched partition (round 9): the replayed directories keep
        their stage-time sequence number, so such a delete would mask
        the replacement rows a direct overwrite would keep -- the same
        hazard the transaction coordinator checks pre-claim.

        ``delete_restamp_to``: for CLAIMED TRANSACTIONS -- re-stamp a
        replayed staged delete's sequence number to ``this + 1`` (the
        coordinator passes the table head recorded at WAL-claim time)
        instead of the publish version, so the delete masks exactly
        the data that existed at the transaction's commit point and
        never rows appended during a crash-recovery window.
        """
        if not wap_id.startswith(BRANCH_NS) and wap_id in self.committed_metadata(
            "published_wap"
        ):
            # A WAP id publishes at most once (idempotence contract).
            # Branch markers are exempt: staged_versions already
            # excludes published commits, so a repeat fast-forward
            # publishes only the commits added since the last one.
            raise ValueError(f"wap id {wap_id!r} already published")
        staged = sorted(self.staged_versions(wap_id))
        if not staged:
            raise ValueError(f"no staged snapshots with wap id {wap_id!r}")
        new_v = None
        for sv in staged:
            raw = self._read_manifest_raw(sv)
            st = self._read_manifest(sv)
            base_v = raw["parent"]
            base = self._read_manifest(base_v) if base_v is not None else None
            head_v = self.current_version()
            head = (
                self._read_manifest(head_v) if head_v is not None else None
            )
            own_wm = self._staged_own_watermarks(raw, base)
            new_v = self.latest_version() + 1
            meta = {
                **(st.get("metadata") or {}),
                "published_wap": wap_id,
                "published_from": sv,
            }
            head_meta = (head.get("metadata") or {}) if head is not None else {}
            if head_v == base_v or (
                head is not None
                and base_v is not None
                and head_meta.get("published_from") == base_v
                and head_meta.get("published_state_equal") is True
            ):
                # Fast-forward: the staged state IS head + this commit.
                # The second arm chains a staged SEQUENCE: when the
                # current head is the publish of this commit's own
                # staged parent AND that publish was itself state-equal
                # (recorded DURABLY as published_state_equal -- a
                # process-local flag would forget a REPLAY onto a moved
                # head across a crash-retry, resurrecting the lost
                # update), the head state equals that parent's state, so
                # the staged manifest (parent state + this commit) is
                # exactly head + this commit.  A replayed publish
                # records published_state_equal=False, and commits from
                # before the marker existed read as absent (falsy):
                # both force the replay arm, which is always safe.
                meta["published_state_equal"] = True
                merged = st
                schema = st["schema"]
            elif st["mode"] == "snapshot":
                raise SnapshotConflict(
                    f"cannot publish staged full-replace v{sv}: the table "
                    f"advanced from v{base_v} to v{head_v} since the stage"
                )
            elif st["mode"] == "delete_keys":
                # Replay a staged MoR delete onto a moved head: carry
                # the head's state verbatim and append the stage's OWN
                # delete-set entries RE-STAMPED to the publish version
                # -- the transactional delete happens at COMMIT time,
                # so it must mask every directory existing at publish,
                # exactly as a direct delete committed now would
                # (dirs appended after this publish stay visible).
                # Never a partition-claim refusal; the only refusals
                # are out-of-band interference (schema lost a key
                # column, inconsistent live key_cols), the same class
                # recover() reports as 'stuck'.
                meta["published_state_equal"] = False
                own = [
                    d
                    for d in st.get("delete_sets", [])
                    if int(d["version"]) == sv
                ]
                head_cols = {
                    f["name"] for f in json.loads(head["schema"])["fields"]
                }
                for d in own:
                    missing = [
                        c for c in d["key_cols"] if c not in head_cols
                    ]
                    if missing:
                        raise SnapshotConflict(
                            f"cannot publish staged delete v{sv}: key "
                            f"columns {missing} are no longer in the "
                            "table schema"
                        )
                    for d0 in head.get("delete_sets", []):
                        if d0.get("kind") == "positional":
                            continue
                        if list(d0["key_cols"]) != list(d["key_cols"]):
                            raise SnapshotConflict(
                                f"cannot publish staged delete v{sv}: "
                                f"key_cols {d['key_cols']} != the head's "
                                f"live {d0['key_cols']}"
                            )
                partitions = {
                    k: list(v) for k, v in head["partitions"].items()
                }
                # Sequence number of the replayed delete: the commit
                # point (WAL-claim head + 1) for claimed transactions,
                # the publish version otherwise.  The claim-time stamp
                # is only sound when every commit between the claim and
                # this publish is an append/delete (those rows are
                # logically NEW and must stay visible); a REPLACE in
                # the window (compaction, overwrite, rollback, another
                # publish) rewrites pre-claim rows into newer dirs, and
                # a claim-time stamp would let the deleted data
                # RESURRECT -- so such windows conservatively fall back
                # to the publish version (masks interleaved appends of
                # the same keys: over-deletion, never resurrection).
                restamp = new_v
                if delete_restamp_to is not None and (
                    self._window_append_only(
                        int(delete_restamp_to), head_v
                    )
                ):
                    restamp = int(delete_restamp_to) + 1
                merged = {
                    "partitions": partitions,
                    "dir_stats": dict(head.get("dir_stats", {})),
                    "file_stats": dict(head.get("file_stats", {})),
                    "file_blooms": dict(head.get("file_blooms", {})),
                    "file_stats_sidecars": list(
                        head.get("file_stats_sidecars") or []
                    ),
                    "dir_rows": dict(head.get("dir_rows", {})),
                    "dir_bytes": dict(head.get("dir_bytes", {})),
                    "delete_sets": _prune_delete_sets(
                        list(head.get("delete_sets", []))
                        + [{**d, "version": restamp} for d in own],
                        partitions,
                    ),
                    "dir_specs": _filled_dir_specs(head),
                    "partition_by": head["partition_by"],
                    "table_stats": head.get("table_stats"),
                }
                schema = head["schema"]
            else:
                # replay: merging commits the chain never saw -- head
                # state no longer equals the chain's state, durably so
                meta["published_state_equal"] = False
                if st["partition_by"] != head["partition_by"]:
                    raise SnapshotConflict(
                        f"cannot publish staged v{sv}: partition spec "
                        f"changed since the stage"
                    )
                st_vdirs = {
                    vd
                    for vds in st["partitions"].values()
                    for vd in vds
                    if _vdir_version(vd) == sv
                }
                partitions = {
                    k: list(v) for k, v in head["partitions"].items()
                }
                if st["mode"] == "append":
                    for p, vds in st["partitions"].items():
                        add = [vd for vd in vds if vd in st_vdirs]
                        if add:
                            partitions.setdefault(p, []).extend(add)
                else:  # overwrite_partitions
                    base_parts = (base or {}).get("partitions", {})
                    touched = {
                        p
                        for p, vds in st["partitions"].items()
                        if any(vd in st_vdirs for vd in vds)
                    } | (set(base_parts) - set(st["partitions"]))
                    if not force_overwrite_replay:
                        # A delete committed after the stage never moves
                        # partition pointers, but its sequence number
                        # outranks the replayed v{sv} dirs and would
                        # mask the replacement rows -- refuse like any
                        # other conflicting concurrent change (the
                        # transaction coordinator performs this same
                        # check pre-claim and publishes with force).
                        for dentry in head.get("delete_sets", []):
                            if int(dentry["version"]) <= sv:
                                continue
                            why = self._delete_may_target(
                                dentry, touched, head["partition_by"]
                            )
                            if why is not None:
                                raise SnapshotConflict(
                                    f"cannot publish staged overwrite "
                                    f"v{sv}: delete_keys (sequence "
                                    f"{dentry['version']}) landed after "
                                    f"the stage and {why} -- it would "
                                    "mask the replayed replacement rows"
                                )
                    for p in touched:
                        if (
                            not force_overwrite_replay
                            and head["partitions"].get(p) != base_parts.get(p)
                        ):
                            raise SnapshotConflict(
                                f"cannot publish staged overwrite v{sv}: "
                                f"partition {p!r} changed between v{base_v} "
                                f"and v{head_v}"
                            )
                        if p in st["partitions"]:
                            partitions[p] = list(st["partitions"][p])
                        else:
                            partitions.pop(p, None)
                live = {
                    f"{vd}/{p}" if p else vd
                    for p, vds in partitions.items()
                    for vd in vds
                }
                vdir_live = {vd for vds in partitions.values() for vd in vds}

                def _carry(hk: str, sk_dirs: set, by_file: bool) -> dict:
                    out = {
                        k: v
                        for k, v in head.get(hk, {}).items()
                        if (k.rsplit("/", 1)[0] if by_file else k) in live
                    }
                    for k, v in st.get(hk, {}).items():
                        d = k.rsplit("/", 1)[0] if by_file else k
                        if d in live and d.split("/", 1)[0] in sk_dirs:
                            out[k] = v
                    return out

                merged = {
                    "partitions": partitions,
                    "dir_stats": _carry("dir_stats", st_vdirs, False),
                    "file_stats": _carry("file_stats", st_vdirs, True),
                    "file_blooms": _carry("file_blooms", st_vdirs, True),
                    "file_stats_sidecars": self._live_sidecars(
                        head.get("file_stats_sidecars"), partitions
                    )
                    + [
                        s
                        for s in self._live_sidecars(
                            st.get("file_stats_sidecars"), partitions
                        )
                        if s["vdir"] in st_vdirs
                    ],
                    "dir_rows": _carry("dir_rows", st_vdirs, False),
                    "dir_bytes": _carry("dir_bytes", st_vdirs, False),
                    "delete_sets": _prune_delete_sets(
                        list(head.get("delete_sets", [])), partitions
                    ),
                    "dir_specs": {
                        **{
                            vd: spec
                            for vd, spec in _filled_dir_specs(head).items()
                            if vd in vdir_live
                        },
                        **{
                            vd: spec
                            for vd, spec in _filled_dir_specs(st).items()
                            if vd in st_vdirs
                        },
                    },
                    "partition_by": head["partition_by"],
                    "table_stats": (
                        st.get("table_stats")
                        if st.get("table_stats") is not None
                        else head.get("table_stats")
                    ),
                }
                # Schema: the head's unless the stage itself evolved it.
                schema = (
                    st["schema"]
                    if base is None or st["schema"] != base["schema"]
                    else head["schema"]
                )
            # Schema log: stages never evolve, so the stage's log and
            # the head's are prefixes of one another (linear history);
            # carry the longer -- the head's when an evolve landed
            # while the snapshot was staged, in which case the replayed
            # dirs epoch-map by their stage-time versions on read.
            st_log = st.get("schema_log") or []
            head_log = (head or {}).get("schema_log") or []
            pub_log = st_log if len(st_log) >= len(head_log) else head_log
            manifest = {
                "version": new_v,
                "parent": head_v,
                "mode": "wap_publish",
                "manifest_kind": "full",
                **({"schema_log": pub_log} if pub_log else {}),
                **(
                    {"partition_transforms": merged["partition_transforms"]}
                    if merged.get("partition_transforms")
                    else {}
                ),
                "partition_by": merged["partition_by"],
                "partitions": merged["partitions"],
                "dir_stats": merged.get("dir_stats", {}),
                "file_stats": merged.get("file_stats", {}),
                "file_blooms": merged.get("file_blooms", {}),
                "file_stats_sidecars": merged.get("file_stats_sidecars", []),
                "delete_sets": merged.get("delete_sets", []),
                "dir_specs": _filled_dir_specs(merged),
                "dir_rows": merged.get("dir_rows", {}),
                "dir_bytes": merged.get("dir_bytes", {}),
                "table_stats": merged.get("table_stats"),
                "committed_at_ms": int(time.time() * 1000),
                "metadata": meta,
                "schema": schema,
                "watermarks": {
                    **((head or {}).get("watermarks") or {}),
                    **own_wm,
                },
            }
            self._commit_manifest(new_v, manifest)
        return new_v

    def abandon_staged(self, wap_id: str) -> int:
        """Drop every unpublished staged snapshot carrying ``wap_id`` --
        manifests AND their attempt-unique data directories (nothing
        else can reference an unpublished stage).  The failed-audit
        exit of the WAP pattern; refuses after a publish.  Branch
        markers are exempt from the refusal: dropping a branch after a
        fast-forward discards only the commits staged SINCE it
        (published branch state is table history, reachable only via
        ``rollback``)."""
        if not wap_id.startswith(BRANCH_NS) and wap_id in self.committed_metadata(
            "published_wap"
        ):
            raise ValueError(
                f"wap id {wap_id!r} was published; rollback() the table "
                "instead of abandoning the stage"
            )
        return self._drop_staged(wap_id)

    def drop_dead_staged(self, wap_id: str) -> int:
        """Drop UNPUBLISHED staged snapshots sitting under an
        ALREADY-PUBLISHED wap id -- the dead-stage state a reused
        transaction/wap id creates: the first use staged and published,
        a second use staged again and then lost its claim, leaving a
        stage that can never publish (a wap publishes at most once) and
        that :meth:`abandon_staged` refuses to touch (its published
        check protects table history, which is exactly what must NOT be
        rolled back here).  ``staged_versions`` excludes published
        commits, so only the dead second stage's manifests and
        attempt-unique data directories are removed; the published
        history is untouched.  Refuses when the wap was never published
        (that is a live stage -- use :meth:`abandon_staged`)."""
        if wap_id.startswith(BRANCH_NS):
            # Branches are managed via abandon_staged()/fast_forward()
            # regardless of publish state -- reporting them as "never
            # published" (they may well have published commits) sent
            # branch callers down the wrong path.
            raise ValueError(
                f"wap id {wap_id!r} is a branch marker; branches are "
                "managed via abandon_staged()/fast_forward(), not "
                "drop_dead_staged()"
            )
        if wap_id not in self.committed_metadata("published_wap"):
            raise ValueError(
                f"wap id {wap_id!r} was never published; "
                "abandon_staged() is the path for live stages"
            )
        return self._drop_staged(wap_id)

    def _drop_staged(self, wap_id: str) -> int:
        """Shared drop loop: remove every unpublished staged manifest
        carrying ``wap_id`` plus the attempt-unique data directories
        only those manifests reference."""
        staged = sorted(self.staged_versions(wap_id))
        if not staged:
            raise ValueError(f"no staged snapshots with wap id {wap_id!r}")
        droot = f"{self.root.rstrip('/')}/{DATA_DIR}"
        root = self.root.rstrip("/")
        for sv in staged:
            st = self._read_manifest(sv)
            raw = self._read_manifest_raw(sv)
            for vds in st["partitions"].values():
                for vd in vds:
                    if _vdir_version(vd) == sv:
                        delete_prefix(self.spark, f"{droot}/{vd}")
            # the stage's OWN stats sidecar goes with its data dir
            # (carried-forward refs belong to published history)
            own_refs = raw.get(
                "file_stats_sidecars_added",
                raw.get("file_stats_sidecars", []),
            )
            for s in own_refs:
                if _vdir_version(s["vdir"]) == sv:
                    delete_prefix(self.spark, f"{root}/{s['path']}")
            # a staged MoR delete's key parquet is referenced from
            # delete_sets (not the partition map): reclaim the ones
            # this stage itself committed
            own_dels = raw.get(
                "delete_sets_added", raw.get("delete_sets", [])
            )
            for d in own_dels:
                if int(d["version"]) == sv:
                    delete_prefix(self.spark, f"{droot}/{d['dir']}")
            delete_prefix(self.spark, self._manifest_path(sv))
        return len(staged)

    # -- branches (isolated multi-commit lineage) --------------------------
    #
    # The Iceberg branch model, built on the staged-snapshot machinery:
    # a branch is a CHAIN of staged commits (each chaining from the
    # previous one with the same marker -- see the parent resolution in
    # :meth:`write`), invisible to every default read/write/maintenance
    # path until :meth:`fast_forward` publishes it onto main.  Where a
    # WAP id stages ONE audit batch and publishes at most once, a
    # branch accumulates arbitrarily many commits, reads back its own
    # accumulated state while unpublished, and may fast-forward
    # repeatedly (each publish consumes the commits staged since the
    # last).  Publish conflict rules are inherited from
    # :meth:`publish_staged`: if main moved since the branch point,
    # appends replay cleanly, partition overwrites replay only onto
    # untouched partitions, full replaces refuse.
    #
    # Scale posture: a branch commit costs exactly what the same commit
    # on main costs (data write + one manifest); fast-forward is
    # metadata-only (directories re-pointed, never rewritten), so
    # publishing an N-commit 100 TB backfill branch is N manifest
    # commits, zero data movement.  Unpublished branches age out with
    # the same grace window as abandoned WAP stages (expire_snapshots).

    def branch_write(
        self, name: str, df: DataFrame, mode: str = "append", **kw
    ) -> int:
        """Commit to branch ``name`` (created on first write, forking
        from the published head).  Accepts :meth:`write`'s kwargs;
        equality deletes / compaction / rollback are main-only."""
        self._check_ref_name(name)
        if kw.get("staged") is not None:
            raise ValueError("branch_write sets staged= itself")
        return self.write(df, mode=mode, staged=BRANCH_NS + name, **kw)

    def branch_head(self, name: str) -> int | None:
        """Version of ``name``'s newest UNPUBLISHED commit (None when
        the branch has none -- never created, dropped, or fully
        fast-forwarded)."""
        self._check_ref_name(name)
        prior = self.staged_versions(BRANCH_NS + name)
        return max(prior) if prior else None

    def branches(self) -> dict[str, int]:
        """Live (unpublished) branches, name -> head version."""
        out: dict[str, int] = {}
        for v, marker in self.staged_versions().items():
            if marker.startswith(BRANCH_NS):
                n = marker[len(BRANCH_NS):]
                out[n] = max(out.get(n, -1), v)
        return out

    def branch_read(self, name: str, **kw) -> DataFrame:
        """Scan the branch's accumulated state (its fork point plus
        every branch commit so far).  Accepts :meth:`read`'s pruning
        kwargs (``partitions`` / ``range_filter`` / ``point_filter``)."""
        head = self.branch_head(name)
        if head is None:
            raise ValueError(f"no such branch: {name!r}")
        return self.read(as_of=head, **kw)

    def fast_forward(self, name: str) -> int:
        """Publish every commit staged on ``name`` since the last
        fast-forward onto main, in order (metadata-only; the Iceberg
        ``fast_forward`` / cherry-pick).  Returns the new head.  Raises
        :class:`SnapshotConflict` if main changed incompatibly since
        the branch point; the branch stays intact to retry or drop."""
        self._check_ref_name(name)
        return self.publish_staged(BRANCH_NS + name)

    def drop_branch(self, name: str) -> int:
        """Discard the branch's unpublished commits -- manifests and
        their data directories; already-fast-forwarded state is table
        history and stays."""
        self._check_ref_name(name)
        return self.abandon_staged(BRANCH_NS + name)

    def delete_keys(
        self,
        keys_df: DataFrame,
        key_cols: list[str],
        metadata: dict | None = None,
        staged: str | None = None,
    ) -> int:
        """MERGE-ON-READ equality delete (Iceberg v2 delete files): commit
        the keys to delete as a small parquet set; NO data is rewritten.
        :meth:`read` anti-joins the keys against every data directory
        OLDER than this commit (sequence-number semantics via the dir
        version in the attempt-unique name), so:

         * a key appended AFTER the delete is visible again (the delete
           never hides newer data);
         * time travel BEFORE the delete commit is unaffected;
         * :meth:`compact` rewrites land as NEWER dirs, after which the
           delete set stops matching anything and is auto-pruned from
           descendant manifests (_prune_delete_sets).

        Write cost is O(keys); the read-side cost is one broadcast-sized
        anti join until compaction folds the deletes in -- the
        Iceberg/Delta deletion-vector trade: cheap deletes now, cost
        amortized into the next rewrite.  NULL key values never match an
        equality join and therefore cannot be deleted this way.
        ``key_cols`` must be consistent across a table's live delete
        sets (checked).

        ``staged``: a write-audit-publish id, same semantics as
        :meth:`write` ``staged=`` -- the delete commits durably but is
        INVISIBLE to every default read path until
        :meth:`publish_staged` replays it onto the head.  On publish,
        the delete-set entry is RE-STAMPED to the publish version, so
        it masks every data directory existing at publish time --
        exactly what a direct delete committed at that moment would do
        (the transactional-delete semantics :mod:`..transactions`
        needs: the delete happens at COMMIT time).  Publish never
        refuses (no partition claim surface), so staged deletes are
        safe inside claimed multi-table transactions."""
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        if staged is not None:
            self._check_ref_name(
                staged[len(BRANCH_NS):]
                if staged.startswith(BRANCH_NS)
                else staged
            )
        parent_v, _next_v = self._pin_head()
        if staged is not None:
            prior = self.staged_versions(staged)
            if prior:
                # chain from the same wap's unpublished head, exactly
                # like write(): a staged delete after a staged append
                # sees (and on publish, masks) that append's rows
                parent_v = max(prior)
        if parent_v is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        parent = self._read_manifest(parent_v)
        # Validate against the TABLE schema now: a typo'd key column
        # would otherwise commit fine and then crash every later read's
        # anti join -- wedging the table until a rollback.
        table_cols = {
            f["name"] for f in json.loads(parent["schema"])["fields"]
        }
        missing = [c for c in key_cols if c not in table_cols]
        if missing:
            raise ValueError(
                f"delete key_cols {missing} not in table schema "
                f"{sorted(table_cols)}"
            )
        for d in parent.get("delete_sets", []):
            if d.get("kind") == "positional":
                continue  # positional sets have no key columns
            if list(d["key_cols"]) != list(key_cols):
                raise ValueError(
                    f"delete key_cols {key_cols} != existing {d['key_cols']}"
                )
        version = _next_v  # same listing as parent_v (see _pin_head)
        vdir = f"v{version}-{uuid.uuid4().hex[:8]}-del"
        del_path = f"{self.root.rstrip('/')}/{DATA_DIR}/{vdir}"
        keys_df.select(*key_cols).dropDuplicates(key_cols).write.format(
            "parquet"
        ).mode("overwrite").save(del_path)
        # frame_version pins the schema EPOCH the delete parquet was
        # written under: a WAP publish re-stamps ``version`` (sequence
        # number) but the physical column names stay stage-time, so
        # read-side epoch mapping must key on this, not the re-stamp.
        entry = {
            "dir": vdir,
            "key_cols": list(key_cols),
            "version": version,
            "frame_version": version,
        }
        common = {
            "version": version,
            "parent": parent_v,
            "mode": "delete_keys",
            "partition_by": parent["partition_by"],
            "committed_at_ms": int(time.time() * 1000),
            "metadata": dict(metadata or {}),
            "table_stats": parent.get("table_stats"),
            "schema": parent["schema"],
            **(
                {"schema_log": parent["schema_log"]}
                if parent.get("schema_log")
                else {}
            ),
            **(
                {"partition_transforms": parent["partition_transforms"]}
                if parent.get("partition_transforms")
                else {}
            ),
            **({"staged": staged} if staged is not None else {}),
        }
        if version % CHECKPOINT_EVERY == 0:
            manifest = {
                **common,
                "manifest_kind": "full",
                "partitions": parent["partitions"],
                "dir_stats": parent.get("dir_stats", {}),
                "file_stats": parent.get("file_stats", {}),
                "file_blooms": parent.get("file_blooms", {}),
                "file_stats_sidecars": parent.get("file_stats_sidecars", []),
                "delete_sets": _prune_delete_sets(
                    list(parent.get("delete_sets", [])) + [entry],
                    parent["partitions"],
                ),
                "dir_specs": _filled_dir_specs(parent),
                "dir_rows": parent.get("dir_rows", {}),
                "dir_bytes": parent.get("dir_bytes", {}),
                "watermarks": dict(parent.get("watermarks") or {}),
            }
        else:
            manifest = {
                **common,
                "manifest_kind": "delta",
                "partitions_set": {},
                "partitions_removed": [],
                "dir_stats_added": {},
                "file_stats_added": {},
                "file_blooms_added": {},
                "file_stats_sidecars_added": [],
                "delete_sets_added": [entry],
                "watermarks": {},
            }
        try:
            self._commit_manifest(version, manifest)
        except SnapshotConflict:
            delete_prefix(self.spark, del_path)
            raise
        return version

    def delete_positions(self, pos_df: DataFrame, metadata: dict | None = None) -> int:
        """MERGE-ON-READ positional delete (Iceberg v2's second delete
        kind, ``file_path``/``pos`` delete files): remove rows
        identified by WHERE THEY ARE -- (data file, row index) -- not by
        key values, committing the positions as a small parquet set with
        no data rewrite.  The natural sink for operators that emit
        row-level verdicts with no natural key, e.g. applying
        :func:`~.workloads.dedup.dedup_substring_excise` output back to
        the stored documents.

        ``pos_df`` must carry ``_file`` (data-root-relative file path,
        exactly as :meth:`read` ``with_positions=True`` returns it) and
        ``_pos`` (the file-local row index from parquet's generated
        ``_metadata.row_index``); other columns are ignored.

        Sequence-number semantics are SHARED with :meth:`delete_keys`:
        the delete masks only data directories OLDER than its commit
        (``_vdir_version``), time travel before it is unaffected, and
        after :meth:`compact` rewrites the referenced partitions the set
        stops matching any live dir and :func:`_prune_delete_sets` drops
        it from descendant manifests.  Positions are matched per
        directory with the delete frame pre-filtered to that dir's
        ``_file`` prefix, so the read-side cost is one broadcast-sized
        anti join per affected dir, like equality deletes.

        Unlike :meth:`delete_keys` there is no ``staged=`` form:
        positions name explicit committed files, so the WAP re-stamp
        rules (which exist to make key-based deletes land at publish
        time) have nothing to re-interpret -- commit directly.

        Reference parity note: the reference's Iceberg 1.3 tables
        (/root/reference/spark/Dockerfile:12-13) are v2-format, where
        positional delete files are core spec; the reference's own jobs
        only ever overwrite (job_silver.py:174-178), so this is
        extension surface."""
        need = {"_file", "_pos"}
        missing = sorted(need - set(pos_df.columns))
        if missing:
            raise ValueError(
                f"pos_df must carry {sorted(need)} (read with "
                f"with_positions=True); missing {missing}"
            )
        parent_v, version = self._pin_head()
        if parent_v is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        parent = self._read_manifest(parent_v)
        vdir = f"v{version}-{uuid.uuid4().hex[:8]}-posdel"
        del_path = f"{self.root.rstrip('/')}/{DATA_DIR}/{vdir}"
        from pyspark.sql import functions as F

        dedup = (
            pos_df.select(
                F.col("_file").cast("string").alias("_file"),
                F.col("_pos").cast("bigint").alias("_pos"),
            )
            .dropDuplicates(["_file", "_pos"])
        )
        dedup.write.format("parquet").mode("overwrite").save(del_path)
        # The touched vdir prefixes, recorded in the manifest entry:
        # lets publish_staged's overwrite-replay conflict check prove
        # disjointness from staged dirs without reading the delete set
        # (positions can only ever name files that were LIVE when the
        # positions were read, so the list is small and exact).
        touched = sorted(
            r["vd"]
            for r in dedup.select(
                F.substring_index("_file", "/", 1).alias("vd")
            )
            .distinct()
            .collect()
        )
        entry = {
            "dir": vdir,
            "kind": "positional",
            "vdirs": touched,
            "version": version,
        }
        common = {
            "version": version,
            "parent": parent_v,
            "mode": "delete_keys",
            "partition_by": parent["partition_by"],
            "committed_at_ms": int(time.time() * 1000),
            "metadata": dict(metadata or {}),
            "table_stats": parent.get("table_stats"),
            "schema": parent["schema"],
            **(
                {"schema_log": parent["schema_log"]}
                if parent.get("schema_log")
                else {}
            ),
            **(
                {"partition_transforms": parent["partition_transforms"]}
                if parent.get("partition_transforms")
                else {}
            ),
        }
        if version % CHECKPOINT_EVERY == 0:
            manifest = {
                **common,
                "manifest_kind": "full",
                "partitions": parent["partitions"],
                "dir_stats": parent.get("dir_stats", {}),
                "file_stats": parent.get("file_stats", {}),
                "file_blooms": parent.get("file_blooms", {}),
                "file_stats_sidecars": parent.get("file_stats_sidecars", []),
                "delete_sets": _prune_delete_sets(
                    list(parent.get("delete_sets", [])) + [entry],
                    parent["partitions"],
                ),
                "dir_specs": _filled_dir_specs(parent),
                "dir_rows": parent.get("dir_rows", {}),
                "dir_bytes": parent.get("dir_bytes", {}),
                "watermarks": dict(parent.get("watermarks") or {}),
            }
        else:
            manifest = {
                **common,
                "manifest_kind": "delta",
                "partitions_set": {},
                "partitions_removed": [],
                "dir_stats_added": {},
                "file_stats_added": {},
                "file_blooms_added": {},
                "file_stats_sidecars_added": [],
                "delete_sets_added": [entry],
                "watermarks": {},
            }
        try:
            self._commit_manifest(version, manifest)
        except SnapshotConflict:
            delete_prefix(self.spark, del_path)
            raise
        return version

    def _touched_partition_dirs(self, condition) -> tuple[list, list]:
        """(claimed value tuples, partition rel-dirs) holding rows where
        ``condition`` IS TRUE; both empty when nothing matches.  An
        unpartitioned table is its one partition ``()`` / ``""``.  One
        filtered scan projecting only the partition columns (parquet
        pushes the predicate's columns; nothing else is read)."""
        from pyspark.sql import functions as F

        head = self.current_version()
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        m = self._read_manifest(head)
        pby = m["partition_by"]
        matching = self.read().where(F.coalesce(condition, F.lit(False)))
        # hidden partitioning: recompute derived routing columns so the
        # physical spec is selectable (read() hides them by design)
        trans = m.get("partition_transforms") or {}
        if trans:
            matching = _apply_transforms(matching, trans)
        # a grouped count, not distinct(): with no partition columns the
        # aggregate is global and HAVING keeps its row only on a match
        rows = (
            matching.groupBy(*pby)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 0)
            .collect()
        )
        tuples = [tuple(r[c] for c in pby) for r in rows]
        return (tuples, [_hive_partition_dir(self.spark, pby, t) for t in tuples])

    @staticmethod
    def _refuse_staged_unpartitioned(op: str, pby: list, staged) -> None:
        if staged is not None and not pby:
            raise ValueError(
                f"staged {op} requires a partitioned table: an "
                f"unpartitioned COW {op.split('_')[0]} is a full replace, "
                "which has no claimable partition surface"
            )

    def _commit_rewrite(
        self, df: DataFrame, pby: list, tuples: list, head: int,
        metadata: dict | None, staged: str | None,
    ) -> int:
        """Commit a row-level rewrite of the touched partitions
        ``tuples``, computed against ``head``: one ``overwrite_partitions``
        commit claiming them (a claimed partition left empty drops), or
        -- unpartitioned, where the one partition is the table -- a full
        ``snapshot`` replace."""
        if not pby:
            return self.write(
                df, mode="snapshot", partition_by=pby, metadata=metadata,
                require_parent_v=head,
            )
        ident = [c for c in pby if c in df.columns]
        if ident:
            # transform-spec columns are absent here: write() rebalances
            # by the FULL physical spec (incl. derived columns)
            df = df.repartition(*ident)
        return self.write(
            df,
            mode="overwrite_partitions",
            partition_by=pby,
            claimed_partitions=tuples,
            metadata=metadata,
            staged=staged,
            require_parent_v=None if staged is not None else head,
        )

    def delete_where(
        self,
        condition,
        approach: str = "mor",
        metadata: dict | None = None,
        staged: str | None = None,
    ) -> int | None:
        """Row-level ``DELETE WHERE`` (rows where ``condition`` IS
        TRUE; NULL evaluations keep the row, the SQL contract).
        Returns the committed version, or None when nothing matched
        (no commit).

        ``approach='mor'`` (default): commit the matching rows'
        positions as an Iceberg-v2 positional delete file -- O(matching
        rows) written, NO data rewrite; cost amortizes into the next
        :meth:`compact`.  ``approach='cow'``: copy-on-write -- rewrite
        only the TOUCHED partitions in one atomic
        ``overwrite_partitions`` commit (``claimed_partitions`` so a
        fully-deleted partition drops from the table); unpartitioned
        tables rewrite fully (inherent to COW).  The MoR/COW pair is
        exactly Iceberg's ``write.delete.mode`` choice.

        ``staged``: write-audit-publish id for the COW arm on a
        PARTITIONED table only -- the rewrite stages invisibly and is
        claimable by :class:`~..transactions.MultiTableTransaction`
        (which validates the touched-partition claim pre-WAL-claim, so
        publish can never refuse).  Matching rows and touched
        partitions are computed from the PUBLISHED head at stage time;
        a concurrent change to a touched partition surfaces as a claim
        conflict at commit, not a lost update.  Refused for
        ``approach='mor'`` (a staged positional delete could be
        silently unmasked by a compaction landing in the
        stage-to-publish window -- the named files vanish and the
        positions match nothing; equality ``delete_keys`` is the staged
        MoR form, its re-stamp rules exist for exactly this) and for
        unpartitioned tables (a full rewrite has no claimable partition
        surface -- the same reason transactions ban full replaces)."""
        from pyspark.sql import functions as F

        if approach not in ("mor", "cow"):
            raise ValueError(f"unknown delete approach: {approach}")
        if staged is not None and approach != "cow":
            raise ValueError(
                "staged delete_where supports approach='cow' only; for "
                "staged MoR deletes use delete_keys(staged=...) (its "
                "publish re-stamp keeps the delete at commit time; "
                "positional sets have no such arm by design)"
            )
        cond_true = F.coalesce(condition, F.lit(False))
        if approach == "mor":
            pos = (
                self.read(with_positions=True)
                .where(cond_true)
                .select("_file", "_pos")
                .persist()
            )
            try:
                if pos.isEmpty():
                    return None
                # delete_positions' dedup/write + vdir collect reuse the
                # cached scan instead of re-running it (2-3x otherwise)
                return self.delete_positions(pos, metadata=metadata)
            finally:
                pos.unpersist()
        head = self.current_version()
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        pby = self._read_manifest(head)["partition_by"]
        self._refuse_staged_unpartitioned("delete_where", pby, staged)
        tuples, dirs = self._touched_partition_dirs(condition)
        if not tuples:
            return None
        remaining = self.read(as_of=head, partitions=dirs).where(~cond_true)
        return self._commit_rewrite(
            remaining, pby, tuples, head, metadata, staged
        )

    def update_where(
        self,
        condition,
        assignments: dict,
        metadata: dict | None = None,
        staged: str | None = None,
    ) -> int | None:
        """Row-level ``UPDATE ... SET ... WHERE`` (copy-on-write, the
        Iceberg ``write.update.mode=copy-on-write`` semantics): rewrite
        ONLY the touched partitions in one atomic
        ``overwrite_partitions`` commit -- readers see either no update
        or the whole update.  Rows where ``condition`` IS TRUE take the
        assigned values (Column expressions or literals, cast back to
        the column's existing type); all other rows in the touched
        partitions rewrite byte-identical.  Returns the committed
        version, or None when nothing matched (no commit, no empty
        snapshot).

        Partition columns cannot be assigned: a row changing partition
        under ``overwrite_partitions`` would land among rows this
        commit never read and silently drop them -- refused loudly
        (move rows with delete + append instead).  Unpartitioned
        tables rewrite fully (inherent to COW; use
        :meth:`delete_keys`/append MoR composition when rewrite cost
        matters there).

        ``staged``: write-audit-publish id, PARTITIONED tables only --
        the rewrite stages invisibly for
        :class:`~..transactions.MultiTableTransaction` (same contract
        as ``delete_where(staged=, approach='cow')``: matching rows
        computed from the PUBLISHED head at stage time, the touched
        partitions claimed and validated pre-WAL-claim, so the
        roll-forward can never refuse)."""
        from pyspark.sql import functions as F

        if not assignments:
            raise ValueError("assignments must be non-empty")
        head = self.current_version()
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        m_head = self._read_manifest(head)
        pby = m_head["partition_by"]
        routing = set(pby) | {
            spec["src"]
            for spec in (m_head.get("partition_transforms") or {}).values()
        }
        bad = sorted(set(assignments) & routing)
        if bad:
            raise ValueError(
                f"cannot assign partition columns (or hidden-"
                f"partitioning transform sources) {bad}: moved rows "
                "would land in partitions this commit never read; "
                "delete + append instead"
            )
        self._refuse_staged_unpartitioned("update_where", pby, staged)
        tuples, dirs = self._touched_partition_dirs(condition)
        if not tuples:
            return None
        df = self.read(as_of=head, partitions=dirs)
        missing = sorted(set(assignments) - set(df.columns))
        if missing:
            raise ValueError(f"assigned columns {missing} not in table schema")
        types = {f.name: f.dataType for f in df.schema.fields}
        cond_true = F.coalesce(condition, F.lit(False))

        def _val(c: str) -> Column:
            a = assignments[c]
            return (a if isinstance(a, Column) else F.lit(a)).cast(types[c])

        updated = df.select(
            *(
                F.when(cond_true, _val(c)).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            )
        )
        return self._commit_rewrite(updated, pby, tuples, head, metadata, staged)

    def merge_into(
        self,
        source: DataFrame,
        on,
        matched: list[tuple] | None = None,
        not_matched: list[tuple] | None = None,
        not_matched_by_source: list[tuple] | None = None,
        target_alias: str = "target",
        source_alias: str = "source",
        metadata: dict | None = None,
        validate_cardinality: bool = True,
        staged: str | None = None,
    ) -> int | None:
        """General ``MERGE INTO`` (copy-on-write, the Iceberg
        ``write.merge.mode=copy-on-write`` semantics): join the table
        against ``source`` on ``on`` and rewrite ONLY the touched
        partitions in one atomic ``overwrite_partitions`` commit.
        Unlike :func:`..streaming.cdc.upsert_snapshot_batch` (key-based
        latest-wins CDC), this is the full conditional-clause MERGE the
        reference's users get from Iceberg-on-Spark SQL.

        ``on``: a Column or SQL string over ``target_alias`` /
        ``source_alias`` qualified names.  ``matched``: ordered clauses,
        each ``("update", cond_or_None, {col: value})`` or
        ``("delete", cond_or_None)``; ``not_matched``: ordered
        ``("insert", cond_or_None, values_or_None)`` clauses where
        ``None`` values means ``INSERT *`` (source columns by target
        name); ``not_matched_by_source``: ordered ``("update", cond,
        assigns)`` / ``("delete", cond)`` clauses applied to TARGET
        rows with NO source match (the ``WHEN NOT MATCHED BY SOURCE``
        arm; their conditions see target columns only).  Scale note:
        a by-source clause inherently touches every partition holding
        an unmatched row that satisfies it -- for an unconditional
        ``DELETE`` that is the whole table (the full-sync shape).
        Clause conditions / values may be Columns, SQL strings
        (parsed with :func:`~pyspark.sql.functions.expr`), or plain
        Python literals (values only).  Per SQL semantics the FIRST
        clause whose condition evaluates TRUE wins per row; rows
        matching no clause pass through (matched) or are dropped
        (source-only).  Returns the committed version, or None when no
        clause changed anything (no commit).

        ``validate_cardinality`` (default on, matching Spark/Iceberg's
        runtime check): raises when a target row in a touched partition
        matches MORE THAN ONE source row while update/delete clauses
        exist -- applying both would be nondeterministic.  The check
        rides the probe (a match count per ``(_file, _pos)`` row
        handle); disable it only when ``on`` is known key-unique.

        Scale shape: two Spark actions, over a source cached on first
        use and released after the commit.  The PROBE is one join of
        the whole table with the source -- inner, left, right or full
        outer by the clause kinds present, as Spark's own MERGE rewrite
        picks -- aggregated to the touched partitions and each matched
        row's source-match count.  Touched = partitions holding matched
        target rows, by-source rows a clause fires on and insert rows;
        a merge with inserts but no matched clause also reads, without
        rewriting, the partitions of its matched rows.  The REWRITE
        joins only the touched and read partitions with the source and
        yields survivors and inserts together: every matched target
        row's partition is read, so a source row unmatched there is
        unmatched in the whole table.  Nothing else is read or
        written; inserts into brand-new partition values
        claim them without reading anything.  An insert-only merge
        anti-joins instead (an outer join would copy a target row once
        per source match).
        Partition columns (and hidden-partitioning transform sources)
        cannot be assigned by an update clause -- a row changing
        partition under ``overwrite_partitions`` would land among rows
        this commit never read (same refusal as :meth:`update_where`);
        express moves as a delete clause + insert clause instead.
        Unpartitioned tables are one partition and rewrite fully
        (inherent to COW).

        ``staged``: write-audit-publish id, PARTITIONED tables only --
        the merged rewrite stages invisibly for
        :class:`~..transactions.MultiTableTransaction` (same contract
        as ``update_where(staged=)``: clause effects computed from the
        PUBLISHED head at stage time, the touched partitions claimed
        and validated pre-WAL-claim, so publish can never refuse)."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        matched = list(matched or [])
        not_matched = list(not_matched or [])
        by_source = list(not_matched_by_source or [])
        if not matched and not not_matched and not by_source:
            raise ValueError("MERGE requires at least one WHEN clause")
        for cl in matched + by_source:
            if cl[0] not in ("update", "delete"):
                raise ValueError(f"unknown matched clause kind {cl[0]!r}")
        for cl in not_matched:
            if cl[0] != "insert":
                raise ValueError(
                    f"unknown not-matched clause kind {cl[0]!r}"
                )
        head = self.current_version()
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        m_head = self._read_manifest(head)
        pby = m_head["partition_by"]
        trans = m_head.get("partition_transforms") or {}
        routing = set(pby) | {spec["src"] for spec in trans.values()}
        for cl in matched + by_source:
            if cl[0] == "update":
                bad = sorted(set(cl[2]) & routing)
                if bad:
                    raise ValueError(
                        f"cannot assign partition columns (or hidden-"
                        f"partitioning transform sources) {bad}: moved "
                        "rows would land in partitions this commit "
                        "never read; use a delete clause + insert "
                        "clause instead"
                    )

        def _fires(cl) -> Column:
            c = cl[1]
            if c is None:
                return F.lit(True)
            return F.coalesce(F.expr(c) if isinstance(c, str) else c, F.lit(False))

        def _val(v) -> Column:
            if isinstance(v, Column):
                return v
            if isinstance(v, str):
                return F.expr(v)
            return F.lit(v)

        table = self.read(as_of=head, with_positions=True)
        tcols = [c for c in table.columns if c not in ("_file", "_pos")]
        ttypes = {f.name: f.dataType for f in table.schema.fields}
        on_col = F.expr(on) if isinstance(on, str) else on
        tgt = {c: F.col(f"{target_alias}.{c}") for c in tcols}

        # -- source side: the insert chain (first firing clause wins) is
        #    evaluated on the source alone, as __ins_<i> + __ikeep -------
        marks = {"__m": F.lit(1)}
        if not_matched:
            already = F.lit(False)
            ins = {c: F.lit(None).cast(ttypes[c]) for c in tcols}
            for cl in not_matched:
                fire = ~already & _fires(cl)
                assigns = cl[2]
                if assigns is None:  # INSERT *
                    missing = sorted(set(tcols) - set(source.columns))
                    if missing:
                        raise ValueError(
                            f"INSERT * requires source columns {missing}"
                        )
                    assigns = {c: F.col(c) for c in tcols}
                else:
                    unknown = sorted(set(assigns) - set(tcols))
                    if unknown:
                        raise ValueError(
                            f"INSERT columns {unknown} not in table "
                            f"schema {tcols}"
                        )
                for c in tcols:
                    if c in assigns:
                        ins[c] = F.when(
                            fire, _val(assigns[c]).cast(ttypes[c])
                        ).otherwise(ins[c])
                already = already | fire
            marks["__ikeep"] = already
            marks.update({f"__ins_{i}": ins[c] for i, c in enumerate(tcols)})
            ins = {c: F.col(f"__ins_{i}") for i, c in enumerate(tcols)}

        # -- target side: matched and by-source chains, two independent
        #    first-match-wins chains gated apart by the match marker -----
        has_t, has_s = F.col("__t").isNotNull(), F.col("__m").isNotNull()
        is_matched = has_t & has_s
        delete_fire = F.lit(False)
        vals = {c: tgt[c].cast(ttypes[c]) for c in tcols}
        for chain, gate in ((matched, is_matched), (by_source, has_t & ~has_s)):
            already = F.lit(False)
            for cl in chain:
                fire = gate & ~already & _fires(cl)
                if cl[0] == "delete":
                    delete_fire = delete_fire | fire
                else:
                    unknown = sorted(set(cl[2]) - set(tcols))
                    if unknown:
                        raise ValueError(
                            f"UPDATE SET columns {unknown} not in "
                            f"table schema {tcols}"
                        )
                    for c in cl[2]:
                        vals[c] = F.when(
                            fire, _val(cl[2][c]).cast(ttypes[c])
                        ).otherwise(vals[c])
                already = already | fire
        by_source_fires = already  # the loop ends on the by-source chain
        self._refuse_staged_unpartitioned("merge_into", pby, staged)

        own_cache = source.storageLevel == StorageLevel.NONE
        if own_cache:
            # compute the source once for the probe and the rewrite (a
            # snapshot-table or subquery source re-runs its scan per
            # action otherwise); also pins a nondeterministic source to
            # one evaluation, so both joins see identical rows
            source = source.persist()
        try:
            src = source.alias(source_alias).withColumns(marks).alias(
                source_alias
            )

            # -- the probe: touched partitions + per-row match counts ---
            how = ("inner", "left_outer", "right_outer", "full_outer")[
                bool(by_source) + 2 * bool(not_matched)
            ]
            probe = table.withColumn("__t", F.lit(1)).alias(target_alias)
            probe = probe.join(src, on_col, how)
            change = by_source_fires
            if matched:
                change = change | is_matched
            if not_matched:
                change = change | (~has_t & F.col("__ikeep"))
            part = {
                c: F.when(has_t, tgt[c]).otherwise(ins[c])
                if not_matched
                else tgt[c]
                for c in tcols
                if c in routing
            }
            keyed = probe.where(change | is_matched).select(
                *(v.alias(c) for c, v in part.items()),
                F.when(is_matched, F.col(f"{target_alias}._file")).alias("__f"),
                F.when(is_matched, F.col(f"{target_alias}._pos")).alias("__p"),
                change.alias("__chg"),
            )
            if trans:
                keyed = _apply_transforms(keyed, trans)
            rows = (
                keyed.groupBy("__f", "__p", *pby)
                .agg(F.count(F.lit(1)).alias("__n"), F.max("__chg").alias("__chg"))
                .groupBy(*pby)
                .agg(
                    F.max(F.when(F.col("__f").isNotNull(), F.col("__n"))).alias(
                        "__card"
                    ),
                    F.max("__chg").alias("__chg"),
                )
                .collect()
            )
            if not any(r["__chg"] for r in rows):
                return None
            if (
                validate_cardinality
                and (matched or by_source)
                and any(r["__chg"] and (r["__card"] or 0) > 1 for r in rows)
            ):
                raise ValueError(
                    "MERGE cardinality violation: a target row "
                    "matches more than one source row; make the ON "
                    "condition key-unique (or pre-aggregate the "
                    "source), or pass validate_cardinality=False "
                    "to accept nondeterministic clause application"
                )

            def _read(parts: list) -> DataFrame:
                dirs = [_hive_partition_dir(self.spark, pby, v) for v in parts]
                existing = [d for d in dirs if d in m_head["partitions"]]
                if not existing:
                    return table.select(*tcols).limit(0)
                return self.read(as_of=head, partitions=existing)

            def _key(r) -> tuple:
                return tuple(r[c] for c in pby)

            tuples = sorted(
                (_key(r) for r in rows if r["__chg"]),
                key=lambda v: tuple(map(str, v)),
            )
            base = _read(tuples)

            # -- the rewrite: one join of the touched partitions --------
            # With inserts, a partition holding matched rows that no
            # clause changes is read (__t false) so those source rows
            # stay no inserts, but it is not rewritten.
            tb = base.withColumn("__t", F.lit(True))
            peek = [_key(r) for r in rows if not r["__chg"]] if not_matched else []
            if peek:
                tb = tb.unionByName(_read(peek).withColumn("__t", F.lit(False)))
            tb = tb.alias(target_alias)
            if matched or by_source:
                joined = tb.join(
                    src, on_col, "full_outer" if not_matched else "left_outer"
                )
                keep, out = ~delete_fire, vals
                if not_matched:
                    keep = F.when(has_t, F.col("__t") & keep).otherwise(
                        F.col("__ikeep")
                    )
                    out = {
                        c: F.when(has_t, vals[c]).otherwise(ins[c]) for c in tcols
                    }
                final = (
                    joined.withColumn("__keep", keep)
                    .where(F.col("__keep"))
                    .select(*(out[c].alias(c) for c in tcols))
                )
            else:
                final = base.unionByName(
                    src.join(tb, on_col, "left_anti")
                    .where(F.col("__ikeep"))
                    .select(*(ins[c].alias(c) for c in tcols))
                )
            return self._commit_rewrite(
                final, pby, tuples, head, metadata, staged
            )
        finally:
            if own_cache:
                source.unpersist()

    def evolve_schema(
        self,
        renames: dict[str, str] | None = None,
        drops: list[str] | None = None,
        widens: dict[str, str] | None = None,
        metadata: dict | None = None,
    ) -> int:
        """Full schema evolution BY FIELD ID -- rename, drop and
        type-widen columns as a METADATA-ONLY commit, no data rewritten
        (Iceberg's core schema-evolution semantics: columns are tracked
        by numeric field id, names are labels; the reference's tables
        are Iceberg-1.3 format where this is spec behavior).

        * ``renames``: ``{old_name: new_name}`` -- the field keeps its
          id; every existing data file keeps the old physical column
          and :meth:`read` maps it per directory (the directory's
          commit version selects its schema epoch from the manifest's
          ``schema_log``).
        * ``drops``: the field's id leaves the current schema; old
          files' physical column is projected OUT at read so a later
          column reusing the name can never surface the dead data.
        * ``widens``: ``{name: new_type}`` -- lossless promotions only
          (int->bigint family, float->double, decimal precision
          growth); old files are CAST at read, new writes may land
          either width (reads reconcile against the evolved type).
          Names in ``widens`` refer to the PRE-evolve schema (a field
          may be renamed and widened in one call).

        All three compose in one commit.  Time travel to versions
        before the evolve returns that epoch's names and types (each
        manifest carries its own ``schema_log``); merge-on-read
        equality deletes keyed on a renamed column keep masking (the
        live delete-set entries are re-keyed to the new names here,
        and delete FRAMES are epoch-mapped at read like data dirs).

        Partition columns cannot be renamed/dropped/widened: the
        physical layout and the manifest's partition map key on their
        names (Iceberg allows it via field-id partition specs; this
        store's hive-style dirs do not).

        Concurrency: the commit goes through the same atomic manifest
        claim as any write; a racing committer raises
        :class:`SnapshotConflict` and the table is unchanged."""
        renames = dict(renames or {})
        drops = list(drops or [])
        widens = dict(widens or {})
        if not (renames or drops or widens):
            raise ValueError("nothing to evolve: pass renames/drops/widens")
        parent_v, _next_v = self._pin_head()
        if parent_v is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        parent = self._read_manifest(parent_v)
        cur_fields = json.loads(parent["schema"])["fields"]
        cur_names = [f["name"] for f in cur_fields]
        pby = set(parent["partition_by"]) | {
            spec["src"]
            for spec in (parent.get("partition_transforms") or {}).values()
        }
        touched = set(renames) | set(drops) | set(widens)
        unknown = sorted(touched - set(cur_names))
        if unknown:
            raise ValueError(f"no such columns in table schema: {unknown}")
        part_hit = sorted(touched & pby)
        if part_hit:
            raise ValueError(
                f"cannot evolve partition columns (or hidden-"
                f"partitioning transform sources) {part_hit}: the data "
                "layout and partition map key on their names"
            )
        overlap = sorted(set(renames) & set(drops))
        if overlap:
            raise ValueError(f"columns both renamed and dropped: {overlap}")
        # -- sync the log head with the current schema: assign ids to
        # columns added by ordinary writes since the last evolve (or
        # ever, on first evolve), and retire stale entries for columns
        # a snapshot-mode rewrite removed.  Synced ids are recorded so
        # epoch resolution can map them RETROACTIVELY (writes never
        # rename, so the name held across all earlier versions).
        log = list(parent.get("schema_log") or [])
        prev = (
            {int(f["id"]): dict(f) for f in log[-1]["fields"]} if log else {}
        )
        used_ids = {
            int(f["id"])
            for e in log
            for f in e["fields"]
        } | {int(i) for e in log for i in (e.get("synced") or {})}
        next_id = max(used_ids, default=0) + 1
        by_name: dict[str, dict] = {}
        synced: dict[str, str] = {}
        prev_by_name = {f["name"]: f for f in prev.values()}
        for f in cur_fields:
            nm = f["name"]
            if nm in prev_by_name:
                ent = dict(prev_by_name[nm])
                ent["type"] = f["type"]  # trust the live schema's type
                by_name[nm] = ent
            else:
                by_name[nm] = {"id": next_id, "name": nm, "type": f["type"]}
                synced[str(next_id)] = nm
                next_id += 1
        # -- validate widens against the pre-evolve types
        for nm, to in widens.items():
            frm = by_name[nm]["type"]
            if not _is_widening(frm, to):
                raise ValueError(
                    f"widen {nm!r}: {frm} -> {to} is not a lossless "
                    "promotion (allowed: int family upward, "
                    "float->double, decimal precision growth)"
                )
        # -- apply, preserving column order (types kept in schema-JSON
        # spelling here; the log entry below normalizes to DDL)
        new_fields: list[dict] = []
        for f in cur_fields:
            nm = f["name"]
            if nm in drops:
                continue
            ent = dict(by_name[nm])
            if nm in widens:
                ent["type"] = _json_type(_ddl_type(widens[nm]))
            if nm in renames:
                ent["name"] = renames[nm]
            new_fields.append(ent)
        final_names = [f["name"] for f in new_fields]
        dupes = sorted({n for n in final_names if final_names.count(n) > 1})
        if dupes:
            raise ValueError(f"evolution produces duplicate columns: {dupes}")
        new_schema = {
            "type": "struct",
            "fields": [
                {
                    "name": f["name"],
                    "type": f["type"],
                    "nullable": True,
                    "metadata": {},
                }
                for f in new_fields
            ],
        }
        version = _next_v  # same listing as parent_v (see _pin_head)
        entry = {
            "version": version,
            "fields": [
                {"id": int(f["id"]), "name": f["name"], "type": _ddl_type(f["type"])}
                for f in new_fields
            ],
            "synced": synced,
        }
        # Re-key live equality-delete entries to the new names (the
        # delete FILES keep old physical columns -- read maps them by
        # epoch like any data dir); requires a FULL manifest since
        # delta resolution can only append delete sets, not amend them.
        def _rekey(cols: list[str]) -> list[str]:
            return [renames.get(c, c) for c in cols]

        delete_sets = [
            (
                d
                if d.get("kind") == "positional"
                else {**d, "key_cols": _rekey(list(d["key_cols"]))}
            )
            for d in parent.get("delete_sets", [])
        ]
        dropped_keys = sorted(
            {
                c
                for d in delete_sets
                if d.get("kind") != "positional"
                for c in d["key_cols"]
            }
            & set(drops)
        )
        if dropped_keys:
            raise ValueError(
                f"cannot drop {dropped_keys}: live merge-on-read delete "
                "sets key on them; compact() first to fold the deletes in"
            )
        manifest = {
            "version": version,
            "parent": parent_v,
            "mode": "evolve_schema",
            "manifest_kind": "full",
            "partition_by": parent["partition_by"],
            **(
                {"partition_transforms": parent["partition_transforms"]}
                if parent.get("partition_transforms")
                else {}
            ),
            "partitions": parent["partitions"],
            "dir_stats": parent.get("dir_stats", {}),
            "file_stats": parent.get("file_stats", {}),
            "file_blooms": parent.get("file_blooms", {}),
            "file_stats_sidecars": parent.get("file_stats_sidecars", []),
            "delete_sets": delete_sets,
            "dir_specs": _filled_dir_specs(parent),
            "dir_rows": parent.get("dir_rows", {}),
            "dir_bytes": parent.get("dir_bytes", {}),
            "table_stats": parent.get("table_stats"),
            "committed_at_ms": int(time.time() * 1000),
            "metadata": {
                **(metadata or {}),
                "evolve": {
                    "renames": renames,
                    "drops": drops,
                    "widens": widens,
                },
            },
            "schema": json.dumps(new_schema),
            "schema_log": log + [entry],
            "watermarks": dict(parent.get("watermarks") or {}),
        }
        self._commit_manifest(version, manifest)
        return version

    def write(
        self,
        df: DataFrame,
        mode: str = "snapshot",
        partition_by: list[str] | None = None,
        metadata: dict | None = None,
        claimed_partitions: list[tuple] | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = BLOOM_BITS,
        watermarks: dict | None = None,
        evolve_partitioning: bool = False,
        staged: str | None = None,
        stats_sidecar_threshold: int | None = None,
        ndv_cols: list[str] | None = None,
        _mixed_spec_overwrite_ok: bool = False,
        require_parent_v: int | None = None,
        _cluster_spec: bool = True,
    ) -> int:
        """Commit ``df`` as a new snapshot; returns the committed version.

        ``require_parent_v``: refuse (:class:`SnapshotConflict`) unless
        the published head still IS this version when the commit pins
        its parent -- the optimistic-concurrency pin for callers whose
        ``df`` was COMPUTED against a specific head (the row-level
        UPDATE/DELETE/MERGE rewrites): a commit landing between the
        computation and this write either fails this check (landed
        before the pin) or collides at the atomic manifest claim
        (landed after -- same single-listing guarantee as
        :meth:`_pin_head`), so a stale rewrite can never clobber it.

        ``staged``: a write-audit-publish id (Iceberg's ``wap.id``).
        The snapshot commits durably -- data written, version number
        allocated -- but is INVISIBLE to every default read/write path
        (:meth:`current_version` skips it): reads, watermarks, replay
        probes and later writes all chain from the published head.  An
        auditor reads it explicitly via ``read(as_of=version)``, then
        either :meth:`publish_staged` replays it onto the head or
        :meth:`abandon_staged` drops it -- the WAP pattern: bad data
        never becomes table state, yet is validated exactly as written.

        mode: 'snapshot' | 'append' | 'overwrite_partitions'
        ``partition_by`` entries are identity column names or HIDDEN
        PARTITIONING transforms (the Iceberg transform set):
        ``bucket(N, col)``, ``truncate(W, col)``, ``years(col)``,
        ``months(col)``, ``days(col)``, ``hours(col)``.  A transform
        derives a physical routing column (``doc_id_bucket_8``),
        recorded in the manifest as ``partition_transforms``: writers
        never materialize it (recomputed here, unconditionally), read
        paths never surface it, appends may restate the spec or pass
        the physical names (the table remembers), and a ``point_filter``
        on the SOURCE column prunes to the matching transform
        directories at plan time (:meth:`plan_dirs`).
        ``partition_by`` must be stable across the table's lifetime
        (checked against the parent manifest) UNLESS
        ``evolve_partitioning=True`` (Iceberg partition-spec evolution):
        an ``append`` under a new spec lays its directories out by the
        new columns while every existing directory keeps its old layout
        -- no data rewrite; the manifest records the spec PER DIRECTORY
        (``dir_specs``) and reads union the layouts (partition columns
        derive from the path in old dirs and from data columns in new
        ones).  ``partitions=`` selection stays physical-by-name, so it
        only addresses directories laid out under the spec that
        produced those names; a ``snapshot`` write under the new spec
        rewrites and normalizes the whole table.  The partition
        columns' TYPES must stay consistent across specs.
        ``metadata`` is recorded verbatim in the manifest -- e.g. a
        streaming sink's batch id, which makes commit idempotence
        checkable via :meth:`committed_metadata` (the atomic manifest
        rename means a commit either fully carries its metadata or
        never happened).
        ``claimed_partitions`` (overwrite_partitions mode only): value
        tuples this commit takes ownership of even when ``df`` holds NO
        rows for them -- a claimed partition absent from the output is
        REMOVED from the table.  Without it, replacement is inferred
        from the partitions present in ``df``, which cannot express
        "this partition is now empty" (the CDC delete case).
        ``stats_cols``: record min/max ZONE MAPS for these columns in
        the manifest at BOTH granularities -- per data directory and
        per FILE (one extra scan of the just-written data, O(new
        data); the dir rollup is derived from the same per-file rows
        driver-side).  :meth:`read` with ``range_filter`` then skips
        whole directories whose range is disjoint and, inside surviving
        directories, opens only the files whose range intersects --
        the Iceberg-manifest idea, where most of the skipping power
        lives at 100 TB.  Stats are carried forward for directories a
        commit does not rewrite.
        ``bloom_cols``: additionally record a per-FILE BLOOM FILTER for
        these columns (int/string keys; same single scan as the stats).
        :meth:`read`/:meth:`plan_files` with ``point_filter`` then skip
        every file whose bloom proves the key absent -- the pruning
        zone maps cannot do for hash-scattered high-cardinality ids
        (see the BLOOM_BITS note).  ``bloom_bits`` sizes the bitmap
        (recorded per entry; pick ~25x the expected distinct values
        per file for a sub-1e-3 false-positive rate at k=4).
        ``watermarks``: key->value pairs carried forward into EVERY
        descendant manifest (child values override parent's), unlike
        per-commit ``metadata`` which retention can expire.  The CDC
        sink records its high-water batch id here so replay detection
        survives ``expire_snapshots`` and compaction commits.
        ``ndv_cols``: record a MERGEABLE NDV SKETCH (Datasketches
        HLL via ``hll_sketch_agg``, values hashed in string form) per
        column in the manifest's ``table_stats.col_ndv`` -- the
        distinct-count statistic a join planner needs WITHOUT an
        ANALYZE scan (:mod:`..plans.join_stats` uses it together with
        the manifest row counts to choose broadcast vs shuffle).
        Appends UNION the batch sketch into the parent's (O(batch)
        extra agg + one metadata-sized merge job); a full ``snapshot``
        replace restarts from the batch.  ``overwrite_partitions`` also
        unions, so after partition replaces the sketch is an UPPER
        BOUND (sketches cannot subtract) -- safe for broadcast
        decisions (overestimating NDV never under-sizes a build side);
        a periodic full rewrite re-tightens it.  A DATA commit that
        skips ``ndv_cols`` INVALIDATES the sketches (dropped from the
        child manifest -- they would describe neither the replaced old
        data nor the unhashed new rows); masking-only commits
        (``delete_keys``/``delete_positions``) and metadata commits
        carry them forward as upper bounds.
        ``stats_sidecar_threshold``: per-commit file count above which
        the per-FILE stats/bloom rows are written by the EXECUTORS as a
        parquet sidecar (``_stats/<vdir>-stats``) referenced from the
        manifest, instead of collected to the driver and inlined as
        JSON -- the manifest then stays O(directories) however many
        files the commit produced, and :meth:`plan_files` prunes
        sidecar-backed directories through a Spark job that collects
        only SURVIVING file names.  Defaults to
        ``SIDECAR_FILE_THRESHOLD``; both representations prune
        identically (tested).
        """
        if mode not in ("snapshot", "append", "overwrite_partitions"):
            raise ValueError(f"unknown snapshot write mode: {mode}")
        if staged is not None:
            self._check_ref_name(
                staged[len(BRANCH_NS):]
                if staged.startswith(BRANCH_NS)
                else staged
            )
        parent_v, _next_v = self._pin_head()
        if require_parent_v is not None and parent_v != require_parent_v:
            raise SnapshotConflict(
                f"published head moved from v{require_parent_v} to "
                f"v{parent_v} since this rewrite was computed; re-run "
                "the row-level operation against the new head"
            )
        if staged is not None:
            prior = self.staged_versions(staged)
            if prior:
                # A staged CHAIN (multi-commit WAP batch, or a branch)
                # grows from its own unpublished head: a later staged
                # commit sees and builds on the earlier ones with the
                # same id, not on the published head it forked from.
                for pv in sorted(prior):
                    if self._read_manifest_raw(pv)["mode"] == "delete_keys":
                        # A staged delete must be the LAST data-affecting
                        # commit of its chain: publishing onto a moved
                        # head re-stamps the delete PAST the chain's
                        # later commits, so a delete-then-append chain
                        # would mask its own append's rows on replay but
                        # keep them on fast-forward -- nondeterministic
                        # under unrelated concurrent traffic.  Append
                        # first, delete last (append-then-delete chains
                        # are order-consistent both ways).
                        raise ValueError(
                            f"wap chain {staged!r} already holds a staged "
                            f"delete (v{pv}); staged deletes must be the "
                            "last commit of their chain -- stage data "
                            "commits before the delete, or use a "
                            "separate wap id"
                        )
                parent_v = max(prior)
        parent = self._read_manifest(parent_v) if parent_v is not None else None
        pby, transforms = _parse_partition_spec(list(partition_by or []))
        if parent is not None:
            ptrans = parent.get("partition_transforms") or {}
            if not transforms and ptrans and pby == parent["partition_by"]:
                # caller addressed the spec by its physical names (the
                # compaction/COW rewrite path): the TABLE remembers its
                # transforms -- hidden partitioning means never having
                # to restate them
                transforms = ptrans
            elif (
                transforms != ptrans
                and pby == parent["partition_by"]
                and not evolve_partitioning
            ):
                raise ValueError(
                    f"partition transforms {transforms} != table's "
                    f"{ptrans} (pass evolve_partitioning=True to change "
                    "the spec)"
                )
        if transforms:
            # Recompute derived routing columns UNCONDITIONALLY (a
            # caller-supplied column under a derived name is replaced):
            # the transform, not the writer, is the source of truth, so
            # mis-routed rows are impossible by construction.
            df = _apply_transforms(df, transforms)
            # Cluster the output to the spec (Iceberg's
            # write.distribution-mode=hash, guide §6): hidden
            # partitioning means callers CANNOT pre-cluster on the
            # derived routing columns, so an unclustered frame writes
            # up to tasks x |spec values| tiny files per commit
            # (measured: 1024 files / 2 s for a 32-task frame over 32
            # buckets; clustered: 32 files / 0.7 s).  REBALANCE (not a
            # plain repartition) so AQE coalesces the shuffle on small
            # batches and SPLITS an oversized partition value on big
            # ones -- scale-adaptive, never a skewed single writer.
            # ``_cluster_spec=False`` is for callers that ARRANGED a
            # layout themselves (compaction's file-sizing salt, z-order
            # range partitioning) -- a rebalance here would shuffle it
            # away.
            if _cluster_spec:
                from pyspark.sql import functions as F

                df = df.hint("rebalance", *[F.col(c) for c in pby])
        elif _cluster_spec and pby and not _caller_arranged_layout(df):
            # Identity partitioning gets the same spec clustering
            # (write.distribution-mode=hash) -- but ONLY for frames
            # whose layout is incidental (a scan/join/aggregate shape):
            # unlike hidden partitioning, identity callers CAN and DO
            # arrange layouts on purpose (range-clustered files for
            # zone maps, forced multi-file commits), detected via
            # _caller_arranged_layout and left untouched.  A caller's
            # own repartition(pby) collapses into this rebalance
            # (CollapseRepartition), so pre-clustered frames never pay
            # a second exchange.  Measured: a 32-task frame over 5
            # identity values wrote 160 files in 0.59 s raw vs 5 files
            # in 0.34 s rebalanced.
            from pyspark.sql import functions as F

            df = df.hint("rebalance", *[F.col(c) for c in pby])
        if parent is not None and parent["partition_by"] != pby:
            if not evolve_partitioning:
                raise ValueError(
                    f"partition_by {pby} != table's {parent['partition_by']}"
                    " (pass evolve_partitioning=True to change the spec)"
                )
            if mode == "overwrite_partitions":
                # overwrite claims partitions BY the new spec's keys --
                # it cannot express "replace that old-spec partition",
                # so evolution is append/snapshot only.
                raise ValueError(
                    "partition-spec evolution is not supported with "
                    "overwrite_partitions; use append (old dirs keep "
                    "their spec) or snapshot (full rewrite normalizes)"
                )
        if (
            parent is not None
            and mode == "overwrite_partitions"
            and not _mixed_spec_overwrite_ok
        ):
            pspecs = _filled_dir_specs(parent)
            if any(spec != pby for spec in pspecs.values()):
                # replacing "the partition" under the current spec would
                # leave the same logical rows live in old-spec dirs
                raise ValueError(
                    "table has mixed partition specs; overwrite_partitions "
                    "is unsafe until a snapshot-mode rewrite normalizes "
                    "the layout"
                )
        # Field-id schema evolution bookkeeping (:meth:`evolve_schema`).
        # A non-replacing write records the EVOLVED table schema (parent
        # columns at their evolved types, plus any additive df-only
        # columns) -- recording the raw frame schema would let one
        # narrow append silently un-widen the table.  And a frame
        # carrying a RENAMED-AWAY name is refused: it is a stale
        # producer writing under the old schema, and by-name union
        # would misfile its values as a brand-new column.
        slog = (parent or {}).get("schema_log")
        if slog and mode != "snapshot":
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
            stale = sorted(renamed_away & set(df.columns))
            if stale:
                raise ValueError(
                    f"columns {stale} were renamed by evolve_schema; "
                    "write with the current names (see the manifest's "
                    "schema_log)"
                )
            pfields = json.loads(parent["schema"])["fields"]
            known = {f["name"] for f in pfields}
            extra = [
                f
                for f in json.loads(df.schema.json())["fields"]
                if f["name"] not in known
            ]
            schema_json = json.dumps(
                {"type": "struct", "fields": pfields + extra}
            )
        else:
            schema_json = df.schema.json()
        if transforms:
            # Derived transform columns are ROUTING, not table schema
            # (hidden partitioning): they live in directory names only
            # and never surface from read paths.
            sj = json.loads(schema_json)
            sj["fields"] = [
                f for f in sj["fields"] if f["name"] not in transforms
            ]
            schema_json = json.dumps(sj)
        version = _next_v  # same listing as parent_v (see _pin_head)
        # Attempt-UNIQUE data directory (the Iceberg convention): two
        # committers racing for the same version must not write into one
        # path -- the commit rename decides the winner only AFTER both
        # have written, and the loser's cleanup would otherwise delete
        # the winner's files (caught by the two-thread race test as a
        # PATH_NOT_FOUND on a committed manifest).
        vdir = f"v{version}-{uuid.uuid4().hex[:8]}"
        data_path = f"{self.root.rstrip('/')}/{DATA_DIR}/{vdir}"
        writer = df.write.format("parquet").mode("overwrite")
        if pby:
            writer = writer.partitionBy(*pby)
        writer.save(data_path)
        return self._assemble_and_commit_dir(
            version=version,
            vdir=vdir,
            data_path=data_path,
            parent=parent,
            parent_v=parent_v,
            mode=mode,
            pby=pby,
            transforms=transforms,
            schema_json=schema_json,
            slog=slog,
            metadata=metadata,
            claimed_partitions=claimed_partitions,
            watermarks=watermarks,
            staged=staged,
            df=df,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            bloom_bits=bloom_bits,
            stats_sidecar_threshold=stats_sidecar_threshold,
            ndv_cols=ndv_cols,
        )

    def _delete_prefix(self, path: str) -> None:
        """IO leaf: recursive delete (Spark-less callers override)."""
        delete_prefix(self.spark, path)

    def _dir_file_sizes(
        self, data_path: str, depth: int
    ) -> dict[str, list[int]]:
        """IO leaf: per-partition-dir data-file sizes of a just-written
        data dir (relative Hive part -> byte size per file; ``""`` for
        unpartitioned) -- a metadata-sized listing, no data read.  Local roots take the
        os.walk fast lane: the Hadoop iterator costs several py4j
        round-trips PER FILE, which measurably inflated every
        multi-commit scenario before this split (bench round 12);
        scheme-qualified stores use a depth-bounded listStatus walk."""
        path = data_path
        if path.startswith("file:"):
            rest = path[len("file:"):]
            path = "/" + rest.lstrip("/")
        if "://" not in path:
            return _local_dir_file_sizes(path, depth)
        fs, base = _fs_and_path(self.spark, data_path)
        out: dict[str, list[int]] = {}

        def walk(p, d: int, rel: str) -> None:
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if d > 0:
                    if st.isDirectory():
                        walk(
                            st.getPath(),
                            d - 1,
                            f"{rel}/{name}" if rel else name,
                        )
                    continue
                if name.endswith(".parquet") and not name.startswith(
                    (".", "_")
                ):
                    out.setdefault(rel, []).append(int(st.getLen()))

        walk(base, depth, "")
        return out

    def _assemble_and_commit_dir(
        self,
        *,
        version: int,
        vdir: str,
        data_path: str,
        parent: dict | None,
        parent_v: int | None,
        mode: str,
        pby: list[str],
        transforms: dict,
        schema_json: str,
        slog,
        metadata: dict | None,
        claimed_partitions: list | None,
        watermarks: dict | None,
        staged: str | None,
        df: DataFrame | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = BLOOM_BITS,
        stats_sidecar_threshold: int | None = None,
        ndv_cols: list[str] | None = None,
        precomputed_stats: dict | None = None,
    ) -> int:
        """Manifest assembly + atomic claim for a data directory ALREADY
        WRITTEN under ``data_path`` -- the shared back half of
        :meth:`write`, factored out so the SQL write path
        (:mod:`..sources.snapshot_write`: Python DataSource writer tasks
        write the parquet files executor-side, the commit runs
        Spark-less) goes through EXACTLY this logic instead of a
        drift-prone twin.  Spark is touched only by the stats/NDV blocks
        (gated on their arguments -- Spark-less callers pass them empty)
        and by the IO/expression leaves (``_list_partition_dirs`` /
        ``_commit_manifest`` / ``_delete_prefix`` / ``_hive_dir``),
        which Spark-less callers override."""
        new_parts = self._list_partition_dirs(data_path, len(pby))
        removed_parts: list[str] = []
        if mode == "snapshot" or parent is None:
            partitions = {p: [vdir] for p in new_parts}
        elif mode == "append":
            partitions = {k: list(v) for k, v in parent["partitions"].items()}
            for p in new_parts:
                partitions.setdefault(p, []).append(vdir)
        else:  # overwrite_partitions: repoint only partitions present in df
            partitions = {k: list(v) for k, v in parent["partitions"].items()}
            for vals in claimed_partitions or []:
                # Claimed-but-absent-from-output partitions are dropped;
                # claimed-and-present ones are re-pointed just below.
                # A claim may be a value TUPLE or an already-formatted
                # hive dir name (compact claims by manifest dir name --
                # exact, no unescape round-trip).
                claimed = (
                    vals
                    if isinstance(vals, str)
                    else self._hive_dir(pby, vals)
                )
                partitions.pop(claimed, None)
                if claimed not in new_parts:
                    removed_parts.append(claimed)
            for p in new_parts:
                partitions[p] = [vdir]
        # The delta a non-checkpoint commit records: the full NEW value
        # of every partition this commit touched, plus explicit removals.
        changed_parts = {p: list(partitions[p]) for p in new_parts}
        # Per-directory partition spec (spec evolution): surviving dirs
        # keep their recorded spec (pre-evolution dirs default to the
        # parent's table-level spec), this commit's dir is recorded
        # under the current spec.
        dir_specs: dict[str, list[str]] = {}
        if parent is not None:
            prev_specs = _filled_dir_specs(parent)
            for vds in partitions.values():
                for vd in vds:
                    if vd != vdir and vd in prev_specs:
                        dir_specs[vd] = prev_specs[vd]
        vdir_referenced = any(vdir in vds for vds in partitions.values())
        if vdir_referenced:
            dir_specs[vdir] = list(pby)
        dir_stats: dict[str, dict] = {}
        file_stats: dict[str, dict] = {}
        file_blooms: dict[str, dict] = {}
        dir_rows: dict[str, int] = {}
        own_sidecars: list[dict] = []
        # per-directory data-file sizes: a listing of the just-written
        # files, no data scan.  It also gives the commit's file count,
        # which picks inline stats rows or the sidecar below.
        file_sizes = self._dir_file_sizes(data_path, len(pby))
        if precomputed_stats is not None:
            # Spark-less callers (the SQL write path's
            # LocalSnapshotCommitter) computed per-file zone maps /
            # blooms / row counts EXECUTOR-SIDE with pyarrow while the
            # files were being written (one pass over in-memory Arrow
            # tables, zero extra scans) and hand them in fully keyed;
            # the recorded config makes later reads prune exactly as
            # after an API-path stats write.  Mutually exclusive with
            # the Spark scan below by construction (callers pass one or
            # the other).
            ps = precomputed_stats
            stats_cols = list(ps.get("stats_cols") or [])
            bloom_cols = list(ps.get("bloom_cols") or [])
            bloom_bits = int(ps.get("bloom_bits") or bloom_bits)
            dir_stats = dict(ps.get("dir_stats") or {})
            file_stats = dict(ps.get("file_stats") or {})
            file_blooms = dict(ps.get("file_blooms") or {})
            dir_rows = {
                k: int(v) for k, v in (ps.get("dir_rows") or {}).items()
            }
        elif stats_cols or bloom_cols:
            from pyspark.sql import functions as F

            from .functions.hashing import h32, h32_hi

            stats_cols = list(stats_cols or [])
            bloom_cols = list(bloom_cols or [])
            # ONE scan of the just-written data, grouped by FILE: the
            # manifest records min/max per file (Iceberg-manifest
            # granularity -- at 100 TB most of the skipping power is
            # per-file, a partition dir holds many files), and the
            # per-directory rollup is derived from the same aggregate
            # (metadata-sized), not a second scan.  Bloom bit
            # positions ride the same scan: per bloom column, BLOOM_K
            # collect_set aggregates of (h1 + i*h2) mod bits -- each
            # bounded by bits distinct values.  The frame's own schema
            # is passed explicitly: no footer inference, and an EMPTY
            # write (e.g. compaction after a full purge) yields an
            # empty stats scan instead of UNABLE_TO_INFER_SCHEMA.
            scan = (
                self.spark.read.schema(df.schema)
                .option("basePath", data_path)
                .parquet(data_path)
            )
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for c in stats_cols:
                aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
            for c in bloom_cols:
                # int/string keys only: other types' CAST-to-STRING
                # form differs from the driver probe's str() and would
                # make bloom skipping UNSOUND (see _BLOOM_KEY_TYPES)
                dt = scan.schema[c].dataType.simpleString()
                if dt not in _BLOOM_KEY_TYPES:
                    raise ValueError(
                        f"bloom_cols supports int/string keys; {c!r} is {dt}"
                    )
                s = F.col(c).cast("string")
                h1, h2 = h32(s), h32_hi(s)
                aggs += [
                    F.collect_set((h1 + F.lit(i) * h2) % bloom_bits).alias(
                        f"bl_{c}_{i}"
                    )
                    for i in range(BLOOM_K)
                ]
            agg_df = scan.groupBy(
                F.input_file_name().alias("__file"), *pby
            ).agg(*aggs)
            threshold = (
                SIDECAR_FILE_THRESHOLD
                if stats_sidecar_threshold is None
                else stats_sidecar_threshold
            )
            per_file_rows = (
                sum(len(v) for v in file_sizes.values()) <= threshold
            )
            if per_file_rows:
                rows = agg_df.collect()
            else:
                # 100 TB path: the per-file rows never reach the
                # driver -- executors write them as a parquet sidecar
                # the manifest references; the driver keeps only the
                # per-DIRECTORY rollup (O(partitions)).  Both read the
                # aggregate, so it is cached for the two of them.
                agg_df.persist()
                try:
                    own_sidecars.append(
                        self._write_stats_sidecar(
                            agg_df, vdir, stats_cols, bloom_cols, bloom_bits
                        )
                    )
                    roll = [F.sum("__rows").alias("__rows")]
                    for c in stats_cols:
                        roll += [
                            F.min(f"mn_{c}").alias(f"mn_{c}"),
                            F.max(f"mx_{c}").alias(f"mx_{c}"),
                        ]
                    rows = agg_df.groupBy(*pby).agg(*roll).collect()
                finally:
                    agg_df.unpersist()
            raw_dir: dict[str, dict[str, list]] = {}
            for r in rows:
                part = (
                    self._hive_dir(pby, tuple(r[c] for c in pby))
                    if pby
                    else ""
                )
                dkey = f"{vdir}/{part}" if part else vdir
                if per_file_rows:
                    # basename only: partition dir names come from
                    # _hive_partition_dir (on-disk escaping), never
                    # parsed back out of the URI input_file_name returns
                    fname = r["__file"].rstrip("/").rsplit("/", 1)[-1]
                    if stats_cols:
                        file_stats[f"{dkey}/{fname}"] = {
                            c: [_stat_json(r[f"mn_{c}"]), _stat_json(r[f"mx_{c}"])]
                            for c in stats_cols
                        }
                    if bloom_cols:
                        blooms = {}
                        for c in bloom_cols:
                            bm = 0
                            for i in range(BLOOM_K):
                                for pos in r[f"bl_{c}_{i}"]:
                                    bm |= 1 << pos
                            blooms[c] = [bloom_bits, f"{bm:0{bloom_bits // 4}x}"]
                        file_blooms[f"{dkey}/{fname}"] = blooms
                dir_rows[dkey] = dir_rows.get(dkey, 0) + int(r["__rows"])
                agg = raw_dir.setdefault(dkey, {})
                for c in stats_cols:
                    mn, mx = r[f"mn_{c}"], r[f"mx_{c}"]
                    cur = agg.setdefault(c, [None, None])
                    if mn is not None and (cur[0] is None or mn < cur[0]):
                        cur[0] = mn
                    if mx is not None and (cur[1] is None or mx > cur[1]):
                        cur[1] = mx
            for dkey, cols in raw_dir.items():
                dir_stats[dkey] = {
                    c: [_stat_json(v[0]), _stat_json(v[1])]
                    for c, v in cols.items()
                }
        fresh_dir_stats = dict(dir_stats)
        fresh_file_stats = dict(file_stats)
        fresh_file_blooms = dict(file_blooms)
        fresh_dir_rows = dict(dir_rows)
        # per-directory data-file BYTE sums, recorded unconditionally:
        # the size statistic join planning actually needs -- Spark's
        # broadcast threshold is bytes, not rows (plans/join_stats.py)
        dir_bytes = {
            (f"{vdir}/{p}" if p else vdir): sum(sizes)
            for p, sizes in file_sizes.items()
            if vdir in partitions.get(p, [])
        }
        fresh_dir_bytes = dict(dir_bytes)
        sidecars = list(own_sidecars)
        if parent is not None:
            sidecars = (
                self._live_sidecars(
                    parent.get("file_stats_sidecars"), partitions
                )
                + own_sidecars
            )
        if parent is not None:
            # Carry stats forward for directories this commit keeps.
            live = {
                f"{vd}/{p}" if p else vd
                for p, vds in partitions.items()
                for vd in vds
            }
            for k, v in parent.get("dir_stats", {}).items():
                if k in live and k not in dir_stats:
                    dir_stats[k] = v
            for k, v in parent.get("file_stats", {}).items():
                if k.rsplit("/", 1)[0] in live and k not in file_stats:
                    file_stats[k] = v
            for k, v in parent.get("file_blooms", {}).items():
                if k.rsplit("/", 1)[0] in live and k not in file_blooms:
                    file_blooms[k] = v
            for k, v in parent.get("dir_rows", {}).items():
                if k in live and k not in dir_rows:
                    dir_rows[k] = v
            for k, v in parent.get("dir_bytes", {}).items():
                if k in live and k not in dir_bytes:
                    dir_bytes[k] = v
        # Full checkpoint or delta?  A table-replacing snapshot, the
        # first commit, and every CHECKPOINT_EVERY-th version write the
        # full map; everything else writes O(touched partitions) -- see
        # CHECKPOINT_EVERY.
        is_full = (
            parent is None
            or mode == "snapshot"
            or version % CHECKPOINT_EVERY == 0
        )
        # The table's stats CONFIGURATION persists in the manifest so
        # maintenance rewrites (compact) can re-record the same zone
        # maps / blooms / row counts instead of silently degrading the
        # table's pruning metadata: a commit that passes stats/bloom
        # cols updates it, any other commit carries it forward.
        prev_ts = (parent or {}).get("table_stats") or {}
        if stats_cols or bloom_cols:
            table_stats = {
                "stats_cols": list(stats_cols or []),
                "bloom_cols": list(bloom_cols or []),
                "bloom_bits": bloom_bits,
            }
        else:
            # NDV sketches do NOT survive a data commit that skipped
            # ndv_cols: the sketch would describe neither the old data
            # (replaced) nor the new (never hashed) -- a stale estimate
            # is worse than none.  Maintaining a sketched table means
            # passing ndv_cols on every data commit (same opt-in
            # contract as stats_cols for zone maps).
            table_stats = (
                {k: v for k, v in prev_ts.items() if k != "col_ndv"}
                or None
            )
        if (
            not ndv_cols
            and prev_ts.get("col_ndv")
            and (metadata or {}).get("compaction")
        ):
            # compaction rewrites are data-IDENTICAL: the sketch still
            # describes exactly the live rows -- keep it
            table_stats = {
                **(table_stats or {}),
                "col_ndv": prev_ts["col_ndv"],
            }
        if ndv_cols:
            table_stats = {
                **(table_stats or {}),
                "col_ndv": self._merged_ndv_sketches(
                    df,
                    list(ndv_cols),
                    prev_ts.get("col_ndv") if mode != "snapshot" else None,
                ),
            }
        if precomputed_stats is not None and precomputed_stats.get("col_ndv"):
            # SQL write path: sketches were batch-computed and unioned
            # with the parent's BEFORE the write (the entry point has a
            # SparkSession; this commit worker does not) -- install the
            # pre-merged result so an INSERT no longer invalidates the
            # table's NDV statistics.
            table_stats = {
                **(table_stats or {}),
                "col_ndv": dict(precomputed_stats["col_ndv"]),
            }
        common = {
            "version": version,
            "parent": parent_v,
            "mode": mode,
            "partition_by": pby,
            "committed_at_ms": int(time.time() * 1000),
            "metadata": dict(metadata or {}),
            "table_stats": table_stats,
            **({"staged": staged} if staged is not None else {}),
            # Table schema (evolved-merged above): lets read() serve a
            # committed-but-EMPTY snapshot (e.g. a CDC batch whose
            # deletes emptied every partition) as an empty typed frame
            # instead of crashing the consumer.
            "schema": schema_json,
            **({"schema_log": slog} if slog and mode != "snapshot" else {}),
            # recorded even when EMPTY: the delta fold must distinguish
            # "spec evolution removed the transforms" ({}) from "this
            # commit kind never records them" (absent -> inherit)
            "partition_transforms": transforms,
        }
        if is_full:
            manifest = {
                **common,
                "manifest_kind": "full",
                "partitions": partitions,
                "dir_stats": dir_stats,
                "file_stats": file_stats,
                "file_blooms": file_blooms,
                "file_stats_sidecars": sidecars,
                # Equality deletes carry forward (pruned against the new
                # partition map); a table-replacing snapshot clears them
                # -- the replaced data is gone, nothing left to mask.
                "delete_sets": (
                    []
                    if mode == "snapshot" or parent is None
                    else _prune_delete_sets(
                        list(parent.get("delete_sets", [])), partitions
                    )
                ),
                "dir_specs": dir_specs,
                "dir_rows": dir_rows,
                "dir_bytes": dir_bytes,
                # Carried forward parent -> child on every commit (see
                # docstring) -- survives retention as long as ANY
                # snapshot survives, which keep_last >= 1 guarantees.
                "watermarks": {
                    **((parent or {}).get("watermarks") or {}),
                    **(watermarks or {}),
                },
            }
        else:
            manifest = {
                **common,
                "manifest_kind": "delta",
                "partitions_set": changed_parts,
                "partitions_removed": removed_parts,
                "dir_stats_added": fresh_dir_stats,
                "file_stats_added": fresh_file_stats,
                "file_blooms_added": fresh_file_blooms,
                "file_stats_sidecars_added": list(own_sidecars),
                "dir_specs_added": (
                    {vdir: list(pby)} if vdir_referenced else {}
                ),
                "dir_rows_added": fresh_dir_rows,
                "dir_bytes_added": fresh_dir_bytes,
                # THIS commit's marks only; resolution merges the chain
                # (same carried-forward semantics as the eager merge).
                "watermarks": dict(watermarks or {}),
            }
        try:
            self._commit_manifest(version, manifest)
        except SnapshotConflict:
            # Loser's data dir is orphaned (invisible); reclaim eagerly.
            self._delete_prefix(data_path)
            for s in own_sidecars:
                self._delete_prefix(f"{self.root.rstrip('/')}/{s['path']}")
            raise
        return version

    #: JSON-equivalent sidecar types: _stat_json passes these through,
    #: so a native sidecar column of one of these types compares exactly
    #: as the inline JSON bound would driver-side; anything else is
    #: stored cast-to-string (matching _stat_json's str() serialization
    #: for dates/timestamps/decimals, which orders identically).
    _SIDECAR_NATIVE_TYPES = frozenset(
        ["tinyint", "smallint", "int", "bigint", "float", "double",
         "string", "boolean"]
    )

    def _write_stats_sidecar(
        self,
        agg_df: DataFrame,
        vdir: str,
        stats_cols: list[str],
        bloom_cols: list[str],
        bloom_bits: int,
    ) -> dict:
        """Write the per-file stats aggregate as a parquet sidecar under
        ``_stats/<vdir>-stats`` -- executor-side, never collected.  One
        row per data file: ``(dkey, fname, rows, mn_<c>, mx_<c>,
        bl_<c>)`` where ``bl_<c>`` is the sorted set-bit position list
        of the file's bloom bitmap (array<int>: probe-able with
        array_contains, and parquet-encodes well).  Bounds are stored
        in their JSON-equivalent type (see _SIDECAR_NATIVE_TYPES) so
        sidecar pruning decisions match the inline path exactly.

        The sidecar is attempt-unique (named by the data vdir): a
        losing racer's sidecar becomes an orphan swept by
        expire_snapshots' age gate, like its data directory.  Returns
        the manifest reference dict."""
        from pyspark.sql import functions as F

        # dkey/fname derive from the file URI's tail after the
        # attempt-unique vdir (hex + dash: regex-safe).
        # input_file_name() returns a URI -- its %XX escapes must be
        # decoded back to the ON-DISK names the manifest's partition
        # map records (e.g. 'day=a b' rides the URI as 'day=a%20b',
        # and a hive-escaped 'day=x%3Ay' as 'day=x%253Ay').
        # url_decode is form-decoding, which would also turn a literal
        # '+' into a space -- protect it first ('+' is a legal path
        # char the URI leaves as-is).
        decoded = F.url_decode(
            F.replace(F.col("__file"), F.lit("+"), F.lit("%2B"))
        )
        rel = F.element_at(F.split(decoded, f"/{vdir}/"), -1)
        out = agg_df.withColumn("__rel", rel).withColumn(
            "fname", F.element_at(F.split(F.col("__rel"), "/"), -1)
        )
        out = out.withColumn(
            "dkey",
            F.when(
                F.length("__rel") > F.length("fname"),
                F.concat(
                    F.lit(f"{vdir}/"),
                    F.expr(
                        "substring(__rel, 1, length(__rel) - length(fname) - 1)"
                    ),
                ),
            ).otherwise(F.lit(vdir)),
        )
        cols = [F.col("dkey"), F.col("fname"), F.col("__rows").alias("rows")]
        for c in stats_cols:
            native = (
                out.schema[f"mn_{c}"].dataType.simpleString()
                in self._SIDECAR_NATIVE_TYPES
            )
            for pfx in ("mn", "mx"):
                col = F.col(f"{pfx}_{c}")
                cols.append(
                    (col if native else col.cast("string")).alias(f"{pfx}_{c}")
                )
        for c in bloom_cols:
            cols.append(
                F.array_sort(
                    F.array_distinct(
                        F.concat(
                            *[F.col(f"bl_{c}_{i}") for i in range(BLOOM_K)]
                        )
                    )
                ).alias(f"bl_{c}")
            )
        relpath = f"{STATS_DIR}/{vdir}-stats"
        out.select(*cols).write.format("parquet").mode("overwrite").save(
            f"{self.root.rstrip('/')}/{relpath}"
        )
        return {
            "path": relpath,
            "vdir": vdir,
            "stats_cols": list(stats_cols),
            "bloom_cols": list(bloom_cols),
            "bloom_bits": bloom_bits,
        }

    @staticmethod
    def _live_sidecars(refs: list, partitions: dict) -> list:
        """Sidecar refs whose originating data dir is still referenced
        by the partition map (per-file rows for re-pointed partitions
        go stale in place -- harmless: plan_files only consults live
        directory keys)."""
        vdir_live = {vd for vds in partitions.values() for vd in vds}
        return [s for s in (refs or []) if s["vdir"] in vdir_live]

    def _list_partition_dirs(self, data_path: str, depth: int) -> list[str]:
        """Relative Hive partition dirs under a committed data dir
        (``[""]`` for unpartitioned) -- a metadata-sized listing, the
        same walk storage._recover_staging uses."""
        def leaves(p: str, d: int, rel: str):
            if d == 0:
                yield rel
                return
            for e in list_entries(self.spark, p):
                if e.is_dir:
                    yield from leaves(
                        f"{p}/{e.name}",
                        d - 1,
                        f"{rel}/{e.name}" if rel else e.name,
                    )

        return sorted(leaves(data_path.rstrip("/"), depth, ""))

    # -- reads ------------------------------------------------------------

    @staticmethod
    def _normalize_ranges(range_filter) -> list[tuple]:
        """One ``(col, lo, hi)`` tuple or a list of them -> list."""
        if range_filter is None:
            return []
        if isinstance(range_filter, tuple):
            return [range_filter]
        return list(range_filter)

    @staticmethod
    def _provably_disjoint(col_stats: dict, ranges: list[tuple]) -> bool:
        """True when ANY of the conjunctive ranges is provably disjoint
        from the recorded [min, max] -- missing/degenerate stats for a
        column are inconclusive (kept: sound), as are type mismatches
        from string-serialized date/timestamp bounds.  A ``None`` bound
        means UNBOUNDED on that side (one-sided ranges, the shape SQL
        ``col > v`` predicates push down), which can never prove
        disjointness by itself."""
        for col, lo, hi in ranges:
            s = col_stats.get(col)
            if not s or s[0] is None or s[1] is None:
                continue
            mn, mx = s
            try:
                if (lo is not None and mx < lo) or (
                    hi is not None and mn > hi
                ):
                    return True
            except TypeError:
                continue
        return False

    def _hive_dir(self, cols: list[str], vals: tuple) -> str:
        """Planner hook: relative Hive partition dir for literal values.
        The Spark-backed base routes through the JVM's
        ``ExternalCatalogUtils.escapePathName`` (the write path's own
        escaping); the Spark-less local planner overrides with the
        pinned pure-Python twin."""
        return _hive_partition_dir(self.spark, cols, vals)

    def _try_eval_transform(self, spec: dict, value, manifest: dict):
        """Planner hook behind :meth:`_segment_ranges`: the derived
        value, or None when THIS planner cannot evaluate the transform
        for the value (callers skip pruning on it -- sound by
        omission).  The Spark-backed base can always evaluate."""
        return self._eval_transform(spec, value, manifest)

    def _try_eval_transform_many(
        self, spec: dict, values: list, manifest: dict
    ) -> list | None:
        """Batch planner hook behind :meth:`_segment_requirements`;
        None means "cannot evaluate" (no pruning on this transform)."""
        return self._eval_transform_many(spec, values, manifest)

    def _eval_transform(self, spec: dict, value, manifest: dict):
        """Evaluate a partition transform for one literal at PLAN time.
        Common (transform, literal type) pairs evaluate through the
        PURE-PYTHON twin the SQL planner and SQL write path already
        trust (``sources.snapshot_batch.eval_transform_pure`` --
        bit-pinned against the Catalyst expressions by tests), skipping
        a ~0.3 s one-row Spark job PER DISTINCT VALUE (10 point lookups
        on a bucketed table paid 10 jobs).  Anything the twin refuses
        (timestamps, exotic literals) falls back to the very same Spark
        expression the write path routed with, so coverage and
        semantics are unchanged.  Memoized per store handle."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        key = (json.dumps(spec, sort_keys=True), repr(value))
        cache = getattr(self, "_transform_eval_cache", None)
        if cache is None:
            cache = self._transform_eval_cache = {}
        if key in cache:
            return cache[key]
        pure = self._eval_transform_pure(spec, value, manifest)
        out = (
            pure
            if pure is not None
            else self._eval_transform_spark(spec, value, manifest)
        )
        cache[key] = out
        return out

    def _eval_transform_spark(self, spec: dict, value, manifest: dict):
        """The one-row Spark-job evaluation -- the drift-immune ground
        truth the twin is pinned against (tests call this directly)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        field = next(
            f
            for f in T.StructType.fromJson(json.loads(manifest["schema"]))
            if f.name == spec["src"]
        )
        one = self.spark.range(1).select(
            F.lit(value).cast(field.dataType).alias(spec["src"])
        )
        return _apply_transforms(one, {"__t": spec}).collect()[0]["__t"]

    @staticmethod
    def _eval_transform_pure(spec: dict, value, manifest: dict):
        """The pinned pure-Python transform twin, or None when it
        cannot reproduce Catalyst's semantics for this (transform,
        literal type) -- callers then run the Spark expression."""
        # function-level import: snapshot_batch imports this module
        from .sources.snapshot_batch import (
            _TransformUnsupported,
            eval_transform_pure,
        )

        ftype = "missing"
        for f in json.loads(manifest["schema"])["fields"]:
            if f["name"] == spec["src"]:
                t = f["type"]
                ftype = t if isinstance(t, str) else "complex"
                break
        try:
            return eval_transform_pure(spec, value, ftype)
        except _TransformUnsupported:
            return None

    def _eval_transform_many(
        self, spec: dict, values: list, manifest: dict
    ) -> list:
        """Batch form of :meth:`_eval_transform`: pure-twin evaluation
        where it applies (no job at all); remaining uncached values
        evaluate in ONE metadata-sized job (an IN-list of K keys costs
        one job, not K), results memoized individually."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cache = getattr(self, "_transform_eval_cache", None)
        if cache is None:
            cache = self._transform_eval_cache = {}
        skey = json.dumps(spec, sort_keys=True)
        for v in values:
            if (skey, repr(v)) in cache:
                continue
            pure = self._eval_transform_pure(spec, v, manifest)
            if pure is not None:
                cache[(skey, repr(v))] = pure
        missing = [v for v in values if (skey, repr(v)) not in cache]
        if missing:
            field = next(
                f
                for f in T.StructType.fromJson(
                    json.loads(manifest["schema"])
                )
                if f.name == spec["src"]
            )
            src = T.StructType(
                [
                    T.StructField("__i", T.IntegerType()),
                    T.StructField(spec["src"], field.dataType),
                ]
            )
            try:
                # Results map back by an EXPLICIT index column, never by
                # collect order: correctness must not depend on
                # createDataFrame().collect() preserving row order
                # should _apply_transforms ever grow a shuffle.
                frame = self.spark.createDataFrame(
                    [(i, v) for i, v in enumerate(missing)], src
                )
                out = _apply_transforms(frame, {"__t": spec}).select(
                    "__i", "__t"
                ).collect()
                for row in out:
                    cache[(skey, repr(missing[row["__i"]]))] = row["__t"]
            except TypeError:
                # literals needing coercion (e.g. an ISO string for a
                # date/timestamp source): the scalar path's
                # lit().cast() handles them, one memoized job each
                for v in missing:
                    cache[(skey, repr(v))] = self._eval_transform(
                        spec, v, manifest
                    )
        return [cache[(skey, repr(v))] for v in values]

    #: Transforms that are provably NON-DECREASING in their source
    #: value, so a source range [lo, hi] maps to the derived interval
    #: [f(lo), f(hi)] (integer encodings).  ``bucket`` is deliberately
    #: absent (hash-scattered); string ``truncate`` is excluded in v1
    #: (lexicographic compare on escaped path segments is a footgun).
    _MONOTONIC_TRANSFORMS = (
        "truncate",
        "years",
        "months",
        "days",
        "hours",
    )

    def _segment_requirements(
        self, manifest: dict, points: dict
    ) -> dict[str, str]:
        """Hive path segments a dir must carry to possibly hold rows
        matching the point predicates: identity partition columns match
        their literal; a transform's SOURCE column maps through the
        transform to the derived segment (hidden partitioning's prune
        path).  Only provable requirements are emitted -- other
        predicate columns prune via blooms/zone maps downstream."""
        trans = manifest.get("partition_transforms") or {}
        pby = manifest["partition_by"]
        req: dict[str, set[str]] = {}
        for col, value in points.items():
            vals = _point_values(value)
            if col in pby and col not in trans:
                req[col] = {
                    self._hive_dir([col], (v,)).split("=", 1)[1]
                    for v in vals
                }
            for name, spec in trans.items():
                if spec["src"] == col:
                    dvs = self._try_eval_transform_many(
                        spec, vals, manifest
                    )
                    if dvs is None:
                        continue  # planner can't evaluate: no pruning
                    req[name] = {
                        self._hive_dir([name], (dv,)).split("=", 1)[1]
                        for dv in dvs
                    }
        return req

    def _segment_ranges(
        self, manifest: dict, ranges: list[tuple]
    ) -> dict[str, tuple[int, int]]:
        """Derived-segment INTERVALS implied by range predicates on
        transform SOURCE columns: a non-decreasing transform maps
        ``src in [lo, hi]`` to ``derived in [f(lo), f(hi)]``
        (Iceberg's transform-monotonicity prune; integer-encoded, so
        the path-segment compare is a plain int compare).  Bucket and
        string-truncate segments never constrain ranges (not
        monotonic / not emitted) -- sound by omission."""
        trans = manifest.get("partition_transforms") or {}
        req: dict[str, tuple[int, int]] = {}
        for col, lo, hi in ranges:
            for name, spec in trans.items():
                if spec["src"] != col:
                    continue
                if spec["kind"] not in self._MONOTONIC_TRANSFORMS:
                    continue
                if spec["kind"] == "truncate":
                    field_type = next(
                        (
                            f["type"]
                            for f in json.loads(manifest["schema"])[
                                "fields"
                            ]
                            if f["name"] == col
                        ),
                        None,
                    )
                    if field_type == "string":
                        continue
                # None bounds (one-sided ranges) map to an unbounded
                # derived side; an unevaluable transform likewise leaves
                # that side unbounded (sound by omission).
                dlo = (
                    None
                    if lo is None
                    else self._try_eval_transform(spec, lo, manifest)
                )
                dhi = (
                    None
                    if hi is None
                    else self._try_eval_transform(spec, hi, manifest)
                )
                if dlo is None and dhi is None:
                    continue
                prev = req.get(name)
                cur = (
                    None if dlo is None else int(dlo),
                    None if dhi is None else int(dhi),
                )
                if prev is None:
                    req[name] = cur
                else:
                    los = [b for b in (prev[0], cur[0]) if b is not None]
                    his = [b for b in (prev[1], cur[1]) if b is not None]
                    req[name] = (
                        max(los) if los else None,
                        min(his) if his else None,
                    )
        return req

    def plan_dirs(
        self,
        as_of: int | None = None,
        partitions: list[str] | None = None,
        range_filter: tuple | list[tuple] | None = None,
        point_filter: dict | None = None,
    ) -> tuple[dict, dict[str, list[str]], int, int]:
        """Manifest-level scan planning: returns ``(manifest, by_vdir,
        n_skipped, n_total)`` where ``by_vdir`` maps each data directory
        to the live partitions to scan from it.  A directory is SKIPPED
        when ANY range filter is provably disjoint from its recorded
        zone map (conjunctive semantics, like a WHERE of ANDed ranges);
        directories without stats for a filtered column are kept
        (sound).  ``point_filter`` equality predicates additionally
        prune by PARTITION-PATH SEGMENTS: identity partition columns
        directly, and hidden-partitioning transform sources through
        their recorded transform (``bucket(8, doc_id)`` turns a
        ``doc_id = K`` lookup into one bucket directory) -- dirs whose
        spec lacks the segment are kept (sound across spec evolution).
        Exposed separately from :meth:`read` so tests and observability
        can assert pruning decisions without scanning."""
        version = self.current_version() if as_of is None else as_of
        if version is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        # Pruned resolution: against a sharded checkpoint only the
        # selector-matching shards are read -- O(matching dirs) manifest
        # bytes; the exact filters below re-apply on the (possibly
        # over-inclusive) result.
        manifest = self._read_manifest_pruned(
            version, partitions=partitions, range_filter=range_filter
        )
        stats = manifest.get("dir_stats", {})
        ranges = self._normalize_ranges(range_filter)
        seg_req = (
            self._segment_requirements(manifest, point_filter)
            if point_filter
            else {}
        )
        seg_ranges = self._segment_ranges(manifest, ranges) if ranges else {}

        def _seg_skipped(part: str) -> bool:
            if not (seg_req or seg_ranges) or not part:
                return False
            segs = dict(
                s.split("=", 1) for s in part.split("/") if "=" in s
            )
            if any(
                name in segs and segs[name] not in want
                for name, want in seg_req.items()
            ):
                return True
            for name, (lo, hi) in seg_ranges.items():
                raw = segs.get(name)
                if raw is None:
                    continue
                try:
                    v = int(raw)
                except ValueError:
                    continue  # foreign/evolved segment encoding: keep
                if (lo is not None and v < lo) or (
                    hi is not None and v > hi
                ):
                    return True
            return False

        def _skipped(vd: str, part: str) -> bool:
            if _seg_skipped(part):
                return True
            dstats = stats.get(f"{vd}/{part}" if part else vd, {})
            return self._provably_disjoint(dstats, ranges)

        # Group live partitions by data dir: one basePath-anchored scan
        # per referenced version dir, unioned by name.
        by_vdir: dict[str, list[str]] = {}
        n_total = n_skipped = 0
        for part, vdirs in manifest["partitions"].items():
            if partitions is not None and part not in partitions:
                continue
            for vd in vdirs:
                n_total += 1
                if _skipped(vd, part):
                    n_skipped += 1
                    continue
                by_vdir.setdefault(vd, []).append(part)
        return manifest, by_vdir, n_skipped, n_total

    def plan_files(
        self,
        as_of: int | None = None,
        partitions: list[str] | None = None,
        range_filter: tuple | list[tuple] | None = None,
        point_filter: dict | None = None,
    ) -> tuple[dict, dict[str, dict[str, list[str] | None]], int, int]:
        """FILE-level scan planning on top of :meth:`plan_dirs`: returns
        ``(manifest, units, n_files_skipped, n_files_total)`` where
        ``units`` maps each surviving data dir to ``{partition: files}``
        -- ``files`` is an explicit file-name list when the manifest
        carries per-file stats for that directory (pruned against the
        ranges), or ``None`` meaning "scan the whole directory" (no
        file stats recorded there: sound).

        This is where most of the skipping power lives at 100 TB: a
        partition directory holds many files, and the per-file min/max
        recorded at write time (Iceberg-manifest granularity) lets the
        read open only the files whose range intersects the filter --
        without listing or footer-probing the rest.  The counts cover
        only stats-bearing directories, so a pruned-file assertion is
        meaningful.

        ``point_filter`` -- ``{col: value}`` equality predicates
        (conjunctive with each other and with the ranges) -- prunes via
        the per-file BLOOM FILTERS (``bloom_cols`` at write time): a
        file is skipped when any queried key is provably absent (probe
        bit unset; blooms have no false negatives).  This is the
        point-lookup pruning zone maps cannot provide when key values
        are hash-scattered across files."""
        manifest, by_vdir, _, _ = self.plan_dirs(
            as_of=as_of,
            partitions=partitions,
            range_filter=range_filter,
            point_filter=point_filter,
        )
        ranges = self._normalize_ranges(range_filter)
        points = dict(point_filter or {})
        # A point predicate is also the degenerate range [v, v]: let it
        # prune through per-file zone maps too when the column carries
        # stats but no bloom (sound either way; read() re-applies the
        # exact equality on top).
        file_ranges = ranges + [
            (c, min(vs), max(vs))
            for c, v in points.items()
            if (vs := _point_values(v))
        ]
        fstats = manifest.get("file_stats", {})
        fblooms = manifest.get("file_blooms", {})
        files_by_dir: dict[str, list[str]] = {}
        for k in sorted(set(fstats) | set(fblooms)):
            files_by_dir.setdefault(k.rsplit("/", 1)[0], []).append(k)
        sidecar_by_vdir = {
            s["vdir"]: s for s in manifest.get("file_stats_sidecars", [])
        }
        units: dict[str, dict[str, list[str] | None]] = {}
        deferred: list[tuple[str, str]] = []
        n_skipped = n_total = 0
        for vd, parts in by_vdir.items():
            for part in parts:
                dkey = f"{vd}/{part}" if part else vd
                known = files_by_dir.get(dkey)
                if not ranges and not points:
                    units.setdefault(vd, {})[part] = None
                    continue
                if not known:
                    if vd in sidecar_by_vdir:
                        # per-file stats live in this commit's parquet
                        # sidecar: resolve all such dirs in ONE Spark
                        # job below, collecting only surviving names
                        deferred.append((vd, part))
                    else:
                        units.setdefault(vd, {})[part] = None
                    continue
                keep: list[str] = []
                for k in known:
                    n_total += 1
                    if self._provably_disjoint(
                        fstats.get(k, {}), file_ranges
                    ) or _bloom_excludes(fblooms.get(k, {}), points):
                        n_skipped += 1
                    else:
                        keep.append(k.rsplit("/", 1)[1])
                units.setdefault(vd, {})[part] = keep
        if deferred:
            resolved = self._plan_files_sidecar(
                sidecar_by_vdir, deferred, file_ranges, points
            )
            for vd, part in deferred:
                dkey = f"{vd}/{part}" if part else vd
                got = resolved.get(dkey)
                if got is None:
                    # sidecar carries no rows for this dir (e.g. stats
                    # config predates it): scan whole -- sound
                    units.setdefault(vd, {})[part] = None
                else:
                    total, keep = got
                    n_total += total
                    n_skipped += total - len(keep)
                    units.setdefault(vd, {})[part] = keep
        return manifest, units, n_skipped, n_total

    #: live-dkey filter strategy cutover in _plan_files_sidecar: up to
    #: this many dirs an isin literal list is cheapest; above it a
    #: broadcast semi-join keeps the plan O(1) in size.
    _SIDECAR_ISIN_MAX = 256

    #: value-type -> sidecar column types the inline (Python) comparison
    #: semantics carry over to exactly; anything else mirrors the inline
    #: path's TypeError branch (inconclusive: keep).
    _SIDECAR_COMPAT = {
        bool: frozenset(["boolean"]),
        int: frozenset(["tinyint", "smallint", "int", "bigint",
                        "float", "double"]),
        float: frozenset(["tinyint", "smallint", "int", "bigint",
                          "float", "double"]),
        str: frozenset(["string"]),
    }

    def _plan_files_sidecar(
        self,
        sidecar_by_vdir: dict[str, dict],
        deferred: list[tuple[str, str]],
        file_ranges: list[tuple],
        points: dict,
    ) -> dict[str, tuple[int, list[str]]]:
        """File pruning over parquet stats sidecars, THROUGH Spark: the
        predicate evaluation runs executor-side and only (dkey ->
        (total files, surviving file names)) comes back -- output-sized,
        never O(all files).  Decision semantics mirror the inline path
        bit-for-bit: null/missing bounds are inconclusive (keep), a
        filter-value type the stored type cannot compare with is
        inconclusive (the inline TypeError branch), blooms exclude only
        on a provably-unset probe bit."""
        from pyspark.sql import functions as F

        root = self.root.rstrip("/")
        want = {
            f"{vd}/{part}" if part else vd for vd, part in deferred
        }
        out: dict[str, tuple[int, list[str]]] = {}
        # Group sidecars by stats configuration so each group reads as
        # one schema-consistent multi-path scan (normally one group).
        groups: dict[tuple, list[dict]] = {}
        for vd, _part in deferred:
            s = sidecar_by_vdir[vd]
            key = (
                tuple(s["stats_cols"]),
                tuple(s["bloom_cols"]),
                s["bloom_bits"],
            )
            groups.setdefault(key, [])
            if s not in groups[key]:
                groups[key].append(s)
        for (g_stats, g_blooms, g_bits), refs in groups.items():
            paths = [f"{root}/{s['path']}" for s in refs]
            g_vdirs = {s["vdir"] for s in refs}
            dkeys = sorted(
                dk
                for dk in want
                if dk.split("/", 1)[0] in g_vdirs
            )
            sdf = self._read_parquet(paths)
            if len(dkeys) <= self._SIDECAR_ISIN_MAX:
                sdf = sdf.where(F.col("dkey").isin(dkeys))
            else:
                # at 10^5 live directories an isin literal list bloats
                # the plan; a broadcast semi-join against the dkey set
                # keeps the filter O(1) in plan size and still
                # evaluates map-side
                live_df = self.spark.createDataFrame(
                    [(d,) for d in dkeys], "dkey string"
                )
                sdf = sdf.join(F.broadcast(live_df), "dkey", "left_semi")
            dtypes = dict(sdf.dtypes)
            keep = F.lit(True)
            for col, lo, hi in file_ranges:
                if f"mn_{col}" not in dtypes:
                    continue
                dt = dtypes[f"mn_{col}"]
                lo_ok = lo is not None and dt in self._SIDECAR_COMPAT.get(
                    type(lo), frozenset()
                )
                hi_ok = hi is not None and dt in self._SIDECAR_COMPAT.get(
                    type(hi), frozenset()
                )
                if lo is not None and not lo_ok:
                    # the inline path evaluates `mx < lo` FIRST; an
                    # incomparable lo raises there -> whole range
                    # inconclusive regardless of hi
                    continue
                mn, mx = F.col(f"mn_{col}"), F.col(f"mx_{col}")
                term = mx < F.lit(lo) if lo_ok else None
                if hi_ok:
                    hterm = mn > F.lit(hi)
                    term = hterm if term is None else (term | hterm)
                if term is None:
                    continue  # both sides unbounded or incomparable
                disjoint = F.when(
                    mn.isNull() | mx.isNull(), F.lit(False)
                ).otherwise(term)
                keep = keep & ~disjoint
            for col, value in points.items():
                if f"bl_{col}" not in dtypes:
                    continue
                present = F.lit(False)
                for v in _point_values(value):
                    member = F.lit(True)
                    for pos in _bloom_probe_positions(v, g_bits):
                        member = member & F.array_contains(
                            F.col(f"bl_{col}"), pos
                        )
                    present = present | member
                keep = keep & present
            # Two bounded fetches instead of one collect of per-dkey
            # name ARRAYS: a single ultra-wide directory (10^5+
            # surviving files) would otherwise land on the driver as
            # one giant array row.  Totals are O(directories);
            # survivors come back as individual (dkey, fname) ROWS in
            # one job -- exactly the data the caller materializes in
            # ``out`` anyway (it enumerates scan paths), so the
            # driver-memory shape is output-sized either way, just
            # never concentrated in single rows.  (A toLocalIterator
            # variant was measured 2x slower here: it schedules one
            # job per partition, and sidecar scans are job-latency
            # bound, not data bound.)
            totals = (
                sdf.select("dkey")
                .groupBy("dkey")
                .agg(F.count(F.lit(1)).alias("__total"))
                .collect()
            )
            acc: dict[str, list[str]] = {r["dkey"]: [] for r in totals}
            for row in sdf.where(keep).select("dkey", "fname").collect():
                acc[row["dkey"]].append(row["fname"])
            for r in totals:
                # sorted() on ASCII file names == the previous
                # sort_array ordering (binary collation)
                out[r["dkey"]] = (int(r["__total"]), sorted(acc[r["dkey"]]))
        return out

    def resolve_as_of_ts(self, ts_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution (Iceberg/Delta parity): the
        newest PUBLISHED version whose commit time is <= ``ts_ms``
        (epoch millis).  Staged (WAP/branch) snapshots are not table
        state and never resolve.  Raises when ``ts_ms`` predates the
        oldest retained commit -- ambiguous after retention, same
        refusal Iceberg gives.  O(retained versions) manifest-header
        reads, no data touched."""
        best: int | None = None
        for v in self.versions():
            raw = self._read_manifest_raw(v)
            if raw.get("staged") is not None:
                continue
            if int(raw["committed_at_ms"]) <= ts_ms and (
                best is None or v > best
            ):
                best = v
        if best is None:
            raise ValueError(
                f"no published snapshot at or before ts {ts_ms} under "
                f"{self.root} (oldest retained commit is newer, or the "
                "table is empty)"
            )
        return best

    def read(
        self,
        as_of: int | None = None,
        partitions: list[str] | None = None,
        range_filter: tuple | list[tuple] | None = None,
        point_filter: dict | None = None,
        ref: str | None = None,
        with_positions: bool = False,
        as_of_ts: int | None = None,
    ) -> DataFrame:
        """Scan one snapshot (latest, time-travel to ``as_of``, a
        commit-time instant via ``as_of_ts`` epoch-millis, or a named
        tag via ``ref`` -- the three selectors are mutually exclusive);
        ``partitions`` restricts to the given relative partition dirs
        (manifest-level pruning -- the scan never lists the others).

        ``with_positions``: additionally expose ``_file`` (data-root-
        relative file path) and ``_pos`` (file-local row index, from
        parquet's generated ``_metadata`` column) -- the row handles
        :meth:`delete_positions` consumes.  Zero extra scan cost
        (metadata columns are generated, not read).

        Schema evolution (:meth:`evolve_schema`) is resolved here: every
        directory's frame is mapped to the snapshot's epoch by FIELD ID
        -- renamed columns read under their current name, dropped
        columns never surface, widened columns are cast -- and time
        travel to an older ``as_of`` returns THAT epoch's names/types
        (each manifest carries its own schema log).

        ``range_filter`` -- one ``(col, lo, hi)`` tuple or a LIST of
        them (conjunctive) -- additionally SKIPS every data directory
        AND every individual file whose recorded zone map
        (``stats_cols`` at write time) is provably disjoint from any of
        the ranges -- directories/files without stats are read (sound)
        -- and applies the exact ANDed filter on top.

        ``point_filter`` -- ``{col: value}`` equality predicates; a
        LIST/tuple/set value is an IN-list (one pruned read for a batch
        of keys: partition segments keep any member's dir, blooms skip
        a file only when EVERY member is provably absent, and the exact
        ``isin`` applies on top; an empty list is provably no rows).
        Scalars skip files via the per-file bloom filters
        (``bloom_cols`` at write time; see :meth:`plan_files`) with
        the exact equality applied on top, so bloom false positives
        never reach the result."""
        if sum(x is not None for x in (as_of, ref, as_of_ts)) > 1:
            raise ValueError("pass at most one of as_of / ref / as_of_ts")
        if ref is not None:
            as_of = self.resolve_ref(ref)
        elif as_of_ts is not None:
            as_of = self.resolve_as_of_ts(as_of_ts)
        version = self.current_version() if as_of is None else as_of
        if version is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        points = dict(point_filter or {})
        manifest, units, _, _ = self.plan_files(
            as_of=version,
            partitions=partitions,
            range_filter=range_filter,
            point_filter=points,
        )
        # Drop partitions whose every stats-bearing file was pruned, and
        # dirs left empty by that.
        units = {
            vd: {p: fs for p, fs in parts.items() if fs is None or fs}
            for vd, parts in units.items()
        }
        by_vdir = {vd: parts for vd, parts in units.items() if parts}
        if not manifest["partitions"] and manifest.get("schema"):
            # Committed-but-empty snapshot (reachable: a CDC batch whose
            # deletes empty every partition commits a zero-partition
            # manifest via claimed_partitions).  Serve the persisted
            # schema as an empty frame -- raising here would wedge the
            # CDC stream's next merge permanently.
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(json.loads(manifest["schema"]))
            empty = self.spark.createDataFrame([], schema)
            if with_positions:
                empty = empty.withColumns(
                    {
                        "_file": F.lit(None).cast("string"),
                        "_pos": F.lit(None).cast("bigint"),
                    }
                )
            return empty
        ranges = self._normalize_ranges(range_filter)
        if not by_vdir:
            if (ranges or points) and manifest["partitions"]:
                # Everything zone-map-pruned (whole dirs or every
                # stats-bearing file): an empty frame with the table's
                # schema (scan one live dir, keep no rows).
                first_part, first_vdirs = next(iter(manifest["partitions"].items()))
                by_vdir = {first_vdirs[0]: {first_part: None}}
                from pyspark.sql import functions as F

                df = self._scan(
                    by_vdir,
                    schema_log=manifest.get("schema_log"),
                    with_positions=with_positions,
                )
                return self._retype_void_columns(
                    df.where(F.lit(False)), manifest
                )
            raise ValueError(
                f"no matching partitions in snapshot v{version} under {self.root}"
            )
        df = self._scan(
            by_vdir,
            delete_sets=manifest.get("delete_sets"),
            schema_log=manifest.get("schema_log"),
            with_positions=with_positions,
        )
        if ranges or points:
            from pyspark.sql import functions as F

            for col, lo, hi in ranges:
                if lo is not None:
                    df = df.where(F.col(col) >= lo)
                if hi is not None:
                    df = df.where(F.col(col) <= hi)
            for col, value in points.items():
                if isinstance(value, (list, tuple, set, frozenset)):
                    vs = list(value)
                    df = df.where(
                        F.col(col).isin(*vs) if vs else F.lit(False)
                    )
                else:
                    df = df.where(F.col(col) == value)
        return self._retype_void_columns(df, manifest)

    def metadata_table(
        self, kind: str, as_of: int | None = None
    ) -> DataFrame:
        """Inspection tables (Iceberg's ``db.table.snapshots`` /
        ``.partitions`` / ``.files`` metadata-table surface) as
        DataFrames, answered from manifests -- no data scan.

         * ``snapshots``: one row per RETAINED version -- version,
           parent, mode, committed_at_ms, staged (WAP id or null),
           is_published.
         * ``partitions``: live partitions of the resolved snapshot --
           partition, n_dirs, n_rows.  ``n_rows`` is exact when
           provable from metadata (every live dir carries a recorded
           row count and no merge-on-read delete set is live -- the
           :meth:`count_rows` rule) and NULL otherwise, never a guess.
         * ``files``: one row per live data file -- partition, vdir,
           file.  File names come from recorded per-file stats where
           present (zero IO) and a directory listing otherwise.
         * ``column_stats``: one row per table column -- type,
           table-level min/max (string-rendered; emitted ONLY when
           every live directory carries usable bounds for the column,
           the lifted-soundness rule), whether a bloom is recorded,
           and the HLL NDV estimate (``write(ndv_cols=...)``; NULL
           where no sketch is live).

        Driver-side cost: O(retained versions) manifest headers for
        ``snapshots``; one resolved manifest (+ listings for
        stats-less dirs in ``files``) for the rest -- the inspection
        path never grows with table data."""
        from pyspark.sql import functions as F  # noqa: F401
        from pyspark.sql import types as T

        if kind == "snapshots":
            rows = []
            for v in self.versions():
                raw = self._read_manifest_raw(v)
                rows.append(
                    (
                        v,
                        raw.get("parent"),
                        raw["mode"],
                        int(raw["committed_at_ms"]),
                        raw.get("staged"),
                        raw.get("staged") is None,
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "version BIGINT, parent BIGINT, mode STRING, "
                "committed_at_ms BIGINT, staged STRING, "
                "is_published BOOLEAN",
            )

        version = self.current_version() if as_of is None else as_of
        if version is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        manifest = self._read_manifest(version)

        if kind == "partitions":
            deletes_live = bool(manifest.get("delete_sets"))
            dir_rows = manifest.get("dir_rows", {})
            dir_bytes = manifest.get("dir_bytes", {})
            rows = []
            for part, vdirs in sorted(manifest["partitions"].items()):
                counts = [
                    dir_rows.get(f"{vd}/{part}" if part else vd)
                    for vd in vdirs
                ]
                n = (
                    None
                    if deletes_live or any(c is None for c in counts)
                    else sum(counts)
                )
                sizes = [
                    dir_bytes.get(f"{vd}/{part}" if part else vd)
                    for vd in vdirs
                ]
                # PHYSICAL bytes: live MoR masks don't shrink them, so
                # no deletes_live gate (count_bytes semantics)
                b = (
                    None
                    if any(s is None for s in sizes)
                    else sum(sizes)
                )
                rows.append((part, len(vdirs), n, b))
            return self.spark.createDataFrame(
                rows,
                "partition STRING, n_dirs INT, n_rows BIGINT, "
                "n_bytes BIGINT",
            )

        if kind == "files":
            fstats = manifest.get("file_stats", {})
            by_dkey: dict[str, list[str]] = {}
            for fkey in fstats:
                d, _, fname = fkey.rpartition("/")
                by_dkey.setdefault(d, []).append(fname)
            rows = []
            base = f"{self.root.rstrip('/')}/{DATA_DIR}"
            for part, vdirs in sorted(manifest["partitions"].items()):
                for vd in vdirs:
                    dkey = f"{vd}/{part}" if part else vd
                    names = by_dkey.get(dkey)
                    if names is None:
                        names = [
                            e.name
                            for e in list_entries(
                                self.spark, f"{base}/{dkey}"
                            )
                            if e.name.endswith(".parquet")
                        ]
                    rows.extend((part, vd, n) for n in sorted(names))
            schema = T.StructType(
                [
                    T.StructField("partition", T.StringType()),
                    T.StructField("vdir", T.StringType()),
                    T.StructField("file", T.StringType()),
                ]
            )
            return self.spark.createDataFrame(rows, schema)

        if kind == "column_stats":
            # one row per table column: the statistics surface the
            # ANALYZE-less planners consume -- table-level zone-map
            # bounds folded over the live directory stats, whether a
            # bloom is recorded, and the HLL NDV estimate (None where
            # the column carries no sketch).  Iceberg analog:
            # the manifests' column-stats view.
            ts = manifest.get("table_stats") or {}
            col_ndv = ts.get("col_ndv", {})
            dstats = manifest.get("dir_stats", {})
            n_live = sum(
                len(vds) for vds in manifest["partitions"].values()
            )
            # bounds are TABLE-level only when EVERY live dir carries
            # usable bounds for the column (the same lifted-soundness
            # rule the shard aggregates use) -- a partial fold over
            # stats-bearing dirs would misreport the table's range
            bounds: dict[str, list] = {}
            for _dkey, cols in dstats.items():
                for c, (mn, mx) in cols.items():
                    cur = bounds.setdefault(c, [None, None, True, 0])
                    cur[3] += 1
                    try:
                        if mn is None or mx is None:
                            raise TypeError
                        if cur[0] is None or mn < cur[0]:
                            cur[0] = mn
                        if cur[1] is None or mx > cur[1]:
                            cur[1] = mx
                    except TypeError:
                        cur[2] = False  # unusable bounds somewhere
            rows = []
            for f in json.loads(manifest["schema"])["fields"]:
                name = f["name"]
                b = bounds.get(name)
                usable = b is not None and b[2] and b[3] == n_live
                ndv_sk = col_ndv.get(name)
                rows.append(
                    (
                        name,
                        str(_ddl_type(f["type"])),
                        str(b[0]) if usable and b[0] is not None else None,
                        str(b[1]) if usable and b[1] is not None else None,
                        name in (ts.get("bloom_cols") or []),
                        self.column_ndv(name, as_of=version)
                        if ndv_sk is not None
                        else None,
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "column STRING, type STRING, min STRING, max STRING, "
                "has_bloom BOOLEAN, ndv_estimate BIGINT",
            )

        raise ValueError(
            f"unknown metadata table {kind!r}: pick from "
            "'snapshots', 'partitions', 'files', 'column_stats'"
        )

    def _merged_ndv_sketches(
        self, df: DataFrame, cols: list[str], prev: dict | None
    ) -> dict:
        """Base64 HLL sketch per column for the batch, unioned with the
        parent's sketches (one O(batch) agg + one 1-row merge job; the
        merge is metadata-plane).  Values sketch in STRING form so every
        column type hashes uniformly and append-side and planner-side
        agree byte-for-byte."""
        from pyspark.sql import functions as F

        missing = sorted(set(cols) - set(df.columns))
        if missing:
            raise ValueError(f"ndv_cols {missing} not in the written frame")
        batch = df.agg(
            *[
                F.base64(
                    F.hll_sketch_agg(F.col(c).cast("string"))
                ).alias(c)
                for c in cols
            ]
        ).collect()[0]
        out = dict(prev or {})
        merges = []
        for c in cols:
            if batch[c] is None:
                continue  # empty batch: keep the parent sketch
            if c in out:
                merges.append(
                    F.base64(
                        F.hll_union(
                            F.unbase64(F.lit(out[c])),
                            F.unbase64(F.lit(batch[c])),
                        )
                    ).alias(c)
                )
            else:
                out[c] = batch[c]
        if merges:
            merged = self.spark.range(1).select(*merges).collect()[0]
            for c in merged.asDict():
                out[c] = merged[c]
        return out

    def column_ndv(self, col: str, as_of: int | None = None) -> int | None:
        """Estimated DISTINCT COUNT of ``col`` from the manifest's HLL
        sketch (``write(ndv_cols=...)``) -- no data scan, one 1-row
        estimate job.  None when the table carries no sketch for the
        column.  After partition overwrites the estimate is an upper
        bound (see the ``ndv_cols`` doc)."""
        from pyspark.sql import functions as F

        version = self.current_version() if as_of is None else as_of
        if version is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        sk = (
            (self._read_manifest(version).get("table_stats") or {})
            .get("col_ndv", {})
            .get(col)
        )
        if sk is None:
            return None
        return int(
            self.spark.range(1)
            .select(F.hll_sketch_estimate(F.unbase64(F.lit(sk))))
            .collect()[0][0]
        )

    def count_rows(
        self, as_of: int | None = None, partitions: list[str] | None = None
    ) -> int | None:
        """COUNT(*) answered from MANIFEST METADATA -- zero data scan
        (Iceberg answers SELECT COUNT(*) from its manifests the same
        way).  Row counts are recorded per directory by the write-time
        stats scan (any ``stats_cols``/``bloom_cols`` write).  Returns
        None -- "fall back to a real scan" -- when the answer cannot be
        proven exact from metadata alone: a live directory without a
        recorded count, or live merge-on-read delete sets (the masked
        rows are not knowable without reading)."""
        version = self.current_version() if as_of is None else as_of
        if version is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        manifest = self._read_manifest_pruned(version, partitions=partitions)
        if manifest.get("delete_sets"):
            return None
        if partitions is not None:
            unknown = set(partitions) - set(manifest["partitions"])
            if unknown:
                # a typo'd selector must not read as "0 rows, proven":
                # mirror read()'s no-matching-partitions refusal
                raise ValueError(
                    f"no such partitions in snapshot v{version}: "
                    f"{sorted(unknown)}"
                )
        rows = manifest.get("dir_rows", {})
        total = 0
        for part, vdirs in manifest["partitions"].items():
            if partitions is not None and part not in partitions:
                continue
            for vd in vdirs:
                n = rows.get(f"{vd}/{part}" if part else vd)
                if n is None:
                    return None
                total += int(n)
        return total

    def count_bytes(
        self, as_of: int | None = None, partitions: list[str] | None = None
    ) -> int | None:
        """Total live data-file BYTES answered from manifest metadata
        (``dir_bytes``, recorded by every write from a listing of the
        just-written files -- no stats scan required).  PHYSICAL bytes:
        live merge-on-read delete sets do NOT make the answer unknown
        (masked rows still occupy their file bytes), so the result is
        an UPPER BOUND on any masked read -- the safe direction for
        broadcast sizing (:mod:`..plans.join_stats`).  Returns None
        when a live directory predates byte recording (round-12
        manifests) -- callers fall back to row counts."""
        version = self.current_version() if as_of is None else as_of
        if version is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        manifest = self._read_manifest_pruned(version, partitions=partitions)
        if partitions is not None:
            unknown = set(partitions) - set(manifest["partitions"])
            if unknown:
                raise ValueError(
                    f"no such partitions in snapshot v{version}: "
                    f"{sorted(unknown)}"
                )
        sizes = manifest.get("dir_bytes", {})
        total = 0
        for part, vdirs in manifest["partitions"].items():
            if partitions is not None and part not in partitions:
                continue
            for vd in vdirs:
                b = sizes.get(f"{vd}/{part}" if part else vd)
                if b is None:
                    return None
                total += int(b)
        return total

    def commit_modes(
        self, since_version: int, as_of: int | None = None
    ) -> dict[int, str | None]:
        """Commit modes of the published window ``(since_version,
        as_of]`` (default head) -- ``None`` for versions lost to
        retention; staged (WAP) commits are omitted (not table state).
        Lets incremental consumers (:class:`~..matview.IncrementalMatView`,
        custom CDC readers) decide delta-vs-full from metadata alone:
        O(window) manifest reads, no data touched."""
        head = self.current_version() if as_of is None else as_of
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        if since_version > head:
            raise ValueError(f"since_version {since_version} > head {head}")
        committed = set(self.versions())
        out: dict[int, str | None] = {}
        for v in range(since_version + 1, head + 1):
            if v not in committed:
                out[v] = None
                continue
            raw = self._read_manifest_raw(v)
            if raw.get("staged") is not None:
                continue
            out[v] = raw["mode"]
        return out

    def read_appends(
        self, since_version: int, as_of: int | None = None
    ) -> DataFrame:
        """INCREMENTAL consumption: the rows appended strictly AFTER
        ``since_version`` up to ``as_of`` (default head) -- the Iceberg
        incremental-append scan.  Scans only the data directories those
        commits wrote (cost ~ new data, not table size), with
        merge-on-read deletes newer than each directory applied as in
        :meth:`read`.

        Exactness contract: every commit in the window must be
        ``append`` or ``delete_keys`` -- a replace (snapshot /
        overwrite_partitions / compaction / rollback) rewrites rows
        that would then be re-emitted as if new, so the method refuses
        loudly instead of double-delivering (the same refusal Iceberg's
        incremental scan gives across replace snapshots)."""
        head = self.current_version() if as_of is None else as_of
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        if since_version > head:
            raise ValueError(f"since_version {since_version} > head {head}")
        committed = set(self.versions())
        for v in range(since_version + 1, head + 1):
            if v not in committed:
                # retention dropped part of the window (tag holes make
                # this the NORMAL lagging-consumer case) -- refuse with
                # guidance instead of surfacing a raw FileNotFound
                raise ValueError(
                    f"incremental read window lost v{v} to retention; "
                    "consume via snapshot_diff or restart from a full "
                    "read"
                )
            raw = self._read_manifest_raw(v)
            if raw.get("staged") is not None:
                # unpublished WAP/branch snapshots are not table state
                # (same rule as commit_modes): their dirs are absent
                # from the head's partition map, so an unpublished
                # staged full-replace inside the window must not trip
                # the replace refusal below -- publish_staged re-records
                # the mode on the publish commit, which IS in-window
                continue
            mode = raw["mode"]
            # evolve_schema is metadata-only (no rows added, none
            # rewritten), so it never causes re-delivery -- windows may
            # cross it; the appended rows come back in the HEAD epoch's
            # shape (the scan below maps by field id).
            if mode not in ("append", "delete_keys", "evolve_schema"):
                raise ValueError(
                    f"incremental read window crosses a '{mode}' commit "
                    f"(v{v}); consume via snapshot_diff or restart from "
                    "a full read"
                )
        manifest = self._read_manifest(head)
        by_vdir: dict[str, dict[str, list | None]] = {}
        for part, vdirs in manifest["partitions"].items():
            for vd in vdirs:
                if since_version < _vdir_version(vd) <= head:
                    by_vdir.setdefault(vd, {})[part] = None
        if not by_vdir:
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(json.loads(manifest["schema"]))
            return self.spark.createDataFrame([], schema)
        return self._retype_void_columns(
            self._scan(
                by_vdir,
                delete_sets=manifest.get("delete_sets"),
                schema_log=manifest.get("schema_log"),
            ),
            manifest,
        )

    def read_changes(
        self, since_version: int, as_of: int | None = None
    ) -> DataFrame:
        """CHANGELOG read (Iceberg ``create_changelog_view`` / Delta
        change-data-feed parity): every row-level change committed in
        the published window ``(since_version, as_of]``, as table rows
        plus ``_change_type`` (``'insert'`` | ``'delete'``) and
        ``_commit_version``.  ``since_version=-1`` starts from the
        table's first commit.  Updates surface as delete+insert pairs
        (Iceberg's default changelog semantics without identifier-field
        pairing); staged (WAP/branch) commits are not table state and
        emit nothing until their publish commit, where exactly the
        published effect surfaces.

        Changes are computed from MANIFEST DIFFS, never a state diff:

         * directories added by a commit -> their rows as inserts
           (same-commit merge-on-read deletes already applied); a WAP
           publish replays its staged chain as one published commit per
           staged commit, and each emits its own effect at its own
           publish version -- exactly the states time travel sees;
         * directories dropped -> their v-1-VISIBLE rows as deletes;
         * merge-on-read delete sets added -> the masked pre-image rows
           as deletes (equality sets: pre-image join pruned to the
           keys' partitions when the key columns carry the partition
           spec, the :meth:`_delete_may_target` probe rule; positional
           sets: only the recorded target dirs are scanned);
         * delete sets REMOVED while their target dirs survive (a
           rollback across a delete) -> the reappearing rows as
           inserts;
         * compaction commits emit nothing (data-identical by
           construction -- same as OPTIMIZE under Delta CDF).

        Cost: O(commit delta) for appends and merge-on-read deletes,
        O(touched partitions) for partition overwrites, O(table) only
        across full-replace commits (``snapshot`` mode) -- inherent,
        the changes ARE the table.  Windows crossing an
        ``evolve_schema`` commit are refused (pre-images before the
        evolution carry that epoch's shape; consume each epoch as its
        own window).  Retention holes refuse exactly like
        :meth:`read_appends`."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        head = self.current_version() if as_of is None else as_of
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        if since_version > head:
            raise ValueError(f"since_version {since_version} > head {head}")
        committed = set(self.versions())
        window: list[int] = []
        for v in range(since_version + 1, head + 1):
            if v not in committed:
                raise ValueError(
                    f"changelog window lost v{v} to retention; consume "
                    "via snapshot_diff or restart from a full read"
                )
            raw = self._read_manifest_raw(v)
            if raw.get("staged") is not None:
                continue
            if raw["mode"] == "evolve_schema":
                raise ValueError(
                    f"changelog window crosses an 'evolve_schema' commit "
                    f"(v{v}); pre-images before it carry that epoch's "
                    "shape -- read each epoch as its own window"
                )
            window.append(v)

        head_manifest = self._read_manifest(head)
        cols = [
            f["name"]
            for f in json.loads(head_manifest["schema"])["fields"]
        ]
        base_root = f"{self.root.rstrip('/')}/{DATA_DIR}"

        head_types = {
            f.name: f.dataType
            for f in T.StructType.fromJson(
                json.loads(head_manifest["schema"])
            )
        }

        def _mark(df: DataFrame, kind: str, v: int) -> DataFrame:
            # columns added by a later additive append null-fill for
            # directories written before them (read()'s
            # allowMissingColumns semantics, applied per emission)
            for c in cols:
                if c not in df.columns:
                    df = df.withColumn(
                        c, F.lit(None).cast(head_types[c])
                    )
            return df.select(*cols).withColumns(
                {
                    "_change_type": F.lit(kind),
                    "_commit_version": F.lit(v).cast("bigint"),
                }
            )

        def _pairs(manifest: dict) -> set:
            return {
                (vd, part)
                for part, vds in manifest["partitions"].items()
                for vd in vds
            }

        def _by_vdir(pairs: set) -> dict:
            out: dict[str, dict[str, None]] = {}
            for vd, part in pairs:
                out.setdefault(vd, {})[part] = None
            return out

        def _eq_preimage(
            entry: dict,
            state_v: int,
            m_state: dict,
            m_of: dict,
            pairs: set | None = None,
        ) -> DataFrame | None:
            """Rows VISIBLE at ``state_v`` (manifest ``m_state``) that an
            equality set masks/unmasks, pruned to the keys' partitions
            when provable.  ``m_of`` is the manifest whose schema log
            epoch-maps the key frame.  ``pairs`` restricts the state
            scan to explicit (vdir, partition) pairs (the rollback
            reappearance arm: only dirs OLDER than the dropped set can
            hold reappearing rows)."""
            keys = self._xform_delete(m_of.get("schema_log"))(
                self._read_parquet([f"{base_root}/{entry['dir']}"]),
                int(entry.get("frame_version", entry["version"])),
            )
            key_cols = list(keys.columns)
            if pairs is not None:
                state = self._scan(
                    _by_vdir(pairs),
                    delete_sets=m_state.get("delete_sets"),
                    schema_log=m_state.get("schema_log"),
                )
            else:
                pby = m_state["partition_by"]
                parts = None
                if pby and all(c in key_cols for c in pby):
                    vals = (
                        keys.select(*pby)
                        .distinct()
                        .limit(self._DELETE_PROBE_MAX + 1)
                        .collect()
                    )
                    if len(vals) <= self._DELETE_PROBE_MAX:
                        dirs = {
                            _hive_partition_dir(
                                self.spark, pby, tuple(r[c] for c in pby)
                            )
                            for r in vals
                        } & set(m_state["partitions"])
                        if not dirs:
                            return None
                        parts = sorted(dirs)
                state = self.read(as_of=state_v, partitions=parts)
            return state.join(
                F.broadcast(keys.dropDuplicates()),
                on=key_cols,
                how="left_semi",
            )

        def _pos_image(
            entry: dict, state_v: int, m_state: dict
        ) -> DataFrame | None:
            """Rows VISIBLE at ``state_v`` that a positional set names:
            only the recorded target dirs are scanned."""
            live = _pairs(m_state)
            pairs = {
                (vd, part)
                for vd, part in live
                if vd in set(entry.get("vdirs", []))
            }
            if not pairs:
                return None
            pos = self._read_parquet([f"{base_root}/{entry['dir']}"])
            img = self._scan(
                _by_vdir(pairs),
                delete_sets=m_state.get("delete_sets"),
                schema_log=m_state.get("schema_log"),
                with_positions=True,
            )
            return img.join(
                F.broadcast(pos.dropDuplicates()),
                on=["_file", "_pos"],
                how="left_semi",
            ).drop("_file", "_pos")

        # The previous STATE of each window commit is the nearest older
        # PUBLISHED version -- staged (WAP/branch) manifests are not
        # table state and must never serve as the diff base (a publish
        # commit diffs against the pre-stage head, not the stage chain).
        def _prev_published(before: int) -> int | None:
            for p in range(before - 1, -1, -1):
                if p not in committed:
                    raise ValueError(
                        f"changelog window lost v{p} to retention; "
                        "consume via snapshot_diff or restart from a "
                        "full read"
                    )
                if self._read_manifest_raw(p).get("staged") is None:
                    return p
            return None

        out: list[DataFrame] = []
        prev_v = _prev_published(window[0]) if window else None
        for v in window:
            m_v = self._read_manifest(v)
            base_v = prev_v  # published predecessor of THIS commit
            if base_v is None:
                m_prev: dict = {
                    "partitions": {},
                    "partition_by": m_v["partition_by"],
                    "delete_sets": [],
                }
            else:
                m_prev = self._read_manifest(base_v)
            prev_v = v
            if m_v.get("metadata", {}).get("compaction"):
                continue  # data-identical rewrite: net-zero changes
            pairs_v, pairs_prev = _pairs(m_v), _pairs(m_prev)
            added, removed = pairs_v - pairs_prev, pairs_prev - pairs_v
            sets_v = {
                d["dir"]: d for d in (m_v.get("delete_sets") or [])
            }
            sets_prev = {
                d["dir"]: d for d in (m_prev.get("delete_sets") or [])
            }
            if added:
                out.append(
                    _mark(
                        self._scan(
                            _by_vdir(added),
                            delete_sets=m_v.get("delete_sets"),
                            schema_log=m_v.get("schema_log"),
                        ),
                        "insert",
                        v,
                    )
                )
            if removed:
                out.append(
                    _mark(
                        self._scan(
                            _by_vdir(removed),
                            delete_sets=m_prev.get("delete_sets"),
                            schema_log=m_prev.get("schema_log"),
                        ),
                        "delete",
                        v,
                    )
                )
            for dkey, entry in sets_v.items():
                if dkey in sets_prev or base_v is None:
                    continue
                img = (
                    _pos_image(entry, base_v, m_prev)
                    if entry.get("kind") == "positional"
                    else _eq_preimage(entry, base_v, m_prev, m_v)
                )
                if img is not None:
                    out.append(_mark(img, "delete", v))
            for dkey, entry in sets_prev.items():
                if dkey in sets_v:
                    continue
                # set dropped while (some) target dirs survive: only a
                # rollback across the delete -- masked rows reappear.
                # Restrict to dirs the set could mask (older than it).
                survivors = {
                    (vd, part)
                    for vd, part in pairs_v
                    if _vdir_version(vd) < int(entry["version"])
                }
                if not survivors:
                    continue
                if entry.get("kind") == "positional":
                    img = _pos_image(entry, v, m_v)
                else:
                    img = _eq_preimage(
                        entry, v, m_v, m_prev, pairs=survivors
                    )
                if img is not None:
                    out.append(_mark(img, "insert", v))

        if not out:
            schema = T.StructType.fromJson(
                json.loads(head_manifest["schema"])
            )
            empty = self.spark.createDataFrame([], schema)
            return _mark(empty.where(F.lit(False)), "insert", 0).where(
                F.lit(False)
            )
        res = out[0]
        for df in out[1:]:
            res = res.unionByName(df)
        return res

    def _retype_void_columns(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Manifest-aware output normalization, applied by every read
        path.  (1) HIDDEN PARTITIONING: derived transform columns
        (``partition_transforms``) are routing, not table schema --
        they surface from the path-based partition derivation and are
        dropped here, so readers never see them.  (2) Subset scans
        covering ONLY the Hive default (NULL) partition dir make Spark
        infer the partition column as VOID -- there is no value to
        infer a type from.  Re-type such columns from the manifest's
        recorded table schema (a cast of all-NULL values: lossless by
        construction).  Columns with a REAL inferred type are left
        alone, so incompatible type changes still fail loudly at
        analysis rather than being papered over."""
        hidden = [
            c
            for c in (manifest.get("partition_transforms") or {})
            if c in df.columns
        ]
        if hidden:
            df = df.drop(*hidden)
        void_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "void"}
        if not void_cols or not manifest.get("schema"):
            return df
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        recorded = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(manifest["schema"]))
        }
        return df.select(
            *[
                F.col(c).cast(recorded[c]).alias(c)
                if c in void_cols and c in recorded
                else F.col(c)
                for c in df.columns
            ]
        )

    @staticmethod
    def _field_xform(df: DataFrame, schema_log: list | None, w: int) -> DataFrame:
        """Map a frame read from a directory written at version ``w``
        to the CURRENT schema epoch by field id: project out dropped
        fields' physical columns (so a reused name never surfaces dead
        data), rename stored names to current names, and cast any
        log-tracked column whose physical type is a lossless promotion
        away from the evolved type (pre-widen files, or narrower frames
        appended after a widen).  Tables that never evolved
        (``schema_log`` empty) pass through untouched -- today's
        by-name union semantics."""
        if not schema_log:
            return df
        from pyspark.sql import functions as F

        cur = {int(f["id"]): f for f in schema_log[-1]["fields"]}
        epoch = _epoch_fields(schema_log, w)
        cols = set(df.columns)
        dead = [nm for fid, nm in epoch.items() if fid not in cur and nm in cols]
        if dead:
            df = df.drop(*dead)
            cols -= set(dead)
        ren = {
            epoch[fid]: f["name"]
            for fid, f in cur.items()
            if fid in epoch and epoch[fid] != f["name"] and epoch[fid] in cols
        }
        if ren:
            df = df.withColumnsRenamed(ren)
        casts = {}
        for f in cur.values():
            nm, tp = f["name"], f["type"]
            if nm in df.columns and isinstance(tp, str):
                have = df.schema[nm].dataType.simpleString()
                if have != tp and _is_widening(have, tp):
                    casts[nm] = F.col(nm).cast(tp)
        if casts:
            df = df.withColumns(casts)
        return df

    def _scan(
        self,
        by_vdir: dict[str, dict[str, list[str] | None]],
        delete_sets: list | None = None,
        schema_log: list | None = None,
        with_positions: bool = False,
    ) -> DataFrame:
        """``by_vdir`` maps data dir -> {partition: files}; ``files``
        None scans the whole partition dir, an explicit list scans only
        those files (per-file zone-map pruning).  basePath anchoring
        keeps partition-column derivation identical either way.

        ``delete_sets`` (merge-on-read deletes, both kinds): each data
        dir is anti-joined against the union of the delete sets NEWER
        than it (sequence-number rule, see :meth:`delete_keys` /
        :meth:`delete_positions`) -- applied per dir, so data appended
        after a delete is never masked by it.  Equality sets join on
        key columns (epoch-mapped, so deletes keyed on a since-renamed
        column keep masking); positional sets join on the generated
        ``_metadata`` file path + row index, pre-filtered to the dir's
        own files.

        ``schema_log`` (field-id schema evolution): every dir's frame
        is mapped to the current epoch via :meth:`_field_xform` BEFORE
        deletes and the union, so renames/drops/widens are invisible to
        callers.

        ``with_positions``: expose ``_file`` (data-root-relative path)
        and ``_pos`` (file-local row index) on the result -- the
        handles :meth:`delete_positions` consumes."""
        from pyspark.sql import functions as F

        base_root = f"{self.root.rstrip('/')}/{DATA_DIR}"
        dsets = sorted(delete_sets or [], key=lambda d: int(d["version"]))
        eq_sets = [d for d in dsets if d.get("kind") != "positional"]
        pos_sets = [d for d in dsets if d.get("kind") == "positional"]
        # One frame per applicability CLASS (dirs older than delete i
        # share the suffix dsets[i:]), built lazily and reused.
        del_union_cache: dict[int, DataFrame] = {}
        pos_union_cache: dict[int, DataFrame] = {}

        def _newer_union(sets: list, cache: dict, w: int, xform) -> DataFrame | None:
            first = next(
                (i for i, d in enumerate(sets) if int(d["version"]) > w), None
            )
            if first is None:
                return None
            if first not in cache:
                frames = [
                    xform(
                        self._read_parquet([f"{base_root}/{d['dir']}"]),
                        int(d.get("frame_version", d["version"])),
                    )
                    for d in sets[first:]
                ]
                cache[first] = reduce(
                    lambda a, b: a.unionByName(b), frames
                ).dropDuplicates()
            return cache[first]

        def _pos_cols(scan: DataFrame) -> DataFrame:
            # data-root-relative file path: stable across store moves
            # and scheme qualification, matches delete_positions frames
            return scan.withColumns(
                {
                    "_file": F.substring_index(
                        F.col("_metadata.file_path"), f"/{DATA_DIR}/", -1
                    ),
                    "_pos": F.col("_metadata.row_index"),
                }
            )

        scans = []
        for vd, parts in sorted(by_vdir.items()):
            base = f"{base_root}/{vd}"
            paths: list[str] = []
            for part in sorted(parts):
                files = parts[part]
                dirp = base if part == "" else f"{base}/{part}"
                if files is None:
                    paths.append(dirp)
                else:
                    paths.extend(f"{dirp}/{f}" for f in sorted(files))
            scan = self._read_parquet(
                paths,
                base_path=base,
                declared=self._declared_dir_schema(vd, parts),
            )
            w = _vdir_version(vd)
            pdels = (
                _newer_union(pos_sets, pos_union_cache, w, lambda df, _v: df)
                if pos_sets
                else None
            )
            need_pos = with_positions or pdels is not None
            if need_pos:
                scan = _pos_cols(scan)
            scan = self._field_xform(scan, schema_log, w)
            if pdels is not None:
                # positions name explicit files; restrict the broadcast
                # side to this dir's prefix so the join stays tiny
                mine = pdels.where(F.col("_file").startswith(f"{vd}/"))
                scan = scan.join(
                    F.broadcast(mine), on=["_file", "_pos"], how="left_anti"
                )
            if not with_positions and need_pos:
                scan = scan.drop("_file", "_pos")
            dels = (
                _newer_union(eq_sets, del_union_cache, w, self._xform_delete(schema_log))
                if eq_sets
                else None
            )
            if dels is not None:
                for f in dels.schema.fields:
                    if f.name not in scan.columns:
                        # delete keyed on a column ADDED by schema
                        # evolution after this directory was written:
                        # its rows carry NULL there, and NULL never
                        # equals a delete key (the documented NULL-key
                        # semantics), so null-fill instead of letting
                        # the anti-join fail UNRESOLVED_USING_COLUMN
                        # and wedge every read of the table
                        scan = scan.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                scan = scan.join(
                    F.broadcast(dels), on=list(dels.columns), how="left_anti"
                )
            scans.append(scan)
        # allowMissingColumns = additive schema evolution: a snapshot
        # that added a column still reads together with directories
        # written before it (old rows null-fill the new column) -- the
        # same read-time widening a parquet mergeSchema scan performs.
        # Incompatible changes (type change on an existing name) still
        # fail loudly at analysis, which is the right outcome.
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), scans
        )

    @classmethod
    def _xform_delete(cls, schema_log: list | None):
        """Epoch-map an equality-delete FRAME like a data dir: a delete
        committed before a later rename/widen stores old names/types,
        and must keep masking under the current ones."""

        def xf(df: DataFrame, version: int) -> DataFrame:
            return cls._field_xform(df, schema_log, version)

        return xf

    # -- maintenance ------------------------------------------------------

    _ZORDER_NUMERIC = frozenset(
        ["tinyint", "smallint", "int", "bigint", "float", "double"]
    )

    def _zorder_layout(
        self,
        df: DataFrame,
        pby: list[str],
        cluster_by: list[str],
        target_rows_per_file: int | None,
    ) -> DataFrame:
        """Arrange a compaction rewrite on the Morton key of
        ``cluster_by``: linear min-max normalization of each dimension
        into the key's bit budget (ONE metadata-sized aggregate over the
        rewrite input -- order-preserving, so the layout key never
        affects what the re-recorded zone maps CLAIM, only which rows
        share a file), then one range shuffle + in-partition sort by
        (partition cols, z).  Skew concentrates rows on few z values in
        the worst case -- range partitioning still splits them by count,
        so file sizing holds; only pruning selectivity degrades."""
        import math

        from pyspark.sql import functions as F

        from .operators.zorder import zorder_value_n

        if len(cluster_by) < 2:
            raise ValueError(
                "cluster_by needs >= 2 columns; one-dimension clustering "
                "is a plain sort (pass it via a snapshot-mode rewrite)"
            )
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(f"cluster_by columns not in table: {missing}")

        def _num(c: str):
            s = df.schema[c].dataType.simpleString()
            if s in self._ZORDER_NUMERIC or s.startswith("decimal"):
                return F.col(c).cast("double")
            if s in ("timestamp", "timestamp_ntz"):
                return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
            if s == "date":
                return F.datediff(F.col(c), F.to_date(F.lit("1970-01-01"))).cast(
                    "double"
                )
            raise ValueError(
                f"cluster_by column {c!r} has non-orderable-numeric type {s}"
            )

        bits = min(16, 62 // len(cluster_by))
        top = (1 << bits) - 1
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cluster_by:
            aggs += [
                F.min(_num(c)).alias(f"__mn_{c}"),
                F.max(_num(c)).alias(f"__mx_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]  # single row: bounds + count
        n = int(row["__n"] or 0)
        if n == 0:
            return df
        dims = []
        for c in cluster_by:
            mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
            if mn is None or mx is None or mx <= mn:
                dims.append(F.lit(0).cast("long"))
                continue
            dims.append(
                F.coalesce(
                    F.least(
                        F.lit(top).cast("long"),
                        F.floor(
                            (_num(c) - F.lit(float(mn)))
                            / F.lit(float(mx) - float(mn))
                            * F.lit(float(top + 1))
                        ),
                    ),
                    F.lit(0).cast("long"),  # NULL dims cluster low
                )
            )
        df = df.withColumn("__z", zorder_value_n(dims, bits))
        keys = [F.col(c) for c in pby] + [F.col("__z")]
        if target_rows_per_file is not None and target_rows_per_file > 0:
            nparts = max(1, math.ceil(n / target_rows_per_file))
            df = df.repartitionByRange(nparts, *keys)
        else:
            df = df.repartitionByRange(*keys)  # session shuffle partitions
        return df.sortWithinPartitions(*keys).drop("__z")

    def compact(
        self,
        all_partitions: bool = False,
        target_rows_per_file: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """Rewrite fragmented partitions into single data directories --
        the OPTIMIZE/rewrite-data-files maintenance a table accumulating
        append / CDC commits needs (each append leaves every touched
        partition referencing one more directory; a streaming sink
        commits many small files per day).

        By default only partitions referenced by MORE THAN ONE data dir
        are rewritten (cost ~ fragmentation, not table size);
        ``all_partitions=True`` rewrites everything.  Returns the
        committed version, or None if nothing is fragmented.  Rows are
        unchanged; the rewrite clusters by the partition columns so each
        lands as one directory of full files.  Old directories stay
        readable (time travel) until :meth:`expire_snapshots`.

        ``target_rows_per_file`` (the Iceberg rewrite target-file-size
        knob, in rows): size each rewritten partition's output to
        ``ceil(rows / target)`` files instead of one file per input
        task -- the small-file fix AND the giant-file fix in one.
        Costs one counting aggregate over the partitions being
        rewritten (negligible next to the rewrite itself); files split
        by a hash salt, so the rewrite stays one shuffle.  Hash
        collisions can merge a pair of sub-target files, so the target
        bounds expected -- not worst-case -- rows per file.

        ``cluster_by`` (Delta/Iceberg ``ZORDER BY``): rewrite each
        partition Z-ORDERED on 2+ numeric columns -- their bits are
        interleaved into one Morton key (:mod:`..operators.zorder`),
        the rewrite range-partitions and sorts by it, and the re-recorded
        per-file zone maps then prune range scans on EVERY clustered
        dimension, not just a lead sort column.  Normalization is linear
        min-max into the key's per-dimension bit budget: one
        metadata-sized aggregate over the rewrite input, order-preserving
        (so zone-map pruning soundness is untouched -- stats are recorded
        from the actual data, the key only drives LAYOUT).  Still one
        shuffle: the range partitioning replaces the hash salt, and
        ``target_rows_per_file`` sizes the number of ranges.
        """
        head = self.current_version()
        if head is None:
            return None
        manifest = self._read_manifest(head)
        specs = _filled_dir_specs(manifest)
        cur = manifest["partition_by"]
        # After partition-spec evolution, old-spec partitions cannot be
        # safely re-pointed by an overwrite under the current spec
        # (their keys are not expressible) -- skip them here; a
        # ``snapshot``-mode rewrite normalizes the whole table.
        targets = [
            p
            for p, vdirs in manifest["partitions"].items()
            if (all_partitions or len(vdirs) > 1)
            and all(specs.get(vd, cur) == cur for vd in vdirs)
        ]
        if not targets:
            return None
        pby = manifest["partition_by"]
        df = self.read(partitions=targets)
        # hidden partitioning: re-materialize derived routing columns so
        # the layout/repartition below can address the physical spec
        trans = manifest.get("partition_transforms") or {}
        if trans:
            df = _apply_transforms(df, trans)
        if cluster_by:
            df = self._zorder_layout(df, pby, cluster_by, target_rows_per_file)
        elif target_rows_per_file is not None and target_rows_per_file > 0:
            from pyspark.sql import functions as F

            cols = [F.col(c) for c in df.columns]
            if pby:
                nf = df.groupBy(*pby).agg(
                    F.ceil(
                        F.count(F.lit(1)) / float(target_rows_per_file)
                    )
                    .cast("int")
                    .alias("__nf")
                )
                total = nf.agg(F.sum("__nf").alias("t")).collect()[0]["t"]
                if total:  # empty read-back (e.g. deletes masked all
                    # target rows): nothing to size, write as-is
                    df = (
                        df.join(F.broadcast(nf), pby)
                        .withColumn(
                            "__salt", F.pmod(F.xxhash64(*cols), F.col("__nf"))
                        )
                        .repartition(int(total), *pby, F.col("__salt"))
                        .drop("__nf", "__salt")
                    )
            else:
                import math

                total_rows = df.count()
                nfl = max(1, math.ceil(total_rows / target_rows_per_file))
                df = (
                    df.withColumn(
                        "__salt", F.pmod(F.xxhash64(*cols), F.lit(nfl))
                    )
                    .repartition(nfl, F.col("__salt"))
                    .drop("__salt")
                )
        elif pby:
            df = df.repartition(*pby)
        # Re-record the table's zone maps / blooms / row counts for the
        # rewritten dirs (config carried in the manifest): without this
        # a compaction would silently DEGRADE the table -- rewritten
        # partitions lose their pruning metadata.
        ts = manifest.get("table_stats") or {}
        return self.write(
            df,
            mode="overwrite_partitions",
            partition_by=pby,
            # compaction arranged its own layout above (spec clustering,
            # file-sizing salt, or z-order ranges) -- write() must not
            # rebalance it away on transform-spec tables
            _cluster_spec=False,
            # CLAIM every rewritten partition: one whose rows were all
            # masked by merge-on-read deletes writes back EMPTY and must
            # be dropped from the map, not left pointing at the old dir
            # -- otherwise the folded-in delete sets can never prune.
            claimed_partitions=list(targets),
            metadata={"compaction": True, "compacted": sorted(targets)},
            stats_cols=ts.get("stats_cols") or None,
            bloom_cols=ts.get("bloom_cols") or None,
            bloom_bits=ts.get("bloom_bits") or BLOOM_BITS,
            # compaction's input rows come only from the current-spec
            # partitions it re-points, so the mixed-spec shadowing
            # hazard the public guard blocks cannot arise here
            _mixed_spec_overwrite_ok=True,
        )

    # -- retention --------------------------------------------------------

    def expire_snapshots(
        self,
        keep_last: int = 10,
        orphan_grace_ms: int = 24 * 3600 * 1000,
        protected_waps: "frozenset[str] | set[str]" = frozenset(),
    ) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and every data
        directory no kept snapshot references -- the executed equivalent
        of the reference's ``write.metadata.previous-versions-max``
        retention (catalog.ICEBERG_WRITE_OPTIONS).  Also sweeps crashed
        commits (dangling manifest tmps, orphan data dirs).

        Concurrency: directories referenced by an EXPIRED manifest were
        committed history, so they are reclaimed immediately.  A data
        directory referenced by NO manifest is ambiguous -- it is either
        a crashed commit's orphan or an IN-FLIGHT commit that has
        written data but not yet renamed its manifest; sweeping the
        latter would let the writer still win the manifest race and
        commit a snapshot pointing at deleted files (silent data loss).
        Unreferenced dirs and dangling tmps are therefore only reclaimed
        when older than ``orphan_grace_ms`` (Iceberg's orphan-file age
        pattern; default 24 h).  The grace must exceed the longest
        possible write duration -- with that invariant this method is
        safe to run concurrently with writers.  ``orphan_grace_ms=0``
        reclaims everything immediately and is only safe with no
        in-flight writers.

        ``protected_waps``: staged snapshots carrying any of these wap
        ids are kept REGARDLESS of age.  Multi-table transactions need
        this: a claimed-but-unfinished transaction (live ``committing``
        WAL record) carries a roll-forward obligation on its stages,
        and a coordinator can legitimately stay claimed past any fixed
        grace -- use :func:`..transactions.expire_snapshots_txn_safe`,
        which derives the set from the coordinator's WAL, instead of
        calling this directly on tables that take transactional
        writes."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        now_ms = int(time.time() * 1000)
        vs = self.versions()
        # keep_last counts PUBLISHED history; unpublished staged (WAP)
        # snapshots are kept while younger than the orphan grace -- an
        # audit still in flight -- and expired with their data after it
        # (Iceberg expires abandoned staged snapshots by age the same
        # way).  Tagged versions are retention-proof (the Iceberg tag
        # contract): a tag pins its snapshot AND its data dirs past
        # keep_last, until the tag is deleted.
        staged_at = {
            v: (raw["committed_at_ms"], raw["staged"])
            for v in vs
            if (raw := self._read_manifest_raw(v)).get("staged") is not None
        }
        published = [v for v in vs if v not in staged_at]
        keep = (
            set(published[-keep_last:])
            | {v for v in self.tags().values() if v in vs}
            | {
                v
                for v, (at, wap) in staged_at.items()
                # strictly YOUNGER than the grace: with grace 0 ("no
                # in-flight writers" assertion) nothing is kept -- the
                # metadata plane can now finish a commit+expire inside
                # one millisecond, so an inclusive bound kept same-ms
                # stages that grace 0 must reclaim
                if now_ms - at < orphan_grace_ms or wap in protected_waps
            }
        )
        live_vdirs: set[str] = set()
        expired_vdirs: set[str] = set()
        live_sidecar_names: set[str] = set()
        expired_sidecar_names: set[str] = set()
        for v in vs:
            target = live_vdirs if v in keep else expired_vdirs
            m = self._read_manifest(v)
            for vdirs in m["partitions"].values():
                target.update(vdirs)
            # merge-on-read delete dirs are as live as the data they mask
            target.update(d["dir"] for d in m.get("delete_sets", []))
            # a stats sidecar lives as long as ANY kept manifest
            # references it (carry-forward can outlive the commit that
            # wrote it); referenced only by expired manifests ->
            # committed history, reclaimed with it (same rule as dirs)
            names = {
                s["path"].rsplit("/", 1)[-1]
                for s in m.get("file_stats_sidecars", [])
            }
            (live_sidecar_names if v in keep else expired_sidecar_names).update(
                names
            )
        expired_vdirs -= live_vdirs
        expired_sidecar_names -= live_sidecar_names
        # Any kept delta whose PARENT manifest is being dropped loses
        # its resolution chain -- tag holes and staged commits (whose
        # parent is the published head at stage time, not version-1)
        # both make the kept set non-contiguous -- so materialize every
        # such delta as a full checkpoint BEFORE deleting ancestors.
        if keep and any(v not in keep for v in vs):
            for v in sorted(keep):
                raw = self._read_manifest_raw(v)
                if (
                    raw.get("manifest_kind") == "delta"
                    and raw["parent"] not in keep
                ):
                    resolved = dict(self._read_manifest(v))
                    resolved["manifest_kind"] = "full"
                    self._replace_manifest(v, resolved)
        dropped_manifests = 0
        for v in vs:
            if v not in keep:
                delete_prefix(self.spark, self._manifest_path(v))
                dropped_manifests += 1
        mdir = f"{self.root.rstrip('/')}/{MANIFEST_DIR}"
        for e in list_entries(self.spark, mdir):
            aged = now_ms - e.mtime_ms >= orphan_grace_ms
            if e.name.endswith(".tmp") and aged:
                delete_file(self.spark, f"{mdir}/{e.name}")
        # Shard files: live iff a KEPT root references them (recomputed
        # AFTER delta materialization, which may have written fresh
        # shards).  Expired versions' shards reclaim with their root;
        # anything unreferenced (a replaced root's old shards, a crashed
        # commit's) is age-gated like an orphan data dir -- a reader
        # holding a pre-replace root can still finish inside the grace.
        live_shards = {
            s["file"]
            for v in keep
            for s in self._read_manifest_raw(v).get("partition_shards", [])
        }
        dropped_shards = 0
        shdir = f"{self.root.rstrip('/')}/{MANIFEST_DIR}/{SHARDS_SUBDIR}"
        for e in list_entries(self.spark, shdir):
            name = e.name
            if name in live_shards:
                continue
            aged = now_ms - e.mtime_ms >= orphan_grace_ms
            try:
                owner = int(name[1:].split("-", 1)[0])
            except ValueError:
                owner = None
            expired_owner = (
                owner is not None and owner in vs and owner not in keep
            )
            if expired_owner or aged:
                delete_file(self.spark, f"{shdir}/{name}")
                dropped_shards += 1
        dropped_data = 0
        droot = f"{self.root.rstrip('/')}/{DATA_DIR}"
        for e in list_entries(self.spark, droot):
            name = e.name
            if not e.is_dir or name in live_vdirs:
                continue
            # Expired-manifest dirs: committed, reclaim now.  True
            # orphans (referenced nowhere): age-gated, see above.
            aged = now_ms - e.mtime_ms >= orphan_grace_ms
            if name in expired_vdirs or aged:
                delete_prefix(self.spark, f"{droot}/{name}")
                dropped_data += 1
        # Stats sidecars unreferenced by every kept manifest: expired
        # history's sidecars reclaim with it immediately; a TRUE orphan
        # (referenced nowhere -- possibly an in-flight commit's sidecar
        # written before its manifest rename) is age-gated like an
        # orphan data dir.
        dropped_sidecars = 0
        sroot = f"{self.root.rstrip('/')}/{STATS_DIR}"
        for e in list_entries(self.spark, sroot):
            name = e.name
            if name in live_sidecar_names:
                continue
            aged = now_ms - e.mtime_ms >= orphan_grace_ms
            if name in expired_sidecar_names or aged:
                delete_prefix(self.spark, f"{sroot}/{name}")
                dropped_sidecars += 1
        return {
            "kept_versions": sorted(keep),
            "dropped_manifests": dropped_manifests,
            "dropped_data_dirs": dropped_data,
            "dropped_stats_sidecars": dropped_sidecars,
            "dropped_manifest_shards": dropped_shards,
        }


@dataclass
class SnapshotTableManager:
    """:class:`..storage.TableManager`-compatible facade over per-table
    snapshot logs: same ``write``/``read``/``read_partition`` surface,
    but every write is an atomic snapshot commit with time travel and
    retention -- the executed equivalent of running the reference's
    silver/gold on Iceberg tables (reference job_silver.py:174-178).
    Jobs select it with ``backend='snapshots'``.
    """

    spark: SparkSession
    warehouse: str

    def path(self, table: str) -> str:
        return f"{self.warehouse.rstrip('/')}/{table.replace('.', '/')}"

    def store(self, table: str) -> SnapshotStore:
        return SnapshotStore(self.spark, self.path(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite_partitions",
        sort_within_partitions: list[str] | None = None,
    ) -> str:
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        self.store(table).write(df, mode=mode, partition_by=partition_by)
        return self.path(table)

    def read(self, table: str, as_of: int | None = None) -> DataFrame:
        return self.store(table).read(as_of=as_of)

    def read_partition(self, table: str, **partition_values: str) -> DataFrame:
        df = self.read(table)
        for col, value in partition_values.items():
            df = df.filter(df[col] == value)
        return df

    # Maintenance / governance pass-throughs: jobs address tables by
    # name, the store methods do the work (see each for semantics).

    def tag(self, table: str, name: str, **kw) -> int:
        return self.store(table).tag(name, **kw)

    def rollback(self, table: str, version: int, **kw) -> int:
        return self.store(table).rollback(version, **kw)

    def delete_keys(
        self, table: str, keys_df: DataFrame, key_cols: list[str], **kw
    ) -> int:
        return self.store(table).delete_keys(keys_df, key_cols, **kw)

    def evolve_schema(self, table: str, **kw) -> int:
        return self.store(table).evolve_schema(**kw)

    def delete_positions(self, table: str, pos_df: DataFrame, **kw) -> int:
        return self.store(table).delete_positions(pos_df, **kw)

    def read_appends(self, table: str, since_version: int) -> DataFrame:
        return self.store(table).read_appends(since_version)

    def publish_staged(self, table: str, wap_id: str) -> int:
        return self.store(table).publish_staged(wap_id)

    def abandon_staged(self, table: str, wap_id: str) -> int:
        return self.store(table).abandon_staged(wap_id)

    def staged_versions(self, table: str, wap_id: str | None = None) -> dict:
        return self.store(table).staged_versions(wap_id)

    def count_rows(self, table: str, **kw) -> int | None:
        return self.store(table).count_rows(**kw)

    def compact(self, table: str, **kw) -> int | None:
        return self.store(table).compact(**kw)

    def expire_snapshots(self, table: str, **kw) -> dict:
        return self.store(table).expire_snapshots(**kw)


def snapshot_diff(
    store: SnapshotStore,
    v_old: int,
    v_new: int,
    keys: list[str],
) -> DataFrame:
    """Row-level diff between two snapshots of one table: per key,
    ``added`` / ``removed`` / ``changed`` / ``unchanged``.

    The audit query a versioned table makes cheap (both sides are just
    time-travel reads).  Content comparison is an md5 digest of the
    non-key columns (JSON-serialized in sorted column order, so the
    digest is schema-order independent); the full-outer join shuffles
    (key, digest) pairs only, never whole rows.
    """
    from pyspark.sql import functions as F

    def _digested(df: DataFrame) -> DataFrame:
        value_cols = sorted(c for c in df.columns if c not in keys)
        dg = F.md5(F.to_json(F.struct(*[F.col(c) for c in value_cols])))
        return df.select(*keys, dg.alias("dg"))

    old = _digested(store.read(as_of=v_old)).alias("o")
    new = _digested(store.read(as_of=v_new)).alias("n")
    cond = reduce(
        lambda a, b: a & b, [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    )
    return new.join(old, cond, "full_outer").select(
        *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys],
        F.when(F.col("o.dg").isNull(), "added")
        .when(F.col("n.dg").isNull(), "removed")
        .when(F.col("n.dg") != F.col("o.dg"), "changed")
        .otherwise("unchanged")
        .alias("state"),
    )


def _stat_json(v):
    """JSON-safe zone-map bound: numbers/strings/bools/None pass, dates
    and timestamps serialize to their ISO strings (which compare in the
    same order, so pruning stays sound for equal-typed filters)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)
