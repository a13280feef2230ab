"""Snapshot tables as a Structured Streaming SOURCE (Spark 4 Python
DataSource API): ``spark.readStream.format("snapshot_table")
.option("path", root)`` streams a table's append commits as
micro-batches -- the Iceberg streaming-read parity surface
(``spark.readStream.format("iceberg")``), built on the same log the
batch side consumes via :meth:`~..snapshots.SnapshotStore.read_appends`.

Offsets ARE table versions: a micro-batch covers the published window
``(start, end]``, planned as one scan task per data FILE; the window's
tasks are packed in order into at most one input partition per core,
so executors scan it in parallel without paying a Python task per file
(pyarrow, Arrow-batch handoff -- the data never routes through the
driver; only manifest JSON does, O(window commits)).  Spark's
checkpoint persists the version cursor, so kill-replay re-plans
exactly the same window -- deterministic partitions() + append-only
data make replay exactly-once without any sink-side guard.

Append-only contract (same as Iceberg's streaming read, which fails on
replace snapshots and is the reason its docs steer streaming tables to
append commits): windows crossing ``overwrite_partitions`` / full
``snapshot`` replaces / ``rollback`` / ``delete_keys`` REFUSE loudly
at planning time rather than re-deliver or silently skip rows.
Staged (WAP/branch) commits are not table state and are skipped; the
initial ``snapshot`` commit (v0) streams as the table's first batch;
``evolve_schema`` commits already in history at stream start pass as
zero-row metadata commits (round 13 -- the stream's pinned schema
reflects them), while a mid-stream evolution still refuses.

``maxversionspertrigger`` (round 11; Iceberg's
``max-files-per-micro-batch`` rate-limit analog at commit granularity):
cap how many table VERSIONS one micro-batch may cover, so a long
backlog arrives as several bounded batches instead of one giant one.
``maxfilespertrigger`` (round 12; Iceberg's actual file-granularity
knob): cap how many data FILES one micro-batch may scan -- one fat
commit splits across micro-batches.  Offsets become
``{"version": v, "file": k}`` (first ``k`` tasks of version ``v``
consumed; whole-version positions keep the legacy ``{"version": n}``
shape, so existing checkpoints resume unchanged); per-version task
lists are deterministic (sorted walks, cached per planner), which both
slicing and kill-replay rely on.  Both knobs compose; each batch makes
at least one file of progress, so zero-file commits can never stall
the cursor.
The Python stream API has no admission control (``latestOffset()``
never sees the checkpointed start), so the throttle cursor is
source-owned: it starts at ``startingversion`` and advances through
``partitions()``/``commit()`` -- including the ``commit(restored
offset)`` callback the engine issues when restarting from a
checkpoint (observed against the shipped runner; pinned by the restart
leg of the rate-limit test), so restarts resume mid-backlog correctly
throttled.  Because an offset BELOW the checkpoint would silently
regress the offset log and re-deliver, ``partitions()`` additionally
REFUSES loudly if a throttled end ever lands behind the engine's
checkpointed start (unreachable under the observed protocol; the guard
turns any future protocol change into a loud error, never duplicates).

``mode=changelog`` (round 11; Iceberg streaming's
``streaming-skip-overwrite-snapshots=false`` direction, shaped like
:meth:`~..snapshots.SnapshotStore.read_changes`): instead of refusing
non-append windows, emit row-level changes with ``_change_type``
(``'insert'``/``'delete'``) and ``_commit_version`` columns.  Changes
come from MANIFEST DIR-DIFFS per published commit (added dirs ->
inserts, dropped dirs -> their rows as deletes), which uniformly covers
append / partition overwrite / full replace / rollback / WAP publish;
compaction commits emit nothing (data-identical, marked
``metadata.compaction``).  MoR delete commits stream too (round 12):
the masked pre-image rows emit as deletes via the batch reader's
vectorized Arrow masks, partition-pruned through the key frame.
Schema-evolution commits already in history at stream start stream as
zero-row metadata commits (round 13; every dir epoch-maps to the
stream's pinned schema by field id) -- only an evolution landing
AFTER the stream pinned its schema refuses (restart to adopt it).

The source reads manifests and data files directly (no JVM round-trip
from executors), so it serves LOCAL/POSIX table roots; scheme-qualified
stores (s3a://, mockfs://) refuse at construction -- batch-incremental
consumers there use ``read_appends`` (documented limitation, not a
silent wrong answer).
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import StructType

from ..snapshots import SnapshotStore, _vdir_version
from ..sources.snapshot_batch import (
    LocalSnapshotPlanner,
    SnapshotTableBatchReader,
    SnapshotTablePushdownReader,
    _stored_names,
    _TaskRun,
    arrow_type,
    check_local_root as _check_local_root,
    pack_runs,
    parse_partition_value,
)

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _manifest(root: str, v: int) -> dict:
    path = f"{root}/{MANIFEST_DIR}/v{v}.json"
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"streaming window lost v{v} to retention under {root}; "
            "restart the stream from a full read"
        ) from None


def _versions(root: str) -> list[int]:
    try:
        names = os.listdir(f"{root}/{MANIFEST_DIR}")
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


def _head_published(root: str) -> int | None:
    for v in reversed(_versions(root)):
        if _manifest(root, v).get("staged") is None:
            return v
    return None


def _added_vdirs(root: str, m: dict, v: int) -> set[str]:
    """Data dirs this commit wrote: vdir names carry their commit
    version (``v<N>-<uuid>``), and both manifest kinds list the touched
    partitions' full vdir lists.  A SHARDED full checkpoint keeps its
    partition map in shard files under ``_manifests/shards/`` -- merge
    them (the commit's own dirs can live in any shard)."""
    pmap = dict(m.get("partitions") or m.get("partitions_set") or {})
    for s in m.get("partition_shards") or []:
        path = f"{root}/{MANIFEST_DIR}/shards/{s['file']}"
        with open(path, encoding="utf-8") as fh:
            pmap.update(json.load(fh).get("partitions", {}))
    return {
        vd
        for vds in pmap.values()
        for vd in vds
        if vd.startswith(f"v{v}-")
    }


class _FilePartition:
    """One data file's scan task -- the unit of offsets, slicing and
    masks.  Spark reads it inside a :class:`_TaskRun` with the other
    files of its run; the schema fields are shared references, so
    pickling the run writes them once."""

    def __init__(
        self,
        path: str,
        part_values: list,
        schema_json: str,
        session_tz: str = "UTC",
        change: tuple | None = None,  # (kind, commit_version) | None
        epoch: int = 0,  # _vdir_version of the owning data dir
        schema_log: list | None = None,  # field-id evolution log
        masks: dict | None = None,  # MoR mask context (changelog):
        # {"root", "rel_path", "apply_sets": [entries -> keep-mask,
        #  the emitting state's visibility], "match_set": entry|None
        #  (keep ONLY rows this set masks -- the pre-image arm)}
    ):
        self.path = path
        self.part_values = part_values  # [(col, raw_string_or_None)]
        self.schema_json = schema_json
        self.session_tz = session_tz
        self.change = change
        self.epoch = epoch
        self.schema_log = schema_log
        self.masks = masks


class SnapshotTableStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, options: dict):
        self.root = _check_local_root(root)
        self.start = int(options.get("startingversion", -1))
        self.session_tz = options.get("session_tz", "UTC")
        self.mode = options.get("mode", "append")
        if self.mode not in ("append", "changelog"):
            raise ValueError(
                f"unknown snapshot_table stream mode {self.mode!r}: "
                "expected 'append' or 'changelog'"
            )
        raw_max = options.get("maxversionspertrigger")
        self.max_versions = int(raw_max) if raw_max is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError("maxversionspertrigger must be >= 1")
        raw_maxf = options.get("maxfilespertrigger")
        self.max_files = int(raw_maxf) if raw_maxf is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxfilespertrigger must be >= 1")
        # monotonic throttle cursor (see module docstring): starts at
        # startingversion, resynced by the engine's restart-time
        # commit() callback and by every planned window.  Position is
        # (version, files-of-that-version-consumed) so maxfilespertrigger
        # can split ONE fat commit across micro-batches; (v, 0) ==
        # "fully consumed through v-1".
        self._cursor = (self.start + 1, 0)
        # deterministic per-version task lists (planning cache): file
        # slicing and kill-replay both need the SAME list per version
        self._tasks_cache: dict[int, list] = {}
        head = _head_published(self.root)
        if head is None:
            raise ValueError(f"no snapshots committed under {self.root}")
        head_m = _manifest(self.root, head)
        self.schema_json = head_m["schema"]
        # evolution log of the stream's schema epoch: read() maps each
        # dir's physical columns to it by FIELD ID, so pre-window
        # evolution (renames/drops/widens before startingversion) can
        # never null-fill a renamed column or surface a reused dead
        # name.  Evolve commits AT OR BEFORE this pinned head stream as
        # zero-row metadata commits (round 13: the declared schema
        # already reflects them, and every older dir epoch-maps to it);
        # an evolution landing AFTER the stream started still refuses
        # at planning -- Spark cannot change a running query's schema,
        # restart the stream to adopt the evolved epoch.
        self.schema_log = head_m.get("schema_log")
        self._schema_version = head

    @staticmethod
    def _norm(offset: dict) -> tuple[int, int]:
        """Offset JSON -> (version, files_consumed_of_that_version).
        Legacy ``{"version": N}`` offsets (fully consumed through N)
        normalize to ``(N + 1, 0)``, so pre-round-12 checkpoints resume
        unchanged."""
        if "file" in offset:
            return (int(offset["version"]), int(offset["file"]))
        return (int(offset["version"]) + 1, 0)

    @staticmethod
    def _repr_offset(pos: tuple[int, int]) -> dict:
        """(version, k) -> offset JSON; whole-version positions keep
        the legacy shape (byte-identical checkpoints when file
        throttling is unused)."""
        v, k = pos
        if k == 0:
            return {"version": v - 1}
        return {"version": v, "file": k}

    def _advance_cursor(self, pos: tuple[int, int]) -> None:
        if pos > self._cursor:
            self._cursor = pos

    # -- offset lifecycle -------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start}

    def latestOffset(self) -> dict:
        head = _head_published(self.root)
        if head is None:
            return self._repr_offset(self._cursor)
        cv, ck = self._cursor
        # version bound: at most max_versions versions may be touched by
        # this batch (finishing a partially-consumed version counts as
        # one) -- reduces to the legacy min(head, cursor + max) formula
        last_v = head
        if self.max_versions is not None:
            last_v = min(head, cv + self.max_versions - 1)
        if self.max_files is None:
            # whole versions only; never regresses below the cursor
            # (when ck > 0, last_v >= cv so this also finishes the
            # partially-consumed version)
            return self._repr_offset(max((last_v + 1, 0), self._cursor))
        # file bound: walk forward consuming up to max_files tasks;
        # always >= 1 file of progress when anything is available
        budget = self.max_files
        v, k = cv, ck
        while v <= last_v and budget > 0:
            n = len(self._version_tasks(v))
            take = min(budget, n - k)
            if take > 0:
                budget -= take
                k += take
            if k < n:
                break  # budget exhausted mid-version
            v, k = v + 1, 0
        return self._repr_offset((v, k))

    def commit(self, end: dict) -> None:
        # also the restart-resync point: the engine replays the
        # checkpointed offset through commit() when a query restarts
        self._advance_cursor(self._norm(end))

    # -- planning (driver-side, manifest JSON only) ------------------------
    def _version_tasks(self, v: int) -> list[_FilePartition]:
        """THE deterministic task list of one published version --
        staged commits contribute nothing; append-mode contract checks
        live here.  Cached: file-offset slicing and kill-replay must
        see the identical list on every call."""
        cached = self._tasks_cache.get(v)
        if cached is not None:
            return cached
        m = _manifest(self.root, v)
        if m.get("staged") is not None:
            parts: list[_FilePartition] = []
        elif self.mode == "changelog":
            parts = self._changelog_partitions(v, m, m["mode"])
        else:
            mode = m["mode"]
            if mode == "evolve_schema" and v <= self._schema_version:
                # metadata-only commit whose effect the stream's pinned
                # schema already reflects: zero data tasks (no dirs
                # added), never a contract violation
                parts = []
            else:
                if not (mode == "append" or (mode == "snapshot" and v == 0)):
                    raise ValueError(
                        f"streaming window crosses a '{mode}' commit "
                        f"(v{v}); the snapshot_table source is "
                        "append-only (the Iceberg streaming-read "
                        "contract) -- consume replace/delete commits "
                        "via mode=changelog / read_changes or restart "
                        "from a full read"
                    )
                parts = self._dir_partitions(
                    sorted(_added_vdirs(self.root, m, v)), change=None
                )
        while len(self._tasks_cache) > 64:
            # bounded planner memory: evict OLDEST, not clear() -- a
            # backlog spanning >64 versions keeps its hot tail instead
            # of replanning every version per trigger
            self._tasks_cache.pop(next(iter(self._tasks_cache)))
        self._tasks_cache[v] = parts
        return parts

    def partitions(self, start: dict, end: dict):
        lo, hi = self._norm(start), self._norm(end)
        if hi < lo:
            # a throttled latestOffset landed BEHIND the engine's
            # checkpointed start: planning this window would regress the
            # offset log and re-deliver.  Unreachable under the observed
            # restart protocol (commit() resyncs first) -- loud guard so
            # a protocol change can never silently double-deliver.
            raise ValueError(
                f"rate-limit cursor {hi} is behind the checkpointed "
                f"stream position {lo}; refusing to regress the offset "
                "log -- run once without maxversionspertrigger/"
                "maxfilespertrigger to resync"
            )
        # the engine commits `hi` for this batch: advance the cursor so
        # rate limiting measures from here (and never regresses)
        self._advance_cursor(hi)
        (v1, k1), (v2, k2) = lo, hi
        parts: list[_FilePartition] = []
        for v in range(v1, v2 + 1):
            if v == v2 and k2 == 0:
                break  # nothing of v2 in this window
            tasks = self._version_tasks(v)
            a = k1 if v == v1 else 0
            b = k2 if v == v2 else len(tasks)
            parts.extend(tasks[a:b])
        return pack_runs(parts)

    def _dir_partitions(
        self, vdirs: list[str], change: tuple | None
    ) -> list[_FilePartition]:
        parts: list[_FilePartition] = []
        for vd in vdirs:
            base = f"{self.root}/{DATA_DIR}/{vd}"
            for dirpath, _dirs, files in os.walk(base):
                _dirs.sort()  # deterministic traversal: file-offset
                # slicing and kill-replay need the SAME task order on
                # every plan of a window (os.walk order is otherwise
                # listdir-dependent)
                rel = os.path.relpath(dirpath, base)
                pvals = []
                if rel != ".":
                    for seg in rel.split(os.sep):
                        col, _, raw = seg.partition("=")
                        val = unquote(raw)
                        pvals.append(
                            (col, None if val == HIVE_NULL else val)
                        )
                for f in sorted(files):
                    if f.endswith(".parquet"):
                        parts.append(
                            _FilePartition(
                                os.path.join(dirpath, f),
                                pvals,
                                self.schema_json,
                                self.session_tz,
                                change,
                                _vdir_version(vd),
                                self.schema_log,
                            )
                        )
        return parts

    def _changelog_partitions(
        self, v: int, m: dict, mode: str
    ) -> list[_FilePartition]:
        """Row-level changes of ONE published commit, mirroring
        :meth:`~..snapshots.SnapshotStore.read_changes`' four arms:
        added dirs -> inserts (current state's delete sets applied),
        dropped dirs -> deletes (parent state's sets applied), NEW
        merge-on-read delete sets -> the masked pre-image rows as
        deletes (equality: key semi-match executor-side via the batch
        reader's vectorized mask, partition-pruned when the keys carry
        the partition spec; positional: only the recorded target
        dirs), and sets DROPPED while target dirs survive (rollback
        across a delete) -> the reappearing rows as inserts.  Uniform
        across append/overwrite/replace/rollback/publish/delete_keys
        AND (round 13) ``evolve_schema`` commits already in history at
        stream start: those are metadata-only -- zero row changes --
        and every pre/post-evolution dir epoch-maps to the stream's
        pinned schema by FIELD ID (the same per-dir mechanics the
        batch reader uses), so a backlog window streams through them.
        Only an evolution landing AFTER the stream started refuses:
        Spark cannot change a running query's schema -- restart the
        stream to adopt the new epoch."""
        if mode == "evolve_schema":
            if v <= self._schema_version:
                return []  # metadata-only: no row-level changes
            raise ValueError(
                f"changelog stream window crosses an 'evolve_schema' "
                f"commit (v{v}) newer than the stream's pinned schema "
                f"epoch (v{self._schema_version}); restart the stream "
                "to adopt the evolved schema"
            )
        if m.get("metadata", {}).get("compaction"):
            return []  # data-identical rewrite: no logical change
        planner = LocalSnapshotPlanner.for_root(self.root)
        cur = planner._read_manifest(v)
        parent_v = m.get("parent")
        prev = (
            planner._read_manifest(parent_v)
            if parent_v is not None
            else None
        )
        cur_sets = {d["dir"]: d for d in cur.get("delete_sets") or []}
        prev_sets = {
            d["dir"]: d for d in (prev or {}).get("delete_sets") or []
        }
        cur_dirs = {
            f"{vd}/{p}" if p else vd
            for p, vds in cur["partitions"].items()
            for vd in vds
        }
        prev_dirs: set[str] = (
            {
                f"{vd}/{p}" if p else vd
                for p, vds in prev["partitions"].items()
                for vd in vds
            }
            if prev is not None
            else set()
        )
        # diff at DKEY (vdir + full partition path) granularity: an
        # overwrite re-points only the TOUCHED partitions, so a dropped
        # partition's old vdir may still serve untouched partitions --
        # whole-vdir emission would fabricate deletes for them
        parts = self._dkey_partitions(
            sorted(prev_dirs - cur_dirs),
            change=("delete", v),
            apply_sets=list(prev_sets.values()),
        ) + self._dkey_partitions(
            sorted(cur_dirs - prev_dirs),
            change=("insert", v),
            apply_sets=list(cur_sets.values()),
        )
        # NEW delete sets: their masked pre-image (visible at the
        # parent state) emits as deletes
        for dkey, entry in cur_sets.items():
            if dkey in prev_sets or prev is None:
                continue
            parts += self._preimage_partitions(
                entry,
                prev,
                change=("delete", v),
                apply_sets=list(prev_sets.values()),
            )
        # sets dropped while (some) target dirs survive: only a
        # rollback across the delete -- masked rows reappear as inserts
        for dkey, entry in prev_sets.items():
            if dkey in cur_sets:
                continue
            parts += self._preimage_partitions(
                entry,
                cur,
                change=("insert", v),
                apply_sets=list(cur_sets.values()),
            )
        return parts

    #: partition-prune cap for equality pre-images: above this many
    #: distinct key-partition tuples the scan falls back to every
    #: older-than-the-set directory (sound, read_changes' probe rule)
    _PREIMAGE_PRUNE_MAX = 4096

    def _preimage_partitions(
        self,
        entry: dict,
        m_state: dict,
        change: tuple,
        apply_sets: list,
    ) -> list[_FilePartition]:
        """Scan tasks for the rows of state ``m_state`` that delete set
        ``entry`` masks: candidate dirs are the state's dirs OLDER than
        the set (sequence rule) -- positional sets restrict to their
        recorded target vdirs, equality sets partition-prune through
        the key frame when the key columns carry the partition spec
        (pyarrow over the O(keys) frame, pure-twin dir names; any
        formatting/type doubt falls back to no pruning).  Each task
        applies ``apply_sets`` as keep-masks (state visibility) and
        ``entry`` as the MATCH mask."""
        set_v = int(entry["version"])
        pairs = [
            (vd, p)
            for p, vds in m_state["partitions"].items()
            for vd in vds
            if _vdir_version(vd) < set_v
        ]
        if entry.get("kind") == "positional":
            targets = set(entry.get("vdirs", []))
            pairs = [(vd, p) for vd, p in pairs if vd in targets]
        else:
            pby = m_state["partition_by"]
            key_cols = list(entry.get("key_cols", []))
            if pby and all(c in key_cols for c in pby):
                want = self._key_partition_dirs(entry, m_state, pby)
                if want is not None:
                    pairs = [(vd, p) for vd, p in pairs if p in want]
        return [
            part
            for vd, p in sorted(pairs)
            for part in self._dkey_partitions(
                [f"{vd}/{p}" if p else vd],
                change=change,
                apply_sets=apply_sets,
                match_set=entry,
            )
        ]

    def _key_partition_dirs(
        self, entry: dict, m_state: dict, pby: list[str]
    ) -> set[str] | None:
        """Distinct partition dir names the equality key frame can
        touch, or None when pruning cannot be proven (unsupported
        value types / too many tuples / missing key columns)."""
        from ..sources.snapshot_batch import (
            _read_parquet_dir,
            hive_dir_local,
        )

        tab = _read_parquet_dir(f"{self.root}/{DATA_DIR}/{entry['dir']}")
        if tab is None:
            return None
        fv = int(entry.get("frame_version", entry["version"]))
        stored = _stored_names(self.schema_log, fv) or {}
        names = []
        for c in pby:
            sn = stored.get(c, c)
            if sn is None or sn not in tab.column_names:
                return None
            names.append(sn)
        try:
            combos = tab.group_by(names).aggregate([])
        except Exception:  # noqa: BLE001 -- exotic types: no pruning
            return None
        if combos.num_rows > self._PREIMAGE_PRUNE_MAX:
            return None
        import datetime as _dt

        out: set[str] = set()
        for i in range(combos.num_rows):
            vals = []
            for sn in names:
                v = combos.column(sn)[i].as_py()
                if v is None:
                    vals.append(None)
                elif isinstance(v, bool):
                    vals.append("true" if v else "false")
                elif isinstance(v, (int, str)) or (
                    isinstance(v, _dt.date)
                    and not isinstance(v, _dt.datetime)
                ):
                    vals.append(str(v))
                else:
                    return None  # float/timestamp formatting: no pruning
            out.add(hive_dir_local(pby, tuple(vals)))
        return out

    def _dkey_partitions(
        self,
        dkeys: list[str],
        change: tuple,
        apply_sets: list | None = None,
        match_set: dict | None = None,
    ) -> list[_FilePartition]:
        parts: list[_FilePartition] = []
        for dk in dkeys:
            vd, _, rel = dk.partition("/")
            base = f"{self.root}/{DATA_DIR}/{vd}"
            dirp = f"{base}/{rel}" if rel else base
            pvals = []
            if rel:
                for seg in rel.split("/"):
                    col, _, raw = seg.partition("=")
                    val = unquote(raw)
                    pvals.append((col, None if val == HIVE_NULL else val))
            try:
                files = sorted(
                    f
                    for f in os.listdir(dirp)
                    if f.endswith(".parquet")
                )
            except FileNotFoundError:
                raise ValueError(
                    f"changelog stream lost data dir {dk} to retention; "
                    "restart the stream from a full read"
                ) from None
            epoch = _vdir_version(vd)
            for f in files:
                masks = None
                relevant = [
                    d
                    for d in (apply_sets or [])
                    if int(d["version"]) > epoch
                ]
                if relevant or match_set is not None:
                    masks = {
                        "root": self.root,
                        "rel_path": f"{dk}/{f}",
                        "apply_sets": relevant,
                        "match_set": match_set,
                    }
                parts.append(
                    _FilePartition(
                        f"{dirp}/{f}",
                        pvals,
                        self.schema_json,
                        self.session_tz,
                        change,
                        epoch,
                        self.schema_log,
                        masks,
                    )
                )
        return parts

    # -- execution (executor-side, pyarrow) --------------------------------
    def read(self, run: _TaskRun):
        for task in run.tasks:
            yield from self._read_file(task)

    def _read_file(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tab = pq.read_table(partition.path)
        fields = json.loads(partition.schema_json)["fields"]
        pvals = dict(partition.part_values)
        tz = partition.session_tz
        if partition.masks:
            # changelog MoR arms: keep-masks make the emitting state's
            # VISIBLE rows (sequence rule pre-filtered at planning),
            # the match mask keeps only rows the new/dropped set masks
            # (the pre-image / reappearance arm) -- all pyarrow.compute
            # via the batch reader's vectorized masks
            from ..sources.snapshot_batch import (
                _and_mask,
                _eq_delete_mask,
                _positional_delete_mask,
                _read_delete_set,
            )

            mi = partition.masks
            types = {f["name"]: f["type"] for f in fields}

            def _one_mask(entry):
                dtab = _read_delete_set(
                    f"{mi['root']}/{DATA_DIR}/{entry['dir']}"
                )
                if dtab is None:
                    return None
                if entry.get("kind") == "positional":
                    if mi["rel_path"].split("/", 1)[0] not in entry.get(
                        "vdirs", []
                    ):
                        return None
                    return _positional_delete_mask(
                        tab.num_rows, dtab, mi["rel_path"]
                    )
                return _eq_delete_mask(
                    tab,
                    dtab,
                    entry,
                    partition.schema_log,
                    partition.epoch,
                    tz,
                    pvals,
                    types,
                )

            mask = None
            for entry in mi["apply_sets"]:
                m1 = _one_mask(entry)
                if m1 is not None:
                    mask = _and_mask(mask, m1)
            if mi["match_set"] is not None:
                import pyarrow.compute as pc

                keep = _one_mask(mi["match_set"])
                if keep is None:
                    return  # set masks nothing in this file
                mask = _and_mask(mask, pc.invert(keep))
            if mask is not None:
                tab = tab.filter(mask)
            if tab.num_rows == 0:
                return
        n = tab.num_rows
        # field-id mapping for dirs written under an OLDER schema epoch
        # (pre-window evolution); None = table never evolved
        stored_of = _stored_names(partition.schema_log, partition.epoch)

        cols = []
        for f in fields:
            name, typ = f["name"], f["type"]
            # arrow_type/parse_partition_value fail LOUDLY on types they
            # cannot map, and thread the session timezone through
            # timestamp partition values (advisor round-10 fix: the old
            # string-default + hard-coded UTC silently mis-typed or
            # shifted values).
            target = arrow_type(typ, tz)
            stored = stored_of.get(name) if stored_of is not None else name
            if name in pvals:
                cols.append(
                    pa.array(
                        [parse_partition_value(pvals[name], typ, tz)] * n,
                        type=target,
                    )
                )
            elif stored is not None and stored in tab.column_names:
                col = tab.column(stored)
                cols.append(col if col.type == target else col.cast(target))
            else:
                # column added by a later additive append (or this
                # epoch never stored the field): null-fill -- read()'s
                # allowMissingColumns semantics
                cols.append(pa.nulls(n, type=target))
        names = [f["name"] for f in fields]
        if partition.change is not None:
            kind, cv = partition.change
            cols.append(pa.array([kind] * n, type=pa.string()))
            cols.append(pa.array([cv] * n, type=pa.int64()))
            names += ["_change_type", "_commit_version"]
        yield from pa.table(cols, names=names).to_batches()

    def stop(self) -> None:
        pass


class SnapshotTableStreamSource(DataSource):
    """``spark.dataSource.register(SnapshotTableStreamSource)`` then:

    * ``spark.readStream.format("snapshot_table").load(root)`` --
      append commits as micro-batches (this module), or
    * ``spark.read.format("snapshot_table").load(root)`` -- a BATCH
      scan with filter pushdown into the manifest planner
      (:mod:`..sources.snapshot_batch`): snapshot tables become
      SQL-queryable temp views with hidden-partitioning / zone-map /
      bloom / sidecar pruning intact through the SQL path.  Batch
      options: ``as_of`` / ``ref`` / ``as_of_ts`` (time travel),
      ``session_tz``, ``report_path`` (JSON scan report for pruning
      assertions).  Prefer :func:`register_snapshot_view`, which
      threads the session timezone automatically."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_table"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("snapshot_table source requires a path")
        return root

    def schema(self) -> StructType:
        root = _check_local_root(self._root())
        opts = dict(self.options)
        if any(opts.get(k) for k in ("as_of", "ref", "as_of_ts")):
            # batch time travel: serve THAT version's schema epoch
            # (its names/types -- the SnapshotStore.read contract)
            planner = LocalSnapshotPlanner.for_root(root)
            reader = SnapshotTableBatchReader(root, opts)
            m = planner._read_manifest(reader.version)
            return self._project(
                StructType.fromJson(json.loads(m["schema"])), opts
            )
        head = _head_published(root)
        if head is None:
            raise ValueError(f"no snapshots committed under {root}")
        schema = StructType.fromJson(
            json.loads(_manifest(root, head)["schema"])
        )
        if opts.get("mode") == "changelog":
            from pyspark.sql.types import LongType, StringType

            schema = schema.add("_change_type", StringType()).add(
                "_commit_version", LongType()
            )
        return self._project(schema, opts)

    @staticmethod
    def _project(schema: StructType, opts: dict) -> StructType:
        """Apply the batch ``columns`` projection option (table-schema
        order; validation lives in the batch reader).  The STREAMING
        reader refuses the option instead -- see streamReader."""
        raw = opts.get("columns")
        if not raw:
            return schema
        cols = (
            json.loads(raw)
            if raw.lstrip().startswith("[")
            else [c.strip() for c in raw.split(",") if c.strip()]
        )
        want = set(cols)
        kept = [f for f in schema.fields if f.name in want]
        if not kept:
            raise ValueError(
                f"columns option {cols} matches no table column "
                f"{[f.name for f in schema.fields]}"
            )
        return StructType(kept)

    def streamReader(self, schema: StructType) -> SnapshotTableStreamReader:
        if self.options.get("columns"):
            raise ValueError(
                "the columns projection option is batch-only; a stream "
                "reader serves the full table schema"
            )
        return SnapshotTableStreamReader(self._root(), dict(self.options))

    def writer(self, schema: StructType, overwrite: bool):
        """Batch writes: ``df.write.format("snapshot_table")
        .option("path", root).mode("append"|"overwrite").save()``
        commits through the store's atomic claim protocol --
        :mod:`..sources.snapshot_write`."""
        from ..sources.snapshot_write import SnapshotTableArrowWriter

        return SnapshotTableArrowWriter(schema, overwrite, dict(self.options))

    def reader(self, schema: StructType) -> SnapshotTableBatchReader:
        opts = dict(self.options)
        cls = (
            SnapshotTablePushdownReader
            if str(opts.get("pushdown", "")).lower() == "true"
            else SnapshotTableBatchReader
        )
        return cls(self._root(), opts)


def ensure_registered(spark) -> None:
    """Register the snapshot_table source (re-registration replaces,
    so this is safely repeatable -- same usage as the live streaming
    entries).  Deliberately does NOT touch session confs: the
    filter-pushdown SQLConf is set only on the pushdown read path that
    needs it (advisor round-11: setting it on every register call
    changed planner behavior for unrelated Python DataSources)."""
    spark.dataSource.register(SnapshotTableStreamSource)


def read_snapshot_table(
    spark,
    root: str,
    as_of: int | None = None,
    ref: str | None = None,
    as_of_ts: int | None = None,
    report_path: str | None = None,
    point_filter: dict | None = None,
    range_filter: list | tuple | None = None,
    pushdown: bool = False,
    columns: list | None = None,
):
    """Batch-read a snapshot table through the DataSource (the SQL
    path), threading the session timezone into the source so timestamp
    partition values parse under the session's rendering zone.

    ``point_filter`` / ``range_filter`` (JSON-representable values)
    prune files via the manifest planner AND are applied row-exactly by
    the scan tasks -- the SAFE pruning path for relations that live
    (views), identical for every scan of the relation.  ``pushdown``
    additionally lets Spark's own WHERE clauses reach the planner; it
    is only sound on SINGLE-QUERY relations (see the one-slot-cache
    note in :mod:`..sources.snapshot_batch`) -- prefer
    :func:`snapshot_sql`, which manages that lifecycle."""
    import json as _json

    ensure_registered(spark)
    reader = (
        spark.read.format("snapshot_table")
        .option("path", root)
        .option(
            "session_tz", spark.conf.get("spark.sql.session.timeZone")
        )
    )
    if as_of is not None:
        reader = reader.option("as_of", str(as_of))
    if ref is not None:
        reader = reader.option("ref", ref)
    if as_of_ts is not None:
        reader = reader.option("as_of_ts", str(as_of_ts))
    if report_path is not None:
        reader = reader.option("report_path", report_path)
    if point_filter:
        reader = reader.option("point_filter", _json.dumps(point_filter))
    if range_filter:
        reader = reader.option(
            "range_filter", _json.dumps([list(r) for r in range_filter])
        )
    if columns:
        # option-level PROJECTION (the Python DataSource API has no
        # column-pruning hook): only these columns surface and decode
        reader = reader.option("columns", _json.dumps(list(columns)))
    if pushdown:
        # Python-DataSource filter pushdown is a runtime-settable
        # SQLConf, OFF by default in Spark 4.1; without it Spark
        # refuses any reader implementing ``pushFilters``.  It is
        # SESSION-WIDE (it also enables pushdown for other Python
        # DataSources registered in this session), so it is set only
        # here, on the path that actually requires it.
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        reader = reader.option("pushdown", "true")
    return reader.load()


def write_snapshot_table(
    spark,
    df,
    root: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    metadata: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    ndv_cols: list[str] | None = None,
) -> None:
    """Write ``df`` to a snapshot table through the SQL write path (the
    ``snapshot_table`` DataSource writer): tasks write the parquet
    files, the commit goes through the store's atomic claim --
    :mod:`..sources.snapshot_write`.  ``mode`` is ``append`` (INSERT
    INTO semantics) or ``overwrite`` (full table-replacing snapshot,
    INSERT OVERWRITE semantics).  ``partition_by``: identity columns
    and/or hidden-partitioning transforms (``bucket(8, doc_id)`` etc.,
    the SnapshotStore.write spec syntax), honored on table creation;
    an existing table's spec is inherited (a restated spec must
    match).  For WAP/overwrite_partitions/spec evolution use
    :meth:`SnapshotStore.write`.

    Statistics (round 13): per-file zone maps (``stats_cols``) and
    blooms (``bloom_cols``) are computed TASK-SIDE with pyarrow while
    the files are written; absent the arguments, the table's recorded
    stats configuration is INHERITED, so an INSERT INTO a stats-bearing
    table keeps its directories prunable.  ``ndv_cols`` (likewise
    inherited from a table carrying NDV sketches) makes this function
    pre-compute the batch's HLL sketches HERE -- the one stats step
    that needs a SparkSession -- union them with the parent's, and ship
    the result into the Spark-less commit, so an INSERT no longer
    invalidates ``col_ndv``.  The union is computed against the head
    observed now; the commit's head pin rejects a moved head, so the
    sketch can never describe a table state that was never published.
    """
    import json as _json

    ensure_registered(spark)
    w = df.write.format("snapshot_table").option("path", root)
    if partition_by:
        w = w.option("partition_by", ",".join(partition_by))
    if metadata:
        w = w.option("metadata_json", _json.dumps(metadata))
    if stats_cols is not None:
        w = w.option("stats_cols", ",".join(stats_cols))
    if bloom_cols is not None:
        w = w.option("bloom_cols", ",".join(bloom_cols))
    planner = LocalSnapshotPlanner.for_root(_check_local_root(root))
    head = planner.current_version()
    prev_ndv = None
    if head is not None:
        prev_ndv = (
            planner._read_manifest(head).get("table_stats") or {}
        ).get("col_ndv")
    eff_ndv = (
        list(ndv_cols)
        if ndv_cols is not None
        else (list(prev_ndv) if prev_ndv else [])
    )
    if eff_ndv:
        merged = SnapshotStore(spark, root)._merged_ndv_sketches(
            df, eff_ndv, prev_ndv if mode == "append" else None
        )
        w = w.option("ndv_sketches_json", _json.dumps(merged))
    w.mode(mode).save()


def register_snapshot_view(spark, root: str, name: str, **kw) -> None:
    """Register a snapshot table as a TEMP VIEW consumable with plain
    ``spark.sql`` -- the reference's consumption pattern (its gold job
    queries silver via SQL over a named table,
    /root/reference/spark/jobs/job_gold.py:71-88).  The view is safe to
    query repeatedly; file pruning comes from explicit ``point_filter``
    / ``range_filter`` kwargs (option-level, applied row-exactly).  For
    automatic WHERE-clause pushdown use :func:`snapshot_sql`."""
    read_snapshot_table(spark, root, **kw).createOrReplaceTempView(name)


def _infer_statement_columns(
    sql: str, root: str, per_table_kw: dict
) -> list[str] | None:
    """Conservative projection inference for :func:`snapshot_sql`'s
    fresh single-statement relations: a table column is kept when its
    name appears as an identifier token anywhere in the statement
    (WHERE/GROUP BY/JOIN references included -- over-inclusion is
    always sound, the hazard is only missing a referenced column).
    Returns None (no pruning) when the statement carries a ``*``
    outside ``COUNT(*)``, references every column anyway, or the
    intersection is empty (pathological statements)."""
    probe = re.sub(r"count\s*\(\s*\*\s*\)", "count(1)", sql, flags=re.IGNORECASE)
    if "*" in probe:
        return None
    if re.search(r"\bNATURAL\b", sql, re.IGNORECASE):
        # NATURAL JOIN matches on columns the statement never NAMES:
        # pruning them from both sides silently degenerates the join
        # into a cross join -- no pruning at all is the only sound call
        return None
    # Spark resolves identifiers case-insensitively by default
    # (spark.sql.caseSensitive=false): match casefolded, or a statement
    # writing `SELECT Lang` against a lowercase schema would get `lang`
    # pruned and fail analysis
    tokens = {t.casefold() for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", sql)}
    tokens |= {t.casefold() for t in re.findall(r"`([^`]+)`", sql)}
    planner = LocalSnapshotPlanner.for_root(_check_local_root(root))
    if per_table_kw.get("as_of") is not None:
        v = int(per_table_kw["as_of"])
    elif per_table_kw.get("ref"):
        v = planner.resolve_ref(per_table_kw["ref"])
    elif per_table_kw.get("as_of_ts"):
        v = planner.resolve_as_of_ts(int(per_table_kw["as_of_ts"]))
    else:
        v = planner.current_version()
    if v is None:
        return None
    names = [
        f["name"]
        for f in json.loads(planner._read_manifest(v)["schema"])["fields"]
    ]
    req = [n for n in names if n.casefold() in tokens]
    if not req or len(req) == len(names):
        return None
    return req


#: one identifier, optionally backtick-quoted
_IDENT_RX = r"(?:`[^`]+`|[A-Za-z_]\w*)"
#: a possibly-qualified (dotted) name of such identifiers
_NAME_RX = rf"{_IDENT_RX}(?:\.{_IDENT_RX})*"


def _unquote_name(tok: str) -> str:
    """``` `a`.b ``` -> ``a.b`` (strip backticks per path segment)."""
    parts = re.findall(r"`([^`]+)`|([A-Za-z_]\w*)", tok)
    return ".".join(b or p for b, p in parts)


def _scan_split(text: str, sep: str) -> list[str]:
    """Split ``text`` at top-level occurrences of ``sep`` -- a keyword
    (matched case-insensitively on word boundaries) or a single
    punctuation char -- skipping anything inside parentheses or
    ``'...'``/``"..."``/backtick quotes (doubled-quote escapes
    honored).  The workhorse behind the DML statement parser: regexes
    alone cannot see nesting."""
    out: list[str] = []
    cur: list[str] = []
    i, n, depth = 0, len(text), 0
    kw = sep.upper()
    klen = len(kw)
    word = kw[0].isalpha()
    while i < n:
        ch = text[i]
        if ch in "'\"`":
            q = ch
            cur.append(ch)
            i += 1
            while i < n:
                cur.append(text[i])
                if text[i] == q:
                    if i + 1 < n and text[i + 1] == q:  # doubled escape
                        cur.append(text[i + 1])
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if (
            depth == 0
            and text[i : i + klen].upper() == kw
            and (
                not word
                or (
                    (i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_"))
                    and (
                        i + klen >= n
                        or not (
                            text[i + klen].isalnum() or text[i + klen] == "_"
                        )
                    )
                )
            )
        ):
            out.append("".join(cur))
            cur = []
            i += klen
            continue
        cur.append(ch)
        i += 1
    out.append("".join(cur))
    return out


def _parse_assignments(text: str) -> dict[str, str]:
    """``a = expr1, b = expr2`` -> ``{'a': 'expr1', 'b': 'expr2'}``
    (top-level commas only; expression text passed through verbatim)."""
    out: dict[str, str] = {}
    for piece in _scan_split(text, ","):
        am = re.match(rf"\s*({_IDENT_RX})\s*=\s*(.*?)\s*$", piece, re.DOTALL)
        if not am:
            raise ValueError(
                f"cannot parse SET assignment {piece.strip()!r}; expected "
                "`column = expression`"
            )
        out[_unquote_name(am.group(1))] = am.group(2)
    return out


_DML_KW = ("delete_approach", "validate_cardinality")


def _run_dml_statement(spark, sql, tables, report_paths, kw):
    """Intercept ``UPDATE`` / ``DELETE FROM`` / ``MERGE INTO``
    statements for :func:`snapshot_sql` and route them to the
    engine's row-level machinery (:meth:`~..snapshots.SnapshotStore
    .update_where` / :meth:`~..snapshots.SnapshotStore.delete_where` /
    :meth:`~..snapshots.SnapshotStore.merge_into`) -- the headline
    Iceberg-on-Spark SQL surface (``MERGE INTO`` etc.) the reference's
    users speak to their tables
    (/root/reference/spark/jobs/job_gold.py:71-88 shows the SQL-first
    consumption shape).  Returns a one-row ``(version)`` frame (-1
    when nothing matched, so no commit happened), or None when the
    statement is not DML (the SELECT path takes over).

    Supported grammar (conditions / SET values / INSERT values are
    scalar SQL expressions over the target row -- and for MERGE, the
    source row -- NOT subqueries):

    * ``UPDATE <t> SET c = e [, ...] [WHERE <cond>]`` -- copy-on-write
      touched-partition rewrite.
    * ``DELETE FROM <t> [WHERE <cond>]`` -- merge-on-read positional
      delete by default; pass ``delete_approach='cow'`` for the
      copy-on-write rewrite (Iceberg's ``write.delete.mode`` choice).
    * ``MERGE INTO <t> [AS a] USING <s>|(<query>) [AS b] ON <cond>
      WHEN MATCHED [AND c] THEN UPDATE SET ... | DELETE ...
      WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT * | (cols)
      VALUES (...) ...
      WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE``
      -- clause order is first-match-wins per arm; ``<s>`` is a
      registered
      table name, or a parenthesized query that itself runs through
      :func:`snapshot_sql` (pushdown intact).
    """
    from pyspark.sql import functions as F

    def _root(name: str) -> str:
        spec = tables[name]
        return spec[0] if isinstance(spec, tuple) else spec

    def _require(name: str, stmt: str) -> None:
        if name not in tables:
            raise ValueError(
                f"{stmt} target {name!r} not in tables {sorted(tables)}; "
                "snapshot_sql DML targets must be registered table names "
                "(optionally backtick-quoted)"
            )

    def _where_of(tail: str) -> tuple[str, str | None]:
        segs = _scan_split(tail, "WHERE")
        if len(segs) == 1:
            return segs[0], None
        if len(segs) > 2:
            raise ValueError(
                "statement has more than one top-level WHERE; "
                "parenthesize subquery WHEREs"
            )
        return segs[0], segs[1]

    def _version_frame(v):
        return spark.createDataFrame(
            [((-1 if v is None else int(v)),)], "version long"
        )

    m = re.match(
        rf"\s*UPDATE\s+({_NAME_RX})\s+SET\s+(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        target = _unquote_name(m.group(1))
        _require(target, "UPDATE")
        set_part, where = _where_of(m.group(2))
        assigns = _parse_assignments(set_part)
        store = SnapshotStore(spark, _root(target))
        v = store.update_where(
            F.expr(where) if where else F.lit(True),
            {c: F.expr(e) for c, e in assigns.items()},
        )
        return _version_frame(v)

    m = re.match(
        rf"\s*DELETE\s+FROM\s+({_NAME_RX})(?:\s+WHERE\s+(.*))?\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        target = _unquote_name(m.group(1))
        _require(target, "DELETE")
        cond = m.group(2)
        store = SnapshotStore(spark, _root(target))
        v = store.delete_where(
            F.expr(cond) if cond else F.lit(True),
            approach=kw.get("delete_approach", "mor"),
        )
        return _version_frame(v)

    m = re.match(r"\s*MERGE\s+INTO\s+(.*)$", sql, re.IGNORECASE | re.DOTALL)
    if m:
        using = _scan_split(m.group(1), "USING")
        if len(using) != 2:
            raise ValueError(
                "MERGE INTO requires exactly one top-level USING"
            )
        tm = re.match(
            rf"\s*({_NAME_RX})(?:\s+(?:AS\s+)?({_IDENT_RX}))?\s*$",
            using[0],
            re.DOTALL,
        )
        if not tm:
            raise ValueError(
                f"cannot parse MERGE target {using[0].strip()!r}"
            )
        target = _unquote_name(tm.group(1))
        _require(target, "MERGE")
        tgt_alias = _unquote_name(tm.group(2)) if tm.group(2) else target
        # split the remainder on top-level WHEN; CASE WHEN fragments
        # (which never begin with [NOT] MATCHED) are re-joined
        raw = _scan_split(using[1], "WHEN")
        pieces = [raw[0]]
        for seg in raw[1:]:
            if re.match(r"\s*(NOT\s+)?MATCHED\b", seg, re.IGNORECASE):
                pieces.append(seg)
            else:
                pieces[-1] += " WHEN " + seg
        on_parts = _scan_split(pieces[0], "ON")
        if len(on_parts) != 2:
            raise ValueError(
                "MERGE INTO requires exactly one top-level ON condition"
            )
        src_part, on_expr = on_parts
        if not pieces[1:]:
            raise ValueError("MERGE requires at least one WHEN clause")

        sm = re.match(
            rf"\s*\((.*)\)\s+(?:AS\s+)?({_IDENT_RX})\s*$",
            src_part,
            re.DOTALL,
        )
        if sm:  # subquery source, itself run through snapshot_sql
            src_alias = _unquote_name(sm.group(2))
            sub_tables = {k: v for k, v in tables.items() if k != target}
            clean = {k: v for k, v in kw.items() if k not in _DML_KW}
            src_df = snapshot_sql(
                spark, sm.group(1), sub_tables, report_paths, **clean
            )
        else:
            nm = re.match(
                rf"\s*({_NAME_RX})(?:\s+(?:AS\s+)?({_IDENT_RX}))?\s*$",
                src_part,
                re.DOTALL,
            )
            if not nm:
                raise ValueError(
                    f"cannot parse MERGE source {src_part.strip()!r}"
                )
            src_name = _unquote_name(nm.group(1))
            if src_name not in tables:
                raise ValueError(
                    f"MERGE source {src_name!r} not in tables "
                    f"{sorted(tables)} (name a registered table or pass "
                    "a parenthesized query)"
                )
            src_alias = (
                _unquote_name(nm.group(2)) if nm.group(2) else src_name
            )
            spec = tables[src_name]
            per_table = spec[1] if isinstance(spec, tuple) else {}
            per = {
                k: v
                for k, v in {**kw, **per_table}.items()
                if k not in _DML_KW
            }
            src_df = read_snapshot_table(spark, _root(src_name), **per)

        matched: list[tuple] = []
        not_matched: list[tuple] = []
        by_source: list[tuple] = []
        for clause in pieces[1:]:
            thens = _scan_split(clause, "THEN")
            idx = next(
                (
                    i
                    for i in range(1, len(thens))
                    if re.match(
                        r"\s*(UPDATE\s+SET\b|DELETE\b|INSERT\b)",
                        thens[i],
                        re.IGNORECASE,
                    )
                ),
                None,
            )
            if idx is None:
                raise ValueError(
                    f"MERGE clause {clause.strip()!r} has no THEN action"
                )
            head = " THEN ".join(thens[:idx])
            action = " THEN ".join(thens[idx:])
            cm = re.match(
                r"\s*(NOT\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?"
                r"(?:\s+AND\s+(.*?))?\s*$",
                head,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(
                    f"cannot parse MERGE clause head {head.strip()!r}"
                )
            is_not, by, cond = (
                bool(cm.group(1)),
                (cm.group(2) or "").upper(),
                cm.group(3),
            )
            if by == "SOURCE" and not is_not:
                raise ValueError("MATCHED BY SOURCE is not a clause; "
                                 "did you mean NOT MATCHED BY SOURCE?")
            is_by_source = is_not and by == "SOURCE"
            am = re.match(
                r"\s*UPDATE\s+SET\s+(.*?)\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if am:
                if is_not and not is_by_source:
                    raise ValueError(
                        "WHEN NOT MATCHED supports INSERT only (use "
                        "NOT MATCHED BY SOURCE for target-side UPDATE)"
                    )
                (by_source if is_by_source else matched).append(
                    ("update", cond, _parse_assignments(am.group(1)))
                )
                continue
            if re.match(r"\s*DELETE\s*$", action, re.IGNORECASE):
                if is_not and not is_by_source:
                    raise ValueError(
                        "WHEN NOT MATCHED supports INSERT only (use "
                        "NOT MATCHED BY SOURCE for target-side DELETE)"
                    )
                (by_source if is_by_source else matched).append(
                    ("delete", cond)
                )
                continue
            im = re.match(
                r"\s*INSERT\s*(?:\*|\(([^)]*)\)\s*VALUES\s*\((.*)\))\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if im:
                if not is_not or is_by_source:
                    raise ValueError(
                        "INSERT is a WHEN NOT MATCHED [BY TARGET] "
                        "action only"
                    )
                if im.group(1) is None:
                    not_matched.append(("insert", cond, None))
                else:
                    cols = [
                        _unquote_name(c)
                        for c in _scan_split(im.group(1), ",")
                    ]
                    exprs = [
                        e.strip() for e in _scan_split(im.group(2), ",")
                    ]
                    if len(cols) != len(exprs):
                        raise ValueError(
                            f"INSERT column list ({len(cols)}) and "
                            f"VALUES list ({len(exprs)}) differ in length"
                        )
                    not_matched.append(
                        ("insert", cond, dict(zip(cols, exprs)))
                    )
                continue
            raise ValueError(
                f"cannot parse MERGE action {action.strip()!r}"
            )

        store = SnapshotStore(spark, _root(target))
        v = store.merge_into(
            src_df,
            on=on_expr,
            matched=matched,
            not_matched=not_matched,
            not_matched_by_source=by_source,
            target_alias=tgt_alias,
            source_alias=src_alias,
            validate_cardinality=kw.get("validate_cardinality", True),
        )
        return _version_frame(v)

    return None


def snapshot_sql(
    spark,
    sql: str,
    tables: dict[str, str],
    report_paths: dict[str, str] | None = None,
    **kw,
):
    """Run ONE SQL statement over snapshot tables with automatic
    filter pushdown into the manifest planner: registers a FRESH
    pushdown-enabled relation per table name, runs the statement, and
    drops the views -- so the upstream one-slot readInfo cache (see
    :mod:`..sources.snapshot_batch`) is never shared across statements.
    ``tables`` maps view name -> table root, OR view name ->
    ``(root, {per-table reader kwargs})`` -- so one statement can join
    a table's head against its own ``as_of`` past (audit diffs) or mix
    per-table option filters; ``report_paths`` optionally maps view
    name -> scan-report JSON path; extra kwargs (``as_of``/``ref``/...)
    apply to every table (per-table kwargs win).

    Contract: if the statement scans the SAME view name more than once
    with heterogeneous predicates (a self-join where only one side is
    filtered), register the root under TWO names -- each name is its
    own relation, which sidesteps the upstream cache entirely.  The
    returned DataFrame re-plans its own pushdown on every action and
    stays correct under further ``.where``/``.select`` chaining.

    ``INSERT INTO <name> ...`` / ``INSERT OVERWRITE <name> ...``
    statements are supported when ``<name>`` is one of ``tables``: the
    source query runs with every OTHER table registered (pushdown
    intact), and the result commits to the target through the
    DataSource write path's atomic claim
    (:mod:`..sources.snapshot_write`).  Handled HERE rather than via
    ``CREATE TABLE ... USING snapshot_table`` because the shipped
    Spark 4.1 does not thread a catalog table's OPTIONS back to the
    Python DataSource at scan/write time (verified: the scan/write
    instance receives empty options), so catalog-registered Python DS
    tables cannot resolve their storage yet.  Returns a one-row frame
    ``(version, n_rows)`` recording the committed snapshot.

    ``UPDATE`` / ``DELETE FROM`` / ``MERGE INTO`` statements (the
    Iceberg-on-Spark row-level SQL surface) are likewise intercepted
    and routed to the engine's copy-on-write / merge-on-read
    machinery; see :func:`_run_dml_statement` for the grammar and the
    ``delete_approach`` / ``validate_cardinality`` options.  They
    return a one-row ``(version)`` frame (-1 = nothing matched, no
    commit)."""
    m = re.match(
        rf"\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_NAME_RX})\s+(.*)",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        kind, target, query = (
            m.group(1).upper(),
            _unquote_name(m.group(2)),
            m.group(3),
        )
        if target not in tables:
            raise ValueError(
                f"INSERT target {target!r} not in tables "
                f"{sorted(tables)}; snapshot_sql DML targets must be "
                "registered table names (optionally backtick-quoted)"
            )
        spec = tables[target]
        target_root = spec[0] if isinstance(spec, tuple) else spec
        sources = {k: v for k, v in tables.items() if k != target}
        clean = {k: v for k, v in kw.items() if k not in _DML_KW}
        out = snapshot_sql(spark, query, sources, report_paths, **clean)
        write_snapshot_table(
            spark,
            out,
            target_root,
            mode="append" if kind == "INTO" else "overwrite",
        )
        planner = LocalSnapshotPlanner.for_root(target_root)
        v = planner.current_version()
        meta = planner._read_manifest(v).get("metadata", {})
        return spark.createDataFrame(
            [(v, int(meta.get("n_rows", -1)))], "version long, n_rows long"
        )
    dml = _run_dml_statement(spark, sql, tables, report_paths, kw)
    if dml is not None:
        return dml
    reports = report_paths or {}
    try:
        for name, spec in tables.items():
            root, per_table = (
                spec if isinstance(spec, tuple) else (spec, {})
            )
            per = {
                k: v
                for k, v in {**kw, **per_table}.items()
                if k not in _DML_KW
            }
            if "columns" not in per:
                # projection inference: decode only the columns the
                # statement references (callers override with an
                # explicit columns= to force either way)
                per["columns"] = _infer_statement_columns(
                    sql, root, per
                )
            register_snapshot_view(
                spark,
                root,
                name,
                pushdown=True,
                report_path=reports.get(name),
                **per,
            )
        return spark.sql(sql)
    finally:
        # analysis is done: the plan holds the relations; dropping the
        # names keeps later queries off these single-use relations
        for name in tables:
            spark.catalog.dropTempView(name)
