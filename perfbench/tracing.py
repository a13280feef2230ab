"""Traced-run collectors: spans, counts and engine metrics per op.

A traced run installs thin wrappers around public functions of the
package (from this file, never inside the package), tags each op's Spark
jobs with a job group, and after each op reads what the engine recorded:

* :class:`EngineReader` -- the JVM status store (jobs and stages) and the
  SQL status store (the ``python*`` SQL metrics), after draining the
  listener bus so every finished task has been counted;
* :func:`stream_progress` -- streaming query progress of one stream tail;
* :meth:`Tracer.install` -- the public-function wrappers.

Spans live in memory as ``(name, start, end, parent, op)`` and are
written once, with the per-op records, when the run ends.  An untraced
run uses :data:`NULL_TRACER`, whose hooks do nothing.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric display names (Spark 4.1 PythonSQLMetrics) -> layer metric.
PYTHON_SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE_RE = re.compile(r"^\s*([0-9.]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float | None:
    """Total of a formatted SQL metric (``"total (min, med, max ...)\\n
    9.0 s (2.1 s, ...)"`` or a bare ``"12.3 MiB"``), in seconds or
    bytes."""
    m = _VALUE_RE.match(text.strip().splitlines()[-1])
    if not m:
        return None
    num, unit = float(m.group(1)), m.group(2)
    scale = _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit))
    return None if scale is None else num * scale


def _opt(o):
    """A Scala ``Option`` as a Python value (None when empty)."""
    return o.get() if o.isDefined() else None


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EngineReader:
    """Reads per-op Spark job, stage and SQL metrics from the JVM."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._last_exec = 0
        # accumulator id -> value already counted: a cached plan's metrics
        # reappear in every execution that reads the cache, so only the
        # growth since the last reading is new work
        self._acc_seen: dict[int, float] = {}

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event."""
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget everything recorded so far: the next :meth:`collect`
        reports only jobs and executions started after this call."""
        self.drain()
        jobs = self._store.jobsList(None)
        self._last_job = jobs.apply(0).jobId() if jobs.length() else -1
        self._last_exec = self._sql.executionsCount()

    def collect(self) -> tuple[dict, list[tuple[float, float]]]:
        """Engine metrics of the jobs since :meth:`mark`, and each job's
        ``(submitted, completed)`` epoch seconds."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        intervals = []
        jobs = self._store.jobsList(None)  # newest first
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            out["spark.jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.length()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(k))
                except Exception:  # noqa: BLE001 -- stage never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.output_bytes"] += st.outputBytes()
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["spark.job_busy_s"] = _union_seconds(intervals)
        n_exec = self._sql.executionsCount()
        if n_exec > self._last_exec:
            execs = self._sql.executionsList(self._last_exec, n_exec - self._last_exec)
            for i in range(execs.length()):
                self._add_python_metrics(execs.apply(i), out)
        return dict(out), intervals

    def _add_python_metrics(self, execution, out: dict) -> None:
        values = self._sql.executionMetrics(execution.executionId())
        metrics = execution.metrics()
        for k in range(metrics.length()):
            m = metrics.apply(k)
            name = PYTHON_SQL_METRICS.get(m.name())
            if name is None:
                continue
            acc = m.accumulatorId()
            text = _opt(values.get(acc))
            value = parse_sql_metric(text) if text else None
            if value is not None and value > self._acc_seen.get(acc, 0.0):
                out[name] += value - self._acc_seen.get(acc, 0.0)
                self._acc_seen[acc] = value

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def stream_progress(query) -> dict:
    """Batches, rows and in-batch seconds of one finished stream run."""
    batches = rows = 0
    batch_s = 0.0
    for p in query.recentProgress:
        batches += 1
        rows += p.numInputRows
        batch_s += p.durationMs.get("triggerExecution", 0) / 1e3
    return {"stream.batches": batches, "stream.rows": rows, "stream.batch_s": batch_s}


def tree_files(root: str) -> dict[str, int]:
    """``{relative path: bytes}`` of every data file under a table root
    (manifests excluded)."""
    out = {}
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel.split(os.sep)[0] == "_manifests":
            continue
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class NullTracer:
    """Hooks of an untraced run: all no-ops."""

    enabled = False

    @contextmanager
    def op(self, op_id: str, cls: str):
        yield

    def add(self, name: str, value: float) -> None:
        pass

    def add_max(self, name: str, value: float) -> None:
        pass


NULL_TRACER = NullTracer()

# Mutating SnapshotStore methods: their outermost call is one commit.
_COMMIT_METHODS = ("write", "merge_into", "delete_where", "update_where",
                   "compact", "delete_positions", "delete_keys")
_STORE_SPANS = {"merge_into": "snapshots.merge", "delete_where": "snapshots.delete",
                "update_where": "snapshots.update", "compact": "snapshots.compact",
                "read": "snapshots.read", "plan_files": "snapshots.plan"}


class Tracer:
    """Spans, counts and per-op engine metrics of one traced pass."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.engine = EngineReader(spark)
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._op_id: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": stack[-1] if stack else None, "op": self._op_id})
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, value: float) -> None:
        self.counts[name] += value

    def add_max(self, name: str, value: float) -> None:
        self.counts[name] = max(self.counts[name], value)

    @contextmanager
    def op(self, op_id: str, cls: str):
        """One op: a root span, its Spark jobs grouped under ``op_id``,
        and the engine metrics read back when it ends."""
        sc = self.spark.sparkContext
        self.engine.mark()
        self._op_id = op_id
        sc.setJobGroup(op_id, f"{cls} {op_id}")
        try:
            with self.span("op") as root:
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op_id = None
            metrics, intervals = self.engine.collect()
            wall = root["end"] - root["start"]
            metrics["driver_s"] = wall - metrics.get("spark.job_busy_s", 0.0)
            self._attribute_commit_jobs(op_id, intervals)
            self.ops.append({"op": op_id, "class": cls, "wall_s": wall, **metrics})

    def _attribute_commit_jobs(self, op_id: str, intervals) -> None:
        for s in self.spans:
            if s["op"] == op_id and s.get("commit"):
                s["jobs"] = sum(1 for a, _ in intervals if s["start"] <= a <= s["end"])

    # -- public-function wrappers ---------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, name: str, after=None):
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name) as s:
                    out = orig(*args, **kwargs)
                    if after is not None:
                        after(s, out, args, kwargs)
                    return out

            wrapper.__wrapped__ = orig
            return wrapper

        return make

    def _store_method(self, method: str):
        tracer = self
        name = _STORE_SPANS.get(method, f"snapshots.{method}")
        committing = method in _COMMIT_METHODS

        def make(orig):
            def wrapper(store, *args, **kwargs):
                outer = committing and not getattr(tracer._local, "in_commit", False)
                before = tree_files(store.root) if outer else None
                if outer:
                    tracer._local.in_commit = True
                try:
                    with tracer.span(name) as s:
                        out = orig(store, *args, **kwargs)
                finally:
                    if outer:
                        tracer._local.in_commit = False
                if outer and isinstance(out, int):
                    new = {p: b for p, b in tree_files(store.root).items() if p not in before}
                    s.update(commit=True, files=len(new), bytes=sum(new.values()))
                    if method == "compact":
                        tracer.add("snapshots.compact_bytes_rewritten", s["bytes"])
                if method == "plan_files":
                    tracer.add("snapshots.files_skipped", out[2])
                    tracer.add("snapshots.files_total", out[3])
                return out

            wrapper.__wrapped__ = orig
            return wrapper

        return make

    def install(self) -> None:
        """Wrap the package's public functions; :meth:`uninstall` undoes it."""
        import sys

        from docker_airflow_spark_minio_spark.jobs import pipeline
        from docker_airflow_spark_minio_spark.snapshots import SnapshotStore
        from docker_airflow_spark_minio_spark.sources.rest import PaginatedRestSource
        from docker_airflow_spark_minio_spark.streaming import table_source
        from docker_airflow_spark_minio_spark.workloads import base

        def bronze_rows(s, out, args, kwargs):
            self.add("rest.bronze_rows", out)

        def pages(s, out, args, kwargs):
            self.add("rest.pages", out)

        def silver_phases(s, out, args, kwargs):
            m = kwargs.get("metrics")
            if m is not None:
                s["silver_read_s"] = m.timings.get("read", 0.0)
                s["silver_write_s"] = m.timings.get("transform_write", 0.0)

        self._patch(PaginatedRestSource, "write_bronze", self._timed("rest.bronze", bronze_rows))
        self._patch(PaginatedRestSource, "total_pages", self._timed("rest.meta", pages))
        self._patch(pipeline, "run_silver", self._timed("jobs.silver", silver_phases))
        self._patch(pipeline, "run_gold", self._timed("jobs.gold"))
        for method in set(_COMMIT_METHODS) | set(_STORE_SPANS):
            self._patch(SnapshotStore, method, self._store_method(method))
        self._patch(table_source, "snapshot_sql", self._timed("sql.query"))

        def make_cache(orig):
            def wrapper(cache, *args, **kwargs):
                # the public build-seconds ledger tells a build (miss) from
                # a lookup (hit) without reading the cache's entries
                before = base.CACHE_BUILD_SECONDS.get(cache.name, 0.0)
                with self.span("cache.get_or_build"):
                    out = orig(cache, *args, **kwargs)
                built = base.CACHE_BUILD_SECONDS.get(cache.name, 0.0) - before
                self.add("cache.misses" if built > 0 else "cache.hits", 1)
                self.add("cache.build_s", built)
                return out

            return wrapper

        self._patch(base.PersistCache, "get_or_build", make_cache)
        # every workloads module imported load_tables by name
        orig_load = base.load_tables
        load = self._timed("workloads.load_tables")(orig_load)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("docker_airflow_spark_minio_spark") \
                    and getattr(mod, "load_tables", None) is orig_load:
                self._restore.append((mod, "load_tables", orig_load))
                setattr(mod, "load_tables", load)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- report ----------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - _union_seconds(children[i])
        return dict(out)

    def span_total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def layer_metrics(self) -> dict[str, float]:
        """Pass totals of every span- and engine-derived layer metric."""
        out: dict[str, float] = defaultdict(float)
        for op in self.ops:
            for k, v in op.items():
                if k.startswith(("spark.", "python.")) or k == "driver_s":
                    out[k] += v
        commits = [s for s in self.spans if s.get("commit")]
        n = len(commits)
        out["snapshots.commits"] = n
        out["snapshots.commit_s"] = sum(s["end"] - s["start"] for s in commits)
        out["snapshots.jobs_per_commit"] = sum(s.get("jobs", 0) for s in commits) / n if n else 0.0
        out["snapshots.files_per_commit"] = sum(s["files"] for s in commits) / n if n else 0.0
        out["snapshots.bytes_per_commit"] = sum(s["bytes"] for s in commits) / n if n else 0.0
        for metric, span in (("snapshots.merge_s", "snapshots.merge"),
                             ("snapshots.delete_s", "snapshots.delete"),
                             ("snapshots.update_s", "snapshots.update"),
                             ("snapshots.compact_s", "snapshots.compact"),
                             ("snapshots.read_s", "snapshots.read"),
                             ("snapshots.plan_s", "snapshots.plan"),
                             ("rest.bronze_s", "rest.bronze"),
                             ("jobs.silver_s", "jobs.silver"),
                             ("jobs.gold_s", "jobs.gold"),
                             ("workloads.load_tables_s", "workloads.load_tables")):
            out[metric] = self.span_total(span)
        silver = [s for s in self.spans if s["name"] == "jobs.silver"]
        out["jobs.silver_read_s"] = sum(s.get("silver_read_s", 0.0) for s in silver)
        out["jobs.silver_write_s"] = sum(s.get("silver_write_s", 0.0) for s in silver)
        for k, v in self.counts.items():
            out[k] += v
        for layer in ("snapshots", "sql"):
            total = self.counts.get(f"{layer}.files_total", 0)
            out[f"{layer}.files_skipped_frac"] = (
                self.counts.get(f"{layer}.files_skipped", 0) / total if total else 0.0)
        return dict(out)
