"""The three benchmark workloads.

Each workload drives the package only through public functions and
has the same shape:

* ``prepare()`` -- make the seeded inputs (untimed, before set-up);
* ``warm_up(spark)`` -- the workload's own untimed set-up, after session
  start; the harness then runs ``WARM_PASSES`` untimed passes of the ops
  (``k`` = -1, ...), checked like timed ones;
* ``ops(spark, k)`` -- a generator of the ops of pass ``k``; each
  op is ``(op_id, cls, run, check)``: the harness times ``run()`` and
  calls ``check(result)`` afterwards, outside the timed interval;
* ``check(spark)`` -- correctness checks that need the whole timed
  phase, returning the ids of the ops they fail;
* ``summary(spark, ops)`` -- workload-specific numbers (rates, latency
  by operation class, space amplification).

Why these three: ``medallion_daily`` is the paper's own daily job and
the only load where ``sources.rest``, ``conform`` and ``jobs`` do the
work, with few large commits; ``table_ops`` is the only one with many
small commits beside reads, so the commit path, scan planning and the
streaming lifecycle carry its cost; ``registry_read`` makes no commits
at all and is where Catalyst, the Python UDF families and the
``workloads`` caches work -- the control for every snapshot-layer
change.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
from collections import Counter

import gen
from tracing import NULL_TRACER, stream_progress


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _bytes_under(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


class Workload:
    name = ""
    #: Untimed passes of the op mix before the timed pass.  The JVM keeps
    #: compiling through the first run of each op class: in eleven
    #: ``table_ops`` runs the first pass took 0-2 s longer than the second,
    #: by a different amount in each run, and across those runs the first
    #: pass's wall time spread 0.29 of its median, the second's 0.18.
    WARM_PASSES = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.wd = work_dir
        self.tracer = NULL_TRACER

    def prepare(self) -> None:
        pass

    def warm_up(self, spark) -> None:
        pass

    def ops(self, spark, k: int):
        raise NotImplementedError

    def check(self, spark) -> set[str]:
        return set()

    def summary(self, spark, ops: list[dict]) -> dict:
        return {}


# ---------------------------------------------------------------------------
# medallion_daily
# ---------------------------------------------------------------------------


class MedallionDaily(Workload):
    """Daily bronze -> silver -> gold loads of a synthetic brewery API on
    the snapshots backend, with reloads of earlier days."""

    name = "medallion_daily"
    # the size of the Open Brewery DB API: ~45 pages of 200 (BASELINE.md)
    ROWS_PER_DAY = 9_000
    # a choice: two new days and a reload make a pass of about ten seconds
    # on 4 cores
    DAYS_PER_PASS = 2
    FIRST_DAY = dt.date(2024, 1, 1)

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.loads: dict[str, list[str]] = {}  # day -> op ids that loaded it
        self.reloads: list[tuple[str, str, int]] = []  # (op id, day, silver version before)
        self.lake = f"{self.wd}/lake"

    def _load(self, spark, root: str, day: str):
        from docker_airflow_spark_minio_spark.jobs.pipeline import run_pipeline
        from docker_airflow_spark_minio_spark.metrics import RunMetrics
        from docker_airflow_spark_minio_spark.sources.rest import PaginatedRestSource

        src = PaginatedRestSource(f"{gen.BASE_URL}/{day}", per_page=200, max_retries=1,
                                  fetcher=gen.brewery_fetcher(self.seed, self.ROWS_PER_DAY))
        return run_pipeline(spark, src, f"{root}/bronze", f"{root}/wh",
                            sys_file_date=day, backend="snapshots", metrics=RunMetrics())

    def _tables(self, spark):
        from docker_airflow_spark_minio_spark.snapshots import SnapshotStore, SnapshotTableManager

        tm = SnapshotTableManager(spark, f"{self.lake}/wh")
        return (SnapshotStore(spark, tm.path("dw.tab_brewery")),
                SnapshotStore(spark, tm.path("dw.tab_brewery_summary")))

    def ops(self, spark, k):
        # the warm pass (k = -1) loads the two days before the first timed
        # day into the same lake, so the tables exist before the timed pass
        days = [(self.FIRST_DAY + dt.timedelta(days=self.DAYS_PER_PASS * k + j)).isoformat()
                for j in range(self.DAYS_PER_PASS)]
        for j, day in enumerate(days):
            op_id = f"p{k}-load{j}"
            self.loads.setdefault(day, []).append(op_id)
            yield op_id, "load", (lambda d=day: self._load(spark, self.lake, d)), None
        # reload the pass's first day: idempotent partition replacement
        silver, _ = self._tables(spark)
        op_id = f"p{k}-reload"
        self.loads[days[0]].append(op_id)
        self.reloads.append((op_id, days[0], silver.current_version()))
        yield op_id, "reload", (lambda: self._load(spark, self.lake, days[0])), None

    def check(self, spark):
        from pyspark.sql import functions as F

        silver, gold = self._tables(spark)
        bad: set[str] = set()
        s_df, g_df = silver.read(), gold.read()
        counts = {str(r[0]): r[1] for r in s_df.groupBy("sys_file_date").count().collect()}
        qtd: dict[str, dict] = {}
        for r in g_df.collect():
            qtd.setdefault(str(r["sys_file_date"]), {})[(r["brewery_type"], r["country"])] = r["qtd"]
        for day, op_ids in self.loads.items():
            want = gen.brewery_tallies(self.seed, day, self.ROWS_PER_DAY)
            if counts.get(day) != self.ROWS_PER_DAY or qtd.get(day) != want:
                bad.update(op_ids)

        def digest(df, day):
            # an order-free multiset digest of the day's rows
            h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))
            return df.where(F.col("sys_file_date") == F.lit(day).cast("date")).agg(
                F.count(F.lit(1)), F.sum(h)).collect()[0]

        for op_id, day, before in self.reloads:
            if digest(silver.read(as_of=before), day) != digest(s_df, day):
                bad.add(op_id)
        return bad

    def summary(self, spark, ops):
        silver, gold = self._tables(spark)
        rates = []
        for k in sorted({o["pass"] for o in ops}):
            sec = sum(o["seconds"] for o in ops if o["pass"] == k)
            n = sum(1 for o in ops if o["pass"] == k)
            rates.append(n * self.ROWS_PER_DAY / sec)
        roots = [silver.root, gold.root]
        live = sum(s.count_bytes() for s in (silver, gold))
        return {
            "pipeline.rows_per_s": _median(rates),
            "store.space_amp": sum(_bytes_under(r) for r in roots) / live,
            "snapshots.live_files": sum(
                s.metadata_table("files").count() for s in (silver, gold)),
        }


# ---------------------------------------------------------------------------
# table_ops
# ---------------------------------------------------------------------------


class TableOps(Workload):
    """A closed-loop mix of writes, reads, compaction and a stream tail
    on one hidden-partitioned snapshot table, checked against an
    in-harness key -> row model."""

    name = "table_ops"
    # table and op sizes, the layout and the key skew are choices (see
    # perfbench/NOTES.md): a small table whose every op is a separate commit
    INITIAL_ROWS = 2_000
    ROWS_PER_DAY = 500
    SCHEMA = "id BIGINT, ts TIMESTAMP, amt BIGINT, tag STRING"
    PARTITION_BY = ["days(ts)", "bucket(2, id)"]
    # zone maps on id let the SQL id-range reads skip files
    STATS_COLS = ["id", "amt", "ts"]
    # a merge before the warm pass: its second run was still 0.5-1.3 s slower
    # than its third, while every other class runs near its warm time from
    # its second run on
    WARM_UP = ("merge",)
    WRITES = {"append", "merge", "delete", "update"}
    READS = {"point_read", "range_read", "as_of_read", "sql_read"}
    DAY0 = dt.datetime(2024, 1, 1)

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.root, self.ckpt = f"{self.wd}/table", f"{self.wd}/table_ckpt"
        self.model: dict[int, tuple] = {}
        self.version_rows: dict[int, int] = {}
        self.max_id = 0

    def _ts(self, rng: random.Random, row_id: int) -> dt.datetime:
        day = row_id // self.ROWS_PER_DAY
        return self.DAY0 + dt.timedelta(days=day, seconds=rng.randrange(86_400))

    def _new_rows(self, rng, n, tag):
        rows = [(i, self._ts(rng, i), rng.randrange(100_000), tag)
                for i in range(self.max_id, self.max_id + n)]
        self.max_id += n
        return rows

    def _committed(self, v):
        if v is not None:
            self.version_rows[v] = len(self.model)

    def _keys(self, rng, n):
        return gen.recent_keys(rng, self.max_id, n, scale=self.ROWS_PER_DAY / 4)

    def warm_up(self, spark):
        from docker_airflow_spark_minio_spark.snapshots import SnapshotStore
        from docker_airflow_spark_minio_spark.streaming.table_source import ensure_registered

        ensure_registered(spark)
        self.store = SnapshotStore(spark, self.root)
        rng = random.Random(f"{self.seed}:initial")
        rows = self._new_rows(rng, self.INITIAL_ROWS, "i")
        self.v0 = self.store.write(spark.createDataFrame(rows, self.SCHEMA), mode="snapshot",
                                   partition_by=self.PARTITION_BY, stats_cols=self.STATS_COLS,
                                   bloom_cols=["id"])
        self.model.update((r[0], r[1:]) for r in rows)
        self._committed(self.v0)
        # the stream tail starts after the initial snapshot, so its replica
        # starts as that snapshot
        self.replica = Counter(rows)
        for j, cls in enumerate(self.WARM_UP):
            _, _, run, check = self._op(spark, cls, f"warm{j}")
            check(run())

    def ops(self, spark, k):
        for j, cls in enumerate(gen.table_ops_pass(self.seed, k)):
            yield self._op(spark, cls, f"p{k}-{j}-{cls}")

    def _op(self, spark, cls, op_id):
        """One op with its parameters drawn from the seed and position;
        ``check`` updates the model and compares reads with it."""
        from pyspark.sql import functions as F

        rng = random.Random(f"{self.seed}:{op_id}")
        store, model = self.store, self.model

        if cls == "append":
            rows = self._new_rows(rng, 100, "a")

            def run():
                return store.write(spark.createDataFrame(rows, self.SCHEMA), mode="append",
                                   partition_by=self.PARTITION_BY, stats_cols=self.STATS_COLS,
                                   bloom_cols=["id"])

            def check(v):
                model.update({r[0]: r[1:] for r in rows})
                self._committed(v)
        elif cls == "merge":
            keys = [k for k in self._keys(rng, 40) if k in model]
            rows = [(k, model[k][0], rng.randrange(100_000), "m") for k in keys]
            rows += self._new_rows(rng, 10, "m")

            def run():
                return store.merge_into(
                    spark.createDataFrame(rows, self.SCHEMA), on="target.id = source.id",
                    matched=[("update", None, {"amt": "source.amt", "tag": "source.tag"})],
                    not_matched=[("insert", None, None)])

            def check(v):
                model.update({r[0]: r[1:] for r in rows})
                self._committed(v)
        elif cls in ("delete", "update"):
            keys = self._keys(rng, 20)

            def run():
                cond = F.col("id").isin(keys)
                if cls == "delete":
                    return store.delete_where(cond)
                return store.update_where(cond, {"amt": F.col("amt") + 1, "tag": F.lit("u")})

            def check(v):
                for key in keys:
                    if key in model:
                        if cls == "delete":
                            del model[key]
                        else:
                            ts, amt, _ = model[key]
                            model[key] = (ts, amt + 1, "u")
                self._committed(v)
        elif cls == "point_read":
            keys = self._keys(rng, 8)

            def run():
                return store.read(point_filter={"id": keys}).collect()

            def check(rows):
                got = sorted((r["id"], r["amt"], r["tag"]) for r in rows)
                want = sorted((k, model[k][1], model[k][2]) for k in keys if k in model)
                if got != want:
                    raise AssertionError(f"point read {got[:3]} != {want[:3]}")
        elif cls == "range_read":
            hi_day = (self.max_id - 1) // self.ROWS_PER_DAY - int(rng.expovariate(0.5))
            lo = self.DAY0 + dt.timedelta(days=hi_day - 1)
            hi = self.DAY0 + dt.timedelta(days=hi_day + 1)

            def run():
                return store.read(range_filter=("ts", lo, hi)).agg(
                    F.count(F.lit(1)), F.sum("id")).collect()[0]

            def check(row):
                ids = [k for k, (ts, _, _) in model.items() if lo <= ts <= hi]
                if (row[0], row[1] or 0) != (len(ids), sum(ids)):
                    raise AssertionError(f"range read {tuple(row)} != {(len(ids), sum(ids))}")
        elif cls == "as_of_read":
            v = rng.choice(sorted(self.version_rows))

            def run():
                return store.read(as_of=v).count()

            def check(n):
                if n != self.version_rows[v]:
                    raise AssertionError(f"as_of {v}: {n} != {self.version_rows[v]}")
        elif cls == "sql_read":
            from docker_airflow_spark_minio_spark.streaming.table_source import snapshot_sql

            b = max(0, self.max_id - 1 - int(rng.expovariate(1 / self.ROWS_PER_DAY)))
            a = max(0, b - 200)

            # the scan report costs a re-plan, so only a traced run asks for it
            report = f"{self.wd}/sql_report.json" if self.tracer.enabled else None

            def run():
                return snapshot_sql(
                    spark, f"SELECT count(*) AS n, sum(amt) AS s FROM t "
                           f"WHERE id BETWEEN {a} AND {b}", {"t": self.root},
                    report_paths={"t": report} if report else None).collect()[0]

            def check(row):
                if report:
                    with open(report) as fh:
                        rep = json.load(fh)
                    # partition pruning skips whole directories before any
                    # file is listed; each counts as one skipped file
                    self.tracer.add("sql.files_skipped",
                                    rep["n_dirs_skipped"] + rep["n_files_skipped"])
                    self.tracer.add("sql.files_total",
                                    rep["n_dirs_skipped"] + rep["n_files_total"])
                amts = [model[k][1] for k in range(a, b + 1) if k in model]
                if (row["n"], row["s"] or 0) != (len(amts), sum(amts)):
                    raise AssertionError(f"sql read {tuple(row)} != {(len(amts), sum(amts))}")
        elif cls == "compact":
            def run():
                return store.compact()

            check = self._committed
        elif cls == "stream_tail":
            def run():
                batches = []

                def sink(df, batch_id):
                    batches.append(df.select("id", "ts", "amt", "tag", "_change_type",
                                             "_commit_version").collect())

                q = (spark.readStream.format("snapshot_table").option("mode", "changelog")
                     .option("startingversion", str(self.v0)).load(self.root).writeStream.foreachBatch(sink)
                     .option("checkpointLocation", self.ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                return batches, stream_progress(q)

            def check(out):
                batches, progress = out
                for k, v in progress.items():
                    self.tracer.add(k, v)
                changes = sorted((r["_commit_version"], r["_change_type"] != "delete",
                                  (r["id"], r["ts"], r["amt"], r["tag"]))
                                 for rows in batches for r in rows)
                for _, insert, row in changes:
                    self.replica[row] += 1 if insert else -1
                    if not self.replica[row]:
                        del self.replica[row]
                want = Counter((k, *v) for k, v in model.items())
                if self.replica != want:
                    diff = (self.replica - want) + (want - self.replica)
                    raise AssertionError(f"stream replica differs on {len(diff)} rows")
        else:
            raise ValueError(cls)
        return op_id, cls, run, check

    def summary(self, spark, ops):
        def p50(classes):
            return _median([o["seconds"] for o in ops if o["class"] in classes])

        return {
            "table.write_p50_s": p50(self.WRITES),
            "table.read_p50_s": p50(self.READS),
            "stream.catchup_p50_s": p50({"stream_tail"}),
            "store.space_amp": _bytes_under(self.root) / self.store.count_bytes(),
            "snapshots.live_files": self.store.metadata_table("files").count(),
        }


# ---------------------------------------------------------------------------
# registry_read
# ---------------------------------------------------------------------------

#: Read-only registry entries (no snapshot table, stream or scratch root):
#: SQL aggregation, join and window entries, and the Python-UDF families
#: (dedup, graph, ANN, sketch, text, UDTF) whose entries form the latency
#: tail.  All 153 read-only entries take ~146 s per fresh pass on 4 cores,
#: which does not fit the per-run time budget, so the layout, multimodal,
#: pipeline, scan, setop, sql, timeseries and topk categories are left out.
REGISTRY_ENTRIES = (
    "q1_pricing_summary",            # aggregation
    "curation_quality_classifier",   # curation
    "dedup_simhash_clusters",        # dedup
    "dedup_minhash_lsh_pairs",       # dedup: shares its pair cache with graph_triangles_neardup
    "dq_expectations_orders",        # etl
    "graph_triangles_neardup",       # graph
    "q5_local_supplier_volume",      # join
    "ann_ivf_topk",                  # similarity
    "sketch_hll_distinct_bound",     # sketch
    "pandas_udf_bpe_tokens",         # text
    "udtf_repeated_tokens",          # udtf
    "window_rank_family",            # window
)
#: Warm-up entries, outside the timed set: two SQL entries and a pandas-UDF
#: entry, so the first timed Python-UDF entry does not pay the Python
#: workers' start.
WARM_UP_ENTRIES = ("q6_revenue_change", "text_token_stats_by_lang",
                   "pandas_grouped_minmax_norm")
REGISTRY_SF = 0.01
#: The registry tables are one fixed data set, like a benchmark's scale
#: factor; the seed chooses the order of the entries.  Data drawn from the
#: seed would change the near-duplicate pairs and ANN clusters the slowest
#: entries work on, so the pass would do different work from seed to seed.
REGISTRY_DATA_SEED = 42


class RegistryRead(Workload):
    """Read-only registry entries in a seed-chosen order, each collected
    to the driver and checked against its DuckDB oracle.

    Collecting (rather than a ``noop`` write and a second run for the
    check) lets the check compare the very output that was timed, at half
    the cost."""

    name = "registry_read"
    # a warm pass would build the entries' shared caches and plans before
    # the timed pass, which would then time cache hits only; the warm-up
    # runs entries outside the timed set instead
    WARM_PASSES = 0

    def prepare(self):
        self.sf_dir = f"{self.wd}/sf{REGISTRY_SF}"
        gen.write_tables(self.sf_dir, REGISTRY_SF, REGISTRY_DATA_SEED)

    def _collect(self, spark, name):
        from docker_airflow_spark_minio_spark.workloads import REGISTRY

        return REGISTRY[name].fn(spark, self.sf_dir).toPandas()

    def warm_up(self, spark):
        for name in WARM_UP_ENTRIES:
            self._collect(spark, name)

    def _check(self, name, sdf):
        import oracle_check

        from docker_airflow_spark_minio_spark.workloads import REGISTRY

        if self.tracer.enabled:
            self.tracer.add_max("cache.pinned_rdds", self.tracer.engine.persistent_rdds())
        oracle = REGISTRY[name].oracle
        if not oracle:
            return
        con = oracle_check.duck_connection(self.sf_dir)
        try:
            problems = oracle_check.compare(name, sdf, con.execute(oracle).df())
        finally:
            con.close()
        if problems:
            raise AssertionError(f"{name}: {problems[:3]}")

    def ops(self, spark, k):
        # the warm-up loads the tables but builds none of the entries' shared
        # caches, so the first pass builds each cache once and reuses it
        for j, name in enumerate(gen.registry_order(self.seed * 1000 + k, list(REGISTRY_ENTRIES))):
            yield (f"p{k}-{j}-{name}", name, (lambda name=name: self._collect(spark, name)),
                   (lambda sdf, name=name: self._check(name, sdf)))


WORKLOADS = {w.name: w for w in (MedallionDaily, TableOps, RegistryRead)}
