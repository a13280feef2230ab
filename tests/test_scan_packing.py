"""Scan-task packing of the ``snapshot_table`` Python DataSource: both
planners build one scan task per data file and hand Spark at most one
input partition per core, each a contiguous, byte-balanced run of those
file tasks in plan order.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from docker_airflow_spark_minio_spark.snapshots import SnapshotStore
from docker_airflow_spark_minio_spark.sources.snapshot_batch import (
    SnapshotTableBatchReader,
    pack_runs,
)
from docker_airflow_spark_minio_spark.streaming.table_source import (
    SnapshotTableStreamReader,
    ensure_registered,
    snapshot_sql,
)

CORES = len(os.sched_getaffinity(0))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _File:
    def __init__(self, path):
        self.path = path


def _files(tmp_path, sizes):
    out = []
    for i, n in enumerate(sizes):
        p = tmp_path / f"f{i:03d}.parquet"
        p.write_bytes(b"x" * n)
        out.append(_File(str(p)))
    return out


def test_pack_runs_contiguous_and_byte_balanced(tmp_path):
    assert pack_runs([]) == []
    one = _files(tmp_path, [10])
    assert [r.tasks for r in pack_runs(one)] == [one]
    # equal sizes: runs differ by at most one file
    files = _files(tmp_path, [100] * (3 * CORES + 1))
    runs = pack_runs(files)
    assert len(runs) == CORES
    assert [t for r in runs for t in r.tasks] == files  # order kept
    sizes = [len(r.tasks) for r in runs]
    assert max(sizes) - min(sizes) <= 1
    # one fat file leads: it gets a run to itself, the rest share
    fat = _files(tmp_path, [100_000] + [100] * (2 * CORES))
    runs = pack_runs(fat)
    assert len(runs) == min(len(fat), CORES)
    assert runs[0].tasks == fat[:1]
    assert [t for r in runs for t in r.tasks] == fat
    # fewer files than cores: one file per run
    few = _files(tmp_path, [5] * max(CORES - 1, 1))
    assert [r.tasks for r in pack_runs(few)] == [[f] for f in few]


@pytest.fixture()
def many_files(spark, tmp_path):
    """v0: one commit of 3 x cores + 1 files; v1: a positional delete."""
    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    n_files = 3 * CORES + 1
    s.write(
        spark.range(0, 40 * n_files, 1, n_files).selectExpr(
            "id AS k", "id * 2 AS v"
        ),
        mode="snapshot",
    )
    s.delete_where(F.expr("k % 7 = 0"))  # positional set by default
    ensure_registered(spark)
    return s, root, n_files


def _max_tasks(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    return max(
        st.getStageInfo(sid).numTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
    )


def test_changelog_stream_packs_files_into_core_runs(many_files, tmp_path):
    s, root, n_files = many_files
    spark = s.spark
    reader = SnapshotTableStreamReader(root, {"mode": "changelog"})
    files = reader._version_tasks(0) + reader._version_tasks(1)
    assert len(reader._version_tasks(0)) >= n_files
    runs = reader.partitions({"version": -1}, {"version": 1})
    assert len(runs) <= CORES
    assert [t for r in runs for t in r.tasks] == files

    rows: list[tuple] = []

    def sink(b, batch_id):
        b.sparkSession.sparkContext.setJobGroup("pack_stream", "tail")
        rows.extend(
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in b.collect()
        )

    q = (
        spark.readStream.format("snapshot_table")
        .option("mode", "changelog")
        .load(root)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = 40 * n_files
    assert sorted(rows) == sorted(
        [(k, "insert", 0) for k in range(n)]
        + [(k, "delete", 1) for k in range(0, n, 7)]
    )
    assert _max_tasks(spark, "pack_stream") <= CORES


def test_snapshot_sql_packs_files_into_core_runs(many_files):
    s, root, n_files = many_files
    spark = s.spark
    runs = SnapshotTableBatchReader(root, {}).partitions()
    assert len(runs) <= CORES
    assert sum(len(r.tasks) for r in runs) >= n_files
    sc = spark.sparkContext
    sc.setJobGroup("pack_sql", "scan")
    try:
        got = snapshot_sql(spark, "SELECT k, v FROM t", {"t": root})
        got = got.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = 40 * n_files
    assert sorted((r["k"], r["v"]) for r in got) == [
        (k, 2 * k) for k in range(n) if k % 7
    ]
    assert _max_tasks(spark, "pack_sql") <= CORES


def test_table_source_import_skips_pandas_and_builders():
    """Spark unpickles the source in a fresh interpreter per stream
    start: importing it must not drag in pandas or every builder, and
    the package's builder exports still resolve on access."""
    code = (
        "import sys\n"
        "import docker_airflow_spark_minio_spark.streaming.table_source\n"
        "assert 'pandas' not in sys.modules, 'pandas imported'\n"
        "from docker_airflow_spark_minio_spark.streaming import (\n"
        "    dedup_stream, running_totals)\n"
        "assert callable(dedup_stream) and callable(running_totals)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_scan_pruned_to_no_files_is_empty(spark, tmp_path):
    """A plan with no surviving file has no runs; Spark then reads one
    ``None`` partition, which must yield nothing rather than fail."""
    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(
        spark.range(0, 20).selectExpr("id AS k", "id % 2 AS g"),
        mode="snapshot",
        partition_by=["g"],
    )
    ensure_registered(spark)
    opts = {"point_filter": '{"g": 9}'}
    assert SnapshotTableBatchReader(root, opts).partitions() == []
    for g, n in ((9, 0), (1, 10)):
        sql = f"SELECT k FROM t WHERE g = {g}"
        assert snapshot_sql(spark, sql, {"t": root}).count() == n
