"""Persist-cache lifecycle: a session sweeping several scale factors must
not accumulate pinned executor storage (round-3 ADVICE: the module-level
persist caches were unbounded and never unpersisted).

Rules under test (workloads/base.py PersistCache):
 * switching sf_dir evicts + unpersists the previous sf_dir's entries
   for the same application -- pinned RDD count does not grow with the
   number of scale factors visited;
 * clear_persist_caches() releases everything.
"""

from __future__ import annotations

from docker_airflow_spark_minio_spark.workloads import base
from docker_airflow_spark_minio_spark.workloads.dedup import _shingles, _verified_pairs

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_sf_switch_evicts_previous_sf(spark):
    base.clear_persist_caches()
    baseline = _n_persisted(spark)

    _shingles(spark, SF_A).count()
    _verified_pairs(spark, SF_A).count()
    after_a = _n_persisted(spark)
    assert after_a > baseline  # the caches really persist something

    # Same sf again: cache hit, no new pinned RDDs.
    _shingles(spark, SF_A).count()
    assert _n_persisted(spark) == after_a

    # New sf for the same application: old entries unpersisted, so the
    # pinned count stays flat instead of doubling.
    _shingles(spark, SF_B).count()
    _verified_pairs(spark, SF_B).count()
    assert _n_persisted(spark) <= after_a

    # And back: still flat -- no growth across an arbitrary sweep.
    _shingles(spark, SF_A).count()
    _verified_pairs(spark, SF_A).count()
    assert _n_persisted(spark) <= after_a


def test_clear_persist_caches_releases_everything(spark):
    _shingles(spark, SF_A).count()
    assert _n_persisted(spark) > 0
    base.clear_persist_caches()
    assert _n_persisted(spark) == 0


def test_table_plan_cache_is_bounded(spark):
    base.clear_persist_caches()
    # 12 DISTINCT cache keys (trailing slashes: same data, new key), so
    # the eviction loop actually fires -- removing the bound must fail
    # this test, not pass it vacuously.
    for i in range(12):
        base.load_tables(spark, SF_A + "/" * i)
    assert len(base._TABLE_CACHE) <= 8


def test_parquet_plan_memo_threaded_get_evict(spark, tmp_path, monkeypatch):
    """The session-wide relation memo is read, LRU-bumped, evicted and
    cleared from several threads at once (a threaded harness plus
    clear_persist_caches): no access may race another, and a relation
    is only ever served to the session that built it."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from docker_airflow_spark_minio_spark import snapshots
    from docker_airflow_spark_minio_spark.snapshots import SnapshotStore

    paths = []
    for i in range(6):
        d = tmp_path / f"d{i}"
        d.mkdir()
        pq.write_table(pa.table({"x": [i]}), str(d / "part-0.parquet"))
        paths.append(str(d))
    declared = T.StructType([T.StructField("x", T.LongType())])
    store = SnapshotStore(spark, str(tmp_path / "t"))
    monkeypatch.setattr(snapshots, "_PQ_PLAN_MEMO_MAX", 2)

    errors: list[BaseException] = []

    def reader(seed: int) -> None:
        try:
            for j in range(24):
                p = paths[(seed + j) % len(paths)]
                df = store._read_parquet([p], declared=declared)
                assert df.schema == declared
        except BaseException as exc:  # noqa: BLE001 -- reported below
            errors.append(exc)

    def clearer() -> None:
        try:
            for _ in range(40):
                base.clear_persist_caches()
        except BaseException as exc:  # noqa: BLE001 -- reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=reader, args=(i,)) for i in range(8)
        ] + [threading.Thread(target=clearer)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(snapshots._PQ_PLAN_MEMO) <= 2

    # the session is part of the key: a sibling session builds its own
    other = SnapshotStore(spark.newSession(), str(tmp_path / "t"))
    mine = store._read_parquet([paths[0]], declared=declared)
    assert store._read_parquet([paths[0]], declared=declared) is mine
    assert other._read_parquet([paths[0]], declared=declared) is not mine
