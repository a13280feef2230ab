"""SQL-queryable snapshot tables: the batch half of the
``snapshot_table`` Python DataSource (``sources/snapshot_batch.py``).

Covers (1) bit-for-bit pins of the pure-Python JVM twins the Spark-less
planner relies on (xxhash64, Hive path escaping, partition transforms),
(2) SQL-path == API-path result parity across the table features
(hidden partitioning, MoR deletes both kinds, field-id schema
evolution, time travel), and (3) pruning assertions THROUGH the SQL
path via the planner's scan report.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from docker_airflow_spark_minio_spark.snapshots import SnapshotStore
from docker_airflow_spark_minio_spark.sources.snapshot_batch import (
    LocalSnapshotPlanner,
    escape_path_name,
    eval_transform_pure,
    xxhash64_bytes,
    xxhash64_int,
    xxhash64_long,
)
from docker_airflow_spark_minio_spark.streaming.table_source import (
    read_snapshot_table,
    register_snapshot_view,
    snapshot_sql,
)


def _by_name(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(
        df.select(*cols).collect(), key=lambda r: tuple(str(v) for v in r)
    )


# ---------------------------------------------------------------------------
# pure-twin pins vs the JVM
# ---------------------------------------------------------------------------


def test_xxhash64_pins_vs_jvm(spark):
    longs = [0, 1, -1, 42, 2**63 - 1, -(2**63), 123456789012345, -987654]
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    jvm = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    assert [xxhash64_long(v) for v in longs] == jvm

    ints = [0, 1, -1, 42, 2**31 - 1, -(2**31), 19724]
    df = spark.createDataFrame([(v,) for v in ints], "v int")
    jvm = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    assert [xxhash64_int(v) for v in ints] == jvm

    strs = ["", "a", "abc", "hello world", "x" * 31, "y" * 32, "z" * 100,
            "日本語テキスト", "k-0042"]
    df = spark.createDataFrame([(s,) for s in strs], "v string")
    jvm = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    assert [xxhash64_bytes(s.encode("utf-8")) for s in strs] == jvm

    # DateType hashes as its day-count int lane
    d = datetime.date(2024, 1, 2)
    df = spark.createDataFrame([(d,)], "v date")
    assert xxhash64_int((d - datetime.date(1970, 1, 1)).days) == (
        df.select(F.xxhash64("v")).collect()[0][0]
    )


def test_escape_path_name_pins_vs_jvm(spark):
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    probes = [chr(i) for i in range(1, 128)] + [
        "a b", "a/b", "100%", "x=y", "café", "日本", "tab\there",
        "[bracket]{brace}", "semi;comma,", "back\\slash",
    ]
    for s in probes:
        assert escape_path_name(s) == esc.escapePathName(s), repr(s)


def test_transform_twins_vs_spark(spark):
    """eval_transform_pure == the Catalyst _apply_transforms routing for
    every supported (kind, type) pair over adversarial values."""
    store = SnapshotStore(spark, "/tmp/__unused__")

    def jvm_eval(spec, value, ftype):
        m = {"schema": json.dumps(
            {"type": "struct",
             "fields": [{"name": spec["src"], "type": ftype,
                         "nullable": True, "metadata": {}}]})}
        # the Spark-job ground truth DIRECTLY: _eval_transform itself
        # now consults the pure twin first, which would make this
        # comparison vacuous
        return store._eval_transform_spark(spec, value, m)

    cases = [
        ({"kind": "bucket", "src": "c", "arg": 8}, "long",
         [0, 1, -1, 42, 10**15, -(2**40)]),
        ({"kind": "bucket", "src": "c", "arg": 16}, "integer",
         [0, 7, -7, 2**31 - 1]),
        ({"kind": "bucket", "src": "c", "arg": 8}, "string",
         ["", "k", "key-0042", "日本"]),
        ({"kind": "bucket", "src": "c", "arg": 4}, "date",
         [datetime.date(2024, 1, 2), datetime.date(1969, 12, 31)]),
        ({"kind": "truncate", "src": "c", "arg": 10}, "long",
         [0, 5, 10, 99, -1, -10, -11]),
        ({"kind": "truncate", "src": "c", "arg": 3}, "string",
         ["", "ab", "abcdef", "日本語テキスト"]),
        ({"kind": "years", "src": "c"}, "date",
         [datetime.date(1969, 6, 1), datetime.date(2024, 12, 31)]),
        ({"kind": "months", "src": "c"}, "date",
         [datetime.date(1969, 6, 1), datetime.date(2024, 2, 29)]),
        ({"kind": "days", "src": "c"}, "date",
         [datetime.date(1969, 12, 31), datetime.date(2024, 1, 2)]),
    ]
    for spec, ftype, values in cases:
        for v in values:
            assert eval_transform_pure(spec, v, ftype) == jvm_eval(
                spec, v, ftype
            ), (spec, ftype, v)


def test_transform_twin_refuses_cast_corner_cases():
    """Literals whose Catalyst cast semantics the twin cannot replicate
    must raise _TransformUnsupported (-> the Spark evaluator decides):
    out-of-range ints for narrow integral columns, and strings Python
    int() accepts but Spark's cast nulls (underscores, unicode digits).
    Advisor round 13."""
    from docker_airflow_spark_minio_spark.sources.snapshot_batch import (
        _TransformUnsupported,
    )

    spec = {"kind": "bucket", "src": "c", "arg": 8}
    refuse = [
        ("byte", 300), ("byte", -200),
        ("short", 1 << 20), ("integer", 1 << 33),
        ("long", 1 << 70),
        ("integer", "1_0"), ("long", "１２３"), ("integer", " 7"),
        ("integer", "7.0"), ("long", "0x10"),
    ]
    for ftype, v in refuse:
        with pytest.raises(_TransformUnsupported):
            eval_transform_pure(spec, v, ftype)
    # in-range values and plain ASCII digit strings still evaluate
    assert eval_transform_pure(spec, 127, "byte") == eval_transform_pure(
        spec, "127", "byte"
    )
    assert eval_transform_pure(spec, "-42", "integer") is not None


# ---------------------------------------------------------------------------
# SQL path == API path
# ---------------------------------------------------------------------------


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("L"), (F.col("id") % 3).cast("string")).alias("lang"),
        (F.col("id") * 2).alias("amt"),
    )
    s = SnapshotStore(spark, root)
    s.write(df, mode="snapshot", partition_by=["lang", "bucket(8, doc_id)"],
            stats_cols=["amt"], bloom_cols=["doc_id"])
    return s, root


def test_snapshot_sql_pushdown_prunes(spark, table, tmp_path):
    s, root = table
    rep = str(tmp_path / "rep.json")
    out = snapshot_sql(
        spark,
        "SELECT doc_id, lang, amt FROM snap_t WHERE doc_id = 57",
        {"snap_t": root},
        report_paths={"snap_t": rep},
    ).collect()
    assert [(r["doc_id"], r["lang"], r["amt"]) for r in out] == [
        (57, "L0", 114)
    ]
    report = json.load(open(rep))
    assert report["pushed_points"] == {"doc_id": [57]}
    assert report["n_files_skipped"] > 0
    assert report["n_tasks"] < report["n_files_total"]
    # the single-use view was dropped
    assert not any(
        t.name == "snap_t" for t in spark.catalog.listTables()
    )

    # full-table parity with the API path (schema-faithful types)
    sql_df = read_snapshot_table(spark, root)
    api_df = s.read()
    assert _by_name(sql_df) == _by_name(api_df)


def test_view_option_filters_prune_and_stay_exact(spark, table, tmp_path):
    """The safe shared-view pruning path: explicit option filters prune
    files AND the tasks apply them row-exactly, on every scan."""
    s, root = table
    rep = str(tmp_path / "rep.json")
    register_snapshot_view(
        spark, root, "t_opt",
        point_filter={"doc_id": [3, 17, 55]}, report_path=rep,
    )
    for _ in range(2):  # repeated scans of the SAME view stay correct
        got = sorted(
            r["doc_id"] for r in spark.sql("SELECT doc_id FROM t_opt").collect()
        )
        assert got == [3, 17, 55]
    report = json.load(open(rep))
    assert report["n_files_skipped"] > 0
    register_snapshot_view(
        spark, root, "t_rng", range_filter=[("amt", 200, 220)],
    )
    got = sorted(r["amt"] for r in spark.sql("SELECT amt FROM t_rng").collect())
    assert got == [200, 202, 204, 206, 208, 210, 212, 214, 216, 218, 220]


def test_upstream_one_slot_cache_hazard(spark, table):
    """PINS the upstream Spark 4.1 defect that makes automatic
    pushdown unsafe on SHARED relations: PythonDataSourceV2 keeps one
    mutable readInfo, the pushdown path overwrites it, and a later
    scan with no pushable filter serves the stale pruned plan.  When
    an upstream fix lands this test FAILS -- then drop the single-use
    restriction on pushdown (see sources/snapshot_batch.py docstring
    and snapshot_sql)."""
    s, root = table
    df = read_snapshot_table(spark, root, pushdown=True)
    assert df.count() == 120
    assert df.where(F.col("doc_id") == 57).count() == 1
    stale = df.count()  # correct would be 120; upstream serves 1-file plan
    assert stale < 120, (
        "upstream one-slot readInfo cache appears FIXED: relax the "
        "pushdown single-use restriction in snapshot_batch/snapshot_sql"
    )


def test_sql_join_agg_over_two_views(spark, table, tmp_path):
    """The reference's consumption shape: SQL join+agg over snapshot
    tables, with pushdown through snapshot_sql."""
    s, root = table
    dim_root = str(tmp_path / "dim")
    dim = spark.createDataFrame(
        [("L0", "english"), ("L1", "french"), ("L2", "german")],
        "lang string, lang_name string",
    )
    SnapshotStore(spark, dim_root).write(dim, mode="snapshot")
    got = {
        (r["lang_name"], r["n"], r["s"])
        for r in snapshot_sql(
            spark,
            """
            SELECT d.lang_name, COUNT(*) AS n, SUM(f.amt) AS s
            FROM facts f JOIN dims d USING (lang)
            WHERE f.doc_id < 30 GROUP BY d.lang_name
            """,
            {"facts": root, "dims": dim_root},
        ).collect()
    }
    want = {
        (r["lang_name"], r["n"], r["s"])
        for r in (
            s.read().where(F.col("doc_id") < 30)
            .join(dim, "lang")
            .groupBy("lang_name")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
            .collect()
        )
    }
    assert got == want and len(got) == 3


def test_sql_path_applies_mor_deletes(spark, table):
    s, root = table
    s.delete_keys(
        spark.createDataFrame([(3,), (17,)], "doc_id long"), ["doc_id"]
    )
    s.delete_where(F.col("doc_id").isin(55, 56))  # positional MoR
    sql_df = read_snapshot_table(spark, root)
    assert sql_df.where(F.col("doc_id").isin(3, 17, 55, 56)).count() == 0
    assert _by_name(sql_df) == _by_name(s.read())
    # sequence rule: re-append a deleted key -> visible again
    s.write(
        spark.createDataFrame([(3, "L0", -30)], "doc_id long, lang string, amt long"),
        mode="append", partition_by=["lang", "bucket(8, doc_id)"],
    )
    sql_df = read_snapshot_table(spark, root)
    assert [r["amt"] for r in sql_df.where("doc_id = 3").collect()] == [-30]
    assert _by_name(sql_df) == _by_name(s.read())


def test_columns_projection_option(spark, tmp_path):
    """The option-level projection: only the requested columns surface,
    option filters on NON-projected columns still apply (decode for
    masking, then drop), MoR deletes still mask, and the scan report
    records the projection."""
    root = str(tmp_path / "w")
    s = SnapshotStore(spark, root)
    wide = spark.range(50).selectExpr(
        "id AS k", "id*2 AS a", "id*3 AS b", "id*5 AS c",
        "CAST(id AS STRING) AS d",
    )
    s.write(wide, mode="snapshot")
    s.delete_keys(spark.createDataFrame([(7,)], "k long"), ["k"])
    rep = str(tmp_path / "rep.json")
    df = read_snapshot_table(
        spark, root, columns=["k", "b"],
        point_filter={"a": [10, 14, 20]},  # filter col NOT projected
        report_path=rep,
    )
    assert df.columns == ["k", "b"]
    got = sorted((r["k"], r["b"]) for r in df.collect())
    # a in {10,14,20} -> k in {5,7,10}; k=7 is MoR-deleted
    assert got == [(5, 15), (10, 30)]
    report = json.load(open(rep))
    assert report["n_cols_projected"] == 2 < report["n_cols_table"] == 5
    with pytest.raises(Exception, match="matches no table column"):
        read_snapshot_table(spark, root, columns=["nope"]).collect()


def test_snapshot_sql_infers_projection(spark, tmp_path):
    root = str(tmp_path / "wi")
    SnapshotStore(spark, root).write(
        spark.range(40).selectExpr(
            "id AS k", "id*2 AS a", "id*3 AS b", "id*5 AS c",
            "CAST(id AS STRING) AS d",
        ),
        mode="snapshot",
    )
    rep = str(tmp_path / "rep.json")
    out = snapshot_sql(
        spark,
        "SELECT SUM(b) AS sb, COUNT(*) AS n FROM t WHERE k < 10",
        {"t": root},
        report_paths={"t": rep},
    ).collect()
    assert (out[0]["sb"], out[0]["n"]) == (sum(3 * i for i in range(10)), 10)
    report = json.load(open(rep))
    assert sorted(report["columns"]) == ["b", "k"]
    assert report["n_cols_projected"] == 2 < report["n_cols_table"]
    # '*' outside COUNT(*) disables inference
    rep2 = str(tmp_path / "rep2.json")
    got = snapshot_sql(
        spark, "SELECT * FROM t WHERE k = 3", {"t": root},
        report_paths={"t": rep2},
    ).collect()
    assert len(got) == 1 and got[0]["d"] == "3"
    assert json.load(open(rep2))["columns"] is None


def test_sql_path_eq_delete_on_identity_partition_key(spark, tmp_path):
    """Advisor-flagged: equality MoR deletes whose key includes an
    IDENTITY PARTITION column (the matview-required key shape) must be
    applied by the SQL path -- the value lives in the directory name,
    not the file, so the mask materializes it from the path instead of
    null-filling (which silently resurrected deleted rows)."""
    root = str(tmp_path / "pt")
    s = SnapshotStore(spark, root)
    df = spark.createDataFrame(
        [
            (datetime.date(2024, 1, 1), 1, "a"),
            (datetime.date(2024, 1, 1), 2, "b"),
            (datetime.date(2024, 1, 2), 1, "c"),
            (datetime.date(2024, 1, 2), 2, "d"),
        ],
        "day date, id long, val string",
    )
    s.write(df, mode="snapshot", partition_by=["day"])
    s.delete_keys(
        spark.createDataFrame(
            [(datetime.date(2024, 1, 2), 1)], "day date, id long"
        ),
        ["day", "id"],
    )
    sql_df = read_snapshot_table(spark, root)
    assert sql_df.count() == 3
    assert (
        sql_df.where("day = DATE'2024-01-02' AND id = 1").count() == 0
    )
    assert _by_name(sql_df) == _by_name(s.read())
    got = snapshot_sql(
        spark,
        "SELECT val FROM t WHERE day = DATE'2024-01-02'",
        {"t": root},
    ).collect()
    assert sorted(r["val"] for r in got) == ["d"]


def test_mor_masks_vectorized_no_python_rows(monkeypatch):
    """The MoR keep-masks are Arrow compute end-to-end on the file
    side: on a 150k-row table the equality mask goes through the
    Acero semi-join (the Python fallback is monkeypatched to fail) and
    both masks return pyarrow BooleanArrays, never per-row lists."""
    import numpy as np
    import pyarrow as pa

    from docker_airflow_spark_minio_spark.sources import (
        snapshot_batch as sb,
    )

    def _boom(*_a, **_k):
        raise AssertionError("Python fallback reached for a common key type")

    monkeypatch.setattr(sb, "_eq_mask_py_fallback", _boom)
    n = 150_000
    tab = pa.table(
        {
            "k": pa.array(np.arange(n, dtype=np.int64)),
            "day": pa.array(["2024-01-02"] * n).cast(pa.string()),
        }
    )
    # single long key, NULL delete key ignored
    mask = sb._eq_delete_mask(
        tab,
        pa.table({"k": pa.array([5, 10, n - 1, None], type=pa.int64())}),
        {"key_cols": ["k"], "version": 1},
        None, 0, "UTC", {}, {"k": "long", "day": "string"},
    )
    assert isinstance(mask, pa.Array) and mask.type == pa.bool_()
    assert tab.filter(mask).num_rows == n - 3
    # composite key with an identity-partition member materialized
    # from the path value (date-typed)
    dtab = pa.table(
        {
            "day": pa.array([datetime.date(2024, 1, 2)], type=pa.date32()),
            "k": pa.array([7], type=pa.int64()),
        }
    )
    tab2 = pa.table({"k": pa.array(np.arange(n, dtype=np.int64))})
    mask2 = sb._eq_delete_mask(
        tab2,
        dtab,
        {"key_cols": ["day", "k"], "version": 1},
        None, 0, "UTC",
        {"day": "2024-01-02"},
        {"k": "long", "day": "date"},
    )
    assert isinstance(mask2, pa.Array) and mask2.type == pa.bool_()
    assert tab2.filter(mask2).num_rows == n - 1
    # non-matching partition value -> delete masks nothing here
    mask3 = sb._eq_delete_mask(
        tab2, dtab, {"key_cols": ["day", "k"], "version": 1},
        None, 0, "UTC", {"day": "2024-01-03"}, {"k": "long", "day": "date"},
    )
    assert mask3 is None or tab2.filter(mask3).num_rows == n
    # positional: vectorized file match + ordinal is_in
    dpos = pa.table(
        {
            "_file": pa.array(["f1", "f1", "f2"]),
            "_pos": pa.array([0, 7, 3], type=pa.int64()),
        }
    )
    pmask = sb._positional_delete_mask(n, dpos, "f1")
    assert isinstance(pmask, pa.Array) and pmask.type == pa.bool_()
    assert tab.filter(pmask).num_rows == n - 2
    assert sb._positional_delete_mask(n, dpos, "f9") is None


def test_delete_set_worker_cache(monkeypatch, tmp_path):
    """Delete-set parquet is immutable once referenced by a committed
    manifest, so a reused worker process reads each set ONCE -- the
    single-process stand-in for per-executor broadcast."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docker_airflow_spark_minio_spark.sources import (
        snapshot_batch as sb,
    )

    d = tmp_path / "ds"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "a.parquet"))
    sb._DELETE_SET_CACHE.clear()
    t1 = sb._read_delete_set(str(d))
    assert t1.num_rows == 2

    def _boom(path):
        raise AssertionError("cache miss on an already-read delete set")

    monkeypatch.setattr(sb, "_read_parquet_dir", _boom)
    assert sb._read_delete_set(str(d)) is t1  # served from cache
    sb._DELETE_SET_CACHE.clear()


def test_sql_path_resolves_schema_evolution(spark, tmp_path):
    root = str(tmp_path / "ev")
    s = SnapshotStore(spark, root)
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "id int, qty int, memo string"
    )
    s.write(df, mode="snapshot")
    s.evolve_schema(renames={"qty": "quantity"}, widens={"id": "bigint"},
                    drops=["memo"])
    s.write(
        spark.createDataFrame([(3 * 10**10, 30)], "id long, quantity int"),
        mode="append",
    )
    sql_df = read_snapshot_table(spark, root)
    assert sql_df.columns == ["id", "quantity"]
    assert dict(sql_df.dtypes)["id"] == "bigint"
    assert _by_name(sql_df) == _by_name(SnapshotStore(spark, root).read())
    # time travel through SQL returns the OLD epoch's names
    old = read_snapshot_table(spark, root, as_of=0)
    assert old.columns == ["id", "qty", "memo"]
    assert _by_name(old) == _by_name(s.read(as_of=0))


def test_sql_time_travel_ref_and_ts(spark, table):
    s, root = table
    v0 = s.current_version()
    m = s._read_manifest(v0)
    s.tag("prom")
    s.write(
        spark.createDataFrame([(999, "L0", 1)], "doc_id long, lang string, amt long"),
        mode="append", partition_by=["lang", "bucket(8, doc_id)"],
    )
    assert read_snapshot_table(spark, root).count() == 121
    assert read_snapshot_table(spark, root, ref="prom").count() == 120
    assert read_snapshot_table(
        spark, root, as_of_ts=int(m["committed_at_ms"])
    ).count() == 120


def test_sidecar_pruning_through_sql(spark, tmp_path):
    """Forced stats sidecar (threshold 0): the pure-pyarrow sidecar
    planner must prune files exactly like the Spark-backed one."""
    root = str(tmp_path / "sc")
    s = SnapshotStore(spark, root)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val")
    ).repartition(10)
    s.write(df, mode="snapshot", stats_cols=["val"], bloom_cols=["k"],
            stats_sidecar_threshold=0)
    # parity of the two planners at plan level
    api_m, api_units, api_skip, api_tot = s.plan_files(
        point_filter={"k": 42}
    )
    loc = LocalSnapshotPlanner.for_root(root)
    loc_m, loc_units, loc_skip, loc_tot = loc.plan_files(
        point_filter={"k": 42}
    )
    assert (api_skip, api_tot) == (loc_skip, loc_tot)
    assert {
        vd: {p: fs for p, fs in parts.items()} for vd, parts in api_units.items()
    } == loc_units
    assert loc_skip > 0
    rep = str(tmp_path / "rep.json")
    got = snapshot_sql(
        spark,
        "SELECT val FROM sc_t WHERE k = 42",
        {"sc_t": root},
        report_paths={"sc_t": rep},
    ).collect()
    assert [r["val"] for r in got] == [126]
    report = json.load(open(rep))
    assert report["n_files_skipped"] == loc_skip > 0


def test_local_planner_matches_spark_planner_sharded(spark, tmp_path):
    """Sharded full checkpoints resolve identically in the Spark-less
    planner (shard selection + delta folding are inherited logic)."""
    root = str(tmp_path / "sh")
    s = SnapshotStore(spark, root, shard_partitions_threshold=0, shard_size=4)
    df = spark.range(60).select(
        (F.col("id") % 20).cast("string").alias("p"),
        F.col("id").alias("v"),
    )
    s.write(df, mode="snapshot", partition_by=["p"], stats_cols=["v"])
    s.write(
        spark.createDataFrame([("5", 999)], "p string, v long"),
        mode="append", partition_by=["p"],
    )
    loc = LocalSnapshotPlanner.for_root(root)
    for kw in ({}, {"partitions": ["p=5"]}, {"range_filter": ("v", 900, None)}):
        am, ab, askip, atot = s.plan_dirs(**kw)
        lm, lb, lskip, ltot = loc.plan_dirs(**kw)
        assert ab == lb and (askip, atot) == (lskip, ltot), kw
    sql_df = read_snapshot_table(spark, root)
    # p is a numeric-looking STRING partition col: the API path lets
    # Spark re-infer it as int, the SQL path keeps the declared string
    # (documented fidelity note) -- compare under a cast
    assert _by_name(sql_df) == _by_name(
        s.read().select(F.col("p").cast("string").alias("p"), "v")
    )


def test_one_sided_ranges_api_path(spark, tmp_path):
    """None bounds (added for SQL pushdown) work on the API path too."""
    root = str(tmp_path / "os")
    s = SnapshotStore(spark, root)
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id")).alias("v")).repartition(10)
    s.write(df, mode="snapshot", stats_cols=["v"])
    _, _, n_skip, n_tot = s.plan_files(range_filter=("v", 90, None))
    assert n_skip > 0
    assert s.read(range_filter=("v", 90, None)).count() == 10
    assert s.read(range_filter=("v", None, 9)).count() == 10


def test_snapshot_sql_per_table_options_time_travel_join(spark, table):
    """One statement joining a table's HEAD against its own as_of past
    (per-table reader options): the audit-diff shape."""
    s, root = table
    v0 = s.current_version()
    s.write(
        spark.createDataFrame(
            [(5000, "L0", -1)], "doc_id long, lang string, amt long"
        ),
        mode="append",
        partition_by=["lang", "bucket(8, doc_id)"],
    )
    got = snapshot_sql(
        spark,
        """
        SELECT (SELECT COUNT(*) FROM now_t) AS n_now,
               (SELECT COUNT(*) FROM then_t) AS n_then
        """,
        {"now_t": root, "then_t": (root, {"as_of": v0})},
    ).collect()[0]
    assert (got["n_now"], got["n_then"]) == (121, 120)


def test_snapshot_sql_inference_case_insensitive(spark, tmp_path):
    """Spark resolves identifiers case-insensitively by default, so a
    mixed-case reference must NOT get its (lowercase) column pruned out
    of the registered view (advisor r12)."""
    root = str(tmp_path / "ci")
    SnapshotStore(spark, root).write(
        spark.range(20).selectExpr(
            "id AS k", "id*2 AS lang", "id*3 AS b", "id*5 AS c"
        ),
        mode="snapshot",
    )
    out = snapshot_sql(
        spark,
        "SELECT SUM(Lang) AS sl FROM t WHERE K < 10",
        {"t": root},
    ).collect()
    assert out[0]["sl"] == sum(2 * i for i in range(10))


def test_snapshot_sql_natural_join_not_pruned(spark, tmp_path):
    """NATURAL JOIN matches on columns the statement never names;
    inference must disable pruning entirely or the join silently
    degenerates into a cross join (advisor r12)."""
    r1, r2 = str(tmp_path / "n1"), str(tmp_path / "n2")
    SnapshotStore(spark, r1).write(
        spark.range(6).selectExpr("id AS k", "id*2 AS a"), mode="snapshot"
    )
    SnapshotStore(spark, r2).write(
        spark.range(6).selectExpr("id AS k", "id*3 AS b"), mode="snapshot"
    )
    out = snapshot_sql(
        spark,
        "SELECT SUM(a + b) AS s, COUNT(*) AS n "
        "FROM t1 NATURAL JOIN t2",
        {"t1": r1, "t2": r2},
    ).collect()
    # a natural join on shared column k: 6 rows, not 36
    assert out[0]["n"] == 6
    assert out[0]["s"] == sum(5 * i for i in range(6))


def test_delete_set_cache_evicts_oldest_not_all(monkeypatch, tmp_path):
    """Cache overflow evicts the OLDEST entry; the hot tail survives
    (advisor r12: clear() thrashed windows spanning >64 sets)."""
    from docker_airflow_spark_minio_spark.sources import (
        snapshot_batch as sb,
    )

    sb._DELETE_SET_CACHE.clear()
    monkeypatch.setattr(sb, "_read_parquet_dir", lambda path: f"tab:{path}")
    for i in range(65):
        sb._read_delete_set(f"/fake/{i}")
    assert len(sb._DELETE_SET_CACHE) == 64
    assert "/fake/0" not in sb._DELETE_SET_CACHE  # oldest evicted
    assert "/fake/64" in sb._DELETE_SET_CACHE  # newest kept
    assert "/fake/1" in sb._DELETE_SET_CACHE  # hot tail intact
    sb._DELETE_SET_CACHE.clear()


def test_small_delete_sets_inline_in_task_payload(spark, tmp_path, monkeypatch):
    """Capped delete sets are read ONCE at plan time and shipped to the
    scan tasks inside the task payload as Arrow IPC bytes (round 13) --
    tasks materialize them from memory, zero per-worker disk reads."""
    from docker_airflow_spark_minio_spark.sources import (
        snapshot_batch as sb,
    )

    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(
        spark.range(100).selectExpr("id AS k", "id % 3 AS g", "id*2 AS v"),
        mode="snapshot",
        partition_by=["g"],
    )
    s.delete_keys(
        spark.range(0, 100, 10).selectExpr("id AS k"), ["k"]
    )
    s.delete_where(F.expr("k % 7 = 0"))  # positional set too

    reads = []
    orig = sb._read_parquet_dir
    monkeypatch.setattr(
        sb, "_read_parquet_dir", lambda p: reads.append(p) or orig(p)
    )
    sb._DELETE_SET_CACHE.clear()
    reader = sb.SnapshotTableBatchReader(root, {})
    parts = reader.partitions()
    # every set was materialized exactly once, at plan time
    assert len(reads) == 2
    for d in parts[0].tasks[0].ctx["delete_sets"]:
        assert d.get("inline_ipc"), d["dir"]

    # tasks never touch the delete parquet again: disk reads now fail
    monkeypatch.setattr(
        sb,
        "_read_parquet_dir",
        lambda p: (_ for _ in ()).throw(
            AssertionError(f"task-side disk read of {p}")
        ),
    )
    sb._DELETE_SET_CACHE.clear()
    survivors = []
    for p in parts:
        for batch in reader.read(p):
            survivors += batch.column(
                batch.schema.get_field_index("k")
            ).to_pylist()
    expected = [
        k for k in range(100) if k % 10 != 0 and k % 7 != 0
    ]
    assert sorted(survivors) == expected
    sb._DELETE_SET_CACHE.clear()
    monkeypatch.undo()


def test_large_delete_set_stays_path_referenced(tmp_path, monkeypatch):
    """A set above the inline cap passes through untouched (served by
    the per-process cache instead)."""
    from docker_airflow_spark_minio_spark.sources import (
        snapshot_batch as sb,
    )

    monkeypatch.setattr(sb, "INLINE_DELETE_SET_BYTES", 10)  # tiny cap
    d = tmp_path / "data" / "vX-del"
    d.mkdir(parents=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": list(range(100))}), str(d / "a.parquet"))
    out = sb.inline_delete_sets(
        str(tmp_path), [{"dir": "vX-del", "version": 1}]
    )
    assert "inline_ipc" not in out[0]
