"""Hidden partitioning (Iceberg transform specs): bucket / truncate /
time transforms derive physical routing columns that writers never
materialize and readers never see, while point predicates on the SOURCE
column prune to the matching transform directories at plan time.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from docker_airflow_spark_minio_spark.snapshots import SnapshotStore

SCHEMA = "id BIGINT, day STRING, amt INT"


def _store(spark, path, rows, spec):
    s = SnapshotStore(spark, str(path))
    s.write(spark.createDataFrame(rows, SCHEMA), mode="snapshot",
            partition_by=spec)
    return s


def test_bucket_transform_hides_routing_and_prunes_points(spark, tmp_path):
    rows = [(i, f"d{i % 3}", i * 10) for i in range(40)]
    s = _store(spark, tmp_path / "t", rows, ["bucket(8, id)"])
    # derived column is routing, not schema: hidden from reads,
    # absent from the recorded schema
    assert s.read().columns == ["id", "day", "amt"]
    assert "id_bucket_8" not in s.read().columns
    m = s._read_manifest(0)
    assert m["partition_transforms"] == {
        "id_bucket_8": {"kind": "bucket", "src": "id", "arg": 8}
    }
    assert all(p.startswith("id_bucket_8=") for p in m["partitions"])
    # a point lookup on the SOURCE column prunes to one bucket dir
    _, by_vdir, n_skipped, n_total = s.plan_dirs(point_filter={"id": 7})
    assert n_total == len(m["partitions"])
    assert n_skipped == n_total - 1
    got = s.read(point_filter={"id": 7}).collect()
    assert [(r["id"], r["amt"]) for r in got] == [(7, 70)]
    # appends route consistently whether the spec is restated or the
    # physical name is passed (the table remembers its transforms)
    s.write(spark.createDataFrame([(100, "d1", 5)], SCHEMA),
            mode="append", partition_by=["bucket(8, id)"])
    s.write(spark.createDataFrame([(101, "d2", 6)], SCHEMA),
            mode="append", partition_by=["id_bucket_8"])
    assert s.read().count() == 42
    assert [r["id"] for r in s.read(point_filter={"id": 101}).collect()] == [101]
    # a conflicting spec refuses (different arg -> different derived
    # physical name -> the partition_by stability check fires)
    with pytest.raises(ValueError, match="partition_by|transforms"):
        s.write(spark.createDataFrame([(1, "d1", 1)], SCHEMA),
                mode="append", partition_by=["bucket(4, id)"])


def test_mixed_identity_and_transform_spec(spark, tmp_path):
    rows = [(i, f"d{i % 2}", i) for i in range(20)]
    s = _store(spark, tmp_path / "t", rows, ["day", "bucket(4, id)"])
    m = s._read_manifest(0)
    assert all(
        p.startswith("day=") and "/id_bucket_4=" in p
        for p in m["partitions"]
    )
    # identity point + transform-source point prune together
    _, _, n_skipped, n_total = s.plan_dirs(
        point_filter={"day": "d1", "id": 3}
    )
    assert n_skipped == n_total - 1
    assert [r["id"] for r in
            s.read(point_filter={"day": "d1", "id": 3}).collect()] == [3]


def test_truncate_and_days_transforms(spark, tmp_path):
    rows = [(i, f"2024-01-{(i % 9) + 1:02d}", i) for i in range(30)]
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("day")
    )
    s = SnapshotStore(spark, str(tmp_path / "t"))
    s.write(df, mode="snapshot",
            partition_by=["truncate(10, id)", "days(ts)"])
    m = s._read_manifest(0)
    # Iceberg integer encodings: truncate floors to the width multiple,
    # days counts from the 1970 epoch
    day3 = (datetime.date(2024, 1, 3) - datetime.date(1970, 1, 1)).days
    assert f"id_truncate_10=20/ts_days={day3}" in m["partitions"]
    _, _, n_skipped, n_total = s.plan_dirs(
        point_filter={"id": 22, "ts": datetime.datetime(2024, 1, 5, 12)}
    )
    assert n_skipped == n_total - 1
    got = s.read(
        point_filter={"id": 22}
    ).collect()
    assert [(r["id"], r["day"]) for r in got] == [(22, "2024-01-05")]


def test_row_level_ops_and_compaction_on_transform_tables(spark, tmp_path):
    rows = [(i, f"d{i % 3}", i * 10) for i in range(30)]
    s = _store(spark, tmp_path / "t", rows, ["bucket(4, id)"])
    s.write(spark.createDataFrame([(i, "dx", i) for i in range(30, 40)],
                                  SCHEMA),
            mode="append", partition_by=["bucket(4, id)"])
    # COW update touches only the matching buckets and keeps routing
    s.update_where(F.col("id") == 7, {"amt": F.lit(777)})
    assert [r["amt"] for r in
            s.read(point_filter={"id": 7}).collect()] == [777]
    # MoR delete then compaction: routing and hiding survive rewrite
    s.delete_where(F.col("id") % 10 == 9)
    cv = s.compact(all_partitions=True)
    assert cv is not None
    assert s.read().columns == ["id", "day", "amt"]
    assert s.read().count() == 40 - 4
    assert s._read_manifest(cv)["partition_transforms"] == {
        "id_bucket_4": {"kind": "bucket", "src": "id", "arg": 4}
    }
    # point lookups still prune after compaction
    _, _, n_skipped, n_total = s.plan_dirs(point_filter={"id": 7})
    assert n_total > 1 and n_skipped == n_total - 1


def test_changelog_and_appends_hide_transform_columns(spark, tmp_path):
    rows = [(i, f"d{i % 2}", i) for i in range(10)]
    s = _store(spark, tmp_path / "t", rows, ["bucket(4, id)"])
    s.write(spark.createDataFrame([(50, "d1", 50)], SCHEMA),
            mode="append", partition_by=["bucket(4, id)"])
    inc = s.read_appends(0)
    assert inc.columns == ["id", "day", "amt"]
    assert [r["id"] for r in inc.collect()] == [50]
    ch = s.read_changes(-1)
    assert set(ch.columns) == {"id", "day", "amt",
                               "_change_type", "_commit_version"}
    assert ch.count() == 11


def test_range_prunes_through_monotonic_transforms(spark, tmp_path):
    """A source-column RANGE maps through a non-decreasing transform to
    a derived-segment interval (Iceberg transform monotonicity): a
    days(ts)-partitioned table scans only the matching day dirs, and a
    truncate(int)-partitioned table only the matching width buckets.
    Bucket segments never constrain ranges (not monotonic)."""
    rows = [(i, f"2024-02-{(i % 20) + 1:02d}", i) for i in range(40)]
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("day")
    )
    s = SnapshotStore(spark, str(tmp_path / "t"))
    s.write(df, mode="snapshot", partition_by=["days(ts)"])
    m, by_vdir, n_skipped, n_total = s.plan_dirs(
        range_filter=(
            "ts",
            datetime.datetime(2024, 2, 3),
            datetime.datetime(2024, 2, 5, 23, 0),
        )
    )
    assert n_total == 20 and n_skipped == 17  # 3 day dirs survive
    lo = (datetime.date(2024, 2, 3) - datetime.date(1970, 1, 1)).days
    for parts_ in by_vdir.values():
        for part in parts_:
            assert lo <= int(part.split("=")[1]) <= lo + 2
    got = s.read(
        range_filter=(
            "ts",
            datetime.datetime(2024, 2, 3),
            datetime.datetime(2024, 2, 5, 23, 0),
        )
    )
    assert sorted(r["day"] for r in got.collect()) == sorted(
        d for (_i, d, _a) in rows if "2024-02-03" <= d <= "2024-02-05"
    )

    s2 = SnapshotStore(spark, str(tmp_path / "t2"))
    s2.write(spark.createDataFrame(rows, SCHEMA), mode="snapshot",
             partition_by=["truncate(10, id)"])
    _, _, n_skipped, n_total = s2.plan_dirs(range_filter=("id", 12, 27))
    assert n_total == 4 and n_skipped == 2  # buckets 10 and 20 survive
    got = sorted(
        r["id"] for r in s2.read(range_filter=("id", 12, 27)).collect()
    )
    assert got == list(range(12, 28))

    # bucket transform: a range must NOT prune (hash-scattered)
    s3 = SnapshotStore(spark, str(tmp_path / "t3"))
    s3.write(spark.createDataFrame(rows, SCHEMA), mode="snapshot",
             partition_by=["bucket(4, id)"])
    _, _, n_skipped, n_total = s3.plan_dirs(range_filter=("id", 0, 5))
    assert n_skipped == 0
    assert sorted(
        r["id"] for r in s3.read(range_filter=("id", 0, 5)).collect()
    ) == [0, 1, 2, 3, 4, 5]


def test_in_list_point_filters(spark, tmp_path):
    """IN-list point predicates: one pruned read for a batch of keys --
    segment pruning keeps any member's dir, blooms skip a file only
    when every member is provably absent, the exact isin applies on
    top; an empty list is provably no rows."""
    rows = [(i, f"d{i % 3}", i * 10) for i in range(64)]
    s = _store(spark, tmp_path / "t", rows, ["bucket(8, id)"])
    m = s._read_manifest(0)
    # segment pruning: survivors = union of the members' buckets
    want = {
        s._segment_requirements(m, {"id": k})["id_bucket_8"].pop()
        for k in (3, 17)
    }
    _, by_vdir, n_skipped, n_total = s.plan_dirs(
        point_filter={"id": [3, 17]}
    )
    assert n_total - n_skipped == len(want)
    got = sorted(
        r["id"] for r in s.read(point_filter={"id": [3, 17]}).collect()
    )
    assert got == [3, 17]
    # empty IN-list: provably no rows, schema intact
    empty = s.read(point_filter={"id": []})
    assert empty.count() == 0 and empty.columns == ["id", "day", "amt"]

    # bloom-backed IN-list on an identity-partitioned table
    s2 = SnapshotStore(spark, str(tmp_path / "b"))
    s2.write(
        spark.createDataFrame(rows, SCHEMA),
        mode="snapshot",
        partition_by=["day"],
        bloom_cols=["id"],
        stats_sidecar_threshold=10**9,  # keep stats inline
    )
    _, units, nfs, nft = s2.plan_files(point_filter={"id": [5, 40]})
    assert nfs > 0  # some files provably hold neither key
    got = sorted(
        r["id"] for r in s2.read(point_filter={"id": [5, 40]}).collect()
    )
    assert got == [5, 40]


def test_in_list_sidecar_inline_parity(spark, tmp_path):
    """The sidecar (executor-side) and inline bloom IN-list decisions
    must prune the identical file set."""
    rows = [(i, f"d{i % 2}", i) for i in range(64)]

    def plan(threshold):
        s = SnapshotStore(spark, str(tmp_path / f"t{threshold}"))
        s.write(
            spark.createDataFrame(rows, SCHEMA),
            mode="snapshot",
            partition_by=["day"],
            bloom_cols=["id"],
            stats_sidecar_threshold=threshold,
        )
        _, units, nfs, nft = s.plan_files(point_filter={"id": [7, 33]})
        surviving = {
            (vd, part, tuple(fs) if fs is not None else None)
            for vd, parts in units.items()
            for part, fs in parts.items()
        }
        # normalize vdir uuids away: keep (partition, file count/names)
        return {
            (part, None if fs is None else len(fs))
            for _vd, part, fs in surviving
        }, nfs, nft

    inline, nfs_i, nft_i = plan(10**9)
    sidecar, nfs_s, nft_s = plan(0)
    assert (nfs_i, nft_i) == (nfs_s, nft_s)
    assert inline == sidecar


def test_guards_protect_transform_sources(spark, tmp_path):
    """Transform SOURCE columns are routing inputs: update_where must
    refuse assigning them (moved rows would silently drop unread
    neighbors) and evolve_schema must refuse renaming/dropping them
    (every later write would crash deriving the routing column)."""
    rows = [(i, f"d{i % 2}", i) for i in range(10)]
    s = _store(spark, tmp_path / "t", rows, ["bucket(4, id)"])
    with pytest.raises(ValueError, match="transform sources"):
        s.update_where(F.col("amt") == 1, {"id": F.lit(99)})
    with pytest.raises(ValueError, match="transform sources"):
        s.evolve_schema(renames={"id": "ident"})
    with pytest.raises(ValueError, match="transform sources"):
        s.evolve_schema(drops=["id"])


def test_spec_evolution_away_from_transforms_sticks(spark, tmp_path):
    """Evolving the spec from a transform to identity columns must not
    have the old transforms resurrected by later delta resolves: the
    write records partition_transforms explicitly (empty included) so
    the fold can represent removal."""
    rows = [(i, f"d{i % 2}", i) for i in range(10)]
    s = _store(spark, tmp_path / "t", rows, ["bucket(4, id)"])
    s.write(
        spark.createDataFrame([(50, "d1", 50)], SCHEMA),
        mode="append",
        partition_by=["day"],
        evolve_partitioning=True,
    )
    m = s._read_manifest(s.current_version())
    assert m.get("partition_transforms") in ({}, None)
    # later identity appends must not re-derive the dropped transform
    s.write(
        spark.createDataFrame([(51, "d0", 51)], SCHEMA),
        mode="append",
        partition_by=["day"],
    )
    m = s._read_manifest(s.current_version())
    assert m.get("partition_transforms") in ({}, None)
    assert any(p == "day=d0" for p in m["partitions"])
    assert s.read().count() == 12


def test_point_filter_string_literal_for_time_source(spark, tmp_path):
    """ISO string literals for date/timestamp transform sources coerce
    through the scalar lit().cast() fallback instead of crashing the
    batched plan-side evaluation."""
    rows = [(i, f"2024-03-{(i % 5) + 1:02d}", i) for i in range(10)]
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.to_timestamp("day")
    )
    s = SnapshotStore(spark, str(tmp_path / "t"))
    s.write(df, mode="snapshot", partition_by=["days(ts)"])
    got = s.read(point_filter={"ts": ["2024-03-02 00:00:00"]})
    # segment pruning happened (no crash) and the exact isin applies
    _, _, n_skipped, n_total = s.plan_dirs(
        point_filter={"ts": ["2024-03-02 00:00:00"]}
    )
    assert n_total == 5 and n_skipped == 4


def test_changelog_null_fills_additive_columns(spark, tmp_path):
    """read_changes serves directories written before a later additive
    append with the new column null-filled (read()'s
    allowMissingColumns semantics), never an unresolved-column crash."""
    s = SnapshotStore(spark, str(tmp_path / "t"))
    s.write(spark.createDataFrame([(1, "d1")], "id INT, day STRING"),
            mode="snapshot", partition_by=["day"])
    s.write(
        spark.createDataFrame([(2, "d2", 20)], SCHEMA.replace("BIGINT", "INT")),
        mode="append", partition_by=["day"],
    )
    ch = s.read_changes(-1).orderBy("_commit_version").collect()
    assert [(r["id"], r["amt"]) for r in ch] == [(1, None), (2, 20)]


def test_transform_write_clusters_output_files(spark, tmp_path):
    """A transform-spec write CLUSTERS the frame by the physical
    partition columns before writing (the Iceberg
    write.distribution-mode=hash analog): callers cannot pre-cluster on
    hidden derived columns, and an unclustered many-task frame would
    otherwise write up to tasks x |spec values| tiny files per commit.
    Pinned: file count stays O(|buckets|), not O(tasks x buckets), and
    rows round-trip exactly."""
    import os

    df = spark.range(0, 4000, 1, 16).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("amt")
    )
    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(df, mode="snapshot", partition_by=["bucket(8, doc_id)"])
    n_files = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(f"{root}/data")
    )
    # 16 input tasks x 8 buckets = 128 unclustered; clustered stays at
    # or below the shuffle-partition count (AQE may coalesce further)
    assert n_files <= 16, n_files
    assert s.read().count() == 4000


def test_identity_write_clusters_unarranged_frames(spark, tmp_path):
    """An identity-partitioned write clusters a frame whose layout is
    incidental (scan/join/aggregate shape) to the spec, but leaves a
    caller-ARRANGED layout untouched: an explicit repartition /
    repartitionByRange / sortWithinPartitions frame keeps its file
    shaping (zone-map envelopes, forced multi-file commits depend on
    it).  Pinned: unarranged file count stays O(|values|), arranged
    stays O(tasks x values), and rows round-trip exactly."""
    import os

    def n_files(root):
        return sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(f"{root}/data")
        )

    df = spark.range(0, 4000, 1, 16).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("day"),
    )
    plain = str(tmp_path / "plain")
    s = SnapshotStore(spark, plain)
    s.write(df, mode="snapshot", partition_by=["day"])
    # 16 tasks x 5 days = 80 unclustered; clustered = one rebalanced
    # shuffle keyed on day (AQE may coalesce below |values|)
    assert n_files(plain) <= 16, n_files(plain)
    assert s.read().count() == 4000

    arranged = str(tmp_path / "arranged")
    s2 = SnapshotStore(spark, arranged)
    # the zone-map pattern: deliberately range-clustered by a NON-spec
    # column -- the write must not shuffle this away
    s2.write(
        df.repartitionByRange(8, "doc_id"),
        mode="snapshot",
        partition_by=["day"],
    )
    assert n_files(arranged) > 16, n_files(arranged)
    assert s2.read().count() == 4000


def test_incidental_spread_repartition_still_clusters(spark, tmp_path):
    """A repartition a data PRODUCER inserted purely as an input-
    parallelism defense (workloads.base._spread over a single-file
    table) is marked with INCIDENTAL_LAYOUT_ALIAS and must NOT count as
    a caller-arranged layout: the identity write still clusters to the
    spec (without the marker, every documents/embeddings-derived write
    produced tasks x |values| files -- 160/commit at sf0.1).  A caller
    arranging a layout ON TOP of the marked frame sits above the marker
    and still wins."""
    import os

    from docker_airflow_spark_minio_spark.snapshots import (
        INCIDENTAL_LAYOUT_ALIAS,
        _caller_arranged_layout,
    )

    def n_files(root):
        return sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(f"{root}/data")
        )

    spread = (
        spark.range(0, 4000, 1, 1)
        .repartition(16)
        .alias(INCIDENTAL_LAYOUT_ALIAS)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 5).cast("string").alias("day"),
        )
        .where("doc_id >= 0")
    )
    assert not _caller_arranged_layout(spread)
    # a deliberate arrangement above the marker still owns the layout
    assert _caller_arranged_layout(spread.repartition(8))
    assert _caller_arranged_layout(spread.repartitionByRange(4, "doc_id"))

    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(spread, mode="snapshot", partition_by=["day"])
    # 16 spread tasks x 5 days = 80 unclustered; the marker restores
    # the spec-keyed rebalance (AQE may coalesce below |values|)
    assert n_files(root) <= 16, n_files(root)
    assert s.read().count() == 4000


def test_layout_probe_failure_is_logged_once_and_counted(
    spark, caplog, monkeypatch
):
    """A frame whose plan cannot be inspected fails closed (treated as
    caller-arranged, so the write leaves it unclustered) -- and that
    fallback is visible: counted every time, logged once per session."""
    import logging

    from docker_airflow_spark_minio_spark import snapshots

    class _OpaqueFrame:
        sparkSession = spark

        @property
        def _jdf(self):
            raise RuntimeError("plan API drift")

    key = id(spark)
    monkeypatch.delitem(snapshots.LAYOUT_PROBE_FAILURES, key, raising=False)
    with caplog.at_level(logging.WARNING, logger=snapshots.__name__):
        assert snapshots._caller_arranged_layout(_OpaqueFrame())
        assert snapshots._caller_arranged_layout(_OpaqueFrame())
    assert snapshots.LAYOUT_PROBE_FAILURES[key] == 2
    logged = [
        r.getMessage()
        for r in caplog.records
        if "cannot inspect the plan" in r.getMessage()
    ]
    assert len(logged) == 1 and "plan API drift" in logged[0]
