"""Snapshot tables as a Structured Streaming source
(``streaming/table_source.py``): version-offset delivery, append-only
refusals, staged-commit skipping, and deterministic kill-replay.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docker_airflow_spark_minio_spark.snapshots import SnapshotStore
from docker_airflow_spark_minio_spark.streaming.table_source import (
    SnapshotTableStreamReader,
    SnapshotTableStreamSource,
)

SCHEMA = "id INT, day STRING, amt INT"


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(SnapshotTableStreamSource)
    return spark


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _run(spark, root, ckpt, sink):
    q = (
        spark.readStream.format("snapshot_table")
        .load(root)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_table_source_delivers_deltas_by_version_offset(
    registered, tmp_path
):
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10), (2, "d2", 20)]),
            mode="snapshot", partition_by=["day"])
    s.write(_df(spark, [(3, "d1", 30)]), mode="append",
            partition_by=["day"])

    got: list[list] = []
    sink = lambda b, i: got.append(  # noqa: E731
        sorted((r["id"], r["day"], r["amt"]) for r in b.collect())
    )
    _run(spark, root, ckpt, sink)
    assert got == [[(1, "d1", 10), (2, "d2", 20), (3, "d1", 30)]]

    got.clear()
    _run(spark, root, ckpt, sink)  # nothing new
    assert got == []

    s.write(_df(spark, [(4, "d2", 40)]), mode="append",
            partition_by=["day"])
    got.clear()
    _run(spark, root, ckpt, sink)  # only the delta
    assert got == [[(4, "d2", 40)]]
    # schema carried the table's own types (partition col re-typed)
    df = spark.readStream.format("snapshot_table").load(root)
    assert [f.simpleString() for f in df.schema.fields] == [
        "id:int", "day:string", "amt:int",
    ]


def test_table_source_kill_replay_is_deterministic(registered, tmp_path):
    """A crash between sink work and checkpoint advance replays the
    SAME version window (offsets are table versions; partitions() is a
    pure function of the window), so an idempotent sink gets
    exactly-once end-to-end."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10)]), mode="snapshot",
            partition_by=["day"])

    class Kill(Exception):
        pass

    def die(batch, bid):
        batch.collect()
        raise Kill("killed between sink and checkpoint advance")

    with pytest.raises(Exception):
        _run(spark, root, ckpt, die)

    got: list[tuple] = []
    _run(spark, root, ckpt,
         lambda b, i: got.append((i, sorted(r["id"] for r in b.collect()))))
    assert got == [(0, [1])]  # same window, once

    got.clear()
    _run(spark, root, ckpt, lambda b, i: got.append(i))
    assert got == []  # and it is not re-delivered after commit


def test_table_source_refuses_non_append_windows(registered, tmp_path):
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10)]), mode="snapshot",
            partition_by=["day"])
    s.write(_df(spark, [(2, "d1", 20)]),
            mode="overwrite_partitions", partition_by=["day"])
    with pytest.raises(Exception, match="overwrite_partitions"):
        _run(spark, root, ckpt, lambda b, i: None)


def test_table_source_skips_staged_commits(registered, tmp_path):
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10)]), mode="snapshot",
            partition_by=["day"])
    s.write(_df(spark, [(9, "d1", 90)]), mode="append",
            partition_by=["day"], staged="w")
    s.write(_df(spark, [(2, "d2", 20)]), mode="append",
            partition_by=["day"])
    got: list[tuple] = []
    _run(spark, root, ckpt,
         lambda b, i: got.append(sorted(r["id"] for r in b.collect())))
    # the staged row is not table state; published rows all arrive
    assert got == [[1, 2]]


def test_table_source_unpartitioned_and_scheme_refusal(
    registered, tmp_path
):
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10), (2, "d2", 20)]), mode="snapshot")
    got: list[list] = []
    _run(spark, root, ckpt,
         lambda b, i: got.append(sorted(r["id"] for r in b.collect())))
    assert got == [[1, 2]]
    with pytest.raises(Exception, match="local table roots"):
        (spark.readStream.format("snapshot_table")
         .load("mockfs://bucket/t").writeStream
         .foreachBatch(lambda b, i: None)
         .option("checkpointLocation", str(tmp_path / "c2"))
         .trigger(availableNow=True).start().awaitTermination())


def test_table_source_reads_sharded_checkpoints(registered, tmp_path):
    """A full checkpoint written SHARDED (root manifest holds only the
    shard index) must still deliver its rows -- the source merges the
    shard partition maps instead of silently planning zero files."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root, shard_partitions_threshold=0)
    s.write(_df(spark, [(1, "d1", 10), (2, "d2", 20)]),
            mode="snapshot", partition_by=["day"])
    assert s._read_manifest_raw(0).get("partition_shards")  # sharded
    got: list[list] = []
    _run(spark, root, ckpt,
         lambda b, i: got.append(sorted(r["id"] for r in b.collect())))
    assert got == [[1, 2]]


def test_table_source_null_fills_additive_columns(registered, tmp_path):
    """Files written before a later additive-column append null-fill
    the new column (read()'s allowMissingColumns semantics) instead of
    failing the micro-batch."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(spark.createDataFrame([(1, "d1")], "id INT, day STRING"),
            mode="snapshot", partition_by=["day"])
    s.write(_df(spark, [(2, "d2", 20)]), mode="append",
            partition_by=["day"])
    got: list[list] = []
    _run(spark, root, ckpt,
         lambda b, i: got.append(
             sorted((r["id"], r["amt"]) for r in b.collect())))
    assert got == [[(1, None), (2, 20)]]

def _run_all(spark, root, ckpt, sink, **opts):
    reader = spark.readStream.format("snapshot_table")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(root)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_table_source_rate_limited_backlog(registered, tmp_path):
    """maxversionspertrigger: a 5-commit backlog arrives as >= 3
    bounded micro-batches, exactly once, in commit order."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(0, "d0", 0)]), mode="snapshot", partition_by=["day"])
    for i in range(1, 5):
        s.write(_df(spark, [(i, f"d{i}", i * 10)]), mode="append",
                partition_by=["day"])

    batches: list[list[int]] = []
    _run_all(
        spark, root, ckpt,
        lambda b, i: batches.append(sorted(r["id"] for r in b.collect())),
        maxversionspertrigger="2",
    )
    delivered = [i for b in batches for i in b]
    assert sorted(delivered) == [0, 1, 2, 3, 4]      # exactly once
    assert delivered == sorted(delivered)            # commit order
    nonempty = [b for b in batches if b]
    assert len(nonempty) >= 3                        # throttled: 2+2+1
    assert all(len(b) <= 2 for b in nonempty)

    # resume mid-backlog across query RESTARTS: the engine's
    # restart-time commit() callback resyncs the throttle cursor, so
    # only the new versions arrive -- still capped, never re-delivered
    for i in range(5, 9):
        s.write(_df(spark, [(i, f"d{i}", i * 10)]), mode="append",
                partition_by=["day"])
    batches.clear()
    _run_all(
        spark, root, ckpt,
        lambda b, i: batches.append(sorted(r["id"] for r in b.collect())),
        maxversionspertrigger="2",
    )
    assert sorted(i for b in batches for i in b) == [5, 6, 7, 8]
    assert all(len(b) <= 2 for b in batches if b)
    assert len([b for b in batches if b]) >= 2


def test_table_source_file_rate_limited_fat_commit(registered, tmp_path):
    """maxfilespertrigger: ONE fat commit (many files) splits across
    >= 2 micro-batches with sub-version file offsets, exactly once and
    in deterministic task order; restarts resume mid-COMMIT."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    # one commit, 8 partition dirs (>= 8 files)
    s.write(
        _df(spark, [(i, f"d{i % 8}", i) for i in range(16)]).repartition(
            "day"
        ),
        mode="snapshot",
        partition_by=["day"],
    )
    batches: list[list[int]] = []
    _run_all(
        spark, root, ckpt,
        lambda b, i: batches.append(sorted(r["id"] for r in b.collect())),
        maxfilespertrigger="3",
    )
    delivered = [i for b in batches for i in b]
    assert sorted(delivered) == list(range(16))       # exactly once
    nonempty = [b for b in batches if b]
    assert len(nonempty) >= 2, f"fat commit did not split: {batches}"
    # windows advance by FILES (3 per batch), not by packed runs
    n_files = len(SnapshotTableStreamReader(root, {})._version_tasks(0))
    assert len(nonempty) == -(-n_files // 3)
    # a second fat commit + restart: resumes throttled, no re-delivery
    s.write(
        _df(spark, [(i, f"d{i % 8}", i) for i in range(16, 32)])
        .repartition("day"),
        mode="append",
        partition_by=["day"],
    )
    batches.clear()
    _run_all(
        spark, root, ckpt,
        lambda b, i: batches.append(sorted(r["id"] for r in b.collect())),
        maxfilespertrigger="3",
    )
    assert sorted(i for b in batches for i in b) == list(range(16, 32))
    assert len([b for b in batches if b]) >= 2
    # composes with the version cap; idle re-run delivers nothing
    batches.clear()
    _run_all(
        spark, root, ckpt,
        lambda b, i: batches.append(sorted(r["id"] for r in b.collect())),
        maxfilespertrigger="3",
        maxversionspertrigger="1",
    )
    assert [i for b in batches for i in b] == []


def test_table_source_file_limit_offsets_unit(registered, tmp_path):
    """Offset mechanics pinned without an engine: legacy offsets
    normalize, sub-version offsets slice the SAME deterministic task
    list, zero progress never happens while work remains."""
    from docker_airflow_spark_minio_spark.streaming.table_source import (
        SnapshotTableStreamReader,
    )

    spark = registered
    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(
        _df(spark, [(i, f"d{i % 4}", i) for i in range(8)]).repartition(
            "day"
        ),
        mode="snapshot",
        partition_by=["day"],
    )
    r = SnapshotTableStreamReader(root, {"maxfilespertrigger": "2"})
    n_total = len(r._version_tasks(0))
    assert n_total >= 4
    # walk the whole backlog two files at a time
    seen: list[str] = []
    cur = r.initialOffset()
    for _ in range(n_total):
        nxt = r.latestOffset()
        if nxt == cur:
            break
        runs = r.partitions(cur, nxt)
        files = [t for run in runs for t in run.tasks]
        assert 1 <= len(files) <= 2 and len(runs) <= len(files)
        seen += [t.path for t in files]
        r.commit(nxt)
        cur = nxt
    assert seen == [p.path for p in r._version_tasks(0)]  # exact order
    assert r.latestOffset() == cur  # drained: no phantom progress
    # regression guard still loud under the new offset shape
    with pytest.raises(ValueError, match="behind the checkpointed"):
        r.partitions({"version": 0, "file": 3}, {"version": 0, "file": 1})


def test_table_source_changelog_mode(registered, tmp_path):
    """mode=changelog: non-append commits emit insert/delete rows
    (read_changes-shaped) instead of refusing."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10), (2, "d2", 20)]),
            mode="snapshot", partition_by=["day"])                  # v0
    s.write(_df(spark, [(3, "d1", 30)]), mode="append",
            partition_by=["day"])                                   # v1
    s.write(_df(spark, [(9, "d1", 90)]),
            mode="overwrite_partitions", partition_by=["day"])      # v2

    rows: list[tuple] = []
    _run_all(
        spark, root, ckpt,
        lambda b, i: rows.extend(
            (r["id"], r["day"], r["_change_type"], r["_commit_version"])
            for r in b.collect()
        ),
        mode="changelog",
    )
    got = sorted(rows)
    assert (1, "d1", "insert", 0) in got and (2, "d2", "insert", 0) in got
    assert (3, "d1", "insert", 1) in got
    # the overwrite of d1 emits deletes of BOTH prior d1 rows + insert,
    # and must NOT touch the untouched d2 partition
    assert (1, "d1", "delete", 2) in got and (3, "d1", "delete", 2) in got
    assert (9, "d1", "insert", 2) in got
    assert not any(t[1] == "d2" and t[3] == 2 for t in got)
    assert len(got) == 6

    # rollback across the overwrite: reappearing + disappearing rows
    s.rollback(1)                                                   # v3
    rows.clear()
    _run_all(
        spark, root, ckpt,
        lambda b, i: rows.extend(
            (r["id"], r["day"], r["_change_type"], r["_commit_version"])
            for r in b.collect()
        ),
        mode="changelog",
    )
    got = sorted(rows)
    assert (9, "d1", "delete", 3) in got
    assert (1, "d1", "insert", 3) in got and (3, "d1", "insert", 3) in got


def test_table_source_changelog_streams_mor_delete_windows(
    registered, tmp_path
):
    """Changelog windows across merge-on-read delete commits emit the
    masked pre-image rows as deletes (read_changes parity), instead of
    the round-11 refusal: equality set keyed on (day, id) -- the
    partition-carrying key shape -- then a positional delete_where,
    then a rollback across the equality delete (reappearing inserts)."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(
        _df(spark, [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)]),
        mode="snapshot", partition_by=["day"],
    )                                                                # v0
    s.delete_keys(
        spark.createDataFrame([(("d1"), 1)], "day STRING, id INT"),
        ["day", "id"],
    )                                                                # v1
    s.delete_where(F.col("id") == 3)                                 # v2
    rows: list[tuple] = []
    _run_all(
        spark, root, ckpt,
        lambda b, i: rows.extend(
            (r["id"], r["day"], r["_change_type"], r["_commit_version"])
            for r in b.collect()
        ),
        mode="changelog",
    )
    got = sorted(rows)
    assert (1, "d1", "insert", 0) in got
    assert (1, "d1", "delete", 1) in got      # equality pre-image
    assert (3, "d2", "delete", 2) in got      # positional pre-image
    assert not any(t[0] == 2 and t[2] == "delete" for t in got)
    assert len(got) == 5
    # visible state parity with batch read_changes over the window
    rc = sorted(
        (r["id"], r["day"], r["_change_type"], r["_commit_version"])
        for r in s.read_changes(-1).collect()
    )
    assert got == rc
    # rollback ACROSS the equality delete: masked row reappears
    s.rollback(0)                                                    # v3
    rows.clear()
    _run_all(
        spark, root, ckpt,
        lambda b, i: rows.extend(
            (r["id"], r["day"], r["_change_type"], r["_commit_version"])
            for r in b.collect()
        ),
        mode="changelog",
    )
    got = sorted(rows)
    assert (1, "d1", "insert", 3) in got      # reappeared
    assert (3, "d2", "insert", 3) in got      # positional undone too
    assert not any(t[0] == 2 and t[3] == 3 for t in got)


def test_changelog_preimage_partition_pruning(registered, tmp_path):
    """An equality set whose key carries the partition spec plans its
    pre-image scan over ONLY the key's partitions (pure-twin dir
    names), never the whole older table state."""
    from docker_airflow_spark_minio_spark.streaming.table_source import (
        SnapshotTableStreamReader,
    )

    spark = registered
    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(
        _df(spark, [(i, f"d{i % 8}", i) for i in range(32)]),
        mode="snapshot", partition_by=["day"],
    )
    s.delete_keys(
        spark.createDataFrame([("d3", 3)], "day STRING, id INT"),
        ["day", "id"],
    )
    reader = SnapshotTableStreamReader(root, {"mode": "changelog"})
    parts = [
        t
        for run in reader.partitions({"version": 0}, {"version": 1})
        for t in run.tasks
    ]
    assert parts, "expected pre-image tasks"
    assert all("day=d3" in p.path for p in parts)
    assert all(
        p.change == ("delete", 1) and p.masks["match_set"] for p in parts
    )


def test_append_stream_across_historical_evolve(registered, tmp_path):
    """An evolve_schema commit already in history at stream start is
    metadata-only: the append stream passes through it with zero rows
    (round 13; previously refused), and pre-evolution dirs epoch-map
    to the pinned (evolved) schema."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10), (2, "d2", 20)]),
            mode="snapshot", partition_by=["day"])                  # v0
    s.evolve_schema(renames={"amt": "amount"})                      # v1
    s.write(
        spark.createDataFrame([(3, "d1", 30)],
                              "id INT, day STRING, amount INT"),
        mode="append", partition_by=["day"],
    )                                                               # v2
    rows: list[tuple] = []
    _run(
        spark, root, ckpt,
        lambda b, i: rows.extend(
            (r["id"], r["day"], r["amount"]) for r in b.collect()
        ),
    )
    assert sorted(rows) == [(1, "d1", 10), (2, "d2", 20), (3, "d1", 30)]


def test_changelog_streams_across_historical_evolve(registered, tmp_path):
    """Changelog windows stream THROUGH historical evolve commits:
    the evolve emits nothing, pre-evolution inserts and MoR pre-images
    surface under the evolved (renamed) column names."""
    spark = registered
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10), (2, "d2", 20)]),
            mode="snapshot", partition_by=["day"])                  # v0
    s.evolve_schema(renames={"amt": "amount"})                      # v1
    s.write(
        spark.createDataFrame([(3, "d1", 30)],
                              "id INT, day STRING, amount INT"),
        mode="append", partition_by=["day"],
    )                                                               # v2
    s.delete_where(F.col("id") == 1)  # v3: masks an OLD-epoch dir row
    rows: list[tuple] = []
    _run_all(
        spark, root, ckpt,
        lambda b, i: rows.extend(
            (r["id"], r["day"], r["amount"], r["_change_type"],
             r["_commit_version"])
            for r in b.collect()
        ),
        mode="changelog",
    )
    got = sorted(rows)
    assert (1, "d1", 10, "insert", 0) in got
    assert (2, "d2", 20, "insert", 0) in got
    assert (3, "d1", 30, "insert", 2) in got
    # the pre-image of the positional delete comes from a PRE-evolution
    # dir: its stored 'amt' column surfaces as 'amount' by field id
    assert (1, "d1", 10, "delete", 3) in got
    assert not any(t[4] == 1 for t in got), "evolve emitted rows"
    assert len(got) == 4


def test_mid_stream_evolve_still_refuses(registered, tmp_path):
    """An evolution landing AFTER the stream pinned its schema refuses
    loudly (a running query cannot change schema) in both modes."""
    from docker_airflow_spark_minio_spark.streaming.table_source import (
        SnapshotTableStreamReader,
    )

    spark = registered
    root = str(tmp_path / "t")
    s = SnapshotStore(spark, root)
    s.write(_df(spark, [(1, "d1", 10)]),
            mode="snapshot", partition_by=["day"])                  # v0
    for opts in ({"mode": "changelog"}, {}):
        reader = SnapshotTableStreamReader(root, opts)
        s.evolve_schema(renames={"amt": f"amt_{len(opts)}"})
        with pytest.raises(ValueError, match="restart the stream|crosses"):
            reader.partitions(
                {"version": -1}, {"version": s.current_version()}
            )
        s.evolve_schema(
            renames={f"amt_{len(opts)}": "amt"}
        )  # restore for next loop
