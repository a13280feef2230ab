"""SQL row-level DML on snapshot tables: ``SnapshotStore.merge_into``
(general conditional-clause MERGE, copy-on-write) and the
``snapshot_sql`` UPDATE / DELETE FROM / MERGE INTO statement surface --
the headline Iceberg-on-Spark SQL the reference's users speak to their
tables (reference job_gold.py:71-88 shows the SQL-first consumption
shape), plus the optimistic-concurrency pin (``require_parent_v``)
that makes a concurrent commit surface as a loud SnapshotConflict
instead of a lost update.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docker_airflow_spark_minio_spark.snapshots import (
    SnapshotConflict,
    SnapshotStore,
)
from docker_airflow_spark_minio_spark.streaming.table_source import (
    _parse_assignments,
    _scan_split,
    _unquote_name,
    snapshot_sql,
)

SCHEMA = "id INT, name STRING, price DOUBLE, part STRING"


def _store(spark, path, rows, partition_by=["part"]):
    s = SnapshotStore(spark, str(path))
    s.write(
        spark.createDataFrame(rows, SCHEMA),
        mode="snapshot",
        partition_by=partition_by or None,
    )
    return s


def _base(spark, tmp_path):
    return _store(
        spark,
        tmp_path / "t",
        [
            (1, "a", 10.0, "x"),
            (2, "b", 20.0, "x"),
            (3, "c", 30.0, "y"),
            (4, "d", 40.0, "y"),
        ],
    )


def _rows(s, **kw):
    return sorted(
        (r["id"], r["name"], r["price"], r["part"])
        for r in s.read(**kw).collect()
    )


# -- parser units ------------------------------------------------------------


def test_scan_split_respects_quotes_and_parens():
    assert _scan_split("a WHERE b", "WHERE") == ["a ", " b"]
    # inside parens / quotes: not split
    assert _scan_split("f(x WHERE y) WHERE z", "WHERE") == [
        "f(x WHERE y) ",
        " z",
    ]
    assert _scan_split("'a WHERE b' WHERE c", "WHERE") == [
        "'a WHERE b' ",
        " c",
    ]
    # doubled-quote escape stays inside the literal
    assert _scan_split("'it''s WHERE' WHERE c", "WHERE") == [
        "'it''s WHERE' ",
        " c",
    ]
    # word boundary: WHEREX is not WHERE
    assert _scan_split("WHEREX WHERE y", "WHERE") == ["WHEREX ", " y"]
    # punctuation separator
    assert _scan_split("a, f(b, c), d", ",") == ["a", " f(b, c)", " d"]


def test_unquote_and_assignments():
    assert _unquote_name("`a b`.c") == "a b.c"
    assert _parse_assignments("a = 1, b = f(x, y)") == {
        "a": "1",
        "b": "f(x, y)",
    }
    with pytest.raises(ValueError, match="SET assignment"):
        _parse_assignments("not-an-assignment")


# -- merge_into API ----------------------------------------------------------


def test_merge_into_update_delete_insert(spark, tmp_path):
    s = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [
            (2, "B2", 99.0, "x"),  # update
            (3, None, 0.0, "y"),  # delete
            (5, "e", 50.0, "z"),  # insert into brand-new partition
        ],
        SCHEMA,
    )
    v = s.merge_into(
        src,
        on="target.id = source.id",
        matched=[
            ("update", "source.price > 50", {"name": "source.name", "price": "source.price"}),
            ("delete", "source.price <= 1"),
        ],
        not_matched=[("insert", None, None)],
    )
    assert v == 1
    assert _rows(s) == [
        (1, "a", 10.0, "x"),
        (2, "B2", 99.0, "x"),
        (4, "d", 40.0, "y"),
        (5, "e", 50.0, "z"),
    ]
    # atomic + time travel
    assert len(_rows(s, as_of=0)) == 4
    # touched-partition rewrite only: nothing matched means nothing moved
    m = s._read_manifest(v)
    assert "part=z" in m["partitions"]


def test_merge_into_first_match_wins_and_noop(spark, tmp_path):
    s = _base(spark, tmp_path)
    src = spark.createDataFrame([(1, "u", 5.0, "x")], SCHEMA)
    s.merge_into(
        src,
        on="target.id = source.id",
        matched=[
            ("update", None, {"price": F.lit(111.0)}),
            ("delete", None),  # unreachable: first clause always fires
        ],
    )
    assert (1, "a", 111.0, "x") in _rows(s)
    # nothing matches, no inserts -> None, no commit
    head = s.current_version()
    src2 = spark.createDataFrame([(99, "zz", 1.0, "q")], SCHEMA)
    assert (
        s.merge_into(
            src2, on="target.id = source.id", matched=[("delete", None)]
        )
        is None
    )
    assert s.current_version() == head


def test_merge_into_cardinality_violation(spark, tmp_path):
    # the duplicate matches alone, and beside insert rows
    for inserts in ([], [(8, "h", 8.0, "x"), (9, "i", 9.0, "w")]):
        s = _base(spark, tmp_path / str(len(inserts)))
        dup = spark.createDataFrame(
            [(2, "p", 1.0, "x"), (2, "q", 2.0, "x")] + inserts, SCHEMA
        )
        ins = [("insert", None, None)] if inserts else []
        with pytest.raises(ValueError, match="cardinality"):
            s.merge_into(
                dup,
                on="target.id = source.id",
                matched=[("update", None, {"price": "source.price"})],
                not_matched=ins,
            )
        assert s.current_version() == 0
        # disabled: applies nondeterministically but does not raise
        v = s.merge_into(
            dup,
            on="target.id = source.id",
            matched=[("delete", None)],
            not_matched=ins,
            validate_cardinality=False,
        )
        assert v is not None
        ids = [r[0] for r in _rows(s)]
        assert ids == sorted([1, 3, 4] + [r[0] for r in inserts])


def test_merge_into_refusals(spark, tmp_path):
    s = _base(spark, tmp_path)
    src = spark.createDataFrame([(1, "u", 5.0, "x")], SCHEMA)
    with pytest.raises(ValueError, match="partition columns"):
        s.merge_into(
            src,
            on="target.id = source.id",
            matched=[("update", None, {"part": "source.part"})],
        )
    with pytest.raises(ValueError, match="at least one WHEN"):
        s.merge_into(src, on="target.id = source.id")
    with pytest.raises(ValueError, match="INSERT columns"):
        s.merge_into(
            src,
            on="target.id = source.id",
            not_matched=[("insert", None, {"nope": "1"})],
        )


def test_merge_into_unpartitioned(spark, tmp_path):
    s = _store(
        spark,
        tmp_path / "u",
        [(1, "a", 10.0, "x"), (2, "b", 20.0, "x")],
        partition_by=None,
    )
    src = spark.createDataFrame(
        [(2, "B", 99.0, "x"), (9, "i", 1.0, "y")], SCHEMA
    )
    v = s.merge_into(
        src,
        on="target.id = source.id",
        matched=[("update", None, {"price": "source.price"})],
        not_matched=[("insert", None, None)],
    )
    assert v == 1
    assert [r[0] for r in _rows(s)] == [1, 2, 9]
    # full no-op probe returns None
    empty = spark.createDataFrame([], SCHEMA)
    assert (
        s.merge_into(
            empty,
            on="target.id = source.id",
            matched=[("delete", None)],
            not_matched=[("insert", None, None)],
        )
        is None
    )


def test_merge_into_hidden_partitioning(spark, tmp_path):
    # bucket(4, id): 1 -> 1, 2 -> 2, 7 -> 3, 10 -> 2 -- the insert lands
    # in a new bucket, or in the bucket the matched row already touched
    for new_id, n_parts in ((7, 3), (10, 2)):
        s = SnapshotStore(spark, str(tmp_path / f"h{new_id}"))
        s.write(
            spark.createDataFrame(
                [(1, "a", 10.0, "x"), (2, "b", 20.0, "x")], SCHEMA
            ),
            mode="snapshot",
            partition_by=["bucket(4, id)"],
        )
        src = spark.createDataFrame(
            [(2, "B", 99.0, "x"), (new_id, "g", 70.0, "z")], SCHEMA
        )
        v = s.merge_into(
            src,
            on="target.id = source.id",
            matched=[
                ("update", None, {"name": "source.name", "price": "source.price"})
            ],
            not_matched=[("insert", None, None)],
        )
        assert v == 1
        assert _rows(s) == [
            (1, "a", 10.0, "x"),
            (2, "B", 99.0, "x"),
            (new_id, "g", 70.0, "z"),
        ]
        parts = s._read_manifest(v)["partitions"]
        assert len(parts) == n_parts
        # the untouched bucket keeps its original data dir
        assert parts["id_bucket_4=1"] == s._read_manifest(0)["partitions"][
            "id_bucket_4=1"
        ]
    # transform source column cannot be assigned
    with pytest.raises(ValueError, match="transform sources"):
        s.merge_into(
            src,
            on="target.id = source.id",
            matched=[("update", None, {"id": "source.id"})],
        )


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    tail = store.executionsList(max(0, n - 1), 1)
    return tail.apply(0).executionId() if tail.size() else -1


def _root_executions_since(spark, last_id: int) -> int:
    """SQL executions started after ``last_id`` that are actions of their
    own (sub-executions share their root's id); the status store keeps
    the newest ones when it evicts."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    tail = store.executionsList(max(0, n - 50), 50)
    ids = [tail.apply(i) for i in range(tail.size())]
    return sum(
        1
        for e in ids
        if e.executionId() > last_id and e.rootExecutionId() == e.executionId()
    )


@pytest.mark.parametrize(
    "clauses, ids, rewritten",
    [
        (
            dict(matched=[("update", None, {"price": "source.price"})]),
            [1, 2, 3, 4],
            {"x"},
        ),
        (
            dict(
                matched=[("update", None, {"price": "source.price"})],
                not_matched_by_source=[("delete", "target.id = 4")],
            ),
            [1, 2, 3],
            {"x", "y"},
        ),
        (dict(not_matched=[("insert", None, None)]), [1, 2, 3, 4, 5], {"z"}),
        (
            dict(
                matched=[("delete", None)],
                not_matched=[("insert", None, None)],
                not_matched_by_source=[("update", None, {"name": "'s'"})],
            ),
            [1, 3, 4, 5],
            {"x", "y", "z"},
        ),
        (
            dict(
                not_matched=[("insert", None, None)],
                not_matched_by_source=[("delete", "target.id = 4")],
            ),
            [1, 2, 3, 5],
            {"y", "z"},
        ),
    ],
    ids=["inner", "left", "right", "full", "full-no-matched-clause"],
)
def test_merge_into_runs_two_actions(spark, tmp_path, clauses, ids, rewritten):
    """Whatever join its clauses need, a merge is two Spark actions:
    the probe and the commit's write.  It rewrites only the partitions
    a clause changes: one holding matched rows but no change is read
    for the insert test and keeps its data dir."""
    s = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "B", 99.0, "x"), (5, "e", 50.0, "z")], SCHEMA
    )
    before = _last_execution_id(spark)
    assert s.merge_into(src, on="target.id = source.id", **clauses) == 1
    assert _root_executions_since(spark, before) <= 2
    assert [r[0] for r in _rows(s)] == ids
    old, new = (s._read_manifest(v)["partitions"] for v in (0, 1))
    assert {p[len("part="):] for p in new if new[p] != old.get(p)} == rewritten


# -- concurrency: the require_parent_v pin -----------------------------------


def test_write_require_parent_v_pin(spark, tmp_path):
    s = _base(spark, tmp_path)
    extra = spark.createDataFrame([(9, "i", 1.0, "x")], SCHEMA)
    # head is 0: pin holds
    s.write(extra, mode="append", partition_by=["part"], require_parent_v=0)
    # head is now 1: stale pin refuses loudly
    with pytest.raises(SnapshotConflict, match="head moved"):
        s.write(
            extra, mode="append", partition_by=["part"], require_parent_v=0
        )


def test_update_where_concurrent_commit_conflicts(spark, tmp_path, monkeypatch):
    """A commit landing while the COW rewrite is being computed must
    surface as SnapshotConflict, never a silent lost update."""
    s = _base(spark, tmp_path)
    interloper = spark.createDataFrame([(9, "i", 1.0, "y")], SCHEMA)
    orig = SnapshotStore._touched_partition_dirs

    def hooked(self, condition):
        out = orig(self, condition)
        SnapshotStore(self.spark, self.root).write(
            interloper, mode="append", partition_by=["part"]
        )
        return out

    monkeypatch.setattr(SnapshotStore, "_touched_partition_dirs", hooked)
    with pytest.raises(SnapshotConflict, match="head moved"):
        s.update_where(F.col("id") == 1, {"price": F.lit(0.0)})
    monkeypatch.undo()
    # the interloper's row survived; retry against the new head succeeds
    assert (9, "i", 1.0, "y") in _rows(s)
    assert s.update_where(F.col("id") == 1, {"price": F.lit(0.0)}) is not None


# -- snapshot_sql statement surface ------------------------------------------


def test_sql_update(spark, tmp_path):
    s = _base(spark, tmp_path)
    out = snapshot_sql(
        spark,
        "UPDATE t SET price = CASE WHEN id = 1 THEN 0 ELSE price * 2 END "
        "WHERE part = 'x'",
        {"t": s.root},
    ).collect()
    assert out[0]["version"] == 1
    assert _rows(s) == [
        (1, "a", 0.0, "x"),
        (2, "b", 40.0, "x"),
        (3, "c", 30.0, "y"),
        (4, "d", 40.0, "y"),
    ]
    # no-match -> -1, no commit
    out = snapshot_sql(
        spark, "UPDATE t SET price = 1 WHERE id = 999", {"t": s.root}
    ).collect()
    assert out[0]["version"] == -1
    assert s.current_version() == 1


def test_sql_delete_mor_and_cow(spark, tmp_path):
    s = _base(spark, tmp_path)
    # default: merge-on-read positional delete (no data rewrite)
    snapshot_sql(spark, "DELETE FROM `t` WHERE id = 2", {"t": s.root})
    m = s._read_manifest(s.current_version())
    assert any(
        d.get("kind") == "positional" for d in m.get("delete_sets", [])
    )
    assert 2 not in [r[0] for r in _rows(s)]
    # cow: partition rewrite, no delete set added
    snapshot_sql(
        spark,
        "DELETE FROM t WHERE part = 'y'",
        {"t": s.root},
        delete_approach="cow",
    )
    m2 = s._read_manifest(s.current_version())
    assert "part=y" not in m2["partitions"]
    assert [r[0] for r in _rows(s)] == [1]


def test_sql_merge_full_grammar(spark, tmp_path):
    s = _base(spark, tmp_path)
    s2 = _store(
        spark,
        tmp_path / "src",
        [(2, "B2", 99.0, "x"), (3, "c", 0.5, "y"), (6, "f", 60.0, "z")],
        partition_by=None,
    )
    out = snapshot_sql(
        spark,
        """MERGE INTO `t` AS tgt USING s AS src ON tgt.id = src.id
           WHEN MATCHED AND src.price > 50 THEN UPDATE SET
               name = src.name, price = src.price + 1
           WHEN MATCHED THEN DELETE
           WHEN NOT MATCHED AND src.price > 10 THEN
               INSERT (id, name, price, part)
               VALUES (src.id, upper(src.name), src.price, src.part)""",
        {"t": s.root, "s": s2.root},
    ).collect()
    assert out[0]["version"] == 1
    assert _rows(s) == [
        (1, "a", 10.0, "x"),
        (2, "B2", 100.0, "x"),
        (4, "d", 40.0, "y"),
        (6, "F", 60.0, "z"),
    ]


def test_sql_merge_subquery_source_and_insert_star(spark, tmp_path):
    s = _base(spark, tmp_path)
    s2 = _store(
        spark,
        tmp_path / "src",
        [(5, "e", 50.0, "z"), (6, "f", 5.0, "z")],
        partition_by=None,
    )
    snapshot_sql(
        spark,
        """MERGE INTO t USING (SELECT id, name, price, part FROM s
                              WHERE price >= 50) AS u
           ON t.id = u.id
           WHEN NOT MATCHED THEN INSERT *""",
        {"t": s.root, "s": s2.root},
    )
    ids = [r[0] for r in _rows(s)]
    assert 5 in ids and 6 not in ids


def test_sql_dml_target_errors(spark, tmp_path):
    s = _base(spark, tmp_path)
    with pytest.raises(ValueError, match="registered table names"):
        snapshot_sql(
            spark, "INSERT INTO db.missing SELECT 1 AS x", {"t": s.root}
        )
    with pytest.raises(ValueError, match="UPDATE target"):
        snapshot_sql(spark, "UPDATE nope SET a = 1", {"t": s.root})
    with pytest.raises(ValueError, match="MERGE source"):
        snapshot_sql(
            spark,
            "MERGE INTO t USING nope ON t.id = nope.id "
            "WHEN MATCHED THEN DELETE",
            {"t": s.root},
        )
    with pytest.raises(ValueError, match="INSERT only"):
        snapshot_sql(
            spark,
            "MERGE INTO t USING t2 ON t.id = t2.id "
            "WHEN NOT MATCHED THEN DELETE",
            {"t": s.root, "t2": s.root},
        )


def test_sql_merge_case_when_in_clauses(spark, tmp_path):
    """CASE WHEN inside clause conditions / values must not confuse the
    WHEN/THEN splitter."""
    s = _base(spark, tmp_path)
    s2 = _store(
        spark,
        tmp_path / "src",
        [(1, "a", 7.0, "x")],
        partition_by=None,
    )
    snapshot_sql(
        spark,
        """MERGE INTO t USING s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET
               price = CASE WHEN s.price > 5 THEN s.price ELSE 0 END""",
        {"t": s.root, "s": s2.root},
    )
    assert (1, "a", 7.0, "x") in _rows(s)


def test_merge_into_not_matched_by_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE clauses apply to target rows with no
    source match -- the full-sync MERGE shape -- on a partitioned and an
    unpartitioned table."""
    for partition_by in (["part"], None):
        s = _store(
            spark,
            tmp_path / str(bool(partition_by)),
            [
                (1, "a", 10.0, "x"),
                (2, "b", 20.0, "x"),
                (3, "c", 30.0, "y"),
                (4, "d", 40.0, "y"),
            ],
            partition_by=partition_by,
        )
        src = spark.createDataFrame(
            [(2, "B", 99.0, "x"), (5, "e", 50.0, "z")], SCHEMA
        )
        v = s.merge_into(
            src,
            on="target.id = source.id",
            matched=[("update", None, {"price": "source.price"})],
            not_matched=[("insert", None, None)],
            not_matched_by_source=[
                ("update", "target.id = 1", {"name": F.lit("stale")}),
                ("delete", None),
            ],
        )
        assert v == 1
        rows = {r[0]: r for r in _rows(s)}
        assert rows[2][2] == 99.0       # matched update
        assert 5 in rows                # insert
        assert rows[1][1] == "stale"    # by-source first clause
        assert 3 not in rows and 4 not in rows  # by-source delete (rest)


def test_sql_merge_not_matched_by_source(spark, tmp_path):
    s = _base(spark, tmp_path)
    s2 = _store(
        spark, tmp_path / "src", [(1, "a", 1.0, "x")], partition_by=None
    )
    snapshot_sql(
        spark,
        """MERGE INTO t USING s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET price = 0
           WHEN NOT MATCHED BY SOURCE AND t.part = 'y' THEN DELETE
           WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'keep'""",
        {"t": s.root, "s": s2.root},
    )
    rows = {r[0]: r for r in _rows(s)}
    assert rows[1][2] == 0.0
    assert 3 not in rows and 4 not in rows   # part='y' deleted
    assert rows[2][1] == "keep"
    with pytest.raises(ValueError, match=r"BY TARGET\]"):
        snapshot_sql(
            spark,
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *",
            {"t": s.root, "s": s2.root},
        )
