"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by all
columns).  Each frame's plan is also checked for cartesian and
nested-loop joins before it is collected.  Usage:

    python tests/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# deliberate broadcast cross joins against tiny, bounded sides only:
# the fixed query set (brute-force ANN baseline), the hour-grid x
# distinct-event-type lattice (gap-fill), the 1x1/1xT scalar combines
# of sketch estimates with exact counts, and the single-row centroid
# model attach (IVF + k-means)
CARTESIAN_ALLOWED = {
    "ann_cosine_topk_bruteforce",
    # eval-suite-sized benchmark side broadcast against the train
    # scan (the brute-force-baseline pattern, cross-set)
    "semantic_decontam_audit",
    "timeseries_gapfill_hourly",
    "sketch_hll_merge_bound",
    "sketch_mg_heavy_hitters",
    "ann_ivf_topk",
    "q11_important_parts",
    "kmeans_embedding_buckets",
    "dedup_semantic_representatives",  # composes kmeans_assign
    "ann_lsh_recall_at_k",  # composes the brute-force baseline
    # single-row COUNT(*) attach deriving the corpus-scaled LSH
    # bucket width (workloads/dedup.py) -- broadcast 1x1, not data
    "dedup_embedding_cosine_pairs",
    # single-row PQ codebook model attach (the kmeans/IVF pattern)
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",  # coarse + PQ codebook single-row attaches
    # single-row corpus-stats (N, avgdl, df) attach for BM25 scoring
    "text_bm25_topk",
    # BM25 stats attach + single query-vector attach (round 5)
    "retrieval_rrf_hybrid_topk",
    # composes the brute-force baseline + IVF (both allowed above)
    "ann_ivf_recall_at_k",
    # single-row fitted-quantizer model attach (round 6): the new
    # batch maps against ONE broadcast array<struct> centroid value
    "ann_ivf_incremental_assign",
    # single-row total-token-count attach for the e*N/W width bound
    # (the Q11 global-total pattern; the sketch side is <= D*W rows)
    "sketch_cms_point_queries",
    # round 7: 1-row weight-total / min attach over the per-source
    # aggregate (rows == number of sources)
    "corpus_temperature_weights",
    # round 7: theta / exact-count scalar attaches over <= types*K
    # retained sketch hashes -- every cross side is a 1-row aggregate
    "sketch_kmv_theta_setops",
    # round 7: composes the brute-force baseline (allowed above) and
    # its own broadcast fixed query set for the truncated side
    "ann_matryoshka_truncation_recall",
    # round 10: the same single-row frozen-quantizer model attach as
    # ann_ivf_topk / ann_ivf_incremental_assign, read back from the
    # committed snapshot table (broadcast 1x1, never data x data)
    "ann_ivf_persisted_index",
    "ann_ivf_drift_monitor",
}


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, dtype-normalized frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s)
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            import datetime
            import decimal

            non_null = s.dropna()
            if len(non_null) and all(
                isinstance(v, datetime.date) and not isinstance(v, datetime.datetime)
                for v in non_null
            ):
                out[c] = pd.to_datetime(s).astype("datetime64[us]")
            elif len(non_null) and all(
                isinstance(v, (int, decimal.Decimal)) for v in non_null
            ):
                out[c] = s.map(lambda v: int(v) if v is not None else None).astype("Int64")
            else:
                out[c] = s.map(lambda v: str(v) if v is not None else None)
        else:
            out[c] = s
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), na_position="first").reset_index(drop=True)
    return ndf


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"row count: spark={len(sdf)} duckdb={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns: spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}")
    if problems:
        return problems
    a, b = normalize(sdf), normalize(ddf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = np.allclose(
                av.fillna(np.nan), bv.astype("float64").fillna(np.nan),
                rtol=0, atol=0, equal_nan=True,
            )
        else:
            ok = av.equals(bv)
        if not ok:
            mism = (av.fillna("<null>") != bv.fillna("<null>"))
            idx = mism[mism].index[:3].tolist()
            sample = [(c, i, av.iloc[i], bv.iloc[i]) for i in idx]
            problems.append(f"values differ in col {c}: {sample}")
    return problems


def run_check(
    spark,
    sf_dir: str,
    only: set[str] | None = None,
    verbose: bool = True,
    plan_verdicts: dict[str, bool] | None = None,
) -> tuple[list[str], list[str], list[str]]:
    """Run the side-by-side comparison; returns (passed, failed, rows_only).

    Importable (tests/test_full_registry_oracle.py wraps it over the
    whole registry) as well as CLI-driven via :func:`main`.
    ``plan_verdicts``, when given, receives entry -> True for each built
    frame whose plan holds a cartesian or nested-loop join outside
    :data:`CARTESIAN_ALLOWED`.
    """
    import __spark_entry__ as entrymod

    from docker_airflow_spark_minio_spark import plans

    def report(msg: str) -> None:
        if verbose:
            print(msg)

    con = duck_connection(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    failed, passed, rows_only = [], [], []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            # the plan check rides the one build of the frame
            cartesian = (
                name not in CARTESIAN_ALLOWED and plans.has_cartesian_product(df)
            )
            if plan_verdicts is not None:
                plan_verdicts[name] = cartesian
            sdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            report(f"FAIL {name}: spark raised {type(exc).__name__}: {str(exc)[:300]}")
            continue
        if cartesian:
            failed.append(name)
            report(f"FAIL {name}: cartesian/nested-loop join in its plan")
            continue
        if name not in oracles:
            rows_only.append(name)
            report(f"ROWS {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            report(f"FAIL {name}: duckdb raised {type(exc).__name__}: {str(exc)[:300]}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failed.append(name)
            report(f"FAIL {name}:")
            for p in problems:
                report(f"     {p}")
        else:
            passed.append(name)
            report(f"PASS {name} ({len(sdf)} rows)")

    report(f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only")
    return passed, failed, rows_only


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from docker_airflow_spark_minio_spark.session import get_spark_session

    spark = get_spark_session(
        "oracle-check",
        master=os.environ.get("SPARK_GRAFT_MASTER", "local[8]"),
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    _, failed, _ = run_check(spark, sf_dir, only or None)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
