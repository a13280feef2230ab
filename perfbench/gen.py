"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same inputs, and the package under test sees only what is generated here.

* :func:`write_tables` -- the TPC-H-like star schema plus the events,
  documents and embeddings tables the registry entries read, written as
  one parquet file per table (the layout ``workloads.load_tables``
  expects).
* :func:`brewery_fetcher` -- a synthetic Open-Brewery-style paginated
  API, served by a nested closure so Spark ships it to executors by
  value.  A small share of rows carries malformed numeric fields.
* :func:`brewery_tallies` -- the per-(type, country) counts of one day,
  recomputed from the same generator, for the correctness check.
* :func:`table_ops_pass` -- the closed-loop operation mix of the
  ``table_ops`` workload; :func:`recent_keys` skews its keys to recent rows.
* :func:`registry_order` -- the seed-chosen order of registry entries.
"""

from __future__ import annotations

import datetime as dt
import json
import random

import numpy as np

# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(start: dt.date, end: dt.date, rng, n: int) -> np.ndarray:
    """``n`` day-granular timestamps in ``[start, end]`` as datetime64[us]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int):
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            # a planted near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words) + " dup")
        elif i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def table_columns(sf: float, seed: int) -> dict[str, dict[str, object]]:
    """Column arrays of every registry table at scale factor ``sf``."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, dict[str, object]] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n_line),
    }
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    texts = _documents(rng, n_docs)
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every registry table to ``<out_dir>/<table>.parquet``;
    returns row counts per table."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in table_columns(sf, seed).items():
        tbl = pa.table(cols)
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")
        counts[name] = tbl.num_rows
    return counts


# ---------------------------------------------------------------------------
# Brewery API
# ---------------------------------------------------------------------------

# The figures below are sourced where the repository has a source and are
# the benchmark's own choices where it has none; perfbench/NOTES.md lists
# which is which.
#: The ``brewery_type`` values of the Open Brewery DB API (FIXTURES.md 1.1).
BREWERY_TYPES = ["micro", "nano", "regional", "brewpub", "large", "planning",
                 "bar", "contract", "proprietor", "closed"]
#: Countries of the API; the list (and its length) is a choice: the source
#: says only that ``country`` has low cardinality.
COUNTRIES = ["United States", "Ireland", "England", "Scotland", "Poland",
             "Portugal", "South Korea", "Austria", "France", "Isle of Man"]
#: Share of rows with one malformed numeric field: a choice.  The source
#: says only that some ``phone``/``longitude`` values are non-numeric.
MALFORMED_SHARE = 0.02
BASE_URL = "http://brewery.invalid/v1/breweries"


def brewery_page(seed: int, day: str, page: int, per_page: int, total: int) -> list[dict]:
    """Records of one API page; a pure function of its arguments."""
    rng = random.Random(f"{seed}:{day}:{page}")
    start = (page - 1) * per_page
    out = []
    for i in range(start, min(start + per_page, total)):
        # a geometric skew, so gold groups differ in size; its rates are a
        # choice, not the API's published shares
        btype = BREWERY_TYPES[min(int(rng.expovariate(0.6)), len(BREWERY_TYPES) - 1)]
        country = COUNTRIES[min(int(rng.expovariate(0.5)), len(COUNTRIES) - 1)]
        lon: object = round(rng.uniform(-160.0, 30.0), 6)
        lat: object = round(rng.uniform(-40.0, 65.0), 6)
        phone: object = str(rng.randrange(10**9, 10**10))
        if rng.random() < MALFORMED_SHARE:
            # malformed numerics: conform's try_cast turns them into NULL
            field = rng.randrange(3)
            if field == 0:
                lon = "n/a"
            elif field == 1:
                lat = "12.34.56"
            else:
                phone = "+1 (555) 010-" + str(rng.randrange(1000, 9999))
        city = f"City {rng.randrange(500)}"
        out.append({
            "id": f"{day}-{i:07d}",
            "name": f"Brewery {rng.randrange(10**6)}",
            "brewery_type": btype,
            "address_1": f"{rng.randrange(1, 9999)} Main St",
            "address_2": None,
            "address_3": None,
            "city": city,
            "state_province": f"State {rng.randrange(50)}",
            "postal_code": f"{rng.randrange(10**5):05d}",
            "country": country,
            "longitude": lon,
            "latitude": lat,
            "phone": phone,
            "website_url": f"http://www.brewery{i}.example",
            "state": f"State {rng.randrange(50)}",
            "street": f"{rng.randrange(1, 9999)} Main St",
        })
    return out


def brewery_fetcher(seed: int, rows_per_day: int, per_page: int = 200):
    """A fetcher closure for ``PaginatedRestSource``: URLs encode the day
    as the last path segment before the query string, and
    ``<base>/<day>/meta`` reports the day's total."""

    def fetch(url: str) -> str:
        from urllib.parse import parse_qs, urlsplit

        parts = urlsplit(url)
        segs = parts.path.rstrip("/").split("/")
        if segs[-1] == "meta":
            return json.dumps({"total": rows_per_day})
        q = parse_qs(parts.query)
        page, pp = int(q["page"][0]), int(q["per_page"][0])
        return json.dumps(brewery_page(seed, segs[-1], page, pp, rows_per_day))

    return fetch


def brewery_tallies(seed: int, day: str, rows_per_day: int, per_page: int = 200) -> dict:
    """``{(brewery_type, country): rows}`` for one generated day."""
    out: dict[tuple[str, str], int] = {}
    pages = -(-rows_per_day // per_page)
    for p in range(1, pages + 1):
        for rec in brewery_page(seed, day, p, per_page, rows_per_day):
            key = (rec["brewery_type"], rec["country"])
            out[key] = out.get(key, 0) + 1
    return out


# ---------------------------------------------------------------------------
# table_ops and registry_read
# ---------------------------------------------------------------------------

#: The foreground op classes of one ``table_ops`` pass: every pass runs
#: each class (point reads twice), so every run sees the same read/write
#: shares and only the order and the parameters come from the seed.  The
#: classes are the ones the workload is defined by; their shares are a
#: choice that gives every class a sample in every pass, not a measured mix.
FOREGROUND_MIX = ("merge", "delete", "update", "point_read", "point_read",
                  "range_read", "as_of_read", "sql_read")
#: The batch ingest and periodic work that close every pass: the append
#: fragments the newest partitions (so compaction always has work), the
#: compaction rewrites them, and the stream tail catches up on the pass.
PERIODIC = ("append", "compact", "stream_tail")


def table_ops_pass(seed: int, k: int) -> list[str]:
    """Op classes of pass ``k``: the foreground mix in a seed-chosen order,
    then the ingest and periodic work."""
    order = list(FOREGROUND_MIX)
    random.Random(f"{seed}:pass:{k}").shuffle(order)
    return order + list(PERIODIC)


def recent_keys(rng: random.Random, max_id: int, n: int, scale: float) -> list[int]:
    """``n`` distinct existing ids in ``[0, max_id)`` skewed towards the
    newest (largest) ids: exponential distance back from the head."""
    out: set[int] = set()
    while len(out) < min(n, max_id):
        out.add(max(0, max_id - 1 - int(rng.expovariate(1.0 / scale))))
    return sorted(out)


def registry_order(seed: int, names: list[str]) -> list[str]:
    """The registry entries in a seed-chosen order."""
    order = sorted(names)
    random.Random(f"{seed}:registry").shuffle(order)
    return order
