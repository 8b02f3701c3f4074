"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of its seed and sizes, and writes
with pyarrow only, so building inputs starts no Spark job:

* ``prices_table`` writes a tick-shaped prices table in the layout
  ``PriceTracker.ingest_batch`` produces through ``append_prices``:
  ``dt=<date>/batch=<epoch second>`` directories, one parquet file per
  tick, the validated ``market_feed`` rows of that tick, an
  ``event_id`` column and a batch-constant timestamp.
* ``raw_poll`` builds one raw poll result (``synthetic_page`` rows for
  a set of pages) in the ``COINGECKO_RAW_SCHEMA`` columns, the file
  shape ``streaming.pipeline.run_ingest_stream`` watches for.
* ``catalog_tables`` writes the ten tables the query registry reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``)
  with the column names, types and value domains of the repository's
  test datasets (TESTDATA.md), at a chosen number of ``lineitem`` rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crypto_price_tracker_with_etl_dashboard_spark.sources.market_feed import synthetic_page

EPOCH = dt.datetime(2024, 1, 1)
PER_PAGE = 100

_RAW_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("name", pa.string()),
        ("current_price", pa.float64()),
        ("market_cap", pa.float64()),
        ("total_volume", pa.float64()),
    ]
)
_PRICES_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("name", pa.string()),
        ("current_price", pa.float64()),
        ("market_cap", pa.float64()),
        ("total_volume", pa.float64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("event_id", pa.int64()),
    ]
)


def poll_rows(pages: list[int], tick: int, seed: int) -> list[tuple]:
    """Raw rows of one poll: ``synthetic_page`` for each page."""
    return [r[:5] for p in pages for r in synthetic_page(p, PER_PAGE, tick, seed)]


def validated(rows: list[tuple]) -> list[tuple]:
    """The rows ``validate_and_normalize`` keeps, with its lowercasing."""
    return [
        (s.lower(), n, price, cap, vol)
        for s, n, price, cap, vol in rows
        if s is not None and n is not None and price is not None
    ]


def raw_poll(pages: list[int], tick: int, seed: int) -> pa.Table:
    cols = list(zip(*poll_rows(pages, tick, seed)))
    return pa.Table.from_arrays([pa.array(c) for c in cols], schema=_RAW_SCHEMA)


def prices_table(path: str, stamps: list[dt.datetime], pages: list[int], seed: int) -> None:
    """Write one poll tick at each of ``stamps`` as a partitioned prices
    table. The batch id of a tick is the epoch second of its timestamp,
    as ``PriceTracker.ingest_batch`` writes it."""
    for tick, ts in enumerate(stamps):
        rows = validated(poll_rows(pages, tick, seed))
        utc = ts.replace(tzinfo=dt.timezone.utc)
        cols = [list(c) for c in zip(*rows)]
        table = pa.Table.from_arrays(
            [pa.array(c) for c in cols]
            + [pa.array([utc] * len(rows)), pa.array(range(len(rows)), pa.int64())],
            schema=_PRICES_SCHEMA,
        )
        part = os.path.join(path, f"dt={ts.date().isoformat()}", f"batch={int(utc.timestamp())}")
        os.makedirs(part)
        pq.write_table(table, os.path.join(part, "part-00000.parquet"))


# ---- query-catalog tables --------------------------------------------------

_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def catalog_tables(out: str, seed: int, lineitems: int) -> None:
    """Write the registry's ten input tables. Sizes follow the test
    datasets' ratios: orders = lineitem/4, customers = lineitem/40,
    parts = lineitem/30, suppliers = lineitem/600, events = lineitem/6,
    documents and embeddings = lineitem/120."""
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    n_ord, n_cust = lineitems // 4, lineitems // 40
    n_part, n_supp = lineitems // 30, max(10, lineitems // 600)
    n_ev, n_users = lineitems // 6, max(20, lineitems // 400)
    n_doc = max(50, lineitems // 120)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(_COLORS)} {rng.choice(_THINGS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    o_date = _dates(rng, n_ord, "1995-01-01", 2400)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    l_order = rng.integers(0, n_ord, lineitems)
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, lineitems),
        "l_suppkey": rng.integers(0, n_supp, lineitems),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, lineitems), 2),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": o_date[l_order] + rng.integers(1, 122, lineitems).astype(
            "timedelta64[D]"
        ).astype("timedelta64[us]"),
    })
    # events: strictly increasing timestamps over 30 days, ids in order
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: bag-of-words texts; every 20th is a near-duplicate of
    # an earlier one, so the dedup/LSH queries find pairs
    texts = []
    for i in range(n_doc):
        if i >= 20 and i % 20 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: 10 unit-norm clusters in 64 dimensions
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_doc)
    vecs = centers[label] * 0.15 + rng.normal(size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
