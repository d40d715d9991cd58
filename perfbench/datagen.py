"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (numpy ``PCG64``), so the
same seed always yields byte-identical parquet files. Two families:

- :func:`write_fixture_tables` — the ten star-schema + events/documents/
  embeddings tables the query registry reads, in the declared schema of
  ``serverless_etl_aws_spark.schemas.TABLES`` and with the value
  distributions of the engine's fixture contract (FIXTURES.md §A).
- :func:`write_taxi_months` — monthly NYC-taxi landing files in the
  ``schemas.NYC_TAXI`` shape (FIXTURES.md §B), with late rows whose pickup
  falls up to 20 days before the month starts, and a few rows the silver
  cleaning step must drop.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale factor 1.0 (the contract scales linearly, except
#: documents/embeddings, which stay at 500 rows below sf 0.1).
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.43, 0.14, 0.15, 0.13, 0.15]
_EMBED_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table): adding a table never
    shifts the values of another."""
    salt = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with exactly two decimals."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def fixture_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    rows = {name: max(1, round(n * sf)) for name, n in _BASE_ROWS.items()}
    rows["documents"] = 500 if sf < 0.1 else round(50_000 * sf)
    rows["embeddings"] = 500 if sf < 0.1 else round(20_000 * sf)
    return rows


def write_fixture_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table; return
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = fixture_rows(sf)
    n_cust, n_supp, n_part, n_ord = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"]
    )

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))

    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))

    r = _rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp),
    }), os.path.join(out_dir, "supplier.parquet"))

    r = _rng(seed, "part")
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[r.integers(0, len(_PTYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }), os.path.join(out_dir, "part.parquet"))

    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    }), os.path.join(out_dir, "orders.parquet"))

    r = _rng(seed, "lineitem")
    n = rows["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _cents(r, 900.0, 105_000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _days(r, dt.date(1995, 1, 2), 2498, n),
    }), os.path.join(out_dir, "lineitem.parquet"))

    r = _rng(seed, "events")
    n = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(r.integers(0, 30 * 86_400 * 10**6, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }), os.path.join(out_dir, "events.parquet"))

    r = _rng(seed, "documents")
    n = rows["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and r.random() < 0.05:
            # near-duplicate of an earlier document (the dedup keys' signal)
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = r.integers(0, len(_VOCAB), int(r.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    r = _rng(seed, "embeddings")
    n = rows["embeddings"]
    vecs = r.standard_normal((n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return rows


@dataclass(frozen=True)
class TaxiMonth:
    year_month: str
    path: str        # generated landing file (outside bronze until it lands)
    rows: int        # rows in the file
    valid_rows: int  # rows the silver cleaning step keeps
    nbytes: int      # file size on disk


def _month_start(start: dt.date, i: int) -> dt.date:
    y, m = divmod(start.month - 1 + i, 12)
    return dt.date(start.year + y, m + 1, 1)


def write_taxi_month(
    out_dir: str, seed: int, index: int, rows: int,
    start: dt.date = dt.date(2024, 1, 1), late_frac: float = 0.03,
) -> TaxiMonth:
    """One month of landing data. About ``late_frac`` of the rows are late:
    their pickup lies up to 20 days before the month starts, so they land
    in gold partitions an earlier month already built. About 1% of rows
    are invalid (negative distance, negative total, dropoff before pickup)
    and must not reach silver."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, f"taxi-{index}")
    m0 = _month_start(start, index)
    m1 = _month_start(start, index + 1)
    month_us = (m1 - m0).days * 86_400 * 10**6
    base = np.datetime64(m0.isoformat(), "us")
    off = r.integers(0, month_us, rows)
    late = r.random(rows) < late_frac
    off[late] = -r.integers(1, 20 * 86_400 * 10**6, int(late.sum()))
    pickup = base + off.astype("timedelta64[us]")
    trip_s = r.integers(60, 3600, rows)
    dropoff = pickup + (trip_s * 10**6).astype("timedelta64[us]")
    distance = np.round(r.gamma(2.0, 1.6, rows), 2)
    fare_c = 300 + r.integers(0, 6000, rows)
    tip_c = (r.random(rows) < 0.6) * r.integers(0, 1500, rows)
    total_c = fare_c + tip_c + 50 + 50 + 30 + 250

    bad = r.random(rows)
    distance[bad < 0.004] *= -1.0
    total_c[(bad >= 0.004) & (bad < 0.007)] *= -1
    swap = (bad >= 0.007) & (bad < 0.01)
    pickup[swap], dropoff[swap] = dropoff[swap].copy(), pickup[swap].copy()
    valid = int(((distance >= 0) & (total_c >= 0) & (dropoff >= pickup)).sum())

    pc = r.integers(1, 7, rows).astype("float64")
    pc_mask = r.random(rows) < 0.02
    table = pa.table({
        "VendorID": pa.array(r.integers(1, 3, rows), pa.int32()),
        "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(dropoff, pa.timestamp("us")),
        "passenger_count": pa.array(pc, pa.float64(), mask=pc_mask),
        "trip_distance": distance,
        "RatecodeID": r.choice([1.0, 2.0, 3.0, 5.0], rows, p=[0.9, 0.05, 0.02, 0.03]),
        "store_and_fwd_flag": np.array(["N", "Y"])[(r.random(rows) < 0.01).astype(int)],
        "PULocationID": pa.array(r.integers(1, 266, rows), pa.int32()),
        "DOLocationID": pa.array(r.integers(1, 266, rows), pa.int32()),
        "payment_type": pa.array(
            r.choice([1, 2, 3, 4, 5, 6], rows, p=[0.7, 0.22, 0.03, 0.03, 0.01, 0.01]),
            pa.int64(),
        ),
        "fare_amount": fare_c / 100.0,
        "extra": np.full(rows, 0.5),
        "mta_tax": np.full(rows, 0.5),
        "tip_amount": tip_c / 100.0,
        "tolls_amount": np.zeros(rows),
        "improvement_surcharge": np.full(rows, 0.3),
        "total_amount": total_c / 100.0,
        "congestion_surcharge": np.full(rows, 2.5),
        "airport_fee": np.zeros(rows),
    })
    ym = f"{m0.year:04d}-{m0.month:02d}"
    # reference naming: yellow_taxi_{YYYY-MM}_{YYYYMMDD_HHMMSS}.parquet
    path = os.path.join(out_dir, f"yellow_taxi_{ym}_{m1:%Y%m%d}_020000.parquet")
    _write(table, path)
    return TaxiMonth(ym, path, rows, valid, os.path.getsize(path))
