"""Fixture-drift tripwire: assert every testdata table's parquet footer
matches the engine's declared schema (schemas.py) BEFORE any query runs.

Why this exists: between rounds the driver regenerated the fixtures and
silently switched ``events.ts`` from ``timestamp[ns]`` (the original
FIXTURES.md contract) to ``timestamp[us]``. The engine honored the old
contract — read ns longs, floor-div by 1000 — which compressed every event
timestamp 1000× and broke six operators at once with no obvious root cause.
This test turns the next silent regeneration into ONE loud failure naming
the drifted column ("fixture drift: events.ts is now X") instead of six
mysterious wrong answers.

Pure pyarrow footer reads — no SparkSession, runs in milliseconds, checks
every scale factor present under the testdata root.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from serverless_etl_aws_spark import schemas

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")

#: events.ts is special-cased: the engine's footer-sniffing reader
#: (catalog.events_reader_setup) accepts any of these encodings, so the
#: contract is "one of", not a single type.
EVENTS_TS_ACCEPTED = ("timestamp[us]", "timestamp[ns]", "int64")


def _acceptable(spark_type) -> tuple[str, ...]:
    """Pyarrow type names the given Spark type can be losslessly read from."""
    if isinstance(spark_type, IntegerType):
        return ("int32",)
    if isinstance(spark_type, LongType):
        return ("int64",)
    if isinstance(spark_type, DoubleType):
        return ("double",)
    if isinstance(spark_type, FloatType):
        return ("float",)
    if isinstance(spark_type, StringType):
        return ("string", "large_string")
    if isinstance(spark_type, (TimestampType, TimestampNTZType)):
        # µs is Spark's native precision; ms/s widen losslessly
        return ("timestamp[us]", "timestamp[ms]", "timestamp[s]")
    if isinstance(spark_type, ArrayType) and isinstance(
        spark_type.elementType, FloatType
    ):
        return ("list<element: float>", "list<item: float>")
    raise NotImplementedError(f"no pyarrow mapping for {spark_type}")


def _sf_dirs() -> list[str]:
    if not os.path.isdir(TESTDATA_ROOT):
        return []
    return sorted(
        os.path.join(TESTDATA_ROOT, d)
        for d in os.listdir(TESTDATA_ROOT)
        if d.startswith("sf")
        and os.path.isdir(os.path.join(TESTDATA_ROOT, d))
    )


@pytest.mark.parametrize("sf_dir", _sf_dirs() or [None])
def test_fixture_footers_match_declared_schemas(sf_dir):
    if sf_dir is None:
        pytest.skip(f"no testdata under {TESTDATA_ROOT}")
    drift: list[str] = []
    for name, schema in schemas.TABLES.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            drift.append(f"{name}: fixture file missing at {path}")
            continue
        footer: pa.Schema = pq.read_schema(path)
        declared = [f.name for f in schema.fields]
        if footer.names != declared:
            drift.append(
                f"fixture drift: {sf_dir}/{name} columns are {footer.names},"
                f" engine declares {declared}"
            )
            continue
        for field in schema.fields:
            actual = str(footer.field(field.name).type)
            accepted = (
                EVENTS_TS_ACCEPTED
                if (name, field.name) == ("events", "ts")
                else _acceptable(field.dataType)
            )
            if actual not in accepted:
                drift.append(
                    f"fixture drift: {sf_dir}/{name}.{field.name} is now"
                    f" {actual}; engine reads it as one of {accepted}."
                    f" Update schemas.py / catalog.events_reader_setup."
                )
    assert not drift, "\n".join(drift)


def test_events_ts_unit_sniffer_agrees_with_footer():
    """events_reader_setup's branch decision must match the stored unit in
    every present scale factor (guards the sniffer itself, not just docs)."""
    from serverless_etl_aws_spark.catalog import events_ts_unit

    dirs = _sf_dirs()
    if not dirs:
        pytest.skip(f"no testdata under {TESTDATA_ROOT}")
    for sf_dir in dirs:
        path = os.path.join(sf_dir, "events.parquet")
        if not os.path.exists(path):
            continue
        unit = events_ts_unit(path)
        stored = str(pq.read_schema(path).field("ts").type)
        if stored == "int64":
            assert unit == "ns", (sf_dir, stored, unit)
        else:
            assert stored == f"timestamp[{unit}]", (sf_dir, stored, unit)


#: Null-profile assumptions the oracle pairs rely on. The engine/oracle
#: formulations are null-consistent where nulls are part of the contract
#: (events.value is nullable by construction), but several text/date ops
#: assume these columns are never null (e.g. trigram transforms, month
#: cogrouping, md5 splits on doc_id). If the driver's generator starts
#: emitting nulls here, fail ONCE loudly instead of via N hash mismatches.
NEVER_NULL = {
    "documents": ("doc_id", "text", "lang"),
    "events": ("event_id", "ts", "user_id", "event_type"),
    "orders": ("o_orderkey", "o_orderdate"),
    "lineitem": ("l_orderkey", "l_shipdate"),
    "embeddings": ("vec_id", "embedding"),
}


@pytest.mark.parametrize("sf_dir", _sf_dirs() or [None])
def test_fixture_null_profile(sf_dir):
    if sf_dir is None:
        pytest.skip(f"no testdata under {TESTDATA_ROOT}")
    drift: list[str] = []
    for name, cols in NEVER_NULL.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        tbl = pq.read_table(path, columns=list(cols))
        for col in cols:
            nulls = tbl[col].null_count
            if nulls:
                drift.append(
                    f"fixture drift: {sf_dir}/{name}.{col} now has {nulls}"
                    f" nulls; oracle pairs assume it is never null —"
                    f" audit the keys touching it before trusting hashes"
                )
    assert not drift, "\n".join(drift)


def test_measure_columns_fit_decimal_scale_4():
    """The engine's float discipline casts measure doubles to
    DECIMAL(18,4) (queries/_util.py::dec). That cast is only
    cross-engine-safe while the underlying values carry <= 4 decimal
    digits: a 5-decimal value ending in 5 (e.g. 0.00005) sits ON the
    scale-4 half-boundary, where Spark rounds the shortest decimal repr
    (HALF_UP -> 0.0001) and DuckDB rounds the binary value (-> 0.0000).
    Today's generator emits 2-decimal money/measure values, so the cast
    is exact; this tripwire makes a regeneration that changes that
    precision a loud, named failure instead of a diffuse hash drift.
    (If it ever fires: bump DEC's scale in _util.py AND every DECIMAL(18,4)
    oracle mirror together.)"""
    import numpy as np

    measures = {
        "orders": ["o_totalprice"],
        "lineitem": [
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        ],
        "events": ["value"],
        "customer": ["c_acctbal"],
        "supplier": ["s_acctbal"],
        "part": ["p_retailprice"],
    }
    root = "/root/testdata"
    for sf in sorted(os.listdir(root)):
        for table, cols in measures.items():
            path = os.path.join(root, sf, f"{table}.parquet")
            if not os.path.exists(path):
                continue
            tbl = pq.read_table(path, columns=cols)
            for col in cols:
                vals = np.asarray(
                    [v for v in tbl[col].to_pylist() if v is not None],
                    dtype=np.float64,
                )
                scaled = vals * 10000.0
                off_grid = np.abs(scaled - np.rint(scaled)) > 1e-6
                assert not off_grid.any(), (
                    f"fixture drift: {sf}/{table}.{col} carries values "
                    f"beyond 4 decimal digits (e.g. "
                    f"{vals[off_grid][:3].tolist()}) — the DECIMAL(18,4) "
                    f"cast in queries/_util.py is no longer exact; bump "
                    f"DEC's scale and every oracle mirror together"
                )


def test_embedding_label_blocks_stay_below_dedup_exact_path_cap():
    """llm_dedup_embedding (queries/llm.py) raises its block cap to 4096
    precisely so every fixture label block takes the EXACT all-pairs path
    the DuckDB oracle mirrors; a regenerated fixture with a single label
    block over the cap would silently switch the key to the approximate
    KMeans sub-clustering path and red the oracle with no code change
    (ADVICE r4). Fire loudly here instead, at well below the cap so
    there is headroom to react before behavior flips."""
    from collections import Counter

    EXACT_PATH_CAP = 4096  # keep in sync with llm_dedup_embedding
    root = "/root/testdata"
    for sf in sorted(os.listdir(root)):
        path = os.path.join(root, sf, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        labels = pq.read_table(path, columns=["label"])["label"].to_pylist()
        biggest = max(Counter(labels).values(), default=0)
        assert biggest <= EXACT_PATH_CAP // 2, (
            f"fixture drift: {sf}/embeddings has a label block of "
            f"{biggest} rows, within 2x of llm_dedup_embedding's "
            f"max_block={EXACT_PATH_CAP} exact-path cap — a further "
            f"regeneration could flip the key onto the approximate "
            f"sub-clustering path and break its exact all-pairs oracle; "
            f"raise the cap (and this tripwire) deliberately instead"
        )


def test_event_type_labels_match_pinned_vocabulary():
    """ml_auc's one-vs-rest pivot pins EVENT_TYPES at compile time
    (queries/ml.py); a sixth label in the data would count as a
    negative for EVERY class on BOTH engines, so the oracle-parity gate
    is structurally blind to label-set drift (ADVICE r6). Fail loudly
    here instead — the key also surfaces the out-of-vocabulary row count
    as an ``n_other`` output column, pinned to 0 by this same contract."""
    from serverless_etl_aws_spark.queries.ml import EVENT_TYPES

    pinned = set(EVENT_TYPES)
    dirs = _sf_dirs()
    if not dirs:
        pytest.skip(f"no testdata under {TESTDATA_ROOT}")
    for sf_dir in dirs:
        path = os.path.join(sf_dir, "events.parquet")
        if not os.path.exists(path):
            continue
        labels = set(
            pq.read_table(path, columns=["event_type"])["event_type"]
            .to_pylist()
        )
        extra = labels - pinned
        assert not extra, (
            f"fixture drift: {sf_dir}/events carries event_type values "
            f"{sorted(extra)} outside ml_auc's pinned EVENT_TYPES "
            f"{sorted(pinned)} — those rows silently count as negatives "
            f"for every class; extend EVENT_TYPES (and the oracle SQL "
            f"generator) deliberately"
        )


def test_events_ms_unit_reads_and_matches_oracle(spark, tmp_path):
    """A timestamp[ms] events file — the third storage unit a writer
    could plausibly emit after the ns→µs fixture drift — reads through
    events_reader_setup's µs-schema branch (Spark converts ms→µs on
    read) and stays oracle-parity (probed round 13; pinned so a future
    reader refactor can't silently break the ms path)."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc

    from serverless_etl_aws_spark.catalog import events_ts_unit
    from serverless_etl_aws_spark.compare import run_all

    src = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(src, "events.parquet")):
        pytest.skip("no sf0.001 fixture")
    dst = str(tmp_path / "msfix")
    os.makedirs(dst)
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        if f == "events.parquet":
            tbl = pq.read_table(os.path.join(src, f))
            i = tbl.schema.get_field_index("ts")
            # floor to ms first: a genuine ms writer never stored sub-ms
            col = pc.floor_temporal(tbl["ts"], unit="millisecond").cast(
                pa.timestamp("ms")
            )
            tbl = tbl.set_column(i, "ts", col)
            pq.write_table(tbl, os.path.join(dst, f))
        else:
            shutil.copy(os.path.join(src, f), os.path.join(dst, f))
    assert events_ts_unit(os.path.join(dst, "events.parquet")) == "ms"
    results = run_all(
        spark, dst,
        ["ts_gap_detect", "stream_tumbling", "win_lag_lead", "fn_date"],
        strict=True,
    )
    for r in results:
        assert r.ok, (r.key, r.detail)


def test_oracle_views_normalize_declared_types(tmp_path):
    """duckdb_connect's views mirror the ENGINE's declared-schema read:
    a float32-stored measure widens to DOUBLE (median interpolation in
    float32 was one ulp off — round-13 type-narrow axis), an int32 id
    widens to BIGINT, and a legacy raw epoch-ns INT64 ts mirrors the
    engine's integer floor-division to µs."""
    import shutil

    import pyarrow as pa

    from serverless_etl_aws_spark.compare import duckdb_connect

    src = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(src, "events.parquet")):
        pytest.skip("no sf0.001 fixture")
    dst = str(tmp_path / "narrow")
    os.makedirs(dst)
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        if f == "events.parquet":
            tbl = pq.read_table(os.path.join(src, f))
            tbl = tbl.set_column(
                tbl.schema.get_field_index("value"), "value",
                tbl["value"].cast(pa.float32()),
            )
            tbl = tbl.set_column(
                tbl.schema.get_field_index("user_id"), "user_id",
                tbl["user_id"].cast(pa.int32()),
            )
            # legacy encoding: ts as raw epoch-ns INT64
            ns = pa.compute.multiply(
                tbl["ts"].cast(pa.timestamp("us")).cast(pa.int64()),
                pa.scalar(1000, pa.int64()),
            )
            tbl = tbl.set_column(
                tbl.schema.get_field_index("ts"), "ts", ns
            )
            pq.write_table(tbl, os.path.join(dst, f))
        else:
            shutil.copy(os.path.join(src, f), os.path.join(dst, f))
    con = duckdb_connect(dst)
    try:
        types = {
            r[0]: r[1]
            for r in con.execute("DESCRIBE events").fetchall()
        }
        assert types["value"] == "DOUBLE"
        assert types["user_id"] == "BIGINT"
        assert types["ts"] == "TIMESTAMP"
        # µs values round-trip exactly through the ns encoding
        got = con.execute(
            "SELECT CAST(MIN(ts) AS VARCHAR), CAST(MAX(ts) AS VARCHAR) "
            "FROM events"
        ).fetchone()
        ref = duckdb_connect(src)
        want = ref.execute(
            "SELECT CAST(MIN(ts) AS VARCHAR), CAST(MAX(ts) AS VARCHAR) "
            "FROM events"
        ).fetchone()
        ref.close()
        assert got == want
    finally:
        con.close()
