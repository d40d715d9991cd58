"""The measurement harness: bench.py's per-key runner (suite and key
mode) and stress.py's replicator.

The runner tests time stub ``Query`` objects over ``spark.range``; the
key names pick the warm-run policy (a ``stream_`` prefix, an
``ALWAYS_MEDIAN3`` member, or neither).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import bench
import stress
from serverless_etl_aws_spark.queries import Query


def _stub(fail_from: int | None = None) -> Query:
    """A Query over spark.range that raises from its ``fail_from``-th
    build on (1 = the cold run)."""
    calls = []

    def fn(spark, sf_dir):
        calls.append(sf_dir)
        if fail_from is not None and len(calls) >= fail_from:
            raise RuntimeError("stub failure")
        return spark.range(100)

    return Query(fn=fn)


def test_fast_key_gets_one_warm_run(spark, sf_dir):
    rec = bench.measure_key(spark, "fast_stub", _stub(), sf_dir)
    assert rec["cold"] >= 0 and rec["warm"] >= 0
    assert len(rec["build_s"]) == 2  # cold + one warm
    for build, total in zip(rec["build_s"], (rec["cold"], rec["warm"])):
        assert 0 <= build <= total
    assert "warm_runs" not in rec and "spread" not in rec


def test_always_median3_key_gets_three_warm_runs(spark, sf_dir):
    assert "scan_jdbc" in bench.ALWAYS_MEDIAN3
    rec = bench.measure_key(spark, "scan_jdbc", _stub(), sf_dir)
    runs = sorted(rec["warm_runs"])
    assert len(runs) == 3 and len(rec["build_s"]) == 4
    assert rec["warm"] == runs[1]
    # inclusive-method IQR of three runs is half their range
    assert rec["spread"] == pytest.approx((runs[2] - runs[0]) / 2, abs=1e-3)


def test_stream_key_gets_five_warm_runs_and_iqr_spread(spark, sf_dir):
    rec = bench.measure_key(spark, "stream_stub", _stub(), sf_dir)
    runs = sorted(rec["warm_runs"])
    assert len(runs) == 5 and len(rec["build_s"]) == 6
    assert rec["warm"] == runs[2]
    # IQR, not max-min: the 2nd to 4th order statistic of five runs
    assert rec["spread"] == pytest.approx(runs[3] - runs[1], abs=1e-3)
    assert rec["spread"] <= runs[4] - runs[0] + 1e-9


def test_cold_failure_records_never_ran(spark, sf_dir, capsys):
    rec = bench.measure_key(spark, "fail_stub", _stub(fail_from=1), sf_dir)
    assert rec == {"cold": -1.0, "warm": -1.0}
    assert "fail_stub FAILED (cold)" in capsys.readouterr().err


def test_warm_failure_keeps_cold_measurement(spark, sf_dir, capsys):
    rec = bench.measure_key(spark, "flaky_stub", _stub(fail_from=2), sf_dir)
    assert set(rec) == {"cold", "warm"}
    assert rec["cold"] >= 0 and rec["warm"] == -1.0
    assert "flaky_stub FAILED (warm" in capsys.readouterr().err


def test_suite_mode_detail_and_headline(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    registry = {"agg_group": _stub(), "fast_stub": _stub(), "bad_stub": _stub(1)}
    bench.run_suite(spark, registry, sf_dir, {"utc": "x"})
    line = json.loads(capsys.readouterr().out.strip())
    assert set(line) == {"metric", "value", "unit", "queries", "sf",
                         "n_keys", "n_measured", "n_failed", "detail"}
    assert set(line["queries"]) == {"agg_group"}  # contract keys only
    assert line["n_failed"] == 1 and line["n_measured"] == 3
    payload = json.loads(detail.read_text())
    assert "adjudications" not in payload
    assert payload["warm_total"] == line["value"]
    spread = payload["per_key_spread"]["agg_group"]
    runs = payload["queries"]["agg_group"]["warm_runs"]
    assert (spread["min"], spread["max"]) == (min(runs), max(runs))
    assert spread["median"] == payload["queries"]["agg_group"]["warm"]


def test_key_mode_rejects_unknown_key(monkeypatch, capsys):
    def no_spark(**_):
        raise AssertionError("Spark must not boot for a bad key")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit):
        bench.main(["agg_group", "no_such_key"])
    assert "no_such_key" in capsys.readouterr().err


def test_key_mode_prints_records_and_leaves_detail_alone(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    detail = tmp_path / "BENCH_DETAIL.json"
    detail.write_bytes(b'{"sentinel": true}\n')
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    monkeypatch.setattr(bench, "get_spark", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # shared session
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    plans = tmp_path / "plans"
    bench.main(["sort_limit", "--plans", str(plans)])
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])["sort_limit"]
    assert rec["warm"] >= 0 and len(rec["warm_runs"]) == 3
    assert "Physical Plan" in (plans / "sort_limit.txt").read_text()
    assert detail.read_bytes() == b'{"sentinel": true}\n'
    assert not os.path.exists(str(detail) + ".tmp")


def _trigrams(text: str) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[j:j + 3]) for j in range(len(toks) - 2)}


def test_replicate_scales_rows_keeps_keys_and_salts_docs(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    pq.write_table(pa.table({
        "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
        "o_custkey": pa.array([1, 2, 2, 3], pa.int64()),
    }), src / "orders.parquet")
    # customers without orders hold the key max: the custkey stride must
    # clear it, not just o_custkey's max
    pq.write_table(pa.table({
        "c_custkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "c_name": [f"c{i}" for i in range(6)],
    }), src / "customer.parquet")
    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "lorem ipsum dolor sit amet"]
    docs = pa.table({
        "doc_id": pa.array([10, 11, 12], pa.int64()),
        "text": texts,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, src / "documents.parquet")
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), src / "nation.parquet")

    R = 3
    stress.replicate(str(src), str(dst), R, ("orders", "customer", "documents"))
    out = {n: pq.read_table(dst / f"{n}.parquet")
           for n in ("orders", "customer", "documents", "nation")}
    for n in ("orders", "customer", "documents", "nation"):
        assert (dst / f"{n}.parquet").is_file()  # single file, not a dir
    assert out["orders"].num_rows == 4 * R
    assert out["customer"].num_rows == 6 * R
    assert out["documents"].num_rows == 3 * R
    assert out["nation"].num_rows == 2  # not replicated: copied verbatim
    for tbl, col in (("orders", "o_orderkey"), ("customer", "c_custkey"),
                     ("documents", "doc_id")):
        keys = out[tbl][col].to_pylist()
        assert len(set(keys)) == len(keys), col
    assert set(out["orders"]["o_custkey"].to_pylist()) <= set(
        out["customer"]["c_custkey"].to_pylist()
    )
    got = out["documents"].to_pylist()
    assert got[:3] == docs.to_pylist()  # replica 0 is verbatim
    grams = [
        set().union(*(_trigrams(r["text"]) for r in got[i * 3:(i + 1) * 3]))
        for i in range(R)
    ]
    for i in range(R):
        for j in range(i + 1, R):
            assert not grams[i] & grams[j], (i, j)
    assert all(r["n_chars"] == len(r["text"]) for r in got)
