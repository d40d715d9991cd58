"""Tests of the benchmark's own code (no Spark session needed).

Run: ``python -m pytest perfbench -q -p no:cacheprovider``
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, attach_jobs, children_of, covered, self_time  # noqa: E402
from workloads import Window  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_identical_month_files(tmp_path):
    a = datagen.write_taxi_month(str(tmp_path / "a"), 7, 3, 2_000)
    b = datagen.write_taxi_month(str(tmp_path / "b"), 7, 3, 2_000)
    c = datagen.write_taxi_month(str(tmp_path / "c"), 8, 3, 2_000)
    assert os.path.basename(a.path) == os.path.basename(b.path)
    assert _digest(a.path) == _digest(b.path)
    assert (a.rows, a.valid_rows, a.nbytes) == (b.rows, b.valid_rows, b.nbytes)
    assert _digest(a.path) != _digest(c.path)


def test_month_has_late_and_invalid_rows(tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    m = datagen.write_taxi_month(str(tmp_path), 1, 2, 20_000)
    t = pq.read_table(m.path)
    start = pc.min(t["tpep_pickup_datetime"]).as_py()
    assert m.year_month == "2024-03"
    assert start.month == 2 and start.day >= 9  # late rows reach ≤ 20 days back
    late = pc.sum(pc.less(t["tpep_pickup_datetime"].cast("int64"),
                          int(1709251200e6))).as_py()  # 2024-03-01T00:00Z
    assert 0.02 * m.rows < late < 0.04 * m.rows
    assert 0.98 * m.rows < m.valid_rows < m.rows


def test_same_seed_gives_identical_fixture_tables(tmp_path):
    rows_a = datagen.write_fixture_tables(str(tmp_path / "a"), 5, 0.001)
    rows_b = datagen.write_fixture_tables(str(tmp_path / "b"), 5, 0.001)
    assert rows_a == rows_b
    for name in rows_a:
        fa = tmp_path / "a" / f"{name}.parquet"
        fb = tmp_path / "b" / f"{name}.parquet"
        assert _digest(str(fa)) == _digest(str(fb)), name


def _tree():
    t = Tracer(True)
    op = Span(0, "k", "op", 0.0, 10.0, attrs={"family": "graph"})
    build = Span(1, "build", "build", 1.0, 4.0, parent=0)
    exec_ = Span(2, "exec", "exec", 4.0, 9.0, parent=0)
    t.spans = [op, build, exec_]
    return t


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 4), (6, 7)]) == 4
    assert covered(2, 5, [(0, 3), (4, 9)]) == 2


def test_self_time_on_synthetic_span_tree():
    t = _tree()
    jobs = [
        Span(0, "j0", "job", 1.5, 2.5), Span(0, "j1", "job", 2.0, 3.0),  # overlap
        Span(0, "j2", "job", 5.0, 8.0),
    ]
    op, build, exec_ = t.spans
    assert self_time(op, [build, exec_]) == pytest.approx(2.0)
    assert self_time(build, jobs[:2]) == pytest.approx(1.5)
    assert self_time(exec_, jobs[2:]) == pytest.approx(2.0)
    kids = children_of(t.spans)
    assert [c.id for c in kids[0]] == [1, 2]


def test_jobs_attach_to_innermost_span_and_clip():
    from spans import Job

    t = _tree()
    attach_jobs(t, [
        Job(0, 2.0, 3.0, [0]),     # inside build
        Job(1, 5.0, 9.5, [1]),     # inside exec, outlives it: clipped
        Job(2, 9.5, 9.8, [2]),     # op self time
        Job(3, 20.0, 21.0, [3]),   # outside every span: dropped
    ])
    jobs = [s for s in t.spans if s.kind == "job"]
    assert [(j.parent, j.end) for j in jobs] == [(1, 3.0), (2, 9.0), (0, 9.8)]


def test_layer_metrics_add_up_and_flag_overlaps():
    from spans import Job

    t = _tree()
    attach_jobs(t, [Job(0, 2.0, 3.0, [0]), Job(1, 5.0, 8.0, [1], stages=2, tasks=8,
                                             task_run_s=12.0)])
    m, bad = run.layer_metrics(t, [], [], Window(units=1), cores=4)
    assert set(m) == {name for name, _ in run.PER_LAYER}
    assert not bad
    assert m["queries.build_s"] == pytest.approx(3.0)
    assert m["queries.build_jobs"] == 1
    assert m["queries.build_job_s"] == pytest.approx(1.0)
    assert m["queries.build_self_s"] == pytest.approx(2.0)
    assert m["exec.jobs"] == 1 and m["exec.tasks"] == 8
    assert m["exec.core_util"] == pytest.approx(12.0 / (5.0 * 4))
    assert m["op.self_s"] == pytest.approx(2.0)
    assert m["queries.build_jobs.graph"] == 1

    overlapping = _tree()
    overlapping.spans[2].start = 3.5  # exec starts before build ends
    _, bad = run.layer_metrics(overlapping, [], [], Window(units=1), cores=4)
    assert bad == ["k"]


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    layers = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layers == list(run.PER_LAYER)
    names = [n for n, _ in e2e + layers] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    assert len(layers) <= 128
    assert [w["name"] for w in bench["workloads"]] == ["iterative", "taxi_replay"]
    assert any(n == "setup_s" for n, _ in e2e)
