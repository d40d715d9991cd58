"""Registry layout contracts.

- Key order, oracle SQL and docs are frozen in ``registry_manifest.json``
  (one row per key: the key, sha256 of ``sql`` or null, sha256 of
  ``doc``), so moving code between modules cannot change what the driver
  sees.
- Every key lives in the module of its operator family, and no
  round-numbered ``extras*.py`` module exists.
- ``Query.eager`` is checked, not trusted: every key declared lazy
  (``eager=None``) is built on a cold session and must start no Spark job
  and no streaming query.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from pyspark.sql.streaming import StreamingQueryListener

from serverless_etl_aws_spark import memo
from serverless_etl_aws_spark.queries import (
    COMPUTE_EAGER_KEYS,
    CONTRACT_2B,
    EAGER_KEYS,
    EXTENSION_KEYS,
    build_registry,
)

SF_SMOKE = "/root/testdata/sf0.001"
HERE = os.path.dirname(os.path.abspath(__file__))
QUERIES_DIR = os.path.join(
    os.path.dirname(HERE), "serverless_etl_aws_spark", "queries"
)

#: Key prefix → family module. One prefix maps to exactly one module.
FAMILY_OF_PREFIX = {
    **dict.fromkeys(
        ("scan", "project", "filter", "dedup", "sample", "subquery"),
        "relational",
    ),
    "join": "joins",
    "agg": "aggregates",
    **dict.fromkeys(("win", "topk"), "windows"),
    **dict.fromkeys(("sort", "set"), "sorts_sets"),
    "fn": "scalar_fns",
    **dict.fromkeys(("udf", "udaf", "udtf"), "udx"),
    **dict.fromkeys(
        ("ingest", "sink", "export", "rollup", "maintenance", "dim"),
        "pipeline_ops",
    ),
    "stream": "streaming_ops",
    **dict.fromkeys(("llm", "mm"), "llm"),
    "graph": "graph",
    "ml": "ml",
    "ts": "ts",
    "dq": "dq",
}


def _sha(s: str | None) -> str | None:
    return None if s is None else hashlib.sha256(s.encode()).hexdigest()


def test_registry_matches_frozen_manifest():
    with open(os.path.join(HERE, "registry_manifest.json")) as fh:
        frozen = json.load(fh)
    live = [
        {"key": k, "sql_sha256": _sha(q.sql), "doc_sha256": _sha(q.doc)}
        for k, q in build_registry().items()
    ]
    assert [r["key"] for r in live] == [r["key"] for r in frozen]
    assert live == frozen
    assert [r["key"] for r in frozen] == [*CONTRACT_2B, *EXTENSION_KEYS]


def test_each_key_lives_in_its_family_module():
    pkg = "serverless_etl_aws_spark.queries"
    misplaced = {
        k: q.fn.__module__
        for k, q in build_registry().items()
        if q.fn.__module__ != f"{pkg}.{FAMILY_OF_PREFIX[k.split('_')[0]]}"
    }
    assert not misplaced, misplaced
    assert not glob.glob(os.path.join(QUERIES_DIR, "extras*.py"))


def test_eager_sets_are_derived_from_query_field():
    reg = build_registry()
    assert EAGER_KEYS == {k for k, q in reg.items() if q.eager == "state"}
    assert COMPUTE_EAGER_KEYS == {
        k for k, q in reg.items() if q.eager == "compute"
    }
    assert {q.eager for q in reg.values()} <= {None, "state", "compute"}


class _StartCounter(StreamingQueryListener):
    def __init__(self) -> None:
        self.started: list[str] = []
        self.building = ""

    def onQueryStarted(self, event) -> None:
        self.started.append(self.building)

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _build_counts(spark, keys):
    """Build each key cold; return {key: (spark jobs, streams started)}."""
    reg = build_registry()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener = _StartCounter()
    spark.streams.addListener(listener)
    counts = {}
    try:
        for key in keys:
            memo.clear()  # every build pays its cold-path jobs
            group = f"build-probe:{key}"
            listener.building = key
            sc.setJobGroup(group, group)
            try:
                reg[key].fn(spark, SF_SMOKE)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            counts[key] = (
                len(tracker.getJobIdsForGroup(group)),
                listener.started.count(key),
            )
    finally:
        spark.streams.removeListener(listener)
    return counts


def test_probe_sees_build_jobs_and_streams(spark):
    """The probe below is only as good as its counters: a compute key
    must show build jobs and a streaming key a started query."""
    counts = _build_counts(spark, ["ts_gap_fill", "stream_tumbling"])
    assert counts["ts_gap_fill"][0] > 0
    assert counts["stream_tumbling"][1] > 0


def test_lazy_keys_start_no_job_or_stream_at_build(spark):
    lazy = [k for k, q in build_registry().items() if q.eager is None]
    counts = _build_counts(spark, lazy)
    eager = {k: c for k, c in counts.items() if c != (0, 0)}
    assert not eager, (
        f"keys run Spark jobs or streams while building (jobs, streams): "
        f"{eager} — declare eager='compute' (or 'state') on their Query"
    )
