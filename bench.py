"""Benchmark runner — times registry keys at the bench scale factor.

Usage::

    python bench.py                               # suite: every registry key
    python bench.py KEY [KEY ...] [--plans DIR]   # key mode

Env: ``SPARK_GRAFT_SF_DIR`` (default sf0.1), ``SPARK_GRAFT_CPUS`` (32).

Suite mode prints ONE JSON line: {"metric": ..., "value": warm total sec,
"unit": "sec", "queries": {key: warm sec}, "sf": ..., "n_keys": ...,
"n_measured": ..., "n_failed": ..., "detail": "BENCH_DETAIL.json"}. The
line carries only the SURVEY §2B contract keys so a log tail cannot
truncate it; ``value`` is the full-suite total, and ``n_failed`` is
there because a crashing key shrinks the total, which would otherwise
read as a win. The complete per-key record is ``BENCH_DETAIL.json`` at
the repo root, rewritten atomically after every key so a mid-suite
crash cannot leave the previous run's numbers posing as this run's.

Key mode prints one JSON line ``{key: record}`` per key and never
writes BENCH_DETAIL.json. ``--plans DIR`` also writes each key's
``explain("formatted")`` to ``DIR/<key>.txt``.

Every mode, and stress.py, times a key with :func:`measure_key`:

- The timed region is ``q.fn(spark, sf_dir)`` plus a noop-sink write:
  the full plan runs and no rows are collected. ``build_s``
  lists, per timed run (cold first), the seconds of that region spent
  inside ``q.fn`` — construction, including any Spark jobs an eager key
  launches while building.
- One cold run, then warm runs: 1 by default; 3 when the first warm run
  exceeds ``MEDIAN3_THRESHOLD`` or the key is in ``ALWAYS_MEDIAN3``; 5
  for ``stream_`` keys. ``warm`` is the median. Reporting a warm run
  keeps first-touch costs (parquet footers, codegen, Python-worker
  spin-up) from landing on whichever key hits them first.
- A key with more than one warm run also records ``warm_runs`` and
  ``spread``, the interquartile range of the warm runs
  (``statistics.quantiles(n=4, method="inclusive")``). Unlike max−min it
  does not grow with the number of runs, so a 5-run spread compares with
  a 3-run one; ``per_key_spread`` keeps ``min``/``max`` as well.
- A key whose cold run raises records ``{cold: -1, warm: -1}`` ("never
  ran"); one that ran cold but raised on a warm run records
  ``{cold: <s>, warm: -1}`` ("flaked on repeat").
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from serverless_etl_aws_spark.queries import CONTRACT_2B, Query, build_registry
from serverless_etl_aws_spark.session import get_spark

DETAIL_PATH = os.path.join(ROOT, "BENCH_DETAIL.json")
#: Keys slower than this on their first warm run get three warm runs.
MEDIAN3_THRESHOLD = 2.0
#: Keys that get three warm runs regardless of speed: scan_jdbc's
#: embedded-Derby round trip wobbles 0.3–1.5 s, below the threshold, and
#: every contract key carries a spread so a run-over-run diff can tell
#: box noise from a structural change from the artifact alone.
ALWAYS_MEDIAN3 = frozenset({"scan_jdbc"}) | frozenset(CONTRACT_2B)
#: Stream keys get five: RocksDB maintenance threads and memory-sink GC
#: add noise that three runs cannot separate.
MEDIAN5_PREFIXES = ("stream_",)


def _box_snapshot() -> dict[str, float | int | str]:
    """Load average + concurrent-Spark census at bench start.

    ``spark_jvms`` counts OTHER live JVM processes with spark on their
    command line (this process hasn't booted its JVM yet); >0 means the
    numbers in this artifact were taken on a contended box and a
    round-over-round comparison should expect a uniform inflation.
    """
    snap: dict[str, float | int | str] = {}
    try:
        la1, la5, la15 = os.getloadavg()
        snap["loadavg_1m"] = round(la1, 2)
        snap["loadavg_5m"] = round(la5, 2)
        snap["loadavg_15m"] = round(la15, 2)
    except OSError:  # pragma: no cover — /proc-less platform
        snap["loadavg_1m"] = -1.0
    n_jvm = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().decode("utf-8", "replace")
            except OSError:
                continue
            if "java" in cmd and "spark" in cmd.lower():
                n_jvm += 1
    except OSError:  # pragma: no cover
        n_jvm = -1
    snap["spark_jvms"] = n_jvm
    snap["utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    return snap


def run_once(spark, q: Query, sf_dir: str) -> tuple[float, float]:
    """One timed build + noop write: (total seconds, seconds in ``q.fn``)."""
    t0 = time.perf_counter()
    df = q.fn(spark, sf_dir)
    built = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    # Release the key's lineage before the next timing: dedup operators
    # pin localCheckpoint blocks until the Python refs die and the
    # ContextCleaner runs; without this, later keys are timed under the
    # earlier keys' heap pressure (measured +12 s on stream_stateful
    # after the dedup family).
    del df
    gc.collect()
    return round(elapsed, 3), round(built - t0, 3)


def measure_key(spark, key: str, q: Query, sf_dir: str) -> dict:
    """Cold run, then warm runs under the module's policy; the record
    BENCH_DETAIL.json stores for ``key``."""
    try:
        cold, build = run_once(spark, q, sf_dir)
    except Exception as exc:
        print(f"# {key} FAILED (cold): {exc}", file=sys.stderr)
        return {"cold": -1.0, "warm": -1.0}
    try:
        runs = [run_once(spark, q, sf_dir)]
        if key.startswith(MEDIAN5_PREFIXES):
            n = 5
        elif runs[0][0] > MEDIAN3_THRESHOLD or key in ALWAYS_MEDIAN3:
            n = 3
        else:
            n = 1
        while len(runs) < n:
            runs.append(run_once(spark, q, sf_dir))
    except Exception as exc:
        print(f"# {key} FAILED (warm, cold={cold}s): {exc}", file=sys.stderr)
        return {"cold": cold, "warm": -1.0}
    warm = [r[0] for r in runs]
    rec = {
        "cold": cold,
        "warm": sorted(warm)[len(warm) // 2],
        "build_s": [build] + [r[1] for r in runs],
    }
    if len(warm) > 1:
        q1, _, q3 = statistics.quantiles(warm, n=4, method="inclusive")
        rec["warm_runs"] = warm
        rec["spread"] = round(q3 - q1, 3)
    return rec


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time registry keys.")
    ap.add_argument("keys", nargs="*", metavar="KEY",
                    help="key mode: time only these keys")
    ap.add_argument("--plans", metavar="DIR",
                    help="key mode: write explain('formatted') to DIR/<key>.txt")
    args = ap.parse_args(argv)
    registry = build_registry()
    unknown = [k for k in args.keys if k not in registry]
    if unknown:
        ap.error(f"unknown key(s): {' '.join(unknown)}")
    if args.plans and not args.keys:
        ap.error("--plans needs at least one KEY")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    box_env = _box_snapshot()  # before the JVM boots
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the JVM + parquet footers once so per-key numbers reflect the
    # steady state, not first-touch JIT cost.
    run_once(spark, registry["agg_group"], sf_dir)
    if not args.keys:
        run_suite(spark, registry, sf_dir, box_env)
    for key in args.keys:
        rec = measure_key(spark, key, registry[key], sf_dir)
        print(json.dumps({key: rec}), flush=True)
        if args.plans and rec["cold"] >= 0:
            # a fresh build: the timed runs' frames are already released
            qe = registry[key].fn(spark, sf_dir)._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{key}.txt"), "w") as f:
                f.write(qe.explainString(mode.fromString("formatted")))
    spark.stop()


def run_suite(spark, registry: dict[str, Query], sf_dir: str, box_env) -> None:
    """Suite mode: every key in ``registry``; BENCH_DETAIL.json after
    each, then the one-line stdout summary."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    detail: dict[str, dict] = {}
    for key in sorted(registry):
        detail[key] = measure_key(spark, key, registry[key], sf_dir)
        ok = {k: d for k, d in detail.items() if d["warm"] >= 0}
        payload = {
            "sf": sf,
            "box_env": box_env,
            "per_key_spread": {
                k: {
                    "median": d["warm"],
                    "spread": d.get("spread", 0.0),
                    "min": min(d.get("warm_runs", [d["warm"]])),
                    "max": max(d.get("warm_runs", [d["warm"]])),
                }
                for k, d in ok.items()
                if k in ALWAYS_MEDIAN3
            },
            "warm_total": round(sum(d["warm"] for d in ok.values()), 3),
            "cold_total": round(
                sum(d["cold"] for d in detail.values() if d["cold"] >= 0), 3
            ),
            "n_keys": len(registry),
            "n_measured": len(detail),
            "n_failed": len(detail) - len(ok),
            "queries": detail,
        }
        with open(DETAIL_PATH + ".tmp", "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(DETAIL_PATH + ".tmp", DETAIL_PATH)
    print(
        json.dumps(
            {
                "metric": "engine_suite_runtime",
                "value": payload["warm_total"],
                "unit": "sec",
                "queries": {
                    k: detail[k]["warm"] for k in CONTRACT_2B if k in detail
                },
                "sf": sf,
                "n_keys": len(registry),
                "n_measured": len(detail),
                "n_failed": payload["n_failed"],
                "detail": "BENCH_DETAIL.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
