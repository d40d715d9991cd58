"""The benchmark's workloads (``iterative`` and ``taxi_replay`` are the
ones ``BENCHMARK.json`` lists; ``analytics`` is run by hand).

Each workload generates its inputs from the seed (untimed), runs a
correctness pass that also warms the session up (untimed), then runs its
ops in a closed loop with one client for the measured window, and checks
its outputs again afterwards (untimed). Spans around every call into an
engine layer are recorded by the ``Tracer`` the runner passes in; a
disabled tracer records nothing.

- ``analytics``: the §2B contract keys that run no Spark job while their
  DataFrame is built (neither ``EAGER_KEYS`` nor ``COMPUTE_EAGER_KEYS``).
- ``iterative``: keys whose build runs Spark jobs (graph loops, dedup,
  similarity search, k-means, streaming drains, a Python data source).
- ``taxi_replay``: the reference pipeline, month by month: a file lands,
  ``run_month`` ingests it into silver, the month's delta is upserted into
  gold, the file is archived; one vacuum at the end.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import datagen
from spans import Tracer

#: Scale factor of the generated fixture tables (lineitem: 60k rows). A
#: run, cold correctness pass included, must stay near a minute, which
#: rules out sf 0.1.
FIXTURE_SF = 0.01

#: A budget-sized cut of the 35 keys whose build runs Spark jobs: the
#: connected-components loop, the k-core fixpoint, MinHash dedup,
#: brute-force similarity search, k-means and a windowed streaming drain.
#: One warm pass takes about 7 s on 4 cores and the cold correctness pass
#: about 16 s; the whole set needs 70 s warm and about twice that cold,
#: which a run cannot hold.
ITERATIVE_KEYS = (
    "graph_components", "graph_kcore", "llm_dedup_minhash", "llm_sim_search",
    "ml_kmeans", "stream_tumbling",
)

TAXI_MONTHS = 12
TAXI_ROWS_PER_MONTH = 50_000


def analytics_keys() -> list[str]:
    """Every other one of the 39 §2B contract keys that run no job at build
    time (``CONTRACT_2B`` order): 20 keys over scan, filter, join, agg,
    window, sort, set, scalar-function, text and UDF/UDTF families. All 39
    run about 10 s warm and 24 s cold."""
    from serverless_etl_aws_spark.queries import (
        COMPUTE_EAGER_KEYS, CONTRACT_2B, EAGER_KEYS,
    )

    lazy = [k for k in CONTRACT_2B if k not in EAGER_KEYS | COMPUTE_EAGER_KEYS]
    return lazy[::2]


def family(key: str) -> str:
    return key.split("_", 1)[0]


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Window:
    """What one measured window did."""

    latencies: list[float] = field(default_factory=list)  # successful ops
    names: list[str] = field(default_factory=list)        # op of each latency
    failed: int = 0
    wall: float = 0.0
    units: int = 0         # full passes (key workloads) or months (taxi)
    rows: int = 0          # rows the completed ops delivered
    extra: dict = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.latencies) + self.failed


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


# ----------------------------------------------------------------------
# Registry-key workloads
# ----------------------------------------------------------------------
class KeyWorkload:
    """One op = one registry key: build its DataFrame, write it to the noop
    sink. A pass runs every key once in a seeded order; the window runs
    whole passes, starting another only while it is expected to end
    within the window."""

    def __init__(self, keys: list[str], work: str, seed: int) -> None:
        self.keys = list(keys)
        self.seed = seed
        self.sf_dir = os.path.join(work, "fixtures")
        self.rows: dict[str, int] = {}

    def prepare(self) -> None:
        datagen.write_fixture_tables(self.sf_dir, self.seed, FIXTURE_SF)

    def gate(self, spark) -> list[Check]:
        """Every key against its DuckDB oracle (rows-only where the key has
        no SQL twin). Also the warm-up: each key runs once, cold."""
        from serverless_etl_aws_spark import compare

        results = compare.run_all(spark, self.sf_dir, self.keys, strict=True)
        self.rows = {r.key: max(r.rows_spark, 0) for r in results}
        return [Check(f"oracle:{r.key}", r.ok, r.detail) for r in results]

    def window(self, spark, tracer: Tracer, seconds: float, tag: str) -> Window:
        from serverless_etl_aws_spark.queries import build_registry

        registry = build_registry()
        win = Window()
        t0 = time.perf_counter()
        while True:
            order = list(self.keys)
            random.Random(f"{self.seed}:{tag}:{win.units}").shuffle(order)
            p0 = time.perf_counter()
            for key in order:
                q = registry[key]
                a = time.perf_counter()
                try:
                    with tracer.span(key, "op", family=family(key)):
                        with tracer.span("build", "build"):
                            df = q.fn(spark, self.sf_dir)
                        with tracer.span("exec", "exec"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception:
                    _log_failure(f"op {key}")
                    win.failed += 1
                    continue
                win.latencies.append(time.perf_counter() - a)
                win.names.append(key)
                win.rows += self.rows.get(key, 0)
            win.units += 1
            elapsed = time.perf_counter() - t0
            if elapsed + (time.perf_counter() - p0) > seconds:
                break
        win.wall = time.perf_counter() - t0
        return win

    def post(self, spark, win: Window) -> list[Check]:
        return []


# ----------------------------------------------------------------------
# Taxi replay
# ----------------------------------------------------------------------
def gold_partial(silver_df):
    """Daily trips and revenue per payment type. Revenue stays an exact
    decimal partial so merged months equal a from-scratch aggregate."""
    from pyspark.sql import functions as F

    return silver_df.groupBy(
        F.date_format("pickup_date", "yyyy-MM-dd").alias("pickup_date"),
        "payment_type",
    ).agg(
        F.count(F.lit(1)).alias("trips"),
        F.sum(F.col("total_amount").cast("decimal(18,2)"))
        .cast("decimal(18,2)").alias("revenue"),
    )


def gold_merge(both):
    from pyspark.sql import functions as F

    return both.groupBy("pickup_date", "payment_type").agg(
        F.sum("trips").alias("trips"),
        F.sum("revenue").cast("decimal(18,2)").alias("revenue"),
    )


GOLD_ORACLE_SQL = """
SELECT strftime(tpep_pickup_datetime, '%Y-%m-%d') AS pickup_date,
       payment_type,
       COUNT(*) AS trips,
       CAST(SUM(CAST(total_amount AS DECIMAL(18,2))) AS DECIMAL(18,2))::VARCHAR
           AS revenue
FROM read_parquet({files})
WHERE trip_distance >= 0 AND total_amount >= 0
  AND tpep_pickup_datetime IS NOT NULL
  AND tpep_dropoff_datetime >= tpep_pickup_datetime
GROUP BY 1, 2
"""


class InjectedCrash(RuntimeError):
    """Raised by the fault hook after gold's snapshot is staged and before
    its manifest is renamed into place."""


def _crash_before_publish(stage: str) -> None:
    if stage == "staged":
        raise InjectedCrash("injected crash before the manifest rename")


def _tree_bytes(root: str, suffix: str = ".parquet") -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class TaxiPipeline:
    """One bronze → silver → gold → archive tree."""

    def __init__(self, spark, root: str) -> None:
        from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup
        from serverless_etl_aws_spark.pipeline.taxi_job import (
            TaxiBronzeToSilver, TaxiJobConfig,
        )

        self.spark = spark
        self.root = root
        self.bronze = os.path.join(root, "bronze", "nyc_taxi")
        self.silver = os.path.join(root, "silver")
        self.archive = os.path.join(root, "archive")
        os.makedirs(self.bronze)
        self.job = TaxiBronzeToSilver(spark, TaxiJobConfig(
            bronze_dir=self.bronze,
            silver_dir=self.silver,
            checkpoint_dir=os.path.join(root, "_checkpoint"),
            watermark_path=os.path.join(root, "_state", "watermark.json"),
        ))
        self.rollup = PartitionedRollup(
            spark, self.silver, os.path.join(root, "gold"), "pickup_date",
            gold_partial,
        )
        self.next_batch = 0
        self.landed: list[datagen.TaxiMonth] = []

    def land(self, month: datagen.TaxiMonth) -> str:
        dst = os.path.join(self.bronze, os.path.basename(month.path))
        shutil.copyfile(month.path, dst)
        self.landed.append(month)
        return dst

    def delta(self, first_batch: int):
        from pyspark.sql import functions as F

        silver = self.spark.read.parquet(self.silver)
        return gold_partial(silver.filter(F.col("ingest_batch") >= first_batch))

    def month(self, month: datagen.TaxiMonth, tracer: Tracer) -> dict:
        """Land → ingest → gold upsert → archive. Returns what each step did."""
        from serverless_etl_aws_spark.pipeline.archive import archive_file

        with tracer.span("land", "land"):
            path = self.land(month)
        with tracer.span("ingest", "ingest") as s:
            res = self.job.run_month(month.year_month)
            if s is not None:
                s.attrs.update(rows=res.rows_ingested, files=res.files_processed)
        first, self.next_batch = self.next_batch, self.next_batch + res.batches
        with tracer.span("upsert", "upsert") as s:
            n = self.rollup.upsert(self.delta(first), gold_merge)
            if s is not None:
                s.attrs["partitions"] = n
        with tracer.span("archive", "archive"):
            y, m = month.year_month.split("-")
            archive_file(path, self.archive, on=dt.date(int(y), int(m), 1))
        return {"rows": res.rows_ingested, "files": res.files_processed}

    def gold_rows(self) -> list[tuple]:
        from pyspark.sql import functions as F

        gold = self.rollup.read_gold().select(
            # partition discovery reads the partition column back as a date
            F.col("pickup_date").cast("string").alias("pickup_date"),
            "payment_type", "trips",
            F.col("revenue").cast("string").alias("revenue"),
        )
        return sorted(tuple(r) for r in gold.collect())

    def oracle_rows(self) -> list[tuple]:
        import duckdb

        files = "[" + ", ".join(f"'{m.path}'" for m in self.landed) + "]"
        con = duckdb.connect()
        try:
            rows = con.execute(GOLD_ORACLE_SQL.format(files=files)).fetchall()
        finally:
            con.close()
        return sorted(tuple(r) for r in rows)

    def checks(self) -> list[Check]:
        gold, oracle = self.gold_rows(), self.oracle_rows()
        silver_rows = self.spark.read.parquet(self.silver).count()
        valid = sum(m.valid_rows for m in self.landed)
        return [
            Check("gold=oracle", gold == oracle,
                  f"{len(gold)} gold rows vs {len(oracle)} oracle rows"),
            Check("silver=valid rows", silver_rows == valid,
                  f"silver {silver_rows} vs generated valid {valid}"),
        ]


class TaxiReplay:
    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.months: list[datagen.TaxiMonth] = []
        self.trees = 0
        self.last: TaxiPipeline | None = None

    def prepare(self) -> None:
        gen = os.path.join(self.work, "landing")
        self.months = [
            datagen.write_taxi_month(gen, self.seed, i, TAXI_ROWS_PER_MONTH)
            for i in range(TAXI_MONTHS)
        ]

    def _tree(self, spark) -> TaxiPipeline:
        self.trees += 1
        return TaxiPipeline(spark, os.path.join(self.work, f"tree{self.trees}"))

    def gate(self, spark) -> list[Check]:
        """Durability checks on a tree of their own (they also warm the
        ingest and MERGE paths up): a crash injected into month 2's gold
        commit before the manifest rename must leave gold at its previous
        version, and replaying the upsert must converge to the oracle; a
        second ``run_month`` for a month already landed must be a
        watermark skip that ingests nothing."""
        off = Tracer(False)
        p = self._tree(spark)
        m0, m1 = self.months[0], self.months[1]
        p.month(m0, off)
        before = p.rollup.table.current_version()
        p.land(m1)
        res = p.job.run_month(m1.year_month)
        first, p.next_batch = p.next_batch, p.next_batch + res.batches
        try:
            p.rollup.upsert(p.delta(first), gold_merge, fault=_crash_before_publish)
            crashed = False
        except InjectedCrash:
            crashed = True
        after_crash = p.rollup.table.current_version()
        p.rollup.upsert(p.delta(first), gold_merge)
        again = p.job.run_month(m0.year_month)
        return [
            Check("crash raised", crashed),
            Check("crash left gold unchanged", after_crash == before,
                  f"version {before} -> {after_crash}"),
            *p.checks(),
            Check("re-run is a watermark skip", again is None),
        ]

    def window(self, spark, tracer: Tracer, seconds: float, tag: str) -> Window:
        p = self.last = self._tree(spark)
        win = Window()
        t0 = time.perf_counter()
        for month in self.months:
            a = time.perf_counter()
            try:
                with tracer.span(month.year_month, "op"):
                    did = p.month(month, tracer)
            except Exception:
                _log_failure(f"month {month.year_month}")
                win.failed += 1
                break  # later months depend on this one
            lat = time.perf_counter() - a
            if did["rows"] == month.valid_rows and did["files"] == 1:
                win.latencies.append(lat)
                win.names.append(month.year_month)
                win.rows += did["rows"]
            else:
                print(f"perfbench: month {month.year_month} ingested {did}, "
                      f"expected {month.valid_rows} rows from 1 file", file=sys.stderr)
                win.failed += 1
            win.units += 1
            if time.perf_counter() - t0 + lat > seconds:
                break
        with tracer.span("vacuum", "vacuum") as s:
            removed = p.rollup.table.vacuum(grace_seconds=0)
            if s is not None:
                s.attrs["removed"] = removed
        win.wall = time.perf_counter() - t0
        return win

    def post(self, spark, win: Window) -> list[Check]:
        p = self.last
        checks = p.checks()
        silver_files, silver_bytes = _tree_bytes(p.silver)
        gold_files, gold_bytes = _tree_bytes(
            os.path.join(p.rollup.gold_dir, p.rollup.table.DATA_DIR)
        )
        live_bytes = 0
        for path in p.rollup.table.current_partition_paths().values():
            live_bytes += _tree_bytes(path)[1]
        bronze = sum(m.nbytes for m in p.landed)
        win.extra.update({
            "silver.files": silver_files,
            "silver.bytes_per_input_byte": silver_bytes / bronze,
            "gold.files": gold_files,
            "gold.bytes_per_live_byte": gold_bytes / live_bytes if live_bytes else 0.0,
            "storage.stored_bytes_ratio": (silver_bytes + gold_bytes) / bronze,
        })
        return checks


def make(name: str, work: str, seed: int):
    if name == "analytics":
        return KeyWorkload(analytics_keys(), work, seed)
    if name == "iterative":
        return KeyWorkload(list(ITERATIVE_KEYS), work, seed)
    if name == "taxi_replay":
        return TaxiReplay(work, seed)
    raise ValueError(f"unknown workload {name!r}")

