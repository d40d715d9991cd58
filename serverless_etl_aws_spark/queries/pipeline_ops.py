"""Pipeline operators (key prefixes ``ingest_``, ``sink_``, ``export_``,
``rollup_``, ``maintenance_``, ``dim_``): incremental exactly-once ingest,
partitioned sinks with pruned read-back, warehouse export, incremental
rollups, table maintenance (compaction, vacuum, Z-order, ANALYZE, row
deletes) and dimension tables (type-2 SCD history, snapshot diffs, a
generated calendar).

Most of these keys run real commits against scratch tables while their
DataFrame is built (``eager="state"``); the returned DataFrame is a read
of the result.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import events_reader_setup, table_path
from ..pipeline.ingest import IncrementalIngest
from ..streaming.windows import split_parquet_by_mod
from . import Query
from ._util import SCRATCH, dsum, fresh_dir, hadoop_dir_bytes, sql_dsum, t


def ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/O8 replacement, demonstrated across two runs: run 1 drains two
    bronze files; run 2 (same checkpoint) finds nothing new — the
    reference's tag-skip semantics (s3_operations.py:30-33) from the
    streaming file-source checkpoint. Returns one row per run.

    Graduated from rows-only to HASH-CHECKED in round 6: the
    exactly-once contract IS relational — run 1 must ingest exactly
    ``COUNT(*) FROM events`` rows (the two bronze files partition the
    fixture), run 2 must ingest exactly 0, and the silver total must
    equal the fixture count after BOTH runs (a double-append — the
    reference's commit-in-``finally`` bug — would double it). The
    oracle states those three numbers directly, so any reprocessing,
    loss, or duplication hash-mismatches instead of merely "running".
    """
    base = fresh_dir(os.path.join(SCRATCH, "ingest_incremental"))
    bronze = os.path.join(base, "bronze")
    silver = os.path.join(base, "silver")
    ckpt = os.path.join(base, "_checkpoint")
    os.makedirs(bronze)

    # Two deterministic bronze files derived from the events fixture, laid
    # flat in the landing dir (the reference's bronze layout:
    # data_downloader.py:31-32 writes flat timestamped parquet files).
    split_parquet_by_mod(
        os.path.join(sf_dir, "events.parquet"), bronze, 2,
        order_col="event_id",
    )
    read_schema, normalize_ts = events_reader_setup(spark, bronze)

    pipe = IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=silver,
        checkpoint_dir=ckpt,
        schema=read_schema,
        partition_by="event_type",
        transform=normalize_ts,
    )
    r1 = pipe.run_once()
    r2 = pipe.run_once()  # nothing new → 0 files, 0 rows
    # schema-pinned read-back: a zero-row corpus drains zero batches, so
    # the sink dir may hold no data files (or not exist) — an
    # incremental no-op run reads as 0 silver rows, not a schema-
    # inference error
    silver_schema = normalize_ts(spark.createDataFrame([], read_schema)).schema
    silver_rows = (
        spark.read.schema(silver_schema).parquet(silver).count()
        if os.path.isdir(silver)
        else 0
    )
    return spark.createDataFrame(
        [
            (1, r1.rows_ingested, silver_rows),
            (2, r2.rows_ingested, silver_rows),
        ],
        schema="run int, rows_ingested long, silver_total long",
    )


INGEST_INCREMENTAL_SQL = """
SELECT CAST(1 AS INT) AS run,
       CAST(COUNT(*) AS BIGINT) AS rows_ingested,
       CAST(COUNT(*) AS BIGINT) AS silver_total
FROM events
UNION ALL
SELECT CAST(2 AS INT), CAST(0 AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
"""


def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13: partitioned append write, then a partition-pruned read-back.

    The write mirrors the reference's silver sink
    (bronze_to_silver.py:84-85: ``mode("append").partitionBy(...)``) with
    l_returnflag as the bounded-cardinality partition column. The read-back
    filters one partition — Catalyst prunes to a single directory (verify:
    ``.explain`` shows ``PartitionFilters: [isnotnull(l_returnflag),
    (l_returnflag = R)]``) — and aggregates, which the oracle checks against
    the original table.
    """
    out = fresh_dir(os.path.join(SCRATCH, "sink_partitioned"))
    li = t(spark, sf_dir, "lineitem")
    (
        li.write.mode("append")
        .option("maxRecordsPerFile", 1_000_000)
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    # schema-pinned read-back: an empty write produces no files, and an
    # empty sink must read as an empty table, not a schema-inference
    # error (the schema is the written df's own)
    back = (
        spark.read.schema(li.schema)
        .parquet(out)
        .filter(F.col("l_returnflag") == "R")
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("line_count"),
        dsum("l_quantity").alias("sum_qty"),
    )


SINK_PARTITIONED_SQL = f"""
SELECT l_returnflag,
       COUNT(*) AS line_count,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_returnflag
"""


def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver→gold incremental rollup (the reference's unbuilt milestone,
    README.md:108-111): two-batch ingest of events maintains a gold daily
    per-event-type aggregate via partition-scoped recompute
    (pipeline/rollup.py). The oracle recomputes gold directly from the
    events table — the maintained table must equal the from-scratch
    aggregate.

    Bench-history note (round-4 audit of the flagged r2→r3 "regression",
    2.76→3.84 s warm): the r2 number was an artifact, not a baseline.
    Round 2 ran the pre-footer-sniff ns decode against the already-µs
    fixture, which collapsed every event to 1970-01-20 — the pipeline
    maintained ONE gold date partition instead of ~30, so every silver
    and gold commit was ~30× narrower. Re-running the r2 code on a
    correct-unit fixture on the same machine measures 3.8–4.4 s warm,
    i.e. equal to current code: the delta was the price of the correct
    answer. (Evidence + method: docs/SCALING.md "Bench regression
    audits".)"""
    from ..pipeline.rollup import PartitionedRollup

    base = fresh_dir(os.path.join(SCRATCH, "rollup_incremental"))
    bronze = os.path.join(base, "bronze")
    silver = os.path.join(base, "silver")
    gold = os.path.join(base, "gold")
    os.makedirs(bronze)

    split_parquet_by_mod(
        os.path.join(sf_dir, "events.parquet"), bronze, 2,
        order_col="event_id",
    )
    read_schema, normalize_ts = events_reader_setup(spark, bronze)

    def to_silver(df):
        return normalize_ts(df).withColumn(
            "event_date", F.date_format("ts", "yyyy-MM-dd")
        )

    def to_gold(silver_df):
        return silver_df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(
                F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,4)")),
                2,
            ).cast("double").alias("sum_value"),
        )

    rollup = PartitionedRollup(
        spark, silver_dir=silver, gold_dir=gold,
        partition_col="event_date", aggregate=to_gold,
    )
    pipe = IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=silver,
        checkpoint_dir=os.path.join(base, "_checkpoint"),
        schema=read_schema,
        partition_by="event_date",
        transform=to_silver,
        max_files_per_trigger=1,  # two batches → two incremental refreshes
        post_batch=rollup.refresh_for_batch,
    )
    pipe.run_once()
    return rollup.read_gold(
        empty_schema="event_date string, event_type string, "
        "event_count bigint, sum_value double"
    ).select("event_date", "event_type", "event_count", "sum_value")


ROLLUP_SQL = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(COALESCE(value, 0.0))
                            THEN COALESCE(value, 0.0) END
                       AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped gold maintenance (VERDICT r3 gap #2): late-arriving
    rows MODIFY existing gold rows instead of appending new ones.

    Build gold from the on-time half of events (event_id % 2 = 0), then a
    late delta (the other half — same dates, same event types) arrives and
    is upserted: the delta's partial aggregates merge by (event_date,
    event_type) into rows that already exist in gold. The oracle is the
    from-scratch aggregate over ALL events — an append-not-merge bug would
    double the row count, and a lossy merge would miss counts, so the hash
    check distinguishes upsert from both.

    Exactness: gold stores the sum partial as DECIMAL(18,4) (unrounded)
    and rounds only in the final read — merging two rounded partials would
    drift from the oracle's single rounding in the last cent.

    Scale: cost ∝ gold slice + delta aggregate, never silver history —
    the right maintenance shape when a few late rows land in big,
    already-built partitions."""
    from ..pipeline.rollup import PartitionedRollup

    base = fresh_dir(os.path.join(SCRATCH, "rollup_upsert"))
    gold = os.path.join(base, "gold")

    ev = t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )

    def to_gold_partial(df):
        return df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("sum_value_exact"),
        )

    rollup = PartitionedRollup(
        spark, silver_dir=base, gold_dir=gold,
        partition_col="event_date", aggregate=to_gold_partial,
    )
    # initial build: the on-time half (committed through the same atomic
    # manifest table the upsert uses — gold state is never a bare dir).
    # pmod, not %: Spark % keeps the dividend's sign, so `% 2 == 1`
    # matches NO negative odd id (remainder -1) and those rows would
    # land in NEITHER half — silent data loss on an arbitrary-integer
    # id space (round-10 negative-ids sweep). pmod partitions exactly.
    on_time = to_gold_partial(ev.filter(F.pmod(F.col("event_id"), 2) == 0))
    rollup.table.commit_overwrite_partitions(on_time.coalesce(1))
    # late delta: the other half, landing in the SAME partitions/keys
    delta = to_gold_partial(ev.filter(F.pmod(F.col("event_id"), 2) == 1))

    def merge(both):
        return both.groupBy("event_date", "event_type").agg(
            F.sum("event_count").alias("event_count"),
            F.sum("sum_value_exact").cast("decimal(18,4)")
            .alias("sum_value_exact"),
        )

    rollup.upsert(delta, merge)
    return rollup.read_gold(
        empty_schema="event_date string, event_type string, "
        "event_count bigint, sum_value_exact decimal(18,4)"
    ).select(
        "event_date",
        "event_type",
        "event_count",
        F.round(F.col("sum_value_exact"), 2).cast("double").alias("sum_value"),
    )


ROLLUP_UPSERT_SQL = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(COALESCE(value, 0.0))
                            THEN COALESCE(value, 0.0) END
                       AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def export_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold→warehouse hand-off (the reference's declared Redshift
    milestone, reference README.md:4 + 117-118): aggregate orders to a
    gold shape, export it through the COPY-manifest layer
    (pipeline/export.py), then read back EXACTLY the files the manifest
    names — what the warehouse loader would ingest. The oracle recomputes
    the gold aggregate directly, so a lossy or duplicated export (missed
    part file, double batch) hash-mismatches."""
    from ..pipeline.export import WarehouseExporter

    base = fresh_dir(os.path.join(SCRATCH, "export_warehouse"))
    gold = t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice").alias("sum_totalprice"),
    )
    exporter = WarehouseExporter(base)
    manifest = exporter.export(gold, "gold_orders")
    return exporter.read_batch(spark, manifest).select(
        "o_orderpriority", "order_count", "sum_totalprice"
    )


EXPORT_WAREHOUSE_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS order_count,
       {sql_dsum('o_totalprice')} AS sum_totalprice
FROM orders
GROUP BY o_orderpriority
"""


# ------------------------------------------------------- compaction job


def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance job every
    ingest-heavy table needs (a 1000-executor stream writing per-batch
    files degrades scans until someone rewrites them). The job: read the
    fragmented table, bin-pack to ``ceil(bytes / target_file_size)``
    output files via ``coalesce`` (NO shuffle — coalesce merges partitions
    in place; ``repartition`` would pay a full exchange for nothing), and
    rewrite. Content must be bit-preserved, which is exactly what the
    oracle checks: the returned aggregate over the COMPACTED files must
    hash-match the same aggregate over the original table. File-count
    reduction itself is asserted in tests/test_operators.py.
    """
    import shutil

    base = os.path.join(SCRATCH, "maintenance_compact")
    out_dir = os.path.join(base, "compacted")
    if os.path.exists(out_dir):  # the errorifexists write wants it ABSENT
        shutil.rmtree(out_dir)
    li = t(spark, sf_dir, "lineitem")
    # Simulate an ingest-fragmented table: 64 small files. Staged ONCE
    # per process per FIXTURE CONTENT — the fragmented table is this
    # key's INPUT (the thing a fleet of stream writers produced), not
    # the compaction under measurement, and rebuilding it every run
    # only re-times the fixture writer. The staging dir name is a
    # stable digest (not the per-process salted builtin hash()) of the
    # source's memo.fingerprint, so a different sf_dir (or a
    # regenerated fixture) stages its own copy; the _SUCCESS gate keeps
    # a half-written staging from a killed run from being read as input.
    fp = memo.fingerprint(table_path(sf_dir, "lineitem"))
    if fp is None:  # unstatable source: stage fresh, never share
        import uuid

        ckey = uuid.uuid4().hex
    else:
        import hashlib

        ckey = hashlib.sha256(repr(fp).encode()).hexdigest()[:16]
    frag_dir = os.path.join(base, f"fragmented_{ckey}")
    if not os.path.exists(os.path.join(frag_dir, "_SUCCESS")):
        # Prune staging copies whose key no longer matches the current
        # source (regenerated fixture, or pre-fix salted-hash leftovers)
        # before writing the fresh one.
        if os.path.isdir(base):
            for d in os.listdir(base):
                if d.startswith("fragmented_") and d != f"fragmented_{ckey}":
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        fresh_dir(frag_dir)
        li.repartition(64).write.mode("overwrite").parquet(frag_dir)
    maintenance_compact.last_frag_dir = frag_dir  # deterministic test hook

    frag = spark.read.parquet(frag_dir)
    # Sized through the Hadoop FileSystem API (object-store-portable:
    # the same call answers for file:/s3a:/hdfs: paths).
    bytes_total = hadoop_dir_bytes(spark, frag_dir)
    target = 64 * 1024 * 1024  # 64 MB files; ~128 MB is typical at scale
    n_out = max(1, -(-bytes_total // target))
    frag.coalesce(int(n_out)).write.mode("errorifexists").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("line_count"),
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )


MAINTENANCE_COMPACT_SQL = f"""
SELECT l_returnflag,
       COUNT(*) AS line_count,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# maintenance_vacuum — retention delete of aged partitions
# ---------------------------------------------------------------------------

RETENTION_DAYS = 7


def maintenance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum: write events partitioned by day, then DROP whole
    partitions older than ``max(day) - RETENTION_DAYS`` by deleting their
    directories through the Hadoop FileSystem API (object-store-portable,
    same abstraction as maintenance_compact's sizing).

    Partition-granular deletion is the only retention shape that works at
    100 TB: it is O(#partitions) metadata work with zero data read,
    whereas a row-level ``DELETE WHERE`` rewrites every file. The
    read-back aggregate proves exactly the surviving rows remain."""
    ev = t(spark, sf_dir, "events")
    base = fresh_dir(os.path.join(SCRATCH, "maintenance_vacuum"))
    silver = ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
    silver.write.partitionBy("day").parquet(base, mode="overwrite")

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    import re

    days = sorted(
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(jpath)
        # The regex excludes a __HIVE_DEFAULT_PARTITION__ dir (null ts
        # would produce one on a future fixture regeneration, and '_'
        # sorts after digits, so it would land at days[-1] and break the
        # cutoff parse); null-day rows are simply never vacuumed.
        if st.isDirectory()
        and re.fullmatch(r"day=\d{4}-\d{2}-\d{2}", st.getPath().getName())
    )
    # Lexicographic compare is correct for zero-padded yyyy-MM-dd (the
    # same ordering trick the reference's month gate relies on).
    import datetime

    # No dated partitions (all-NULL ts, or an empty table) => there is
    # no retention anchor and nothing to vacuum; the read-back below
    # then yields the oracle's empty result via the day IS NOT NULL
    # filter rather than an IndexError here.
    if days:
        cutoff = (
            datetime.date.fromisoformat(days[-1])
            - datetime.timedelta(days=RETENTION_DAYS)
        ).isoformat()
        for d in days:
            if d < cutoff:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(base, f"day={d}"), True
                )

    # schema-pinned read-back: an empty corpus writes no data files and
    # must read as an empty table, not a schema-inference error
    kept = spark.read.schema(silver.schema).parquet(base)
    # Null-day rows (if a future fixture carries null ts) are retained on
    # disk but excluded from the report, mirroring the oracle's NULL
    # comparison semantics (NULL >= cutoff filters the row).
    return (
        kept.filter(F.col("day").isNotNull())
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dsum("value").alias("sum_value"),
        )
    )


MAINTENANCE_VACUUM_SQL = f"""
WITH bounds AS (
  SELECT MAX(CAST(ts AS DATE)) - INTERVAL {RETENTION_DAYS} DAY AS cutoff
  FROM events
)
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events, bounds
WHERE CAST(ts AS DATE) >= CAST(bounds.cutoff AS DATE)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# maintenance_zorder — multi-dimensional clustering for min/max pruning
# ---------------------------------------------------------------------------

def _morton_spread(col):
    """Spread the low 16 bits of ``col`` so a second dimension can be
    OR-ed into the odd bits (standard Morton-code bit tricks, 4 masked
    shifts — all JVM codegen, no UDF)."""
    x = col.cast("long")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


N_ZFILES = 16


def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: rewrite lineitem ordered by the Morton
    interleave of (l_orderkey, l_partkey) so parquet min/max zone maps
    prune file reads for predicates on EITHER dimension — the layout
    optimization behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

    Mechanics: each key is range-scaled to 16 bits from its global
    min/max (a two-value bounded collect), bit-interleaved with 8 masked
    shift-ORs (pure codegen), then ``repartitionByRange`` on the Z-value
    + sortWithinPartitions writes N files, each covering a compact
    rectangle of (orderkey, partkey) space. The verification query — a
    2-D box predicate served from the clustered copy — must equal the
    same predicate on the source; tests/test_plans.py asserts the
    majority of files are skippable by footer stats. At 100 TB the same
    plan holds: scaling bounds come from table stats, the rewrite is one
    range shuffle, and pruning is metadata-only."""
    li = t(spark, sf_dir, "lineitem")
    base = fresh_dir(os.path.join(SCRATCH, "maintenance_zorder"))

    b = li.agg(
        F.min("l_orderkey").alias("ok0"), F.max("l_orderkey").alias("ok1"),
        F.min("l_partkey").alias("pk0"), F.max("l_partkey").alias("pk1"),
    ).collect()[0]  # bounded: exactly four scalars (table stats at scale)
    if b.ok0 is None:
        # empty table: no bounds, nothing to cluster — the verification
        # box over zero rows is the empty aggregate
        return spark.createDataFrame(
            [], "l_returnflag string, n_rows bigint, sum_price double"
        )

    def scale16(col, lo, hi):
        span = max(hi - lo, 1)
        return ((col - F.lit(lo)) * F.lit(65535) / F.lit(span)).cast("long")

    z = _morton_spread(scale16(F.col("l_orderkey"), b.ok0, b.ok1)).bitwiseOR(
        F.shiftleft(_morton_spread(scale16(F.col("l_partkey"), b.pk0, b.pk1)), 1)
    )
    (
        li.withColumn("zval", z)
        .repartitionByRange(N_ZFILES, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.parquet(base, mode="overwrite")
    )

    clustered = spark.read.parquet(base)
    ok_mid, pk_mid = (b.ok0 + b.ok1) // 2, (b.pk0 + b.pk1) // 2
    box = (
        (F.col("l_orderkey") >= b.ok0) & (F.col("l_orderkey") <= ok_mid)
        & (F.col("l_partkey") >= b.pk0) & (F.col("l_partkey") <= pk_mid)
    )
    return clustered.filter(box).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
    )


MAINTENANCE_ZORDER_SQL = """
WITH b AS (
  SELECT MIN(l_orderkey) AS ok0, MAX(l_orderkey) AS ok1,
         MIN(l_partkey) AS pk0, MAX(l_partkey) AS pk1
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_price
FROM lineitem, b
WHERE l_orderkey >= b.ok0 AND l_orderkey <= (b.ok0 + b.ok1) // 2
  AND l_partkey >= b.pk0 AND l_partkey <= (b.pk0 + b.pk1) // 2
GROUP BY l_returnflag
"""


def dim_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build: turn the events change log
    into per-user version history — each change opens a version row with
    ``[valid_from, valid_to)`` and the open-ended row is flagged current.
    The gold-dimension shape every warehouse maintains next to its facts
    (the reference's declared-but-unbuilt gold layer stops at additive
    rollups; this is the non-additive half).

    Scale: one shuffle on the dimension key, then pure window functions
    — lead() for the closing timestamp, row_number() for the version
    ordinal. No self-join (the textbook anti-pattern for SCD2 at scale).
    The ordering includes event_id so same-timestamp changes version
    deterministically."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # asc_nulls_last matches DuckDB's default ordering should a future
    # fixture carry null ts (Spark's asc default is NULLS FIRST).
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.col("value").alias("attr_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


DIM_SCD2_SQL = """
SELECT user_id,
       row_number() OVER w AS version,
       value AS attr_value,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id
             -- CAST pins version ordering to the µs the Spark stream
             -- sees: raw TIMESTAMP_NS ordering could rank two µs-equal
             -- changes by their ns remainder instead of event_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id)
"""


# ----------------------------------------------------- dim_snapshot_diff

def dim_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot table diff — the change-audit a warehouse runs
    between loads: full outer join on the business key, classify rows as
    added / deleted / changed (unchanged rows are dropped, which keeps
    the output O(changes), the property that matters when snapshots are
    100 TB and the delta is small). Snapshots are derived
    deterministically from the customer table so both engines diff the
    same inputs."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    snap_a = cust.filter(F.col("c_custkey") % 29 != 0)
    snap_b = cust.filter(F.col("c_custkey") % 31 != 0).select(
        "c_custkey",
        "c_name",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    a = snap_a.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = snap_b.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    j = a.join(b, "k", "full_outer")
    status = (
        F.when(F.col("name_a").isNull(), F.lit("added"))
        .when(F.col("name_b").isNull(), F.lit("deleted"))
        .when(
            (F.col("bal_a") != F.col("bal_b"))
            | (F.col("name_a") != F.col("name_b")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            F.col("k").alias("c_custkey"),
            "status",
            F.coalesce("name_b", "name_a").alias("c_name"),
            "bal_a",
            "bal_b",
        )
    )


DIM_SNAPSHOT_DIFF_SQL = """
WITH a AS (
  SELECT c_custkey AS k, c_name AS name_a, c_acctbal AS bal_a
  FROM customer WHERE c_custkey % 29 <> 0
), b AS (
  SELECT c_custkey AS k, c_name AS name_b,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS bal_b
  FROM customer WHERE c_custkey % 31 <> 0
), j AS (
  SELECT COALESCE(a.k, b.k) AS k, name_a, bal_a, name_b, bal_b,
         CASE WHEN name_a IS NULL THEN 'added'
              WHEN name_b IS NULL THEN 'deleted'
              WHEN bal_a <> bal_b OR name_a <> name_b THEN 'changed'
         END AS status
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT k AS c_custkey, status,
       COALESCE(name_b, name_a) AS c_name, bal_a, bal_b
FROM j WHERE status IS NOT NULL
"""


# ------------------------------------------------- maintenance_analyze

ANALYZE_NUM_COLS = ("l_quantity", "l_extendedprice", "l_partkey")
ANALYZE_STR_COLS = ("l_returnflag", "l_linestatus")


def maintenance_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics — the lakehouse maintenance pass
    every optimizer feeds on (CBO row counts, NDVs, ranges; partition
    layout decisions). One aggregation job over the fact table computes
    count / nulls / exact NDV / min / max for a column set, then the
    single stats row is unpivoted into the catalog's long form.

    Scale shape: TWO single-row passes joined 1×1 — the NDVs ride
    Spark's Expand-based multi-DISTINCT plan (one scan, rows ×
    n_distinct_cols expanded, partial-aggregated map-side — same plan
    family as agg_multi_distinct), while counts/min/max take a separate
    plain whole-stage-codegen pass. Folding the min/max into the Expand
    aggregate reads once but drops the STRING min/max out of codegen
    (measured 10 s vs 2.9 s at sf0.1 — the interpreted fallback over the
    6× expanded rows dwarfs the extra scan), so the split is the faster
    plan at every scale. NDV is exact here because the oracle must
    match; a production catalog at 100 TB would flip to HLL sketches
    (agg_approx_distinct / agg_sketch_merge show that path).
    """
    li = t(spark, sf_dir, "lineitem")
    ndv_row = li.agg(
        *[
            F.countDistinct(c).alias(f"ndv_{c}")
            for c in (*ANALYZE_NUM_COLS, *ANALYZE_STR_COLS)
        ]
    )
    base_aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in (*ANALYZE_NUM_COLS, *ANALYZE_STR_COLS):
        base_aggs.append(F.count(c).alias(f"nn_{c}"))
    for c in ANALYZE_NUM_COLS:
        base_aggs.append(F.min(c).cast("double").alias(f"min_{c}"))
        base_aggs.append(F.max(c).cast("double").alias(f"max_{c}"))
    for c in ANALYZE_STR_COLS:
        base_aggs.append(F.min(c).alias(f"min_{c}"))
        base_aggs.append(F.max(c).alias(f"max_{c}"))
    row = li.agg(*base_aggs).crossJoin(ndv_row)  # 1×1

    def entry(c: str, numeric: bool):
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.col(f"ndv_{c}").alias("ndv"),
            (F.col(f"min_{c}") if numeric else F.lit(None).cast("double"))
            .alias("min_num"),
            (F.col(f"max_{c}") if numeric else F.lit(None).cast("double"))
            .alias("max_num"),
            (F.col(f"min_{c}") if not numeric else F.lit(None).cast("string"))
            .alias("min_str"),
            (F.col(f"max_{c}") if not numeric else F.lit(None).cast("string"))
            .alias("max_str"),
        )

    entries = [entry(c, True) for c in ANALYZE_NUM_COLS] + [
        entry(c, False) for c in ANALYZE_STR_COLS
    ]
    return row.select(
        F.explode(F.array(*entries)).alias("s")
    ).select("s.*")


def _analyze_sql() -> str:
    branches = []
    for c in ANALYZE_NUM_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_nulls,"
            f" ndv_{c} AS ndv, min_{c} AS min_num, max_{c} AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR)"
            f" AS max_str FROM stats"
        )
    for c in ANALYZE_STR_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_nulls,"
            f" ndv_{c} AS ndv, CAST(NULL AS DOUBLE) AS min_num,"
            f" CAST(NULL AS DOUBLE) AS max_num, min_{c} AS min_str,"
            f" max_{c} AS max_str FROM stats"
        )
    cols = [
        "COUNT(*) AS n_rows",
    ]
    for c in (*ANALYZE_NUM_COLS, *ANALYZE_STR_COLS):
        cols.append(f"COUNT({c}) AS nn_{c}")
        cols.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_{c}")
    for c in ANALYZE_NUM_COLS:
        cols.append(f"CAST(MIN({c}) AS DOUBLE) AS min_{c}")
        cols.append(f"CAST(MAX({c}) AS DOUBLE) AS max_{c}")
    for c in ANALYZE_STR_COLS:
        cols.append(f"MIN({c}) AS min_{c}")
        cols.append(f"MAX({c}) AS max_{c}")
    return (
        "WITH stats AS MATERIALIZED (SELECT "
        + ", ".join(cols)
        + " FROM lineitem) "
        + " UNION ALL ".join(branches)
    )


MAINTENANCE_ANALYZE_SQL = _analyze_sql()


# ------------------------------------------------- maintenance_delete_rows

DELETE_USER_MOD = 97  # users to erase: user_id % 97 == 0


def maintenance_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete on a partitioned lake table — the GDPR-erasure /
    right-to-be-forgotten maintenance op: given a deletion list (here
    user_id % 97 == 0), rewrite ONLY the partitions containing matching
    rows, through the crash-atomic snapshot commit, and leave every
    other partition's files untouched.

    Scale shape: the touched-partition set comes from a capped distinct
    over the deletion predicate's rows (the rollup discipline — a
    predicate touching every partition should degrade to a full rewrite
    deliberately, not OOM the driver); the rewrite reads only those
    partitions and anti-joins the deletion predicate; the commit is one
    manifest rename, so a kill mid-erasure never leaves a partition
    half-deleted (it is either fully pre- or fully post-delete, and the
    erasure replays). The oracle recomputes the surviving rows from the
    raw table, so an over- or under-delete hash-mismatches."""
    import os

    from ..catalog import load_table
    from ..pipeline.atomic import AtomicPartitionedTable
    from ._util import fresh_dir, scratch_root

    base = fresh_dir(os.path.join(scratch_root(), "maintenance_delete_rows"))
    table = AtomicPartitionedTable(spark, os.path.join(base, "tbl"), "bucket")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts",
        (F.col("user_id") % 16).alias("bucket"),
    )
    table.commit_overwrite_partitions(ev)

    doomed = F.col("user_id") % DELETE_USER_MOD == 0
    # empty_schema: an empty corpus commits an empty table — the delete
    # is then a no-op over zero rows, not an error
    state = table.read(
        empty_schema="event_id bigint, user_id bigint, "
        "event_type string, value double, ts timestamp, bucket int"
    )
    n_buckets = 16  # must match the bucket expression above
    touched = [
        r["bucket"]
        for r in state.filter(doomed).select("bucket").distinct()
        .limit(n_buckets + 1).collect()
    ]  # bounded: <= n_buckets + 1 overflow probe
    if len(touched) > n_buckets:
        # the probe row proves the touched set exceeded the bucket
        # universe — the limit would otherwise TRUNCATE it and silently
        # under-delete (the rollup max_touched_partitions discipline)
        raise ValueError(
            f"maintenance_delete_rows: more than {n_buckets} touched "
            f"buckets — bucket expression and n_buckets have diverged"
        )
    if touched:
        survivors = state.filter(
            F.col("bucket").isin(touched) & ~doomed
        )
        # ``replaced`` hands the commit ownership of the touched buckets:
        # a bucket whose every row is erased (all its users in the
        # deletion list) is dropped from the manifest — without it the
        # empty rewrite would silently keep serving the old files (found
        # live by the sf0.001 oracle: one bucket held only doomed rows)
        table.commit_overwrite_partitions(survivors, replaced=touched)
    # empty_schema: every row can match the deletion list (e.g. a
    # single-user corpus whose one user is doomed) — the erasure
    # legitimately empties the table and the contract is the surviving
    # rows, which are none
    state = table.read(
        empty_schema="event_id bigint, user_id bigint, "
        "event_type string, value double, ts timestamp, bucket int"
    )
    return state.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


MAINTENANCE_DELETE_ROWS_SQL = f"""
SELECT event_id, user_id, event_type, value,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
WHERE NOT (user_id % {DELETE_USER_MOD} = 0)
"""


# -------------------------------------------------------------- dim_calendar

CAL_START = "1992-01-01"
CAL_END = "1998-12-31"


def dim_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension over the TPC-H date span — the
    role-playing dimension every warehouse joins order/ship/receipt
    dates against. Generated, not scanned: `sequence` + `explode`
    produces the 2,557 days with ZERO corpus I/O, which is exactly how
    a production calendar dim is minted (then persisted once).

    Attributes stay in the cross-engine-safe set: numeric
    year/quarter/month/day, epoch-day, ISO weekday (Spark weekday()+1
    == DuckDB isodow — the round-4 equivalence), a pure-integer week
    index (epoch_day DIV 7 — no ISO-week-numbering semantics, which
    DIFFER between engines at year boundaries), and the weekend flag.

    Scale: 365 rows/year — the definition of broadcast-sized; the
    `sf_dir` parameter is accepted for the registry signature and
    unused."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(CAL_START).cast("date"),
                F.lit(CAL_END).cast("date"),
            )
        ).alias("cal_date")
    )
    epoch_day = F.date_diff(
        F.col("cal_date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    isodow = (F.weekday("cal_date") + 1).cast("int")
    return days.select(
        F.date_format("cal_date", "yyyy-MM-dd").alias("cal_date"),
        epoch_day.alias("epoch_day"),
        F.year("cal_date").cast("int").alias("year"),
        F.quarter("cal_date").cast("int").alias("quarter"),
        F.month("cal_date").cast("int").alias("month"),
        F.dayofmonth("cal_date").cast("int").alias("day_of_month"),
        isodow.alias("iso_dow"),
        F.expr(
            "CAST(date_diff(cal_date, CAST('1970-01-01' AS DATE)) "
            "DIV 7 AS BIGINT)"
        ).alias("week_index"),
        (isodow >= 6).alias("is_weekend"),
    )


DIM_CALENDAR_SQL = f"""
WITH days AS (
    SELECT CAST(unnest(generate_series(DATE '{CAL_START}',
                                       DATE '{CAL_END}',
                                       INTERVAL 1 DAY)) AS DATE)
             AS cal_date
)
SELECT strftime(cal_date, '%Y-%m-%d') AS cal_date,
       CAST(date_diff('day', DATE '1970-01-01', cal_date) AS BIGINT)
         AS epoch_day,
       CAST(year(cal_date) AS INT) AS year,
       CAST(quarter(cal_date) AS INT) AS quarter,
       CAST(month(cal_date) AS INT) AS month,
       CAST(day(cal_date) AS INT) AS day_of_month,
       CAST(isodow(cal_date) AS INT) AS iso_dow,
       CAST(date_diff('day', DATE '1970-01-01', cal_date) // 7
            AS BIGINT) AS week_index,
       isodow(cal_date) >= 6 AS is_weekend
FROM days
"""


QUERIES: dict[str, Query] = {
    "rollup_incremental": Query(
        rollup_incremental, ROLLUP_SQL,
        "incrementally-maintained silver→gold rollup",
        eager="state",
    ),
    "ingest_incremental": Query(
        ingest_incremental, INGEST_INCREMENTAL_SQL,
        "exactly-once incremental ingest: run1 = all rows, run2 = 0, "
        "silver never doubles (hash-checked)",
        eager="state",
    ),
    "sink_partitioned": Query(
        sink_partitioned, SINK_PARTITIONED_SQL, "partitioned write + pruned read",
        eager="state",
    ),
    "export_warehouse": Query(
        export_warehouse, EXPORT_WAREHOUSE_SQL,
        "gold→warehouse manifest export + loader readback",
        eager="state",
    ),
    "rollup_upsert": Query(
        rollup_upsert, ROLLUP_UPSERT_SQL,
        "MERGE-shaped gold upsert: late rows modify existing gold rows",
        eager="state",
    ),
    "maintenance_compact": Query(
        maintenance_compact, MAINTENANCE_COMPACT_SQL,
        "small-file compaction with content-preservation oracle",
        eager="state",
    ),
    "maintenance_vacuum": Query(
        maintenance_vacuum, MAINTENANCE_VACUUM_SQL, "partition-granular retention",
        eager="state",
    ),
    "maintenance_zorder": Query(
        maintenance_zorder, MAINTENANCE_ZORDER_SQL, "Morton-interleave clustering",
        eager="state",
    ),
    "dim_scd2": Query(
        dim_scd2, DIM_SCD2_SQL, "type-2 SCD history via windows, no self-join"
    ),
    "dim_snapshot_diff": Query(
        dim_snapshot_diff, DIM_SNAPSHOT_DIFF_SQL,
        "two-snapshot diff: added/deleted/changed, O(changes) output"),
    "maintenance_analyze": Query(
        maintenance_analyze, MAINTENANCE_ANALYZE_SQL,
        "ANALYZE column stats: count/nulls/NDV/min/max, long form",
    ),
    "maintenance_delete_rows": Query(
        maintenance_delete_rows, MAINTENANCE_DELETE_ROWS_SQL,
        "GDPR-style row erasure: partition-scoped rewrite, crash-atomic",
        eager="state",
    ),
    "dim_calendar": Query(
        dim_calendar, DIM_CALENDAR_SQL,
        "generated calendar dimension (zero corpus I/O)",
    ),
}
