"""Relational operators: scans over every source format, projection,
filters, exact dedup, deterministic sampling and subqueries (key prefixes
``scan_``, ``project_``, ``filter_``, ``dedup_``, ``sample_``,
``subquery_``).

Generalizes the reference's data plane: its only relational operators are a
multi-file parquet scan (reference: src/glue_scripts/bronze_to_silver.py:45)
and an identity transform slot (bronze_to_silver.py:46). Here the slot is
filled with real projections/filters, expressed declaratively so Catalyst
pushes predicates and prunes columns at the parquet scan (verify with
``.explain``: ``PushedFilters`` / ``ReadSchema``).

Non-parquet scans (CSV, JSON, ORC, text, XML, binaryFile, JDBC, a
drifted multi-file parquet set and the atomic snapshot table) first stage
their input under the process scratch root, so they are
``eager="state"``. Samples are hash thresholds on row identity, never
``df.sample``: membership must survive retries, repartitions and
re-ingests. Subqueries are decorrelated into joins by Catalyst.

Scale notes: every parquet query below is a single scan with no shuffle
except ``dedup_exact`` (one hash-partition exchange on the dedup key —
map-side partial aggregation does not apply, but AQE coalesces the output).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from . import Query
from ._util import SCRATCH, dsum, fresh_dir, scratch_root, sql_dsum, t


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan of lineitem, stable column order (catalog pins it)."""
    return t(spark, sf_dir, "lineitem")


SCAN_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate
FROM lineitem
"""


def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + alias + computed column (per-row double math is
    deterministic IEEE, no rounding needed)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


PROJECT_SQL = """
SELECT l_orderkey AS order_key,
       l_linenumber AS line_no,
       l_extendedprice AS price,
       l_discount AS discount,
       l_extendedprice * (1.0 - l_discount) AS revenue
FROM lineitem
"""


def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: date range + IN + BETWEEN. All three reach
    the parquet scan as PushedFilters."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1999-01-01")))
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10.0, 40.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
             "l_returnflag", "l_shipdate")


FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       l_returnflag, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND l_returnflag IN ('A', 'R')
  AND l_quantity BETWEEN 10.0 AND 40.0
"""


def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe predicates on events.value (nullable by construction)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNull() | (F.col("value") > 150.0))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").isNull().alias("value_missing"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        )
    )


FILTER_NULL_SQL = """
SELECT event_id, user_id, event_type,
       value IS NULL AS value_missing,
       COALESCE(value, 0.0) AS value_filled
FROM events
WHERE value IS NULL OR value > 150.0
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a natural key, keep-earliest semantics.

    Generalizes the reference's month-level idempotency filter (reference:
    src/lambda_functions/fetch_raw_data.py:134-138 — skip if already
    processed) from partition granularity to row granularity. Implemented as
    ``row_number() = 1`` rather than ``dropDuplicates`` because
    dropDuplicates keeps an *arbitrary* row per key — fine for idempotency,
    wrong for a deterministic contract. At scale this is one shuffle on the
    key; a pre-bucketed table would eliminate it.
    """
    ev = t(spark, sf_dir, "events")
    # NULLS LAST, pinned on both engines: a row with no timestamp is
    # never "the earliest" (Spark's asc default is NULLS FIRST, DuckDB's
    # is NULLS LAST — unpinned, a null-ts drift flips which row wins).
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value", "props")
    )


DEDUP_SQL = """
SELECT event_id, user_id, event_type, value, props
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts NULLS LAST, event_id) AS rn
    FROM events
) WHERE rn = 1
"""


# Declared superset schema for the drifted multi-file scan below. The
# engine's schema-evolution contract: the reader declares the CURRENT
# schema; historical files may lack columns (read as NULL) or store a
# narrower physical type (widened on read — Spark 4 parquet readers
# upcast int32→int64 etc.).
MERGE_SCHEMA_DECLARED = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderpriority", StringType()),
    ]
)


def stage_drifted_orders(sf_dir: str, base: str) -> tuple[str, str]:
    """Fabricate the two 'monthly drop' files whose schemas drift — the
    situation the reference's multi-file scan hits on real TLC data
    (reference: src/glue_scripts/bronze_to_silver.py:45 reads N monthly
    files in one call; TLC months add/retype columns across years).

    v1 (old producer): rows with ``o_orderkey % 3 != 0``; ``o_orderkey``
    stored as *int32* and NO ``o_orderpriority`` column.
    v2 (new producer): the remaining rows; ``o_orderkey`` widened to
    int64 and ``o_orderpriority`` added.

    Driver-side pyarrow scaffolding (same rationale as
    split_parquet_by_mod): the operator under test is the Spark read, not
    the fabrication."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
    )
    mod = pa.array(tbl["o_orderkey"].to_numpy(zero_copy_only=False) % 3 == 0)
    old = tbl.filter(pc.invert(mod)).drop_columns(["o_orderpriority"])
    old = old.set_column(
        0, "o_orderkey", pc.cast(old["o_orderkey"], pa.int32())
    )
    new = tbl.filter(mod)
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    p_old = os.path.join(base, "orders_2019_01.parquet")
    p_new = os.path.join(base, "orders_2019_02.parquet")
    pq.write_table(old, p_old)
    pq.write_table(new, p_new)
    return p_old, p_new


def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift multi-file scan: one declared-schema read over files
    whose physical schemas differ (missing column → NULL, int32 → int64
    widened). This is the production shape of the reference's bronze scan
    (bronze_to_silver.py:45) once monthly files drift.

    Scale: a plain multi-file parquet scan — no shuffle, no per-file
    driver loop; schema resolution is per-file at the reader, so 10⁵
    drifted files cost the same plan. ``mergeSchema`` (footer-union) is
    deliberately NOT used: it both fails on retyped columns and requires
    a footer pass over every file at planning time — the declared-schema
    contract is the 100 TB-sane one."""
    base = os.path.join(scratch_root(), "scan_merge_schema")
    p_old, p_new = stage_drifted_orders(sf_dir, base)
    return spark.read.schema(MERGE_SCHEMA_DECLARED).parquet(p_old, p_new)


# Oracle reconstructs the drift from the base table: rows from the old
# file (o_orderkey % 3 != 0) must surface NULL o_orderpriority.
MERGE_SCHEMA_SQL = """
SELECT o_orderkey,
       o_custkey,
       o_totalprice,
       CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority END
           AS o_orderpriority
FROM orders
"""


def scan_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a custom Python Data Source (PySpark 4 API,
    sources/pyds.py): N planned input partitions, each read executor-side
    — the engine's pattern for systems without a Spark connector. The
    source is deterministic, so the oracle replays it relationally."""
    from ..sources import RangeHashDataSource

    # register() replaces an existing registration, so repeated calls are
    # safe — and a real failure (API missing, broken import) surfaces
    # here with its true cause rather than as DATA_SOURCE_NOT_FOUND later
    spark.dataSource.register(RangeHashDataSource)
    return (
        spark.read.format("range_hash")
        .option("n", 20_000)
        .option("parts", 8)
        .load()
    )


SCAN_PYDS_SQL = """
SELECT i AS id,
       CAST(i % 8 AS INTEGER) AS part,
       md5(CAST(i AS VARCHAR)) AS h
FROM range(0, 20000) t(i)
"""


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source support: deterministic write of a lineitem projection to
    CSV, schema-declared read back (header, explicit types — never
    inferSchema at scale: it reads the data twice)."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_csv"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    # Lossless string round-trip (hostile-strings axis, round 11):
    # multiLine=True or an embedded newline silently SPLITS the quoted
    # row on read (multiLine disables input splitting — at 100 TB
    # prefer escaping newlines at write or a splittable format; this
    # key's contract is round-trip fidelity); the \N sentinel keeps
    # '' distinct from NULL (Spark's default maps both to NULL — data
    # equal to the literal sentinel is the one inherent CSV caveat);
    # ignore*WhiteSpace=False on BOTH sides (the writer AND reader trim
    # by default, silently corrupting edge-whitespace values).
    (
        li.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(out)
    )
    back = (
        spark.read.schema(
            "l_orderkey long, l_linenumber int, l_returnflag string, l_quantity double"
        )
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(out)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("line_count"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_qty"),
    )


SCAN_CSV_SQL = """
SELECT l_returnflag,
       COUNT(*) AS line_count,
       CAST(ROUND(SUM(CAST(CASE WHEN l_quantity - (l_quantity) = 0 THEN l_quantity END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source support (schema-declared read; null fields are
    omitted on write and restored as NULL on read)."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_json"))
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(out)
    return back.select("event_id", "user_id", "event_type", "value")


SCAN_JSON_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


SUBQ_SCALAR_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))
      * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT SUM(CAST(CASE WHEN i.o_totalprice - (i.o_totalprice) = 0 THEN i.o_totalprice END AS DECIMAL(18,4)))
         FROM orders i WHERE i.o_custkey = o.o_custkey)
"""


def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries: orders above their customer's average
    (stated sum/count-style so the comparison is decimal-exact). Catalyst
    decorrelates both subqueries into aggregate+join — no per-row
    re-execution (the thing that makes correlated subqueries viable at
    100 TB)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SUBQ_SCALAR_SQL)


SUBQ_IN_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
"""


def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery via the SQL entry point (planned as a left-semi join,
    same physical shape as the DataFrame ``join_semi`` key)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(SUBQ_IN_SQL)


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~10%): keep rows whose md5 of
    the natural key starts below 0x1a (26/256 of hex space). Unlike
    ``df.sample``, this is reproducible across engines, runs, retries, and
    repartitions — the property a training-data pipeline needs for stable
    held-out splits at 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    # concat, NOT concat_ws: concat_ws SKIPS null arguments (a null
    # l_linenumber would hash md5('<orderkey>') and stay sampled ~10% of
    # the time) while the oracle's || null-propagates and always drops
    # the row; concat null-propagates identically.
    fp = F.md5(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
    )
    return (
        li.withColumn("__fp", fp)
        .filter(F.substring("__fp", 1, 2) < "1a")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


SAMPLE_HASH_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE substring(md5(l_orderkey || '-' || l_linenumber), 1, 2) < '1a'
"""


def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source support: write a lineitem projection to ORC, read it
    back. Spark's native vectorized ORC reader gets the same pushdown /
    pruning treatment as parquet; the oracle checks the roundtrip is
    lossless against the parquet original (incl. ms timestamps — the
    session is pinned UTC so ORC's local-time semantics are inert)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    )
    base = fresh_dir(os.path.join(SCRATCH, "orc_scan"))
    li.write.mode("overwrite").orc(base)
    return spark.read.orc(base)


SCAN_ORC_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice, l_returnflag, l_shipdate
FROM lineitem
"""


# Per-language keep thresholds on the first two hex chars of md5(doc_id):
# 'en' dominates the corpus, so it is downsampled to ~25% (0x40/0x100)
# while under-represented languages are kept IN FULL (no filter at all —
# a strictly-below 'ff' comparison would silently drop the 0xff bucket,
# ~0.4% of every stratum) — the standard rebalancing move in multilingual
# corpus curation.
STRATA_THRESHOLDS = {"en": "40"}


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff the md5 of its
    id falls below its stratum's threshold; strata without a threshold
    are kept whole. One codegen'd map pass — no shuffle, no RNG; the
    sample is a pure function of (doc_id, lang).

    A hash-threshold op, not ``df.sample``: at 100 TB a sample must be
    reproducible across engines, runs, retries, repartitions and incremental
    re-ingests, so membership is a pure function of the row's identity,
    never of partition layout or RNG state. Re-running curation after a late
    batch then does not reshuffle membership of old rows."""
    docs = t(spark, sf_dir, "documents")
    fp = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    keep = F.lit(True)
    for lang, th in STRATA_THRESHOLDS.items():
        keep = F.when(F.col("lang") == lang, fp < F.lit(th)).otherwise(keep)
    return docs.filter(keep).select("doc_id", "lang", "source", "n_chars")


SAMPLE_STRATIFIED_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CASE WHEN lang = 'en'
           THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
           ELSE TRUE END
"""


# ---------------------------------------------------------------------------
# scan_binaryfile — opaque-payload ingestion via the binaryFile source
# ---------------------------------------------------------------------------

BINARY_SAMPLE_MOD = 20


def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest a directory of opaque files through Spark's ``binaryFile``
    source — the entry path for raw multimodal payloads (images, audio)
    before mm_decode_meta takes over. Identity is recovered from the
    path, integrity from md5(content): the oracle recomputes both from
    the documents table, so a truncated or mis-mapped file fails the
    hash.

    Scale: binaryFile is a normal FileScan — files are split across
    executors by the listing, filters on path/length push down, and the
    md5 is a JVM expression over the content column. The stage-out
    materializes one file per sampled doc via ``foreachPartition`` —
    each executor task writes its own slice to shared storage, so the
    payload bytes never pass through the driver (at 100 TB the source
    would already BE files on the object store and staging disappears
    entirely)."""
    docs = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % BINARY_SAMPLE_MOD == 0)
        # A NULL payload has no file to stage; the oracle mirrors the
        # exclusion (md5(NULL) on one side vs a crash on the other was
        # the alternative).
        & F.col("text").isNotNull()
    )
    base = fresh_dir(os.path.join(SCRATCH, "scan_binaryfile"))

    def _stage_slice(rows):
        import os as _os

        for row in rows:
            name = _os.path.join(base, f"doc_{row['doc_id']}.bin")
            with open(name, "wb") as f:
                f.write(row["text"].encode("utf-8"))

    docs.select("doc_id", "text").foreachPartition(_stage_slice)

    binf = spark.read.format("binaryFile").load(base)
    return binf.select(
        # -? : ids are arbitrary integers — a digits-only pattern
        # extracts '' from "doc_-12.bin" and the ANSI cast throws
        # (round-10 negative-ids sweep)
        F.regexp_extract(F.col("path"), r"doc_(-?\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


SCAN_BINARYFILE_SQL = f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id % {BINARY_SAMPLE_MOD} = 0 AND text IS NOT NULL
"""


# ------------------------------------------------------------- scan_text

def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line source roundtrip: write customer names as raw text lines
    (`spark.write.text`), read them back with the text source, and
    re-aggregate — the whole-line ingestion path raw web-corpus shards
    arrive through before any schema exists. NULL lines are excluded on
    write (the text sink cannot represent NULL), and so are values
    containing line separators — a name with an embedded newline would
    silently round-trip as two records; the oracle mirrors both
    filters."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_text"))
    cust = t(spark, sf_dir, "customer")
    cust.filter(
        F.col("c_name").isNotNull()
        & ~F.col("c_name").contains("\n")
        & ~F.col("c_name").contains("\r")
    ).select(
        F.col("c_name").alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("value").alias("n_distinct"),
        F.min("value").alias("first_name"),
        F.max("value").alias("last_name"),
        F.sum(F.length("value")).alias("total_chars"),
    )


SCAN_TEXT_SQL = """
SELECT COUNT(*) AS n_lines,
       COUNT(DISTINCT c_name) AS n_distinct,
       MIN(c_name) AS first_name,
       MAX(c_name) AS last_name,
       CAST(SUM(length(c_name)) AS BIGINT) AS total_chars
FROM customer
WHERE c_name IS NOT NULL
  AND position(chr(10) IN c_name) = 0
  AND position(chr(13) IN c_name) = 0
"""


def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source roundtrip (Spark 4 native XML, no external package):
    write an orders projection as <order> row elements, read it back with
    a DECLARED schema (inference on XML is two passes over the data —
    never at scale), and re-aggregate. The oracle recomputes from the
    base table, so any element-mapping or type-coercion defect in the
    roundtrip shows up as a hash mismatch."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_xml"))
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        orders.write.mode("overwrite")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .format("xml")
        .save(out)
    )
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double"
        )
        .option("rowTag", "order")
        .format("xml")
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


SCAN_XML_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
"""


# ------------------------------------------------- scan_jdbc

JDBC_SAMPLE_MOD = 20
JDBC_PARTS = 8


def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source/sink round-trip against an embedded Derby database
    (the RDBMS driver Spark itself ships for its metastore): export a
    deterministic orders slice through the JDBC WRITER, read it back
    through the JDBC READER as a PARTITIONED parallel scan, and return
    the rows — the warehouse-integration path (operational DB extract /
    dimension sync) the file sources can't exercise. The oracle
    recomputes the slice from parquet, so a lossy export, a truncated
    read, or a type mangled by the DB round-trip (DOUBLE must come back
    bit-identical) all hash-mismatch.

    Scale shape: the read is split into JDBC_PARTS range predicates on
    o_orderkey (lowerBound/upperBound from one 2-scalar aggregate), so
    executors pull ranges concurrently instead of one serial cursor —
    the property that matters when the relational side is large. The
    bounds collect is 2 scalars; data never passes through the driver.
    Embedded Derby keeps the demo hermetic; a deployment swaps the URL
    and driver class for Postgres/MySQL with the same plan."""
    import os as _os

    from ._util import scratch_root

    db_dir = _os.path.join(scratch_root(), "scan_jdbc", "db")
    _os.makedirs(_os.path.dirname(db_dir), exist_ok=True)
    url = f"jdbc:derby:{db_dir};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    from ._util import fin

    src = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % JDBC_SAMPLE_MOD == 0)
        # Derby (like several RDBMSs) rejects NaN/±Inf DOUBLEs at the
        # JDBC layer (ERROR 22003) — the export normalizes non-finite
        # to NULL, the standard warehouse-sync posture (float-specials
        # contract, _util). Oracle mirrors with the isfinite CASE.
        .select(
            "o_orderkey", "o_custkey",
            fin("o_totalprice").alias("o_totalprice"),
            "o_orderpriority",
        )
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "app.orders_export")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    lo, hi = (
        src.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    )  # bounded: exactly 2 scalars (range-partitioning bounds)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "app.orders_export")
        .option("driver", driver)
    )
    if lo is not None:  # empty slice → single-partition read
        reader = (
            reader.option("partitionColumn", "o_orderkey")
            .option("numPartitions", str(JDBC_PARTS))
            .option("lowerBound", str(lo))
            .option("upperBound", str(max(hi, lo + 1)))
        )
    return reader.load().select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


SCAN_JDBC_SQL = f"""
SELECT o_orderkey, o_custkey,
       CASE WHEN isfinite(o_totalprice) THEN o_totalprice END
         AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % {JDBC_SAMPLE_MOD} = 0
"""


# ------------------------------------------------- scan_atomic_table

ATOMIC_HOT = ("1-URGENT", "2-HIGH")  # partitions refreshed by commit 2


def scan_atomic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table lifecycle as a query source: build a gold aggregate
    table through the manifest-pointer commit protocol — commit 1 loads a
    half-data aggregate for every priority, a CRASHED commit (injected
    fault after data staging, before the manifest rename) tries to
    corrupt it, commit 2 refreshes the hot partitions from full data,
    vacuum reaps the orphan+superseded snapshots — then read the table.

    The oracle recomputes the expected END state from raw orders (full
    data for the hot priorities, half data for the rest), so the hash
    check proves all four protocol properties at once: the crashed
    commit's files are invisible, the refresh replaced exactly its
    partitions, untouched partitions still serve the original snapshot,
    and vacuum removed nothing live.

    Scale: each commit is one aggregate write of the touched slice; the
    read is one multi-path parquet scan with partition discovery — the
    same shape as a normal partitioned table, plus one tiny manifest
    read.

    The registry-facing proof of the commit protocol (pipeline/atomic.py):
    two real commits AND one crashed commit against a snapshot table, then a
    read-back — a driver-audited hash over exactly the state crash-atomicity
    promises."""
    import os

    from ..pipeline.atomic import AtomicPartitionedTable
    from ._util import fresh_dir, scratch_root

    base = fresh_dir(os.path.join(scratch_root(), "scan_atomic_table"))
    table = AtomicPartitionedTable(
        spark, os.path.join(base, "tbl"), "o_orderpriority"
    )
    orders = t(spark, sf_dir, "orders")

    def gold(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("sum_totalprice"),
        )

    # commit 1: half the data, every priority
    table.commit_overwrite_partitions(
        gold(orders.filter(F.col("o_orderkey") % 2 == 0)).coalesce(1)
    )

    # a crashed commit: staged data for ALL priorities from a WRONG
    # aggregate (doubled counts) — must stay invisible
    class _Crash(RuntimeError):
        pass

    def _fault(stage: str) -> None:
        if stage == "staged":
            raise _Crash

    try:
        table.commit_overwrite_partitions(
            gold(orders).withColumn(
                "order_count", F.col("order_count") * 2
            ).coalesce(1),
            fault=_fault,
        )
    except _Crash:
        pass  # the simulated kill; the table must still read as commit 1

    # commit 2: refresh the hot priorities from FULL data
    table.commit_overwrite_partitions(
        gold(orders.filter(F.col("o_orderpriority").isin(*ATOMIC_HOT)))
        .coalesce(1)
    )
    table.vacuum(grace_seconds=0)  # single-writer here: reap orphan + superseded
    # empty_schema: a zero-order corpus commits nothing — the lifecycle
    # legitimately ends with an empty gold table
    return table.read(
        empty_schema="o_orderpriority string, order_count bigint, "
        "sum_totalprice double"
    ).select("o_orderpriority", "order_count", "sum_totalprice")


_hot_list = ", ".join(f"'{p}'" for p in ATOMIC_HOT)
SCAN_ATOMIC_TABLE_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS order_count,
       {sql_dsum('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_orderpriority IN ({_hot_list}) OR o_orderkey % 2 = 0
GROUP BY o_orderpriority
"""


# ------------------------------------------------------- sample_weighted

#: Acceptance-probability resolution: u ~ Uniform[0, 2^32) is decoded
#: from the first 8 md5 hex nibbles; a row is kept iff
#: u < floor(min(n_chars, CAP) * 2^32 / CAP) — ALL-INTEGER arithmetic on
#: both engines, so the decision is bit-reproducible across engines,
#: runs, retries, and repartitions (no ``rand()`` anywhere).
SAMPLE_W_CAP = 4000
SAMPLE_W_SCALE = 4294967296  # 2^32


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sampling: keep each document
    with probability proportional to its length (capped at
    ``SAMPLE_W_CAP`` chars — longer docs carry more tokens toward a
    training budget, the standard length-proportional corpus
    subsample). The coin is the document's own content hash, so the
    sample is a pure row-local filter: reproducible everywhere, no
    shuffle, no driver state, and at 100 TB it composes with any scan
    (predicate evaluates in the scan stage; nothing else moves).

    Null-text docs hash to a null coin and are dropped (both engines
    null-propagate through md5/substr identically).

    Extends the ``sample_hash`` discipline (reproducible content-hash
    sampling) from a fixed rate to a PER-ROW acceptance probability — the
    length/quality-proportional subsampling a training-data pipeline uses to
    hit a token budget without a shuffle or a random-state dependency."""
    docs = t(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":"), F.col("text"))), 1, 8),
        16, 10,
    ).cast("long")
    thr = F.expr(
        f"least(n_chars, {SAMPLE_W_CAP}) * {SAMPLE_W_SCALE}L"
        f" div {SAMPLE_W_CAP}"
    )
    return (
        docs.withColumn("u32", u)
        .withColumn("keep_thr", thr)
        .filter(F.col("u32") < F.col("keep_thr"))
        .select("doc_id", "source", "n_chars", "u32", "keep_thr")
    )


SAMPLE_WEIGHTED_SQL = f"""
SELECT doc_id, source, n_chars,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))
           ::BIGINT AS u32,
       least(n_chars, {SAMPLE_W_CAP}) * {SAMPLE_W_SCALE}
           // {SAMPLE_W_CAP} AS keep_thr
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))
          ::BIGINT
      < least(n_chars, {SAMPLE_W_CAP}) * {SAMPLE_W_SCALE} // {SAMPLE_W_CAP}
"""


QUERIES: dict[str, Query] = {
    "scan_parquet": Query(scan_parquet, SCAN_SQL, "full lineitem scan"),
    "scan_merge_schema": Query(
        scan_merge_schema, MERGE_SCHEMA_SQL,
        "declared-schema evolution over drifted multi-file scan",
        eager="state",
    ),
    "scan_pydatasource": Query(
        scan_pydatasource, SCAN_PYDS_SQL,
        "custom Python Data Source scan (partition-planned parallel read)",
    ),
    "project_rename": Query(project_rename, PROJECT_SQL, "select+alias+compute"),
    "filter_pred": Query(filter_pred, FILTER_SQL, "conjunctive pushdown filters"),
    "filter_null": Query(filter_null, FILTER_NULL_SQL, "null-safe predicates"),
    "dedup_exact": Query(dedup_exact, DEDUP_SQL, "keep-earliest exact dedup"),
    "scan_csv": Query(scan_csv, SCAN_CSV_SQL, "CSV source roundtrip",
                      eager="state"),
    "scan_json": Query(scan_json, SCAN_JSON_SQL, "JSON-lines source roundtrip",
                       eager="state"),
    "subquery_scalar": Query(subquery_scalar, SUBQ_SCALAR_SQL,
                             "correlated scalar subquery (decorrelated)"),
    "subquery_in": Query(subquery_in, SUBQ_IN_SQL, "IN-subquery → semi join"),
    "sample_hash": Query(sample_hash, SAMPLE_HASH_SQL,
                         "deterministic content-hash sampling"),
    "scan_orc": Query(scan_orc, SCAN_ORC_SQL, "ORC source roundtrip",
                      eager="state"),
    "sample_stratified": Query(
        sample_stratified, SAMPLE_STRATIFIED_SQL,
        "per-stratum deterministic hash sampling (corpus rebalancing)",
    ),
    "scan_binaryfile": Query(
        scan_binaryfile, SCAN_BINARYFILE_SQL, "binaryFile payload ingestion",
        eager="state",
    ),
    "scan_text": Query(scan_text, SCAN_TEXT_SQL,
                       "text-line source roundtrip", eager="state"),
    "scan_xml": Query(scan_xml, SCAN_XML_SQL,
                      "XML source roundtrip (Spark 4 native)", eager="state"),
    "scan_jdbc": Query(
        scan_jdbc, SCAN_JDBC_SQL,
        "JDBC sink+source round-trip (embedded Derby, range-partitioned read)",
        eager="state",
    ),
    "scan_atomic_table": Query(
        scan_atomic_table, SCAN_ATOMIC_TABLE_SQL,
        "manifest-pointer snapshot table: commit/crash/refresh/vacuum/read",
        eager="state",
    ),
    "sample_weighted": Query(
        sample_weighted, SAMPLE_WEIGHTED_SQL,
        "length-weighted deterministic Bernoulli sample (integer coin)",
    ),
}
