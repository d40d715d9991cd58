"""Join operators (key prefix ``join_``): inner/broadcast/multiway/left/
semi/anti/range/as-of, plus skew (salted), bucketed, dynamic-partition-
pruning, interval-overlap and lateral joins.

The reference performs no joins (SURVEY.md §2A, "explicitly absent") — it
delegates everything to Spark inside Glue (reference:
src/glue_scripts/bronze_to_silver.py:12 imports pyspark.sql.functions but
never uses them). These queries expose the join surface natively.

Scale notes (100 TB):
- Dimension tables (region/nation/part at this ratio) are broadcast —
  ``F.broadcast`` hints or AQE's size estimate keep the fact table
  shuffle-free.
- Fact⋈fact joins shuffle on the key; AQE skew-join splits hot keys.
- The range join uses the bucketed-equi-join rewrite so it scales as an
  equi join instead of a nested-loop cross product.
- The as-of join is the union+window composition (one shuffle, linear) —
  see operators/asof.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from . import Query
from ._util import (
    SCRATCH,
    SQL_REVENUE_DEC,
    dsum,
    fresh_dir,
    revenue_dec,
    spread,
    sql_dsum,
    t,
)


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")


JOIN_INNER_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim broadcast join: part (200 rows/sf0.001) broadcast to every
    lineitem partition — no shuffle of the fact table at any scale where
    part fits the broadcast threshold."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.round(F.sum(revenue_dec()), 2).cast("double").alias("revenue"),
        )
    )


JOIN_BROADCAST_SQL = f"""
SELECT p_brand,
       COUNT(*) AS line_count,
       CAST(ROUND(SUM({SQL_REVENUE_DEC}), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: lineitem⋈orders⋈customer⋈nation⋈region, revenue per
    nation for one region + date range. Catalyst broadcast-joins the
    dimension chain and shuffles only on the fact keys; AQE reorders if
    stats warrant."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue_dec()), 2).cast("double").alias("revenue"))
    )


JOIN_MULTIWAY_SQL = f"""
SELECT n_name,
       CAST(ROUND(SUM({SQL_REVENUE_DEC}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("p_orderkey"),
            F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("totalprice_filled"),
        )
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, c_name,
       o_orderkey AS p_orderkey,
       COALESCE(o_totalprice, 0.0) AS totalprice_filled
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
  ON c_custkey = o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one urgent order (left semi — dedup-free
    existence check; no row multiplication, so cheaper than inner+distinct)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent order (left anti ≡ NOT EXISTS)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


RANGE_BAND = 5.0


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: purchase events matched to error events whose value
    lies in ``[purchase.value - 5, purchase.value]``.

    Naively this is a nested-loop cross product (O(n·m) at 100 TB —
    unusable). Rewritten as the standard **bucketed range join**: bucket
    both sides by ``floor(value / band)``; a match's buckets can differ by
    at most 1, so explode the left side to buckets {b, b+1} and equi-join
    on the bucket, then apply the residual band predicate. Cost becomes an
    equi shuffle join with ~2× left duplication. DuckDB's IEJoin oracle
    checks the same semantics declaratively.
    """
    # finite values only: a non-finite value has no band bucket (ANSI
    # floor of ±Inf overflows LONG loudly, NaN fabricates bucket 0) and
    # can never satisfy the BETWEEN residual — the oracle mirrors with
    # isfinite(value) in both side filters.
    ev = t(spark, sf_dir, "events").filter(
        ~F.isnan("value") & (F.abs("value") != float("inf"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    # The planner builds (broadcasts) the exploded purchase side, so the
    # error side is the probe that GENERATES every output row — spread it
    # (scale-adaptive, no-op on multi-row-group inputs) so match
    # generation isn't serialized on the fixture's single scan task.
    errors = spread(
        ev.filter(F.col("event_type") == "error"), sf_dir, "events"
    ).select(
        F.col("event_id").alias("error_id"),
        F.col("value").alias("error_value"),
        F.floor(F.col("value") / RANGE_BAND).alias("bucket"),
    )
    p_bucketed = purchases.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("purchase_value") / RANGE_BAND),
                F.floor(F.col("purchase_value") / RANGE_BAND) - 1,
            )
        ),
    )
    return (
        p_bucketed.join(errors, "bucket")
        .filter(
            F.col("error_value").between(
                F.col("purchase_value") - RANGE_BAND, F.col("purchase_value")
            )
        )
        .select("purchase_id", "error_id", "purchase_value", "error_value")
    )


JOIN_RANGE_SQL = f"""
SELECT p.event_id AS purchase_id,
       e.event_id AS error_id,
       p.value AS purchase_value,
       e.value AS error_value
FROM (SELECT * FROM events WHERE event_type = 'purchase' AND value IS NOT NULL AND isfinite(value)) p
JOIN (SELECT * FROM events WHERE event_type = 'error' AND value IS NOT NULL AND isfinite(value)) e
  ON e.value BETWEEN p.value - {RANGE_BAND} AND p.value
"""


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event matched to the latest at-or-earlier purchase
    by the same user. The right side is pre-deduped to one row per
    (user, ts) so tie-breaking is engine-independent. DuckDB oracle uses its
    native ASOF JOIN."""
    ev = t(spark, sf_dir, "events")
    # ts IS NOT NULL on the right side: a purchase with no timestamp can
    # never be "the latest at-or-earlier" (null-ts drift axis, round 9)
    purchases = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join(
        left=ev.select("event_id", "user_id", "ts"),
        right=purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["purchase_id"],
        prefix="matched_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "matched_purchase_id",
    )


JOIN_ASOF_SQL = """
SELECT e.event_id, e.user_id,
       strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       -- a left row with no event time has no as-of position: DuckDB's
       -- ASOF sorts the NULL probe last and would hand it the user's
       -- LATEST purchase; the engine contract is NULL (round 9)
       CASE WHEN e.ts IS NOT NULL THEN p.purchase_id
            END AS matched_purchase_id
FROM events e
ASOF LEFT JOIN (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           MAX(event_id) AS purchase_id
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    GROUP BY user_id, CAST(ts AS TIMESTAMP)
) p ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) >= p.ts
"""


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness tolerance: a match older than 30
    minutes is treated as no match — the variant feature-store lookups
    and sensor alignment actually need (a reading from last week is not
    a valid "latest value"). Same one-shuffle union+window plan as
    join_asof; the tolerance is a post-match filter, not a plan change.
    Comparison is at microsecond precision (unix_micros) to match the
    oracle's full-resolution timestamp arithmetic."""
    ev = t(spark, sf_dir, "events")
    purchases = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
        .withColumn("pts", F.col("ts"))
    )
    out = asof_join(
        left=ev.select("event_id", "user_id", "ts"),
        right=purchases.select("user_id", "ts", "purchase_id", "pts"),
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["purchase_id", "pts"],
        prefix="m_",
    )
    fresh = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("m_pts"))
    ) <= 30 * 60 * 1_000_000
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.when(fresh, F.col("m_purchase_id")).alias("matched_purchase_id"),
    )


JOIN_ASOF_TOLERANCE_SQL = """
SELECT e.event_id, e.user_id,
       strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       CASE WHEN CAST(e.ts AS TIMESTAMP) - p.ts <= INTERVAL 30 MINUTE
            THEN p.purchase_id END AS matched_purchase_id
FROM events e
ASOF LEFT JOIN (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           MAX(event_id) AS purchase_id
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    GROUP BY user_id, CAST(ts AS TIMESTAMP)
) p ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) >= p.ts
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the reconciliation shape (two systems' views of
    the same key space, keep every key from BOTH sides): customers with
    open-status order aggregates, where customers without such orders
    AND order keys without a customer row (none in a consistent fixture,
    but the shape must preserve them) both survive with NULL fill.

    Scale: aggregate-before-join (per-customer order partials first), so
    the outer join runs on two key-sized relations, not fact rows; one
    shuffle family on the key. Spark plans SortMergeJoin FullOuter —
    broadcast cannot implement full-outer semantics on the build side.
    """
    customer = t(spark, sf_dir, "customer")
    open_orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("open_orders"),
            dsum("o_totalprice").alias("open_total"),
        )
    )
    return (
        customer.join(
            open_orders, customer.c_custkey == open_orders.o_custkey, "full"
        )
        .select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("cust"),
            F.col("c_name"),
            F.coalesce(F.col("open_orders"), F.lit(0)).alias("open_orders"),
            F.coalesce(F.col("open_total"), F.lit(0.0)).alias("open_total"),
        )
    )


JOIN_FULL_OUTER_SQL = f"""
SELECT COALESCE(c_custkey, o_custkey) AS cust,
       c_name,
       COALESCE(open_orders, 0) AS open_orders,
       COALESCE(open_total, 0.0) AS open_total
FROM customer
FULL OUTER JOIN (
    SELECT o_custkey,
           COUNT(*) AS open_orders,
           {sql_dsum('o_totalprice')} AS open_total
    FROM orders WHERE o_orderstatus = 'P'
    GROUP BY o_custkey
) o ON c_custkey = o_custkey
"""


def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-spread shuffle join (operators/skew.py): semantically identical
    to the plain join the oracle runs — salting only changes the physical
    key distribution."""
    from ..operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(
        li, orders, key="l_orderkey", salt_from="l_linenumber", num_salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("line_count"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_price"),
    )


JOIN_SALTED_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS line_count,
       CAST(ROUND(SUM(CAST(CASE WHEN l_extendedprice - (l_extendedprice) = 0 THEN l_extendedprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides pre-bucketed on the key, the
    join plan has no Exchange (asserted in tests/test_plans.py) — the
    recurring-join scale play."""
    from ..operators.skew import bucketed_join, write_bucketed

    base = fresh_dir(os.path.join(SCRATCH, "bucketed"))
    write_bucketed(
        t(spark, sf_dir, "orders"), "orders_b", "o_custkey", 8,
        os.path.join(base, "orders_b"),
    )
    write_bucketed(
        t(spark, sf_dir, "customer"), "customer_b", "c_custkey", 8,
        os.path.join(base, "customer_b"),
    )
    joined = bucketed_join(spark, "orders_b", "customer_b", "o_custkey", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("order_count"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_price"),
    )


JOIN_BUCKETED_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS order_count,
       CAST(ROUND(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a partitioned fact table joined to a
    dimension whose selective filter is only knowable at RUNTIME (the
    category is computed on dim rows, so no static predicate exists on
    the fact's partition column) — Catalyst injects a
    ``dynamicpruningexpression`` into the fact scan's PartitionFilters,
    reusing the broadcast dim as the filter. THE mechanism that makes a
    dim-filtered fact query read 2 of N partitions instead of 100 TB;
    tests/test_plans.py asserts the pruning subquery is really in the
    scan. The stage-out writes events partitioned by event_type to give
    the scan real partition directories to prune."""
    ev = t(spark, sf_dir, "events")
    base = fresh_dir(os.path.join(SCRATCH, "join_dpp"))
    ev.write.partitionBy("event_type").parquet(base, mode="overwrite")
    # schema-pinned read-back: an empty corpus stages no partition dirs
    # and must read as an empty fact table, not a schema-inference error
    fact = spark.read.schema(ev.schema).parquet(base)

    dim = (
        ev.select("event_type").distinct()
        .withColumn(
            "category",
            F.when(
                F.col("event_type").isin("purchase", "click"), "engagement"
            ).otherwise("passive"),
        )
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("category") == "engagement")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dsum("value").alias("sum_value"),
        )
    )


JOIN_DPP_SQL = """
SELECT event_type,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY event_type
"""


# Interval-overlap bin width (days). Chosen at the scale of the interval
# lengths (7/14 days) so each interval covers <= ~4 bins — the explode
# fan-out stays O(1) per row while bins keep join buckets small.
BIN_DAYS = 7

EPOCH = "1970-01-01"


def _day(col: F.Column) -> F.Column:
    return F.datediff(col, F.lit(EPOCH).cast("date"))


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: order activity windows [o_orderdate,
    +14d] × shipment windows [l_shipdate, +7d], emitting each
    overlapping pair once with its overlap length.

    Scale shape — the standard bin-bucketed formulation (used by
    genomic range joins and temporal databases): each interval explodes
    into the fixed-width bins it covers (O(1) per row at this width), the
    join runs as an EQUI-join on the bin, and a pair is emitted only in
    the bin that contains the overlap start — exact dedup without a
    DISTINCT shuffle. A naive theta-join (start <= end AND ...) is a
    broadcast-nested-loop over the whole fact table and is the plan this
    formulation exists to avoid; the oracle states exactly that
    theta-join declaratively."""
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            _day(F.to_date("o_orderdate")).alias("a_start"),
            (_day(F.to_date("o_orderdate")) + 14).alias("a_end"),
        )
    )
    ship = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 11 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            _day(F.to_date("l_shipdate")).alias("b_start"),
            (_day(F.to_date("l_shipdate")) + 7).alias("b_end"),
        )
    )
    a = orders.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("a_start") / BIN_DAYS),
                F.floor(F.col("a_end") / BIN_DAYS),
            )
        ),
    )
    b = ship.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("b_start") / BIN_DAYS),
                F.floor(F.col("b_end") / BIN_DAYS),
            )
        ),
    )
    ov_start = F.greatest("a_start", "b_start")
    ov_end = F.least("a_end", "b_end")
    return (
        a.join(b, "bin")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            # emit only in the overlap-start bin => exactly-once without
            # a distinct
            & (F.col("bin") == F.floor(ov_start / BIN_DAYS))
        )
        .select(
            "o_orderkey",
            "l_orderkey",
            "l_linenumber",
            (ov_end - ov_start + 1).cast("int").alias("overlap_days"),
        )
    )


JOIN_INTERVAL_OVERLAP_SQL = """
WITH a AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS a_start,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 14
             AS a_end
  FROM orders WHERE o_orderkey % 13 = 0
), b AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
             AS b_start,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) + 7
             AS b_end
  FROM lineitem WHERE l_partkey % 11 = 0
)
SELECT a.o_orderkey, b.l_orderkey, b.l_linenumber,
       CAST(least(a_end, b_end) - greatest(a_start, b_start) + 1 AS INT)
           AS overlap_days
FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end
"""


# --------------------------------------------------------- join_lateral

LATERAL_TOP_K = 2


def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: for every nation, the top-2
    customers by account balance (name tie-break) — the per-row
    parameterized-subquery operator (LATERAL / CROSS APPLY in warehouse
    dialects). Expressed as actual SQL LATERAL, NOT hand-rewritten to a
    window: the point of the key is that Catalyst DECORRELATES the
    per-nation ORDER BY ... LIMIT into a WindowGroupLimit (partial+final
    per-group top-k, no global sort) feeding one broadcast hash join —
    a nested-loop re-execution per outer row appears nowhere
    (tests/test_plans.py pins the plan). That decorrelation is exactly
    what makes the operator 100 TB-viable: cost is one shuffle of the
    inner side by the correlation key, independent of outer-row count."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT {LATERAL_TOP_K}
        ) c
        """
    )


JOIN_LATERAL_SQL = f"""
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT {LATERAL_TOP_K}
) c
"""


QUERIES: dict[str, Query] = {
    "join_inner": Query(join_inner, JOIN_INNER_SQL, "equi inner join"),
    "join_broadcast": Query(join_broadcast, JOIN_BROADCAST_SQL, "broadcast dim join"),
    "join_multiway": Query(join_multiway, JOIN_MULTIWAY_SQL, "TPC-H Q5 shape"),
    "join_left": Query(join_left, JOIN_LEFT_SQL, "left outer with nulls"),
    "join_full_outer": Query(
        join_full_outer, JOIN_FULL_OUTER_SQL,
        "full outer reconciliation join (aggregate-before-join)"),
    "join_semi": Query(join_semi, JOIN_SEMI_SQL, "left semi / EXISTS"),
    "join_anti": Query(join_anti, JOIN_ANTI_SQL, "left anti / NOT EXISTS"),
    "join_range": Query(join_range, JOIN_RANGE_SQL, "bucketed range join"),
    "join_asof": Query(join_asof, JOIN_ASOF_SQL, "as-of join (union+window)"),
    "join_asof_tolerance": Query(
        join_asof_tolerance, JOIN_ASOF_TOLERANCE_SQL,
        "as-of join with 30-min max-staleness tolerance"),
    "join_salted": Query(join_salted, JOIN_SALTED_SQL,
                         "salt-spread skew join"),
    "join_bucketed": Query(join_bucketed, JOIN_BUCKETED_SQL,
                           "bucketed shuffle-free join", eager="state"),
    "join_dpp": Query(
        join_dpp, JOIN_DPP_SQL,
        "runtime partition pruning via broadcast dim reuse",
        eager="state",
    ),
    "join_interval_overlap": Query(
        join_interval_overlap, JOIN_INTERVAL_OVERLAP_SQL,
        "bin-bucketed interval-overlap join, exactly-once per pair"),
    "join_lateral": Query(
        join_lateral, JOIN_LATERAL_SQL,
        "correlated LATERAL top-k subquery (decorrelated, no nested loop)",
    ),
}
