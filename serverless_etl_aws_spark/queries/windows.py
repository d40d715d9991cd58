"""Window-function operators (key prefixes ``win_``, ``topk_``): ranking,
lag/lead, row/range/time frames, running totals, top-k per group, and the
window analytics built on them (rolling medians, drawdowns, streaks,
retention triangles, Pareto shares).

Scale notes (100 TB): a window = one shuffle on ``partitionBy`` keys + an
in-partition sort. Partition keys here (customer, brand) are high-
cardinality, so partitions stay small and spill-free. Every ``orderBy``
includes a unique tiebreak column — without it rank/lag results are
nondeterministic across engines AND across Spark runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fquant, t
# Same oracle as the streaming key — that equality IS the point.
from .streaming_ops import STREAM_SESSION_SQL as WIN_SESSIONIZE_SQL


def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer with row_number/rank/dense_rank."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


WIN_RANK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
"""


def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    # asc_nulls_last: Spark's plain asc puts NULLs FIRST while DuckDB
    # puts them LAST — a null-injected o_orderdate would shift every
    # neighbor. Pinned on both sides (oracle says NULLS LAST).
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )


WIN_LAG_LEAD_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST)
"""


def win_frame_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving sum over a 3-row frame (decimal-exact, see _util)."""
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey"))
        .rowsBetween(-2, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias(
            "moving_sum_3"
        ),
    )


WIN_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
           AS moving_sum_3
FROM orders
"""


def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) spend per customer."""
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias(
            "running_spend"
        ),
    )


WIN_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
           AS running_spend
FROM orders
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue per brand: aggregate first (shrinks input to
    one row per part), then a window over the much smaller aggregate —
    the scale-correct order of operations."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("rev_dec"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("rev_dec").desc(), F.col("p_partkey")
    )
    return (
        per_part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            F.round(F.col("rev_dec"), 2).cast("double").alias("part_revenue"),
            F.col("rn").alias("brand_rank"),
        )
    )


TOPK_SQL = """
SELECT p_brand, p_partkey,
       CAST(ROUND(rev_dec, 2) AS DOUBLE) AS part_revenue,
       rn AS brand_rank
FROM (
    SELECT p_brand, p_partkey, rev_dec,
           row_number() OVER (PARTITION BY p_brand
                              ORDER BY rev_dec DESC, p_partkey) AS rn
    FROM (
        SELECT p_brand, p_partkey,
               SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))) AS rev_dec
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
    )
) WHERE rn <= 3
"""


def win_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + first_value/last_value with an explicit full frame
    (last_value over the default frame is a famous wrong-answer trap —
    the frame ends at CURRENT ROW; both engines agree once it's explicit)."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.first_value(F.col("o_totalprice")).over(w_full).alias("max_price"),
        F.last_value(F.col("o_totalprice")).over(w_full).alias("min_price"),
    )


WIN_NTILE_SQL = """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS price_quartile,
       first_value(o_totalprice) OVER w_full AS max_price,
       last_value(o_totalprice) OVER w_full AS min_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
       w_full AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


WIN_FRAME_RANGE_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice
           RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
           AS near_spend
FROM orders
"""


def win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): sum of each customer's
    orders within 50k below the current price. Set-valued per peer group,
    so it is deterministic under ties — unlike a ROWS frame ordered on a
    non-unique key."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(WIN_FRAME_RANGE_SQL)


def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution windows: percent_rank + cume_dist per order
    priority over price. Both are ratios of two ints (one double division
    each) so they're bit-identical across engines; floor-quantized anyway
    per the float discipline."""
    o = t(spark, sf_dir, "orders")
    # asc_nulls_last: Spark's asc default is NULLS FIRST, DuckDB's is
    # NULLS LAST — a fixture regenerated with NULL prices would shift
    # every rank in one engine only (caught by the round-4 null-injected
    # parity sweep).
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        fquant(F.percent_rank().over(w), 6).alias("price_pr"),
        fquant(F.cume_dist().over(w), 6).alias("price_cd"),
    )


WIN_PERCENT_RANK_SQL = """
SELECT o_orderkey, o_orderpriority,
       floor(PERCENT_RANK() OVER
                 (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             * 1000000.0) / 1000000.0 AS price_pr,
       floor(CUME_DIST() OVER
                 (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             * 1000000.0) / 1000000.0 AS price_cd
FROM orders
"""


# ------------------------------------------------- batch sessionization


def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gaps-and-islands window composition
    (lag → boundary flag → running sum → group), produced to EXACTLY the
    same output contract as the streaming ``stream_session`` key and
    checked against the SAME oracle SQL: explicit proof the engine's batch
    and streaming session semantics agree (Spark session_window's
    end = last event + gap).

    Scale: two window passes and one aggregate, all partitioned by
    ``user_id`` — one shuffle total (the window partitions carry through
    to the groupBy under AQE)."""
    from pyspark.sql.window import Window

    # ts IS NOT NULL: a row with no timestamp belongs to no session
    # (round 9; shared with stream_session's oracle)
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_min = 30
    # Compare gaps at MICROSECOND precision: the oracle's
    # `> INTERVAL 30 minutes` is exact on timestamp(us) values, while
    # `ts.cast('long')` truncates to whole seconds — a true gap in
    # (1800s, 1801s) would truncate to exactly 1800 and split sessions
    # differently from the oracle on unlucky fixture data.
    gap_us = gap_min * 60 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        (
            F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
            > gap_us
        ).cast("int"),
    ).withColumn(
        "new_session",
        F.coalesce(F.col("new_session"), F.lit(1)),
    )
    sid = flagged.withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sid.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .select(
            F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(
                F.col("end_ts") + F.expr(f"INTERVAL {gap_min} MINUTES"),
                "yyyy-MM-dd HH:mm:ss.SSSSSS",
            ).alias("session_end"),
            "user_id",
            "event_count",
        )
    )


# ---------------------------------------------------------------------------
# win_cume_dist — cumulative distribution + nth_value
# ---------------------------------------------------------------------------

def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + nth_value over a totally-ordered window (the ordering
    includes the key so ties cannot make nth_value nondeterministic).
    cume_dist is a ratio of two counts — an exact integer division in
    double, identical across engines. One shuffle on the partition key."""
    orders = t(spark, sf_dir, "orders")
    # asc_nulls_last pins Spark to DuckDB's default null ordering — the
    # fixture has no null o_totalprice today, but fixtures regenerate
    # between rounds and a silent NULLS FIRST/LAST flip would reorder
    # every cume_dist value.
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), F.asc_nulls_last("o_orderkey")
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.cume_dist().over(w).alias("cd"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_lowest"),
        )
        .filter(F.col("cd") <= 0.01)
    )


WIN_CUME_DIST_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice, cd, second_lowest
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         cume_dist() OVER w AS cd,
         nth_value(o_totalprice, 2) OVER w AS second_lowest
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey)
)
WHERE cd <= 0.01
"""


# ---------------------------------------------------- win_frame_range_time

def win_frame_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame: per order priority, the exact
    decimal sum and count of orders whose o_orderdate falls in the
    trailing 7 days of each row — value-based time frames, not row
    counts (peers with the same date share one frame in both engines).

    Declared in SQL because the DataFrame API's rangeBetween is numeric-
    only; Spark SQL and DuckDB both speak RANGE BETWEEN INTERVAL."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_wfrt")
    return spark.sql("""
        SELECT o_orderkey, o_orderpriority,
               CAST(o_orderdate AS DATE) AS od,
               CAST(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))) OVER w
                    AS DOUBLE) AS trailing_sum,
               CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n
        FROM orders_wfrt
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(o_orderdate AS DATE)
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                           AND CURRENT ROW)
    """).withColumn("od", F.date_format("od", "yyyy-MM-dd"))


WIN_FRAME_RANGE_TIME_SQL = """
SELECT o_orderkey, o_orderpriority,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od,
       CAST(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))) OVER w AS DOUBLE)
           AS trailing_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY CAST(o_orderdate AS DATE)
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------------- win_ignore_nulls

def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation — the gap-fill surface (sensor
    dropouts, sparse CDC images): per series, carry the last known value
    forward, the next known value backward, and the strictly-next
    non-null observation. The drift sweep null-injects events.value, so
    this key's cross-engine parity is exercised with real gaps, not just
    dense data.

    Spark expresses all three with frame-bounded first/last(ignorenulls)
    — lead-with-IGNORE-NULLS is exactly FIRST_VALUE(ignore nulls) over
    (1 FOLLOWING → ∞), which both engines implement. One shuffle on the
    series key; each fill is a linear in-partition pass."""
    # ts IS NOT NULL: no timestamp = no series position (round 9) —
    # the null-VALUE gaps are the point of this key; null-TS rows are
    # off the axis entirely
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order = (F.col("ts").asc(), F.col("event_id").asc())
    base = Window.partitionBy("user_id").orderBy(*order)
    w_ff = base.rowsBetween(Window.unboundedPreceding, 0)
    w_bf = base.rowsBetween(0, Window.unboundedFollowing)
    w_nn = base.rowsBetween(1, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
        F.last("value", ignorenulls=True).over(w_ff).alias("fill_fwd"),
        F.first("value", ignorenulls=True).over(w_bf).alias("fill_bwd"),
        F.first("value", ignorenulls=True).over(w_nn).alias("next_nn"),
    )


WIN_IGNORE_NULLS_SQL = """
SELECT event_id, user_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
       value,
       LAST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_fwd,
       FIRST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fill_bwd,
       FIRST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_nn
FROM events WHERE ts IS NOT NULL
"""


# ------------------------------------------------------------ win_streak


def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-ACTIVE-DAY streak per user — the
    gaps-and-islands composition over the calendar axis (sessionize
    groups by intra-day time gaps; this groups by day adjacency, the
    retention/engagement metric). One distinct-days aggregate, one
    ordinal window (day_number − row_number = island id), one island
    aggregate, one top-1 per user — two shuffles total, all partitioned
    by user_id. Ties on length resolve to the earliest streak."""
    ev = t(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id", F.to_date("ts").alias("day")
        )
        .distinct()
        .withColumn("ord", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    w = Window.partitionBy("user_id").orderBy("ord")
    islands = days.withColumn(
        "island", F.col("ord") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("streak_days"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
    )
    top = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


WIN_STREAK_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), isl AS (
    SELECT user_id, day,
           datediff('day', DATE '1970-01-01', day)
             - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
             AS island
    FROM days
), streaks AS (
    SELECT user_id, island,
           CAST(COUNT(*) AS BIGINT) AS streak_days,
           strftime(MIN(day), '%Y-%m-%d') AS streak_start
    FROM isl GROUP BY user_id, island
)
SELECT user_id, streak_days, streak_start
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY streak_days DESC, streak_start)
              AS rn
    FROM streaks
)
WHERE rn = 1
"""


# ----------------------------------------------------- win_rolling_median

#: Trailing frame width (rows). The median is the LOWER median — the
#: element at rank ceil(n/2) of the sorted frame — a PICKED input value,
#: never an interpolation: engines interpolate even-count medians with
#: different IEEE expressions (a+(b-a)/2 vs (a+b)/2), which drifts;
#: picking cannot.
ROLLMED_FRAME = 25


def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN of ``value`` per event type over the trailing
    ``ROLLMED_FRAME`` events — the robust twin of ``ts_rolling_zscore``:
    a mean/stddev baseline chases the spikes it is supposed to flag,
    the windowed median does not. No built-in Spark window median
    exists; the engine collects the bounded frame, sorts it, and picks
    the lower-median element — O(frame log frame) per row with frame a
    compile-time constant, so the cost is linear in rows and the only
    shuffle is the window partition itself.

    (ts, event_id) ordering pins tie rows; null values are filtered up
    front so frame contents are identical across engines."""
    # ts IS NOT NULL: a row with no timestamp has no position on the
    # series axis (null-ts drift axis, round 9; Spark orders NULLS
    # FIRST, DuckDB NULLS LAST — excluded rather than pinned, since a
    # timeless row inside a trailing frame is meaningless)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(ROLLMED_FRAME - 1), 0)
    )
    frame = F.sort_array(F.collect_list("value").over(w))
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.element_at(
            frame, ((F.size(frame) + 1) / 2).cast("int")
        ).alias("rolling_med"),
    )


WIN_ROLLING_MEDIAN_SQL = f"""
SELECT event_id, event_type, value,
       l[(len(l) + 1) // 2] AS rolling_med
FROM (
    SELECT event_id, event_type, value,
           list_sort(list(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {ROLLMED_FRAME - 1} PRECEDING AND CURRENT ROW
           )) AS l
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
)
"""


# ----------------------------------------------------------- win_drawdown

def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum peak-to-current drawdown per user over the (ts, event_id)
    ordered ``value`` series: ``dd_t = max_{j<=t} v_j - v_t``, reported
    at the row where it is largest (earliest such row on ties — the
    argmax is a row_number pick, not an engine-dependent ``max_by``).
    All path arithmetic is exact decimal: running max, subtraction, and
    the tie-break comparisons never touch a float; the two output
    doubles go through the exact scaled-BIGINT rendering (a direct
    decimal cast drifts by 1 ulp between engines — see ts_cusum).

    Scale: ONE shuffle on user_id; the running max and the argmax
    row_number are two Window passes over the same partitioning (the
    second adds an in-partition sort, never an exchange — plan-tested),
    O(1) state per row.

    The peak-to-current monitoring statistic (how far a metric has fallen
    from its running peak) — same window-parallel family as ``ts_cusum``'s
    drawdown identity, here applied to the raw level series with a
    deterministic argmax pick."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    path = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    staged = ev.select(
        "user_id",
        "event_id",
        "ts",
        dec("value").alias("v"),
        F.max(dec("value")).over(
            path.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("peak"),
    ).withColumn("dd", F.col("peak") - F.col("v"))
    pick = Window.partitionBy("user_id").orderBy(
        F.col("dd").desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        staged.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            ((F.col("dd") * 10000).cast("long").cast("double") / 10000.0)
            .alias("max_drawdown"),
            ((F.col("peak") * 10000).cast("long").cast("double") / 10000.0)
            .alias("peak_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("at_ts"),
        )
    )


WIN_DRAWDOWN_SQL = """
WITH path AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
           CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) AS v,
           MAX(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS peak
    FROM events WHERE value IS NOT NULL
), dd AS (
    SELECT user_id, tsx, peak, peak - v AS dd,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY peak - v DESC, tsx, event_id) AS rn
    FROM path
)
SELECT user_id,
       CAST(CAST(dd * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           AS max_drawdown,
       CAST(CAST(peak * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           AS peak_value,
       strftime(tsx, '%Y-%m-%d %H:%M:%S') AS at_ts
FROM dd WHERE rn = 1
"""


# ------------------------------------------------------------ win_pareto

#: Coverage target: the top-k crossing is decided by the EXACT decimal
#: comparison 5*cum >= 4*total  (= cum/total >= 0.8, float-free).
PARETO_NUM = 4
PARETO_DEN = 5


def win_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per event type: the minimal number of
    top-value events covering >= 80% of the type's total value — the
    "how top-heavy is this metric" diagnostic (classic 80/20 check).
    Events are ranked by (value desc, event_id) and the 80% crossing is
    decided by the exact decimal predicate ``5·cum >= 4·total`` — no
    float participates in the decision, so the reported k is a
    contract. The covered share is then rendered through the exact
    scaled-BIGINT division.

    Scale: one shuffle on event_type; running sum, rank and the
    partition total are three window expressions over the same
    partitioning; the crossing pick is ``min_by`` over the flagged
    rows (rank is unique per type, so the pick is unambiguous)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    part = Window.partitionBy("event_type")
    ordw = part.orderBy(F.col("value").desc(), F.col("event_id").asc())
    run = ordw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = ev.select(
        "event_type",
        F.row_number().over(ordw).alias("rk"),
        F.sum(dec("value")).over(run).alias("cum"),
        F.sum(dec("value")).over(part).alias("total"),
        F.count(F.lit(1)).over(part).alias("n"),
    ).filter(
        F.col("cum") * PARETO_DEN >= F.col("total") * PARETO_NUM
    )
    covered = F.min_by("cum", "rk")
    return staged.groupBy("event_type").agg(
        F.min("rk").cast("long").alias("k_events"),
        F.max("n").cast("long").alias("n_events"),
        fquant(
            F.min("rk").cast("double") / F.max("n").cast("double"), 6
        ).alias("top_frac"),
        fquant(
            (covered * 10000).cast("long").cast("double")
            / (F.max("total") * 10000).cast("long").cast("double"),
            6,
        ).alias("covered_share"),
    )


WIN_PARETO_SQL = f"""
WITH staged AS (
    SELECT event_type,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS rk,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) OVER (
               PARTITION BY event_type
               ORDER BY value DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)))
               OVER (PARTITION BY event_type) AS total,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
), flagged AS (
    SELECT * FROM staged WHERE cum * {PARETO_DEN} >= total * {PARETO_NUM}
)
SELECT event_type,
       CAST(MIN(rk) AS BIGINT) AS k_events,
       CAST(MAX(n) AS BIGINT) AS n_events,
       floor(CAST(MIN(rk) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS top_frac,
       floor(CAST(CAST(arg_min(cum, rk) * 10000 AS BIGINT) AS DOUBLE)
             / CAST(CAST(MAX(total) * 10000 AS BIGINT) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS covered_share
FROM flagged
GROUP BY event_type
"""


# ---------------------------------------------------------- win_retention


def win_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users are cohorted by their first
    active day; each (cohort_day, day_offset) cell counts the cohort
    members active ``offset`` days after joining, plus the retention
    share against the cohort's own size (offset 0 is the cohort size by
    construction — every user is active on their first day).

    Scale: the corpus collapses to the (user, day) distinct relation
    first (one shuffle, map-side combinable); the cohort window and the
    cell aggregation run over that relation — users × active-days, NOT
    events — and the final share is a window over the cells relation
    (cohorts × horizon rows). The retention horizon bounds per-user
    state, so no operator ever holds unbounded history."""
    ev = t(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    cohorted = user_days.withColumn(
        "cohort", F.min("d").over(Window.partitionBy("user_id"))
    )
    cells = cohorted.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("d", "cohort").cast("int").alias("day_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    # cohort_size rides in as a window over the cells relation — a join
    # back to an offset-0 aggregate would re-shuffle; the window reuses
    # the cells' cohort_day partitioning
    size = F.max(
        F.when(F.col("day_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cohort_day"))
    return cells.select(
        "cohort_day",
        "day_offset",
        "n_active",
        size.cast("long").alias("cohort_size"),
        fquant(
            F.col("n_active").cast("double") / size.cast("double"), 6
        ).alias("retention"),
    )


WIN_RETENTION_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), cohorted AS (
    SELECT d, MIN(d) OVER (PARTITION BY user_id) AS cohort FROM ud
), cells AS (
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', cohort, d) AS INT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM cohorted GROUP BY 1, 2
)
SELECT cohort_day, day_offset, n_active,
       CAST(MAX(CASE WHEN day_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_day) AS BIGINT) AS cohort_size,
       floor(CAST(n_active AS DOUBLE)
             / CAST(MAX(CASE WHEN day_offset = 0 THEN n_active END)
                    OVER (PARTITION BY cohort_day) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS retention
FROM cells
"""


QUERIES: dict[str, Query] = {
    "win_rank": Query(win_rank, WIN_RANK_SQL, "row_number/rank/dense_rank"),
    "win_lag_lead": Query(win_lag_lead, WIN_LAG_LEAD_SQL, "lag/lead"),
    "win_frame_rows": Query(win_frame_rows, WIN_FRAME_SQL, "3-row moving sum"),
    "win_running": Query(win_running, WIN_RUNNING_SQL, "cumulative sum"),
    "topk_per_group": Query(topk_per_group, TOPK_SQL, "top-3 per brand"),
    "win_ntile_first_last": Query(win_ntile_first_last, WIN_NTILE_SQL,
                                  "ntile + explicit-frame first/last"),
    "win_frame_range": Query(win_frame_range, WIN_FRAME_RANGE_SQL,
                             "value-based RANGE frame"),
    "win_percent_rank": Query(win_percent_rank, WIN_PERCENT_RANK_SQL,
                              "percent_rank / cume_dist"),
    "win_sessionize": Query(
        win_sessionize, WIN_SESSIONIZE_SQL,
        "batch gaps-and-islands sessionization (same oracle as stream_session)",
    ),
    "win_cume_dist": Query(
        win_cume_dist, WIN_CUME_DIST_SQL, "cume_dist + nth_value tail filter"
    ),
    "win_frame_range_time": Query(
        win_frame_range_time, WIN_FRAME_RANGE_TIME_SQL,
        "calendar-interval RANGE window frame"),
    "win_ignore_nulls": Query(
        win_ignore_nulls, WIN_IGNORE_NULLS_SQL,
        "IGNORE NULLS navigation: forward/backward fill + next non-null",
    ),
    "win_streak": Query(
        win_streak, WIN_STREAK_SQL,
        "longest consecutive-active-day streak per user (islands)",
    ),
    "win_rolling_median": Query(
        win_rolling_median, WIN_ROLLING_MEDIAN_SQL,
        "robust trailing-25 rolling median per event type",
    ),
    "win_drawdown": Query(
        win_drawdown, WIN_DRAWDOWN_SQL,
        "max peak-to-current drawdown per user, exact decimal path",
    ),
    "win_pareto": Query(
        win_pareto, WIN_PARETO_SQL,
        "top-k share covering 80% of value; float-free crossing",
    ),
    "win_retention": Query(
        win_retention, WIN_RETENTION_SQL,
        "cohort retention triangle over the (user, day) relation",
    ),
}
