"""Time-series operators (key prefix ``ts_``) over the events stream:
resampling, gap detection and fill, interpolation, smoothing (EWMA,
Holt), anomaly and drift detection (rolling z-score, MAD, CUSUM,
changepoints), trend tests (Mann-Kendall, Theil-Sen), seasonality,
correlation across lags and activity panels.

Sequential recursions are rewritten as window passes or as array folds
that both engines evaluate in the same order, and event time without a
timestamp has no position on the time axis (rows with NULL ``ts`` are
filtered on both sides).

The reference delegates all analytics of this shape to its warehouse/gold
tier (reference README.md:108-118 declares the tier but ships no
implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import DEC, dec, dsum, fquant, t


# ---------------------------------------------------------------------------
# ts_resample — calendar-spine gap fill + forward fill
# ---------------------------------------------------------------------------

def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an event stream onto a daily calendar spine: dates with
    no events appear with count 0 and a forward-filled running sum.

    Shape: one aggregation shuffle on (event_type, day); the spine is
    generated (``sequence`` + explode) from a two-value global min/max —
    a broadcast-joined one-row frame, not a collect. The forward fill is
    a window over the already-partitioned spine, so no extra shuffle.
    At 100 TB the spine's size is days × types — trivially broadcastable
    no matter how large the fact side is."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        dsum("value").alias("day_value"),
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("d"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        # The daily aggregate is O(days × types) — broadcast it so the
        # spine join never shuffles (left-outer with broadcast build on
        # the right side is supported; AQE would usually find this, the
        # hint pins it).
        spine.join(F.broadcast(daily), ["event_type", "d"], "left")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("event_count", F.lit(0)).alias("event_count"),
            F.coalesce(
                F.last("day_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("ffill_value"),
        )
    )


TS_RESAMPLE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         COUNT(*) AS event_count,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS day_value
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT et.event_type, CAST(gs.d AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM events) et
  CROSS JOIN (
    SELECT unnest(generate_series(
      (SELECT MIN(CAST(ts AS DATE)) FROM events),
      (SELECT MAX(CAST(ts AS DATE)) FROM events),
      INTERVAL 1 DAY)) AS d
  ) gs
)
SELECT s.event_type,
       strftime(s.d, '%Y-%m-%d') AS day,
       COALESCE(daily.event_count, 0) AS event_count,
       COALESCE(
         last_value(daily.day_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         0.0) AS ffill_value
FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d
"""


# --------------------------------------------------------- ts_interpolate

def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days on the calendar spine —
    ts_resample's sibling for signals where forward-fill is wrong
    (sensor/metric gap repair). Missing day value = linear blend of
    nearest non-null neighbors; edges back/forward-fill.

    Same scale shape as ts_resample: one (event_type, day) aggregation
    shuffle, broadcast spine join, then intra-partition windows — the
    neighbor scan never re-shuffles."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(dsum("value").alias("v"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    joined = spine.join(F.broadcast(daily), ["event_type", "d"], "left").select(
        "event_type",
        "d",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias("dn"),
        "v",
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_dn = F.when(F.col("v").isNotNull(), F.col("dn"))
    pv = F.last("v", ignorenulls=True).over(w_prev)
    nv = F.first("v", ignorenulls=True).over(w_next)
    pdn = F.last(obs_dn, ignorenulls=True).over(w_prev)
    ndn = F.first(obs_dn, ignorenulls=True).over(w_next)
    interp = pv + (nv - pv) * (
        (F.col("dn") - pdn).cast("double") / (ndn - pdn).cast("double")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.coalesce(interp, pv, nv)
    )
    return joined.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("v").isNotNull().alias("observed"),
        fquant(filled, 6).alias("value_interp"),
    )


TS_INTERPOLATE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
), spine AS (
  SELECT et.event_type, CAST(s.g AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM events) et
  CROSS JOIN bounds b
  CROSS JOIN LATERAL (SELECT unnest(generate_series(b.d0, b.d1,
                                    INTERVAL 1 DAY)) AS g) s
), joined AS (
  SELECT sp.event_type, sp.d,
         date_diff('day', DATE '1970-01-01', sp.d) AS dn,
         daily.v
  FROM spine sp LEFT JOIN daily ON daily.event_type = sp.event_type
                               AND daily.d = sp.d
), nbr AS (
  SELECT event_type, d, dn, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS)
             OVER wp AS pdn,
         first_value(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS)
             OVER wn AS ndn
  FROM joined
  WINDOW wp AS (PARTITION BY event_type ORDER BY dn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY dn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       v IS NOT NULL AS observed,
       floor(CASE WHEN v IS NOT NULL THEN v
                  ELSE COALESCE(
                    pv + (nv - pv) * (CAST(dn - pdn AS DOUBLE)
                                      / CAST(ndn - pdn AS DOUBLE)),
                    pv, nv)
             END * 1000000.0) / 1000000.0 AS value_interp
FROM nbr
"""


def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly score: per event type, each day's value is
    z-scored against the previous 7 days (inclusive) — the standard
    metric-monitoring primitive.

    Exactness: windowed Σv and Σv² accumulate as decimals (order-
    insensitive); mean/variance/z are then single IEEE double
    expressions, and sqrt is correctly-rounded by IEEE 754 in both
    engines — unlike log/exp, which this engine's keys deliberately
    avoid. One aggregation shuffle + one intra-partition window.

    sqrt is safe cross-engine because IEEE 754 requires a correctly-rounded
    square root, unlike the transcendentals (log/exp) which the engine
    deliberately avoids."""
    # ts IS NOT NULL: no timestamp = no day on the series axis (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(dsum("value").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    s1 = F.sum(dec("v")).over(w).cast("double")
    s2 = F.sum(dec("v") * dec("v")).over(w).cast("double")
    mean = s1 / n
    # catastrophic cancellation can leave a tiny negative variance on a
    # constant window; clamp at 0 (DuckDB hard-errors on sqrt(<0),
    # Spark would yield NaN — both wrong)
    var = F.greatest((s2 - s1 * s1 / n) / n, F.lit(0.0))
    z = (F.col("v") - mean) / F.nullif(F.sqrt(var), F.lit(0.0))
    # Warm-up: a 2-point window gives z = ±1 EXACTLY (mathematically),
    # which sits on a floor-quantization boundary — the one place where
    # a last-ulp engine difference splits the floor (caught by the
    # sf0.1 parity probe). n >= 3 makes boundary-exact z measure-zero,
    # and is standard monitoring practice anyway.
    warm = F.count(F.lit(1)).over(w) >= 3
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "v",
        fquant(mean, 4).alias("rolling_mean"),
        F.when(warm, fquant(z, 4)).alias("zscore"),
        F.when(warm, F.abs(z) > 2.0).alias("is_anomaly"),
    )


TS_ROLLING_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), win AS (
  SELECT event_type, d, v,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(v AS DECIMAL(18,4)) * CAST(v AS DECIMAL(18,4)))
              OVER w AS DOUBLE) AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       v,
       floor(s1 / n * 10000.0) / 10000.0 AS rolling_mean,
       CASE WHEN n >= 3 THEN
         floor((v - s1 / n) / NULLIF(sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)), 0.0)
               * 10000.0) / 10000.0 END AS zscore,
       CASE WHEN n >= 3 THEN
         abs((v - s1 / n) / NULLIF(sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)), 0.0)) > 2.0
           END AS is_anomaly
FROM win
"""


# ------------------------------------------------- ts_ewma

EWMA_ALPHA = 0.5
EWMA_WINDOW = 16  # trailing rows per series


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    over a trailing row window — the smoothing pass monitoring/feature
    pipelines run before thresholding. Weights a^m for the m-th-newest
    row, normalized by the realized weight sum, so early rows (short
    windows) are properly scaled rather than biased toward 0.

    Cross-engine determinism: the weighted sum is ONE sequential fold
    over the frame-ordered value list (acc·a + x), evaluated in the same
    order by both engines — bit-identical IEEE doubles in, floor-
    quantized out. The bounded frame (EWMA_WINDOW rows) is also what
    makes the weights computable: an unbounded a^-i rescaling overflows
    double range on long series. NULL values contribute 0 (pinned; the
    oracle mirrors the COALESCE).

    Scale shape: one window shuffle by user_id; state per row is the
    ≤16-element frame list. No Python, no second pass."""
    # ts IS NOT NULL: no timestamp = no series position (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    vals = F.collect_list(
        F.coalesce(F.col("value"), F.lit(0.0))
    ).over(w)
    a = F.lit(EWMA_ALPHA)
    s = F.aggregate(vals, F.lit(0.0), lambda acc, x: acc * a + x)
    wsum = F.aggregate(vals, F.lit(0.0), lambda acc, x: acc * a + 1.0)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            (s / wsum).alias("_ewma"),
        )
        .select(
            "event_id",
            "user_id",
            "ts_s",
            fquant(F.col("_ewma"), 6).alias("ewma_q6"),
        )
    )


TS_EWMA_SQL = f"""
WITH w AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsx,
         list(COALESCE(value, 0.0)) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
         ) AS vals
  FROM events WHERE ts IS NOT NULL
)
, r AS (
  SELECT event_id, user_id, tsx,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE), CAST(vals AS DOUBLE[])),
           (acc, x) -> acc * CAST({EWMA_ALPHA} AS DOUBLE) + x
         )
         / list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
                          list_transform(vals, x -> CAST(1 AS DOUBLE))),
             (acc, x) -> acc * CAST({EWMA_ALPHA} AS DOUBLE) + x
           ) AS ewma_raw
  FROM w
)
SELECT event_id, user_id,
       strftime(tsx, '%Y-%m-%d %H:%M:%S') AS ts_s,
       -- isfinite mirror of the engine's fquant non-finite→NULL guard:
       -- a NaN in the frame propagates through the fold; DuckDB floor
       -- keeps ±Inf where Spark's guard NULLs it
       CASE WHEN isfinite(ewma_raw)
            THEN floor(ewma_raw * 1000000.0) / 1000000.0 END AS ewma_q6
FROM r
"""


# -------------------------------------------------------- ts_gap_detect

#: A silence longer than this many microseconds is a reported gap.
GAP_THRESHOLD_US = 24 * 3600 * 1_000_000


def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap detection — the dual of ``win_sessionize``: report
    every silence longer than 24 h between consecutive events of the
    same user (monitoring's "sensor went dark" / retention's "user went
    dormant" primitive). One lag window per user (ts, event_id ordering
    pins ties), gap arithmetic in integer MICROSECONDS end-to-end —
    `unix_micros` here, `epoch_us` in the oracle — so no float rounding
    or timezone rendering can drift between engines.

    Scale: exactly one shuffle (window partition by user_id); output is
    O(gaps). The lag state is one row."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    return (
        ev.select(
            "user_id",
            prev.alias("gap_start_us"),
            us.alias("gap_end_us"),
        )
        .withColumn("gap_us", F.col("gap_end_us") - F.col("gap_start_us"))
        .filter(F.col("gap_us") > GAP_THRESHOLD_US)
    )


TS_GAP_DETECT_SQL = f"""
WITH seq AS (
    SELECT user_id,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS gap_start_us,
           epoch_us(ts) AS gap_end_us
    FROM events
)
SELECT user_id, gap_start_us, gap_end_us,
       gap_end_us - gap_start_us AS gap_us
FROM seq
WHERE gap_end_us - gap_start_us > {GAP_THRESHOLD_US}
"""


# -------------------------------------------------------- ts_anomaly_mad

#: Exact-regime sketch accuracy (same pinning as agg_approx_quantile) and
#: the classic 3×MAD outlier fence.
MAD_ACCURACY = 1_000_000
MAD_K = 3


def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median / MAD (median
    absolute deviation) and the count of values outside the 3×MAD fence
    — the outlier detector that, unlike z-scores, is not itself dragged
    by the outliers it hunts. Both medians come from the exact-regime GK
    sketch (εn < 1 → the element at rank ⌈0.5·n⌉, the
    agg_approx_quantile discipline), deviations are single IEEE ops on
    identical doubles, and the fence count is an exact long — every
    column hash-checkable with no float-order exposure.

    Scale: two grouped sketch aggregates (mergeable partials) and two
    broadcast joins of a #event-types-sized stats frame — the fact table
    shuffles only for its own groupBy passes; nothing is ever sorted
    globally."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").alias("x"))
    )
    med = ev.groupBy("event_type").agg(
        F.percentile_approx("x", 0.5, MAD_ACCURACY).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("x") - F.col("med"))
    )
    stats = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_vals"),
        F.max("med").alias("med"),
        F.percentile_approx("dev", 0.5, MAD_ACCURACY).alias("mad"),
    )
    return (
        dev.drop("med")  # stats carries it; keeping both is ambiguous
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_vals").alias("n_vals"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.col("dev") > F.lit(MAD_K) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


TS_ANOMALY_MAD_SQL = f"""
WITH v AS (
    SELECT event_type, value AS x FROM events WHERE value IS NOT NULL
), r1 AS (
    SELECT event_type, x,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM v
), med AS (
    SELECT event_type,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN x END)
               AS med
    FROM r1 GROUP BY event_type
), dev AS (
    SELECT v.event_type, med.med, abs(v.x - med.med) AS dev
    FROM v JOIN med USING (event_type)
), r2 AS (
    SELECT event_type, med, dev,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
), stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           MAX(med) AS med,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN dev END)
               AS mad
    FROM r2 GROUP BY event_type
)
SELECT d.event_type, s.n_vals, s.med, s.mad,
       CAST(COUNT(CASE WHEN d.dev > {MAD_K} * s.mad THEN 1 END) AS BIGINT)
           AS n_outliers
FROM dev d JOIN stats s USING (event_type)
GROUP BY d.event_type, s.n_vals, s.med, s.mad
"""


# ------------------------------------------------------------ ts_seasonal

def ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal profile: per (event_type, ISO day-of-week) event
    count and mean value, plus the seasonal index — that slot's mean
    relative to the event type's overall mean (> 1 = a hot weekday).
    The baseline table monitors compare live traffic against
    (``ts_anomaly_mad`` finds point outliers; this finds the CYCLE they
    must be judged against).

    Float discipline: means come from exact decimal sums cast to double
    (one bit-identical division per engine), the index is one further
    IEEE division of those identical doubles, floor-quantized.

    Scale: the fact table is scanned and shuffled ONCE — the overall
    (per-type) moments are a re-aggregate of the 7-row-per-type slot
    moments, still in exact decimal so the reduction order cannot
    matter, and Catalyst reuses the slot aggregate's exchange for both
    branches (pinned in tests/test_plans.py). The rejoin is a broadcast
    of a #event-types-sized frame."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    slot = ev.select(
        "event_type",
        F.expr("weekday(ts) + 1").alias("isodow"),
        "value",
    )
    prof = (
        slot.groupBy("event_type", "isodow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("svd"),
        )
        # materialize the types×7-row moment table once: it feeds BOTH
        # the overall re-aggregate and the rejoin — without this the
        # fact scan+shuffle executes twice (AQE's runtime exchange reuse
        # also dedupes it, but the property should be structural)
        .localCheckpoint(eager=False)
    )
    overall = prof.groupBy("event_type").agg(
        F.sum("n_events").cast("double").alias("n_all"),
        F.sum("svd").cast("double").alias("sv_all"),
    )
    mean_slot = (
        F.col("svd").cast("double") / F.col("n_events").cast("double")
    )
    mean_all = F.col("sv_all") / F.col("n_all")
    return (
        prof.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "isodow",
            F.col("n_events").cast("long").alias("n_events"),
            fquant(mean_slot, 6).alias("mean_value"),
            fquant(mean_slot / mean_all, 6).alias("seasonal_index"),
        )
    )


TS_SEASONAL_SQL = """
WITH slot AS (
    SELECT event_type, isodow(ts) AS isodow, value
    FROM events WHERE value IS NOT NULL
), prof AS (
    SELECT event_type, isodow,
           COUNT(*) AS n_events,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) AS svd
    FROM slot GROUP BY event_type, isodow
), overall AS (
    SELECT event_type,
           CAST(SUM(n_events) AS DOUBLE) AS n_all,
           CAST(SUM(svd) AS DOUBLE) AS sv_all
    FROM prof GROUP BY event_type
)
SELECT p.event_type, p.isodow,
       CAST(p.n_events AS BIGINT) AS n_events,
       floor(CAST(p.svd AS DOUBLE) / CAST(p.n_events AS DOUBLE)
             * 1000000.0) / 1000000.0 AS mean_value,
       floor((CAST(p.svd AS DOUBLE) / CAST(p.n_events AS DOUBLE))
             / (o.sv_all / o.n_all) * 1000000.0) / 1000000.0
           AS seasonal_index
FROM prof p JOIN overall o USING (event_type)
"""


# --------------------------------------------------------------- ts_cusum

#: CUSUM allowance (reference + slack): per-row increment is
#: ``value - CUSUM_K``. With per-type means ~50, K=75 keeps the
#: statistic near 0 in normal traffic and accumulates only on sustained
#: high-value runs.
CUSUM_K = "75.0000"
#: Decision threshold: alert when the accumulated exceedance tops H.
CUSUM_H = "300.0000"


def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector per event type. The textbook form
    is the recursion ``S_t = max(0, S_{t-1} + (x_t - K))`` — sequential
    state, the shape engines can't parallelize. The engine applies the
    drawdown identity instead::

        S_t = P_t - min(0, min_{j<=t} P_j),   P_t = prefix_sum(x - K)

    (induction: both sides are 0 at t=0, and the RHS increments by
    ``x_t - K`` clamped at the running-min floor exactly when the LHS
    max clamps at 0) — so the whole detector is TWO stacked window
    expressions over ONE shuffle: a running sum and a running min of
    that sum. All arithmetic stays in exact decimal (prefix sums of
    decimals are order-independent and both engines subtract/compare
    them exactly), so the statistic and the alert flag are
    bit-reproducible — there is no float in the detector at all.

    Scale: one hash shuffle on event_type, O(1) state per row; at
    100 TB the partition key would be (series, coarse-time-bucket) with
    a carried-in offset, same plan shape. Null values are filtered up
    front (a null increment would poison the prefix sum).

    Completes the monitoring family (``ts_anomaly_mad`` finds point
    outliers, ``ts_seasonal`` the cycle, EWMA the smoother): CUSUM is the
    standard sequential change detector."""
    ev = t(spark, sf_dir, "events").filter(
        # ts IS NOT NULL: no timestamp = no series position (round 9)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
        & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two stacked Window nodes (window exprs can't nest in one select);
    # same partitioning+ordering, so Catalyst plans ONE shuffle+sort
    staged = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.sum(dec("value") - F.lit(CUSUM_K).cast(DEC)).over(w).alias("p"),
    )
    floor_p = F.least(F.lit("0").cast(DEC), F.min("p").over(w))
    cusum = F.col("p") - floor_p
    # decimal -> double via an exact scaled BIGINT: a direct decimal cast
    # diverges by 1 ulp between engines (Spark converts the BigDecimal in
    # one correctly-rounded step, DuckDB scales by 1e-4 in float), caught
    # by the null-drift sweep; integer/10000.0 is ONE identical IEEE
    # division on both sides
    cusum_scaled = (cusum * F.lit(10000)).cast("long")
    return staged.select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        (cusum_scaled.cast("double") / F.lit(10000.0)).alias("cusum"),
        (cusum > F.lit(CUSUM_H).cast(DEC)).cast("int").alias("alert"),
    )


TS_CUSUM_SQL = f"""
WITH w AS (
    SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS tsx,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) - CAST({CUSUM_K} AS DECIMAL(18,4)))
               OVER ord AS p
    FROM events WHERE value IS NOT NULL AND isfinite(value)
      AND ts IS NOT NULL
    WINDOW ord AS (PARTITION BY event_type
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
    SELECT event_id, event_type, tsx,
           p - least(CAST(0 AS DECIMAL(18,4)), MIN(p) OVER ord2) AS cusum_d
    FROM w
    WINDOW ord2 AS (PARTITION BY event_type
                    ORDER BY tsx, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type,
       strftime(tsx, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(CAST(cusum_d * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS cusum,
       CAST(cusum_d > CAST({CUSUM_H} AS DECIMAL(18,4)) AS INT) AS alert
FROM c
"""


# ------------------------------------------------------------ ts_autocorr

def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of ``value`` per event type — the serial-
    dependence diagnostic that decides whether a forecasting baseline
    (EWMA, seasonal index) has any signal to work with. Pairs
    ``(x_t, x_{t-1})`` come from a lag window over the null-filtered,
    (ts, event_id)-ordered series (lag over the FILTERED sequence is
    the pinned semantics: the previous OBSERVED value, matching how
    every engine's pandas/R acf treats missing rows); the correlation
    itself is the exact-decimal-moment formulation of ``agg_corr`` —
    built-in ``corr`` accumulates doubles in engine-specific order,
    the moment sums are decimal-exact and order-free.

    Scale: the groupBy reuses the lag window's hashpartitioning (same
    key, pinned in tests/test_plans.py: ONE Exchange in the whole
    plan), and the moment sums are map-side-combinable partials.

    The serial-dependence diagnostic (is yesterday's value informative?),
    computed with the same exact-decimal-moment discipline as ``agg_corr``."""
    ev = t(spark, sf_dir, "events").filter(
        # ts IS NOT NULL: no timestamp = no series position (round 9)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
        & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select("event_type", "value", F.lag("value").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select("event_type", dec("value").alias("x"), dec("prev").alias("y"))
    )
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # zero-variance guard (constant series): autocorrelation is
    # undefined — NULL, never a divide (Spark 4 ANSI throws on /0).
    ac = F.when((vx > 0.0) & (vy > 0.0), num / (F.sqrt(vx) * F.sqrt(vy)))
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        fquant(ac, 6).alias("autocorr_lag1"),
    )


# DECIMAL(19,4) on the DuckDB side for the same reason as agg_corr:
# width <=18 decimal multiplies take DuckDB's int64 fast path, which can
# overflow at runtime on x*y sums; 19 forces HUGEINT. Values identical.
TS_AUTOCORR_SQL = """
WITH pairs AS (
    SELECT event_type,
           CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(19,4)) AS x,
           CAST(lag(value) OVER (PARTITION BY event_type
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
                AS DECIMAL(19,4)) AS y
    FROM events WHERE value IS NOT NULL AND isfinite(value)
      AND ts IS NOT NULL
), m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM pairs WHERE y IS NOT NULL
    GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN floor((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy))
                       * 1000000.0) / 1000000.0 END AS autocorr_lag1
FROM m
"""


# ------------------------------------------------------------- ts_trend_mk


def ts_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily-count
    series — the nonparametric "is this metric drifting?" monitor
    (ts_cusum finds WHERE a shift happened; MK says WHETHER a monotone
    trend exists, with no distributional assumption and, here, no
    transcendental at all). Output per type: n_days, the exact integer
    S statistic (Σ sign(c_j − c_i) over day pairs i<j), 18·Var(S) with
    the standard tie correction (kept as an exact integer — callers
    divide by 18 and sqrt at the edge), and the trend direction.

    Scale: the corpus collapses to the (type, day, count) relation
    FIRST (one map-side-combinable shuffle; ~#types·#days rows) and is
    lazily materialized — THREE consumers (both pair-join sides and the
    tie histogram) would otherwise each duplicate the corpus scan
    subtree (measured 3× FileScan; the ml_naive_bayes lesson). The
    O(days²) pair join then runs per type on that tiny relation — at
    any corpus size the pair count is days², never rows². Everything is
    integer arithmetic: bit-exact cross-engine by construction.

    The nonparametric trend sibling of ``ts_cusum``'s changepoint detection
    (no distributional assumptions, no transcendentals)."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("dd"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.dd") < F.col("b.dd")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.signum(
                    (F.col("b.c") - F.col("a.c")).cast("double")
                ).cast("long")
            ).alias("s_stat")
        )
    )
    # tie correction: groups of equal counts within a type
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("tt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_levels"),
            F.sum(
                F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)
            ).alias("tie_term"),
            F.sum("tt").alias("n_days"),
        )
    )
    nd = F.col("n_days")
    var18 = nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term")
    # LEFT join from the tie histogram (which carries every type): a
    # single-day series has NO day pairs, so the S relation omits it —
    # an inner join would silently drop the type instead of reporting
    # the honest degenerate answer (S=0, Var=0, no_trend). Found by the
    # brute-force property sweep (tests/test_stats_property.py).
    s0 = F.coalesce(F.col("s_stat"), F.lit(0))
    return (
        ties.join(s, "event_type", "left")
        .select(
            "event_type",
            nd.cast("long").alias("n_days"),
            s0.cast("long").alias("s_stat"),
            var18.cast("long").alias("var18"),
            F.when(s0 > 0, F.lit("increasing"))
            .when(s0 < 0, F.lit("decreasing"))
            .otherwise(F.lit("no_trend"))
            .alias("trend"),
        )
    )


TS_TREND_MK_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS dd, COUNT(*) AS c
    FROM events GROUP BY 1, 2
), s AS (
    SELECT a.event_type,
           SUM(CAST(sign(CAST(b.c - a.c AS DOUBLE)) AS BIGINT)) AS s_stat
    FROM daily a
    JOIN daily b ON a.event_type = b.event_type AND a.dd < b.dd
    GROUP BY 1
), ties AS (
    SELECT event_type,
           SUM(tt * (tt - 1) * (2 * tt + 5)) AS tie_term,
           SUM(tt) AS n_days
    FROM (
        SELECT event_type, c, COUNT(*) AS tt
        FROM daily GROUP BY 1, 2
    ) GROUP BY 1
)
SELECT ties.event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat,
       CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
            AS BIGINT) AS var18,
       CASE WHEN COALESCE(s_stat, 0) > 0 THEN 'increasing'
            WHEN COALESCE(s_stat, 0) < 0 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM ties LEFT JOIN s USING (event_type)
"""


# ----------------------------------------------------------------- ts_holt

#: Dyadic smoothing constants (exactly representable doubles).
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25


def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double) exponential smoothing per user: level AND
    trend state folded over the time-ordered value series, plus the
    one-step-ahead forecast — the trend-aware smoother ts_ewma's flat
    level cannot express (a steadily climbing series lags a plain EWMA
    forever; Holt's trend term closes the gap).

    Determinism: the recursion l' = α·x + (1−α)(l+b);
    b' = β(l'−l) + (1−β)·b is ONE sequential array-fold over the
    frame-ordered list, initialized at (l=x₁, b=0) and folded from x₂ —
    both engines evaluate the IDENTICAL expression tree in the
    IDENTICAL order on exactly-representable dyadic constants, so the
    doubles are bit-identical before the final floor-quantization.
    Users with fewer than 2 scored events yield NULLs (warm-up guard —
    a 1-point series has no defined trend).

    Scale: one window shuffle by user_id collapsing to a user-sized
    relation; per-user state is the bounded event list (the generator
    keeps events-per-user constant as the corpus grows — and a real
    deployment folds per partition-day). No Python, no joins."""
    # ts IS NOT NULL: no timestamp = no series position (round 9)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    vals_w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    per = (
        ev.select(
            "user_id",
            F.collect_list(F.col("value")).over(
                vals_w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("vals"),
            F.row_number().over(vals_w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    a = F.lit(HOLT_ALPHA)
    ca = F.lit(1.0 - HOLT_ALPHA)  # exact: dyadic constants
    bt = F.lit(HOLT_BETA)
    cb = F.lit(1.0 - HOLT_BETA)
    # 2-element ARRAY accumulator [level, trend] on BOTH engines:
    # DuckDB 1.0's list_reduce mutates a STRUCT accumulator's fields
    # sequentially (field 2 sees field 1 already overwritten — verified
    # by probe), so the struct form silently computes a different
    # recursion there; list accumulators fold correctly on both.
    init = F.array(
        F.element_at("vals", 1).cast("double"), F.lit(0.0)
    )
    rest = F.slice(
        F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))
    )

    def _step(acc, x):
        lp, bp = F.element_at(acc, 1), F.element_at(acc, 2)
        lnew = a * x + ca * (lp + bp)
        return F.array(
            lnew,
            bt * ((a * x + ca * (lp + bp)) - lp) + cb * bp,
        )

    fold = F.aggregate(rest, init, _step)
    lv, tr = F.element_at(fold, 1), F.element_at(fold, 2)
    n = F.size("vals")
    return per.select(
        "user_id",
        n.cast("long").alias("n_points"),
        F.when(n >= 2, fquant(lv, 6)).alias("level"),
        F.when(n >= 2, fquant(tr, 6)).alias("trend"),
        F.when(n >= 2, fquant(lv + tr, 6)).alias("forecast_1"),
    )


TS_HOLT_SQL = f"""
WITH s AS (
    SELECT user_id,
           list(CAST(value AS DOUBLE)
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vals
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
), f AS (
    SELECT user_id, len(vals) AS n,
           list_reduce(
             list_prepend(
               [vals[1], CAST(0.0 AS DOUBLE)],
               list_transform(vals[2:],
                              x -> [x, CAST(0.0 AS DOUBLE)])
             ),
             (acc, e) -> [
               CAST({HOLT_ALPHA} AS DOUBLE) * e[1]
                 + CAST({1.0 - HOLT_ALPHA} AS DOUBLE)
                   * (acc[1] + acc[2]),
               CAST({HOLT_BETA} AS DOUBLE)
                 * ((CAST({HOLT_ALPHA} AS DOUBLE) * e[1]
                     + CAST({1.0 - HOLT_ALPHA} AS DOUBLE)
                       * (acc[1] + acc[2]))
                    - acc[1])
                 + CAST({1.0 - HOLT_BETA} AS DOUBLE) * acc[2]
             ]
           ) AS st
    FROM s
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_points,
       CASE WHEN n >= 2 THEN
         floor((st[1]) * 1000000.0) / 1000000.0 END AS level,
       CASE WHEN n >= 2 THEN
         floor((st[2]) * 1000000.0) / 1000000.0 END AS trend,
       CASE WHEN n >= 2 THEN
         floor((st[1] + st[2]) * 1000000.0) / 1000000.0 END AS forecast_1
FROM f
"""


# ------------------------------------------------------------ ts_changepoint


def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate per user: the observation index k
    (in (ts, event_id) order) that maximizes |n·P_k − k·T|, where P_k
    is the prefix sum of value and T the series total — n·(P_k − k·T/n)
    is the mean-centered CUSUM scaled by n, and its arg-max is the
    classic single-changepoint location estimate (the point a
    level-shift most plausibly happened).

    Determinism: value lives on the fixture's 1e-4 grid, so the scaled
    BIGINT ``v = value·10⁴`` is exact; prefix sums, totals and the
    deviation ``|n·P_k − k·T|`` are exact integers (DECIMAL(38,0) /
    HUGEINT products — no float enters the argmax), and ties break on
    earliest k. The reported peak is ONE double division of exact
    integers, floor-quantized. k ranges over 1..n−1 (dev at k=n is
    identically 0), so single-observation users drop out — the warm-up
    guard, not an epsilon.

    Scale: ONE hash shuffle on user_id; the prefix/total/argmax windows
    all share that partitioning (Catalyst plans one exchange, stacked
    sorts). At 100 TB the series key would be (user, coarse-time-bucket)
    with carried-in offsets — the ts_cusum posture verbatim."""
    # ts IS NOT NULL: no timestamp = no series position (round 9)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    v = (dec("value") * 10000).cast("long")
    staged = ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.row_number().over(wp).alias("k"),
        F.sum(v).over(wp).alias("p"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum(v).over(wall).alias("tot"),
    )
    dev = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("p").cast("decimal(38,0)")
        - F.col("k").cast("decimal(38,0)")
        * F.col("tot").cast("decimal(38,0)")
    )
    cand = staged.filter(F.col("k") < F.col("n")).select(
        "user_id",
        "ts_s",
        "k",
        "n",
        dev.alias("dev"),
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("dev").desc(), F.col("k").asc()
    )
    best = cand.select(
        "user_id", "ts_s", "k", "n", "dev",
        F.row_number().over(wbest).alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        "user_id",
        F.col("n").cast("long").alias("n_obs"),
        F.col("k").cast("long").alias("cp_index"),
        F.col("ts_s").alias("cp_ts"),
        fquant(
            F.col("dev").cast("double")
            / (F.col("n") * 10000).cast("double"),
            6,
        ).alias("cusum_peak"),
    )


TS_CHANGEPOINT_SQL = """
WITH tot AS (
    SELECT user_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS k,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
           COUNT(*) OVER (PARTITION BY user_id) AS n,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY user_id) AS tot
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), cand AS (
    SELECT user_id, ts_s, k, n,
           abs(CAST(n AS HUGEINT) * CAST(p AS HUGEINT)
               - CAST(k AS HUGEINT) * CAST(tot AS HUGEINT)) AS dev
    FROM tot WHERE k < n
), best AS (
    SELECT user_id, ts_s, k, n, dev,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY dev DESC, k ASC) AS rk
    FROM cand
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_obs,
       CAST(k AS BIGINT) AS cp_index,
       ts_s AS cp_ts,
       floor(CAST(dev AS DOUBLE) / CAST(n * 10000 AS DOUBLE)
             * 1000000.0) / 1000000.0 AS cusum_peak
FROM best WHERE rk = 1
"""


# ------------------------------------------------------------- ts_theil_sen


def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend slope per event type over the daily-total
    series: the MEDIAN of all C(D,2) pairwise slopes
    (v_j − v_i)/(d_j − d_i) — the robust slope estimator that pairs
    with ts_trend_mk's S statistic (Mann-Kendall detects the trend,
    Theil-Sen sizes it; together they are the nonparametric answer to
    OLS). Lower median on even pair counts, deterministically.

    Determinism: daily totals are exact scaled BIGINTs (value lives on
    the fixture's 1e-4 grid), day indices are exact epoch-day integers,
    so every slope is ONE IEEE division of exact integers —
    bit-identical cross-engine — and the median is selected by exact
    integer rank with (d_i, d_j) as the total-order tiebreak, not
    computed by averaging. Types with < 2 observed days drop out (no
    pairs — the warm-up guard).

    Scale: the corpus collapses to (type, day) totals in ONE
    map-side-combinable shuffle; the O(D²) pair join runs on the
    days-sized relation (D is calendar-bounded — 30 days here, 365/yr
    in production; D², not N², is the contract) and the rank window
    shares the type partitioning."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
    ).agg(
        F.sum((dec("value") * 10000).cast("long")).alias("v"),
    ).select(
        "event_type",
        F.date_diff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "v",
    ).localCheckpoint(eager=False)
    # lazy checkpoint: the self-join references daily twice, and without
    # lineage truncation Catalyst duplicates the whole corpus scan+agg
    # subtree into both sides (measured: 2x FileScan)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("a.d") < F.col("b.d"))
        .select(
            "event_type",
            F.col("a.d").alias("da"),
            F.col("b.d").alias("db"),
            (
                (F.col("b.v") - F.col("a.v")).cast("double")
                / ((F.col("b.d") - F.col("a.d")) * 10000).cast("double")
            ).alias("slope"),
        )
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("slope").asc(), F.col("da").asc(), F.col("db").asc()
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    # lower median: integer (m+1) DIV 2 floors identically on both
    # engines for the non-negative m here
    med = ranked.filter(F.col("rn") == F.expr("(m + 1) DIV 2"))
    return med.select(
        "event_type",
        F.col("m").cast("long").alias("n_pairs"),
        fquant(F.col("slope"), 6).alias("theil_slope"),
    )


TS_THEIL_SEN_SQL = """
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS v
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
), pairs AS (
    SELECT a.event_type,
           a.d AS da, b.d AS db,
           CAST(b.v - a.v AS DOUBLE)
             / CAST((b.d - a.d) * 10000 AS DOUBLE) AS slope
    FROM daily a
    JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
), ranked AS (
    SELECT event_type, slope,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY slope ASC, da ASC, db ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM pairs
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_pairs,
       floor(slope * 1000000.0) / 1000000.0 AS theil_slope
FROM ranked WHERE rn = (m + 1) // 2
"""


# -------------------------------------------------------------- ts_active_users

WAU_WINDOW = 7


def ts_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actives panel: per observed day, DAU (distinct users),
    trailing-7-day WAU, new users, and cumulative unique users. The
    WAU avoids the naive range self-join: each (user, day) activity
    explodes to the ≤7 window-end days it supports, then ONE distinct
    count per end-day — linear in activity, the standard log-scale
    trick for sliding distincts.

    Determinism: pure exact integer counting on epoch-day integers.

    Scale: the corpus collapses to the distinct (user, day) relation
    once (lazily checkpointed — three consumers would otherwise
    triplicate the scan); the explode multiplies it by ≤7; cumulative
    actives come from the first-day histogram cumulated over the
    days-sized relation. At 100 TB the user-day relation is the
    materialized activity table every growth stack maintains."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).distinct().localCheckpoint(eager=False)
    dau = ud.groupBy("d").agg(
        F.countDistinct("user_id").alias("dau")
    )
    span = ud.agg(F.max("d").alias("max_d"))
    wau = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + (WAU_WINDOW - 1))
            ).alias("wend"),
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("wend") <= F.col("max_d"))
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    first = ud.groupBy("user_id").agg(F.min("d").alias("fd"))
    hist = first.groupBy("fd").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    wcum = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    panel = (
        dau.join(
            F.broadcast(wau.select(F.col("wend").alias("d"), "wau")),
            "d",
        )
        .join(
            F.broadcast(hist.select(F.col("fd").alias("d"), "new_users")),
            "d",
            "left",
        )
        .select(
            "d",
            "dau",
            "wau",
            F.coalesce(F.col("new_users"), F.lit(0))
            .cast("long")
            .alias("new_users"),
        )
    )
    return panel.select(
        F.col("d").alias("epoch_day"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        "new_users",
        F.sum("new_users").over(wcum).cast("long").alias("cum_users"),
    )


TS_ACTIVE_USERS_SQL = f"""
WITH ud AS MATERIALIZED (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
    FROM events
), dau AS (
    SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1
), span AS (
    SELECT MAX(d) AS max_d FROM ud
), wau AS (
    SELECT wend, COUNT(DISTINCT user_id) AS wau
    FROM (
        SELECT u.user_id,
               u.d + k.k AS wend
        FROM ud u
        CROSS JOIN (SELECT unnest(range({WAU_WINDOW})) AS k) k
    ) x CROSS JOIN span
    WHERE x.wend <= span.max_d
    GROUP BY wend
), hist AS (
    SELECT fd, COUNT(*) AS new_users
    FROM (SELECT user_id, MIN(d) AS fd FROM ud GROUP BY 1)
    GROUP BY 1
)
SELECT dau.d AS epoch_day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       CAST(COALESCE(h.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(h.new_users, 0))
              OVER (ORDER BY dau.d ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM dau
JOIN wau w ON w.wend = dau.d
LEFT JOIN hist h ON h.fd = dau.d
"""


# -------------------------------------------------------------- ts_burstiness


def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is daily traffic Poisson or bursty? Per event type, the Fano
    factor σ²/μ of daily counts (1 under Poisson, >1 overdispersed)
    and a burstiness index in VARIANCE form, (σ²−μ)/(σ²+μ), chosen
    over Goh-Barabási's (σ−μ)/(σ+μ) precisely because it stays
    RATIONAL: with integer daily counts, D·Σc² − C² and D·C are exact
    integers, so Fano = (DΣc² − C²)/(DC) and B = (DΣc² − C² −
    DC)/(DΣc² − C² + DC) are each ONE division of exact integers — no
    √ anywhere. The
    overdispersion complement of ts_autocorr (memory) and ts_seasonal
    (cycle): bursty-but-uncorrelated traffic breaks capacity plans
    that both of those pass.

    Scale: one corpus collapse to (type, day) counts, one per-type
    aggregate on the days-sized relation."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("dd"),
        F.sum("c").alias("ct"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
    )
    var_num = (
        F.col("dd").cast("decimal(38,0)") * F.col("c2").cast("decimal(38,0)")
        - F.col("ct").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")
    )
    dc = F.col("dd").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")
    return per.select(
        "event_type",
        F.col("dd").cast("long").alias("n_days"),
        F.col("ct").cast("long").alias("total"),
        F.when(
            F.col("ct") > 0,
            fquant(var_num.cast("double") / dc.cast("double"), 6),
        ).alias("fano"),
        F.when(
            (F.col("ct") > 0) & ((var_num + dc) > 0),
            fquant(
                (var_num - dc).cast("double")
                / (var_num + dc).cast("double"),
                6,
            ),
        ).alias("burstiness"),
    )


TS_BURSTINESS_SQL = """
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
), per AS (
    SELECT event_type,
           COUNT(*) AS dd,
           SUM(c) AS ct,
           SUM(c * c) AS c2
    FROM daily GROUP BY 1
)
SELECT event_type,
       CAST(dd AS BIGINT) AS n_days,
       CAST(ct AS BIGINT) AS total,
       CASE WHEN ct > 0 THEN
         floor(CAST(CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                    AS DOUBLE)
               / CAST(CAST(dd AS HUGEINT) * ct AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS fano,
       CASE WHEN ct > 0
             AND CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                 + CAST(dd AS HUGEINT) * ct > 0 THEN
         floor(CAST(CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                    - CAST(dd AS HUGEINT) * ct AS DOUBLE)
               / CAST(CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                      + CAST(dd AS HUGEINT) * ct AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS burstiness
FROM per
"""


# ---------------------------------------------------------------- ts_cross_corr

CCF_MAX_LAG = 7


def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag scan between daily click and purchase volumes: Pearson
    correlation of (clicks_t, purchases_{t+lag}) for every lag in
    [−7, +7]. A positive peak at lag k > 0 means clicks LEAD purchases
    by k days — the attribution-window readout ts_autocorr (self) and
    ml_kendall_tau (lag 0 concordance) can't give.

    Determinism: all five moments per lag (n, Σx, Σy, Σxy, Σx², Σy²)
    are exact integers (daily counts; HUGEINT/DECIMAL(38) products);
    each correlation is the identical double tree — two √ of exact
    integers and one division — with zero-variance lags NULL.

    Scale: one corpus collapse to the days relation (lazily
    checkpointed), an explode by 15 lags (the offset-join trick — one
    equi-join on shifted day, never a theta join), and a 15-row
    aggregate.

    ts_autocorr is the self-correlation; this is the cross one — the
    marketing-attribution readout."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    ).localCheckpoint(eager=False)
    lags = F.sequence(
        F.lit(-CCF_MAX_LAG), F.lit(CCF_MAX_LAG)
    )
    probes = daily.select(
        "d", "x", F.explode(lags).alias("lag")
    ).select(
        "x", "lag", (F.col("d") + F.col("lag")).alias("dy")
    )
    joined = probes.join(
        daily.select(F.col("d").alias("dy"), F.col("y").alias("yv")),
        "dy",
    )
    per = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("x") * F.col("yv")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d38("n") * d38("sxy") - d38("sx") * d38("sy")
    vx = d38("n") * d38("sxx") - d38("sx") * d38("sx")
    vy = d38("n") * d38("syy") - d38("sy") * d38("sy")
    corr = num.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return per.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        F.when((vx > 0) & (vy > 0), fquant(corr, 6)).alias("ccf"),
    )


TS_CROSS_CORR_SQL = f"""
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS y
    FROM events GROUP BY 1
), probes AS (
    SELECT a.x, l.lag, a.d + l.lag AS dy
    FROM daily a
    CROSS JOIN (SELECT unnest(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG + 1}))
                  AS lag) l
), joined AS (
    SELECT p.x, p.lag, b.y AS yv
    FROM probes p JOIN daily b ON b.d = p.dy
), per AS (
    SELECT lag, COUNT(*) AS n,
           SUM(x) AS sx, SUM(yv) AS sy,
           SUM(x * yv) AS sxy, SUM(x * x) AS sxx,
           SUM(yv * yv) AS syy
    FROM joined GROUP BY 1
)
SELECT CAST(lag AS INT) AS lag,
       CAST(n AS BIGINT) AS n_days,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
       THEN
         floor(CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * syy
                              - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
               * 1000000.0) / 1000000.0 END AS ccf
FROM per
"""


# -------------------------------------------------------------- ts_anova_weekday


def ts_anova_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value by ISO weekday: the between-group
    sum of squares (what weekday MEANS explain), the within-group
    remainder, and the F ratio — ts_seasonal reports the weekday
    profile, this key says whether that profile is signal or noise
    shape. One output row (k−1, n−k dof carried as columns).

    Determinism: values live on the 1e-4 grid, so every group's
    (n_g, Σv, Σv²) is exact (scaled BIGINT / DECIMAL(38) squares) and
    both sums of squares are exact rationals with common denominator
    n_g·n: SSB·n·Πn_g and SSW are assembled from integer moments. The
    engine keeps it simpler and still exact: SSB = Σ_g (T_g²/n_g) −
    T²/n and SSW = Σv² − Σ_g (T_g²/n_g) are computed with each
    T_g²/n_g floor-quantized to a 1e6-scaled BIGINT before the
    cross-group sums (the q9 pattern), so group order cannot perturb
    the total; F is one final division.

    Scale: one map-side-combinable collapse onto 7 weekday groups;
    everything else is 7-row arithmetic."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = (dec("value") * 10000).cast("long")
    per = ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("isodow"),
    ).agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(v).alias("tg"),
        F.sum(
            v.cast("decimal(38,0)") * v.cast("decimal(38,0)")
        ).alias("sq"),
    )
    # per-group exact term T_g^2 / n_g, quantized to a 1e6-scaled
    # BIGINT before the cross-group sum (order-independent)
    term_q = F.floor(
        (
            F.col("tg").cast("decimal(38,0)")
            * F.col("tg").cast("decimal(38,0)")
        ).cast("double")
        / F.col("ng").cast("double")
        / 1e8  # (1e4 value scale)^2 -> value^2 units
        * 1e6
    ).cast("long")
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("tg").alias("tt"),
        F.sum(F.col("sq").cast("decimal(38,0)")).alias("sq_tot"),
        F.sum(term_q).alias("term_q_sum"),
    )
    n = F.col("n").cast("double")
    grand = (
        F.col("tt").cast("decimal(38,0)")
        * F.col("tt").cast("decimal(38,0)")
    ).cast("double") / n / 1e8
    sq_tot_v = F.col("sq_tot").cast("double") / 1e8
    terms = F.col("term_q_sum").cast("double") / 1e6
    ssb = terms - grand
    ssw = sq_tot_v - terms
    k = F.col("k")
    f_stat = (ssb / (k - 1).cast("double")) / (
        ssw / (F.col("n") - k).cast("double")
    )
    return agg.select(
        k.cast("int").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        fquant(ssb, 4).alias("ss_between"),
        fquant(ssw, 4).alias("ss_within"),
        F.when(
            (k > 1) & (F.col("n") > k) & (ssw > 0), fquant(f_stat, 6)
        ).alias("f_stat"),
    )


TS_ANOVA_WEEKDAY_SQL = """
WITH per AS (
    SELECT CAST(isodow(ts) AS INT) AS isodow,
           COUNT(*) AS ng,
           SUM(CAST(CAST(CASE WHEN value - (value) = 0 THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             AS tg,
           SUM(CAST(CAST(CAST(CASE WHEN value - (value) = 0 THEN value END AS DECIMAL(18,4)) * 10000
                         AS BIGINT) AS HUGEINT)
               * CAST(CAST(CAST(CASE WHEN value - (value) = 0 THEN value END AS DECIMAL(18,4)) * 10000
                           AS BIGINT) AS HUGEINT)) AS sq
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
), agg AS (
    SELECT COUNT(*) AS k,
           SUM(ng) AS n,
           SUM(tg) AS tt,
           SUM(sq) AS sq_tot,
           SUM(CAST(floor(CAST(CAST(tg AS HUGEINT) * CAST(tg AS HUGEINT)
                               AS DOUBLE)
                          / CAST(ng AS DOUBLE) / 1e8 * 1e6)
                    AS BIGINT)) AS term_q_sum
    FROM per
)
SELECT CAST(k AS INT) AS k_groups,
       CAST(n AS BIGINT) AS n,
       floor((CAST(term_q_sum AS DOUBLE) / 1e6
              - CAST(CAST(tt AS HUGEINT) * CAST(tt AS HUGEINT)
                     AS DOUBLE) / CAST(n AS DOUBLE) / 1e8)
             * 10000.0) / 10000.0 AS ss_between,
       floor((CAST(sq_tot AS DOUBLE) / 1e8
              - CAST(term_q_sum AS DOUBLE) / 1e6)
             * 10000.0) / 10000.0 AS ss_within,
       CASE WHEN k > 1 AND n > k
             AND CAST(sq_tot AS DOUBLE) / 1e8
                 - CAST(term_q_sum AS DOUBLE) / 1e6 > 0 THEN
         floor(((CAST(term_q_sum AS DOUBLE) / 1e6
                 - CAST(CAST(tt AS HUGEINT) * CAST(tt AS HUGEINT)
                        AS DOUBLE) / CAST(n AS DOUBLE) / 1e8)
                / CAST(k - 1 AS DOUBLE))
               / ((CAST(sq_tot AS DOUBLE) / 1e8
                   - CAST(term_q_sum AS DOUBLE) / 1e6)
                  / CAST(n - k AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS f_stat
FROM agg
"""


# -------------------------------------------------------------------- ts_gap_fill


def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine fill of the daily event volume per type: every
    (type, day) cell of the corpus span gets a row — observed days
    carry their counts, silent days become EXPLICIT zeros with a gap
    flag. "No row" and "zero traffic" are different facts, and every
    average/trend downstream is wrong until they're distinguished;
    the spine join is how a warehouse makes the distinction durable
    (composing the generated-dimension idea behind dim_calendar).

    Determinism: the spine is sequence(min_day, max_day) — exact
    integers; counts are integers; no floats at all.

    Scale: one corpus collapse to observed (type, day) counts; the
    spine generates from the 1-row span aggregate (types × days rows —
    calendar-bounded, never corpus-sized); one left join spine ←
    observed on the tiny relations."""
    ev = t(spark, sf_dir, "events")
    day = F.date_diff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    observed = ev.groupBy(
        "event_type", day.alias("d")
    ).agg(F.count(F.lit(1)).alias("volume")).localCheckpoint(
        eager=False
    )
    span = observed.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    types = observed.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"))
        ).alias("d"),
    )
    return (
        spine.join(observed, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.col("d").alias("epoch_day"),
            F.coalesce(F.col("volume"), F.lit(0))
            .cast("long")
            .alias("volume"),
            F.col("volume").isNull().cast("int").alias("is_gap"),
        )
    )


TS_GAP_FILL_SQL = """
WITH observed AS MATERIALIZED (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS volume
    FROM events GROUP BY 1, 2
), span AS (
    SELECT MIN(d) AS lo, MAX(d) AS hi FROM observed
), spine AS (
    SELECT t.event_type, u.d
    FROM (SELECT DISTINCT event_type FROM observed) t
    CROSS JOIN span
    CROSS JOIN LATERAL (SELECT unnest(range(span.lo, span.hi + 1))
                          AS d) u
)
SELECT s.event_type,
       s.d AS epoch_day,
       CAST(COALESCE(o.volume, 0) AS BIGINT) AS volume,
       CAST(CASE WHEN o.volume IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_gap
FROM spine s
LEFT JOIN observed o
  ON s.event_type = o.event_type AND s.d = o.d
"""


QUERIES: dict[str, Query] = {
    "ts_resample": Query(
        ts_resample, TS_RESAMPLE_SQL, "calendar-spine gap fill + forward fill"
    ),
    "ts_interpolate": Query(
        ts_interpolate, TS_INTERPOLATE_SQL,
        "calendar-spine linear interpolation"),
    "ts_rolling_zscore": Query(
        ts_rolling_zscore, TS_ROLLING_ZSCORE_SQL,
        "trailing-window z-score anomaly detection"),
    "ts_ewma": Query(
        ts_ewma, TS_EWMA_SQL,
        "trailing-window EWMA via frame-ordered sequential fold",
    ),
    "ts_gap_detect": Query(
        ts_gap_detect, TS_GAP_DETECT_SQL,
        "per-user >24h silence gaps (gaps-and-islands dual of sessionize)",
    ),
    "ts_anomaly_mad": Query(
        ts_anomaly_mad, TS_ANOMALY_MAD_SQL,
        "median/MAD robust outlier fence per event type (exact-regime sketch)",
    ),
    "ts_seasonal": Query(
        ts_seasonal, TS_SEASONAL_SQL,
        "day-of-week seasonal profile + index from exact decimal moments",
        eager="compute",
    ),
    "ts_cusum": Query(
        ts_cusum, TS_CUSUM_SQL,
        "CUSUM drift detector via the drawdown identity (no recursion)",
    ),
    "ts_autocorr": Query(
        ts_autocorr, TS_AUTOCORR_SQL,
        "lag-1 autocorrelation from exact decimal moments",
    ),
    "ts_trend_mk": Query(
        ts_trend_mk, TS_TREND_MK_SQL,
        "Mann-Kendall trend statistic per event type (exact integers)",
        eager="compute",
    ),
    "ts_holt": Query(
        ts_holt, TS_HOLT_SQL,
        "Holt linear smoothing: level+trend struct fold per user",
    ),
    "ts_changepoint": Query(
        ts_changepoint, TS_CHANGEPOINT_SQL,
        "CUSUM-argmax changepoint location per user (exact integers)",
    ),
    "ts_theil_sen": Query(
        ts_theil_sen, TS_THEIL_SEN_SQL,
        "Theil-Sen robust trend slope per event type (exact-rank median)",
        eager="compute",
    ),
    "ts_active_users": Query(
        ts_active_users, TS_ACTIVE_USERS_SQL,
        "DAU / trailing-7d WAU / new / cumulative actives per day",
        eager="compute",
    ),
    "ts_burstiness": Query(
        ts_burstiness, TS_BURSTINESS_SQL,
        "Fano factor + rational burstiness of daily counts per type",
    ),
    "ts_cross_corr": Query(
        ts_cross_corr, TS_CROSS_CORR_SQL,
        "click->purchase lead-lag correlation scan (lags -7..7)",
        eager="compute",
    ),
    "ts_anova_weekday": Query(
        ts_anova_weekday, TS_ANOVA_WEEKDAY_SQL,
        "one-way ANOVA of value by ISO weekday (quantized exact moments)",
    ),
    "ts_gap_fill": Query(
        ts_gap_fill, TS_GAP_FILL_SQL,
        "calendar-spine fill: silent days become explicit zero rows",
        eager="compute",
    ),
}
