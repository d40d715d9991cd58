"""Data-quality operators (key prefix ``dq_``): declarative expectations,
column profiles, referential, temporal and uniqueness audits,
distribution checks (Benford, drift, saturation, outlier fences),
freshness and completeness monitors, control charts, JSON schema
discovery and cross-engine table checksums.

Each audit is one or two scans that collapse the corpus to a bounded
result before any window or join runs.

The reference delegates all analytics of this shape to its warehouse/gold
tier (reference README.md:108-118 declares the tier but ships no
implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fin, fquant, spread, t


# --------------------------------------------------- data-quality audit


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (Deequ-style expectations): one row
    per rule with its violation count. All per-table rules evaluate in a
    SINGLE conditional-aggregation pass over that table (``sum(case
    when)`` — map-side combinable, one scan regardless of rule count),
    then unpivot via ``stack``. The uniqueness rule needs a distinct and
    runs as its own aggregate. This is the audit layer the reference's
    clean_taxi step implies but never formalizes (reference:
    src/glue_scripts/bronze_to_silver.py drops nulls silently).
    """
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    li_counts = li.agg(
        viol(~F.col("l_quantity").between(1, 50)).alias("qty_range"),
        viol(~F.col("l_discount").between(0.0, 0.10)).alias("disc_range"),
        viol(F.col("l_shipdate").isNull()).alias("shipdate_null"),
        viol(
            F.col("l_extendedprice") <= F.lit(0.0)
        ).alias("price_nonpositive"),
        (
            F.count(F.lit(1))
            - F.countDistinct(F.struct("l_orderkey", "l_linenumber"))
        ).cast("long").alias("line_key_dup"),
    )
    ev_counts = ev.agg(
        viol(F.col("ts").isNull()).alias("ts_null"),
        viol(F.col("user_id").isNull()).alias("user_null"),
        viol(
            F.col("value").isNotNull() & (F.col("value") < 0.0)
        ).alias("value_negative"),
    )
    li_rules = li_counts.select(
        F.expr(
            "stack(5,"
            " 'lineitem.qty_range', qty_range,"
            " 'lineitem.disc_range', disc_range,"
            " 'lineitem.shipdate_null', shipdate_null,"
            " 'lineitem.price_nonpositive', price_nonpositive,"
            " 'lineitem.line_key_dup', line_key_dup)"
            " AS (rule, violations)"
        )
    )
    ev_rules = ev_counts.select(
        F.expr(
            "stack(3,"
            " 'events.ts_null', ts_null,"
            " 'events.user_null', user_null,"
            " 'events.value_negative', value_negative)"
            " AS (rule, violations)"
        )
    )
    return li_rules.unionByName(ev_rules)


# Every aggregate is CAST to BIGINT: DuckDB's SUM over integers returns
# HUGEINT (int128), which pandas materializes as float — "0.0" vs
# Spark's long "0" — a pure dtype artifact that would hash-mismatch.
DQ_EXPECTATIONS_SQL = """
SELECT 'lineitem.qty_range' AS rule,
       CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
            AS BIGINT) AS violations FROM lineitem
UNION ALL
SELECT 'lineitem.disc_range',
       CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.10
                     THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'lineitem.shipdate_null',
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'lineitem.price_nonpositive',
       CAST(SUM(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'lineitem.line_key_dup',
       CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'events.ts_null',
       CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
UNION ALL
SELECT 'events.user_null',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       FROM events
UNION ALL
SELECT 'events.value_negative',
       CAST(SUM(CASE WHEN value IS NOT NULL AND value < 0.0
                     THEN 1 ELSE 0 END) AS BIGINT)
       FROM events
"""


# ------------------------------------------------------------- dq_benford

#: Benford expected share per leading digit d: log10(1 + 1/d). Computed
#: ONCE here in Python and injected as nine double literals — libm
#: ``log10`` never runs inside either engine, so the expectation column
#: cannot drift (the same no-transcendentals stance as llm_bigram_lm).
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit histogram of ``value`` vs Benford's law.
    The digit is extracted from the EXACT DECIMAL(18,4) rendering of the
    value (both engines print a scale-4 decimal with identical digits —
    never from the double's shortest-repr string, which is
    engine-formatted), via the first [1-9] in the string; value > 0
    guarantees one exists. Expected shares are compile-time literals
    (see ``BENFORD_P``), so the deviation column is one IEEE subtraction
    of bit-identical doubles.

    Scale: one map-side-combinable 9-group count; the grand total is a
    window over the 9-row count relation (the naive second aggregation
    branch would re-scan the corpus) and the expectation rides in as a
    CASE projection — no join at all.

    The classic anomaly/fraud screen: natural multi-magnitude measurements
    follow Benford's law, and a metric whose first-digit histogram departs
    from it was probably generated, capped, or tampered with."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    digit = F.regexp_extract(dec("value").cast("string"), "[1-9]", 0).cast(
        "int"
    )
    cnt = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    # the grand total is a window over the 9-row count relation — a
    # second aggregation branch would re-scan and re-count the corpus
    # (Catalyst duplicates the subtree); the single-partition exchange
    # here moves 9 rows
    cnt = cnt.withColumn("total", F.sum("n").over(Window.partitionBy()))
    expected = F.when(F.col("digit") == 1, F.lit(BENFORD_P[1]))
    for d in range(2, 10):
        expected = expected.when(F.col("digit") == d, F.lit(BENFORD_P[d]))
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    return (
        cnt
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.col("n").cast("long").alias("n"),
            fquant(obs, 6).alias("obs_share"),
            fquant(expected, 6).alias("benford_share"),
            fquant(obs - expected, 6).alias("deviation"),
        )
    )


_BENFORD_CASE = " ".join(
    f"WHEN digit = {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10)
)

DQ_BENFORD_SQL = f"""
WITH cnt AS (
    SELECT CAST(regexp_extract(
               CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) AS VARCHAR), '[1-9]', 0)
           AS INT) AS digit,
           COUNT(*) AS n
    FROM events WHERE value IS NOT NULL AND value > 0
    GROUP BY 1
), tot AS (SELECT SUM(n) AS total FROM cnt)
SELECT CAST(digit AS BIGINT) AS digit,
       CAST(n AS BIGINT) AS n,
       floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0)
           / 1000000.0 AS obs_share,
       floor((CASE {_BENFORD_CASE} END) * 1000000.0) / 1000000.0
           AS benford_share,
       floor((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
              - (CASE {_BENFORD_CASE} END)) * 1000000.0) / 1000000.0
           AS deviation
FROM cnt CROSS JOIN tot
"""


# -------------------------------------------------------------- dq_profile

#: (column, renderer) pairs for the orders profile. The renderer pins a
#: cross-engine-deterministic STRING form per type: integers verbatim,
#: doubles through the exact DECIMAL(18,4) rendering (both engines print
#: all four scale digits), timestamps through an explicit
#: second-resolution format (both engines truncate sub-second).
_PROFILE_COLS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
)


def _render(col: Column, kind: str) -> Column:
    if kind == "double":
        # Floor-quantize BEFORE the decimal render (the fquant mirror):
        # casting a raw double to DECIMAL(18,4) ROUNDS it, and Spark
        # (BigDecimal.valueOf on the shortest decimal repr) and DuckDB
        # (rounding the binary value) disagree at 5th-decimal half
        # boundaries. A floor-quantized double sits ~1e-12 off the
        # 4-decimal grid, never at a half boundary, so the subsequent
        # cast is exact on both engines while keeping the fixed
        # "x.xxxx" string form.
        return (
            fquant(col, 4).cast("decimal(18,4)").cast("string")
        )
    if kind == "timestamp":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``orders``: row count, null count,
    EXACT distinct count, and min/max rendered to a per-type
    deterministic string — the schema-wide health report a pipeline
    publishes with every load (the approximate sibling is
    ``agg_approx_distinct``; the assertion form is ``dq_expectations``).

    Scale: TWO single-row passes joined 1×1 (the maintenance_analyze
    split): the exact NDVs ride Spark's Expand-based multi-DISTINCT
    plan alone, while counts and min/max take a separate plain
    whole-stage-codegen pass — folding the STRING min/max into the
    Expand aggregate reads once but drops them out of codegen, and the
    interpreted fallback over the 6× expanded rows dwarfs the extra
    scan (measured on maintenance_analyze: 10 s vs 2.9 s at sf0.1; this
    key re-measured 4.5× → 2.0× at 10× data after the split). Exact NDV
    is the audit path; at 100 TB the default profile flips to HLL
    (``agg_approx_distinct`` / ``agg_sketch_merge``)."""
    orders = t(spark, sf_dir, "orders")
    ndv_row = orders.agg(
        *[
            F.countDistinct(c).alias(f"nd_{c}")
            for c, _ in _PROFILE_COLS
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        # double min/max profile the FINITE domain: a NaN/±Inf outlier
        # has no decimal rendering (Spark NULLs the cast, DuckDB throws)
        # — the oracle mirrors with MIN/MAX over isfinite(c).
        src = fin(c) if kind == "double" else F.col(c)
        aggs.append(_render(F.min(src), kind).alias(f"mn_{c}"))
        aggs.append(_render(F.max(src), kind).alias(f"mx_{c}"))
    one = orders.agg(*aggs).crossJoin(ndv_row)  # 1×1
    stack = F.expr(
        "stack({n}, {args}) AS (column_name, n_nonnull, n_distinct,"
        " min_value, max_value)".format(
            n=len(_PROFILE_COLS),
            args=", ".join(
                f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}"
                for c, _ in _PROFILE_COLS
            ),
        )
    )
    return one.select("n_rows", stack).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("n_nonnull")).cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def _profile_sql() -> str:
    branches = []
    for c, kind in _PROFILE_COLS:
        if kind == "double":
            fc = f"CASE WHEN isfinite({c}) THEN {c} END"
            mn = (
                f"CAST(CAST(floor(MIN({fc}) * 10000.0) / 10000.0"
                f" AS DECIMAL(18,4)) AS VARCHAR)"
            )
            mx = (
                f"CAST(CAST(floor(MAX({fc}) * 10000.0) / 10000.0"
                f" AS DECIMAL(18,4)) AS VARCHAR)"
            )
        elif kind == "timestamp":
            mn = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = f"CAST(MIN({c}) AS VARCHAR)"
            mx = f"CAST(MAX({c}) AS VARCHAR)"
        branches.append(
            f"SELECT '{c}' AS column_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,"
            f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM orders"
        )
    return "\nUNION ALL\n".join(branches)


DQ_PROFILE_SQL = _profile_sql()


# ---------------------------------------------------------- dq_referential

#: (edge label, child table, fk column, parent table, pk column). The
#: first three edges are the schema's real FK contracts (expected
#: orphan-free); the last audits events.user_id against the customer
#: key space, where orphans are EXPECTED (users ≠ customers) — a
#: non-degenerate row that keeps the key's output informative.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey"),
)


def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: for each declared FK
    edge, the child row count, the number of DISTINCT orphan key values
    and the number of orphan ROWS (child rows whose FK has no parent).
    This is the between-tables companion to ``dq_expectations``
    (within-table) and ``dq_profile`` (per-column) — the audit every
    warehouse load gate runs before publishing.

    Scale: per edge, the child collapses to a (key, row-count) relation
    first (one map-side-combinable shuffle — key-sized, not row-sized),
    then LEFT-joins the parent's distinct key relation; orphan sums are
    conditional aggregates over the joined key relation. The parent key
    side is dimension-sized (broadcast-eligible); nothing row-sized
    crosses a second shuffle. Four edges union into a 4-row result."""
    parts = []
    for label, child, fk, parent, pk in _FK_EDGES:
        ck = (
            t(spark, sf_dir, child)
            .filter(F.col(fk).isNotNull())
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pkeys = (
            t(spark, sf_dir, parent)
            .select(F.col(pk).alias("pk"))
            .distinct()
        )
        joined = ck.join(
            F.broadcast(pkeys), ck.k == pkeys.pk, "left"
        )
        orphan = F.col("pk").isNull()
        parts.append(
            joined.agg(
                F.lit(label).alias("fk_edge"),
                F.sum("cnt").cast("long").alias("n_child_rows"),
                F.coalesce(
                    F.count(F.when(orphan, 1)), F.lit(0)
                ).cast("long").alias("n_orphan_keys"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("cnt"))), F.lit(0)
                ).cast("long").alias("n_orphan_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _referential_sql() -> str:
    branches = []
    for label, child, fk, parent, pk in _FK_EDGES:
        branches.append(f"""
SELECT '{label}' AS fk_edge,
       CAST(SUM(cnt) AS BIGINT) AS n_child_rows,
       CAST(COALESCE(COUNT(CASE WHEN pk IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_orphan_keys,
       CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt END), 0)
            AS BIGINT) AS n_orphan_rows
FROM (
    SELECT {fk} AS k, COUNT(*) AS cnt FROM {child}
    WHERE {fk} IS NOT NULL GROUP BY 1
) c LEFT JOIN (
    SELECT DISTINCT {pk} AS pk FROM {parent}
) p ON c.k = p.pk""")
    return "\nUNION ALL\n".join(branches)


DQ_REFERENTIAL_SQL = _referential_sql()


# ------------------------------------------------------------------ dq_spc


def dq_spc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart on daily event volumes per type: 3σ
    limits from the series' own exact moments, each day flagged when
    its count leaves the band — the ingestion-volume monitor every
    pipeline dashboard renders (ts_cusum finds WHERE the level shifted;
    SPC flags individual out-of-control days against stable limits).

    Determinism: daily counts and both moment sums are exact integers
    (windows over the days-sized relation); mean, variance, σ and the
    limits are the IDENTICAL double expression tree on both engines
    (sqrt is IEEE correctly-rounded, so identical operands ⇒ identical
    σ — the ts_rolling_zscore precedent), and the flag compares exact
    integer counts against those bit-identical limits.

    Scale: one map-side-combinable (type, day) count; windows run on
    the ≤ #types·#days relation."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type")
    n = F.count(F.lit(1)).over(w).cast("double")
    sc = F.sum("c").over(w).cast("double")
    scc = F.sum(F.col("c") * F.col("c")).over(w).cast("double")
    mean = sc / n
    sigma = F.sqrt((n * scc - sc * sc) / (n * n))
    ucl = mean + 3.0 * sigma
    lcl = mean - 3.0 * sigma
    return daily.select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("n_events"),
        fquant(mean, 4).alias("center"),
        fquant(ucl, 4).alias("ucl"),
        fquant(lcl, 4).alias("lcl"),
        (
            (F.col("c").cast("double") > ucl)
            | (F.col("c").cast("double") < lcl)
        ).alias("out_of_control"),
    )


DQ_SPC_SQL = """
WITH daily AS (
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
), m AS (
    SELECT event_type, day, c,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n,
           CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE) AS sc,
           CAST(SUM(c * c) OVER (PARTITION BY event_type) AS DOUBLE)
             AS scc
    FROM daily
)
SELECT event_type, day,
       CAST(c AS BIGINT) AS n_events,
       floor(sc / n * 10000.0) / 10000.0 AS center,
       floor((sc / n + 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
             * 10000.0) / 10000.0 AS ucl,
       floor((sc / n - 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
             * 10000.0) / 10000.0 AS lcl,
       (CAST(c AS DOUBLE) > sc / n
            + 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
       OR (CAST(c AS DOUBLE) < sc / n
            - 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
         AS out_of_control
FROM m
"""


# ------------------------------------------------------------ dq_freshness

FRESH_MIN = 60
STALE_MIN = 1440


def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-freshness audit per event type: minutes of lag behind
    the corpus watermark (the global max timestamp), a staleness tier,
    and the trailing-24h volume — the publish gate a 100 TB feed checks
    per partition before declaring a snapshot consumable (O3/O4's
    watermark made queryable).

    Determinism: every comparison and the lag itself run on integer
    epoch microseconds (Spark unix_micros ≡ DuckDB epoch_us); the tier
    is a CASE over the integer minutes. No floats anywhere.

    Scale: the watermark is a 1-row aggregate broadcast onto the
    corpus (the standard scalar-attach 1×N pattern — never a shuffle),
    then ONE map-side-combinable groupBy per type."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    gmax = ev.agg(F.max("us").alias("gmax_us"))
    lag_min = (F.col("gmax_us") - F.col("max_us")) / F.lit(60000000)
    day_us = 86400000000
    agg = (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("us").alias("max_us"),
            F.sum(
                (F.col("us") > F.col("gmax_us") - day_us).cast("long")
            ).alias("n_last_24h"),
            F.max("gmax_us").alias("gmax_us"),
        )
    )
    lm = F.floor(lag_min).cast("long")
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("max_us").cast("long").alias("latest_us"),
        lm.alias("lag_minutes"),
        F.when(lm < FRESH_MIN, F.lit("fresh"))
        .when(lm < STALE_MIN, F.lit("stale"))
        .otherwise(F.lit("dead"))
        .alias("tier"),
        F.col("n_last_24h").cast("long").alias("n_last_24h"),
    )


DQ_FRESHNESS_SQL = f"""
WITH ev AS (
    SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), g AS (
    SELECT MAX(us) AS gmax_us FROM ev
), agg AS (
    SELECT event_type,
           COUNT(*) AS n_events,
           MAX(us) AS max_us,
           SUM(CASE WHEN us > gmax_us - {86400000000} THEN 1 ELSE 0 END)
             AS n_last_24h,
           MAX(gmax_us) AS gmax_us
    FROM ev, g GROUP BY event_type
)
SELECT event_type,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(max_us AS BIGINT) AS latest_us,
       CAST(floor((gmax_us - max_us) / 60000000) AS BIGINT)
         AS lag_minutes,
       CASE WHEN floor((gmax_us - max_us) / 60000000) < {FRESH_MIN}
              THEN 'fresh'
            WHEN floor((gmax_us - max_us) / 60000000) < {STALE_MIN}
              THEN 'stale'
            ELSE 'dead' END AS tier,
       CAST(n_last_24h AS BIGINT) AS n_last_24h
FROM agg
"""


# ------------------------------------------------------------- dq_uniqueness

#: (table, output label, key expression) triples audited for key
#: uniqueness. The lineitem key is composite — audited via the pair,
#: not a concatenation (string concat invites separator collisions).
UNIQ_SPECS = (
    ("orders", "orders.o_orderkey"),
    ("customer", "customer.c_custkey"),
    ("part", "part.p_partkey"),
    ("supplier", "supplier.s_suppkey"),
    ("events", "events.event_id"),
    ("documents", "documents.doc_id"),
)


def _uniq_one(df: DataFrame, label: str, *keys: str) -> DataFrame:
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_keys"),
        F.max("cnt").cast("long").alias("max_multiplicity"),
    ).select(
        F.lit(label).alias("key_name"),
        "n_rows",
        "n_keys",
        "dup_keys",
        "max_multiplicity",
    )


def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every declared key in the
    catalog: rows vs distinct keys, how many keys repeat, and the worst
    multiplicity — the check every warehouse runs before trusting a
    join key (a silently duplicated key turns every downstream join
    into a row multiplier; dq_referential audits the EDGES of the
    schema, this audits the NODES). lineitem's composite
    (l_orderkey, l_linenumber) is audited as the pair.

    Determinism: pure exact-integer counting — nothing to quantize.

    Scale: one map-side-combinable groupBy per table on its own key
    (each collapses to per-key counts before the tiny final
    aggregate); the per-table 1-row results union. No joins — each
    table is audited independently, so a 100 TB fact costs exactly one
    count-shuffle on its key."""
    parts = [
        _uniq_one(
            t(spark, sf_dir, tbl).select(col.split(".")[1]),
            col,
            col.split(".")[1],
        )
        for tbl, col in UNIQ_SPECS
    ]
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    parts.append(
        _uniq_one(
            li, "lineitem.(l_orderkey,l_linenumber)",
            "l_orderkey", "l_linenumber",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_UNIQ_ONE_SQL = """
    SELECT '{label}' AS key_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_multiplicity
    FROM (SELECT {key}, COUNT(*) AS cnt FROM {table} GROUP BY {key})
"""

DQ_UNIQUENESS_SQL = "\nUNION ALL\n".join(
    [
        _UNIQ_ONE_SQL.format(
            label=lbl, key=lbl.split(".")[1], table=tbl
        )
        for tbl, lbl in UNIQ_SPECS
    ]
    + [
        _UNIQ_ONE_SQL.format(
            label="lineitem.(l_orderkey,l_linenumber)",
            key="l_orderkey, l_linenumber",
            table="lineitem",
        )
    ]
)


# ---------------------------------------------------------- dq_iqr_outliers


def dq_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey box-plot outlier audit per event type: exact rank-based
    quartiles (q₁ at rank ⌈n/4⌉, q₃ at rank ⌈3n/4⌉ — selected, never
    interpolated) and the count of values outside the 1.5×IQR fences.
    The distribution-shape complement of dq_spc's 3σ chart: σ-based
    limits assume symmetry, Tukey fences don't.

    Determinism: values are exact scaled BIGINTs; the fences are
    compared in DOUBLED integer space (2v < 5q₁ − 3q₃ ⟺
    v < q₁ − 1.5·IQR), so the 1.5 multiplier never exists as a float —
    the whole audit is integer arithmetic until the two rendered
    quartiles (one exact division each).

    Scale: ONE hash shuffle on event_type; the quartile extraction
    rides the same rank window (max-of-case over the partition), and
    the outlier counts aggregate the same windowed relation — no
    second scan, no self-join."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: a non-finite value has no rank on the
        # exact decimal grid (dec() NULLs it, and NULL ordering
        # diverges NULLS FIRST/LAST between engines) — oracle isfinite
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    v = (dec("value") * 10000).cast("long")
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("v").asc(), F.col("event_id").asc()
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = ev.select(
        "event_type",
        "event_id",
        v.alias("v"),
    ).select(
        "event_type",
        "v",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    q1 = F.max(
        F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("v"))
    ).over(wall)
    q3 = F.max(
        F.when(F.col("rn") == F.expr("(3 * n + 3) DIV 4"), F.col("v"))
    ).over(wall)
    fenced = ranked.select(
        "event_type",
        "v",
        "n",
        q1.alias("q1s"),
        q3.alias("q3s"),
    )
    per = fenced.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("q1s").alias("q1s"),
        F.max("q3s").alias("q3s"),
        F.sum(
            F.when(
                2 * F.col("v") < 5 * F.col("q1s") - 3 * F.col("q3s"), 1
            ).otherwise(0)
        ).cast("long").alias("n_low"),
        F.sum(
            F.when(
                2 * F.col("v") > 5 * F.col("q3s") - 3 * F.col("q1s"), 1
            ).otherwise(0)
        ).cast("long").alias("n_high"),
    )
    return per.select(
        "event_type",
        "n",
        (F.col("q1s").cast("double") / 10000.0).alias("q1"),
        (F.col("q3s").cast("double") / 10000.0).alias("q3"),
        "n_low",
        "n_high",
    )


DQ_IQR_OUTLIERS_SQL = """
WITH ranked AS (
    SELECT event_type,
           CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))
                                            * 10000 AS BIGINT) ASC,
                                       event_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL AND isfinite(value)
), fenced AS (
    SELECT event_type, v, n,
           MAX(CASE WHEN rn = (n + 3) // 4 THEN v END)
             OVER (PARTITION BY event_type) AS q1s,
           MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END)
             OVER (PARTITION BY event_type) AS q3s
    FROM ranked
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(q1s) AS DOUBLE) / 10000.0 AS q1,
       CAST(MAX(q3s) AS DOUBLE) / 10000.0 AS q3,
       CAST(SUM(CASE WHEN 2 * v < 5 * q1s - 3 * q3s THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN 2 * v > 5 * q3s - 3 * q1s THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM fenced GROUP BY event_type
"""


# --------------------------------------------------------------- dq_tvd_drift


def dq_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total variation distance between the event-type mix of the
    corpus's first and second half (split at the midpoint epoch-day):
    TVD = ½ Σ_t |p_t − q_t| — the largest possible probability gap a
    consumer of the stream could observe. The THRESHOLDABLE drift
    number (ml_chi2 answers "is the drift significant", TVD answers
    "how big is it" — dashboards plot this one).

    Determinism: FULLY rational until one division —
    |p_t − q_t| = |c1_t·n2 − c2_t·n1| / (n1·n2), so the per-type
    numerators and their total are exact integers (DECIMAL(38,0) /
    HUGEINT products) over the common denominator 2·n1·n2. The split
    point is (min_day + max_day + 1) DIV 2 — exact integers off one
    pre-aggregation.

    Scale: the corpus collapses to (type, day) counts in ONE
    map-side-combinable shuffle; min/max day, half totals and the TVD
    total all ride windows over that days×types relation. The 1-row
    split bound never leaves the executors."""
    ev = t(spark, sf_dir, "events")
    per_day = ev.groupBy(
        "event_type",
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mid = F.expr("(min(d) OVER () + max(d) OVER () + 1) DIV 2")
    halved = per_day.select(
        "event_type",
        "c",
        (F.col("d") < mid).alias("in_first"),
    )
    per_type = halved.groupBy("event_type").agg(
        F.sum(F.when(F.col("in_first"), F.col("c")).otherwise(0))
        .alias("c1"),
        F.sum(F.when(~F.col("in_first"), F.col("c")).otherwise(0))
        .alias("c2"),
    )
    n1 = F.sum("c1").over(wall)
    n2 = F.sum("c2").over(wall)
    num = F.abs(
        F.col("c1").cast("decimal(38,0)") * n2.cast("decimal(38,0)")
        - F.col("c2").cast("decimal(38,0)") * n1.cast("decimal(38,0)")
    )
    staged = per_type.select(
        "event_type",
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        num.alias("num"),
        n1.alias("n1"),
        n2.alias("n2"),
    )
    tot = F.sum("num").over(wall)
    den2 = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("n1").cast("decimal(38,0)")
        * F.col("n2").cast("decimal(38,0)")
    )
    # empty-half guard: a corpus whose first or second half holds no
    # events (single-day data puts EVERYTHING in half 2 — mid equals
    # the only day) has no comparison distribution; TVD is undefined —
    # NULL, never a divide (Spark 4 ANSI throws on /0). NULL cells,
    # never fabricated zeros, per the engine's panel-estimator contract.
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return staged.select(
        "event_type",
        "c1",
        "c2",
        fquant(
            F.when(ok, F.col("num").cast("double") / den2.cast("double")), 9
        ).alias("contrib"),
        fquant(
            F.when(ok, tot.cast("double") / den2.cast("double")), 9
        ).alias("tvd"),
    )


DQ_TVD_DRIFT_SQL = """
WITH per_day AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
), halved AS (
    SELECT event_type, c,
           d < (MIN(d) OVER () + MAX(d) OVER () + 1) // 2 AS in_first
    FROM per_day
), per_type AS (
    SELECT event_type,
           SUM(CASE WHEN in_first THEN c ELSE 0 END) AS c1,
           SUM(CASE WHEN NOT in_first THEN c ELSE 0 END) AS c2
    FROM halved GROUP BY 1
), staged AS (
    SELECT event_type, c1, c2,
           abs(CAST(c1 AS HUGEINT) * SUM(c2) OVER ()
               - CAST(c2 AS HUGEINT) * SUM(c1) OVER ()) AS num,
           SUM(c1) OVER () AS n1,
           SUM(c2) OVER () AS n2
    FROM per_type
)
SELECT event_type,
       CAST(c1 AS BIGINT) AS c1,
       CAST(c2 AS BIGINT) AS c2,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         floor(CAST(num AS DOUBLE)
               / CAST(2 * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT)
                      AS DOUBLE)
               * 1000000000.0) / 1000000000.0 END AS contrib,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         floor(CAST(SUM(num) OVER () AS DOUBLE)
               / CAST(2 * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT)
                      AS DOUBLE)
               * 1000000000.0) / 1000000000.0 END AS tvd
FROM staged
"""


# ------------------------------------------------------------- dq_out_of_order


def dq_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order delivery audit: per event type, how many events
    carry a timestamp EARLIER than the running maximum of their user's
    stream in event_id order, and the worst backward jump in
    microseconds. This is the empirical late-arrival profile that
    sizes a streaming watermark — stream_late_data ENFORCES a
    watermark; this key measures what it should have been (max_late_us
    is the smallest allowed-lateness that would have dropped nothing).

    Determinism: epoch-microsecond integers and a running integer max
    over the (user, event_id) total order — pure exact arithmetic.

    Scale: ONE user_id window shuffle (running max is O(1) state per
    row), then a map-side-combinable per-type collapse."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros("ts")
    staged = ev.select(
        "event_type",
        us.alias("us"),
        F.max(us).over(w).alias("run_max"),
    )
    late = F.col("run_max") - F.col("us")
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(late > 0, 1).otherwise(0))
        .cast("long").alias("n_late"),
        F.max(late).cast("long").alias("max_late_us"),
    ).select(
        "event_type",
        "n",
        "n_late",
        "max_late_us",
        fquant(
            F.col("n_late").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("late_share"),
    )


DQ_OUT_OF_ORDER_SQL = """
WITH staged AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           MAX(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id ORDER BY event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS run_max
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN run_max - us > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(MAX(run_max - us) AS BIGINT) AS max_late_us,
       floor(CAST(SUM(CASE WHEN run_max - us > 0 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 1000000.0) / 1000000.0
         AS late_share
FROM staged GROUP BY event_type
"""


# --------------------------------------------------------- dq_embedding_audit

#: Expected vector width; anything else is dimension drift. Norm
#: squares quantize at 1e12 per element (exact BIGINT sums), norms at
#: 1e6 per vector (exact BIGINT means).
EMB_DIM = 64


def dq_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-quality audit of the embeddings table, per label:
    dimension drift (len ≠ 64), zero vectors, non-finite elements, and
    norm statistics — the check that catches a broken encoder (NaNs,
    collapsed vectors, wrong width) BEFORE the ANN family
    (llm_sim_search*/knn) builds a 100 TB index on garbage.

    Determinism: each element's square is cast-to-double and
    quantized to a BIGINT (floor(x²·10¹²)) INSIDE the array fold, so
    the per-vector norm² is an exact integer sum in array order; the
    per-vector norm is one IEEE √, quantized to 1e6 before the
    cross-row mean (order-independent integer sum). Min/max norms
    compare bit-identical doubles.

    Scale: one Arrow-free JVM pass (higher-order array functions in
    codegen), one map-side-combinable per-label collapse."""
    emb = t(spark, sf_dir, "embeddings").select(
        "label",
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("v"),
    )
    # The audit REPORTS poisoned vectors (n_nonfinite) instead of
    # excluding them, so the norm must be computable in their presence:
    # it sums the FINITE components only (an Inf² would overflow the
    # scaled-integer sum loudly; NaN would poison it silently). Oracle
    # mirrors with list_filter(isfinite) + COALESCE(…, 0) for the
    # all-poisoned vector whose filtered list is empty (Spark's fold
    # seed is 0).
    norm2_s = F.expr(
        "aggregate(filter(v, x -> not (isnan(x) or "
        "abs(x) = cast('Infinity' as double))), cast(0 as bigint), "
        "(acc, x) -> acc + cast(floor(x * x * 1e12) as bigint))"
    )
    n_nonfinite = F.expr(
        "size(filter(v, x -> isnan(x) or abs(x) = cast('Infinity' as double)))"
    )
    # A NULL embedding is a MISSING vector (round-13 file-layout axis:
    # an all-NULL-column part file is a realistic broken-writer shape):
    # it has no dim, no norm, no components — it is COUNTED (n_null_vec,
    # the audit reports, it never drops) but contributes nothing to the
    # dim/zero/nonfinite/norm statistics. All per-vector expressions
    # above yield NULL on a NULL v, so the aggregates below skip those
    # rows natively; only the mean's denominator needs the non-null
    # count, guarded for the all-NULL label.
    staged = emb.select(
        "label",
        F.col("v").isNull().alias("is_null_vec"),
        F.size("v").alias("dim"),
        norm2_s.alias("norm2_s"),
        n_nonfinite.alias("n_nonfinite"),
    ).select(
        "label",
        "is_null_vec",
        "dim",
        "n_nonfinite",
        F.floor(
            F.sqrt(F.col("norm2_s").cast("double") / F.lit(1e12))
            * F.lit(1e6)
        ).cast("long").alias("norm_q6"),
    )
    n_normed = F.count("norm_q6")
    return staged.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.when(F.col("is_null_vec"), 1).otherwise(0)
        ).cast("long").alias("n_null_vec"),
        F.sum(
            F.when(F.col("dim") != EMB_DIM, 1).otherwise(0)
        ).cast("long").alias("n_dim_drift"),
        F.sum(
            F.when(F.col("norm_q6") == 0, 1).otherwise(0)
        ).cast("long").alias("n_zero_vec"),
        F.sum("n_nonfinite").cast("long").alias("n_nonfinite"),
        F.when(
            n_normed > 0,
            fquant(
                F.sum("norm_q6").cast("double")
                / (n_normed * 1000000).cast("double"),
                6,
            ),
        ).alias("mean_norm"),
        (F.min("norm_q6").cast("double") / 1e6).alias("min_norm"),
        (F.max("norm_q6").cast("double") / 1e6).alias("max_norm"),
    )


DQ_EMBEDDING_AUDIT_SQL = f"""
WITH staged AS (
    SELECT label,
           embedding IS NULL AS is_null_vec,
           len(embedding) AS dim,
           -- COALESCE only for a NON-NULL all-poisoned vector (its
           -- filtered list is empty; Spark's fold seed is 0). A NULL
           -- embedding has NO norm — it must stay NULL, not 0 (the
           -- round-13 file-layout axis caught the conflation: an
           -- all-NULL-column part file read as a batch of zero-norm
           -- vectors and dragged min_norm to 0).
           CASE WHEN embedding IS NULL THEN NULL
                ELSE COALESCE(list_sum(list_transform(
                  list_filter(embedding,
                              x -> isfinite(CAST(x AS DOUBLE))),
                  x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                  * 1e12) AS BIGINT))), 0)
           END AS norm2_s,
           len(list_filter(embedding,
             x -> isnan(CAST(x AS DOUBLE))
                  OR isinf(CAST(x AS DOUBLE)))) AS n_nonfinite
    FROM embeddings
), q AS (
    SELECT label, is_null_vec, dim, n_nonfinite,
           CAST(floor(sqrt(CAST(norm2_s AS DOUBLE) / 1e12) * 1e6)
                AS BIGINT) AS norm_q6
    FROM staged
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN is_null_vec THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_vec,
       CAST(SUM(CASE WHEN dim <> {EMB_DIM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dim_drift,
       CAST(SUM(CASE WHEN norm_q6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_vec,
       CAST(SUM(n_nonfinite) AS BIGINT) AS n_nonfinite,
       CASE WHEN COUNT(norm_q6) > 0 THEN
         floor(CAST(SUM(norm_q6) AS DOUBLE)
               / CAST(COUNT(norm_q6) * 1000000 AS DOUBLE)
               * 1000000.0) / 1000000.0
       END AS mean_norm,
       CAST(MIN(norm_q6) AS DOUBLE) / 1e6 AS min_norm,
       CAST(MAX(norm_q6) AS DOUBLE) / 1e6 AS max_norm
FROM q GROUP BY label
"""


# ------------------------------------------------------ dq_temporal_integrity


def dq_temporal_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causality audit of the order→ship timeline: per order priority,
    how many lineitems SHIPPED BEFORE their order was placed
    (violations a schema cannot declare but every downstream latency
    metric silently inherits), plus the fulfillment-lag profile
    (min/max/exact-integer-day bounds) for the sane rows. The
    cross-table constraint the reference's Glue job never checks
    before publishing silver (bronze_to_silver.py validates nothing).

    Determinism: lags are exact epoch-day integer differences; counts
    are integers; the mean lag is one division, floor-quantized.

    Scale: ONE orderkey-grain shuffle join (both sides keyed, AQE
    skew-splits hot orders) and one map-side-combinable collapse per
    priority class."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.date_diff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    ).cast("long")
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select("o_orderpriority", lag.alias("lag_days"))
    per = joined.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("lag_days") < 0, 1).otherwise(0)
        ).cast("long").alias("n_violations"),
        F.min("lag_days").cast("long").alias("min_lag_days"),
        F.max("lag_days").cast("long").alias("max_lag_days"),
        F.sum(
            F.when(F.col("lag_days") >= 0, F.col("lag_days"))
        ).alias("lag_sum"),
        F.sum(
            F.when(F.col("lag_days") >= 0, 1).otherwise(0)
        ).alias("n_ok"),
    )
    return per.select(
        "priority",
        "n",
        "n_violations",
        "min_lag_days",
        "max_lag_days",
        F.when(
            F.col("n_ok") > 0,
            fquant(
                F.col("lag_sum").cast("double")
                / F.col("n_ok").cast("double"),
                6,
            ),
        ).alias("mean_lag_days"),
    )


DQ_TEMPORAL_INTEGRITY_SQL = """
WITH joined AS (
    SELECT o.o_orderpriority AS priority,
           date_diff('day', CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE),
                     CAST(CAST(l.l_shipdate AS TIMESTAMP) AS DATE))
             AS lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), per AS (
    SELECT priority,
           COUNT(*) AS n,
           SUM(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS n_violations,
           MIN(lag_days) AS min_lag_days,
           MAX(lag_days) AS max_lag_days,
           SUM(CASE WHEN lag_days >= 0 THEN lag_days END) AS lag_sum,
           SUM(CASE WHEN lag_days >= 0 THEN 1 ELSE 0 END) AS n_ok
    FROM joined GROUP BY 1
)
SELECT priority,
       CAST(n AS BIGINT) AS n,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(min_lag_days AS BIGINT) AS min_lag_days,
       CAST(max_lag_days AS BIGINT) AS max_lag_days,
       CASE WHEN n_ok > 0 THEN
         floor(CAST(lag_sum AS DOUBLE) / CAST(n_ok AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS mean_lag_days
FROM per
"""


# ------------------------------------------------------- dq_completeness_trend


def dq_completeness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is missingness growing? Per day: row count and the null rates
    of the two nullable event columns (value, props), plus an exact
    Mann-Kendall S statistic on the daily value-null-rate series
    attached to every row (positive S = null rate trending UP — the
    alarm). dq_profile says how many nulls exist NOW; this key says
    where they're HEADING — the difference between a data-quality
    snapshot and a data-quality process.

    Determinism: rate comparisons inside S are cross-multiplied
    integer fractions (sign(nv_j·n_i − nv_i·n_j) — no float enters the
    trend); displayed rates are single divisions. The S scalar is a
    1-row broadcast attach (the scalar-attach pattern).

    Scale: one corpus collapse to per-day counts; the O(D²) pair scan
    for S runs on the calendar-bounded days relation."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("value").isNull(), 1).otherwise(0)
        ).alias("nv"),
        F.sum(
            F.when(F.col("props").isNull(), 1).otherwise(0)
        ).alias("np_"),
    ).localCheckpoint(eager=False)
    a, bb = daily.alias("a"), daily.alias("b")
    cross = (
        F.col("b.nv").cast("decimal(38,0)")
        * F.col("a.n").cast("decimal(38,0)")
        - F.col("a.nv").cast("decimal(38,0)")
        * F.col("b.n").cast("decimal(38,0)")
    )
    s = (
        a.join(bb, F.col("a.d") < F.col("b.d"))
        .select(F.signum(cross.cast("double")).cast("long").alias("sg"))
        .agg(F.sum("sg").alias("mk_s"))
    )
    return (
        daily.crossJoin(F.broadcast(s))
        .select(
            F.col("d").alias("epoch_day"),
            F.col("n").cast("long").alias("n"),
            fquant(
                F.col("nv").cast("double") / F.col("n").cast("double"), 6
            ).alias("null_value_rate"),
            fquant(
                F.col("np_").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("null_props_rate"),
            F.col("mk_s").cast("long").alias("mk_s_value_nulls"),
        )
    )


DQ_COMPLETENESS_TREND_SQL = """
WITH daily AS MATERIALIZED (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS n,
           SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nv,
           SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS np_
    FROM events GROUP BY 1
), s AS (
    -- no COALESCE: a single-day corpus has ZERO pairs, and the trend
    -- statistic over an empty pair relation is undefined — SUM yields
    -- NULL on both engines (the engine side's F.sum does the same).
    -- NULL cells, never fabricated zeros.
    SELECT SUM(CASE
             WHEN CAST(b.nv AS HUGEINT) * a.n
                  - CAST(a.nv AS HUGEINT) * b.n > 0 THEN 1
             WHEN CAST(b.nv AS HUGEINT) * a.n
                  - CAST(a.nv AS HUGEINT) * b.n < 0 THEN -1
             ELSE 0 END) AS mk_s
    FROM daily a JOIN daily b ON a.d < b.d
)
SELECT d AS epoch_day,
       CAST(n AS BIGINT) AS n,
       floor(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS null_value_rate,
       floor(CAST(np_ AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS null_props_rate,
       CAST(s.mk_s AS BIGINT) AS mk_s_value_nulls
FROM daily CROSS JOIN s
"""


# -------------------------------------------------------------- dq_table_checksum

#: Columns folded into each table's content fingerprint. Integer keys
#: and categorical strings ONLY — float columns are excluded because
#: their string rendering is engine-defined (shortest-repr vs printf),
#: which would make the checksum engine-local. That exclusion is the
#: documented contract of a CROSS-ENGINE checksum.
CHECKSUM_COLS = (
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority")),
    ("customer", ("c_custkey", "c_nationkey", "c_mktsegment")),
    ("lineitem", ("l_orderkey", "l_linenumber", "l_partkey",
                  "l_suppkey", "l_returnflag", "l_linestatus")),
    ("part", ("p_partkey", "p_brand", "p_type", "p_size")),
    ("supplier", ("s_suppkey", "s_nationkey",)),
    ("events", ("event_id", "user_id", "event_type")),
    ("documents", ("doc_id", "lang", "source", "n_chars")),
)

CHECKSUM_MASK = 2147483647  # low 31 bits of the md5 integer


def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum per table: each row's key +
    categorical columns render to a delimited canonical string, hash
    to the md5-low-31-bits integer (the convention any engine can
    compute natively — operators/dedup.py:319), and SUM exactly. Two
    copies of a table match iff (n_rows, checksum) match — the proof a
    migration or replication job runs after copying 100 TB, and
    literally the check this engine's own oracle gate performs,
    productized as an operator. Floats are excluded by contract (their
    string rendering is engine-defined).

    Determinism: integer sums of 31-bit values — exact to ~4·10⁹ rows
    per table in BIGINT, widened trivially beyond.

    Scale: one full scan per table, ZERO shuffles (the sum is one
    map-side-combinable global aggregate per table), results
    unioned."""
    parts = []
    for tbl, cols in CHECKSUM_COLS:
        df = t(spark, sf_dir, tbl)
        canon = F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
                   for c in cols]
        )
        h = F.md5(canon)
        b = [
            F.conv(F.substring(h, 1 + 2 * i, 2), 16, 10).cast("long")
            for i in range(4)
        ]
        low31 = (
            b[0] + 256 * b[1] + 65536 * b[2] + 16777216 * b[3]
        ).bitwiseAND(F.lit(CHECKSUM_MASK))
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(low31).cast("long").alias("checksum"),
            ).select(
                F.lit(tbl).alias("table_name"), "n_rows", "checksum"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _checksum_one_sql(tbl: str, cols: tuple) -> str:
    rendered = ", ".join(
        f"COALESCE(CAST({c} AS VARCHAR), '\\N')" for c in cols
    )
    return f"""
    SELECT '{tbl}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(md5_number_upper(concat_ws('|', {rendered}))
                         & {CHECKSUM_MASK} AS BIGINT)) AS BIGINT)
             AS checksum
    FROM {tbl}
"""


DQ_TABLE_CHECKSUM_SQL = "\nUNION ALL\n".join(
    _checksum_one_sql(tbl, cols) for tbl, cols in CHECKSUM_COLS
)


# ----------------------------------------------------------------- dq_json_schema


def dq_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over the semi-structured ``props`` JSON column:
    per discovered key — presence count, coverage of non-null JSON
    rows, how many of its values parse as integers, and the integer
    min/max. The on-boarding audit for any JSON feed (fn_json extracts
    a key you already know; this discovers what's there and whether
    its type is stable).

    Determinism: key discovery (json_object_keys ↔ json_keys) and
    try-cast integer parses are exact on both engines; coverage is one
    division of integers.

    Scale: one explode of the per-row key list (bounded by JSON width,
    not corpus size), one map-side-combinable per-key collapse; the
    non-null row total is a window over the keys-sized relation."""
    # spread after the pushed-down null filter: from_json +
    # json_object_keys are the per-row cost and would otherwise run on
    # the single row-group's one scan task (guide §2.5).
    ev = spread(
        t(spark, sf_dir, "events").filter(F.col("props").isNotNull()),
        sf_dir,
        "events",
    )
    # from_json to map + explode yields (key, value) pairs natively —
    # get_json_object can't take a per-row path (literal-only).
    # Malformed-JSON hardening (round-11 probe): rows whose props don't
    # parse contribute to n_json_rows but no keys (from_json → NULL map
    # ↔ oracle json_valid guard); DUPLICATE keys make the value
    # ambiguous (Spark's map keeps the LAST occurrence, DuckDB's
    # json_extract_string the FIRST) so such rows keep key presence but
    # their values are excluded from the type stats on both engines;
    # the integer parse is gated on an integral regex because DuckDB's
    # TRY_CAST ROUNDS '3.5' to 4 where Spark's try_cast nulls it.
    parsed = ev.select(
        F.from_json(F.col("props"), "map<string,string>").alias("m"),
        F.json_object_keys(F.col("props")).alias("jk"),
    ).filter(F.col("m").isNotNull())
    kv = parsed.select(
        (F.size("jk") != F.size(F.map_keys("m"))).alias("hasdup"),
        F.explode("m").alias("k", "val"),
    )
    ival = F.when(
        ~F.col("hasdup")
        & F.col("val").rlike(r"\A-?[0-9]{1,18}\z"),
        F.col("val").cast("long"),
    )
    per = kv.select("k", ival.alias("iv")).groupBy("k").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            F.when(F.col("iv").isNotNull(), 1).otherwise(0)
        ).alias("n_int"),
        F.min("iv").alias("int_min"),
        F.max("iv").alias("int_max"),
    )
    n_rows = ev.agg(F.count(F.lit(1)).alias("n_json_rows"))
    return per.crossJoin(F.broadcast(n_rows)).select(
        F.col("k").alias("json_key"),
        F.col("present").cast("long").alias("present"),
        F.col("n_json_rows").cast("long").alias("n_json_rows"),
        fquant(
            F.col("present").cast("double")
            / F.col("n_json_rows").cast("double"),
            6,
        ).alias("coverage"),
        F.col("n_int").cast("long").alias("n_int_values"),
        F.col("int_min").cast("long").alias("int_min"),
        F.col("int_max").cast("long").alias("int_max"),
    )


DQ_JSON_SCHEMA_SQL = """
WITH ev AS (
    SELECT props FROM events WHERE props IS NOT NULL
), keys_ AS (
    SELECT unnest(list_distinct(json_keys(props))) AS k, props,
           len(json_keys(props)) != len(list_distinct(json_keys(props)))
             AS hasdup
    FROM ev WHERE json_valid(props)
), vals AS (
    SELECT k,
           TRY_CAST(CASE WHEN NOT hasdup AND regexp_full_match(
                           json_extract_string(props, '$.' || k),
                           '-?[0-9]{1,18}')
                    THEN json_extract_string(props, '$.' || k) END
                    AS BIGINT) AS iv
    FROM keys_
), per AS (
    SELECT k,
           COUNT(*) AS present,
           SUM(CASE WHEN iv IS NOT NULL THEN 1 ELSE 0 END) AS n_int,
           MIN(iv) AS int_min,
           MAX(iv) AS int_max
    FROM vals GROUP BY 1
), n AS (
    SELECT COUNT(*) AS n_json_rows FROM ev
)
SELECT k AS json_key,
       CAST(present AS BIGINT) AS present,
       CAST(n.n_json_rows AS BIGINT) AS n_json_rows,
       floor(CAST(present AS DOUBLE) / CAST(n.n_json_rows AS DOUBLE)
             * 1000000.0) / 1000000.0 AS coverage,
       CAST(n_int AS BIGINT) AS n_int_values,
       CAST(int_min AS BIGINT) AS int_min,
       CAST(int_max AS BIGINT) AS int_max
FROM per CROSS JOIN n
"""


# ------------------------------------------------------------------ dq_saturation


def dq_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping audit per event type: how much probability mass sits
    EXACTLY at the type's observed minimum and maximum? A distribution
    with a spike at its own extreme is usually a measurement ceiling
    (sensor clip, API cap, storage truncation), not real data — and it
    silently corrupts every mean and variance downstream. Complements
    dq_iqr_outliers: that key finds values too FAR OUT, this finds
    values suspiciously piled AT THE EDGE.

    Determinism: values live on the exact decimal grid, so min/max
    equality is integer equality; shares are single divisions.

    Scale: ONE event_type exchange — the min/max extraction and the
    pile-up counts share the same window partitioning (the
    dq_iqr_outliers shape)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = (dec("value") * 10000).cast("long")
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = ev.select(
        "event_type",
        v.alias("v"),
        F.min(v).over(wall).alias("vmin"),
        F.max(v).over(wall).alias("vmax"),
    )
    per = staged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum(
            F.when(F.col("v") == F.col("vmin"), 1).otherwise(0)
        ).cast("long").alias("n_at_min"),
        F.sum(
            F.when(F.col("v") == F.col("vmax"), 1).otherwise(0)
        ).cast("long").alias("n_at_max"),
    )
    return per.select(
        "event_type",
        "n",
        (F.col("vmin").cast("double") / 10000.0).alias("v_min"),
        (F.col("vmax").cast("double") / 10000.0).alias("v_max"),
        "n_at_min",
        "n_at_max",
        fquant(
            F.col("n_at_max").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("max_pileup_share"),
    )


DQ_SATURATION_SQL = """
WITH staged AS (
    SELECT event_type,
           CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
           MIN(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY event_type) AS vmin,
           MAX(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY event_type) AS vmax
    FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(vmin) AS DOUBLE) / 10000.0 AS v_min,
       CAST(MAX(vmax) AS DOUBLE) / 10000.0 AS v_max,
       CAST(SUM(CASE WHEN v = vmin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_min,
       CAST(SUM(CASE WHEN v = vmax THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_max,
       floor(CAST(SUM(CASE WHEN v = vmax THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 1000000.0) / 1000000.0
         AS max_pileup_share
FROM staged GROUP BY event_type
"""


QUERIES: dict[str, Query] = {
    "dq_expectations": Query(
        dq_expectations, DQ_EXPECTATIONS_SQL,
        "declarative data-quality audit (one pass per table)",
    ),
    "dq_benford": Query(
        dq_benford, DQ_BENFORD_SQL,
        "first-digit Benford audit; expectations as literals, no libm",
    ),
    "dq_profile": Query(
        dq_profile, DQ_PROFILE_SQL,
        "single-scan per-column profile: nulls, exact distinct, extrema",
    ),
    "dq_referential": Query(
        dq_referential, DQ_REFERENTIAL_SQL,
        "cross-table referential-integrity orphan audit",
    ),
    "dq_spc": Query(
        dq_spc, DQ_SPC_SQL,
        "Shewhart 3-sigma control chart on daily event volumes",
    ),
    "dq_freshness": Query(
        dq_freshness, DQ_FRESHNESS_SQL,
        "per-type staleness audit vs the corpus watermark",
    ),
    "dq_uniqueness": Query(
        dq_uniqueness, DQ_UNIQUENESS_SQL,
        "primary-key uniqueness audit across the catalog",
    ),
    "dq_iqr_outliers": Query(
        dq_iqr_outliers, DQ_IQR_OUTLIERS_SQL,
        "Tukey 1.5-IQR outlier fences per event type (exact ranks)",
    ),
    "dq_tvd_drift": Query(
        dq_tvd_drift, DQ_TVD_DRIFT_SQL,
        "total variation distance, first vs second corpus half",
    ),
    "dq_out_of_order": Query(
        dq_out_of_order, DQ_OUT_OF_ORDER_SQL,
        "out-of-order delivery audit: late share + watermark bound",
    ),
    "dq_embedding_audit": Query(
        dq_embedding_audit, DQ_EMBEDDING_AUDIT_SQL,
        "embedding-quality audit per label: dims, zeros, norms",
    ),
    "dq_temporal_integrity": Query(
        dq_temporal_integrity, DQ_TEMPORAL_INTEGRITY_SQL,
        "ship-before-order causality audit + fulfillment lag profile",
    ),
    "dq_completeness_trend": Query(
        dq_completeness_trend, DQ_COMPLETENESS_TREND_SQL,
        "per-day null rates + exact Mann-Kendall missingness trend",
        eager="compute",
    ),
    "dq_table_checksum": Query(
        dq_table_checksum, DQ_TABLE_CHECKSUM_SQL,
        "cross-engine order-insensitive content checksum per table",
    ),
    "dq_json_schema": Query(
        dq_json_schema, DQ_JSON_SCHEMA_SQL,
        "JSON key discovery + coverage + integer range over props",
    ),
    "dq_saturation": Query(
        dq_saturation, DQ_SATURATION_SQL,
        "min/max pile-up (clipping) audit per event type",
    ),
}
