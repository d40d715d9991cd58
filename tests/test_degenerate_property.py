"""Property tests for the round-7/8 formula keys most sensitive to
degenerate groups (VERDICT r8 directive #7): ml_diff_in_diff,
agg_median_ci, agg_weighted_median, ts_anova_weekday.

Model: tests/test_stats_property.py — hypothesis-generated rows →
the registry's DuckDB oracle SQL executed on those rows vs an
independent brute-force Python reference (textbook loops, no shared
code). Generators use SMALL domains so empty arms, single-element
groups, and all-ties values are FREQUENT — exactly the inputs where
rank/guard formulas break.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from serverless_etl_aws_spark.queries.ml import (
    AB_CONV_MIN,
    ML_DIFF_IN_DIFF_SQL,
)
from serverless_etl_aws_spark.queries.aggregates import (
    AGG_WEIGHTED_MEDIAN_SQL,
    AGG_MEDIAN_CI_SQL,
    MEDIAN_CI_Z,
)
from serverless_etl_aws_spark.queries.ts import TS_ANOVA_WEEKDAY_SQL


def fq(x: float, scale: int) -> float:
    """floor-quantize, mirroring queries/_util.fquant (floor toward
    −inf — matters for negative DiD estimates)."""
    factor = float(10 ** scale)
    return math.floor(x * factor) / factor


# ------------------------------------------------------------ ml_diff_in_diff

#: (day 1..6, value bucket, user_id 0..4) — 5 users over 6 days with
#: values straddling AB_CONV_MIN (300.0): single-user panels, one-arm
#: panels (all users even → arm 1 empty), and single-day panels (every
#: period-2 cell empty) all occur constantly.
DID_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),
        st.sampled_from([0.0, 250.0, 300.0, 600.0]),
        st.booleans(),  # purchase?
        st.integers(min_value=0, max_value=4),  # user_id
    ),
    min_size=1,
    max_size=60,
)


def _events_con(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"(TIMESTAMP '2024-03-{d:02d} 10:00:00', {v}, "
            f"'{'purchase' if p else 'view'}', {u})"
            for d, v, p, u in rows
        )
        + ") AS t(ts, value, event_type, user_id)"
    )
    return con


@settings(max_examples=200, deadline=None)
@given(rows=DID_ROWS)
def test_diff_in_diff_matches_brute_force(rows):
    con = _events_con(rows)
    got = con.execute(ML_DIFF_IN_DIFF_SQL).fetchone()
    # brute force: per-user conversion + first day, exact integer mid
    users: dict[int, dict] = {}
    epoch_day = lambda d: (d - 1) + 19783  # 2024-03-01 = day 19783
    for d, v, p, u in rows:
        rec = users.setdefault(u, {"conv": 0, "first": 10**9})
        if p and v >= AB_CONV_MIN:
            rec["conv"] = 1
        rec["first"] = min(rec["first"], epoch_day(d))
    firsts = [r["first"] for r in users.values()]
    mid = (min(firsts) + max(firsts) + 1) // 2
    cells = {(a, per): [0, 0] for a in (0, 1) for per in (0, 1)}
    for u, rec in users.items():
        cell = cells[(u % 2, int(rec["first"] >= mid))]
        cell[0] += 1
        cell[1] += rec["conv"]
    def nc(a, p):
        n, c = cells[(a, p)]
        return (n if n else None), (c if cells[(a, p)][0] else None)
    n_a1, c_a1 = nc(0, 0)
    n_a2, c_a2 = nc(0, 1)
    n_b1, c_b1 = nc(1, 0)
    n_b2, c_b2 = nc(1, 1)
    assert got[0:4] == (n_a1, n_a2, n_b1, n_b2)
    rates = []
    for c, n in ((c_a1, n_a1), (c_a2, n_a2), (c_b1, n_b1), (c_b2, n_b2)):
        rates.append(None if n is None else c / n)
    for got_rate, want in zip(got[4:8], rates):
        if want is None:
            assert got_rate is None
        else:
            assert got_rate == fq(want, 6)
    if None in rates:
        assert got[8] is None  # empty arm/period cell → DiD undefined
    else:
        did = (rates[3] - rates[2]) - (rates[1] - rates[0])
        assert got[8] == fq(did, 6)


# ------------------------------------------------------------- agg_median_ci

#: (event_id, event_type ∈ 2, value on the 1e-4 grid incl. ties) —
#: single-element groups and all-ties groups dominate at small sizes.
CI_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["view", "purchase"]),
        st.sampled_from([0.0, 1.5, 1.5, 7.25, 30.0]),
    ),
    min_size=1,
    max_size=80,
)


@settings(max_examples=200, deadline=None)
@given(rows=CI_ROWS)
def test_median_ci_matches_order_statistics(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{ty}', {v})" for i, (ty, v) in enumerate(rows)
        )
        + ") AS t(event_id, event_type, value)"
    )
    got = {
        r[0]: r[1:] for r in con.execute(AGG_MEDIAN_CI_SQL).fetchall()
    }
    seen = {ty for ty, _v in rows}
    assert set(got) == seen
    for ty in seen:
        vals = sorted(
            (int(round(v * 10000)), i)
            for i, (t2, v) in enumerate(rows)
            if t2 == ty
        )
        n = len(vals)
        nd = float(n)
        med_rank = (n + 1) // 2
        lo_rank = max(1, math.floor((nd - MEDIAN_CI_Z * math.sqrt(nd)) / 2.0))
        hi_rank = min(
            n, math.ceil((nd + MEDIAN_CI_Z * math.sqrt(nd)) / 2.0 + 1.0)
        )
        # 1-indexed order-statistic selection — never interpolation
        want = (
            n,
            vals[med_rank - 1][0] / 10000.0,
            vals[lo_rank - 1][0] / 10000.0,
            vals[hi_rank - 1][0] / 10000.0,
        )
        assert got[ty] == want, (ty, got[ty], want)
        # CI must bracket the median (clamped ranks keep this true even
        # at n = 1, where all three collapse to the single value)
        assert got[ty][2] <= got[ty][1] <= got[ty][3]


# -------------------------------------------------------- agg_weighted_median

#: lineitem rows over 2 brands × 3 parts: zero-weight lines, all-equal
#: prices, single-line brands, and NULL price/qty all frequent.
WM_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # partkey → brand
        st.sampled_from([1.0, 1.0, 2.5, 10.0, None]),  # price
        st.sampled_from([0.0, 1.0, 4.0, None]),  # qty
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(rows=WM_ROWS)
def test_weighted_median_matches_brute_force(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({pk}, {i + 1}, {i % 7}, "
            f"{'NULL' if pr is None else pr}, "
            f"{'NULL' if q is None else q})"
            for i, (pk, pr, q) in enumerate(rows)
        )
        + ") AS t(l_partkey, l_orderkey, l_linenumber, "
        "l_extendedprice, l_quantity)"
    )
    con.execute(
        "CREATE TABLE part AS SELECT * FROM (VALUES "
        "(1, 'BrandA'), (2, 'BrandA'), (3, 'BrandB')"
        ") AS t(p_partkey, p_brand)"
    )
    got = {
        r[0]: r[1:]
        for r in con.execute(AGG_WEIGHTED_MEDIAN_SQL).fetchall()
    }
    brand_of = {1: "BrandA", 2: "BrandA", 3: "BrandB"}
    by_brand: dict[str, list] = {}
    for i, (pk, pr, q) in enumerate(rows):
        if pr is None or q is None:
            continue  # unrankable / weightless rows are filtered
        by_brand.setdefault(brand_of[pk], []).append(
            (int(round(pr * 10000)), i + 1, i % 7, int(round(q * 10000)))
        )
    assert set(got) == set(by_brand)
    for brand, lines in by_brand.items():
        lines.sort()  # (price_s, orderkey, linenumber) total order
        tot = sum(q for _p, _o, _l, q in lines)
        cum = 0
        staged = []  # (cum_after_row, price) rows passing 2·cum ≥ tot
        for p, _o, _l, q in lines:
            cum += q
            if 2 * cum >= tot:
                staged.append((cum, p))
        # first by (cum_w, price): the engine's argmin selection. With
        # all-zero weights every row qualifies at cum=0 and the lowest
        # price wins — the degenerate case this test exists to pin.
        pick = min(staged)
        want = (len(lines), tot / 10000.0, pick[1] / 10000.0)
        assert got[brand] == want, (brand, got[brand], want)


# --------------------------------------------------------- ts_anova_weekday

#: March 2024: day 4 is a Monday. Small day/value domains → single
#: weekday groups (k = 1), all-ties values (SSW = 0), and
#: one-element groups are all frequent.
ANOVA_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=4, max_value=10),  # one full ISO week
        st.sampled_from([0.0, 2.5, 2.5, 9.75]),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(rows=ANOVA_ROWS)
def test_anova_weekday_matches_textbook(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"(TIMESTAMP '2024-03-{d:02d} 12:00:00', {v})"
            for d, v in rows
        )
        + ") AS t(ts, value)"
    )
    got = con.execute(TS_ANOVA_WEEKDAY_SQL).fetchone()
    # textbook one-way ANOVA on exact integer-scaled values
    groups: dict[int, list[int]] = {}
    for d, v in rows:
        groups.setdefault((d - 4) % 7 + 1, []).append(int(round(v * 10000)))
    k = len(groups)
    n = sum(len(g) for g in groups.values())
    grand_mean = sum(sum(g) for g in groups.values()) / n
    ssb = sum(
        len(g) * (sum(g) / len(g) - grand_mean) ** 2
        for g in groups.values()
    ) / 1e8
    ssw = sum(
        sum((x - sum(g) / len(g)) ** 2 for x in g)
        for g in groups.values()
    ) / 1e8
    assert got[0] == k and got[1] == n
    # engine quantizes per-group terms at 1e-6 before the cross-group
    # sum, then floors at 1e-4: allow k·1e-6 + 1e-4 of quantization
    tol = 1e-4 + k * 1e-6 + 1e-9 * (abs(ssb) + abs(ssw))
    assert got[2] == pytest.approx(ssb, abs=tol)
    assert got[3] == pytest.approx(ssw, abs=tol)
    if k <= 1 or n <= k or ssw <= tol:
        # degenerate decompositions: guard must yield NULL (k=1: no
        # between variance; n=k: no within dof; all-ties: SSW=0)
        if k <= 1 or n <= k or ssw == 0:
            assert got[4] is None
        # (ssw within tol of 0 but nonzero: F is defined but unstable;
        # no assertion either way)
    else:
        f = (ssb / (k - 1)) / (ssw / (n - k))
        assert got[4] == pytest.approx(f, rel=1e-3, abs=1e-5)


# ----------------------------------------------------------- ml_wilson_ci
# Round-9 extension wave: the same hypothesis treatment for four more
# degenerate-sensitive formulas (p∈{0,1} arms, single-day series,
# all-ties pairs, single-type days).

from serverless_etl_aws_spark.queries.aggregates import (
    AGG_GINI_SQL,
    AGG_KS_TEST_SQL,
)
from serverless_etl_aws_spark.queries._util import POS_LABEL
from serverless_etl_aws_spark.queries.ml import (
    ML_WILSON_CI_SQL,
    WILSON_THRESHOLD,
    WILSON_Z,
    ML_KENDALL_TAU_SQL,
)

#: The oracle CASTs the z literals to DOUBLE before multiplying, so z²
#: is the IEEE product on both engines (a bare 1.96*1.96 would fold in
#: DECIMAL on DuckDB — exactly 3.8416, one ulp off the float product).
WILSON_Z2 = WILSON_Z * WILSON_Z

#: (event_type, value) with values straddling WILSON_THRESHOLD (100.0):
#: all-success groups (p = 1), zero-success groups (p = 0), n = 1
#: groups, and NULL values are all frequent.
WILSON_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["view", "purchase"]),
        st.sampled_from([None, 50.0, 100.0, 500.0]),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(rows=WILSON_ROWS)
def test_wilson_ci_matches_closed_form(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{ty}', {'NULL' if v is None else v})" for ty, v in rows
        )
        + ") AS t(event_type, value)"
    )
    got = {r[0]: r[1:] for r in con.execute(ML_WILSON_CI_SQL).fetchall()}
    seen = {ty for ty, _v in rows}
    assert set(got) == seen
    for ty in seen:
        n = sum(1 for t2, _v in rows if t2 == ty)
        s = sum(
            1
            for t2, v in rows
            if t2 == ty and v is not None and v >= WILSON_THRESHOLD
        )
        gn, gs, rate, lo, hi = got[ty]
        assert (gn, gs) == (n, s)
        p = s / n
        assert rate == fq(p, 6)
        denom = 1.0 + WILSON_Z2 / n
        center = (p + WILSON_Z2 / (2.0 * n)) / denom
        half = (WILSON_Z / denom) * math.sqrt(
            p * (1.0 - p) / n + WILSON_Z2 / (4.0 * n * n)
        )
        # boundary bounds are PINNED: at p = 0 the lower bound is
        # exactly 0, at p = 1 the upper is exactly 1 (the float
        # expression lands ±1 ulp around the boundary and the 1e-6
        # floor would otherwise split 0.0 vs −0.000001 across engines)
        if s == 0:
            assert lo == 0.0
        else:
            # the 1e-6 floor can split at a last-ulp difference between
            # the two evaluation orders; allow exactly one grid step
            assert lo == pytest.approx(fq(center - half, 6), abs=1.1e-6)
        if s == n:
            assert hi == 1.0
        else:
            assert hi == pytest.approx(fq(center + half, 6), abs=1.1e-6)
        # interval brackets the point estimate
        assert lo <= rate + 1.1e-6 and hi >= rate - 1.1e-6


# ------------------------------------------------------------ agg_ks_test

#: (event_type, value): all-positive samples (n_neg = 0 ⇒ D undefined),
#: all-negative, single shared bucket (D from one cumulative step), and
#: NULL values are all frequent.
KS_ROWS = st.lists(
    st.tuples(
        st.sampled_from([POS_LABEL, "view"]),
        st.sampled_from([None, 0.0, 1.5, 2.0, 7.0]),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(rows=KS_ROWS)
def test_ks_test_matches_brute_force(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{ty}', {'NULL' if v is None else v})" for ty, v in rows
        )
        + ") AS t(event_type, value)"
    )
    got = con.execute(AGG_KS_TEST_SQL).fetchone()
    kept = [(ty, int(math.floor(v))) for ty, v in rows if v is not None]
    if not kept:
        assert got is None  # every row NULL-filtered → empty relation
        return
    pp = sum(1 for ty, _b in kept if ty == POS_LABEL)
    nn = len(kept) - pp
    buckets = sorted({b for _ty, b in kept})
    best = None  # (gap, bkt) under ORDER BY gap DESC, bkt ASC
    cp = cn = 0
    for b in buckets:
        cp += sum(1 for ty, b2 in kept if b2 == b and ty == POS_LABEL)
        cn += sum(1 for ty, b2 in kept if b2 == b and ty != POS_LABEL)
        if pp > 0 and nn > 0:
            gap = abs(cp / pp - cn / nn)  # same double ops as the SQL
            if best is None or gap > best[0]:
                best = (gap, b)
    if best is None:
        # one-sample data: D undefined (NULL), NULLS LAST picks the
        # smallest bucket
        assert got == (pp, nn, None, buckets[0])
    else:
        assert got == (pp, nn, fq(best[0], 6), best[1])
        assert 0.0 <= got[2] <= 1.0


# -------------------------------------------------------------- agg_gini

#: (day 1..3, event_type ∈ 3): single-type days (gini = 0 exactly),
#: single-event days, and uniform mixes are all frequent.
GINI_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(rows=GINI_ROWS)
def test_gini_matches_brute_force(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"(TIMESTAMP '2024-03-{d:02d} 08:00:00', '{ty}')"
            for d, ty in rows
        )
        + ") AS t(ts, event_type)"
    )
    got = {
        r[0]: r[1:] for r in con.execute(AGG_GINI_SQL).fetchall()
    }
    days = {d for d, _ty in rows}
    assert set(got) == {f"2024-03-{d:02d}" for d in days}
    for d in days:
        counts: dict[str, int] = {}
        for d2, ty in rows:
            if d2 == d:
                counts[ty] = counts.get(ty, 0) + 1
        n = sum(counts.values())
        ss = sum(c * c for c in counts.values())
        want = (n, len(counts), fq(1.0 - ss / (float(n) * float(n)), 6))
        assert got[f"2024-03-{d:02d}"] == want
        # purity bounds: 0 (single type — exact, 1 − c²/c² = 0.0 in
        # IEEE too) .. 1 − 1/k
        g = got[f"2024-03-{d:02d}"][2]
        assert 0.0 <= g <= 1.0 - 1.0 / len(counts) + 1e-9
        if len(counts) == 1:
            assert g == 0.0


# --------------------------------------------------------- ml_kendall_tau

#: (day 4..9, event_type): single-day series (0 pairs ⇒ τ NULL),
#: all-tied daily counts (τ = 0), and monotone runs are all frequent.
TAU_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=4, max_value=9),
        st.sampled_from(["click", "purchase", "view"]),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(rows=TAU_ROWS)
def test_kendall_tau_matches_pair_count(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"(TIMESTAMP '2024-03-{d:02d} 09:00:00', '{ty}')"
            for d, ty in rows
        )
        + ") AS t(ts, event_type)"
    )
    got = con.execute(ML_KENDALL_TAU_SQL).fetchone()
    daily: dict[int, list[int]] = {}
    for d, ty in rows:
        rec = daily.setdefault(d, [0, 0])
        if ty == "click":
            rec[0] += 1
        elif ty == "purchase":
            rec[1] += 1
    ds = sorted(daily)
    conc = disc = ties = 0
    for i in range(len(ds)):
        for j in range(i + 1, len(ds)):
            a, b = daily[ds[i]], daily[ds[j]]
            prod = (a[0] - b[0]) * (a[1] - b[1])
            if prod > 0:
                conc += 1
            elif prod < 0:
                disc += 1
            else:
                ties += 1
    n_pairs = conc + disc + ties
    if n_pairs == 0:
        # single-day series: the pair relation is empty — COUNT is 0
        # but SUM over zero rows is NULL in both engines, and τ is
        # undefined
        assert got == (0, None, None, None, None)
    else:
        assert got[0:4] == (n_pairs, conc, disc, ties)
        assert got[4] == fq((conc - disc) / n_pairs, 6)
        assert -1.0 - 1e-6 <= got[4] <= 1.0
