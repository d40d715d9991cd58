"""Property tests for the round-7 statistics keys: hypothesis-generated
event streams → brute-force Python reference vs the registry's DuckDB
oracle SQL executed on the same rows.

Why this closes a real gap: the oracle-parity suite proves Spark ≡
DuckDB, but both could share a FORMULA error (e.g. a wrong tie
correction both sides copied). Here the reference implementation is
independent textbook code (double loops, explicit products), so the
triangle Spark ≡ SQL ≡ brute-force pins the statistic itself, not just
engine agreement. Pure DuckDB + Python — no SparkSession, hundreds of
examples per run (the tests/test_cusum_property.py model).
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from serverless_etl_aws_spark.queries.ts import TS_TREND_MK_SQL
from serverless_etl_aws_spark.queries.aggregates import AGG_KS_TEST_SQL
from serverless_etl_aws_spark.queries.ml import (
    ML_STUMP_SQL,
    ML_SURVIVAL_KM_SQL,
)

#: (day 1..12, value 0..30, is_purchase) event rows — small domains so
#: ties and degenerate splits are FREQUENT (that is where formula bugs
#: live).
EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=30),
        st.booleans(),
    ),
    min_size=1,
    max_size=120,
)


def _con(rows):
    """events table with (ts, value, event_type, user_id) derived from
    generated rows; user_id cycles mod 7 so users have MULTIPLE events
    (lifetimes and conversion lags are non-trivial)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"(TIMESTAMP '2024-03-{d:02d} 10:00:00', {v}.0, "
            f"'{'purchase' if p else 'view'}', {i % 7})"
            for i, (d, v, p) in enumerate(rows)
        )
        + ") AS t(ts, value, event_type, user_id)"
    )
    return con


@settings(max_examples=150, deadline=None)
@given(rows=EVENTS)
def test_mann_kendall_matches_brute_force(rows):
    con = _con(rows)
    got = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(TS_TREND_MK_SQL).fetchall()
    }
    # brute force per type: daily counts, pairwise S, tie-corrected var
    for ty in ("purchase", "view"):
        daily: dict[int, int] = {}
        for d, _v, p in rows:
            if ("purchase" if p else "view") == ty:
                daily[d] = daily.get(d, 0) + 1
        if not daily:
            assert ty not in got  # type absent from the data entirely
            continue
        days = sorted(daily)
        s = sum(
            (daily[b] > daily[a]) - (daily[b] < daily[a])
            for i, a in enumerate(days)
            for b in days[i + 1:]
        )
        n = len(days)
        from collections import Counter

        ties = Counter(daily.values())
        tie_term = sum(
            c * (c - 1) * (2 * c + 5) for c in ties.values() if c > 1
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie_term
        trend = (
            "increasing" if s > 0 else "decreasing" if s < 0 else "no_trend"
        )
        assert got[ty] == (n, s, var18, trend), (ty, got[ty])


@settings(max_examples=150, deadline=None)
@given(rows=EVENTS)
def test_ks_statistic_matches_brute_force(rows):
    con = _con(rows)
    row = con.execute(AGG_KS_TEST_SQL).fetchone()
    pos = sorted(int(v) for _d, v, p in rows if p)
    neg = sorted(int(v) for _d, v, p in rows if not p)
    assert row[0] == len(pos) and row[1] == len(neg)
    if not pos or not neg:
        assert row[2] is None
        return
    buckets = sorted({*pos, *neg})
    best_gap, best_b = -1.0, None
    for b in buckets:
        cp = sum(1 for v in pos if v <= b)
        cn = sum(1 for v in neg if v <= b)
        # EXACT float comparison, mirroring the engines: two gaps that
        # are equal as rationals can differ by 1 ulp as doubles (e.g.
        # 0−1/3 vs 1−2/3), and both engines deterministically pick the
        # float-larger one — the reference must too.
        gap = abs(cp / len(pos) - cn / len(neg))
        if gap > best_gap:
            best_gap, best_b = gap, b
    assert row[3] == best_b
    assert row[2] == pytest.approx(
        math.floor(best_gap * 1e6) / 1e6, abs=2e-6
    )


@settings(max_examples=150, deadline=None)
@given(rows=EVENTS)
def test_stump_split_matches_brute_force(rows):
    con = _con(rows)
    row = con.execute(ML_STUMP_SQL).fetchone()
    pts = [(int(v), p) for _d, v, p in rows]
    n = len(pts)
    best = None  # (wg, thr)
    for thr in sorted({v for v, _ in pts}):
        ge = [(v, p) for v, p in pts if v >= thr]
        lt = [(v, p) for v, p in pts if v < thr]
        if not ge or not lt:
            continue

        def gini(side):
            m = len(side)
            pos = sum(1 for _v, p in side if p)
            return 1.0 - (pos * pos + (m - pos) * (m - pos)) / (m * m)

        # EXACT float comparison with the engines' expression tree (see
        # the KS test note): mathematically-tied splits can differ by a
        # ulp, and the engines deterministically keep the float-smaller
        # one (thr ascending breaks true float ties — iterating thr
        # ascending with strict < reproduces that).
        wg = (len(ge) * gini(ge) + len(lt) * gini(lt)) / n
        if best is None or wg < best[0]:
            best = (wg, thr)
    if best is None:
        assert row is None  # no valid split (single bucket)
        return
    assert row[0] == best[1], (row, best)
    assert row[5] == pytest.approx(
        math.floor(best[0] * 1e6) / 1e6, abs=2e-6
    )


@settings(max_examples=150, deadline=None)
@given(rows=EVENTS)
def test_kaplan_meier_matches_brute_force(rows):
    con = _con(rows)
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ML_SURVIVAL_KM_SQL).fetchall()
    }
    # brute force: per user first/last day, duration, censored at max day
    users: dict[int, tuple[int, int]] = {}
    for i, (d, _v, _p) in enumerate(rows):
        u = i % 7
        f, l = users.get(u, (d, d))
        users[u] = (min(f, d), max(l, d))
    mx = max(l for _f, l in users.values())
    durs = sorted({l - f for f, l in users.values()})
    surv = 1.0
    expect = {}
    for t in durs:
        at_risk = sum(1 for f, l in users.values() if l - f >= t)
        deaths = sum(
            1 for f, l in users.values() if l - f == t and l < mx
        )
        surv *= 1.0 - deaths / at_risk
        if deaths > 0:
            expect[t] = (at_risk, deaths, surv)
    assert set(got) == set(expect)
    for t, (ar, d, s) in expect.items():
        assert got[t][0] == ar and got[t][1] == d
        assert got[t][2] == pytest.approx(
            math.floor(s * 1e6) / 1e6, abs=2e-6
        )
