"""Property + engine tests for the CUSUM drawdown identity.

``ts_cusum`` (queries/ts.py) replaces the textbook recursion
``S_t = max(0, S_{t-1} + y_t)`` with the window-parallel form
``S_t = P_t - min(0, min_{j<=t} P_j)`` over the prefix sum ``P``. The
whole operator is only correct if that identity holds for EVERY input
sequence — the hypothesis test drives it with randomized exact-decimal
streams (pure Python, hundreds of examples), and the Spark test replays
the engine's own output against a driver-side sequential fold of the
textbook recursion at sf0.001, so the identity AND the engine's
decimal/windowing plumbing are both pinned.
"""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

# increments quantized to 4 decimal places — the engine's DECIMAL(18,4)
# value domain (value - K with K itself a 4-dp decimal)
INCS = st.lists(
    st.integers(min_value=-(10**9), max_value=10**9).map(
        lambda n: Decimal(n) / Decimal(10000)
    ),
    min_size=0,
    max_size=200,
)


def cusum_recursive(ys: list[Decimal]) -> list[Decimal]:
    """Textbook sequential CUSUM: S_t = max(0, S_{t-1} + y_t)."""
    out, s = [], Decimal(0)
    for y in ys:
        s = max(Decimal(0), s + y)
        out.append(s)
    return out


def cusum_drawdown(ys: list[Decimal]) -> list[Decimal]:
    """The engine's window form: prefix sum minus clamped running min."""
    out, p, mn = [], Decimal(0), Decimal(0)
    for y in ys:
        p += y
        mn = min(mn, p)
        out.append(p - min(Decimal(0), mn))
    return out


@settings(max_examples=500, deadline=None)
@given(ys=INCS)
def test_drawdown_identity_equals_textbook_recursion(ys):
    """For every exact-decimal increment sequence, the two forms agree
    element-wise — the identity ts_cusum's one-shuffle plan rests on."""
    assert cusum_recursive(ys) == cusum_drawdown(ys)


def test_engine_cusum_matches_sequential_fold(spark, sf_dir):
    """Replay the engine's per-type CUSUM column against a driver-side
    sequential fold of the textbook recursion over the same
    (ts, event_id)-ordered, null-filtered series — catches any mismatch
    between the identity and the engine's actual window/decimal
    plumbing (ordering, partitioning, clamping, scaled-int cast)."""
    from serverless_etl_aws_spark.catalog import load_table
    from serverless_etl_aws_spark.queries.ts import CUSUM_K, ts_cusum

    rows = (
        load_table(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .selectExpr(
            "event_id",
            "event_type",
            "ts",
            "CAST(value AS DECIMAL(18,4)) AS v",
        )
        .collect()
    )
    k = Decimal(CUSUM_K)
    series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r)
    expected: dict[int, float] = {}
    for typ, rs in series.items():
        s = Decimal(0)
        for r in rs:
            s = max(Decimal(0), s + (r.v - k))
            # mirror the engine's exact scaled-int -> double rendering
            expected[r.event_id] = float(int(s * 10000)) / 10000.0

    got = {
        r["event_id"]: r["cusum"] for r in ts_cusum(spark, sf_dir).collect()
    }
    assert got == expected
