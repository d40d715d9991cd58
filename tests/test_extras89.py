"""Property tests for the fifth/sixth-wave keys — invariants independent
of the DuckDB oracle (a shared formula bug would pass oracle parity but
fail these)."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from serverless_etl_aws_spark.queries._util import t
from serverless_etl_aws_spark.queries.joins import (
    BIN_DAYS,
    join_interval_overlap,
)
from serverless_etl_aws_spark.queries.llm import llm_span_corruption

SF = "/root/testdata/sf0.001"


def test_interval_overlap_matches_brute_force(spark):
    """The bin-bucketed join must emit exactly the pairs the naive
    overlap predicate admits — once each."""
    got = (
        join_interval_overlap(spark, SF)
        .toPandas()
        .sort_values(["o_orderkey", "l_orderkey", "l_linenumber"])
        .reset_index(drop=True)
    )
    orders = t(spark, SF, "orders").toPandas()
    li = t(spark, SF, "lineitem").toPandas()
    epoch = pd.Timestamp("1970-01-01")
    a = orders[orders.o_orderkey % 13 == 0].assign(
        a_start=lambda d: (d.o_orderdate.dt.normalize() - epoch).dt.days,
    )
    a["a_end"] = a.a_start + 14
    b = li[li.l_partkey % 11 == 0].assign(
        b_start=lambda d: (d.l_shipdate.dt.normalize() - epoch).dt.days,
    )
    b["b_end"] = b.b_start + 7
    expected = a.merge(b, how="cross")
    expected = expected[
        (expected.a_start <= expected.b_end)
        & (expected.b_start <= expected.a_end)
    ]
    exp = (
        expected.assign(
            overlap_days=lambda d: (
                d[["a_end", "b_end"]].min(axis=1)
                - d[["a_start", "b_start"]].max(axis=1)
                + 1
            ).astype("int32")
        )[["o_orderkey", "l_orderkey", "l_linenumber", "overlap_days"]]
        .sort_values(["o_orderkey", "l_orderkey", "l_linenumber"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@settings(max_examples=25, deadline=None)
@given(
    starts_a=st.lists(st.integers(0, 60), min_size=1, max_size=8),
    lens_a=st.lists(st.integers(0, 25), min_size=8, max_size=8),
    starts_b=st.lists(st.integers(0, 60), min_size=1, max_size=8),
    lens_b=st.lists(st.integers(0, 25), min_size=8, max_size=8),
)
def test_bin_bucketing_identity_pure(starts_a, lens_a, starts_b, lens_b):
    """The bin/emit-once trick itself, hypothesis-fuzzed in pure Python:
    for arbitrary intervals (including zero-length and bin-straddling
    ones), {(i, j) emitted by the bin rule} == {(i, j): overlap}."""
    A = [(s, s + l) for s, l in zip(starts_a, lens_a)]
    B = [(s, s + l) for s, l in zip(starts_b, lens_b)]
    brute = {
        (i, j)
        for i, (as_, ae) in enumerate(A)
        for j, (bs, be) in enumerate(B)
        if as_ <= be and bs <= ae
    }
    emitted: list[tuple[int, int]] = []
    for i, (as_, ae) in enumerate(A):
        for j, (bs, be) in enumerate(B):
            for bin_a in range(as_ // BIN_DAYS, ae // BIN_DAYS + 1):
                for bin_b in range(bs // BIN_DAYS, be // BIN_DAYS + 1):
                    if bin_a != bin_b:
                        continue
                    if not (as_ <= be and bs <= ae):
                        continue
                    if bin_a == max(as_, bs) // BIN_DAYS:
                        emitted.append((i, j))
    assert len(emitted) == len(set(emitted)), "pair emitted twice"
    assert set(emitted) == brute


def test_span_corruption_reconstructs_original(spark):
    """Denoising invariant: splicing each target span back at its
    sentinel in the corrupted text must reproduce the original document
    exactly (lossless corruption)."""
    got = llm_span_corruption(spark, SF).toPandas().set_index("doc_id")
    docs = t(spark, SF, "documents").filter(
        F.col("text").isNotNull()
    ).toPandas()
    checked = 0
    for _, row in docs.head(80).iterrows():
        corrupted = got.loc[row.doc_id, "corrupted"]
        targets = got.loc[row.doc_id, "targets"]
        spans: dict[str, list[str]] = {}
        current = None
        for tok in targets.split(" ") if targets else []:
            if re.fullmatch(r"<extra_id_\d+>", tok):
                current = tok
                spans[current] = []
            elif current is not None:
                spans[current].append(tok)
        out: list[str] = []
        for tok in corrupted.split(" ") if corrupted else []:
            if re.fullmatch(r"<extra_id_\d+>", tok):
                out.extend(spans.pop(tok))
            else:
                out.append(tok)
        assert not spans, f"doc {row.doc_id}: unused target spans {spans}"
        assert " ".join(out) == row.text, f"doc {row.doc_id} reconstruction"
        checked += 1
    assert checked > 50
