"""Property tests for the fourth-wave breadth keys — semantics the oracle
diff can't distinguish from a shared formula bug (both engines running the
same wrong SQL would still hash-match). Each test checks the operator
against an independent ground truth: the winnowing coverage guarantee,
numpy's OLS, and mutual-connectivity of emitted triangles."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from serverless_etl_aws_spark.queries._util import t
from serverless_etl_aws_spark.queries.llm import (
    WINNOW_K,
    WINNOW_W,
    llm_winnow_fingerprint,
)
from serverless_etl_aws_spark.queries.graph import graph_triangles
from serverless_etl_aws_spark.queries.ml import ml_linreg
from serverless_etl_aws_spark.queries.sorts_sets import (
    set_except_all,
    set_intersect_all,
)

SF = "/root/testdata/sf0.001"


def test_winnow_coverage_guarantee(spark):
    """Winnowing's defining property (Schleimer et al. §3): every window
    of W consecutive k-gram hashes contains at least one selected
    fingerprint — no gap of W grams goes unfingerprinted."""
    selected = (
        llm_winnow_fingerprint(spark, SF)
        .groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
        .toPandas()
        .set_index("doc_id")["fps"]
    )
    docs = t(spark, SF, "documents").select("doc_id", "text").toPandas()
    import hashlib

    checked = 0
    for _, row in docs.head(50).iterrows():
        if row.text is None:
            continue
        toks = row.text.split(" ")
        if len(toks) < WINNOW_K:
            continue
        hashes = [
            hashlib.md5(
                " ".join(toks[i : i + WINNOW_K]).encode()
            ).hexdigest()[:12]
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        fps = set(selected.get(row.doc_id, []))
        for s in range(len(hashes) - WINNOW_W + 1):
            window = hashes[s : s + WINNOW_W]
            assert fps & set(window), (
                f"doc {row.doc_id}: window at {s} has no selected fingerprint"
            )
        checked += 1
    assert checked > 10


def test_linreg_matches_numpy(spark):
    """Slope/intercept from the mergeable-sufficient-statistics path must
    agree with numpy's independent least-squares fit."""
    got = ml_linreg(spark, SF).toPandas().set_index("o_orderpriority")
    orders = t(spark, SF, "orders").toPandas()
    per = (
        t(spark, SF, "lineitem")
        .groupBy("l_orderkey")
        .count()
        .toPandas()
        .set_index("l_orderkey")["count"]
    )
    for prio, grp in orders.groupby("o_orderpriority"):
        x = grp["o_orderkey"].map(per).fillna(0).to_numpy(dtype=float)
        y = grp["o_totalprice"].to_numpy(dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(got.loc[prio, "slope"] - slope) < 1e-3
        assert abs(got.loc[prio, "intercept"] - intercept) < 1e-1
        assert got.loc[prio, "n_orders"] == len(grp)


def test_triangles_are_mutually_connected(spark):
    """Every emitted triple must be pairwise-connected in the undirected
    trade graph, strictly ordered a<b<c, and unique; and the count must
    equal an independent adjacency-matrix trace computation."""
    tri = graph_triangles(spark, SF).toPandas()
    assert (tri.na < tri.nb).all() and (tri.nb < tri.nc).all()
    assert not tri.duplicated().any()

    li = t(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, SF, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("c_nationkey", "s_nationkey")
        .toPandas()
    )
    n = 32
    adj = np.zeros((n, n), dtype=bool)
    for a, b in edges.itertuples(index=False):
        if a != b:
            adj[a, b] = adj[b, a] = True
    for a, b, c in tri.itertuples(index=False):
        assert adj[a, b] and adj[b, c] and adj[a, c]
    a_int = adj.astype(np.int64)
    expected = int(np.trace(a_int @ a_int @ a_int) // 6)
    assert len(tri) == expected


def test_multiset_algebra(spark):
    """|A ∩all B| + |B \\all A| must equal |B| (multiset identity), and the
    ALL variants must dominate their DISTINCT counterparts."""
    inter = set_intersect_all(spark, SF)
    diff = set_except_all(spark, SF)
    li = t(spark, SF, "lineitem")
    n_b = li.filter(F.col("l_quantity") > 25).count()
    assert inter.count() + diff.count() == n_b
    assert inter.distinct().count() <= inter.count()
