"""Global sort+limit and set operations (key prefixes ``sort_``, ``set_``),
including the multiset ``INTERSECT ALL`` / ``EXCEPT ALL`` forms.

Scale notes (100 TB): ``orderBy().limit(k)`` compiles to ``TakeOrderedAndProject``
— each partition keeps only its local top-k and the driver merges k·p rows,
so a global sort of 100 TB is never materialized. Set ops on distinct
semantics are hash aggregations; UNION ALL is a zero-shuffle concatenation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import Query
from ._util import t


def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort + LIMIT 10 (unique tiebreaks ⇒ deterministic)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    )


SORT_LIMIT_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
"""


def _subsets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return a, b


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _subsets(spark, sf_dir)
    return a.unionByName(b)


SET_UNION_ALL_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_custkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _subsets(spark, sf_dir)
    return a.unionByName(b).distinct()


SET_UNION_DISTINCT_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT o_orderkey, o_custkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer keys having both an 'F' order and an 'O' order."""
    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


SET_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer keys with an 'F' order but no 'P' order (distinct EXCEPT)."""
    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.subtract(b)


SET_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


# ------------------------------------------------------------- set ops ALL

def _multisets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two overlapping lineitem projections with genuine duplicates —
    (suppkey, linestatus) repeats across lines, so ALL semantics differ
    observably from DISTINCT semantics."""
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_suppkey", "l_linestatus"
    )
    b = li.filter(F.col("l_quantity") > 25).select("l_suppkey", "l_linestatus")
    return a, b


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset): each row kept min(count_a, count_b) times.

    Scale: compiles to a single hash aggregation per side plus one
    shuffle on the row value — no sort, no join explosion; identical
    shuffle shape to set_intersect but with count bookkeeping."""
    a, b = _multisets(spark, sf_dir)
    return a.intersectAll(b)


SET_INTERSECT_ALL_SQL = """
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_returnflag = 'R'
INTERSECT ALL
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_quantity > 25
"""


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference): row kept count_a - count_b times.
    Operands are the larger-minus-smaller orientation so the multiset
    difference is non-empty (the reverse orientation is dominated and
    would vacuously return 0 rows)."""
    a, b = _multisets(spark, sf_dir)
    return b.exceptAll(a)


SET_EXCEPT_ALL_SQL = """
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_quantity > 25
EXCEPT ALL
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_returnflag = 'R'
"""


QUERIES: dict[str, Query] = {
    "sort_limit": Query(sort_limit, SORT_LIMIT_SQL, "TakeOrderedAndProject"),
    "set_union_all": Query(set_union_all, SET_UNION_ALL_SQL, "UNION ALL"),
    "set_union_distinct": Query(
        set_union_distinct, SET_UNION_DISTINCT_SQL, "UNION distinct"
    ),
    "set_intersect": Query(set_intersect, SET_INTERSECT_SQL, "INTERSECT"),
    "set_except": Query(set_except, SET_EXCEPT_SQL, "EXCEPT"),
    "set_intersect_all": Query(
        set_intersect_all, SET_INTERSECT_ALL_SQL,
        "multiset INTERSECT ALL"),
    "set_except_all": Query(
        set_except_all, SET_EXCEPT_ALL_SQL, "multiset EXCEPT ALL"),
}
