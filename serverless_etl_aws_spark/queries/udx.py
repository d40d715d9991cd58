"""User-defined function surface (key prefixes ``udf_``, ``udaf_``,
``udtf_``): scalar UDF, grouped UDAF, table UDTF.

Scale notes (100 TB): the scalar UDF is an Arrow-batched ``pandas_udf`` —
row-at-a-time Python UDFs pay per-row serialization (~10-100× slower) and
are never used in engine hot paths. The grouped UDAF uses ``applyInPandas``
(one Arrow batch per group — requires groups to fit executor memory, true
here since groups are per-flag). The UDTF is expressed with ``posexplode``,
which stays JVM-side entirely; a Python ``@udtf`` would add IPC for no
semantic gain.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import Query
from ._util import t


_ASCII_LOWER_TABLE = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


@pandas_udf(StringType())
def normalize_text(s: pd.Series) -> pd.Series:
    """collapse whitespace + trim + ASCII-lower (vectorized).

    Every step is pinned to ASCII semantics because each has a Unicode
    trap: Python's ``\\s`` is Unicode-aware (NBSP, ideographic space)
    while DuckDB's RE2 class is ASCII-only; ``str.strip()`` strips
    Unicode whitespace while SQL ``trim`` strips only ' '; and Python's
    ``str.lower()`` applies full case mapping ('İ' → 'i'+U+0307,
    final-sigma rule) while DuckDB's utf8proc is simple ('İ' → 'i') —
    the strengthened unicode sweep caught that last one live."""
    return (
        s.str.replace(r"[ \t\n\r\f\x0B]+", " ", regex=True)
        .str.strip(" ")
        .str.translate(_ASCII_LOWER_TABLE)
    )


def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", normalize_text(F.col("text")).alias("norm_text")
    )


UDF_SCALAR_SQL = r"""
SELECT doc_id,
       translate(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')),
                 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')
           AS norm_text
FROM documents
"""


def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per returnflag via ``applyInPandas``.

    Exact-arithmetic discipline: prices/quantities are 2-decimal doubles, so
    they are converted to integer cents inside the UDAF (int64 — exact) and
    the oracle SQL mirrors the same integer math; the only float op is one
    final division, identical IEEE in both engines.
    """
    li = t(spark, sf_dir, "lineitem")

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        # NULL discipline mirrors SQL SUM exactly: the numerator skips a
        # row when EITHER factor is NULL (the product is NULL), the
        # denominator only when the quantity is NULL; an all-NULL sum is
        # NULL, not 0. (A plain .astype("int64") crashed on the first
        # fixture that carried NULL measures.)
        import numpy as np

        # Non-finite measures carry no exact cents (the float-specials
        # contract, _util): mask NaN/±Inf to NA like SQL NULL — Inf
        # would otherwise crash the int64 cast, NaN fabricate garbage.
        price_c = (pdf["l_extendedprice"] * 100).round()
        price_c = price_c.where(np.isfinite(price_c))
        qty_c = (pdf["l_quantity"] * 100).round()
        qty_c = qty_c.where(np.isfinite(qty_c))
        pair = price_c.notna() & qty_c.notna()
        qmask = qty_c.notna()
        num = (
            int((price_c[pair].astype("int64") * qty_c[pair].astype("int64")).sum())
            if pair.any() else None
        )
        den = int(qty_c[qmask].astype("int64").sum()) if qmask.any() else None
        wavg = (
            math.floor(num / den / 100.0 * 100.0) / 100.0
            if num is not None and den else None
        )
        tqty = (
            math.floor(den / 100.0 * 100.0) / 100.0 if den is not None else None
        )
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "weighted_avg_price": [wavg],
                "total_qty": [tqty],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        weighted,
        schema="l_returnflag string, weighted_avg_price double, total_qty double",
    )


UDAF_GROUPED_SQL = """
SELECT l_returnflag,
       floor(CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice)
                                THEN ROUND(l_extendedprice * 100) END AS BIGINT)
                      * CAST(CASE WHEN isfinite(l_quantity)
                                  THEN ROUND(l_quantity * 100) END AS BIGINT))
                  AS DOUBLE)
             / CAST(SUM(CAST(CASE WHEN isfinite(l_quantity)
                                  THEN ROUND(l_quantity * 100) END AS BIGINT))
                    AS DOUBLE)
             / 100.0 * 100.0) / 100.0 AS weighted_avg_price,
       floor(CAST(SUM(CAST(CASE WHEN isfinite(l_quantity)
                                THEN ROUND(l_quantity * 100) END AS BIGINT))
                  AS DOUBLE)
             / 100.0 * 100.0) / 100.0 AS total_qty
FROM lineitem
GROUP BY l_returnflag
"""


def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row → many: number every token of selected documents
    (``posexplode`` — JVM-side table function)."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    ).select(
        "doc_id", (F.col("pos") + 1).cast("int").alias("token_no"), "token"
    )


UDTF_EXPLODE_SQL = """
SELECT doc_id,
       CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS INTEGER)
           AS token_no,
       unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id % 100 = 0
"""


def udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped ``applyInPandas`` — the fourth pandas-API shape (after
    scalar / grouped / table): orders and lineitems co-grouped by month,
    reconciled in one pandas function that sees BOTH sides of each key
    (the API for per-key merge logic too stateful for a join, e.g.
    order-book vs shipment reconciliation).

    Exactness: money sums in integer cents (int64) inside the UDF; the
    only float op is one final division, identical IEEE in the oracle.

    Scale notes: cogroup shuffles each side once on the key and hands
    per-key pandas frames to Python — both sides of a key must fit
    executor memory. A calendar month of a 100 TB fact table would not:
    production keys are bounded (entity ids, salted composites) or the
    inputs pre-aggregated, exactly as here the demo key is chosen for
    the fixture's scale."""
    # Null dates are excluded on BOTH sides: Spark's cogroup puts null
    # keys in one group while SQL's FULL OUTER JOIN never matches null =
    # null — the only input on which the two formulations could diverge.
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_totalprice",
        )
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select(
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            "l_extendedprice",
        )
    )

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # non-finite cents are "no value" (float-specials contract) —
        # skipped exactly like SQL NULL; the oracle CASEs them out
        bc = (odf["o_totalprice"] * 100).round()
        booked_c = int(bc[np.isfinite(bc)].sum()) if len(odf) else 0
        sc = (ldf["l_extendedprice"] * 100).round()
        shipped_c = int(sc[np.isfinite(sc)].sum()) if len(ldf) else 0
        return pd.DataFrame(
            {
                "month": [key[0]],
                "n_orders": [len(odf)],
                "n_lines": [len(ldf)],
                "booked": [booked_c / 100.0],
                "shipped": [shipped_c / 100.0],
            }
        )

    return (
        orders.groupBy("month")
        .cogroup(li.groupBy("month"))
        .applyInPandas(
            reconcile,
            schema=(
                "month string, n_orders long, n_lines long, "
                "booked double, shipped double"
            ),
        )
    )


UDF_COGROUPED_SQL = """
WITH o AS (
    SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           SUM(CAST(CASE WHEN isfinite(o_totalprice)
                         THEN ROUND(o_totalprice * 100) END AS BIGINT))
             AS booked_c
    FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
), l AS (
    SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS month,
           COUNT(*) AS n_lines,
           SUM(CAST(CASE WHEN isfinite(l_extendedprice)
                         THEN ROUND(l_extendedprice * 100) END AS BIGINT))
             AS shipped_c
    FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
)
SELECT COALESCE(o.month, l.month) AS month,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(n_lines, 0) AS n_lines,
       CAST(COALESCE(booked_c, 0) AS DOUBLE) / 100.0 AS booked,
       CAST(COALESCE(shipped_c, 0) AS DOUBLE) / 100.0 AS shipped
FROM o FULL OUTER JOIN l USING (month)
"""


UDTF_CHUNK_W = 8


def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python user-defined table function (the PySpark 4 ``@udtf``
    API — class with ``eval`` yielding rows), applied per input row via
    LATERAL join: chunk each sampled document into fixed token windows
    and emit one row per chunk with its geometry and head token. The
    fourth Python-API shape next to pandas_udf / applyInPandas /
    mapInPandas — covering the case where per-row fan-out logic is
    genuinely imperative (a real pipeline would parse bytes or run a
    segmenter here; the chunker keeps it oracle-checkable).

    Scale: UDTFs execute on executors row-batch-wise like any Python
    UDF; the LATERAL join never shuffles (Generate over the scan). The
    fan-out is O(tokens/W) rows — same envelope as posexplode."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, n_toks int, head string")
    class ChunkStats:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            for i in range(0, len(toks), UDTF_CHUNK_W):
                chunk = toks[i: i + UDTF_CHUNK_W]
                yield i // UDTF_CHUNK_W, len(chunk), chunk[0]

    spark.udtf.register("chunk_stats_udtf", ChunkStats)
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    docs.createOrReplaceTempView("udtf_python_docs")
    return spark.sql(
        "SELECT doc_id, cs.chunk_no, cs.n_toks, cs.head "
        "FROM udtf_python_docs, LATERAL chunk_stats_udtf(text) cs"
    )


UDTF_PYTHON_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents
  WHERE doc_id % 50 = 0 AND text IS NOT NULL
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_no,
       CAST(len(list_slice(toks, i * {UDTF_CHUNK_W} + 1,
                           i * {UDTF_CHUNK_W} + {UDTF_CHUNK_W})) AS INT)
         AS n_toks,
       toks[i * {UDTF_CHUNK_W} + 1] AS head
FROM d, UNNEST(range(CAST(ceil(len(toks) / {UDTF_CHUNK_W}.0) AS BIGINT))) u(i)
"""


QUERIES: dict[str, Query] = {
    "udf_scalar": Query(udf_scalar, UDF_SCALAR_SQL, "pandas UDF normalize"),
    "udaf_grouped": Query(udaf_grouped, UDAF_GROUPED_SQL, "applyInPandas UDAF"),
    "udtf_explode": Query(udtf_explode, UDTF_EXPLODE_SQL, "posexplode UDTF"),
    "udf_cogrouped": Query(
        udf_cogrouped, UDF_COGROUPED_SQL,
        "cogrouped applyInPandas per-key reconciliation",
    ),
    "udtf_python": Query(
        udtf_python, UDTF_PYTHON_SQL,
        "real Python @udtf table function via LATERAL join",
    ),
}
