"""Scalar function surface (key prefix ``fn_``): string / date / math+
conditional / JSON / array, nested types, bitwise and codec functions,
higher-order array functions and ANSI error-safe casts.

All JVM-side built-ins (`pyspark.sql.functions`) — these stay inside
whole-stage codegen, never drop to Python. The reference star-imports these
functions but never uses one (reference:
src/glue_scripts/bronze_to_silver.py:12); this module exercises the surface
its users would rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import ascii_upper
from . import Query
from ._util import fquant, t, vec_finite


def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        # ascii_upper: JVM upper() is full case mapping (ß → 'SS',
        # length-changing) while DuckDB's utf8proc is simple — see
        # operators/text.py::ascii_lower for the class
        ascii_upper(F.col("p_name")).alias("name_upper"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.length(F.trim(F.col("p_name"))).cast("int").alias("name_len"),
        F.regexp_extract(F.col("p_name"), r"^(\w+)", 1).alias("first_word"),
    )


FN_STRING_SQL = r"""
SELECT p_partkey,
       translate(p_name, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS name_upper,
       substring(p_type, 1, 5) AS type_prefix,
       p_brand || '#' || p_type AS brand_type,
       CAST(length(trim(p_name)) AS INTEGER) AS name_len,
       regexp_extract(p_name, '^(\w+)', 1) AS first_word
FROM part
"""


def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(
            F.to_date(F.lit("2002-01-01")), F.col("o_orderdate").cast("date")
        ).cast("int").alias("days_before_ref"),
    )


FN_DATE_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
            AS INTEGER) AS days_before_ref
FROM orders
"""


def fn_math_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs + CASE WHEN tiered pricing + coalesce (per-row double math
    — deterministic IEEE in both engines)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # decimal-exact: round(double) disagrees across engines at half
        # boundaries (Spark rounds the shortest decimal repr, DuckDB the
        # binary value) — price*0.9 lands on exact .xx5 often
        F.round(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * F.lit("0.9").cast("decimal(3,2)"),
            2,
        )
        .cast("double")
        .alias("discounted_90"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.when(F.col("l_quantity") > 40, F.lit("bulk"))
        .when(F.col("l_quantity") > 20, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("qty_tier"),
        F.coalesce(F.col("l_tax"), F.lit(0.0)).alias("tax_filled"),
    )


FN_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))
                  * CAST(0.9 AS DECIMAL(3,2)), 2) AS DOUBLE) AS discounted_90,
       ABS(l_discount - 0.05) AS disc_dev,
       CASE WHEN l_quantity > 40 THEN 'bulk'
            WHEN l_quantity > 20 THEN 'mid'
            ELSE 'small' END AS qty_tier,
       COALESCE(l_tax, 0.0) AS tax_filled
FROM lineitem
"""


def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column.

    The extracted value is accepted only when it is an INTEGRAL string,
    checked identically on both engines: a bare cross-engine cast would
    diverge the moment the generator emits a decimal or junk value —
    Spark's non-ANSI cast returns NULL on '50.5', DuckDB CAST rounds it
    to 51 (and hard-errors on non-numeric), verified empirically."""
    ev = t(spark, sf_dir, "events")
    k_str = F.get_json_object(F.col("props"), "$.k")
    # \A..\z not ^..$: Java's $ matches BEFORE a final newline (so
    # '123\n' would pass here and int-cast-trim to 123) while DuckDB's
    # regexp_full_match rejects it. {1,9} digits: under Spark 4's
    # default ANSI mode a 10+-digit integral string would make
    # cast('int') THROW rather than null out; 9 digits always fits.
    prop_k = F.when(k_str.rlike(r"\A-?[0-9]{1,9}\z"), k_str.cast("int"))
    return (
        ev.select(
            "event_id",
            "event_type",
            prop_k.alias("prop_k"),
        )
        .filter(F.col("prop_k") > 50)
    )


# json_valid guard: DuckDB's json_extract_string hard-errors on ANY
# malformed non-NULL props ('', '   ', 'not json', a truncated object)
# where Spark's get_json_object returns NULL — the empty-string drift
# sweep found the '' case; the guard covers the whole class.
FN_JSON_SQL = """
WITH x AS (
  SELECT event_id, event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_extract_string(props, '$.k') END AS k_str
  FROM events
)
SELECT event_id, event_type,
       TRY_CAST(k_str AS INTEGER) AS prop_k
FROM x
WHERE regexp_full_match(k_str, '-?[0-9]{1,9}')
  AND TRY_CAST(k_str AS INTEGER) > 50
"""
# TRY_CAST, not CAST: DuckDB gives WHERE conjuncts no evaluation order,
# so a hard CAST could run on a k_str the regexp predicate rejects
# (a 19-digit integral overflows INT32 with a loud ConversionException
# — malformed-JSON probe, round 11). On regexp-passing strings TRY_CAST
# and CAST are identical, so the base path is unchanged.


def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → array → explode + array_contains."""
    part = t(spark, sf_dir, "part")
    words = part.select(
        "p_partkey",
        F.split(F.col("p_type"), " ").alias("type_words"),
    )
    return words.select(
        "p_partkey",
        F.explode(F.col("type_words")).alias("type_word"),
        F.array_contains(F.col("type_words"), "STANDARD").alias("is_standard"),
        F.size(F.col("type_words")).cast("int").alias("n_words"),
    )


FN_ARRAY_SQL = """
SELECT p_partkey,
       unnest(string_split(p_type, ' ')) AS type_word,
       list_contains(string_split(p_type, ' '), 'STANDARD') AS is_standard,
       CAST(len(string_split(p_type, ' ')) AS INTEGER) AS n_words
FROM part
"""


def fn_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type round trip: build struct / map / array values, then
    extract scalars back out (dot access, ``element_at`` on both map and
    array). The oracle checks the flattened result — construction and
    extraction must compose to identity."""
    p = t(spark, sf_dir, "part")
    nested = p.select(
        "p_partkey",
        F.struct(
            F.col("p_brand").alias("brand"), F.col("p_size").alias("size")
        ).alias("ps"),
        F.create_map(F.lit("type"), F.col("p_type")).alias("pm"),
        F.array(F.col("p_size"), F.col("p_size") * F.lit(2)).alias("arr"),
    )
    return nested.select(
        "p_partkey",
        F.col("ps.brand").alias("brand_s"),
        F.col("ps.size").alias("size_s"),
        F.element_at("pm", F.lit("type")).alias("type_m"),
        F.element_at("arr", 2).alias("size_x2"),
        F.size("arr").alias("arr_len"),
    )


FN_STRUCT_MAP_SQL = """
SELECT p_partkey,
       p_brand AS brand_s,
       p_size AS size_s,
       p_type AS type_m,
       p_size * 2 AS size_x2,
       2 AS arr_len
FROM part
"""


def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with the JVM ``parse_url`` built-in
    (host / path / one query parameter) — provenance-tracking metadata
    every web-corpus pipeline normalizes before host-level dedup or
    authority scoring (graph_pagerank). One codegen'd map pass; the
    oracle recomputes the same components with regexes, so the two
    parsers must agree byte-for-byte."""
    docs = t(spark, sf_dir, "documents")
    # Sanitize the generator-controlled fields to a VALID hostname
    # label BEFORE building the URL: java.net.URI (behind parse_url)
    # returns a NULL host for authorities containing '_', NULLs every
    # component on a space/non-ASCII char, and ALSO rejects labels that
    # start or end with '-' or are empty (hostile-strings axis: a
    # sanitized "'apos" → '-apos' or 'trailing ' → 'trailing-' NULLed
    # the host where the oracle's regex extracted it). Three mirrored
    # steps: charset-replace, trim edge hyphens, empty → 'src'.
    def safe(c):
        replaced = F.regexp_replace(c, r"[^A-Za-z0-9]", "-")
        trimmed = F.regexp_replace(replaced, r"^-+|-+$", "")
        return F.when(trimmed == "", F.lit("src")).otherwise(trimmed)

    url = F.concat(
        F.lit("https://"), safe(F.col("source")),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?ref="),
        safe(F.col("lang")),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


FN_URL_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://'
           || CASE WHEN regexp_replace(
                     regexp_replace(source, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') = '' THEN 'src'
                   ELSE regexp_replace(
                     regexp_replace(source, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') END
           || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
           || '?ref='
           || CASE WHEN regexp_replace(
                     regexp_replace(lang, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') = '' THEN 'src'
                   ELSE regexp_replace(
                     regexp_replace(lang, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') END
           AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, 'ref=([^&]*)', 1) AS ref_param
FROM u
"""


def fn_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec round-trips (base64 / hex / md5-of-utf8) — the
    encode/decode surface an ingestion layer needs for opaque payload
    columns. All JVM expressions, one codegen'd map pass; the oracle
    must agree byte-for-byte on every encoding."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    head = F.substring("text", 1, 24)
    return docs.select(
        "doc_id",
        F.base64(head.cast("binary")).alias("b64"),
        F.lower(F.hex(head.cast("binary"))).alias("hx"),
        F.length(F.unbase64(F.base64(head.cast("binary")))).alias(
            "roundtrip_len"
        ),
    )


FN_BINARY_CODEC_SQL = """
SELECT doc_id,
       to_base64(encode(substring(text, 1, 24))) AS b64,
       lower(hex(encode(substring(text, 1, 24)))) AS hx,
       octet_length(from_base64(to_base64(encode(substring(text, 1, 24)))))
         AS roundtrip_len
FROM documents
WHERE doc_id % 50 = 0
"""


def fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all over the events JSON props — every digit run,
    joined to one string so the oracle compares scalars (array renderings
    differ between pandas and DuckDB, values must not). JVM regex vs RE2:
    the pattern sticks to shared semantics (character classes, +)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    return ev.select(
        "event_id",
        F.array_join(
            F.regexp_extract_all("props", F.lit(r"(\d+)"), 1), ","
        ).alias("digit_runs"),
        F.size(F.regexp_extract_all("props", F.lit(r"(\d+)"), 1)).alias(
            "n_runs"
        ),
    )


FN_REGEXP_EXTRACT_ALL_SQL = r"""
SELECT event_id,
       array_to_string(regexp_extract_all(props, '(\d+)', 1), ',')
         AS digit_runs,
       len(regexp_extract_all(props, '(\d+)', 1)) AS n_runs
FROM events
WHERE event_id % 100 = 0
"""


# ------------------------------------------------------------- fn_bitwise

def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR, shifts, popcount — feature-hash and bitmask
    plumbing (SimHash bands, bloom partitioning) exercised as first-class
    scalar functions. Pure codegen'd JVM expressions; the modulo filter
    keeps a constant fraction of rows at any scale factor."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_orderkey")
    y = F.col("l_partkey")
    return (
        li.filter((x % 97 == 0) & (F.col("l_linenumber") == 1))
        .select(
            "l_orderkey",
            "l_partkey",
            x.bitwiseAND(y).alias("band"),
            x.bitwiseOR(y).alias("bor"),
            x.bitwiseXOR(y).alias("bxor"),
            F.shiftleft(y.bitwiseAND(F.lit(255)), 2).cast("bigint").alias("shl"),
            F.shiftright(x, 3).cast("bigint").alias("shr"),
            F.bit_count(x).cast("int").alias("popcount"),
        )
    )


FN_BITWISE_SQL = """
SELECT l_orderkey, l_partkey,
       l_orderkey & l_partkey AS band,
       l_orderkey | l_partkey AS bor,
       xor(l_orderkey, l_partkey) AS bxor,
       CAST((l_partkey & 255) << 2 AS BIGINT) AS shl,
       CAST(l_orderkey >> 3 AS BIGINT) AS shr,
       CAST(bit_count(l_orderkey) AS INT) AS popcount
FROM lineitem
WHERE l_orderkey % 97 = 0 AND l_linenumber = 1
"""


# --------------------------------------------------------- fn_higher_order

def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: transform,
    filter, exists, forall, sequential-fold aggregate, zip_with — the
    lambda-expression surface that keeps array work JVM-side (codegen'd)
    instead of exploding rows or crossing into Python.

    The fold uses Spark's sequential-left-fold ``aggregate``, whose
    evaluation order matches DuckDB's ``list_sum(list_transform(...))`` —
    the same contract operators/simsearch.py::SQL_COSINE relies on."""
    # poisoned-vector exclusion (float-specials contract, _util.vec_finite)
    emb = t(spark, sf_dir, "embeddings").filter(vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return emb.select(
        "vec_id",
        F.expr("size(filter(v, x -> x > 0D))").cast("int").alias("n_pos"),
        F.expr("exists(v, x -> abs(x) > 0.2D)").alias("has_big"),
        F.expr("forall(v, x -> abs(x) < 1.0D)").alias("all_small"),
        F.floor(
            F.expr("aggregate(v, 0D, (acc, x) -> acc + x * x)") * 1e6
        ).alias("sumsq_q6"),
        F.floor(
            F.expr(
                "aggregate(zip_with(v, reverse(v), (x, y) -> x * y),"
                " 0D, (acc, x) -> acc + x)"
            )
            * 1e6
        ).alias("palindot_q6"),
    )


# The oracle mirrors Spark's THREE-VALUED exists/forall/aggregate
# semantics explicitly (ADVICE r4): a NULL array → NULL; a NULL element
# with no decisive match → NULL for exists (no TRUE seen) and forall (no
# FALSE seen), and poisons the fold aggregates. A bare
# len(list_filter(...)) > 0 emulation would answer FALSE/TRUE instead of
# NULL the moment a fixture regeneration null-drifts embedding elements.
# list_sum([]) is NULL in DuckDB but Spark's fold starts at 0D, hence the
# COALESCE on the empty-array path.
FN_HIGHER_ORDER_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
), flags AS (
  SELECT vec_id, v,
         v IS NULL AS vnull,
         COALESCE(len(list_filter(v, x -> x IS NULL)) > 0, FALSE)
           AS has_null_elem
  FROM e
)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       CASE WHEN vnull THEN NULL
            WHEN len(list_filter(v, x -> abs(x) > 0.2)) > 0 THEN TRUE
            WHEN has_null_elem THEN NULL
            ELSE FALSE END AS has_big,
       CASE WHEN vnull THEN NULL
            WHEN len(list_filter(v, x -> NOT abs(x) < 1.0)) > 0 THEN FALSE
            WHEN has_null_elem THEN NULL
            ELSE TRUE END AS all_small,
       CAST(CASE WHEN vnull OR has_null_elem THEN NULL
            ELSE floor(COALESCE(list_sum(list_transform(v, x -> x * x)), 0)
                       * 1e6) END
            AS BIGINT) AS sumsq_q6,
       CAST(CASE WHEN vnull OR has_null_elem THEN NULL
            ELSE floor(COALESCE(list_sum(list_transform(range(1, len(v) + 1),
                       i -> v[i] * v[len(v) - i + 1])), 0) * 1e6) END
            AS BIGINT) AS palindot_q6
FROM flags
"""


def fn_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic beyond fn_date's basics: month-end-clamping
    add_months (both engines clamp Jan 31 + 1mo to Feb end), last_day,
    quarter, ISO weekday (Spark's 1=Sunday dayofweek is normalized to
    ISO 1=Monday to match DuckDB's isodow), and ISO week-of-year
    (year-boundary weeks 52/53/1 agree because both implement ISO
    8601)."""
    orders = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.quarter(d).cast("int").alias("q"),
        (((F.dayofweek(d) + 5) % 7) + 1).cast("int").alias("iso_dow"),
        F.weekofyear(d).cast("int").alias("iso_week"),
    )


FN_DATE_ARITH_SQL = """
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
           AS plus_3mo,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
           AS month_end,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
       CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS iso_dow,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week
FROM orders
"""


# ------------------------------------------------- fn_try_cast

def fn_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe surface: try_cast over deliberately mixed
    good/garbage strings and try_divide through zero denominators —
    malformed input maps to NULL instead of failing the job, the
    semantics a 100 TB ingest needs (one bad row must not kill a stage).
    The oracle uses DuckDB's TRY_CAST and its NULL-on-zero division, so
    both engines' error-value tables must agree row-for-row."""
    orders = t(spark, sf_dir, "orders")
    raw = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.concat(F.lit("x"), F.col("o_orderkey").cast("string")),
    ).otherwise(F.col("o_orderkey").cast("string"))
    rawdate = F.when(
        F.col("o_orderkey") % 4 == 0, F.lit("2024-13-01")
    ).otherwise(F.lit("2024-02-29"))
    denom = (F.col("o_orderkey") % 5).cast("double")
    return orders.select(
        "o_orderkey",
        raw.alias("raw_int"),
        raw.try_cast("bigint").alias("as_int"),
        rawdate.try_cast("date").cast("string").alias("as_date"),
        fquant(
            F.try_divide(F.col("o_totalprice"), denom), 4
        ).alias("safe_div_q4"),
    )


FN_TRY_CAST_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'x' || CAST(o_orderkey AS VARCHAR)
            ELSE CAST(o_orderkey AS VARCHAR) END AS raw_int,
       TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                     THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
         AS as_int,
       CAST(TRY_CAST(CASE WHEN o_orderkey % 4 = 0 THEN '2024-13-01'
                          ELSE '2024-02-29' END AS DATE) AS VARCHAR)
         AS as_date,
       CASE WHEN isfinite(o_totalprice / CAST(o_orderkey % 5 AS DOUBLE))
            THEN floor(o_totalprice / CAST(o_orderkey % 5 AS DOUBLE)
                       * 10000.0) / 10000.0 END AS safe_div_q4
FROM orders
"""


QUERIES: dict[str, Query] = {
    "fn_string": Query(fn_string, FN_STRING_SQL, "string functions"),
    "fn_date": Query(fn_date, FN_DATE_SQL, "date functions"),
    "fn_math_cond": Query(fn_math_cond, FN_MATH_SQL, "math + CASE WHEN"),
    "fn_json": Query(fn_json, FN_JSON_SQL, "JSON extraction"),
    "fn_array": Query(fn_array, FN_ARRAY_SQL, "split/explode/contains"),
    "fn_struct_map": Query(fn_struct_map, FN_STRUCT_MAP_SQL,
                           "struct/map/array construct + extract"),
    "fn_url": Query(fn_url, FN_URL_SQL, "parse_url host/path/query extraction"),
    "fn_binary_codec": Query(
        fn_binary_codec, FN_BINARY_CODEC_SQL, "base64/hex codec round-trips"
    ),
    "fn_regexp_extract_all": Query(
        fn_regexp_extract_all, FN_REGEXP_EXTRACT_ALL_SQL,
        "regexp_extract_all digit runs, array-joined for parity",
    ),
    "fn_bitwise": Query(fn_bitwise, FN_BITWISE_SQL,
                        "bitwise and/or/xor, shifts, popcount"),
    "fn_higher_order": Query(
        fn_higher_order, FN_HIGHER_ORDER_SQL,
        "transform/filter/exists/forall/aggregate/zip_with lambdas"),
    "fn_date_arith": Query(
        fn_date_arith, FN_DATE_ARITH_SQL,
        "add_months/last_day/quarter/ISO dow/ISO week"),
    "fn_try_cast": Query(
        fn_try_cast, FN_TRY_CAST_SQL,
        "ANSI error-safe try_cast / try_divide NULL-on-error surface",
    ),
}
