"""Machine-learning operators (key prefix ``ml_``): exact distributed
trainers (k-means, OLS, naive Bayes, decision stumps), model evaluation
(AUC, confusion sweeps, calibration, ranking metrics), experiment
readouts (A/B tests, uplift, difference-in-differences), feature
engineering (hashing, target encoding, screening, random projection) and
training-label generation.

Trainers and metrics accumulate exact decimal or integer sufficient
statistics and do their float arithmetic once at the end, so every key
hash-matches its DuckDB oracle; no transcendental runs in either engine.

The reference delegates all analytics of this shape to its warehouse/gold
tier (reference README.md:108-118 declares the tier but ships no
implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import (
    POS_LABEL,
    dec,
    fquant,
    spread,
    sql_vec_dim_ok,
    t,
    vec_dim_ok,
    vec_finite,
)


KM_K = 8
KM_ITERS = 2


def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KMeans on the embeddings table — the iterative
    ML-training loop (assign → update) as Catalyst plans, hash-checked
    against a fully-unrolled SQL oracle (operators/ml.py documents the
    exactness contract: fold distances, lowest-cid tie-break,
    integer-quantized centroid sums). k=8, 2 Lloyd iterations, init =
    the k lowest vec_ids; output is every vector's final assignment —
    the corpus-bucketing primitive SemDeDup-style pipelines run before
    per-bucket dedup."""
    from ..operators.ml import kmeans_assign

    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS v"
    )
    return kmeans_assign(emb, k=KM_K, iters=KM_ITERS)


def _km_assign_sql(i: int, cents: str, final: bool = False) -> str:
    # range derived from len(e.v), not the KM_DIM constant — a fixture
    # regenerated at another dimension must not silently truncate the
    # fold (the SQL_COSINE lesson in operators/simsearch.py).
    d2 = (
        "list_sum(list_transform(range(1, len(e.v) + 1),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))"
    )
    cols = (
        "vec_id, cid, floor(d2 * 1000000.0) / 1000000.0 AS d2_q"
        if final
        else "vec_id, cid, v"
    )
    return f"""
a{i} AS (
  SELECT {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (
      SELECT e.vec_id, c.cid, e.v, {d2} AS d2
      FROM e CROSS JOIN {cents} c
    )
  ) WHERE rn = 1
)"""


def _km_update_sql(i: int) -> str:
    return f"""
m{i} AS (
  SELECT a.cid, t.i AS pos,
         SUM(CAST(floor(a.v[t.i] * 1e9) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM a{i} a CROSS JOIN LATERAL unnest(range(1, len(a.v) + 1)) AS t(i)
  GROUP BY 1, 2
), c{i} AS (
  SELECT cid, list((CAST(s AS DOUBLE) / 1e9) / n ORDER BY pos) AS cv
  FROM m{i}
  GROUP BY cid
)"""


ML_KMEANS_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < {KM_K}
),{_km_assign_sql(1, "c0")},{_km_update_sql(1)},{_km_assign_sql(2, "c1")},{_km_update_sql(2)},{_km_assign_sql(3, "c2", final=True)}
SELECT vec_id, cid, d2_q FROM a3
"""


# ----------------------------------------------------------- ml_linreg

def ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority simple OLS (o_totalprice ~ items-per-order) from
    mergeable sufficient statistics — the distributed-exact formulation:
    n, Σx, Σy, Σx², Σxy accumulate as exact decimals/bigints (order-
    insensitive), then slope/intercept are computed in one deterministic
    IEEE double expression per group. Built-in regr_slope is avoided on
    purpose: it accumulates doubles in partition order and is not
    cross-engine reproducible. One fact-side aggregation shuffle
    (per-order counts) + one tiny per-group reduce."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("x")
    )
    base = orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    ).select(
        "o_orderpriority",
        F.coalesce("x", F.lit(0)).cast("decimal(10,0)").alias("x"),
        dec("o_totalprice").alias("y"),
    )
    g = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("x")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_raw = num / F.nullif(den, F.lit(0.0))
    return g.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n_orders"),
        fquant(slope_raw, 6).alias("slope"),
        fquant((F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    ).orderBy("o_orderpriority")


ML_LINREG_SQL = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(*) AS x FROM lineitem GROUP BY l_orderkey
), base AS (
  SELECT o.o_orderpriority,
         CAST(COALESCE(p.x, 0) AS DECIMAL(10,0)) AS x,
         CAST(CASE WHEN isfinite(o.o_totalprice) THEN o.o_totalprice END AS DECIMAL(18,4)) AS y
  FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
), g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * x) AS DOUBLE) AS sxy
  FROM base GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_orders,
       floor((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0)
             * 1000000.0) / 1000000.0 AS slope,
       floor((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx)
             / n * 10000.0) / 10000.0 AS intercept
FROM g
ORDER BY o_orderpriority
"""


# ------------------------------------------------- ml_random_projection

RP_DIMS = 4
RP_A = 1103515245
RP_B = 12345


def _rp_sign(i, j: int):
    """Deterministic ±1 weight from an LCG-style integer mix of (element
    index, output dim) — pure bigint arithmetic, so both engines compute
    the identical weight matrix with no RNG or shared seed protocol."""
    return F.when(
        F.pmod(i.cast("bigint") * RP_A + F.lit(j) * RP_B, 97) % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def ml_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding column to
    RP_DIMS dimensions with a deterministic ±1 (Achlioptas) weight
    matrix: y_j = Σ_i v_i · sign(i,j) / √d. The standard cheap
    dimensionality-reduction step before clustering or coarse ANN at
    corpus scale — distance-preserving in expectation, and here fully
    oracle-checkable because the 'random' signs derive from integer
    arithmetic both engines evaluate identically.

    Scale: one map pass, JVM zip_with/aggregate lambdas per output dim
    (sequential fold = identical IEEE order cross-engine), no shuffle at
    all."""
    # poisoned-vector exclusion (float-specials contract, _util.vec_finite)
    emb = t(spark, sf_dir, "embeddings").filter(vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    idx = F.sequence(F.lit(1), F.size("v"))
    d = F.sqrt(F.size("v").cast("double"))
    cols = []
    for j in range(1, RP_DIMS + 1):
        s = F.aggregate(
            F.zip_with("v", idx, lambda x, i: x * _rp_sign(i, j)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(fquant(s / d, 6).alias(f"rp_{j}_q6"))
    return emb.select("vec_id", *cols)


def _rp_sql() -> str:
    cols = []
    for j in range(1, RP_DIMS + 1):
        sign = (
            f"CASE WHEN ((i * {RP_A} + {j} * {RP_B}) % 97 + 97) % 97 % 2 = 0 "
            f"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
        )
        fold = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len(v) + 1), i -> v[i] * {sign})), "
            f"(acc, x) -> acc + x)"
        )
        cols.append(
            f"floor({fold} / sqrt(CAST(len(v) AS DOUBLE)) * 1000000.0) "
            f"/ 1000000.0 AS rp_{j}_q6"
        )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)) SELECT vec_id, " + ", ".join(cols) + " FROM e"
    )


ML_RANDOM_PROJECTION_SQL = _rp_sql()


# --------------------------------------------------------- ml_naive_bayes

#: Vocabulary support floor: terms with global count below this are
#: dropped from the model (rare-term noise; also bounds model rows).
NB_MIN_TERM_COUNT = 5


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes trainer for language classification over
    ``documents`` — the one classical ML trainer that is EXACTLY
    SQL-expressible: the entire model is integer counts. Emits, per
    (lang, term) with global term count >= ``NB_MIN_TERM_COUNT``, the
    Laplace-smoothed class-conditional probability
    ``(c_tc + 1) / (n_c + V)`` plus the class prior — both pure
    integer-ratio doubles (correctly-rounded single divisions of exact
    integers, bit-identical on every engine; no ``log`` anywhere
    because libm ``ln`` differs in the last ulp across engines — a
    scorer can sum logs of these probs engine-locally).

    Scale: ONE corpus tokenization pass (checkpointed token relation
    feeds everything downstream), then every aggregate runs over the
    (lang, term) COUNT relation — vocab size V, class token totals n_c,
    and class priors are re-aggregates of counts, never of the corpus —
    and the rejoins broadcast #classes-sized frames. The count groupBy
    is map-side combinable; hot terms are exactly what AQE skew-split
    handles."""
    # ONE corpus pass: the checkpointed doc-level (lang, toks) relation
    # feeds both the token counts and the class priors — without it the
    # text column is read (and split) twice
    base = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang",
            "doc_id",
            F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias(
                "toks"
            ),
        )
        .localCheckpoint(eager=False)
    )
    toks = base.select("lang", F.explode("toks").alias("term"))
    # (lang, term) counts — the model's sufficient statistics
    ct = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("c_tc")
    ).localCheckpoint(eager=False)
    # vocabulary (with support floor) and class totals: re-aggregates of
    # the count relation, not the corpus
    gt = ct.groupBy("term").agg(F.sum("c_tc").alias("c_t")).filter(
        F.col("c_t") >= NB_MIN_TERM_COUNT
    )
    nc = ct.groupBy("lang").agg(F.sum("c_tc").alias("n_c"))
    vocab_v = gt.agg(F.count(F.lit(1)).alias("v"))
    # class priors from doc counts (over the checkpointed base, not a
    # second corpus scan)
    prior = base.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    n_all = prior.agg(F.sum("n_docs").alias("n_all"))
    return (
        ct.join(gt.select("term"), "term")
        .join(F.broadcast(nc), "lang")
        .crossJoin(F.broadcast(vocab_v))
        .join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(n_all))
        .select(
            "lang",
            "term",
            F.col("c_tc").cast("long").alias("c_tc"),
            fquant(
                (F.col("c_tc") + F.lit(1)).cast("double")
                / (F.col("n_c") + F.col("v")).cast("double"),
                9,
            ).alias("p_term_given_lang"),
            fquant(
                F.col("n_docs").cast("double")
                / F.col("n_all").cast("double"),
                9,
            ).alias("p_lang"),
        )
    )


ML_NAIVE_BAYES_SQL = f"""
WITH base AS MATERIALIZED (
    SELECT lang, doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), toks AS (
    SELECT lang, doc_id, unnest(toks) AS term FROM base
), ct AS MATERIALIZED (
    SELECT lang, term, COUNT(*) AS c_tc FROM toks GROUP BY lang, term
), gt AS MATERIALIZED (
    SELECT term FROM ct GROUP BY term
    HAVING SUM(c_tc) >= {NB_MIN_TERM_COUNT}
), nc AS (
    SELECT lang, SUM(c_tc) AS n_c FROM ct GROUP BY lang
), vocab AS (SELECT COUNT(*) AS v FROM gt),
prior AS (
    SELECT lang, COUNT(*) AS n_docs FROM base GROUP BY lang
), na AS (SELECT SUM(n_docs) AS n_all FROM prior)
SELECT ct.lang, ct.term,
       CAST(ct.c_tc AS BIGINT) AS c_tc,
       floor(CAST(ct.c_tc + 1 AS DOUBLE) / CAST(nc.n_c + vocab.v AS DOUBLE)
             * 1000000000.0) / 1000000000.0 AS p_term_given_lang,
       floor(CAST(prior.n_docs AS DOUBLE) / CAST(na.n_all AS DOUBLE)
             * 1000000000.0) / 1000000000.0 AS p_lang
FROM ct
JOIN gt USING (term)
JOIN nc USING (lang)
CROSS JOIN vocab
JOIN prior USING (lang)
CROSS JOIN na
"""


# ----------------------------------------------------------------- ml_auc

#: The five event types, pinned so the one-vs-rest pivot is a
#: compile-time projection (no second pass to discover labels).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: Score-bucket granularity: scores enter the AUC as
#: ``floor(value * 100)`` — the AUC of the centi-bucketed classifier,
#: computed EXACTLY. Bucketing is what bounds the ordered state (the
#: prefix-sum window runs over the bucket relation, not the corpus);
#: 100 TB posture: the bucket count is the knob, same role as a ROC
#: histogram's bin count.
AUC_BUCKET_FACTOR = 100


def ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest ROC AUC of ``value`` as a score for each event type,
    in the exact Mann-Whitney U form: with per-bucket positive count p,
    negative count q, and running negative count below the bucket B⁻,
    ``2U = Σ p·(2B⁻ + q)`` (ties count half — hence the doubled form,
    which keeps every term an INTEGER). AUC = 2U / (2·npos·nneg), one
    double division of exact decimal operands, so the value is
    bit-identical across engines — no libm, no float accumulation.

    Scale: one map-side-combinable groupBy on the score bucket, one
    ordered prefix-sum window over the BUCKET relation (bounded by
    ``AUC_BUCKET_FACTOR`` × score range, not by rows — the
    single-partition exchange moves buckets only), one global aggregate,
    and a 5-row unpivot. The U accumulator is DECIMAL(38,0): counts
    beyond 2⁵³ would silently lose integer exactness in a double.

    The model-eval primitive (Mann-Whitney U form, exact — no sampling, no
    sklearn)."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor(F.col("value") * AUC_BUCKET_FACTOR).alias("bkt"),
        "event_type",
    )
    per = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("event_type") == ty, 1)).alias(f"c_{ty}")
            for ty in EVENT_TYPES
        ],
    )
    below = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run_n = F.coalesce(F.sum("n").over(below), F.lit(0))
    terms = per
    for ty in EVENT_TYPES:
        run_t = F.coalesce(F.sum(f"c_{ty}").over(below), F.lit(0))
        neg_below2 = (run_n - run_t) * 2
        ties = F.col("n") - F.col(f"c_{ty}")
        terms = terms.withColumn(
            f"u2_{ty}",
            F.col(f"c_{ty}").cast("decimal(19,0)")
            * (neg_below2 + ties).cast("decimal(19,0)"),
        )
    tot = terms.agg(
        F.sum("n").alias("n_total"),
        *[F.sum(f"c_{ty}").alias(f"p_{ty}") for ty in EVENT_TYPES],
        *[F.sum(f"u2_{ty}").alias(f"u_{ty}") for ty in EVENT_TYPES],
    )
    stack = F.expr(
        "stack({n}, {args}) AS (event_type, npos, u2)".format(
            n=len(EVENT_TYPES),
            args=", ".join(
                f"'{ty}', p_{ty}, u_{ty}" for ty in EVENT_TYPES
            ),
        )
    )
    npos = F.col("npos").cast("double")
    nneg = (F.col("n_total") - F.col("npos")).cast("double")
    # Degenerate classes (no positives or no negatives) make the
    # denominator 0; Spark's floor-of-NaN/Inf differs from DuckDB's, so
    # gate the division — an absent/universal label yields NULL AUC
    # identically on both engines instead of breaking parity.
    auc = F.when(
        (npos > 0) & (nneg > 0),
        fquant(F.col("u2").cast("double") / (2.0 * npos * nneg), 6),
    )
    # Label-set drift guard: EVENT_TYPES is pinned at compile time, so a
    # new label in the data would silently count as a negative for every
    # class on BOTH engines and the parity gate could not see it.
    # Surface the out-of-vocabulary row count in every output row —
    # drift shows as n_other > 0, and tests/test_semantic_oracle.py pins it
    # to 0 against the fixture.
    n_other = F.col("n_total")
    for ty in EVENT_TYPES:
        n_other = n_other - F.col(f"p_{ty}")
    return (
        tot.select("n_total", n_other.cast("long").alias("n_other"), stack)
        .select(
            "event_type",
            F.col("npos").cast("long").alias("npos"),
            (F.col("n_total") - F.col("npos")).cast("long").alias("nneg"),
            auc.alias("auc"),
            "n_other",
        )
    )


def _auc_sql() -> str:
    per_cols = ",\n           ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{ty}') AS c_{ty}"
        for ty in EVENT_TYPES
    )
    term_cols = ",\n           ".join(
        f"CAST(c_{ty} AS DECIMAL(19,0)) * CAST((run_n - run_{ty}) * 2"
        f" + (n - c_{ty}) AS DECIMAL(19,0)) AS u2_{ty}"
        for ty in EVENT_TYPES
    )
    run_cols = ",\n           ".join(
        f"COALESCE(SUM(c_{ty}) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) AS run_{ty}"
        for ty in EVENT_TYPES
    )
    tot_cols = ", ".join(
        f"SUM(c_{ty}) AS p_{ty}, SUM(u2_{ty}) AS u_{ty}"
        for ty in EVENT_TYPES
    )
    other = " - ".join(["n_total", *(f"p_{ty}" for ty in EVENT_TYPES)])
    branches = "\nUNION ALL\n".join(
        f"SELECT '{ty}' AS event_type,"
        f" CAST(p_{ty} AS BIGINT) AS npos,"
        f" CAST(n_total - p_{ty} AS BIGINT) AS nneg,"
        f" CASE WHEN p_{ty} > 0 AND n_total - p_{ty} > 0 THEN"
        f" floor(CAST(u_{ty} AS DOUBLE) / (2.0 * CAST(p_{ty} AS DOUBLE)"
        f" * CAST(n_total - p_{ty} AS DOUBLE)) * 1000000.0) / 1000000.0"
        f" END AS auc,"
        f" CAST({other} AS BIGINT) AS n_other FROM tot"
        for ty in EVENT_TYPES
    )
    return f"""
WITH per AS (
    SELECT CAST(floor(value * {AUC_BUCKET_FACTOR}) AS BIGINT) AS bkt,
           COUNT(*) AS n,
           {per_cols}
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), runs AS (
    SELECT *,
           COALESCE(SUM(n) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS run_n,
           {run_cols}
    FROM per
), terms AS (
    SELECT *,
           {term_cols}
    FROM runs
), tot AS (
    SELECT SUM(n) AS n_total, {tot_cols} FROM terms
)
{branches}
"""


ML_AUC_SQL = _auc_sql()


def ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep confusion matrices for ``value`` as a score
    predicting ``event_type = 'purchase'``: one row per integer
    threshold b (predict positive when value ≥ b), with TP/FP/FN/TN and
    precision/recall/F1. This is the operating-point table a deployed
    filter is tuned from — AUC (ml_auc) ranks the model, this picks the
    threshold.

    Scale: one map-side-combinable groupBy onto integer score buckets
    (≤ max(value) rows — hundreds, not corpus-sized), then
    cumulative-from-top window sums over the BUCKET relation give every
    threshold's TP/FP simultaneously; totals ride the same window
    frame. All counts are exact integers; each derived metric is ONE
    double division of integer operands (bit-identical cross-engine),
    NULL-guarded for degenerate thresholds (no positives in data ⇒
    recall NULL — same guard discipline as ml_auc after ADVICE r6).

    The operating-point companion to ``ml_auc``: AUC is threshold-free;
    deployment needs a threshold."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor("value").cast("long").alias("thr"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
    )
    per = b.groupBy("thr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
    )
    above = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tp = F.sum("pos").over(above)
    fp = F.sum("n").over(above) - tp
    pos_tot = F.sum("pos").over(full)
    neg_tot = F.sum("n").over(full) - pos_tot
    fn = pos_tot - tp
    tn = neg_tot - fp
    prec = F.when(
        (tp + fp) > 0, fquant(tp.cast("double") / (tp + fp).cast("double"), 6)
    )
    rec = F.when(
        pos_tot > 0, fquant(tp.cast("double") / pos_tot.cast("double"), 6)
    )
    f1 = F.when(
        (2 * tp + fp + fn) > 0,
        fquant(
            (2 * tp).cast("double") / (2 * tp + fp + fn).cast("double"), 6
        ),
    )
    return per.select(
        F.col("thr").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        prec.alias("precision_"),
        rec.alias("recall_"),
        f1.alias("f1"),
    )


ML_CONFUSION_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS thr,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END) AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cum AS (
    SELECT thr,
           SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS tp,
           SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)
             - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS fp,
           SUM(pos) OVER () AS pos_tot,
           SUM(n) OVER () - SUM(pos) OVER () AS neg_tot
    FROM per
)
SELECT thr AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(pos_tot - tp AS BIGINT) AS fn,
       CAST(neg_tot - fp AS BIGINT) AS tn,
       CASE WHEN tp + fp > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS precision_,
       CASE WHEN pos_tot > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(pos_tot AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS recall_,
       CASE WHEN 2 * tp + fp + (pos_tot - tp) > 0 THEN
         floor(CAST(2 * tp AS DOUBLE)
               / CAST(2 * tp + fp + (pos_tot - tp) AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS f1
FROM cum
"""


# ---------------------------------------------------------- ml_calibration

#: Calibration bin width on the score axis (value spans ~0..600 in the
#: fixtures ⇒ ~a dozen bins; the bin count, not the corpus, bounds the
#: windowed relation).
CALIB_BIN = 50


def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration (reliability) table: bucket ``value`` into
    fixed-width bins and compare each bin's empirical positive rate to
    the global base rate — the honesty check behind any thresholded use
    of a score (a score can rank well — high AUC — and still be badly
    calibrated). Output per bin: n, positives, decimal-exact mean score,
    positive rate, global base rate, and lift (bin rate / base rate).

    Scale: one map-side-combinable groupBy onto ≤ max(value)/CALIB_BIN
    bins; the base rate is a window over the BIN relation (integer sums
    — exact, order-insensitive), never a second corpus scan. Mean score
    follows the decimal discipline (_util.davg form); each rate/lift is
    one double division of exact operands, floor-quantized.

    The reliability companion to ``ml_auc``: AUC is threshold-free;
    deployment needs honest probabilities."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    binned = ev.select(
        (F.floor(F.col("value") / CALIB_BIN) * CALIB_BIN)
        .cast("long")
        .alias("bin_lo"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
        "value",
    )
    per = binned.groupBy("bin_lo").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
        F.sum(dec("value")).alias("sv"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = (
        F.sum("pos").over(w).cast("double")
        / F.sum("n").over(w).cast("double")
    )
    rate = F.col("pos").cast("double") / F.col("n").cast("double")
    return per.select(
        "bin_lo",
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        fquant(F.col("sv").cast("double") / F.col("n"), 4).alias(
            "mean_score"
        ),
        fquant(rate, 6).alias("pos_rate"),
        fquant(base, 6).alias("base_rate"),
        F.when(F.sum("pos").over(w) > 0, fquant(rate / base, 6)).alias(
            "lift"
        ),
    )


ML_CALIBRATION_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value / {CALIB_BIN}) * {CALIB_BIN} AS BIGINT)
             AS bin_lo,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END)
             AS pos,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) AS sv
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
)
SELECT bin_lo,
       CAST(n AS BIGINT) AS n,
       CAST(pos AS BIGINT) AS pos,
       floor(CAST(sv AS DOUBLE) / n * 10000.0) / 10000.0 AS mean_score,
       floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
             * 1000000.0) / 1000000.0 AS pos_rate,
       floor(CAST(SUM(pos) OVER () AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE)
             * 1000000.0) / 1000000.0 AS base_rate,
       CASE WHEN SUM(pos) OVER () > 0 THEN
         floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
               / (CAST(SUM(pos) OVER () AS DOUBLE)
                  / CAST(SUM(n) OVER () AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS lift
FROM per
"""


# --------------------------------------------------------------- ml_chi2


def ml_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic of event_type × ISO weekday —
    the categorical-drift audit (is the event mix stable across the
    week, or did a weekday's traffic change composition?). Output per
    event type: its row count, its χ² contribution summed over the 7
    weekday cells, and the per-type dof (7−1).

    Determinism: observed counts and row/col totals are exact integers
    (windows over the ≤35-row contingency relation); each cell's
    E = O_row·O_col/N and (O−E)²/E are the IDENTICAL double expression
    tree on both engines (bit-equal), and the per-type sum of cells is
    made order-insensitive by quantizing each cell to an integer first
    (floor(cell·1e9) as BIGINT — the pagerank trick) before summing.
    Products rt·ct stay exact in double until ~9.5e7 rows (2^53 over the
    5×7 grid); past that, widen to decimal.

    Scale: one map-side-combinable 35-group count; everything after
    runs on the contingency relation."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("int").alias("isodow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("isodow")
    w_all = Window.partitionBy()
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("nn").cast("double")
    )
    cell = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    withq = cells.select(
        "event_type",
        "o",
        F.sum("o").over(w_row).alias("rt"),
        F.sum("o").over(w_col).alias("ct"),
        F.sum("o").over(w_all).alias("nn"),
    ).select(
        "event_type",
        "o",
        "rt",
        F.floor(cell * F.lit(1e9)).cast("long").alias("q9"),
    )
    return withq.groupBy("event_type").agg(
        F.max("rt").cast("long").alias("n_rows"),
        fquant(F.sum("q9").cast("double") / F.lit(1e9), 6).alias(
            "chi2_part"
        ),
        F.lit(6).cast("int").alias("dof"),
    )


ML_CHI2_SQL = """
WITH cells AS (
    SELECT event_type,
           CAST(isodow(ts) AS INT) AS isodow,
           COUNT(*) AS o
    FROM events GROUP BY 1, 2
), tot AS (
    SELECT event_type, o,
           SUM(o) OVER (PARTITION BY event_type) AS rt,
           SUM(o) OVER (PARTITION BY isodow) AS ct,
           SUM(o) OVER () AS nn
    FROM cells
), q AS (
    SELECT event_type, rt,
           CAST(floor(
             (CAST(o AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(nn AS DOUBLE))
             * (CAST(o AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(nn AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(nn AS DOUBLE))
             * 1e9) AS BIGINT) AS q9
    FROM tot
)
SELECT event_type,
       CAST(MAX(rt) AS BIGINT) AS n_rows,
       floor(CAST(SUM(q9) AS DOUBLE) / 1e9 * 1000000.0) / 1000000.0
         AS chi2_part,
       CAST(6 AS INT) AS dof
FROM q GROUP BY event_type
"""


def ml_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump trainer: the best axis-aligned split
    ``value >= t`` for predicting ``event_type = 'purchase'``, chosen by
    minimum Gini impurity over every integer threshold — the weak
    learner every boosted/bagged tree ensemble composes, trained here
    with no sampling and no per-row driver work. Output: the winning
    threshold with both sides' counts, the split's weighted Gini, the
    parent impurity, and the gain.

    Determinism: side counts come from cumulative-from-top window sums
    over the integer score-bucket relation (exact), and every impurity
    is the IDENTICAL rational expression of those integers on both
    engines (squares stay under 2^53 up to ~9.5e7 rows/side); the
    argmin orders by that bit-identical double with the threshold as
    tiebreak. Degenerate splits (either side empty) are filtered before
    the argmin, so no division is ever undefined.

    Scale: one map-side-combinable groupBy onto ≤ max(value) buckets;
    windows, impurity arithmetic and the top-1 run on the bucket
    relation (TakeOrderedAndProject, never a global sort of data)."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: a non-finite value has no score bucket
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor("value").cast("long").alias("thr"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
    )
    per = b.groupBy("thr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_pos").alias("pos")
    )
    above = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cand = per.select(
        "thr",
        F.sum("n").over(above).alias("n_ge"),
        F.sum("pos").over(above).alias("pos_ge"),
        F.sum("n").over(full).alias("nn"),
        F.sum("pos").over(full).alias("pos_tot"),
    ).select(
        "thr", "n_ge", "pos_ge", "nn", "pos_tot",
        (F.col("nn") - F.col("n_ge")).alias("n_lt"),
        (F.col("pos_tot") - F.col("pos_ge")).alias("pos_lt"),
    ).filter((F.col("n_ge") > 0) & (F.col("n_lt") > 0))

    def gini(n, p):
        n_d = n.cast("double")
        p_d = p.cast("double")
        q_d = (n - p).cast("double")
        return F.lit(1.0) - (p_d * p_d + q_d * q_d) / (n_d * n_d)

    w_gini = (
        F.col("n_ge").cast("double") * gini(F.col("n_ge"), F.col("pos_ge"))
        + F.col("n_lt").cast("double") * gini(F.col("n_lt"), F.col("pos_lt"))
    ) / F.col("nn").cast("double")
    parent = gini(F.col("nn"), F.col("pos_tot"))
    scored = cand.select(
        "thr", "n_ge", "pos_ge", "n_lt", "pos_lt",
        w_gini.alias("wg"), parent.alias("pg"),
    )
    return (
        scored.orderBy(F.col("wg").asc(), F.col("thr").asc())
        .limit(1)
        .select(
            F.col("thr").alias("threshold"),
            F.col("n_ge").cast("long").alias("n_ge"),
            F.col("pos_ge").cast("long").alias("pos_ge"),
            F.col("n_lt").cast("long").alias("n_lt"),
            F.col("pos_lt").cast("long").alias("pos_lt"),
            fquant(F.col("wg"), 6).alias("split_gini"),
            fquant(F.col("pg"), 6).alias("parent_gini"),
            fquant(F.col("pg") - F.col("wg"), 6).alias("gain"),
        )
    )


ML_STUMP_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS thr,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END) AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cand AS (
    SELECT thr,
           SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS n_ge,
           SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS pos_ge,
           SUM(n) OVER () AS nn,
           SUM(pos) OVER () AS pos_tot
    FROM per
), sides AS (
    SELECT thr, n_ge, pos_ge, nn, pos_tot,
           nn - n_ge AS n_lt, pos_tot - pos_ge AS pos_lt
    FROM cand WHERE n_ge > 0 AND nn - n_ge > 0
), scored AS (
    SELECT thr, n_ge, pos_ge, n_lt, pos_lt,
           (CAST(n_ge AS DOUBLE) *
              (1.0 - (CAST(pos_ge AS DOUBLE) * CAST(pos_ge AS DOUBLE)
                      + CAST(n_ge - pos_ge AS DOUBLE)
                        * CAST(n_ge - pos_ge AS DOUBLE))
                     / (CAST(n_ge AS DOUBLE) * CAST(n_ge AS DOUBLE)))
            + CAST(n_lt AS DOUBLE) *
              (1.0 - (CAST(pos_lt AS DOUBLE) * CAST(pos_lt AS DOUBLE)
                      + CAST(n_lt - pos_lt AS DOUBLE)
                        * CAST(n_lt - pos_lt AS DOUBLE))
                     / (CAST(n_lt AS DOUBLE) * CAST(n_lt AS DOUBLE))))
           / CAST(nn AS DOUBLE) AS wg,
           1.0 - (CAST(pos_tot AS DOUBLE) * CAST(pos_tot AS DOUBLE)
                  + CAST(nn - pos_tot AS DOUBLE)
                    * CAST(nn - pos_tot AS DOUBLE))
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pg
    FROM sides
)
SELECT thr AS threshold,
       CAST(n_ge AS BIGINT) AS n_ge,
       CAST(pos_ge AS BIGINT) AS pos_ge,
       CAST(n_lt AS BIGINT) AS n_lt,
       CAST(pos_lt AS BIGINT) AS pos_lt,
       floor(wg * 1000000.0) / 1000000.0 AS split_gini,
       floor(pg * 1000000.0) / 1000000.0 AS parent_gini,
       floor((pg - wg) * 1000000.0) / 1000000.0 AS gain
FROM scored
ORDER BY wg ASC, thr ASC
LIMIT 1
"""


# ------------------------------------------------------------ ml_survival_km


def ml_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user LIFETIME (days from first to
    last activity): a user's lifetime "ends" at their last active day
    (churn); users whose last activity falls on the corpus' final day
    are CENSORED (still alive when observation ended — counted at risk
    through their observed duration, never as deaths; dropping
    censoring is the classic way to overstate churn). The timeline is
    duration, not calendar date — the standard KM formulation, and what
    keeps the curve informative when activity clusters near the
    corpus boundary. Output per duration with deaths: the at-risk
    count, deaths, and the KM estimate Π(1 − dᵢ/nᵢ).

    Determinism: dᵢ and nᵢ are exact integers (suffix sums over the
    ≤#days² duration×last-day relation); each factor is one double
    division of integers, and the survival product is a SEQUENTIAL
    fold over the frame-ordered factor list (the ts_ewma pattern —
    both engines multiply in the same order, bit-identical IEEE; a
    log-sum would drag in libm, banned from hash-checked keys).

    Scale: the corpus collapses to the (user, first, last) relation in
    one map-side-combinable shuffle, then to the duration-sized
    lifetime relation; every window and the fold run on that tiny
    relation."""
    ev = t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"),
        F.max(F.to_date("ts")).alias("ld"),
    )
    g = users.groupBy(
        F.datediff("ld", "fd").cast("int").alias("dur"), "ld"
    ).agg(F.count(F.lit(1)).alias("n_users"))
    w_full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mx = F.max("ld").over(w_full)
    per_dur = (
        g.select(
            "dur",
            F.when(F.col("ld") < mx, F.col("n_users"))
            .otherwise(F.lit(0))
            .alias("d_part"),
            F.col("n_users").alias("all_part"),
        )
        .groupBy("dur")
        .agg(
            F.sum("d_part").alias("deaths"),
            F.sum("all_part").alias("n_all"),
        )
    )
    w_sfx = Window.orderBy("dur").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = F.sum("n_all").over(w_sfx)
    staged = per_dur.select(
        "dur",
        at_risk.alias("n_at_risk"),
        F.col("deaths"),
        (
            F.lit(1.0)
            - F.col("deaths").cast("double") / at_risk.cast("double")
        ).alias("factor"),
    )
    surv = F.aggregate(
        F.collect_list("factor").over(w_asc),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return (
        staged.select(
            "dur", "n_at_risk", "deaths", surv.alias("surv")
        )
        .filter(F.col("deaths") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("deaths").cast("long").alias("n_churned"),
            fquant(F.col("surv"), 6).alias("km_survival"),
        )
    )


ML_SURVIVAL_KM_SQL = """
WITH users AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
           MAX(CAST(ts AS DATE)) AS ld
    FROM events GROUP BY 1
), g AS (
    SELECT CAST(datediff('day', fd, ld) AS INT) AS dur, ld,
           COUNT(*) AS n_users
    FROM users GROUP BY 1, 2
), fixed AS (
    SELECT dur,
           SUM(deaths_w) AS deaths,
           SUM(n_all_w) AS n_all
    FROM (
        SELECT dur,
               CASE WHEN ld < MAX(ld) OVER () THEN n_users ELSE 0 END
                 AS deaths_w,
               n_users AS n_all_w
        FROM g
    ) GROUP BY dur
), staged AS (
    SELECT dur,
           SUM(n_all) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW AND
               UNBOUNDED FOLLOWING) AS n_at_risk,
           deaths,
           1.0 - CAST(deaths AS DOUBLE)
                 / CAST(SUM(n_all) OVER (ORDER BY dur ROWS BETWEEN
                        CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)
             AS factor
    FROM fixed
), folded AS (
    SELECT dur, n_at_risk, deaths,
           list(factor) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS factors
    FROM staged
)
SELECT CAST(dur AS INT) AS duration_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(deaths AS BIGINT) AS n_churned,
       floor(
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                  CAST(factors AS DOUBLE[])),
                     (acc, x) -> acc * x)
         * 1000000.0) / 1000000.0 AS km_survival
FROM folded
WHERE deaths > 0
"""


# ----------------------------------------------------------------- ml_ndcg

#: NDCG cutoff and the 1e9-quantized log2 discounts, computed ONCE in
#: Python and injected as integer literals — no transcendental ever
#: runs inside either engine (the dq_benford/BENFORD_P stance).
NDCG_K = 10
NDCG_WQ9 = tuple(
    math.floor(1e9 / math.log2(i + 1)) for i in range(1, NDCG_K + 1)
)


def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user NDCG@10 of ``value`` as a ranking score with purchases
    as the relevant items — the ranking-quality member of the eval
    family (AUC grades the global ordering; NDCG grades each user's
    top-of-list, which is what retrieval and feed pipelines ship).

    Determinism: events rank per user by (value DESC, event_id ASC) —
    total order, no ties. DCG and ideal DCG are INTEGER sums of the
    pre-quantized discount literals (relevant hit at rank i contributes
    ``NDCG_WQ9[i-1]``; the ideal list takes the first min(n_pos, 10)
    discounts), so the only float is the final dcg/idcg division.
    Users with no purchase yield NULL (degenerate-class guard).

    Scale: one window shuffle by user_id (rank + running relevance
    count), one map-side-combinable per-user aggregate. The discount
    array is a compile-time literal — nothing joins, nothing
    broadcasts."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    rel = (F.col("event_type") == "purchase").cast("int")
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number().over(w).alias("rn"),
    )
    wq = F.array(*[F.lit(q) for q in NDCG_WQ9])
    gain = F.when(
        (F.col("rn") <= NDCG_K) & (F.col("rel") == 1),
        F.element_at(wq, F.col("rn")),
    ).otherwise(F.lit(0))
    per = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("rel").alias("n_pos"),
        F.sum(gain).alias("dcg_q"),
    )
    # ideal DCG: first min(n_pos, K) discounts — a prefix-sum lookup of
    # the same literal array
    prefix = [0]
    for q in NDCG_WQ9:
        prefix.append(prefix[-1] + q)
    pre = F.array(*[F.lit(p) for p in prefix])
    idcg_q = F.element_at(
        pre, F.least(F.col("n_pos"), F.lit(NDCG_K)).cast("int") + 1
    )
    return per.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.when(
            F.col("n_pos") > 0,
            fquant(
                F.col("dcg_q").cast("double") / idcg_q.cast("double"), 6
            ),
        ).alias("ndcg"),
    )


def _ndcg_sql() -> str:
    wq_cases = " ".join(
        f"WHEN {i + 1} THEN {q}" for i, q in enumerate(NDCG_WQ9)
    )
    prefix = [0]
    for q in NDCG_WQ9:
        prefix.append(prefix[-1] + q)
    pre_cases = " ".join(
        f"WHEN {i} THEN {p}" for i, p in enumerate(prefix)
    )
    return f"""
WITH ranked AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events WHERE value IS NOT NULL
), per AS (
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(rel) AS n_pos,
           SUM(CASE WHEN rn <= {NDCG_K} AND rel = 1
                    THEN CASE rn {wq_cases} ELSE 0 END
                    ELSE 0 END) AS dcg_q
    FROM ranked GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_pos AS BIGINT) AS n_pos,
       CASE WHEN n_pos > 0 THEN
         floor(CAST(dcg_q AS DOUBLE)
               / CAST(CASE least(n_pos, {NDCG_K}) {pre_cases} END
                      AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS ndcg
FROM per
"""


ML_NDCG_SQL = _ndcg_sql()


def ml_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table over integer score buckets, with
    purchases as the response: reading from the highest score bucket
    down, what fraction of all purchases has been captured
    (``capture``) and how much better than random is the targeted
    prefix (``lift`` = positive rate of the prefix over the base rate).
    The decision table every targeting campaign and curation-threshold
    choice reads; AUC summarizes the whole ordering, lift grades each
    cutoff.

    Buckets (floor of ``value``) play the ROC-histogram-bin role: the
    corpus collapses to ≤ max(value)+1 rows in ONE map-side-combinable
    shuffle and every cumulative window runs on that bounded relation.
    capture = cum_pos/total_pos and lift = (cum_pos·total_n)/
    (cum_n·total_pos) are single divisions of exact BIGINT products —
    nothing float until the last step (fquant 6); empty-class guard
    yields NULL when the corpus has no positives.

    Scale: one corpus scan, one bucket shuffle; windows on the bucket
    relation."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.groupBy(
        F.floor("value").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # when/otherwise(0), not a boolean cast: a NULL event_type must
        # contribute 0 on BOTH engines even in a single-event bucket
        # (Spark SUM of all-NULL is NULL; the oracle's CASE sums 0)
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("npos"),
    )
    wcum = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_n = F.sum("n").over(wcum)
    cum_pos = F.sum("npos").over(wcum)
    tot_n = F.sum("n").over(wall)
    tot_pos = F.sum("npos").over(wall)
    return b.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.col("npos").cast("long").alias("npos"),
        cum_n.cast("long").alias("cum_n"),
        cum_pos.cast("long").alias("cum_pos"),
        F.when(
            tot_pos > 0,
            fquant(cum_pos.cast("double") / tot_pos.cast("double"), 6),
        ).alias("capture"),
        F.when(
            tot_pos > 0,
            fquant(
                (cum_pos * tot_n).cast("double")
                / (cum_n * tot_pos).cast("double"),
                6,
            ),
        ).alias("lift"),
    )


ML_LIFT_SQL = """
WITH b AS (
    SELECT CAST(floor(value) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS npos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), c AS (
    SELECT bucket, n, npos,
           SUM(n) OVER (ORDER BY bucket DESC
                        ROWS UNBOUNDED PRECEDING) AS cum_n,
           SUM(npos) OVER (ORDER BY bucket DESC
                           ROWS UNBOUNDED PRECEDING) AS cum_pos,
           SUM(n) OVER () AS tot_n,
           SUM(npos) OVER () AS tot_pos
    FROM b
)
SELECT bucket,
       CAST(n AS BIGINT) AS n,
       CAST(npos AS BIGINT) AS npos,
       CAST(cum_n AS BIGINT) AS cum_n,
       CAST(cum_pos AS BIGINT) AS cum_pos,
       CASE WHEN tot_pos > 0 THEN
         floor(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS capture,
       CASE WHEN tot_pos > 0 THEN
         floor(CAST(cum_pos * tot_n AS DOUBLE)
               / CAST(cum_n * tot_pos AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS lift
FROM c
"""


# ---------------------------------------------------------------- ml_pr_at_k

PR_K = 10


def ml_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user precision@10 and recall@10 of ``value`` as a ranking
    score with purchases as the relevant items — the set-based half of
    the ranking-eval pair (ml_ndcg grades WHERE in the top-K the hits
    land; P/R@K grades whether they land there at all, which is what
    retrieval dashboards report first).

    Determinism: the same total order as ml_ndcg (value DESC, event_id
    ASC — no ties); hits, n_pos and the@K denominator are exact
    integers; the two divisions are the only floats (fquant 6).
    Users with no purchase yield NULL recall (degenerate-class guard);
    precision divides by min(n_events, K) so short lists are graded
    against what was actually rankable.

    Scale: one window shuffle by user_id, one map-side-combinable
    per-user aggregate — identical shape to ml_ndcg, no join."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    rel = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number().over(w).alias("rn"),
    )
    per = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("rel").alias("n_pos"),
        F.sum(
            F.when((F.col("rn") <= PR_K) & (F.col("rel") == 1), 1)
            .otherwise(0)
        ).alias("hits"),
    )
    denom_p = F.least(F.col("n_events"), F.lit(PR_K))
    return per.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("hits").cast("long").alias("hits_at_k"),
        fquant(
            F.col("hits").cast("double") / denom_p.cast("double"), 6
        ).alias("precision_at_k"),
        F.when(
            F.col("n_pos") > 0,
            fquant(
                F.col("hits").cast("double")
                / F.col("n_pos").cast("double"),
                6,
            ),
        ).alias("recall_at_k"),
    )


ML_PR_AT_K_SQL = f"""
WITH ranked AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events WHERE value IS NOT NULL
), per AS (
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(rel) AS n_pos,
           SUM(CASE WHEN rn <= {PR_K} AND rel = 1 THEN 1 ELSE 0 END)
             AS hits
    FROM ranked GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(hits AS BIGINT) AS hits_at_k,
       floor(CAST(hits AS DOUBLE)
             / CAST(least(n_events, {PR_K}) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS precision_at_k,
       CASE WHEN n_pos > 0 THEN
         floor(CAST(hits AS DOUBLE) / CAST(n_pos AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS recall_at_k
FROM per
"""


# --------------------------------------------------------------- ml_ab_test

AB_Z_CRIT = 1.96

#: Conversion = a purchase at or above this value. The plain
#: "any purchase" definition is DEGENERATE on every fixture scale
#: (100% of users convert, so the pooled SE is 0 and z is NULL
#: everywhere); the value threshold makes the statistic real at
#: sf >= 0.01 while the degenerate-pool guard still covers sf0.001.
#: Shared by ml_ab_test, ml_uplift_segments and ml_diff_in_diff so the
#: experiment family reads one conversion metric.
AB_CONV_MIN = 300.0


def ml_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user-level conversion across a
    deterministic A/B split (user_id parity — the hash-mod assignment
    every experimentation platform uses): did arm B convert at a
    different rate than arm A? The readout an event pipeline publishes
    per experiment; conversion = the user produced ≥1 purchase of
    value ≥ ``AB_CONV_MIN`` (the plain any-purchase definition is
    degenerate on these fixtures — everyone converts).

    Determinism: arm sizes and conversion counts are exact integers
    from one per-user collapse; p̂_a, p̂_b, the pooled rate and
    z = (p̂_a − p̂_b)/√(p̂(1−p̂)(1/n_a + 1/n_b)) are the IDENTICAL
    double expression tree on both engines (√ is IEEE
    correctly-rounded — the dq_spc precedent); the significance flag
    compares the unquantized |z| to the 1.96 literal, so both engines
    branch on bit-identical input. Degenerate pools (p̂ ∈ {0, 1} or an
    empty arm) yield NULL z, never NaN/Inf.

    Scale: one map-side-combinable per-user shuffle, then a 2-row
    aggregate — nothing else moves."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= AB_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    # pmod, never % (ARCHITECTURE.md bucketing convention): a signed
    # modulo on negative odd user_ids would emit a spurious arm=-1 group
    # (label set {-1,0} instead of {0,1}). Oracle mirror: ((x%2)+2)%2.
    arms = per_user.groupBy(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("c"),
    )
    wide = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("c_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ca = F.col("c_a").cast("double")
    cb = F.col("c_b").cast("double")
    pa = ca / na
    pb = cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    z = (pa - pb) / se
    ok = (
        F.col("n_a").isNotNull()
        & F.col("n_b").isNotNull()
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b"))
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        fquant(pa, 6).alias("rate_a"),
        fquant(pb, 6).alias("rate_b"),
        F.when(ok, fquant(z, 6)).alias("z_score"),
        F.when(ok, F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


ML_AB_TEST_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {AB_CONV_MIN} THEN 1 ELSE 0 END)
             AS conv
    FROM events GROUP BY user_id
), arms AS (
    SELECT CAST(((user_id % 2) + 2) % 2 AS INT) AS arm,
           COUNT(*) AS n, SUM(conv) AS c
    FROM per_user GROUP BY 1
), wide AS (
    SELECT SUM(CASE WHEN arm = 0 THEN n END) AS n_a,
           SUM(CASE WHEN arm = 0 THEN c END) AS c_a,
           SUM(CASE WHEN arm = 1 THEN n END) AS n_b,
           SUM(CASE WHEN arm = 1 THEN c END) AS c_b
    FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(c_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(c_b AS BIGINT) AS conv_b,
       floor(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000.0)
         / 1000000.0 AS rate_a,
       floor(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1000000.0)
         / 1000000.0 AS rate_b,
       CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
              AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         floor((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                      * (1.0 - (CAST(c_a AS DOUBLE)
                                + CAST(c_b AS DOUBLE))
                             / (CAST(n_a AS DOUBLE)
                                + CAST(n_b AS DOUBLE)))
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE)))
               * 1000000.0) / 1000000.0 END AS z_score,
       CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
              AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         abs((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                    * (1.0 - (CAST(c_a AS DOUBLE)
                              + CAST(c_b AS DOUBLE))
                           / (CAST(n_a AS DOUBLE)
                              + CAST(n_b AS DOUBLE)))
                    * (1.0 / CAST(n_a AS DOUBLE)
                       + 1.0 / CAST(n_b AS DOUBLE))))
           > {AB_Z_CRIT} END AS significant
FROM wide
"""


# ----------------------------------------------------------------- ml_spearman


def ml_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per nation between a customer's
    account balance and their total order spend — does standing wealth
    predict purchasing, monotonically? The rank-based complement of
    agg_corr's Pearson: computed entirely on integer ranks, so one
    whale customer cannot dominate the product-moment sums.

    Determinism: both rankings use a deterministic TOTAL order
    (measure, then c_custkey — the ml_ndcg precedent), so ranks are
    exact integers, Σd² is an exact BIGINT, and ρ = 1 − 6Σd²/(n(n²−1))
    is one integer division plus one subtraction — bit-identical
    cross-engine. Null balances are filtered up front (Spark ASC is
    NULLS FIRST, DuckDB's is NULLS LAST — filtering beats remembering);
    customers with no orders count as spend 0 exactly (decimal
    coalesce). Nations with < 2 ranked customers yield NULL ρ.

    Scale: the orders fact collapses to per-customer spend in one
    map-side-combinable shuffle, joins the customer dim on the grain
    key, and both rank windows share ONE nation exchange. n³ stays in
    BIGINT through ~2·10⁶ customers per nation; the decimal-widening
    lever applies beyond."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).filter(F.col("c_acctbal").isNotNull())
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(dec("o_totalprice")).alias("spend"))
    )
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        cust.join(spend, "c_custkey", "left")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            "c_acctbal",
            F.coalesce(F.col("spend"), F.lit(0).cast("decimal(18,4)"))
            .alias("spend"),
        )
    )
    wb = Window.partitionBy("nation").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    ws = Window.partitionBy("nation").orderBy(
        F.col("spend").asc(), F.col("c_custkey").asc()
    )
    ranked = joined.select(
        "nation",
        (F.row_number().over(wb) - F.row_number().over(ws)).alias("d"),
    )
    per = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("d") * F.col("d")).alias("sum_d2"),
    )
    n = F.col("n_cust")
    rho = F.lit(1.0) - (
        (6 * F.col("sum_d2")).cast("double")
        / (n * (n * n - 1)).cast("double")
    )
    return per.select(
        "nation",
        n.cast("long").alias("n_cust"),
        F.col("sum_d2").cast("long").alias("sum_d2"),
        F.when(n >= 2, fquant(rho, 6)).alias("spearman_rho"),
    )


ML_SPEARMAN_SQL = """
WITH spend AS (
    SELECT o_custkey AS c_custkey,
           SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))) AS spend
    FROM orders GROUP BY 1
), joined AS (
    SELECT c.c_custkey, n.n_name AS nation, c.c_acctbal,
           COALESCE(s.spend, CAST(0 AS DECIMAL(18,4))) AS spend
    FROM customer c
    LEFT JOIN spend s ON c.c_custkey = s.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal IS NOT NULL
), ranked AS (
    SELECT nation,
           ROW_NUMBER() OVER (PARTITION BY nation
                              ORDER BY c_acctbal ASC, c_custkey ASC)
           - ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY spend ASC, c_custkey ASC) AS d
    FROM joined
), per AS (
    SELECT nation, COUNT(*) AS n_cust, SUM(d * d) AS sum_d2
    FROM ranked GROUP BY 1
)
SELECT nation,
       CAST(n_cust AS BIGINT) AS n_cust,
       CAST(sum_d2 AS BIGINT) AS sum_d2,
       CASE WHEN n_cust >= 2 THEN
         floor((1.0 - CAST(6 * sum_d2 AS DOUBLE)
                      / CAST(n_cust * (n_cust * n_cust - 1) AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS spearman_rho
FROM per
"""


#: Fixed-point scale for the exact F1 argmax: f1_scaled =
#: (2TP·10¹²) DIV (2TP+FP+FN) is an exact integer on both engines
#: (both divisions floor on non-negative operands), so the winning
#: threshold is selected without a float ever entering the ORDER BY.
#: 2TP·10¹² stays in BIGINT through ~4.6M positives; the decimal
#: widening lever applies beyond.
F1_SCALE = 1_000_000_000_000


def ml_best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F1-optimal operating point of ``value`` as a purchase
    score: ml_confusion publishes the whole threshold sweep, this key
    PICKS the deployment threshold — argmax over thresholds of
    F1 = 2TP/(2TP+FP+FN), with the comparison done on the exact scaled
    integer (2TP·10¹²) DIV (2TP+FP+FN), ties broken toward the lower
    threshold (recall-favoring, deterministic).

    Scale: identical shape to ml_confusion — one map-side-combinable
    collapse onto integer score buckets (hundreds of rows), cumulative
    windows on the bucket relation, then a 1-row argmax; the global
    windows run on the bucket relation, never the corpus.

    Closes the eval loop opened by ml_confusion: the sweep says what every
    threshold does, this key PICKS one, with the argmax over F1 done in
    exact scaled-integer division so cross-engine ties are impossible by
    construction."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor("value").cast("long").alias("thr"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
    )
    per = b.groupBy("thr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
    )
    above = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tp = F.sum("pos").over(above)
    fp = F.sum("n").over(above) - tp
    pos_tot = F.sum("pos").over(full)
    neg_tot = F.sum("n").over(full) - pos_tot
    fn = pos_tot - tp
    tn = neg_tot - fp
    staged = per.select(
        F.col("thr").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
    )
    den = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    f1_scaled = F.when(
        den > 0,
        F.expr(f"(2 * tp * {F1_SCALE}) DIV (2 * tp + fp + fn)"),
    ).otherwise(F.lit(-1))
    wbest = Window.orderBy(
        F.col("f1_scaled").desc(), F.col("threshold").asc()
    )
    best = staged.select(
        "threshold", "tp", "fp", "fn", "tn",
        f1_scaled.alias("f1_scaled"),
    ).select(
        "*", F.row_number().over(wbest).alias("rk")
    ).filter((F.col("rk") == 1) & (F.col("f1_scaled") >= 0))
    prec = F.when(
        (F.col("tp") + F.col("fp")) > 0,
        fquant(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
            6,
        ),
    )
    rec = F.when(
        (F.col("tp") + F.col("fn")) > 0,
        fquant(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
            6,
        ),
    )
    return best.select(
        "threshold", "tp", "fp", "fn", "tn",
        prec.alias("precision_"),
        rec.alias("recall_"),
        fquant(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
            .cast("double"),
            6,
        ).alias("f1"),
    )


ML_BEST_THRESHOLD_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS thr,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END)
             AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cum AS (
    SELECT thr AS threshold,
           SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS tp,
           SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)
             - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS fp,
           SUM(pos) OVER () - SUM(pos) OVER (ORDER BY thr DESC ROWS
               BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn,
           SUM(n) OVER () - SUM(pos) OVER ()
             - (SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW)
                - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW)) AS tn
    FROM per
), scored AS (
    SELECT threshold, tp, fp, fn, tn,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             (2 * tp * {F1_SCALE}) // (2 * tp + fp + fn)
           ELSE -1 END AS f1_scaled
    FROM cum
), best AS (
    SELECT threshold, tp, fp, fn, tn, f1_scaled,
           ROW_NUMBER() OVER (ORDER BY f1_scaled DESC, threshold ASC)
             AS rk
    FROM scored
)
SELECT CAST(threshold AS BIGINT) AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CAST(tn AS BIGINT) AS tn,
       CASE WHEN tp + fp > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS precision_,
       CASE WHEN tp + fn > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS recall_,
       floor(CAST(2 * tp AS DOUBLE)
             / CAST(2 * tp + fp + fn AS DOUBLE)
             * 1000000.0) / 1000000.0 AS f1
FROM best WHERE rk = 1 AND f1_scaled >= 0
"""


# ------------------------------------------------------------ ml_assoc_rules

#: Minimum pair support (orders containing both parts) for a rule to be
#: scored, and the size of the emitted rule book. The support filter
#: prunes the rule space; the top-K (by exact scaled-integer lift)
#: bounds the sink — both explicit contract knobs, not silent caps.
AR_MIN_SUP = 2
AR_TOP_K = 100

#: Fixed-point scale for the exact lift argsort: lift_scaled =
#: (supp_ab·N·10⁶) DIV (supp_a·supp_b) is an exact BIGINT on both
#: engines (both divisions floor on non-negative operands). Stays in
#: BIGINT through ~1.5M baskets; the decimal widening lever beyond.
AR_LIFT_SCALE = 1_000_000


def ml_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for each
    part pair (a < b) co-purchased in ≥ ``AR_MIN_SUP`` orders, the
    support, both directed confidences, and the lift
    N·supp(ab)/(supp(a)·supp(b)) — the classic retail co-purchase
    mining the co-order graph family has been circling (the adjacency
    keys say WHO is connected; rules say HOW PREDICTIVE the
    connection is). Emits the top-``AR_TOP_K`` rules by lift.

    Determinism: supports are exact integers off the distinct
    basket-membership relation; the top-K orders by the exact scaled
    integer (supp_ab·N·10⁶) DIV (supp_a·supp_b) with the pair as the
    total-order tiebreak — no float enters the ORDER BY; the rendered
    confidences/lift are single divisions of exact integers.

    Scale: built on the THIRD session-materialized shared relation
    (order-part membership, _util.order_part_edges). The pair join is
    per-order (cost Σ basket², baskets are small by the order model —
    the hot-basket frequency-stop lever applies if one explodes); item
    supports broadcast; the basket count N is a 1-row broadcast
    scalar-attach; the final top-K is a distributed
    TakeOrderedAndProject, never a single-partition sort of the rule
    space."""
    from ._util import order_part_edges

    op = order_part_edges(spark, sf_dir)
    n_baskets = op.select(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    supp = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("supp_item")
    )
    a, b = op.alias("a"), op.alias("b")
    pair_supp = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= AR_MIN_SUP)
    )
    sa = F.broadcast(supp.select(
        F.col("l_partkey").alias("part_a"),
        F.col("supp_item").alias("supp_a"),
    ))
    sb = F.broadcast(supp.select(
        F.col("l_partkey").alias("part_b"),
        F.col("supp_item").alias("supp_b"),
    ))
    scored = (
        pair_supp.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            F.col("supp_ab").cast("long").alias("supp_ab"),
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            F.expr(
                f"(supp_ab * n_baskets * {AR_LIFT_SCALE})"
                " DIV (supp_a * supp_b)"
            ).alias("lift_scaled"),
        )
    )
    top = scored.orderBy(
        F.col("lift_scaled").desc(),
        F.col("supp_ab").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
    ).limit(AR_TOP_K)
    return top.select(
        "part_a",
        "part_b",
        "supp_ab",
        "supp_a",
        "supp_b",
        fquant(
            F.col("supp_ab").cast("double")
            / F.col("supp_a").cast("double"),
            6,
        ).alias("conf_a_to_b"),
        fquant(
            F.col("supp_ab").cast("double")
            / F.col("supp_b").cast("double"),
            6,
        ).alias("conf_b_to_a"),
        (
            F.col("lift_scaled").cast("double")
            / float(AR_LIFT_SCALE)
        ).alias("lift"),
    )


ML_ASSOC_RULES_SQL = f"""
WITH op AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
    SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM op
), supp AS (
    SELECT l_partkey, COUNT(*) AS supp_item FROM op GROUP BY 1
), pair_supp AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS supp_ab
    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {AR_MIN_SUP}
), scored AS (
    SELECT p.part_a, p.part_b,
           CAST(p.supp_ab AS BIGINT) AS supp_ab,
           CAST(sa.supp_item AS BIGINT) AS supp_a,
           CAST(sb.supp_item AS BIGINT) AS supp_b,
           (p.supp_ab * n.n_baskets * {AR_LIFT_SCALE})
             // (sa.supp_item * sb.supp_item) AS lift_scaled
    FROM pair_supp p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN n
)
SELECT part_a, part_b, supp_ab, supp_a, supp_b,
       floor(CAST(supp_ab AS DOUBLE) / CAST(supp_a AS DOUBLE)
             * 1000000.0) / 1000000.0 AS conf_a_to_b,
       floor(CAST(supp_ab AS DOUBLE) / CAST(supp_b AS DOUBLE)
             * 1000000.0) / 1000000.0 AS conf_b_to_a,
       CAST(lift_scaled AS DOUBLE) / {float(AR_LIFT_SCALE)} AS lift
FROM scored
ORDER BY lift_scaled DESC, supp_ab DESC, part_a ASC, part_b ASC
LIMIT {AR_TOP_K}
"""


# -------------------------------------------------------------- ml_wilson_ci

#: Success criterion for the per-type engagement rate: value at or
#: above this literal. Pinned so the rate is reproducible; NULL values
#: count as failures (the row happened, the engagement didn't).
WILSON_THRESHOLD = 100.0

WILSON_Z = 1.96


def ml_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (95%) around the per-event-type
    high-engagement rate (value ≥ 100): the interval every rate the
    engine publishes should carry — the naive Wald interval
    p̂ ± z·√(p̂(1−p̂)/n) collapses to width 0 at p̂ ∈ {0,1} and
    undercovers small n; Wilson is the production default
    (recommendation engines, A/B dashboards). Complements ml_ab_test:
    the z-test compares two arms, this bounds each rate on its own.

    Determinism: n and s are exact integers; center and half-width are
    the IDENTICAL double expression tree on both engines (the oracle
    CASTs the z literals to DOUBLE before multiplying — DuckDB would
    otherwise fold 1.96·1.96 in DECIMAL to exactly 3.8416, one ulp off
    the IEEE product; √ is correctly-rounded on both). At the p̂ ∈
    {0, 1} boundaries the bound that mathematically collapses onto
    0 / 1 is PINNED to that constant: the float expression lands within
    ±1 ulp of the boundary and the 1e-6 floor would otherwise split
    0.0 vs −0.000001 across engines (found by the round-9
    constant-fixture sweep).

    Scale: ONE map-side-combinable shuffle to (type, n, s); the
    interval math runs on the types-sized relation."""
    ev = t(spark, sf_dir, "events")
    flag = F.when(
        F.col("value").isNotNull()
        & (F.col("value") >= WILSON_THRESHOLD),
        1,
    ).otherwise(0)
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(flag).alias("s"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    z = F.lit(WILSON_Z)
    z2 = z * z
    phat = s / n
    denom = F.lit(1.0) + z2 / n
    center = (phat + z2 / (F.lit(2.0) * n)) / denom
    half = (z / denom) * F.sqrt(
        phat * (F.lit(1.0) - phat) / n
        + z2 / (F.lit(4.0) * n * n)
    )
    lo = F.when(F.col("s") == 0, F.lit(0.0)).otherwise(center - half)
    hi = F.when(F.col("s") == F.col("n"), F.lit(1.0)).otherwise(
        center + half
    )
    return per.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("successes"),
        fquant(phat, 6).alias("rate"),
        fquant(lo, 6).alias("wilson_lo"),
        fquant(hi, 6).alias("wilson_hi"),
    )


#: z enters the oracle as CAST(.. AS DOUBLE) so z² is the IEEE double
#: product on BOTH engines — a bare 1.96*1.96 folds in DECIMAL on
#: DuckDB (exactly 3.8416, one ulp off). The p̂ ∈ {0,1} boundary bound
#: is pinned (CASE) for the same reason as the Spark side.
ML_WILSON_CI_SQL = f"""
WITH per AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CASE WHEN value IS NOT NULL
                     AND value >= {WILSON_THRESHOLD}
                    THEN 1 ELSE 0 END) AS s
    FROM events GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS successes,
       floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS rate,
       floor(CASE WHEN s = 0 THEN CAST(0.0 AS DOUBLE) ELSE
             ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + (CAST({WILSON_Z} AS DOUBLE) * CAST({WILSON_Z} AS DOUBLE))
                 / (2.0 * CAST(n AS DOUBLE)))
              / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                        * CAST({WILSON_Z} AS DOUBLE))
                       / CAST(n AS DOUBLE))
              - (CAST({WILSON_Z} AS DOUBLE)
                 / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                           * CAST({WILSON_Z} AS DOUBLE))
                          / CAST(n AS DOUBLE)))
                * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + (CAST({WILSON_Z} AS DOUBLE)
                          * CAST({WILSON_Z} AS DOUBLE))
                         / (4.0 * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE)))) END
             * 1000000.0) / 1000000.0 AS wilson_lo,
       floor(CASE WHEN s = n THEN CAST(1.0 AS DOUBLE) ELSE
             ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + (CAST({WILSON_Z} AS DOUBLE) * CAST({WILSON_Z} AS DOUBLE))
                 / (2.0 * CAST(n AS DOUBLE)))
              / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                        * CAST({WILSON_Z} AS DOUBLE))
                       / CAST(n AS DOUBLE))
              + (CAST({WILSON_Z} AS DOUBLE)
                 / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                           * CAST({WILSON_Z} AS DOUBLE))
                          / CAST(n AS DOUBLE)))
                * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + (CAST({WILSON_Z} AS DOUBLE)
                          * CAST({WILSON_Z} AS DOUBLE))
                         / (4.0 * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE)))) END
             * 1000000.0) / 1000000.0 AS wilson_hi
FROM per
"""


# ------------------------------------------------------------ ml_feature_hash

#: Feature-space width for the hashing trick. Collisions are part of
#: the contract (that's what makes it vocabulary-free); the signed
#: hash makes collision noise zero-mean (Weinberger et al. 2009).
FH_DIM = 64


def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer over documents: sparse signed
    bag-of-words features with NO vocabulary pass — feature index
    = token-hash mod ``FH_DIM``, contribution = ±1 by one extra hash
    bit, summed per (doc, index). How a 100 TB corpus gets fixed-width
    model inputs without the vocabulary build dedup pipelines can't
    afford.

    Engine posture: entirely JVM-side (split → explode → md5 →
    substring → conv — whole-stage codegen, no Python): the token's
    64-bit hash follows the md5-low-bits convention the SimHash
    graduation established (operators/dedup.py:319 — the integer IS
    DuckDB's ``md5_number_upper``), so bits 0–15 give the dimension
    and bit 16 the sign on BOTH engines natively.

    Scale: one explode + one map-side-combinable (doc, dim) shuffle;
    output ≤ FH_DIM rows per doc by construction."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda x: x != "",
            )
        ).alias("tk"),
    )
    h = F.md5(F.col("tk"))
    b0 = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    b1 = F.conv(F.substring(h, 3, 2), 16, 10).cast("long")
    b2 = F.conv(F.substring(h, 5, 2), 16, 10).cast("long")
    feat = tok.select(
        "doc_id",
        ((b0 + 256 * b1) % FH_DIM).cast("int").alias("dim"),
        ((b2 % 2) * 2 - 1).alias("sgn"),
    )
    return (
        feat.groupBy("doc_id", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("sgn").cast("long").alias("feature"),
        )
    )


ML_FEATURE_HASH_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split(COALESCE(text, ''), ' '),
                              x -> x <> '')) AS tk
    FROM documents
), feat AS (
    SELECT doc_id,
           CAST((md5_number_upper(tk) & 65535) % {FH_DIM} AS INT)
             AS dim,
           CAST((md5_number_upper(tk) >> 16) & 1 AS BIGINT) * 2 - 1
             AS sgn
    FROM tok
)
SELECT doc_id, dim,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(sgn) AS BIGINT) AS feature
FROM feat GROUP BY doc_id, dim
"""


# -------------------------------------------------------------- ml_ltv_cohort


def ml_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users are cohorted by the week of their FIRST
    event (pure-integer epoch week — no calendar-week semantics), and
    each cohort's cumulative purchase value per user is tracked across
    age-in-weeks — win_retention's revenue-weighted twin (retention
    says who came back, LTV says what that was worth). The curve a
    growth team reads the payback period off.

    Determinism: week indices are exact integers (epoch_day DIV 7);
    revenue accumulates in exact decimal (order-independent decimal
    window sums, the ts_cusum stance); cohort size is an exact
    distinct count; the single division per row renders LTV via an
    exact scaled BIGINT (the decimal→double 1-ulp guard).

    Scale: one user_id window shuffle to stamp cohorts, one
    map-side-combinable (cohort, age) collapse, then the cumulative
    window runs on the cohorts×ages-sized relation."""
    # ts IS NOT NULL: no timestamp = no cohort week (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    week = (
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        / F.lit(7)
    )
    wuser = Window.partitionBy("user_id")
    stamped = ev.select(
        "user_id",
        F.floor(week).cast("long").alias("wk"),
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull(),
            dec("value"),
        ).otherwise(F.lit(0).cast("decimal(18,4)")).alias("rev"),
    ).select(
        "user_id",
        "wk",
        "rev",
        F.min("wk").over(wuser).alias("cohort_week"),
    )
    # cohort size rides the SAME aggregate: every user's first event is
    # an age-0 row, so countDistinct(user) on the age-0 slice IS the
    # cohort size — spread to the other ages by a window over the tiny
    # (cohort, age) relation. One corpus scan, no size-relation rejoin.
    per_age = stamped.groupBy(
        "cohort_week",
        (F.col("wk") - F.col("cohort_week")).alias("age_weeks"),
    ).agg(
        F.sum("rev").alias("rev"),
        F.countDistinct(
            F.when(F.col("wk") == F.col("cohort_week"), F.col("user_id"))
        ).alias("new_users"),
    )
    wcoh = Window.partitionBy("cohort_week").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy(F.col("age_weeks").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = per_age.select(
        "cohort_week",
        "age_weeks",
        F.max(
            F.when(F.col("age_weeks") == 0, F.col("new_users"))
        ).over(wcoh).alias("cohort_users"),
        F.sum("rev").over(wcum).alias("cum_rev"),
    )
    cum_scaled = (F.col("cum_rev") * 10000).cast("long")
    return curve.select(
        F.col("cohort_week").cast("long").alias("cohort_week"),
        F.col("age_weeks").cast("long").alias("age_weeks"),
        F.col("cohort_users").cast("long").alias("cohort_users"),
        (cum_scaled.cast("double") / 10000.0).alias("cum_revenue"),
        fquant(
            cum_scaled.cast("double")
            / (F.col("cohort_users") * 10000).cast("double"),
            6,
        ).alias("ltv_per_user"),
    )


ML_LTV_COHORT_SQL = """
WITH stamped AS (
    -- FLOOR division, not //: DuckDB's // truncates toward zero while
    -- the engine's F.floor rounds toward -inf — they differ on
    -- PRE-EPOCH dates (day -3: floor -> week -1, // -> week 0). The
    -- epoch-week contract is floor (a date belongs to the week that
    -- STARTED before it), mirrored as floor(days / 7.0) on both
    -- engines (CAST to DOUBLE so DuckDB doesn't fold 7.0 as decimal).
    SELECT user_id,
           CAST(floor(date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE))
                      / CAST(7 AS DOUBLE)) AS BIGINT) AS wk,
           CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                THEN CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))
                ELSE CAST(0 AS DECIMAL(18,4)) END AS rev,
           MIN(CAST(floor(date_diff('day', DATE '1970-01-01',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE))
                          / CAST(7 AS DOUBLE)) AS BIGINT))
             OVER (PARTITION BY user_id) AS cohort_week
    FROM events WHERE ts IS NOT NULL
), per_age AS (
    SELECT cohort_week, wk - cohort_week AS age_weeks,
           SUM(rev) AS rev,
           COUNT(DISTINCT CASE WHEN wk = cohort_week
                               THEN user_id END) AS new_users
    FROM stamped GROUP BY 1, 2
), curve AS (
    SELECT cohort_week, age_weeks,
           MAX(CASE WHEN age_weeks = 0 THEN new_users END)
             OVER (PARTITION BY cohort_week) AS cohort_users,
           SUM(rev) OVER (PARTITION BY cohort_week
                          ORDER BY age_weeks ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_rev
    FROM per_age
)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(age_weeks AS BIGINT) AS age_weeks,
       CAST(cohort_users AS BIGINT) AS cohort_users,
       CAST(CAST(cum_rev * 10000 AS BIGINT) AS DOUBLE) / 10000.0
         AS cum_revenue,
       floor(CAST(CAST(cum_rev * 10000 AS BIGINT) AS DOUBLE)
             / CAST(cohort_users * 10000 AS DOUBLE)
             * 1000000.0) / 1000000.0 AS ltv_per_user
FROM curve
"""


# ---------------------------------------------------------------------- ml_mrr

#: Fixed-point scale for reciprocal ranks: each user contributes
#: floor(10¹²/k) for first-relevant rank k — ONE IEEE division of exact
#: integers, floored — so the cross-user MEAN is a sum of exact BIGINTs
#: (order-independent) into one final division. Mirrors RA_SCALE.
MRR_SCALE = 1_000_000_000_000


def ml_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level mean reciprocal rank of ``value`` as a purchase
    score: rank each user's events (value DESC, event_id ASC — the
    ml_ndcg total order), find the first purchase, average 1/rank over
    the users who have one. The time-to-first-hit member of the
    ranking-eval triad (NDCG: positions; P/R@K: membership; MRR: how
    fast the first relevant item surfaces — what search teams report).

    Determinism: first-relevant rank is an exact integer (min over a
    total order); each reciprocal is floor(10¹²/k) — one IEEE division,
    floored — summed as exact BIGINTs; MRR is one final division.
    Users with no purchase are counted (n_users vs n_with_hit) but
    contribute nothing — the coverage split is part of the metric.

    Scale: one user_id window shuffle, one per-user collapse, one
    1-row aggregate. Nothing joins."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "user_id",
        (F.col("event_type") == "purchase").cast("int").alias("rel"),
        F.row_number().over(w).alias("rn"),
    )
    per = ranked.groupBy("user_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_hit"),
    )
    rr = F.when(
        F.col("first_hit").isNotNull(),
        F.floor(
            F.lit(float(MRR_SCALE)) / F.col("first_hit").cast("double")
        ).cast("long"),
    ).otherwise(F.lit(0))
    out = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            F.when(F.col("first_hit").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_with_hit"),
        F.sum(rr).cast("long").alias("rr_scaled_sum"),
    )
    return out.select(
        "n_users",
        "n_with_hit",
        "rr_scaled_sum",
        F.when(
            F.col("n_with_hit") > 0,
            fquant(
                F.col("rr_scaled_sum").cast("double")
                / (F.col("n_with_hit") * MRR_SCALE).cast("double"),
                6,
            ),
        ).alias("mrr"),
    )


ML_MRR_SQL = f"""
WITH ranked AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events WHERE value IS NOT NULL
), per AS (
    SELECT user_id, MIN(CASE WHEN rel = 1 THEN rn END) AS first_hit
    FROM ranked GROUP BY user_id
), agg AS (
    SELECT COUNT(*) AS n_users,
           SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
             AS n_with_hit,
           SUM(CASE WHEN first_hit IS NOT NULL THEN
                 CAST(floor({float(MRR_SCALE)}
                            / CAST(first_hit AS DOUBLE)) AS BIGINT)
               ELSE 0 END) AS rr_scaled_sum
    FROM per
)
SELECT CAST(n_users AS BIGINT) AS n_users,
       CAST(n_with_hit AS BIGINT) AS n_with_hit,
       CAST(rr_scaled_sum AS BIGINT) AS rr_scaled_sum,
       CASE WHEN n_with_hit > 0 THEN
         floor(CAST(rr_scaled_sum AS DOUBLE)
               / CAST(n_with_hit * {MRR_SCALE} AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS mrr
FROM agg
"""


# ------------------------------------------------------------ ml_forecast_eval

#: MAPE terms are floor(10⁶·|e|/actual) — exact scaled integers summed
#: exactly; days whose previous-step actual is 0 are EXCLUDED and
#: counted (the standard MAPE degenerate-term treatment, surfaced
#: rather than silently skipped).
MAPE_SCALE = 1_000_000
SNAIVE_LAG = 7


def ml_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the two baseline forecasters on the
    per-type daily-total series: naive (ŷ_t = y_{t−1}) and
    seasonal-naive (ŷ_t = y_{t−7}), scored by MAE and MAPE on
    one-step-ahead errors. Every forecasting pipeline publishes these
    baselines — a model (ts_holt) that can't beat seasonal-naive is
    retired; this key is the bar it must clear.

    Determinism: daily totals are exact scaled BIGINTs; absolute
    errors are exact integer differences; MAE is an exact integer sum
    into one division; each MAPE term is floor(10⁶·|e|/y_prev) — one
    IEEE division of exact integers, floored — summed exactly.
    Zero-actual MAPE terms are excluded and REPORTED (n_mape_skipped).

    Scale: one map-side-combinable collapse to (type, day), lag
    windows on the days-sized relation, one per-type aggregate."""
    # ts IS NOT NULL: no timestamp = no day on the series axis (round 9)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.sum((dec("value") * 10000).cast("long")).alias("v"))
    wlag = Window.partitionBy("event_type").orderBy(F.col("d").asc())
    staged = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(wlag).alias("p1"),
        F.lag("v", SNAIVE_LAG).over(wlag).alias("p7"),
    )
    e1 = F.abs(F.col("v") - F.col("p1"))
    e7 = F.abs(F.col("v") - F.col("p7"))
    mape_term = F.when(
        F.col("p1").isNotNull() & (F.col("p1") > 0),
        F.floor(
            (e1 * MAPE_SCALE).cast("double") / F.col("p1").cast("double")
        ).cast("long"),
    )
    per = staged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("p1").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_naive"),
        F.sum(F.when(F.col("p1").isNotNull(), e1)).alias("ae1"),
        F.sum(F.when(F.col("p7").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_snaive"),
        F.sum(F.when(F.col("p7").isNotNull(), e7)).alias("ae7"),
        F.sum(mape_term).alias("mape_sum"),
        F.sum(
            F.when(
                F.col("p1").isNotNull() & (F.col("p1") <= 0), 1
            ).otherwise(0)
        ).cast("long").alias("n_mape_skipped"),
    )
    return per.select(
        "event_type",
        "n_days",
        F.when(
            F.col("n_naive") > 0,
            fquant(
                F.col("ae1").cast("double")
                / (F.col("n_naive") * 10000).cast("double"),
                6,
            ),
        ).alias("mae_naive"),
        F.when(
            F.col("n_snaive") > 0,
            fquant(
                F.col("ae7").cast("double")
                / (F.col("n_snaive") * 10000).cast("double"),
                6,
            ),
        ).alias("mae_snaive"),
        F.when(
            (F.col("n_naive") - F.col("n_mape_skipped")) > 0,
            fquant(
                F.col("mape_sum").cast("double")
                / (
                    (F.col("n_naive") - F.col("n_mape_skipped"))
                    * (MAPE_SCALE // 100)
                ).cast("double"),
                6,
            ),
        ).alias("mape_naive_pct"),
        "n_mape_skipped",
    )


ML_FORECAST_EVAL_SQL = f"""
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS v
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
), staged AS (
    SELECT event_type, v,
           LAG(v, 1) OVER (PARTITION BY event_type ORDER BY d ASC) AS p1,
           LAG(v, {SNAIVE_LAG}) OVER (PARTITION BY event_type
                                      ORDER BY d ASC) AS p7
    FROM daily
), per AS (
    SELECT event_type,
           COUNT(*) AS n_days,
           SUM(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) AS n_naive,
           SUM(CASE WHEN p1 IS NOT NULL THEN abs(v - p1) END) AS ae1,
           SUM(CASE WHEN p7 IS NOT NULL THEN 1 ELSE 0 END) AS n_snaive,
           SUM(CASE WHEN p7 IS NOT NULL THEN abs(v - p7) END) AS ae7,
           SUM(CASE WHEN p1 IS NOT NULL AND p1 > 0 THEN
                 CAST(floor(CAST(abs(v - p1) * {MAPE_SCALE} AS DOUBLE)
                            / CAST(p1 AS DOUBLE)) AS BIGINT)
               END) AS mape_sum,
           SUM(CASE WHEN p1 IS NOT NULL AND p1 <= 0 THEN 1 ELSE 0 END)
             AS n_mape_skipped
    FROM staged GROUP BY 1
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CASE WHEN n_naive > 0 THEN
         floor(CAST(ae1 AS DOUBLE) / CAST(n_naive * 10000 AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS mae_naive,
       CASE WHEN n_snaive > 0 THEN
         floor(CAST(ae7 AS DOUBLE) / CAST(n_snaive * 10000 AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS mae_snaive,
       CASE WHEN n_naive - n_mape_skipped > 0 THEN
         floor(CAST(mape_sum AS DOUBLE)
               / CAST((n_naive - n_mape_skipped)
                      * {MAPE_SCALE // 100} AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS mape_naive_pct,
       CAST(n_mape_skipped AS BIGINT) AS n_mape_skipped
FROM per
"""


# -------------------------------------------------------------- ml_kendall_tau


def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ_a between the daily click volume and the daily
    purchase volume: do high-click days and high-purchase days move
    together, counted by exact pair concordance? The third rank
    correlation in the family (Pearson: linear co-movement of values;
    Spearman: monotone co-movement of ranks; Kendall: fraction of
    concordant pairs — the most interpretable and most robust).

    Determinism: daily volumes are exact integer counts; each pair's
    concordance is the SIGN of a product of integer differences
    (exact), so C, D and the tie count are exact integers and τ_a =
    (C − D)/(n(n−1)/2) is one division. Ties are counted and REPORTED,
    not fudged into τ_b's √ denominators.

    Scale: one corpus collapse to the days-sized (day, clicks,
    purchases) relation (lazily checkpointed — the theil_sen
    lineage-truncation pattern), then the O(D²) pair join on the
    calendar-bounded relation and a 1-row reduce."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchases"),
    ).localCheckpoint(eager=False)
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("a.clicks") - F.col("b.clicks")) * (
        F.col("a.purchases") - F.col("b.purchases")
    )
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.signum(prod.cast("double")).cast("int").alias("sgn"),
    )
    out = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("long").alias("concordant"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("long").alias("discordant"),
        F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0))
        .cast("long").alias("ties"),
    )
    return out.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties",
        F.when(
            F.col("n_pairs") > 0,
            fquant(
                (F.col("concordant") - F.col("discordant"))
                .cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ),
        ).alias("tau_a"),
    )


ML_KENDALL_TAU_SQL = """
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS clicks,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS purchases
    FROM events GROUP BY 1
), pairs AS (
    SELECT CASE
             WHEN (a.clicks - b.clicks) * (a.purchases - b.purchases)
                  > 0 THEN 1
             WHEN (a.clicks - b.clicks) * (a.purchases - b.purchases)
                  < 0 THEN -1
             ELSE 0 END AS sgn
    FROM daily a JOIN daily b ON a.d < b.d
), agg AS (
    SELECT COUNT(*) AS n_pairs,
           SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS concordant,
           SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS discordant,
           SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS ties
    FROM pairs
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(concordant AS BIGINT) AS concordant,
       CAST(discordant AS BIGINT) AS discordant,
       CAST(ties AS BIGINT) AS ties,
       CASE WHEN n_pairs > 0 THEN
         floor(CAST(concordant - discordant AS DOUBLE)
               / CAST(n_pairs AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS tau_a
FROM agg
"""


# ---------------------------------------------------------- ml_uplift_segments

#: Segment count for the heterogeneity slice. Segments come from
#: user_id DIV 2 so they are INDEPENDENT of the arm bit (user_id % 2,
#: the ml_ab_test assignment) — slicing by a function of the arm would
#: fabricate uplift.
UPLIFT_SEGMENTS = 5


def ml_uplift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effect: ml_ab_test's two-arm conversion
    comparison, sliced by user segment ((user_id DIV 2) % 5 —
    independent of the arm bit by construction). The readout that
    catches a flat topline hiding a +5% segment canceling a −5% one —
    the first thing an experimentation review asks for after the
    global z.

    Determinism: per-(segment, arm) counts are exact integers off one
    per-user collapse; rates and uplift are the identical double trees
    (single divisions, one subtraction); degenerate arms yield NULL
    via the ml_ab_test guards.

    Scale: one map-side-combinable per-user shuffle, then a
    2×``UPLIFT_SEGMENTS``-row pivot aggregate."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= AB_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    # pmod, never % (ARCHITECTURE.md bucketing convention): signed
    # modulo on negative user_ids would emit negative segment/arm labels
    # ({-4..4} x {-1,0} instead of {0..4} x {0,1}). Oracle mirrors with
    # the ((x % m) + m) % m identity; DIV truncation matches // there.
    seg = per_user.groupBy(
        F.pmod(F.expr("user_id DIV 2"), F.lit(UPLIFT_SEGMENTS))
        .cast("int")
        .alias("segment"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("c"),
    )
    wide = seg.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    ok = F.col("n_a").isNotNull() & F.col("n_b").isNotNull()
    return wide.select(
        "segment",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.when(F.col("n_a").isNotNull(), fquant(pa, 6)).alias("rate_a"),
        F.when(F.col("n_b").isNotNull(), fquant(pb, 6)).alias("rate_b"),
        F.when(ok, fquant(pb - pa, 6)).alias("uplift"),
    )


ML_UPLIFT_SEGMENTS_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {AB_CONV_MIN} THEN 1 ELSE 0 END)
             AS conv
    FROM events GROUP BY user_id
), seg AS (
    SELECT CAST((((user_id // 2) % {UPLIFT_SEGMENTS})
                 + {UPLIFT_SEGMENTS}) % {UPLIFT_SEGMENTS} AS INT)
             AS segment,
           CAST(((user_id % 2) + 2) % 2 AS INT) AS arm,
           COUNT(*) AS n, SUM(conv) AS c
    FROM per_user GROUP BY 1, 2
), wide AS (
    SELECT segment,
           SUM(CASE WHEN arm = 0 THEN n END) AS n_a,
           SUM(CASE WHEN arm = 0 THEN c END) AS c_a,
           SUM(CASE WHEN arm = 1 THEN n END) AS n_b,
           SUM(CASE WHEN arm = 1 THEN c END) AS c_b
    FROM seg GROUP BY 1
)
SELECT segment,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(c_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(c_b AS BIGINT) AS conv_b,
       CASE WHEN n_a IS NOT NULL THEN
         floor(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000.0)
           / 1000000.0 END AS rate_a,
       CASE WHEN n_b IS NOT NULL THEN
         floor(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1000000.0)
           / 1000000.0 END AS rate_b,
       CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL THEN
         floor((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS uplift
FROM wide
"""


# -------------------------------------------------------------- ml_diff_in_diff


def ml_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the A/B split across the corpus
    halves: per-user conversion in (arm, period) cells, DiD =
    (p_B2 − p_B1) − (p_A2 − p_A1). A plain A/B readout (ml_ab_test)
    confounds treatment with time trend; DiD removes any trend common
    to both arms — the panel estimator every experimentation review
    reaches for when the rollout wasn't a clean switch.

    A user's period is the corpus half of their FIRST event (users
    don't straddle); the split midpoint is exact integer arithmetic
    off the per-day collapse (the dq_tvd_drift convention).

    Determinism: all four cells are exact integer (n, conv) pairs
    from one per-user collapse; the four rates and the two-level
    difference are identical double trees (single divisions, three
    subtractions); any empty cell yields NULL via guards.

    Scale: one per-user shuffle, a 4-row cell aggregate, a 1-row
    pivot."""
    ev = t(spark, sf_dir, "events")
    day = F.date_diff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= AB_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("conv"),
        F.min(day).alias("first_day"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mid = F.expr(
        "(min(first_day) OVER () + max(first_day) OVER () + 1) DIV 2"
    )
    # pmod, never % (ARCHITECTURE.md bucketing convention; oracle
    # mirrors with ((x % 2) + 2) % 2 so negative ids keep arm in {0,1}).
    cells = per_user.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
        (F.col("first_day") >= mid).cast("int").alias("period"),
        "conv",
    ).groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("c"),
    )
    def cell(a: int, p: int, col: str):
        return F.sum(
            F.when((F.col("arm") == a) & (F.col("period") == p), F.col(col))
        )
    wide = cells.agg(
        cell(0, 0, "n").alias("n_a1"), cell(0, 0, "c").alias("c_a1"),
        cell(0, 1, "n").alias("n_a2"), cell(0, 1, "c").alias("c_a2"),
        cell(1, 0, "n").alias("n_b1"), cell(1, 0, "c").alias("c_b1"),
        cell(1, 1, "n").alias("n_b2"), cell(1, 1, "c").alias("c_b2"),
    )
    def rate(c: str, n: str):
        return F.col(c).cast("double") / F.col(n).cast("double")
    ok = (
        F.col("n_a1").isNotNull() & F.col("n_a2").isNotNull()
        & F.col("n_b1").isNotNull() & F.col("n_b2").isNotNull()
    )
    did = (rate("c_b2", "n_b2") - rate("c_b1", "n_b1")) - (
        rate("c_a2", "n_a2") - rate("c_a1", "n_a1")
    )
    return wide.select(
        F.col("n_a1").cast("long").alias("n_a1"),
        F.col("n_a2").cast("long").alias("n_a2"),
        F.col("n_b1").cast("long").alias("n_b1"),
        F.col("n_b2").cast("long").alias("n_b2"),
        F.when(F.col("n_a1").isNotNull(), fquant(rate("c_a1", "n_a1"), 6))
        .alias("rate_a1"),
        F.when(F.col("n_a2").isNotNull(), fquant(rate("c_a2", "n_a2"), 6))
        .alias("rate_a2"),
        F.when(F.col("n_b1").isNotNull(), fquant(rate("c_b1", "n_b1"), 6))
        .alias("rate_b1"),
        F.when(F.col("n_b2").isNotNull(), fquant(rate("c_b2", "n_b2"), 6))
        .alias("rate_b2"),
        F.when(ok, fquant(did, 6)).alias("did"),
    )


ML_DIFF_IN_DIFF_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {AB_CONV_MIN} THEN 1 ELSE 0 END)
             AS conv,
           MIN(date_diff('day', DATE '1970-01-01',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)))
             AS first_day
    FROM events GROUP BY user_id
), marked AS (
    SELECT CAST(((user_id % 2) + 2) % 2 AS INT) AS arm,
           CAST(first_day >= (MIN(first_day) OVER ()
                              + MAX(first_day) OVER () + 1) // 2
                AS INT) AS period,
           conv
    FROM per_user
), cells AS (
    SELECT arm, period, COUNT(*) AS n, SUM(conv) AS c
    FROM marked GROUP BY 1, 2
), wide AS (
    SELECT
      SUM(CASE WHEN arm = 0 AND period = 0 THEN n END) AS n_a1,
      SUM(CASE WHEN arm = 0 AND period = 0 THEN c END) AS c_a1,
      SUM(CASE WHEN arm = 0 AND period = 1 THEN n END) AS n_a2,
      SUM(CASE WHEN arm = 0 AND period = 1 THEN c END) AS c_a2,
      SUM(CASE WHEN arm = 1 AND period = 0 THEN n END) AS n_b1,
      SUM(CASE WHEN arm = 1 AND period = 0 THEN c END) AS c_b1,
      SUM(CASE WHEN arm = 1 AND period = 1 THEN n END) AS n_b2,
      SUM(CASE WHEN arm = 1 AND period = 1 THEN c END) AS c_b2
    FROM cells
)
SELECT CAST(n_a1 AS BIGINT) AS n_a1,
       CAST(n_a2 AS BIGINT) AS n_a2,
       CAST(n_b1 AS BIGINT) AS n_b1,
       CAST(n_b2 AS BIGINT) AS n_b2,
       CASE WHEN n_a1 IS NOT NULL THEN
         floor(CAST(c_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS rate_a1,
       CASE WHEN n_a2 IS NOT NULL THEN
         floor(CAST(c_a2 AS DOUBLE) / CAST(n_a2 AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS rate_a2,
       CASE WHEN n_b1 IS NOT NULL THEN
         floor(CAST(c_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS rate_b1,
       CASE WHEN n_b2 IS NOT NULL THEN
         floor(CAST(c_b2 AS DOUBLE) / CAST(n_b2 AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS rate_b2,
       CASE WHEN n_a1 IS NOT NULL AND n_a2 IS NOT NULL
             AND n_b1 IS NOT NULL AND n_b2 IS NOT NULL THEN
         floor(((CAST(c_b2 AS DOUBLE) / CAST(n_b2 AS DOUBLE)
                 - CAST(c_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE))
                - (CAST(c_a2 AS DOUBLE) / CAST(n_a2 AS DOUBLE)
                   - CAST(c_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)))
               * 1000000.0) / 1000000.0 END AS did
FROM wide
"""


# -------------------------------------------------------------- ml_markov_chain


def ml_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the user journey: for
    each consecutive event pair in a user's stream ((ts, event_id)
    total order), count (current type → next type) and estimate
    P(next | current). The behavioral bigram model — what a session
    simulator samples from and an anomaly detector scores against.

    Determinism: transitions are exact integer counts off one lag
    window; row-normalizing probabilities are one division each
    against the window-attached from-type total.

    Scale: ONE user_id window shuffle (lag is O(1) state), one
    map-side-combinable collapse onto the ≤5×5 transition grid, and a
    grid-sized window for the normalizer.

    The sequence model behind session simulation and next-action prediction
    (llm_bigram_lm's semantics lifted from tokens to behavioral events)."""
    # ts IS NOT NULL: no timestamp = no position in the journey (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    grid = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wfrom = Window.partitionBy("from_type")
    return grid.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        fquant(
            F.col("n").cast("double")
            / F.sum("n").over(wfrom).cast("double"),
            6,
        ).alias("prob"),
    )


ML_MARKOV_CHAIN_SQL = """
WITH pairs AS (
    SELECT event_type AS from_type,
           LEAD(event_type, 1) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC)
             AS to_type
    FROM events WHERE ts IS NOT NULL
), grid AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n,
       floor(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS prob
FROM grid
"""


# ----------------------------------------------------------------------- ml_ece

#: Reliability bin width on the raw score axis (the ml_calibration
#: convention) and the normalizer that maps scores into [0, 1]
#: confidences (fixture values span ~0..600).
ECE_BIN = 50
ECE_SCORE_MAX = 600.0


def ml_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of ``value`` (normalized to [0,1])
    as a purchase-probability score: Σ_b (n_b/N)·|acc_b − conf_b| over
    the reliability bins — ml_calibration publishes the whole
    reliability diagram, this key collapses it to the ONE number a
    model-review checklist gates on.

    Determinism: per-bin accuracy and confidence are single divisions
    of exact integers (scores live on the 1e-4 grid ⇒ exact decimal
    sums); the per-bin gap |acc − conf| is floor-quantized to 1e6
    BEFORE the integer multiply by n_b, so the cross-bin sum is an
    exact BIGINT sum (order-independent) and ECE is one final
    division. Quantizing before the weighted sum biases each term down
    by < 1e-6 — documented contract, not drift.

    Scale: one map-side-combinable collapse onto ≤13 score bins; the
    windows and the final 1-row reduce run on the bin relation."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        (F.floor(F.col("value") / ECE_BIN)).cast("int").alias("bin"),
        (dec("value") * 10000).cast("long").alias("score_s"),
        (F.col("event_type") == "purchase").cast("long").alias("is_pos"),
    )
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
        F.sum("score_s").alias("score_sum"),
    )
    acc = F.col("pos").cast("double") / F.col("n").cast("double")
    conf = F.col("score_sum").cast("double") / (
        F.col("n").cast("double") * (10000.0 * ECE_SCORE_MAX)
    )
    gap_q = F.floor(F.abs(acc - conf) * F.lit(1e6)).cast("long")
    staged = per.select(
        "n",
        (gap_q * F.col("n")).alias("term"),
    )
    out = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n").alias("n_total"),
        F.sum("term").alias("term_sum"),
    )
    return out.select(
        "n_bins",
        F.col("n_total").cast("long").alias("n_total"),
        fquant(
            F.col("term_sum").cast("double")
            / (F.col("n_total").cast("double") * 1e6),
            6,
        ).alias("ece"),
    )


ML_ECE_SQL = f"""
WITH b AS (
    SELECT CAST(floor(value / {ECE_BIN}) AS INT) AS bin,
           CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)
             AS score_s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             AS is_pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
), per AS (
    SELECT bin, COUNT(*) AS n, SUM(is_pos) AS pos,
           SUM(score_s) AS score_sum
    FROM b GROUP BY 1
), staged AS (
    SELECT n,
           CAST(floor(abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                          - CAST(score_sum AS DOUBLE)
                            / (CAST(n AS DOUBLE)
                               * (10000.0 * {ECE_SCORE_MAX})))
                      * 1e6) AS BIGINT) * n AS term
    FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(n) AS BIGINT) AS n_total,
       floor(CAST(SUM(term) AS DOUBLE)
             / (CAST(SUM(n) AS DOUBLE) * 1e6)
             * 1000000.0) / 1000000.0 AS ece
FROM staged
"""


# ---------------------------------------------------------------- ml_feature_screen


def ml_feature_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-screening pass: point-biserial correlation of each
    numeric lineitem measure (quantity, extendedprice, discount, tax)
    against the binary return flag — the one-scan ranking that decides
    which features are worth a model's attention BEFORE any training
    job runs on 100 TB. Point-biserial IS Pearson with a 0/1 target,
    so r = (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)).

    Determinism: measures live on the decimal grid ⇒ all five moments
    per feature are exact (scaled BIGINT sums; DECIMAL(38)/HUGEINT
    products); since y ∈ {0,1}, Σxy is just Σx over returns — also
    exact. One division and two √ per feature, identical trees.

    Scale: the four features unpivot via a compile-time stack (one
    scan, 4× rows of (feature, x, y) triples), then one
    map-side-combinable 4-group collapse.

    The feature-selection pass every training pipeline runs first."""
    # spread AFTER the null filter (pushdown unaffected): the stack
    # unpivot + scaled-decimal casts are per-row compute that would
    # otherwise run on the single row-group's one scan task (guide §2.5).
    li = spread(
        t(spark, sf_dir, "lineitem").filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
            & F.col("l_discount").isNotNull()
            & F.col("l_tax").isNotNull()
        ),
        sf_dir,
        "lineitem",
    )
    y = (F.col("l_returnflag") == "R").cast("long")
    stacked = li.select(
        y.alias("y"),
        F.expr(
            "stack(4, "
            "'quantity', CAST(CAST(CASE WHEN l_quantity - (l_quantity) = 0 THEN l_quantity END AS DECIMAL(18,4)) * 10000 AS BIGINT), "
            "'extendedprice', CAST(CAST(CASE WHEN l_extendedprice - (l_extendedprice) = 0 THEN l_extendedprice END AS DECIMAL(18,4)) * 10000 AS BIGINT), "
            "'discount', CAST(CAST(CASE WHEN l_discount - (l_discount) = 0 THEN l_discount END AS DECIMAL(18,4)) * 10000 AS BIGINT), "
            "'tax', CAST(CAST(CASE WHEN l_tax - (l_tax) = 0 THEN l_tax END AS DECIMAL(18,4)) * 10000 AS BIGINT)"
            ") AS (feature, x)"
        ),
    )
    per = stacked.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d38("n") * d38("sxy") - d38("sx") * d38("sy")
    vx = d38("n") * F.col("sxx").cast("decimal(38,0)") - d38("sx") * d38("sx")
    vy = d38("n") * d38("sy") - d38("sy") * d38("sy")
    r = num.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return per.select(
        "feature",
        F.col("n").cast("long").alias("n"),
        F.col("sy").cast("long").alias("n_returns"),
        F.when((vx > 0) & (vy > 0), fquant(r, 6)).alias(
            "point_biserial_r"
        ),
    )


ML_FEATURE_SCREEN_SQL = """
WITH base AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
           CAST(CAST(CASE WHEN l_quantity - (l_quantity) = 0 THEN l_quantity END AS DECIMAL(18,4)) * 10000 AS BIGINT)
             AS f_quantity,
           CAST(CAST(CASE WHEN l_extendedprice - (l_extendedprice) = 0 THEN l_extendedprice END AS DECIMAL(18,4)) * 10000
                AS BIGINT) AS f_extendedprice,
           CAST(CAST(CASE WHEN l_discount - (l_discount) = 0 THEN l_discount END AS DECIMAL(18,4)) * 10000 AS BIGINT)
             AS f_discount,
           CAST(CAST(CASE WHEN l_tax - (l_tax) = 0 THEN l_tax END AS DECIMAL(18,4)) * 10000 AS BIGINT) AS f_tax
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_discount IS NOT NULL AND l_tax IS NOT NULL
), stacked AS (
    SELECT y, 'quantity' AS feature, f_quantity AS x FROM base
    UNION ALL
    SELECT y, 'extendedprice', f_extendedprice FROM base
    UNION ALL
    SELECT y, 'discount', f_discount FROM base
    UNION ALL
    SELECT y, 'tax', f_tax FROM base
), per AS (
    SELECT feature,
           COUNT(*) AS n,
           SUM(x) AS sx,
           SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
           SUM(y) AS sy,
           SUM(x * y) AS sxy
    FROM stacked GROUP BY 1
)
SELECT feature,
       CAST(n AS BIGINT) AS n,
       CAST(sy AS BIGINT) AS n_returns,
       CASE WHEN CAST(n AS HUGEINT) * sxx
                 - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * sy
                 - CAST(sy AS HUGEINT) * sy > 0 THEN
         floor(CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * sy
                              - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
               * 1000000.0) / 1000000.0 END AS point_biserial_r
FROM per
"""


# ------------------------------------------------------------- ml_target_encode

#: m-estimate smoothing weight: categories with fewer than ~M rows
#: shrink toward the global prior — the standard leakage/overfit
#: control for target encoding.
TE_SMOOTHING = 50


def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of part brand against the return
    flag: enc(brand) = (c_brand + M·prior)/(n_brand + M), the
    m-estimate that replaces one-hot encoding when the categorical
    has 100 TB-scale cardinality — small brands shrink toward the
    global return rate instead of memorizing noise.

    Determinism: counts are exact integers; the prior is one division;
    the encoding is computed as (c·N + M·C_tot) / (N·(n + M)) — a
    single division of exact integer products (DECIMAL(38)/HUGEINT),
    NOT prior-then-encode chained floats, so there is exactly one
    rounding per row.

    Scale: fact⋈dim with the part dim broadcast, one
    map-side-combinable brand collapse, windows on the brands-sized
    relation for the global totals."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("l_returnflag") == "R").cast("long")
            ).alias("c"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_tot = F.sum("n").over(wall)
    c_tot = F.sum("c").over(wall)
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    enc_num = d38(F.col("c")) * d38(n_tot) + F.lit(
        TE_SMOOTHING
    ).cast("decimal(38,0)") * d38(c_tot)
    enc_den = d38(n_tot) * (
        d38(F.col("n")) + F.lit(TE_SMOOTHING).cast("decimal(38,0)")
    )
    return per.select(
        "brand",
        F.col("n").cast("long").alias("n"),
        F.col("c").cast("long").alias("n_returns"),
        fquant(
            F.col("c").cast("double") / F.col("n").cast("double"), 6
        ).alias("raw_rate"),
        fquant(
            enc_num.cast("double") / enc_den.cast("double"), 6
        ).alias("encoded"),
    )


ML_TARGET_ENCODE_SQL = f"""
WITH per AS (
    SELECT p.p_brand AS brand,
           COUNT(*) AS n,
           SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS c
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
)
SELECT brand,
       CAST(n AS BIGINT) AS n,
       CAST(c AS BIGINT) AS n_returns,
       floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS raw_rate,
       floor(CAST(CAST(c AS HUGEINT) * SUM(n) OVER ()
                  + {TE_SMOOTHING} * CAST(SUM(c) OVER () AS HUGEINT)
                  AS DOUBLE)
             / CAST(CAST(SUM(n) OVER () AS HUGEINT)
                    * (n + {TE_SMOOTHING}) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS encoded
FROM per
"""


# ------------------------------------------------------------ ml_label_centroids

#: Per-element quantization for centroid sums: each embedding element
#: contributes floor(x·10⁹) to its (label, dim) accumulator, so the
#: centroid numerators are exact BIGINT sums.
CENTROID_SCALE = 1_000_000_000


def ml_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separation audit of the embedding space: cosine
    similarity between every pair of label centroids. High cosine
    between two labels means the encoder cannot tell them apart — the
    first diagnostic after training, and the quality gate in front of
    the ANN/knn family (a space whose centroids collapse is not worth
    indexing). Complements dq_embedding_audit (that key checks the
    vectors; this checks the GEOMETRY).

    Determinism: per-(label, dim) sums quantize each element to a
    BIGINT before summing (order-independent); centroid means are one
    division each; the pair dot/norms fold the 64-dim arrays in array
    order via sort_array-ed collect (both engines fold sequentially in
    list order), and the final cosine is one division.

    Scale: one posexplode (64× rows), one (label, dim) collapse, one
    label collapse to 64-element arrays, then a labels²-sized pair
    join — every relation after the first shuffle is label-bounded."""
    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "label",
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("v"),
    )
    dims = emb.select(
        "label", F.posexplode("v").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x") * CENTROID_SCALE).cast("long").alias("xq"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum("xq").alias("sq"),
        F.count(F.lit(1)).alias("nv"),
    )
    cent = per_dim.select(
        "label",
        "dim",
        (
            F.col("sq").cast("double")
            / (F.col("nv") * CENTROID_SCALE).cast("double")
        ).alias("m"),
    ).groupBy("label").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, m))),"
            " s -> s.m)"
        ).alias("cv"),
    ).localCheckpoint(eager=False)
    # lazy checkpoint: the pair self-join references the labels-sized
    # centroid relation twice; without lineage truncation Catalyst
    # duplicates the whole explode+collapse subtree (measured: 2x scan)
    a, b = cent.alias("a"), cent.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.cv, b.cv, (x, y) -> x * y),"
        " cast(0 as double), (acc, e) -> acc + e)"
    )
    na = F.expr(
        "aggregate(a.cv, cast(0 as double), (acc, e) -> acc + e * e)"
    )
    nb = F.expr(
        "aggregate(b.cv, cast(0 as double), (acc, e) -> acc + e * e)"
    )
    pairs = (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.when(
                (na > 0) & (nb > 0),
                fquant(dot / (F.sqrt(na) * F.sqrt(nb)), 6),
            ).alias("centroid_cosine"),
        )
    )
    return pairs


ML_LABEL_CENTROIDS_SQL = f"""
WITH dims AS (
    SELECT label, u.i - 1 AS dim,
           CAST(floor(CAST(embedding[u.i] AS DOUBLE)
                      * {CENTROID_SCALE}) AS BIGINT) AS xq
    FROM embeddings,
         LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), per_dim AS (
    SELECT label, dim, SUM(xq) AS sq, COUNT(*) AS nv
    FROM dims GROUP BY 1, 2
), cent AS (
    SELECT label,
           list(CAST(sq AS DOUBLE)
                / CAST(nv * {CENTROID_SCALE} AS DOUBLE)
                ORDER BY dim) AS cv
    FROM per_dim GROUP BY 1
)
SELECT a.label AS label_a, b.label AS label_b,
       CASE WHEN list_reduce(list_transform(a.cv, x -> x * x),
                             (acc, e) -> acc + e) > 0
             AND list_reduce(list_transform(b.cv, x -> x * x),
                             (acc, e) -> acc + e) > 0 THEN
         floor(list_reduce(list_transform(range(1, len(a.cv) + 1),
                 i -> a.cv[i] * b.cv[i]), (acc, e) -> acc + e)
               / (sqrt(list_reduce(list_transform(a.cv, x -> x * x),
                                   (acc, e) -> acc + e))
                  * sqrt(list_reduce(list_transform(b.cv, x -> x * x),
                                     (acc, e) -> acc + e)))
               * 1000000.0) / 1000000.0 END AS centroid_cosine
FROM cent a JOIN cent b ON a.label < b.label
"""


# ---------------------------------------------------------------- ml_churn_labels

#: Days reserved at the END of the corpus for the label window. The
#: feature window is everything before it — the two windows are
#: disjoint by construction (point-in-time correctness).
CHURN_LABEL_DAYS = 7


def ml_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free churn training set: per user, activity features
    computed ONLY from the observation window (corpus start → T−7
    days) and the churn label ONLY from the disjoint label window
    (last 7 days): churned = no activity there. The label-generation
    op every churn pipeline needs and most get wrong — features that
    peek past the cutoff make offline AUC a fiction; here the cutoff
    is an exact integer day bound shared by both windows.

    Users with no observation-window activity are EXCLUDED (nothing
    to featurize — they'd be label-only rows). Features: event count,
    active days, purchase count, exact total value (decimal→scaled
    BIGINT render), days since last activity at cutoff.

    Determinism: pure integer/decimal arithmetic — counts, epoch-day
    bounds, one exact division for the rate; the cutoff derives from a
    1-row max(day) aggregate broadcast onto the stream (the
    scalar-attach pattern — a global WINDOW over raw corpus rows would
    funnel 100 TB through one partition).

    Scale: ONE per-user collapse with every feature and the label as
    conditional aggregates over the same scan — no join between
    feature and label relations; the cutoff is the only second read
    and it projects a single column.

    The training-data-generation op behind every churn model: features from
    the observation window, the label from a DISJOINT later window —
    point-in-time correctness by construction (the leakage bug this key
    makes impossible is the most common way churn models lie)."""
    ev = t(spark, sf_dir, "events")
    day = F.date_diff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    cut_row = ev.agg(
        (F.max(day) - (CHURN_LABEL_DAYS - 1)).alias("cut")
    )
    marked = ev.select(
        "user_id",
        day.alias("d"),
        "event_type",
        "value",
    ).crossJoin(F.broadcast(cut_row))
    obs = F.col("d") < F.col("cut")
    lab = ~obs
    per = marked.groupBy("user_id").agg(
        F.sum(F.when(obs, 1).otherwise(0)).alias("n_events"),
        F.countDistinct(F.when(obs, F.col("d"))).alias("active_days"),
        F.sum(
            F.when(obs & (F.col("event_type") == "purchase"), 1)
            .otherwise(0)
        ).alias("n_purchases"),
        F.sum(
            F.when(
                obs & F.col("value").isNotNull(),
                (dec("value") * 10000).cast("long"),
            ).otherwise(0)
        ).alias("value_s"),
        F.max(F.when(obs, F.col("d"))).alias("last_obs_day"),
        F.max("cut").alias("cut"),
        F.sum(F.when(lab, 1).otherwise(0)).alias("label_events"),
    ).filter(F.col("n_events") > 0)
    return per.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("active_days").cast("long").alias("active_days"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
        (F.col("value_s").cast("double") / 10000.0).alias("total_value"),
        (F.col("cut") - F.col("last_obs_day")).cast("long")
        .alias("recency_days"),
        (F.col("label_events") == 0).cast("int").alias("churned"),
    )


ML_CHURN_LABELS_SQL = f"""
WITH cut_row AS (
    SELECT MAX(date_diff('day', DATE '1970-01-01',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)))
             - ({CHURN_LABEL_DAYS} - 1) AS cut
    FROM events
), marked AS (
    SELECT user_id,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           event_type, value, cut
    FROM events CROSS JOIN cut_row
), per AS (
    SELECT user_id,
           SUM(CASE WHEN d < cut THEN 1 ELSE 0 END) AS n_events,
           COUNT(DISTINCT CASE WHEN d < cut THEN d END) AS active_days,
           SUM(CASE WHEN d < cut AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS n_purchases,
           SUM(CASE WHEN d < cut AND value IS NOT NULL THEN
                 CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)
               ELSE 0 END) AS value_s,
           MAX(CASE WHEN d < cut THEN d END) AS last_obs_day,
           MAX(cut) AS cut,
           SUM(CASE WHEN d >= cut THEN 1 ELSE 0 END) AS label_events
    FROM marked GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(active_days AS BIGINT) AS active_days,
       CAST(n_purchases AS BIGINT) AS n_purchases,
       CAST(value_s AS DOUBLE) / 10000.0 AS total_value,
       CAST(cut - last_obs_day AS BIGINT) AS recency_days,
       CAST(CASE WHEN label_events = 0 THEN 1 ELSE 0 END AS INT)
         AS churned
FROM per WHERE n_events > 0
"""


QUERIES: dict[str, Query] = {
    "ml_kmeans": Query(
        ml_kmeans, ML_KMEANS_SQL,
        "distributed KMeans, exact cross-engine Lloyd iterations",
        eager="compute",
    ),
    "ml_linreg": Query(
        ml_linreg, ML_LINREG_SQL,
        "exact distributed OLS from mergeable sufficient statistics"),
    "ml_random_projection": Query(
        ml_random_projection, ML_RANDOM_PROJECTION_SQL,
        "deterministic ±1 Johnson-Lindenstrauss projection, zero shuffle",
    ),
    "ml_naive_bayes": Query(
        ml_naive_bayes, ML_NAIVE_BAYES_SQL,
        "multinomial NB trainer: Laplace-smoothed integer-count model",
        eager="compute",
    ),
    "ml_auc": Query(
        ml_auc, ML_AUC_SQL,
        "exact Mann-Whitney ROC AUC, one-vs-rest per event type",
    ),
    "ml_confusion": Query(
        ml_confusion, ML_CONFUSION_SQL,
        "threshold-sweep confusion matrix + precision/recall/F1",
    ),
    "ml_calibration": Query(
        ml_calibration, ML_CALIBRATION_SQL,
        "score-calibration reliability table with base rate and lift",
    ),
    "ml_chi2": Query(
        ml_chi2, ML_CHI2_SQL,
        "chi-square independence audit of event_type x weekday",
    ),
    "ml_stump": Query(
        ml_stump, ML_STUMP_SQL,
        "exact Gini-gain decision stump over integer score buckets",
    ),
    "ml_survival_km": Query(
        ml_survival_km, ML_SURVIVAL_KM_SQL,
        "Kaplan-Meier churn survival curve with end-of-window censoring",
    ),
    "ml_ndcg": Query(
        ml_ndcg, ML_NDCG_SQL,
        "per-user NDCG@10 with compile-time integer log2 discounts",
    ),
    "ml_lift": Query(
        ml_lift, ML_LIFT_SQL,
        "cumulative gains / lift table over integer score buckets",
    ),
    "ml_pr_at_k": Query(
        ml_pr_at_k, ML_PR_AT_K_SQL,
        "per-user precision/recall@10 (set-based ranking eval)",
    ),
    "ml_ab_test": Query(
        ml_ab_test, ML_AB_TEST_SQL,
        "two-proportion z-test on a deterministic A/B user split",
    ),
    "ml_spearman": Query(
        ml_spearman, ML_SPEARMAN_SQL,
        "Spearman rank correlation per nation (integer ranks)",
    ),
    "ml_best_threshold": Query(
        ml_best_threshold, ML_BEST_THRESHOLD_SQL,
        "F1-optimal operating point via exact scaled-integer argmax",
    ),
    "ml_assoc_rules": Query(
        ml_assoc_rules, ML_ASSOC_RULES_SQL,
        "market-basket association rules: support/confidence/lift top-K",
        eager="compute",
    ),
    "ml_wilson_ci": Query(
        ml_wilson_ci, ML_WILSON_CI_SQL,
        "Wilson 95% score interval per event-type engagement rate",
    ),
    "ml_feature_hash": Query(
        ml_feature_hash, ML_FEATURE_HASH_SQL,
        "hashing-trick signed bag-of-words features (pure JVM)",
    ),
    "ml_ltv_cohort": Query(
        ml_ltv_cohort, ML_LTV_COHORT_SQL,
        "cohort LTV curve: cumulative revenue per user by age",
    ),
    "ml_mrr": Query(
        ml_mrr, ML_MRR_SQL,
        "mean reciprocal rank of purchase retrieval (exact scaled sum)",
    ),
    "ml_forecast_eval": Query(
        ml_forecast_eval, ML_FORECAST_EVAL_SQL,
        "naive / seasonal-naive one-step backtest (MAE + MAPE)",
    ),
    "ml_kendall_tau": Query(
        ml_kendall_tau, ML_KENDALL_TAU_SQL,
        "Kendall tau_a between daily click and purchase volumes",
        eager="compute",
    ),
    "ml_uplift_segments": Query(
        ml_uplift_segments, ML_UPLIFT_SEGMENTS_SQL,
        "per-segment A/B uplift (heterogeneous treatment effect)",
    ),
    "ml_diff_in_diff": Query(
        ml_diff_in_diff, ML_DIFF_IN_DIFF_SQL,
        "difference-in-differences across arms and corpus halves",
    ),
    "ml_markov_chain": Query(
        ml_markov_chain, ML_MARKOV_CHAIN_SQL,
        "first-order event-type transition matrix per user journey",
    ),
    "ml_ece": Query(
        ml_ece, ML_ECE_SQL,
        "expected calibration error over reliability bins",
    ),
    "ml_feature_screen": Query(
        ml_feature_screen, ML_FEATURE_SCREEN_SQL,
        "point-biserial screening of lineitem measures vs return flag",
    ),
    "ml_target_encode": Query(
        ml_target_encode, ML_TARGET_ENCODE_SQL,
        "m-estimate smoothed target encoding of brand vs returns",
    ),
    "ml_label_centroids": Query(
        ml_label_centroids, ML_LABEL_CENTROIDS_SQL,
        "pairwise cosine between embedding label centroids",
        eager="compute",
    ),
    "ml_churn_labels": Query(
        ml_churn_labels, ML_CHURN_LABELS_SQL,
        "leakage-free churn training set (disjoint feature/label windows)",
    ),
}
