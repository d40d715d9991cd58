"""Property and behavior tests for custom operators (SURVEY.md §5.2 item 4):
as-of join edge cases (hypothesis), dedup variants, IVF recall, multimodal
stub."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from serverless_etl_aws_spark.catalog import load_table
from serverless_etl_aws_spark.operators.asof import asof_join
from serverless_etl_aws_spark.operators.dedup import ngram_jaccard_pairs
from serverless_etl_aws_spark.operators.multimodal import decode_payload
from serverless_etl_aws_spark.operators.simsearch import brute_force_topk, ivf_topk


def brute_asof(left_rows, right_rows):
    """Reference model: latest right (time, id) with time <= left time."""
    out = {}
    for key, lt, lid in left_rows:
        best = None
        for rkey, rt, rid in right_rows:
            if rkey == key and rt <= lt:
                if best is None or (rt, rid) > best:
                    best = (rt, rid)
        out[lid] = best[1] if best else None
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(
        st.tuples(
            st.integers(0, 2), st.integers(0, 20), st.integers(100, 199)
        ),
        min_size=0, max_size=12, unique_by=lambda t: t[2],
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
        min_size=0, max_size=12,
        unique_by=lambda t: (t[0], t[1]),  # dedup (key, time) like prod path
    ),
)
def test_asof_matches_brute_force(spark, left, right):
    """Covers ties (right at exactly left time → inclusive match), empty
    sides, keys with no rights, all-late rights."""
    if not left:
        return
    ldf = spark.createDataFrame(left, "k int, t int, lid int")
    rdf = (
        spark.createDataFrame(right, "k int, t int, rid int")
        if right
        else spark.createDataFrame([], "k int, t int, rid int")
    )
    got = {
        r["lid"]: r["m_rid"]
        for r in asof_join(
            ldf, rdf, on="k", left_time="t", right_time="t",
            right_cols=["rid"], prefix="m_",
        ).collect()
    }
    want = brute_asof(left, right)
    assert got == want


def test_ngram_dedup_finds_exact_duplicate(spark):
    rows = [
        (1, "a b c d e f g h i j", "en"),
        (2, "a b c d e f g h i j", "en"),  # exact dup → jaccard 1.0
        (3, "q r s t u v w x y z", "en"),
        (4, "a b c d e f g h i j", "de"),  # same text, other lang block
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert pairs == {(1, 2): 1.0}


def test_multimodal_stub_rejects_unknown_codec(spark):
    with pytest.raises(NotImplementedError, match="codec"):
        decode_payload(b"JPEGxxxxdata")


def test_multimodal_geometry(spark):
    meta = decode_payload(b"IMG1" + b"0010" + b"x" * 25)
    assert meta == {"fmt": "IMG1", "width": 10, "height": 3, "n_bytes": 33}


def test_dedup_exact_keeps_earliest(spark, sf_dir):
    from serverless_etl_aws_spark.queries.relational import dedup_exact

    ev = load_table(spark, sf_dir, "events")
    out = dedup_exact(spark, sf_dir)
    keys = ev.select("user_id", "event_type").distinct().count()
    assert out.count() == keys
    # each survivor is the minimum (ts, event_id) of its group
    joined = out.alias("s").join(ev.alias("e"), ["user_id", "event_type"])
    earlier = joined.filter(
        F.col("e.event_id") < F.col("s.event_id")
    ).join(
        ev.select(
            "event_id", F.col("ts").alias("e_ts")
        ).alias("et"),
        F.col("e.event_id") == F.col("et.event_id"),
    )
    survivor_ts = ev.select(
        F.col("event_id").alias("s_id"), F.col("ts").alias("s_ts")
    )
    earlier = earlier.join(
        survivor_ts, F.col("s.event_id") == F.col("s_id")
    ).filter(F.col("e_ts") < F.col("s_ts"))
    assert earlier.count() == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    purchases=st.lists(
        st.tuples(st.integers(0, 60), st.floats(0, 30, allow_nan=False)),
        min_size=0, max_size=15,
    ),
    errors=st.lists(
        st.tuples(st.integers(100, 160), st.floats(0, 30, allow_nan=False)),
        min_size=0, max_size=15,
    ),
)
def test_bucketed_range_join_equals_naive_theta(spark, purchases, errors):
    """The bucketed rewrite in join_range must produce exactly the naive
    theta-join pair set for any value distribution (incl. boundary values
    landing exactly on bucket edges)."""
    from serverless_etl_aws_spark.queries.joins import RANGE_BAND

    want = {
        (pid, eid)
        for pid, pv in purchases
        for eid, ev in errors
        if pv - RANGE_BAND <= ev <= pv
    }
    rows = [(pid, "purchase", pv) for pid, pv in purchases] + [
        (eid, "error", ev) for eid, ev in errors
    ]
    if not rows:
        return
    ev_df = spark.createDataFrame(
        [(i, r[0], r[1], r[2]) for i, r in enumerate(rows)],
        "row_id long, event_id long, event_type string, value double",
    ).select("event_id", "event_type", "value")

    import serverless_etl_aws_spark.queries.joins as J
    from serverless_etl_aws_spark.queries import _util

    orig = _util.t
    try:
        _util.t = lambda s, d, n: ev_df  # route the fixture loader to our data
        J.t = _util.t
        got = {
            (r["purchase_id"], r["error_id"])
            for r in J.join_range(spark, "ignored").collect()
        }
    finally:
        _util.t = orig
        J.t = orig
    assert got == want


def test_shingles_short_docs_no_crash(spark):
    """Docs with fewer tokens than the shingle width must yield an empty
    gram array, not INVALID_ARRAY_INDEX (sequence(0, size-k) goes negative
    and counts down on short docs). Mirrors the oracle's len(toks) >= k."""
    from serverless_etl_aws_spark.operators.text import word_ngrams

    rows = [
        (1, ""),  # 1 empty token after split
        (2, "one"),
        (3, "one two"),
        (4, "one two three"),
        (5, "a b c d e f g h"),  # exactly 8 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tri = {
        r["doc_id"]: r["g"]
        for r in docs.select("doc_id", word_ngrams(3).alias("g")).collect()
    }
    assert tri[1] == [] and tri[2] == [] and tri[3] == []
    assert tri[4] == ["one two three"]
    assert len(tri[5]) == 6
    eight = {
        r["doc_id"]: r["g"]
        for r in docs.select("doc_id", word_ngrams(8).alias("g")).collect()
    }
    assert eight[4] == [] and eight[5] == ["a b c d e f g h"]


def test_dedup_family_tolerates_short_docs(spark):
    """ngram/minhash dedup over a corpus containing sub-shingle-width docs
    runs clean and still finds the real duplicate pair."""
    from serverless_etl_aws_spark.operators.dedup import (
        minhash_banded_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    rows = [
        (1, "a b c d e f g h i j", "en"),
        (2, "a b c d e f g h i j", "en"),
        (3, "x", "en"),
        (4, "", "en"),
        (5, "y z", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert exact == {(1, 2)}
    mh = {(r["doc_a"], r["doc_b"]) for r in
          minhash_lsh_pairs(docs, dist_threshold=0.5).collect()}
    assert (1, 2) in mh
    mb = {(r["doc_a"], r["doc_b"]) for r in
          minhash_banded_pairs(docs, dist_threshold=0.5).collect()}
    assert (1, 2) in mb
    sh = {(r["doc_a"], r["doc_b"]) for r in
          simhash_pairs(docs, max_hamming=0).collect()}
    assert (1, 2) in sh


def test_ngram_stop_shingle_cap(spark):
    """Stop-shingle semantics: (a) a boilerplate header shared by 120 docs
    is dropped from the shingle universe, so a true duplicate pair that
    ALSO carries the boilerplate still scores jaccard 1.0; (b) the cap is
    really active — 60 identical docs whose every shingle exceeds the cap
    produce no pairs (their whole shingle set is stop-listed), where the
    uncapped join would report all 1770."""
    from serverless_etl_aws_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply to all"
    rows = [
        (i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d", "en")
        for i in range(120)
    ]
    rows += [
        (200, "the quick brown fox jumps over the lazy dog today", "en"),
        (201, "the quick brown fox jumps over the lazy dog today", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = ngram_jaccard_pairs(
        docs, threshold=0.8, block_col="lang", max_shingle_df=50
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(200, 201)}
    assert got[0]["jaccard"] == 1.0

    clones = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", "en") for i in range(60)],
        "doc_id long, text string, lang string",
    )
    capped = ngram_jaccard_pairs(
        clones, threshold=0.8, block_col="lang", max_shingle_df=50
    ).count()
    uncapped = ngram_jaccard_pairs(clones, threshold=0.8, block_col="lang").count()
    assert capped == 0 and uncapped == 60 * 59 // 2


def test_embedding_bounded_block_pairs(spark):
    """One 400-vector label block over a max_block=64 cap forces the
    KMeans sub-clustering path. Planted near-dup pairs (cosine >= 0.95)
    must survive sub-clustering (recall), and the exact-cosine verify
    keeps precision at 1.0 (output is a subset of the true pair set).
    A second run with the cap above the block size must return exactly
    the all-pairs answer."""
    import numpy as np

    from serverless_etl_aws_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(7)
    n_base, dim = 390, 16
    vecs = rng.normal(size=(n_base, dim))
    rows = [(i, 0, [float(x) for x in vecs[i]]) for i in range(n_base)]
    # 10 planted near-dups: copy of an existing vector + tiny noise
    for j in range(10):
        twin = vecs[j] + rng.normal(scale=0.01, size=dim)
        rows.append((1000 + j, 0, [float(x) for x in twin]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )

    def true_pairs(threshold):
        allv = {r[0]: np.array(r[2]) for r in rows}
        ids = sorted(allv)
        out = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                va, vb = allv[a], allv[b]
                c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                if np.floor(c * 1e6) / 1e6 >= threshold:
                    out.add((a, b))
        return out

    exact = true_pairs(0.9)
    assert len(exact) == 10  # the planted twins, nothing else

    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_cosine_pairs(
            df, threshold=0.9, max_block=64
        ).collect()
    }
    assert got <= exact  # exact verify => precision 1.0
    assert len(got) / len(exact) >= 0.9  # near-dups co-cluster

    uncapped = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_cosine_pairs(
            df, threshold=0.9, max_block=1000
        ).collect()
    }
    assert uncapped == exact


def test_ivf_recall_fixture(spark, sf_dir):
    """Registry settings (16 spherical centroids, nprobe=12) must hold
    recall@10 >= 0.9 vs brute force on the fixture embeddings."""
    from serverless_etl_aws_spark.catalog import load_table
    from serverless_etl_aws_spark.operators.simsearch import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bf = {r["vec_id"] for r in brute_force_topk(emb, 0, 10).collect()}
    iv = {r["vec_id"] for r in ivf_topk(emb, 0, 10, 16, 12).collect()}
    assert len(bf & iv) / len(bf) >= 0.9


def test_ivf_recall_clustered(spark):
    """In IVF's intended regime — clustered embeddings — a small nprobe
    already recovers the neighbor list: 8 well-separated Gaussian bundles,
    probe in bundle 0, nprobe=2 of 8 centroids, recall@10 >= 0.9."""
    import numpy as np

    from serverless_etl_aws_spark.operators.simsearch import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    dim, per = 16, 60
    rows = []
    for c in range(8):
        center = rng.normal(size=dim) * 10.0
        pts = center + rng.normal(scale=0.5, size=(per, dim))
        rows += [
            (c * per + i, [float(x) for x in pts[i]], c) for i in range(per)
        ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    bf = {r["vec_id"] for r in brute_force_topk(emb, 0, 10).collect()}
    iv = {r["vec_id"] for r in ivf_topk(emb, 0, 10, 8, 2).collect()}
    assert len(bf & iv) / len(bf) >= 0.9


def test_asof_join_null_fields_not_backfilled(spark):
    """The latest matching right row's NULL columns must stay NULL —
    per-column last(ignorenulls) would backfill them from older right
    rows and stitch fields of different rows together (DuckDB ASOF JOIN
    returns the latest row as-is)."""
    from serverless_etl_aws_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, 3, 4), (1, 20, None, 5)],
        "k long, rt long, v long, w long",
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        right_cols=["v", "w"],
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["matched_v"] is None and r["matched_w"] == 5


def test_salted_join_rejects_small_side_replicating_how(spark):
    """'right'/'full' would surface unmatched small-side rows once per
    salt replica; salted_join must refuse them."""
    import pytest

    from serverless_etl_aws_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 10)], "k long, seq long")
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    for how in ("right", "full", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="not semantics-preserving"):
            salted_join(big, small, key="k", salt_from="seq", how=how)
    assert salted_join(big, small, key="k", salt_from="seq").count() == 1


def test_sketch_merge_estimates_match_exact(spark, sf_dir):
    """The merged-HLL region estimates must be within 5% of the exact
    distinct counts, and the row totals must be exact — verifying the
    sketch path semantically even though the key is rows-only."""
    from serverless_etl_aws_spark.queries.aggregates import agg_sketch_merge

    got = {
        r["region_key"]: (r["approx_customers"], r["customer_rows"])
        for r in agg_sketch_merge(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    exact = {
        r["n_regionkey"]: (r["d"], r["n"])
        for r in cust.join(
            nation, cust.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_regionkey")
        .agg(
            F.countDistinct("c_custkey").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, (approx, rows) in got.items():
        d, n = exact[k]
        assert rows == n
        assert abs(approx - d) / d <= 0.05


def test_compaction_reduces_file_count(spark, sf_dir):
    """maintenance_compact must actually compact: same rows (checked by
    its oracle), far fewer files — 64 fragmented files bin-packed toward
    the 64 MB target (tiny fixture bytes → 1 output file)."""
    import os

    from serverless_etl_aws_spark.queries._util import SCRATCH
    from serverless_etl_aws_spark.queries.pipeline_ops import (
        maintenance_compact,
    )

    maintenance_compact(spark, sf_dir).collect()
    base = os.path.join(SCRATCH, "maintenance_compact")

    def n_parquet(d):
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    # the staging dir the call under test actually produced (content-
    # keyed; the hook avoids asserting against a stale copy — ADVICE r14)
    frag_dir = maintenance_compact.last_frag_dir
    assert os.path.isdir(frag_dir), f"no fragmented staging under {base}"
    n_frag = n_parquet(frag_dir)
    n_out = n_parquet(os.path.join(base, "compacted"))
    assert n_frag == 64
    assert n_out < n_frag // 8


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    scored=st.lists(
        st.tuples(
            st.integers(0, 2),            # pid
            st.integers(100, 139),        # vec_id
            st.integers(-5, 5),           # coarse score -> forces ties
        ),
        min_size=0, max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_knn_two_stage_topk_equals_window_rank(spark, scored):
    """The two-stage partial top-k (per-partition array_sort+slice, then
    merge) must equal the naive window row_number formulation on arbitrary
    scored data — including tied scores, groups smaller than k, and empty
    input. Scores are small integers so ties are common; the vec_id
    tie-break must pick identical rows in both formulations."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    K = 3
    df = spark.createDataFrame(
        [(p, v, float(s)) for p, v, s in scored],
        "pid int, vec_id long, cosine double",
    ).repartition(4)  # force multiple partials per pid

    cand = F.struct(
        (-F.col("cosine")).alias("nc"),
        F.col("vec_id").alias("vec_id"),
        F.col("cosine").alias("cosine"),
    )
    partial = (
        df.withColumn("part", F.spark_partition_id())
        .groupBy("pid", "part")
        .agg(F.slice(F.array_sort(F.collect_list(cand)), 1, K).alias("top"))
    )
    two_stage = {
        (r["pid"], r["e"]["vec_id"], r["e"]["cosine"])
        for r in partial.groupBy("pid")
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("top"))), 1, K
            ).alias("top")
        )
        .select("pid", F.explode("top").alias("e"))
        .collect()
    }
    w = Window.partitionBy("pid").orderBy(F.col("cosine").desc(), "vec_id")
    naive = {
        (r["pid"], r["vec_id"], r["cosine"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .collect()
    }
    assert two_stage == naive


def test_merge_schema_missing_column_nulls_not_errors(spark, sf_dir):
    """Schema-drift contract: a file written before a column existed reads
    back with that column NULL (not an error), and a column stored as
    int32 widens to the declared int64."""
    from serverless_etl_aws_spark.queries.relational import scan_merge_schema

    df = scan_merge_schema(spark, sf_dir)
    assert dict(df.dtypes)["o_orderkey"] == "bigint"
    old_rows = df.filter(F.col("o_orderkey") % 3 != 0)
    new_rows = df.filter(F.col("o_orderkey") % 3 == 0)
    assert old_rows.count() > 0 and new_rows.count() > 0
    # every old-producer row nulls the missing column; no new-producer row does
    assert old_rows.filter(F.col("o_orderpriority").isNotNull()).count() == 0
    assert new_rows.filter(F.col("o_orderpriority").isNull()).count() == 0
    # nothing lost relative to the base table
    base = load_table(spark, sf_dir, "orders")
    assert df.count() == base.count()


def _memo_entries(kind):
    from serverless_etl_aws_spark import memo

    return {k: v for k, v in memo._STORE.items() if k[0] == kind}


def test_ivf_cache_invalidates_on_corpus_regeneration(spark, tmp_path):
    """Regenerating a corpus in place (same path, new content) must
    retrain the coarse quantizer: the memo key folds in the corpus
    fingerprint, so the stale centroids can't be served."""
    import numpy as np

    from serverless_etl_aws_spark import memo
    from serverless_etl_aws_spark.operators.simsearch import ivf_topk

    path = str(tmp_path / "emb.parquet")

    def write_corpus(seed):
        r = np.random.default_rng(seed)
        rows = [
            (i, [float(x) for x in r.normal(size=8)]) for i in range(64)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    write_corpus(1)
    memo.clear()
    try:
        ivf_topk(spark.read.parquet(path), 0, 5, 4, 2).collect()
        assert len(_memo_entries("ivf")) == 1
        # same corpus again: served from the memo, no second entry
        ivf_topk(spark.read.parquet(path), 0, 5, 4, 2).collect()
        assert len(_memo_entries("ivf")) == 1

        write_corpus(2)  # in-place regeneration: same path, new content
        ivf_topk(spark.read.parquet(path), 0, 5, 4, 2).collect()
        # a second, RETRAINED entry — the stale one was not reused
        entries = _memo_entries("ivf")
        assert len(entries) == 2
        (c1, c2) = entries.values()
        assert not np.allclose(c1, c2)
    finally:
        memo.clear()


def test_hadoop_dir_bytes_scheme_agnostic(spark, tmp_path):
    """The compaction sizer must answer identically for a plain local
    path and an explicit file: URI (the object-store-portability
    contract), and match the OS's own accounting."""
    from serverless_etl_aws_spark.queries._util import hadoop_dir_bytes

    out = str(tmp_path / "sized")
    spark.range(1000).repartition(4).write.parquet(out)
    expected = sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    assert expected > 0
    assert hadoop_dir_bytes(spark, out) == expected
    assert hadoop_dir_bytes(spark, f"file://{out}") == expected


def test_pydatasource_partition_planning(spark):
    """The custom Python Data Source must actually parallelize: 8 planned
    input partitions become 8 scan partitions, and every row is produced
    by the task that owns its id stride (part = id % parts)."""
    from serverless_etl_aws_spark.sources import RangeHashDataSource

    spark.dataSource.register(RangeHashDataSource)
    df = (
        spark.read.format("range_hash")
        .option("n", 1000).option("parts", 8).load()
    )
    assert df.rdd.getNumPartitions() == 8
    with_task = df.withColumn("task", F.spark_partition_id())
    # each planned partition maps 1:1 onto one scan task
    assert with_task.filter(F.col("task") != F.col("part")).count() == 0
    assert df.count() == 1000
    assert df.select("id").distinct().count() == 1000


def test_trigrams_respects_column_argument(spark):
    """trigrams(col) must shingle the NAMED column (the old signature
    accepted a Column and silently hardcoded 'text')."""
    from serverless_etl_aws_spark.operators.text import trigrams

    df = spark.createDataFrame(
        [(1, "a b c d", "x y z w")], "doc_id long, text string, title string"
    )
    got_text = df.select(trigrams("text").alias("g")).collect()[0]["g"]
    got_title = df.select(trigrams("title").alias("g")).collect()[0]["g"]
    assert got_text == ["a b c", "b c d"]
    assert got_title == ["x y z", "y z w"]


def test_asof_null_keys_do_not_match(spark):
    """Equality semantics: a NULL key never equals a NULL key — null-key
    left rows come out unmatched instead of filling from null-key right
    rows."""
    from serverless_etl_aws_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, 10, 100), (1, 10, 101)], "k int, t int, lid int"
    )
    right = spark.createDataFrame(
        [(None, 5, 900), (1, 5, 901)], "k int, t int, rid int"
    )
    got = {
        r["lid"]: r["m_rid"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_cols=["rid"], prefix="m_",
        ).collect()
    }
    assert got == {100: None, 101: 901}


def test_connected_components_raises_on_nonconvergence(spark):
    """A component whose diameter exceeds max_iter must fail loudly, not
    return silently split labels."""
    from serverless_etl_aws_spark.operators.graph import connected_components

    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=3)
    ok = connected_components(nodes, edges, max_iter=n + 1)
    assert ok.select("component").distinct().count() == 1


def test_brute_force_topk_missing_probe_raises(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="not found"):
        brute_force_topk(emb, probe_vec_id=99, k=5)


def test_stateful_update_state_carries_exact_integer_cents():
    """Round-6 contract (the graduation to a hash-checked oracle): value
    accounting is PER-EVENT integer cents — floor(v*100 + 0.5), pure
    IEEE, engine-independent — and the cross-batch state carries the
    exact int64 cent total, so the running sum is identical under any
    batch split and any summation order. Two 0.006 events quantize to
    1 cent EACH (0.02 total), which distinguishes per-event cents from
    the old unrounded-float-state semantics (round(0.012) = 0.01); and
    a 0.004 event is 0 cents, never a drifting float residue."""
    import pandas as pd

    from serverless_etl_aws_spark.streaming.stateful import _update

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    batch = pd.DataFrame({"value": [0.006], "event_type": ["click"]})
    list(_update((7,), iter([batch]), st))
    out = list(_update((7,), iter([batch]), st))[0]
    assert out["total_value"].iloc[0] == 0.02  # 1 cent + 1 cent
    assert st.get[1] == 2  # state holds exact integer cents
    out2 = list(
        _update(
            (7,),
            iter([pd.DataFrame({"value": [0.004], "event_type": ["view"]})]),
            st,
        )
    )[0]
    assert out2["total_value"].iloc[0] == 0.02  # 0.004 → 0 cents
    assert out2["types_seen"].iloc[0] == 2


def test_pq_recall_fixture(spark, sf_dir):
    """Registry settings (m=16, ksub=64, refine=8) must hold recall@10
    >= 0.8 vs brute force on the fixture embeddings — near-uniform
    random vectors are ANN's worst case (the coarser 8x16 codebook
    measured only 0.2 at sf0.1), so both the codebook resolution and
    the exact re-rank over 80 ADC candidates are load-bearing; measured
    1.0 at sf0.1 with these settings."""
    from serverless_etl_aws_spark.catalog import load_table
    from serverless_etl_aws_spark.operators.simsearch import (
        brute_force_topk,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bf = {r["vec_id"] for r in brute_force_topk(emb, 0, 10).collect()}
    pq = {r["vec_id"] for r in pq_topk(emb, 0, 10, m=16, ksub=64, refine=8).collect()}
    assert len(bf & pq) / len(bf) >= 0.8


def test_pq_exact_rerank_scores_match_brute_force(spark, sf_dir):
    """For every candidate PQ returns that brute force also returns, the
    exact-cosine score must agree to the quant6 floor — the re-rank is
    exact arithmetic, only the candidate CHOICE is approximate."""
    from serverless_etl_aws_spark.catalog import load_table
    from serverless_etl_aws_spark.operators.simsearch import (
        brute_force_topk,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bf = {r["vec_id"]: r["cosine"] for r in brute_force_topk(emb, 0, 10).collect()}
    for r in pq_topk(emb, 0, 10).collect():
        if r["vec_id"] in bf:
            assert abs(r["cosine"] - bf[r["vec_id"]]) <= 2e-6, r


def test_pagerank_hand_computed_graph(spark):
    """Semantics lock: 3-node weighted graph, ranks after 3 iterations
    must match a pure-Python evaluation of the same quantized update
    (floor(pr*w/wout*1e14) summed as ints). Catches both formula drift
    and quantization drift."""
    import math

    from serverless_etl_aws_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    # 0→1 (w2), 0→2 (w1), 1→2 (w1), 2→0 (w1)
    edges = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double",
    )
    got = {
        r["node"]: r["pr"]
        for r in pagerank(nodes, edges, iters=3, damping=0.85).collect()
    }

    wout = {0: 3.0, 1: 1.0, 2: 1.0}
    ew = {(0, 1): 2.0, (0, 2): 1.0, (1, 2): 1.0, (2, 0): 1.0}
    pr = {n: 1.0 / 3.0 for n in range(3)}
    for _ in range(3):
        s = {n: 0 for n in range(3)}
        for (a, b), w in ew.items():
            s[b] += int(math.floor(pr[a] * (w / wout[a]) * 1e14))
        pr = {n: 0.15 / 3.0 + 0.85 * (float(s[n]) / 1e14) for n in range(3)}
    for n in range(3):
        assert got[n] == pr[n], (n, got[n], pr[n])


def test_minhash_backends_agree(spark, sf_dir):
    """The pure-JVM banded MinHash (registry backend since round 4) and
    the MLlib approxSimilarityJoin formulation share candidate geometry
    (OR-amplified, n tables), so on the fixture corpus their PAIR SETS
    must be identical; distances may differ slightly because MLlib
    measures Jaccard on HashingTF's 2^18-bucket sets (hash collisions
    shrink them) while the banded verify uses exact trigram sets."""
    from serverless_etl_aws_spark.catalog import load_table
    from serverless_etl_aws_spark.operators.dedup import (
        minhash_banded_pairs,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    ml = {(r["doc_a"], r["doc_b"]) for r in
          minhash_lsh_pairs(docs, dist_threshold=0.5).collect()}
    jv = {(r["doc_a"], r["doc_b"]) for r in
          minhash_banded_pairs(docs, dist_threshold=0.5).collect()}
    assert ml == jv, (len(ml - jv), len(jv - ml))


def test_kmeans_separated_bundles_pure_assignment(spark):
    """On 8 well-separated Gaussian bundles the distributed KMeans must
    assign every vector to its bundle (purity 1.0 after 2 iterations) —
    the quality check the oracle-parity test cannot express, since both
    engines could agree on a WRONG clustering."""
    import numpy as np

    from serverless_etl_aws_spark.operators.ml import kmeans_assign

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 16)) * 20.0
    rows = []
    vid = 0
    # ids 0..7 = one seed point per bundle, so the lowest-id init starts
    # with one centroid in each bundle (KMeans, not KMeans++, is exact
    # only given a sane init - which a corpus-bucketing caller provides
    # the same way).
    for b in range(8):
        rows.append((vid, (centers[b]).tolist(), b)); vid += 1
    for b in range(8):
        for _ in range(40):
            rows.append(
                (vid, (centers[b] + rng.normal(size=16) * 0.5).tolist(), b)
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, bundle int")
    got = kmeans_assign(df, k=8, iters=2)
    joined = got.join(df.select("vec_id", "bundle"), "vec_id").collect()
    # cid b was initialized from bundle b's seed point, so purity means
    # cid == bundle everywhere.
    impure = [r for r in joined if r["cid"] != r["bundle"]]
    assert not impure, impure[:5]


def test_editdist_dedup_catches_small_edits(spark, tmp_path):
    """A one-token in-place edit must survive blocking AND the
    Levenshtein verify; an unrelated doc must appear in no pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = " ".join(f"tok{i}" for i in range(40))
    edited = base.replace("tok20", "tokXX")
    unrelated = " ".join(f"zzz{i}" for i in range(40))
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array([base, edited, unrelated], pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["s"] * 3, pa.string()),
            "n_chars": pa.array([len(base), len(edited), len(unrelated)], pa.int64()),
        }
    )
    d = tmp_path / "docs"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        import shutil

        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet"))

    from serverless_etl_aws_spark.queries.llm import llm_dedup_editdist

    pairs = {(r["doc_a"], r["doc_b"]): r["rel_dist"]
             for r in llm_dedup_editdist(spark, str(d)).collect()}
    assert (1, 2) in pairs, pairs
    assert pairs[(1, 2)] < 0.05
    assert all(3 not in p for p in pairs)


def test_bfs_reliable_checkpoint_mode(spark, tmp_path):
    """operators.graph.materialize's cluster posture: with a reliable
    checkpoint dir configured and the opt-in conf set, iterative
    operators persist round state via DataFrame.checkpoint (survives
    executor loss) instead of localCheckpoint (executor-local, lost
    with the executor). Same answers in both modes; misconfiguration
    (flag on, dir unset) fails loudly (ADVICE r6 #4)."""
    from serverless_etl_aws_spark.operators.graph import (
        RELIABLE_CHECKPOINT_CONF,
        bfs_hops,
        materialize,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    expect = {
        (r["node"], r["hops"])
        for r in bfs_hops(edges, 1, max_hops=5).collect()
    }
    assert expect == {(1, 0), (2, 1), (3, 2), (4, 3)}

    sc = spark.sparkContext
    had_dir = sc.getCheckpointDir() is not None
    if not had_dir:
        # misconfiguration path: flag on, no dir -> loud failure
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        try:
            with pytest.raises(RuntimeError, match="checkpoint dir"):
                materialize(edges)
        finally:
            spark.conf.unset(RELIABLE_CHECKPOINT_CONF)

    sc.setCheckpointDir(str(tmp_path / "reliable_ckpt"))
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
    try:
        got = {
            (r["node"], r["hops"])
            for r in bfs_hops(edges, 1, max_hops=5).collect()
        }
        assert got == expect
        # the reliable dir actually received checkpoint data
        ckpt_root = tmp_path / "reliable_ckpt"
        assert any(ckpt_root.rglob("*")), "no files under checkpoint dir"
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_CONF)


def test_approx_distinct_within_hll_error_bound(spark):
    """agg_approx_distinct is rows-only in the driver audit (approx !=
    exact by contract), so pin its accuracy locally instead: Spark's
    HLL++ with rsd=0.05 guarantees a 5% relative standard deviation;
    3-sigma (15%) is the conventional hard bound, and HLL is
    deterministic for fixed data, so this is a stable assertion, not a
    flaky statistical one. Checked per event_type at sf0.01 AND sf0.1 —
    the larger factor exercises the dense HLL regime the sparse-path
    sf0.001 fixtures never reach (mirrors the MinHash recall contract in
    tests/test_minhash_recall.py; ADVICE r6 #8)."""
    from serverless_etl_aws_spark.queries.aggregates import (
        agg_approx_distinct,
    )
    from serverless_etl_aws_spark.queries._util import t

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        approx = {
            r["event_type"]: r["approx_users"]
            for r in agg_approx_distinct(spark, sf_dir).collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert set(approx) == set(exact)
        for ty, n_exact in exact.items():
            rel = abs(approx[ty] - n_exact) / n_exact
            assert rel <= 3 * 0.05, (
                f"{sf_dir} {ty}: approx {approx[ty]} vs exact {n_exact} "
                f"(rel err {rel:.3f} > 3*rsd)"
            )


def test_skew_kurt_guard_fires_on_post_quantization_boundary(spark, tmp_path):
    """ADVICE r10: a double in [99999.99995, 1e5) passes a naive
    |x| < 1e5 test but HALF_UP-rounds to 100000.0000 in the
    DECIMAL(9,4) cast — the guard must fire the NAMED error on it,
    and must still pass a value that quantizes inside the domain."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_events(d, value):
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us")),
                "user_id": pa.array([1], pa.int64()),
                "event_type": pa.array(["click"], pa.string()),
                "value": pa.array([value], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            shutil.copy(
                f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet")
            )

    from serverless_etl_aws_spark.queries.aggregates import agg_skew_kurt

    bad = tmp_path / "boundary"
    write_events(bad, 99999.99996)  # rounds to 100000.0000 in (9,4)
    with pytest.raises(Exception, match="agg_skew_kurt"):
        agg_skew_kurt(spark, str(bad)).collect()

    ok = tmp_path / "inside"
    write_events(ok, 99999.99994)  # rounds to 99999.9999 — representable
    assert agg_skew_kurt(spark, str(ok)).count() == 1


def test_float_specials_engine_assumptions(spark):
    """The float-specials contract (queries/_util.py) rests on two
    measured Spark behaviors — pin them so an upstream change (e.g. a
    future ANSI mode making the decimal cast throw, or floor changing
    its non-finite result) fails HERE with the contract named, not as
    50 scattered oracle mismatches.

    1. ANSI CAST(double AS DECIMAL) yields NULL for NaN/±Inf (this is
       what makes the engine side of 'non-finite → NULL' free);
    2. ANSI floor() silently returns 0 for NaN and ±2^63 for ±Inf —
       the fabrication fquant() exists to guard against;
    3. fquant() itself maps non-finite to NULL and is identity-ish on
       finite values."""
    import math

    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.queries._util import fin, fquant

    df = spark.createDataFrame(
        [(math.nan,), (math.inf,), (-math.inf,), (1.25,), (None,)],
        "x double",
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    dec_vals = [r.d for r in df.select(
        F.col("x").cast("decimal(18,4)").alias("d")).collect()]
    assert dec_vals[:3] == [None, None, None], dec_vals
    assert float(dec_vals[3]) == 1.25 and dec_vals[4] is None

    floor_vals = [r.f for r in df.select(F.floor("x").alias("f")).collect()]
    assert floor_vals[0] == 0, "floor(NaN) no longer fabricates 0"
    assert floor_vals[1] == 2**63 - 1 and floor_vals[2] == -(2**63)

    fq = [r.q for r in df.select(fquant(F.col("x"), 2).alias("q")).collect()]
    assert fq == [None, None, None, 1.25, None], fq

    fn = [r.v for r in df.select(fin("x").alias("v")).collect()]
    assert fn[:3] == [None, None, None] and fn[3] == 1.25 and fn[4] is None


def test_vec_dim_mode_memoized_per_corpus_content(spark, sf_dir, tmp_path):
    """vec_dim_mode is an EAGER O(1)-result job — without memoization
    every embedding key re-scans the corpus once per DataFrame
    CONSTRUCTION, including plan/explain-only paths (ADVICE r12). Pin:
    (a) same on-disk corpus, same plan → one scan, cached result served
    to later calls; (b) a DIFFERENT plan over the same files (filtered
    lineage) gets its OWN entry — so a filtered first caller can never
    poison the raw table's cached mode (ADVICE r13); (c) the memo is
    content-bound — rewriting the corpus in place invalidates it;
    (d) an in-memory DataFrame (no file lineage) stays uncached and
    still computes correctly."""
    import os

    from serverless_etl_aws_spark import memo
    from serverless_etl_aws_spark.catalog import load_table
    from serverless_etl_aws_spark.queries._util import vec_dim_mode

    memo.clear()
    try:
        raw = load_table(spark, sf_dir, "embeddings")
        d1 = vec_dim_mode(raw)
        assert d1 is not None and d1 > 0
        cached = _memo_entries("dim_mode")
        assert len(cached) == 1
        # same relation again: memo hit, no new entry
        assert vec_dim_mode(load_table(spark, sf_dir, "embeddings")) == d1
        assert _memo_entries("dim_mode") == cached
        # filtered lineage over the SAME files: its own entry (the
        # filtered mode happens to equal the raw mode here, but the key
        # must differ — first-call-wins poisoning is the bug class)
        d2 = vec_dim_mode(raw.filter("vec_id >= 0"))
        assert d2 == d1 and len(_memo_entries("dim_mode")) == 2
        assert set(cached).issubset(_memo_entries("dim_mode"))

        # content-bound: rewriting a corpus in place recomputes the mode
        small = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0, 7.0])],
            "vec_id long, embedding array<double>",
        )
        out = str(tmp_path / "emb2.parquet")
        small.coalesce(1).write.mode("overwrite").parquet(out)
        assert vec_dim_mode(spark.read.parquet(out)) == 2
        assert len(_memo_entries("dim_mode")) == 3
        wide = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0, 6.0]), (3, [7.0, 8.0])],
            "vec_id long, embedding array<double>",
        )
        wide.coalesce(1).write.mode("overwrite").parquet(out)
        os.utime(out, (1, 1))  # the directory's own mtime is not the key
        assert vec_dim_mode(spark.read.parquet(out)) == 3
        assert len(_memo_entries("dim_mode")) == 4

        # no file lineage: uncached but correct
        assert vec_dim_mode(small) == 2
        assert len(_memo_entries("dim_mode")) == 4
    finally:
        memo.clear()


def test_kcore_peel_early_exit_matches_full_unroll(spark):
    """kcore_peel's fixpoint early-exit (r15) must be invisible in the
    result: on a graph where peeling CASCADES (dropping node 5 collapses
    node 4 under the floor) and then converges at round 3 of 5, the
    peel must equal the unconditional full-unroll reference the oracle
    SQL runs. Triangle {1,2,3} + chain 3-4-5, k=2: round 1 drops 5
    (degree 1), round 2 drops 4 (its degree fell to 1), round 3 drops
    nothing — rounds 4-5 are identity and are skipped."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.operators.graph import kcore_peel

    undirected = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    pairs = undirected + [(b, a) for a, b in undirected]
    adj = spark.createDataFrame(pairs, "node long, nbr long")

    got = {
        (r["node"], r["d"]) for r in kcore_peel(adj, 2, 5).collect()
    }

    # unconditional full-unroll reference (no early exit), in Python
    edges = set(pairs)
    for _ in range(5):
        deg: dict = {}
        for a, _b in edges:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= 2}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
    expect_deg: dict = {}
    for a, _b in edges:
        expect_deg[a] = expect_deg.get(a, 0) + 1
    assert got == set(expect_deg.items())
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_bfs_bipartite_matches_clique_expansion(spark):
    """bfs_hops_bipartite (the graph_bfs optimization) must produce
    EXACTLY the hop counts of bfs_hops over the materialized
    co-membership clique expansion — distances transfer 1:1 because a
    co-membership edge is a 2-step bipartite path and vice versa.
    Fixture exercises: multi-group nodes, a chain of overlapping groups
    (hops 1..3), a singleton group (isolated node, unreachable), and a
    disconnected component."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.operators.graph import (
        bfs_hops,
        bfs_hops_bipartite,
    )

    # groups: 10:{1,2}, 11:{2,3}, 12:{3,4,5}, 13:{6} (isolated),
    # 14:{7,8} (disconnected from source 1)
    membership = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 2), (11, 3), (12, 3), (12, 4), (12, 5),
         (13, 6), (14, 7), (14, 8)],
        "g long, node long",
    )
    # clique expansion of the same membership
    a, b = membership.alias("a"), membership.alias("b")
    clique = (
        a.join(b, "g")
        .filter(F.col("a.node") != F.col("b.node"))
        .select(F.col("a.node").alias("src"), F.col("b.node").alias("dst"))
        .distinct()
    )
    expect = {
        (r["node"], r["hops"])
        for r in bfs_hops(clique, 1, max_hops=5).collect()
    }
    got = {
        (r["node"], r["hops"])
        for r in bfs_hops_bipartite(
            membership, 1, group_col="g", node_col="node", max_hops=5
        ).collect()
    }
    assert got == expect
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3), (5, 3)}
