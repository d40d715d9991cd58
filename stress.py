"""Scaling measurement — times registry keys at 1× (the bench scale
factor) and on an R× key-shifted replica of it, and reports the ratio
per key. Near-linear (or better) ratios are the evidence that the plans
(pushdown, partial agg, shuffle join, top-k) hold as data grows — the
local proxy for the 100 TB design claim.

Usage (env: SPARK_GRAFT_CPUS; docs/SCALING.md records the tables)::

    python stress.py [N=8]              # relational headliners at N×
    python stress.py sf1 [KEY ...]      # SF1_KEYS at 10× (an sf1.0)
    python stress.py docs32 [KEY ...]   # dedup/ANN family at 32×

Every key is timed by ``bench.measure_key`` — a cold run, then bench's
warm policy, warm median reported — so a stress number and a bench
number are the same measurement at different data sizes. The relational
mode adds one fact⋈fact join with a sort-merge hint so a real shuffle
join is what's timed (orders would otherwise broadcast at these sizes,
which is a different plan).

Replicas are built by :func:`replicate` under ``.scratch/`` in this
checkout and reused once complete.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bench import measure_key
from serverless_etl_aws_spark.catalog import load_table
from serverless_etl_aws_spark.queries import Query, build_registry
from serverless_etl_aws_spark.session import get_spark

BASE_SF = "/root/testdata/sf0.1"
SCRATCH = os.path.join(ROOT, ".scratch")

#: Key columns shifted per replica, by stride group. A group's stride is
#: one more than the max over ALL of its columns, so replica i's keys
#: never collide with replica j's and every foreign key stays valid in
#: every replica. custkey spans both tables because customers without
#: orders can hold the customer-table max: a stride from orders alone
#: would collide replica 1's customer keys with replica 0's. l_partkey
#: and l_suppkey are never shifted: part and supplier are copied
#: verbatim, so shifting them would break those foreign keys.
#:
#: events shift user_id too: R× users at constant per-user density, so
#: sessionization state grows in key count rather than densifying.
#: embeddings shift label (same rationale as the documents salt in
#: ``_salt_docs``): verbatim replication under a FIXED label set grows
#: every block R×, so the exact all-pairs path inside a block does R²
#: work and every replica copy is a cosine-1.0 dup of its original —
#: an input distribution shift, not the operator. New data arriving as
#: NEW clusters (blocks grow in count at the distribution's block size)
#: is the SemDeDup scale model.
SHIFTS = {
    "lineitem": {"l_orderkey": "orderkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "embeddings": {"vec_id": "vec_id", "label": "label"},
    "documents": {"doc_id": "doc_id"},
}
RELATIONAL = ("lineitem", "orders", "customer")


def _salt_docs(t: pa.Table, i: int) -> pa.Table:
    """Replica-salt every third token of each doc's text (replica 0 is
    verbatim). Keeps each replica's INTERNAL dup statistics intact (two
    near-dups mutate identically) while making cross-replica shingle
    sets disjoint — every 3-token window contains a salted position —
    so dedup candidate work and true output scale LINEARLY in replicas
    instead of quadratically (which would measure an input-distribution
    shift, not the operator)."""
    if i == 0:
        return t
    out = []
    for txt in t["text"].to_pylist():
        toks = txt.split(" ")
        for j in range(2, len(toks), 3):
            toks[j] = f"r{i}x{j}"
        out.append(" ".join(toks))
    t = t.set_column(
        t.schema.get_field_index("text"), "text", pa.array(out, pa.string())
    )
    return t.set_column(
        t.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(s) for s in out], pa.int64()),
    )


def replicate(src: str, dst: str, replicas: int, names) -> str:
    """Build ``dst`` from the tables in ``src``: those in ``names``
    replicated ``replicas``× with ``SHIFTS`` applied (documents also
    salted), the rest copied verbatim. Each replicated table is one
    parquet file written one replica at a time, so memory stays at one
    copy of the table. A completed build is reused."""
    done = os.path.join(dst, "_BUILD_COMPLETE")
    if os.path.exists(done):
        return dst
    shutil.rmtree(dst, ignore_errors=True)  # interrupted build
    os.makedirs(dst)
    tables = sorted(f[: -len(".parquet")] for f in os.listdir(src)
                    if f.endswith(".parquet"))
    stride: dict[str, int] = {}
    for t in tables:
        for col, group in SHIFTS.get(t, {}).items():
            path = os.path.join(src, f"{t}.parquet")
            top = pc.max(pq.read_table(path, columns=[col])[col]).as_py()
            stride[group] = max(stride.get(group, 0), top + 1)
    for name in tables:
        path = os.path.join(src, f"{name}.parquet")
        out = os.path.join(dst, f"{name}.parquet")
        if name not in names:
            shutil.copy(path, out)
            continue
        tbl = pq.read_table(path)
        with pq.ParquetWriter(out, tbl.schema) as w:
            for i in range(replicas):
                t = tbl
                for col, group in SHIFTS.get(name, {}).items():
                    shifted = pc.add(t[col], i * stride[group])
                    t = t.set_column(t.schema.get_field_index(col), col,
                                     pc.cast(shifted, t[col].type))
                w.write_table(_salt_docs(t, i) if name == "documents" else t)
    open(done, "w").close()
    return dst


REGISTRY_KEYS = ["agg_group", "win_running", "sort_limit", "topk_per_group"]

# ---------------------------------------------------------------- sf1.0
# A materialized 10× copy of sf0.1 (~6M lineitem rows — the sf1.0 the
# fixtures don't ship) for the sanity pass over the keys below
# (docs/SCALING.md). Single parquet FILES (not dirs) so the streaming
# keys' stage-and-copy scaffolding works unchanged.

SF1_KEYS = [
    "agg_group", "join_multiway", "llm_dedup_ngram",
    "llm_sim_search_ivf", "stream_session",
    "maintenance_zorder", "graph_pagerank", "llm_sim_search_pq",
    "ts_resample", "agg_stats",
    "stream_cdc", "ml_kmeans", "llm_bpe_pairs", "llm_dedup_minhash",
    "stream_stream_join", "llm_dedup_editdist", "llm_curation_pipeline",
    "graph_triangles", "llm_winnow_fingerprint", "join_interval_overlap",
    "set_intersect_all", "ml_linreg",
    "llm_bpe_train", "llm_span_corruption", "llm_hard_negatives",
    "join_asof_tolerance", "ts_rolling_zscore", "win_frame_range_time",
    "graph_label_propagation", "dim_snapshot_diff", "agg_multi_distinct",
    # the dedup-family tail: embedding-cosine blocks and simhash banding
    "llm_dedup_embedding", "llm_dedup_simhash",
    "llm_paragraph_dedup", "maintenance_analyze", "agg_heavy_hitters",
    "ts_ewma", "scan_jdbc",
    "scan_atomic_table", "fn_try_cast", "ml_random_projection",
    "win_ignore_nulls", "llm_bpe_encode", "maintenance_delete_rows",
    "llm_bigram_lm",
    "join_full_outer", "udtf_python", "mm_audio_window",
    "dq_expectations", "agg_funnel", "dim_scd2", "win_sessionize",
    "llm_tfidf", "llm_pii_scrub", "fn_json", "scan_csv",
    "llm_dedup_cluster", "stream_stateful",
    "llm_dedup_apply", "join_lateral", "ts_gap_detect",
    "llm_ngram_novelty",
    "agg_approx_quantile", "llm_prefix_dedup",
    "agg_corr", "win_streak", "mm_scene_cut", "ts_anomaly_mad",
    "graph_bfs", "agg_gini",
    "sample_weighted", "agg_mode", "win_rolling_median", "ts_seasonal",
    "ts_cusum", "ts_autocorr", "ml_naive_bayes", "llm_collocations",
    "win_drawdown", "agg_skew_kurt", "win_pareto", "graph_degree_dist",
    "dq_benford", "agg_hhi",
    # graph_jaccard is deliberately absent: the replicator shifts
    # l_orderkey but neither l_suppkey nor l_partkey (the part/supplier
    # dims aren't replicated, so shifting would break FKs), which
    # DENSIFIES the supplier-part bipartite graph — per-part degree
    # grows ~10×, pair-join work ~100× (8.7M → ~900M pair rows). That
    # measures an input distribution shift, not the operator (the same
    # quadratic artifact the documents token-salt exists to prevent);
    # real corpus growth adds parts/suppliers at roughly constant
    # degree, which is linear in the posting-list join.
    "win_retention", "ml_auc", "dq_profile",
    # Eval/integrity analytics, all replication-safe: the events keys see
    # 10× rows over the same day/bin/weekday grids, dq_referential's FK
    # edges stay valid under the key-shift scheme (custkeys stride
    # together; suppkeys aren't shifted and supplier is copied verbatim),
    # and graph_components' relative threshold rides the
    # uniformly-scaled pair counts.
    "ml_confusion", "ml_calibration", "ml_chi2", "ts_trend_mk",
    "dq_referential", "graph_components",
    # graph_kcore IS replication-safe (unlike graph_jaccard): the
    # replicator shifts l_orderkey only, so each replica contributes the
    # SAME co-order edges — the distinct edge relation (and every peel
    # round) is identical at 1x and 10x, and what is measured is the 10x
    # dedup scan feeding it.
    "ml_stump", "graph_kcore", "llm_vocab_growth", "agg_ks_test",
    # events-only; user_id shifts keep per-user lifetimes/conversions
    # identical per replica
    "ml_survival_km", "agg_winsorized_mean", "agg_conversion_lag",
    # graph_assortativity shares graph_kcore's replication argument
    # (identical distinct edge set at 1x/10x); mm_phash/dq_spc/ml_ndcg
    # are per-payload/bucket/user-bound.
    "graph_assortativity", "dq_spc", "ml_ndcg", "mm_phash",
    # clustering_coeff shares the identical-distinct-edge-set
    # replication argument; lift/holt/freshness are bucket/user/type-bound.
    "graph_clustering_coeff", "ml_lift", "ts_holt", "dq_freshness",
    # modularity shares the identical-distinct-edge-set replication
    # argument; pr_at_k/ab_test are user-bound; simpson is
    # nation-x-type-bound.
    "ml_pr_at_k", "graph_modularity", "ml_ab_test", "agg_simpson",
    # changepoint/best_threshold are user/bucket-bound; spearman is
    # customer-grain (the replicator shifts c_custkey, so ranks genuinely
    # scale). graph_resource_alloc is deliberately absent for
    # graph_jaccard's reason (part/supplier keys are copied verbatim, so
    # the bipartite graph densifies — measured blowup would be an
    # artifact); its top-K contract bounds the output but not the
    # pair-join work (docs/SCALING.md).
    "ts_changepoint", "ml_spearman", "ml_best_threshold",
    # theil_sen/wilson are day/type-bound; uniqueness is one
    # count-shuffle per table; assoc_rules shares the order-key-shifted
    # replication property (baskets replicate with SHIFTED order keys,
    # so pair supports scale linearly and the rule space genuinely
    # grows).
    "ts_theil_sen", "ml_assoc_rules", "ml_wilson_ci", "dq_uniqueness",
    # iqr/ltv are type/cohort-bound off the shifted-user events;
    # feature_hash is doc-grain (salted replicas genuinely grow the
    # hashed vocabulary); calendar is generated (sf-independent by
    # construction — included as the fixed-cost floor probe).
    "dq_iqr_outliers", "dim_calendar", "ml_feature_hash", "ml_ltv_cohort",
    # mrr is user-bound; tvd/forecast are type-x-day-bound; reciprocity
    # collapses to <=25x25 nation pairs (the order-key-shifted fact join
    # genuinely scales).
    "ml_mrr", "dq_tvd_drift", "ml_forecast_eval", "graph_reciprocity",
    # cramers_v collapses to a 5x5 grid off the shifted-custkey order
    # join; kendall is day-bound; uplift/order audits are user-bound.
    "agg_cramers_v", "ml_kendall_tau", "ml_uplift_segments",
    "dq_out_of_order",
    # lorenz ranks 10x customers (shifted custkeys); embedding audit is
    # one pass over 10x vectors; actives and burstiness are
    # user/day-bound.
    "agg_lorenz", "dq_embedding_audit", "ts_active_users",
    "ts_burstiness",
    # temporal integrity and weighted median ride the shifted-orderkey
    # fact (work scales linearly); did/share_shift collapse to
    # user/nation grids.
    "dq_temporal_integrity", "agg_weighted_median", "ml_diff_in_diff",
    "agg_share_shift",
    # markov is one lag window over 10x rows; cross_corr/ece/completeness
    # are day/bin-bound collapses.
    "ml_markov_chain", "ts_cross_corr", "ml_ece",
    "dq_completeness_trend",
    # anova/ece-style collapses are weekday/bin-bound; checksum and
    # screen are single-pass scans over 10x rows; target_encode rides
    # the shifted-orderkey fact.
    "ts_anova_weekday", "dq_table_checksum", "ml_feature_screen",
    "ml_target_encode",
    # json_schema explodes 10x props rows; mix_rate/median_ci collapse to
    # nation/type grids; centroids are label-bound (embeddings labels are
    # shifted per replica, so blocks grow in count).
    "dq_json_schema", "agg_mix_rate_decomp", "agg_median_ci",
    "ml_label_centroids",
    # churn/saturation collapse per user/type; gap_fill and abc_class
    # ride the day/part grids off 10x facts.
    "ml_churn_labels", "ts_gap_fill", "agg_abc_class", "dq_saturation",
    # mm_* are per-payload mapInPandas over 10x salted documents (frame
    # fan-out constant per doc); join_asof partitions by shifted user_id
    # (per-user structure identical per replica); join_salted rides the
    # shifted-orderkey fact; cube/grouping_sets are Expand over 10x rows
    # (fixed expansion factor); llm_sim_search scans 10x vectors for a
    # fixed probe/top-k; sketch_merge is partial-HLL merge over 10x rows.
    # join_range is deliberately ABSENT: both band sides densify under
    # replication (values don't shift), so candidate pairs and true
    # output grow ~100x — the same input-distribution artifact
    # graph_jaccard documents; real growth adds new value mass, keeping
    # band occupancy roughly constant.
    "mm_decode_meta", "mm_frame_sample", "mm_resize",
    "mm_feature_extract", "join_asof", "join_salted", "agg_cube",
    "agg_grouping_sets", "llm_sim_search", "agg_sketch_merge",
    # The pipeline WRITE family: each key stages scratch inputs from the
    # given sf_dir, so at sf1.0 the streaming file-source drain, the
    # partitioned append sink, the COPY-manifest export, and the
    # MERGE-shaped gold upsert all genuinely move 10x rows through their
    # write paths (the cloud-posture surface's local proxy; I/O-bound by
    # design).
    "ingest_incremental", "sink_partitioned", "export_warehouse",
    "rollup_upsert",
    # The batch-replay streaming window family: staged from the measured
    # sf_dir, so sf1.0 drains 10x events through the state store (10x
    # users/windows: state grows in KEY COUNT at constant per-key size,
    # the shape watermark eviction keeps bounded on a live stream).
    "stream_tumbling", "stream_sliding", "stream_late_data",
    "stream_dedup", "stream_join",
    # Full-row distinct shuffle, HLL partial agg, approx-percentile
    # partial agg, union+distinct shuffle, the four Arrow/Python
    # execution paths (scalar pandas_udf, applyInPandas, cogrouped
    # applyInPandas, UDTF), window ranking, broadcast-probe kNN, gap
    # interpolation, and two-phase pivot. The remaining absent keys are
    # per-row map passes or plan-shape aliases of already-measured rows —
    # each gets a one-line classification in docs/SCALING.md instead.
    "dedup_exact", "agg_approx_distinct", "agg_percentile",
    "set_union_distinct", "udf_scalar", "udaf_grouped", "udf_cogrouped",
    "udtf_explode", "win_rank", "llm_knn_join", "ts_interpolate",
    "agg_pivot",
]
assert len(SF1_KEYS) == len(set(SF1_KEYS)), "duplicate SF1 key"

# --------------------------------------------------------------- docs32
# 32× stress for the QUADRATIC-RISK family: dedup and ANN are the
# operators where a bad plan goes O(n²). documents and embeddings are
# replicated with the same salting as sf1.0 (replica-salted tokens,
# shifted labels): dup rate and per-replica block structure are
# preserved, so work and true output must scale ~linearly — any
# super-linear ratio is the operator's fault, not an input-distribution
# artifact.

DOCS32_KEYS = [
    "llm_dedup_ngram",      # blocked exact-verify pairs
    "llm_dedup_minhash",    # banded LSH + stop-shingle cap
    "llm_paragraph_dedup",  # C4-style boilerplate removal
    "llm_sim_search_ivf",   # IVF ANN (train + one mapInPandas pass)
    "llm_sim_search_pq",    # product quantization + ADC re-rank
]

#: mode → (replicas, replica dir, replicated tables, keys)
MODES = {
    "sf1": (10, os.path.join(SCRATCH, "sf1.0"),
            RELATIONAL + ("events", "embeddings", "documents"), SF1_KEYS),
    "docs32": (32, os.path.join(SCRATCH, "docs32"),
               ("documents", "embeddings"), DOCS32_KEYS),
}


def shuffle_fact_join(spark, sf_dir: str):
    """lineitem⋈orders forced to a sort-merge (shuffle) join at both
    scales."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").hint("shuffle_merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .count()
    )


def max_shingle_df(spark, sf_dir: str) -> int:
    """Max trigram document frequency: the salted replication keeps it
    at its 1× level by construction (cross-replica shingle sets are
    disjoint), so the stop-shingle cap fires at 32× iff it fires at 1×
    — the printed numbers record that claim as a measurement."""
    from serverless_etl_aws_spark.operators.dedup import trigrams

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.array_distinct(trigrams("text"))).alias("sh"))
        .groupBy("sh")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "8"
    only = sys.argv[2:]
    if mode in MODES:
        replicas, dst, tables, keys = MODES[mode]
    else:
        replicas, dst, tables, keys = (
            int(mode), os.path.join(SCRATCH, "stress", f"x{mode}"),
            RELATIONAL, REGISTRY_KEYS,
        )
    unknown = sorted(set(only) - set(keys))
    if unknown:
        raise SystemExit(f"not in the {mode} key list (add them there first): "
                         f"{unknown}")
    registry = build_registry()
    queries = {k: registry[k] for k in keys if not only or k in only}
    if mode not in MODES:
        queries["join_fact_shuffle"] = Query(fn=shuffle_fact_join)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"stress-{mode}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    scaled = replicate(BASE_SF, dst, replicas, tables)
    base = {k: measure_key(spark, k, q, BASE_SF)["warm"]
            for k, q in queries.items()}
    big = {k: measure_key(spark, k, q, scaled)["warm"]
           for k, q in queries.items()}
    out = {"mode": mode, "replicas": replicas, "queries": {
        k: {"x1_sec": base[k], f"x{replicas}_sec": big[k],
            "ratio": round(big[k] / base[k], 1)
            if base[k] > 0 and big[k] >= 0 else None}
        for k in queries
    }}
    if mode == "docs32" and "llm_dedup_minhash" in queries:
        out["max_shingle_df_1x"] = max_shingle_df(spark, BASE_SF)
        out["max_shingle_df_32x"] = max_shingle_df(spark, scaled)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
