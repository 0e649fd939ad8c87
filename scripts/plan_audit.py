"""Print the physical plans of the headline queries, with the
scale-relevant properties called out, as markdown on stdout. Plan-shape
evidence, regenerated on demand rather than committed:

    python scripts/plan_audit.py > plans.md
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from etl_lealone_spark.plans import (  # noqa: E402
    count_exchanges,
    explain_str,
)
from etl_lealone_spark.session import build_spark, quiet_bounded_window_warnings  # noqa: E402
from etl_lealone_spark.workloads import all_workloads  # noqa: E402

AUDIT = [
    "agg_groupby_having",
    "join_inner_agg",
    "join_seven_tables",
    "orderby_limit_offset",
    "window_topk_per_group",
    "update_projection",
    "merge_upsert",
    "dedup_exact",
    "dedup_minhash_pairs",
    "orderby_limit_threshold",
    "dedup_clusters_lp",
    "streaming_corpus_build",
    "ann_ivf_stream_build",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivf_topk_batch",
    "cube_agg",
    "window_range_frame",
    "join_theta_bands",
    "text_quality_filter",
    "sample_hash_stratified",
    "bm25_topk",
    "vocab_top_terms",
    "pack_sequence_bins",
    "dup_ngram_spans",
    "winnow_fingerprints",
    "semantic_dedup_survivors",
    "train_order_shards",
    "tpch_q5",
    "tpch_q17",
    "tpch_q21",
    "kmv_distinct_events",
    "zorder_curve_keys",
    "range_join_events",
    "hybrid_rrf_topk",
    "events_funnel_steps",
    "graph_triangle_count",
    "text_model_quality",
    "pretrain_pipeline_e2e",
    "dsir_importance_weights",
    "ann_lsh_topk_mp2",
    "collation_orderby",
    "scd2_dim_update",
    "scd2_stream_compacted",
    "cluster_balanced_sample",
    "ccnet_fluency_buckets",
    "unigram_seed_pieces",
    "cms_term_frequency",
    "corpus_kl_drift",
    "ann_lsh_recall",
    "split_train_val_test",
    "phrase_search_postings",
    "text_unigram_logprob",
    "graph_pagerank",
    "events_resample_hourly",
    "interval_overlap_orders",
    "ann_ivfpq_topk_batch",
    "pq_adc_topk",
    "priority_sample_topk",
    "ngram_containment_blocked",
    "bloom_join_prune",
    "minhash_band_skew",
    "bigram_pmi_top",
    "snapshot_time_travel",
    "salted_join_skewed",
    "source_overlap_matrix",
    "bucketed_colocated_join",
    "udf_alias_agg",
    "hard_negative_mining",
    "zipf_slope_top100",
    "kmeans_cluster_profile",
    "kmeans_separation_audit",
    "knn_label_vote",
    "tfidf_doc_keywords",
    "nb_lang_confusion",
    "chi2_term_class_top",
    "numeric_corr_matrix",
    "pca_label_projection",
    "nb_en_auc_binned",
    "nb_score_calibration",
    "logreg_label_probe",
    "ols_price_model",
    "ridge_price_model",
]

# Workloads whose RETURNED frame is a driver-materialized result by
# design — the interesting plans execute eagerly during build, so the
# trivial audited plan needs this context to not mislead.
NOTES = {
    "orderby_limit_threshold": (
        "Result is k collected rows by design: the threshold strategy "
        "runs TWO codegen passes eagerly (one-column sampled bound, "
        "then pushed-filter + TakeOrdered — see operators/topk.py); "
        "the audited plan is just the materialized k-row result."
    ),
    "dedup_clusters_lp": (
        "Label propagation localCheckpoints each round (flat lineage "
        "is the point), so the audited plan reads the final checkpoint; "
        "the per-round plans are one shuffle on the node id + pointer "
        "jump (operators/dedup.connected_components)."
    ),
    "streaming_corpus_build": (
        "Micro-batch path: per-batch plans (quality gate, keep-min "
        "dedup, state anti-joins, decontamination) execute eagerly "
        "inside process_batch; the audited plan is the materialized "
        "accepted-corpus result."
    ),
    "ann_ivf_stream_build": (
        "Streaming IVF maintenance: train/append/probe plans execute "
        "eagerly (build, per-batch centroid-assignment appends, "
        "partition-pruned probe); the audited plan is the materialized "
        "top-k result."
    ),
    "scd2_stream_compacted": (
        "Micro-batch SCD2 + compaction: the per-batch plans (net-effect "
        "agg, precondition audit, bucket-pruned rewrite) and the "
        "compaction rewrite execute eagerly inside process_batch/"
        "compact on first build; the state persists under a content+"
        "spec-keyed root (r7 verdict task 5), so the audited plan is a "
        "LIVE partition-pruned parquet scan of the compacted history — "
        "no driver-collected relation."
    ),
    "kmeans_cluster_profile": (
        "Lloyd iterations execute eagerly during build (seed collect + "
        "one k*dim-group update collect per iteration); the audited "
        "plan is the FINAL pass — a map-only centroid-literal argmin "
        "projection feeding one two-level aggregation. The corpus "
        "never shuffles; only k*dim partial sums do."
    ),
    "kmeans_separation_audit": (
        "Shares the eager Lloyd kernel; the audited plan is the final "
        "map-only projection taking d1/d2 from one array_sort of the "
        "k-struct distance array, then a k-group aggregation."
    ),
    "knn_label_vote": (
        "The bounded query set (vectors + true labels) is collected at "
        "build time; the audited plan is the mapInPandas Arrow scorer "
        "over the corpus (labels ride carry_cols — no corpus join) "
        "plus the per-query WindowGroupLimit rank and the bounded "
        "vote aggregation."
    ),
    "pca_label_projection": (
        "Power iterations execute eagerly during build (one map-only "
        "matvec projection + one dim-group decimal-sum collect per "
        "iteration); the audited plan is the final projection against "
        "the converged direction literals feeding a per-label agg."
    ),
    "nb_en_auc_binned": (
        "The NB train+score pipeline and the score histogram execute "
        "eagerly (persist + localCheckpoint — the pipeline runs ONCE); "
        "the audited plan is the bounded <=4096-row histogram "
        "self-join computing the pair mass, with the re-stated LIMIT "
        "bound above the checkpointed scan."
    ),
    "nb_score_calibration": (
        "Shares the eager NB scoring + histogram kernel; the audited "
        "plan is a projection over the checkpointed <=10-row table."
    ),
    "logreg_label_probe": (
        "Gradient steps execute eagerly during build (one map-only "
        "scoring pass + one (dims+1)-group decimal-sum collect per "
        "step); the audited plan is the final scoring projection "
        "against the learned weight literals (UNROLLED dims+1-term "
        "dot, whole-stage codegen) feeding a per-label aggregation."
    ),
    "ols_price_model": (
        "Closed form — no eager stage at all: the audited plan is the "
        "complete operator, one grouped ten-moment decimal aggregation "
        "with map-side partials and the pinned Cramer projection on "
        "the aggregate rows."
    ),
    "ridge_price_model": (
        "grouped_ols's plan with two extra pinned double ops on the "
        "aggregate rows (the w*n ridge diagonal) and the quadratic-"
        "form R^2 — same one-scan, |groups|x10-decimal shuffle shape."
    ),
}


def main() -> None:
    spark = build_spark(cores=8, shuffle_partitions=8)
    quiet_bounded_window_warnings(spark)
    wl = all_workloads()
    out = [
        "# PLANS — physical plans of the headline queries (sf0.001 shapes)",
        "",
        "Generated by scripts/plan_audit.py. The plan SHAPES are what",
        "matter — shuffle counts, broadcast placement, pushdown — and are",
        "pinned by tests/test_plans.py; sizes/statistics vary per SF.",
        "",
    ]
    for name in AUDIT:
        df = wl[name].build(spark, "/root/testdata/sf0.001")
        simple = explain_str(df, "simple")
        out.append(f"## {name}")
        out.append("")
        if name in NOTES:
            out.append(f"> {NOTES[name]}")
            out.append("")
        out.append(
            f"shuffle exchanges: {count_exchanges(df)} · "
            f"broadcast exchanges: {simple.count('BroadcastExchange')} · "
            f"codegen: {'WholeStageCodegen' in simple}"
        )
        out.append("")
        out.append("```")
        out.append(simple.strip()[:4000])
        out.append("```")
        out.append("")
    print("\n".join(out))


if __name__ == "__main__":
    main()
