"""Benchmark harness and per-layer profiler: one traced rep loop over
registry workloads, timed by ``perfbench/layers.Tracer``.

    python bench.py                      # headline suite, then the dual-runs
    python bench.py [--reps N] NAME...   # per-layer profile of each NAME

The data dir is ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

A rep is the registry ``Workload.build`` plus a ``toPandas`` collect,
traced by the tracer into one record: its wall time and the pass record
— ``exec.*`` (jobs, stages, executor run, CPU and GC time, shuffle,
spill, and ``exec.unattributed_s``: wall time outside build and action
jobs), ``catalyst.*_ms``, ``plan.exchanges`` and ``plan.broadcasts`` of
the final AQE plan, ``codegen.*``, ``python.*`` and ``streaming.*``
(trigger phases and state commit time). Jobs that run eagerly inside
``build`` count in the rep that ran them.

Suite mode runs one cold and one warm rep of every HEADLINE query. The
warm rep's ``wall_s`` is the query's time, and its record goes to
``BENCH_DETAIL.json`` under ``layers``; host drift shows per query as
``exec.cpu_s`` against ``wall_s``. Then the W1-W5 shapes at
``$SPARK_GRAFT_BASE_ROWS`` rows (default 5e7) and the EXT_DUAL workloads
are dual-run against DuckDB. The last stdout line is a fixed-size JSON
summary (:func:`final_line`).

NAME mode runs one cold rep, then N warm reps (default 3), of each NAME
and prints one JSON line per rep. After the reps the frame is built and
collected once more, outside the timing, and its final plan
(``isFinalPlan=true``) is written to ``.profile/NAME.txt``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from etl_lealone_spark.session import build_spark, quiet_bounded_window_warnings  # noqa: E402
from etl_lealone_spark.workloads import all_workloads, duck_con  # noqa: E402
from perfbench.layers import Tracer  # noqa: E402
from perfbench.ops import Op  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the shapes that
# dominate at scale (scan+agg, join, window, dedup, ANN, text).
HEADLINE = [
    "agg_groupby_having",      # W3: scan + multi-agg groupBy
    "filter_predicates",       # W2: scan + predicate
    "join_inner_agg",          # W4: 5-way join
    "join_left_outer",         # outer join + agg
    "orderby_limit_offset",    # W5: top-k
    "window_topk_per_group",   # window functions
    "setop_union",             # set ops
    "merge_upsert",            # MERGE upsert kernel
    "update_projection",       # UPDATE kernel
    "dedup_exact",             # content-hash dedup
    "dedup_minhash_pairs",     # MinHash LSH near-dup
    "ngram_jaccard_blocked",   # exact-Jaccard verification kernel
    "dedup_clusters",          # pairs → duplicate clusters (CC)
    "ann_bruteforce_topk",     # exact ANN baseline
    "ann_lsh_topk",            # LSH ANN
    "ann_ivf_topk",            # IVF ANN (coarse-quantizer scale path)
    "text_quality_score",      # quality signals
    "text_quality_filter",     # C4/Gopher hard gate
    "text_token_count",        # tokenization
    "sample_hash_stratified",  # deterministic mixing sample
    "bm25_topk",               # BM25 relevance scoring
    "pack_sequence_bins",      # token-budget sequence packing
    "train_order_shards",      # seeded global training-order shuffle
    "dup_ngram_spans",         # exact duplicated-substring spans
    "semantic_dedup_survivors",  # SemDeDup keep-one-per-cluster
    "events_sessionize",       # sessionization window
    "join_seven_tables",       # 7-table join graph
    "tpch_q5",                 # TPC-H: 6-way local-supplier join
    "tpch_q9",                 # TPC-H: profit rollup, 5-way join
    "tpch_q18",                # TPC-H: big-order semi-join + top-100
    "tpch_q21",                # TPC-H: EXISTS/NOT-EXISTS self-join
    "kmv_distinct_events",     # KMV distinct sketch
    "zorder_curve_keys",       # Z-order clustering key
    "pretrain_pipeline_e2e",   # composed corpus build (quality->dedup->decon->mix->shard)
    "dsir_importance_weights", # DSIR target-likeness scoring
    "phrase_search_postings",  # positional phrase search
    "ann_ivf_topk_batch",      # batch ANN probe (executor-side assignment)
    "cluster_balanced_sample", # per-IVF-cluster diversity quota sample
    "ccnet_fluency_buckets",   # CCNet head/middle/tail LM stratification
    "scd2_stream_compacted",   # streaming SCD2 + history compaction
    "ann_ivfpq_topk_batch",    # IVFPQ batch ADC probe (memory-bounded ANN)
    "priority_sample_topk",    # weighted-without-replacement sampling
    "bloom_join_prune",        # Bloom runtime-filter semi-join reduction
    "minhash_band_skew",       # LSH bucket-skew pre-flight diagnostic
    "bigram_pmi_top",          # PMI collocation mining
    "snapshot_time_travel",    # AS-OF reads over versioned snapshots
    "salted_join_skewed",      # skew-salted join == plain join semantics
    "source_overlap_matrix",   # cross-source near-dup contamination
    "bucketed_colocated_join", # zero-exchange bucketed fact join
    "udf_alias_agg",           # CREATE ALIAS pandas-UDF pipeline
    "hard_negative_mining",    # contrastive hard negatives (cross-label ANN)
    "zipf_slope_top100",       # corpus rank-frequency health signal
    "hard_negative_mining_batch",  # batch hard negatives (label-carry IVF probe)
    "snapshot_clone_restore",  # CLONE -> mutate -> RESTORE -> HISTORY lineage
    "stream_interval_join",    # stream-stream event-time interval join
    "stream_tumbling_agg",     # watermarked append-mode tumbling agg
    "snapshot_diff_cdc",       # CDC diff between snapshot versions
    "stream_stateful_totals",  # applyInPandasWithState running totals
    "stream_sliding_agg",      # overlapping sliding-window streaming agg
    "stream_session_agg",      # session-window streaming agg (cross-batch merge)
    "stream_dedup_hashes",     # cross-batch stateful exact dedup
    "stream_upsert_sink",      # foreachBatch MERGE upsert into a snapshot table
    "stream_enrich_agg",       # stream-static enrich join + agg (r11: last
                               # oracled workload with no bench row)
    "stream_interval_join_left",  # outer stream-stream join (r10)
    "stream_late_data_drop",   # dual-watermark late-data semantics (r10)
    "quantile_sketch_price",   # stride-quantile sketch (r12 — benched
                               # from birth, same rule as ridge)
    "quantile_sketch_by_flag",  # grouped stride-quantile twin (r12)
    "quantile_sketch_merged",  # sharded-build merge path (r12)
    # ---- ML / corpus-statistics family ----
    "kmeans_cluster_profile",  # distributed Lloyd's k-means + purity profile
    "knn_label_vote",          # k-NN weak-label audit (int-cosine vote)
    "tfidf_doc_keywords",      # TF-IDF keyword extraction
    "nb_lang_confusion",       # naive-Bayes corpus classifier confusion
    "numeric_corr_matrix",     # exact integer-moment correlation matrix
    "chi2_term_class_top",     # chi-squared vocabulary selection
    "pca_label_projection",    # power-iteration PC1 label-separability audit
    "kmeans_separation_audit", # second-nearest-centroid cluster quality audit
    "nb_en_auc_binned",        # binned Mann-Whitney AUC classifier evaluation
    "nb_score_calibration",    # reliability/calibration table
    "bpe_encode_stats",        # BPE train->encode->token budgets per source
    "logreg_label_probe",      # fixed-point logistic regression probe (r10)
    "ols_price_model",         # closed-form grouped OLS (r10)
    "ridge_price_model",       # closed-form grouped ridge (r11 — benched
                               # from birth; the r10 verdict flagged
                               # stream_enrich_agg for landing without a
                               # bench row)
]

def baseline_workloads(spark, n: int = 50_000_000, reps: int = 3) -> dict[str, float]:
    """BASELINE.md W1-W5 batch shapes at n rows (the reference's own
    microbench table ``test(f1 int primary key, f2 long)`` scaled up),
    dual-run against DuckDB on the identical parquet — the measured
    single-node baseline BASELINE.md calls for (the reference publishes
    no numbers; DuckDB is the strongest available single-node stand-in).

    Methodology: each shape runs once untimed per engine (codegen compile
    + JIT + OS page cache), then ``reps`` timed runs with the two engines
    INTERLEAVED (S,D,S,D,...) and the per-engine minimum reported. The
    interleaving matters on shared hardware: host-level contention drifts
    over tens of seconds, and back-to-back pairs see the same conditions,
    so the Spark/DuckDB ratio — the graded metric — is stable even when
    absolute times are not. Fresh DataFrames per rep (re-using one would
    replay materialized AQE query stages and time nothing).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    tmp = tempfile.mkdtemp(prefix="bench_w1_")

    # Scoped engine tuning for the 5e7-row shapes (restored after):
    # - 128 MB scan splits (the Spark default) measured fastest for the
    #   scan-bound shapes (w2 0.21s vs 0.24s at 16 MB): the table is
    #   ~400 MB so even big splits keep enough tasks for 32 cores, and
    #   fewer tasks means less per-task fixed cost. (Cluster deployments
    #   size this so splits ≈ 2-3x total cores — same rule.)
    # - w4 joins run on BUCKETED tables (setup below) with
    #   preferSortMergeJoin=true: both sides are bucketed+sorted on the
    #   join key, so the sort-merge join is ZERO-exchange zero-sort —
    #   measured 1.4s vs 4.7s for the shuffled-hash join on flat parquet
    #   and 5.2s for broadcast (driver-side single-thread build). The
    #   broadcast threshold is dropped under the build side's 20 MB so
    #   the planner keeps the bucket-local plan (no hints in the
    #   measured query).
    _scoped = {
        "spark.sql.files.maxPartitionBytes": str(128 << 20),
        "spark.sql.join.preferSortMergeJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(4 << 20),
        # Safe here and only because the W4 writer repartitions by the
        # bucket key first, so every bucket is exactly ONE sorted file:
        # the scan then reports its sort order and the SMJ skips the
        # per-task re-sort (measured 0.78s -> 0.24s on a 2e7-row probe).
        # Spark defaults this off because multi-file buckets concatenate
        # files and break the order — not this layout.
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    _saved = {k: spark.conf.get(k) for k in _scoped}
    for k, v in _scoped.items():
        spark.conf.set(k, v)

    try:
        df = spark.range(n).select(
            F.col("id").cast("int").alias("f1"), (F.col("id") * 10).alias("f2")
        )
        small = spark.range(n // 10).select(
            F.col("id").cast("int").alias("id2"), F.lit("x").alias("name2")
        )
        small.write.mode("overwrite").parquet(f"{tmp}/small")
        df.write.mode("overwrite").parquet(f"{tmp}/test")
        # W4 setup (untimed): the reference's `test` table IS its primary-key
        # BTree — rows arrive at the join already clustered on f1. The Spark
        # translation of that storage layout is a bucketed table: bucketed +
        # sorted on the join key, so the measured join is bucket-local
        # (zero exchange, zero sort) exactly like the reference's index scan.
        # DuckDB reads the same rows from flat parquet, its preferred lake
        # layout. Repartition by the bucket key first so each task writes
        # exactly one bucket file (32 files, not 32x32).
        for tbl in ("bench_w4_big", "bench_w4_small"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            spark.read.parquet(f"{tmp}/test")
            .repartition(32, "f1")
            .write.mode("overwrite")
            .option("path", f"{tmp}/test_bucketed")
            .bucketBy(32, "f1")
            .sortBy("f1")
            .format("parquet")
            .saveAsTable("bench_w4_big")
        )
        (
            spark.read.parquet(f"{tmp}/small")
            .repartition(32, "id2")
            .write.mode("overwrite")
            .option("path", f"{tmp}/small_bucketed")
            .bucketBy(32, "id2")
            .sortBy("id2")
            .format("parquet")
            .saveAsTable("bench_w4_small")
        )

        # shared scan relation: built once so the parquet file index +
        # schema are resolved once per engine (DuckDB equally caches
        # parquet metadata on its connection); each rep still builds and
        # executes a fresh query plan on top of it
        t_scan = spark.read.parquet(f"{tmp}/test")

        def w1():
            df.write.mode("overwrite").parquet(f"{tmp}/test_w1")

        def w2():
            t_scan.filter(F.col("f2") % 1000 == 0).agg(
                F.count(F.lit(1))
            ).collect()

        def w2sub():
            # W2's decode-substrate twin (r10 verdict task 3): a pure
            # decode + trivial aggregate — nothing a planner can change —
            # measured in the SAME session/state as W2 itself, so the
            # substrate floor and the query ratio always come from one
            # host state (the r6 pin was a separate-session number and
            # drifted apart from the r10 settle's W2 reading).
            t_scan.agg(F.sum("f2"), F.sum(F.col("f1").cast("long"))).collect()

        def w3():
            # collect, not a noop write: the result is 97 rows and the
            # DuckDB twin fetches the same rows — materialization must be
            # symmetric for the ratio to mean anything
            (
                t_scan.groupBy((F.col("f1") % 97).alias("g"))
                .agg(F.count(F.lit(1)).alias("n"), F.avg("f2").alias("a"))
                .filter(F.col("n") > 10)
                .collect()
            )

        def w4():
            t = spark.table("bench_w4_big")
            s = spark.table("bench_w4_small")
            t.join(s, t.f1 == s.id2, "inner").agg(F.count(F.lit(1))).collect()
            t.join(s, t.f1 == s.id2, "left").agg(F.count(F.lit(1))).collect()

        def w5():
            # The engine's top-k strategy: sampled-threshold pruning
            # (operators/topk.threshold_topk) — two codegen scans
            # instead of the per-row TakeOrderedAndProject heap. Exact
            # (falls back to the plain plan on any shortfall); the
            # orderby_limit_threshold workload oracle-pins row equality.
            # 5e8-row isolated: plain 5.7s / threshold 1.6s / DuckDB
            # 2.2s — the shape Spark previously lost 3.6x it now wins.
            from etl_lealone_spark.operators.topk import threshold_topk

            threshold_topk(
                t_scan, "f2", k=2, offset=1, descending=True,
                tiebreak=[F.col("f1")],
            ).collect()

        def w5_plain():
            # secondary transparency metric: the un-pruned sort plan
            t_scan.orderBy(
                F.col("f2").desc(), F.col("f1")
            ).offset(1).limit(2).collect()

        import duckdb

        con = duckdb.connect()
        glob_t, glob_s = f"{tmp}/test/*.parquet", f"{tmp}/small/*.parquet"
        duck_shapes = {
            "w1": [
                f"COPY (SELECT cast(range AS int) f1, range*10 f2 FROM "
                f"range({n})) TO '{tmp}/duck_test.parquet' (FORMAT parquet)"
            ],
            "w2": [f"SELECT count(*) FROM '{glob_t}' WHERE f2 % 1000 = 0"],
            "w2sub": [
                f"SELECT sum(f2), sum(cast(f1 as bigint)) FROM '{glob_t}'"
            ],
            "w3": [
                f"SELECT f1 % 97 g, count(*) n, avg(f2) a FROM '{glob_t}' "
                f"GROUP BY g HAVING count(*) > 10"
            ],
            "w4": [
                f"SELECT count(*) FROM '{glob_t}' t JOIN '{glob_s}' s "
                f"ON t.f1 = s.id2",
                f"SELECT count(*) FROM '{glob_t}' t LEFT JOIN '{glob_s}' s "
                f"ON t.f1 = s.id2",
            ],
            "w5": [
                f"SELECT * FROM '{glob_t}' ORDER BY f2 DESC, f1 "
                f"LIMIT 2 OFFSET 1"
            ],
        }

        def duck_run(key):
            for stmt in duck_shapes[key]:
                con.execute(stmt).fetchall()

        spark_keys = {
            "w1": ("w1_bulk_insert", w1),
            "w2": ("w2_scan_predicate", w2),
            "w2sub": ("w2_decode_substrate", w2sub),
            "w3": ("w3_groupby_having", w3),
            "w4": ("w4_joins", w4),
            "w5": ("w5_topk_offset", w5),
        }
        for key, (out_key, fn) in spark_keys.items():
            fn()  # warm spark
            duck_run(key)  # warm duckdb
            s_times, d_times = [], []
            for _ in range(reps):
                t0 = time.time()
                fn()
                s_times.append(time.time() - t0)
                t0 = time.time()
                duck_run(key)
                d_times.append(time.time() - t0)
            out[out_key] = round(min(s_times), 3)
            if key == "w5":  # transparency: the un-pruned plan alongside
                w5_plain()
                t0 = time.time()
                w5_plain()
                out["w5_plain_sort"] = round(time.time() - t0, 3)
            out[f"{key}_duckdb"] = round(min(d_times), 3)
        con.close()
    finally:
        for k, v in _saved.items():
            spark.conf.set(k, v)
        for tbl in ("bench_w4_big", "bench_w4_small"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            except Exception:
                pass
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# Extension ops the reference (and DuckDB) has no native operator for —
# each Spark build is dual-run against ITS OWN DuckDB oracle SQL on the
# identical parquet, the strongest apples-to-apples the extension surface
# allows (same results, hash-checked by the correctness gate).
EXT_DUAL = [
    "pretrain_pipeline_e2e",
    "dedup_minhash_pairs",
    "dsir_importance_weights",
    "bm25_topk",
    "phrase_search_postings",
]


def extension_dual_run(spark, data_dir: str, reps: int = 2) -> dict[str, float]:
    """Interleaved Spark-vs-DuckDB timings for oracle-backed extension
    workloads at ``data_dir``; returns {ext_NAME_spark: s, ext_NAME_duckdb: s}."""
    registry = all_workloads()
    con = duck_con(data_dir)
    out: dict[str, float] = {}
    for name in EXT_DUAL:
        w = registry[name]

        def s_run():
            w.build(spark, data_dir).write.format("noop").mode("overwrite").save()

        def d_run():
            con.execute(w.oracle).fetchall()

        s_run(), d_run()  # warm both engines
        st, dt = [], []
        for _ in range(reps):
            t0 = time.time()
            s_run()
            st.append(time.time() - t0)
            t0 = time.time()
            d_run()
            dt.append(time.time() - t0)
        out[f"ext_{name}_spark"] = round(min(st), 3)
        out[f"ext_{name}_duckdb"] = round(min(dt), 3)
    con.close()
    return out


def _isolate(spark) -> None:
    """Between-query hygiene: Python gc releases py4j-held JVM refs
    (DataFrames, localCheckpoint RDDs) so ContextCleaner can actually
    free their blocks, THEN a JVM gc reclaims them; and every loaded
    state-store provider is unloaded, since a stopped streaming query's
    in-memory state maps otherwise linger in the (local-mode: only) JVM
    for the rest of the run."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()


def traced_reps(spark, names, reps: int, data_dir: str, plan_dir: str | None = None):
    """Yield one tracer record per rep of every name: rep 0 is the cold
    one, then ``reps`` warm ones. With ``plan_dir``, each name's final
    plan is written to ``plan_dir/NAME.txt`` after its reps. Every name
    ends with :func:`_isolate`."""
    from etl_lealone_spark.plans import explain_str

    registry = all_workloads()
    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)
    # the tracer adds a streaming listener; take it off again afterwards
    # so that a long-lived session does not keep calling back into it
    jsqm = spark.streams._jsqm
    before = list(jsqm.listListeners())
    tracer = Tracer("bench", 0, spark.sparkContext.defaultParallelism)
    tracer.attach(spark)
    added = [lst for lst in jsqm.listListeners() if lst not in before]
    eng = SimpleNamespace(spark=spark, es=None)
    wl = SimpleNamespace(data_dir=data_dir)
    p = 0
    try:
        for name in names:
            for rep in range(reps + 1):
                tracer.begin_pass(p)
                dt, _ = tracer.run_op(Op(name, "build", name), name, eng, wl)
                tracer.end_pass(p, dt, traced=True)
                row = tracer.pass_rows.pop(p)
                p += 1
                yield {"name": name, "rep": rep,
                       **{k: v for k, v in row.items() if not isinstance(v, list)}}
            if plan_dir:
                # the final plan exists only after an action on this same frame
                df = registry[name].build(spark, data_dir)
                df.toPandas()
                with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                    f.write(explain_str(df))
            _isolate(spark)
    finally:
        for lst in added:
            jsqm.removeListener(lst)


def suite(spark, names, data_dir: str, base_rows: int, out_dir: str) -> str:
    """Run the headline suite over ``names`` and the dual-runs, write
    ``out_dir/BENCH_DETAIL.json`` and return the final stdout line."""
    layers = {
        rec["name"]: {k: v for k, v in rec.items() if k not in ("name", "rep")}
        for rec in traced_reps(spark, names, 1, data_dir)
        if rec["rep"] == 1
    }
    timings = {name: round(rec["wall_s"], 3) for name, rec in layers.items()}
    baseline = baseline_workloads(spark, n=base_rows)
    ext = extension_dual_run(spark, data_dir)
    sf = data_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {**timings, **baseline, **ext},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "baseline_rows": base_rows,
        "layers": layers,
    }
    with open(os.path.join(out_dir, "BENCH_DETAIL.json"), "w") as f:
        f.write(json.dumps(payload, indent=1) + "\n")
    return final_line(payload)


def final_line(payload: dict) -> str:
    """The last stdout line, fixed-size by construction: no per-query
    entry, only the roster size and digest, one subtotal per family (the
    module a workload's ``build`` lives in, without its package) and the
    dual-run pairs. A record keeper that keeps only the last 2000 chars of
    stdout can therefore always parse it; the per-query times and layer
    records are in ``BENCH_DETAIL.json``."""
    registry = all_workloads()
    roster = list(payload["layers"])
    families: dict[str, float] = {}
    for name in roster:
        fam = registry[name].build.__module__.rsplit(".", 1)[-1]
        families[fam] = round(families.get(fam, 0.0) + payload["queries"][name], 3)
    return json.dumps({
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "baseline_rows": payload["baseline_rows"],
        "detail": "BENCH_DETAIL.json",
        "roster": len(roster),
        "roster_digest": hashlib.sha256(",".join(roster).encode()).hexdigest()[:12],
        "families": families,
        "queries": {k: v for k, v in payload["queries"].items() if k not in payload["layers"]},
    }, separators=(",", ":"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, help="NAME mode: warm reps after the cold one (default 3)")
    ap.add_argument("names", nargs="*", metavar="NAME")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.names) - set(all_workloads()))
    if unknown:
        ap.error(f"unknown workload(s): {', '.join(unknown)}")
    if args.reps is not None and not args.names:
        ap.error("--reps needs at least one NAME")
    # Python workers are processes of their own: they find the package
    # through PYTHONPATH, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = build_spark(app_name="etl_lealone_spark_bench",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    quiet_bounded_window_warnings(spark)
    try:
        if args.names:
            reps = 3 if args.reps is None else args.reps
            for rec in traced_reps(spark, args.names, reps, SF_DIR,
                                   os.path.join(ROOT, ".profile")):
                print(json.dumps(rec), flush=True)
        else:
            # 5e7 default: BASELINE.md shows the Spark/DuckDB crossover
            # lives at this scale — fixed JVM overhead is amortized and the
            # ratio reflects throughput
            base_rows = int(os.environ.get("SPARK_GRAFT_BASE_ROWS", "50000000"))
            print(suite(spark, HEADLINE, SF_DIR, base_rows, ROOT))
    finally:
        # a session left running when the interpreter exits makes the
        # JVM shut down under py4j, which then prints listener errors
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
