"""Plan-shape assertions: the 100TB-scale properties each operator must
keep. A failure here means a regression that would only show up as a
cluster bill — broadcast joins degrading to shuffles, filters not
reaching the scan, lost map-side combine, top-k becoming a full sort."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_lealone_spark.plans import (
    count_exchanges,
    explain_str,
    has_broadcast_hash_join,
    has_take_ordered,
    pushed_filters,
    read_schema_columns,
)
from etl_lealone_spark.workloads.core_sql import (
    agg_groupby_having,
    join_inner_agg,
    orderby_limit_offset,
    semi_join_in_subquery,
)


def test_dim_joins_broadcast(spark, sf_dir):
    """nation/region joins must be broadcast — shuffling a 5-row dim
    against a 100TB fact table is the classic scale failure."""
    df = join_inner_agg(spark, sf_dir)
    assert has_broadcast_hash_join(df)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = agg_groupby_having(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed), pushed


def test_column_pruning(spark, sf_dir, tables):
    """A 2-column projection must read 2 columns, not all 11
    (the reference's row store cannot prune — SURVEY §4.1; our scan must)."""
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    scans = read_schema_columns(df)
    assert scans and sorted(scans[0]) == ["l_orderkey", "l_quantity"]


def test_topk_is_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition heap + merge), never a global sort of the full input
    (SortOrder.java:185-205 top-k parity)."""
    df = orderby_limit_offset(spark, sf_dir)
    assert has_take_ordered(df) or "GlobalLimit" in explain_str(df)


def test_groupby_has_partial_agg(spark, sf_dir):
    """Aggregation must combine map-side: the shuffle carries one row per
    (partition × group), not one per input row — the same property the
    reference implements by hand for sharding (Select.queryGroupMerge)."""
    df = agg_groupby_having(spark, sf_dir)
    s = explain_str(df)
    assert "partial_" in s, s[:500]


def test_semi_join_single_broadcast_no_shuffle(spark, sf_dir):
    """IN(subquery) on a small filtered dim: broadcast semi-join, zero
    shuffle exchanges on the fact side before aggregation's single
    exchange."""
    df = semi_join_in_subquery(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    # one exchange for the final single-row aggregate is acceptable;
    # anything more means the fact table was shuffled for the join
    assert count_exchanges(df) <= 1, explain_str(df, "simple")


def test_exact_dedup_single_exchange(spark, sf_dir, tables):
    """Exact dedup = one hash-agg shuffle on the digest; no extra
    exchanges, no join."""
    from etl_lealone_spark.operators.dedup import exact_dedup

    df = exact_dedup(tables["documents"])
    assert count_exchanges(df) == 1, explain_str(df, "simple")


def test_update_projection_no_shuffle(spark, tables):
    """UPDATE-as-projection must stay map-only: scan → project → write,
    zero exchanges at any scale."""
    from etl_lealone_spark.operators.dml import apply_update

    out = apply_update(
        tables["orders"],
        F.col("o_orderstatus") == "P",
        {"o_totalprice": F.col("o_totalprice") * 1.1},
    )
    assert count_exchanges(out) == 0


def test_window_partitions_by_group(spark, sf_dir):
    """Top-k per group: exactly one hash-partition exchange on the group
    key; a global-order window here would serialize the whole table."""
    from etl_lealone_spark.workloads.core_sql import window_topk_per_group

    df = window_topk_per_group(spark, sf_dir)
    s = explain_str(df, "simple")
    assert "hashpartitioning(o_custkey" in s
    assert "SinglePartition" not in s


def test_ivf_broadcasts_centroids_and_probes(spark, sf_dir):
    """IVF ANN: the centroid table and the probe list must broadcast —
    shuffling the corpus against sqrt(n) centroids would be the
    scale failure; only the per-vector partial agg may shuffle."""
    from etl_lealone_spark.operators.similarity import ivf_topk
    from etl_lealone_spark.tables import load_tables

    e = load_tables(spark, sf_dir)["embeddings"]
    df = ivf_topk(e, k=5, n_probe=2, n_queries=2)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # assignment must keep map-side partial aggregation
    assert "partial_max" in plan or "HashAggregate" in plan


def test_bucketed_join_no_exchange(spark, tables):
    """Two tables bucketed on the same key must join with ZERO exchanges
    — the co-located layout is the point of bucketing; a regression here
    silently reintroduces a two-sided 100TB shuffle."""
    from etl_lealone_spark.operators.joins import colocated_join, write_bucketed

    orders = tables["orders"].select("o_orderkey", "o_totalprice")
    lineitem = tables["lineitem"].select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        num_buckets=8,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        assert count_exchanges(joined) == 0, explain_str(joined)
        assert joined.count() > 0
        # agg on the bucket key stays exchange-free too (bucketed grouping)
        agg = (
            spark.table("b_lineitem")
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert count_exchanges(agg) == 0, explain_str(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_gram_ops_windows_partition_by_doc(spark, sf_dir, tables):
    """The positional-gram family (span dedup, winnowing) must window
    per document — a SinglePartition window would serialize the corpus."""
    from etl_lealone_spark.operators.pipeline import (
        duplicated_ngram_spans,
        winnow_fingerprints,
    )

    for df in (
        duplicated_ngram_spans(tables["documents"]),
        winnow_fingerprints(tables["documents"]),
    ):
        s = explain_str(df)
        assert "SinglePartition" not in s, s


def test_train_order_shards_partitions_by_shard(spark, tables):
    """The training-order permutation must be realized per shard: the
    row_number window partitions on shard_id, never SinglePartition."""
    from etl_lealone_spark.operators.pipeline import train_order_shards

    df = train_order_shards(tables["documents"])
    s = explain_str(df)
    assert "SinglePartition" not in s, s
    assert "shard_id" in s


def test_semantic_dedup_loser_antijoin_broadcasts(spark, tables):
    """The survivor anti-join must broadcast the (tiny) loser set so the
    corpus is filtered in place during its scan."""
    from etl_lealone_spark.operators.similarity import semantic_dedup_survivors

    df = semantic_dedup_survivors(tables["embeddings"], threshold=0.3)
    assert has_broadcast_hash_join(df)


def test_range_join_no_nested_loop(spark, sf_dir):
    """The bucketized range join must plan as an equi-join (hash/SMJ) on
    the manufactured bucket key — never BroadcastNestedLoopJoin or
    CartesianProduct, the O(n*m) plans a raw BETWEEN predicate yields."""
    from etl_lealone_spark.workloads.range_q import range_join_events

    s = explain_str(range_join_events(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_range_join_matches_naive(spark, tables):
    """Bucketized candidates == naive theta join, on a small slice."""
    from etl_lealone_spark.operators.joins import range_join_bucketed

    intervals = (
        tables["orders"].filter(F.col("o_totalprice") > 450000)
        .select(
            "o_orderkey", "o_orderdate",
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("end_ts"),
        )
    )
    points = (
        tables["lineitem"].filter(F.col("l_quantity") > 45)
        .select("l_shipdate", "l_quantity")
    )
    fast = range_join_bucketed(
        points, intervals, "l_shipdate", "o_orderdate", "end_ts", bucket_days=7
    ).count()
    naive = points.join(
        intervals,
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.col("end_ts")),
    ).count()
    assert fast == naive and fast > 0


def test_funnel_steps_broadcast(spark, sf_dir):
    """Funnel per-step joins carry per-user firsts (tiny vs events) —
    must broadcast, never shuffle the event stream per step."""
    from etl_lealone_spark.workloads.analytics_q import events_funnel_steps

    assert has_broadcast_hash_join(events_funnel_steps(spark, sf_dir))


def test_transition_matrix_window_keyed(spark, sf_dir):
    from etl_lealone_spark.workloads.analytics_q import events_transition_matrix

    s = explain_str(events_transition_matrix(spark, sf_dir))
    assert "SinglePartition" not in s


def test_pretrain_pipeline_plan_shape(spark, sf_dir):
    """The composed corpus build must keep each stage's scale property:
    no cartesian product anywhere, the decontamination n-gram join keyed
    (not nested-loop), and the quality gate's predicate evaluated before
    any join (the corpus is filtered at scan time, never joined raw)."""
    from etl_lealone_spark.workloads.pretrain_q import pretrain_pipeline_e2e

    df = pretrain_pipeline_e2e(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_lr_table_is_broadcast(spark, sf_dir):
    """The 1024-row likelihood-ratio table must come back to the token
    stream as a broadcast join — shuffling the exploded token stream
    against a 1024-row dim is the wrong side at any corpus size."""
    from etl_lealone_spark.workloads.pretrain_q import dsir_importance_weights

    df = dsir_importance_weights(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in explain_str(df)


def test_hash_split_is_map_only(spark, tables):
    """The split assignment itself must not shuffle: zero exchanges on
    top of the scan (the groupBy in the workload is separate)."""
    from etl_lealone_spark.operators.pipeline import hash_split

    df = hash_split(tables["documents"].select("doc_id"))
    assert count_exchanges(df) == 0


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime bloom-filter join pruning must stay available: when a
    selective dimension filters a big fact join (and the fact side is too
    large to broadcast), Spark injects a bloom_filter_agg on the dim side
    and a might_contain predicate INTO the fact scan — rows that cannot
    match are dropped before the shuffle. At 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~matching
    slice; the default thresholds (creation side <= 10 MB, application
    scan >= 10 GB) only fire at real scale, so the test lowers the scan
    threshold to observe the injection locally."""
    from etl_lealone_spark.tables import load_tables

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = load_tables(spark, sf_dir)
        sel = t["orders"].filter(F.col("o_totalprice") > 500000).select(
            "o_orderkey"
        )
        j = t["lineitem"].join(sel, t["lineitem"].l_orderkey == sel.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_plan_lint_rules(spark, tables):
    """The lint (tests/test_registry.py applies it to every registered
    workload) must flag planted anti-patterns and pass the legitimate
    scalar-broadcast shape."""
    from etl_lealone_spark.plans.lint import lint_df

    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    ord_ = tables["orders"].select("o_orderkey")

    # planted cartesian: crossJoin of two real relations
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    hits = lint_df(li.crossJoin(ord_.limit(10**9)))
    assert "cartesian" in hits or "bnl-join" in hits

    # legitimate 1-row scalar broadcast: corpus stat attached to each row
    stats = li.agg(F.avg("l_quantity").alias("aq"))
    assert lint_df(li.crossJoin(F.broadcast(stats))) == []

    # clean keyed join passes
    assert lint_df(li.join(ord_, li.l_orderkey == ord_.o_orderkey)) == []


def test_bnl_exemption_is_subtree_anchored(spark, tables):
    """A plan with one genuine table-broadcast BNL *plus* an unrelated
    scalar-aggregate broadcast elsewhere must still be flagged — the
    scalar exemption is judged per BNL build side, not by comparing
    global pattern counts (round-3 advice)."""
    from etl_lealone_spark.plans.lint import lint_df

    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    ord_ = tables["orders"].select("o_orderkey", "o_totalprice")
    stats = li.agg(F.avg("l_quantity").alias("aq"))  # 1-row scalar

    # genuine table-broadcast BNL (non-equi on a real relation) + the
    # legitimate scalar broadcast in the same plan
    bad = (
        li.join(F.broadcast(ord_), li.l_quantity < ord_.o_totalprice)
        .crossJoin(F.broadcast(stats))
    )
    assert "bnl-join" in lint_df(bad)

    # both BNLs scalar → exempt
    ok = li.crossJoin(F.broadcast(stats)).crossJoin(
        F.broadcast(li.agg(F.max("l_quantity").alias("mx")))
    )
    assert "bnl-join" not in lint_df(ok)


def test_bnl_exemption_requires_dominating_bound(spark, tables):
    """r4 advice: a broadcast of ``fact JOIN (1-row aggregate)`` has a
    bounded node somewhere INSIDE the exchange subtree, but the fact
    scan is not dominated by it — the BNL must NOT be classified as a
    constant-size scalar broadcast. Every unbounded scan needs a
    bounding ANCESTOR on its own path, same dominance rule as
    lint_forced_broadcasts."""
    from etl_lealone_spark.plans.lint import lint_df

    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    ord_ = tables["orders"].select("o_orderkey")
    stats = li.agg(F.avg("l_quantity").alias("aq"))  # 1-row scalar

    # fact table joined with the scalar, then force-broadcast whole
    fact_plus_scalar = ord_.crossJoin(stats)
    bad = li.join(
        F.broadcast(fact_plus_scalar),
        li.l_quantity < fact_plus_scalar.o_orderkey,
    )
    assert "bnl-join" in lint_df(bad)

    # the same scalar DOMINATING the scan (agg above it) stays exempt
    ok = li.crossJoin(F.broadcast(stats))
    assert "bnl-join" not in lint_df(ok)


def test_bnl_flags_unbounded_non_file_sources(spark, tables):
    """r5 review: sources that are not FileScans (Range, cached
    relations) must still count as unbounded inside a broadcast — a
    forced broadcast of spark.range(1e9) is a driver OOM at scale."""
    from etl_lealone_spark.plans.lint import lint_df

    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    big_range = spark.range(10**9).select(F.col("id").alias("r_id"))
    bad = li.join(F.broadcast(big_range), li.l_quantity < big_range.r_id)
    assert "bnl-join" in lint_df(bad)

    # a literal relation (LocalTableScan) broadcast stays exempt; a
    # createDataFrame-backed `Scan ExistingRDD` is NOT (it can wrap an
    # arbitrary distributed RDD, so it counts as unbounded)
    lit = spark.sql("SELECT * FROM VALUES (1), (2) AS t(v)")
    ok = li.crossJoin(F.broadcast(lit))
    assert "bnl-join" not in lint_df(ok)


def test_forced_broadcast_rule(spark, tables):
    """Hint-only rule: a forced broadcast whose subtree scans a fact
    table without a bounding operator is flagged; 1-row aggregates and
    LIMIT-bounded broadcasts pass."""
    from etl_lealone_spark.plans import explain_str
    from etl_lealone_spark.plans.lint import lint_forced_broadcasts

    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    ord_ = tables["orders"].select("o_orderkey")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        # unbounded: broadcast of a per-key aggregate of the fact table
        agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        bad = ord_.join(F.broadcast(agg), ord_.o_orderkey == agg.l_orderkey)
        assert lint_forced_broadcasts(explain_str(bad, "extended"))

        # bounded: scalar aggregate broadcast
        stats = li.agg(F.max("l_quantity").alias("mx"))
        ok1 = ord_.crossJoin(F.broadcast(stats))
        assert lint_forced_broadcasts(explain_str(ok1, "extended")) == []

        # bounded: LIMITed broadcast
        ok2 = ord_.join(
            F.broadcast(li.limit(10)), ord_.o_orderkey == li.l_orderkey
        )
        assert lint_forced_broadcasts(explain_str(ok2, "extended")) == []

        # no hint → no broadcast in plan → clean
        ok3 = ord_.join(agg, ord_.o_orderkey == agg.l_orderkey)
        assert lint_forced_broadcasts(explain_str(ok3, "extended")) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_plan_lint_flags_global_window(spark, tables):
    from pyspark.sql import Window

    from etl_lealone_spark.plans.lint import lint_df

    d = tables["lineitem"]
    global_w = d.select(
        F.row_number().over(Window.orderBy("l_orderkey")).alias("rn")
    )
    assert "global-window" in lint_df(global_w)

    keyed_w = d.select(
        F.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy("l_linenumber"))
        .alias("rn")
    )
    assert "global-window" not in lint_df(keyed_w)


def test_global_window_rule_recognizes_window_group_limit(spark, tables):
    """r6 verdict task 4: a rank-filter plan (rnk <= k over a global
    order) plants a WindowGroupLimit below the SinglePartition exchange
    — each upstream partition ships <= k rows, so the plan is accepted
    EXPLICITLY (not by regex non-match); the same shape without the
    limit is flagged."""
    from pyspark.sql import Window

    from etl_lealone_spark.plans.explain import explain_str
    from etl_lealone_spark.plans.lint import lint_df

    d = tables["lineitem"]
    # rank() (not row_number(), which limit-pushdown rewrites to
    # TakeOrderedAndProject before WindowGroupLimit can appear)
    ranked = d.withColumn(
        "rnk", F.rank().over(Window.orderBy("l_orderkey", "l_linenumber"))
    )
    topk = ranked.filter(F.col("rnk") <= 5)
    # precondition: the optimizer really planted the limit we exempt on
    assert "WindowGroupLimit" in explain_str(topk, "extended")
    assert "global-window" not in lint_df(topk)
    # same window, no rank filter -> no WindowGroupLimit -> flagged
    assert "global-window" in lint_df(ranked)


def test_global_window_rule_on_planted_plans():
    """Text-level polarity pins: a refactor that loses the
    WindowGroupLimit but keeps an interposed Sort/Project must FLAG;
    the limit on the chain must PASS; a limit on a sibling branch (not
    the window's own chain) must NOT exempt."""
    from etl_lealone_spark.plans.lint import global_window_unbounded

    flagged = (
        "Window [row_number() ...]\n"
        "+- *(2) Sort [w ASC]\n"
        "   +- Exchange SinglePartition\n"
        "      +- *(1) Project [w]\n"
    )
    assert global_window_unbounded(flagged)

    bounded = (
        "Window [row_number() ...]\n"
        "+- WindowGroupLimit [row_number(), 5], Final\n"
        "   +- *(2) Sort [w ASC]\n"
        "      +- Exchange SinglePartition\n"
        "         +- WindowGroupLimit [row_number(), 5], Partial\n"
        "            +- *(1) Sort [w ASC]\n"
    )
    assert not global_window_unbounded(bounded)

    # the limit must dominate THIS window's exchange — a join sibling
    # carrying one does not exempt the unbounded window branch
    sibling = (
        "SortMergeJoin [a], [b]\n"
        ":- Window [row_number() ...]\n"
        ":  +- Sort [w ASC]\n"
        ":     +- Exchange SinglePartition\n"
        ":        +- Project [w]\n"
        "+- WindowGroupLimit [row_number(), 5], Final\n"
        "   +- Sort [x ASC]\n"
    )
    assert global_window_unbounded(sibling)

    # keyed (hashpartitioned) window exchange is not this rule's shape
    keyed = (
        "Window [row_number() ...], [k]\n"
        "+- Sort [k ASC, w ASC]\n"
        "   +- Exchange hashpartitioning(k, 32)\n"
    )
    assert not global_window_unbounded(keyed)


def test_dynamic_partition_pruning_injects(spark, tables, tmp_path):
    """A filtered dim joined on a fact's PARTITION column must inject
    dynamic partition pruning (a runtime subquery on the fact scan) —
    at 100 TB this skips whole partition directories, the coarse
    complement of the bloom-filter row pruning."""
    fact_path = str(tmp_path / "fact")
    tables["lineitem"].withColumn(
        "part_mod", F.col("l_partkey") % 10
    ).write.mode("overwrite").partitionBy("part_mod").parquet(fact_path)
    dim = (
        spark.range(10)
        .select(F.col("id").alias("part_mod"), (F.col("id") * 2).alias("v"))
        .filter(F.col("v") < 6)
    )
    saved = spark.conf.get(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
    )
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
            "false",
        )
        j = (
            spark.read.parquet(fact_path)
            .join(dim, "part_mod")
            .agg(F.count(F.lit(1)))
        )
        assert "dynamicpruning" in explain_str(j, "simple").lower()
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
            saved,
        )


def test_parquet_aggregate_pushdown(spark, tables, tmp_path):
    """COUNT/MIN/MAX over a parquet scan can be answered from footer
    statistics alone (v2 source + aggregatePushDown): the plan shows
    PushedAggregation and no row data is decoded — a full-table COUNT
    at 100 TB becomes a metadata read."""
    path = str(tmp_path / "li_v2")
    tables["lineitem"].write.mode("overwrite").parquet(path)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.parquet.aggregatePushDown",
            "spark.sql.sources.useV1SourceList",
        )
    }
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushDown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        agg = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"), F.min("l_quantity").alias("mn")
        )
        assert "PushedAggregation" in explain_str(agg, "simple")
        row = agg.collect()[0]
        assert row["n"] == tables["lineitem"].count() and row["mn"] is not None
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_external_bucketed_reattach_no_exchange(spark, tmp_path):
    """A bucketed layout persisted as an EXTERNAL table must keep its
    zero-exchange join property after the session metadata is dropped
    and the table is re-attached via CREATE TABLE ... CLUSTERED BY ...
    LOCATION — the cross-session path the bucketed_colocated_join
    workload (and any recurring 100 TB job) depends on."""
    from etl_lealone_spark.operators.joins import colocated_join, write_bucketed

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    pa, pb = str(tmp_path / "ba"), str(tmp_path / "bb")
    write_bucketed(a, "xb_a", "k", num_buckets=4, path=pa)
    write_bucketed(b, "xb_b", "k", num_buckets=4, path=pb)
    spark.sql("DROP TABLE xb_a")
    spark.sql("DROP TABLE xb_b")
    spark.sql(
        f"CREATE TABLE xb_a (k BIGINT, va BIGINT) USING PARQUET "
        f"CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS LOCATION '{pa}'"
    )
    spark.sql(
        f"CREATE TABLE xb_b (k BIGINT, vb BIGINT) USING PARQUET "
        f"CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS LOCATION '{pb}'"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "xb_a", "xb_b", "k")
        assert count_exchanges(joined) == 0, explain_str(joined)
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS xb_a")
        spark.sql("DROP TABLE IF EXISTS xb_b")
