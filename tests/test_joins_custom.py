"""Custom join operators: as-of join, salted skew join."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from etl_lealone_spark.operators.joins import asof_join, salted_join


def _ts(s: str):
    return datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    quotes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0),
            (1, _ts("2024-01-01T10:05:00"), 101.0),
            (2, _ts("2024-01-01T10:01:00"), 50.0),
        ],
        "sym int, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:02:00")),  # → 100.0 (10:00 quote)
            (1, _ts("2024-01-01T10:05:00")),  # → 101.0 (tie: at-or-before)
            (2, _ts("2024-01-01T10:00:30")),  # → None (no quote yet)
        ],
        "sym int, tts timestamp",
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="tts", right_ts="qts", value_cols=["px"]
    )
    got = {(r["sym"], str(r["tts"])): r["px_asof"] for r in out.collect()}
    assert got[(1, "2024-01-01 10:02:00")] == 100.0
    assert got[(1, "2024-01-01 10:05:00")] == 101.0  # equal-ts quote counts
    assert got[(2, "2024-01-01 10:00:30")] is None


def test_asof_join_keeps_left_rowcount(spark, tables):
    e = tables["events"]
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    out = asof_join(clicks, purchases, ["user_id"], "ts", "ts", ["v"])
    assert out.count() == clicks.count()


def test_salted_join_matches_plain_join(spark):
    # heavily skewed left: 90% of rows share key 7
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, 7).otherwise(F.col("id")).cast("int").alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(7, "hot"), (0, "a"), (10, "b"), (20, "c")], "k int, tag string"
    )
    plain = left.join(right, "k").groupBy("tag").count()
    salted = salted_join(left, right, "k", salt=8).groupBy("tag").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_interval_overlap_join_exact_once(spark):
    """The reference-point bucket ownership must yield each overlapping
    pair EXACTLY once — including pairs spanning many buckets — and
    match the naive theta join."""
    from etl_lealone_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01", "2024-03-01"),   # long interval, many buckets
            (2, "2024-01-10", "2024-01-12"),
            (3, "2024-06-01", "2024-06-02"),   # overlaps nothing
        ],
        "lid long, ps string, pe string",
    ).selectExpr("lid", "cast(ps as date) ps", "cast(pe as date) pe")
    right = spark.createDataFrame(
        [
            (10, "2024-01-05", "2024-02-20"),  # overlaps 1 across buckets
            (11, "2024-01-11", "2024-01-11"),  # overlaps 1 and 2
            (12, "2024-05-30", "2024-05-31"),  # overlaps nothing
        ],
        "rid long, ws string, we string",
    ).selectExpr("rid", "cast(ws as date) ws", "cast(we as date) we")

    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ps", "pe", "ws", "we", bucket_days=7
        ).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"])
        for r in left.crossJoin(right)
        .filter("ps <= we AND ws <= pe")
        .collect()
    )
    assert got == naive == [(1, 10), (1, 11), (2, 10), (2, 11)]


def test_interval_overlap_join_empty_sides(spark):
    from etl_lealone_spark.operators.joins import interval_overlap_join

    schema_l = "lid long, ps date, pe date"
    schema_r = "rid long, ws date, we date"
    left = spark.createDataFrame([], schema_l)
    right = spark.createDataFrame(
        [(1, "2024-01-01", "2024-01-02")], "rid long, ws string, we string"
    ).selectExpr("rid", "cast(ws as date) ws", "cast(we as date) we")
    assert (
        interval_overlap_join(left, right, "ps", "pe", "ws", "we").count() == 0
    )
    assert (
        interval_overlap_join(
            right.selectExpr("rid lid", "ws ps", "we pe"),
            spark.createDataFrame([], schema_r),
            "ps", "pe", "ws", "we",
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------
def test_bloom_no_false_negatives_and_pruning(spark):
    from etl_lealone_spark.operators.joins import bloom_semi_join

    build = spark.range(0, 200).selectExpr("id * 7 AS k")
    probe = spark.range(0, 5000).selectExpr("id AS k")
    passed = {r["k"] for r in bloom_semi_join(probe, "k", build, "k").collect()}
    members = {r["k"] for r in build.collect()} & {
        r["k"] for r in probe.collect()
    }
    # every true member passes (no false negatives) ...
    assert members <= passed
    # ... and the filter actually prunes (far fewer than the probe side)
    assert len(passed) < 2500


def test_bloom_pass_set_is_partitioning_invariant(spark):
    from etl_lealone_spark.operators.joins import bloom_semi_join

    build = spark.range(0, 300).selectExpr("id * 3 AS k")
    probe = spark.range(0, 2000).selectExpr("id AS k")
    a = {r["k"] for r in bloom_semi_join(probe, "k", build, "k").collect()}
    b = {
        r["k"]
        for r in bloom_semi_join(
            probe.repartition(13), "k", build.repartition(7), "k"
        ).collect()
    }
    # the md5/Mersenne hash family is deterministic: the admitted set —
    # INCLUDING its false positives — is identical however either side
    # is partitioned (the reproducible-runtime-filter contract)
    assert a == b


def test_bloom_bitmap_saturation_caps_size(spark):
    from etl_lealone_spark.operators.joins import bloom_bitmap

    row = bloom_bitmap(
        spark.range(0, 50_000).selectExpr("id AS k"), "k", m_bits=1024, k=3
    ).collect()[0]
    # far more keys than bits: bitmap saturates but its materialized size
    # stays capped at m_bits (words <= m_bits/64) — broadcastable at any
    # build cardinality
    assert row["bloom_bits_set"] <= 1024
    assert len(row["bloom_words"]) <= 1024 // 64
    assert row["bloom_n_keys"] == 50_000


def test_bloom_m_bits_guards(spark):
    """r12 advisor items: (1) the dense bitmap bounds m_bits at build
    time (a near-empty filter with a huge m_bits would broadcast MBs per
    probe task), (2) build/probe m_bits disagreement RAISES instead of
    returning silently-wrong membership."""
    import pytest

    from etl_lealone_spark.operators.joins import (
        bloom_bitmap,
        bloom_pass_flag,
    )
    from pyspark.sql import functions as F

    build = spark.range(0, 10).selectExpr("id AS k")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_bitmap(build, "k", m_bits=1000)
    with pytest.raises(ValueError, match="dense-bitmap bound"):
        bloom_bitmap(build, "k", m_bits=1 << 28)
    bitmap = bloom_bitmap(build, "k", m_bits=8192)
    probe = spark.range(0, 5).selectExpr("id AS k").crossJoin(F.broadcast(bitmap))
    # agreeing probe: every true member passes
    ok = probe.filter(bloom_pass_flag(F.col("k"), m_bits=8192)).count()
    assert ok == 5
    # disagreeing probe: typed failure, not wrong-but-quiet membership
    with pytest.raises(Exception, match="m_bits mismatch"):
        probe.filter(bloom_pass_flag(F.col("k"), m_bits=16384)).count()


def test_bloom_k_and_tag_guards(spark):
    """The bitmap row carries (m_bits, k, tag); a probe that disagrees on
    k or tag hashes to other bit positions, so it raises."""
    import pytest

    from etl_lealone_spark.operators.joins import bloom_bitmap, bloom_pass_flag
    from pyspark.sql import functions as F

    build = spark.range(0, 10).selectExpr("id AS k")
    bitmap = bloom_bitmap(build, "k", m_bits=8192, k=3, tag="t1")
    row = bitmap.collect()[0]
    assert (row["bloom_m_bits"], row["bloom_k"], row["bloom_tag"]) == (8192, 3, "t1")
    probe = spark.range(0, 5).selectExpr("id AS k").crossJoin(F.broadcast(bitmap))
    assert probe.filter(bloom_pass_flag(F.col("k"), 8192, 3, "t1")).count() == 5
    with pytest.raises(Exception, match="k mismatch: bitmap built with 3, probed with 4"):
        probe.filter(bloom_pass_flag(F.col("k"), 8192, 4, "t1")).count()
    with pytest.raises(Exception, match="tag mismatch: bitmap built with t1, probed with t2"):
        probe.filter(bloom_pass_flag(F.col("k"), 8192, 3, "t2")).count()


def test_bloom_empty_build_side_passes_nothing(spark):
    from etl_lealone_spark.operators.joins import bloom_semi_join

    build = spark.range(0).selectExpr("id AS k")
    probe = spark.range(0, 100).selectExpr("id AS k")
    assert bloom_semi_join(probe, "k", build, "k").count() == 0
