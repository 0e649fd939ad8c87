"""Join operators Spark lacks natively (SURVEY.md custom-operator list):
as-of join and an explicit salted join for extreme skew.

Both are compositions of built-in DataFrame ops (no UDFs), per the
engine's operator preference order.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``on`` key group.

    Implementation: the union-and-carry-forward pattern — tag both sides,
    sort by (key, ts, side) with right rows first on ties, and
    carry the last non-null right values forward with an ignore-nulls
    window. ONE shuffle on the key (the window partition); no range
    explosion, no per-row subquery. This is the standard scalable as-of
    shape (a merge of both sorted streams), vs. the O(n·m) theta-join
    a naive BETWEEN predicate would produce.

    ``right`` must be unique per (key, right_ts) — pre-aggregate it if
    not, or ties make the carried value nondeterministic.
    """
    keys = list(on)
    lcols = [c for c in left.columns]
    l = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(dict(right.dtypes)[v]).alias(f"__rv_{v}") for v in value_cols],
    )
    r = right.select(
        *[
            F.col(k) if k in right.columns else F.lit(None).alias(k)
            for k in keys
        ],
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols if c not in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(v).alias(f"__rv_{v}") for v in value_cols],
    ).select(*lcols, "__ts", "__is_left", *[f"__rv_{v}" for v in value_cols])
    u = l.unionByName(r)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        *lcols,
        "__ts",
        "__is_left",
        *[
            F.last(f"__rv_{v}", ignorenulls=True).over(w).alias(f"{v}{suffix}")
            for v in value_cols
        ],
    )
    return carried.filter(F.col("__is_left") == 1).drop("__ts", "__is_left")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with explicit key salting for EXTREME skew.

    AQE's skew-join handles moderate skew by splitting oversized
    partitions; for pathological keys (one key = 50% of the table) the
    classic fix is salting: the skewed (left) side gets a random salt in
    [0, salt), the small (right) side is replicated ``salt`` times, and
    the join key becomes (key, salt). Shuffle load per reducer drops by
    ~salt× on the hot key at the cost of replicating the right side.
    """
    l = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    # replicate the right side MAP-SIDE via a literal-array explode — a
    # Generate node, not a broadcast join: zero exchanges added, and the
    # replication factor is visibly a compile-time constant in the plan
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(salt)]))
    )
    out = l.join(r, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str | Sequence[str],
    num_buckets: int = 32,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a managed table hash-bucketed (and sorted) by
    ``key`` — the co-located join layout.

    Two tables bucketed on the same key with the same bucket count join
    with ZERO exchanges: each task reads bucket i of both sides and
    merges locally. At 100 TB this converts every recurring fact⋈fact
    join on the bucket key from a full two-sided shuffle into a local
    merge — the single biggest repeated-join saving Spark offers
    (reference has no equivalent; its sharding co-locates by PK range,
    lealone-aose BTreeMap page partitioning).

    Bucket count is fixed at write time: pick ~(total size / 128 MB)
    rounded to a power of two, and keep it identical across tables that
    join together.

    The pre-write ``repartition`` on the bucket key makes each task own
    exactly one bucket, so every bucket is ONE file (not one per
    upstream partition — at 1000 executors that's 1000× fewer files).
    One-file buckets also keep the ``sortBy`` order valid for the whole
    bucket, which is the precondition for
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``: with it
    set, the scan reports its sort order and a same-key sort-merge join
    is zero-exchange AND zero-sort (measured 3× on the join itself —
    bench.py W4). Spark defaults the flag to false because multi-file
    buckets concatenate files and break the order — this writer's
    layout is exactly the case where it is safe.
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = (
        df.repartition(num_buckets, *keys)
        .write.mode(mode)
        .bucketBy(num_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
        .format("parquet")
    )
    if path is not None:
        # EXTERNAL table: files live at ``path`` and outlive this
        # session's in-memory catalog — a later session re-attaches with
        # CREATE TABLE ... CLUSTERED BY ... LOCATION (same bucket spec)
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def colocated_join(
    spark,
    left_table: str,
    right_table: str,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two bucketed managed tables on their bucket key.

    Plain ``join`` — the zero-shuffle plan comes from the bucketed
    layout, not special code; asserted by
    tests/test_plans.py::test_bucketed_join_no_exchange.
    """
    keys = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), keys, how)


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_days: int = 7,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval range join without the O(n·m) nested loop.

    A naive ``p BETWEEN s AND e`` predicate has no equi-key, so Spark
    plans BroadcastNestedLoopJoin — every (point, interval) pair is
    tested, which is quadratic and the classic range-join scale failure.
    This operator manufactures the equi-key: time is cut into
    ``bucket_days``-wide buckets; each interval explodes into the
    buckets it spans (``sequence()``, interval_len/bucket_days rows);
    each point maps to exactly ONE bucket, so the bucket equi-join finds
    every candidate exactly once (no dedup needed) and the exact BETWEEN
    runs as a post-join filter on candidates only.

    Cost model: one shuffle on (bucket, *extra_keys); right-side blowup
    = avg_interval_len / bucket_days (pick bucket_days ≈ median interval
    length — blowup ≤ 2×). Timestamps are bucketed via ``datediff``
    against a fixed epoch, which is legal on TIMESTAMP_NTZ (a direct
    long cast is not).

    The same shape with both sides interval-ized handles
    interval-overlap joins; the as-of join (above) stays the better
    plan when only the latest-before match is wanted.
    """
    epoch = F.lit("1990-01-01").cast("date")
    pb = F.floor(F.datediff(F.col(point_col), epoch) / bucket_days)
    sb = F.floor(F.datediff(F.col(start_col), epoch) / bucket_days)
    eb = F.floor(F.datediff(F.col(end_col), epoch) / bucket_days)
    keys = list(extra_keys)
    p = points.withColumn("__bucket", pb.cast("long"))
    i = intervals.withColumn(
        "__bucket", F.explode(F.sequence(sb.cast("long"), eb.cast("long")))
    )
    cond = [p["__bucket"] == i["__bucket"]] + [p[k] == i[k] for k in keys]
    return (
        p.join(i, cond)
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_days: int = 7,
) -> DataFrame:
    """Interval-overlap join (both sides are [start, end] ranges) with a
    manufactured equi-key and NO dedup stage.

    Both sides explode into the ``bucket_days``-wide time buckets they
    span, candidates meet on the bucket equi-join, and the exact overlap
    predicate (``l_start <= r_end AND r_start <= l_end``) filters them.
    A pair overlapping several buckets would match once per shared
    bucket, so the join keeps a pair ONLY in the bucket containing
    ``greatest(l_start, r_start)`` — the overlap's first day. Every
    overlapping pair owns exactly one such bucket, so results are
    exact-once without a dropDuplicates shuffle (the trick MapReduce
    spatial joins call the reference-point method).

    Cost: one shuffle on the bucket key; per-side blowup =
    avg_interval_len / bucket_days. Pick bucket_days near the median
    interval length.
    """
    epoch = F.lit("1990-01-01").cast("date")

    def days(col: str):
        return F.datediff(F.col(col).cast("date"), epoch)

    lb = left.withColumn(
        "__lb",
        F.explode(
            F.sequence(
                F.floor(days(l_start) / bucket_days).cast("long"),
                F.floor(days(l_end) / bucket_days).cast("long"),
            )
        ),
    )
    rb = right.withColumn(
        "__rb",
        F.explode(
            F.sequence(
                F.floor(days(r_start) / bucket_days).cast("long"),
                F.floor(days(r_end) / bucket_days).cast("long"),
            )
        ),
    )
    overlap_start_bucket = F.floor(
        F.greatest(days(l_start), days(r_start)) / bucket_days
    ).cast("long")
    return (
        lb.join(rb, lb["__lb"] == rb["__rb"])
        .filter(
            (F.col(l_start).cast("date") <= F.col(r_end).cast("date"))
            & (F.col(r_start).cast("date") <= F.col(l_end).cast("date"))
            & (F.col("__lb") == overlap_start_bucket)
        )
        .drop("__lb", "__rb")
    )

# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning (runtime-filter pattern, explicit form)
# ---------------------------------------------------------------------------
def bloom_bitmap(
    build: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k: int = 3,
    tag: str = "bloom",
) -> DataFrame:
    """1-row Bloom bitmap over the distinct build-side keys.

    The explicit form of the runtime-filter join reduction (what Spark's
    ``spark.sql.optimizer.runtime.bloomFilter`` injects, and what the
    reference's index-condition pushdown achieves on its local BTree —
    lealone-sql IndexCursor conditions): at 100 TB you never ship the
    probe side through a shuffle to discover most rows have no match;
    you ship a ``m_bits``-bit bitmap TO the probe scan instead.

    Returns one row: ``bloom_words`` (DENSE array of the ``m_bits/64``
    64-bit words of the bitmap, 1-based for ``element_at``),
    ``bloom_bits_set``, ``bloom_n_keys``. The bitmap is derived with the
    cross-engine xhash family (md5 base hash + k Mersenne-mixed lanes
    mod m), so an independent engine recomputes membership bit-for-bit —
    no opaque native bloom blob, which also makes the filter
    REPRODUCIBLE across reruns and engines (a re-executed 100 TB prune
    admits the same false-positive set, keeping downstream hashes
    stable).

    Build cost: one distinct over build keys, k map-side positions
    each, and a ≤``m_bits/64``-row aggregate — the result is a single
    row of exactly m_bits/8 bytes, safely broadcastable at any build
    cardinality. r12 (guide §1.2-1/§2.4): the word list is a dense
    ARRAY, not a sparse word-index map — Catalyst's map ``element_at``
    is a LINEAR scan of the entries, so 3 probe lookups against a
    256-entry map cost ~0.7s per 6M probe rows where the O(1) array
    index is free (measured on bloom_join_prune: probe stage 2.64 →
    1.88s, rows identical); and the explode output feeds ``bit_or``
    directly (bit_or is idempotent, so the per-position ``distinct``
    that used to sit between them only added an exchange).
    """
    from .xhash import hconsts, md5_hash60, mix60

    # r12 advisor: the DENSE word array always materializes m_bits/8
    # bytes regardless of build cardinality — a near-empty filter with a
    # huge m_bits would broadcast megabytes per probe task. Bound it at
    # 2^27 bits (16 MB — the top of the "few hundred MB broadcast is
    # fine" envelope with headroom); past that, shard the build side or
    # add a sparse representation. Multiple-of-64 keeps size(bloom_words)
    # * 64 == m_bits exactly, which is what lets probes validate
    # build/probe agreement (bloom_m_bits below).
    if m_bits <= 0 or m_bits % 64 != 0:
        raise ValueError(f"bloom m_bits must be a positive multiple of 64, got {m_bits}")
    if m_bits > (1 << 27):
        raise ValueError(
            f"bloom m_bits={m_bits} exceeds the dense-bitmap bound 2^27 "
            "(16 MB broadcast); shard the build side or lower m_bits"
        )
    n_words = (m_bits + 63) // 64
    keys = build.select(F.col(key_col).cast("string").alias("_bk")).distinct()
    h = md5_hash60(F.col("_bk"))
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    (mix60(h, *hconsts(f"bloom:{tag}", i)) % m_bits).cast("int")
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    words = positions.groupBy(
        (F.col("pos") / 64).cast("int").alias("word_idx")
    ).agg(
        F.bit_or(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            )
        ).alias("word")
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("long").alias("bloom_n_keys"))
    return (
        words.agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "word"))
            ).alias("_word_map"),
            # coalesce: an EMPTY build side sums over zero rows → NULL;
            # consumers (and the oracle's COUNT(*) convention) expect 0.
            F.coalesce(F.sum(F.bit_count("word")), F.lit(0))
            .cast("long")
            .alias("bloom_bits_set"),
        )
        .select(
            # densify once on the single bitmap row (word_idx i → slot
            # i+1); absent words are zero
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                # try_element_at: ANSI element_at on a MAP raises on an
                # absent key; absent word = zero
                lambda i: F.coalesce(
                    F.try_element_at(F.col("_word_map"), i), F.lit(0).cast("long")
                ),
            ).alias("bloom_words"),
            "bloom_bits_set",
            # carried build parameters: probes assert agreement on all
            # three — a probe with a different m_bits, k or tag computes
            # other bit positions and would be silently wrong;
            # bloom_pass_flag raises instead
            F.lit(int(m_bits)).alias("bloom_m_bits"),
            F.lit(int(k)).alias("bloom_k"),
            F.lit(tag).alias("bloom_tag"),
        )
        .crossJoin(F.broadcast(n_keys))
    )


def bloom_pass_flag(
    key, m_bits: int = 8192, k: int = 3, tag: str = "bloom"
):
    """Membership predicate column for a probe row already cross-joined
    with the :func:`bloom_bitmap` row (``bloom_words``, ``bloom_m_bits``,
    ``bloom_k`` and ``bloom_tag`` in scope). True iff ALL k bit positions
    of the key are set — may include false positives, never false
    negatives.

    Build/probe parameter agreement is ENFORCED: a probe whose
    ``m_bits``, ``k`` or ``tag`` differs from the bitmap's computes other
    bit positions — silently wrong membership (false negatives
    possible). The bitmap row carries all three; a mismatch raises at
    evaluation instead of returning garbage."""
    from .xhash import hconsts, md5_hash60, mix60

    h = md5_hash60(key.cast("string"))
    flag = F.lit(True)
    for i in range(k):
        pos = (mix60(h, *hconsts(f"bloom:{tag}", i)) % m_bits).cast("int")
        # dense-array bitmap: O(1) 1-based index (pos < m_bits by
        # construction once m_bits agreement holds, so the slot exists)
        word = F.element_at(F.col("bloom_words"), (pos / 64).cast("int") + 1)
        flag = flag & (
            word.bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
                )
            )
            != 0
        )
    out = None
    for col, want in (("m_bits", int(m_bits)), ("k", int(k)), ("tag", tag)):
        built = F.col(f"bloom_{col}")
        err = F.raise_error(
            F.format_string(
                f"bloom build/probe {col} mismatch: bitmap built with %s, "
                f"probed with {str(want).replace('%', '%%')}",
                built,
            )
        ).cast("boolean")
        cond = built != F.lit(want)
        out = F.when(cond, err) if out is None else out.when(cond, err)
    return out.otherwise(flag)


def bloom_semi_join(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    m_bits: int = 8192,
    k: int = 3,
    tag: str = "bloom",
) -> DataFrame:
    """Probe rows whose key passes the Bloom filter built over the build
    side — the explicit semi-join reduction: a 1-row broadcast plus a
    map-side predicate, NO shuffle of the probe side. Admits false
    positives (rate (1-e^{-kn/m})^k); chase with the exact join if the
    consumer needs exactness — the point is the probe volume that
    reaches that join is a fraction of the table.

    No eager Python-side parameter check: both sides are built here from
    the one ``(m_bits, k, tag)``, so a mismatch cannot arise, and the
    row-level guard in :func:`bloom_pass_flag` covers callers that pair a
    bitmap and a probe themselves. That guard never fires on an empty
    probe, but an empty probe yields no rows, so no wrong row can escape;
    an eager check would be dead code."""
    bitmap = bloom_bitmap(build, build_key, m_bits, k, tag)
    return (
        probe.crossJoin(F.broadcast(bitmap))
        .filter(bloom_pass_flag(F.col(probe_key), m_bits, k, tag))
        .drop(
            "bloom_words",
            "bloom_bits_set",
            "bloom_n_keys",
            "bloom_m_bits",
            "bloom_k",
            "bloom_tag",
        )
    )
