"""Event-analytics workloads: funnel and cohort retention — the classic
product-analytics shapes a batch events table serves (extension surface;
the reference has no event-analytics operators, these compose its
§2.3/§2.4 join+agg inventory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_tables
from . import workload


# ---------------------------------------------------------------------------
# Funnel: view → click → purchase, ordered, within 7 days of the first step
# ---------------------------------------------------------------------------
@workload(
    "events_funnel_steps",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS n_step1,
           (SELECT count(*) FROM s2) AS n_step2,
           (SELECT count(*) FROM s3) AS n_step3
    """,
    doc="3-step ordered funnel (view→click→purchase within 7 days): "
    "per-step earliest-timestamp joins; each step is one keyed agg + "
    "one equi-join — no per-user sequence scan.",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_step1"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_step2")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_step3")))
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen week, activity at +0..+3
# ---------------------------------------------------------------------------
@workload(
    "events_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(floor(datediff('day', DATE '1990-01-01', min(ts)) / 7)
                  AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(floor(datediff('day', DATE '1990-01-01', ts) / 7)
                  AS BIGINT) AS week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(a.week - f.cohort_week AS INT) AS week_offset,
           count(*) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    WHERE a.week - f.cohort_week BETWEEN 0 AND 3
    GROUP BY f.cohort_week, week_offset
    ORDER BY f.cohort_week, week_offset
    """,
    doc="Cohort retention: first-seen week per user, distinct active "
    "weeks, counts at offsets 0-3. Two keyed aggs + one equi-join.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    epoch = F.lit("1990-01-01").cast("date")
    week = F.floor(F.datediff(F.col("ts"), epoch) / 7).cast("long")
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.floor(F.datediff(F.col("first_ts"), epoch) / 7)
            .cast("long")
            .alias("cohort_week"),
        )
    )
    activity = ev.select("user_id", week.alias("week")).distinct()
    return (
        firsts.join(activity, "user_id")
        .withColumn("week_offset", (F.col("week") - F.col("cohort_week")).cast("int"))
        .filter(F.col("week_offset").between(0, 3))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (per-user ordered pairs via LAG)
# ---------------------------------------------------------------------------
@workload(
    "events_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
    doc="Markov transition counts between consecutive event types per "
    "user: one keyed window (never SinglePartition) + one agg.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# Skew diagnostics: per-key weight distribution before a big join/agg
# ---------------------------------------------------------------------------
@workload(
    "skew_diagnose_orders",
    """
    WITH counts AS (
      SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY o_custkey
    ),
    stats AS (
      SELECT count(*) AS n_keys, cast(sum(n) as bigint) AS n_rows,
             max(n) AS max_n
      FROM counts
    ),
    topk AS (
      SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rk
      FROM counts
    )
    SELECT t.key AS hot_key, t.n AS hot_n,
           s.n_keys, s.n_rows,
           round(cast(s.max_n as double) * s.n_keys / s.n_rows, 6)
             AS skew_factor
    FROM topk t, stats s
    WHERE t.rk <= 5
    ORDER BY t.n DESC, t.key
    """,
    doc="Join-key skew report: top-5 heaviest keys + max/mean weight "
    "ratio (skew_factor ~1 = uniform). The pre-flight check that "
    "decides between a plain shuffle join, AQE skew split, or the "
    "salted join (operators/joins.py).",
)
def skew_diagnose_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    counts = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
    )
    # top-5 via sort+limit → TakeOrderedAndProject (per-partition partial
    # top-k, no SinglePartition window over every distinct key — the
    # global row_number variant collapses all keys to one task at scale)
    topk = counts.orderBy(F.desc("n"), F.col("key")).limit(5)
    return (
        topk.crossJoin(F.broadcast(stats))
        .select(
            F.col("key").alias("hot_key"),
            F.col("n").alias("hot_n"),
            "n_keys",
            "n_rows",
            F.round(
                F.col("max_n").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("hot_n"), "hot_key")
    )


# ---------------------------------------------------------------------------
# gap-fill resampling: regular hourly grid + carry-forward interpolation
# ---------------------------------------------------------------------------
@workload(
    "events_resample_hourly",
    """
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      FROM b
    ),
    hourly AS (
      SELECT user_id, hr, n, value AS last_val FROM (
        SELECT user_id, date_trunc('hour', ts) AS hr, value,
               count(*) OVER (PARTITION BY user_id, date_trunc('hour', ts)) AS n,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    j AS (
      SELECT g.user_id, g.hr,
             COALESCE(h.n, 0) AS n_events, h.last_val
      FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    )
    SELECT user_id, strftime(hr, '%Y-%m-%d %H:00') AS hour_bucket,
           cast(n_events as bigint) AS n_events,
           last_value(last_val IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
    FROM j
    """,
    doc="Time-series gap-fill: per-user hourly grid (sequence explode "
    "between observed bounds), event counts per bucket, and last-value "
    "carry-forward interpolation. One agg + one keyed left join + one "
    "per-user window — the grid is generated, never stored; no stage "
    "exceeds O(active keys x buckets).",
)
def events_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["events"]
    grid = (
        e.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("h0"),
            F.date_trunc("hour", F.max("ts")).alias("h1"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    wkey = Window.partitionBy("user_id", "hr")
    hourly = (
        e.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            "value",
            "ts",
            "event_id",
        )
        .withColumn("n", F.count(F.lit(1)).over(wkey))
        .withColumn(
            "rn",
            F.row_number().over(
                wkey.orderBy(F.desc("ts"), F.desc("event_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "hr", "n", F.col("value").alias("last_val"))
    )
    j = grid.join(hourly, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        "last_val",
    )
    wff = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour_bucket"),
        "n_events",
        F.last("last_val", ignorenulls=True).over(wff).alias("value_ff"),
    )


# ---------------------------------------------------------------------------
# data-quality audit: the read-side constraint validation a lake runs
# ---------------------------------------------------------------------------
@workload(
    "dq_audit_orders",
    """
    SELECT 'orphan_custkey' AS check_name,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_bad
    UNION ALL
    SELECT 'dup_orderkey',
           (SELECT CAST(COALESCE(sum(n - 1), 0) AS BIGINT) FROM
             (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) WHERE n > 1)
    UNION ALL
    SELECT 'null_orderdate',
           (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
    UNION ALL
    SELECT 'nonpositive_totalprice',
           (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    """,
    doc="Data-quality audit: FK orphans (anti-joins), duplicate-PK "
    "surplus, NULL and range checks — each check one aggregate or one "
    "keyed anti-join; the whole audit is a handful of single-pass "
    "scans, the nightly validation shape for a lake where writers "
    "cannot be trusted to enforce constraints.",
)
def dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o, c, li = t["orders"], t["customer"], t["lineitem"]

    def one(name: str, df_cnt) -> DataFrame:
        return df_cnt.select(
            F.lit(name).alias("check_name"), F.col("n").cast("long").alias("n_bad")
        )

    orphan = one(
        "orphan_custkey",
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    dup = one(
        "dup_orderkey",
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n")),
    )
    nulls = one(
        "null_orderdate",
        o.filter(F.col("o_orderdate").isNull()).agg(F.count(F.lit(1)).alias("n")),
    )
    rng = one(
        "nonpositive_totalprice",
        o.filter(F.col("o_totalprice") <= 0).agg(F.count(F.lit(1)).alias("n")),
    )
    li_orphan = one(
        "lineitem_orphan_orderkey",
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    return orphan.unionAll(dup).unionAll(nulls).unionAll(rng).unionAll(li_orphan)


# ---------------------------------------------------------------------------
# streaming workloads, driver-oracled (r8 verdict task 6): micro-batch
# file feeds with pinned delivery order + memory sink, hash-checked
# against the batch-equivalent DuckDB SQL
# ---------------------------------------------------------------------------
def _persisted_stream_root(
    sf_dir: str, tag: str, build_fn, tables: tuple[str, ...]
) -> str:
    """Content-keyed persisted root for a workload's micro-batch feed
    files (helpers.persisted_state_root discipline): the bucket layout
    is deterministic given the SOURCE parquet tables + EVERY function
    that shapes it — the shared bucketizer/sentinel/mtime-pin helpers
    AND the per-workload ``build_fn`` closure (r10 advisor: a feed
    cache keyed only on the shared helpers silently reuses a stale
    layout after an edit to a workload's build closure, making the
    edit inert). ``tables`` names the parquet inputs the builder
    actually reads (most feeds cut events, but stream_dedup_hashes
    reads documents and stream_upsert_sink reads orders — keying those
    on events would survive a documents/orders regeneration and feed
    the oracle stale rows; r11 review finding). ``build_fn`` is
    REQUIRED — a None default would let a future caller silently opt
    back into the stale-cache bug. Rebuilt only when any source
    changes; os.rename preserves the pinned mtimes the file-source
    delivery order rides on."""
    import inspect

    from .helpers import persisted_state_root

    spec = (
        inspect.getsource(_stream_bucket_files)
        + inspect.getsource(_flush_sentinel)
        + inspect.getsource(_pin_newest)
        + inspect.getsource(build_fn)
        + tag
    )
    return persisted_state_root(sf_dir, tables, spec, "etl_lealone_streamwl")


def _ensure_stream_feed(
    spark, sf_dir: str, tag: str, build_fn, tables: tuple[str, ...] = ("events",)
) -> str:
    """Build-once wrapper: ``build_fn(ev, build_dir)`` writes the feed
    files into a staging dir, which is atomically renamed to the keyed
    root (concurrent-build race falls back to the winner's root).
    ``tables`` must name every parquet table the builder reads.

    CONSTRAINT (r11 advisor): ``build_fn`` must be a PURE function of
    (a) its source text and (b) the named ``tables`` parquet — the
    cache key hashes ``inspect.getsource(build_fn)``, so a closure
    that captures mutable non-source state (a module-level variable
    whose VALUE changes without a source edit) would silently reuse a
    stale feed. Every current builder only captures module-level
    helper FUNCTIONS (which the key also hashes via the shared-helper
    sources); keep it that way, or extend the key with the captured
    cell values if a data-bearing closure ever becomes necessary."""
    import os
    import shutil

    root = _persisted_stream_root(sf_dir, tag, build_fn, tables)
    if os.path.exists(os.path.join(root, "_wl_done")):
        return root
    ev = load_tables(spark, sf_dir)["events"]
    build = f"{root}.build.{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    build_fn(ev, build)
    with open(os.path.join(build, "_wl_done"), "w") as f:
        f.write("ok")
    os.makedirs(os.path.dirname(root), exist_ok=True)
    try:
        os.rename(build, root)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
        if not os.path.exists(os.path.join(root, "_wl_done")):
            raise
    return root


def _stream_bucket_files(ev, out_dirs, n_buckets: int = 3, tail=None) -> None:
    """Write ``ev`` as day-granular time buckets, oldest-first with
    strictly increasing pinned mtimes — the parquet file source processes
    files in mod-time order, so delivery is in-order at bucket
    granularity and within-bucket disorder is absorbed by the query's
    watermark. 3 buckets (r10, was 5): each file is one micro-batch
    (maxFilesPerTrigger=1) and stateful stages re-run every trigger, so
    trigger count is pure per-workload overhead at oracle/bench scale —
    3 real batches still exercise every cross-batch contract (state
    carry, watermark advance, eviction, session merge) and the
    5-bucket/3-bucket results are identical by the same in-order
    argument that makes the batch oracle valid at ANY bucketing; the
    bucket cut + sentinel merge + tmpfs checkpoints + localCheckpoint
    drain together measured 40.2s -> 22.5s across the 8-workload suite
    at sf0.1. ``out_dirs`` is [(dir, filter_expr|None), ...] (one
    filtered copy of each bucket per dir — the two sides of a
    stream-stream join). ``tail`` (same schema) is the watermark-flush
    sentinel that closes all real append-mode windows (its own window
    never closes, so it can never leak into output): one copy rides in
    the LAST bucket file (advances the watermark), one is written as
    the trailing file (the deterministic emission batch). TIMESTAMP_NTZ forbids numeric casts, so
    bucketing is date arithmetic."""
    import os

    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    ).collect()[0]
    span_d = max(1, (bounds["hi"] - bounds["lo"]).days + 1)
    step_d = span_d // n_buckets + 1
    bucket = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit(bounds["lo"])) / F.lit(step_d)
    )
    base = ev.withColumn("_b", bucket)
    _pin = _pin_newest
    # ``tail`` may be one DataFrame (same sentinel into every dir) or a
    # list aligned with ``out_dirs`` (per-side sentinels — a
    # stream-stream OUTER join needs flush rows on BOTH sides whose
    # keys can never match each other)
    tails = (
        list(tail)
        if isinstance(tail, (list, tuple))
        else ([tail] * len(out_dirs) if tail is not None else None)
    )
    for k in range(n_buckets):
        for di, (d, flt) in enumerate(out_dirs):
            sel = base.filter(F.col("_b") == k)
            if flt is not None:
                sel = sel.filter(flt)
            sel = sel.drop("_b")
            if tails is not None and k == n_buckets - 1:
                # Sentinel #1 rides IN the last real bucket (r10 trigger
                # cut): the watermark is recomputed from the batch's max
                # event time at batch END, so "last bucket + sentinel"
                # advances it past every real window exactly like a
                # separate sentinel batch would — one fewer trigger per
                # dir. Closed-window EMISSION then happens in the batch
                # AFTER the advance, and relying on the engine's
                # optional no-data flush batch races
                # processAllAvailable (observed: final real windows
                # missing) — so sentinel #2 below stays a real trailing
                # file. Both sentinel rows land in the never-emitted
                # '__flush__' window.
                sel = sel.unionByName(tails[di])
            sel.coalesce(1).write.mode("append").parquet(d)
            _pin(d, 1_700_000_000 + k)
    if tails is not None:
        for di, (d, _flt) in enumerate(out_dirs):
            tails[di].coalesce(1).write.mode("append").parquet(d)
            _pin(d, 1_700_000_000 + n_buckets)


def _pin_newest(d: str, mtime: int) -> None:
    """Pin the newest part file's mtime — the file source's delivery
    order rides on these (one pinned file per write call)."""
    import os

    parts = [
        os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-")
    ]
    os.utime(max(parts, key=os.path.getmtime), (mtime, mtime))


def _flush_sentinel(ev, uid: int = -1):
    """One far-future row (max ts + 30 days) that advances the watermark
    past every real window so append-mode aggregates flush; excluded
    from output by construction (ids ``uid`` < 0, event_type
    '__flush__'). ``uid`` matters for stream-stream OUTER joins: each
    side gets a DIFFERENT negative key so the two sides' sentinels can
    never join each other, while each still advances its own side's
    watermark (the engine evicts on min(left_wm, right_wm))."""
    return ev.agg(F.max("ts").alias("ts")).select(
        F.lit(int(uid)).cast("long").alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(int(uid)).cast("long").alias("user_id"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )



def _ckpt_tmp(prefix: str) -> str:
    """Per-run streaming-checkpoint scratch dir under the system temp
    dir. The checkpoint (offset log, commit log, state-store deltas)
    lives only for the drain: these drains run to completion and are
    discarded. Checkpoints on tmpfs bought nothing measurable: the warm
    stream_dedup_hashes build (sf0.01, ``local[2]``, 4-core host, median
    of 7) took 0.265 s with them on tmpfs and 0.263 s on disk, and 0.586
    vs 0.572 s before ``build_spark`` registered the java.nio local
    filesystem — the per-trigger file cost was ``chmod``/``readlink``
    processes, not I/O. On a real cluster the checkpoint goes to
    reliable shared storage instead (it IS the recovery contract
    there)."""
    import tempfile

    return tempfile.mkdtemp(prefix=prefix)


def _drain_stream(spark, sdf, tmp: str, qname: str, state_partitions: int = 2):
    """Workload-side alias of the public knob-bearing drain
    (streaming.ingest.drain_to_batch, r9 verdict task 6) — the
    ``state_partitions`` sizing guidance lives on that docstring."""
    from ..streaming.ingest import drain_to_batch

    return drain_to_batch(
        spark, sdf, tmp, qname, state_partitions=state_partitions
    )


@workload(
    "stream_interval_join",
    """
    WITH l AS (
      SELECT user_id, event_id AS l_event_id, ts AS l_ts
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, event_id AS r_event_id, ts AS r_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l_event_id, l_ts, r_event_id, r_ts
    FROM l JOIN r ON l.user_id = r.user_id
      AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 4 HOUR
    """,
    doc="Stream-stream event-time interval join run as a REAL Structured "
    "Streaming query (streaming.ingest.join_streams_interval): clicks "
    "and purchases are split into day-bucketed micro-batch files with pinned "
    "ascending mtimes (the file source's delivery order), read with "
    "maxFilesPerTrigger=1, joined on user_id with r_ts in [l_ts, l_ts + "
    "4h] under 1-day watermarks on BOTH sides — the state-store "
    "eviction contract that makes the join runnable on an unbounded "
    "stream — and sunk to memory. Under in-order micro-batches the "
    "watermark only evicts rows whose join window has closed, so the "
    "streaming result equals the batch interval join, which is exactly "
    "what the DuckDB oracle computes: the cross-batch buffering, "
    "watermark eviction, and interval condition are all hash-checked "
    "cross-engine, not just pytest-pinned.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import join_streams_interval, stream_from_parquet_dir

    def build(ev, d):
        _stream_bucket_files(
            ev,
            [
                (os.path.join(d, "l"), F.col("event_type") == "click"),
                (os.path.join(d, "r"), F.col("event_type") == "purchase"),
            ],
        )

    feed = _ensure_stream_feed(spark, sf_dir, "sij", build)
    tmp = _ckpt_tmp("sij_")  # per-run checkpoint only
    try:
        joined = join_streams_interval(
            stream_from_parquet_dir(spark, os.path.join(feed, "l")),
            stream_from_parquet_dir(spark, os.path.join(feed, "r")),
            key="user_id",
            within="4 hours",
            watermark="1 day",
        )
        return _drain_stream(spark, joined, tmp, f"sij_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_interval_join_left",
    """
    WITH l AS (
      SELECT user_id, event_id AS l_event_id, ts AS l_ts
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, event_id AS r_event_id, ts AS r_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l_event_id, l_ts, r_event_id, r_ts
    FROM l LEFT JOIN r ON l.user_id = r.user_id
      AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 4 HOUR
    """,
    doc="Stream-stream LEFT OUTER event-time interval join — the "
    "append-mode contract the inner variant can't check: an unmatched "
    "click emits (with NULL purchase columns) only after the watermark "
    "proves no in-window purchase can still arrive, i.e. outer results "
    "trail state eviction. Needs flush sentinels on BOTH sides (the "
    "engine evicts on min(left_wm, right_wm)) with DIFFERENT negative "
    "keys so the sentinels can never join each other; each sentinel is "
    "itself an unmatched left/buffered right row whose own window "
    "never closes, so neither can leak. Under the in-order feed the "
    "emitted set equals the batch LEFT JOIN — the DuckDB oracle.",
)
def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..streaming.ingest import join_streams_interval, stream_from_parquet_dir

    def build(ev, d):
        _stream_bucket_files(
            ev,
            [
                (os.path.join(d, "l"), F.col("event_type") == "click"),
                (os.path.join(d, "r"), F.col("event_type") == "purchase"),
            ],
            tail=[_flush_sentinel(ev, uid=-1), _flush_sentinel(ev, uid=-2)],
        )

    feed = _ensure_stream_feed(spark, sf_dir, "sijl", build)
    tmp = _ckpt_tmp("sijl_")  # per-run checkpoint only
    try:
        # NO sentinel-exclusion filter — none is needed (a filter would
        # also be dangerous: pushed below the watermark it would eat
        # the flush row, the r9 grouping-filter lesson). The left
        # sentinel is an unmatched left row whose join window
        # [sent_ts, sent_ts + 4h] can never be passed by the global
        # watermark (= min over both sides of max_seen - 1 day, and
        # sent_ts IS max_seen), so the engine can never prove it
        # unmatched and never emits it; the right sentinel can never
        # appear in LEFT-join output at all.
        joined = join_streams_interval(
            stream_from_parquet_dir(spark, os.path.join(feed, "l")),
            stream_from_parquet_dir(spark, os.path.join(feed, "r")),
            key="user_id",
            within="4 hours",
            watermark="1 day",
            how="left_outer",
        )
        return _drain_stream(
            spark, joined, tmp, f"sijl_{os.getpid()}"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_late_data_drop",
    """
    WITH inorder AS (
      SELECT * FROM events WHERE event_id % 17 <> 0
    ),
    late AS (
      SELECT * FROM events WHERE event_id % 17 = 0
    ),
    b AS (
      SELECT min(CAST(ts AS DATE)) AS lo,
             (date_diff('day', min(CAST(ts AS DATE)),
                        max(CAST(ts AS DATE))) + 1) AS span
      FROM inorder
    ),
    wm AS (
      SELECT max(ts) - INTERVAL 1 DAY AS cut
      FROM inorder, b
      WHERE floor(date_diff('day', b.lo, CAST(ts AS DATE))
                  / ((b.span // 3) + 1)) <= 1
    ),
    kept AS (
      SELECT ts, event_type, value FROM inorder
      UNION ALL
      SELECT l.ts, l.event_type, l.value FROM late l, wm
      WHERE date_trunc('hour', l.ts) + INTERVAL 1 HOUR > wm.cut
    )
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM kept GROUP BY window_start, event_type
    """,
    doc="LATE-DATA semantics under a real watermark — the one streaming "
    "contract an in-order feed can never exercise: a deterministic "
    "slice of events (event_id % 17 = 0) is WITHHELD from the in-order "
    "buckets and delivered as a fourth, out-of-order micro-batch. "
    "Spark keeps TWO watermarks per trigger (discovered by this "
    "oracle's first mismatch, not assumed): the LATE-EVENT filter for "
    "batch N uses the watermark as of batch N-1's START — i.e. data "
    "through batch N-2 (here: the first two buckets) — while EVICTION "
    "uses the batch-N-1-end value, so rows that raced the update are "
    "not dropped prematurely. A late row is therefore DROPPED iff its "
    "1h window end <= max(ts of buckets 0-1) - 1 day, and MERGED into "
    "still-live state otherwise (including windows the eviction "
    "watermark closes in that same trigger — they emit WITH the "
    "merged counts). The oracle replicates exactly that rule (the "
    "b/wm/kept CTEs mirror the bucket arithmetic), so the hash check "
    "pins both the drop set and the late-merge arithmetic "
    "cross-engine. The flush sentinel rides IN the late batch, "
    "closing all surviving windows one trailing batch later.",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..streaming.ingest import stream_from_parquet_dir, streaming_tumbling_agg

    def build(ev, d):
        dd = os.path.join(d, "ev")
        inorder = ev.filter(F.col("event_id") % 17 != 0)
        late = ev.filter(F.col("event_id") % 17 == 0)
        _stream_bucket_files(inorder, [(dd, None)])  # 3 in-order batches
        # batch 4: the late slice + sentinel #1 (late rows are filtered
        # against the PRE-batch watermark, so the sentinel riding along
        # cannot save them; it advances the watermark for the flush)
        late.unionByName(_flush_sentinel(ev)).coalesce(1).write.mode(
            "append"
        ).parquet(dd)
        _pin_newest(dd, 1_700_000_000 + 10)
        # batch 5: the deterministic emission batch
        _flush_sentinel(ev).coalesce(1).write.mode("append").parquet(dd)
        _pin_newest(dd, 1_700_000_000 + 11)

    feed = _ensure_stream_feed(spark, sf_dir, "sld", build)
    tmp = _ckpt_tmp("sld_")  # per-run checkpoint only
    try:
        agg = streaming_tumbling_agg(
            stream_from_parquet_dir(spark, os.path.join(feed, "ev")),
            window="1 hour",
            watermark="1 day",
        )
        return _drain_stream(spark, agg, tmp, f"sld_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_tumbling_agg",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY window_start, event_type
    """,
    doc="Watermarked tumbling-window streaming aggregate "
    "(streaming.ingest.streaming_tumbling_agg) run as a real Structured "
    "Streaming query over in-order micro-batch files, APPEND output "
    "mode — a window row is emitted exactly once, when the 2h watermark "
    "closes it; a far-future flush sentinel closes the final windows "
    "(its own never closes, so it cannot leak). Under in-order feed "
    "nothing is late, so the emitted set equals the batch tumbling "
    "aggregate — the DuckDB oracle. Decimal-sum discipline keeps the "
    "float hash cross-engine-stable.",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import stream_from_parquet_dir, streaming_tumbling_agg

    feed = _ensure_stream_feed(
        spark, sf_dir, "sta",
        lambda ev, d: _stream_bucket_files(
            ev, [(os.path.join(d, "ev"), None)], tail=_flush_sentinel(ev)
        ),
    )
    tmp = _ckpt_tmp("sta_")  # per-run checkpoint only
    try:
        d = os.path.join(feed, "ev")
        # NO event_type filter on the agg: a filter on a grouping column
        # gets pushed below the aggregate to the SCAN (correct for the
        # groups, fatal here — it would drop the sentinel row before the
        # EventTimeWatermark operator, freezing the watermark and
        # withholding the final real windows; observed, not
        # hypothetical). The sentinel needs no exclusion anyway: its
        # window's end is past every event time the stream will ever
        # see, so the watermark can never close it — structurally
        # unemittable in append mode.
        agg = streaming_tumbling_agg(
            stream_from_parquet_dir(spark, d), window="1 hour", watermark="2 hours"
        )
        return _drain_stream(spark, agg, tmp, f"sta_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_enrich_agg",
    """
    SELECT date_trunc('day', ts) AS window_start, n_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events e JOIN nation ON n_nationkey = e.user_id % 25
    GROUP BY window_start, n_name
    """,
    doc="Stream-static enrichment feeding a windowed aggregate — the "
    "standard streaming-pipeline composition: events stream joins the "
    "25-row nation dim via streaming.ingest.enrich_stream (broadcast "
    "static side: every micro-batch is a map-only probe, no stream-side "
    "shuffle, no state store; nation's cardinality is FIXED by the "
    "schema at every scale, the bounded-dim broadcast contract), then a "
    "1-day tumbling window per n_name in append mode. The watermark is "
    "applied BEFORE the join so the flush sentinel advances it even "
    "though the join drops the sentinel row (user_id -1 matches no "
    "nation). Hash-checked against the batch join+agg in DuckDB.",
)
def stream_enrich_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import enrich_stream, stream_from_parquet_dir

    nation = load_tables(spark, sf_dir)["nation"]
    dim = nation.select(
        F.col("n_nationkey").cast("long").alias("nk"), "n_name"
    )
    feed = _ensure_stream_feed(
        spark, sf_dir, "sea",
        lambda ev, d: _stream_bucket_files(
            ev, [(os.path.join(d, "ev"), None)], tail=_flush_sentinel(ev)
        ),
    )
    tmp = _ckpt_tmp("sea_")  # per-run checkpoint only
    try:
        d = os.path.join(feed, "ev")
        stream = (
            stream_from_parquet_dir(spark, d)
            .withWatermark("ts", "2 hours")
            .withColumn("nk", F.col("user_id") % 25)
        )
        agg = (
            enrich_stream(stream, dim, on="nk", how="inner")
            .groupBy(F.window("ts", "1 day").alias("w"), "n_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "n_name",
                "n",
                "total_value",
            )
        )
        return _drain_stream(spark, agg, tmp, f"sea_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_stateful_totals",
    """
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS lo,
             (date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1)
               AS span
      FROM events
    ),
    e AS (
      SELECT user_id, floor(value) AS v,
             CAST(floor(date_diff('day', b.lo, CAST(ts AS DATE))
                        / ((b.span // 3) + 1)) AS BIGINT) AS b
      FROM events, bounds b
    ),
    g AS (
      SELECT user_id, b, CAST(count(*) AS BIGINT) AS n,
             sum(coalesce(v, 0)) AS s
      FROM e GROUP BY user_id, b
    )
    SELECT user_id,
           CAST(sum(n) OVER w AS BIGINT) AS n_events,
           CAST(sum(s) OVER w AS DOUBLE) AS total_value
    FROM g
    WINDOW w AS (PARTITION BY user_id ORDER BY b ROWS UNBOUNDED PRECEDING)
    """,
    doc="The CUSTOM STATEFUL streaming operator "
    "(streaming.ingest.running_user_totals — applyInPandasWithState, "
    "explicit per-user (count, total) state, one emitted snapshot per "
    "user per micro-batch it appears in) driver-oracled: with one "
    "bucket per micro-batch, the emitted row set is exactly the "
    "per-(user, bucket) cumulative prefix sums, which the oracle "
    "recomputes as a keyed running-sum window over the batch "
    "derivation. Values are floored to integer-valued doubles in the "
    "feed so the Python-side float accumulation is order-exact "
    "cross-engine. No watermark/sentinel needed: the operator emits "
    "per batch, not on window close.",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import running_user_totals, stream_from_parquet_dir

    feed = _ensure_stream_feed(
        spark, sf_dir, "sst",
        lambda ev, d: _stream_bucket_files(
            ev.withColumn("value", F.floor("value").cast("double")),
            [(os.path.join(d, "ev"), None)],
        ),
    )
    tmp = _ckpt_tmp("sst_")  # per-run checkpoint only
    try:
        totals = running_user_totals(
            stream_from_parquet_dir(spark, os.path.join(feed, "ev"))
        )
        # state_partitions=8 here, against the suite's 2: the stateful
        # stage is applyInPandasWithState, so partition count = Python
        # workers running concurrently per trigger — the Arrow/Python
        # stage wants MORE parallelism where the JVM stateful aggs want
        # less per-trigger task overhead (measured: 4.0s at 8 vs 6.6s
        # at 4; rows identical — the knob-pinning test's contract)
        return _drain_stream(
            spark, totals, tmp, f"sst_{os.getpid()}", state_partitions=8
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_sliding_agg",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts)
             - o * INTERVAL '15 minutes' AS window_start,
           time_bucket(INTERVAL '15 minutes', ts)
             - o * INTERVAL '15 minutes' + INTERVAL '1 hour' AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(o)
    GROUP BY window_start, window_end, event_type
    """,
    doc="Watermarked SLIDING-window streaming aggregate "
    "(streaming.ingest.streaming_sliding_agg, 1h window / 15min slide: "
    "each event lands in exactly window/slide = 4 overlapping windows) "
    "in append mode over the same sentinel-flushed feed as "
    "stream_tumbling_agg — the oracle derives the 4 windows per event "
    "with an explicit offset cross join and recomputes the aggregate; "
    "the sentinel's windows can never close, so they cannot leak.",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import stream_from_parquet_dir, streaming_sliding_agg

    feed = _ensure_stream_feed(
        spark, sf_dir, "sta",
        lambda ev, d: _stream_bucket_files(
            ev, [(os.path.join(d, "ev"), None)], tail=_flush_sentinel(ev)
        ),
    )
    tmp = _ckpt_tmp("ssl_")  # per-run checkpoint only
    try:
        agg = streaming_sliding_agg(
            stream_from_parquet_dir(spark, os.path.join(feed, "ev")),
            window="1 hour", slide="15 minutes", watermark="2 hours",
        )
        return _drain_stream(spark, agg, tmp, f"ssl_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_session_agg",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    doc="SESSION-window streaming aggregate (streaming.ingest."
    "sessionize_stream — Spark's built-in session_window, 30min gap, "
    "per-user state merged ACROSS micro-batches) in append mode over "
    "the shared sentinel-flushed feed: a session emits exactly once, "
    "when the watermark passes its end (last event + gap). Day-bucketed "
    "in-order delivery guarantees a boundary-spanning session cannot "
    "close before its continuation arrives (the continuation is within "
    "30min of the bucket edge, the watermark lags 2h behind it), so the "
    "emitted set equals the batch gap-sessionization — the oracle's "
    "lag+cumsum derivation, the same shape events_sessionize pins for "
    "the batch operator.",
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import sessionize_stream, stream_from_parquet_dir

    feed = _ensure_stream_feed(
        spark, sf_dir, "sta",
        lambda ev, d: _stream_bucket_files(
            ev, [(os.path.join(d, "ev"), None)], tail=_flush_sentinel(ev)
        ),
    )
    tmp = _ckpt_tmp("sse_")  # per-run checkpoint only
    try:
        agg = sessionize_stream(
            stream_from_parquet_dir(spark, os.path.join(feed, "ev")),
            gap="30 minutes", watermark="2 hours",
        )
        return _drain_stream(spark, agg, tmp, f"sse_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_dedup_hashes",
    """
    SELECT DISTINCT md5(text) AS content_hash FROM documents
    """,
    doc="Streaming exact dedup (streaming.ingest.streaming_dedup — "
    "stateful dropDuplicates keyed by the 16-byte content digest, state "
    "carried ACROSS micro-batches) driver-oracled on its deterministic "
    "projection: which ROW survives a within-batch collision is "
    "partition-order dependent, but the SET of surviving content "
    "hashes is exactly the distinct-digest set, which DuckDB "
    "recomputes. Three doc_id-range micro-batches; the cross-batch "
    "dedup state is what a batch DISTINCT cannot exercise.",
)
def stream_dedup_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import streaming_dedup

    d0 = load_tables(spark, sf_dir)["documents"]

    def build(ev_unused, d):
        # three ascending-doc_id chunks (the ordered-delivery contract),
        # mtime-pinned like every feed in this module
        out = os.path.join(d, "docs")
        max_id = d0.agg(F.max("doc_id")).collect()[0][0] or 0
        cuts = [0, max_id // 3 + 1, 2 * max_id // 3 + 1, max_id + 1]
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            (
                d0.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .coalesce(1)
                .write.mode("append")
                .parquet(out)
            )
            parts = [
                os.path.join(out, f)
                for f in os.listdir(out)
                if f.startswith("part-")
            ]
            newest = max(parts, key=os.path.getmtime)
            os.utime(newest, (1_700_000_000 + i, 1_700_000_000 + i))

    feed = _ensure_stream_feed(
        spark, sf_dir, "sdh", build, tables=("documents",)
    )
    tmp = _ckpt_tmp("sdh_")  # per-run checkpoint only
    try:
        docs = (
            spark.readStream.schema(d0.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(feed, "docs"))
        )
        deduped = streaming_dedup(docs).select("content_hash")
        return _drain_stream(spark, deduped, tmp, f"sdh_{os.getpid()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@workload(
    "stream_upsert_sink",
    """
    WITH per AS (
      SELECT o_custkey AS custkey, o_orderkey % 3 AS b,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey, b
    ),
    last AS (SELECT custkey, max(b) AS mb FROM per GROUP BY custkey)
    SELECT p.custkey, p.n_orders
    FROM per p JOIN last l ON p.custkey = l.custkey AND p.b = l.mb
    """,
    doc="Continuous upsert of a stream into a SnapshotTable "
    "(streaming.ingest.upsert_sink — foreachBatch + the oracle-checked "
    "MERGE-by-key kernel, exactly-once by idempotence): three ordered "
    "micro-batches of per-customer aggregates, each batch REPLACING the "
    "target row wholesale, so the final table holds each customer's row "
    "from the LAST batch that touched it — which the oracle recomputes "
    "as a keyed argmax over the batch derivation. The sink surface "
    "(merge semantics + snapshot commit per batch) crosses the DuckDB "
    "comparator instead of staying pytest-only.",
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.dml import SnapshotTable
    from ..streaming.ingest import upsert_sink

    o = load_tables(spark, sf_dir)["orders"]

    def build(ev_unused, d):
        out = os.path.join(d, "ups")
        for b in range(3):
            (
                o.filter(F.col("o_orderkey") % 3 == b)
                .groupBy(F.col("o_custkey").alias("custkey"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
                .coalesce(1)
                .write.mode("append")
                .parquet(out)
            )
            parts = [
                os.path.join(out, f)
                for f in os.listdir(out)
                if f.startswith("part-")
            ]
            newest = max(parts, key=os.path.getmtime)
            os.utime(newest, (1_700_000_000 + b, 1_700_000_000 + b))

    feed = _ensure_stream_feed(
        spark, sf_dir, "ups", build, tables=("orders",)
    )
    tmp = _ckpt_tmp("ups_")
    table = SnapshotTable(spark, os.path.join(tmp, "wh"), "ups_target")
    table.create(
        spark.createDataFrame([], "custkey long, n_orders long")
    )
    stream = (
        spark.readStream.schema("custkey long, n_orders long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed, "ups"))
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    query = None
    try:
        query = upsert_sink(
            stream, table, keys=["custkey"],
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            query_name=f"ups_{os.getpid()}",
        )
        query.processAllAvailable()
        final = table.read()
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if query is not None:
            query.stop()
        shutil.rmtree(tmp, ignore_errors=True)
