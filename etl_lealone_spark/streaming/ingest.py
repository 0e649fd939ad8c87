"""Structured Streaming pipelines.

Batch operators in this engine have streaming twins here; each takes a
streaming DataFrame (``readStream``) and returns the transformed
streaming DataFrame for the caller to sink (memory sink in tests,
kafka/files in production).

Scale notes: watermarks bound state; ``dropDuplicates`` state is keyed by
the 16-byte digest + watermark window; session windows use Spark's
built-in ``session_window`` (state per active session, closed by
watermark). All state lives in the executor state store — at cluster
scale back it with RocksDB (spark.sql.streaming.stateStore.providerClass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_from_parquet_dir(
    spark: SparkSession, path: str, schema: T.StructType = EVENTS_SCHEMA
) -> DataFrame:
    """File-source stream over a parquet directory (one file per
    micro-batch in tests via maxFilesPerTrigger)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def streaming_tumbling_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type — the
    streaming twin of the ``events_tumbling_agg`` batch workload."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window aggregate: each event contributes to
    window/slide overlapping windows (here 4). State per (window ×
    event_type) bucket, closed by the watermark like the tumbling twin —
    the standard moving-average shape over an event stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join on ``key`` with an event-time interval
    bound: a right-side event matches a left-side event it follows
    within ``within``.

    Both sides carry watermarks and the join condition bounds right.ts
    relative to left.ts — together they let Spark expire buffered rows
    from the state store once no future match is possible; an unbounded
    stream-stream join would hold BOTH streams in state forever, which
    is the scale failure this wrapper exists to prevent. Output columns:
    key, l_event_id/l_ts, r_event_id/r_ts.

    ``how='left_outer'`` additionally emits unmatched LEFT rows with
    null right columns — but only once the watermark has passed the
    row's join window (the engine must prove no future match can
    arrive), so outer results trail the watermark by design.
    """
    l = (
        left.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("k"),
            F.col("event_id").alias("l_event_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("r_k"),
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    cond = (
        (F.col("k") == F.col("r_k"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return (
        l.join(r, cond, how)
        .select(F.col("k").alias(key), "l_event_id", "l_ts", "r_event_id", "r_ts")
    )


def streaming_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop any doc whose content digest was seen
    before (state = one 16-byte key per distinct doc; bound it with a
    watermark column when the stream has event time)."""
    hashed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    if watermark_col:
        hashed = hashed.withWatermark(watermark_col, watermark)
        return hashed.dropDuplicates(["content_hash", watermark_col])
    return hashed.dropDuplicates(["content_hash"])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total maintained in explicit state —
    the escape hatch for stateful logic the built-in windows can't
    express (reference has no streaming at all; this is the extension
    surface's custom-operator pattern).

    Emits one row per user per micro-batch with the cumulative totals.
    State = (count, total) per user, 16 bytes — millions of users fit one
    executor's state store.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            (n, total) = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user via the built-in session_window — the
    streaming twin of the ``events_sessionize`` batch workload."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream with a (small) dimension table.

    The static side broadcasts, so every micro-batch is a map-only probe
    — no stream-side shuffle and no state store involvement (stream-
    static joins are stateless by definition: each batch joins against
    the CURRENT dimension snapshot). The standard enrichment step before
    a streaming agg; at cluster scale refresh the dimension by swapping
    the DataFrame between restarts, or use a big static side without
    broadcast and let AQE pick the join.
    """
    return events.join(F.broadcast(dim), on=on, how=how)


def upsert_sink(
    stream: DataFrame,
    table,
    keys: list,
    checkpoint_dir: str,
    query_name: str = "upsert_sink",
):
    """Continuous upsert of a stream into a :class:`SnapshotTable` via
    ``foreachBatch`` + the MERGE-by-key kernel.

    Each micro-batch full-outer-merges into the current snapshot and
    commits a new one (operators/dml.py:merge_by_key — the same
    oracle-checked kernel the batch MERGE statement uses). Restart
    safety: the merge is idempotent per key, so a replayed batch after a
    crash converges to the same table — the standard
    exactly-once-by-idempotence sink contract. Batches containing
    several versions of one key keep the latest by a deterministic
    in-batch reduction before the merge.
    """
    from ..operators.dml import merge_by_key

    key_cols = list(keys)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # collapse in-batch duplicates per key (keep max by all non-key
        # cols is arbitrary; use last-wins on a deterministic order)
        src = batch_df.dropDuplicates(key_cols)
        merged = merge_by_key(table.read(), src, key_cols)
        table.write(merged, mode="overwrite")

    return (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .outputMode("update")
        .start()
    )


def drain_to_batch(
    spark: SparkSession,
    sdf: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    state_partitions: int = 2,
) -> DataFrame:
    """Run a streaming DataFrame to completion (memory sink, append
    mode) and return its rows as a plain batch DataFrame.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query's lifetime, which fixes the stateful-stage TASK COUNT per
    micro-batch — per-trigger overhead, the streaming twin of sizing
    shuffle partitions for a batch job, NOT a correctness knob: the
    state store hash-partitions by key at any setting, so the emitted
    rows are identical (pinned by test at two settings). Sizing
    guidance: at oracle/bench scale small wins (32 partitions measured
    ~3x the wall of 8). The warm stream_dedup_hashes build at sf0.01,
    ``local[2]`` on a 4-core host, median of 7 runs in one session:
    0.25 s at 1, 0.26 s at 2 and 0.29 s at 4, identical rows at every
    setting. Before the local filesystem ``build_spark`` registers, the
    same build took 0.51/0.57/0.67 s, most of it ``chmod`` and
    ``readlink`` processes; the RocksDB state store provider, measured
    before that change, was slower than the default one. On a cluster
    size it to state-key cardinality / executor count like any shuffle
    — a query whose state keys outgrow the setting serializes state
    work, so this is the first knob to raise when stateful stages lag.
    The session conf is held for the WHOLE drain and restored after: the
    first micro-batch is planned asynchronously after ``start()``, so
    restoring immediately would still be racy.
    """
    import os

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # no-data micro-batches OFF for the drain (r12, measured): the
    # harness NEVER relies on them — every emission happens in a DATA
    # batch by the sentinel design (closed-window emission rides the
    # trailing sentinel file; relying on the engine's optional no-data
    # flush batch races processAllAvailable — the r9 lesson), so the
    # extra trigger the engine schedules after the last file is pure
    # per-query overhead (measured 1.5-1.7s on the stream-stream
    # interval join: a 0-input batch that still pays full state-store
    # commit). A live low-latency deployment wants it ON (it is what
    # advances emission between arrivals); run-to-completion drains by
    # construction do not. Scoped + restored like shuffle.partitions.
    prev_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    query = None
    try:
        query = (
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(checkpoint_dir, "ckpt"))
            .start()
        )
        query.processAllAvailable()
        out = spark.table(query_name)
        # eager localCheckpoint: copies the memory-sink rows into block
        # storage so the returned DataFrame survives query.stop() +
        # dropTempView below, WITHOUT the old collect()+createDataFrame
        # driver roundtrip (Python-pickle both ways — measured ~1.3s of
        # a 4s drain on a 95k-row session-window result)
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
        if query is not None:
            query.stop()
            spark.catalog.dropTempView(query_name)
