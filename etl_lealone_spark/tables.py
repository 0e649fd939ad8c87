"""Table loading & registration for the driver-generated test data.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
/root/testdata/sf{0.001,0.01,0.1}/.

Scale notes: loading is a lazy parquet scan — column pruning and filter
pushdown happen in Catalyst, so no table data is read until an action
runs. Registration is not free, though: each ``spark.read.parquet``
without a schema runs one Spark job to read a footer and infer the
schema — about 1 s for the first table of a session and 50–80 ms for
each after it at sf0.01 (``local[2]`` on a 4-core Xeon). ``load_tables``
memoizes the relations per session so that cost is paid once. At
cluster scale the same code reads a partitioned table directory;
nothing here assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor (they grow
# sublinearly or are fixed-size in TPC-H-like generators).
BROADCASTABLE = {"region", "nation", "supplier"}


# Timestamp columns across testdata generations: earlier drops store
# parquet TIMESTAMP(NANOS) — Spark reads them as long under
# spark.sql.legacy.parquet.nanosAsLong and we convert at load; current
# drops store TIMESTAMP(MICROS), which Spark reads directly as
# TIMESTAMP_NTZ (matching DuckDB's naive TIMESTAMP) and needs no
# conversion. The loader handles both; downstream code must not assume
# LTZ (no cast-timestamp-to-bigint — use interval arithmetic).
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # defensive: the driver may pass a session built without this legacy
    # conf; it is runtime-settable and required to read TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in NANO_TS_COLUMNS.get(name, ()):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros((F.col(col) / 1000).cast("long"))
            )
    return df


# Lazy-relation memo, keyed by (SparkContext application id, dir): one
# ``spark.read.parquet`` costs ~0.1s of driver-side footer/metadata work
# even warm, so re-resolving all ten relations on EVERY workload build
# (~1.0s/call measured, r12) multiplied across an 86-query bench run was
# ~half the suite wall. The cached object is the UNRESOLVED lazy scan —
# the session-catalog equivalent of a registered view, not a result or
# a materialized intermediate: every query still plans, optimizes and
# executes from the parquet files. Keyed by applicationId so a stopped
# context's DataFrames are never handed to a new one; per-process only
# (a fresh bench/verify invocation starts empty).
_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _TABLE_CACHE.get(key)
    if cached is None:
        cached = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
        _TABLE_CACHE[key] = cached
    # shallow copy: callers may pop/insert on the mapping they receive
    return dict(cached)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (so SQL workloads can run) and
    return the DataFrames keyed by name."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
