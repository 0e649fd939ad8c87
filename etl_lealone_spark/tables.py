"""Table loading & registration for the driver-generated test data.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
/root/testdata/sf{0.001,0.01,0.1}/.

Scale notes: loading is a lazy parquet scan — column pruning and filter
pushdown happen in Catalyst, so no table data is read until an action
runs. Registration runs no Spark job either: each table's schema is
read on the driver from one parquet footer (:func:`footer_schema`, the
same footer and converter Spark's schema inference uses) and passed to
``spark.read.schema(...)``, so Spark skips the inference job a bare
``spark.read.parquet`` runs per table — about 1 s for the first table of
a session and 50–80 ms for each after it at sf0.01 (``local[2]`` on a
4-core Xeon). Registering all ten takes ~2.6 s in a fresh session,
nearly all of it first-use JVM warm-up, and ~0.4 s warm; ``load_tables``
memoizes the relations per session. At cluster scale the same code reads a partitioned table directory:
nothing here assumes single-file inputs.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

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


def _first_parquet_file(fs, root):
    """The file whose footer Spark's schema inference reads under
    ``root`` (``ParquetUtils.inferSchema`` without mergeSchema): a
    ``_common_metadata`` summary, else a ``_metadata`` one, else the first
    data file by path. Hidden entries are skipped as Spark's file index
    skips them: names starting with '.', and with '_' unless a partition
    directory (``_c=v``) or a summary file."""
    if not fs.getFileStatus(root).isDirectory():
        return root
    leaves, todo = [], [root]
    while todo:
        for status in fs.listStatus(todo.pop()):
            path = status.getPath()
            name = path.getName()
            if (
                name.startswith(".")
                or name.endswith("._COPYING_")
                or name.startswith("_")
                and "=" not in name
                and not name.startswith(("_common_metadata", "_metadata"))
            ):
                continue
            (todo if status.isDirectory() else leaves).append(path)
    if not leaves:
        raise FileNotFoundError(f"no parquet file under {root.toString()}")
    rank = {"_common_metadata": 0, "_metadata": 1}
    return min(leaves, key=lambda p: (rank.get(p.getName(), 2), p.toString()))


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The data schema Spark's parquet inference gives ``path``, read on
    the driver from one footer: no Spark job runs.

    It reads the footer inference reads (:func:`_first_parquet_file`) and
    converts it as inference does: the Spark row metadata a Spark-written
    file carries wins, else Spark's ``ParquetToSparkSchemaConverter``
    built from the session's SQLConf converts the parquet schema, so the
    session's nanosAsLong, timestamp-NTZ and binary-as-string settings
    apply exactly as they apply to inference. Partition columns are not
    in it: partition discovery adds them when ``path`` is read with this
    schema. There is no fallback to inference: a footer that cannot be
    read raises with its path."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    try:
        file = _first_parquet_file(root.getFileSystem(conf), root)
    except Py4JJavaError as exc:
        raise OSError(f"cannot list parquet path {path}: {exc.java_exception}") from exc
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    try:
        footer = pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        schema = pq.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(file, footer),
            pq.ParquetToSparkSchemaConverter(state.conf()),
        )
    except Py4JJavaError as exc:
        raise ValueError(
            f"cannot read the parquet footer of {file.toString()}: {exc.java_exception}"
        ) from exc
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # defensive: the driver may pass a session built without this legacy
    # conf; it is runtime-settable and required to read TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for col in NANO_TS_COLUMNS.get(name, ()):
        if col in schema.fieldNames() and schema[col].dataType == LongType():
            df = df.withColumn(
                col, F.timestamp_micros((F.col(col) / 1000).cast("long"))
            )
    return df


# Lazy-relation memo, keyed by (SparkContext application id, dir): one
# ``load_table`` costs ~40-50 ms of driver-side footer read and relation
# resolution even warm (sf0.01, ``local[2]``, 4-core Xeon), so
# re-resolving all ten relations on EVERY workload build would add
# ~0.4 s to each build of an 86-query bench run. The cached object is
# the UNRESOLVED lazy scan — the session-catalog equivalent of a
# registered view, not a result or a materialized intermediate: every
# query still plans, optimizes and executes from the parquet files.
# Keyed by applicationId so a stopped context's DataFrames are never
# handed to a new one; per-process only (a fresh bench/verify invocation
# starts empty).
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
