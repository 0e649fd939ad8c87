"""Driver-facing workload inventory.

Each workload pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle string for DuckDB. ``tests/test_registry.py`` runs both and
compares row count, column set and the order-insensitive ``canonical``
frame (the driver contract in the repo root ``__spark_entry__.py``
exposes the same pairs).

Cross-engine determinism rules every workload in this package follows:

1. **No raw double aggregation.** ``sum(double)`` is order-dependent, so a
   32-partition Spark sum will not bit-match DuckDB's serial sum. Money-ish
   doubles are cast to ``decimal(18,2)`` (or wider) before SUM — decimal
   addition is exact and associative — then the final value is cast back to
   double in BOTH engines so values and schemas line up.
2. **Deterministic LIMIT.** Any LIMIT/top-k orders by a unique key chain so
   ties cannot reshuffle rows between engines.
3. **Aliases everywhere.** The driver sorts columns by name before hashing;
   every computed column carries the same alias in the Spark build and the
   oracle SQL.
4. **No native round() on computed doubles.** Each engine applies its own
   tie rule (Spark HALF_UP vs DuckDB's) and a value landing exactly on a
   .5 boundary of the rounded digit diverges (caught once at sf0.1).
   Quantize with ``floor(x * 1e6 + 0.5) / 1e6`` — the identical IEEE
   sequence in both engines. round() is safe only on values already
   quantized to fewer digits than the rounding keeps.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import duckdb
    import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL over the same tables
    doc: str = ""


_REGISTRY: dict[str, Workload] = {}


def workload(name: str, oracle: str, doc: str = ""):
    """Decorator registering a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Workload(name=name, build=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_workloads() -> dict[str, Workload]:
    # Import side-effect registration; keep imports here so a broken module
    # surfaces at driver time, not package-import time.
    from . import core_sql  # noqa: F401
    from . import core_sql2  # noqa: F401
    from . import core_sql3  # noqa: F401
    from . import asof_q  # noqa: F401
    from . import core_sql4  # noqa: F401
    from . import json_q  # noqa: F401
    from . import functions_q  # noqa: F401
    from . import dml_q  # noqa: F401
    from . import recursive_q  # noqa: F401
    from . import dedup_q  # noqa: F401
    from . import similarity_q  # noqa: F401
    from . import pq_q  # noqa: F401
    from . import text_q  # noqa: F401
    from . import pipeline_q  # noqa: F401
    from . import ranking_q  # noqa: F401
    from . import tpch_q  # noqa: F401
    from . import sketch_q  # noqa: F401
    from . import layout_q  # noqa: F401
    from . import range_q  # noqa: F401
    from . import analytics_q  # noqa: F401
    from . import graph_q  # noqa: F401
    from . import pretrain_q  # noqa: F401
    from . import ml_q  # noqa: F401

    return dict(_REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: w.build for name, w in all_workloads().items()}


def oracle_sql() -> dict[str, str]:
    return {name: w.oracle for name, w in all_workloads().items()}


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import duckdb

    from etl_lealone_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


class NonScalarCell(ValueError):
    """A result cell holds a list/array/dict — the driver comparator
    crashes on these (round-3 postmortem: embedding_quantize_int8), so
    the local gate must reject them too. md5/array_join such columns in
    BOTH engines instead (see operators/xhash.py conventions)."""


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows.

    Bit-compatible with the driver's comparator (round-3 postmortem):
    - floats are NEVER int-ified — a DuckDB HUGEINT surfacing as
      float64 ``0.0`` must mismatch Spark's int ``0`` here exactly as
      it does in the driver's hash (fix the oracle with an explicit
      ``CAST(... AS BIGINT)``, not the comparator);
    - list/array/dict cells raise ``NonScalarCell`` — the driver's
      hasher dies on them (``unhashable type: 'list'``).
    """
    df = df[sorted(df.columns)].copy()

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(float(v))
        if isinstance(v, (list, tuple, dict)) or type(v).__name__ == "ndarray":
            raise NonScalarCell(
                f"non-scalar result cell {type(v).__name__}: md5/array_join "
                "it in both engines (xhash rule)"
            )
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(norm)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
