"""Base tables register from their parquet footers.

``tables.footer_schema`` reads on the driver the one footer Spark's
schema inference reads and converts it with Spark's own converter, so
``load_table`` passes a schema and registering the views runs no Spark
job. These tests pin that the schema is exactly the inferred one, that
registration runs zero jobs, that a bad input raises with its path, and
(statically, without Spark) that no parquet read in the table loaders
goes back to inference.
"""

from __future__ import annotations

import ast
import glob
import os
import pathlib

import pytest

from etl_lealone_spark import tables
from etl_lealone_spark.tables import TABLE_NAMES, footer_schema, register_views

_PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_lealone_spark"
_GUARDED = ("tables.py", "operators/dml.py")


def _bare_parquet_reads(source: str) -> list[int]:
    """Lines of ``….read….parquet(…)`` calls whose reader chain sets no
    ``.schema(…)`` — each one runs a schema-inference job."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        reads = has_schema = False
        link = node.func.value
        while isinstance(link, (ast.Call, ast.Attribute)):
            if isinstance(link, ast.Call):
                link = link.func
                has_schema |= isinstance(link, ast.Attribute) and link.attr == "schema"
            else:
                reads |= link.attr == "read"
                link = link.value
        if reads and not has_schema:
            lines.append(node.lineno)
    return lines


def test_bare_parquet_read_detector():
    assert _bare_parquet_reads("df = spark.read.parquet(p)") == [1]
    assert _bare_parquet_reads(
        "df = (self.spark.read.option('basePath', b)\n    .parquet(*files))"
    ) == [1]
    assert _bare_parquet_reads("df = spark.read.schema(s).parquet(p)") == []
    assert _bare_parquet_reads(
        "df = spark.read.schema(s).option('basePath', b).parquet(*f)"
    ) == []
    assert _bare_parquet_reads("df.write.mode('append').parquet(p)") == []


@pytest.mark.parametrize("rel", _GUARDED)
def test_table_loaders_never_infer(rel):
    path = _PKG / rel
    bare = _bare_parquet_reads(path.read_text())
    assert not bare, f"{rel}: parquet read without .schema( at lines {bare}"


def test_register_views_runs_no_job(spark, sf_dir, jobs_run_by, monkeypatch):
    # a fresh memo, so every table is loaded again under the count
    monkeypatch.setattr(tables, "_TABLE_CACHE", {})
    assert jobs_run_by(lambda: register_views(spark, sf_dir)) == 0
    assert spark.table("orders").count() > 0


@pytest.mark.parametrize(
    "sf", sorted(glob.glob(os.path.join(os.path.dirname(tables.DEFAULT_SF_DIR), "sf*")))
)
def test_footer_schema_equals_inference(spark, sf):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLE_NAMES:
        path = os.path.join(sf, f"{name}.parquet")
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, path


def test_partitioned_directory_matches_inference(spark, tmp_path):
    """A directory reads its first data file's footer; partition columns
    come from Spark's partition discovery, as they do under inference."""
    out = str(tmp_path / "t.parquet")
    spark.range(20).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id % 3 AS k", "id % 2 AS j"
    ).write.partitionBy("k", "j").parquet(out)
    assert "k" not in footer_schema(spark, out).fieldNames()
    got = spark.read.schema(footer_schema(spark, out)).parquet(out)
    assert got.schema == spark.read.parquet(out).schema
    assert got.count() == 20


def test_bad_input_raises_with_its_path(spark, tmp_path):
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match="bad.parquet"):
        footer_schema(spark, str(bad))
    empty = tmp_path / "empty"
    (empty / "_hidden").mkdir(parents=True)
    (empty / "_hidden" / "part-0.parquet").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match="empty"):
        footer_schema(spark, str(empty))
    with pytest.raises(OSError, match="missing"):
        footer_schema(spark, str(tmp_path / "missing"))
