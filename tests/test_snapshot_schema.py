"""SnapshotTable keeps each committed version's schema.

A version directory is immutable, so ``SnapshotTable.read`` passes the
schema it recorded at commit instead of letting Spark infer it (one job
per read). These tests pin the two halves of that contract:

- after every mutation path, the pinned read has exactly the schema a
  bare ``spark.read.parquet(dir)`` infers, and the read was served from
  the pinned schema rather than by inference;
- a warm single-statement DELETE or INSERT runs exactly one Spark job,
  its write — a schema-inference job that comes back fails here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lealone_spark.operators.dml import SnapshotTable
from etl_lealone_spark.session import EngineSession


def _assert_pinned(spark, st: SnapshotTable, version=None):
    """``st.read(v)`` serves the pinned schema and it equals inference."""
    v = st.version if version is None else version
    assert st._known_schema(v) is not None, f"v{v} schema not pinned"
    assert st.read(v).schema == spark.read.parquet(st._dir(v)).schema


def test_sql_mutation_paths_keep_inferred_schema(spark, tmp_path):
    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE ss (id INT, a INT, s VARCHAR(10))")
    st = es.catalog.table("ss")
    _assert_pinned(spark, st)

    es.sql("INSERT INTO ss VALUES (1, 10, 'x'), (2, 20, 'y'), (3, 30, 'z')")
    _assert_pinned(spark, st)
    es.sql("UPDATE ss SET a = a + 1 WHERE id = 1")
    _assert_pinned(spark, st)
    # a SET that widens the column's type rewrites it with the wider type
    es.sql("UPDATE ss SET a = a + 0.5 WHERE id = 2")
    assert dict(st.read().dtypes)["a"] != "int"
    _assert_pinned(spark, st)
    es.sql("DELETE FROM ss WHERE id = 3")
    _assert_pinned(spark, st)
    es.sql("MERGE INTO ss KEY(id) VALUES (2, 5, 'm'), (4, 40, 'n')")
    _assert_pinned(spark, st)
    es.sql(
        "MERGE INTO ss USING (SELECT * FROM VALUES (1, 'u'), (5, 'v') "
        "AS x(id, ns)) AS src ON ss.id = src.id "
        "WHEN MATCHED THEN UPDATE SET s = src.ns "
        "WHEN NOT MATCHED THEN INSERT (id, s) VALUES (src.id, src.ns)"
    )
    _assert_pinned(spark, st)

    es.sql("ALTER TABLE ss ADD COLUMN d DOUBLE")
    _assert_pinned(spark, st)
    es.sql("ALTER TABLE ss DROP COLUMN d")
    _assert_pinned(spark, st)
    es.sql("ALTER TABLE ss RENAME COLUMN s TO label")
    _assert_pinned(spark, st)
    es.sql("ALTER TABLE ss ALTER COLUMN id BIGINT")
    assert dict(st.read().dtypes)["id"] == "bigint"
    _assert_pinned(spark, st)

    es.sql("OPTIMIZE ss")
    _assert_pinned(spark, st)
    es.sql("OPTIMIZE ss ZORDER BY (id, a)")
    _assert_pinned(spark, st)

    es.sql("RESTORE TABLE ss TO VERSION AS OF 1")
    assert [f.name for f in st.read().schema.fields] == ["id", "a", "s"]
    _assert_pinned(spark, st)
    es.sql("CREATE TABLE ss_clone CLONE ss")
    _assert_pinned(spark, es.catalog.table("ss_clone"))
    es.sql("TRUNCATE TABLE ss")
    assert st.read().count() == 0
    _assert_pinned(spark, st)

    # AS-OF reads of the versions VACUUM keeps still see their own schema
    es.sql("INSERT INTO ss VALUES (7, 70, 'q')")
    es.sql("VACUUM ss RETAIN 3 VERSIONS")
    kept = st.versions()
    assert len(kept) >= 3
    for v in kept:
        _assert_pinned(spark, st, v)
        got = es.sql(f"SELECT * FROM ss VERSION AS OF {v}")
        assert got.schema == st.read(v).schema

    # a re-created table reuses version numbers; its schema must not be
    # served from the dropped table's
    es.sql("DROP TABLE ss CASCADE")
    es.sql("CREATE TABLE ss (k VARCHAR(5), w DOUBLE, flag BOOLEAN)")
    st2 = es.catalog.table("ss")
    _assert_pinned(spark, st2)
    assert es.sql("SELECT * FROM ss").columns == ["k", "w", "flag"]


def test_partitioned_paths_keep_inferred_schema(spark, tmp_path):
    """Partition columns are pinned with their written types: a STRING
    column whose values look like integers stays string, where a bare
    ``spark.read.parquet`` infers int. Every pinned read equals what
    inference gives with partition type inference off (every partition
    value read as a string)."""
    st = SnapshotTable(spark, str(tmp_path), "pt", partition_by=["p"])
    df = spark.range(40).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 2).alias("x"),
    )
    st.write(df)
    assert dict(st.read().dtypes)["p"] == "string"
    assert dict(spark.read.parquet(st._dir(0)).dtypes)["p"] == "int"

    def pinned(t: SnapshotTable) -> None:
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        spark.conf.set(key, "false")
        try:
            _assert_pinned(spark, t)
        finally:
            spark.conf.unset(key)

    pinned(st)
    for i in range(3):
        st.insert(
            spark.createDataFrame([(100 + i, "1", 7)], "id int, p string, x bigint")
        )
        pinned(st)
    st.update(F.col("p") == "1", {"x": F.col("x") + 1}, partition_filter=F.col("p") == "1")
    pinned(st)
    st.delete(F.col("id") == 0, partition_filter=F.col("p") == "0")
    pinned(st)

    es = EngineSession(spark, warehouse=str(tmp_path / "wh"))
    es.catalog.tables["pt"] = st
    es.catalog.refresh_view("pt")
    es.sql("OPTIMIZE pt COMPACT MAX FILES 1")
    assert st.file_counts()[("1",)] == 1
    pinned(st)
    es.sql("OPTIMIZE pt ZORDER BY (id, x)")
    pinned(st)
    es.sql("OPTIMIZE pt")
    pinned(st)
    es.sql("RESTORE TABLE pt TO VERSION AS OF 2")
    pinned(st)
    es.sql("CREATE TABLE pt_clone CLONE pt")
    pinned(es.catalog.table("pt_clone"))
    assert dict(st.read().dtypes)["p"] == "string"


def test_version_reused_by_another_object_is_not_stale(spark, tmp_path):
    """Two objects over one root: one drops and re-creates v0 with other
    columns; the other's pinned v0 schema is keyed on the commit marker
    and so is not served."""
    a = SnapshotTable(spark, str(tmp_path), "t")
    a.write(spark.range(3).selectExpr("id", "id * 2 AS v"))
    assert a.read().columns == ["id", "v"]
    b = SnapshotTable(spark, str(tmp_path), "t")
    b.drop()
    b.write(spark.range(3).selectExpr("CAST(id AS STRING) AS name"))
    assert a.version == b.version == 0
    assert a.read().columns == ["name"]
    assert a.read().schema == spark.read.parquet(a._dir(0)).schema


def test_opened_table_infers_once(spark, tmp_path):
    SnapshotTable(spark, str(tmp_path), "t").write(spark.range(5))
    opened = SnapshotTable(spark, str(tmp_path), "t")
    assert opened._known_schema(0) is None
    assert opened.read().count() == 5
    _assert_pinned(spark, opened)


@pytest.mark.parametrize(
    "stmt",
    [
        "DELETE FROM jc WHERE id = {i}",
        "INSERT INTO jc VALUES ({i} + 100, 'n')",
    ],
    ids=["delete", "insert"],
)
def test_warm_dml_runs_only_its_write_job(spark, tmp_path, stmt, jobs_run_by):
    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE jc (id INT, s VARCHAR(5))")
    es.sql("INSERT INTO jc VALUES " + ", ".join(f"({i}, 'x')" for i in range(10)))
    es.sql(stmt.format(i=1))  # warm
    assert jobs_run_by(lambda: es.sql(stmt.format(i=2))) == 1
