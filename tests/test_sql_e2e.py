"""End-to-end SQL through EngineSession — mirrors the reference's e2e
test style (lealone-test/.../sql/dml/SelectTest.java, InsertTest,
UpdateTest, DeleteTest, MergeTest, ddl/*): create tables, run statements,
assert scalar results."""

from __future__ import annotations

import pytest

from etl_lealone_spark.session import EngineSession


@pytest.fixture()
def es(spark, tmp_path):
    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql(
        "CREATE TABLE t (pk varchar(100) NOT NULL PRIMARY KEY, "
        "f1 varchar(100), f2 varchar(100), f3 int)"
    )
    # SelectTest.java:35-51 seed shape
    s.sql(
        "INSERT INTO t VALUES "
        "('01','a1','a',51),('02','a1','b',61),('03','a2','c',61),"
        "('25','a1','d',12),('26','a2','e',12),('27','a1','f',12),"
        "('50','a2','g',12),('51','a2','h',12),('52','a1','i',12),"
        "('75','a1','j',66),('76','a2','k',51),('77','a1','l',{})".format("NULL")
    )
    return s


def scalar(df, col=None):
    row = df.collect()[0]
    return row[col] if col else row[0]


# --- SelectTest shapes ------------------------------------------------------
def test_count_where(es):
    assert scalar(es.sql("SELECT count(*) FROM t WHERE f1 = 'a1'")) == 7


def test_group_by_having(es):
    rows = es.sql(
        "SELECT f1, count(*) AS n FROM t GROUP BY f1 HAVING count(*) > 5"
    ).collect()
    assert len(rows) == 1 and rows[0]["f1"] == "a1" and rows[0]["n"] == 7


def test_order_by_desc_limit_offset(es):
    rows = es.sql(
        "SELECT f2 FROM t WHERE f3 IS NOT NULL ORDER BY f2 DESC LIMIT 2 OFFSET 1"
    ).collect()
    assert [r["f2"] for r in rows] == ["j", "i"]


def test_top_form(es):
    rows = es.sql("SELECT TOP 3 f2 FROM t ORDER BY f2").collect()
    assert [r["f2"] for r in rows] == ["a", "b", "c"]


def test_distinct(es):
    assert es.sql("SELECT DISTINCT f1 FROM t").count() == 2


def test_from_first_dialect(es):
    assert scalar(es.sql("FROM t SELECT count(*) WHERE f3 = 12")) == 6


# --- InsertTest -------------------------------------------------------------
def test_insert_select(es):
    es.sql("CREATE TABLE t2 (pk varchar(100), f3 int)")
    es.sql("INSERT INTO t2 SELECT pk, f3 FROM t WHERE f3 = 61")
    assert scalar(es.sql("SELECT count(*) FROM t2")) == 2


def test_insert_partial_columns(es):
    es.sql("INSERT INTO t (pk, f3) VALUES ('99', 7)")
    row = es.sql("SELECT f1, f3 FROM t WHERE pk = '99'").collect()[0]
    assert row["f1"] is None and row["f3"] == 7


# --- UpdateTest -------------------------------------------------------------
def test_update_where(es):
    es.sql("UPDATE t SET f3 = f3 + 100 WHERE f1 = 'a2'")
    assert scalar(es.sql("SELECT f3 FROM t WHERE pk = '03'")) == 161
    assert scalar(es.sql("SELECT f3 FROM t WHERE pk = '01'")) == 51


def test_update_limit(es):
    es.sql("UPDATE t SET f3 = 0 WHERE f1 = 'a1' LIMIT 2")
    assert scalar(es.sql("SELECT count(*) FROM t WHERE f3 = 0")) == 2
    # first two by pk order: 01, 02
    assert scalar(es.sql("SELECT f3 FROM t WHERE pk = '01'")) == 0
    assert scalar(es.sql("SELECT f3 FROM t WHERE pk = '25'")) == 12


def test_update_multiple_assignments(es):
    es.sql("UPDATE t SET f1 = 'zz', f2 = upper(f2) WHERE pk = '01'")
    row = es.sql("SELECT f1, f2 FROM t WHERE pk = '01'").collect()[0]
    assert row["f1"] == "zz" and row["f2"] == "A"


# --- DeleteTest -------------------------------------------------------------
def test_delete_where(es):
    es.sql("DELETE FROM t WHERE f3 = 12")
    assert scalar(es.sql("SELECT count(*) FROM t")) == 6  # null f3 row kept


def test_delete_limit(es):
    es.sql("DELETE FROM t WHERE f1 = 'a1' LIMIT 3")
    assert scalar(es.sql("SELECT count(*) FROM t")) == 9
    # deleted in pk order: 01, 02, 25
    assert scalar(es.sql("SELECT count(*) FROM t WHERE pk IN ('01','02','25')")) == 0


# --- MergeTest (MERGE INTO ... KEY ...) -------------------------------------
def test_merge_values(es):
    es.sql("MERGE INTO t KEY(pk) VALUES ('01','up','X',1), ('98','new','Y',2)")
    assert scalar(es.sql("SELECT count(*) FROM t")) == 13
    assert scalar(es.sql("SELECT f1 FROM t WHERE pk = '01'")) == "up"
    assert scalar(es.sql("SELECT f1 FROM t WHERE pk = '98'")) == "new"


def test_merge_partial_columns_preserves_rest(es):
    es.sql("MERGE INTO t (pk, f3) KEY(pk) VALUES ('01', 777), ('99', 5)")
    row = es.sql("SELECT f1, f3 FROM t WHERE pk = '01'").collect()[0]
    assert row["f3"] == 777 and row["f1"] == "a1"  # unspecified col kept
    row = es.sql("SELECT f1, f3 FROM t WHERE pk = '99'").collect()[0]
    assert row["f3"] == 5 and row["f1"] is None  # inserted: unspecified NULL


def test_merge_select(es):
    es.sql("CREATE TABLE src (pk varchar(10), f1 varchar(10), f2 varchar(10), f3 int)")
    es.sql("INSERT INTO src VALUES ('02','m1','m2',9)")
    es.sql("MERGE INTO t KEY(pk) SELECT pk, f1, f2, f3 FROM src")
    assert scalar(es.sql("SELECT f1 FROM t WHERE pk = '02'")) == "m1"


# --- TruncateTableTest ------------------------------------------------------
def test_truncate(es):
    es.sql("TRUNCATE TABLE t")
    assert scalar(es.sql("SELECT count(*) FROM t")) == 0
    es.sql("INSERT INTO t VALUES ('x','y','z',1)")  # schema survives
    assert scalar(es.sql("SELECT count(*) FROM t")) == 1


# --- DDL --------------------------------------------------------------------
def test_drop_table(es):
    es.sql("DROP TABLE t")
    with pytest.raises(Exception):
        es.sql("SELECT * FROM t").collect()
    es.sql("DROP TABLE IF EXISTS t")  # idempotent


def test_create_view(es):
    es.sql("CREATE VIEW v1 AS SELECT f1, count(*) AS n FROM t GROUP BY f1")
    assert es.sql("SELECT * FROM v1").count() == 2
    es.sql("CREATE OR REPLACE VIEW v1 AS SELECT pk FROM t")
    assert es.sql("SELECT * FROM v1").count() == 12
    es.sql("DROP VIEW v1")


def test_view_sees_mutations(es):
    es.sql("CREATE VIEW v2 AS SELECT count(*) AS n FROM t")
    assert scalar(es.sql("SELECT n FROM v2")) == 12
    es.sql("DELETE FROM t WHERE f1 = 'a2'")
    assert scalar(es.sql("SELECT n FROM v2")) == 7


def test_create_index_metadata_only(es):
    es.sql("CREATE INDEX idx_f1 ON t(f1)")
    es.sql("CREATE UNIQUE INDEX idx_pk2 ON t(pk, f1)")
    assert "idx_f1" in es.catalog.indexes
    assert es.catalog.indexes["idx_pk2"].unique
    es.sql("DROP INDEX idx_f1")
    assert "idx_f1" not in es.catalog.indexes


def test_create_sequence_sql(es):
    es.sql("CREATE SEQUENCE seq1 START WITH 100 INCREMENT BY 5")
    assert es.sequence("seq1").next_value() == 100
    assert es.sequence("seq1").next_value() == 105
    es.sql("DROP SEQUENCE seq1")


def test_explain(es):
    plan = [r["plan"] for r in es.sql("EXPLAIN SELECT count(*) FROM t").collect()]
    assert any("Physical Plan" in line for line in plan)


def test_set_and_variable(es):
    es.sql("SET @lim 12")
    assert scalar(es.sql("SELECT count(*) FROM t WHERE f3 <= @lim")) == 6
    es.sql("SET MAX_MEMORY_ROWS 5000")
    assert es.get_setting("MAX_MEMORY_ROWS") == 5000


def test_call(es):
    assert scalar(es.sql("CALL 1 + 2"), "result") == 3


def test_script_dump(es):
    rows = [r["script"] for r in es.sql("SCRIPT").collect()]
    assert any("CREATE TABLE t" in r for r in rows)


def test_analyze_selectivity(es):
    row = es.sql("ANALYZE TABLE t").collect()[0]
    assert row["pk"] > 50  # pk is unique → high selectivity
    assert row["f1"] <= 25  # two distinct values of 12


def test_decimal_type_roundtrip(es):
    es.sql("CREATE TABLE money (id int, amount decimal(10,2))")
    es.sql("INSERT INTO money VALUES (1, 12.34), (2, 0.01)")
    assert str(scalar(es.sql("SELECT sum(amount) FROM money"))) == "12.35"


def test_some_every_aggregate_aliases(es):
    """SOME/EVERY as BOOL_OR/BOOL_AND aliases (Aggregate.java:183-186)
    — Spark SQL accepts them natively; pin the passthrough."""
    row = es.sql(
        "SELECT EVERY(f3 > 0) AS all_pos, SOME(f3 > 60) AS any_big "
        "FROM t WHERE f3 IS NOT NULL"
    ).collect()[0]
    assert row.all_pos is True and row.any_big is True


def test_is_distinct_from_predicate(es):
    """IS [NOT] DISTINCT FROM — the spelled-out form of the reference's
    null-safe <=> comparison (Comparison.java)."""
    rows = es.sql(
        "SELECT count(*) FROM t WHERE f3 IS DISTINCT FROM NULL"
    ).collect()
    non_null = es.sql("SELECT count(*) FROM t WHERE f3 IS NOT NULL").collect()
    assert rows[0][0] == non_null[0][0]
    assert es.sql(
        "SELECT count(*) FROM t WHERE f3 IS NOT DISTINCT FROM NULL"
    ).collect()[0][0] == 1


def test_cache_uncache_table_passthrough(es, spark):
    """CACHE/UNCACHE TABLE flow through to Spark's native cache manager
    (the engine's tables are temp views, so storage-level caching works
    unchanged)."""
    es.sql("CREATE TABLE cpass (k int PRIMARY KEY, v int)")
    es.sql("INSERT INTO cpass VALUES (1, 10)")
    es.sql("CACHE TABLE cpass")
    assert spark.catalog.isCached("cpass")
    es.sql("UNCACHE TABLE cpass")
    assert not spark.catalog.isCached("cpass")
    es.sql("DROP TABLE cpass")
