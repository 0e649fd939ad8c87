"""Write-time constraint enforcement: NOT NULL, CHECK, DEFAULT, computed
columns, unique indexes (reference Column.java:70-81,
GlobalUniqueIndex.java:33)."""

from __future__ import annotations

import pytest

from etl_lealone_spark.session import EngineSession


@pytest.fixture()
def es(spark, tmp_path):
    return EngineSession(spark, warehouse=str(tmp_path))


def test_not_null_enforced(es):
    es.sql("CREATE TABLE nn (id int NOT NULL, v int)")
    es.sql("INSERT INTO nn VALUES (1, 10)")
    with pytest.raises(ValueError, match="constraint violation"):
        es.sql("INSERT INTO nn (v) VALUES (5)")
    assert es.sql("SELECT count(*) FROM nn").collect()[0][0] == 1


def test_check_constraint(es):
    es.sql("CREATE TABLE ck (id int, pct int CHECK (pct BETWEEN 0 AND 100))")
    es.sql("INSERT INTO ck VALUES (1, 50)")
    with pytest.raises(ValueError, match="constraint violation"):
        es.sql("INSERT INTO ck VALUES (2, 150)")
    with pytest.raises(ValueError, match="constraint violation"):
        es.sql("UPDATE ck SET pct = -5 WHERE id = 1")
    assert es.sql("SELECT pct FROM ck").collect()[0][0] == 50


def test_table_level_check(es):
    es.sql("CREATE TABLE tc (a int, b int, CHECK (a < b))")
    es.sql("INSERT INTO tc VALUES (1, 2)")
    with pytest.raises(ValueError, match="constraint violation"):
        es.sql("INSERT INTO tc VALUES (5, 2)")


def test_default_applied(es):
    es.sql("CREATE TABLE d (id int, status varchar(10) DEFAULT 'new', n int DEFAULT 0)")
    es.sql("INSERT INTO d (id) VALUES (1)")
    row = es.sql("SELECT * FROM d").collect()[0]
    assert row["status"] == "new" and row["n"] == 0
    es.sql("INSERT INTO d (id, status) VALUES (2, 'old')")
    assert es.sql("SELECT status FROM d WHERE id = 2").collect()[0][0] == "old"


def test_computed_column(es):
    es.sql("CREATE TABLE cc (a int, b int, total int AS (a + b))")
    es.sql("INSERT INTO cc (a, b) VALUES (2, 3)")
    assert es.sql("SELECT total FROM cc").collect()[0][0] == 5
    # computed even if the insert tries to supply it
    es.sql("INSERT INTO cc VALUES (10, 20, 999)")
    assert es.sql("SELECT total FROM cc WHERE a = 10").collect()[0][0] == 30


def test_pk_unique_enforced(es):
    es.sql("CREATE TABLE pku (id int PRIMARY KEY, v varchar(5))")
    es.sql("INSERT INTO pku VALUES (1, 'a'), (2, 'b')")
    with pytest.raises(ValueError, match="unique constraint"):
        es.sql("INSERT INTO pku VALUES (1, 'dup')")
    assert es.sql("SELECT count(*) FROM pku").collect()[0][0] == 2


def test_unique_index_enforced(es):
    es.sql("CREATE TABLE uq (id int, email varchar(30))")
    es.sql("CREATE UNIQUE INDEX uq_email ON uq(email)")
    es.sql("INSERT INTO uq VALUES (1, 'a@x.com')")
    with pytest.raises(ValueError, match="unique constraint"):
        es.sql("INSERT INTO uq VALUES (2, 'a@x.com')")


def test_unique_index_allows_multiple_nulls(es):
    # H2/Lealone unique indexes: NULL != NULL, any number of NULLs allowed
    es.sql("CREATE TABLE uqn (id int, email varchar(30))")
    es.sql("CREATE UNIQUE INDEX uqn_email ON uqn(email)")
    es.sql("INSERT INTO uqn VALUES (1, NULL)")
    es.sql("INSERT INTO uqn VALUES (2, NULL)")
    assert es.sql("SELECT count(*) FROM uqn").collect()[0][0] == 2
    with pytest.raises(ValueError, match="unique constraint"):
        es.sql("INSERT INTO uqn VALUES (3, 'x@x.com'), (4, 'x@x.com')")


def test_merge_respects_unique_pk(es):
    es.sql("CREATE TABLE mu (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO mu VALUES (1, 10), (2, 20)")
    # MERGE by the PK cannot create duplicates — upsert succeeds
    es.sql("MERGE INTO mu KEY(id) VALUES (1, 11), (3, 30)")
    assert es.sql("SELECT count(*) FROM mu").collect()[0][0] == 3


# -- statement-scoped checks: a write checks only what it can break --------


def _rejected(es, table, stmt, match):
    """``stmt`` raises ``match`` and commits no version of ``table``."""
    v = es.catalog.table(table).version
    with pytest.raises(ValueError, match=match):
        es.sql(stmt)
    assert es.catalog.table(table).version == v


def test_update_key_onto_existing_key_rejected(es):
    es.sql("CREATE TABLE uk (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO uk VALUES (1, 10), (2, 20)")
    _rejected(es, "uk", "UPDATE uk SET id = 1 WHERE id = 2", "unique constraint")
    # a key update that stays unique commits
    es.sql("UPDATE uk SET id = 3 WHERE id = 2")
    assert sorted(r.id for r in es.sql("SELECT id FROM uk").collect()) == [1, 3]


def test_update_not_null_to_null_rejected(es):
    es.sql("CREATE TABLE un (id int PRIMARY KEY, name varchar(10) NOT NULL, v int)")
    es.sql("INSERT INTO un VALUES (1, 'a', 10)")
    _rejected(es, "un", "UPDATE un SET name = NULL WHERE id = 1", "constraint violation")
    # a nullable column may take NULL
    es.sql("UPDATE un SET v = NULL WHERE id = 1")
    assert es.sql("SELECT v FROM un").collect()[0][0] is None


def test_update_breaking_check_rejected(es):
    es.sql("CREATE TABLE uc (id int PRIMARY KEY, lo int, hi int, CHECK (lo < hi))")
    es.sql("INSERT INTO uc VALUES (1, 0, 5), (2, 0, 9)")
    # the CHECK reads a column the UPDATE does not assign
    _rejected(es, "uc", "UPDATE uc SET lo = 7 WHERE id = 1", "constraint violation")
    es.sql("UPDATE uc SET lo = 7 WHERE id = 2")
    assert es.sql("SELECT lo FROM uc WHERE id = 2").collect()[0][0] == 7


def test_insert_select_collision_rejected(es):
    es.sql("CREATE TABLE isc (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO isc VALUES (1, 10), (2, 20)")
    es.sql("CREATE TABLE isc_src (id int, v int)")
    es.sql("INSERT INTO isc_src VALUES (3, 30), (2, 99)")
    _rejected(es, "isc", "INSERT INTO isc SELECT * FROM isc_src", "unique constraint")
    # duplicates within the selected rows alone
    _rejected(
        es, "isc", "INSERT INTO isc SELECT id + 10, v FROM isc_src UNION ALL "
        "SELECT 13, 0", "unique constraint",
    )
    es.sql("INSERT INTO isc SELECT id + 10, v FROM isc_src")
    assert es.sql("SELECT count(*) FROM isc").collect()[0][0] == 4


def test_insert_values_duplicates_within_batch_rejected(es):
    es.sql("CREATE TABLE ivd (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO ivd VALUES (1, 10)")
    _rejected(es, "ivd", "INSERT INTO ivd VALUES (2, 1), (2, 2)", "unique constraint")
    _rejected(es, "ivd", "INSERT INTO ivd SET id = 1, v = 5", "unique constraint")


def test_insert_values_multi_column_key(es):
    es.sql("CREATE TABLE mk (a int, b varchar(5), v int, PRIMARY KEY (a, b))")
    es.sql("INSERT INTO mk VALUES (1, 'x', 0), (2, 'y', 0)")
    # each column value exists, the pair does not
    es.sql("INSERT INTO mk VALUES (1, 'y', 0), (2, 'x', 0)")
    _rejected(es, "mk", "INSERT INTO mk VALUES (3, 'z', 0), (2, 'y', 1)", "unique constraint")
    assert es.sql("SELECT count(*) FROM mk").collect()[0][0] == 4


@pytest.mark.parametrize(
    "typ, old, new",
    [
        ("bigint", "7", "7"),
        ("decimal(10,2)", "1.50", "1.5"),
        ("date", "DATE '2024-01-01'", "DATE '2024-01-01'"),
        ("smallint", "7", "7"),
        ("varchar(9)", "'x\\\\y é'", "'x\\\\y é'"),
        ("double", "1.5", "1.5"),
        ("timestamp", "TIMESTAMP '2024-03-10 02:30:00'", "TIMESTAMP '2024-03-10 02:30:00'"),
        ("varchar(9) COLLATE UNICODE STRENGTH SECONDARY", "'Abc'", "'aBC'"),
    ],
    ids=[
        "bigint", "decimal", "date", "smallint", "varchar", "double", "timestamp",
        "collated",
    ],
)
def test_insert_values_key_types(es, typ, old, new):
    # the first five are compared on the driver and probed with IN; the
    # rest (NaN/-0.0, time zone, collation rules) take the Spark probe
    es.sql(f"CREATE TABLE kt (k {typ}, v int)")
    es.sql("CREATE UNIQUE INDEX kt_k ON kt(k)")
    es.sql(f"INSERT INTO kt VALUES ({old}, 1)")
    _rejected(es, "kt", f"INSERT INTO kt VALUES ({new}, 2)", "unique constraint")


def test_create_unique_index_validates_existing_rows(es):
    es.sql("CREATE TABLE ci (id int, email varchar(30))")
    es.sql("INSERT INTO ci VALUES (1, 'a@x'), (2, 'a@x'), (3, NULL), (4, NULL)")
    with pytest.raises(ValueError, match="unique constraint violation"):
        es.sql("CREATE UNIQUE INDEX ci_email ON ci(email)")
    assert "ci_email" not in es.catalog.indexes
    # NULLs never collide; a non-unique index is metadata only
    es.sql("CREATE UNIQUE INDEX ci_id ON ci(id)")
    es.sql("CREATE INDEX ci_email2 ON ci(email)")
    es.sql("DELETE FROM ci WHERE id = 2")
    es.sql("CREATE UNIQUE INDEX ci_email ON ci(email)")
    _rejected(es, "ci", "INSERT INTO ci VALUES (5, 'a@x')", "unique constraint")


def test_type_change_merging_keys_rejected(es):
    es.sql("CREATE TABLE tcm (k double, v int)")
    es.sql("CREATE UNIQUE INDEX tcm_k ON tcm(k)")
    es.sql("INSERT INTO tcm VALUES (1.2, 1), (1.4, 2)")
    _rejected(es, "tcm", "ALTER TABLE tcm ALTER COLUMN k INT", "unique constraint")


def test_warm_dml_on_pk_table_checks_only_changed_rows(es, jobs_run_by):
    es.sql("CREATE TABLE pj (id int PRIMARY KEY, s varchar(5))")
    es.sql("INSERT INTO pj VALUES " + ", ".join(f"({i}, 'x')" for i in range(10)))
    upd = "UPDATE pj SET s = '{s}' WHERE id BETWEEN 2 AND 5"
    ins = "INSERT INTO pj VALUES ({i}, 'n'), ({i} + 1, 'n')"
    es.sql(upd.format(s="a"))  # warm
    es.sql(ins.format(i=100))
    # a non-key UPDATE runs only its write; an INSERT VALUES adds one
    # pushed-down key probe to its write
    assert jobs_run_by(lambda: es.sql(upd.format(s="b"))) == 1
    assert jobs_run_by(lambda: es.sql(ins.format(i=200))) <= 2


@pytest.mark.parametrize(
    "rename, table, stmt",
    [
        ("ALTER TABLE r RENAME COLUMN id TO k", "r", "INSERT INTO r VALUES (1, 2)"),
        ("ALTER TABLE r ALTER COLUMN id RENAME TO k", "r", "INSERT INTO r VALUES (1, 2)"),
        ("ALTER TABLE r RENAME TO d", "d", "INSERT INTO d VALUES (1, 2)"),
        ("ALTER TABLE r RENAME TO d", "d", "INSERT INTO d VALUES (2, NULL)"),
        ("ALTER TABLE r RENAME COLUMN v TO w", "r", "INSERT INTO r VALUES (2, NULL)"),
    ],
)
def test_renames_keep_constraints(es, rename, table, stmt):
    """Writes check only what they can break, by column and table name:
    a rename must carry the PK and NOT NULL metadata along, or the
    renamed column's checks are silently skipped."""
    es.sql("CREATE TABLE r (id int PRIMARY KEY, v int NOT NULL CHECK (v > 0))")
    es.sql("INSERT INTO r VALUES (1, 1)")
    es.sql(rename)
    with pytest.raises(ValueError, match="constraint violation"):
        es.sql(stmt)
    assert es.sql(f"SELECT count(*) FROM {table}").collect()[0][0] == 1
    # the renamed CHECK still holds and still admits valid rows
    with pytest.raises(ValueError, match="constraint violation"):
        es.sql(f"INSERT INTO {table} VALUES (3, -1)")
    es.sql(f"INSERT INTO {table} VALUES (4, 4)")
    assert es.sql(f"SELECT count(*) FROM {table}").collect()[0][0] == 2


# -- constraints declared in CREATE TABLE, read from Spark's parse tree ----


@pytest.mark.parametrize(
    "ddl, bad",
    [
        ("CREATE TABLE kd (a int, b int, CONSTRAINT pk PRIMARY KEY (a))", "(1, 2)"),
        ("CREATE TABLE kd (a int UNIQUE, b int)", "(1, 2)"),
        ("CREATE TABLE kd (a int, b int, CONSTRAINT uq UNIQUE (b))", "(2, 1)"),
        ("CREATE TABLE kd (a int, b int, CONSTRAINT ck CHECK (a > 0))", "(-1, 1)"),
    ],
    ids=["named_pk", "column_unique", "table_unique", "named_check"],
)
def test_declared_constraint_enforced(es, ddl, bad):
    es.sql(ddl)
    es.sql("INSERT INTO kd VALUES (1, 1)")
    _rejected(es, "kd", f"INSERT INTO kd VALUES {bad}", "constraint violation")
    es.sql("INSERT INTO kd VALUES (3, 3)")
    assert es.sql("SELECT count(*) FROM kd").collect()[0][0] == 2


def test_two_primary_keys_raise_at_create(es):
    with pytest.raises(ValueError, match="MULTIPLE_PRIMARY_KEYS"):
        es.sql("CREATE TABLE kd (a int PRIMARY KEY, b int, PRIMARY KEY (b))")
    assert "kd" not in es.catalog.tables


def test_drop_table_drops_its_keys(es):
    """A key belongs to its table: DROP TABLE removes it, so a table
    created again under the name does not inherit it."""
    es.sql("CREATE TABLE kd (a int PRIMARY KEY, b int UNIQUE)")
    es.sql("DROP TABLE kd")
    es.sql("CREATE TABLE kd (a int, b int)")
    es.sql("INSERT INTO kd VALUES (1, 1), (1, 1)")
    assert es.sql("SELECT count(*) FROM kd").collect()[0][0] == 2
