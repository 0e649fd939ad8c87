"""Extended DDL: ALTER TABLE, RUNSCRIPT, DOMAIN, PREPARE/EXECUTE,
GRANT/COMMENT shims (SURVEY.md §2.9 DDL table)."""

from __future__ import annotations

import pytest

from etl_lealone_spark.session import EngineSession


@pytest.fixture()
def es(spark, tmp_path):
    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE a (id int PRIMARY KEY, name varchar(20))")
    s.sql("INSERT INTO a VALUES (1, 'x'), (2, 'y')")
    return s


def test_alter_add_column(es):
    es.sql("ALTER TABLE a ADD COLUMN score double")
    rows = es.sql("SELECT id, score FROM a").collect()
    assert all(r["score"] is None for r in rows) and len(rows) == 2
    es.sql("UPDATE a SET score = id * 1.5")
    assert es.sql("SELECT score FROM a WHERE id = 2").collect()[0][0] == 3.0


def test_alter_drop_column(es):
    es.sql("ALTER TABLE a DROP COLUMN name")
    assert es.sql("SELECT * FROM a").columns == ["id"]


def test_alter_rename_column(es):
    es.sql("ALTER TABLE a RENAME COLUMN name TO label")
    assert "label" in es.sql("SELECT * FROM a").columns


def test_alter_rename_table(es):
    es.sql("ALTER TABLE a RENAME TO b")
    assert es.sql("SELECT count(*) FROM b").collect()[0][0] == 2
    with pytest.raises(Exception):
        es.sql("SELECT * FROM a").collect()


def test_runscript(es, tmp_path):
    script = tmp_path / "setup.sql"
    script.write_text(
        "CREATE TABLE s1 (x int);\n"
        "INSERT INTO s1 VALUES (1), (2), (3);\n"
        "-- a comment;\n"
        "INSERT INTO s1 VALUES (4);\n"
    )
    es.sql(f"RUNSCRIPT FROM '{script}'")
    assert es.sql("SELECT count(*) FROM s1").collect()[0][0] == 4


def test_domain_and_principals(es):
    es.sql("CREATE DOMAIN email AS varchar(100)")
    assert es.catalog.domains["email"] == "string"
    es.sql("CREATE USER alice PASSWORD 'secret'")
    es.sql("CREATE ROLE admins")
    assert "alice" in es.catalog.principals
    assert "admins" in es.catalog.roles
    assert es.sql("GRANT SELECT ON a TO alice").collect()[0]["status"].startswith("ok")
    assert es.sql("COMMENT ON TABLE a IS 'demo'").collect()[0]["status"].startswith("ok")


def test_prepare_execute_sql(es):
    es.sql("PREPARE q1 AS SELECT count(*) AS n FROM a")
    assert es.sql("EXECUTE q1").collect()[0]["n"] == 2
    es.sql("DEALLOCATE q1")
    with pytest.raises(KeyError):
        es.sql("EXECUTE q1")


def test_identity_autofill(es):
    es.sql("CREATE TABLE ids (id identity PRIMARY KEY, v varchar(5))")
    es.sql("INSERT INTO ids (v) VALUES ('a'), ('b')")
    es.sql("INSERT INTO ids (v) VALUES ('c')")
    rows = es.sql("SELECT id, v FROM ids").collect()
    got_ids = [r["id"] for r in rows]
    assert len(set(got_ids)) == 3  # unique across statements
    assert all(r["id"] is not None for r in rows)


def test_nextval_currval(es):
    es.sql("CREATE SEQUENCE sq2 START WITH 7 INCREMENT BY 3")
    assert es.sql("SELECT NEXTVAL('sq2') AS v").collect()[0]["v"] == 7
    assert es.sql("SELECT NEXTVAL('sq2') AS v").collect()[0]["v"] == 10
    assert es.sql("SELECT CURRVAL('sq2') AS v").collect()[0]["v"] == 10


def test_trigger_noop(es):
    out = es.sql(
        "CREATE TRIGGER trg AFTER INSERT ON a FOR EACH ROW CALL 'x'"
    ).collect()[0]["status"]
    assert "trigger recorded" in out
    assert "trg" in es.catalog.triggers
    assert es.sql("DROP TRIGGER trg").collect()[0]["status"].startswith("dropped")
    assert "trg" not in es.catalog.triggers


def test_file_read_source(es, tmp_path):
    from etl_lealone_spark.sources import file_read

    p = tmp_path / "blob.bin"
    p.write_bytes(b"hello world")
    df = file_read(es.spark, str(p))
    row = df.collect()[0]
    assert row["content"] == b"hello world" and row["length"] == 11


def test_varchar_ignorecase_collation(es):
    """STRING_IGNORECASE (Value.java:118): case-insensitive at every
    compare site, via Spark 4 native UTF8_LCASE collation."""
    es.sql("CREATE TABLE ci (k int PRIMARY KEY, s varchar_ignorecase(20))")
    es.sql("INSERT INTO ci VALUES (1, 'Apple'), (2, 'APPLE'), (3, 'pear')")
    # WHERE compares case-insensitively
    got = es.sql("SELECT k FROM ci WHERE s = 'apple' ORDER BY k").collect()
    assert [r["k"] for r in got] == [1, 2]
    # DISTINCT folds case variants
    assert es.sql("SELECT count(DISTINCT s) c FROM ci").collect()[0]["c"] == 2
    # GROUP BY too
    groups = es.sql("SELECT count(*) n FROM ci GROUP BY s ORDER BY n").collect()
    assert [r["n"] for r in groups] == [1, 2]
    # join matches across case; a plain-string side needs an explicit
    # COLLATE (Spark rejects indeterminate mixed-collation comparisons —
    # stricter than H2's silent coercion, documented divergence)
    es.sql("CREATE TABLE ci2 (s2 varchar(20))")
    es.sql("INSERT INTO ci2 VALUES ('aPPle')")
    n = es.sql(
        "SELECT count(*) c FROM ci JOIN ci2 "
        "ON ci.s = collate(ci2.s2, 'UTF8_LCASE')"
    ).collect()[0]["c"]
    assert n == 2


def test_declare_global_temporary_table(spark, tmp_path):
    """DECLARE GLOBAL TEMPORARY TABLE routes to CREATE TABLE
    (Parser.java:367-369)."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("DECLARE GLOBAL TEMPORARY TABLE gtt (id int PRIMARY KEY, v varchar(10))")
    s.sql("INSERT INTO gtt VALUES (1, 'a'), (2, 'b')")
    assert s.sql("SELECT count(*) FROM gtt").collect()[0][0] == 2


def test_create_table_as_select(spark, tmp_path):
    """CTAS (Parser.java:5777): with and without a rename column list."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE src (id int PRIMARY KEY, v varchar(5))")
    s.sql("INSERT INTO src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    s.sql("CREATE TABLE big AS SELECT id, v FROM src WHERE id > 1")
    assert s.sql("SELECT count(*) FROM big").collect()[0][0] == 2
    s.sql("CREATE TABLE renamed (k, s) AS SELECT id, v FROM src")
    rows = s.sql("SELECT k, s FROM renamed ORDER BY k").collect()
    assert [r.k for r in rows] == [1, 2, 3]
    # CTAS tables are ordinary snapshot tables: DML works
    s.sql("INSERT INTO big VALUES (9, 'z')")
    assert s.sql("SELECT count(*) FROM big").collect()[0][0] == 3
    s.sql("CREATE TABLE from_range AS SELECT x FROM SYSTEM_RANGE(1, 5)")
    assert s.sql("SELECT count(*) FROM from_range").collect()[0][0] == 5


def test_insert_variant_forms(spark, tmp_path):
    """INSERT grammar beyond VALUES/SELECT (Parser.java:1014-1070):
    DIRECT query, DEFAULT VALUES, MySQL-style SET."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql(
        "CREATE TABLE iv (id long IDENTITY, v varchar(5) DEFAULT 'dv', n int)"
    )
    s.sql("INSERT INTO iv SET v = 'x', n = 1")
    s.sql("INSERT INTO iv DEFAULT VALUES")
    s.sql("INSERT INTO iv (v, n) DIRECT SELECT 'y', 2")
    rows = {r.v: r for r in s.sql("SELECT * FROM iv").collect()}
    assert set(rows) == {"x", "dv", "y"}
    assert rows["x"].n == 1 and rows["y"].n == 2 and rows["dv"].n is None
    ids = [r.id for r in rows.values()]
    assert len(set(ids)) == 3 and all(i is not None for i in ids)


def test_vacuum_statement(spark, tmp_path):
    """VACUUM t RETAIN n VERSIONS — snapshot retention via SQL."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE vt (id int PRIMARY KEY, v int)")
    for i in range(4):
        s.sql(f"INSERT INTO vt VALUES ({i}, {i})")
    st = s.catalog.table("vt")
    assert len(st.versions()) >= 4
    s.sql("VACUUM vt RETAIN 2 VERSIONS")
    assert s.sql("SELECT count(*) FROM vt").collect()[0][0] == 4
    msg = s.sql("VACUUM vt").collect()[0][0]
    assert msg.startswith("vacuumed vt")


def test_materialized_view_lifecycle(spark, tmp_path):
    """CREATE/REFRESH/DROP MATERIALIZED VIEW: stored snapshot result,
    stale until refreshed, atomic version-flip refresh."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE src (k int PRIMARY KEY, v int)")
    s.sql("INSERT INTO src VALUES (1, 10), (2, 20)")
    s.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT count(*) AS n, cast(sum(cast(v as decimal(18,0))) as bigint)"
        " AS total FROM src"
    )
    r = s.sql("SELECT * FROM mv").collect()[0]
    assert (r.n, r.total) == (2, 30)
    # base-table change does NOT show until refresh (stored result)
    s.sql("INSERT INTO src VALUES (3, 70)")
    r = s.sql("SELECT * FROM mv").collect()[0]
    assert (r.n, r.total) == (2, 30)
    s.sql("REFRESH MATERIALIZED VIEW mv")
    r = s.sql("SELECT * FROM mv").collect()[0]
    assert (r.n, r.total) == (3, 100)
    s.sql("DROP MATERIALIZED VIEW mv")
    import pytest as _pytest

    with _pytest.raises(Exception):
        s.sql("SELECT * FROM mv").collect()


def test_materialized_view_incremental_refresh(spark, tmp_path):
    """REFRESH ... INCREMENTALLY merges only the appended rows' partial
    aggregates into the stored result (file-level delta), matching a
    full recomputation exactly; a non-append-only base history refuses
    the incremental path."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE ev (k int PRIMARY KEY, grp varchar, v int)")
    s.sql("INSERT INTO ev VALUES (1,'a',10), (2,'a',5), (3,'b',7)")
    s.sql(
        "CREATE MATERIALIZED VIEW mv2 AS "
        "SELECT grp, COUNT(*) AS n, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx "
        "FROM ev GROUP BY grp"
    )
    # append rows incl. a brand-new group, then refresh incrementally
    s.sql("INSERT INTO ev VALUES (4,'a',99), (5,'c',1)")
    s.sql("REFRESH MATERIALIZED VIEW mv2 INCREMENTALLY")
    got = {
        r["grp"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in s.sql("SELECT * FROM mv2").collect()
    }
    assert got == {"a": (3, 114, 5, 99), "b": (1, 7, 7, 7), "c": (1, 1, 1, 1)}

    # the delta really is file-level: only the appended rows are read
    st = s.catalog.tables["ev"]
    base, v = s.catalog.mv_base["mv2"]
    assert base == "ev" and v == st.version
    delta = st.inserted_since(v - 1)
    assert sorted(r["k"] for r in delta.collect()) == [4, 5]

    # UPDATE rewrites files -> incremental refresh must refuse
    s.sql("UPDATE ev SET v = 1000 WHERE k = 1")
    import pytest as _pytest

    with _pytest.raises(Exception, match="append-only|full"):
        s.sql("REFRESH MATERIALIZED VIEW mv2 INCREMENTALLY")
    # full refresh still works and sees the update
    s.sql("REFRESH MATERIALIZED VIEW mv2")
    got = {r["grp"]: r["mx"] for r in s.sql("SELECT * FROM mv2").collect()}
    assert got["a"] == 1000


def test_incremental_refresh_column_order_and_null_sum(spark, tmp_path):
    """Two full-vs-incremental fidelity cases: (1) an MV whose select
    list puts aggregates BEFORE group columns must keep that stored
    column order across an incremental refresh; (2) a brand-new group
    whose SUM input is entirely NULL must store NULL (what a full
    refresh computes), not 0."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE evo (k int PRIMARY KEY, grp varchar, v int)")
    s.sql("INSERT INTO evo VALUES (1,'a',10), (2,'a',5)")
    s.sql(
        "CREATE MATERIALIZED VIEW mvo AS "
        "SELECT COUNT(*) AS n, SUM(v) AS sm, grp FROM evo GROUP BY grp"
    )
    cols_before = s.sql("SELECT * FROM mvo").columns
    assert cols_before == ["n", "sm", "grp"]
    # new group 'z' with an all-NULL summed column
    s.sql("INSERT INTO evo VALUES (3,'z',NULL), (4,'z',NULL), (5,'a',1)")
    s.sql("REFRESH MATERIALIZED VIEW mvo INCREMENTALLY")
    assert s.sql("SELECT * FROM mvo").columns == cols_before
    got = {r["grp"]: (r["n"], r["sm"]) for r in s.sql("SELECT * FROM mvo").collect()}
    assert got["a"] == (3, 16)
    assert got["z"] == (2, None)  # full refresh stores NULL, so must we


def test_checksum_table_order_insensitive(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE ck1 (k int PRIMARY KEY, v varchar)")
    s.sql("INSERT INTO ck1 VALUES (1,'a'), (2,'b'), (3,'c')")
    s.sql("CREATE TABLE ck2 (k int PRIMARY KEY, v varchar)")
    s.sql("INSERT INTO ck2 VALUES (3,'c'), (1,'a'), (2,'b')")  # same rows, other order
    s.sql("CREATE TABLE ck3 (k int PRIMARY KEY, v varchar)")
    s.sql("INSERT INTO ck3 VALUES (1,'a'), (2,'b'), (3,'X')")  # one cell differs

    got = {
        r["table_name"]: r["checksum"]
        for r in s.sql("CHECKSUM TABLE ck1, ck2, ck3").collect()
    }
    assert got["ck1"] == got["ck2"]
    assert got["ck1"] != got["ck3"]
    assert got["ck1"] > 0


def test_incremental_refresh_rejects_distinct_and_subqueries(spark, tmp_path):
    """DISTINCT aggregates and subquery-bearing MV queries are NOT
    insert-mergeable — the incremental path must refuse them instead of
    silently double-counting."""
    import pytest as _pytest

    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE t9 (k int PRIMARY KEY, g varchar, u int)")
    s.sql("INSERT INTO t9 VALUES (1,'a',7), (2,'a',7), (3,'b',9)")
    s.sql(
        "CREATE MATERIALIZED VIEW mvd AS "
        "SELECT g, COUNT(DISTINCT u) AS n FROM t9 GROUP BY g"
    )
    s.sql("INSERT INTO t9 VALUES (4,'a',7)")
    with _pytest.raises(Exception, match="DISTINCT|unsupported"):
        s.sql("REFRESH MATERIALIZED VIEW mvd INCREMENTALLY")

    s.sql(
        "CREATE MATERIALIZED VIEW mvs AS "
        "SELECT g, COUNT(*) AS n FROM t9 WHERE u > (SELECT min(u) FROM t9) "
        "GROUP BY g"
    )
    s.sql("INSERT INTO t9 VALUES (5,'b',20)")
    with _pytest.raises(Exception, match="single-table|full"):
        s.sql("REFRESH MATERIALIZED VIEW mvs INCREMENTALLY")


def test_inserted_since_partitioned_table(spark, tmp_path):
    """File-level delta over a hive-partitioned snapshot table must
    reconstruct the partition column from the directory names."""
    from etl_lealone_spark.operators.dml import SnapshotTable

    st = SnapshotTable(spark, str(tmp_path), "pt", partition_by=["p"])
    st.create(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, p string, v long")
    )
    v0 = st.version
    st.insert(
        spark.createDataFrame([(3, "a", 30), (4, "c", 40)], "k long, p string, v long")
    )
    delta = st.inserted_since(v0)
    got = sorted((r["k"], r["p"], r["v"]) for r in delta.collect())
    assert got == [(3, "a", 30), (4, "c", 40)]


def test_describe_history_and_describe(es):
    es.sql("CREATE TABLE dh (id INT PRIMARY KEY, v INT)")
    es.sql("INSERT INTO dh VALUES (1, 10), (2, 20)")
    es.sql("UPDATE dh SET v = v + 1 WHERE id = 1")
    hist = es.sql("DESCRIBE HISTORY dh").collect()
    # create (empty) + insert + update — one row per committed version
    assert len(hist) >= 3
    assert sum(1 for r in hist if r["is_current"]) == 1
    cur = max(r["version"] for r in hist)
    assert [r["version"] for r in hist] == sorted(r["version"] for r in hist)
    assert all(r["n_files"] >= 1 for r in hist if r["version"] >= 1)
    assert all(r["size_bytes"] > 0 for r in hist if r["n_files"] > 0)
    assert next(r for r in hist if r["is_current"])["version"] == cur
    # plain DESCRIBE routes to the SHOW COLUMNS surface
    cols = {r["field"] for r in es.sql("DESCRIBE dh").collect()}
    assert cols == {"id", "v"}
    # history composes with time travel: the pre-update version reads 10
    v_ins = sorted(r["version"] for r in hist)[-2]
    old = es.sql(
        f"SELECT v FROM dh VERSION AS OF {v_ins} WHERE id = 1"
    ).collect()
    assert old[0]["v"] == 10


def test_lealone_create_table_forms(es):
    """Lealone's CREATE TABLE forms that Spark's grammar lacks become
    ANSI text before the parse; what they declare is kept."""
    es.sql(
        "CREATE CACHED TABLE f1 (id serial PRIMARY KEY, "
        "n int NULL SELECTIVITY 10, a_id int REFERENCES a) ENGINE=mvstore HIDDEN"
    )
    es.sql(
        "CREATE LOCAL TEMPORARY TABLE f2 (k bigint AUTO_INCREMENT, "
        "w varchar(9) DEFAULT 'x' COLLATE UNICODE STRENGTH SECONDARY NOT NULL, "
        "FOREIGN KEY (k) REFERENCES f1)"
    )
    es.sql("INSERT INTO f2 (w) VALUES ('Ab')")
    assert es.sql("SELECT count(*) FROM f2 WHERE w = 'aB' AND k IS NOT NULL").first()[0] == 1
    cons = es.catalog.constraints
    assert cons["f1"].identity == ["id"] and cons["f1"].not_null == ["id"]
    assert cons["f1"].foreign_keys == [("", ["a_id"], "a", ["id"])]
    assert cons["f2"].identity == ["k"] and cons["f2"].not_null == ["w"]
    assert cons["f2"].foreign_keys == [("", ["k"], "f1", ["id"])]
    assert es.catalog.indexes["__pk_f1"].columns == ["id"]
    es.sql("CREATE MEMORY TABLE f4 (k) AS SELECT TOP 1 id FROM a ORDER BY id DESC")
    assert [tuple(r) for r in es.sql("SELECT * FROM f4").collect()] == [(2,)]
    for bad in (
        "CREATE TABLE f3 (x int) USING parquet",
        "CREATE TABLE f3 (x int REFERENCES f2)",  # f2 has no primary key
        "CREATE TABLE f3 (x varchar(9) COLLATE QQXYZZY)",
        "CREATE TABLE f3 (x int, CHECK (x >))",
        "CREATE TABLE f3 (x int DEFAULT NEXTVAL('sq'))",  # not once per row
    ):
        with pytest.raises(ValueError):
            es.sql(bad)
    assert "f3" not in es.catalog.tables


def test_one_type_mapping(es):
    """CREATE TABLE, ALTER TABLE ADD / ALTER COLUMN and CREATE DOMAIN map
    type names alike: the decimal family keeps (p,s), a domain column
    takes the domain's type, an unknown name raises."""
    from decimal import Decimal

    es.sql("CREATE DOMAIN money AS decimal(10,2)")
    es.sql("CREATE TABLE ty (m money, n int)")
    es.sql("INSERT INTO ty VALUES (10.25, 1), (9.50, 2)")
    got = [r.m for r in es.sql("SELECT m FROM ty ORDER BY m").collect()]
    assert got == [Decimal("9.50"), Decimal("10.25")]
    es.sql("ALTER TABLE ty ADD COLUMN c NUMBER(10,4)")
    es.sql("ALTER TABLE ty ADD COLUMN d DEC(12,3)")
    es.sql("ALTER TABLE ty ALTER COLUMN n SET DATA TYPE money")
    assert es.sql("SELECT * FROM ty").dtypes == [
        ("m", "decimal(10,2)"), ("n", "decimal(10,2)"),
        ("c", "decimal(10,4)"), ("d", "decimal(12,3)"),
    ]
    for bad in (
        "CREATE TABLE ty2 (x integr)",
        "ALTER TABLE ty ADD COLUMN x integr",
        "ALTER TABLE ty ALTER COLUMN n integr",
        "CREATE DOMAIN d2 AS integr",
    ):
        with pytest.raises(ValueError, match="unknown type"):
            es.sql(bad)


# Query text inside DDL passes the same rewrites as a SELECT: each source
# reads from q (k PRIMARY KEY) at versions 1 and 2.
_DDL_SOURCES = {
    "version_as_of": "SELECT count(*) AS n FROM q VERSION AS OF 1",
    "diff": "SELECT count(*) AS n FROM DIFF(q, 1, 2)",
    "info_schema": "SELECT count(*) AS n FROM INFORMATION_SCHEMA.TABLES WHERE table_name = 'q'",
}
_DDL_FORMS = {
    "ctas": ["CREATE TABLE x AS {q}"],
    "view": ["CREATE VIEW x AS {q}"],
    "alter_view": ["CREATE VIEW x AS SELECT 0 AS n", "ALTER VIEW x AS {q}"],
    "mat_view": ["CREATE MATERIALIZED VIEW x AS {q}", "REFRESH MATERIALIZED VIEW x"],
    "call": [],
}


@pytest.mark.parametrize("form", list(_DDL_FORMS))
@pytest.mark.parametrize("source", list(_DDL_SOURCES))
def test_ddl_query_takes_the_router_rewrites(spark, tmp_path, source, form):
    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE q (k int PRIMARY KEY, v int)")
    s.sql("INSERT INTO q VALUES (1, 1), (2, 2)")
    s.sql("UPDATE q SET v = 3 WHERE k = 2")
    q = _DDL_SOURCES[source]
    want = s.sql(q).first()["n"]
    for stmt in _DDL_FORMS[form]:
        s.sql(stmt.format(q=q))
    if form == "call":
        assert s.sql(f"CALL ({q})").first()["result"] == want
    else:
        assert s.sql("SELECT n FROM x").first()["n"] == want
