"""Dialect rewriter tests (SURVEY.md §3 H2-ism list), executed through
EngineSession.sql so the rewrites are verified end to end on Spark."""

from __future__ import annotations

import pytest

from etl_lealone_spark.dialect import rewrite
from etl_lealone_spark.session import EngineSession


@pytest.fixture(scope="module")
def es(spark):
    return EngineSession(spark)


def test_from_first(es):
    out = es.sql("FROM range(1, 4) SELECT id WHERE id > 1")
    assert sorted(r["id"] for r in out.collect()) == [2, 3]


def test_top(es):
    out = es.sql("SELECT TOP 2 id FROM range(1, 10) ORDER BY id")
    assert [r["id"] for r in out.collect()] == [1, 2]


def test_system_range_inclusive(es):
    out = es.sql("SELECT count(*) AS n, sum(X) AS s FROM SYSTEM_RANGE(1, 10)")
    row = out.collect()[0]
    assert row["n"] == 10 and row["s"] == 55


def test_system_range_step(es):
    out = es.sql("SELECT count(*) AS n FROM SYSTEM_RANGE(0, 10, 2)")
    assert out.collect()[0]["n"] == 6


def test_group_concat(es):
    out = es.sql(
        "SELECT GROUP_CONCAT(c ORDER BY c SEPARATOR '|') AS g FROM "
        "(SELECT 'b' AS c UNION ALL SELECT 'a' UNION ALL SELECT 'c')"
    )
    assert out.collect()[0]["g"] == "a|b|c"


def test_variables(es):
    es2 = EngineSession(es.spark)
    es2.set_variable("@threshold", 5)
    out = es2.sql("SELECT count(*) AS n FROM range(1, 10) WHERE id > @threshold")
    assert out.collect()[0]["n"] == 4


def test_rownum(es):
    out = es.sql("SELECT ROWNUM AS rn, id FROM range(100, 103)")
    assert sorted(r["rn"] for r in out.collect()) == [1, 2, 3]


def test_transaction_noops(es):
    for stmt in ("BEGIN", "COMMIT", "ROLLBACK", "SAVEPOINT sp1", "CHECKPOINT"):
        assert es.sql(stmt).collect()[0]["status"] == "ok"


def test_for_update_stripped(es):
    out = es.sql("SELECT id FROM range(1, 3) FOR UPDATE")
    assert out.count() == 2


def test_line_comments():
    assert "// drop" not in rewrite("SELECT 1 // drop me")


def test_top_plus_where(es):
    out = es.sql("SELECT TOP 3 id FROM range(1, 100) WHERE id >= 50 ORDER BY id")
    assert [r["id"] for r in out.collect()] == [50, 51, 52]


def test_table_distinct_constructor(spark):
    from etl_lealone_spark.dialect import rewrite

    sql = rewrite("SELECT * FROM TABLE_DISTINCT(x INT=ARRAY[1,2,2,1])")
    got = sorted(r["x"] for r in spark.sql(sql).collect())
    assert got == [1, 2]
    sql2 = rewrite("SELECT * FROM TABLE(x INT=ARRAY[1,2,2])")
    assert len(spark.sql(sql2).collect()) == 3


# --- MINUS / STRING_AGG / datetime keywords / USE / SHUTDOWN ----------------
def test_minus_is_except(es):
    rows = es.sql(
        "SELECT x FROM SYSTEM_RANGE(1, 5) MINUS SELECT x FROM SYSTEM_RANGE(4, 5)"
    ).collect()
    assert sorted(r.x for r in rows) == [1, 2, 3]


def test_minus_untouched_in_identifier(es):
    # the word inside an identifier/alias must not be rewritten
    assert "EXCEPT" not in rewrite("SELECT 1 AS minus_total")


def test_string_agg(es):
    row = es.sql(
        "SELECT STRING_AGG(cast(x AS varchar(2)), '|') AS s "
        "FROM (SELECT x FROM SYSTEM_RANGE(1, 3))"
    ).collect()[0]
    assert sorted(row.s.split("|")) == ["1", "2", "3"]


def test_datetime_keywords(es):
    row = es.sql(
        "SELECT year(SYSDATE) AS y1, year(SYSTIMESTAMP) AS y2, "
        "TODAY AS d, SYSTIME AS t"
    ).collect()[0]
    assert row.y1 >= 2026 and row.y2 == row.y1
    assert str(row.d) >= "2026-01-01"
    assert len(row.t) == 8 and row.t[2] == ":"


def test_use_schema_statement(spark, tmp_path):
    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE SCHEMA app")
    s.sql("USE app")
    assert s.settings.get("SCHEMA") == "APP"
    with pytest.raises(ValueError):
        s.sql("USE does_not_exist")


def test_shutdown_shim(es):
    for stmt in ("SHUTDOWN", "SHUTDOWN IMMEDIATELY", "SHUTDOWN COMPACT",
                 "SHUTDOWN DEFRAG", "SHUTDOWN SERVER 9092"):
        assert es.sql(stmt).collect()[0][0].startswith("shutdown")


def test_transaction_grammar_noops(es):
    for stmt in (
        "BEGIN WORK", "BEGIN TRANSACTION", "COMMIT WORK",
        "COMMIT TRANSACTION tx1", "ROLLBACK WORK", "ROLLBACK TRANSACTION tx1",
        "SAVEPOINT sp1", "ROLLBACK TO SAVEPOINT sp1",
        "RELEASE SAVEPOINT sp1", "CHECKPOINT SYNC",
    ):
        assert es.sql(stmt).collect()[0][0] == "ok"


# ---------------------------------------------------------------------------
# pipeline operators as SQL table functions
# ---------------------------------------------------------------------------
def test_pipeline_tvfs_in_sql(es, spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today", "en", "s1"),
            (2, "the quick brown fox jumps over the lazy dog again and again today", "en", "s1"),
            (3, "totally different text about full table scan strategies in the engine", "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    docs.createOrReplaceTempView("tvf_docs")

    pairs = es.sql(
        "SELECT id_a, id_b FROM DEDUP_PAIRS('tvf_docs', 0.7) ORDER BY id_a"
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]

    hits = es.sql(
        "SELECT id, n_matches FROM PHRASE_SEARCH('tvf_docs', 'table scan')"
    ).collect()
    assert [(r["id"], r["n_matches"]) for r in hits] == [(3, 1)]

    kept = es.sql(
        "SELECT count(*) AS n FROM QUALITY_FILTER('tvf_docs')"
    ).collect()[0]["n"]
    assert kept == 3

    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "s long, d long"
    ).createOrReplaceTempView("tvf_edges")
    pr = es.sql(
        "SELECT node, rank_x1e9 FROM PAGERANK('tvf_edges', 's', 'd', 3) "
        "ORDER BY rank_x1e9 DESC, node LIMIT 1"
    ).collect()[0]
    assert pr["node"] in (1, 2, 3)


def test_pipeline_tvf_views_do_not_collide(es, spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta here once", "en", "s1"),
            (2, "alpha gamma beta apart", "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    docs.createOrReplaceTempView("tvf_docs2")
    # two different phrases whose cleaned names would collide
    both = es.sql(
        "SELECT a.id FROM PHRASE_SEARCH('tvf_docs2', 'alpha beta') a "
        "LEFT JOIN PHRASE_SEARCH('tvf_docs2', 'alpha.gamma') b ON a.id = b.id"
    ).collect()
    assert [r["id"] for r in both] == [1]  # 'alpha beta' matches doc 1 only


def test_nullary_system_functions_in_sql(es):
    """Engine-shell nullary functions (Function.java system group) work
    in SELECT position through the dialect; a COLUMN sharing a name is
    never rewritten (call-form () required)."""
    from etl_lealone_spark import __version__

    row = es.sql(
        "SELECT LEALONE_VERSION() AS v, DATABASE() AS d, MEMORY_FREE() AS m"
    ).collect()[0]
    assert row["v"] == __version__
    assert row["d"] == "spark"
    assert row["m"] == 0
    # a column named schema is untouched (no parens)
    es.sql("CREATE TABLE nullary_t (id int PRIMARY KEY, schema varchar)")
    es.sql("INSERT INTO nullary_t VALUES (1, 'keep')")
    got = es.sql("SELECT schema FROM nullary_t").collect()
    assert got[0]["schema"] == "keep"


def test_nullary_rewrite_skips_string_literals():
    from etl_lealone_spark.dialect import _rewrite_nullary_system_fns

    # inside a literal: untouched (the old code corrupted the quoting)
    sql = "SELECT 'see DATABASE() docs' AS note, DATABASE() AS db"
    out = _rewrite_nullary_system_fns(sql)
    assert "'see DATABASE() docs'" in out
    assert out.count("DATABASE()") == 1  # only the literal occurrence left
    # ''-escaped literals keep their span
    sql2 = "SELECT 'it''s SCHEMA() here', SCHEMA()"
    out2 = _rewrite_nullary_system_fns(sql2)
    assert "'it''s SCHEMA() here'" in out2 and not out2.rstrip().endswith("SCHEMA()")


@pytest.fixture(scope="module")
def quoting_es(spark):
    s = EngineSession(spark)
    s.set_variable("v", 7)
    s.sql("CREATE CONSTANT k_one VALUE 1")
    s.sql('CREATE ALIAS MABS FOR "java.lang.Math.abs"')
    s.sql("CREATE SEQUENCE s")
    return s


# per rewrite pass, a text that it would rewrite outside a literal
_IN_LITERAL = {
    "variables": "user@example.com",
    "line_comments": "see http://x.org",
    "rownum": "ROWNUM",
    "datetime_keywords": "SYSDATE SYSTIMESTAMP TODAY SYSTIME",
    "constants": "k_one",
    "fn_aliases": "MABS(-1)",
    "group_concat": "GROUP_CONCAT(x)",
    "string_agg": "STRING_AGG(x, ',')",
    "system_range": "SYSTEM_RANGE(1, 2)",
    "table_constructor": "TABLE(x INT=ARRAY[1])",
    "minus": "a MINUS SELECT b",
    "sequence_calls": "NEXTVAL('s')",
    "csvread": "CSVREAD('f.csv')",
    "pipeline_tvf": "QUALITY_FILTER('docs')",
    "nullary_system_fns": "DATABASE()",
}


@pytest.mark.parametrize("rewrite_pass", list(_IN_LITERAL))
def test_rewrites_leave_literals_alone(quoting_es, rewrite_pass):
    text = _IN_LITERAL[rewrite_pass]
    quoted = "'" + text.replace("'", "''") + "'"
    assert quoted in rewrite(f"SELECT {quoted} AS e", session=quoting_es)
    got = quoting_es.sql(f"SELECT {quoted} AS e, 1 AS n // trailing").collect()[0]
    assert (got["e"], got["n"]) == (text, 1)
