"""SnapshotTable + DML transformation tests (SURVEY.md §2.9).

Mirrors the reference's UpdateTest/DeleteTest/MergeTest/TruncateTableTest
(lealone-test/.../sql/dml/) as engine-object tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lealone_spark.operators.dml import (
    SnapshotTable,
    apply_delete,
    apply_update,
    apply_update_limit,
    merge_by_key,
)


@pytest.fixture()
def t4(spark):
    """The canonical 4-column table (SqlTestBase.java:154-157 / FIXTURES F1)."""
    rows = [
        ("01", "a1", "a", 51),
        ("02", "a1", "b", 61),
        ("03", "a2", "c", 61),
        ("25", "a1", "d", 12),
        ("26", "a2", "e", 12),
        ("27", "a1", "f", 12),
        ("50", "a1", "g", 12),
        ("51", "a2", "h", 12),
        ("52", "a1", "i", 12),
        ("75", "a1", "j", 66),
        ("76", "a2", "k", 51),
        ("77", "a1", "l", None),
    ]
    return spark.createDataFrame(rows, "pk string, f1 string, f2 string, f3 int")


def test_apply_update(t4):
    out = apply_update(t4, F.col("f1") == "a2", {"f3": F.col("f3") + 100})
    got = {r["pk"]: r["f3"] for r in out.collect()}
    assert got["03"] == 161 and got["26"] == 112 and got["51"] == 112
    assert got["01"] == 51 and got["77"] is None


def test_apply_update_null_condition_not_matched(t4):
    # f3 IS NULL row: condition f3 > 50 is NULL → not updated
    out = apply_update(t4, F.col("f3") > 50, {"f2": F.lit("X")})
    got = {r["pk"]: r["f2"] for r in out.collect()}
    assert got["77"] == "l" and got["01"] == "X" and got["25"] == "d"


def test_apply_update_limit_pk_order(t4):
    out = apply_update_limit(
        t4, F.col("f1") == "a1", {"f3": F.lit(0)}, limit=2, order_by=["pk"]
    )
    got = {r["pk"]: r["f3"] for r in out.collect()}
    # first two matching in pk order: 01, 02
    assert got["01"] == 0 and got["02"] == 0
    assert got["25"] == 12 and got["27"] == 12  # later matches untouched


def test_apply_delete_three_valued_logic(t4):
    out = apply_delete(t4, F.col("f3") < 50)
    pks = {r["pk"] for r in out.collect()}
    # f3<50 rows deleted; NULL f3 row kept (3VL)
    assert "25" not in pks and "77" in pks and "01" in pks
    assert out.count() == 6  # five f3>=50 rows + the NULL row


def test_merge_by_key_upsert(spark, t4):
    source = spark.createDataFrame(
        [("01", "z9", "Z", 999), ("99", "n1", "N", 1)],
        "pk string, f1 string, f2 string, f3 int",
    )
    out = merge_by_key(t4, source, keys=["pk"])
    got = {r["pk"]: (r["f1"], r["f3"]) for r in out.collect()}
    assert out.count() == 13  # 12 + 1 inserted
    assert got["01"] == ("z9", 999)  # matched → replaced
    assert got["99"] == ("n1", 1)  # unmatched source → inserted
    assert got["02"] == ("a1", 61)  # untouched target survives


def test_snapshot_table_lifecycle(spark, t4, tmp_path):
    st = SnapshotTable(spark, str(tmp_path), "t")
    st.create(t4)
    assert st.read().count() == 12 and st.version == 0

    st.insert(
        spark.createDataFrame([("88", "a9", "m", 7)], "pk string, f1 string, f2 string, f3 int")
    )
    # INSERT is itself a snapshot: version bump, old version untouched
    assert st.read().count() == 13 and st.version == 1
    assert spark.read.parquet(str(tmp_path / "t" / "v000000")).count() == 12

    st.update(F.col("pk") == "88", {"f3": F.lit(70)})
    assert st.version == 2
    assert st.read().filter("pk = '88'").collect()[0]["f3"] == 70

    st.delete(F.col("pk") == "88")
    assert st.read().count() == 12 and st.version == 3

    st.truncate()
    assert st.read().count() == 0
    assert [f.name for f in st.read().schema.fields] == ["pk", "f1", "f2", "f3"]

    # old snapshot still readable until vacuum (snapshot isolation)
    v1 = spark.read.parquet(str(tmp_path / "t" / "v000001"))
    assert v1.count() == 13

    st.vacuum(keep_last=1)
    st2 = SnapshotTable(spark, str(tmp_path), "t")
    assert st2.version == st.version and st2.read().count() == 0

    st.drop()
    assert not st.exists()


def test_merge_by_key_null_value_overwrites(spark, t4):
    # Merge.java:200-215: matched source NULL assigns NULL, not keep-old
    source = spark.createDataFrame(
        [("01", None, "Z", None)], "pk string, f1 string, f2 string, f3 int"
    )
    out = merge_by_key(t4, source, keys=["pk"])
    got = {r["pk"]: (r["f1"], r["f2"], r["f3"]) for r in out.collect()}
    assert got["01"] == (None, "Z", None)
    assert got["02"] == ("a1", "b", 61)


def test_merge_by_key_null_key_raises(spark, t4):
    source = spark.createDataFrame(
        [(None, "x", "y", 1)], "pk string, f1 string, f2 string, f3 int"
    )
    with pytest.raises(ValueError, match="NULL in key"):
        merge_by_key(t4, source, keys=["pk"])


def test_vacuum_chained_pruned_rewrites_keep_all_links(spark, tmp_path):
    """Regression: two pruned rewrites touching the same partition used to
    build a symlink chain v2→v1→v0; vacuum resolved past v1, freed it, and
    the live snapshot dangled."""
    st = SnapshotTable(spark, str(tmp_path), "pt", partition_by=["p"])
    st.create(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "p string, v int"
        )
    )
    # two consecutive pruned rewrites of partition 'a' — 'b' is linked twice
    st.update(F.col("v") == 1, {"v": F.lit(10)}, partition_filter=F.col("p") == "a")
    st.update(F.col("v") == 2, {"v": F.lit(20)}, partition_filter=F.col("p") == "a")
    assert st.version == 2
    st.vacuum(keep_last=1)
    got = sorted((r["p"], r["v"]) for r in st.read().collect())
    assert got == [("a", 10), ("a", 20), ("b", 3), ("b", 4)]


def test_vacuum_transitive_insert_then_prune(spark, tmp_path):
    """An insert snapshot (file links into v0) followed by a pruned rewrite
    (dir link into v1): vacuum must keep v0 transitively."""
    st = SnapshotTable(spark, str(tmp_path), "pt2", partition_by=["p"])
    st.create(
        spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int")
    )
    st.insert(spark.createDataFrame([("a", 3)], "p string, v int"))  # v1
    st.update(F.col("v") == 2, {"v": F.lit(20)}, partition_filter=F.col("p") == "b")  # v2
    st.vacuum(keep_last=1)
    got = sorted((r["p"], r["v"]) for r in st.read().collect())
    assert got == [("a", 1), ("a", 3), ("b", 20)]


def test_insert_snapshot_isolation_unpartitioned(spark, tmp_path):
    st = SnapshotTable(spark, str(tmp_path), "ut")
    st.create(spark.createDataFrame([(1,)], "v int"))
    reader_v0 = spark.read.parquet(str(tmp_path / "ut" / "v000000"))
    st.insert(spark.createDataFrame([(2,)], "v int"))
    assert reader_v0.count() == 1  # old readers undisturbed
    assert st.read().count() == 2
    st.vacuum(keep_last=1)
    assert st.read().count() == 2  # v0 kept: v1 file-links into it


def test_write_mode_honored(spark, tmp_path):
    st = SnapshotTable(spark, str(tmp_path), "wm")
    st.write(spark.createDataFrame([(1,)], "v int"))
    assert st.write(spark.createDataFrame([(2,)], "v int"), mode="ignore") == 0
    assert st.read().count() == 1
    with pytest.raises(ValueError, match="already exists"):
        st.write(spark.createDataFrame([(2,)], "v int"), mode="error")
    st.write(spark.createDataFrame([(2,)], "v int"), mode="append")
    assert st.read().count() == 2


def test_merge_ansi_update_insert(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE ma (id int PRIMARY KEY, v int, tag varchar(10))")
    es.sql("INSERT INTO ma VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    es.sql(
        "MERGE INTO ma USING (SELECT * FROM VALUES (2, 200), (4, 400) "
        "AS x(id, nv)) AS s ON ma.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'upd' "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)"
    )
    got = {
        r["id"]: (r["v"], r["tag"])
        for r in es.sql("SELECT * FROM ma ORDER BY id").collect()
    }
    assert got == {
        1: (10, "a"),        # untouched
        2: (200, "upd"),     # matched → updated
        3: (30, "c"),        # untouched
        4: (400, None),      # not matched → inserted (tag defaults NULL)
    }


def test_merge_ansi_delete(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE md (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO md VALUES (1, 10), (2, 20), (3, 30)")
    es.sql(
        "MERGE INTO md USING (SELECT * FROM VALUES (2) AS x(id)) AS s "
        "ON md.id = s.id WHEN MATCHED THEN DELETE"
    )
    assert [r["id"] for r in es.sql("SELECT id FROM md ORDER BY id").collect()] == [1, 3]


def test_merge_ansi_duplicate_match_raises(spark, tmp_path):
    import pytest as _pytest

    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE mm (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO mm VALUES (1, 10)")
    with _pytest.raises(ValueError, match="multiple source rows"):
        es.sql(
            "MERGE INTO mm USING (SELECT * FROM VALUES (1, 5), (1, 6) "
            "AS x(id, nv)) AS s ON mm.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.nv"
        )


def test_merge_ansi_insert_only(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE mio (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO mio VALUES (1, 10)")
    # ANSI-legal: only WHEN NOT MATCHED (insert-only upsert)
    es.sql(
        "MERGE INTO mio USING (SELECT * FROM VALUES (1, 99), (2, 20) "
        "AS x(id, nv)) AS s ON mio.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)"
    )
    got = {r["id"]: r["v"] for r in es.sql("SELECT * FROM mio").collect()}
    assert got == {1: 10, 2: 20}  # matched row untouched, new row inserted


def test_merge_ansi_matched_guard(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE mg (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO mg VALUES (1, 5), (2, 50)")
    # guard: only update matched rows with v < 10; guard-false matched
    # rows pass through AND still suppress the insert branch
    es.sql(
        "MERGE INTO mg USING (SELECT * FROM VALUES (1, 100), (2, 200), "
        "(3, 300) AS x(id, nv)) AS s ON mg.id = s.id "
        "WHEN MATCHED AND mg.v < 10 THEN UPDATE SET v = s.nv "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)"
    )
    got = {r["id"]: r["v"] for r in es.sql("SELECT * FROM mg").collect()}
    assert got == {1: 100, 2: 50, 3: 300}


def test_merge_ansi_literal_with_comma_and_alias_prefix(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE ml (id int PRIMARY KEY, v int, tag varchar(20))")
    es.sql("INSERT INTO ml VALUES (1, 10, 'a')")
    # a comma or an alias-qualified name inside a literal is text: it
    # neither splits the SET/VALUES list nor gets rewritten
    es.sql(
        "MERGE INTO ml USING (SELECT * FROM VALUES (1, 100), (2, 200) "
        "AS x(id, nv)) AS s ON ml.id = s.id "
        "WHEN MATCHED THEN UPDATE SET tag = 'p,q s.v', v = s.nv "
        "WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.nv, 'x, ml.v')"
    )
    got = {r["id"]: (r["v"], r["tag"]) for r in es.sql("SELECT * FROM ml").collect()}
    assert got == {1: (100, "p,q s.v"), 2: (200, "x, ml.v")}


def test_update_literal_holding_where(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE uw (id int PRIMARY KEY, s varchar(20))")
    es.sql("INSERT INTO uw VALUES (2, 'a'), (3, 'b'), (4, 'c')")
    es.sql("UPDATE uw SET s = 'x WHERE y' WHERE id = 3")
    es.sql("UPDATE uw SET s = concat(s, ' LIMIT 1') WHERE id IN (2, 4) LIMIT 1")
    got = {r["id"]: r["s"] for r in es.sql("SELECT * FROM uw").collect()}
    assert got == {2: "a LIMIT 1", 3: "x WHERE y", 4: "c"}


def test_snapshot_time_travel_read(spark, tmp_path):
    from pyspark.sql import Row

    from etl_lealone_spark.operators.dml import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "tt")
    t.write(spark.createDataFrame([Row(id=1, v=10)], "id long, v long"))
    v0 = t.version
    t.write(spark.createDataFrame([Row(id=1, v=99), Row(id=2, v=20)],
                                  "id long, v long"))
    assert t.versions() == [v0, t.version]
    # AS OF the old version sees the pre-mutation rows
    old = {r["id"]: r["v"] for r in t.read(version=v0).collect()}
    new = {r["id"]: r["v"] for r in t.read().collect()}
    assert old == {1: 10}
    assert new == {1: 99, 2: 20}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read(version=999)


def test_sql_version_as_of(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE h (id int PRIMARY KEY, v int)")
    es.sql("INSERT INTO h VALUES (1, 10)")
    v_before = es.catalog.table("h").version
    es.sql("UPDATE h SET v = 99 WHERE id = 1")
    es.sql("INSERT INTO h VALUES (2, 20)")
    now = {r["id"]: r["v"] for r in es.sql("SELECT * FROM h").collect()}
    old = {r["id"]: r["v"] for r in
           es.sql(f"SELECT * FROM h VERSION AS OF {v_before}").collect()}
    assert now == {1: 99, 2: 20}
    assert old == {1: 10}
    # joins between versions work (two different pinned views)
    n = es.sql(
        f"SELECT count(*) AS n FROM h a JOIN h VERSION AS OF {v_before} b "
        "ON a.id = b.id"
    ).collect()[0]["n"]
    assert n == 1


@pytest.mark.parametrize(
    "query, want",
    [
        ("SELECT CAST(id AS INT), CAST(id * 2 AS INT) FROM range(3)", {0: 0, 1: 2, 2: 4}),
        ("(SELECT 1, 10) UNION (SELECT 2, 20)", {1: 10, 2: 20}),
        ("(SELECT CAST(id AS INT), 7 FROM range(2))", {0: 7, 1: 7}),
    ],
    ids=["ends_in_call", "parenthesized_union", "parenthesized_whole"],
)
def test_insert_select_keeps_inner_parentheses(spark, tmp_path, query, want):
    """Only a pair of parentheses around the whole query is dropped."""
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE ins (id int, v int)")
    es.sql(f"INSERT INTO ins {query}")
    assert {r["id"]: r["v"] for r in es.sql("SELECT * FROM ins").collect()} == want


def test_snapshot_diff_cdc(spark, tmp_path):
    """snapshot_diff: CDC between two retained snapshot versions."""
    from etl_lealone_spark.operators.dml import SnapshotTable, snapshot_diff

    st = SnapshotTable(spark, str(tmp_path), "cdc")
    st.create(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    ))
    v1 = st.version
    # delete k=3, update k=2, insert k=4
    st.write(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)], "k int, s string, v int"
    ))
    v2 = st.version
    diff = snapshot_diff(st.read(v1), st.read(v2), ["k"])
    got = {r.k: (r.change_type, r.v) for r in diff.collect()}
    assert got == {2: ("update", 99), 3: ("delete", 30), 4: ("insert", 40)}
    # no-op diff is empty
    assert snapshot_diff(st.read(v2), st.read(v2), ["k"]).count() == 0


def test_snapshot_diff_plan_single_join(spark):
    from etl_lealone_spark.operators.dml import snapshot_diff
    from etl_lealone_spark.plans import explain_str

    a = spark.createDataFrame([(1, 1)], "k int, v int")
    b = spark.createDataFrame([(1, 2)], "k int, v int")
    s = explain_str(snapshot_diff(a, b, ["k"]), "simple")
    assert s.count("Join") == 1, s  # exactly one full-outer join


def test_diff_sql_surface(spark, tmp_path):
    """SELECT … FROM DIFF(t, v1, v2) — the CDC read in the SQL shell."""
    from etl_lealone_spark.session import EngineSession

    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE dt (k int PRIMARY KEY, v int)")
    s.sql("INSERT INTO dt VALUES (1, 10), (2, 20)")
    v1 = s.catalog.table("dt").version
    s.sql("UPDATE dt SET v = 99 WHERE k = 2")
    s.sql("INSERT INTO dt VALUES (3, 30)")
    v2 = s.catalog.table("dt").version
    rows = {
        r.k: (r.change_type, r.v)
        for r in s.sql(
            f"SELECT k, v, change_type FROM DIFF(dt, {v1}, {v2})"
        ).collect()
    }
    assert rows == {2: ("update", 99), 3: ("insert", 30)}


def test_snapshot_diff_null_values_and_keys(spark):
    """A value updated to NULL shows the new (NULL) image, and a matched
    row whose first key column is NULL is unchanged, not an insert."""
    from etl_lealone_spark.operators.dml import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (None, "c", 30)], "k int, s string, v int"
    )
    new = spark.createDataFrame(
        [(1, None, 10), (2, "b", 20), (None, "c", 30)], "k int, s string, v int"
    )
    got = [tuple(r) for r in snapshot_diff(old, new, ["k"]).collect()]
    assert got == [(1, None, 10, "update")]
    assert snapshot_diff(new, new, ["k", "s", "v"]).count() == 0


def _insert_prepared(es):
    es.prepare("ins", "INSERT INTO t VALUES (:id, :a)")
    return es.execute_prepared("ins", id=3, a=4)


# Each case runs against t (id INT PRIMARY KEY, a INT CHECK (a > 0))
# holding {1: 10, 2: 20}, with u(k, x) = (1, 7), (1, 9), (2, 4) and the
# session variable @v = 7. ``want`` is t after the statement, as
# {id: a}, or the exception the statement raises.
_ROUTED = {
    "comment_insert": ("/* c */ INSERT INTO t VALUES (3, 5)", {1: 10, 2: 20, 3: 5}),
    "comment_insert_dup_key": ("/* c */ INSERT INTO t VALUES (1, 5)", ValueError),
    "line_comment_insert": ("-- c\nINSERT INTO t VALUES (3, 5)", {1: 10, 2: 20, 3: 5}),
    "line_comment_insert_check": ("-- c\nINSERT INTO t VALUES (3, -5)", ValueError),
    "cte_insert": (
        "WITH x AS (SELECT 3 AS id, 5 AS a) INSERT INTO t SELECT * FROM x",
        {1: 10, 2: 20, 3: 5},
    ),
    "cte_insert_dup_key": (
        "WITH x AS (SELECT 1 AS id, 5 AS a) INSERT INTO t SELECT * FROM x",
        ValueError,
    ),
    "positional_args": (
        lambda es: es.sql("INSERT INTO t VALUES (?, ?)", args=[3, 4]), ValueError
    ),
    "prepared_args": (_insert_prepared, ValueError),
    "qualified_set": ("UPDATE t SET t.a = 3 WHERE id = 2", {1: 10, 2: 3}),
    "backticked_set": ("UPDATE t SET `a` = 5 WHERE id = 2", {1: 10, 2: 5}),
    "unknown_set": ("UPDATE t SET nosuch = 3 WHERE id = 2", ValueError),
    "unknown_insert_col": ("INSERT INTO t (id, a, nosuch) VALUES (5, 1, 2)", ValueError),
    "correlated_set": (
        "UPDATE t SET a = (SELECT max(x) FROM u WHERE u.k = t.id) WHERE id <= 2",
        {1: 9, 2: 4},
    ),
    "var_update": ("UPDATE t SET a = @v WHERE id = 1", {1: 7, 2: 20}),
    "var_delete": ("DELETE FROM t WHERE id = @v - 6", {2: 20}),
    "sysdate_update": (
        "UPDATE t SET a = CASE WHEN SYSDATE > TIMESTAMP '2000-01-01' THEN 8 END "
        "WHERE id = 1",
        {1: 8, 2: 20},
    ),
    "sysdate_delete": (
        "DELETE FROM t WHERE SYSDATE > TIMESTAMP '2000-01-01' AND id = 2", {1: 10}
    ),
    "merge_alias_without_as": (
        "MERGE INTO t USING (SELECT 2 AS id, 30 AS a) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET a = s.a",
        {1: 10, 2: 30},
    ),
    "merge_three_deep_using": (
        "MERGE INTO t USING (SELECT * FROM (SELECT * FROM (SELECT k AS id, x AS a "
        "FROM u WHERE x <> 9))) AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET a = s.a "
        "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (s.id + 2, s.a)",
        {1: 7, 2: 4},
    ),
    "comment_update": ("/* c */ UPDATE t SET a = 11 WHERE id = 1", {1: 11, 2: 20}),
    "comment_delete": ("/* c */ DELETE FROM t WHERE id = 1", {2: 20}),
}


@pytest.mark.parametrize("case", list(_ROUTED))
def test_dml_routed_by_parse_tree(spark, tmp_path, case):
    """Every INSERT/UPDATE/DELETE/MERGE goes through the snapshot path,
    whatever precedes it: a write commits exactly one version and keeps
    the constraints; a statement that cannot run raises and commits
    none; the version before it reads unchanged either way."""
    from etl_lealone_spark.session import EngineSession

    stmt, want = _ROUTED[case]
    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE t (id INT PRIMARY KEY, a INT CHECK (a > 0))")
    es.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    es.sql("CREATE TABLE u (k INT, x INT)")
    es.sql("INSERT INTO u VALUES (1, 7), (1, 9), (2, 4)")
    es.set_variable("v", 7)
    st = es.catalog.table("t")
    before = st.versions()
    run = stmt if callable(stmt) else (lambda s: s.sql(stmt))

    def rows(sql):
        return {r["id"]: r["a"] for r in es.sql(sql).collect()}

    if isinstance(want, dict):
        run(es)
        assert rows("SELECT * FROM t") == want
        assert st.versions() == before + [before[-1] + 1]
    else:
        with pytest.raises(want):
            run(es)
        assert st.versions() == before
    assert rows(f"SELECT * FROM t VERSION AS OF {before[-1]}") == {1: 10, 2: 20}
