"""Partition-pruned DML: mutations rewrite only affected partitions —
the 100 TB mutation path (SCALE.md §DML)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_lealone_spark.operators.dml import SnapshotTable


def _table(spark, tmp_path):
    st = SnapshotTable(spark, str(tmp_path), "pt", partition_by=["dt"])
    df = spark.createDataFrame(
        [
            ("2024-01-01", 1, 10.0),
            ("2024-01-01", 2, 20.0),
            ("2024-01-02", 3, 30.0),
            ("2024-01-03", 4, 40.0),
        ],
        "dt string, id int, v double",
    )
    st.create(df)
    return st


def test_pruned_update_only_touches_matching_partition(spark, tmp_path):
    st = _table(spark, tmp_path)
    st.update(
        F.col("dt") == "2024-01-01",
        {"v": F.col("v") + 1},
        partition_filter=F.col("dt") == "2024-01-01",
    )
    got = {r["id"]: r["v"] for r in st.read().collect()}
    assert got == {1: 11.0, 2: 21.0, 3: 30.0, 4: 40.0}
    # untouched partitions are links into the previous snapshot, not copies
    v1 = os.path.join(str(tmp_path), "pt", "v000001")
    assert os.path.islink(os.path.join(v1, "dt=2024-01-02"))
    assert os.path.islink(os.path.join(v1, "dt=2024-01-03"))
    assert not os.path.islink(os.path.join(v1, "dt=2024-01-01"))


def test_pruned_delete(spark, tmp_path):
    st = _table(spark, tmp_path)
    st.delete(
        (F.col("dt") == "2024-01-02") & (F.col("id") == 3),
        partition_filter=F.col("dt") == "2024-01-02",
    )
    ids = sorted(r["id"] for r in st.read().collect())
    assert ids == [1, 2, 4]


def test_old_snapshot_still_readable_after_pruned_rewrite(spark, tmp_path):
    st = _table(spark, tmp_path)
    st.update(
        F.col("dt") == "2024-01-01",
        {"v": F.lit(0.0)},
        partition_filter=F.col("dt") == "2024-01-01",
    )
    v0 = spark.read.parquet(os.path.join(str(tmp_path), "pt", "v000000"))
    assert {r["v"] for r in v0.filter("dt = '2024-01-01'").collect()} == {10.0, 20.0}


def test_vacuum_keeps_linked_snapshots(spark, tmp_path):
    st = _table(spark, tmp_path)
    st.update(
        F.col("dt") == "2024-01-01",
        {"v": F.lit(0.0)},
        partition_filter=F.col("dt") == "2024-01-01",
    )
    st.vacuum(keep_last=1)
    # v0 must survive: v1 symlinks into it
    assert os.path.isdir(os.path.join(str(tmp_path), "pt", "v000000"))
    assert st.read().count() == 4  # still fully readable


def test_full_rewrite_still_works_on_partitioned_table(spark, tmp_path):
    st = _table(spark, tmp_path)
    st.update(F.col("id") == 4, {"v": F.lit(99.0)})  # no partition_filter
    got = {r["id"]: r["v"] for r in st.read().collect()}
    assert got[4] == 99.0 and got[1] == 10.0
    assert st.read().count() == 4


def test_compact_rewrites_only_hot_partitions(spark, tmp_path):
    """OPTIMIZE-style compaction: partitions over the file threshold are
    rewritten to one file; cold partitions are LINKED (metadata-only);
    rows are identical before/after; a no-op does not bump the version."""
    st = _table(spark, tmp_path)
    # accrete files in dt=2024-01-01 only
    for i in range(5):
        st.insert(
            spark.createDataFrame(
                [("2024-01-01", 100 + i, float(i))], "dt string, id int, v double"
            )
        )
    counts = st.file_counts()
    assert counts[("2024-01-01",)] >= 6
    cold_before = counts[("2024-01-02",)]
    before = sorted(tuple(r) for r in st.read().collect())
    v = st.compact(max_files=3)
    assert v == st.version
    after = st.file_counts()
    assert after[("2024-01-01",)] == 1
    assert after[("2024-01-02",)] == cold_before
    assert sorted(tuple(r) for r in st.read().collect()) == before
    # cold partition is a link, not a copy
    vdir = os.path.join(str(tmp_path), "pt", f"v{v:06d}")
    assert os.path.islink(os.path.join(vdir, "dt=2024-01-02"))
    # everything under threshold now -> no-op, version unchanged
    assert st.compact(max_files=3) == v


def test_compact_unpartitioned(spark, tmp_path):
    st = SnapshotTable(spark, str(tmp_path), "flat")
    st.create(spark.createDataFrame([(1, "a")], "id int, s string"))
    for i in range(4):
        st.insert(spark.createDataFrame([(2 + i, "b")], "id int, s string"))
    assert st.file_counts()[()] >= 5
    before = sorted(tuple(r) for r in st.read().collect())
    v = st.compact(max_files=2)
    assert st.file_counts()[()] == 1
    assert sorted(tuple(r) for r in st.read().collect()) == before
    assert st.compact(max_files=2) == v


def test_compact_and_pruned_rewrite_with_escaped_partition_values(spark, tmp_path):
    """Hive dir names escape special chars (':' -> '%3A'); every
    dir-name-vs-column-value comparison must unescape or partitions
    with such values are silently mistreated: compact() would no-op on
    them, and a pruned UPDATE would DUPLICATE them (the touched dir
    also gets linked as 'untouched')."""
    st = SnapshotTable(spark, str(tmp_path), "esc", partition_by=["src"])
    st.create(
        spark.createDataFrame(
            [("a:b", 1, 10.0), ("plain", 2, 20.0)], "src string, id int, v double"
        )
    )
    # pruned update touching ONLY the escaped partition: no duplicates
    st.update(
        F.col("src") == "a:b",
        {"v": F.col("v") + 1},
        partition_filter=F.col("src") == "a:b",
    )
    rows = sorted(
        tuple(r) for r in st.read().select("src", "id", "v").collect()
    )
    assert rows == [("a:b", 1, 11.0), ("plain", 2, 20.0)]
    # accrete files in the escaped partition, then compact it
    for i in range(4):
        st.insert(
            spark.createDataFrame(
                [("a:b", 100 + i, float(i))], "src string, id int, v double"
            )
        )
    assert st.file_counts()[("a:b",)] >= 5
    before = sorted(
        tuple(r) for r in st.read().select("src", "id", "v").collect()
    )
    v = st.compact(max_files=2)
    assert v == st.version
    assert st.file_counts()[("a:b",)] == 1
    assert sorted(
        tuple(r) for r in st.read().select("src", "id", "v").collect()
    ) == before


def test_compact_across_tricky_partition_values(spark, tmp_path):
    """The dir-name-vs-value comparison must hold for every escaping
    class Spark's hive layout produces: spaces, percent signs, '=',
    multi-byte UTF-8, and colons. Each partition accretes files and
    must compact to one, with rows identical."""
    vals = ["a b", "a%b", "a=b", "über", "a:b", "plain"]
    st = SnapshotTable(spark, str(tmp_path), "tr", partition_by=["src"])
    st.create(
        spark.createDataFrame([(v, 0) for v in vals], "src string, id int")
    )
    for i in range(1, 4):
        st.insert(
            spark.createDataFrame(
                [(v, i) for v in vals], "src string, id int"
            )
        )
    counts = st.file_counts()
    assert set(counts) == {(v,) for v in vals}  # keys are the RAW values
    assert all(n >= 4 for n in counts.values())
    before = sorted(
        tuple(r) for r in st.read().select("src", "id").collect()
    )
    st.compact(max_files=2)
    after = st.file_counts()
    assert all(after[(v,)] == 1 for v in vals)
    assert sorted(
        tuple(r) for r in st.read().select("src", "id").collect()
    ) == before


def test_torn_snapshot_is_invisible_and_cleared(spark, tmp_path):
    """A crash mid-mutation leaves a version dir WITHOUT Spark's
    _SUCCESS marker (e.g. a pruned rewrite that linked untouched
    partitions but died before the touched append): readers must treat
    it as uncommitted — the previous version stays latest — and the
    next mutation must clear the torn remains instead of merging with
    them (the exactly-once contract the SCD2 applier builds on)."""
    st = _table(spark, tmp_path)
    # a handle opened from disk reads the persisted schema, dt string
    # included, as the writer's handle does
    cols = ["dt", "id", "v"]
    v0_rows = sorted(tuple(r) for r in st.read().select(*cols).collect())
    # simulate the torn dir: cloned links only, no _SUCCESS, no data
    # for the 'touched' partition
    torn = os.path.join(str(tmp_path), "pt", "v000001")
    os.makedirs(torn)
    os.symlink(
        os.path.realpath(os.path.join(str(tmp_path), "pt", "v000000", "dt=2024-01-02")),
        os.path.join(torn, "dt=2024-01-02"),
    )
    # a fresh handle must NOT see the torn dir as latest
    st2 = SnapshotTable(spark, str(tmp_path), "pt", partition_by=["dt"])
    assert st2.version == 0
    assert sorted(
        tuple(r) for r in st2.read().select(*cols).collect()
    ) == v0_rows
    assert st2.versions() == [0]
    # the next mutation claims v000001 cleanly (torn remains cleared)
    st2.update(
        F.col("dt") == "2024-01-01",
        {"v": F.col("v") + 1},
        partition_filter=F.col("dt") == "2024-01-01",
    )
    assert st2.version == 1
    got = {r["id"]: r["v"] for r in st2.read().collect()}
    assert got == {1: 11.0, 2: 21.0, 3: 30.0, 4: 40.0}


def test_compact_multicol_null_partition_safe(spark, tmp_path):
    """Multi-column partitioning with a NULL component: compact's
    membership test is a per-column tuple disjunction (r7 advisor
    finding — concat_ws silently drops NULL columns, letting a
    NULL-bearing row collide with a touched key and be BOTH linked and
    rewritten, i.e. duplicated). The NULL partition must stay linked,
    untouched, exactly once; the hot partition compacts to one file."""
    st = SnapshotTable(spark, str(tmp_path), "mc", partition_by=["p", "q"])
    st.create(
        spark.createDataFrame(
            [("a", "b", 1), ("a", None, 2), ("x", "y", 3)],
            "p string, q string, id int",
        )
    )
    for i in range(5):  # accrete files only in (a, b)
        st.insert(
            spark.createDataFrame(
                [("a", "b", 100 + i)], "p string, q string, id int"
            )
        )
    before = sorted(tuple(r) for r in st.read().collect())
    counts = st.file_counts()
    assert counts[("a", "b")] >= 6
    null_before = counts[("a", "__HIVE_DEFAULT_PARTITION__")]
    v = st.compact(max_files=3)
    after = st.file_counts()
    assert after[("a", "b")] == 1
    assert after[("a", "__HIVE_DEFAULT_PARTITION__")] == null_before
    assert sorted(tuple(r) for r in st.read().collect()) == before
    # the NULL partition's leaf dir is a link into the old snapshot
    vdir = os.path.join(str(tmp_path), "mc", f"v{v:06d}")
    assert os.path.islink(
        os.path.join(vdir, "p=a", "q=__HIVE_DEFAULT_PARTITION__")
    )


def test_compact_vacuum_cycles_compose(spark, tmp_path):
    """Maintenance surfaces must COMPOSE (r7 verdict task 6): a year of
    daily insert+compact cycles accretes one version dir per mutation
    that only VACUUM trims. Drive N cycles, then VACUUM RETAIN-style
    keep_last: row identity holds throughout, the version-dir count
    drops to the retained tail plus whatever older snapshots surviving
    links still reference, and unreferenced old versions are gone."""
    st = _table(spark, tmp_path)
    for cycle in range(3):
        for i in range(4):
            st.insert(
                spark.createDataFrame(
                    [("2024-01-01", 1000 * cycle + i, float(i))],
                    "dt string, id int, v double",
                )
            )
        st.compact(max_files=2)
        assert st.file_counts()[("2024-01-01",)] == 1
    before = sorted(tuple(r) for r in st.read().collect())
    base = os.path.join(str(tmp_path), "pt")
    n_versions = len([d for d in os.listdir(base) if d.startswith("v")])
    assert n_versions == 16  # create + 3 x (4 inserts + 1 compact)
    st.vacuum(keep_last=1)
    survivors = sorted(d for d in os.listdir(base) if d.startswith("v"))
    # current version + transitively linked ancestors survive; the
    # early insert-chain versions (superseded by compaction rewrites)
    # must be gone
    assert len(survivors) < n_versions
    assert f"v{st.version:06d}" in survivors
    assert sorted(tuple(r) for r in st.read().collect()) == before
    # a fresh compact after vacuum still works (below threshold: no-op)
    assert st.compact(max_files=2) == st.version


def test_snapshot_tree_is_relocatable(spark, tmp_path):
    """Pruned rewrites and insert snapshots link into earlier versions;
    those links must be RELATIVE so a staged build dir renamed into its
    final content-keyed root (the workload discipline) — or a wholesale
    table copy — keeps every historical version readable. Regression:
    absolute link targets stranded v1's untouched partitions after the
    snapshot_time_travel root rename (r8)."""
    import shutil

    build = str(tmp_path / "stage")
    st = SnapshotTable(spark, build, "pt", partition_by=["dt"])
    st.create(
        spark.createDataFrame(
            [("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0),
             ("2024-01-03", 3, 30.0)],
            "dt string, id int, v double",
        )
    )
    st.update(
        F.col("dt") == "2024-01-01",
        {"v": F.col("v") + 1},
        partition_filter=F.col("dt") == "2024-01-01",
    )
    st.insert(
        spark.createDataFrame([("2024-01-02", 4, 40.0)], "dt string, id int, v double")
    )
    final = str(tmp_path / "final")
    os.rename(build, final)
    shutil.rmtree(str(tmp_path / "stage"), ignore_errors=True)
    moved = SnapshotTable(spark, final, "pt", partition_by=["dt"])
    # every version — including the ones whose partitions are links —
    # reads complete from the NEW location
    assert sorted((r["id"], r["v"]) for r in moved.read(version=0).collect()) == [
        (1, 10.0), (2, 20.0), (3, 30.0)
    ]
    assert sorted((r["id"], r["v"]) for r in moved.read(version=1).collect()) == [
        (1, 11.0), (2, 20.0), (3, 30.0)
    ]
    assert sorted((r["id"], r["v"]) for r in moved.read(version=2).collect()) == [
        (1, 11.0), (2, 20.0), (3, 30.0), (4, 40.0)
    ]
    # and vacuum's reference graph still resolves links after the move
    moved.vacuum(keep_last=1)
    assert sorted((r["id"], r["v"]) for r in moved.read().collect()) == [
        (1, 11.0), (2, 20.0), (3, 30.0), (4, 40.0)
    ]


def test_relocation_nested_partitions_and_unpartitioned(spark, tmp_path):
    """Relative links must hold at ANY partition depth (relpath is taken
    from the leaf link's own directory) and for the unpartitioned
    insert path's file-level links."""
    import shutil

    # two-level partitioning, pruned update touching one (p,q) leaf
    b1 = str(tmp_path / "s1")
    st = SnapshotTable(spark, b1, "n2", partition_by=["p", "q"])
    st.create(
        spark.createDataFrame(
            [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
            "p string, q string, v int",
        )
    )
    st.update(
        (F.col("p") == "a") & (F.col("q") == "x"),
        {"v": F.col("v") + 10},
        partition_filter=(F.col("p") == "a") & (F.col("q") == "x"),
    )
    f1 = str(tmp_path / "f1")
    os.rename(b1, f1)
    moved = SnapshotTable(spark, f1, "n2", partition_by=["p", "q"])
    assert sorted(r["v"] for r in moved.read(version=1).collect()) == [2, 3, 11]
    assert sorted(r["v"] for r in moved.read(version=0).collect()) == [1, 2, 3]

    # unpartitioned insert: file-level links survive the rename
    b2 = str(tmp_path / "s2")
    st2 = SnapshotTable(spark, b2, "flat")
    st2.create(spark.createDataFrame([(1,)], "v int"))
    st2.insert(spark.createDataFrame([(2,)], "v int"))
    f2 = str(tmp_path / "f2")
    os.rename(b2, f2)
    moved2 = SnapshotTable(spark, f2, "flat")
    assert sorted(r["v"] for r in moved2.read(version=1).collect()) == [1, 2]
    assert [r["v"] for r in moved2.read(version=0).collect()] == [1]
    shutil.rmtree(f1, ignore_errors=True)


def test_restore_rolls_back_by_link_clone(spark, tmp_path):
    """RESTORE commits a NEW version that is a metadata-only link-clone
    of the target: content identical, history preserved, vacuum keeps
    the restored-from snapshot alive through the link references."""
    st = _table(spark, tmp_path)
    v0_rows = sorted(tuple(r) for r in st.read().collect())
    st.update(
        F.col("dt") == "2024-01-01",
        {"v": F.col("v") * 100},
        partition_filter=F.col("dt") == "2024-01-01",
    )
    st.delete(F.col("id") == 4)
    assert sorted(tuple(r) for r in st.read().collect()) != v0_rows
    new_v = st.restore(0)
    assert new_v == st.version
    assert sorted(tuple(r) for r in st.read().collect()) == v0_rows
    # history preserved: the pre-restore states are still readable
    assert any(r["v"] == 1000.0 for r in st.read(version=1).collect())
    # rollback is itself versioned: mutate after restore, restore again
    st.insert(
        spark.createDataFrame([("2024-01-04", 9, 90.0)], "dt string, id int, v double")
    )
    st.restore(new_v)
    assert sorted(tuple(r) for r in st.read().collect()) == v0_rows
    # vacuum keeps what the current (restored) version links to
    st.vacuum(keep_last=1)
    assert sorted(tuple(r) for r in st.read().collect()) == v0_rows
    # unknown version raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        st.restore(999)


def test_restore_unpartitioned_and_sql_surface(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE rt (id INT PRIMARY KEY, v INT)")
    es.sql("INSERT INTO rt VALUES (1, 10), (2, 20)")
    es.sql("UPDATE rt SET v = 0")
    before = sorted(tuple(r) for r in es.sql("SELECT * FROM rt VERSION AS OF 1").collect())
    es.sql("RESTORE TABLE rt TO VERSION AS OF 1")
    assert sorted(tuple(r) for r in es.sql("SELECT * FROM rt").collect()) == before
    hist = es.sql("DESCRIBE HISTORY rt").collect()
    assert sum(1 for r in hist if r["is_current"]) == 1
    assert max(r["version"] for r in hist) == 3  # create,insert,update,restore


def test_shallow_clone_and_vacuum_protection(spark, tmp_path):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE src (id INT PRIMARY KEY, v INT)")
    es.sql("INSERT INTO src VALUES (1, 10), (2, 20)")
    es.sql("CREATE TABLE cp CLONE src")
    rows = sorted(tuple(r) for r in es.sql("SELECT * FROM cp").collect())
    assert rows == [(1, 10), (2, 20)]
    # independent evolution: mutate both sides, neither sees the other
    es.sql("UPDATE cp SET v = 99 WHERE id = 1")
    es.sql("UPDATE src SET v = 0 WHERE id = 2")
    assert sorted(tuple(r) for r in es.sql("SELECT * FROM cp").collect()) == [
        (1, 99), (2, 20)
    ]
    assert sorted(tuple(r) for r in es.sql("SELECT * FROM src").collect()) == [
        (1, 10), (2, 0)
    ]
    # vacuum of the SOURCE must keep the version the clone links into
    es.sql("VACUUM src RETAIN 1 VERSIONS")
    assert sorted(tuple(r) for r in es.sql("SELECT * FROM cp").collect()) == [
        (1, 99), (2, 20)
    ]
    # duplicate name rejected; IF NOT EXISTS tolerated
    import pytest as _pytest

    with _pytest.raises(ValueError):
        es.sql("CREATE TABLE cp CLONE src")
    es.sql("CREATE TABLE IF NOT EXISTS cp CLONE src")
    # SHALLOW keyword accepted
    es.sql("CREATE TABLE cp2 SHALLOW CLONE cp")
    assert sorted(tuple(r) for r in es.sql("SELECT * FROM cp2").collect()) == [
        (1, 99), (2, 20)
    ]


def test_clone_constraints_are_independent(spark, tmp_path):
    """r8 advisor: CLONE must deep-copy TableConstraints — an ALTER on
    either side after cloning must not rewrite the other's write-time
    enforcement metadata (the shared-object aliasing bug)."""
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE csrc (id INT PRIMARY KEY, v INT DEFAULT 7)")
    es.sql("CREATE TABLE ccp CLONE csrc")
    # mutate the CLONE's constraints; source must keep DEFAULT 7
    es.sql("ALTER TABLE ccp ALTER COLUMN v SET DEFAULT 99")
    es.sql("INSERT INTO csrc (id) VALUES (1)")
    es.sql("INSERT INTO ccp (id) VALUES (1)")
    assert [r["v"] for r in es.sql("SELECT v FROM csrc").collect()] == [7]
    assert [r["v"] for r in es.sql("SELECT v FROM ccp").collect()] == [99]
    # and the other direction: ALTER the source, clone unaffected
    es.sql("ALTER TABLE csrc ALTER COLUMN v SET DEFAULT 5")
    es.sql("INSERT INTO ccp (id) VALUES (2)")
    assert sorted(r["v"] for r in es.sql("SELECT v FROM ccp").collect()) == [99, 99]


def test_drop_table_refuses_clone_source(spark, tmp_path):
    """r8 advisor: DROP TABLE on a shallow-clone source hard-deletes the
    files the clone's symlinks resolve into. RESTRICT by default;
    CASCADE drops the dependent clones too (clone-of-clone recursive)."""
    import pytest as _pytest

    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE dsrc (id INT PRIMARY KEY, v INT)")
    es.sql("INSERT INTO dsrc VALUES (1, 10), (2, 20)")
    es.sql("CREATE TABLE dcp CLONE dsrc")
    es.sql("CREATE TABLE dcp2 SHALLOW CLONE dcp")
    with _pytest.raises(ValueError, match="shallow clone"):
        es.sql("DROP TABLE dsrc")
    # clone still intact after the refused drop
    assert sorted(tuple(r) for r in es.sql("SELECT * FROM dcp").collect()) == [
        (1, 10), (2, 20)
    ]
    # dropping the LEAF clone is always fine
    es.sql("DROP TABLE dcp2")
    # CASCADE drops the whole dependent chain
    es.sql("CREATE TABLE dcp3 SHALLOW CLONE dcp")
    es.sql("DROP TABLE dsrc CASCADE")
    for t in ("dsrc", "dcp", "dcp3"):
        with _pytest.raises(Exception):
            es.sql(f"SELECT * FROM {t}").collect()
    names = [r["table_name"] for r in es.sql("SHOW TABLES").collect()]
    assert not {"dsrc", "dcp", "dcp3"} & set(names)


def test_describe_table_keyword_and_native_fallback(spark, tmp_path):
    """r8 advisor: DESCRIBE TABLE t (the common form) must parse, and
    DESCRIBE of a Spark-native temp view must fall through to Spark."""
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE dt1 (id INT PRIMARY KEY, v VARCHAR(10))")
    for stmt in ("DESCRIBE dt1", "DESCRIBE TABLE dt1", "DESC TABLE dt1"):
        cols = [r["field"] for r in es.sql(stmt).collect()]
        assert cols == ["id", "v"], stmt
    # Spark-native temp view: falls through to spark.sql
    spark.createDataFrame([(1, "a")], "x int, y string").createOrReplaceTempView(
        "native_view_desc"
    )
    try:
        rows = es.sql("DESCRIBE TABLE native_view_desc").collect()
        assert {r["col_name"] for r in rows} >= {"x", "y"}
    finally:
        spark.catalog.dropTempView("native_view_desc")


def test_bloom_bitmap_empty_build_side(spark):
    """r8 advisor: bloom_bitmap over an EMPTY build side must report
    bloom_bits_set = 0 (not NULL) and pass no probe rows."""
    from etl_lealone_spark.operators.joins import bloom_bitmap, bloom_semi_join

    empty = spark.createDataFrame([], "k string")
    row = bloom_bitmap(empty, "k").collect()[0]
    assert row["bloom_bits_set"] == 0
    assert row["bloom_n_keys"] == 0
    probe = spark.createDataFrame([("a",), ("b",)], "k string")
    assert bloom_semi_join(probe, "k", empty, "k").count() == 0


def test_timestamp_as_of(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the latest version committed at or
    before the literal (commit time = the _SUCCESS marker's mtime —
    pinned with utime here so the test is timing-independent), shares
    the VERSION AS OF machinery, raises before the first commit, and
    DESCRIBE HISTORY exposes the commit_ts column in version order."""
    import os

    import pytest as _pytest

    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE tta (id INT PRIMARY KEY, v INT)")
    es.sql("INSERT INTO tta VALUES (1, 10)")
    es.sql("UPDATE tta SET v = 20")
    # pin commit times: v0 @ 10:00, v1 @ 11:00, v2 @ 12:00 UTC
    base = 1_700_000_000  # 2023-11-14 22:13:20 UTC; exact value irrelevant
    from etl_lealone_spark.operators.dml import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "tta")
    for i, ver in enumerate(t.versions()):
        marker = os.path.join(t._dir(ver), "_SUCCESS")
        os.utime(marker, (base + i * 3600, base + i * 3600))
    from datetime import datetime, timezone

    def iso(off: int) -> str:
        return (
            datetime.fromtimestamp(base + off, tz=timezone.utc)
            .replace(tzinfo=None)
            .isoformat(sep=" ")
        )

    # exactly at v1's commit → v1 (the INSERT state)
    rows = es.sql(f"SELECT * FROM tta TIMESTAMP AS OF '{iso(3600)}'").collect()
    assert [tuple(r) for r in rows] == [(1, 10)]
    # between v1 and v2 → still v1
    rows = es.sql(f"SELECT * FROM tta TIMESTAMP AS OF '{iso(5000)}'").collect()
    assert [tuple(r) for r in rows] == [(1, 10)]
    # after v2 → current
    rows = es.sql(f"SELECT * FROM tta TIMESTAMP AS OF '{iso(99999)}'").collect()
    assert [tuple(r) for r in rows] == [(1, 20)]
    # before the first commit → typed error, never silently-oldest
    with _pytest.raises(ValueError, match="at or before"):
        es.sql(f"SELECT * FROM tta TIMESTAMP AS OF '{iso(-10)}'").collect()
    # DESCRIBE HISTORY carries commit_ts, ascending with version
    hist = es.sql("DESCRIBE HISTORY tta").collect()
    cts = [r["commit_ts"] for r in sorted(hist, key=lambda r: r["version"])]
    assert cts == sorted(cts) and len(cts) == 3
    assert cts[0] == datetime.fromtimestamp(base, tz=timezone.utc).replace(
        tzinfo=None
    )
    # API surface: version_as_of_timestamp matches the SQL resolution
    assert t.version_as_of_timestamp(base + 3600) == 1
    assert t.commit_ts(2) == base + 7200
    with _pytest.raises(ValueError, match="no version 99"):
        t.commit_ts(99)


def _null_part_table(spark, tmp_path):
    st = SnapshotTable(spark, str(tmp_path), "np", partition_by=["pk"])
    st.create(
        spark.createDataFrame(
            [("a", 1, 10), (None, 2, 20)], "pk string, id int, v int"
        )
    )
    return st


def test_null_partition_insert_leaves_old_version(spark, tmp_path):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__; the
    insert must link that dir file by file, never append through a
    directory link into the previous version."""
    st = _null_part_table(spark, tmp_path)
    st.insert(spark.createDataFrame([(None, 3, 30)], "pk string, id int, v int"))
    assert st.read(version=0).count() == 2
    assert sorted(r["id"] for r in st.read().collect()) == [1, 2, 3]


def test_pruned_update_of_null_partition(spark, tmp_path):
    st = _null_part_table(spark, tmp_path)
    st.update(
        F.col("pk").isNull(),
        {"v": F.col("v") + 1},
        partition_filter=F.col("pk").isNull(),
    )
    got = {r["id"]: r["v"] for r in st.read().collect()}
    assert got == {1: 10, 2: 21}
    assert {r["id"]: r["v"] for r in st.read(version=0).collect()} == {1: 10, 2: 20}


def test_string_partition_keeps_type_through_pruned_update(
    spark, tmp_path, jobs_run_by
):
    """A zero-padded STRING partition value reads back as written: '01'
    stays '01', not the int 1 partition inference makes of it. With the
    inferred int, a pruned update of p = '01' wrote its new rows to p=1
    and kept p=01 linked, so 3 rows became 5. The type is persisted with
    the version, so a handle opened from disk reads it too, with no job."""
    SnapshotTable(spark, str(tmp_path), "zp", partition_by=["p"]).create(
        spark.createDataFrame([("01", 1), ("01", 2), ("02", 3)], "p string, x int")
    )
    st = SnapshotTable(spark, str(tmp_path), "zp", partition_by=["p"])
    assert jobs_run_by(st.read) == 0
    assert dict(st.read().dtypes)["p"] == "string"
    st.update(
        F.lit(True), {"x": F.col("x") + 10}, partition_filter=F.col("p") == "01"
    )
    assert dict(st.read().dtypes)["p"] == "string"
    assert st.read().count() == 3
    assert sorted((r["p"], r["x"]) for r in st.read().collect()) == [
        ("01", 11), ("01", 12), ("02", 3)
    ]


def test_compact_null_partition(spark, tmp_path):
    st = _null_part_table(spark, tmp_path)
    for i in range(3):
        st.insert(
            spark.createDataFrame([(None, 10 + i, i)], "pk string, id int, v int")
        )
    before = sorted(tuple(r) for r in st.read().collect())
    assert st.file_counts()[("__HIVE_DEFAULT_PARTITION__",)] == 4
    st.compact(max_files=2)
    counts = st.file_counts()
    assert counts[("__HIVE_DEFAULT_PARTITION__",)] == 1
    assert counts[("a",)] == 1
    assert sorted(tuple(r) for r in st.read().collect()) == before


def test_nested_partitions_clone_insert_restore_vacuum(spark, tmp_path):
    """Two-column partitioning through every commit path: a clone's leaf
    partitions are directory links into the source, an insert into one
    of them must not write through into the source, and RESTORE plus
    VACUUM on the source must keep every version both tables still
    read."""
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path))
    schema = "p string, q string, id int"
    st = SnapshotTable(spark, str(tmp_path), "ns", partition_by=["p", "q"])
    st.create(
        spark.createDataFrame([("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], schema)
    )
    es.catalog.tables["ns"] = st
    es.catalog.refresh_view("ns")
    v0 = [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)]

    es.sql("CREATE TABLE nc CLONE ns")
    clone = es.catalog.table("nc")
    assert os.path.islink(os.path.join(clone._dir(0), "p=a", "q=x"))
    es.sql("INSERT INTO nc (p, q, id) VALUES ('a', 'x', 4)")

    def rows(t, v=None):
        return sorted((r["p"], r["q"], r["id"]) for r in t.read(version=v).collect())

    assert rows(st) == v0

    st.update(
        F.col("p") == "b",
        {"id": F.col("id") * 10},
        partition_filter=F.col("p") == "b",
    )
    es.sql("RESTORE TABLE ns TO VERSION AS OF 0")
    es.sql("VACUUM ns RETAIN 1 VERSIONS")
    assert st.versions() == [0, 2]  # v1 is referenced by nothing
    assert rows(st, 0) == v0 and rows(st, 2) == v0
    assert clone.versions() == [0, 1]
    assert rows(clone, 0) == v0
    assert rows(clone, 1) == sorted(v0 + [("a", "x", 4)])
