"""Incremental (stateful) near-dup dedup + result cache tests."""

from __future__ import annotations

import pytest

from etl_lealone_spark.session import EngineSession
from etl_lealone_spark.streaming.incremental_dedup import IncrementalDeduper

D1 = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the tall green hills and the river flows gently to the sea"
)
D1_NEAR = D1.replace("green", "blue")
D2 = (
    "completely different content about database engines and distributed "
    "query processing with columnar storage and vectorized execution today"
)
D3 = "short unique text about nothing in particular with several words here"


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_incremental_dedup_across_batches(spark, tmp_path):
    d = IncrementalDeduper(spark, str(tmp_path), threshold=0.5)

    b1 = _docs(spark, [(1, D1, "en", "w", len(D1)), (2, D2, "en", "w", len(D2))])
    acc1 = d.process_batch(b1)
    assert {r["doc_id"] for r in acc1.collect()} == {1, 2}

    # batch 2: near-dup of doc 1 (dropped vs STATE), a fresh doc (kept),
    # and an intra-batch exact dup pair (smaller id kept)
    b2 = _docs(
        spark,
        [
            (10, D1_NEAR, "en", "w", len(D1_NEAR)),
            (11, D3, "en", "w", len(D3)),
            (12, D3, "en", "w", len(D3)),
        ],
    )
    acc2 = d.process_batch(b2)
    got = {r["doc_id"] for r in acc2.collect()}
    assert got == {11}, got  # 10 dropped vs state, 12 dropped intra-batch

    state_ids = {r["doc_id"] for r in d.docs.read().collect()}
    assert state_ids == {1, 2, 11}

    # batch 3: near-dup of a batch-2 survivor → state caught it too
    b3 = _docs(spark, [(20, D3 + " extra", "en", "w", len(D3) + 6)])
    acc3 = d.process_batch(b3)
    assert acc3.count() == 0


def test_result_cache(spark, tmp_path):
    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE rc (id int, v int)")
    es.sql("INSERT INTO rc VALUES (1, 10), (2, 20)")

    q = "SELECT cast(sum(v) as bigint) AS s FROM rc"
    assert es.sql_cached(q).collect()[0]["s"] == 30
    assert len(es._result_cache) == 1
    # cache hit returns the same rows
    assert es.sql_cached(q).collect()[0]["s"] == 30

    # mutation invalidates
    es.sql("INSERT INTO rc VALUES (3, 5)")
    assert len(es._result_cache) == 0
    assert es.sql_cached(q).collect()[0]["s"] == 35

    # non-query statements bypass the cache
    es.sql_cached("SET FOO 1")
    assert es.get_setting("FOO") == 1


def test_result_cache_never_replays_a_write(spark, tmp_path):
    es = EngineSession(spark, warehouse=str(tmp_path))
    es.sql("CREATE TABLE rw (id int, v int)")
    q = "WITH x AS (SELECT 1 AS id, 5 AS v) INSERT INTO rw SELECT * FROM x"
    es.sql_cached(q)
    es.sql_cached(q)
    assert es.sql("SELECT count(*) AS n FROM rw").collect()[0]["n"] == 2
    assert not es._result_cache


def test_result_cache_runs_the_exact_text(spark, tmp_path):
    es = EngineSession(spark, warehouse=str(tmp_path))
    assert es.sql_cached("SELECT 'a  b' AS s").collect()[0]["s"] == "a  b"
    assert es.sql_cached("SELECT 'a b' AS s").collect()[0]["s"] == "a b"
    q = "SELECT 1 AS x -- note\n, 2 AS y"
    assert es.sql_cached(q).columns == ["x", "y"]
    assert es.sql_cached(q).collect()[0].asDict() == {"x": 1, "y": 2}
    # a leading comment does not make a query uncacheable
    es.sql_cached("-- lead\nSELECT 3 AS v")
    assert list(es._result_cache) == [
        "SELECT 'a  b' AS s", "SELECT 'a b' AS s", q, "-- lead\nSELECT 3 AS v"
    ]


def test_result_cache_eviction(spark, tmp_path):
    es = EngineSession(spark, warehouse=str(tmp_path))
    es.result_cache_size = 2
    for i in range(4):
        es.sql_cached(f"SELECT {i} AS v")
    assert len(es._result_cache) == 2  # LRU bounded at 2 (Query.java:69 size 8)


def test_deduper_batch_replay_is_idempotent(spark, tmp_path):
    """A replayed foreachBatch id must not re-append accepted docs."""
    d = IncrementalDeduper(spark, str(tmp_path / "xo"), threshold=0.5)
    b1 = _docs(spark, [(1, D1, "en", "w", len(D1))])
    acc = d.process_batch(b1, batch_id=0)
    assert acc.count() == 1
    v_docs = d.docs.version
    replay = d.process_batch(b1, batch_id=0)
    assert replay.count() == 0
    assert d.docs.version == v_docs  # no new state snapshot
    nxt = d.process_batch(
        _docs(spark, [(2, D2, "en", "w", len(D2))]), batch_id=1
    )
    assert nxt.count() == 1 and d.docs.read().count() == 2
