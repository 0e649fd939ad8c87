"""Property-based tests (hypothesis) for the DML/dedup algebra.

The reference's tests are example-based; these pin the LAWS the snapshot
DML and dedup operators must satisfy for arbitrary inputs — the kind of
invariants that survive a 100TB scale-up or not at all."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_lealone_spark.operators.dedup import word_shingles
from etl_lealone_spark.operators.dml import (
    apply_delete,
    apply_update,
    merge_by_key,
)

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # pk-ish (dups allowed)
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
    ),
    min_size=0,
    max_size=25,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(None, None)], "k int, v int").filter(
        F.lit(bool(rows))
    )


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_update_preserves_rowcount(spark, rows):
    df = _df(spark, rows)
    out = apply_update(df, F.col("v") > 0, {"v": F.col("v") * 2})
    assert out.count() == df.count()


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_delete_partitions_rows(spark, rows):
    """delete(cond) + the deleted complement = original row count, with
    NULL condition rows always on the kept side (3VL)."""
    df = _df(spark, rows)
    cond = F.col("v") > 0
    kept = apply_delete(df, cond)
    deleted = df.filter(cond.isNotNull() & cond)
    assert kept.count() + deleted.count() == df.count()
    assert kept.filter(F.col("v").isNull()).count() == df.filter(
        F.col("v").isNull()
    ).count()


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_merge_idempotent(spark, rows):
    """Merging the same source twice equals merging once (upsert law)."""
    uniq = {}
    for k, v in rows:
        uniq[k] = v
    target = spark.createDataFrame(
        [(k, v) for k, v in uniq.items()] or [(0, 0)], "k int, v int"
    )
    source = spark.createDataFrame([(1, 999), (99, 1)], "k int, v int")
    once = merge_by_key(target, source, ["k"])
    twice = merge_by_key(once, source, ["k"])
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice


TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from("abc xyz 123 .,!"),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=TEXTS)
@settings(**_SETTINGS)
def test_shingles_match_python_reference(spark, texts):
    """word_shingles (JVM expression) ≡ a plain-Python reference impl."""
    import re as _re

    def py_shingles(t: str) -> list[str]:
        norm = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        ws = norm.split(" ")
        if len(ws) < 3:
            return [norm]
        seen, out = set(), []
        for i in range(len(ws) - 2):
            s = " ".join(ws[i : i + 3])
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["s"] for r in df.select(word_shingles(F.col("t")).alias("s")).collect()]
    assert got == [py_shingles(t) for t in texts]


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@given(edges=EDGES)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_connected_components_match_union_find(spark, edges):
    """CC labels equal a driver-side union-find's min-of-component,
    for arbitrary small graphs (edge order / duplicates / chains)."""
    from etl_lealone_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in comp.values() for n in members}
    assert got == want


TOPK_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # f1 (unique-ified below)
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    ),
    min_size=1,
    max_size=120,
)


@given(rows=TOPK_ROWS, k=st.integers(0, 6), offset=st.integers(0, 4),
       descending=st.booleans())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_threshold_topk_matches_plain_plan(spark, rows, k, offset, descending):
    """threshold_topk == orderBy/offset/limit for arbitrary data: heavy
    ties, nulls, tiny inputs (fallback), both directions, any k/offset.
    The sample parameters are set low so BOTH code paths (threshold and
    fallback) get exercised across examples."""
    from etl_lealone_spark.operators.topk import threshold_topk

    data = [(i, v) for i, (_, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "f1 int, f2 long").repartition(4)
    got = [
        tuple(r)
        for r in threshold_topk(
            df, "f2", k, offset, descending,
            tiebreak=[F.col("f1")], sample_fraction=0.5, sample_k=8,
        ).collect()
    ]
    order = [
        F.col("f2").desc() if descending else F.col("f2").asc(),
        F.col("f1"),
    ]
    want = [tuple(r) for r in df.orderBy(*order).offset(offset).limit(k).collect()]
    assert got == want


def test_connected_components_distributed_branch_matches_union_find(spark):
    """Force the label-propagation + pointer-jumping branch
    (small_graph_threshold=0) — the path that runs at 100 TB — and pin
    its labels against the driver-side union-find on a seeded graph
    mixing long chains, stars, cycles and singleton pairs (r4 verdict:
    this branch previously had zero coverage)."""
    import random

    from etl_lealone_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(0, 17)]              # long chain
    edges += [(100, 100 + k) for k in range(1, 8)]           # star
    edges += [(200, 201), (201, 202), (202, 200)]            # cycle
    edges += [(300 + 2 * k, 301 + 2 * k) for k in range(6)]  # pair islands
    edges += [
        (rng.randrange(400, 430), rng.randrange(400, 430)) for _ in range(25)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, small_graph_threshold=0).collect()
    }
    small = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert dist == small and len(dist) > 40


# ---------------------------------------------------------------------------
# deterministic-kernel properties (Z-order / mix60 / dialect / services)
# ---------------------------------------------------------------------------
from etl_lealone_spark.operators.xhash import P61, MASK30, hconsts  # noqa: E402
from etl_lealone_spark.services import parse_methods  # noqa: E402


# -- Z-order interleave is a bijection --------------------------------------
def _interleave_py(coords: list[int], bits: int) -> int:
    z = 0
    n = len(coords)
    for b in range(bits):
        for i, c in enumerate(coords):
            z |= ((c >> b) & 1) << (b * n + i)
    return z


def _deinterleave_py(z: int, n: int, bits: int) -> list[int]:
    out = [0] * n
    for b in range(bits):
        for i in range(n):
            out[i] |= ((z >> (b * n + i)) & 1) << b
    return out


@settings(max_examples=100, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(0, (1 << 10) - 1), min_size=2, max_size=4),
)
def test_zorder_interleave_bijective(coords):
    bits = 10
    z = _interleave_py(coords, bits)
    assert _deinterleave_py(z, len(coords), bits) == coords
    assert 0 <= z < 1 << (bits * len(coords))


@settings(max_examples=100, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(0, (1 << 8) - 1), min_size=2, max_size=2),
    st.lists(st.integers(0, (1 << 8) - 1), min_size=2, max_size=2),
)
def test_zorder_locality_monotone_on_shared_prefix(a, b):
    """If two points agree on the high bits of both coordinates, their
    z-values land in the same 2^(2*k)-sized block — the locality property
    file pruning relies on."""
    bits = 8
    keep = 4  # shared high bits
    a2 = [(x >> keep) << keep for x in a]
    b2 = [(x >> keep) << keep for x in b]
    if a2 == b2:
        za = _interleave_py(a, bits)
        zb = _interleave_py(b, bits)
        block = 1 << (2 * keep)
        assert za // block == zb // block


# -- mix60 hash-lane algebra -------------------------------------------------
def _mix60_py(h: int, a: int, b: int, c: int) -> int:
    hi, lo = h >> 30, h & MASK30
    return ((a * hi) % P61 + (b * lo) % P61 + c) % P61


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.integers(0, (1 << 60) - 1), st.integers(0, 63))
def test_mix60_range_and_overflow_free(h, lane):
    """Every intermediate fits signed-64 (the codegen guarantee) and the
    result is always inside [0, P61)."""
    a, b, c = hconsts("prop", lane)
    hi, lo = h >> 30, h & MASK30
    assert a * hi < 1 << 63 and b * lo < 1 << 63
    assert (a * hi) % P61 + (b * lo) % P61 + c < 1 << 63
    v = _mix60_py(h, a, b, c)
    assert 0 <= v < P61


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.integers(0, (1 << 60) - 1), st.integers(0, (1 << 60) - 1))
def test_mix60_lanes_decorrelate(h1, h2):
    """Distinct inputs rarely collide in a lane, and when they do they
    don't collide in a second independent lane (2-universality smoke)."""
    if h1 == h2:
        return
    collisions = 0
    for lane in range(4):
        a, b, c = hconsts("prop2", lane)
        if _mix60_py(h1, a, b, c) == _mix60_py(h2, a, b, c):
            collisions += 1
    assert collisions <= 1


# -- dialect rewriter is idempotent ------------------------------------------
@settings(max_examples=100, deadline=None, derandomize=True)
@given(
    st.sampled_from(
        [
            "SELECT TOP 3 x FROM SYSTEM_RANGE(1, 10) ORDER BY x",
            "SELECT x FROM SYSTEM_RANGE(1, 5) MINUS SELECT 2",
            "SELECT STRING_AGG(cast(x as varchar(3)), ',') FROM t",
            "SELECT GROUP_CONCAT(a ORDER BY a SEPARATOR ';') FROM t",
            "FROM t SELECT a, b",
            "SELECT ROWNUM, a FROM t",
            "SELECT TODAY, year(SYSDATE) FROM t",
            "SELECT a FROM t WHERE a BETWEEN 1 AND 2 FOR UPDATE",
        ]
    )
)
def test_dialect_rewrite_idempotent(sql):
    from etl_lealone_spark.dialect import rewrite

    once = rewrite(sql)
    assert rewrite(once) == once


# -- service method signature parsing ----------------------------------------
@settings(max_examples=100, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
            st.lists(
                st.tuples(
                    st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
                    st.sampled_from(["varchar", "int", "long", "double"]),
                ),
                max_size=3,
            ),
            st.sampled_from(["void", "varchar", "int", "long"]),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda m: m[0],
    )
)
def test_parse_methods_roundtrip(methods):
    body = ", ".join(
        f"{name}({', '.join(f'{an} {at}' for an, at in args)}) {ret}"
        for name, args, ret in methods
    )
    parsed = parse_methods(body)
    assert set(parsed) == {name for name, _, _ in methods}
    for name, args, ret in methods:
        got_args, got_ret = parsed[name]
        assert got_args == list(args)
        assert got_ret == ret


# ---------------------------------------------------------------------------
# BPE merge fold (operators/bpe.py) vs the obvious Python merge
# ---------------------------------------------------------------------------
SYMS = st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=0, max_size=12)


@given(syms=SYMS)
@settings(**_SETTINGS)
def test_bpe_merge_fold_matches_python(spark, syms):
    from etl_lealone_spark.operators.bpe import _merge_pair_expr

    def py_merge(s, a, b):
        out, carry = [], None
        for t in s:
            if carry == a and t == b:
                out.append(a + b)
                carry = None
            else:
                if carry is not None:
                    out.append(carry)
                carry = t
        if carry is not None:
            out.append(carry)
        return out

    df = spark.createDataFrame([(syms,)], "syms array<string>")
    got = df.select(_merge_pair_expr(F.col("syms"), "a", "b").alias("m")).collect()[0]["m"]
    assert got == py_merge(syms, "a", "b")
    # merging never changes the concatenation (losslessness)
    assert "".join(got) == "".join(syms)


# ---------------------------------------------------------------------------
# netpbm encode/decode roundtrip (operators/multimodal.py)
# ---------------------------------------------------------------------------
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 9),
    c=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**_SETTINGS)
def test_netpbm_roundtrip_random(w, h, c, seed):
    import numpy as np

    from etl_lealone_spark.operators.multimodal import decode_raster, encode_ppm

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    w2, h2, c2, back = decode_raster(encode_ppm(arr))
    assert (w2, h2, c2) == (w, h, c)
    assert np.array_equal(back, arr)


# ---------------------------------------------------------------------------
# PageRank mass conservation on random graphs
# ---------------------------------------------------------------------------
RAND_EDGES = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),
    min_size=1,
    max_size=20,
).filter(lambda es: any(s != t for s, t in es))


@given(edges=RAND_EDGES)
@settings(**{**_SETTINGS, "max_examples": 5})  # iterative job per example
def test_pagerank_mass_conserved_random(spark, edges):
    from etl_lealone_spark.operators.graph import SCALE, pagerank

    edges = [(s, t) for s, t in edges if s != t]
    d = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_x1e9"] for r in pagerank(d, iters=3).collect()}
    n = len(got)
    assert all(v >= 0 for v in got.values())
    # total mass stays within the per-round floor dust bound (< n per round)
    assert abs(sum(got.values()) - n * SCALE) < n * 3


# -- CREATE TABLE column-definition laws (literal robustness) -----------
_LIT_CHARS = st.text(
    alphabet=st.characters(
        codec="utf-8", blacklist_characters="\x00", blacklist_categories=("Cs",)
    ),
    max_size=24,
)


@pytest.fixture(scope="module")
def router(spark, tmp_path_factory):
    from etl_lealone_spark.session import EngineSession

    es = EngineSession(spark, warehouse=str(tmp_path_factory.mktemp("props")))
    return es._router


def _table_def(router, lit: str, ddl: str):
    """The (schema, primary key, unique keys, constraints) the session's
    router reads from CREATE TABLE ``ddl``, or None when Spark's lexer
    rejects string literal ``lit`` (``'\\'``: the backslash escapes the
    closing quote) — then the statement must raise ValueError and create
    nothing."""
    from pyspark.errors import ParseException

    try:
        router._parser.parseExpression(lit)
    except ParseException:
        with pytest.raises(ValueError):
            router.execute(ddl)
        assert "b1" not in router.catalog.tables
        return None
    return router._columns(router._parse(ddl)[0])


@given(v=_LIT_CHARS)
@example(v="\\")
@settings(max_examples=120, deadline=None)
def test_default_literal_roundtrips_and_creates_no_phantom_clauses(router, v):
    """LAW: whatever a DEFAULT string literal contains — commas, parens,
    quotes, or text spelling NOT NULL / PRIMARY KEY / CHECK(...) /
    COLLATE — CREATE TABLE must (a) store the literal byte-for-byte and
    (b) derive ZERO column semantics from its content, or raise
    ValueError if Spark's lexer rejects the literal."""
    lit = "'" + v.replace("'", "''") + "'"
    ddl = f"CREATE TABLE b1 (id int primary key, w varchar(80) DEFAULT {lit})"
    got = _table_def(router, lit, ddl)
    if got is None:
        return
    schema, pk, uniques, cons = got
    assert cons.defaults.get("w") == lit
    assert pk == ["id"] and uniques == {}
    assert "w" not in cons.not_null
    assert "w" not in cons.identity
    assert cons.checks == []
    assert [(f.name, f.dataType.simpleString()) for f in schema] == [
        ("id", "int"), ("w", "string")
    ]


@given(v=_LIT_CHARS)
@example(v="\\")
@settings(max_examples=120, deadline=None)
def test_check_expression_survives_nested_parens_and_literals(router, v):
    """LAW: a column CHECK expression round-trips through CREATE TABLE
    whatever literal it embeds — nested calls and quoted parens
    included (the [^)]* truncation class) — or CREATE TABLE raises
    ValueError if Spark's lexer rejects the literal."""
    lit = "'" + v.replace("'", "''") + "'"
    expr = f"COALESCE(w, {lit}) <> {lit}"
    got = _table_def(router, lit, f"CREATE TABLE b1 (w varchar(80) CHECK ({expr}))")
    if got is not None:
        assert got[3].checks == [expr]
