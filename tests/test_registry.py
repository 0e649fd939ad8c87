"""Every registered workload, built once and checked three ways.

``test_workload[NAME]`` builds NAME at the ``sf_dir`` fixture, takes its
pre-execution plan, collects it once and checks:

1. **schema** — no array/map/struct/binary column (the driver
   comparator hashes scalar cells only: md5/array_join such columns per
   the xhash rule in ``operators/xhash.py``) and no ``(`` in a column
   name (an un-aliased aggregate such as ``sum(l_quantity)`` can never
   match the oracle's alias);
2. **oracle** — row count, lower-cased column set, then the
   ``canonical`` frames of the Spark rows and the DuckDB oracle rows;
3. **plan** — the ``plans/lint`` rules on the plan, and the
   forced-broadcast rule on an explain-only rebuild with auto-broadcast
   off, each against its allow-list below.

Another scale factor, by hand (``SF_DIR``: a directory of the same
parquet tables at that scale):

    SPARK_GRAFT_TEST_SF_DIR=SF_DIR python -m pytest tests/test_registry.py -q [-k NAME]
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from etl_lealone_spark.plans import explain_str
from etl_lealone_spark.plans.lint import lint_forced_broadcasts, lint_plan
from etl_lealone_spark.session import quiet_bounded_window_warnings
from etl_lealone_spark.workloads import (
    NonScalarCell,
    all_workloads,
    canonical,
    duck_con,
)

_FORBIDDEN = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)

_BROADCAST_THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)

# name -> justification (kept next to the exemption so the lint stays honest)
ALLOW: dict[str, str] = {
    "join_cross": "the workload IS a bounded cross join (5-row dims, "
    "LIMITed output) — reference parity for CROSS JOIN",
    "values_table": "literal VALUES relation — no scan on either side",
    "quantified_all_any": "op ALL(subquery) compares against a 1-row "
    "aggregated subquery — Spark plans the scalar compare as a 1-row "
    "BroadcastNestedLoopJoin, which is a constant-size broadcast",
    "scalar_subquery": "1-row scalar subquery joined to the outer query "
    "— constant-size broadcast by construction",
    "join_theta_bands": "non-equi (theta) join against a constant 5-row "
    "bands relation; the broadcast nested-loop over a literal dim IS the "
    "right plan — the fact side streams once, reference parity for theta "
    "joins",
    "cosine_float_topk": "brute-force ANN deliberately broadcasts the "
    "bounded query-vector set and scores map-only; the nested loop is "
    "|corpus| x |queries| with a constant query count",
    "hybrid_rrf_topk": "dense arm broadcasts ONE query vector (1-row "
    "relation by construction) next to the 1-row BM25 corpus stats — "
    "both nested-loop sides are constant-size",
}


# forced-broadcast rule exemptions: broadcasts of fact-table-derived sets
# that are bounded by construction but not visibly bounded in plan text
BCAST_ALLOW: dict[str, str] = {
    "cosine_float_topk": "broadcasts the query-vector set — bounded by "
    "an equality/range filter on vec_id (constant query count), scored "
    "map-only against the corpus",
    "hybrid_rrf_topk": "broadcasts ONE query vector (vec_id equality "
    "filter) for the dense arm, plus the bounded BM25 term stats",
    "ann_lsh_topk": "broadcasts query probes — |queries| x |probes| "
    "rows, both constants",
    "ann_lsh_topk_mp2": "broadcasts query probes — |queries| x |probes| "
    "rows, both constants (depth-2 probe set: 1 + C(p,1) + C(p,2) masks, "
    "still a constant per query)",
    "ann_lsh_recall": "composes ann_lsh_topk + the integer brute-force "
    "scorer; every broadcast is a query-set/probe-set slice bounded by "
    "the vec_id < N_QUERIES filter (constant query count)",
    # both broadcasts are keyed aggregates whose key space is hard-capped
    # by construction — invisible in plan text, bounded in math
    "mix_resample": "broadcasts the mixing-weight table — one row per "
    "group (languages), a groupBy(group_col) aggregate of the corpus",
    "text_unigram_logprob": "broadcasts the log-prob table — hashed "
    "modulo `buckets` (4096), so <=4096 rows regardless of corpus size",
    "ccnet_fluency_buckets": "same broadcast as text_unigram_logprob "
    "(it builds on unigram_logprob): the <=4096-row hashed log-prob "
    "table — a keyed aggregate whose key space is the bucket modulus, "
    "bounded in math, invisible in plan text",
}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


def _schema_faults(schema: T.StructType) -> list[str]:
    faults = []
    for f in schema.fields:
        if isinstance(f.dataType, _FORBIDDEN):
            faults.append(f"schema: {f.name}: {f.dataType.simpleString()}")
        if "(" in f.name:
            faults.append(f"schema: un-aliased column {f.name}")
    return faults


def _oracle_faults(rows, oracle_rows) -> list[str]:
    if len(rows) != len(oracle_rows):
        return [f"oracle: rowcount spark={len(rows)} oracle={len(oracle_rows)}"]
    rows.columns = [c.lower() for c in rows.columns]
    oracle_rows.columns = [c.lower() for c in oracle_rows.columns]
    if sorted(rows.columns) != sorted(oracle_rows.columns):
        return [
            f"oracle: columns spark={sorted(rows.columns)} "
            f"oracle={sorted(oracle_rows.columns)}"
        ]
    try:
        cs, co = canonical(rows), canonical(oracle_rows)
    except NonScalarCell as e:
        return [f"oracle: {e}"]
    if cs.equals(co):
        return []
    diff = (cs != co).any(axis=1)
    first = diff[diff].index[0]
    return [
        f"oracle: value mismatch on {int(diff.sum())}/{len(cs)} rows, first "
        f"spark={cs.loc[first].to_dict()} oracle={co.loc[first].to_dict()}"
    ]


def _forced_broadcast_plan(spark, w, sf_dir: str) -> str:
    """The plan of a rebuild with auto-broadcast off, so that every
    BroadcastExchange left comes from an explicit hint."""
    saved = {k: spark.conf.get(k, None) for k in _BROADCAST_THRESHOLDS}
    try:
        for k in _BROADCAST_THRESHOLDS:
            spark.conf.set(k, "-1")
        return explain_str(w.build(spark, sf_dir), "extended")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", list(all_workloads()))
def test_workload(spark, sf_dir, duck, name):
    # the lint's global-window rule judges single-partition windows here
    quiet_bounded_window_warnings(spark)
    w = all_workloads()[name]
    df = w.build(spark, sf_dir)
    # the plan before the collect, not the final AQE plan: in a final plan
    # a BroadcastNestedLoopJoin's build side is a BroadcastQueryStage,
    # which the bnl-join shape check does not recognise
    plan = explain_str(df, "extended")
    rows = df.toPandas()

    faults = _schema_faults(df.schema)
    faults += _oracle_faults(rows, duck.execute(w.oracle).fetchdf())
    if name not in ALLOW:
        faults += [f"plan: {rule}" for rule in lint_plan(plan)]
    if name not in BCAST_ALLOW:
        hint_plan = _forced_broadcast_plan(spark, w, sf_dir)
        faults += [f"plan: {hit}" for hit in lint_forced_broadcasts(hint_plan)]
    assert not faults, f"{name}: " + "; ".join(faults)
