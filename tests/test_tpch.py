"""TPC-H-adapted suite: result sanity + 100TB plan-shape pins.

Value-level correctness is enforced by the DuckDB oracle gate
(tests/test_registry.py — every tpch_q* carries an oracle); these
tests pin the structural properties that would silently regress into
cluster-scale cost: dimension joins staying broadcast, filters reaching
the scan, correlated-subquery rewrites staying semi/anti joins, and
top-k staying TakeOrderedAndProject.
"""

from __future__ import annotations

import pytest

from etl_lealone_spark.plans import (
    explain_str,
    has_broadcast_hash_join,
    has_take_ordered,
    pushed_filters,
)
from etl_lealone_spark.workloads import tpch_q


ALL_QUERIES = [
    tpch_q.tpch_q1, tpch_q.tpch_q2, tpch_q.tpch_q11,
    tpch_q.tpch_q3, tpch_q.tpch_q4, tpch_q.tpch_q5, tpch_q.tpch_q6,
    tpch_q.tpch_q7, tpch_q.tpch_q8, tpch_q.tpch_q9, tpch_q.tpch_q10,
    tpch_q.tpch_q12, tpch_q.tpch_q13, tpch_q.tpch_q14, tpch_q.tpch_q15,
    tpch_q.tpch_q16, tpch_q.tpch_q17, tpch_q.tpch_q18, tpch_q.tpch_q19,
    tpch_q.tpch_q20, tpch_q.tpch_q21, tpch_q.tpch_q22,
]


@pytest.mark.parametrize("q", ALL_QUERIES, ids=lambda f: f.__name__)
def test_runs_and_schema_stable(spark, sf_dir, q):
    df = q(spark, sf_dir)
    # Columns are the oracle contract; count() proves the plan executes.
    assert len(df.columns) >= 1
    assert df.count() >= 0


def test_q5_dims_broadcast(spark, sf_dir):
    """Q5's supplier/customer/nation/region sides must broadcast — only
    lineitem⋈orders may shuffle at 100TB."""
    df = tpch_q.tpch_q5(spark, sf_dir)
    assert has_broadcast_hash_join(df)


def test_q6_filters_reach_scan(spark, sf_dir):
    pushed = pushed_filters(tpch_q.tpch_q6(spark, sf_dir))
    flat = " ".join(pushed)
    assert "l_shipdate" in flat and "l_quantity" in flat, pushed


def test_q3_topk_take_ordered(spark, sf_dir):
    df = tpch_q.tpch_q3(spark, sf_dir)
    assert has_take_ordered(df) or "GlobalLimit" in explain_str(df)


def test_q4_exists_is_semi_join(spark, sf_dir):
    """The EXISTS subquery must compile to a semi join, not a
    per-row subquery or an inner join + distinct."""
    s = explain_str(tpch_q.tpch_q4(spark, sf_dir))
    assert "LeftSemi" in s, s[:2000]


def test_q21_semi_and_anti_joins(spark, sf_dir):
    s = explain_str(tpch_q.tpch_q21(spark, sf_dir))
    assert "LeftSemi" in s and "LeftAnti" in s


def test_q17_avg_join_broadcast(spark, sf_dir):
    """The correlated-avg rewrite joins the per-part aggregate back to
    lineitem — that aggregate is |part|-sized and must broadcast."""
    df = tpch_q.tpch_q17(spark, sf_dir)
    assert has_broadcast_hash_join(df)
