"""Sensitivity of the correctness gate's comparator
(``workloads.canonical``, which tests/test_registry.py applies to every
workload): the whole verification story rests on this comparison
actually DETECTING divergence. These tests corrupt known-equal frames
one way at a time and assert the gate flags each — a comparator that silently normalizes differences away would make every
green sweep meaningless.

Round-4 hardening: the round-3 postmortem found the local gate was MORE
LENIENT than the driver's comparator (it int-ified whole floats and
stringified list cells), so four workloads passed locally and failed the
driver. The contract pinned here is now driver-strict:

- a float64 ``30.0`` and an int ``30`` MISMATCH (DuckDB HUGEINT sums
  surface as float64 — the oracle must CAST, the comparator must not
  forgive);
- list/array/ndarray/dict cells raise ``NonScalarCell`` (the driver's
  hasher dies on them; workloads must md5/array_join per the xhash rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from etl_lealone_spark.workloads import NonScalarCell, canonical


def _eq(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return canonical(a.copy()).equals(canonical(b.copy()))


BASE = pd.DataFrame(
    {
        "k": [3, 1, 2],
        "v": [30.0, 10.5, None],
        "s": ["c", "a", "b"],
    }
)


def test_comparator_accepts_row_order_and_null_forms():
    shuffled = BASE.iloc[[2, 0, 1]].reset_index(drop=True)
    assert _eq(BASE, shuffled)
    # None vs NaN are the same null
    alt2 = BASE.copy()
    alt2["v"] = [30.0, 10.5, float("nan")]
    assert _eq(BASE, alt2)


def test_comparator_rejects_int_vs_float_dtype():
    # Driver contract: DuckDB HUGEINT -> pandas float64 0.0 hashes
    # differently from Spark's bigint 0. The local gate must be exactly
    # as strict, or oracle-side missing CASTs escape to the driver
    # (round-3 postmortem: dq_audit_orders et al.).
    a = pd.DataFrame({"n": pd.Series([30, 0], dtype="int64")})
    b = pd.DataFrame({"n": pd.Series([30.0, 0.0], dtype="float64")})
    assert not _eq(a, b)


def test_comparator_rejects_nonscalar_cells():
    arr = pd.DataFrame({"a": [[1, 2], [3]]})
    with pytest.raises(NonScalarCell):
        canonical(arr)
    nda = pd.DataFrame({"a": [np.array([1, 2]), np.array([3])]})
    with pytest.raises(NonScalarCell):
        canonical(nda)
    dct = pd.DataFrame({"a": [{"x": 1}]})
    with pytest.raises(NonScalarCell):
        canonical(dct)


def test_comparator_detects_value_change():
    bad = BASE.copy()
    bad.loc[1, "v"] = 10.500001
    assert not _eq(BASE, bad)


def test_comparator_detects_null_flip():
    bad = BASE.copy()
    bad.loc[2, "v"] = 0.0  # NULL -> 0 is a classic silent bug
    assert not _eq(BASE, bad)


def test_comparator_detects_string_case_and_whitespace():
    bad = BASE.copy()
    bad.loc[0, "s"] = "C"
    assert not _eq(BASE, bad)
    bad2 = BASE.copy()
    bad2.loc[0, "s"] = "c "
    assert not _eq(BASE, bad2)


def test_comparator_detects_duplicated_vs_distinct_rows():
    dup = pd.DataFrame({"k": [1, 1], "v": [5.0, 5.0]})
    single_plus = pd.DataFrame({"k": [1, 2], "v": [5.0, 5.0]})
    assert not _eq(dup, single_plus)


def test_comparator_detects_float_last_ulp():
    a = pd.DataFrame({"x": [0.1 + 0.2]})
    b = pd.DataFrame({"x": [0.3]})
    # 0.1+0.2 != 0.3 in IEEE doubles; repr-based normalization must NOT
    # round them together (the determinism rules exist precisely so
    # workloads never rely on such near-equality)
    assert not _eq(a, b)


def test_comparator_numpy_float_matches_python_float():
    a = pd.DataFrame({"x": pd.Series([0.5], dtype="float64")})
    b = pd.DataFrame({"x": [0.5]})
    assert _eq(a, b)
