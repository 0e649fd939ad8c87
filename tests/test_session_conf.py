"""``build_spark`` on a running session: static confs cannot change, so a
request for other values warns instead of being dropped silently."""

from __future__ import annotations

import warnings

import pytest

from etl_lealone_spark.session import build_spark


def test_reused_session_warns_on_static_conf_drift(spark):
    with pytest.warns(
        UserWarning,
        match=r"spark\.sql\.codegen\.cache\.maxEntries='4096' \(requested '100'\)",
    ):
        again = build_spark(
            app_name="etl_lealone_spark_tests",
            cores=8,
            shuffle_partitions=8,
            extra_conf={"spark.sql.codegen.cache.maxEntries": "100"},
        )
    assert again.sparkContext is spark.sparkContext
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_reused_session_with_same_confs_does_not_warn(spark):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        build_spark(app_name="another name", cores=8, shuffle_partitions=8)
    assert not [w for w in caught if "static confs" in str(w.message)]
