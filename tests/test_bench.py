"""bench.py's suite entry: a layer record per headline query in
BENCH_DETAIL.json, and a final stdout line that fits the last-2000-chars
window a record keeper parses, whatever the timings."""

from __future__ import annotations

import json

import pytest

import bench

# the dual-run keys of baseline_workloads and extension_dual_run
DUAL_KEYS = [
    "w1_bulk_insert", "w1_duckdb", "w2_scan_predicate", "w2_duckdb",
    "w2_decode_substrate", "w2sub_duckdb", "w3_groupby_having", "w3_duckdb",
    "w4_joins", "w4_duckdb", "w5_topk_offset", "w5_plain_sort", "w5_duckdb",
    *(f"ext_{n}_{e}" for n in bench.EXT_DUAL for e in ("spark", "duckdb")),
]


def test_final_line_fits_for_full_roster():
    """Worst-case width for every value: 4 integer digits + 3 decimals."""
    wide = 9999.999
    payload = {
        "metric": "headline_suite_wall_clock",
        "value": round(wide * len(bench.HEADLINE), 3),
        "unit": "sec",
        "queries": {k: wide for k in [*bench.HEADLINE, *DUAL_KEYS]},
        "sf": 0.1,
        "baseline_rows": 50_000_000,
        "layers": {name: {} for name in bench.HEADLINE},
    }
    line = bench.final_line(payload)
    assert len(line) <= 1800, len(line)
    parsed = json.loads(line)
    assert parsed["roster"] == len(bench.HEADLINE)
    assert sorted(parsed["queries"]) == sorted(DUAL_KEYS)
    assert sum(parsed["families"].values()) == pytest.approx(payload["value"])


def test_suite_records_layers_per_query(spark, sf_dir, tmp_path):
    names = ["agg_groupby_having", "stream_tumbling_agg"]
    line = bench.suite(spark, names, sf_dir, 20_000, str(tmp_path))

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert list(detail["layers"]) == names
    for name in names:
        rec = detail["layers"][name]
        for key in ("exec.cpu_s", "exec.unattributed_s", "plan.exchanges"):
            assert key in rec, (name, key)
        assert detail["queries"][name] == round(rec["wall_s"], 3)
    assert detail["layers"]["stream_tumbling_agg"]["streaming.triggers"] > 0
    assert sorted(detail["queries"]) == sorted([*names, *DUAL_KEYS])

    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_wall_clock" and parsed["unit"] == "sec"
    assert parsed["value"] == detail["value"] and parsed["roster"] == 2
    assert sorted(parsed["queries"]) == sorted(DUAL_KEYS)
