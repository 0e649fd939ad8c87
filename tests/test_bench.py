"""bench.py's three modes: the suite writes a layer record per headline
query to BENCH_DETAIL.json and a final stdout line that fits the
last-2000-chars window a record keeper parses, whatever the timings; NAME
mode traces each rep and writes the final AQE plan; scale mode grows the
data K× and reports exponents against the measured input growth."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import bench
from bench import traced_reps
from etl_lealone_spark.tables import TABLE_NAMES
from etl_lealone_spark.workloads import all_workloads

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


NAMES = ["agg_groupby_having", "stream_tumbling_agg"]


def test_profile_records_layers_and_final_plan(spark, sf_dir, tmp_path):
    jsqm = spark.streams._jsqm
    n_listeners = len(jsqm.listListeners())
    recs = list(traced_reps(spark, NAMES, 1, sf_dir, str(tmp_path)))

    assert [(r["name"], r["rep"]) for r in recs] == [(n, rep) for n in NAMES for rep in (0, 1)]
    for r in recs:
        for key in ("wall_s", "exec.cpu_s", "catalyst.planning_ms", "plan.exchanges"):
            assert key in r, (r["name"], key)
        assert r["exec.jobs"] > 0 and r["exec.cpu_s"] > 0
    by_name = {n: [r for r in recs if r["name"] == n] for n in NAMES}
    assert all(r["plan.exchanges"] >= 1 for r in by_name["agg_groupby_having"])
    assert all(r["streaming.triggers"] > 0 for r in by_name["stream_tumbling_agg"])
    assert all(r["streaming.state_commit_ms"] > 0 for r in by_name["stream_tumbling_agg"])

    assert "isFinalPlan=true" in (tmp_path / "agg_groupby_having.txt").read_text()
    assert (tmp_path / "stream_tumbling_agg.txt").read_text().startswith("== Physical Plan ==")
    # the tracer's streaming listener does not outlive the loop
    assert len(jsqm.listListeners()) == n_listeners


def test_scale_doubles_the_scaled_tables_and_reports_exponents(spark, sf_dir, tmp_path):
    dirs = {k: str(tmp_path / f"k{k}") for k in (1, 2)}
    for k, d in dirs.items():
        bench.write_scaled(sf_dir, d, k)
    for name in TABLE_NAMES:
        path = os.path.join(dirs[2], f"{name}.parquet")
        if name not in bench.SCALED:
            assert os.path.islink(path), name
            continue
        t = pq.read_table(path)
        assert t.num_rows == 2 * pq.read_metadata(os.path.join(sf_dir, f"{name}.parquet")).num_rows
        assert t.num_rows == 2 * pq.read_metadata(os.path.join(dirs[1], f"{name}.parquet")).num_rows
        id_col = {"documents": "doc_id", "embeddings": "vec_id"}.get(name)
        if id_col:
            assert pc.count_distinct(t[id_col]).as_py() == t.num_rows, name
    dedup = all_workloads()["dedup_exact"]
    survivors = {k: dedup.build(spark, d).count() for k, d in dirs.items()}
    assert survivors[1] > 0 and survivors[2] == 2 * survivors[1]

    # events_sessionize reads only events, which is linked, not grown
    recs = []
    with pytest.raises(ValueError, match="events_sessionize: exec.input_records does not grow"):
        for rec in bench.scale(spark, ["dedup_exact", "events_sessionize"], [1, 2], 1, sf_dir):
            recs.append(rec)
    assert [(r["name"], r.get("k")) for r in recs] == [
        ("dedup_exact", 1), ("dedup_exact", 2), ("dedup_exact", [2]),
        ("events_sessionize", 1), ("events_sessionize", 2),
    ]
    per_k, report = recs[:2], recs[2]
    assert per_k[1]["exec.input_records"] > per_k[0]["exec.input_records"]
    assert report["input_ratio"][0] > 1
    assert isinstance(report["wall_exp"][0], float)
    assert isinstance(report["shuffle_exp"][0], float)


_SIGTERM_SCALE = """
import os, signal, sys
sys.path.insert(0, {root!r})
import bench


class Spark:
    class sparkContext:
        @staticmethod
        def setLogLevel(level):
            pass

    def stop(self):
        print("stopped", flush=True)


def write_scaled(src, dst, k):
    os.makedirs(dst)
    os.kill(os.getpid(), signal.SIGTERM)


bench.build_spark = lambda **kw: Spark()
bench.quiet_bounded_window_warnings = lambda spark: None
bench.write_scaled = write_scaled
bench.main(["--scale", "1,2", "dedup_exact"])
"""


def test_sigterm_removes_the_scale_dir_and_stops_the_session(tmp_path):
    """A SIGTERM during a scale run (no JVM: the session is a stub and the
    data writer signals itself) still removes the scale temp dir and
    stops the session."""
    out = subprocess.run(
        [sys.executable, "-c", _SIGTERM_SCALE.format(root=os.path.dirname(bench.__file__))],
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 128 + signal.SIGTERM, out.stderr[-2000:]
    assert out.stdout.split() == ["stopped"]
    assert not list(tmp_path.glob("bench_scale_*"))
