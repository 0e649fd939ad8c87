"""bench.py's traced rep loop on the shared session, as NAME mode runs
it: one layer record per rep from perfbench's tracer, and the final AQE
plan written after the reps, for a batch and a streaming workload."""

from bench import traced_reps

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
