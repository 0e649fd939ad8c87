"""Quick self-test of the benchmark at sf0.001 (a few minutes).

Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that the seeded inputs are reproducible and that seeded TPC-H
texts keep non-empty results at the benchmark's scale (sf0.01), then runs
every workload at sf0.001 for a cold pass and its warm passes, untraced
and traced, and checks that each run is correct and emits every metric
of ``BENCHMARK.json`` with its unit, and that the traced run writes spans
with non-negative self times. One more run plants a wrong expected digest and checks that
the failure is counted. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def check(cond: bool, msg: str) -> None:
    if not cond:
        print(f"selftest FAILED: {msg}", file=sys.stderr)
        sys.exit(1)


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """One benchmark run; returns (run record, result line)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", SF, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    check(proc.returncode == 0 and len(lines) >= 2,
          f"{workload} trace={trace} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(where: str, got: dict, spec: list[dict]) -> None:
    for m in spec:
        check(m["name"] in got, f"{where}: metric {m['name']} missing")
        check(got[m["name"]]["unit"] == m["unit"], f"{where}: {m['name']} unit")
        check(isinstance(got[m["name"]]["value"], (int, float)), f"{where}: {m['name']} value")
    extra = set(got) - {m["name"] for m in spec}
    check(not extra, f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")


def check_inputs() -> None:
    """Same seed, same inputs; another seed, other inputs; and at the
    benchmark's own scale no seeded TPC-H text has an empty result."""
    sys.path[:0] = [ROOT, HERE]
    import ops
    import run

    data_dir = run.data_dir_for(SF)
    for name, cls in ops.WORKLOADS.items():
        one, two = cls(5, 3, data_dir), cls(5, 3, data_dir)
        check(one.inputs_digest() == two.inputs_digest(), f"{name}: same seed, other inputs")
        if cls is not ops.CorpusBuild:  # builders take no parameters
            other = cls(6, 3, data_dir)
            check(one.inputs_digest() != other.inputs_digest(), f"{name}: seed ignored")
    for seed in (5, 6):
        want = ops.expected_digests("tpch_sql", seed, 1 + run.MAX_WARM_PASSES,
                                    run.data_dir_for(run.DEFAULT_SF))
        empty = [op for ops_p in want["ops"] for op, d in ops_p.items() if d.startswith("0:")]
        check(not empty, f"tpch_sql seed {seed}: empty results at sf{run.DEFAULT_SF}: {empty}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_inputs()
    import ops

    for w in ops.WORKLOADS:
        # tpch_sql's untraced run is the planted one below
        if w != "tpch_sql":
            rec, res = bench(w, 0)
            check(res["correct"] and res["failed"] == 0, f"{w}: {rec.get('errors')}")
            check(rec["failed_ops_frac"] == 0.0, f"{w}: failed_ops_frac")
            check_metrics(f"{w} untraced", res["metrics"], spec["end_to_end"])
        rec, res = bench(w, 1)
        check(res["correct"] and res["failed"] == 0, f"{w} traced: {rec.get('errors')}")
        check_metrics(f"{w} traced", res["metrics"], spec["per_layer"])
        with open(os.path.join(ROOT, rec["trace_file"])) as f:
            spans = json.load(f)["spans"]
        check(any(s["name"] == "op" for s in spans), f"{w}: no op spans")
        check(all(s["self_s"] >= 0 for s in spans), f"{w}: negative span self time")
        print(f"selftest: {w} ok ({len(spans)} spans)")

    rec, res = bench("tpch_sql", 0, "--plant-wrong", "tpch_q6")
    check(not res["correct"] and res["failed"] >= 1, "planted wrong digest not counted")
    check(rec["failed_ops_frac"] > 0, "planted wrong digest: failed_ops_frac is 0")
    check_metrics("tpch_sql planted", res["metrics"], spec["end_to_end"])
    print("selftest: planted wrong result counted as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
