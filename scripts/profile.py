"""Per-layer profile of registry workloads over perfbench's tracer.

    SPARK_GRAFT_SF_DIR=<parquet dir> python scripts/profile.py [--reps N] NAME...

Each NAME runs one cold rep, then N warm reps. A rep is the registry
``Workload.build`` plus a ``toPandas`` collect, traced by
``perfbench/layers.Tracer``, and prints one JSON line: its wall time and
the tracer's pass record — ``exec.*`` (jobs, stages, executor run, CPU
and GC time, shuffle, spill), ``catalyst.*_ms``, ``plan.exchanges`` and
``plan.broadcasts`` of the final AQE plan, ``codegen.*``, ``python.*``
and ``streaming.*`` (trigger phases and state commit time). Jobs that
run eagerly inside ``build`` count in the rep that ran them.

After the reps the frame is built and collected once more, outside the
timing, and its final plan (``isFinalPlan=true``) is written to
``.profile/NAME.txt``. The data dir is ``tables.DEFAULT_SF_DIR``, so
``SPARK_GRAFT_SF_DIR`` moves it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this file would shadow the standard library's
# ``profile`` module (cProfile, which pyspark imports, needs it)
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

from perfbench.layers import Tracer  # noqa: E402
from perfbench.ops import Op  # noqa: E402


def profile(spark, names, reps: int, data_dir: str, out_dir: str):
    """Yield one record per rep of every name (rep 0 is the cold one) and
    write each name's final plan to ``out_dir/NAME.txt``."""
    from etl_lealone_spark.plans import explain_str
    from etl_lealone_spark.workloads import all_workloads

    registry = all_workloads()
    os.makedirs(out_dir, exist_ok=True)
    # the tracer adds a streaming listener; take it off again afterwards
    # so that a long-lived session does not keep calling back into it
    jsqm = spark.streams._jsqm
    before = list(jsqm.listListeners())
    tracer = Tracer("profile", 0, spark.sparkContext.defaultParallelism)
    tracer.attach(spark)
    added = [lst for lst in jsqm.listListeners() if lst not in before]
    eng = SimpleNamespace(spark=spark, es=None)
    wl = SimpleNamespace(data_dir=data_dir)
    p = 0
    try:
        for name in names:
            for rep in range(reps + 1):
                tracer.begin_pass(p)
                dt, _ = tracer.run_op(Op(name, "build", name), name, eng, wl)
                tracer.end_pass(p, dt, traced=True)
                row = tracer.pass_rows.pop(p)
                p += 1
                yield {"name": name, "rep": rep,
                       **{k: v for k, v in row.items() if not isinstance(v, list)}}
            # the final plan exists only after an action on this same frame
            df = registry[name].build(spark, data_dir)
            df.toPandas()
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(explain_str(df))
    finally:
        for lst in added:
            jsqm.removeListener(lst)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=3, help="warm reps after the cold one")
    ap.add_argument("names", nargs="+", metavar="NAME")
    args = ap.parse_args(argv)

    from etl_lealone_spark.session import build_spark, quiet_bounded_window_warnings
    from etl_lealone_spark.tables import DEFAULT_SF_DIR
    from etl_lealone_spark.workloads import all_workloads

    unknown = sorted(set(args.names) - set(all_workloads()))
    if unknown:
        ap.error(f"unknown workload(s): {', '.join(unknown)}")
    # Python workers are processes of their own: they find the package
    # through PYTHONPATH, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = build_spark(app_name="profile",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    quiet_bounded_window_warnings(spark)
    try:
        for rec in profile(spark, args.names, args.reps, DEFAULT_SF_DIR,
                           os.path.join(ROOT, ".profile")):
            print(json.dumps(rec), flush=True)
    finally:
        # a session left running when the interpreter exits makes the
        # JVM shut down under py4j, which then prints listener errors
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
