"""Closed-loop benchmark of the engine: one client, one operation at a time.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 5 --trace 0

The last line of standard output is the result record. The line before it
is the full run record (per-op timings, the digest of the seeded inputs,
every metric). See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# the repository's fixed test data: sf0.001, sf0.01 and sf0.1 sit side by
# side (TESTDATA.md); the benchmark runs on sf0.01
SCALES = ("0.001", "0.01", "0.1")
DEFAULT_SF = "0.01"
# two of the host's four cores, for Spark's task slots and for the
# driver JVM's processor count, from which it sizes its JIT compiler and
# GC thread pools: a run that wants every core of a shared host is
# slowed by any other work on it (README.md has the measurement)
CORES = 2
DRIVER_MEM = "2g"
MAX_WARM_PASSES = 4
# warm passes a run makes before it looks at --seconds: a fixed count
# that --seconds does not reach keeps the number of measured passes the
# same from run to run, and three give each op a median
MIN_WARM_PASSES = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=DEFAULT_SF)
    ap.add_argument("--plant-wrong", default=None,
                    help="self-test only: corrupt the expected digest of this op")
    return ap.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package: they are separate processes started by
    the JVM, so ``sys.path`` edits in this process do not reach them."""
    for d in ("tmp", "local", "wh"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher is a JVM of its own, started before the
    # driver JVM's options apply
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "wh")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        # a fixed heap and young generation: the heap's resident size is
        # then the regions in use, not where the collector's adaptive
        # sizing happened to take the heap in this run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn256m "
            f"-XX:ActiveProcessorCount={CORES}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def keep_checkpoints_in(work: str) -> None:
    """Streaming drains put their checkpoints on /dev/shm when it exists;
    a benchmark run keeps them under its own directory instead."""
    import tempfile

    from etl_lealone_spark.workloads import analytics_q

    ckpt = os.path.join(work, "tmp")
    analytics_q._ckpt_tmp = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=ckpt)


def data_dir_for(sf: str) -> str:
    from etl_lealone_spark.tables import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{sf}")


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Engine:
    """The engine of one process: session, views, EngineSession."""

    def __init__(self, work: str, data_dir: str, wl, tracer):
        from etl_lealone_spark.session import EngineSession, build_spark
        from etl_lealone_spark.tables import register_views

        t0 = time.time()
        self.spark = build_spark(
            cores=CORES, shuffle_partitions=CORES, extra_conf=spark_conf(work)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        register_views(self.spark, data_dir)
        self.es = EngineSession(self.spark, warehouse=os.path.join(work, "wh"))
        t2 = time.time()
        wl.engine_setup(self.es)
        self.session_s, self.register_s = t1 - t0, t2 - t1
        if tracer is not None:
            tracer.attach(self.spark)

    def stop(self) -> None:
        self.spark.stop()


def stop_gateway() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_op(op, text, eng, wl, tracer):
    """Execute one op; return (wall seconds, result frame or None)."""
    es = eng.es
    if tracer is not None and tracer.enabled:
        return tracer.run_op(op, text, eng, wl)
    t0 = time.perf_counter()
    if op.kind == "build":
        from etl_lealone_spark.workloads import all_workloads

        pdf = all_workloads()[op.text].build(eng.spark, wl.data_dir).toPandas()
    elif op.kind == "select":
        pdf = es.sql(text).toPandas()
    else:
        es.sql(text)
        pdf = None
    return time.perf_counter() - t0, pdf


def run_pass(p, eng, wl, tracer, stats):
    """Run pass ``p``; return {op name: wall seconds} of its ops."""
    from ops import digest

    times: dict[str, float] = {}
    for op in wl.passes[p].ops:
        stats["attempted"] += 1
        text = wl.resolve(op, eng.es)
        try:
            dt, pdf = run_op(op, text, eng, wl, tracer)
        except Exception as e:  # an exception is a failed operation
            stats["failed"] += 1
            stats["errors"].append(f"pass {p} {op.name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        times[op.name] = dt
        wl.after_op(eng.es, p)
        stats["op_s"].setdefault(op.name, []).append(round(dt, 4))
        if op.expected is not None:
            got = digest(pdf)
            if got != op.expected:
                stats["failed"] += 1
                stats["errors"].append(f"pass {p} {op.name}: digest {got} != {op.expected}")
    bad = wl.check_state(eng.es, p)
    if bad:
        stats["failed"] += len(bad)
        stats["errors"].append(f"pass {p}: table state differs: {bad}")
    return times


def median_pass(passes: list[dict[str, float]]) -> float:
    """The time of a typical pass: each op's median over ``passes``,
    summed. A burst of load on a shared host slows the ops it falls on in
    one pass; this drops it where a median of whole passes would not."""
    names = {n for times in passes for n in times}
    return sum(statistics.median(t[n] for t in passes if n in t) for n in names)


def oracle_digests(args, n_passes: int, data_dir: str) -> dict:
    """DuckDB's digests for every pass, computed in a process of its own."""
    cmd = [sys.executable, os.path.join(HERE, "ops.py"),
           args.workload, str(args.seed), str(n_passes), data_dir]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        fail(f"oracle process exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_lealone_spark")):
        fail(f"no etl_lealone_spark package under {ROOT}; run from a checkout root")
    sys.path.insert(0, HERE)
    import ops

    if args.workload not in ops.WORKLOADS:
        fail(f"unknown workload {args.workload}; choose from {sorted(ops.WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(work)
    data_dir = data_dir_for(args.sf)
    if not all(os.path.isfile(f"{data_dir}/{t}.parquet") for t in ("orders", "lineitem")):
        fail(f"no test data under {data_dir}")
    keep_checkpoints_in(work)
    n_passes = 1 + MAX_WARM_PASSES

    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer(args.workload, args.seed, CORES)

    record: dict = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
                    "cores": CORES, "trace": args.trace}
    stats = {"attempted": 0, "failed": 0, "errors": [], "op_s": {}}
    eng = None
    try:
        # -- set-up: from process start until the first op is ready -------
        wl = ops.WORKLOADS[args.workload](args.seed, n_passes, data_dir)
        eng = Engine(work, data_dir, wl, tracer)
        setup_s = time.time() - T_PROCESS
        # the oracles run while the engine is idle, in a process of their own
        t = time.time()
        ops.apply_digests(wl, oracle_digests(args, n_passes, data_dir))
        record["oracle_s"] = round(time.time() - t, 3)
        if args.plant_wrong:
            planted = [op for op in wl.passes[0].ops if op.name == args.plant_wrong]
            if not planted or planted[0].expected is None:
                fail(f"--plant-wrong: no checked op named {args.plant_wrong}")
            planted[0].expected = "planted-wrong"
        record["inputs_digest"] = wl.inputs_digest()

        def one_pass(p: int, traced: bool) -> dict[str, float]:
            if tracer is not None:
                tracer.enabled = traced
                tracer.begin_pass(p)
            times = run_pass(p, eng, wl, tracer, stats)
            if tracer is not None:
                tracer.end_pass(p, sum(times.values()), traced=traced)
            return times

        # -- cold pass, then warm passes until --seconds of them are timed ---
        # a traced run traces the cold pass and every other warm pass; the
        # untraced warm passes give trace_overhead_frac. Passes still speed
        # up as the JIT warms, so the traced passes 1 and 3 bracket the
        # untraced pass 2.
        cold = sum(one_pass(0, traced=True).values())
        warm, warm_traced, warm_plain, warm_s = [], [], [], []
        p = 1
        while p < n_passes and (p <= MIN_WARM_PASSES or sum(warm_s) < args.seconds):
            traced = tracer is not None and p % 2 == 1
            times = one_pass(p, traced)
            warm.append(times)
            warm_s.append(sum(times.values()))
            (warm_traced if traced else warm_plain).append(times)
            p += 1

        jvm = eng.spark.sparkContext._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        record["jvm_cpus"] = jvm.java.lang.Runtime.getRuntime().availableProcessors()
        rss_py_kb, rss_jvm_kb = vm_hwm_kb(os.getpid()), vm_hwm_kb(jvm_pid)
        rss_kb = rss_py_kb + rss_jvm_kb

        warm_change = sum(wl.passes[i].change_bytes for i in range(1, p))
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold, "s"),
            "pass_s": (median_pass(warm_plain if tracer is not None and warm_plain else warm), "s"),
            "peak_rss_mb": (rss_kb / 1024.0, "MB"),
        }
        record.update({
            "session_start_s": round(eng.session_s, 4),
            "register_s": round(eng.register_s, 4),
            "cold_pass_s": round(cold, 4),
            "warm_passes_s": [round(w, 4) for w in warm_s],
            "peak_rss_python_mb": round(rss_py_kb / 1024.0, 1),
            "peak_rss_jvm_mb": round(rss_jvm_kb / 1024.0, 1),
            "failed_ops_frac": stats["failed"] / max(1, stats["attempted"]),
            "errors": stats["errors"][:20],
            "op_s": stats["op_s"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        })
        fs = wl.storage_metrics(eng.es, len(warm), warm_change)
        record["storage"] = fs
        if tracer is not None:
            per_layer = tracer.summary(
                session_s=eng.session_s,
                register_s=eng.register_s,
                warm_plain=[sum(t.values()) for t in warm_plain],
                warm_traced=[sum(t.values()) for t in warm_traced],
                fs=fs,
            )
            out = os.path.join(
                ROOT, ".perfbench", "out", f"trace-{args.workload}-{args.seed}.json"
            )
            tracer.write(out)
            record["trace_file"] = os.path.relpath(out, ROOT)
            record["per_layer"] = per_layer
            metrics = per_layer
        else:
            metrics = record["metrics"]
    finally:
        if eng is not None:
            try:
                eng.stop()
            except Exception:
                pass
        stop_gateway()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
