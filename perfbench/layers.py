"""Per-layer measurement for a traced run.

The tracer keeps an in-memory span per operation (workload, op, pass,
seed) with child spans for the ``EngineSession.sql`` call (``catalog.sql``),
the registry ``Workload.build`` call (``workloads.build``) and the action.
Each op span sets the Spark job group to its span id, so jobs and stages
in Spark's status store are attributed to the op that caused them; jobs
submitted from other threads (streaming micro-batches) are attributed by
submission time. Everything the tracer reads — status store, Catalyst
phase trackers, final AQE plans, codegen counters, the streaming
listener — is read after the op span has closed, so only the span
bookkeeping itself falls inside the timed work.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from typing import Optional

PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt) -> Optional[int]:
    return opt.get().getTime() if opt.isDefined() else None


class Span:
    __slots__ = ("id", "parent", "name", "attrs", "t0", "t1", "jobs")

    def __init__(self, sid, parent, name, attrs):
        self.id, self.parent, self.name, self.attrs = sid, parent, name, attrs
        self.t0 = time.time()
        self.t1 = None
        self.jobs: list[int] = []

    def close(self):
        self.t1 = time.time()


class StreamProgress:
    """Collects ``StreamingQueryListener`` progress events."""

    def __init__(self):
        self.events: list[dict] = []

    def make_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                pr = event.progress
                dur = dict(pr.durationMs or {})
                sink.append({
                    "id": str(pr.id),
                    "rows": int(pr.numInputRows or 0),
                    "trigger_ms": float(dur.get("triggerExecution", 0)),
                    "add_batch_ms": float(dur.get("addBatch", 0)),
                    "commit_ms": float(sum(s.commitTimeMs or 0 for s in pr.stateOperators)),
                    "state_rows": int(sum(s.numRowsTotal or 0 for s in pr.stateOperators)),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


class Tracer:
    def __init__(self, workload: str, seed: int, cores: int):
        self.workload, self.seed, self.cores = workload, seed, cores
        self.spans: list[Span] = []
        self.enabled = True
        self.pass_no = 0
        self.streams = StreamProgress()
        self.pass_rows: dict[int, dict] = {}
        self._cur: Optional[dict] = None
        self._next = 0

    # -- wiring -----------------------------------------------------------
    def attach(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.codegen = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.last_job = self._max_id(self.store.jobsList(None), "jobId")
        self.last_stage = self._max_id(
            self.store.stageList(None, False, False, self.empty, None), "stageId"
        )
        spark.streams.addListener(self.streams.make_listener())

    @staticmethod
    def _max_id(seq, attr) -> int:
        return getattr(seq.apply(0), attr)() if seq.size() else -1

    def _span(self, parent, name, **attrs) -> Span:
        self._next += 1
        s = Span(f"s{self._next}", parent.id if parent else None, name, attrs)
        self.spans.append(s)
        return s

    def _codegen(self) -> tuple[int, float]:
        h = self.codegen.METRIC_COMPILATION_TIME()
        n = h.getCount()
        return n, n * h.getSnapshot().getMean()

    # -- passes -----------------------------------------------------------
    def begin_pass(self, p: int) -> None:
        self.pass_no = p
        self._cur = {k: 0.0 for k in PASS_KEYS}
        self._cur["select_build_ms"] = []
        self._cur["rewrite_ms"] = []
        self._cur["dml_s"] = []
        self._cur["dml_jobs"] = []
        self._cur["peak_exec_memory_bytes"] = 0.0
        self._ev0 = len(self.streams.events)
        self._cg0 = self._codegen()
        if self.enabled:  # skip jobs of the untraced pass before this one
            self.jsc.listenerBus().waitUntilEmpty(10_000)
            self._new_jobs()
            self._new_stages()

    def end_pass(self, p: int, wall: float, traced: bool) -> None:
        cur = self._cur
        if traced:
            self.jsc.listenerBus().waitUntilEmpty(10_000)
            ev = self.streams.events[self._ev0:]
            trig = [e["trigger_ms"] for e in ev]
            last_rows: dict[str, int] = {}
            for e in ev:
                last_rows[e["id"]] = e["state_rows"]
            cur.update({
                "streaming.triggers": len(ev),
                "streaming.empty_trigger_frac": (
                    sum(1 for e in ev if e["rows"] == 0) / len(ev) if ev else 0.0
                ),
                "streaming.trigger_ms_p50": statistics.median(trig) if trig else 0.0,
                "streaming.trigger_ms_max": max(trig, default=0.0),
                "streaming.add_batch_ms": sum(e["add_batch_ms"] for e in ev),
                "streaming.state_commit_ms": sum(e["commit_ms"] for e in ev),
                "streaming.state_rows": sum(last_rows.values()),
            })
            n, ms = self._codegen()
            cur["codegen.compilations"] = n - self._cg0[0]
            cur["codegen.compile_ms"] = ms - self._cg0[1]
            cur["wall_s"] = wall
            self.pass_rows[p] = cur

    # -- one op -----------------------------------------------------------
    def run_op(self, op, text, eng, wl):
        from etl_lealone_spark.workloads import all_workloads

        es = eng.es
        top = self._span(None, "op", workload=self.workload, op=op.name,
                         kind=op.kind, pass_no=self.pass_no, seed=self.seed)
        self.sc.setJobGroup(top.id, f"{self.workload}/{op.name}/pass{self.pass_no}")
        t0 = time.perf_counter()
        df = pdf = None
        try:
            if op.kind == "build":
                child = self._span(top, "workloads.build")
                df = all_workloads()[op.text].build(eng.spark, wl.data_dir)
            else:
                child = self._span(top, "catalog.sql")
                df = es.sql(text)
            child.close()
            if op.kind != "dml":
                act = self._span(top, "action")
                pdf = df.toPandas()
                act.close()
        finally:
            dt = time.perf_counter() - t0
            top.close()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._collect(op, text, top, child, df, dt)
        return dt, pdf

    def _collect(self, op, text, top: Span, child: Span, df, dt: float) -> None:
        from etl_lealone_spark.dialect import rewrite

        cur = self._cur
        self.jsc.listenerBus().waitUntilEmpty(10_000)
        jobs = self._new_jobs()
        stages = self._new_stages()
        kids = [s for s in self.spans if s.parent == top.id]
        job_wall = {"build": 0.0, "action": 0.0}
        for j in jobs:
            owner = top
            sub = j["submitted"] / 1000.0 if j["submitted"] else None
            for k in kids:
                if sub is not None and k.t0 <= sub <= (k.t1 or sub):
                    owner = k
            owner.jobs.append(j["id"])
            w = max(0.0, (j["completed"] or j["submitted"] or 0) - (j["submitted"] or 0)) / 1000.0
            job_wall["action" if owner.name == "action" else "build"] += w
        cur["exec.jobs"] += len(jobs)
        cur["exec.job_wall_s"] += sum(job_wall.values())
        for st in stages:
            cur["exec.stages"] += 1
            cur["exec.tasks"] += st["tasks"]
            cur["exec.run_s"] += st["run_ms"] / 1000.0
            cur["exec.cpu_s"] += st["cpu_ns"] / 1e9
            cur["exec.gc_s"] += st["gc_ms"] / 1000.0
            cur["exec.input_bytes"] += st["input_bytes"]
            cur["exec.input_records"] += st["input_records"]
            cur["exec.shuffle_write_bytes"] += st["shuffle_write"]
            cur["exec.shuffle_read_bytes"] += st["shuffle_read"]
            cur["exec.spill_bytes"] += st["spill"]
            cur["exec.output_bytes"] += st["output_bytes"]
            cur["peak_exec_memory_bytes"] = max(cur["peak_exec_memory_bytes"], st["peak_mem"])
        build_s = child.t1 - child.t0
        cur["exec.unattributed_s"] += max(0.0, dt - build_s - job_wall["action"])
        if op.kind == "build":
            cur["workloads.build_s"] += build_s
            cur["workloads.eager_jobs"] += len(child.jobs)
        if op.kind == "select":
            cur["select_build_ms"].append(build_s * 1000.0)
            t = time.perf_counter()
            rewrite(text, session=None)
            cur["rewrite_ms"].append((time.perf_counter() - t) * 1000.0)
        if op.kind == "dml":
            cur["dml_s"].append(dt)
            cur["dml_jobs"].append(len(jobs))
        if df is not None and op.kind != "dml":
            qe = df._jdf.queryExecution()
            ph = qe.tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                o = ph.get(name)
                if o.isDefined():
                    cur[f"catalyst.{name}_ms"] += o.get().durationMs()
            self._walk_plan(qe.executedPlan(), cur)

    def _new_jobs(self) -> list[dict]:
        out = []
        seq = self.store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            out.append({"id": jid, "submitted": _opt_ms(j.submissionTime()),
                        "completed": _opt_ms(j.completionTime())})
        if out:
            self.last_job = out[0]["id"]
        return out

    def _new_stages(self) -> list[dict]:
        out = []
        seq = self.store.stageList(None, False, False, self.empty, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            out.append({
                "id": sid,
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "input_bytes": s.inputBytes(),
                "input_records": s.inputRecords(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "output_bytes": s.outputBytes(),
                "peak_mem": s.peakExecutionMemory(),
            })
        if out:
            self.last_stage = max(o["id"] for o in out)
        return out

    def _walk_plan(self, node, cur) -> None:
        stack = [node]
        while stack:
            n = stack.pop()
            cls = n.getClass().getSimpleName()
            if cls == "ShuffleExchangeExec":
                cur["plan.exchanges"] += 1
            elif cls == "BroadcastExchangeExec":
                cur["plan.broadcasts"] += 1
            elif any(m in cls for m in PYTHON_NODE_MARKERS):
                metrics = n.metrics()
                for key, dst in (("pythonNumRowsReceived", "python.udf_rows"),
                                 ("pythonDataSent", "python.udf_bytes_sent")):
                    o = metrics.get(key)
                    if o.isDefined():
                        cur[dst] += o.get().value()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(n.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(n.plan())
            else:
                stack.extend(_seq(n.children()))

    # -- results ----------------------------------------------------------
    def summary(self, session_s, register_s, warm_plain, warm_traced, fs) -> dict:
        rows = [r for p, r in sorted(self.pass_rows.items()) if p > 0] or [self.pass_rows[0]]

        def med(key):
            return statistics.median(float(r[key]) for r in rows)

        def med_list(key):
            vals = [v for r in rows for v in r[key]]
            return statistics.median(vals) if vals else 0.0

        out = {k: med(k) for k in PASS_KEYS}
        wall = med("wall_s")
        out["exec.core_util"] = out["exec.cpu_s"] / (wall * self.cores) if wall else 0.0
        out["exec.shuffle_per_input"] = (
            out["exec.shuffle_write_bytes"] / out["exec.input_bytes"]
            if out["exec.input_bytes"] else 0.0
        )
        out["exec.peak_exec_memory_bytes"] = max(r["peak_exec_memory_bytes"] for r in rows)
        out["dialect.rewrite_ms"] = med_list("rewrite_ms")
        out["catalog.select_build_ms"] = med_list("select_build_ms")
        out["catalog.dml_s"] = med_list("dml_s")
        out["catalog.jobs_per_dml"] = med_list("dml_jobs")
        cold = self.pass_rows.get(0)
        out["codegen.cold_compilations"] = cold["codegen.compilations"] if cold else 0.0
        out["codegen.cold_compile_ms"] = cold["codegen.compile_ms"] if cold else 0.0
        out["session.start_s"] = session_s
        out["tables.register_s"] = register_s
        out["trace_overhead_frac"] = (
            statistics.median(warm_traced) / statistics.median(warm_plain) - 1.0
            if warm_traced and warm_plain else 0.0
        )
        out.update(fs)
        out.pop("wall_s", None)
        return {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        child_time: dict[str, float] = {}
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.t1 - s.t0)
        out = []
        for s in self.spans:
            total = (s.t1 or s.t0) - s.t0
            out.append({
                "id": s.id, "parent": s.parent, "name": s.name, **s.attrs,
                "start": s.t0, "total_s": total,
                "self_s": total - child_time.get(s.id, 0.0), "jobs": s.jobs,
            })
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed, "spans": out}, f)


PASS_KEYS = (
    "wall_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_s", "exec.run_s",
    "exec.cpu_s", "exec.gc_s", "exec.unattributed_s", "exec.input_bytes",
    "exec.input_records", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.output_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compilations", "codegen.compile_ms",
    "plan.exchanges", "plan.broadcasts",
    "python.udf_rows", "python.udf_bytes_sent",
    "workloads.build_s", "workloads.eager_jobs",
    "streaming.triggers", "streaming.empty_trigger_frac", "streaming.trigger_ms_p50",
    "streaming.trigger_ms_max", "streaming.add_batch_ms", "streaming.state_commit_ms",
    "streaming.state_rows",
)

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "tables.register_s": "s",
    "dialect.rewrite_ms": "ms",
    "catalog.select_build_ms": "ms",
    "catalog.dml_s": "s",
    "catalog.jobs_per_dml": "count",
    "snapshot.bytes_written": "bytes",
    "snapshot.files_written": "count",
    "snapshot.bytes_on_disk": "bytes",
    "snapshot.write_amp": "ratio",
    "snapshot.space_amp": "ratio",
    "workloads.build_s": "s",
    "workloads.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compilations": "count",
    "codegen.compile_ms": "ms",
    "codegen.cold_compilations": "count",
    "codegen.cold_compile_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_wall_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.unattributed_s": "s",
    "exec.input_bytes": "bytes",
    "exec.input_records": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.shuffle_per_input": "ratio",
    "exec.peak_exec_memory_bytes": "bytes",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "python.udf_rows": "count",
    "python.udf_bytes_sent": "bytes",
    "streaming.triggers": "count",
    "streaming.empty_trigger_frac": "ratio",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_max": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "trace_overhead_frac": "ratio",
}


# ---------------------------------------------------------------------------
# snapshot storage (operators.dml.SnapshotTable) — file-system walk
# ---------------------------------------------------------------------------


class WarehouseFiles:
    """Tracks the data files under an EngineSession warehouse. Snapshot
    versions link unchanged files (symlinks) and write new ones, so a
    regular file seen for the first time is a file the engine wrote."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple[int, int]] = set()
        self.bytes_written = 0
        self.files_written = 0
        self.observe(count=False)

    def _files(self):
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                if os.path.islink(p) or f.startswith((".", "_")):
                    continue
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                yield (st.st_dev, st.st_ino), st.st_size

    def observe(self, count: bool = True) -> None:
        for key, size in self._files():
            if key not in self.seen:
                self.seen.add(key)
                if count:
                    self.bytes_written += size
                    self.files_written += 1

    def on_disk(self) -> int:
        return sum(size for _k, size in self._files())

    def live_bytes(self, tables) -> int:
        """Bytes of the files the latest version of each table reads."""
        keys: dict[tuple[int, int], int] = {}
        for st in tables:
            vdir = st._dir(st.version)
            for d, _dirs, files in os.walk(vdir, followlinks=True):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    s = os.stat(os.path.join(d, f))
                    keys[(s.st_dev, s.st_ino)] = s.st_size
        return sum(keys.values())
