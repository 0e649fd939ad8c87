"""Engine session shell.

The reference couples query execution to a server session object carrying
settings, user variables, sequences and prepared statements
(reference: lealone-db/src/main/java/org/lealone/db/ServerSession.java,
dml/Set.java, expression/Variable.java:20, schema/Sequence.java). Spark has
no such shell, so this module provides it: a thin :class:`EngineSession`
wrapping a SparkSession.

Scale notes: everything here is driver-side metadata (O(1) per session);
nothing in this module touches data paths, so it is scale-neutral.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import itertools
import os
import shutil
import subprocess
import threading
import time as _time
import warnings
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_offheap() -> str:
    """Off-heap pool size: SPARK_GRAFT_OFFHEAP env if set, else min(8g,
    ~1/8 of physical RAM, floored at 1g). Off-heap is ADDITIVE to the JVM
    heap, so an unconditional 8g can over-commit small hosts; sizing
    relative to RAM keeps the column-vector fast path on big hosts while
    staying safe on constrained ones (r5 advisor finding)."""
    env = os.environ.get("SPARK_GRAFT_OFFHEAP")
    if env:
        return env
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1 << 30)
    except (ValueError, OSError, AttributeError):
        total_gib = 64.0
    return f"{max(1, min(8, int(total_gib // 8)))}g"


LOCALFS_JAR = os.path.join(os.path.dirname(__file__), "jvm", "localfs.jar")
_LOCALFS_PKG = "etl_lealone_spark.localfs"
# the driver JVM's class-data-sharing archives, one <key>.jsa per class
# path (see build_spark); real path, as /proc/<pid>/maps names the file
CDS_DIR = os.path.join(os.path.dirname(os.path.realpath(__file__)), "jvm", "cds")
# JVM options with which a caller already decides what the JVM shares
_CDS_OPTIONS = ("-Xshare", "-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit")
# spark-submit adds these to the driver class path, usually as non-empty
# directories, which the JVM refuses to archive
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# the JVM that writes the archive at exit gets this long to finish
_DUMP_TIMEOUT_S = 120.0
# this process launched a JVM that writes its archive at exit
_dumping = False


def build_spark(
    app_name: str = "etl_lealone_spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Create a SparkSession tuned for this engine.

    Design-for-scale defaults (all overridable via ``extra_conf``):

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting
      and dynamic join-strategy switches replace the reference's cost-based
      join-order search (reference: lealone-sql/.../dml/Optimizer.java:23-27)
      with a strictly stronger runtime mechanism.
    - ``shuffle.partitions`` sized to cores for local runs; on a real
      cluster this should be ~2-3× total executor cores — AQE coalesces
      down, so oversizing is safe and undersizing is not.
    - Arrow enabled so any Pandas-UDF path is vectorized batch transfer.
    - Session timezone pinned to UTC for cross-engine (DuckDB oracle)
      determinism.

    Always, whatever ``extra_conf`` says: the ``file:`` scheme is served
    by the java.nio filesystem in ``jvm/localfs.jar`` (source beside it,
    rebuilt by ``scripts/build_localfs_jar.py``), for both the
    FileSystem and the FileContext API. Without libhadoop, Hadoop's
    local filesystem starts a ``chmod`` process for every file and
    directory it creates and a ``readlink`` process for every link
    lookup, and a FileContext rename makes two: 2.2 ms for a
    ``setPermission`` and 1.9 ms for a ``getFileLinkStatus``, against
    0.04 ms for an ``exists`` (timed through py4j, 4-core host).
    Snapshot commits, streaming checkpoints and state-store commits are
    made of those calls: a whole run of the ``ingest_mutate`` benchmark
    workload started 1268 processes, 8 with the shim (Spark's and
    PySpark's own ``rm``, ``setsid``, ``getconf`` and worker daemon).
    The shim's ``setPermission`` and link-status calls use java.nio and
    return what the stock ones return; the ``.crc`` checksum files and
    the permission modes written stay the same. The jar is appended to
    any caller-given ``spark.driver.extraClassPath`` and
    ``spark.executor.extraClassPath``; a missing jar or class fails here.

    The driver JVM starts from a class-data-sharing archive of its class
    path (``cds_launch``): the ~22,000 classes it loads from Spark's
    ~300 jars at every start are mapped from ``jvm/cds/<key>.jsa``,
    already parsed and verified, rather than read and verified again.
    In alternating runs of the ``tpch_sql`` benchmark workload on a
    4-core host, set-up fell from 8.4 to 4.4 s (medians of 9 pairs;
    ``session.start_s`` 5.2 → 2.6 s, ``tables.register_s`` 2.5 → 1.0
    s); ``ingest_mutate``'s fell alike. The JIT then has had less time
    when the queries start: ``tpch_sql``'s first warm pass ran about
    0.3 s slower, its third as fast. The first session of a class
    path writes the archive instead (``-XX:ArchiveClassesAtExit``): its
    set-up is about 2.5 s slower, and at exit its JVM takes about 10 s
    more to write 170–210 MB (the classes that session loaded), which
    is moved to ``<key>.jsa`` only when the JVM exited with status 0
    (the JVM crashes on a truncated archive rather than run without it). A mapped start whose archive
    the JVM refused (``/proc/<pid>/maps`` does not list it) deletes it,
    and the next session writes a new one. The JVM launches as before,
    with no archive, when a real file sits in the Spark conf dir,
    ``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` or a non-empty class-path
    directory adds to the class path, a session is already running, the
    caller's options already choose what the JVM shares (``-Xshare``,
    ``-XX:SharedArchiveFile``, ``-XX:ArchiveClassesAtExit``), or
    ``jvm/cds`` is not writable.
    """
    n = cores or default_parallelism()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # CBO + join reorder: uses ANALYZE-computed stats when present
        # (our ANALYZE statement maps to COMPUTE STATISTICS); the static
        # complement to AQE's runtime re-planning — together they replace
        # the reference's exhaustive/genetic join-order search
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        # testdata parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert at load (tables.load_table)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Off-heap column vectors for the parquet reader: decode lands
        # outside the GC'd heap (standard columnar-engine practice at
        # cluster scale). Measured at 5e8 rows: W3 1.77 -> 1.36s, W2
        # 0.76 -> 0.67s — a 10-23% cut to the scan-shape substrate gap
        # (docs/BENCHLOG.md r05). Sized to the host (see _default_offheap;
        # SPARK_GRAFT_OFFHEAP or extra_conf override).
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": _default_offheap(),
        "spark.sql.columnVector.offheap.enabled": "true",
        # Whole-stage-codegen class cache (r13, measured): the default
        # caches only 100 generated classes JVM-wide; a session serving
        # a many-query workload (this engine's 226-workload surface, or
        # any long-lived cluster session) generates far more, so by the
        # time a query is re-run its classes are evicted and it pays
        # generate + janino-compile + C2-JIT again — pure fixed cost
        # unrelated to data scale. Measured on a 23-query bench-shaped
        # sequence (warm all, then time each once, interleaved A/B ×3):
        # 40.5s mean at 100 entries vs 35.1s at 5000, with the worst
        # single queries halving (ngram_jaccard 2.1→0.95s) and every
        # timed reading converging to its isolated warm minimum —
        # i.e. the entire warm-vs-in-suite gap was recompilation.
        # 4096 ≈ 2× the suite's generated-class count; metaspace cost
        # is ~tens of KB per class, bounded well under the driver heap.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # Streaming state retention: the default (100) keeps up to 100
        # HDFSBackedStateStore map VERSIONS in executor memory per
        # stateful partition — after a dozen drained streaming queries
        # in one long session that is real heap pressure on every later
        # batch query (r10 driver bench read the ML family 2.8-7.5x
        # slow right after the streaming block; this is the leading
        # mechanism a slower host amplifies). 2 is the safe minimum for
        # micro-batch recovery; our drains checkpoint to per-run tmp
        # dirs and never restart, so deep version history buys nothing.
        "spark.sql.streaming.minBatchesToRetain": "2",
    }
    conf.update(extra_conf or {})
    conf = localfs_conf(conf)
    existing = SparkSession.getActiveSession() is not None
    cds = cds_launch(conf, CDS_DIR)
    if cds is not None:
        conf["spark.driver.extraJavaOptions"] = cds.java_options
    spark = _launch(conf, cds)
    if existing:
        _warn_unapplied_confs(spark, conf)
    spark.sparkContext.setLogLevel("WARN")
    # instantiate the file: filesystem now, so a class the JVM cannot
    # load fails at session start rather than at the first write
    spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    return spark


def localfs_conf(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` with the java.nio local filesystem registered for the
    ``file:`` scheme (see ``build_spark``): the jar appended to the
    driver and executor class paths, both Hadoop filesystem APIs
    pointed at its classes."""
    if not os.path.isfile(LOCALFS_JAR):
        raise FileNotFoundError(
            f"{LOCALFS_JAR} is missing; rebuild it with scripts/build_localfs_jar.py"
        )
    out = dict(conf)
    for key in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        out[key] = os.pathsep.join(p for p in (conf.get(key), LOCALFS_JAR) if p)
    out["spark.hadoop.fs.file.impl"] = f"{_LOCALFS_PKG}.NioLocalFileSystem"
    out["spark.hadoop.fs.AbstractFileSystem.file.impl"] = f"{_LOCALFS_PKG}.NioLocalFs"
    return out


@dataclass(frozen=True)
class CdsLaunch:
    """How ``build_spark`` launches the driver JVM with its class-data
    sharing archive (see ``cds_launch``)."""

    java_options: str  # spark.driver.extraJavaOptions to launch with
    archive: str  # the archive of this class path, <key>.jsa
    dump_to: Optional[str]  # written at exit on a miss; None maps ``archive``
    conf_dir: Optional[str]  # SPARK_CONF_DIR while the JVM launches, if changed


def cds_launch(
    conf: dict[str, str], cds_dir: str, env: Optional[dict[str, str]] = None
) -> Optional[CdsLaunch]:
    """The class-data-sharing flag for a driver JVM launched with ``conf``
    (after ``localfs_conf``), or None to launch it without one.

    The archive's key hashes what the JVM checks before it maps one: the
    ``java`` binary and its ``libjvm.so``, and every driver class-path
    entry with its size and mtime (``spark.driver.extraClassPath``, the
    conf dir, the ``$SPARK_HOME/jars`` listing). spark-submit puts the
    conf dir on the class path and the JVM refuses a non-empty directory
    there, so a conf dir of ``*.template`` files only is swapped for the
    empty ``<cds_dir>/conf`` while the JVM launches. None when the conf
    dir holds a real file, an environment variable adds class-path
    entries, an extraClassPath directory is not empty, the caller's
    options already choose what the JVM shares, ``cds_dir`` is not
    writable, or no JVM is launched: a session is running (or was, in a
    process whose JVM still has to write its archive)."""
    if SparkContext._gateway is not None or _dumping:
        return None
    env = os.environ if env is None else env
    opts = conf.get("spark.driver.extraJavaOptions", "")
    chosen = (opts, env.get("SPARK_SUBMIT_OPTS", ""), env.get("JAVA_TOOL_OPTIONS", ""))
    if any(o in s for s in chosen for o in _CDS_OPTIONS):
        return None
    if env.get("PYSPARK_GATEWAY_PORT") or any(env.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    java = (
        os.path.join(env["JAVA_HOME"], "bin", "java")
        if env.get("JAVA_HOME")
        else shutil.which("java", path=env.get("PATH"))
    )
    if not java or not os.path.isdir(jars) or any(c.isspace() for c in cds_dir):
        return None
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    conf_files = _listdir(conf_dir)
    if any(not f.endswith(".template") for f in conf_files):
        return None
    extra = [p for p in conf.get("spark.driver.extraClassPath", "").split(os.pathsep) if p]
    if any("*" in p or _listdir(p) for p in extra):
        return None
    empty_conf = os.path.join(cds_dir, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    if not os.access(cds_dir, os.W_OK) or _listdir(empty_conf):
        return None
    launch_conf = empty_conf if conf_files else None
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    with os.scandir(jars) as listing:  # the JVM expands jars/* in this order
        jar_paths = [e.path for e in listing]
    stamps = [_stamp(p) for p in (java, libjvm, *extra, launch_conf or conf_dir, *jar_paths)]
    key = hashlib.sha256("\n".join(stamps).encode()).hexdigest()[:20]
    archive = os.path.join(cds_dir, f"{key}.jsa")
    if os.path.isfile(archive):
        flag, dump_to = f"-XX:SharedArchiveFile={archive}", None
    else:
        dump_to = os.path.join(cds_dir, f"{key}.{os.getpid()}.tmp")
        # the dump warns on stdout of every class it cannot archive
        flag = f"-XX:ArchiveClassesAtExit={dump_to} -Xlog:cds*=error"
    return CdsLaunch(f"{opts} {flag}".strip(), archive, dump_to, launch_conf)


def _listdir(path: str) -> list[str]:
    """The entries of directory ``path``; [] for a file or nothing."""
    try:
        return os.listdir(path)
    except (NotADirectoryError, FileNotFoundError):
        return []


def _stamp(path: str) -> str:
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return f"{path} -"
    return f"{path} dir" if os.path.isdir(path) else f"{path} {st.st_size} {st.st_mtime_ns}"


def _launch(conf: dict[str, str], cds: Optional[CdsLaunch]) -> SparkSession:
    """``getOrCreate`` with ``conf``, launching the driver JVM as ``cds``
    says. A mapped archive that is not in the JVM's memory map was
    refused (the JVM then runs without it, only slower): it is deleted,
    so the next session writes a new one."""
    global _dumping
    builder = SparkSession.builder.config(map=conf)
    if cds is None:
        return builder.getOrCreate()
    if cds.dump_to:
        _drop_orphan_dumps(os.path.dirname(cds.archive))
    saved = os.environ.get("SPARK_CONF_DIR")
    if cds.conf_dir:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = SparkContext._gateway.proc
    if cds.dump_to:
        _dumping = True
        atexit.register(_dump_at_exit, proc, cds.dump_to, cds.archive)
    elif not _maps_file(proc.pid, cds.archive):
        with contextlib.suppress(OSError):
            os.remove(cds.archive)
    return spark


def _maps_file(pid: int, path: str) -> bool:
    """Whether process ``pid`` has ``path`` mapped (True when it cannot
    be read)."""
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(path in line for line in f)
    except OSError:
        return True


def _drop_orphan_dumps(cds_dir: str) -> None:
    """Delete the temp archives of processes that are gone: a Python
    process killed before its exit hook leaves the one its JVM wrote."""
    for name in os.listdir(cds_dir):
        pid = name.split(".")[1] if name.endswith(".tmp") and name.count(".") == 2 else ""
        if pid.isdigit() and not _alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cds_dir, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def _dump_at_exit(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """The exit hook of a launch that writes the archive: stop the
    session, then let the JVM write it (``promote_dump``)."""
    sc = SparkContext._active_spark_context
    if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
        with contextlib.suppress(Exception):
            sc.stop()
    promote_dump(proc, tmp, archive)


def promote_dump(
    proc: subprocess.Popen, tmp: str, archive: str, timeout: float = _DUMP_TIMEOUT_S
) -> None:
    """Close the gateway JVM's stdin, which makes it exit and write its
    archive to ``tmp``, and wait for it; move ``tmp`` to ``archive`` only
    when the JVM exited with status 0. A JVM that failed or outlived
    ``timeout`` (killed then) leaves no archive: the JVM crashes on a
    truncated one rather than run without it."""
    with contextlib.suppress(OSError, ValueError, AttributeError):
        proc.stdin.close()
    try:
        ok = proc.wait(timeout=timeout) == 0
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        ok = False
    if ok and os.path.isfile(tmp):
        os.replace(tmp, archive)
    else:
        with contextlib.suppress(OSError):
            os.remove(tmp)


def _warn_unapplied_confs(spark: SparkSession, requested: dict[str, str]) -> None:
    """Warn when ``getOrCreate`` handed back a running session that keeps
    other values for requested confs it cannot change: core confs are
    fixed when the SparkContext starts, static SQL confs (e.g.
    ``spark.sql.codegen.cache.maxEntries``) when the session state is
    built. Runtime SQL confs are applied to the running session, so they
    never drift. The app name is only a label and is not compared."""
    static_sql = spark._jvm.org.apache.spark.sql.internal.SQLConf.isStaticConfigKey
    core = spark.sparkContext.getConf()
    drift = []
    for key, want in requested.items():
        if key == "spark.app.name":
            continue
        if key.startswith("spark.sql."):
            if not static_sql(key):
                continue
            have = spark.conf.get(key, None)
        else:
            have = core.get(key, None)
        if key == "spark.driver.extraJavaOptions" and have:
            have = _without_cds_flag(have)
        if have != want:
            drift.append(f"{key}={have!r} (requested {want!r})")
    if drift:
        warnings.warn(
            "build_spark reused a running Spark session whose static confs "
            "differ from the requested ones: " + ", ".join(drift),
            stacklevel=3,
        )


def _without_cds_flag(opts: str) -> str:
    """``opts`` without the class-data-sharing flag ``cds_launch`` appended."""
    for name in ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="):
        head, sep, _ = opts.rpartition(f"{name}{CDS_DIR}{os.sep}")
        if sep:
            return head.rstrip()
    return opts


def quiet_bounded_window_warnings(spark: SparkSession) -> None:
    """Silence ONLY the WindowExec "No Partition Defined" WARN line —
    for registry sweeps (bench.py, tests/test_registry.py): there the
    structural ``global_window_unbounded`` rule is the authoritative
    check (it recognizes WindowGroupLimit-bounded rank-filter shapes
    the blanket JVM warning cannot), so every firing during a sweep is
    a known-bounded false alarm drowning real warnings. Scoped to the
    WindowExec logger; every other logger stays at WARN. Do NOT call
    this from engine code paths — ad-hoc user sessions should keep the
    hint."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j2 internals unavailable — noise is not worth a crash


@dataclass
class Sequence:
    """CREATE SEQUENCE metadata (reference: lealone-db/.../schema/Sequence.java).

    The reference hands out values from a cached block per session; gaps are
    allowed. We keep the same contract: ``next_block(n)`` reserves a
    contiguous block driver-side, so executors can stamp ids without
    coordination — the distributed-safe analogue of IDENTITY columns.
    """

    name: str
    start: int = 1
    increment: int = 1
    cache: int = 32
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    _next: Optional[int] = None

    def __post_init__(self) -> None:
        if self._next is None:
            self._next = self.start

    def next_value(self) -> int:
        with self._lock:
            v = self._next
            self._next += self.increment
            return v

    def next_block(self, n: int) -> tuple[int, int]:
        """Reserve n values; returns (first, increment)."""
        with self._lock:
            first = self._next
            self._next += self.increment * n
            return first, self.increment


class EngineSession:
    """The engine shell: settings, @variables, sequences, prepared statements.

    Mirrors the session surface of the reference (SET command
    lealone-sql/.../dml/Set.java, @var expression/Variable.java:20,
    PREPARE ddl/PrepareProcedure.java) without any OLTP machinery.
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        warehouse: Optional[str] = None,
    ) -> None:
        self.spark = spark or build_spark()
        self.settings: dict[str, Any] = {}
        self.variables: dict[str, Any] = {}
        self.sequences: dict[str, Sequence] = {}
        self.prepared: dict[str, str] = {}
        self._stmt_counter = itertools.count(1)
        from .catalog import Catalog, StatementRouter

        self.warehouse = warehouse or os.path.join(
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/etl_lealone_warehouse"),
            f"s{os.getpid()}",
        )
        self.catalog = Catalog(self.spark, self.warehouse)
        self._router = StatementRouter(self, self.catalog)
        # per-session query result cache (reference: Query.java:308-329 —
        # last 8 results, invalidated on any data/schema change)
        self._result_cache: "OrderedDict[str, list]" = OrderedDict()
        self._cache_generation = 0
        self.result_cache_size = 8
        self.result_cache_max_rows = 1024
        # QUERY_STATISTICS (reference: db/QueryStatisticsData.java —
        # per-statement count/min/max/total wall time, driver-side only)
        self.query_stats: dict[str, list] = {}  # sql → [count, min, max, total]
        # SET COLLATION (CompareModeIcu4J): Spark collation applied to
        # varchar columns of tables created after the SET; None = binary
        self.collation: Optional[str] = None
        # CREATE ALIAS / CREATE AGGREGATE (ddl/CreateFunctionAlias.java,
        # ddl/CreateAggregate.java): python-backed UDF registry, plus
        # alias→spark-builtin rewrites (stay JVM-side) and the original
        # DDL text for SCRIPT round-trips
        from .functions.udf_adapter import UdfRegistry

        self.udfs = UdfRegistry(self.spark)
        self.fn_alias_builtins: dict[str, str] = {}
        self.fn_alias_ddl: dict[str, str] = {}

    def _record_stat(self, sql: str, seconds: float) -> None:
        st = self.query_stats.setdefault(
            " ".join(sql.split())[:256], [0, float("inf"), 0.0, 0.0]
        )
        st[0] += 1
        st[1] = min(st[1], seconds)
        st[2] = max(st[2], seconds)
        st[3] += seconds

    # --- services (CREATE SERVICE / generated clients) ----------------
    def call_service(self, service: str, method: str, *args: Any) -> Any:
        """Invoke a registered service method (services.py dispatch) —
        the entry point both ``EXECUTE SERVICE`` SQL and GENERATE CODE
        client classes use."""
        from .services import ServiceDispatcher

        if not hasattr(self, "_service_dispatcher"):
            self._service_dispatcher = ServiceDispatcher()
        meta = self.catalog.services[service.lower()]
        return self._service_dispatcher.call(meta, method, list(args))

    # --- settings (SET name value) ------------------------------------
    def set_setting(self, name: str, value: Any) -> None:
        self.settings[name.upper()] = value

    def get_setting(self, name: str, default: Any = None) -> Any:
        return self.settings.get(name.upper(), default)

    # --- @variables ----------------------------------------------------
    def set_variable(self, name: str, value: Any) -> None:
        self.variables[name.lstrip("@").lower()] = value

    def get_variable(self, name: str, default: Any = None) -> Any:
        return self.variables.get(name.lstrip("@").lower(), default)

    # --- sequences -----------------------------------------------------
    def create_sequence(
        self, name: str, start: int = 1, increment: int = 1, cache: int = 32
    ) -> Sequence:
        seq = Sequence(name.lower(), start, increment, cache)
        self.sequences[seq.name] = seq
        return seq

    def sequence(self, name: str) -> Sequence:
        return self.sequences[name.lower()]

    # --- prepared statements (PREPARE name AS sql / EXECUTE) -----------
    def prepare(self, name: str, sql: str) -> None:
        self.prepared[name.lower()] = sql

    def execute_prepared(self, name: str, **params: Any) -> DataFrame:
        sql = self.prepared[name.lower()]
        return self.sql(sql, args=params or None)

    # --- SQL entry -------------------------------------------------
    def sql(self, sql: str, args: Any = None) -> DataFrame:
        """Run a statement: DDL/DML route to the catalog + snapshot
        tables; queries go through the dialect normalizer to Spark SQL.

        ``args`` supports both named parameters (dict) and the reference's
        positional ``?`` placeholders (list/tuple — Parameter.java:24);
        Spark binds both, and skips a ``?`` inside a literal. A statement
        with ``args`` is a query: DML with ``args`` raises ValueError.
        """
        if isinstance(args, (list, tuple)):
            from .dialect import _mask_literals

            n = _mask_literals(sql).count("?")
            if n != len(args):
                raise ValueError(
                    f"statement has {n} '?' placeholders "
                    f"but {len(args)} arguments were given"
                )
            args = list(args)
        t0 = _time.time()
        out = self._router.execute(sql, args)
        self._record_stat(sql, _time.time() - t0)
        return out

    # --- result cache (Query.java:308-329) --------------------------
    def invalidate_cache(self) -> None:
        """Called by the router on any DDL/DML (the reference recompiles
        on schema change, StatementWrapper.recompileIfRequired)."""
        self._cache_generation += 1
        self._result_cache.clear()

    def sql_cached(self, sql: str) -> DataFrame:
        """SELECT with the reference's per-session result cache: the last
        ``result_cache_size`` query results are replayed without
        re-execution, as long as no mutation happened since. Results
        larger than ``result_cache_max_rows`` are never cached (the
        reference bounds its cache by maxMemoryRows the same way)."""
        from .catalog import _head

        if _head(sql)[1] not in ("SELECT", "WITH", "VALUES", "FROM"):
            return self.sql(sql)  # only queries are cacheable
        # keyed and run by the exact text: whitespace inside a literal
        # and the newline that ends a -- comment are part of the query
        if sql in self._result_cache:
            self._result_cache.move_to_end(sql)
            rows, schema = self._result_cache[sql]
            return self.spark.createDataFrame(rows, schema)
        generation = self._cache_generation
        df = self.sql(sql)
        if self._cache_generation != generation:
            return df  # it wrote (e.g. WITH … INSERT): never replay a write
        rows = df.limit(self.result_cache_max_rows + 1).collect()
        if len(rows) <= self.result_cache_max_rows:
            self._result_cache[sql] = (rows, df.schema)
            while len(self._result_cache) > self.result_cache_size:
                self._result_cache.popitem(last=False)
            return self.spark.createDataFrame(rows, df.schema)
        return df
