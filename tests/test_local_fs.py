"""The java.nio local filesystem ``build_spark`` registers for ``file:``.

Without libhadoop, Hadoop's local filesystem starts a ``chmod`` process
for every file and directory it creates and a ``readlink`` process for
every link lookup. The shim in ``etl_lealone_spark/jvm`` does those
calls in the JVM. These tests pin that it serves both Hadoop APIs, that
what it returns and writes equals the stock filesystem, that a snapshot
INSERT and a stream drain start no such process (and that the same
recording does see them with the stock filesystem), and that the
committed jar is what its source compiles to.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import stat
import zipfile

import pytest

from etl_lealone_spark.session import LOCALFS_JAR, EngineSession, localfs_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_lealone_spark.localfs"
SPAWNING = {"chmod", "readlink", "ls", "stat"}
STOCK_CONF = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.file.impl.disable.cache": "true",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}


def _uri(spark, s="file:///"):
    return spark._jvm.java.net.URI(s)


def _raw_pair(spark):
    """(the shim's raw filesystem, a stock RawLocalFileSystem), both
    initialized on ``file:///`` with the session's Hadoop conf."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    nio = jvm.org.apache.hadoop.fs.FileSystem.get(_uri(spark), conf).getRaw()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(_uri(spark), conf)
    return nio, stock


def _perm(spark, octal: str):
    return spark._jvm.org.apache.hadoop.fs.permission.FsPermission(octal)


def test_file_scheme_is_served_by_the_shim(spark):
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(_uri(spark), conf)
    assert fs.getClass().getName() == f"{PKG}.NioLocalFileSystem"
    assert fs.getRaw().getClass().getName() == f"{PKG}.NioRawLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(_uri(spark), conf)
    afs = fc.getDefaultFileSystem()
    assert afs.getClass().getName() == f"{PKG}.NioLocalFs"
    assert afs.getRawFs().getClass().getName() == f"{PKG}.NioRawLocalFs"
    assert afs.getUriDefaultPort() == -1
    assert afs.isValidName("a:b")


def test_caller_class_path_is_kept(spark):
    conf = localfs_conf(
        {"spark.driver.extraClassPath": "/srv/lib/a.jar", "spark.executor.extraClassPath": ""}
    )
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["/srv/lib/a.jar", LOCALFS_JAR])
    assert conf["spark.executor.extraClassPath"] == LOCALFS_JAR
    assert conf["spark.hadoop.fs.file.impl"] == f"{PKG}.NioLocalFileSystem"
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == f"{PKG}.NioLocalFs"
    running = spark.sparkContext.getConf()
    assert running.get("spark.driver.extraClassPath").endswith(LOCALFS_JAR)


@pytest.mark.parametrize("kind", ["file", "dir"])
@pytest.mark.parametrize("octal", ["0644", "0600", "0755", "0700", "0750", "0000", "1777"])
def test_set_permission_writes_the_stock_mode(spark, tmp_path, kind, octal):
    nio, stock = _raw_pair(spark)
    modes = []
    for name, fs in (("nio", nio), ("stock", stock)):
        p = tmp_path / name
        p.mkdir() if kind == "dir" else p.write_bytes(b"x")
        fs.setPermission(spark._jvm.org.apache.hadoop.fs.Path(str(p)), _perm(spark, octal))
        modes.append(stat.S_IMODE(os.stat(p).st_mode))
    assert modes[0] == modes[1] == int(octal, 8)


def test_set_permission_keeps_directory_set_id_bits_like_chmod(spark, tmp_path):
    """``chmod 0700`` keeps a directory's setgid bit; so does the shim."""
    nio, stock = _raw_pair(spark)
    modes = []
    for name, fs in (("nio", nio), ("stock", stock)):
        d = tmp_path / name
        d.mkdir()
        os.chmod(d, 0o2755)
        fs.setPermission(spark._jvm.org.apache.hadoop.fs.Path(str(d)), _perm(spark, "0700"))
        modes.append(stat.S_IMODE(os.stat(d).st_mode))
    assert modes == [0o2700, 0o2700]


def test_created_files_and_dirs_get_the_stock_modes(spark, tmp_path):
    jvm = spark._jvm
    nio, stock = _raw_pair(spark)
    got = {}
    for name, fs in (("nio", nio), ("stock", stock)):
        base = tmp_path / name
        Path = jvm.org.apache.hadoop.fs.Path
        fs.mkdirs(Path(str(base / "a" / "b")), _perm(spark, "0750"))
        fs.create(Path(str(base / "a" / "f"))).close()
        got[name] = {
            rel: stat.S_IMODE(os.stat(base / rel).st_mode) for rel in ("a", "a/b", "a/f")
        }
    assert got["nio"] == got["stock"]


def _status_fields(st) -> tuple:
    link = st.getSymlink().toString() if st.isSymlink() else None
    return (
        st.getPath().toString(), st.getLen(), st.isDirectory(), st.isSymlink(), link,
        st.getReplication(), st.getBlockSize(), st.getModificationTime(),
        st.getAccessTime(), st.getPermission().toString(), st.getOwner(), st.getGroup(),
    )


def _outcome(fn):
    from py4j.protocol import Py4JJavaError

    try:
        return fn()
    except Py4JJavaError as e:
        return ("raises", e.java_exception.getClass().getName())


@pytest.mark.parametrize("qualified", [False, True], ids=["bare", "file_qualified"])
def test_link_status_equals_stock(spark, tmp_path, qualified):
    """``getFileLinkStatus`` and ``getLinkTarget`` mirror the stock raw
    filesystem field by field, including its quirk that a
    ``file:``-qualified path is never reported as a link."""
    (tmp_path / "f").write_bytes(b"abc")
    (tmp_path / "d").mkdir()
    os.symlink("f", tmp_path / "link_f")
    os.symlink("d", tmp_path / "link_d")
    os.symlink("gone", tmp_path / "dangling")
    nio, stock = _raw_pair(spark)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    links_seen = 0
    for name in ("f", "d", "link_f", "link_d", "dangling", "missing"):
        p = Path(("file:" if qualified else "") + str(tmp_path / name))
        got, want = (
            _outcome(lambda fs=fs: _status_fields(fs.getFileLinkStatus(p)))
            for fs in (nio, stock)
        )
        assert got == want, name
        links_seen += want[0] != "raises" and want[3]
        got, want = (
            _outcome(lambda fs=fs: fs.getLinkTarget(p).toString()) for fs in (nio, stock)
        )
        assert got == want, name
    assert links_seen == (0 if qualified else 3)


def _process_starts(spark, tmp_path, fn) -> list[str]:
    """The command lines of the processes the JVM started while ``fn``
    ran, from an in-JVM JFR recording of ``jdk.ProcessStart``."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "spawns.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    return [e.getString("command") for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)]


def _insert_and_drain(spark, tmp_path):
    """One snapshot INSERT and one stateful stream drain; returns the
    thunk to record and the table and checkpoint roots it writes."""
    from etl_lealone_spark.streaming.ingest import (
        drain_to_batch,
        stream_from_parquet_dir,
        streaming_tumbling_agg,
    )

    es = EngineSession(spark, warehouse=str(tmp_path / "wh"))
    es.sql("CREATE TABLE spawn_t (id INT, s VARCHAR(10))")
    feed = str(tmp_path / "feed")
    spark.sql(
        "SELECT id AS event_id, timestamp'2024-01-01' + make_interval(0, 0, 0, 0, id) AS ts, "
        "id % 3 AS user_id, 'click' AS event_type, CAST(id AS DOUBLE) AS value, "
        "CAST(NULL AS STRING) AS props FROM range(20)"
    ).write.parquet(feed)

    def run():
        es.sql("INSERT INTO spawn_t VALUES (1, 'a'), (2, 'b')")
        sdf = streaming_tumbling_agg(stream_from_parquet_dir(spark, feed))
        drain_to_batch(spark, sdf, str(tmp_path / "ck"), "spawn_guard").count()

    return run, es.catalog.table("spawn_t").root, str(tmp_path / "ck")


def _spawning(commands: list[str]) -> list[str]:
    return [c for c in commands if os.path.basename(c.split()[0]) in SPAWNING]


def test_snapshot_insert_and_drain_start_no_process(spark, tmp_path):
    run, table_root, ckpt = _insert_and_drain(spark, tmp_path)
    assert _spawning(_process_starts(spark, tmp_path, run)) == []
    # the checksum side files are still written, for data and checkpoints
    crcs = [
        f for root in (table_root, ckpt) for _, _, fs in os.walk(root) for f in fs
        if f.endswith(".crc")
    ]
    assert any(c.startswith(".part-") for c in crcs)
    assert any(c.startswith(".0") for c in crcs)


def test_guard_sees_the_stock_filesystem_spawn(spark, tmp_path):
    """The guard's polarity: the same INSERT and drain, with the session's
    Hadoop conf pointed back at the stock local filesystem, start chmod
    and readlink processes, so the recording above would catch a return."""
    run, _, _ = _insert_and_drain(spark, tmp_path)
    for k, v in STOCK_CONF.items():
        spark.conf.set(k, v)
    try:
        commands = _spawning(_process_starts(spark, tmp_path, run))
    finally:
        for k in STOCK_CONF:
            spark.conf.unset(k)
    names = {os.path.basename(c.split()[0]) for c in commands}
    assert {"chmod", "readlink"} <= names, commands


def _build_script():
    spec = importlib.util.spec_from_file_location(
        "build_localfs_jar", os.path.join(ROOT, "scripts", "build_localfs_jar.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_committed_jar_is_built_from_the_committed_source(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("javac is not on PATH, so the jar cannot be rebuilt to compare")
    build = _build_script()
    assert os.path.samefile(build.DEFAULT_JAR, LOCALFS_JAR)
    rebuilt = build.compile_classes(str(tmp_path))
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(rebuilt) == sorted(committed)
    assert rebuilt == committed
