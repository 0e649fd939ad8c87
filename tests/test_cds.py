"""The driver JVM's class-data-sharing archive (``session.cds_launch``).

``build_spark`` launches the driver JVM with ``-XX:ArchiveClassesAtExit``
when no archive of its class path exists yet and moves the archive into
place once the JVM exited cleanly; later launches map it with
``-XX:SharedArchiveFile``. These tests pin the flag decision without a
JVM, that an archive is promoted only after a clean exit, and, with two
fresh driver JVMs, that the second one maps the archive the first wrote.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from etl_lealone_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def launch_env(tmp_path, monkeypatch):
    """A Spark home with two jars and a template-only conf dir, a JDK,
    and no running session: the environment ``cds_launch`` reads."""
    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for jar in ("a.jar", "b.jar"):
        (home / "jars" / jar).write_bytes(b"jar " + jar.encode())
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (jdk / "bin").mkdir(parents=True)
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"java")
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"libjvm")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_dumping", False)
    return {"SPARK_HOME": str(home), "JAVA_HOME": str(jdk)}


def _conf(tmp_path, **extra):
    lib = tmp_path / "lib.jar"
    lib.write_bytes(b"lib")
    return {"spark.driver.extraClassPath": str(lib), **extra}


def test_flag_appended_to_callers_options(tmp_path, launch_env, monkeypatch):
    cds_dir = str(tmp_path / "cds")
    monkeypatch.setattr(session, "CDS_DIR", cds_dir)
    conf = _conf(tmp_path, **{"spark.driver.extraJavaOptions": "-Dcaller=1 -Xms1g"})
    miss = session.cds_launch(conf, cds_dir, launch_env)
    key = os.path.basename(miss.archive)[: -len(".jsa")]
    assert miss.dump_to == os.path.join(cds_dir, f"{key}.{os.getpid()}.tmp")
    assert miss.java_options.startswith("-Dcaller=1 -Xms1g -XX:ArchiveClassesAtExit=")
    assert f"-XX:ArchiveClassesAtExit={miss.dump_to} " in miss.java_options
    # the conf dir holds templates only: the JVM launches with an empty one
    assert miss.conf_dir == os.path.join(cds_dir, "conf")
    assert os.listdir(miss.conf_dir) == []

    with open(miss.archive, "wb") as f:
        f.write(b"archive")
    hit = session.cds_launch(conf, cds_dir, launch_env)
    assert hit.archive == miss.archive and hit.dump_to is None
    assert hit.java_options == f"-Dcaller=1 -Xms1g -XX:SharedArchiveFile={hit.archive}"
    # a reused session compares the caller's options without the flag
    for launch in (miss, hit):
        assert session._without_cds_flag(launch.java_options) == "-Dcaller=1 -Xms1g"


def test_key_follows_the_class_path(tmp_path, launch_env):
    cds_dir = str(tmp_path / "cds")
    conf = _conf(tmp_path)
    first = session.cds_launch(conf, cds_dir, launch_env).archive
    jar = os.path.join(launch_env["SPARK_HOME"], "jars", "a.jar")
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert session.cds_launch(conf, cds_dir, launch_env).archive != first
    (tmp_path / "lib.jar").write_bytes(b"another lib")
    assert session.cds_launch(conf, cds_dir, launch_env).archive != first


def test_empty_conf_dir_is_kept(tmp_path, launch_env):
    conf_dir = tmp_path / "empty_conf"
    conf_dir.mkdir()
    env = dict(launch_env, SPARK_CONF_DIR=str(conf_dir))
    launch = session.cds_launch(_conf(tmp_path), str(tmp_path / "cds"), env)
    assert launch is not None and launch.conf_dir is None


@pytest.mark.parametrize("case", ["spark_defaults", "classpath_dir", "xshare_off", "running"])
def test_no_flag(tmp_path, launch_env, monkeypatch, case):
    conf = _conf(tmp_path, **{"spark.driver.extraJavaOptions": "-Dcaller=1"})
    if case == "spark_defaults":
        conf_dir = os.path.join(launch_env["SPARK_HOME"], "conf")
        with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
            f.write("spark.driver.extraJavaOptions -Dreal=1\n")
    elif case == "classpath_dir":
        classes = tmp_path / "classes"
        (classes / "pkg").mkdir(parents=True)
        conf["spark.driver.extraClassPath"] += os.pathsep + str(classes)
    elif case == "xshare_off":
        conf["spark.driver.extraJavaOptions"] += " -Xshare:off"
    else:
        monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session.cds_launch(conf, str(tmp_path / "cds"), launch_env) is None


def test_other_class_path_sources_give_no_flag(tmp_path, launch_env):
    conf, cds_dir = _conf(tmp_path), str(tmp_path / "cds")
    assert session.cds_launch(conf, cds_dir, dict(launch_env, HADOOP_CONF_DIR="/etc/hadoop")) is None
    assert session.cds_launch(conf, str(tmp_path / "a b"), launch_env) is None
    readonly = tmp_path / "readonly"
    readonly.mkdir(mode=0o555)
    if not os.access(readonly, os.W_OK):  # root may write anywhere
        assert session.cds_launch(conf, str(readonly / "cds"), launch_env) is None


def _jvm_like(code: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)


@pytest.mark.parametrize(
    "code,promoted",
    [
        ("import sys; sys.stdin.read()", True),
        ("import sys; sys.stdin.read(); sys.exit(2)", False),
        ("import time; time.sleep(60)", False),  # outlives the timeout
    ],
)
def test_archive_promoted_only_after_a_clean_exit(tmp_path, code, promoted):
    tmp, archive = tmp_path / "k.123.tmp", tmp_path / "k.jsa"
    tmp.write_bytes(b"a dumped archive")
    proc = _jvm_like(code)
    session.promote_dump(proc, str(tmp), str(archive), timeout=5.0)
    assert proc.returncode is not None
    assert not tmp.exists()
    assert archive.exists() == promoted
    if promoted:
        assert archive.read_bytes() == b"a dumped archive"


def test_orphan_dumps_are_dropped(tmp_path):
    gone, live = tmp_path / "k.999999999.tmp", tmp_path / f"k.{os.getpid()}.tmp"
    for f in (gone, live, tmp_path / "k.jsa"):
        f.write_bytes(b"x")
    session._drop_orphan_dumps(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == sorted(["k.jsa", live.name])


# a fresh driver JVM, launched by build_spark with the archive directory
# given on the command line; prints the archives its JVM has mapped
_DRIVER = """
import json, os, sys
sys.path.insert(0, {root!r})
from etl_lealone_spark import session
session.CDS_DIR = sys.argv[1]
spark = session.build_spark(cores=1, shuffle_partitions=1, extra_conf={{
    "spark.driver.extraJavaOptions": "-Dcds.caller=kept",
    "spark.driver.memory": "1g",
}})
assert spark.range(3).count() == 3
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{{pid}}/maps") as f:
    mapped = sorted({{l.split()[-1] for l in f if l.rstrip().endswith(".jsa")}})
print(json.dumps({{
    "mapped": mapped,
    "options": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}}))
"""


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="reads /proc/<pid>/maps")
def test_second_driver_jvm_maps_the_archive_the_first_wrote(tmp_path):
    cds_dir = tmp_path / "cds"
    script = _DRIVER.format(root=ROOT)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}

    def driver() -> dict:
        out = subprocess.run(
            [sys.executable, "-c", script, str(cds_dir)],
            capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-3000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    try:
        first = driver()
        assert "-XX:ArchiveClassesAtExit=" in first["options"]
        written = sorted(os.listdir(cds_dir))
        archives = [n for n in written if n.endswith(".jsa")]
        assert len(archives) == 1 and written == sorted(archives + ["conf"]), written
        archive = str(cds_dir / archives[0])
        assert archive not in first["mapped"]

        second = driver()
        # the dynamic archive itself, not only the JDK's default one
        assert archive in second["mapped"], second["mapped"]
        assert second["options"].endswith(f"-Dcds.caller=kept -XX:SharedArchiveFile={archive}")
        assert first["conf_dir"] is None and second["conf_dir"] is None
        assert sorted(os.listdir(cds_dir)) == written
    finally:
        for name in os.listdir(cds_dir) if cds_dir.is_dir() else []:
            if not os.path.isdir(cds_dir / name):
                os.remove(cds_dir / name)
