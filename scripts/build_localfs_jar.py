"""Rebuild the local-filesystem jar from its committed Java source.

    python scripts/build_localfs_jar.py [OUT_JAR]

Compiles ``etl_lealone_spark/jvm/src`` with ``javac --release 17``
against the Hadoop client API jar of the Spark install, and writes the
class files into a jar (default: the committed
``etl_lealone_spark/jvm/localfs.jar``). The jar entries carry a fixed
timestamp, so a rebuild from the same source and JDK gives the same
bytes. ``build_spark`` puts the jar on the JVM
class path; see its docstring for what the classes replace.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "etl_lealone_spark", "jvm")
SRC_DIR = os.path.join(JVM_DIR, "src")
DEFAULT_JAR = os.path.join(JVM_DIR, "localfs.jar")
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)
_MANIFEST = b"Manifest-Version: 1.0\r\n\r\n"


def hadoop_api_jar() -> str:
    """The Hadoop client API jar of the Spark the session runs: the one
    under ``$SPARK_HOME/jars`` when that is set, else PySpark's own."""
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = glob.glob(os.path.join(home, "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise FileNotFoundError(
            f"expected one hadoop-client-api jar in {home}/jars, found {jars}"
        )
    return jars[0]


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """javac the source into ``out_dir``; return {jar entry name: class bytes}."""
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True))
    subprocess.run(
        ["javac", "--release", "17", "-nowarn", "-cp", hadoop_api_jar(), "-d", out_dir]
        + sources,
        check=True,
    )
    classes = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "**", "*.class"), recursive=True)):
        with open(path, "rb") as f:
            classes[os.path.relpath(path, out_dir).replace(os.sep, "/")] = f.read()
    return classes


def write_jar(classes: dict[str, bytes], jar_path: str) -> None:
    """Write the jar beside ``jar_path`` and rename it into place: a
    running JVM with the old jar on its class path keeps reading the
    file it opened."""
    tmp = f"{jar_path}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as jar:
        for name, data in [("META-INF/MANIFEST.MF", _MANIFEST)] + sorted(classes.items()):
            jar.writestr(zipfile.ZipInfo(name, _ZIP_TIME), data, zipfile.ZIP_DEFLATED)
    os.replace(tmp, jar_path)


def main(argv: list[str]) -> int:
    jar_path = argv[0] if argv else DEFAULT_JAR
    with tempfile.TemporaryDirectory() as out:
        classes = compile_classes(out)
    write_jar(classes, jar_path)
    print(f"{jar_path}: {len(classes)} classes")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
