"""Every bare ``scripts/<name>.py`` named in the README, BASELINE.md,
SCALE.md, COVERAGE.md, docs/BENCHLOG.md, the verify skill notes or the
package's code must exist on disk. A script that was deleted is cited as
``git show <rev>:scripts/<name>.py``, which this check exempts. No script may shadow a standard-library module."""

from __future__ import annotations

import glob
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# not preceded by ':' (a ``git show <rev>:`` path) or by a path character
SCRIPT_REF = re.compile(r"(?<![:\w/.-])scripts/(\w+)\.py")


def _sources() -> list[str]:
    return [
        os.path.join(ROOT, "README.md"),
        os.path.join(ROOT, "BASELINE.md"),
        os.path.join(ROOT, "SCALE.md"),
        os.path.join(ROOT, "COVERAGE.md"),
        os.path.join(ROOT, "docs", "BENCHLOG.md"),
        os.path.join(ROOT, ".claude", "skills", "verify", "SKILL.md"),
        *glob.glob(os.path.join(ROOT, "etl_lealone_spark", "**", "*.py"), recursive=True),
    ]


def test_pattern_exempts_git_show_form():
    text = "run scripts/a.py; see `git show 3d2eabf:scripts/b.py` or x/scripts/c.py"
    assert SCRIPT_REF.findall(text) == ["a"]


def test_named_scripts_exist():
    seen, missing = 0, []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            text = f.read()
        for m in SCRIPT_REF.finditer(text):
            seen += 1
            if not os.path.isfile(os.path.join(ROOT, "scripts", f"{m.group(1)}.py")):
                missing.append(f"{os.path.relpath(path, ROOT)}: scripts/{m.group(1)}.py")
    assert seen > 0
    assert not missing, missing


def test_no_script_shadows_stdlib():
    """Python puts a script's own directory first on ``sys.path``, so a
    file named like a stdlib module replaces that module for every script
    beside it — and for pyspark, whose ``cProfile`` import needs the
    stdlib ``profile``."""
    stems = {
        os.path.splitext(os.path.basename(p))[0]
        for d in ("", "scripts", "perfbench")
        for p in glob.glob(os.path.join(ROOT, d, "*.py"))
    }
    assert {"__spark_entry__", "bench", "build_localfs_jar", "run"} <= stems
    assert not sorted(stems & sys.stdlib_module_names)
