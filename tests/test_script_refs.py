"""Every bare ``scripts/<name>.py`` named in the README, the verify skill
notes or the package's code must exist on disk. A script that was
deleted is cited as ``git show <rev>:scripts/<name>.py``, which this
check exempts."""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# not preceded by ':' (a ``git show <rev>:`` path) or by a path character
SCRIPT_REF = re.compile(r"(?<![:\w/.-])scripts/(\w+)\.py")


def _sources() -> list[str]:
    return [
        os.path.join(ROOT, "README.md"),
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
