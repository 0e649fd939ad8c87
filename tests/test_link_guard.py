"""Static guard, no Spark: snapshot links are made and traced only in
``operators/dml.py`` (``SnapshotTable``'s link walker and link-reference
scan), so the link policy — relative, fully resolved, never a chain —
has one implementation to keep correct."""

from __future__ import annotations

import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_lealone_spark"
_LINK_CALLS = re.compile(r"\bos\.(symlink|path\.islink)\b")


def test_links_only_in_snapshot_table():
    offenders = [
        f"{path.relative_to(_PKG)}:{n}"
        for path in sorted(_PKG.rglob("*.py"))
        if path.relative_to(_PKG).as_posix() != "operators/dml.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _LINK_CALLS.search(line)
    ]
    assert not offenders, f"link calls outside operators/dml.py: {offenders}"
