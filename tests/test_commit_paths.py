"""Spark-free guard: plain directories are replaced in one place.

``sinks/writers.py::publish`` is the only code that stages and renames
a directory; the versioned stores commit through ``sinks/commit.py``
(``os.link``, no rename).  The one other rename is the ledger marker
write in ``streaming/ops.py::_write_marker_atomic``, which renames a
file.  A second rename dance would be a second crash-window story, so
this test fails when ``os.rename(`` or the backup name appears
anywhere else in the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cosmap_spark"
NEEDLES = ("os.rename(", "__merge_backup")
ALLOWED = {("sinks/writers.py", None), ("streaming/ops.py", "_write_marker_atomic")}


def _enclosing_functions(tree: ast.AST) -> dict[int, str]:
    """line number -> name of the outermost function holding it."""
    owner: dict[int, str] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for line in range(node.lineno, node.end_lineno + 1):
                owner[line] = node.name
    return owner


def test_rename_and_backup_name_only_in_publish_and_marker_write():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        text = path.read_text()
        if not any(n in text for n in NEEDLES):
            continue
        owner = _enclosing_functions(ast.parse(text))
        for i, line in enumerate(text.splitlines(), 1):
            if not any(n in line for n in NEEDLES):
                continue
            if (rel, None) in ALLOWED or (rel, owner.get(i)) in ALLOWED:
                continue
            hits.append(f"{rel}:{i}: {line.strip()}")
    assert not hits, "directory rename outside writers.publish:\n" + "\n".join(hits)


def test_guard_sees_the_marker_write():
    """The allow-list names real code: the marker write still renames,
    so the guard is scanning the files it claims to."""
    text = (PKG / "streaming" / "ops.py").read_text()
    owner = _enclosing_functions(ast.parse(text))
    lines = [i for i, line in enumerate(text.splitlines(), 1) if "os.rename(" in line]
    assert [owner.get(i) for i in lines] == ["_write_marker_atomic"]
