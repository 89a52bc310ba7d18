"""Spark-free guards: one commit path per kind of write.

``sinks/writers.py::publish`` is the only code that stages and renames
a directory; the versioned stores commit through ``sinks/commit.py``
(``os.link``, no rename).  The one other rename is the ledger marker
write in ``streaming/ops.py::_write_marker_atomic``, which renames a
file.  A second rename dance would be a second crash-window story, so
a test fails when ``os.rename(`` or the backup name appears anywhere
else in the package.

Likewise ``streaming/ops.py::_ledgered_loop`` is the only
``foreachBatch`` loop: ``foreachBatch`` delivers at least once, and a
sink that hand-rolls its own loop skips the epoch ledger, so a rebuilt
checkpoint's new epoch-0 data silently replaces what epoch 0 first
wrote.  A test fails when ``.foreachBatch(`` appears anywhere else.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cosmap_spark"


def _enclosing_functions(tree: ast.AST) -> dict[int, str]:
    """line number -> name of the outermost function holding it."""
    owner: dict[int, str] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for line in range(node.lineno, node.end_lineno + 1):
                owner[line] = node.name
    return owner


def _hits(needles: tuple[str, ...], allowed: set) -> list[str]:
    """Lines of the package holding a needle, outside the ``allowed``
    (file, outermost function) pairs; function ``None`` allows the file."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        text = path.read_text()
        if not any(n in text for n in needles):
            continue
        owner = _enclosing_functions(ast.parse(text))
        for i, line in enumerate(text.splitlines(), 1):
            if not any(n in line for n in needles):
                continue
            if (rel, None) in allowed or (rel, owner.get(i)) in allowed:
                continue
            hits.append(f"{rel}:{i}: {line.strip()}")
    return hits


def _owners_in_ops(needle: str) -> list[str]:
    """The outermost function of every ``streaming/ops.py`` line holding
    ``needle``."""
    text = (PKG / "streaming" / "ops.py").read_text()
    owner = _enclosing_functions(ast.parse(text))
    return [owner.get(i) for i, line in enumerate(text.splitlines(), 1)
            if needle in line]


def test_rename_and_backup_name_only_in_publish_and_marker_write():
    hits = _hits(("os.rename(", "__merge_backup"), {
        ("sinks/writers.py", None),
        ("streaming/ops.py", "_write_marker_atomic"),
    })
    assert not hits, "directory rename outside writers.publish:\n" + "\n".join(hits)


def test_guard_sees_the_marker_write():
    """The allow-list names real code: the marker write still renames,
    so the guard is scanning the files it claims to."""
    assert _owners_in_ops("os.rename(") == ["_write_marker_atomic"]


def test_foreach_batch_only_in_the_ledgered_loop():
    hits = _hits((".foreachBatch(",), {("streaming/ops.py", "_ledgered_loop")})
    assert not hits, "foreachBatch outside _ledgered_loop:\n" + "\n".join(hits)


def test_guard_sees_the_ledgered_loop():
    """The allow-list names real code: the one loop still starts the
    stream with ``.foreachBatch(``."""
    assert _owners_in_ops(".foreachBatch(") == ["_ledgered_loop"]
