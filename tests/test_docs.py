"""Doc-command guard: every script a documented shell recipe runs must
exist in the checkout.

Scans the fenced code blocks of the user-facing docs for
``python[3] <file>.py`` and ``pytest <path>`` and checks each path,
relative to the repo root.  A doc that still points at a deleted or
renamed script fails here instead of at a reader's terminal.  No Spark.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = sorted(
    ["README.md", "CLAUDE.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]
    + [os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "examples", "*", "README.md"))]
)

#: ``python script.py`` / ``python3 -u script.py``: the first non-option
#: argument, when it is a .py file (so not ``python -m mod`` or
#: ``python -``)
_PY_RUN = re.compile(r"\bpython3?(?:\s+-[A-Za-z]+)*\s+(\S+\.py)\b")
#: ``pytest`` followed by its arguments up to a comment or shell operator
_PYTEST = re.compile(r"\bpytest\b([^#|;&]*)")


def _fenced_lines(text: str):
    inside = False
    for line in text.splitlines():
        if line.lstrip().startswith("```"):
            inside = not inside
        elif inside:
            yield line


def _referenced_paths(line: str) -> list[str]:
    paths = _PY_RUN.findall(line)
    for m in _PYTEST.finditer(line):
        for tok in m.group(1).split():
            tok = tok.split("::", 1)[0]
            if not tok.startswith("-") and ("/" in tok or tok.endswith(".py")):
                paths.append(tok)
    return paths


def test_reference_parser():
    assert _referenced_paths("python examples/a/run.py [sf_dir]") == ["examples/a/run.py"]
    assert _referenced_paths("python3 perfbench/run.py --seed 1") == ["perfbench/run.py"]
    assert _referenced_paths(
        "X=1 python -m pytest tests/t.py::test_x -q -p no:cacheprovider  # t"
    ) == ["tests/t.py"]
    assert _referenced_paths("python -m pytest tests/ -x -q") == ["tests/"]
    assert _referenced_paths("python -m cosmap_spark.pipeline.cli run x/run.toml") == []
    assert _referenced_paths("python - <<'EOF'") == []


@pytest.mark.parametrize("doc", DOCS)
def test_doc_commands_name_existing_files(doc):
    with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
        text = f.read()
    missing = [
        p for line in _fenced_lines(text) for p in _referenced_paths(line)
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    assert not missing, f"{doc} runs files that do not exist: {missing}"
