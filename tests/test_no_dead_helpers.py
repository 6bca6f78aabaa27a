"""No dead helpers in ``sparkt/``: every top-level undecorated function
or class must be referenced somewhere besides its own definition — in
``sparkt/`` itself, the tests, the scripts, the benchmark or the bench
entry points. Decorated definitions (materializations registered with
``@register(...)``, ``@cli.command`` handlers) are reached through
their decorator and count as used. Spark-free: a text scan plus
``ast``."""

from __future__ import annotations

import ast
import collections
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
SCANNED = ("sparkt", "tests", "scripts", "perfbench")


def _identifier_counts() -> collections.Counter:
    files = [p for d in SCANNED for p in (REPO / d).rglob("*.py")]
    files += sorted(REPO.glob("bench*.py")) + [REPO / "__spark_entry__.py"]
    counts: collections.Counter = collections.Counter()
    for path in files:
        counts.update(re.findall(r"[A-Za-z_]\w*", path.read_text()))
    return counts


def test_no_unreferenced_top_level_definitions():
    counts = _identifier_counts()
    dead = []
    for path in sorted((REPO / "sparkt").rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if node.decorator_list or node.name.startswith("__"):
                continue
            # the definition itself is the one occurrence a dead name has
            if counts[node.name] <= 1:
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} "
                            f"{node.name}")
    assert not dead, "unreferenced helpers:\n" + "\n".join(dead)
