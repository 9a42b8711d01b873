"""Every driver query plan must be reachable.

A top-level ``q_*`` function in plans/queries.py or plans/queries_ext.py
counts as reachable when some program file references it outside its
own ``def``: ``__spark_entry__.queries()``, ``EXT_QUERIES``, another
query that composes it, or a tool. Tests do not count — a plan only a
test calls is dead code the driver never runs.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PLAN_FILES = [
    ROOT / "open_semantic_etl_spark" / "plans" / "queries.py",
    ROOT / "open_semantic_etl_spark" / "plans" / "queries_ext.py",
]


def _program_files() -> list[Path]:
    files = list((ROOT / "open_semantic_etl_spark").rglob("*.py"))
    files += list((ROOT / "tools").glob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    return files


def _referenced_names(path: Path, skip: dict[str, tuple[int, int]]) -> set[str]:
    """Name/Attribute identifiers used in ``path``, ignoring uses of a
    name inside its own definition span (recursion is not a caller)."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        else:
            continue
        span = skip.get(name)
        if span and span[0] <= node.lineno <= span[1]:
            continue
        out.add(name)
    return out


def test_every_query_plan_is_referenced():
    defined: dict[Path, dict[str, tuple[int, int]]] = {}
    for path in PLAN_FILES:
        defined[path] = {
            node.name: (node.lineno, node.end_lineno)
            for node in ast.parse(path.read_text()).body
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
        }
    assert sum(len(d) for d in defined.values()) > 0

    used: set[str] = set()
    for path in _program_files():
        used |= _referenced_names(path, defined.get(path, {}))

    dead = sorted(
        f"{path.name}:{name}"
        for path, names in defined.items()
        for name in names
        if name not in used
    )
    assert not dead, f"unreferenced query plans: {dead}"
