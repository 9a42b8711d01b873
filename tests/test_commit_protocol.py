"""The commit protocol lives in plans/checkpoint.py alone.

Every table rewrite goes through ``checkpoint.rewrite_buckets``; the
tmp-dir and swap steps behind it, and the writer of each table's layout
record (``_common_metadata``, written with pyarrow's
``write_metadata``), are private to that module. A program file that
names one of them — as a call, an attribute or an import — brings back
per-module commit choreography, and fails this test.
"""

from __future__ import annotations

import ast
from pathlib import Path

from test_dead_plans import ROOT, _program_files

CHECKPOINT = ROOT / "open_semantic_etl_spark" / "plans" / "checkpoint.py"
PROTOCOL = {
    "swap_buckets", "tmp_path", "swap_table", "atomic_overwrite",
    "record_layout", "write_metadata",
}


def _protocol_names(path: Path) -> set[str]:
    """protocol step names (with or without leading underscores) that
    ``path`` uses as a Name, an Attribute or an import."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name
        else:
            continue
        if name.lstrip("_") in PROTOCOL:
            out.add(name)
    return out


def test_commit_protocol_stays_in_checkpoint():
    leaks = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for path in _program_files()
        if path != CHECKPOINT
        for name in _protocol_names(path)
    )
    assert not leaks, f"commit protocol used outside plans/checkpoint.py: {leaks}"
    # the guard is live: the steps it looks for exist in checkpoint.py
    assert {"_swap_buckets", "_record_layout", "write_metadata"} <= _protocol_names(CHECKPOINT)
