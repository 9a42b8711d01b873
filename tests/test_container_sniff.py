"""The container sniffs live in the mimetype sniff alone.

``htmlx.sniff_content_type`` names a payload's container type, and the
explode walk (sources/explode.py) picks its walker by that label. The
structural gates behind the cab, arj and ISO labels (``sniff_cab``,
``sniff_arj``, ``sniff_iso``) are called only there and in their own
modules. A program file that names one of them elsewhere brings back a
second "which archive is this" decision, and fails this test.
"""

from __future__ import annotations

import ast
from pathlib import Path

from test_dead_plans import ROOT, _program_files

OPERATORS = ROOT / "open_semantic_etl_spark" / "operators"
SNIFFERS = {
    "sniff_cab": OPERATORS / "cab.py",
    "sniff_arj": OPERATORS / "arj.py",
    "sniff_iso": OPERATORS / "iso9660.py",
}
HTMLX = OPERATORS / "htmlx.py"


def _sniffer_names(path: Path) -> set[str]:
    """container sniffer names (with or without leading underscores)
    that ``path`` uses as a Name, an Attribute or an import."""
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
        if name.lstrip("_") in SNIFFERS:
            out.add(name)
    return out


def test_container_sniffs_stay_in_the_mimetype_sniff():
    leaks = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for path in _program_files()
        if path != HTMLX
        for name in _sniffer_names(path)
        if SNIFFERS[name.lstrip("_")] != path
    )
    assert not leaks, f"container sniff used outside htmlx.sniff_content_type: {leaks}"
    # the guard is live: the mimetype sniff calls all three
    assert set(SNIFFERS) <= _sniffer_names(HTMLX)
