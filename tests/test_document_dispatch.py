"""One document dispatch: ``htmlx.extract_html`` alone picks a
document's extractor.

The office, OLE, plist, SVG, FictionBook and media extractors are named
only by htmlx.py and their own modules; the ``office_extract`` and
``multimodal`` queries project extract_html's result instead of calling
an extractor themselves. A program file that names one elsewhere brings
back a second "which extractor reads this" decision, and fails this
test. ``extract_rtf`` and ``extract_tnef`` stay outside the guard: the
mail parsers (cfb.py, eml.py) call them to read message bodies.
"""

from __future__ import annotations

import ast
import plistlib
from pathlib import Path

import pytest

from test_dead_plans import ROOT, _program_files

from open_semantic_etl_spark.operators import cfb, media, office
from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.plans.queries_ext import _build_media, _build_office

OPERATORS = ROOT / "open_semantic_etl_spark" / "operators"
EXTRACTORS = {
    "extract_office": OPERATORS / "office.py",
    "extract_cfb": OPERATORS / "cfb.py",
    "extract_plist": OPERATORS / "office.py",
    "extract_svg": OPERATORS / "office.py",
    "extract_fb2": OPERATORS / "office.py",
    "extract_media": OPERATORS / "media.py",
}
HTMLX = OPERATORS / "htmlx.py"


def _extractor_names(path: Path) -> set[str]:
    """guarded extractor names ``path`` uses as a Name, an Attribute or
    an import."""
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
        if name in EXTRACTORS:
            out.add(name)
    return out


def test_extract_html_alone_picks_the_extractor():
    leaks = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for path in _program_files()
        if path != HTMLX
        for name in _extractor_names(path)
        if EXTRACTORS[name] != path
    )
    assert not leaks, f"document extractor named outside htmlx.extract_html: {leaks}"
    # the guard is live: extract_html's dispatch names all six
    assert set(EXTRACTORS) <= _extractor_names(HTMLX)


def _office_kind_extractor(d: int):
    """the extractor that reads ``_build_office(d)``'s kind, or None
    for the iCalendar kind (extract_html's own vobject route)."""
    by_d10 = {4: office.extract_svg, 5: office.extract_fb2, 6: office.extract_office,
              7: office.extract_plist, 8: office.extract_office, 9: None}
    if d % 10 in by_d10:
        return by_d10[d % 10]
    if d % 8 == 3:
        return office.extract_rtf
    return office.extract_office if d % 8 < 3 else cfb.extract_cfb


def test_author_is_the_kind_extractors_author():
    authors = set()
    for d in range(40):  # every _build_office kind
        b = _build_office(d)
        extract = _office_kind_extractor(d)
        want = None if extract is None else extract(b)["author"]
        assert extract_html(b)["author"] == want, d
        authors.add(want)
    assert len(authors) > 10  # most kinds carry one


def test_rfc822_author_is_the_sender_like_msg():
    """a standalone RFC 822 message reports its From address as
    ``author``, as the same message saved as an Outlook .msg does."""
    eml = (b"From: sender@example.org\r\nTo: rcpt@example.org\r\n"
           b"Subject: Subj\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: text/plain; charset=utf-8\r\n\r\nbody text\r\n")
    got = extract_html(eml)
    assert got["content_type"] == "message/rfc822"
    msg = extract_html(cfb.build_msg("Subj", "sender@example.org", "body text"))
    assert got["author"] == msg["author"] == "sender@example.org"


def test_media_fields_are_the_media_extractors():
    for d in range(14):  # every _build_media kind
        b = _build_media(d)
        want = media.extract_media(b)
        got = extract_html(b)
        for k in ("author", "width", "height", "duration_ms", "datetime"):
            assert got[k] == want[k], (d, k)


@pytest.mark.parametrize("fmt", [plistlib.FMT_XML, plistlib.FMT_BINARY])
def test_plist_over_the_render_cap_fails_in_both_forms(fmt):
    """an XML plist over the render cap was reported as a success with
    empty content; both forms now carry the extractor's failure."""
    r = extract_html(plistlib.dumps(list(range(100001)), fmt=fmt))
    assert r["content_type"] == "application/x-plist"
    assert r["ok"] is False
    assert r["err"] == "plist render over 100000 lines"
