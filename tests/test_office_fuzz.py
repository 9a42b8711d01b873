"""Fuzz the total-function contract of the round-4 extractors.

operators/office.py and operators/eml.py promise: every public entry
point is TOTAL — arbitrary bytes (including truncated/mutated valid
documents) return a contract-shaped dict (or None for the sniffing
extractors), never raise.  This is the property the per-row error
column in the Spark stage relies on: one poisoned payload in a 10^12-
doc corpus must not kill an Arrow batch.

Reference bar: the Tika tier wraps extraction errors into error facets
(enhance_extract_text_tika_server.py:155-170) instead of failing the
document; the in-engine twin is ok=False + err.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from open_semantic_etl_spark.operators.eml import parse_eml
from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.operators.office import (
    build_docx,
    build_epub,
    build_odt,
    build_xlsx,
    extract_office,
    extract_rtf,
    sniff_office,
)
from open_semantic_etl_spark.schema import EXTRACT_RESULT_TYPE

_OFFICE_KEYS = {"content", "title", "author", "content_type", "n_blocks", "ok", "err"}
#: extract_html's result: the extraction struct plus what its extractor read
_EXTRACT_KEYS = {f.name for f in EXTRACT_RESULT_TYPE.fields} | {
    "author", "width", "height", "duration_ms", "datetime",
}
_EML_KEYS = {
    "message_from_ss", "message_to_ss", "subject_txt", "message_dt",
    "content_txt", "ok", "err",
}


def _check_office_shape(r):
    if r is None:
        return
    assert set(r) == _OFFICE_KEYS
    assert isinstance(r["content"], str)
    assert isinstance(r["n_blocks"], int)
    assert isinstance(r["ok"], bool)
    if not r["ok"]:
        assert r["err"]
    # every output string must be utf-8 encodable (Arrow-serializable):
    # a lone surrogate would fail the WHOLE batch outside the per-row
    # error contract (regression: RTF \uN with a surrogate code point)
    for k in ("content", "title", "author", "err"):
        if r[k] is not None:
            r[k].encode("utf-8")


def _check_extract_shape(r):
    assert set(r) == _EXTRACT_KEYS
    _check_office_shape({k: r[k] for k in _OFFICE_KEYS})


@st.composite
def _mutated_doc(draw) -> bytes:
    """a valid office/rtf payload, truncated and/or byte-flipped."""
    kind = draw(st.sampled_from(["docx", "xlsx", "odt", "rtf", "epub", "ics"]))
    text = draw(st.lists(st.text(max_size=20), min_size=1, max_size=4))
    if kind == "docx":
        data = build_docx(text, title="t", author="a")
    elif kind == "xlsx":
        data = build_xlsx([text], title="t", author="a")
    elif kind == "odt":
        data = build_odt(text, title="t", author="a")
    elif kind == "epub":
        data = build_epub(text, title="t", author="a")
    elif kind == "ics":
        body = "\n".join(t.replace("\r", " ").replace("\n", " ") for t in text)
        data = f"BEGIN:VCALENDAR\nSUMMARY:{body}\nEND:VCALENDAR".encode(
            "utf-8", "replace"
        )
    else:
        body = "\\par ".join(t.replace("\\", "").replace("{", "").replace("}", "")
                             for t in text)
        # sprinkle \uN escapes over the FULL signed-16 range (incl.
        # surrogate code points — the Arrow-serializability regression)
        for n in draw(st.lists(
            st.integers(min_value=-32768, max_value=32767), max_size=3
        )):
            body += f"\\u{n}?"
        data = ("{\\rtf1\\ansi " + body + "}").encode("cp1252", "replace")
    cut = draw(st.integers(min_value=0, max_value=len(data)))
    data = data[:cut] if draw(st.booleans()) else data
    if data and draw(st.booleans()):
        pos = draw(st.integers(min_value=0, max_value=len(data) - 1))
        flip = draw(st.integers(min_value=1, max_value=255))
        data = data[:pos] + bytes([data[pos] ^ flip]) + data[pos + 1:]
    return data


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=512))
def test_office_rtf_total_on_random_bytes(data):
    _check_office_shape(extract_office(data))
    _check_office_shape(extract_rtf(data))
    assert sniff_office(data) is None or isinstance(sniff_office(data), str)


@settings(max_examples=150, deadline=None)
@given(_mutated_doc())
def test_office_rtf_total_on_mutated_documents(data):
    _check_office_shape(extract_office(data))
    _check_office_shape(extract_rtf(data))
    _check_extract_shape(extract_html(data))


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=512))
def test_eml_total_on_random_bytes(data):
    r = parse_eml(data)
    assert set(r) == _EML_KEYS
    assert isinstance(r["ok"], bool)
    if not r["ok"]:
        assert r["err"]


@settings(max_examples=60, deadline=None)
@given(
    st.text(max_size=40),
    st.text(max_size=200),
    st.integers(min_value=0, max_value=400),
)
def test_eml_total_on_truncated_mail(subject, body, cut):
    raw = (
        "From: a@example.com\r\nTo: b@example.com\r\n"
        f"Subject: {subject.replace(chr(13), ' ').replace(chr(10), ' ')}\r\n"
        "Date: Mon, 01 Jan 2024 00:00:00 +0000\r\n\r\n" + body
    ).encode("utf-8", "replace")
    r = parse_eml(raw[:cut])
    assert set(r) == _EML_KEYS


# ---------------------------------------------------------------------------
# round-4b: legacy OLE tier (operators/cfb.py) under the same contract
# ---------------------------------------------------------------------------

from open_semantic_etl_spark.operators.cfb import (  # noqa: E402
    CFB_MAGIC,
    build_doc,
    build_msg,
    build_ppt,
    build_tnef,
    build_xls,
    extract_cfb,
    extract_tnef,
)


@st.composite
def _mutated_ole(draw) -> bytes:
    """a valid legacy-OLE payload, truncated and/or byte-flipped."""
    kind = draw(
        st.sampled_from(
            ["doc", "xls", "ppt", "msg", "msg-rtf", "msg-html", "tnef", "tnef-rtf"]
        )
    )
    text = draw(st.lists(st.text(max_size=20), min_size=1, max_size=4))
    if kind == "doc":
        data = build_doc(text, title="t", author="a")
    elif kind == "xls":
        data = build_xls([text], title="t", author="a")
    elif kind == "ppt":
        data = build_ppt(text, title="t", author="a")
    elif kind == "msg-rtf":
        data = build_msg(text[0], "s@example.org", "\n".join(text), body_format="rtf")
    elif kind == "msg-html":
        data = build_msg(text[0], "s@example.org", "\n".join(text), body_format="html")
    elif kind == "tnef":
        data = build_tnef(text[0], "s@example.org", "\n".join(text))
    elif kind == "tnef-rtf":
        data = build_tnef(text[0], "s@example.org", "\n".join(text), body_format="rtf")
    else:
        data = build_msg(text[0], "s@example.org", "\n".join(text))
    cut = draw(st.integers(min_value=0, max_value=len(data)))
    data = data[:cut] if draw(st.booleans()) else data
    if data and draw(st.booleans()):
        pos = draw(st.integers(min_value=0, max_value=len(data) - 1))
        flip = draw(st.integers(min_value=1, max_value=255))
        data = data[:pos] + bytes([data[pos] ^ flip]) + data[pos + 1:]
    return data


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=512))
def test_cfb_total_on_random_bytes(data):
    _check_office_shape(extract_cfb(data))
    _check_office_shape(extract_cfb(CFB_MAGIC + data))
    _check_office_shape(extract_tnef(data))
    _check_office_shape(extract_tnef(b"\x78\x9f\x3e\x22" + data))


@settings(max_examples=150, deadline=None)
@given(_mutated_ole())
def test_cfb_total_on_mutated_documents(data):
    _check_office_shape(extract_cfb(data))
    _check_office_shape(extract_tnef(data))


# --- pdfio totality (round-4e additions: inline images, XMP, WinAnsi,
# text-string metadata all ride the same never-raise contract) ------------

from open_semantic_etl_spark.operators.pdfio import build_pdf, parse_pdf, pdf_images


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_parse_pdf_total_on_random_bytes(data):
    r = parse_pdf(b"%PDF-" + data)
    assert isinstance(r, dict) and "ok" in r and "err" in r
    assert isinstance(pdf_images(b"%PDF-" + data), list)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=6),
    st.data(),
)
def test_parse_pdf_total_on_mutated_documents(variant, payload):
    base = build_pdf(
        ["page one ÄÖÜ", "page two"],
        title="T (x)",
        author="A",
        images=[[b"img"], []],
        modern=(variant % 3 == 0),
        type0=(variant % 5 == 0),
        encrypt=("rc4-128" if variant == 4 else "aes-128" if variant == 5 else None),
    )
    mode = payload.draw(st.sampled_from(["truncate", "flip", "splice"]))
    if mode == "truncate":
        cut = payload.draw(st.integers(min_value=0, max_value=len(base)))
        data = base[:cut]
    elif mode == "flip":
        pos = payload.draw(st.integers(min_value=0, max_value=len(base) - 1))
        b = payload.draw(st.integers(min_value=0, max_value=255))
        data = base[:pos] + bytes([b]) + base[pos + 1:]
    else:
        ins = payload.draw(st.binary(min_size=1, max_size=32))
        pos = payload.draw(st.integers(min_value=0, max_value=len(base)))
        data = base[:pos] + ins + base[pos:]
    r = parse_pdf(data)
    assert isinstance(r, dict) and "ok" in r and "err" in r
    assert isinstance(pdf_images(data), list)
