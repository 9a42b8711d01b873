"""Office-document extraction (DOCX/XLSX/PPTX/ODT) + plain-text
routing + RFC-822 e-mail parsing.

Reference bar: the Tika tier (enhance_extract_text_tika_server.py:
33-262) extracts content/title/author from any office format and
message/rfc822; here the native zip+XML tier (operators/office.py) and
the stdlib-email tier (operators/eml.py) replace it in-engine.
"""

from __future__ import annotations

import os

from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.operators.office import (
    build_docx,
    build_odt,
    build_xlsx,
    extract_office,
    sniff_office,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_docx_committed_fixture_golden():
    """hand-crafted fixture (nonstandard `m:` prefix, tabs, breaks, a
    table, entities) pins the full docx walk byte-for-byte."""
    data = open(os.path.join(FIXTURES, "sample.docx"), "rb").read()
    r = extract_office(data)
    assert r is not None and r["ok"], r
    assert r["content_type"].endswith("wordprocessingml.document")
    assert r["title"] == "Fixture Title"
    assert r["author"] == "Fixture Author"
    assert r["n_blocks"] == 5  # 3 body paragraphs + 2 table-cell ones
    assert r["content"] == (
        "Heading one\n"
        "alpha beta\tgamma\ndelta\n"
        "cell A1\ncell B1\n"
        "fünf & sechs"
    )


def test_docx_builder_roundtrip_and_html_routing():
    paras = ["First paragraph.", "Zweiter Absatz mit Grüßen.", "", "third"]
    data = build_docx(paras, title="T1", author="A1")
    # direct extraction: empty paragraphs drop from content, count in n_blocks
    r = extract_office(data)
    assert r["content"] == "First paragraph.\nZweiter Absatz mit Grüßen.\nthird"
    assert (r["title"], r["author"], r["n_blocks"]) == ("T1", "A1", 4)
    # routed through the generic extractor (the PK sniff hands off)
    h = extract_html(data)
    assert h["content_type"].endswith("wordprocessingml.document")
    assert h["content"] == r["content"] and h["title"] == "T1"
    assert h["ok"] and h["err"] is None


def test_xlsx_rows_tabs_and_shared_strings():
    rows = [["name", "qty", "note"], ["bolt M3", "17", "a&b <c>"], ["nut", "9", ""]]
    data = build_xlsx(rows, title="Sheet T", author="Sheet A")
    r = extract_office(data)
    assert r["ok"] and r["content_type"].endswith("spreadsheetml.sheet")
    assert r["content"] == "name\tqty\tnote\nbolt M3\t17\ta&b <c>\nnut\t9\t"
    assert r["title"] == "Sheet T" and r["n_blocks"] == 3


def test_odt_paragraphs_and_meta():
    data = build_odt(["Para eins.", "Para zwei & drei."], title="OT", author="OA")
    assert sniff_office(data) == "application/vnd.oasis.opendocument.text"
    r = extract_office(data)
    assert r["ok"] and r["content"] == "Para eins.\nPara zwei & drei."
    assert (r["title"], r["author"]) == ("OT", "OA")
    h = extract_html(data)
    assert h["content_type"] == "application/vnd.oasis.opendocument.text"
    assert h["content"] == r["content"]


def test_odt_whitespace_elements():
    """text:s / text:tab / text:line-break expand per ODF 1.2; nested
    spans keep document order."""
    import io
    import zipfile

    content = (
        '<?xml version="1.0"?>'
        '<o:document-content xmlns:o="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:t="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<o:body><o:text>"
        '<t:p>a<t:s t:c="3"/>b<t:tab/>c<t:line-break/>d<t:span>in<t:span>ner</t:span></t:span>tail</t:p>'
        "<t:h>Head</t:h>"
        "</o:text></o:body></o:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
        zf.writestr("content.xml", content)
    r = extract_office(buf.getvalue())
    assert r["ok"]
    assert r["content"] == "a   b\tc\ndinnertail\nHead"


def test_non_office_zip_keeps_container_type():
    """a plain zip (no marker part) must NOT become an office doc: the
    sniff stays application/zip and content stays empty so the payload
    flows to zip-explode."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", "hello")
    data = buf.getvalue()
    assert sniff_office(data) is None and extract_office(data) is None
    h = extract_html(data)
    assert h["content_type"] == "application/zip" and h["content"] == ""
    # corrupt zip bytes: also not office, never an exception
    assert extract_office(b"PK\x03\x04garbage") is None
    assert extract_html(b"PK\x03\x04garbage")["content_type"] == "application/zip"


def test_rtf_extraction():
    """RTF control-word scanner: text, \\par breaks, hex + unicode
    escapes, skipped destinations (fonttbl/info metadata/\\*-ignorable),
    \\uc fallback swallowing."""
    from open_semantic_etl_spark.operators.office import extract_rtf

    rtf = (
        rb"{\rtf1\ansi\deff0"
        rb"{\fonttbl{\f0 Times New Roman;}}"
        rb"{\info{\title My RTF Title}{\author Jane Doe}}"
        rb"{\*\generator Acme Writer 1.0;}"
        rb"\uc1"
        rb"First paragraph with Gr\'fc\'dfen.\par "
        rb"Unicode: \u8364? euro and \u27721?\u23383? han.\line "
        rb"Escapes: \{braces\} and back\\slash.\par"
        rb"}"
    )
    r = extract_rtf(rtf)
    assert r is not None and r["ok"], r
    assert r["title"] == "My RTF Title" and r["author"] == "Jane Doe"
    assert r["content"] == (
        "First paragraph with Grüßen.\n"
        "Unicode: € euro and 汉字 han.\n"
        "Escapes: {braces} and back\\slash."
    )
    assert "Times" not in r["content"] and "Acme" not in r["content"]
    # routed through the generic extractor
    h = extract_html(rtf)
    assert h["content_type"] == "application/rtf"
    assert h["content"] == r["content"] and h["title"] == "My RTF Title"
    # non-RTF → None; damaged RTF never raises
    assert extract_rtf(b"plain text") is None
    assert extract_rtf(rb"{\rtf1 unterminated")["ok"] is True


def test_rtf_with_binary_nuls_still_routes():
    """an RTF whose head carries NUL bytes (embedded \\binN picture
    data — legal RTF) must still extract: the `{\\rtf` prefix wins over
    the NUL-ratio octet-stream sniff in extract_html."""
    from open_semantic_etl_spark.operators.htmlx import extract_html

    blob = b"{\\rtf1\\ansi {\\*\\unknowndest \x00\x01\x02\x00} Visible words here.}"
    r = extract_html(blob)
    assert r["content_type"] == "application/rtf"
    assert r["content"] == "Visible words here."


def test_rtf_bin_raw_bytes_cannot_desync_groups():
    """\\binN is followed by N RAW bytes; unbalanced braces inside that
    run must not corrupt the group stack (RTF 1.9 §'\\bin')."""
    from open_semantic_etl_spark.operators.office import extract_rtf

    # 4 raw bytes containing } } — naive tokenizing would close the
    # pict group AND the root group, dropping everything after
    blob = b"{\\rtf1 {\\pict\\bin4 }}\x00{ after} visible end}"
    r = extract_rtf(blob)
    assert r["ok"] is True
    assert "visible end" in r["content"], repr(r["content"])
    assert "\x00" not in r["content"]
    # huge hostile N caps at end of data, never raises
    assert extract_rtf(b"{\\rtf1 a{\\pict\\bin999999999 xx}b}")["ok"] is True


def test_rtf_surrogates_never_escape():
    """\\uN with surrogate code points: pairs fuse to the astral char
    (how writers encode emoji), lone surrogates become U+FFFD — the
    result string must always be utf-8/Arrow-serializable (a lone
    surrogate would fail the WHOLE Arrow batch, outside the per-row
    error contract)."""
    from open_semantic_etl_spark.operators.office import extract_rtf

    # 😀 U+1F600 = D83D DE00 = signed-16 -10179 -8704
    pair = extract_rtf(rb"{\rtf1 a\u-10179?\u-8704?b}")
    assert pair["content"] == "a😀b", repr(pair["content"])
    lone = extract_rtf(rb"{\rtf1 x\u55296?y {\info{\title t\u55296?t}}}")
    assert lone["ok"] and lone["content"] == "x�y"
    assert lone["title"] == "t�t"
    lone["content"].encode("utf-8")  # must not raise
    import pyarrow as pa

    pa.array([lone["content"], pair["content"]])  # Arrow-safe


def _mk_eml(
    body_b64: str = "TWFpbCBib2R5Lg==",  # "Mail body."
    with_html: bool = True,
) -> bytes:
    parts = [
        'From: "User One" <user1@example.org>\r\n'
        "To: team@example.org, \"Rcpt X\" <rcpt@example.net>\r\n"
        "Cc: cc@example.org\r\n"
        "Subject: =?utf-8?q?Bericht_Nr_7?=\r\n"
        "Date: Fri, 01 Mar 2024 08:30:05 +0100\r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/alternative; boundary="bnd1"\r\n\r\n'
        "--bnd1\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{body_b64}\r\n"
    ]
    if with_html:
        parts.append(
            "--bnd1\r\n"
            "Content-Type: text/html; charset=utf-8\r\n\r\n"
            "<html><body><p>HTML variant of the body, long enough to keep.</p></body></html>\r\n"
        )
    parts.append("--bnd1--\r\n")
    return "".join(parts).encode()


def test_eml_multipart_base64_headers():
    from open_semantic_etl_spark.operators.eml import parse_eml

    import base64

    body = "Mail body eins.\nGrüße, User"
    r = parse_eml(_mk_eml(base64.b64encode(body.encode()).decode()))
    assert r["ok"], r["err"]
    assert r["message_from_ss"] == ["user1@example.org"]
    assert r["message_to_ss"] == [
        "team@example.org", "rcpt@example.net", "cc@example.org",
    ]
    assert r["subject_txt"] == "Bericht Nr 7"  # RFC 2047 decoded
    assert r["message_dt"] == "2024-03-01T07:30:05Z"  # +0100 → UTC
    assert r["content_txt"] == body  # text/plain wins over text/html


def test_eml_quoted_printable_and_html_fallback():
    from open_semantic_etl_spark.operators.eml import parse_eml

    qp = (
        b"From: s@example.org\r\n"
        b"To: d@example.org\r\n"
        b"Subject: Sent 3\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n"
        b"Content-Transfer-Encoding: quoted-printable\r\n\r\n"
        b"Gr=C3=BC=C3=9Fe 3\r\n"
    )
    r = parse_eml(qp)
    assert r["content_txt"] == "Grüße 3"
    # html-only message: body comes through the HTML extractor
    html_only = (
        b"From: h@example.org\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n\r\n"
        b"<html><body><nav>chrome</nav><p>The actual paragraph content, "
        b"long enough to clear the block minimum.</p></body></html>\r\n"
    )
    r2 = parse_eml(html_only)
    assert r2["content_txt"] == (
        "The actual paragraph content, long enough to clear the block minimum."
    )
    # attachment-disposition text parts are skipped
    att = (
        b"From: a@example.org\r\n"
        b'Content-Type: multipart/mixed; boundary="bb"\r\n\r\n'
        b"--bb\r\n"
        b"Content-Type: text/plain\r\n"
        b'Content-Disposition: attachment; filename="x.txt"\r\n\r\n'
        b"attachment text\r\n"
        b"--bb\r\n"
        b"Content-Type: text/plain\r\n\r\n"
        b"real body\r\n"
        b"--bb--\r\n"
    )
    assert parse_eml(att)["content_txt"] == "real body"
    # garbage never raises
    assert parse_eml(b"\xff\x00 not a mail")["ok"] in (True, False)


def test_eml_bogus_charset_recovers_body():
    """real-world mail declares unknown charsets (x-user-defined,
    ansi_x3.110-1983, …) constantly; the body must still extract via
    the cp1252 fallback instead of failing the document (Tika's
    OfficeParser recovers these the same way)."""
    from open_semantic_etl_spark.operators.eml import parse_eml

    raw = (
        b"From: s@example.org\r\n"
        b"Subject: odd charset\r\n"
        b"Content-Type: text/plain; charset=x-bogus\r\n\r\n"
        b"caf\xe9 body survives\r\n"
    )
    r = parse_eml(raw)
    assert r["ok"] is True and r["err"] is None
    assert r["content_txt"] == "caf\xe9 body survives"
    assert r["message_from_ss"] == ["s@example.org"]
    r["content_txt"].encode("utf-8")  # Arrow-safe


def test_with_eml_gate(spark):
    """gated rows skip the parser (null fields); .eml rows parse."""
    from pyspark.sql import functions as F

    from open_semantic_etl_spark.operators.eml import with_eml

    rows = [
        ("m/1.eml", _mk_eml()),
        ("m/2-att.txt", b"just an attachment"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = with_eml(df, gate=F.col("url").endswith(".eml")).orderBy("url")
    got = out.collect()
    assert got[0]["message_from_ss"] == ["user1@example.org"]
    assert got[0]["body_txt"] == "Mail body."
    assert got[1]["message_from_ss"] is None and got[1]["body_txt"] is None


def test_plain_text_payload_contract():
    """tag-free bytes: whole body = ONE block (n_blocks == 1), content
    type labeled text/plain; anything tagged stays text/html (VERDICT
    r3 item 8 — pinned so it cannot silently regress)."""
    txt = (
        "Roses are red, the build is green.\n\n"
        "Second paragraph with enough characters to clear the minimum."
    )
    r = extract_html(txt.encode())
    assert r["content_type"] == "text/plain"
    assert r["n_blocks"] == 1  # the whole body is one block
    assert r["content"] == " ".join(txt.split())
    # markdown is tag-free too
    md = "# Title\n\n* bullet one with plenty of text\n* bullet two also long"
    assert extract_html(md.encode())["content_type"] == "text/plain"
    # a single tag flips it back to html
    assert extract_html(b"<p>" + txt.encode())["content_type"] == "text/html"
    # BOM'd plain text keeps its encoding and the plain label
    bom = b"\xef\xbb\xbf" + txt.encode()
    rb = extract_html(bom)
    assert rb["content_type"] == "text/plain" and rb["encoding"] == "utf-8-sig"


def test_epub_spine_order_and_opf_metadata():
    """EPUB (OCF/OPF): chapters concatenate in SPINE order (not zip
    order), dc:title/dc:creator come from the OPF, and the PK sniff
    routes it through extract_html like every other office zip."""
    from open_semantic_etl_spark.operators.office import build_epub

    data = build_epub(
        ["Erstes Kapitel mit ausreichend langem Inhalt.",
         "Second chapter, also long enough to keep."],
        title="Bookworm", author="E. Writer",
    )
    assert sniff_office(data) == "application/epub+zip"
    r = extract_office(data)
    assert r["ok"] and r["err"] is None
    assert r["title"] == "Bookworm" and r["author"] == "E. Writer"
    assert r["content"] == (
        "Erstes Kapitel mit ausreichend langem Inhalt.\n"
        "Second chapter, also long enough to keep."
    )
    assert r["n_blocks"] == 2
    h = extract_html(data)
    assert h["content_type"] == "application/epub+zip"
    assert h["content"] == r["content"] and h["title"] == "Bookworm"

    # spine order wins over manifest/zip order: build a package whose
    # spine reverses the chapter ids
    import io
    import zipfile

    buf = io.BytesIO()
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<dc:title>Rev</dc:title></metadata>"
        '<manifest><item id="a" href="a.xhtml" media-type="application/xhtml+xml"/>'
        '<item id="b" href="b.xhtml" media-type="application/xhtml+xml"/></manifest>'
        '<spine><itemref idref="b"/><itemref idref="a"/></spine></package>'
    )
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr(
            "META-INF/container.xml",
            '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="content.opf"/></rootfiles></container>',
        )
        zf.writestr("content.opf", opf)
        zf.writestr("a.xhtml", "<html><body><p>alpha text comes second</p></body></html>")
        zf.writestr("b.xhtml", "<html><body><p>bravo text comes first</p></body></html>")
    rr = extract_office(buf.getvalue())
    assert rr["content"] == "bravo text comes first\nalpha text comes second"


def test_vobject_ics_vcf_labeling_and_unfold():
    """iCalendar/vCard: content-type labels, RFC 5545 line unfolding,
    SUMMARY/FN as title, body preserved as one block."""
    ics = (
        b"BEGIN:VCALENDAR\r\nVERSION:2.0\r\nBEGIN:VEVENT\r\n"
        b"SUMMARY;LANGUAGE=de:Planungstreffen im\r\n  Haus B\r\n"
        b"DESCRIPTION:Raum 4\\, links\r\nEND:VEVENT\r\nEND:VCALENDAR"
    )
    r = extract_html(ics)
    assert r["content_type"] == "text/calendar"
    # unfold: CRLF + one WSP removed, rest of the fold kept verbatim
    assert r["title"] == "Planungstreffen im Haus B"
    assert "SUMMARY;LANGUAGE=de:Planungstreffen im Haus B" in r["content"]
    assert r["n_blocks"] == 1 and r["ok"]

    vcf = b"BEGIN:VCARD\nVERSION:4.0\nFN:Erika Mustermann\nEND:VCARD"
    v = extract_html(vcf)
    assert v["content_type"] == "text/vcard" and v["title"] == "Erika Mustermann"
    # non-vobject text is untouched
    assert extract_html(b"BEGINNING of a story")["content_type"] == "text/plain"


def test_transparent_decompression_gz_bz2_xz():
    """single-member gzip/bzip2/xz payloads re-dispatch to the inner
    document (Tika CompressorParser behavior): x.html.gz indexes as
    html, a gz'd docx as the docx; corrupt streams and >2 nesting keep
    the container label; WARC members stay containers for explode."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma

    html = (
        b"<html><head><title>T</title></head><body>"
        b"<p>Inner page body with plenty of text to keep.</p></body></html>"
    )
    for blob in (_gzip.compress(html), _bz2.compress(html), _lzma.compress(html)):
        r = extract_html(blob)
        assert r["content_type"] == "text/html" and r["title"] == "T"
        assert r["content"].startswith("Inner page body")
    # inner office document routes on through the office tier
    g = extract_html(_gzip.compress(build_docx(["Absatz im gz."], title="GZ")))
    assert g["content_type"].endswith("wordprocessingml.document")
    assert g["content"] == "Absatz im gz."
    # depth guard: triple nesting stays a labeled container
    deep = _gzip.compress(_gzip.compress(_gzip.compress(html)))
    assert extract_html(deep)["content_type"] == "application/gzip"
    # corrupt member: label, no exception
    c = extract_html(b"\x1f\x8b\x08CORRUPT")
    assert c["content_type"] == "application/gzip" and c["content"] == ""
    # gz'd WARC keeps the container type (warc-explode owns it)
    warc = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"
    assert extract_html(_gzip.compress(warc))["content_type"] == "application/gzip"


def test_generic_xml_label():
    """bare XML (no html/xhtml root) is labeled application/xml; the
    xhtml variant and html-after-prolog keep their labels."""
    xml = b'<?xml version="1.0"?><rss><channel><title>F</title></channel></rss>'
    assert extract_html(xml)["content_type"] == "application/xml"
    xh = (b'<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml">'
          b"<body><p>x</p></body></html>")
    assert extract_html(xh)["content_type"] == "application/xhtml+xml"
    ht = b'<?xml version="1.0"?><html><body><p>y</p></body></html>'
    assert extract_html(ht)["content_type"] == "text/html"


def test_office_zip_bomb_capped(monkeypatch):
    """an office part whose declared decompressed size exceeds the cap
    fails the row with ok=False/err instead of allocating it."""
    from open_semantic_etl_spark.operators import office

    monkeypatch.setattr(office, "_MAX_PART_BYTES", 1024)
    doc = office.build_docx(["x" * 5000], title="t", author="a")
    res = office.extract_office(doc)
    assert res is not None and res["ok"] is False
    assert "size cap" in res["err"]
    assert res["content"] == ""


def test_docx_footnotes_and_endnotes_extracted():
    """footnotes/endnotes are document text (the reference's Tika tier
    emits them); separator pseudo-notes carry no runs and vanish via
    the empty-line filter. Headers/footers stay excluded (running page
    furniture = boilerplate)."""
    import io
    import zipfile

    from open_semantic_etl_spark.operators import office

    base = office.build_docx(["Body para"], title="t", author="a")
    buf = io.BytesIO(base)
    fn = (
        '<?xml version="1.0"?>'
        '<w:footnotes xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        '<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:separator/></w:r></w:p></w:footnote>'
        '<w:footnote w:id="1"><w:p><w:r><w:t>A footnote.</w:t></w:r></w:p></w:footnote>'
        "</w:footnotes>"
    )
    en = (
        '<?xml version="1.0"?>'
        '<w:endnotes xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        '<w:endnote w:id="1"><w:p><w:r><w:t>An endnote.</w:t></w:r></w:p></w:endnote>'
        "</w:endnotes>"
    )
    hdr = (
        '<?xml version="1.0"?>'
        '<w:hdr xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:p><w:r><w:t>Page header furniture</w:t></w:r></w:p></w:hdr>"
    )
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(base)) as zin, zipfile.ZipFile(out, "w") as zf:
        for info in zin.infolist():
            zf.writestr(info, zin.read(info))
        zf.writestr("word/footnotes.xml", fn)
        zf.writestr("word/endnotes.xml", en)
        zf.writestr("word/header1.xml", hdr)
    res = office.extract_office(out.getvalue())
    assert res["ok"]
    assert res["content"] == "Body para\nA footnote.\nAn endnote."
    assert "furniture" not in res["content"]


def test_xlsx_bool_and_error_cells():
    """t=\"b\" cells display TRUE/FALSE; t=\"e\" cells carry the error
    display text in <v> and pass through."""
    import io
    import zipfile

    from open_semantic_etl_spark.operators.office import extract_office

    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="b"><v>1</v></c><c r="B1" t="b"><v>0</v></c>'
        '<c r="C1" t="e"><v>#DIV/0!</v></c><c r="D1"><v>42</v></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", "<workbook/>")
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    res = extract_office(buf.getvalue())
    assert res["ok"] and res["content"] == "TRUE\tFALSE\t#DIV/0!\t42"


def test_eml_empty_plain_falls_through_to_html():
    """a blank text/plain placeholder next to a real HTML body (a shape
    many mailers emit) must NOT short-circuit the HTML fallback."""
    from open_semantic_etl_spark.operators.eml import parse_eml

    raw = (
        "From: a@example.org\r\n"
        "To: b@example.org\r\n"
        "Subject: s\r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/alternative; boundary="bnd9"\r\n\r\n'
        "--bnd9\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n\r\n"
        "\r\n"
        "--bnd9\r\n"
        "Content-Type: text/html; charset=utf-8\r\n\r\n"
        "<html><body><p>The real body lives in the HTML part here.</p>"
        "</body></html>\r\n"
        "--bnd9--\r\n"
    ).encode()
    r = parse_eml(raw)
    assert r["ok"]
    assert "real body lives in the HTML part" in r["content_txt"]


def test_docx_text_box_paragraph_not_duplicated():
    """nested w:p (text box: w:pict > w:txbxContent > w:p) gets its own
    line and must not ALSO ride the enclosing paragraph's run walk."""
    import io
    import zipfile

    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body>"
        "<w:p><w:r><w:t xml:space=\"preserve\">Outer </w:t></w:r>"
        "<w:r><w:pict><w:txbxContent>"
        "<w:p><w:r><w:t>BoxText</w:t></w:r></w:p>"
        "</w:txbxContent></w:pict></w:r></w:p>"
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", doc)
    r = extract_office(buf.getvalue())
    assert r["content"] == "Outer\nBoxText" or r["content"] == "Outer \nBoxText"
    assert r["content"].count("BoxText") == 1


def test_docx_tab_stop_definitions_are_not_tabs():
    """w:pPr/w:tabs/w:tab defines tab STOPS (layout), not characters."""
    import io
    import zipfile

    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body><w:p>"
        '<w:pPr><w:tabs><w:tab w:val="left" w:pos="720"/></w:tabs></w:pPr>'
        "<w:r><w:t>A</w:t><w:tab/><w:t>B</w:t></w:r>"
        "</w:p></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", doc)
    assert extract_office(buf.getvalue())["content"] == "A\tB"


def test_rtf_nbsp_routes_to_info_destination():
    r"""\~ inside \info{\title ...} belongs to the title, not the body."""
    from open_semantic_etl_spark.operators.office import extract_rtf

    r = extract_rtf(rb"{\rtf1{\info{\title A\~B}}Body text here.}")
    assert r["title"] == "A B"
    assert r["content"] == "Body text here."


def test_xlsx_negative_shared_string_index_is_empty():
    """a crafted <c t="s"><v>-1</v></c> must not wrap to the LAST
    shared string via Python negative indexing."""
    import io
    import zipfile

    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row><c t="s"><v>-1</v></c>'
        '<c t="s"><v>0</v></c></row></sheetData></worksheet>'
    )
    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<si><t>good</t></si></sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", "<workbook/>")
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    assert extract_office(buf.getvalue())["content"] == "\tgood"


def test_truncated_gzip_member_keeps_container_label():
    """a .html.gz cut off mid-stream decodes partially without error in
    zlib — the extractor must detect the missing end-of-stream (obj.eof)
    and keep the container label instead of indexing half a document."""
    import gzip

    inner = b"<html><body><p>" + b"sentence here. " * 200 + b"</p></body></html>"
    gz = gzip.compress(inner)
    whole = extract_html(gz)
    assert whole["content"]  # sanity: complete member extracts
    truncated = extract_html(gz[: len(gz) // 2])
    assert truncated["content"] == ""
    assert truncated["content_type"] == "application/gzip"


# ---------------------------------------------------------------------------
# XPS / OpenXPS (ECMA-388) — office.py _xps_extract; reference parity:
# Tika's XPS parser on the AutoDetectParser path
# ---------------------------------------------------------------------------


def test_xps_pages_in_fdseq_order():
    from open_semantic_etl_spark.operators.office import build_xps, extract_office

    x = build_xps(
        [
            [("50", "Hello "), ("50", "world."), ("80", "Line two.")],
            [("40", "Page two text.")],
        ],
        title="XT",
        author="Au",
    )
    r = extract_office(x)
    assert r["content_type"] == "application/vnd.ms-xpsdocument"
    assert r["content"] == "Hello world.\nLine two.\nPage two text."
    assert r["title"] == "XT" and r["author"] == "Au" and r["n_blocks"] == 3
    # rides the generic PK-sniff routing too
    h = extract_html(x)
    assert h["content_type"] == "application/vnd.ms-xpsdocument"
    assert h["content"] == r["content"] and h["title"] == "XT"


def test_oxps_namespace_and_literal_escape():
    from open_semantic_etl_spark.operators.office import build_xps, extract_office

    r = extract_office(build_xps([[("50", "{}{escaped")]], oxps=True))
    assert r["content_type"] == "application/oxps"
    assert r["content"] == "{escaped"  # {} prefix is the spec escape


def test_xps_page_order_not_directory_order():
    """pages walk fdseq→fdoc→PageContent order — a zip whose name sort
    disagrees (page 10 vs 2) must still read document order."""
    import io
    import zipfile

    ns = "http://schemas.microsoft.com/xps/2005/06"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "_rels/.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="r1" Type="{ns}/fixedrepresentation" Target="/d.fdseq"/>'
            "</Relationships>",
        )
        zf.writestr(
            "d.fdseq",
            f'<FixedDocumentSequence xmlns="{ns}">'
            '<DocumentReference Source="doc/f.fdoc"/></FixedDocumentSequence>',
        )
        # relative Source paths resolve against the fdoc part
        zf.writestr(
            "doc/f.fdoc",
            f'<FixedDocument xmlns="{ns}">'
            '<PageContent Source="p/2.fpage"/><PageContent Source="p/10.fpage"/>'
            "</FixedDocument>",
        )
        zf.writestr(
            "doc/p/10.fpage",
            f'<FixedPage xmlns="{ns}"><Glyphs OriginY="1" UnicodeString="second"/></FixedPage>',
        )
        zf.writestr(
            "doc/p/2.fpage",
            f'<FixedPage xmlns="{ns}"><Glyphs OriginY="1" UnicodeString="first"/></FixedPage>',
        )
    from open_semantic_etl_spark.operators.office import extract_office

    r = extract_office(buf.getvalue())
    assert r["content"] == "first\nsecond"


# ---------------------------------------------------------------------------
# Apple plists — office.py extract_plist; reference parity: Tika
# PListParser (binary + XML wire forms)
# ---------------------------------------------------------------------------


def test_binary_plist_extracts_and_routes():
    import plistlib

    d = {"Title": "My Prefs", "nested": {"a": 1, "b": [True, "x"]}, "blob": b"1234"}
    bp = plistlib.dumps(d, fmt=plistlib.FMT_BINARY)
    r = extract_html(bp)
    assert r["content_type"] == "application/x-plist"
    assert r["title"] == "My Prefs"
    assert "nested.b[0]: true" in r["content"]
    assert "blob: <4 bytes>" in r["content"]
    # XML wire form renders identically (routed off the XML label path)
    xr = extract_html(plistlib.dumps(d))
    assert xr["content_type"] == "application/x-plist"
    assert xr["content"] == r["content"]


def test_corrupt_bplist_fails_loud_not_wrong():
    r = extract_html(b"bplist00" + b"\x00" * 16)
    assert r["content_type"] == "application/x-plist"
    assert r["ok"] is False and r["content"] == ""


def test_non_plist_xml_label_unchanged():
    xml = b'<?xml version="1.0"?><rss><channel><title>F</title></channel></rss>'
    assert extract_html(xml)["content_type"] == "application/xml"


def test_plist_expansion_bomb_capped():
    """binary plists share objects by reference; a tiny crafted file
    can expand exponentially — the render walk caps BEFORE growing
    (repo-wide bomb-guard invariant, r4 review)."""
    import plistlib

    big = {"k": [[["x"] * 50] * 50] * 50}  # 125k leaves via real nesting
    r = extract_html(plistlib.dumps(big, fmt=plistlib.FMT_BINARY))
    assert r["ok"] is False and "over" in (r["err"] or "")
    assert r["content"] == ""


def test_doctype_first_xml_plist_routes():
    """an XML plist starting with <!DOCTYPE plist (no <?xml prolog)
    must still take the structured route (r4 review: the disjunct was
    dead under the <?xml-only branch, and plistlib's own sniffer
    needs the explicit FMT_XML hint)."""
    xp = (
        b'<!DOCTYPE plist PUBLIC "-//Apple//DTD PLIST 1.0//EN" "x">'
        b'<plist version="1.0"><dict><key>Title</key>'
        b"<string>DT</string></dict></plist>"
    )
    r = extract_html(xp)
    assert r["content_type"] == "application/x-plist" and r["title"] == "DT"


def test_mhtml_and_standalone_eml_route():
    """a standalone .eml and a saved-as-MHTML page (.mht =
    multipart/related message whose text/html part is the page) route
    through the mail parser: body text, Subject → title, Date →
    meta_ts (Tika RFC822Parser parity). The gate needs a header-shaped
    first line plus MIME-Version: AND Content-Type: at line starts, so
    prose mentioning those headers stays text/plain."""
    mht = (
        b"From: <Saved by Browser>\r\n"
        b"Subject: Page Title Here\r\n"
        b"Date: Fri, 01 Mar 2024 08:30:00 +0000\r\n"
        b"MIME-Version: 1.0\r\n"
        b'Content-Type: multipart/related; boundary="b1"; type="text/html"\r\n\r\n'
        b"--b1\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        b"Content-Transfer-Encoding: quoted-printable\r\n"
        b"Content-Location: https://example.org/page\r\n\r\n"
        b"<html><head><title>Page Title Here</title></head><body>"
        b"<p>Saved page bo=\r\ndy text.</p></body></html>\r\n"
        b"--b1\r\n"
        b"Content-Type: image/png\r\n"
        b"Content-Transfer-Encoding: base64\r\n\r\n"
        b"iVBORw0KGgo=\r\n"
        b"--b1--\r\n"
    )
    r = extract_html(mht)
    assert r["content_type"] == "message/rfc822"
    assert r["title"] == "Page Title Here"
    assert r["content"] == "Saved page body text."
    # meta_ts is a real datetime (TimestampType Arrow contract)
    assert r["meta_ts"].strftime("%Y-%m-%dT%H:%M:%SZ") == "2024-03-01T08:30:00Z"
    eml = (
        b"From: a@example.org\r\nTo: b@example.org\r\nSubject: Hi\r\n"
        b"MIME-Version: 1.0\r\nContent-Type: text/plain\r\n\r\nBody line.\r\n"
    )
    r2 = extract_html(eml)
    assert r2["content_type"] == "message/rfc822" and r2["content"] == "Body line."
    # prose mentioning the headers mid-text stays plain text
    prose = b"Note to self\nMIME-Version: discussions.\nContent-Type: header.\n"
    assert extract_html(prose)["content_type"] == "text/plain"
    # header-shaped first line without the MIME pair stays plain text
    assert extract_html(b"Remember: buy milk\nmore\n")["content_type"] == "text/plain"
    # vobject unaffected (BEGIN:VCALENDAR has no space after the colon)
    vcal = b"BEGIN:VCALENDAR\nVERSION:2.0\nBEGIN:VEVENT\nSUMMARY:X\nEND:VEVENT\nEND:VCALENDAR"
    assert extract_html(vcal)["content_type"] == "text/calendar"


# ---------------------------------------------------------------------------
# SVG + FictionBook2 raw-XML documents (Tika SVGParser/FictionBookParser)
# ---------------------------------------------------------------------------


def test_svg_extraction_and_routing():
    from open_semantic_etl_spark.operators.htmlx import extract_html
    from open_semantic_etl_spark.operators.office import build_svg

    svg = build_svg(["Erste Zeile", "Zweite <Zeile>"], title="Vektor T")
    r = extract_html(svg)
    assert r["content_type"] == "image/svg+xml"
    assert r["content"] == "Erste Zeile\nZweite <Zeile>"
    assert r["title"] == "Vektor T" and r["ok"]

    # no <?xml prologue: the direct "<svg" route
    bare = svg.split(b"?>", 1)[1]
    r = extract_html(bare)
    assert r["content_type"] == "image/svg+xml"
    assert r["content"] == "Erste Zeile\nZweite <Zeile>"

    # tspan runs join into the parent <text> line
    r = extract_html(
        b'<svg xmlns="http://www.w3.org/2000/svg">'
        b"<text><tspan>a</tspan> <tspan>b</tspan></text></svg>"
    )
    assert r["content"] == "a b"


def test_svg_lookalikes_stay_off_the_route():
    from open_semantic_etl_spark.operators.htmlx import extract_html

    # inline SVG inside an HTML page: root is html, HTML path wins
    r = extract_html(b"<html><body><svg><text>x</text></svg>ok</body></html>")
    assert r["content_type"] == "text/html"

    # a root element merely STARTING with 'svg' is not SVG
    r = extract_html(b"<svgdata><text>x</text></svgdata>")
    assert r["content_type"] != "image/svg+xml"

    # malformed SVG: label kept, per-row error contract
    r = extract_html(b'<?xml version="1.0"?><svg xmlns="u"><text>x</svg>')
    assert r["content_type"] == "image/svg+xml"
    assert r["ok"] is False and r["err"]


def test_fb2_extraction_and_routing():
    from open_semantic_etl_spark.operators.htmlx import extract_html
    from open_semantic_etl_spark.operators.office import build_fb2, extract_fb2

    fb2 = build_fb2(["Absatz eins.", "Absatz zwei."], "Mein Buch", ("Lew", "Tolstoi"))
    r = extract_html(fb2)
    assert r["content_type"] == "application/x-fictionbook+xml"
    assert r["content"] == "Absatz eins.\nAbsatz zwei."
    assert r["title"] == "Mein Buch"

    # author string joins name parts; description <p> are NOT body text
    d = extract_fb2(fb2)
    assert d["author"] == "Lew Tolstoi"

    # annotation paragraphs inside <description> must not leak into content
    noisy = fb2.replace(
        b"</title-info>",
        b"<annotation><p>Klappentext.</p></annotation></title-info>",
    )
    d = extract_fb2(noisy)
    assert d["content"] == "Absatz eins.\nAbsatz zwei."


# ---------------------------------------------------------------------------
# AppleSingle / AppleDouble (RFC 1740 — Tika AppleSingleFileParser)
# ---------------------------------------------------------------------------


def _applesingle(entries, magic=b"\x00\x05\x16\x00"):
    import struct

    head = magic + struct.pack(">I", 0x00020000) + b"\x00" * 16
    head += struct.pack(">H", len(entries))
    off = 26 + 12 * len(entries)
    table = b""
    blob = b""
    for eid, payload in entries:
        table += struct.pack(">III", eid, off, len(payload))
        blob += payload
        off += len(payload)
    return head + table + blob


def test_applesingle_unwraps_data_fork():
    from open_semantic_etl_spark.operators.htmlx import extract_html

    html = b"<html><title>Inner Doc</title><body><p>Apple payload.</p></body></html>"
    data = _applesingle([(1, html), (3, b"report.html")])
    res = extract_html(data)
    assert res["ok"]
    assert res["title"] == "Inner Doc"
    assert "Apple payload." in res["content"]
    # untitled inner document falls back to the real-name entry
    data2 = _applesingle([(3, b"notes.txt"), (1, b"plain words only here")])
    res2 = extract_html(data2)
    assert res2["title"] == "notes.txt"
    assert "plain words only here" in res2["content"]


def test_appledouble_sidecar_keeps_container_label():
    from open_semantic_etl_spark.operators.htmlx import extract_html

    # AppleDouble: finder info + name, NO data fork
    data = _applesingle(
        [(9, b"\x00" * 32), (3, b"photo.jpg")], magic=b"\x00\x05\x16\x07"
    )
    res = extract_html(data)
    assert res["content_type"] == "application/applefile"
    assert res["title"] == "photo.jpg"
    assert not res["content"]


def test_applesingle_malformed_degrades():
    from open_semantic_etl_spark.operators.htmlx import (
        applesingle_fork,
        extract_html,
    )
    import pytest as _pytest
    import struct

    # entry table pointing past EOF
    bad = (b"\x00\x05\x16\x00" + struct.pack(">I", 0x00020000) + b"\x00" * 16
           + struct.pack(">H", 1) + struct.pack(">III", 1, 9999, 50))
    with _pytest.raises(ValueError):
        applesingle_fork(bad)
    res = extract_html(bad)  # total function: degrade, don't throw
    assert res["content_type"] == "application/applefile"
