"""Native Office-document text extraction: DOCX / XLSX / PPTX / ODT /
ODS / ODP — every one a ZIP of XML parts.

The reference reaches these formats through an HTTP hop to Apache Tika
(enhance_extract_text_tika_server.py:33-262: content → ``content_txt``,
title/author → ``title_txt``/``author_ss``); this module is the
from-scratch in-engine replacement, running stdlib ``zipfile`` +
``xml.etree`` inside the same Arrow-batched UDFs as the HTML/PDF tier.
Routing: ``extract_html`` (operators/htmlx.py) is the one function
that picks an extractor here — ``extract_office`` for a sniffed
``PK\\x03\\x04`` payload (non-office zips fall back to the plain
container content-type and the zip-explode operator), ``extract_plist``
for both plist forms, ``extract_rtf`` for the ``{\\rtf`` prefix and
``extract_svg``/``extract_fb2`` for those XML roots. Every extractor
returns the same office-result shape (content/title/author/
content_type/n_blocks/ok/err), which extract_html adopts whole; the
``office_extract`` query projects that result.

Format knowledge is the public ECMA-376 (OOXML) and OASIS ODF 1.2
specs:

  DOCX  word/document.xml        — ``w:p`` paragraphs; ``w:t`` runs,
        ``w:tab`` → TAB, ``w:br``/``w:cr`` → newline; one line per
        paragraph (table-cell paragraphs ride the same walk in
        document order). docProps/core.xml → dc:title / dc:creator.
  XLSX  xl/worksheets/sheet*.xml — rows → lines, cells joined by TAB;
        ``t="s"`` cells resolve through xl/sharedStrings.xml,
        ``t="inlineStr"`` through ``is/t``; sheets in workbook order.
  PPTX  ppt/slides/slideN.xml    — ``a:p`` paragraphs (N ascending).
  ODT   content.xml              — ``text:p``/``text:h`` lines with
        ``text:s``/``text:tab``/``text:line-break`` expansion;
        meta.xml → dc:title / meta:initial-creator.
  ODS   content.xml              — table rows → lines, cells by TAB.
  ODP   content.xml              — ``text:p`` lines per draw frame.

All parsers are namespace-agnostic (local-name matching): real-world
producers vary prefixes, and strict URIs buy nothing for text pull.
Every public function is total: parse failures return ok=False + err,
never an exception (per-row error column contract).
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

__all__ = [
    "sniff_office",
    "extract_office",
    "extract_plist",
    "build_docx",
    "build_xlsx",
    "build_odt",
    "build_epub",
    "build_xps",
    "OFFICE_MIMES",
]

#: OOXML marker part → mimetype (ECMA-376 package conventions)
_OOXML_MARKERS = (
    ("word/document.xml",
     "application/vnd.openxmlformats-officedocument.wordprocessingml.document"),
    ("xl/workbook.xml",
     "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"),
    ("ppt/presentation.xml",
     "application/vnd.openxmlformats-officedocument.presentationml.presentation"),
)

#: ODF mimetypes the extractor handles (the ``mimetype`` zip member is
#: the authoritative marker per ODF 1.2 §3.3)
_ODF_MIMES = frozenset(
    (
        "application/vnd.oasis.opendocument.text",
        "application/vnd.oasis.opendocument.spreadsheet",
        "application/vnd.oasis.opendocument.presentation",
    )
)

_EPUB_MIME = "application/epub+zip"
_XPS_MIME = "application/vnd.ms-xpsdocument"
_OXPS_MIME = "application/oxps"

OFFICE_MIMES = (
    frozenset(m for _, m in _OOXML_MARKERS)
    | _ODF_MIMES
    | {_EPUB_MIME, _XPS_MIME, _OXPS_MIME}
)


#: zip-bomb guard: zipfile never yields more than a member's declared
#: file_size, so a pre-read check bounds allocation (an OOM kill is not
#: catchable by the per-row error contract)
_MAX_PART_BYTES = 1 << 28   # 256 MB per XML part / chapter
_MAX_TOTAL_BYTES = 1 << 30  # 1 GB decompressed per document


def _zread(zf: zipfile.ZipFile, name: str) -> bytes:
    if zf.getinfo(name).file_size > _MAX_PART_BYTES:
        raise ValueError(f"zip member {name!r} over size cap")
    return zf.read(name)


def _local(tag: str) -> str:
    return tag.rpartition("}")[2]


def _attr(el: ET.Element, name: str) -> str | None:
    """attribute lookup by LOCAL name (ODF attributes are namespaced)."""
    if name in el.attrib:
        return el.attrib[name]
    for k, v in el.attrib.items():
        if _local(k) == name:
            return v
    return None


def sniff_office(data: bytes) -> str | None:
    """office mimetype of a zip payload, or None when it is not an
    office document (not a zip / no marker part)."""
    if data[:4] != b"PK\x03\x04":
        return None
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
            if "mimetype" in names:
                with zf.open("mimetype") as f:
                    mt = f.read(256).decode("ascii", "replace").strip()
                if mt in _ODF_MIMES or mt == _EPUB_MIME:
                    return mt
            for marker, mime in _OOXML_MARKERS:
                if marker in names:
                    return mime
            # mimetype-less EPUB (tolerated by readers): OCF container
            # descriptor + an OPF package is the structural marker
            if "META-INF/container.xml" in names and any(
                n.endswith(".opf") for n in names
            ):
                return _EPUB_MIME
            # XPS/OXPS: OPC package whose start part is a
            # FixedDocumentSequence (.fdseq) — ECMA-388 §9/§10
            if any(n.endswith(".fdseq") for n in names):
                return _XPS_MIME
    except Exception:  # noqa: BLE001 — damaged zip: not an office doc
        return None
    return None


def _parse_xml(blob: bytes) -> ET.Element | None:
    try:
        return ET.fromstring(blob)
    except ET.ParseError:
        return None


# --------------------------------------------------------------------------
# DOCX
# --------------------------------------------------------------------------


def _docx_paragraph(p: ET.Element) -> str:
    # manual stack walk, NOT p.iter(): a text box (w:pict/w:drawing >
    # w:txbxContent > w:p) nests whole paragraphs inside a run — those
    # get their own line from _docx_text's document-order walk, so
    # descending into them here would emit their text twice. w:pPr is
    # skipped too: its w:tabs/w:tab children define tab STOPS (layout
    # metadata), not tab characters.
    frags: list[str] = []
    stack = list(reversed(list(p)))
    while stack:
        el = stack.pop()
        name = _local(el.tag)
        if name in ("p", "pPr"):
            continue
        if name == "t" and el.text:
            frags.append(el.text)
        elif name == "tab":
            frags.append("\t")
        elif name in ("br", "cr"):
            frags.append("\n")
        else:
            stack.extend(reversed(list(el)))
    return "".join(frags)


def _docx_text(root: ET.Element) -> list[str]:
    # document-order paragraphs; table-cell w:p elements appear in the
    # same walk (one line per cell paragraph — the Tika flat-text shape)
    lines = []
    for el in root.iter():
        if _local(el.tag) == "p":
            lines.append(_docx_paragraph(el))
    return lines


def _core_props(blob: bytes) -> tuple[str | None, str | None]:
    """docProps/core.xml → (dc:title, dc:creator)."""
    root = _parse_xml(blob)
    if root is None:
        return None, None
    title = author = None
    for el in root.iter():
        name = _local(el.tag)
        if name == "title" and el.text and title is None:
            title = el.text.strip() or None
        elif name == "creator" and el.text and author is None:
            author = el.text.strip() or None
    return title, author


# --------------------------------------------------------------------------
# XLSX
# --------------------------------------------------------------------------

_SHEET_NUM_RE = re.compile(r"sheet(\d+)\.xml$")


def _shared_strings(blob: bytes) -> list[str]:
    root = _parse_xml(blob)
    if root is None:
        return []
    out = []
    for si in root:
        if _local(si.tag) != "si":
            continue
        out.append(
            "".join(t.text or "" for t in si.iter() if _local(t.tag) == "t")
        )
    return out


def _xlsx_sheet_lines(root: ET.Element, shared: list[str]) -> list[str]:
    lines = []
    for row in root.iter():
        if _local(row.tag) != "row":
            continue
        cells = []
        for c in row:
            if _local(c.tag) != "c":
                continue
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                cells.append(
                    "".join(t.text or "" for t in c.iter() if _local(t.tag) == "t")
                )
                continue
            v = next((el for el in c if _local(el.tag) == "v"), None)
            raw = (v.text or "") if v is not None else ""
            if ctype == "s":
                try:
                    idx = int(raw)
                    # a crafted negative index would wrap via Python
                    # negative indexing and show an unrelated string
                    cells.append(shared[idx] if idx >= 0 else "")
                except (ValueError, IndexError):
                    cells.append("")
            elif ctype == "b":
                # Excel (and Tika) display booleans as TRUE/FALSE, not 1/0
                cells.append("TRUE" if raw.strip() == "1" else "FALSE")
            else:  # n / str / e: the cached <v> text is the display text
                cells.append(raw)
        if cells:
            lines.append("\t".join(cells))
    return lines


def _xlsx_text(zf: zipfile.ZipFile, names: set[str]) -> list[str]:
    shared = (
        _shared_strings(_zread(zf, "xl/sharedStrings.xml"))
        if "xl/sharedStrings.xml" in names
        else []
    )
    sheets = sorted(
        (n for n in names if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")),
        key=lambda n: int(_SHEET_NUM_RE.search(n).group(1)) if _SHEET_NUM_RE.search(n) else 0,
    )
    lines: list[str] = []
    for sn in sheets:
        root = _parse_xml(_zread(zf, sn))
        if root is not None:
            lines.extend(_xlsx_sheet_lines(root, shared))
    return lines


# --------------------------------------------------------------------------
# PPTX
# --------------------------------------------------------------------------

_SLIDE_NUM_RE = re.compile(r"slide(\d+)\.xml$")


def _pptx_text(zf: zipfile.ZipFile, names: set[str]) -> list[str]:
    slides = sorted(
        (n for n in names if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
        key=lambda n: int(_SLIDE_NUM_RE.search(n).group(1)),
    )
    lines: list[str] = []
    for sn in slides:
        root = _parse_xml(_zread(zf, sn))
        if root is None:
            continue
        for el in root.iter():
            if _local(el.tag) == "p":
                txt = "".join(
                    t.text or "" for t in el.iter() if _local(t.tag) == "t"
                )
                lines.append(txt)
    return lines


# --------------------------------------------------------------------------
# ODF (text / spreadsheet / presentation)
# --------------------------------------------------------------------------


def _odf_paragraph(p: ET.Element) -> str:
    frags: list[str] = []

    def walk(el: ET.Element) -> None:
        name = _local(el.tag)
        if name == "s":
            frags.append(" " * int(_attr(el, "c") or 1))
        elif name == "tab":
            frags.append("\t")
        elif name == "line-break":
            frags.append("\n")
        if el.text and name not in ("s", "tab", "line-break"):
            frags.append(el.text)
        for child in el:
            walk(child)
            if child.tail:
                frags.append(child.tail)

    if p.text:
        frags.append(p.text)
    for child in p:
        walk(child)
        if child.tail:
            frags.append(child.tail)
    return "".join(frags)


def _odt_text(root: ET.Element) -> list[str]:
    lines = []
    for el in root.iter():
        if _local(el.tag) in ("p", "h"):
            lines.append(_odf_paragraph(el))
    return lines


def _ods_text(root: ET.Element) -> list[str]:
    lines = []
    for row in root.iter():
        if _local(row.tag) != "table-row":
            continue
        cells = []
        for cell in row:
            if _local(cell.tag) != "table-cell":
                continue
            cells.append(
                "\n".join(
                    _odf_paragraph(p) for p in cell.iter() if _local(p.tag) == "p"
                )
            )
        if cells:
            lines.append("\t".join(cells))
    return lines


def _odf_meta(blob: bytes) -> tuple[str | None, str | None]:
    """meta.xml → (dc:title, dc:creator | meta:initial-creator)."""
    root = _parse_xml(blob)
    if root is None:
        return None, None
    title = author = None
    for el in root.iter():
        name = _local(el.tag)
        if name == "title" and el.text and title is None:
            title = el.text.strip() or None
        elif name in ("creator", "initial-creator") and el.text and author is None:
            author = el.text.strip() or None
    return title, author


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------
# XPS / OpenXPS (ECMA-388): OPC zip whose pages are FixedPage XAML;
# text lives in <Glyphs UnicodeString="..."> runs.  Reference covers
# these via Tika's XPS parser on the same AutoDetectParser path
# (enhance_extract_text_tika_server.py:33-262).
# --------------------------------------------------------------------------

_XPS_FIXEDREP = "fixedrepresentation"  # rel Type suffix, both ns families
_XPS_COREPROPS = "core-properties"


def _opc_resolve(base_part: str, src: str) -> str:
    """resolve a Source/Target URI against the referencing part."""
    src = src.split("#", 1)[0]
    if src.startswith("/"):
        return src.lstrip("/")
    base_dir = base_part.rpartition("/")[0]
    parts = (base_dir.split("/") if base_dir else []) + src.split("/")
    out: list[str] = []
    for p in parts:
        if p in ("", "."):
            continue
        if p == "..":
            if out:
                out.pop()
        else:
            out.append(p)
    return "/".join(out)


def _xps_rels(zf: zipfile.ZipFile, names: set[str]) -> list[tuple[str, str]]:
    if "_rels/.rels" not in names:
        return []
    root = _parse_xml(_zread(zf, "_rels/.rels"))
    if root is None:
        return []
    out = []
    for el in root.iter():
        if _local(el.tag) == "Relationship":
            t = _attr(el, "Type") or ""
            tgt = _attr(el, "Target") or ""
            if t and tgt:
                out.append((t, tgt))
    return out


def _xps_page_lines(root: ET.Element) -> list[str]:
    """Glyphs runs → text lines: a new OriginY starts a new line (in
    encounter order); runs sharing a line join directly — real writers
    carry inter-word spaces inside UnicodeString.  A UnicodeString
    beginning ``{}`` is the spec's literal-escape for strings starting
    with ``{`` (ECMA-388 §12.1.2)."""
    lines: list[str] = []
    line_of: dict[str, int] = {}
    for el in root.iter():
        if _local(el.tag) != "Glyphs":
            continue
        s = _attr(el, "UnicodeString") or ""
        if s.startswith("{}"):
            s = s[2:]
        if not s:
            continue
        y = _attr(el, "OriginY") or ""
        if y in line_of:
            lines[line_of[y]] += s
        else:
            line_of[y] = len(lines)
            lines.append(s)
    return lines


def _xps_extract(
    zf: zipfile.ZipFile, names: set[str]
) -> tuple[list[str], str | None, str | None, str]:
    """(lines, title, author, mime) — pages walked in
    fdseq → fdoc → PageContent order, never directory order."""
    mime = _XPS_MIME
    fdseq = None
    title = author = None
    for rtype, target in _xps_rels(zf, names):
        low = rtype.lower()
        if low.endswith(_XPS_FIXEDREP):
            fdseq = _opc_resolve("", target)
            if "openxps.org" in low:
                mime = _OXPS_MIME
        elif low.endswith(_XPS_COREPROPS):
            part = _opc_resolve("", target)
            if part in names:
                title, author = _core_props(_zread(zf, part))
    if fdseq is None:  # damaged rels: structural fallback
        fdseq = next((n for n in sorted(names) if n.endswith(".fdseq")), None)
    lines: list[str] = []
    if fdseq is None or fdseq not in names:
        return lines, title, author, mime
    seq_root = _parse_xml(_zread(zf, fdseq))
    if seq_root is None:
        return lines, title, author, mime
    for docref in seq_root.iter():
        if _local(docref.tag) != "DocumentReference":
            continue
        fdoc = _opc_resolve(fdseq, _attr(docref, "Source") or "")
        if fdoc not in names:
            continue
        doc_root = _parse_xml(_zread(zf, fdoc))
        if doc_root is None:
            continue
        for pc in doc_root.iter():
            if _local(pc.tag) != "PageContent":
                continue
            fpage = _opc_resolve(fdoc, _attr(pc, "Source") or "")
            if fpage not in names:
                continue
            page_root = _parse_xml(_zread(zf, fpage))
            if page_root is not None:
                lines.extend(_xps_page_lines(page_root))
    return lines, title, author, mime


# --------------------------------------------------------------------------
# EPUB (OCF zip container + OPF package; chapters are XHTML and ride
# the repo's HTML scanner — reference covers EPUB via Tika's EpubParser,
# enhance_extract_text_tika_server.py:33-262)
# --------------------------------------------------------------------------


def _epub_opf_path(zf: zipfile.ZipFile, names: set[str]) -> str | None:
    """OPF package path from META-INF/container.xml (OCF 3.0 §3.5),
    falling back to the first *.opf member."""
    if "META-INF/container.xml" in names:
        root = _parse_xml(_zread(zf, "META-INF/container.xml"))
        if root is not None:
            for el in root.iter():
                if _local(el.tag) == "rootfile":
                    p = _attr(el, "full-path")
                    if p and p in names:
                        return p
    for n in sorted(names):
        if n.endswith(".opf"):
            return n
    return None


def _epub_extract(
    zf: zipfile.ZipFile, names: set[str]
) -> tuple[list[str], int, str | None, str | None]:
    """(content lines, n_blocks, title, author) of an EPUB package:
    dc:title/dc:creator from the OPF metadata, spine-ordered XHTML
    chapters through the HTML block scanner (same keep rules as pages)."""
    # local import — htmlx routes zips here, so top-level would cycle
    from open_semantic_etl_spark.operators.htmlx import extract_html

    opf_path = _epub_opf_path(zf, names)
    if opf_path is None:
        return [], 0, None, None
    opf = _parse_xml(_zread(zf, opf_path))
    if opf is None:
        return [], 0, None, None
    title = author = None
    manifest: dict[str, str] = {}
    spine: list[str] = []
    for el in opf.iter():
        loc = _local(el.tag)
        if loc == "title" and title is None:
            title = (el.text or "").strip() or None
        elif loc == "creator" and author is None:
            author = (el.text or "").strip() or None
        elif loc == "item":
            iid, href = _attr(el, "id"), _attr(el, "href")
            if iid and href:
                manifest[iid] = href
        elif loc == "itemref":
            ref = _attr(el, "idref")
            if ref:
                spine.append(ref)
    base = opf_path.rpartition("/")[0]
    lines: list[str] = []
    n_blocks = 0
    budget = _MAX_TOTAL_BYTES
    for ref in spine:
        href = manifest.get(ref)
        if not href:
            continue
        path = f"{base}/{href}" if base else href
        # normalize ../ segments the way zip readers resolve them
        parts: list[str] = []
        for seg in path.split("/"):
            if seg == "..":
                if parts:
                    parts.pop()
            elif seg not in ("", "."):
                parts.append(seg)
        path = "/".join(parts)
        if path not in names:
            continue
        size = zf.getinfo(path).file_size
        if size > _MAX_PART_BYTES or size > budget:
            continue  # oversized chapter: skip it, keep the rest
        budget -= size
        ch = extract_html(_zread(zf, path))
        if ch["content"]:
            lines.extend(ch["content"].split("\n"))
        n_blocks += ch["n_blocks"]
    return lines, n_blocks, title, author


def extract_office(data: bytes) -> dict | None:
    """full office extraction: None when the payload is not an office
    zip; else a dict with ``content`` (lines joined by ``\\n``, empty
    lines dropped), ``title``, ``author``, ``content_type``,
    ``n_blocks`` (total paragraphs/rows), ``ok``, ``err``."""
    mime = sniff_office(data)
    if mime is None:
        return None
    res = {
        "content": "",
        "title": None,
        "author": None,
        "content_type": mime,
        "n_blocks": 0,
        "ok": True,
        "err": None,
    }
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
            lines: list[str] = []
            if mime.endswith("wordprocessingml.document"):
                root = _parse_xml(_zread(zf, "word/document.xml"))
                if root is not None:
                    lines = _docx_text(root)
                # footnotes/endnotes are document text (Tika includes
                # them); headers/footers stay excluded — running page
                # furniture is exactly the boilerplate this engine
                # strips everywhere else
                for part in ("word/footnotes.xml", "word/endnotes.xml"):
                    if part not in names:
                        continue
                    nroot = _parse_xml(_zread(zf, part))
                    if nroot is not None:
                        # separator/continuation pseudo-notes carry no
                        # w:t runs, so the empty-line filter drops them
                        lines.extend(_docx_text(nroot))
            elif mime.endswith("spreadsheetml.sheet"):
                lines = _xlsx_text(zf, names)
            elif mime.endswith("presentationml.presentation"):
                lines = _pptx_text(zf, names)
            elif mime == _EPUB_MIME:
                lines, nb, res["title"], res["author"] = _epub_extract(zf, names)
                res["n_blocks"] = nb
                res["content"] = "\n".join(ln for ln in lines if ln.strip())
                return res
            elif mime == _XPS_MIME:
                lines, res["title"], res["author"], res["content_type"] = (
                    _xps_extract(zf, names)
                )
                res["n_blocks"] = len(lines)
                res["content"] = "\n".join(ln for ln in lines if ln.strip())
                return res
            else:  # ODF family
                root = (
                    _parse_xml(_zread(zf, "content.xml"))
                    if "content.xml" in names
                    else None
                )
                if root is not None:
                    lines = (
                        _ods_text(root)
                        if mime.endswith("spreadsheet")
                        else _odt_text(root)
                    )
            if mime.startswith("application/vnd.openxmlformats"):
                if "docProps/core.xml" in names:
                    res["title"], res["author"] = _core_props(
                        _zread(zf, "docProps/core.xml")
                    )
            elif "meta.xml" in names:
                res["title"], res["author"] = _odf_meta(_zread(zf, "meta.xml"))
            res["n_blocks"] = len(lines)
            res["content"] = "\n".join(ln for ln in lines if ln.strip())
    except Exception as e:  # noqa: BLE001 — per-row error contract
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
    return res


# --------------------------------------------------------------------------
# RTF (not a zip — word-processor sibling format the Tika tier covers;
# public RTF 1.9 spec: control words, groups, destinations)
# --------------------------------------------------------------------------

_RTF_TOKEN_RE = re.compile(
    rb"\\'([0-9a-fA-F]{2})"  # hex escape          → group 1
    rb"|\\([a-zA-Z]+)(-?\d+)? ?"  # control word (+num) → groups 2,3
    rb"|\\([^a-zA-Z])"  # control symbol      → group 4
    rb"|([{}])"  # group open/close    → group 5
    rb"|([^\\{}]+)",  # plain text run      → group 6
    re.DOTALL,
)

#: destination groups whose content is NOT document text
_RTF_SKIP_DESTS = frozenset(
    b"fonttbl colortbl stylesheet info pict object header footer "
    b"headerl headerr headerf footerl footerr footerf field fldinst "
    b"themedata colorschememapping latentstyles datastore xmlnstbl "
    b"listtable listoverridetable rsidtbl generator".split()
)
_RTF_BREAKS = {b"par": "\n", b"line": "\n", b"row": "\n", b"tab": "\t",
               b"cell": "\t", b"sect": "\n", b"page": "\n"}


def _fix_surrogates(s: str) -> str:
    """Combine \\uN surrogate pairs (how RTF writers encode astral
    chars) and replace lone surrogates with U+FFFD. chr() on a hostile
    ``\\u55296`` would otherwise put a lone surrogate into the result
    string, and THAT fails utf-8/Arrow serialization of the whole
    batch — an exception outside the per-row try, i.e. a poison
    document killing a Spark task."""
    try:
        s.encode("utf-8")
        return s  # fast path: no surrogates at all
    except UnicodeEncodeError:
        pass
    try:
        # utf-16 round-trip fuses valid high+low pairs into astral chars
        return s.encode("utf-16", "surrogatepass").decode("utf-16")
    except UnicodeDecodeError:
        out = []
        i, n = 0, len(s)
        while i < n:
            c = ord(s[i])
            if 0xD800 <= c <= 0xDBFF and i + 1 < n and 0xDC00 <= ord(s[i + 1]) <= 0xDFFF:
                out.append(chr(0x10000 + ((c - 0xD800) << 10) + (ord(s[i + 1]) - 0xDC00)))
                i += 2
            elif 0xD800 <= c <= 0xDFFF:
                out.append("�")
                i += 1
            else:
                out.append(s[i])
                i += 1
        return "".join(out)


def extract_rtf(data: bytes) -> dict | None:
    """RTF → plain text + {\\info{\\title …}{\\author …}} metadata.

    Group-stack scanner: destination groups (font/color tables,
    pictures, field instructions, …) are skipped wholesale; ``\\uN``
    emits the code point and swallows the ``\\ucN`` fallback bytes;
    ``\\'hh`` decodes per cp1252 (the dominant legacy charset).
    Returns None when the payload is not RTF."""
    if not data.startswith(b"{\\rtf"):
        return None
    res = {
        "content": "", "title": None, "author": None,
        "content_type": "application/rtf", "n_blocks": 0,
        "ok": True, "err": None,
    }
    try:
        if b"\\bin" in data:
            # \binN is followed by N RAW bytes (embedded picture data);
            # excise them before tokenizing — binary bytes containing
            # { } \ would otherwise desync the group stack (letters
            # after "bin" make a different control word, so requiring
            # digits is exact)
            parts: list[bytes] = []
            pos = 0
            for bm in re.finditer(rb"\\bin(\d+) ?", data):
                if bm.start() < pos:
                    continue  # inside a previously excised binary run
                parts.append(data[pos : bm.start()])
                pos = bm.end() + min(int(bm.group(1)), len(data) - bm.end())
            parts.append(data[pos:])
            data = b"".join(parts)
        out: list[str] = []
        # stack entries: [skipping?, uc_count, dest_name]
        stack: list[list] = [[False, 1, b""]]
        pending_uc = 0  # fallback bytes to swallow after \uN
        info_dest = None  # 'title'/'author' when inside those info groups
        info_buf: dict[str, list[str]] = {"title": [], "author": []}
        first_in_group = False
        star = False  # previous token was \* (ignorable destination)
        for m in _RTF_TOKEN_RE.finditer(data):
            if m.group(5):  # { or }
                if m.group(5) == b"{":
                    top = stack[-1]
                    stack.append([top[0], top[1], b""])
                    first_in_group = True
                else:
                    closed = stack.pop() if len(stack) > 1 else stack[0]
                    if closed[2] in (b"title", b"author"):
                        info_dest = None
                continue
            top = stack[-1]
            if m.group(2) is not None:  # control word
                word = m.group(2)
                if first_in_group and word in (b"title", b"author"):
                    # metadata destinations live INSIDE the (otherwise
                    # skipped) \info group: un-skip this subgroup and
                    # buffer its text separately
                    top[0] = False
                    top[2] = word
                    info_dest = word.decode()
                elif first_in_group and (word in _RTF_SKIP_DESTS or star):
                    # known non-text destination, or an UNKNOWN \*-marked
                    # ignorable one (the spec says skip those wholesale)
                    top[0] = True
                    top[2] = word
                elif word == b"uc" and m.group(3):
                    top[1] = int(m.group(3))
                elif word == b"u" and m.group(3):
                    if not top[0]:
                        ch = chr(int(m.group(3)) & 0xFFFF)
                        (info_buf[info_dest] if info_dest else out).append(ch)
                    pending_uc = top[1]
                elif not top[0] and word in _RTF_BREAKS:
                    out.append(_RTF_BREAKS[word])
                first_in_group = False
                star = False
                continue
            if m.group(4) is not None:  # control symbol
                sym = m.group(4)
                if sym == b"*":
                    star = True  # next control word names an ignorable dest
                    continue  # keep first_in_group for that word
                first_in_group = False
                star = False
                if not top[0]:
                    if sym in (b"\\", b"{", b"}"):
                        (info_buf[info_dest] if info_dest else out).append(
                            sym.decode()
                        )
                    elif sym == b"~":
                        # non-breaking space follows the current
                        # destination like any other character — inside
                        # \info{\title...} it belongs to the title, not
                        # the document body
                        (info_buf[info_dest] if info_dest else out).append(" ")
                continue
            first_in_group = False
            star = False
            if top[0]:
                continue
            if m.group(1) is not None:  # \'hh
                if pending_uc:
                    pending_uc -= 1
                    continue
                ch = bytes([int(m.group(1), 16)]).decode("cp1252", "replace")
                (info_buf[info_dest] if info_dest else out).append(ch)
                continue
            txt = m.group(6).replace(b"\r", b"").replace(b"\n", b"")
            if not txt:
                continue
            if pending_uc:
                drop = min(pending_uc, len(txt))
                txt = txt[drop:]
                pending_uc -= drop
                if not txt:
                    continue
            (info_buf[info_dest] if info_dest else out).append(
                txt.decode("cp1252", "replace")
            )
        lines = [ln.strip() for ln in _fix_surrogates("".join(out)).split("\n")]
        kept = [ln for ln in lines if ln]
        res["n_blocks"] = len(kept)
        res["content"] = "\n".join(kept)
        res["title"] = _fix_surrogates("".join(info_buf["title"])).strip() or None
        res["author"] = _fix_surrogates("".join(info_buf["author"])).strip() or None
    except Exception as e:  # noqa: BLE001
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
    return res


# --------------------------------------------------------------------------
# deterministic fixture builders (tests + driver-contract queries; the
# DuckDB oracle reconstructs the expected strings from doc_id alone)
# --------------------------------------------------------------------------

_ZIP_DT = (2024, 1, 1, 0, 0, 0)


def _z(buf: io.BytesIO) -> zipfile.ZipFile:
    return zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED)


def _xesc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


_CORE_XML = (
    '<?xml version="1.0"?>'
    '<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties"'
    ' xmlns:dc="http://purl.org/dc/elements/1.1/">'
    "<dc:title>{title}</dc:title><dc:creator>{author}</dc:creator>"
    "</cp:coreProperties>"
)


def build_docx(paragraphs: list[str], title: str = "", author: str = "") -> bytes:
    """minimal ECMA-376 word package (document.xml + core props)."""
    body = "".join(
        "<w:p><w:r><w:t xml:space=\"preserve\">%s</w:t></w:r></w:p>" % _xesc(p)
        for p in paragraphs
    )
    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with _z(buf) as zf:
        zf.writestr(zipfile.ZipInfo("[Content_Types].xml", _ZIP_DT), "<Types/>")
        zf.writestr(zipfile.ZipInfo("word/document.xml", _ZIP_DT), doc)
        zf.writestr(
            zipfile.ZipInfo("docProps/core.xml", _ZIP_DT),
            _CORE_XML.format(title=_xesc(title), author=_xesc(author)),
        )
    return buf.getvalue()


def build_xlsx(rows: list[list[str]], title: str = "", author: str = "") -> bytes:
    """minimal spreadsheet package: one sheet, inline + shared strings
    (even-indexed cells go through sharedStrings to exercise both)."""
    shared: list[str] = []
    cells_xml = []
    for r, row in enumerate(rows, start=1):
        cx = []
        for i, val in enumerate(row):
            if i % 2 == 0:
                idx = len(shared)
                shared.append(val)
                cx.append(f'<c r="{chr(65 + i)}{r}" t="s"><v>{idx}</v></c>')
            else:
                cx.append(
                    f'<c r="{chr(65 + i)}{r}" t="inlineStr"><is><t>{_xesc(val)}</t></is></c>'
                )
        cells_xml.append(f'<row r="{r}">' + "".join(cx) + "</row>")
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(cells_xml) + "</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t xml:space=\"preserve\">{_xesc(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    buf = io.BytesIO()
    with _z(buf) as zf:
        zf.writestr(zipfile.ZipInfo("[Content_Types].xml", _ZIP_DT), "<Types/>")
        zf.writestr(zipfile.ZipInfo("xl/workbook.xml", _ZIP_DT), "<workbook/>")
        zf.writestr(zipfile.ZipInfo("xl/sharedStrings.xml", _ZIP_DT), sst)
        zf.writestr(zipfile.ZipInfo("xl/worksheets/sheet1.xml", _ZIP_DT), sheet)
        zf.writestr(
            zipfile.ZipInfo("docProps/core.xml", _ZIP_DT),
            _CORE_XML.format(title=_xesc(title), author=_xesc(author)),
        )
    return buf.getvalue()


def build_epub(chapters: list[str], title: str = "", author: str = "") -> bytes:
    """minimal OCF/OPF package: one XHTML file per chapter string,
    spine in list order, dc:title/dc:creator metadata."""
    manifest = "".join(
        f'<item id="c{i}" href="c{i}.xhtml" media-type="application/xhtml+xml"/>'
        for i in range(len(chapters))
    )
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(len(chapters)))
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<dc:title>{_xesc(title)}</dc:title><dc:creator>{_xesc(author)}</dc:creator>"
        f"</metadata><manifest>{manifest}</manifest><spine>{spine}</spine></package>"
    )
    container = (
        '<?xml version="1.0"?>'
        '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container" version="1.0">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf"'
        ' media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        mi = zipfile.ZipInfo("mimetype", _ZIP_DT)
        zf.writestr(mi, _EPUB_MIME, zipfile.ZIP_STORED)
        zf.writestr(
            zipfile.ZipInfo("META-INF/container.xml", _ZIP_DT),
            container, zipfile.ZIP_DEFLATED,
        )
        zf.writestr(
            zipfile.ZipInfo("OEBPS/content.opf", _ZIP_DT), opf, zipfile.ZIP_DEFLATED
        )
        for i, ch in enumerate(chapters):
            xhtml = (
                '<?xml version="1.0"?>'
                '<html xmlns="http://www.w3.org/1999/xhtml"><head>'
                f"<title>{_xesc(title)}</title></head><body>"
                f"<p>{_xesc(ch)}</p></body></html>"
            )
            zf.writestr(
                zipfile.ZipInfo(f"OEBPS/c{i}.xhtml", _ZIP_DT),
                xhtml, zipfile.ZIP_DEFLATED,
            )
    return buf.getvalue()


def build_odt(paragraphs: list[str], title: str = "", author: str = "") -> bytes:
    """minimal ODF text package (mimetype must be STORED first per
    ODF 1.2 §3.3 so magic-based sniffers can read it uncompressed)."""
    body = "".join(f"<text:p>{_xesc(p)}</text:p>" for p in paragraphs)
    content = (
        '<?xml version="1.0"?>'
        '<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        f"<office:body><office:text>{body}</office:text></office:body>"
        "</office:document-content>"
    )
    meta = (
        '<?xml version="1.0"?>'
        '<office:document-meta xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<office:meta><dc:title>{_xesc(title)}</dc:title>"
        f"<dc:creator>{_xesc(author)}</dc:creator></office:meta>"
        "</office:document-meta>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        mi = zipfile.ZipInfo("mimetype", _ZIP_DT)
        zf.writestr(mi, "application/vnd.oasis.opendocument.text", zipfile.ZIP_STORED)
        zf.writestr(
            zipfile.ZipInfo("content.xml", _ZIP_DT), content, zipfile.ZIP_DEFLATED
        )
        zf.writestr(zipfile.ZipInfo("meta.xml", _ZIP_DT), meta, zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def build_xps(
    pages: list[list[tuple[str, str]]],
    title: str = "",
    author: str = "",
    oxps: bool = False,
) -> bytes:
    """deterministic XPS fixture: one FixedDocument, ``pages`` is a
    list of pages, each a list of (OriginY, UnicodeString) Glyphs
    runs.  ``oxps=True`` uses the OpenXPS relationship namespace."""
    ns = (
        "http://schemas.openxps.org/oxps/v1.0"
        if oxps
        else "http://schemas.microsoft.com/xps/2005/06"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        rels = (
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="r1" Type="{ns}/fixedrepresentation"'
            ' Target="/FixedDocSeq.fdseq"/>'
            '<Relationship Id="r2" Type="http://schemas.openxmlformats.org/'
            'package/2006/relationships/metadata/core-properties"'
            ' Target="/docProps/core.xml"/>'
            "</Relationships>"
        )
        zf.writestr(zipfile.ZipInfo("_rels/.rels", _ZIP_DT), rels)
        zf.writestr(
            zipfile.ZipInfo("FixedDocSeq.fdseq", _ZIP_DT),
            f'<FixedDocumentSequence xmlns="{ns}">'
            '<DocumentReference Source="/Documents/1/FixedDocument.fdoc"/>'
            "</FixedDocumentSequence>",
        )
        pc = "".join(
            f'<PageContent Source="Pages/{i + 1}.fpage"/>'
            for i in range(len(pages))
        )
        zf.writestr(
            zipfile.ZipInfo("Documents/1/FixedDocument.fdoc", _ZIP_DT),
            f'<FixedDocument xmlns="{ns}">{pc}</FixedDocument>',
        )
        for i, runs in enumerate(pages):
            glyphs = "".join(
                f'<Glyphs OriginX="10" OriginY="{y}" FontRenderingEmSize="12"'
                f' FontUri="/Resources/f.odttf" UnicodeString="{_xesc(s)}"/>'
                for y, s in runs
            )
            zf.writestr(
                zipfile.ZipInfo(f"Documents/1/Pages/{i + 1}.fpage", _ZIP_DT),
                f'<FixedPage xmlns="{ns}" Width="816" Height="1056">'
                f"{glyphs}</FixedPage>",
            )
        core = (
            '<?xml version="1.0"?>'
            '<coreProperties xmlns="http://schemas.openxmlformats.org/'
            'package/2006/metadata/core-properties"'
            ' xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<dc:title>{_xesc(title)}</dc:title>"
            f"<dc:creator>{_xesc(author)}</dc:creator></coreProperties>"
        )
        zf.writestr(zipfile.ZipInfo("docProps/core.xml", _ZIP_DT), core)
    return buf.getvalue()


# --------------------------------------------------------------------------
# Apple property lists (binary bplist00 + XML <plist>) — Tika parity:
# PListParser renders keys/values as text on the AutoDetectParser path
# (enhance_extract_text_tika_server.py:33-262).  stdlib plistlib
# handles both wire forms; this renders the object tree as stable
# "dotted.path: value" lines.
# --------------------------------------------------------------------------

_PLIST_MIME = "application/x-plist"
_PLIST_MAX_LINES = 100_000  # binary plists share objects by reference:
# a ~150-byte bplist of nested 2-ref arrays expands 2^depth — the walk
# must cap BEFORE growing, like every other bomb guard in this repo


def _plist_lines(obj, path: str, out: list[str], depth: int = 0) -> None:
    if depth > 32:  # cyclic UIDs can't occur post-plistlib, but cap anyway
        return
    if len(out) >= _PLIST_MAX_LINES:
        raise ValueError("plist render over %d lines" % _PLIST_MAX_LINES)
    if isinstance(obj, dict):
        for k in obj:  # plistlib preserves document order
            _plist_lines(obj[k], f"{path}.{k}" if path else str(k), out, depth + 1)
    elif isinstance(obj, (list, tuple)):
        for i, v in enumerate(obj):
            _plist_lines(v, f"{path}[{i}]", out, depth + 1)
    elif isinstance(obj, bytes):
        out.append(f"{path}: <{len(obj)} bytes>")
    elif isinstance(obj, bool):
        out.append(f"{path}: {'true' if obj else 'false'}")
    elif obj is None:
        out.append(f"{path}:")
    else:
        try:  # datetime → ISO; int/float/str → str
            s = obj.isoformat()
        except AttributeError:
            s = str(obj)
        out.append(f"{path}: {s}")


def extract_plist(data: bytes) -> dict | None:
    """plist payload → office-result shape; None when the bytes are
    neither a binary plist nor an XML plist document."""
    import plistlib

    head = data[:512].lstrip()
    if not (
        data[:8] == b"bplist00"
        or head.startswith(b"<plist")
        or (head.startswith(b"<?xml") and b"<plist" in data[:1024])
        or head[:15].lower().startswith(b"<!doctype plist")
    ):
        return None
    res = {
        "content": "",
        "title": None,
        "author": None,
        "content_type": _PLIST_MIME,
        "n_blocks": 0,
        "ok": True,
        "err": None,
    }
    try:
        # explicit fmt: plistlib's own sniffer only recognizes <?xml /
        # <plist prefixes, so a DOCTYPE-first XML plist needs the hint
        fmt = plistlib.FMT_BINARY if data[:8] == b"bplist00" else plistlib.FMT_XML
        obj = plistlib.loads(data, fmt=fmt)
    except Exception as e:  # noqa: BLE001 — per-row error contract
        if data[:8] != b"bplist00":
            return None  # malformed XML: let the generic XML label win
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
        return res
    lines: list[str] = []
    try:
        _plist_lines(obj, "", lines)
    except ValueError as e:  # expansion bomb: fail loud, keep nothing
        res["ok"] = False
        res["err"] = str(e)
        return res
    res["content"] = "\n".join(lines)
    res["n_blocks"] = len(lines)
    if isinstance(obj, dict):
        for key in ("Title", "title", "Name", "name", "CFBundleName"):
            v = obj.get(key)
            if isinstance(v, str) and v.strip():
                res["title"] = v.strip()
                break
    return res


# --------------------------------------------------------------------------
# SVG + FictionBook2 — raw-XML document formats (Tika's SVGParser /
# FictionBookParser; the reference reaches both through the Tika hop,
# enhance_extract_text_tika_server.py:33-262)
# --------------------------------------------------------------------------

_XML_ROOT_RE = re.compile(
    rb"\A\s*(?:<\?xml[^>]*\?>\s*)?(?:<!--.*?-->\s*)*(?:<!DOCTYPE[^>]*>\s*)?"
    rb"<([A-Za-z][\w.-]*:)?([A-Za-z][\w.-]*)",
    re.S,
)


def xml_root_localname(data: bytes) -> str | None:
    """local name of the document's root element, or None — the cheap
    routing gate for raw-XML formats (prefix stripped)."""
    m = _XML_ROOT_RE.match(data[:2048])
    return m.group(2).decode("ascii", "replace") if m else None


def _ln(el) -> str:
    """namespace-stripped local tag name."""
    tag = el.tag
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


def extract_svg(data: bytes) -> dict | None:
    """SVG → office-result shape: one content line per ``<text>``
    element (tspan runs joined, document order), title from the first
    ``<title>``; None when the root element is not ``svg``."""
    if xml_root_localname(data) != "svg":
        return None
    res = {
        "content": "", "title": None, "author": None,
        "content_type": "image/svg+xml", "n_blocks": 0,
        "ok": True, "err": None,
    }
    try:
        root = ET.fromstring(data)
    except Exception as e:  # noqa: BLE001 — per-row error contract
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
        return res
    lines: list[str] = []
    for el in root.iter():
        name = _ln(el)
        if name == "text":
            line = " ".join("".join(el.itertext()).split())
            if line:
                lines.append(line)
        elif name == "title" and res["title"] is None:
            t = " ".join("".join(el.itertext()).split())
            res["title"] = t or None
    res["content"] = "\n".join(lines)
    res["n_blocks"] = len(lines)
    return res


def extract_fb2(data: bytes) -> dict | None:
    """FictionBook2 e-book XML → office-result shape: body paragraph /
    verse / subtitle lines, book-title + first author from the
    description block; None when the root is not ``FictionBook``."""
    if xml_root_localname(data) != "FictionBook":
        return None
    res = {
        "content": "", "title": None, "author": None,
        "content_type": "application/x-fictionbook+xml", "n_blocks": 0,
        "ok": True, "err": None,
    }
    try:
        root = ET.fromstring(data)
    except Exception as e:  # noqa: BLE001
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
        return res
    lines: list[str] = []
    for child in root:
        name = _ln(child)
        if name == "description":
            for el in child.iter():
                n = _ln(el)
                if n == "book-title" and res["title"] is None:
                    t = " ".join("".join(el.itertext()).split())
                    res["title"] = t or None
                elif n == "author" and res["author"] is None:
                    parts = {
                        _ln(e): " ".join("".join(e.itertext()).split())
                        for e in el
                    }
                    full = " ".join(
                        p for p in (parts.get("first-name"),
                                    parts.get("middle-name"),
                                    parts.get("last-name")) if p
                    ) or parts.get("nickname", "")
                    res["author"] = full or None
        elif name == "body":
            for el in child.iter():
                if _ln(el) in ("p", "v", "subtitle"):
                    line = " ".join("".join(el.itertext()).split())
                    if line:
                        lines.append(line)
    res["content"] = "\n".join(lines)
    res["n_blocks"] = len(lines)
    return res


def build_svg(lines: list[str], title: str | None = None,
              w: int = 100, h: int = 50) -> bytes:
    body = "".join(
        f'<text x="10" y="{20 * (i + 1)}">{_xesc(t)}</text>'
        for i, t in enumerate(lines)
    )
    tt = f"<title>{_xesc(title)}</title>" if title else ""
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" height="{h}">'
        f"{tt}{body}</svg>"
    ).encode()


def build_fb2(paras: list[str], title: str, author: tuple[str, str]) -> bytes:
    body = "".join(f"<p>{_xesc(t)}</p>" for t in paras)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0">'
        "<description><title-info>"
        f"<book-title>{_xesc(title)}</book-title>"
        f"<author><first-name>{_xesc(author[0])}</first-name>"
        f"<last-name>{_xesc(author[1])}</last-name></author>"
        "</title-info></description>"
        f"<body><section>{body}</section></body></FictionBook>"
    ).encode()
