"""HTML main-content extraction: tokenizer + DOM-density boilerplate strip.

Pure-Python core (stdlib ``html.parser``) executed inside Arrow-batched
pandas UDFs — the from-scratch replacement for the reference's HTTP hop
to Apache Tika (enhance_extract_text_tika_server.py:33-262) and its
XPath-based enhance_html (enhance_html.py:10-38). The boilerplate
heuristic is the public link-density + text-block-length scoring family
(boilerpipe / Arc90 readability lineage).

THE BYTE-EXACT CONTRACT (the per-url invariant BASELINE.json demands —
tests pin it, the synthetic pages generator reproduces it independently):

1. Decode: BOM → ``<meta charset>`` / ``http-equiv content-type`` within
   the first 2048 bytes → strict UTF-8 → Latin-1 fallback.
2. Segment into text blocks at every open/close of a block-level tag
   (``_BLOCK_TAGS``); ``<br>`` also breaks. Text inside
   ``script/style/noscript/template/svg/head`` never reaches a block.
3. Normalize each block: concatenate raw text fragments, then collapse
   all whitespace runs to single spaces and strip ends.
4. Drop a block as boilerplate when ANY of:
   a. an ancestor is ``nav/footer/aside/header/form`` (DOM heuristic);
   b. link density  (chars inside <a> / total chars)  > 1/3;
   c. fewer than MIN_BLOCK_CHARS (25) characters.
   If nothing survives but non-ancestor-boilerplate blocks with link
   density ≤ 1/3 exist, keep the single longest (short-page fallback).
5. ``content`` = surviving blocks joined by ``"\n"`` in document order.

Title/description/headings/links/meta-date are captured on the side
(title ← <title>, description ← <meta name=description>, reference
field mapping at enhance_extract_text_tika_server.py:25-31).
"""

from __future__ import annotations

import importlib
import re
from datetime import datetime, timezone
from html.parser import HTMLParser

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 1.0 / 3.0

_BLOCK_TAGS = frozenset(
    """p div section article li td th blockquote pre h1 h2 h3 h4 h5 h6
    ul ol table tr thead tbody header footer nav aside main figure
    figcaption dd dt dl form fieldset address center body""".split()
)
_SKIP_TAGS = frozenset("script style noscript template svg iframe object".split())
_BOILER_ANCESTORS = frozenset("nav footer aside header form".split())
_VOID_BREAKS = frozenset(("br", "hr"))

# single-lookup tag dispatch: one dict get replaces up to six sequential
# set-membership tests per tag in the hot callbacks. Tags absent from
# the map have no structural effect (span/b/em/...).
(_C_SKIP, _C_META, _C_IMG, _C_A, _C_TITLE,
 _C_BREAK, _C_BLOCK, _C_BOILER, _C_HEADING) = range(9)
_TAG_CODE: dict[str, int] = {}
for _t in _BLOCK_TAGS:
    _TAG_CODE[_t] = _C_BLOCK
for _t in _BOILER_ANCESTORS:  # boiler tags are block tags too
    _TAG_CODE[_t] = _C_BOILER
for _t in ("h1", "h2", "h3", "h4", "h5", "h6"):
    _TAG_CODE[_t] = _C_HEADING
for _t in _SKIP_TAGS:
    _TAG_CODE[_t] = _C_SKIP
for _t in _VOID_BREAKS:
    _TAG_CODE[_t] = _C_BREAK
_TAG_CODE.update(meta=_C_META, img=_C_IMG, a=_C_A, title=_C_TITLE)

_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([-\w]+)""", re.IGNORECASE
)
_META_DATE_KEYS = frozenset(
    ("last-modified", "article:published_time", "article:modified_time", "date")
)
_ISO_TS_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2}):(\d{2})"
)
# what makes decoded bytes "HTML-ish": any tag-open / comment /
# doctype / PI start. Tag-free inputs are labeled text/plain.
_TAG_HINT_RE = re.compile(r"<[a-zA-Z!/?]")

# vObject family (RFC 5545 iCalendar / RFC 6350 vCard): tag-free text
# the reference's Tika tier labels and indexes; unfold + pull the
# display property as the title
_VOBJECT_KINDS = (
    ("BEGIN:VCALENDAR", "text/calendar", "SUMMARY"),
    ("BEGIN:VCARD", "text/vcard", "FN"),
)
_VOBJ_UNFOLD_RE = re.compile(r"\r?\n[ \t]")


def _vobject_sniff(text: str) -> tuple[str, str, str] | None:
    head = text.lstrip()[:15].upper()
    for magic, ctype, titleprop in _VOBJECT_KINDS:
        if head.startswith(magic):
            return magic, ctype, titleprop
    return None


def _vobject_extract(text: str, titleprop: str) -> tuple[str, str | None]:
    """(unfolded body, title) — folding per RFC 5545 §3.1 (CRLF + WSP
    continues the line); title = first ``titleprop`` property value
    (parameters after ``;`` ignored, text-escapes ``\\,``/``\\;``/
    ``\\n`` decoded)."""
    unfolded = _VOBJ_UNFOLD_RE.sub("", text)
    title = None
    for line in unfolded.splitlines():
        name, sep, value = line.partition(":")
        if not sep:
            continue
        if name.split(";", 1)[0].strip().upper() == titleprop:
            title = (
                value.replace("\\n", " ").replace("\\,", ",")
                .replace("\\;", ";").strip()
            ) or None
            break
    return unfolded, title


# Magic-byte content sniffing — the libmagic replacement
# (enhance_mimetype.py:27-35). Checked before any HTML decode so binary
# payloads never become latin-1 garbage "content".
_MAGIC = (
    (b"%PDF-", "application/pdf"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"PK\x03\x04", "application/zip"),
    (b"7z\xbc\xaf\x27\x1c", "application/x-7z-compressed"),
    (b"Rar!\x1a\x07", "application/vnd.rar"),
    (b"!<arch>\n", "application/x-archive"),
    (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1", "application/x-ole-storage"),
    (b"\x78\x9f\x3e\x22", "application/vnd.ms-tnef"),
    (b"bplist00", "application/x-plist"),
    (b"\x1f\x9d", "application/x-compress"),
    (b"\x1f\x8b", "application/gzip"),
    (b"BZh", "application/x-bzip2"),
    (b"\xfd7zXZ\x00", "application/x-xz"),
    (b"\x28\xb5\x2f\xfd", "application/zstd"),
    (b"\x04\x22\x4d\x18", "application/x-lz4"),
    (b"\xff\x06\x00\x00sNaPpY", "application/x-snappy-framed"),
    (b"WARC/", "application/warc"),
    (b"\x00\x05\x16\x00", "application/applefile"),
    (b"\x00\x05\x16\x07", "application/applefile"),
    (b"SQLite format 3\x00", "application/x-sqlite3"),
    (b"ARROW1\x00\x00", "application/vnd.apache.arrow.file"),
    (b"Obj\x01", "application/avro"),
)

#: a From_ envelope line: ``From <sender> <asctime>`` — requiring the
#: asctime's weekday + month + HH:MM + 4-digit year keeps prose like
#: "From 2019 to 2024\n..." out of the mbox label (a bare year test
#: was not enough).  Single-sourced: sources/explode.py builds its
#: message-separator regex from the same core.
MBOX_FROM_CORE = (
    rb"From \S+ [^\r\n]*(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)"
    rb" (?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    rb" [^\r\n]*\d{1,2}:\d{2}[^\r\n]*\d{4}[^\r\n]*\r?\n"
)
_MBOX_FROM_RE = re.compile(rb"\A" + MBOX_FROM_CORE)

#: cpio headers after the magic are pure ASCII hex (newc/crc) or octal
#: (odc) — 70 bytes covers the shorter odc form's whole header
_CPIO_HEX_RE = re.compile(rb"\A[0-9a-fA-F]{70}")

#: RFC-822 / MHTML gate: first line is header-shaped AND the head
#: block carries both MIME-Version: and Content-Type: at line starts —
#: every mail writer and every save-as-MHTML browser emits both, while
#: prose that merely mentions them won't match the first-line shape
_RFC822_FIRST_RE = re.compile(rb"\A[\x21-\x39\x3b-\x7e]+:[ \t]")
_MIME_VERSION_RE = re.compile(rb"(?mi)^mime-version:")
_MIME_CTYPE_RE = re.compile(rb"(?mi)^content-type:")

#: dBase has no magic — the version byte is the strongest single gate
_DBF_VERSIONS = frozenset((0x02, 0x03, 0x04, 0x05, 0x30, 0x31, 0x43,
                           0x63, 0x83, 0x8B, 0xCB, 0xF5, 0x8E))


def sniff_dbf(data: bytes) -> bool:
    """structural dBase sniff (Tika mime application/x-dbf): known
    version byte + plausible YYMMDD stamp + field-descriptor
    arithmetic that adds up — three independent checks because every
    single byte here can occur in prose/binaries.  Single-sourced
    with sources/explode.py _dbf_rows (the MBOX_FROM_CORE pattern)."""
    if len(data) < 65 or data[0] not in _DBF_VERSIONS:
        return False
    if not (1 <= data[2] <= 12 and 1 <= data[3] <= 31):
        return False
    hdr = int.from_bytes(data[8:10], "little")
    rec = int.from_bytes(data[10:12], "little")
    if hdr < 65 or rec < 1 or hdr > len(data):
        return False
    # header = 32 + 32*nfields + 1 terminator (+263 VFP backlink)
    return (hdr - 33) % 32 == 0 or (hdr - 296) % 32 == 0

def applesingle_fork(data: bytes) -> tuple[bytes | None, str | None]:
    """AppleSingle/AppleDouble (RFC 1740) → (data fork, real name).

    Tika's AppleSingleFileParser indexes the embedded file, so an
    AppleSingle payload is transparent like a ``.gz`` member.  An
    AppleDouble ``._`` sidecar has NO data-fork entry (it carries the
    resource fork/Finder metadata only) and returns (None, name) —
    the caller keeps the container label.  Raises ValueError on
    malformed headers (the caller's degrade rule applies)."""
    import struct

    if len(data) < 26 or data[:3] != b"\x00\x05\x16":
        raise ValueError("not an AppleSingle/AppleDouble file")
    version = struct.unpack_from(">I", data, 4)[0]
    if version not in (0x00010000, 0x00020000):
        raise ValueError("bad AppleSingle version")
    n = struct.unpack_from(">H", data, 24)[0]
    if n > 64:
        raise ValueError("implausible AppleSingle entry count")
    fork: bytes | None = None
    name: str | None = None
    for i in range(n):
        at = 26 + 12 * i
        if at + 12 > len(data):
            raise ValueError("truncated AppleSingle entry table")
        eid, off, ln = struct.unpack_from(">III", data, at)
        if off + ln > len(data):
            raise ValueError("AppleSingle entry out of bounds")
        if eid == 1:  # data fork
            fork = data[off : off + ln]
        elif eid == 3:  # real name
            name = data[off : off + ln].decode("utf-8", "replace").strip()
    return fork, name


#: transparently-decompressed single-member formats (Tika's
#: CompressorParser behavior: a .html.gz indexes as its inner html)
_COMPRESSED_TYPES = frozenset(
    (
        "application/gzip",
        "application/x-bzip2",
        "application/x-xz",
        "application/x-compress",
        "application/zstd",
        "application/x-lz4",
        "application/x-lzma",
        "application/x-snappy-framed",
    )
)
_DECOMPRESS_CAP = 1 << 26  # 64 MB inner bytes — zip-bomb guard


def arrow_stream_decompress(data: bytes, codec: str, cap: int) -> bytes:
    """zstd / lz4-frame decompress via pyarrow's streaming codec path
    (CompressedInputStream needs no size header and joins concatenated
    frames, matching gzip(1) member semantics). Raises pyarrow's
    OSError on corrupt/truncated input and ValueError past ``cap`` —
    callers map both to their degrade rule. Chunked reads keep peak
    memory at cap + 1 MB even for a decompression bomb."""
    import pyarrow as pa

    stream = pa.input_stream(pa.py_buffer(data), compression=codec)
    out = bytearray()
    while True:
        chunk = stream.read(1 << 20)
        if not chunk:
            break
        out += chunk
        if len(out) > cap:
            raise ValueError("decompressed size over cap")
    return bytes(out)


def _decompress_member(data: bytes, ctype: str) -> bytes | None:
    """single compressed member → inner bytes, or None when corrupt /
    over the expansion cap (caller keeps the container label then).
    gzip allows CONCATENATED members (gzip(1) and bgzip emit them;
    gunzip yields the joined output) — decoded in a loop over
    ``unused_data``; bzip2/xz multi-stream files exist too but are
    rare enough that the single-member .eof rule stays."""
    try:
        if ctype == "application/x-compress":
            from open_semantic_etl_spark.operators.compressz import unlzw

            return unlzw(data, cap=_DECOMPRESS_CAP)
        if ctype == "application/gzip":
            import zlib

            out = bytearray()
            while data:
                obj = zlib.decompressobj(16 + zlib.MAX_WBITS)
                out += obj.decompress(data, _DECOMPRESS_CAP + 1 - len(out))
                if len(out) > _DECOMPRESS_CAP or not obj.eof:
                    # bomb / truncated member: indexing half a document
                    # as if complete is worse than the container label
                    return None
                data = obj.unused_data
                if data and data[:2] != b"\x1f\x8b":
                    # non-gzip tail after a complete member (tape
                    # blocking / sector NUL padding): gzip(1) keeps the
                    # decoded output with only a warning — so do we
                    break
            return bytes(out)
        if ctype in ("application/zstd", "application/x-lz4"):
            codec = "zstd" if ctype == "application/zstd" else "lz4"
            return arrow_stream_decompress(data, codec, _DECOMPRESS_CAP)
        if ctype == "application/x-snappy-framed":
            from open_semantic_etl_spark.operators.snappyf import (
                unsnappy_frames,
            )

            return unsnappy_frames(data, cap=_DECOMPRESS_CAP)
        if ctype == "application/x-bzip2":
            import bz2

            obj = bz2.BZ2Decompressor()
        elif ctype == "application/x-lzma":
            import lzma

            # legacy .lzma "alone" container (lzma(1)/xz --format=lzma)
            obj = lzma.LZMADecompressor(format=lzma.FORMAT_ALONE)
        else:
            import lzma

            obj = lzma.LZMADecompressor()
        out = obj.decompress(data, _DECOMPRESS_CAP + 1)
        if len(out) > _DECOMPRESS_CAP:
            return None
        if not obj.eof:
            # truncated stream (see gzip note — .eof is the tell)
            return None
        return out
    except Exception:  # noqa: BLE001 — corrupt stream: not transparent
        return None


def sniff_content_type(data: bytes) -> str | None:
    """Magic-byte + NUL-ratio sniff; None means 'treat as text/html'."""
    for magic, ctype in _MAGIC:
        if data.startswith(magic):
            return ctype
    if len(data) >= 263 and data[257:262] == b"ustar":
        return "application/x-tar"  # POSIX magic sits at byte 257
    if (
        data[:6] in (b"070701", b"070702", b"070707")
        and len(data) >= 76
        and _CPIO_HEX_RE.match(data[6:76])
    ):
        # the cpio magics are plain ASCII digits, so prose CAN start
        # with them — require the whole following header to be ASCII
        # hex (newc) / octal (odc) before claiming the label
        return "application/x-cpio"
    if len(data) > 16 * 2048:
        # ECMA-119 descriptor @ sector 16 (operators/iso9660.py sniff_iso)
        from open_semantic_etl_spark.operators.iso9660 import sniff_iso

        if sniff_iso(data):
            return "application/x-iso9660-image"
    if data.startswith(b"From ") and _MBOX_FROM_RE.match(data):
        return "application/mbox"  # From_ envelope line w/ asctime year
    if data[:3] == b"ORC" and len(data) >= 8 and data[-4:-1] == b"ORC":
        # ORC's head magic is 3 ASCII bytes ("ORCHESTRA…" prose would
        # match) — the spec's postscript-tail magic gates it too
        return "application/x-orc"
    if data[:4] == b"PAR1" and len(data) >= 12 and data[-4:] == b"PAR1":
        # parquet: ASCII head magic alone would match prose — the
        # format's footer magic (last 4 bytes) gates it too
        return "application/vnd.apache.parquet"
    if data[:1] and data[0] in _DBF_VERSIONS and sniff_dbf(data):
        return "application/x-dbf"  # structural, no magic (see sniff_dbf)
    if data[:4] == b"MSCF":
        # "MSCF" is printable prose-capable — version + header
        # arithmetic gate it (operators/cab.py sniff_cab)
        from open_semantic_etl_spark.operators.cab import sniff_cab

        if sniff_cab(data):
            return "application/vnd.ms-cab-compressed"
    if data[:2] == b"\x60\xea":
        from open_semantic_etl_spark.operators.arj import sniff_arj

        if sniff_arj(data):
            return "application/x-arj"
    if data[:3] == b"\x5d\x00\x00" and len(data) >= 13 and data[12] in (0, 0xFF):
        # legacy .lzma "alone" header: default props byte 0x5d + a
        # ≥64 KB dict size (low bytes zero) + the u64 size field's top
        # byte (0x00 when known < 2^56, 0xff when unknown) — the same
        # three-point structural gate file(1) uses; there is no magic
        return "application/x-lzma"
    if data.startswith((b"\xff\xfe", b"\xfe\xff", b"\xef\xbb\xbf")):
        return None  # UTF BOM — text, even though UTF-16 bytes contain NULs
    head = data[:4096]
    if b"\x00" in head:
        return "application/octet-stream"
    return None


def decode_html(data: bytes) -> tuple[str, str]:
    """Decode page bytes per the contract; returns (text, encoding_name)."""
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", "replace"), "utf-8-sig"
    if data.startswith(b"\xff\xfe"):
        return data[2:].decode("utf-16-le", "replace"), "utf-16-le"
    if data.startswith(b"\xfe\xff"):
        return data[2:].decode("utf-16-be", "replace"), "utf-16-be"
    m = _CHARSET_RE.search(data[:2048])
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        try:
            return data.decode(enc), enc
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return data.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        return data.decode("latin-1"), "latin-1"


def _norm(s: str) -> str:
    return " ".join(s.split())


class _Block:
    __slots__ = ("frags", "link_chars", "boiler")

    def __init__(self, boiler: bool) -> None:
        self.frags: list[str] = []
        self.link_chars = 0
        self.boiler = boiler


class _ContentParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, float, bool]] = []  # (text, linkdens, boiler)
        self._cur: _Block | None = None
        self._boiler_depth = 0
        self._skip_depth = 0
        self._link_depth = 0
        self._in_title = False
        self.title: str | None = None
        self._title_frags: list[str] = []
        self.description: str | None = None
        self.headings: list[str] = []
        self._heading_stack = 0
        self._heading_frags: list[str] = []
        self.links: list[str] = []
        self.meta_ts: datetime | None = None
        self.n_images = 0

    # -- block lifecycle ---------------------------------------------------
    def _flush(self) -> None:
        if self._cur is None:
            return
        raw = "".join(self._cur.frags)
        text = _norm(raw)
        if text:
            dens = self._cur.link_chars / max(len(text), 1)
            self.blocks.append((text, dens, self._cur.boiler))
        self._cur = None

    def _ensure_block(self) -> None:
        if self._cur is None:
            self._cur = _Block(self._boiler_depth > 0)

    # -- parser callbacks ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        code = _TAG_CODE.get(tag)
        if code is None:
            return  # unknown tag: no structural effect
        if code == _C_SKIP:
            self._skip_depth += 1
            return
        if tag == "meta":
            amap = {k.lower(): (v or "") for k, v in attrs}
            key = (amap.get("name") or amap.get("property") or amap.get("http-equiv") or "").lower()
            if key == "description" and amap.get("content"):
                self.description = _norm(amap["content"])
            elif key in _META_DATE_KEYS and amap.get("content") and self.meta_ts is None:
                m = _ISO_TS_RE.search(amap["content"])
                if m:
                    self.meta_ts = datetime(
                        *(int(g) for g in m.groups()), tzinfo=timezone.utc
                    )
            return
        if tag == "img":
            self.n_images += 1
            return
        if tag == "a":
            self._link_depth += 1
            for k, v in attrs:
                if k.lower() == "href" and v:
                    self.links.append(v)
                    break
            return
        if tag == "title":
            self._in_title = True
            return
        if code == _C_BREAK:
            self._flush()
            return
        # block tag
        self._flush()
        if code == _C_BOILER:
            self._boiler_depth += 1
        elif code == _C_HEADING:
            self._heading_stack += 1
            self._heading_frags = []

    def handle_endtag(self, tag: str) -> None:
        code = _TAG_CODE.get(tag)
        if code is None or code == _C_BREAK:
            return
        if code == _C_SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
            return
        if tag == "title":
            self._in_title = False
            if self.title is None:
                self.title = _norm("".join(self._title_frags)) or None
            return
        if tag in ("meta", "img"):
            return
        self._flush()
        if code == _C_BOILER:
            self._boiler_depth = max(0, self._boiler_depth - 1)
        elif code == _C_HEADING and self._heading_stack:
            self._heading_stack -= 1
            h = _norm("".join(self._heading_frags))
            if h:
                self.headings.append(h)
            self._heading_frags = []

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        if self._in_title:
            self._title_frags.append(data)
            return
        if self._heading_stack:
            self._heading_frags.append(data)
        self._ensure_block()
        self._cur.frags.append(data)
        if self._link_depth:
            self._cur.link_chars += len(_norm(data))

    def close(self) -> None:  # final flush
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# fast tokenizer: one regex pass driving the same _ContentParser
# callbacks — ~4× faster than html.parser's state machine, identical
# observable behavior on the contract (equivalence pinned in tests;
# extract_html falls back to html.parser on any scanner error).
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"  # comments (unterminated → rest of doc)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>"  # doctype / declarations
    r"|<\?[^>]*>"  # processing instructions
    r"|</\s*([a-zA-Z][-\w:.]*)[^>]*>"  # end tag    → group 1
    # start tag name charset = html.parser's tagfind_tolerant (anything
    # but whitespace, '/', '>', NUL — so '<a</p>' names the tag 'a<').
    # Attr region stops at the FIRST '>' (fast path); _fast_feed
    # re-matches with _START_PRECISE when the span shows an unbalanced
    # quote — the signature of '>' inside a quoted value, which
    # html.parser's locatetagend honors.
    r"|<([a-zA-Z][^\t\n\r\f />\x00]*)([^>]*)>"  # start tag → groups 2,3
    r"|[^<]+"  # text run
    r"|<",  # stray '<' → text (html.parser behavior)
    re.DOTALL,
)
# quote-aware start tag for the rare unbalanced-quote re-match. Known
# divergence left: a quote character quoted by the OTHER kind plus a
# later in-quote '>' can keep counts even and skip the re-match.
_START_PRECISE = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>",
    re.DOTALL,
)

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-\w:.]*)(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*)))?"""
)
# the only tag whose attributes need a full parse (name/property/
# http-equiv/content map); <a> needs just href, <img> none
_ATTR_TAGS = frozenset(("meta",))
# (?<![-\w]) anchors the attribute NAME: `data-href="x"` must not
# match, or the fast scanner would emit a link html.parser does not
_HREF_RE = re.compile(
    r"""(?<![-\w])href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE
)
# rawtext elements: html.parser switches to CDATA mode for exactly these
_RAWTEXT_END = {
    "script": re.compile(r"</script[^>]*>", re.IGNORECASE),
    "style": re.compile(r"</style[^>]*>", re.IGNORECASE),
}

import html as _htmlmod


def _parse_attrs(attrstr: str) -> list[tuple[str, str | None]]:
    attrs = []
    for m in _ATTR_RE.finditer(attrstr):
        name = m.group(1).lower()
        if name == "/":
            continue
        val = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        if val is not None and "&" in val:
            val = _htmlmod.unescape(val)
        attrs.append((name, val))
    return attrs


def _fast_feed(parser: _ContentParser, text: str) -> None:
    pos, n = 0, len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        start = pos
        pos = m.end()
        li = m.lastindex
        if li is None:
            # text run, stray '<', or comment/doctype/PI (no callback)
            if text[start] != "<":
                tok = m.group(0)
                parser.handle_data(_htmlmod.unescape(tok) if "&" in tok else tok)
            elif pos - start == 1:
                parser.handle_data("<")
            continue
        if li == 1:
            parser.handle_endtag(m.group(1).lower())
            continue
        tag = m.group(2).lower()
        attrstr = m.group(3) or ""
        if ('"' in attrstr or "'" in attrstr) and (
            attrstr.count('"') % 2 or attrstr.count("'") % 2
        ):
            pm = _START_PRECISE.match(text, start)
            if pm:
                pos = pm.end()
                tag = pm.group(1).lower()
                attrstr = pm.group(2)
        if not attrstr:
            attrs = []
        elif tag in _ATTR_TAGS:
            attrs = _parse_attrs(attrstr.rstrip("/"))
        elif tag == "a":
            hm = _HREF_RE.search(attrstr)
            if hm:
                val = hm.group(1) or hm.group(2) or hm.group(3) or ""
                if "&" in val:
                    val = _htmlmod.unescape(val)
                attrs = [("href", val)]
            else:
                attrs = []
        else:
            attrs = []
        parser.handle_starttag(tag, attrs)
        if attrstr.rstrip().endswith("/"):
            parser.handle_endtag(tag)  # handle_startendtag equivalent
        elif tag in _RAWTEXT_END:
            em = _RAWTEXT_END[tag].search(text, pos)
            # content is suppressed (skip tags); jump past the close
            if em:
                pos = em.end()
                parser.handle_endtag(tag)
            else:
                pos = n


#: the office-result shape every document extractor returns
#: (operators/office.py, cfb.py, media.py); ``_adopt`` copies it
_DOC_FIELDS = ("content", "title", "author", "content_type", "n_blocks", "ok", "err")
#: what a media extractor reads beyond that shape
_MEDIA_FIELDS = ("description", "width", "height", "duration_ms", "datetime")


def _adopt(res: dict, doc: dict) -> dict:
    """``res`` carrying the extractor result ``doc``: a document
    extractor keeps every block it reads."""
    for k in _DOC_FIELDS:
        res[k] = doc[k]
    res["n_kept_blocks"] = doc["n_blocks"]
    return res


def _operators(module: str):
    return importlib.import_module(f"open_semantic_etl_spark.operators.{module}")


#: the document extractor for each ``sniff_content_type`` label that
#: names one, looked up when a payload carries that label: only such a
#: payload imports office/cfb, never an HTML, PDF or gzip page
_LABEL_EXTRACTORS = {
    # office documents are zips of XML (DOCX/XLSX/PPTX/ODT/EPUB/XPS/…);
    # a non-office zip keeps the container label and flows to the
    # zip-explode operator instead
    "application/zip": lambda: _operators("office").extract_office,
    # legacy OLE family (.doc/.xls/.ppt/.msg) and TNEF (winmail.dat)
    "application/x-ole-storage": lambda: _operators("cfb").extract_cfb,
    "application/vnd.ms-tnef": lambda: _operators("cfb").extract_tnef,
    # binary property list (the XML form takes the XML-root route)
    "application/x-plist": lambda: _operators("office").extract_plist,
}


def _xml_root_doc(data: bytes) -> dict | None:
    """SVG / FictionBook2 raw-XML root (Tika SVGParser /
    FictionBookParser parity); None = not one of these roots, keep the
    generic XML handling."""
    from open_semantic_etl_spark.operators.office import extract_fb2, extract_svg

    return extract_svg(data) or extract_fb2(data)


def _iso_to_dt(s: str | None) -> "datetime | None":
    """'YYYY-MM-DDTHH:MM:SSZ' → aware datetime (the meta_ts struct
    field is a TimestampType — a str would break the Arrow crossing
    in the fused stage, which the HTML path never exercises)."""
    if not s:
        return None
    try:
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def extract_html(data: bytes | None, _depth: int = 0) -> dict:
    """Run the full contract over raw page bytes.

    Returns a dict holding schema.EXTRACT_RESULT_TYPE's fields plus
    what the chosen extractor read beyond them: ``author`` (Tika's
    dc:creator → author_ss), and for media ``width``, ``height``,
    ``duration_ms`` and ``datetime`` (ISO str).  This is the one
    function that picks a document's extractor (content-type sniffing
    ≈ enhance_mimetype.py:27-35): by ``sniff_content_type``'s label
    (``_LABEL_EXTRACTORS``), else by the ordered rules below — media
    magic, the ``{\\rtf`` prefix, the RFC 822 gate, PDF, the XML root.
    Single-member gzip/bzip2/xz payloads are transparently
    decompressed (size-capped) and re-dispatched, at most twice
    (``_depth`` — nested-bomb guard).
    """
    res = {
        "content": "",
        "title": None,
        "description": None,
        "content_type": "text/html",
        "encoding": None,
        "links": [],
        "headings": [],
        "meta_ts": None,
        "n_blocks": 0,
        "n_kept_blocks": 0,
        "needs_ocr": False,
        "n_images": 0,
        "ok": True,
        "err": None,
        "author": None,
        "width": None,
        "height": None,
        "duration_ms": None,
        "datetime": None,
    }
    try:
        if not data:
            res["content_type"] = None
            return res
        sniffed = sniff_content_type(data)
        # the reference gets every one of these from Tika
        # (enhance_extract_text_tika_server.py:33-262)
        if sniffed in _LABEL_EXTRACTORS:
            doc = _LABEL_EXTRACTORS[sniffed]()(data)
            if doc is not None:
                return _adopt(res, doc)
        if sniffed in _COMPRESSED_TYPES and _depth < 2:
            inner = _decompress_member(data, sniffed)
            if inner is not None and not inner.startswith(b"WARC/"):
                # the inner document IS the document (x.html.gz → html);
                # WARC members stay containers for the warc-explode path
                return extract_html(inner, _depth + 1)
            res["content_type"] = sniffed
            return res
        if sniffed == "application/applefile" and _depth < 2:
            # AppleSingle embeds the real file as its data fork (Tika
            # AppleSingleFileParser); AppleDouble "._" sidecars carry
            # metadata only and keep the container label
            try:
                fork, real_name = applesingle_fork(data)
            except ValueError:
                fork, real_name = None, None
            if fork:
                inner = extract_html(fork, _depth + 1)
                if not inner["title"] and real_name:
                    inner["title"] = real_name
                return inner
            res["content_type"] = sniffed
            if real_name:
                res["title"] = real_name
            return res
        from open_semantic_etl_spark.operators.media import (
            OCR_IMAGE_TYPES,
            extract_media,
        )

        # image/audio/video metadata tier (reference: Tika surfaces
        # EXIF/ID3/container metadata for media payloads — its test
        # pins content_type_ss == 'image/jpeg' etc.); pixel/sample
        # DECODE stays behind the multimodal seam, but dims, EXIF
        # title/author/date, ID3 tags, durations are plain struct
        # parsing (operators/media.py). Raster images additionally
        # flag needs_ocr — the reference's enhance_ocr tesseracts
        # exactly these content types.
        mr = extract_media(data)
        if mr is not None:
            _adopt(res, mr)
            for k in _MEDIA_FIELDS:
                res[k] = mr[k]
            res["meta_ts"] = _iso_to_dt(mr["datetime"])
            if mr["content_type"] in OCR_IMAGE_TYPES:
                res["needs_ocr"] = True
                res["n_images"] = 1
            return res
        if data.startswith(b"{\\rtf"):
            # before the generic sniff early-return: an RTF with \binN
            # embedded picture bytes carries NULs in its head and would
            # otherwise mis-sniff as octet-stream — the `{\rtf` prefix
            # at offset 0 is decisive
            from open_semantic_etl_spark.operators.office import extract_rtf

            return _adopt(res, extract_rtf(data))
        if sniffed and sniffed != "application/pdf":
            res["content_type"] = sniffed
            return res
        if (
            sniffed is None
            and _RFC822_FIRST_RE.match(data)
            and _MIME_VERSION_RE.search(data[:4096])
            and _MIME_CTYPE_RE.search(data[:4096])
        ):
            # a standalone .eml / saved-as-MHTML web page (.mht is a
            # multipart/related message whose text/html part is the
            # page): body via the mail parser, title from Subject —
            # Tika hands both to its RFC822Parser on this same path
            from open_semantic_etl_spark.operators.eml import parse_eml

            pe = parse_eml(data)
            res["content_type"] = "message/rfc822"
            res["content"] = pe["content_txt"] or ""
            res["title"] = pe["subject_txt"]
            # the sender, as the .msg / TNEF routes report it
            res["author"] = (pe["message_from_ss"] or [None])[0]
            res["meta_ts"] = _iso_to_dt(pe["message_dt"])
            res["n_blocks"] = 1 if res["content"] else 0
            res["n_kept_blocks"] = res["n_blocks"]
            res["ok"] = pe["ok"]
            res["err"] = pe["err"]
            return res
        if sniffed == "application/pdf":
            from open_semantic_etl_spark.operators.pdfio import parse_pdf

            pr = parse_pdf(data)
            res["content_type"] = "application/pdf"
            res["content"] = "\n".join(_norm(p) for p in (pr["pages"] or []))
            res["title"] = pr["title"]
            res["author"] = pr["author"]
            res["n_blocks"] = pr["npages"] or 0
            res["n_kept_blocks"] = len(pr["pages"] or [])
            res["n_images"] = pr["n_images"]
            res["needs_ocr"] = pr["n_images"] > 0
            res["ok"] = pr["ok"]
            res["err"] = pr["err"]
            return res
        text, enc = decode_html(data)
        res["encoding"] = enc
        head = text[:512].lstrip().lower()
        if head.startswith("<?xml") and "xhtml" in text[:2048].lower():
            res["content_type"] = "application/xhtml+xml"
        elif (
            head.startswith("<?xml") or head.startswith("<!doctype plist")
        ) and "<html" not in text[:2048].lower():
            if "<plist" in text[:1024] or head.startswith("<!doctype plist"):
                # XML property list: same structured render as the
                # bplist00 route (Tika PListParser covers both forms)
                from open_semantic_etl_spark.operators.office import extract_plist

                pl = extract_plist(data)
                if pl is not None:
                    return _adopt(res, pl)
            doc = _xml_root_doc(data)
            if doc is not None:
                return _adopt(res, doc)
            # generic XML document (feed bytes, sitemaps, arbitrary
            # exports): honest Tika-style label; the text pull itself
            # is unchanged (structured handling lives in the rdf/feeds
            # operators, which parse these bytes properly)
            res["content_type"] = "application/xml"
        elif head.startswith(("<svg", "<fictionbook")):
            # raw-XML document formats without an <?xml prologue — the
            # root-name gate inside keeps lookalike tags on the HTML path
            doc = _xml_root_doc(data)
            if doc is not None:
                return _adopt(res, doc)
            res["content_type"] = "application/xml"
        elif not _TAG_HINT_RE.search(text):
            vo = _vobject_sniff(text)
            if vo is not None:
                # iCalendar / vCard: unfold, label, title from the
                # display property; whole body stays one block (same
                # contract as text/plain below)
                _, res["content_type"], titleprop = vo
                body, res["title"] = _vobject_extract(text, titleprop)
                res["content"] = body.strip()
                res["n_blocks"] = 1
                res["n_kept_blocks"] = 1
                return res
            # tag-free payload (plain text / markdown): the parser sees
            # the whole body as ONE block (contract-tested in
            # test_html_extract), and the label says what Tika would
            res["content_type"] = "text/plain"
        parser = _ContentParser()
        try:
            _fast_feed(parser, text)
            parser._flush()
        except Exception:  # noqa: BLE001 — scanner edge case → robust path
            parser = _ContentParser()
            parser.feed(text)
        parser.close()
        res["title"] = parser.title
        res["description"] = parser.description
        res["headings"] = parser.headings
        res["links"] = parser.links
        res["meta_ts"] = parser.meta_ts
        res["n_images"] = parser.n_images
        res["needs_ocr"] = parser.n_images > 0
        res["n_blocks"] = len(parser.blocks)
        kept = [
            t
            for (t, dens, boiler) in parser.blocks
            if not boiler and dens <= MAX_LINK_DENSITY and len(t) >= MIN_BLOCK_CHARS
        ]
        if not kept:
            candidates = [
                t
                for (t, dens, boiler) in parser.blocks
                if not boiler and dens <= MAX_LINK_DENSITY
            ]
            if candidates:
                kept = [max(candidates, key=len)]
        res["n_kept_blocks"] = len(kept)
        res["content"] = "\n".join(kept)
        return res
    except Exception as e:  # noqa: BLE001 — per-row error column, keep going
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
        return res
