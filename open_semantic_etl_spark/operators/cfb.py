"""OLE Compound File (CFB) container + legacy Office text extraction.

The reference pipes every rich-document format through a Tika server
(reference: src/opensemanticetl/enhance_extract_text_tika_server.py:33-262),
which covers the legacy OLE family — Word 97-2003 ``.doc``, Excel ``.xls``,
PowerPoint ``.ppt`` and Outlook ``.msg``.  This module is the engine-native
replacement for that tier: a pure-Python Compound File Binary parser
([MS-CFB]) plus per-format text pulls —

- ``.doc``  — FIB + piece table ([MS-DOC] 2.4.1 "Retrieving Text"):
  CLX in the 0Table/1Table stream, PCDs with 8-bit (cp1252) and
  UTF-16LE pieces, field-code skipping, main-document cp range only.
- ``.xls``  — BIFF8 ([MS-XLS]): SST (with CONTINUE-record splits and
  per-boundary grbit re-statement), LABELSST / NUMBER / RK cells.
- ``.ppt``  — PowerPoint binary ([MS-PPT]): record-container walk,
  TextCharsAtom / TextBytesAtom in document order.
- ``.msg``  — Outlook item ([MS-OXMSG]): ``__substg1.0_`` property
  streams (subject 0x0037, sender 0x0C1A, body 0x1000, recipient
  display names 0x3001).

Title/author parity with the reference's Tika fields comes from the
``\\x05SummaryInformation`` property-set stream ([MS-OLEPS]; PIDSI
title=2, author=4), same as Tika's OfficeParser metadata.

Every public entry point is a TOTAL function over ``bytes`` — malformed
input yields ``ok=False`` + ``err`` (or a best-effort partial text),
never an exception (fuzz-pinned in tests/test_cfb.py), because one
poison document must not fail a 10^12-row Spark task.  The builders at
the bottom generate deterministic fixtures for tests and the DuckDB
oracle (same pattern as office.py build_docx/build_xlsx).
"""

from __future__ import annotations

import struct

__all__ = [
    "CFB_MAGIC",
    "parse_cfb",
    "extract_cfb",
    "build_cfb",
    "build_doc",
    "build_xls",
    "build_ppt",
    "build_msg",
    "TNEF_MAGIC",
    "extract_tnef",
    "build_tnef",
]

CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_NOSTREAM = 0xFFFFFFFF

_MAX_SECTORS = 1 << 20       # 512 MB of 512-byte sectors — loop guard
_MAX_DIR_ENTRIES = 1 << 16
_MAX_STREAM_BYTES = 1 << 28  # cap any single stream read at 256 MB

_U16 = struct.Struct("<H")
_U32 = struct.Struct("<I")


def _u16(b: bytes, off: int) -> int:
    return _U16.unpack_from(b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return _U32.unpack_from(b, off)[0]


# ---------------------------------------------------------------------------
# container parse
# ---------------------------------------------------------------------------


def parse_cfb(data: bytes) -> dict[tuple[str, ...], bytes]:
    """CFB container → ``{path_tuple: stream_bytes}``.

    Path tuples carry storage names (``.msg`` recipient storages nest);
    top-level streams have 1-tuples.  Raises ValueError on structural
    corruption — ``extract_cfb`` wraps this into the total contract.
    """
    if len(data) < 512 or not data.startswith(CFB_MAGIC):
        raise ValueError("not a compound file")
    major = _u16(data, 26)
    shift = _u16(data, 30)
    mini_shift = _u16(data, 32)
    if major not in (3, 4) or shift not in (9, 12) or mini_shift != 6:
        raise ValueError(f"unsupported CFB version/sector size {major}/{shift}")
    ssz = 1 << shift
    per_sect = ssz // 4
    mini_cutoff = _u32(data, 56)
    dir_start = _u32(data, 48)
    minifat_start = _u32(data, 60)
    difat_start = _u32(data, 68)

    def sector(i: int) -> bytes:
        off = (i + 1) * ssz
        if i >= _MAX_SECTORS or off + ssz > len(data):
            raise ValueError(f"sector {i} out of file")
        return data[off : off + ssz]

    # DIFAT: 109 header slots, then chained DIFAT sectors
    fat_ids: list[int] = [
        _u32(data, 76 + 4 * i) for i in range(109)
    ]
    seen_difat: set[int] = set()
    s = difat_start
    while s not in (_ENDOFCHAIN, _FREESECT):
        if s in seen_difat or len(seen_difat) > 4096:
            raise ValueError("DIFAT loop")
        seen_difat.add(s)
        blk = sector(s)
        fat_ids.extend(_u32(blk, 4 * i) for i in range(per_sect - 1))
        s = _u32(blk, ssz - 4)
    fat: list[int] = []
    for fid in fat_ids:
        if fid in (_FREESECT, _ENDOFCHAIN):
            continue
        fat.extend(v for (v,) in _U32.iter_unpack(sector(fid)))

    def chain(start: int) -> bytes:
        out = bytearray()
        seen: set[int] = set()
        s = start
        while s != _ENDOFCHAIN:
            if s in seen or s >= len(fat) or len(out) > _MAX_STREAM_BYTES:
                raise ValueError("FAT chain loop/overrun")
            seen.add(s)
            out += sector(s)
            s = fat[s]
        return bytes(out)

    dir_raw = chain(dir_start)
    entries = []
    for off in range(0, min(len(dir_raw), _MAX_DIR_ENTRIES * 128), 128):
        ent = dir_raw[off : off + 128]
        if len(ent) < 128:
            break
        name_len = _u16(ent, 64)
        etype = ent[66]
        if etype == 0 or name_len < 2 or name_len > 64:
            entries.append(None)
            continue
        entries.append(
            {
                "name": ent[: name_len - 2].decode("utf-16-le", "replace"),
                "type": etype,
                "left": _u32(ent, 68),
                "right": _u32(ent, 72),
                "child": _u32(ent, 76),
                "start": _u32(ent, 116),
                "size": struct.unpack_from("<Q", ent, 120)[0],
            }
        )
    if not entries or entries[0] is None or entries[0]["type"] != 5:
        raise ValueError("missing root directory entry")

    root = entries[0]
    mini_stream = b""
    minifat: list[int] = []
    if root["size"] and root["start"] != _ENDOFCHAIN:
        mini_stream = chain(root["start"])[: root["size"]]
    if minifat_start not in (_ENDOFCHAIN, _FREESECT):
        raw = chain(minifat_start)
        minifat = [v[0] for v in _U32.iter_unpack(raw)]

    def mini_chain(start: int, size: int) -> bytes:
        out = bytearray()
        seen: set[int] = set()
        s = start
        while s != _ENDOFCHAIN and len(out) < size:
            if s in seen or s >= len(minifat):
                raise ValueError("miniFAT chain loop/overrun")
            seen.add(s)
            out += mini_stream[64 * s : 64 * (s + 1)]
            s = minifat[s]
        return bytes(out[:size])

    def read_stream(ent: dict) -> bytes:
        size = min(ent["size"], _MAX_STREAM_BYTES)
        if size == 0:
            return b""
        if size < mini_cutoff:
            return mini_chain(ent["start"], size)
        return chain(ent["start"])[:size]

    # red-black sibling tree walk (left/right/child), iterative + guarded
    streams: dict[tuple[str, ...], bytes] = {}
    visited: set[int] = set()
    stack: list[tuple[int, tuple[str, ...]]] = [(root["child"], ())]
    while stack:
        idx, prefix = stack.pop()
        if idx == _NOSTREAM or idx >= len(entries) or idx in visited:
            continue
        visited.add(idx)
        ent = entries[idx]
        if ent is None:
            continue
        stack.append((ent["left"], prefix))
        stack.append((ent["right"], prefix))
        path = prefix + (ent["name"],)
        if ent["type"] == 2:
            streams[path] = read_stream(ent)
        elif ent["type"] == 1:
            stack.append((ent["child"], path))
    return streams


# ---------------------------------------------------------------------------
# [MS-OLEPS] SummaryInformation (title / author)
# ---------------------------------------------------------------------------

_PIDSI_TITLE = 2
_PIDSI_AUTHOR = 4
_VT_I2 = 2
_VT_LPSTR = 30
_VT_LPWSTR = 31

_FMTID_SUMMARY = bytes.fromhex("e0859ff2f94f6810ab9108002b27b3d9")


def _parse_summary_info(blob: bytes) -> tuple[str | None, str | None]:
    """Best-effort (title, author) from a property-set stream."""
    try:
        if len(blob) < 48 or _u16(blob, 0) != 0xFFFE:
            return None, None
        n_sections = _u32(blob, 24)
        if n_sections < 1:
            return None, None
        sec_off = _u32(blob, 44)  # first section's offset
        cprops = _u32(blob, sec_off + 4)
        if cprops > 4096:
            return None, None
        idx = [
            (_u32(blob, sec_off + 8 + 8 * i), _u32(blob, sec_off + 12 + 8 * i))
            for i in range(cprops)
        ]
        codepage = "cp1252"
        vals: dict[int, str] = {}
        for pid, rel in idx:
            off = sec_off + rel
            vt = _u32(blob, off)
            if pid == 1 and vt == _VT_I2:
                cp = _u16(blob, off + 4)
                codepage = {1200: "utf-16-le", 65001: "utf-8"}.get(cp, f"cp{cp}")
            elif vt == _VT_LPSTR:
                n = _u32(blob, off + 4)
                raw = blob[off + 8 : off + 8 + n].split(b"\x00", 1)[0]
                try:
                    vals[pid] = raw.decode(codepage, "replace")
                except LookupError:
                    vals[pid] = raw.decode("cp1252", "replace")
            elif vt == _VT_LPWSTR:
                n = _u32(blob, off + 4)
                raw = blob[off + 8 : off + 8 + 2 * n]
                vals[pid] = raw.decode("utf-16-le", "replace").split("\x00", 1)[0]
        return vals.get(_PIDSI_TITLE) or None, vals.get(_PIDSI_AUTHOR) or None
    except Exception:  # noqa: BLE001 — metadata is best-effort
        return None, None


# ---------------------------------------------------------------------------
# [MS-DOC] Word 97-2003 text
# ---------------------------------------------------------------------------


def _doc_raw_text(word: bytes, table: bytes) -> str:
    """Main-document characters via the piece table ([MS-DOC] 2.4.1)."""
    if len(word) < 426 or _u16(word, 0) != 0xA5EC:
        raise ValueError("not a WordDocument stream")
    flags = _u16(word, 10)
    if flags & 0x0100:
        raise ValueError("encrypted .doc")
    ccp_text = _u32(word, 76)
    fc_clx = _u32(word, 418)
    lcb_clx = _u32(word, 422)
    if lcb_clx == 0 or fc_clx + lcb_clx > len(table):
        raise ValueError("missing piece table")
    clx = table[fc_clx : fc_clx + lcb_clx]
    i = 0
    while i < len(clx) and clx[i] == 0x01:  # Prc (property modifiers): skip
        i += 3 + _u16(clx, i + 1)
    if i >= len(clx) or clx[i] != 0x02:
        raise ValueError("CLX has no Pcdt")
    lcb = _u32(clx, i + 1)
    plc = clx[i + 5 : i + 5 + lcb]
    n = (lcb - 4) // 12
    if n <= 0 or len(plc) < lcb:
        raise ValueError("empty piece table")
    cps = [_u32(plc, 4 * k) for k in range(n + 1)]
    out: list[str] = []
    got = 0
    for k in range(n):
        want = min(cps[k + 1], ccp_text) - cps[k]
        if want <= 0:
            break
        fc_field = _u32(plc, 4 * (n + 1) + 8 * k + 2)
        fc = fc_field & 0x3FFFFFFF
        if fc_field & 0x40000000:  # fCompressed: 8-bit cp1252 at fc/2
            raw = word[fc // 2 : fc // 2 + want]
            out.append(raw.decode("cp1252", "replace"))
        else:
            raw = word[fc : fc + 2 * want]
            out.append(raw.decode("utf-16-le", "replace"))
        got += want
        if got >= ccp_text:
            break
    return "".join(out)[:ccp_text]


def _doc_visible_text(raw: str) -> str:
    """Strip field codes, map Word control chars to text.

    Fields nest as 0x13 <code> 0x14 <result> 0x15 — the code section is
    suppressed, the result kept (what Word displays; the reference's
    Tika tier does the same).
    """
    out: list[str] = []
    stack: list[bool] = []  # True while inside a field's CODE section
    for ch in raw:
        o = ord(ch)
        if o == 0x13:
            stack.append(True)
        elif o == 0x14:
            if stack:
                stack[-1] = False
        elif o == 0x15:
            if stack:
                stack.pop()
        elif any(stack):
            continue
        elif o == 0x0D or o == 0x0B or o == 0x0C:
            out.append("\n")
        elif o == 0x07:  # end-of-cell / end-of-row
            out.append("\t")
        elif o == 0x1E:  # non-breaking hyphen
            out.append("-")
        elif o < 0x20 and o != 0x09:
            continue  # pictures, footnote refs, soft hyphens, …
        else:
            out.append(ch)
    return "".join(out)


# ---------------------------------------------------------------------------
# [MS-XLS] BIFF8 cells
# ---------------------------------------------------------------------------


class _Chunks:
    """Reader over an SST record + its CONTINUE records.

    BIFF8 strings may split at a CONTINUE boundary; the continuation
    restates a fresh grbit byte for the remaining characters
    ([MS-XLS] 2.5.293) — the part naive SST readers get wrong.
    """

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def _avail(self) -> int:
        return len(self.chunks[self.ci]) - self.pos

    def eof(self) -> bool:
        while self.ci < len(self.chunks) and self._avail() == 0:
            self.ci += 1
            self.pos = 0
        return self.ci >= len(self.chunks)

    def read(self, n: int) -> bytes:
        """Read n bytes, spanning chunk boundaries transparently."""
        out = bytearray()
        while n > 0 and not self.eof():
            take = min(n, self._avail())
            out += self.chunks[self.ci][self.pos : self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def u8(self) -> int:
        return self.read(1)[0]

    def u16(self) -> int:
        return _u16(self.read(2), 0)

    def u32(self) -> int:
        return _u32(self.read(4), 0)

    def read_xl_string(self) -> str:
        cch = self.u16()
        grbit = self.u8()
        crun = self.u16() if grbit & 0x08 else 0
        cbext = self.u32() if grbit & 0x04 else 0
        high = grbit & 0x01
        parts: list[str] = []
        remaining = cch
        while remaining > 0:
            if self._avail() == 0:
                if self.eof():
                    break
                high = self.u8() & 0x01  # boundary restates the grbit
                continue
            if high:
                take = min(remaining, self._avail() // 2)
                if take == 0:
                    self.read(self._avail())  # odd trailing byte: malformed
                    continue
                parts.append(self.read(2 * take).decode("utf-16-le", "replace"))
            else:
                take = min(remaining, self._avail())
                parts.append(self.read(take).decode("latin-1"))
            remaining -= take
        self.read(4 * crun + cbext)
        return "".join(parts)


def _num_repr(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _rk_value(rk: int) -> float:
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val = float(v)
    else:  # rk bits are the HIGH 30 of an IEEE double, low mantissa zero
        val = struct.unpack("<d", b"\x00" * 4 + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return val / 100.0 if rk & 0x01 else val


#: BIFF BErr error codes ([MS-XLS] 2.5.10)
_XLS_ERRORS = {
    0x00: "#NULL!", 0x07: "#DIV/0!", 0x0F: "#VALUE!", 0x17: "#REF!",
    0x1D: "#NAME?", 0x24: "#NUM!", 0x2A: "#N/A",
}


def _xl_inline_str(body: bytes, off: int, biff5: bool) -> str:
    """inline cell string: BIFF8 XLUnicodeString (cch, grbit, chars) or
    BIFF5 byte string (cch, cp1252 bytes) — LABEL/STRING records."""
    if off + 2 > len(body):
        return ""
    cch = _u16(body, off)
    if biff5:
        return body[off + 2 : off + 2 + cch].decode("cp1252", "replace")
    if off + 3 > len(body):
        return ""
    grbit = body[off + 2]
    p = off + 3
    if grbit & 0x08:  # rich-text run count
        p += 2
    if grbit & 0x04:  # far-east ext size
        p += 4
    if grbit & 0x01:
        return body[p : p + 2 * cch].decode("utf-16-le", "replace")
    return body[p : p + cch].decode("latin-1")


def _xls_lines(workbook: bytes) -> list[str]:
    """Cell text lines (tab-joined per row, sheets in file order).

    Beyond LABELSST/NUMBER/RK/BOOLERR, real Excel writers also emit
    MULRK (one record per run of >=2 consecutive numeric cells), LABEL
    (inline string — the ONLY text record BIFF5/Excel-95 has), and
    FORMULA with its cached result (string results arrive in the
    following STRING record) — without these a real .xls row [1, 2, 3]
    extracted as an empty row and formula cells vanished."""
    sst: list[str] = []
    cells: dict[tuple[int, int, int], str] = {}
    sheet = -1  # globals substream first; worksheet BOFs increment
    i = 0
    biff5 = False
    pending_formula: tuple[int, int, int] | None = None
    pending_sst: list[bytes] | None = None
    while i + 4 <= len(workbook):
        rec, ln = _u16(workbook, i), _u16(workbook, i + 2)
        if rec == 0 and ln == 0:
            break
        body = workbook[i + 4 : i + 4 + ln]
        i += 4 + ln
        if rec == 0x003C and pending_sst is not None:  # CONTINUE
            pending_sst.append(body)
            continue
        if pending_sst is not None:  # SST block closed: parse it
            rd = _Chunks(pending_sst)
            rd.read(8)  # cstTotal, cstUnique
            while not rd.eof():
                sst.append(rd.read_xl_string())
            pending_sst = None
        if rec == 0x00FC:  # SST (may be continued)
            pending_sst = [body]
        elif rec == 0x0809 and len(body) >= 4:  # BOF
            if _u16(body, 0) < 0x0600:  # 0x0500 = BIFF5/7 (Excel 5/95)
                biff5 = True
            if _u16(body, 2) == 0x0010:
                sheet += 1
        elif rec == 0x00FD and len(body) >= 10:  # LABELSST
            rw, col, isst = _u16(body, 0), _u16(body, 2), _u32(body, 6)
            if 0 <= isst < len(sst):
                cells[(sheet, rw, col)] = sst[isst]
        elif rec == 0x0203 and len(body) >= 14:  # NUMBER
            rw, col = _u16(body, 0), _u16(body, 2)
            cells[(sheet, rw, col)] = _num_repr(
                struct.unpack_from("<d", body, 6)[0]
            )
        elif rec == 0x027E and len(body) >= 10:  # RK
            rw, col = _u16(body, 0), _u16(body, 2)
            cells[(sheet, rw, col)] = _num_repr(_rk_value(_u32(body, 6)))
        elif rec == 0x0205 and len(body) >= 8:  # BOOLERR
            rw, col, v, is_err = _u16(body, 0), _u16(body, 2), body[6], body[7]
            if is_err:
                cells[(sheet, rw, col)] = _XLS_ERRORS.get(v, "#ERR!")
            else:
                cells[(sheet, rw, col)] = "TRUE" if v else "FALSE"
        elif rec == 0x00BD and len(body) >= 12:  # MULRK (run of RK cells)
            rw, col0 = _u16(body, 0), _u16(body, 2)
            n = (len(body) - 6) // 6
            for k in range(n):
                cells[(sheet, rw, col0 + k)] = _num_repr(
                    _rk_value(_u32(body, 4 + 6 * k + 2))
                )
        elif rec in (0x0204, 0x00D6) and len(body) >= 8:  # LABEL / RSTRING
            rw, col = _u16(body, 0), _u16(body, 2)
            cells[(sheet, rw, col)] = _xl_inline_str(body, 6, biff5)
        elif rec == 0x0006 and len(body) >= 16:  # FORMULA (cached result)
            rw, col = _u16(body, 0), _u16(body, 2)
            if _u16(body, 12) == 0xFFFF:  # non-numeric sentinel
                kind = body[6]
                if kind == 0:  # string: text follows in a STRING record
                    pending_formula = (sheet, rw, col)
                elif kind == 1:  # boolean
                    cells[(sheet, rw, col)] = "TRUE" if body[8] else "FALSE"
                elif kind == 2:  # error
                    cells[(sheet, rw, col)] = _XLS_ERRORS.get(body[8], "#ERR!")
                # kind 3 = empty string: no cell text
            else:
                cells[(sheet, rw, col)] = _num_repr(
                    struct.unpack_from("<d", body, 6)[0]
                )
        elif rec == 0x0207 and pending_formula is not None:  # STRING
            cells[pending_formula] = _xl_inline_str(body, 0, biff5)
            pending_formula = None
    if pending_sst is not None:  # SST at end of stream
        rd = _Chunks(pending_sst)
        rd.read(8)
        while not rd.eof():
            sst.append(rd.read_xl_string())
    rows: dict[tuple[int, int], dict[int, str]] = {}
    for (sh, rw, col), val in cells.items():
        rows.setdefault((sh, rw), {})[col] = val
    lines = []
    for key in sorted(rows):
        cols = rows[key]
        lines.append("\t".join(cols[c] for c in sorted(cols)))
    return lines


# ---------------------------------------------------------------------------
# [MS-PPT] text atoms
# ---------------------------------------------------------------------------

_PPT_TEXTCHARS = 0x0FA0
_PPT_TEXTBYTES = 0x0FA8


def _ppt_texts(buf: bytes, depth: int = 0, out: list[str] | None = None) -> list[str]:
    if out is None:
        out = []
    if depth > 16:
        return out
    i = 0
    while i + 8 <= len(buf) and len(out) < 65536:
        ver_inst, rtype, ln = struct.unpack_from("<HHI", buf, i)
        body = buf[i + 8 : i + 8 + ln]
        i += 8 + ln
        if (ver_inst & 0x000F) == 0x000F:
            _ppt_texts(body, depth + 1, out)
        elif rtype == _PPT_TEXTCHARS:
            out.append(body.decode("utf-16-le", "replace"))
        elif rtype == _PPT_TEXTBYTES:
            out.append(body.decode("cp1252", "replace"))
    return out


# ---------------------------------------------------------------------------
# [MS-OXMSG] Outlook item properties
# ---------------------------------------------------------------------------


def _msg_prop(
    streams: dict[tuple[str, ...], bytes], pid: str, prefix: tuple[str, ...] = ()
) -> str | None:
    for t in ("001F", "001E"):
        blob = streams.get(prefix + (f"__substg1.0_{pid}{t}",))
        if blob is not None:
            if t == "001F":
                return blob.decode("utf-16-le", "replace").rstrip("\x00")
            return blob.decode("cp1252", "replace").rstrip("\x00")
    return None


# ---------------------------------------------------------------------------
# [MS-OXRTFCP] compressed RTF (the PR_RTF_COMPRESSED 0x1009 body most
# real Outlook items carry instead of a plain-text 0x1000 body)
# ---------------------------------------------------------------------------

#: the spec's 207-byte preloaded dictionary ([MS-OXRTFCP] §2.1.2.1.1)
_LZFU_DICT = (
    b"{\\rtf1\\ansi\\mac\\deff0\\deftab720{\\fonttbl;}"
    b"{\\f0\\fnil \\froman \\fswiss \\fmodern \\fscript "
    b"\\fdecor MS Sans SerifSymbolArialTimes New RomanCourier"
    b"{\\colortbl\\red0\\green0\\blue0\r\n"
    b"\\par \\pard\\plain\\f0\\fs20\\b\\i\\u\\tab\\tx"
)


def _lzfu_decompress(blob: bytes) -> bytes | None:
    """LZFu/MELA stream → raw RTF bytes; None when it is neither.

    LZ77 over a 4096-byte circular dictionary preloaded with the spec
    string, write cursor starting past it; control bits LSB-first,
    0 = literal, 1 = big-endian 12-bit offset + 4-bit (length-2)
    reference; a reference whose offset equals the write cursor
    terminates.  The header CRC is deliberately NOT validated — a
    poison document yields truncated text, never an exception (same
    tolerance as every other extractor here).
    """
    if len(blob) < 16:
        return None
    rawsize = _u32(blob, 4)
    comptype = blob[8:12]
    if comptype == b"MELA":  # stored uncompressed
        return bytes(blob[16 : 16 + rawsize])
    if comptype != b"LZFu" or rawsize > _MAX_STREAM_BYTES:
        return None
    end = min(len(blob), 4 + _u32(blob, 0))
    dic = bytearray(4096)
    dic[: len(_LZFU_DICT)] = _LZFU_DICT
    wpos = len(_LZFU_DICT)
    out = bytearray()
    pos = 16
    while pos < end and len(out) < rawsize:
        ctrl = blob[pos]
        pos += 1
        for bit in range(8):
            if pos >= end or len(out) >= rawsize:
                break
            if ctrl >> bit & 1:
                if pos + 2 > end:  # truncated reference: keep what we have
                    return bytes(out[:rawsize])
                ref = blob[pos] << 8 | blob[pos + 1]
                pos += 2
                offset = ref >> 4
                if offset == wpos:  # terminator
                    return bytes(out)
                for i in range((ref & 0xF) + 2):
                    b = dic[(offset + i) % 4096]
                    out.append(b)
                    dic[wpos] = b
                    wpos = (wpos + 1) % 4096
            else:
                b = blob[pos]
                pos += 1
                out.append(b)
                dic[wpos] = b
                wpos = (wpos + 1) % 4096
    return bytes(out[:rawsize])


#: [MS-OXRTFCP] CRC table — standard reflected poly, init 0, no final
#: xor (NOT zlib.crc32, which inits/xors with 0xFFFFFFFF)
_LZFU_CRC_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0xEDB88320 if _c & 1 else _c >> 1
    _LZFU_CRC_TABLE.append(_c)


def _lzfu_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = (crc >> 8) ^ _LZFU_CRC_TABLE[(crc ^ b) & 0xFF]
    return crc


def _lzfu_compress(raw: bytes) -> bytes:
    """fixture encoder: all-literal items + the terminator reference —
    a valid (if uncompressed) LZFu stream any conforming reader
    accepts. Tests pin the decoder against a hand-built stream with
    dictionary references too (the preload path literals never touch)."""
    body = bytearray()
    for i in range(0, len(raw), 8):
        chunk = raw[i : i + 8]
        body.append(0)  # control byte: 8 literals
        body.extend(chunk)
    wpos = (len(_LZFU_DICT) + len(raw)) % 4096
    body.append(0b00000001)  # one reference item: the terminator
    body.extend(bytes([(wpos >> 4) & 0xFF, (wpos & 0xF) << 4]))
    head = struct.pack("<II4s", len(body) + 12, len(raw), b"LZFu")
    return head + struct.pack("<I", _lzfu_crc(bytes(body))) + bytes(body)


# ---------------------------------------------------------------------------
# [MS-OXTNEF] Transport Neutral Encapsulation Format (winmail.dat —
# what Outlook attaches to RFC-822 mail instead of standard MIME parts)
# ---------------------------------------------------------------------------

TNEF_MAGIC = b"\x78\x9f\x3e\x22"  # LE 0x223E9F78

_ATT_SUBJECT = 0x00018004  # atpString | attSubject
_ATT_BODY = 0x0002800C     # atpText   | attBody
_ATT_MSGPROPS = 0x00069003  # atpByte  | attMsgProps
_ATT_FROM = 0x00008000     # atpTriples | attFrom

_PT_BINARY = 0x0102
_PR_RTF_COMPRESSED = 0x1009
_PR_BODY_HTML = 0x1013


def _tnef_msgprops_binary(blob: bytes, want_id: int) -> bytes | None:
    """first value of a PT_BINARY property in an attMsgProps stream
    (u32 count; per prop u32 tag then type-dependent payload). Stops at
    the first named property (id ≥ 0x8000 carries a GUID block) or any
    structural surprise — we only need the well-known body props, which
    writers put early."""
    if len(blob) < 4:
        return None
    n = _u32(blob, 0)
    pos = 4
    for _ in range(min(n, 512)):
        if pos + 4 > len(blob):
            return None
        tag = _u32(blob, pos)
        pos += 4
        ptype, pid = tag & 0xFFFF, tag >> 16
        if pid >= 0x8000:  # named property: GUID + kind block — bail
            return None
        if ptype in (_PT_BINARY, 0x001E, 0x001F, 0x000D, 0x1102):
            # counted types: u32 value count, each value u32 size + data
            if pos + 4 > len(blob):
                return None
            cnt = _u32(blob, pos)
            pos += 4
            if cnt > 4096:
                return None
            for _v in range(cnt):
                if pos + 4 > len(blob):
                    return None
                size = _u32(blob, pos)
                pos += 4
                if pos + size > len(blob):
                    return None
                val = blob[pos : pos + size]
                pos += size + (-size % 4)
                if pid == want_id and ptype == _PT_BINARY:
                    return val
        elif ptype in (0x0002, 0x000B):  # i2 / bool: padded to 4
            pos += 4
        elif ptype in (0x0003, 0x0004, 0x000A):  # i4 / float / err
            pos += 4
        elif ptype in (0x0005, 0x0006, 0x0007, 0x0014, 0x0040):  # 8-byte
            pos += 8
        elif ptype == 0x0048:  # CLSID
            pos += 16
        else:
            return None
    return None


def extract_tnef(data: bytes) -> dict | None:
    """TNEF stream → office-extraction dict, or None without the magic.

    Subject from attSubject, author from attFrom's address triple, body
    from attBody, else from attMsgProps' PR_RTF_COMPRESSED (through the
    LZFu decoder + RTF scanner) or PR_BODY_HTML (through the HTML
    extractor). Attribute checksums are not validated (tolerant-reader
    policy, same as the LZFu CRC).
    """
    if not isinstance(data, (bytes, bytearray)) or not data.startswith(TNEF_MAGIC):
        return None
    data = bytes(data)
    res = {
        "content": "", "title": None, "author": None,
        "content_type": "application/vnd.ms-tnef",
        "n_blocks": 0, "ok": True, "err": None,
    }
    try:
        pos = 6  # magic + attach key
        body: str | None = None
        rtfc = htmlb = None
        while pos + 9 <= len(data):
            attr = _u32(data, pos + 1)  # level byte, then attribute
            length = _u32(data, pos + 5)
            start = pos + 9
            if length > len(data) - start:
                break  # truncated attribute: keep what we decoded
            val = data[start : start + length]
            pos = start + length + 2  # + checksum
            if attr == _ATT_SUBJECT:
                res["title"] = val.split(b"\x00", 1)[0].decode(
                    "cp1252", "replace"
                ).strip() or None
            elif attr == _ATT_BODY:
                body = val.split(b"\x00", 1)[0].decode("cp1252", "replace")
            elif attr == _ATT_FROM and len(val) >= 8:
                # TRP triple: u16 id, u16 total, u16 cch, u16 cb, then
                # display-name\0 address\0; the address is the 2nd string
                cch = _u16(val, 4)
                addr = val[8 + cch :].split(b"\x00", 1)[0]
                res["author"] = addr.decode("cp1252", "replace").strip() or None
            elif attr == _ATT_MSGPROPS:
                rtfc = _tnef_msgprops_binary(val, _PR_RTF_COMPRESSED)
                htmlb = _tnef_msgprops_binary(val, _PR_BODY_HTML)
        if body is None and rtfc is not None:
            raw = _lzfu_decompress(rtfc)
            if raw is not None and raw.startswith(b"{\\rtf"):
                from open_semantic_etl_spark.operators.office import extract_rtf

                body = extract_rtf(raw)["content"]
        if body is None and htmlb is not None:
            from open_semantic_etl_spark.operators.htmlx import extract_html

            body = extract_html(htmlb)["content"]
        lines = [ln.strip() for ln in (body or "").splitlines() if ln.strip()]
        res["content"] = "\n".join(lines)
        res["n_blocks"] = len(lines)
    except Exception as e:  # noqa: BLE001 — total-function contract
        res["ok"] = False
        res["err"] = f"tnef: {e}"
    return res


# ---------------------------------------------------------------------------
# unified extraction entry point
# ---------------------------------------------------------------------------

_CT_DOC = "application/msword"
_CT_XLS = "application/vnd.ms-excel"
_CT_PPT = "application/vnd.ms-powerpoint"
_CT_MSG = "application/vnd.ms-outlook"
_CT_OLE = "application/x-ole-storage"


def extract_cfb(data: bytes) -> dict | None:
    """bytes → office-extraction dict, or None if not an OLE container.

    Same result shape as office.extract_office (content/title/author/
    content_type/n_blocks/ok/err); TOTAL over bytes with the CFB magic.
    """
    if not isinstance(data, (bytes, bytearray)) or not data.startswith(CFB_MAGIC):
        return None
    res = {
        "content": "", "title": None, "author": None,
        "content_type": _CT_OLE, "n_blocks": 0, "ok": True, "err": None,
    }
    try:
        streams = parse_cfb(bytes(data))
    except Exception as e:  # noqa: BLE001 — total-function contract
        res["ok"] = False
        res["err"] = f"cfb: {e}"
        return res
    top = {p[0] for p in streams}
    try:
        lines: list[str] = []
        if "WordDocument" in top:
            res["content_type"] = _CT_DOC
            word = streams[("WordDocument",)]
            which = "1Table" if _u16(word, 10) & 0x0200 else "0Table"
            table = streams.get((which,), streams.get(("1Table",), b""))
            text = _doc_visible_text(_doc_raw_text(word, table))
            lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
        elif "Workbook" in top or "Book" in top:
            res["content_type"] = _CT_XLS
            wb = streams.get(("Workbook",)) or streams.get(("Book",)) or b""
            lines = _xls_lines(wb)
        elif "PowerPoint Document" in top:
            res["content_type"] = _CT_PPT
            for t in _ppt_texts(streams[("PowerPoint Document",)]):
                t = t.replace("\r", "\n").replace("\x0b", "\n")
                lines.extend(ln.strip() for ln in t.split("\n") if ln.strip())
        elif any(n.startswith(("__substg1.0_", "__properties_")) for n in top):
            res["content_type"] = _CT_MSG
            body = _msg_prop(streams, "1000")
            if body is None:
                # body-format fallback chain, same order Outlook resolves:
                # compressed RTF (0x1009, [MS-OXRTFCP]) then HTML (0x1013)
                rtfc = streams.get(("__substg1.0_10090102",))
                raw = _lzfu_decompress(rtfc) if rtfc is not None else None
                if raw is not None and raw.startswith(b"{\\rtf"):
                    from open_semantic_etl_spark.operators.office import (
                        extract_rtf,
                    )

                    body = extract_rtf(raw)["content"]
                else:
                    html = streams.get(
                        ("__substg1.0_10130102",)
                    ) or streams.get(("__substg1.0_1013001E",))
                    if html is not None:
                        from open_semantic_etl_spark.operators.htmlx import (
                            extract_html,
                        )

                        body = extract_html(bytes(html))["content"]
            body = body or ""
            lines = [ln.strip() for ln in body.splitlines() if ln.strip()]
            res["title"] = _msg_prop(streams, "0037")
            res["author"] = _msg_prop(streams, "0C1A")
        res["content"] = "\n".join(lines)
        res["n_blocks"] = len(lines)
        if res["content_type"] != _CT_MSG:
            si = streams.get(("\x05SummaryInformation",))
            if si:
                res["title"], res["author"] = _parse_summary_info(si)
    except Exception as e:  # noqa: BLE001 — total-function contract
        res["ok"] = False
        res["err"] = f"{res['content_type']}: {e}"
    return res


# ---------------------------------------------------------------------------
# fixture builders (tests + DuckDB-oracle twins; like office.build_docx)
# ---------------------------------------------------------------------------


def _pad(b: bytes, unit: int) -> bytes:
    rem = len(b) % unit
    return b if rem == 0 else b + b"\x00" * (unit - rem)


def build_cfb(streams: dict[str | tuple[str, ...], bytes]) -> bytes:
    """Write a v3 (512-byte-sector) compound file.

    Streams under 4096 bytes go through the mini stream + miniFAT
    (exercising the same read path real writers use); larger ones get
    regular FAT chains.  Sibling 'trees' are sorted right-pointer
    chains — a valid (degenerate) BST every exhaustive walker accepts.
    """
    norm: dict[tuple[str, ...], bytes] = {
        (k,) if isinstance(k, str) else tuple(k): v for k, v in streams.items()
    }

    # storage tree
    tree: dict = {"kids": {}, "blob": None}
    for path, blob in norm.items():
        node = tree
        for name in path[:-1]:
            node = node["kids"].setdefault(name, {"kids": {}, "blob": None})
        node["kids"][path[-1]] = {"kids": {}, "blob": blob}

    entries: list[dict] = [
        {"name": "Root Entry", "type": 5, "blob": None, "kids": tree["kids"]}
    ]

    def add_level(kids: dict) -> int:
        """Append this level's entries; return first sibling's id."""
        names = sorted(kids, key=lambda n: (len(n), n.upper()))
        ids = []
        for name in names:
            node = kids[name]
            ids.append(len(entries))
            entries.append(
                {
                    "name": name,
                    "type": 2 if node["blob"] is not None else 1,
                    "blob": node["blob"],
                    "kids": node["kids"],
                }
            )
        for eid in ids:
            kid_map = entries[eid]["kids"]
            entries[eid]["child"] = add_level(kid_map) if kid_map else _NOSTREAM
        for a, b in zip(ids, ids[1:]):
            entries[a]["right"] = b
        if ids:
            entries[ids[-1]]["right"] = _NOSTREAM
        return ids[0] if ids else _NOSTREAM

    entries[0]["child"] = add_level(tree["kids"])

    # mini stream assembly
    mini_data = bytearray()
    minifat: list[int] = []
    big: list[tuple[int, bytes]] = []
    for eid, ent in enumerate(entries):
        if ent["type"] != 2:
            continue
        blob = ent["blob"]
        ent["size"] = len(blob)
        if len(blob) < 4096:
            start = len(mini_data) // 64
            padded = _pad(blob, 64)
            nmini = len(padded) // 64
            mini_data += padded
            for j in range(nmini - 1):
                minifat.append(start + j + 1)
            if nmini:
                minifat.append(_ENDOFCHAIN)
            ent["start"] = start if blob else _ENDOFCHAIN
        else:
            big.append((eid, blob))

    n_dir = (len(entries) * 128 + 511) // 512  # serialized after layout
    minifat_raw = _pad(b"".join(_U32.pack(v) for v in minifat), 512)
    n_minifat = len(minifat_raw) // 512 if minifat else 0
    mini_raw = _pad(bytes(mini_data), 512)
    n_mini = len(mini_raw) // 512
    big_padded = [(eid, _pad(b, 512)) for eid, b in big]
    n_big = sum(len(b) // 512 for _, b in big_padded)

    data_sects = n_dir + n_minifat + n_mini + n_big
    nfat = 0
    while nfat * 128 < data_sects + nfat:
        nfat += 1
    if nfat > 109:
        raise ValueError("fixture too large for header-DIFAT build_cfb")

    dir_start = nfat
    minifat_start = dir_start + n_dir if n_minifat else _ENDOFCHAIN
    mini_start = dir_start + n_dir + n_minifat if n_mini else _ENDOFCHAIN

    fat = [_FREESECT] * (nfat * 128)

    def set_chain(start: int, n: int) -> None:
        for j in range(n - 1):
            fat[start + j] = start + j + 1
        if n:
            fat[start + n - 1] = _ENDOFCHAIN

    for j in range(nfat):
        fat[j] = _FATSECT
    set_chain(dir_start, n_dir)
    if n_minifat:
        set_chain(minifat_start, n_minifat)
    if n_mini:
        set_chain(mini_start, n_mini)
    cursor = dir_start + n_dir + n_minifat + n_mini
    for eid, blob in big_padded:
        n = len(blob) // 512
        entries[eid]["start"] = cursor
        set_chain(cursor, n)
        cursor += n

    entries[0]["start"] = mini_start
    entries[0]["size"] = len(mini_raw) if n_mini else 0

    header = bytearray(512)
    header[:8] = CFB_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)   # minor
    struct.pack_into("<H", header, 26, 0x0003)   # major: 512-byte sectors
    struct.pack_into("<H", header, 28, 0xFFFE)   # little-endian
    struct.pack_into("<H", header, 30, 9)        # sector shift
    struct.pack_into("<H", header, 32, 6)        # mini sector shift
    struct.pack_into("<I", header, 44, nfat)
    struct.pack_into("<I", header, 48, dir_start)
    struct.pack_into("<I", header, 56, 4096)     # mini stream cutoff
    struct.pack_into("<I", header, 60, minifat_start & 0xFFFFFFFF)
    struct.pack_into("<I", header, 64, n_minifat)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no extra DIFAT
    for i in range(109):  # header DIFAT: FAT sector ids are 0..nfat-1
        struct.pack_into("<I", header, 76 + 4 * i, i if i < nfat else _FREESECT)

    dir_raw = _pad(b"".join(_ser_dirent(e) for e in entries), 512)
    body = bytearray()
    for j in range(nfat):
        body += b"".join(
            _U32.pack(v) for v in fat[j * 128 : (j + 1) * 128]
        )
    body += dir_raw
    if n_minifat:
        body += minifat_raw
    if n_mini:
        body += mini_raw
    for _, blob in big_padded:
        body += blob
    return bytes(header) + bytes(body)


def _ser_dirent(ent: dict) -> bytes:
    name = ent["name"].encode("utf-16-le")
    if len(name) > 62:
        raise ValueError(f"directory name too long: {ent['name']!r}")
    out = bytearray(128)
    out[: len(name)] = name
    struct.pack_into("<H", out, 64, len(name) + 2)
    out[66] = ent["type"]
    out[67] = 1  # black
    struct.pack_into("<I", out, 68, ent.get("left", _NOSTREAM))
    struct.pack_into("<I", out, 72, ent.get("right", _NOSTREAM))
    struct.pack_into("<I", out, 76, ent.get("child", _NOSTREAM))
    struct.pack_into("<I", out, 116, ent.get("start", _ENDOFCHAIN) & 0xFFFFFFFF)
    struct.pack_into("<Q", out, 120, ent.get("size", 0))
    return bytes(out)


def build_summary_info(title: str, author: str) -> bytes:
    """[MS-OLEPS] SummaryInformation with codepage/title/author."""
    def lpstr(s: str) -> bytes:
        raw = s.encode("cp1252", "replace") + b"\x00"
        return _U32.pack(_VT_LPSTR) + _U32.pack(len(raw)) + _pad(raw, 4)

    values = [
        (1, _U32.pack(_VT_I2) + struct.pack("<Hxx", 1252)),
        (_PIDSI_TITLE, lpstr(title)),
        (_PIDSI_AUTHOR, lpstr(author)),
    ]
    idx = bytearray()
    payload = bytearray()
    base = 8 + 8 * len(values)
    for pid, val in values:
        idx += _U32.pack(pid) + _U32.pack(base + len(payload))
        payload += val
    section = _U32.pack(base + len(payload)) + _U32.pack(len(values)) + idx + payload
    head = struct.pack("<HHI16sI", 0xFFFE, 0, 0x00020005, b"\x00" * 16, 1)
    return head + _FMTID_SUMMARY + _U32.pack(48) + section


def build_doc(paragraphs: list[str], title: str = "", author: str = "") -> bytes:
    """Word 97 .doc with a 2-piece piece table (cp1252 + UTF-16 halves)."""
    text = "".join(p + "\r" for p in paragraphs)
    ccp = len(text)
    split = ccp // 2
    p1, p2 = text[:split], text[split:]
    try:
        b1 = p1.encode("cp1252")
        compressed1 = True
    except UnicodeEncodeError:
        b1 = p1.encode("utf-16-le")
        compressed1 = False
    b2 = p2.encode("utf-16-le")

    text_off = 2048
    word = bytearray(text_off)
    struct.pack_into("<H", word, 0, 0xA5EC)       # wIdent
    struct.pack_into("<H", word, 2, 0x00C1)       # nFib (Word 97)
    struct.pack_into("<H", word, 10, 0x0200)      # fWhichTblStm → 1Table
    struct.pack_into("<H", word, 32, 0x000E)      # csw
    struct.pack_into("<H", word, 62, 0x0016)      # cslw
    struct.pack_into("<I", word, 76, ccp)         # ccpText
    struct.pack_into("<H", word, 152, 0x005D)     # cbRgFcLcb
    word += b1 + b2

    fc1_off = text_off
    fc2_off = text_off + len(b1)
    fc1 = (0x40000000 | (fc1_off * 2)) if compressed1 else fc1_off
    pieces = [(0, split, fc1), (split, ccp, fc2_off)]
    pieces = [p for p in pieces if p[1] > p[0]]
    n = len(pieces)
    plc = b"".join(_U32.pack(p[0]) for p in pieces) + _U32.pack(ccp)
    for _, _, fc in pieces:
        plc += b"\x00\x00" + _U32.pack(fc) + b"\x00\x00"
    clx = b"\x02" + _U32.pack(len(plc)) + plc
    struct.pack_into("<I", word, 418, 0)          # fcClx
    struct.pack_into("<I", word, 422, len(clx))   # lcbClx

    return build_cfb(
        {
            "WordDocument": bytes(word),
            "1Table": clx,
            "\x05SummaryInformation": build_summary_info(title, author),
        }
    )


def _xl_record(rec: int, body: bytes) -> bytes:
    return struct.pack("<HH", rec, len(body)) + body


def _xl_string(s: str) -> bytes:
    try:
        raw = s.encode("latin-1")
        return struct.pack("<HB", len(s), 0x00) + raw
    except UnicodeEncodeError:
        return struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")


def build_xls(
    rows: list[list[str | int | float]], title: str = "", author: str = ""
) -> bytes:
    """BIFF8 .xls: one sheet, LABELSST strings + NUMBER numerics."""
    strings: list[str] = []
    interned: dict[str, int] = {}
    cells: list[bytes] = []
    for r, row in enumerate(rows):
        for c, val in enumerate(row):
            if isinstance(val, (int, float)) and not isinstance(val, bool):
                cells.append(
                    _xl_record(
                        0x0203,
                        struct.pack("<HHH", r, c, 0) + struct.pack("<d", float(val)),
                    )
                )
            else:
                s = str(val)
                if s not in interned:
                    interned[s] = len(strings)
                    strings.append(s)
                cells.append(
                    _xl_record(
                        0x00FD,
                        struct.pack("<HHH", r, c, 0) + _U32.pack(interned[s]),
                    )
                )
    bof_globals = _xl_record(
        0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0)
    )
    sst = _xl_record(
        0x00FC,
        _U32.pack(len(strings)) + _U32.pack(len(strings))
        + b"".join(_xl_string(s) for s in strings),
    )
    bof_sheet = _xl_record(
        0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0)
    )
    eof = _xl_record(0x000A, b"")
    wb = bof_globals + sst + eof + bof_sheet + b"".join(cells) + eof
    return build_cfb(
        {
            "Workbook": wb,
            "\x05SummaryInformation": build_summary_info(title, author),
        }
    )


def build_ppt(texts: list[str], title: str = "", author: str = "") -> bytes:
    """PowerPoint 97 .ppt: Document container of TextCharsAtoms."""
    atoms = b"".join(
        struct.pack("<HHI", 0x0000, _PPT_TEXTCHARS, len(t.encode("utf-16-le")))
        + t.encode("utf-16-le")
        for t in texts
    )
    doc = struct.pack("<HHI", 0x000F, 0x03E8, len(atoms)) + atoms
    return build_cfb(
        {
            "PowerPoint Document": doc,
            "\x05SummaryInformation": build_summary_info(title, author),
        }
    )


def build_msg(
    subject: str,
    sender: str,
    body: str,
    recipients: tuple[str, ...] = (),
    body_format: str = "text",
) -> bytes:
    """Outlook .msg: unicode property streams + recipient storages.

    ``body_format``: 'text' → plain 0x1000 body; 'rtf' → LZFu-compressed
    0x1009 body only (the common real-world shape); 'html' → 0x1013
    HTML body only."""
    streams: dict[str | tuple[str, ...], bytes] = {
        "__substg1.0_0037001F": subject.encode("utf-16-le"),
        "__substg1.0_0C1A001F": sender.encode("utf-16-le"),
        "__properties_version1.0": b"\x00" * 32,
    }
    if body_format == "rtf":
        rtf = "{\\rtf1\\ansi %s\\par}" % body.replace("\n", "\\par ")
        streams["__substg1.0_10090102"] = _lzfu_compress(rtf.encode("cp1252", "replace"))
    elif body_format == "html":
        html = "<html><body><p>%s</p></body></html>" % body
        streams["__substg1.0_10130102"] = html.encode("utf-8")
    else:
        streams["__substg1.0_1000001F"] = body.encode("utf-16-le")
    for i, name in enumerate(recipients):
        streams[
            ("__recip_version1.0_#%08X" % i, "__substg1.0_3001001F")
        ] = name.encode("utf-16-le")
    return build_cfb(streams)


def build_tnef(
    subject: str,
    sender: str,
    body: str,
    body_format: str = "text",
) -> bytes:
    """winmail.dat fixture: attSubject + attFrom triple + body as
    attBody ('text') or attMsgProps PR_RTF_COMPRESSED ('rtf')."""
    def attribute(level: int, attr: int, val: bytes) -> bytes:
        return (
            struct.pack("<BII", level, attr, len(val))
            + val
            + struct.pack("<H", sum(val) & 0xFFFF)
        )

    out = bytearray(TNEF_MAGIC + struct.pack("<H", 0))
    out += attribute(
        1, _ATT_SUBJECT, subject.encode("cp1252", "replace") + b"\x00"
    )
    disp = b"Sender\x00"
    addr = sender.encode("cp1252", "replace") + b"\x00"
    trp = struct.pack("<HHHH", 4, 8 + len(disp) + len(addr), len(disp), len(addr))
    out += attribute(1, _ATT_FROM, trp + disp + addr)
    if body_format == "rtf":
        rtf = "{\\rtf1\\ansi %s\\par}" % body.replace("\n", "\\par ")
        comp = _lzfu_compress(rtf.encode("cp1252", "replace"))
        pad = -len(comp) % 4
        props = struct.pack(
            "<II", 1, (_PR_RTF_COMPRESSED << 16) | _PT_BINARY
        ) + struct.pack("<II", 1, len(comp)) + comp + b"\x00" * pad
        out += attribute(1, _ATT_MSGPROPS, props)
    else:
        out += attribute(
            1, _ATT_BODY, body.encode("cp1252", "replace") + b"\x00"
        )
    return bytes(out)
