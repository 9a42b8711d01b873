"""Native image/audio/video METADATA extraction — no codecs needed.

The reference reaches media files through Tika (enhance_extract_text_
tika_server.py:33-262): an ``image/jpeg`` payload comes back with EXIF
title/author/date fields and the mimetype label (its test pins
``content_type_ss == 'image/jpeg'``), an MP3 with ID3 title/artist.
Pixel/sample DECODE genuinely needs PIL/ffmpeg (the documented seam in
operators/multimodal.py) — but the metadata Tika surfaces is plain
struct parsing over the public container formats, so it belongs
in-engine:

  JPEG  SOF dims; APP1 Exif → TIFF IFD walk (ImageDescription,
        Artist, DateTime(Original)); COM comment   (ISO/IEC 10918, EXIF 2.3)
  PNG   IHDR dims; tEXt/zTXt/iTXt Title/Author/Description chunks
                                                   (RFC 2083 / ISO 15948)
  GIF   logical-screen dims; comment extension     (GIF89a spec)
  TIFF  IFD0 dims + description/artist/datetime    (TIFF 6.0)
  BMP   DIB header dims (structural sniff: "BM" alone is weak)
  WEBP  RIFF VP8X/VP8/VP8L dims; EXIF chunk        (WebP container spec)
  WAV   fmt channels/rate/bits; data → duration; LIST INFO
        INAM/IART/ICMT/ICRD                        (RIFF/WAVE)
  AVI   avih dims + frame timing → duration        (RIFF/AVI)
  MP3   ID3v2.2/2.3/2.4 text frames (+unsync), ID3v1 tail fallback,
        first MPEG header → rate/channels, CBR duration estimate
  FLAC  STREAMINFO rate/channels/samples; VORBIS_COMMENT
  MP4   ISO-BMFF box walk: ftyp brand, mvhd duration, tkhd dims,
        ilst ©nam/©ART/©alb/©day/©cmt              (ISO 14496-12)
  OGG   page/packet demux: Vorbis or Opus id header + comments;
        last-page granule → duration               (RFC 3533/5334)
  HEIC/AVIF  BMFF walk → ispe item property dims   (ISO 23008-12)
  ICO   ICONDIR entry walk → largest dims          (Windows spec)
  MKV/WEBM   EBML walk: DocType, Info duration/title, track
        dims / sample-rate / channels              (RFC 9559)

``extract_html`` (operators/htmlx.py) picks ``extract_media`` by its
magic sniff and carries its author/dims/duration/date fields; the
``multimodal`` oracle query's media rows project that result.

Every parser is TOTAL: corrupt bytes yield ok=False + err (the per-row
error-column contract), never an exception, and all walks are
work/size-bounded so a crafted file cannot spin or balloon a task.
Deterministic fixture builders live at the bottom (tests + the driver
``multimodal`` oracle reconstruct expected values from doc_id alone);
tests additionally pin the parsers on HAND-ASSEMBLED spec-literal
bytes so builder round-trips are evidence, not tautology.
"""

from __future__ import annotations

import struct
import zlib

__all__ = [
    "extract_media",
    "sniff_media",
    "build_jpeg",
    "build_png",
    "build_gif",
    "build_tiff",
    "build_bmp",
    "build_mp3",
    "build_wav",
    "build_flac",
    "build_mp4",
    "build_ogg_vorbis",
    "build_heic",
    "build_ico",
    "build_mkv",
    "build_aiff",
    "build_asf",
]

_TEXT_CAP = 1 << 16  # per-field decompressed/decoded text cap
_WALK_CAP = 4096  # max chunks/boxes/frames visited per file


# ---------------------------------------------------------------------------
# sniff — magic-first, structural where the magic is weak
# ---------------------------------------------------------------------------


def sniff_media(data: bytes) -> str | None:
    """media mimetype or None; BMP is structural ("BM" starts prose)."""
    if data.startswith(b"\xff\xd8\xff"):
        return "image/jpeg"
    if data.startswith(b"\x89PNG\r\n\x1a\n"):
        return "image/png"
    if data.startswith((b"GIF87a", b"GIF89a")):
        return "image/gif"
    if data.startswith((b"II*\x00", b"MM\x00*")):
        return "image/tiff"
    if data.startswith(b"BM") and len(data) >= 26:
        dib = int.from_bytes(data[14:18], "little")
        if dib in (12, 40, 52, 56, 64, 108, 124):
            return "image/bmp"
    if data.startswith(b"RIFF") and len(data) >= 12:
        form = data[8:12]
        if form == b"WEBP":
            return "image/webp"
        if form == b"WAVE":
            return "audio/x-wav"
        if form == b"AVI ":
            return "video/x-msvideo"
        return None
    # the audio magics are printable ASCII, so prose can start with
    # them — each label needs a structural gate past the magic (the
    # same lesson as the cpio/dbf sniffs)
    if (
        data.startswith(b"ID3")
        and len(data) >= 10
        and data[3] in (2, 3, 4)
        and data[4] == 0
        and all(b < 0x80 for b in data[6:10])  # syncsafe size bytes
    ):
        return "audio/mpeg"
    if data.startswith(b"fLaC") and len(data) >= 8 and (data[4] & 0x7F) == 0:
        # the first metadata block is mandatorily STREAMINFO (type 0)
        return "audio/flac"
    if data.startswith(b"OggS") and len(data) >= 6 and data[4] == 0:
        return "audio/ogg"
    if len(data) >= 12 and data[4:8] == b"ftyp":
        size = int.from_bytes(data[0:4], "big")
        if 8 <= size <= len(data):
            brand = data[8:12]
            if brand in (b"heic", b"heix", b"mif1", b"msf1"):
                return "image/heic"
            if brand in (b"avif", b"avis"):
                return "image/avif"
            return "audio/mp4" if brand in (b"M4A ", b"M4B ") else "video/mp4"
    if data.startswith(b"\x1a\x45\xdf\xa3"):
        # EBML: webm vs matroska decided by DocType during the parse
        return "video/webm"
    if (
        data.startswith(b"FORM")
        and len(data) >= 12
        and data[8:12] in (b"AIFF", b"AIFC")
    ):
        # "FORM" is prose-capable — the form-type gate decides
        return "audio/aiff"
    if data.startswith(_ASF_HEADER_GUID):
        # WMV/WMA/ASF: audio-only refines to x-ms-wma during the parse
        return "video/x-ms-asf"
    if (
        data.startswith(b"\x00\x00\x01\x00")
        and len(data) >= 22
        and 0 < int.from_bytes(data[4:6], "little") <= 64
    ):
        # ICO: reserved(2)=0 type(2)=1 count(2) — all-ASCII-safe bytes,
        # so the count gate keeps NUL-padded binaries out
        return "image/vnd.microsoft.icon"
    return None


#: raster formats the OCR tier can read text out of (the reference's
#: enhance_ocr runs tesseract on exactly these content types)
OCR_IMAGE_TYPES = frozenset(
    ("image/jpeg", "image/png", "image/gif", "image/tiff", "image/bmp",
     "image/webp")
)


# ---------------------------------------------------------------------------
# TIFF IFD walk (shared by JPEG APP1 Exif, TIFF files, WEBP EXIF chunk)
# ---------------------------------------------------------------------------

_TAG_DESC = 0x010E
_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_WIDTH = 0x0100
_TAG_HEIGHT = 0x0101
_TAG_ARTIST = 0x013B
_TAG_DATETIME = 0x0132
_TAG_EXIF_IFD = 0x8769
_TAG_DT_ORIGINAL = 0x9003


def _ifd_entries(buf: bytes, off: int, bo: str) -> dict[int, object]:
    """one IFD's selected tags → values (ASCII str / first int)."""
    out: dict[int, object] = {}
    if off + 2 > len(buf):
        return out
    n = min(int.from_bytes(buf[off : off + 2], bo), 512)
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(buf):
            break
        tag = int.from_bytes(buf[e : e + 2], bo)
        typ = int.from_bytes(buf[e + 2 : e + 4], bo)
        cnt = int.from_bytes(buf[e + 4 : e + 8], bo)
        val = buf[e + 8 : e + 12]
        if typ == 2:  # ASCII — inline when count ≤ 4, else offset
            if cnt <= 4:
                raw = val[:cnt]
            else:
                vo = int.from_bytes(val, bo)
                if cnt > _TEXT_CAP or vo + cnt > len(buf):
                    continue
                raw = buf[vo : vo + cnt]
            out[tag] = raw.split(b"\x00", 1)[0].decode("utf-8", "replace")
        elif typ == 3:  # SHORT
            out[tag] = int.from_bytes(val[:2], bo)
        elif typ == 4:  # LONG
            out[tag] = int.from_bytes(val, bo)
    return out


def _parse_tiff_body(buf: bytes) -> dict:
    """TIFF byte stream (header at 0) → fields dict."""
    bo = "little" if buf[:2] == b"II" else "big"
    if buf[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF header")
    ifd0 = int.from_bytes(buf[4:8], bo)
    tags = _ifd_entries(buf, ifd0, bo)
    exif_off = tags.get(_TAG_EXIF_IFD)
    if isinstance(exif_off, int):
        tags.update(_ifd_entries(buf, exif_off, bo))
    f: dict = {}
    if isinstance(tags.get(_TAG_WIDTH), int):
        f["width"] = tags[_TAG_WIDTH]
    if isinstance(tags.get(_TAG_HEIGHT), int):
        f["height"] = tags[_TAG_HEIGHT]
    if isinstance(tags.get(_TAG_DESC), str):
        f["description"] = tags[_TAG_DESC].strip() or None
    if isinstance(tags.get(_TAG_ARTIST), str):
        f["author"] = tags[_TAG_ARTIST].strip() or None
    dt = tags.get(_TAG_DT_ORIGINAL) or tags.get(_TAG_DATETIME)
    if isinstance(dt, str):
        f["datetime"] = _exif_dt(dt)
    for tag, key in ((_TAG_MAKE, "make"), (_TAG_MODEL, "model")):
        if isinstance(tags.get(tag), str) and tags[tag].strip():
            f[key] = tags[tag].strip()
    return f


def _exif_dt(s: str) -> str | None:
    """'YYYY:MM:DD HH:MM:SS' → ISO 'YYYY-MM-DDTHH:MM:SSZ' (EXIF has no
    zone; Tika emits it as-is, we normalize like the eml tier)."""
    s = s.strip()
    if len(s) >= 19 and s[4] == s[7] == ":" and s[10] == " ":
        d, t = s[:10].replace(":", "-"), s[11:19]
        return f"{d}T{t}Z"
    return None


# ---------------------------------------------------------------------------
# per-format parsers — each returns a fields dict, raises on corrupt
# ---------------------------------------------------------------------------

_SOF_MARKERS = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def _parse_jpeg(data: bytes) -> dict:
    f: dict = {}
    pos = 2
    for _ in range(_WALK_CAP):
        if pos + 4 > len(data):
            break
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        body = data[pos + 4 : pos + 2 + seglen]
        if marker in _SOF_MARKERS and len(body) >= 5:
            f["height"] = int.from_bytes(body[1:3], "big")
            f["width"] = int.from_bytes(body[3:5], "big")
        elif marker == 0xE1 and body.startswith(b"Exif\x00\x00"):
            try:
                exif = _parse_tiff_body(body[6:])
            except ValueError:
                exif = {}
            exif.pop("width", None)  # SOF dims govern (EXIF pixel
            exif.pop("height", None)  # dims lie after crops/rotation)
            f.update(exif)
        elif marker == 0xFE and body:
            f.setdefault("comment", body.decode("utf-8", "replace").strip())
        elif marker == 0xDA:  # SOS — entropy data follows, headers done
            break
        pos += 2 + seglen
    if "width" not in f:
        raise ValueError("no SOF frame header")
    return f


def _parse_tiff(data: bytes) -> dict:
    f = _parse_tiff_body(data)
    if "width" not in f and "height" not in f:
        raise ValueError("TIFF IFD carries no dimensions")
    return f


_PNG_TEXT_KEYS = {
    "Title": "title",
    "Author": "author",
    "Description": "description",
    "Comment": "comment",
    "Creation Time": None,  # handled as datetime below
}


def _parse_png(data: bytes) -> dict:
    f: dict = {}
    pos = 8
    for _ in range(_WALK_CAP):
        if pos + 8 > len(data):
            break
        clen = int.from_bytes(data[pos : pos + 4], "big")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR" and clen >= 8:
            f["width"] = int.from_bytes(body[0:4], "big")
            f["height"] = int.from_bytes(body[4:8], "big")
        elif ctype in (b"tEXt", b"zTXt", b"iTXt") and 0 < clen <= (1 << 20):
            kv = _png_text_chunk(ctype, body)
            if kv is not None:
                key, val = kv
                field = _PNG_TEXT_KEYS.get(key, None)
                if key == "Creation Time":
                    f.setdefault("datetime", _png_dt(val))
                elif field and val:
                    f.setdefault(field, val)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if "width" not in f:
        raise ValueError("no IHDR chunk")
    return f


def _png_text_chunk(ctype: bytes, body: bytes) -> tuple[str, str] | None:
    key_raw, _, rest = body.partition(b"\x00")
    key = key_raw.decode("latin-1", "replace")
    if ctype == b"tEXt":
        return key, rest.decode("latin-1", "replace").strip()
    if ctype == b"zTXt":
        if len(rest) < 1 or rest[0] != 0:
            return None
        try:
            # decompressobj caps the OUTPUT (decompress()'s bufsize is only
            # an initial buffer hint — a 1032:1 bomb would balloon the task)
            d = zlib.decompressobj()
            return key, d.decompress(rest[1:], _TEXT_CAP).decode(
                "latin-1", "replace"
            ).strip()
        except zlib.error:
            return None
    # iTXt: compflag(1) compmethod(1) lang\0 translated\0 text
    if len(rest) < 2:
        return None
    compressed = rest[0] == 1
    rest = rest[2:]
    _, _, rest = rest.partition(b"\x00")  # language tag
    _, _, text = rest.partition(b"\x00")  # translated keyword
    if compressed:
        try:
            text = zlib.decompressobj().decompress(text, _TEXT_CAP)
        except zlib.error:
            return None
    return key, text[:_TEXT_CAP].decode("utf-8", "replace").strip()


def _png_dt(s: str) -> str | None:
    """PNG Creation Time is RFC-1123-ish; accept the EXIF shape too."""
    iso = _exif_dt(s)
    if iso:
        return iso
    try:
        from email.utils import parsedate_to_datetime

        return parsedate_to_datetime(s).strftime("%Y-%m-%dT%H:%M:%SZ")
    except Exception:  # noqa: BLE001
        return None


def _parse_gif(data: bytes) -> dict:
    f = {
        "width": int.from_bytes(data[6:8], "little"),
        "height": int.from_bytes(data[8:10], "little"),
    }
    packed = data[10]
    pos = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    comments: list[str] = []
    for _ in range(_WALK_CAP):
        if pos >= len(data):
            break
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-block chain
            if pos + 2 > len(data):
                break
            label = data[pos + 1]
            pos += 2
            buf = bytearray()
            while pos < len(data) and data[pos] != 0:
                size = data[pos]
                buf += data[pos + 1 : pos + 1 + size]
                pos += 1 + size
            pos += 1  # block terminator
            if label == 0xFE and buf:
                comments.append(bytes(buf).decode("utf-8", "replace").strip())
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                break
            ipacked = data[pos + 9]
            pos += 10 + (3 * (2 << (ipacked & 0x07)) if ipacked & 0x80 else 0)
            pos += 1  # LZW minimum code size
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        else:
            raise ValueError("bad GIF block 0x%02x" % b)
    if comments:
        f["comment"] = " ".join(c for c in comments if c)
    return f


def _parse_bmp(data: bytes) -> dict:
    dib = int.from_bytes(data[14:18], "little")
    if dib == 12:  # BITMAPCOREHEADER
        w = int.from_bytes(data[18:20], "little")
        h = int.from_bytes(data[20:22], "little")
    else:
        w = int.from_bytes(data[18:22], "little", signed=True)
        h = abs(int.from_bytes(data[22:26], "little", signed=True))
    if w <= 0 or h <= 0:
        raise ValueError("bad BMP dimensions")
    return {"width": w, "height": h}


_RIFF_INFO_KEYS = {
    b"INAM": "title",
    b"IART": "author",
    b"ICMT": "comment",
    b"ICRD": None,  # creation date → datetime
}


def _riff_chunks(data: bytes, pos: int, end: int):
    """yield (fourcc, body_start, body_len) honoring even padding."""
    for _ in range(_WALK_CAP):
        if pos + 8 > end:
            return
        cid = data[pos : pos + 4]
        clen = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if pos + 8 + clen > end:
            clen = max(0, end - pos - 8)  # truncated final chunk
        yield cid, pos + 8, clen
        pos += 8 + clen + (clen & 1)


def _parse_wav(data: bytes) -> dict:
    f: dict = {}
    byte_rate = 0
    end = min(len(data), 8 + int.from_bytes(data[4:8], "little"))
    for cid, off, clen in _riff_chunks(data, 12, end):
        body = data[off : off + clen]
        if cid == b"fmt " and clen >= 16:
            f["channels"] = int.from_bytes(body[2:4], "little")
            f["sample_rate"] = int.from_bytes(body[4:8], "little")
            byte_rate = int.from_bytes(body[8:12], "little")
            f["bits"] = int.from_bytes(body[14:16], "little")
        elif cid == b"data" and byte_rate:
            f["duration_ms"] = clen * 1000 // byte_rate
        elif cid == b"LIST" and body[:4] == b"INFO":
            for sid, soff, slen in _riff_chunks(data, off + 4, off + clen):
                key = _RIFF_INFO_KEYS.get(sid, "skip")
                if key == "skip":
                    continue
                val = (
                    data[soff : soff + slen]
                    .split(b"\x00", 1)[0]
                    .decode("utf-8", "replace")
                    .strip()
                )
                if not val:
                    continue
                if key is None:
                    f.setdefault("datetime", _riff_dt(val))
                else:
                    f.setdefault(key, val)
    if "sample_rate" not in f:
        raise ValueError("no fmt chunk")
    return f


def _riff_dt(s: str) -> str | None:
    """ICRD is conventionally 'YYYY-MM-DD' (or bare year)."""
    if len(s) == 10 and s[4] == s[7] == "-":
        return f"{s}T00:00:00Z"
    if len(s) == 4 and s.isdigit():
        return f"{s}-01-01T00:00:00Z"
    return None


def _parse_webp(data: bytes) -> dict:
    f: dict = {}
    end = min(len(data), 8 + int.from_bytes(data[4:8], "little"))
    for cid, off, clen in _riff_chunks(data, 12, end):
        body = data[off : off + clen]
        if cid == b"VP8X" and clen >= 10:
            f["width"] = 1 + int.from_bytes(body[4:7], "little")
            f["height"] = 1 + int.from_bytes(body[7:10], "little")
        elif cid == b"VP8 " and clen >= 10 and "width" not in f:
            if body[3:6] == b"\x9d\x01\x2a":  # keyframe start code
                f["width"] = int.from_bytes(body[6:8], "little") & 0x3FFF
                f["height"] = int.from_bytes(body[8:10], "little") & 0x3FFF
        elif cid == b"VP8L" and clen >= 5 and "width" not in f and body[0] == 0x2F:
            bits = int.from_bytes(body[1:5], "little")
            f["width"] = (bits & 0x3FFF) + 1
            f["height"] = ((bits >> 14) & 0x3FFF) + 1
        elif cid == b"EXIF":
            try:
                exif = _parse_tiff_body(body)
            except ValueError:
                continue
            exif.pop("width", None)
            exif.pop("height", None)
            f.update(exif)
    if "width" not in f:
        raise ValueError("no VP8/VP8L/VP8X chunk")
    return f


def _parse_avi(data: bytes) -> dict:
    f: dict = {}
    end = min(len(data), 8 + int.from_bytes(data[4:8], "little"))

    def walk(pos: int, stop: int, depth: int) -> None:
        if depth > 4:
            return
        for cid, off, clen in _riff_chunks(data, pos, stop):
            if cid == b"LIST":
                walk(off + 4, off + clen, depth + 1)
            elif cid == b"avih" and clen >= 40:
                body = data[off : off + clen]
                usec = int.from_bytes(body[0:4], "little")
                frames = int.from_bytes(body[16:20], "little")
                f["width"] = int.from_bytes(body[32:36], "little")
                f["height"] = int.from_bytes(body[36:40], "little")
                if usec:
                    f["duration_ms"] = usec * frames // 1000

    walk(12, end, 0)
    if "width" not in f:
        raise ValueError("no avih header")
    return f


# -- MP3 / ID3 --------------------------------------------------------------

_ID3_TEXT = {
    b"TIT2": "title", b"TT2": "title",
    b"TPE1": "author", b"TP1": "author",
    b"TALB": "album", b"TAL": "album",
    b"TYER": "year", b"TYE": "year", b"TDRC": "year",
}
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_text(body: bytes) -> str:
    if not body:
        return ""
    enc, payload = body[0], body[1:]
    try:
        if enc == 0:
            return payload.decode("latin-1", "replace")
        if enc == 1:
            return payload.decode("utf-16", "replace")
        if enc == 2:
            return payload.decode("utf-16-be", "replace")
        return payload.decode("utf-8", "replace")
    except Exception:  # noqa: BLE001
        return payload.decode("latin-1", "replace")


def _parse_mp3(data: bytes) -> dict:
    f: dict = {}
    ver = data[3]
    flags = data[5]
    size = _syncsafe(data[6:10])
    body = data[10 : 10 + size]
    if flags & 0x80:  # unsynchronization
        body = body.replace(b"\xff\x00", b"\xff")
    pos = 0
    if ver == 3 and flags & 0x40 and len(body) >= 4:  # v2.3 ext header
        pos = 4 + int.from_bytes(body[0:4], "big")
    elif ver == 4 and flags & 0x40 and len(body) >= 4:  # v2.4: size incl.
        pos = _syncsafe(body[0:4])
    for _ in range(_WALK_CAP):
        if ver == 2:
            if pos + 6 > len(body) or body[pos] == 0:
                break
            fid = body[pos : pos + 3]
            flen = int.from_bytes(body[pos + 3 : pos + 6], "big")
            fbody = body[pos + 6 : pos + 6 + flen]
            pos += 6 + flen
        else:
            if pos + 10 > len(body) or body[pos] == 0:
                break
            fid = body[pos : pos + 4]
            raw = body[pos + 4 : pos + 8]
            flen = _syncsafe(raw) if ver == 4 else int.from_bytes(raw, "big")
            fbody = body[pos + 10 : pos + 10 + flen]
            pos += 10 + flen
        key = _ID3_TEXT.get(fid)
        if key:
            val = _id3_text(fbody).split("\x00", 1)[0].strip()
            if val:
                f.setdefault(key, val[:4] if key == "year" else val)
        elif fid in (b"COMM", b"COM") and len(fbody) >= 5:
            text = _id3_text(fbody[0:1] + fbody[4:])
            val = text.split("\x00")[-1].strip()
            if val:
                f.setdefault("comment", val)
    # first MPEG frame header after the tag → rate/channels; CBR estimate
    audio = data[10 + size :]
    if audio[-128:-125] == b"TAG":  # ID3v1 tail: fallback + not audio
        tail = audio[-128:]
        f.setdefault("title", tail[3:33].split(b"\x00")[0].decode("latin-1").strip())
        f.setdefault("author", tail[33:63].split(b"\x00")[0].decode("latin-1").strip())
        f.setdefault("album", tail[63:93].split(b"\x00")[0].decode("latin-1").strip())
        f.setdefault("year", tail[93:97].decode("latin-1").strip())
        audio = audio[:-128]
        f = {k: v for k, v in f.items() if v}
    for i in range(min(len(audio) - 3, 2048)):
        b1, b2, b3 = audio[i], audio[i + 1], audio[i + 2]
        if b1 == 0xFF and (b2 & 0xE0) == 0xE0 and (b2 >> 3) & 3 == 3 and (b2 >> 1) & 3 == 1:
            kbps = _MP3_BITRATES[b3 >> 4]
            ridx = (b3 >> 2) & 3
            if kbps and ridx < 3:
                f["sample_rate"] = _MP3_RATES[ridx]
                f["channels"] = 1 if (audio[i + 3] >> 6) == 3 else 2
                f["duration_ms"] = (len(audio) - i) * 8 // kbps
            break
    return f


# -- ASF (WMV / WMA) — [MS-ASF] GUID-framed header objects ------------------

_ASF_HEADER_GUID = bytes.fromhex("3026b2758e66cf11a6d900aa0062ce6c")
_ASF_FILE_PROPS = bytes.fromhex("a1dcab8c47a9cf118ee400c00c205365")
_ASF_CONTENT_DESC = bytes.fromhex("3326b2758e66cf11a6d900aa0062ce6c")
_ASF_STREAM_PROPS = bytes.fromhex("9107dcb7b7a9cf118ee600c00c205365")
_ASF_VIDEO_MEDIA = bytes.fromhex("c0ef19bc4d5bcf11a8fd00805f5c442b")
_ASF_AUDIO_MEDIA = bytes.fromhex("409e69f84d5bcf11a8fd00805f5c442b")


def _asf_utf16(b: bytes) -> str:
    return b.decode("utf-16-le", "replace").split("\x00", 1)[0].strip()


def _parse_asf(data: bytes) -> dict:
    """[MS-ASF] §2.3: Header Object wraps sub-objects — File Properties
    (play duration minus preroll), Stream Properties (video dims /
    audio rate+channels), Content Description (title/author)."""
    f: dict = {}
    if len(data) < 30:
        raise ValueError("short ASF header")
    hdr_size = int.from_bytes(data[16:24], "little")
    end = min(len(data), hdr_size)
    pos = 30  # GUID + size + object count + 2 reserved bytes
    has_video = has_audio = False
    preroll_ms = 0
    play_100ns = 0
    for _ in range(_WALK_CAP):
        if pos + 24 > end:
            break
        guid = data[pos : pos + 16]
        osize = int.from_bytes(data[pos + 16 : pos + 24], "little")
        if osize < 24:
            break
        body = data[pos + 24 : pos + osize]
        if guid == _ASF_FILE_PROPS and len(body) >= 68:
            # [MS-ASF] 2.3.2: when Flags bit 0 (Broadcast Flag) is set
            # the Play/Send Duration and File Size fields "shall be
            # ignored" — live captures leave garbage there (r4 review:
            # an all-FF duration parsed to ~58,000 years)
            if not int.from_bytes(body[64:68], "little") & 1:
                play_100ns = int.from_bytes(body[40:48], "little")
                preroll_ms = int.from_bytes(body[56:64], "little")
        elif guid == _ASF_STREAM_PROPS and len(body) >= 54:
            stype = body[0:16]
            ts_len = int.from_bytes(body[40:44], "little")
            ts = body[54 : 54 + ts_len]
            if stype == _ASF_VIDEO_MEDIA and len(ts) >= 9:
                f["width"] = int.from_bytes(ts[0:4], "little")
                f["height"] = int.from_bytes(ts[4:8], "little")
                has_video = True
            elif stype == _ASF_AUDIO_MEDIA and len(ts) >= 8:
                f["channels"] = int.from_bytes(ts[2:4], "little")
                f["sample_rate"] = int.from_bytes(ts[4:8], "little")
                has_audio = True
        elif guid == _ASF_CONTENT_DESC and len(body) >= 10:
            lens = [
                int.from_bytes(body[2 * i : 2 * i + 2], "little")
                for i in range(5)
            ]
            at = 10
            vals = []
            for ln in lens:
                vals.append(_asf_utf16(body[at : at + ln]))
                at += ln
            if vals[0]:
                f.setdefault("title", vals[0])
            if vals[1]:
                f.setdefault("author", vals[1])
            if vals[3]:
                f.setdefault("description", vals[3])
        pos += osize
    if not (has_video or has_audio or play_100ns):
        raise ValueError("no parseable ASF objects")
    if play_100ns:
        dur = play_100ns // 10_000 - preroll_ms
        if dur > 0:
            f["duration_ms"] = dur
    if has_audio and not has_video:
        f["content_type"] = "audio/x-ms-wma"
    return f


_AIFF_TEXT = {b"NAME": "title", b"AUTH": "author", b"ANNO": "comment"}


def _parse_aiff(data: bytes) -> dict:
    """AIFF/AIFC (EA IFF 85, big-endian): COMM rate/channels/frames →
    duration, NAME/AUTH/ANNO text chunks."""
    f: dict = {}
    end = min(len(data), 8 + int.from_bytes(data[4:8], "big"))
    pos = 12
    for _ in range(_WALK_CAP):
        if pos + 8 > end:
            break
        cid = data[pos : pos + 4]
        clen = int.from_bytes(data[pos + 4 : pos + 8], "big")
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"COMM" and clen >= 18:
            f["channels"] = int.from_bytes(body[0:2], "big")
            frames = int.from_bytes(body[2:6], "big")
            # sampleRate is an 80-bit IEEE 754 extended float
            exp = int.from_bytes(body[8:10], "big") & 0x7FFF
            mant = int.from_bytes(body[10:18], "big")
            if mant and 0 < exp < 0x7FFF:
                rate = int(mant * 2.0 ** (exp - 16383 - 63))
                f["sample_rate"] = rate
                if rate:
                    f["duration_ms"] = frames * 1000 // rate
        else:
            key = _AIFF_TEXT.get(cid)
            if key and body:
                val = body.decode("utf-8", "replace").strip()
                if val:
                    f.setdefault(key, val)
        pos += 8 + clen + (clen & 1)  # chunks pad to even (IFF rule)
    if "channels" not in f:
        raise ValueError("no COMM chunk")
    return f


def _parse_flac(data: bytes) -> dict:
    f: dict = {}
    pos = 4
    for _ in range(_WALK_CAP):
        if pos + 4 > len(data):
            break
        hdr = data[pos]
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        btype = hdr & 0x7F
        if btype == 0 and blen >= 18:  # STREAMINFO
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            f["sample_rate"] = sr
            f["channels"] = ((body[12] >> 1) & 0x07) + 1
            total = ((body[13] & 0x0F) << 32) | int.from_bytes(body[14:18], "big")
            if sr and total:
                f["duration_ms"] = total * 1000 // sr
        elif btype == 4:  # VORBIS_COMMENT
            f.update(_vorbis_comments(body))
        pos += 4 + blen
        if hdr & 0x80:  # last-metadata-block flag
            break
    if "sample_rate" not in f:
        raise ValueError("no STREAMINFO block")
    return f


_VC_KEYS = {
    "TITLE": "title", "ARTIST": "author", "ALBUM": "album",
    "DATE": "year", "DESCRIPTION": "description", "COMMENT": "comment",
}


def _vorbis_comments(body: bytes) -> dict:
    out: dict = {}
    if len(body) < 8:
        return out
    vlen = int.from_bytes(body[0:4], "little")
    pos = 4 + vlen
    if pos + 4 > len(body):
        return out
    n = min(int.from_bytes(body[pos : pos + 4], "little"), _WALK_CAP)
    pos += 4
    for _ in range(n):
        if pos + 4 > len(body):
            break
        clen = int.from_bytes(body[pos : pos + 4], "little")
        item = body[pos + 4 : pos + 4 + clen].decode("utf-8", "replace")
        pos += 4 + clen
        key, sep, val = item.partition("=")
        field = _VC_KEYS.get(key.upper())
        if sep and field and val.strip():
            out.setdefault(field, val.strip()[:4] if field == "year" else val.strip())
    return out


# -- MP4 / ISO-BMFF ----------------------------------------------------------

_MP4_CONTAINERS = frozenset(
    (b"moov", b"trak", b"mdia", b"minf", b"stbl", b"udta", b"ilst",
     b"iprp", b"ipco")  # HEIF item-property path to ispe
)
_ILST_KEYS = {
    b"\xa9nam": "title", b"\xa9ART": "author", b"\xa9alb": "album",
    b"\xa9day": "year", b"\xa9cmt": "comment",
}


def _parse_mp4(data: bytes) -> dict:
    f: dict = {}

    def walk(pos: int, end: int, depth: int, in_ilst: bool) -> None:
        count = 0
        while pos + 8 <= end and count < _WALK_CAP:
            count += 1
            size = int.from_bytes(data[pos : pos + 4], "big")
            btype = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > end:
                    return
                size = int.from_bytes(data[pos + 8 : pos + 16], "big")
                body = pos + 16
            elif size == 0:
                size = end - pos
            if size < 8 or pos + size > end:
                return
            if in_ilst and _ILST_KEYS.get(btype) and depth < 12:
                # item box: children are 'data' full boxes
                dpos = body
                while dpos + 16 <= pos + size:
                    dsize = int.from_bytes(data[dpos : dpos + 4], "big")
                    if data[dpos + 4 : dpos + 8] == b"data" and dsize >= 16:
                        val = data[dpos + 16 : dpos + dsize].decode("utf-8", "replace").strip()
                        key = _ILST_KEYS[btype]
                        if val:
                            f.setdefault(key, val[:4] if key == "year" else val)
                        break
                    if dsize < 8:
                        break
                    dpos += dsize
            elif btype == b"mvhd" and size >= 20:
                v = data[body]
                if v == 1 and size >= 40:  # 64-bit times (ISO 14496-12 §8.2.2)
                    ts = int.from_bytes(data[body + 20 : body + 24], "big")
                    dur = int.from_bytes(data[body + 24 : body + 32], "big")
                else:
                    ts = int.from_bytes(data[body + 12 : body + 16], "big")
                    dur = int.from_bytes(data[body + 16 : body + 20], "big")
                if ts:
                    f["duration_ms"] = dur * 1000 // ts
            elif btype == b"tkhd":
                w = int.from_bytes(data[pos + size - 8 : pos + size - 4], "big") >> 16
                h = int.from_bytes(data[pos + size - 4 : pos + size], "big") >> 16
                if w and h:
                    f["width"] = max(f.get("width", 0), w)
                    f["height"] = max(f.get("height", 0), h)
            elif btype == b"ispe" and size >= 20:
                # HEIF image-spatial-extents (ISO 23008-12 §6.5.3):
                # thumbnails carry their own ispe — the largest wins
                w = int.from_bytes(data[body + 4 : body + 8], "big")
                h = int.from_bytes(data[body + 8 : body + 12], "big")
                if w and h:
                    f["width"] = max(f.get("width", 0), w)
                    f["height"] = max(f.get("height", 0), h)
            elif btype == b"meta":
                walk(body + 4, pos + size, depth + 1, False)  # full box
            elif btype in _MP4_CONTAINERS and depth < 12:
                walk(body, pos + size, depth + 1, btype == b"ilst")
            pos += size

    walk(0, len(data), 0, False)
    if not f:
        raise ValueError("no parseable MP4 boxes")
    return f


def _parse_heif(data: bytes) -> dict:
    """HEIC/AVIF still image: the BMFF walk with dims required (the
    ispe item property instead of tkhd)."""
    f = _parse_mp4(data)
    if "width" not in f:
        raise ValueError("no ispe item property")
    f.pop("duration_ms", None)  # image sequences: dims only
    return f


def _parse_ico(data: bytes) -> dict:
    """ICONDIR walk: largest image entry's dims (0 encodes 256)."""
    n = int.from_bytes(data[4:6], "little")
    w = h = 0
    for i in range(n):
        e = 6 + 16 * i
        if e + 16 > len(data):
            break
        ew, eh = data[e] or 256, data[e + 1] or 256
        if ew * eh > w * h:
            w, h = ew, eh
    if not w:
        raise ValueError("no ICONDIR entries")
    return {"width": w, "height": h}


# -- Matroska / WebM (EBML) ---------------------------------------------------

_EBML_MASTERS = frozenset((
    0x1A45DFA3,  # EBML header
    0x18538067,  # Segment
    0x1549A966,  # Info
    0x1654AE6B,  # Tracks
    0xAE,        # TrackEntry
    0xE0,        # Video
    0xE1,        # Audio
))


def _ebml_vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int, int, bool]:
    """(value, next_pos, is_unknown) — EBML variable-width int.  IDs
    keep the marker bit (matroska convention); sizes strip it, and an
    all-ones size means 'unknown: extends to the parent's end'."""
    if pos >= len(data):
        raise ValueError("EBML varint past end")
    b0 = data[pos]
    if b0 == 0:
        raise ValueError("EBML varint over 8 bytes")
    n = 9 - b0.bit_length()
    if pos + n > len(data):
        raise ValueError("truncated EBML varint")
    raw = int.from_bytes(data[pos : pos + n], "big")
    if keep_marker:
        return raw, pos + n, False
    val = raw - (1 << (7 * n))
    return val, pos + n, val == (1 << (7 * n)) - 1


def _parse_mkv(data: bytes) -> dict:
    f: dict = {}
    state = {"timescale": 1_000_000, "duration": None, "budget": _WALK_CAP}

    def walk(pos: int, end: int, depth: int) -> None:
        while pos < end and state["budget"] > 0 and depth <= 8:
            state["budget"] -= 1
            eid, pos, _ = _ebml_vint(data, pos, True)
            esize, pos, unknown = _ebml_vint(data, pos, False)
            if unknown or pos + esize > end:
                esize = end - pos  # unknown-size (live-muxed) / truncated
            body = data[pos : pos + esize]
            if eid in _EBML_MASTERS:
                walk(pos, pos + esize, depth + 1)
            elif eid == 0x4282:  # DocType
                dt = body.split(b"\x00", 1)[0].decode("ascii", "replace")
                f["content_type"] = (
                    "video/webm" if dt == "webm" else "video/x-matroska"
                )
            elif eid == 0x2AD7B1 and body:  # TimestampScale (ns/tick)
                state["timescale"] = int.from_bytes(body, "big") or 1
            elif eid == 0x4489 and len(body) in (4, 8):  # Duration (ticks)
                state["duration"] = struct.unpack(
                    ">f" if len(body) == 4 else ">d", body
                )[0]
            elif eid == 0x7BA9 and body:  # Title
                f.setdefault(
                    "title", body.decode("utf-8", "replace").strip() or None
                )
            elif eid == 0xB0 and body:  # PixelWidth
                f["width"] = max(f.get("width", 0), int.from_bytes(body, "big"))
            elif eid == 0xBA and body:  # PixelHeight
                f["height"] = max(f.get("height", 0), int.from_bytes(body, "big"))
            elif eid == 0xB5 and len(body) in (4, 8):  # SamplingFrequency
                f["sample_rate"] = int(
                    struct.unpack(">f" if len(body) == 4 else ">d", body)[0]
                )
            elif eid == 0x9F and body:  # Channels
                f["channels"] = int.from_bytes(body, "big")
            pos += esize

    try:
        walk(0, len(data), 0)
    except ValueError:
        if not f:
            raise
    if "content_type" not in f:
        raise ValueError("no EBML DocType")
    dur, ts = state["duration"], state["timescale"]
    if dur and dur > 0:
        f["duration_ms"] = int(dur * ts / 1_000_000)
    return f


# -- OGG (Vorbis / Opus) -----------------------------------------------------


def _parse_ogg(data: bytes) -> dict:
    f: dict = {}
    pos = 0
    serial0: int | None = None
    packets: list[bytes] = []
    cur = bytearray()
    last_granule = 0
    for _ in range(_WALK_CAP):
        if pos + 27 > len(data) or data[pos : pos + 4] != b"OggS":
            break
        granule = int.from_bytes(data[pos + 6 : pos + 14], "little", signed=True)
        serial = int.from_bytes(data[pos + 14 : pos + 18], "little")
        nsegs = data[pos + 26]
        lacing = data[pos + 27 : pos + 27 + nsegs]
        body = pos + 27 + nsegs
        if serial0 is None:
            serial0 = serial
        if serial == serial0:
            if granule > 0:
                last_granule = max(last_granule, granule)
            if len(packets) < 2:
                off = body
                for seg in lacing:
                    cur += data[off : off + seg]
                    off += seg
                    if seg < 255:
                        packets.append(bytes(cur))
                        cur = bytearray()
        pos = body + sum(lacing)
    if not packets:
        raise ValueError("no Ogg packets")
    gran_rate = 0
    p1 = packets[0]
    if p1.startswith(b"\x01vorbis") and len(p1) >= 16:
        f["channels"] = p1[11]
        f["sample_rate"] = int.from_bytes(p1[12:16], "little")
        gran_rate = f["sample_rate"]
        if len(packets) > 1 and packets[1].startswith(b"\x03vorbis"):
            f.update(_vorbis_comments(packets[1][7:]))
    elif p1.startswith(b"OpusHead") and len(p1) >= 16:
        f["channels"] = p1[9]
        f["sample_rate"] = int.from_bytes(p1[12:16], "little")
        gran_rate = 48000  # Opus granule positions are always 48 kHz
        if len(packets) > 1 and packets[1].startswith(b"OpusTags"):
            f.update(_vorbis_comments(packets[1][8:]))
    if gran_rate and last_granule:
        f["duration_ms"] = last_granule * 1000 // gran_rate
    if "channels" not in f:
        raise ValueError("no Vorbis/Opus id header")
    return f


# ---------------------------------------------------------------------------
# dispatcher + stable content render
# ---------------------------------------------------------------------------

_PARSERS = {
    "image/jpeg": _parse_jpeg,
    "image/png": _parse_png,
    "image/gif": _parse_gif,
    "image/tiff": _parse_tiff,
    "image/bmp": _parse_bmp,
    "image/webp": _parse_webp,
    "audio/x-wav": _parse_wav,
    "video/x-msvideo": _parse_avi,
    "audio/mpeg": _parse_mp3,
    "audio/flac": _parse_flac,
    "audio/ogg": _parse_ogg,
    "video/mp4": _parse_mp4,
    "audio/mp4": _parse_mp4,
    "image/heic": _parse_heif,
    "image/avif": _parse_heif,
    "image/vnd.microsoft.icon": _parse_ico,
    "video/webm": _parse_mkv,  # refines to x-matroska via DocType
    "audio/aiff": _parse_aiff,
    "video/x-ms-asf": _parse_asf,  # refines to x-ms-wma when audio-only
}

#: content render order — free-text first (searchable), numerics after;
#: title/author/datetime are FIELDS, not content lines
_CONTENT_KEYS = (
    "description", "comment", "album", "year", "make", "model",
    "width", "height", "channels", "sample_rate", "bits", "duration_ms",
)


def extract_media(data: bytes) -> dict | None:
    """media bytes → metadata dict, or None when not a media format.

    Fields: content (stable ``key: value`` lines in _CONTENT_KEYS
    order), title, author, description, datetime (ISO str), mimetype,
    width, height, duration_ms, sample_rate, channels, n_blocks, ok,
    err.  Total: corrupt payloads keep the sniffed label with
    ok=False + err."""
    ctype = sniff_media(data)
    if ctype is None:
        return None
    res = {
        "content": "",
        "title": None,
        "author": None,
        "description": None,
        "datetime": None,
        "content_type": ctype,
        "width": None,
        "height": None,
        "duration_ms": None,
        "sample_rate": None,
        "channels": None,
        "n_blocks": 0,
        "ok": True,
        "err": None,
    }
    try:
        f = _PARSERS[ctype](data)
    except Exception as e:  # noqa: BLE001 — total-function contract
        res["ok"] = False
        res["err"] = f"{type(e).__name__}: {e}"
        return res
    for key in ("title", "author", "description", "width", "height",
                "duration_ms", "sample_rate", "channels"):
        if f.get(key) is not None:
            res[key] = f[key]
    if f.get("content_type"):  # EBML DocType refines webm vs matroska
        res["content_type"] = f["content_type"]
    res["datetime"] = f.get("datetime")
    lines = [f"{k}: {f[k]}" for k in _CONTENT_KEYS if f.get(k) not in (None, "")]
    res["content"] = "\n".join(lines)
    res["n_blocks"] = len(lines)
    return res


# ---------------------------------------------------------------------------
# deterministic fixture builders (tests + driver oracle; independent
# hand-assembled pins live in tests/test_media.py)
# ---------------------------------------------------------------------------


def _tiff_bytes(
    w: int, h: int, description: str | None, artist: str | None,
    dt_original: str | None,
) -> bytes:
    """little-endian TIFF: IFD0 with dims + text tags (+Exif sub-IFD
    holding DateTimeOriginal when given)."""
    texts: list[tuple[int, str]] = []
    if description:
        texts.append((_TAG_DESC, description))
    if artist:
        texts.append((_TAG_ARTIST, artist))
    n0 = 2 + len(texts) + (1 if dt_original else 0)
    heap_base = 8 + (2 + 12 * n0 + 4)  # header + IFD0
    heap = bytearray()
    packed: list[bytes] = [
        struct.pack("<HHI", _TAG_WIDTH, 3, 1) + struct.pack("<HH", w, 0),
        struct.pack("<HHI", _TAG_HEIGHT, 3, 1) + struct.pack("<HH", h, 0),
    ]
    for tag, text in texts:
        raw = text.encode() + b"\x00"
        if len(raw) <= 4:
            packed.append(struct.pack("<HHI", tag, 2, len(raw)) + raw.ljust(4, b"\x00"))
        else:
            packed.append(
                struct.pack("<HHI", tag, 2, len(raw))
                + struct.pack("<I", heap_base + len(heap))
            )
            heap += raw
    if dt_original:
        sub_raw = dt_original.encode() + b"\x00"
        sub_off = heap_base + len(heap)  # sub-IFD sits in the heap
        sub_val_off = sub_off + 2 + 12 + 4  # count + 1 entry + next ptr
        sub_ifd = (
            struct.pack("<H", 1)
            + struct.pack("<HHI", _TAG_DT_ORIGINAL, 2, len(sub_raw))
            + struct.pack("<I", sub_val_off)
            + struct.pack("<I", 0)
            + sub_raw
        )
        packed.append(
            struct.pack("<HHI", _TAG_EXIF_IFD, 4, 1) + struct.pack("<I", sub_off)
        )
        heap += sub_ifd
    packed.sort(key=lambda e: struct.unpack("<H", e[:2])[0])  # ascending tags
    body = struct.pack("<H", len(packed)) + b"".join(packed) + struct.pack("<I", 0)
    return b"II*\x00" + struct.pack("<I", 8) + body + bytes(heap)


def build_tiff(w: int, h: int, description: str | None = None,
               artist: str | None = None, dt: str | None = None) -> bytes:
    return _tiff_bytes(w, h, description, artist, dt)


def build_jpeg(w: int, h: int, description: str | None = None,
               artist: str | None = None, dt: str | None = None,
               comment: str | None = None) -> bytes:
    out = bytearray(b"\xff\xd8")
    jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(jfif) + 2) + jfif
    if description or artist or dt:
        tiff = b"Exif\x00\x00" + _tiff_bytes(w, h, description, artist, dt)
        out += b"\xff\xe1" + struct.pack(">H", len(tiff) + 2) + tiff
    if comment:
        raw = comment.encode()
        out += b"\xff\xfe" + struct.pack(">H", len(raw) + 2) + raw
    sof = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    out += b"\x00"  # one entropy byte
    out += b"\xff\xd9"
    return bytes(out)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def build_png(w: int, h: int, texts: dict[str, str] | None = None) -> bytes:
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    for key, val in (texts or {}).items():
        try:
            out += _png_chunk(b"tEXt", key.encode("latin-1") + b"\x00" + val.encode("latin-1"))
        except UnicodeEncodeError:
            out += _png_chunk(
                b"iTXt",
                key.encode("latin-1") + b"\x00\x00\x00" + b"\x00" + b"\x00" + val.encode("utf-8"),
            )
    out += _png_chunk(b"IDAT", zlib.compress(b"\x00" * (w * 3 + 1)))
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def build_gif(w: int, h: int, comment: str | None = None) -> bytes:
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h) + b"\x80\x00\x00"  # GCT flag, 2 entries
    out += b"\x00\x00\x00\xff\xff\xff"  # 2-entry global color table
    if comment:
        raw = comment.encode()
        out += b"\x21\xfe"
        for i in range(0, len(raw), 255):
            blk = raw[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    # 1×1 image with a trivial LZW stream
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00"
    out += b"\x02\x02\x44\x01\x00"
    out += b"\x3b"
    return bytes(out)


def build_bmp(w: int, h: int) -> bytes:
    row = (w * 3 + 3) & ~3
    pix = row * h
    hdr = b"BM" + struct.pack("<IHHI", 54 + pix, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, pix, 2835, 2835, 0, 0)
    return hdr + dib + b"\x00" * pix


def build_mp3(title: str, artist: str, album: str | None = None,
              year: str | None = None, audio_ms: int = 1000) -> bytes:
    """ID3v2.3 tag + CBR MPEG1-L3 128 kbps audio (16 bytes/ms)."""

    def frame(fid: bytes, text: str) -> bytes:
        body = b"\x00" + text.encode("latin-1", "replace")
        return fid + struct.pack(">I", len(body)) + b"\x00\x00" + body

    frames = frame(b"TIT2", title) + frame(b"TPE1", artist)
    if album:
        frames += frame(b"TALB", album)
    if year:
        frames += frame(b"TYER", year)
    size = len(frames)
    hdr = b"ID3\x03\x00\x00" + bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    audio = b"\xff\xfb\x90\x00" + b"\x00" * (audio_ms * 16 - 4)
    return hdr + frames + audio


def build_wav(nsamples: int, rate: int = 8000, channels: int = 1,
              info: dict[str, str] | None = None) -> bytes:
    bits = 16
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if info:
        sub = b"INFO"
        for key, val in info.items():
            raw = val.encode() + b"\x00"
            # RIFF: declared size excludes the odd-length pad byte
            sub += key.encode("ascii") + struct.pack("<I", len(raw)) + raw
            sub += b"\x00" * (len(raw) & 1)
        chunks += b"LIST" + struct.pack("<I", len(sub)) + sub
    pcm = b"\x00" * (nsamples * block)
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def build_flac(nsamples: int, rate: int = 16000, channels: int = 1,
               comments: dict[str, str] | None = None) -> bytes:
    si = bytearray(34)
    si[0:2] = struct.pack(">H", 4096)
    si[2:4] = struct.pack(">H", 4096)
    si[10] = (rate >> 12) & 0xFF
    si[11] = (rate >> 4) & 0xFF
    si[12] = ((rate & 0x0F) << 4) | ((channels - 1) << 1) | (15 >> 4)
    si[13] = ((16 - 1) & 0x0F) << 4 | ((nsamples >> 32) & 0x0F)
    si[14:18] = struct.pack(">I", nsamples & 0xFFFFFFFF)
    blocks = bytes([0]) + struct.pack(">I", 34)[1:] + bytes(si)
    if comments:
        vendor = b"ref-builder"
        vc = struct.pack("<I", len(vendor)) + vendor
        vc += struct.pack("<I", len(comments))
        for key, val in comments.items():
            item = f"{key}={val}".encode()
            vc += struct.pack("<I", len(item)) + item
        blocks += bytes([0x84]) + struct.pack(">I", len(vc))[1:] + vc
    else:
        blocks = bytes([0x80]) + blocks[1:]
    return b"fLaC" + blocks


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def build_mp4(duration_ms: int, w: int = 0, h: int = 0,
              tags: dict[str, str] | None = None, brand: bytes = b"isom") -> bytes:
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, duration_ms) + b"\x00" * 80,
    )
    moov_kids = mvhd
    if w and h:
        tkhd = _box(  # v0 payload is 84 bytes after verflags (spec shape)
            b"tkhd",
            b"\x00\x00\x00\x07" + b"\x00" * 76
            + struct.pack(">II", w << 16, h << 16),
        )
        moov_kids += _box(b"trak", tkhd)
    if tags:
        ilst = b""
        rev = {v: k for k, v in _ILST_KEYS.items()}
        for key, val in tags.items():
            datab = _box(
                b"data", struct.pack(">II", 1, 0) + val.encode()
            )
            ilst += _box(rev[key], datab)
        meta = _box(b"meta", b"\x00\x00\x00\x00" + _box(b"ilst", ilst))
        moov_kids += _box(b"udta", meta)
    return ftyp + _box(b"moov", moov_kids) + _box(b"mdat", b"\x00" * 8)


def build_asf(duration_ms: int, w: int = 0, h: int = 0,
              title: str | None = None, author: str | None = None,
              rate: int = 0, channels: int = 0) -> bytes:
    """minimal [MS-ASF] header object + empty data section."""

    def obj(guid: bytes, body: bytes) -> bytes:
        return guid + struct.pack("<Q", 24 + len(body)) + body

    subs = []
    fp = (  # 80-byte body per [MS-ASF] 2.3.2 (r4 review: the old 76-byte
        # form omitted Maximum Bitrate and only our own parser took it)
        b"\x00" * 16 + struct.pack("<QQQ", 0, 0, 0)
        + struct.pack("<Q", (duration_ms + 500) * 10_000)
        + struct.pack("<Q", 0) + struct.pack("<Q", 500)  # preroll 500 ms
        + struct.pack("<I", 2)  # flags: seekable, NOT broadcast
        + struct.pack("<III", 0, 0, 0)  # min/max packet size, max bitrate
    )
    subs.append(obj(_ASF_FILE_PROPS, fp))
    if w and h:
        ts = struct.pack("<IIBH", w, h, 0, 0)
        sp = (
            _ASF_VIDEO_MEDIA + b"\x00" * 16 + struct.pack("<Q", 0)
            + struct.pack("<II", len(ts), 0) + struct.pack("<HI", 1, 0) + ts
        )
        subs.append(obj(_ASF_STREAM_PROPS, sp))
    if rate:
        ts = struct.pack("<HHIIHH", 1, channels or 1, rate, rate * 2, 2, 16)
        sp = (
            _ASF_AUDIO_MEDIA + b"\x00" * 16 + struct.pack("<Q", 0)
            + struct.pack("<II", len(ts), 0) + struct.pack("<HI", 2, 0) + ts
        )
        subs.append(obj(_ASF_STREAM_PROPS, sp))
    if title or author:
        t = (title or "").encode("utf-16-le") + b"\x00\x00"
        a = (author or "").encode("utf-16-le") + b"\x00\x00"
        cd = struct.pack("<HHHHH", len(t), len(a), 0, 0, 0) + t + a
        subs.append(obj(_ASF_CONTENT_DESC, cd))
    body = b"".join(subs)
    hdr = (
        _ASF_HEADER_GUID + struct.pack("<Q", 30 + len(body))
        + struct.pack("<I", len(subs)) + b"\x01\x02" + body
    )
    return hdr + b"\x00" * 16  # token data-object stub


def build_aiff(nframes: int, rate: int = 8000, channels: int = 1,
               name: str | None = None, author: str | None = None) -> bytes:
    # 80-bit extended float for the sample rate
    exp = rate.bit_length() - 1
    mant = rate << (63 - exp)
    comm = (
        struct.pack(">HIH", channels, nframes, 16)
        + struct.pack(">H", 16383 + exp) + struct.pack(">Q", mant)
    )
    chunks = b"COMM" + struct.pack(">I", len(comm)) + comm
    for cid, text in ((b"NAME", name), (b"AUTH", author)):
        if text:
            raw = text.encode()
            chunks += cid + struct.pack(">I", len(raw)) + raw
            chunks += b"\x00" * (len(raw) & 1)
    pcm = b"\x00" * (8 + nframes * channels * 2)
    chunks += b"SSND" + struct.pack(">I", len(pcm)) + pcm
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFF" + chunks


def build_heic(w: int, h: int, brand: bytes = b"heic") -> bytes:
    """ftyp + meta(full)/iprp/ipco/ispe — the dims path real HEIF
    writers emit (thumbnail ispe omitted)."""
    ispe = _box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", w, h))
    meta = _box(
        b"meta",
        b"\x00\x00\x00\x00" + _box(b"iprp", _box(b"ipco", ispe)),
    )
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mif1")
    return ftyp + meta


def build_ico(sizes: list[tuple[int, int]]) -> bytes:
    """ICONDIR + entries (payload bytes are a stub — dims-only tier)."""
    hdr = struct.pack("<HHH", 0, 1, len(sizes))
    entries = b""
    img_off = 6 + 16 * len(sizes)
    for w, h in sizes:
        entries += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32, 4, img_off
        )
        img_off += 4
    return hdr + entries + b"\x00" * (4 * len(sizes))


def _ebml(eid: int, body: bytes) -> bytes:
    """one EBML element: raw id bytes + minimal-width size + body."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = 1
    while len(body) >= (1 << (7 * n)) - 1:  # all-ones = unknown, avoid
        n += 1
    size = ((1 << (7 * n)) + len(body)).to_bytes(n, "big")
    return idb + size + body


def build_mkv(
    duration_ms: int, w: int = 0, h: int = 0, title: str | None = None,
    doctype: str = "webm", sample_rate: int = 0, channels: int = 0,
) -> bytes:
    header = _ebml(0x1A45DFA3, _ebml(0x4282, doctype.encode()))
    info = _ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
    info += _ebml(0x4489, struct.pack(">d", float(duration_ms)))
    if title:
        info += _ebml(0x7BA9, title.encode("utf-8"))
    tracks = b""
    if w and h:
        video = _ebml(0xB0, w.to_bytes(2, "big")) + _ebml(0xBA, h.to_bytes(2, "big"))
        tracks += _ebml(0xAE, _ebml(0xE0, video))
    if sample_rate:
        audio = _ebml(0xB5, struct.pack(">f", float(sample_rate)))
        if channels:
            audio += _ebml(0x9F, bytes([channels]))
        tracks += _ebml(0xAE, _ebml(0xE1, audio))
    segment = _ebml(0x1549A966, info)
    if tracks:
        segment += _ebml(0x1654AE6B, tracks)
    return header + _ebml(0x18538067, segment)


_OGG_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) if _r & 0x80000000 else (_r << 1)
    _OGG_CRC_TABLE.append(_r & 0xFFFFFFFF)


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def _ogg_page(serial: int, seq: int, granule: int, packets: list[bytes],
              htype: int = 0) -> bytes:
    lacing = bytearray()
    body = bytearray()
    for p in packets:
        body += p
        n, rem = divmod(len(p), 255)
        lacing += b"\xff" * n + bytes([rem])
    hdr = (
        b"OggS\x00" + bytes([htype])
        + struct.pack("<q", granule) + struct.pack("<III", serial, seq, 0)
        + bytes([len(lacing)]) + bytes(lacing)
    )
    page = bytearray(hdr + body)
    crc = _ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def build_ogg_vorbis(total_samples: int, rate: int = 8000, channels: int = 1,
                     comments: dict[str, str] | None = None) -> bytes:
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
        + struct.pack("<I", rate) + struct.pack("<iii", 0, 128000, 0)
        + b"\xb8\x01"
    )
    vendor = b"ref-builder"
    vc = struct.pack("<I", len(vendor)) + vendor
    vc += struct.pack("<I", len(comments or {}))
    for key, val in (comments or {}).items():
        item = f"{key}={val}".encode()
        vc += struct.pack("<I", len(item)) + item
    comment_pkt = b"\x03vorbis" + vc + b"\x01"  # framing bit
    p0 = _ogg_page(0x5EED, 0, 0, [ident], htype=2)  # BOS
    p1 = _ogg_page(0x5EED, 1, 0, [comment_pkt])
    p2 = _ogg_page(0x5EED, 2, total_samples, [b"\x00\x01\x02"], htype=4)  # EOS
    return p0 + p1 + p2
