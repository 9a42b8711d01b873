"""Container explodes: one parent doc → many child rows.

The reference's only table-generating operators (SURVEY.md §2.2) —
each re-enters the full ETL per child (enhance_zip.py:31-116,
enhance_warc.py:64-106, enhance_csv.py:205-253, enhance_pdf_page.py:
62-147, enhance_sentence_segmentation.py:89-129). Here each becomes a
pandas-UDF stage producing ``array<struct<…>>`` followed by
``posexplode`` — the child rows then flow through the same enrichment
pipeline (plans/pipeline.py) as any page.  The per-row container
explodes (zip, warc, pst, mbox, csv, dbf, sqlite, and
sources/columnar.py) all run through one helper, ``explode_rows``.

Child-id schemes preserved exactly:
  zip member   → ``<id>/<member path>``, ``container_s`` = outermost zip
  tar member   → ``<id>/<member name>`` (same scheme; plain or gz/bz2/xz)
  warc record  → ``<target_uri>/<record_id>``
  csv row      → ``<id>#<rownum>`` with ``page_i`` = rownum
  sqlite row   → ``<id>#<table>#<rownum>`` with ``page_i`` = rownum
  pdf page     → ``<id>#page=<n>`` (1-based), parent title/author copied
  mbox message → ``<id>#msg=<n>`` (1-based), raw RFC-822 bytes
  sentence     → ``<id>#sentence<n>`` (1-based)

One container walk (``_walk``) serves ``explode_zip`` rows and every
member inside them, at any depth.  Like Tika (one detector, a registry
of parsers), the mimetype sniff ``htmlx.sniff_content_type`` names the
payload and ``_WALKERS`` maps the label to its walker:

  application/zip                    zipfile (+ zipcodecs legacy methods)
  application/x-7z-compressed        operators/sevenzip.py
  application/x-archive              ar (.deb / .a)
  application/x-cpio                 cpio newc / odc
  application/x-iso9660-image        operators/iso9660.py
  application/vnd.rar                operators/rar.py
  application/vnd.ms-cab-compressed  operators/cab.py
  application/x-arj                  operators/arj.py

Three input rules differ by depth: a nested ``PK`` payload is walked as
a zip only when its name ends in ``.zip`` (``.docx``/``.epub`` members
stay documents); a nested tar is recognised by ``_sniff_tar`` (ustar,
or tar name + compression magic) before the label lookup; a top-level
row whose label has no walker tries ``tarfile r:*`` (plain or
gz/bz2/xz/Z/zst/lz4/lzma/sz) and then a zip with leading junk.  At
both depths a payload whose label has no walker first tries the
archive behind a self-extracting EXE stub (``_sfx_archive``).

Degrade rule: a walker that raises means "not this format".  A member
no walker accepts is one opaque member row (its bytes are never lost,
and its siblings stay); a top-level row no walker accepts yields no
children.  Every walk shares one byte budget per top-level row and the
nesting-depth cap.  All parsers are stdlib or in-repo, running on
binary columns inside Arrow batches — no temp files, no subprocesses.
"""

from __future__ import annotations

import csv as _csv
import io
import re
import zipfile
from functools import partial
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_semantic_etl_spark.operators.arj import arj_members
from open_semantic_etl_spark.operators.cab import cab_members
from open_semantic_etl_spark.operators.htmlx import sniff_content_type
from open_semantic_etl_spark.operators.iso9660 import iso_members
from open_semantic_etl_spark.operators.rar import rar_members
from open_semantic_etl_spark.operators.sevenzip import sevenzip_members


#: child struct field → output column; every other field keeps its name
_CHILD_NAMES = {"child_id": "url", "bytes": "html"}


def explode_rows(
    df: DataFrame,
    parse: Callable[[bytes, str], list[dict]],
    child_type: T.ArrayType,
) -> DataFrame:
    """the one per-row explode: ``parse(html bytes, url)`` → child
    dicts of ``child_type``; one output row per child, a column per
    struct field (``child_id`` → ``url``, ``bytes`` → ``html``) plus
    ``parent_id``.  A row whose parse raises yields no children."""

    def run(series: pd.Series, ids: pd.Series) -> pd.Series:
        res = []
        for data, base in zip(series, ids):
            try:
                res.append(parse(bytes(data), base))
            except Exception:  # noqa: BLE001 — bad payload → no children
                res.append([])
        return pd.Series(res)

    udf = F.pandas_udf(run, child_type)
    ex = df.withColumn("_children", udf(F.col("html"), F.col("url")))
    ex = ex.select(F.col("url").alias("parent_id"), F.explode("_children").alias("c"))
    return ex.select(
        *[
            F.col(f"c.{f.name}").alias(_CHILD_NAMES.get(f.name, f.name))
            for f in child_type.elementType.fields
        ],
        "parent_id",
    )


# ---------------------------------------------------------------------------
# ZIP — enhance_zip semantics (recursive, outermost container wins)
# ---------------------------------------------------------------------------

ZIP_CHILD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("child_id", T.StringType(), False),
            T.StructField("container_s", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), True),
        ]
    )
)


#: zip-bomb guards: zipfile never yields more than a member's declared
#: file_size, so checking it BEFORE read bounds allocation. A poison
#: archive (high-ratio or overlap bomb) must not OOM the Python worker —
#: that death is uncatchable by the per-row try.
ZIP_MAX_MEMBER_BYTES = 1 << 28   # 256 MB per member
ZIP_MAX_ARCHIVE_BYTES = 1 << 30  # 1 GB decompressed per container
_ZIP_MAX_DEPTH = 8               # zip-in-zip nesting


def _pair_rows(
    reader: Callable[..., list[tuple[str, bytes]]],
    data: bytes,
    base_id: str,
    container: str,
    _depth: int = 0,
    _budget: list[int] | None = None,
) -> list[dict]:
    """a native archive reader (operators/: ``reader(data, max_member,
    max_total)`` → [(name, payload)], caps enforced from DECLARED sizes
    before it decompresses; raises on what it cannot read) as a walker:
    zip-tier id scheme, byte budget with a 64 B minimum charge (a
    million empty members cannot spin the worker), oversized-member
    skip, nesting dispatch."""
    if _budget is None:
        _budget = [ZIP_MAX_ARCHIVE_BYTES]
    members = reader(data, max_member=ZIP_MAX_MEMBER_BYTES, max_total=max(_budget[0], 1))
    out: list[dict] = []
    for name, payload in members:
        if len(payload) > min(ZIP_MAX_MEMBER_BYTES, _budget[0]):
            continue  # oversized member: skip it, keep the rest
        _budget[0] -= max(len(payload), 64)
        out.extend(
            _dispatch_member(
                payload, f"{base_id}/{name}", name, container, _depth, _budget
            )
        )
        if _budget[0] <= 0:
            break
    return out


def _native_zip_read(data: bytes, info: "zipfile.ZipInfo") -> bytes | None:
    """members ``zipfile`` cannot decode — Shrink (1), Implode (6),
    Deflate64 (9), zstd (93), xz (95), the methods Tika's Commons-
    Compress tier handles (enhance_zip.py:31-116).  Parses the local
    header at ``info.header_offset`` (zipfile already normalized it
    for leading junk / SFX stubs), decodes via ``zipcodecs``, and
    trusts the result only if length AND crc32 match the central
    directory.  Returns None on any failure: the caller skips the
    member and keeps its siblings."""
    import struct
    import zlib

    from open_semantic_etl_spark.operators.zipcodecs import (
        NATIVE_ZIP_METHODS,
        decode_zip_member,
    )

    if info.compress_type not in NATIVE_ZIP_METHODS or info.flag_bits & 0x1:
        return None  # no safe decoder / encrypted — fail loudly by skip
    off = info.header_offset
    if data[off : off + 4] != b"PK\x03\x04" or off + 30 > len(data):
        return None
    n, m = struct.unpack_from("<HH", data, off + 26)
    start = off + 30 + n + m
    comp = data[start : start + info.compress_size]
    if len(comp) != info.compress_size:
        return None
    try:
        payload = decode_zip_member(
            info.compress_type,
            info.flag_bits,
            comp,
            info.file_size,
            cap=ZIP_MAX_MEMBER_BYTES,
        )
    except Exception:  # noqa: BLE001 — corrupt stream: skip this member
        return None
    if len(payload) != info.file_size or zlib.crc32(payload) != info.CRC:
        return None
    return payload


def _zip_members(
    data: bytes,
    base_id: str,
    container: str,
    _depth: int = 0,
    _budget: list[int] | None = None,
) -> list[dict]:
    if _budget is None:
        _budget = [ZIP_MAX_ARCHIVE_BYTES]
    out: list[dict] = []
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            if info.file_size > min(ZIP_MAX_MEMBER_BYTES, _budget[0]):
                continue  # oversized member: skip it, keep the rest
            try:
                payload = zf.read(info)
            except NotImplementedError:
                # method zipfile lacks: Shrink/Implode/Deflate64/zstd/xz
                # decode natively (zipcodecs), CRC-verified; Reduce/PPMd
                # and friends stay None → skip the member, keep siblings
                payload = _native_zip_read(data, info)
                if payload is None:
                    continue
            except Exception:  # noqa: BLE001 — encrypted (RuntimeError) or
                continue  # CRC-bad member: skip IT, keep the rest (the
                # oversized-member rule; one locked file must not erase
                # every sibling's children)
            _budget[0] -= len(payload)
            child_id = f"{base_id}/{info.filename}"
            # nested containers recurse, keeping the OUTERMOST container id
            out.extend(
                _dispatch_member(
                    payload, child_id, info.filename, container, _depth, _budget
                )
            )
            if _budget[0] <= 0:
                break
    return out


# POSIX ustar magic sits at byte 257 of the first header block; a
# compressed tar can only be recognized by (compression magic + name) —
# decompressing every gz member just to probe would defeat the bomb caps
_TAR_NAME_RE = re.compile(
    r"\.(tar(\.(gz|bz2|xz|z|zst|lz4|lzma|sz))?|tgz|tbz2?|txz|taz|tz|tzst)$",
    re.IGNORECASE,
)


def _sniff_tar(payload: bytes, name: str) -> bool:
    if len(payload) >= 263 and payload[257:262] == b"ustar":
        return True
    return bool(
        _TAR_NAME_RE.search(name)
        and (
            payload[:2] == b"\x1f\x8b"
            or payload[:3] == b"BZh"
            or payload[:6] == b"\xfd7zXZ\x00"
            or payload[:2] == b"\x1f\x9d"
            or payload[:4] == b"\x28\xb5\x2f\xfd"
            or payload[:4] == b"\x04\x22\x4d\x18"
            or payload[:10] == b"\xff\x06\x00\x00sNaPpY"
            or payload[:3] == b"\x5d\x00\x00"
        )
    )


def _tar_members(
    data: bytes,
    base_id: str,
    container: str,
    _depth: int = 0,
    _budget: list[int] | None = None,
) -> list[dict]:
    """tar (plain or gz/bz2/xz/lzma via ``r:*``; .Z/zst/lz4 unwrapped
    first) → member rows; same id scheme,
    byte budget, and nesting depth as zip (Tika's TarParser tier,
    enhance_zip.py:31-116 child semantics).  Each header block is
    charged 512 B against the budget so a compressed bomb of millions
    of empty members cannot spin the worker.

    A tar truncated mid-archive (cut-off download) keeps its complete
    leading members — the WARC tier's partial-record rule — but a
    payload that yields NO member before breaking still raises, so
    non-tar garbage keeps flowing to the caller's degrade paths
    (opaque member row when nested, zero children at top level)."""
    import tarfile

    if _budget is None:
        _budget = [ZIP_MAX_ARCHIVE_BYTES]
    if data[:2] == b"\x1f\x9d":
        # .tar.Z: tarfile's r:* has no LZW tier — unwrap it first
        # (Tika: ZCompressorInputStream feeds TarParser the same way)
        from open_semantic_etl_spark.operators.compressz import unlzw

        data = unlzw(data, cap=min(ZIP_MAX_ARCHIVE_BYTES, _budget[0]))
    elif data[:4] in (b"\x28\xb5\x2f\xfd", b"\x04\x22\x4d\x18"):
        # .tar.zst / .tar.lz4: also outside tarfile's r:* tier —
        # pyarrow's streaming codec unwraps without a size header
        # (raises on corruption/over-cap → the caller's degrade rule);
        # .tar.lzma needs no unwrap (LZMAFile FORMAT_AUTO reads alone)
        from open_semantic_etl_spark.operators.htmlx import (
            arrow_stream_decompress,
        )

        codec = "zstd" if data[:4] == b"\x28\xb5\x2f\xfd" else "lz4"
        data = arrow_stream_decompress(
            data, codec, min(ZIP_MAX_ARCHIVE_BYTES, _budget[0])
        )
    elif data[:10] == b"\xff\x06\x00\x00sNaPpY":
        # .tar.sz (snzip/snappy-framed tar): native framing decoder
        from open_semantic_etl_spark.operators.snappyf import unsnappy_frames

        data = unsnappy_frames(data, cap=min(ZIP_MAX_ARCHIVE_BYTES, _budget[0]))
    out: list[dict] = []
    with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
        it = iter(tf)
        while True:
            try:
                info = next(it)
            except StopIteration:
                break
            except Exception:  # noqa: BLE001 — truncation mid-archive
                if out:
                    return out  # keep the complete leading members
                raise
            _budget[0] -= 512  # header cost — empty-member bomb guard
            if _budget[0] <= 0:
                break
            if not info.isfile():
                continue
            if info.size > min(ZIP_MAX_MEMBER_BYTES, _budget[0]):
                continue  # oversized member: skip it, keep the rest
            fobj = tf.extractfile(info)
            if fobj is None:
                continue
            try:
                payload = fobj.read(info.size)
                if len(payload) != info.size:
                    raise EOFError("short read")  # half a document must not index
            except Exception:  # noqa: BLE001 — truncated final member
                if out:
                    return out  # keep the complete leading members
                raise
            _budget[0] -= len(payload)
            child_id = f"{base_id}/{info.name}"
            out.extend(
                _dispatch_member(
                    payload, child_id, info.name, container, _depth, _budget
                )
            )
            if _budget[0] <= 0:
                break
    return out


AR_MAGIC = b"!<arch>\n"
_CPIO_MAGICS = (b"070701", b"070702", b"070707")  # newc / crc / odc


def _ar_members(
    data: bytes,
    base_id: str,
    container: str,
    _depth: int = 0,
    _budget: list[int] | None = None,
) -> list[dict]:
    """Unix ``ar`` archive (Debian ``.deb``, static ``.a``) → member
    rows; GNU ``//`` long-name table and BSD ``#1/N`` inline names both
    handled (Commons Compress ArArchiveInputStream tier — Tika explodes
    these through the same AutoDetectParser path as zip,
    enhance_zip.py:31-116 child semantics).  A ``.deb``'s
    ``data.tar.xz`` member recurses through the tar tier, so dpkg
    payload files index individually."""
    if data[:8] != AR_MAGIC:
        raise ValueError("not an ar archive")
    if _budget is None:
        _budget = [ZIP_MAX_ARCHIVE_BYTES]
    out: list[dict] = []
    longnames = b""
    pos = 8
    while pos + 60 <= len(data):
        hdr = data[pos : pos + 60]
        if hdr[58:60] != b"`\n":
            break  # corrupt header: keep the complete leading members
        rawname = hdr[0:16].rstrip()
        try:
            size = int(hdr[48:58].split()[0])
        except (ValueError, IndexError):
            break
        body_at = pos + 60
        if body_at + size > len(data):
            break  # truncated final member: never index half a file
        payload = data[body_at : body_at + size]
        pos = body_at + size + (size & 1)  # members pad to even offsets
        _budget[0] -= 60
        name = rawname.decode("latin-1")
        if name == "//":  # GNU long-name table
            longnames = payload
            continue
        if name in ("/", "/SYM64/"):  # GNU symbol index
            continue
        if name.startswith("#1/"):  # BSD: name length prepends the data
            try:
                nlen = int(name[3:])
            except ValueError:
                break
            if nlen > len(payload):
                break
            name = payload[:nlen].split(b"\x00", 1)[0].decode("latin-1")
            payload = payload[nlen:]
        elif name.startswith("/") and name[1:].isdigit():  # GNU: table offset
            off = int(name[1:])
            end = longnames.find(b"\n", off)
            name = (
                longnames[off : end if end != -1 else len(longnames)]
                .rstrip(b"/")
                .decode("latin-1")
            )
        elif name.endswith("/"):  # GNU terminator slash
            name = name[:-1]
        if not name:
            continue
        if len(payload) > min(ZIP_MAX_MEMBER_BYTES, _budget[0]):
            continue  # oversized member: skip it, keep the rest
        _budget[0] -= len(payload)
        out.extend(
            _dispatch_member(payload, f"{base_id}/{name}", name, container, _depth, _budget)
        )
        if _budget[0] <= 0:
            break
    if not out and pos == 8:
        raise ValueError("ar archive with no readable member")
    return out


def _cpio_members(
    data: bytes,
    base_id: str,
    container: str,
    _depth: int = 0,
    _budget: list[int] | None = None,
) -> list[dict]:
    """cpio archive (newc ``070701``/``070702`` and odc ``070707``
    ASCII forms — the RPM payload / initramfs container; Commons
    Compress CpioArchiveInputStream tier) → member rows with the zip
    tier's id scheme, budget, and nested dispatch."""
    if data[:6] not in _CPIO_MAGICS:
        raise ValueError("not a cpio archive")
    if _budget is None:
        _budget = [ZIP_MAX_ARCHIVE_BYTES]
    out: list[dict] = []
    pos = 0
    saw_trailer = False
    while True:
        magic = data[pos : pos + 6]
        if magic not in _CPIO_MAGICS:
            break  # corrupt/trailing garbage: keep leading members
        try:
            if magic == b"070707":  # odc: octal fields, no padding
                hdr = data[pos : pos + 76]
                if len(hdr) < 76:
                    break
                mode = int(hdr[18:24], 8)
                namesize = int(hdr[59:65], 8)
                filesize = int(hdr[65:76], 8)
                name_at = pos + 76
                body_at = name_at + namesize
                nxt = body_at + filesize
            else:  # newc/crc: hex fields, 4-byte alignment
                hdr = data[pos : pos + 110]
                if len(hdr) < 110:
                    break
                mode = int(hdr[14:22], 16)
                filesize = int(hdr[54:62], 16)
                namesize = int(hdr[94:102], 16)
                name_at = pos + 110
                body_at = name_at + namesize + (-(110 + namesize) % 4)
                nxt = body_at + filesize + (-filesize % 4)
        except ValueError:
            break
        name_raw = data[name_at : name_at + namesize].split(b"\x00", 1)[0]
        name = name_raw.decode("latin-1")
        if name == "TRAILER!!!":
            saw_trailer = True
            break
        if body_at + filesize > len(data):
            break  # truncated final member
        _budget[0] -= 128  # header charge — empty-member bomb guard
        payload = data[body_at : body_at + filesize]
        pos = nxt
        if (mode & 0o170000) != 0o100000:
            continue  # directories / symlinks / devices: no document
        if len(payload) > min(ZIP_MAX_MEMBER_BYTES, _budget[0]):
            continue
        _budget[0] -= len(payload)
        # strip the leading ./ (cpio convention) WITHOUT eating real
        # leading dots — '.bashrc' must stay '.bashrc' (r4 review)
        clean = name
        while clean.startswith("./"):
            clean = clean[2:]
        clean = clean.lstrip("/") or name
        out.extend(
            _dispatch_member(
                payload, f"{base_id}/{clean}", clean, container, _depth, _budget
            )
        )
        if _budget[0] <= 0:
            break
    if not out and pos == 0 and not saw_trailer:
        raise ValueError("cpio archive with no readable member")
    return out


#: ISO 9660 images (operators/iso9660.py: budgeted ECMA-119 walk,
#: Joliet names preferred) — named, since tests walk one directly
_iso_members = partial(_pair_rows, iso_members)

#: ``sniff_content_type`` label → walker ``(data, base_id, container,
#: depth, budget)`` → member rows; a walker raises on a payload it
#: cannot read.  7z/rar/cab/arj readers decode STORED (rar/arj) or
#: their supported coders only and raise on the rest — fail loudly,
#: never guess a proprietary codec.
_WALKERS = {
    "application/zip": _zip_members,
    "application/x-7z-compressed": partial(_pair_rows, sevenzip_members),
    "application/x-archive": _ar_members,
    "application/x-cpio": _cpio_members,
    "application/x-iso9660-image": _iso_members,
    "application/vnd.rar": partial(_pair_rows, rar_members),
    "application/vnd.ms-cab-compressed": partial(_pair_rows, cab_members),
    "application/x-arj": partial(_pair_rows, arj_members),
}


def _walk(
    payload: bytes,
    child_id: str,
    container: str,
    depth: int,
    budget: list[int],
    name: str | None = None,
) -> list[dict] | None:
    """The one container walk: the rows of ``payload`` as an archive
    (``child_id`` prefixes its members, ``container`` stays the
    outermost id), or None when no walker accepts it.  ``name`` is the
    member name of a nested payload, None for a top-level row.

    Walkers are tried in order and the first that does not raise
    wins: a nested tar sniffed by name/magic; the walker of the sniff
    label (a nested ``PK`` payload only when named ``*.zip``); without
    one, the archive behind a self-extracting EXE, and for a top-level
    row then tar ``r:*`` and a zip with leading junk.  The EXE goes
    before the junk-prefixed zip: a RAR/7z installer often stores a
    zip whose tail zipfile would find first."""
    label = sniff_content_type(payload)
    walker = _WALKERS.get(label)
    tries = [_tar_members] if name is not None and _sniff_tar(payload, name) else []
    if walker is not None and (
        name is None or label != "application/zip" or name.lower().endswith(".zip")
    ):
        tries.append(walker)
    else:
        tries.append(_sfx_members)
        if name is None:
            tries += [_tar_members, _zip_members]
    for walk in tries:
        try:
            return walk(payload, child_id, container, depth, budget)
        except Exception:  # noqa: BLE001 — not this format: try the next
            pass
    return None


def _dispatch_member(
    payload: bytes,
    child_id: str,
    name: str,
    container: str,
    _depth: int,
    _budget: list[int],
) -> list[dict]:
    """one member of an archive walked at ``_depth`` → its rows: a
    nested archive walks one level deeper (outermost container id
    kept) until the depth cap; anything no walker accepts — including
    a corrupt nested archive — is one opaque member row."""
    if _depth < _ZIP_MAX_DEPTH:
        rows = _walk(payload, child_id, container, _depth + 1, _budget, name)
        if rows is not None:
            return rows
    return [{"child_id": child_id, "container_s": container, "bytes": payload}]


_SFX_SCAN_CAP = 4 << 20  # installer stubs sit well under 4 MiB


def _sfx_archive(data: bytes) -> bytes | None:
    """MZ-executable payload → the embedded archive bytes, or None.

    Self-extracting installers are an EXE stub followed by a plain
    RAR/7z/CAB archive — unrar, 7z, and cabextract all locate the
    archive by scanning for its signature (SFX zips need no scan:
    zipfile finds the end-of-central-directory from the TAIL).  The
    scan is capped: a real stub is tens of KB, and an archive magic
    appearing deep inside random EXE data fails its own walker, so
    the payload stays opaque (nested) or childless (top level)."""
    if data[:2] != b"MZ":
        return None
    best = None
    for sig in (b"Rar!\x1a\x07", b"7z\xbc\xaf\x27\x1c", b"MSCF"):
        i = data.find(sig, 2, _SFX_SCAN_CAP)
        if i > 0 and (best is None or i < best[0]):
            best = (i, sig)
    if best is None:
        return None
    i, sig = best
    tail = data[i:]
    if sig == b"MSCF" and sniff_content_type(tail) != "application/vnd.ms-cab-compressed":
        return None  # "MSCF" string inside the stub, not a cabinet
    return tail


def _sfx_members(
    data: bytes, base_id: str, container: str, _depth: int, _budget: list[int]
) -> list[dict]:
    """the archive behind a self-extracting EXE stub, walked in the
    EXE's place; raises when there is none or it does not walk."""
    sfx = _sfx_archive(data)
    rows = None if sfx is None else _walk(sfx, base_id, container, _depth, _budget)
    if rows is None:
        raise ValueError("no self-extracting archive")
    return rows


def _archive_rows(data: bytes, base_id: str) -> list[dict]:
    """one top-level row's members: one byte budget for the whole
    walk; a row no walker accepts has no children."""
    return _walk(data, base_id, base_id, 0, [ZIP_MAX_ARCHIVE_BYTES]) or []


def explode_zip(df: DataFrame) -> DataFrame:
    """archive rows → one row per (recursively reached) member file.

    Accepts every format in ``_WALKERS`` plus tar (plain/gz/bz2/xz/Z/
    zst/lz4/lzma/sz), self-extracting EXEs and zips with leading junk
    (zipfile finds the end-of-central-directory from the TAIL, so
    prefix-padded zips keep exploding though they don't start with
    ``PK``); named ``explode_zip`` for the reference operator it
    mirrors (enhance_zip.py:31-116)."""
    return explode_rows(df, _archive_rows, ZIP_CHILD_TYPE)


# ---------------------------------------------------------------------------
# WARC — minimal WARC/1.x reader (enhance_warc semantics: response records)
# ---------------------------------------------------------------------------

WARC_CHILD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("child_id", T.StringType(), False),
            T.StructField("target_uri", T.StringType(), True),
            T.StructField("warc_date", T.StringType(), True),
            T.StructField("bytes", T.BinaryType(), True),
        ]
    )
)

_HTTP_HDR_END = re.compile(rb"\r?\n\r?\n")


def _gunzip_members(data: bytes) -> bytes:
    """concatenate every gzip member: Common-Crawl ``.warc.gz`` files
    pack ONE record per member so ranges are seekable; warcio's
    ArchiveIterator streams them the same way. A non-gzip tail (or a
    truncated final member) is appended raw so partial files still
    yield their complete leading records."""
    import zlib

    out = []
    buf = data
    while buf[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(buf))
            out.append(d.flush())
        except zlib.error:
            break
        if not d.unused_data or d.unused_data == buf:
            buf = b""
            break
        buf = d.unused_data
    out.append(buf)
    return b"".join(out)


def _dechunk(body: bytes) -> bytes:
    """decode a Transfer-Encoding: chunked HTTP body (RFC 9112 §7.1);
    warcio's content_stream de-chunks transparently, so the reference's
    enhance_warc never sees chunk framing. Servers that claim chunked
    but send a plain body are a common real-world bug — warcio's
    ChunkedDataReader falls back to the raw stream when the first
    size line doesn't parse, and so does this (a later malformed line
    returns the chunks read so far)."""
    out = []
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            if not out:
                return body  # not actually chunked
            break
        try:
            size = int(body[pos:eol].split(b";")[0].strip() or b"0", 16)
        except ValueError:
            if not out:
                return body  # mislabeled: first size line isn't hex
            break
        if size == 0:
            break
        start = eol + 2
        out.append(body[start : start + size])
        pos = start + size + 2  # skip the chunk's trailing CRLF
    return b"".join(out)


def parse_warc(data: bytes) -> list[dict]:
    """yield response/conversion/resource records:
    (child_id, target_uri, warc_date, payload).

    Reads WARC/1.0/1.1 record headers (Content-Length framing) from
    plain OR gzipped input (multi-member ``.warc.gz`` — the Common
    Crawl layout); for ``response`` records strips the HTTP envelope
    to the body and decodes chunked transfer framing, matching
    warcio's content_stream behavior used by enhance_warc.py:80-92.
    (Content-Encoding compression is preserved as-is, also matching
    content_stream's default.)  ``conversion`` (Common Crawl WET
    extracted text) and ``resource`` records yield their payload
    directly; request/metadata/warcinfo records skip.
    """
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        if not data[pos:].lstrip().startswith(b"WARC/"):
            break
        start = pos + len(data[pos:]) - len(data[pos:].lstrip())
        m = _HTTP_HDR_END.search(data, start)
        if not m:
            break
        header_blob = data[start : m.start()].decode("utf-8", "replace")
        body_start = m.end()
        headers: dict[str, str] = {}
        for line in header_blob.split("\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        payload = data[body_start : body_start + length]
        pos = body_start + length
        wtype = headers.get("warc-type")
        if wtype in ("response", "conversion", "resource"):
            if wtype == "response":
                # strip the HTTP envelope + chunked framing
                http_m = _HTTP_HDR_END.search(payload)
                body = payload[http_m.end() :] if http_m else payload
                if http_m and re.search(
                    rb"(?im)^transfer-encoding:\s*chunked\s*$",
                    payload[: http_m.start()],
                ):
                    body = _dechunk(body)
            else:
                # conversion (Common Crawl WET extracted text) and
                # resource records carry the payload directly, no HTTP
                # envelope — warcio's content_stream does the same
                body = payload
            uri = headers.get("warc-target-uri")
            rid = headers.get("warc-record-id", "").strip("<>")
            out.append(
                {
                    "child_id": f"{uri}/{rid}",
                    "target_uri": uri,
                    "warc_date": headers.get("warc-date"),
                    "bytes": body,
                }
            )
    return out


def explode_warc(df: DataFrame) -> DataFrame:
    out = explode_rows(df, lambda data, _base: parse_warc(data), WARC_CHILD_TYPE)
    return out.select(
        "url", "target_uri", F.to_timestamp("warc_date").alias("warc_ts"), "html", "parent_id"
    )


# ---------------------------------------------------------------------------
# PST — enhance_pst.py:20-128 semantics (Outlook mail container →
# one child per extracted member). The reference shells out to the
# external ``readpst`` binary which dumps a folder tree where e-mail
# files are PURE NUMBERS (renamed ``.eml``, :100-108) and attachments
# are ``number-filename``; child id = parent id + '/<folder>/<file>'
# and ``container_s`` stays the outermost container (:71-74).
#
# Real ``!BDN`` payloads decode through the engine-native [MS-PST]
# parser (operators/pst.py — Unicode NDB/LTP walk; messages named by
# NID index so the bare-number rename rule below applies unchanged).
# The deterministic "extracted-tree" fixture format below still
# decodes too (it mimics a pre-extracted readpst dump).
# ---------------------------------------------------------------------------

PST_MAGIC = b"!BDN"  # MS-PST §2.2.2.6 header magic
PST_FIXTURE_MAGIC = b"!PSTFIX\n"

PST_CHILD_TYPE = ZIP_CHILD_TYPE  # same (child_id, container_s, bytes) shape


def build_pst_fixture(members: list[tuple[str, bytes]]) -> bytes:
    """serialize an extracted-tree fixture: the member list readpst
    would have produced (folder-relative path, payload)."""
    out = [PST_FIXTURE_MAGIC]
    for path, payload in members:
        if "\n" in path:
            raise ValueError("member paths cannot contain newlines")
        out.append(b"PSTM\n")
        out.append(path.encode() + b"\n")
        out.append(str(len(payload)).encode() + b"\n")
        out.append(payload + b"\n")
    return b"".join(out)


def parse_pst_members(data: bytes, base_id: str, container: str) -> list[dict]:
    """members of one PST container with the reference's id scheme:
    bare-number file names (no '-') are e-mails and gain ``.eml``
    (enhance_pst.py:100-108); attachments keep ``number-filename``."""
    if data[:4] == PST_MAGIC:
        from open_semantic_etl_spark.operators.pst import parse_pst

        out = []
        for path, payload in parse_pst(bytes(data)):
            name = path.rsplit("/", 1)[-1]
            child_path = path + ".eml" if "-" not in name else path
            out.append(
                {
                    "child_id": f"{base_id}/{child_path}",
                    "container_s": container,
                    "bytes": payload,
                }
            )
        return out
    if not data.startswith(PST_FIXTURE_MAGIC):
        raise ValueError("not a PST fixture payload")
    out: list[dict] = []
    pos = len(PST_FIXTURE_MAGIC)
    n = len(data)
    while pos < n:
        if data[pos:pos + 5] != b"PSTM\n":
            break
        pos += 5
        eol = data.index(b"\n", pos)
        path = data[pos:eol].decode()
        pos = eol + 1
        eol = data.index(b"\n", pos)
        size = int(data[pos:eol])
        pos = eol + 1
        payload = data[pos:pos + size]
        pos = pos + size + 1  # trailing newline
        name = path.rsplit("/", 1)[-1]
        child_path = path + ".eml" if "-" not in name else path
        out.append(
            {
                "child_id": f"{base_id}/{child_path}",
                "container_s": container,
                "bytes": payload,
            }
        )
    return out


def explode_pst(df: DataFrame) -> DataFrame:
    """pst rows → one row per extracted member (mail or attachment)."""
    return explode_rows(
        df, lambda data, base: parse_pst_members(data, base, base), PST_CHILD_TYPE
    )


# ---------------------------------------------------------------------------
# mbox — Tika MBoxParser parity: the Unix mail-spool container splits
# into one RFC-822 child per message, each riding the same eml parse
# as PST children (the reference reaches mbox through Tika the same
# way it reaches PST through readpst)
# ---------------------------------------------------------------------------

#: a From_ envelope line: ``From <sender> <asctime>`` — the asctime
#: shape (weekday + month + HH:MM + year) is single-sourced with the
#: mimetype sniff so a payload that sniffs as mbox always splits, and
#: prose starting with "From " never does.  The SAME gate applies to
#: every separator, not just the first line: an unstuffed mid-body
#: "From my perspective, ..." (non-stuffing mailer) must not split a
#: message in two and shift the ``#msg=<n>`` ids after it.
from open_semantic_etl_spark.operators.htmlx import MBOX_FROM_CORE

MBOX_FROM_RE = re.compile(rb"\A" + MBOX_FROM_CORE)
_MBOX_SEP_RE = re.compile(rb"(?:\A|\r?\n)" + MBOX_FROM_CORE)
_MBOX_STUFF_RE = re.compile(rb"^>(>*From )", re.MULTILINE)
MBOX_MAX_MESSAGES = 100_000  # runaway guard (malformed separator spam)

MBOX_CHILD_TYPE = ZIP_CHILD_TYPE  # same (child_id, container_s, bytes) shape


def _mbox_messages(data: bytes) -> list[bytes]:
    """raw RFC-822 payloads of one mbox.  Messages start after each
    ``From `` separator line (the envelope line is NOT part of the
    message — python stdlib ``mailbox.mbox`` draws the same boundary
    at every line starting with ``From ``); body lines stuffed as
    ``>From `` / ``>>From `` lose exactly one ``>`` (mboxrd unstuffing,
    which also restores mboxo writers' quoting).  Trailing blank
    separator lines are stripped; CRLF mailboxes keep their CRLFs
    inside messages."""
    if not MBOX_FROM_RE.match(data):
        return []
    seps = list(_MBOX_SEP_RE.finditer(data))
    out: list[bytes] = []
    for i, m in enumerate(seps[:MBOX_MAX_MESSAGES]):
        start = m.end()
        end = seps[i + 1].start() if i + 1 < len(seps) else len(data)
        msg = _MBOX_STUFF_RE.sub(rb"\1", data[start:end])
        out.append(msg.rstrip(b"\r\n") + b"\r\n" if msg.strip() else msg)
    return out


def _mbox_rows(data: bytes, base_id: str) -> list[dict]:
    return [
        {"child_id": f"{base_id}#msg={n}", "container_s": base_id, "bytes": msg}
        for n, msg in enumerate(_mbox_messages(data), start=1)
    ]


def explode_mbox(df: DataFrame) -> DataFrame:
    """mbox rows → one row per contained message (``<id>#msg=<n>``,
    1-based); non-mbox / corrupt payloads yield zero children."""
    return explode_rows(df, _mbox_rows, MBOX_CHILD_TYPE)


# ---------------------------------------------------------------------------
# CSV — enhance_csv semantics (sniffed dialect, title row, typed shadows)
# ---------------------------------------------------------------------------

CSV_SNIFF_BYTES = 32 * 1024 * 1024  # reference cap: enhance_csv.py:127-129

CSV_CHILD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("child_id", T.StringType(), False),
            T.StructField("page_i", T.IntegerType(), False),
            T.StructField("container_s", T.StringType(), False),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType()), False),
            T.StructField("numbers", T.MapType(T.StringType(), T.DoubleType()), False),
        ]
    )
)


def _csv_rows(data: bytes, base_id: str, title_row: int | None = 0) -> list[dict]:
    """dialect sniffed on a capped sample (enhance_csv.py:127-129);
    ``title_row`` mirrors the reference's default row-0 titles
    (enhance_csv.py:28, 328); None → synthetic column_NN names."""
    text = data.decode("utf-8", "replace")
    sample = text[: min(len(text), CSV_SNIFF_BYTES)]
    try:
        dialect = _csv.Sniffer().sniff(sample[:65536])
    except _csv.Error:
        dialect = _csv.excel
    reader = _csv.reader(io.StringIO(text), dialect)
    rows = list(reader)
    if not rows:
        return []
    if title_row is not None and title_row < len(rows):
        titles = rows[title_row]
        body = rows[:title_row] + rows[title_row + 1 :]
    else:
        titles = [f"column_{i:02d}" for i in range(len(rows[0]))]
        body = rows
    out = []
    for rn, row in enumerate(body, start=1):
        fields: dict[str, str] = {}
        numbers: dict[str, float] = {}
        for title, val in zip(titles, row):
            fields[f"{title}_t"] = val
            try:
                numbers[f"{title}_f"] = float(val.replace(",", "."))
            except ValueError:
                pass
        out.append(
            {
                "child_id": f"{base_id}#{rn}",
                "page_i": rn,
                "container_s": base_id,
                "fields": fields,
                "numbers": numbers,
            }
        )
    return out


def explode_csv(df: DataFrame, title_row: int | None = 0) -> DataFrame:
    return explode_rows(
        df, lambda data, base: _csv_rows(data, base, title_row), CSV_CHILD_TYPE
    )


# ---------------------------------------------------------------------------
# SQLite — Tika SQLite3Parser parity: each user table's rows become
# child docs carrying the CSV tier's typed shadows (<col>_t / <col>_f)
# ---------------------------------------------------------------------------

SQLITE_MAGIC = b"SQLite format 3\x00"
SQLITE_MAX_ROWS_PER_TABLE = 100_000  # per-table child cap (runaway guard)
SQLITE_MAX_ROWS_TOTAL = 1_000_000    # per-database child cap

SQLITE_CHILD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("child_id", T.StringType(), False),
            T.StructField("page_i", T.IntegerType(), False),
            T.StructField("container_s", T.StringType(), False),
            T.StructField("table_s", T.StringType(), False),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType()), False),
            T.StructField("numbers", T.MapType(T.StringType(), T.DoubleType()), False),
        ]
    )
)


def _sqlite_rows(data: bytes, base_id: str) -> list[dict]:
    """child rows of every user table (``sqlite_master`` order by name,
    rows in rowid order where the table has one) — ``<id>#<table>#<n>``
    ids, CSV-contract typed shadows.  The whole database is held as
    bytes (``Connection.deserialize`` — no temp file, matching the
    module's no-filesystem rule); numeric SQLite values shadow into
    ``_f`` directly, TEXT falls back to the CSV float parse."""
    import sqlite3

    if not data.startswith(SQLITE_MAGIC):
        return []
    con = sqlite3.connect(":memory:")
    try:
        con.deserialize(data)
        names = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name"
            )
            # only the literal 'sqlite_' prefix is reserved — a LIKE
            # filter would also hide legal names like 'sqlitemeta'
            # (LIKE's '_' matches any character)
            if not r[0].startswith("sqlite_")
        ]
        out: list[dict] = []
        for tname in names:
            if len(out) >= SQLITE_MAX_ROWS_TOTAL:
                break
            qt = '"' + tname.replace('"', '""') + '"'
            try:  # WITHOUT ROWID / shadowed-rowid tables: arbitrary order
                cur = con.execute(f"SELECT * FROM {qt} ORDER BY rowid")  # noqa: S608
            except sqlite3.Error:
                try:
                    cur = con.execute(f"SELECT * FROM {qt}")  # noqa: S608
                except sqlite3.Error:
                    continue  # virtual table without its module, etc.
            cols = [c[0] for c in cur.description]
            for rn, row in enumerate(cur, start=1):
                if rn > SQLITE_MAX_ROWS_PER_TABLE or len(out) >= SQLITE_MAX_ROWS_TOTAL:
                    break
                fields: dict[str, str] = {}
                numbers: dict[str, float] = {}
                for cname, val in zip(cols, row):
                    if val is None:
                        continue
                    if isinstance(val, bytes):
                        fields[f"{cname}_t"] = val.hex()
                        continue
                    fields[f"{cname}_t"] = str(val)
                    if isinstance(val, (int, float)):
                        numbers[f"{cname}_f"] = float(val)
                    else:
                        try:  # TEXT that reads as a number — CSV parity
                            numbers[f"{cname}_f"] = float(val.replace(",", "."))
                        except ValueError:
                            pass
                out.append(
                    {
                        "child_id": f"{base_id}#{tname}#{rn}",
                        "page_i": rn,
                        "container_s": base_id,
                        "table_s": tname,
                        "fields": fields,
                        "numbers": numbers,
                    }
                )
        return out
    finally:
        con.close()


# ---------------------------------------------------------------------------
# dBase .dbf — Tika DBFParser parity: fixed-width records become child
# docs with the CSV tier's typed shadows (<col>_t / <col>_f)
# ---------------------------------------------------------------------------

DBF_MAX_ROWS = 1_000_000  # child cap (runaway guard)

from open_semantic_etl_spark.operators.htmlx import sniff_dbf  # noqa: E402
# single-sourced with the mimetype sniff (the MBOX_FROM_CORE pattern)


def _dbf_rows(data: bytes, base_id: str) -> list[dict]:
    """active records → child rows (``<id>#dbf#<n>``, deleted-flag
    ``*`` rows skipped — Tika DBFReader ditto); C/N/F/L/D field types
    decode, unknown types keep their raw latin-1 text.  The record
    width is validated against the descriptors so a lying header
    cannot mis-slice every row."""
    if not sniff_dbf(data):
        return []
    hdr = int.from_bytes(data[8:10], "little")
    rec_size = int.from_bytes(data[10:12], "little")
    fields: list[tuple[str, str, int]] = []  # (name, type, length)
    pos = 32
    while pos + 32 <= hdr and data[pos] != 0x0D:
        desc = data[pos : pos + 32]
        name = desc[0:11].split(b"\x00", 1)[0].decode("latin-1").strip()
        ftype = chr(desc[11])
        flen = desc[16]
        if not name or flen == 0:
            return []
        fields.append((name, ftype, flen))
        pos += 32
    if not fields or pos >= len(data) or data[pos] != 0x0D:
        return []
    if rec_size != 1 + sum(f[2] for f in fields):
        return []  # header lies about the record width
    out: list[dict] = []
    pos = hdr
    n = 0
    while pos + rec_size <= len(data) and len(out) < DBF_MAX_ROWS:
        flag = data[pos]
        if flag == 0x1A:  # EOF marker
            break
        row = data[pos : pos + rec_size]
        pos += rec_size
        if flag == 0x2A:  # deleted record
            continue
        n += 1
        fvals: dict[str, str] = {}
        numbers: dict[str, float] = {}
        at = 1
        for name, ftype, flen in fields:
            raw = row[at : at + flen]
            at += flen
            txt = raw.decode("latin-1").strip().strip("\x00")
            if not txt:
                continue
            if ftype == "L":
                if txt[0] in "YyTt":
                    txt = "true"
                elif txt[0] in "NnFf":
                    txt = "false"
                else:
                    continue  # '?' = uninitialized
            fvals[f"{name}_t"] = txt
            if ftype in ("N", "F"):
                try:
                    numbers[f"{name}_f"] = float(txt)
                except ValueError:
                    pass
            elif ftype == "C":
                try:  # text that reads as a number — CSV parity
                    numbers[f"{name}_f"] = float(txt.replace(",", "."))
                except ValueError:
                    pass
        out.append(
            {
                "child_id": f"{base_id}#dbf#{n}",
                "page_i": n,
                "container_s": base_id,
                "table_s": "dbf",
                "fields": fvals,
                "numbers": numbers,
            }
        )
    return out


def explode_dbf(df: DataFrame) -> DataFrame:
    """dbf rows → one row per active record (Tika DBFParser tier);
    corrupt / non-dbf payloads yield zero children."""
    return explode_rows(df, _dbf_rows, SQLITE_CHILD_TYPE)


def build_dbf(rows: list[list[str]], columns: list[tuple[str, str, int]]) -> bytes:
    """deterministic dBase III fixture writer: ``columns`` is
    (name, type, length); values are written fixed-width latin-1
    (numbers right-justified, text left-justified, per spec)."""
    nrec = len(rows)
    rec_size = 1 + sum(c[2] for c in columns)
    hdr = 32 + 32 * len(columns) + 1
    out = bytearray()
    out += bytes([0x03, 24, 1, 1])  # dBase III, 2024-01-01
    out += nrec.to_bytes(4, "little")
    out += hdr.to_bytes(2, "little") + rec_size.to_bytes(2, "little")
    out += b"\x00" * 20
    for name, ftype, flen in columns:
        d = bytearray(32)
        d[0:11] = name.encode("latin-1")[:10].ljust(11, b"\x00")
        d[11] = ord(ftype)
        d[16] = flen
        out += d
    out += b"\x0d"
    for row in rows:
        out += b" "  # active flag
        for (name, ftype, flen), val in zip(columns, row):
            b = str(val).encode("latin-1")[:flen]
            out += b.rjust(flen) if ftype in ("N", "F") else b.ljust(flen)
    out += b"\x1a"
    return bytes(out)


def explode_sqlite(df: DataFrame) -> DataFrame:
    """sqlite rows → one row per user-table row (Tika SQLite3Parser
    tier); corrupt / non-sqlite payloads yield zero children."""
    return explode_rows(df, _sqlite_rows, SQLITE_CHILD_TYPE)


# ---------------------------------------------------------------------------
# PDF pages — enhance_pdf_page semantics
# ---------------------------------------------------------------------------

PDF_PAGES_TYPE = T.StructType(
    [
        T.StructField("pages", T.ArrayType(T.StringType()), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("npages", T.IntegerType(), True),
    ]
)


def explode_pdf_pages(df: DataFrame) -> DataFrame:
    """pdf rows → one row per page: id#page=N, parent title/author copied
    onto every page doc (enhance_pdf_page.py:123-147)."""
    from open_semantic_etl_spark.operators.pdfio import parse_pdf

    def run(series: pd.Series) -> pd.DataFrame:
        recs = []
        for data in series:
            r = parse_pdf(data)
            recs.append(
                {
                    "pages": r["pages"] or [],
                    "title": r["title"],
                    "author": r["author"],
                    "npages": r["npages"],
                }
            )
        return pd.DataFrame(recs)

    udf = F.pandas_udf(run, PDF_PAGES_TYPE)
    ex = df.withColumn("_pdf", udf(F.col("html")))
    ex = ex.select(
        F.col("url").alias("parent_id"),
        F.col("_pdf.title").alias("title_txt"),
        F.col("_pdf.author").alias("author_ss"),
        F.col("_pdf.npages").alias("pages_i"),
        F.posexplode(F.col("_pdf.pages")).alias("_pos", "content_txt"),
    )
    return ex.select(
        F.concat("parent_id", F.lit("#page="), (F.col("_pos") + 1)).alias("url"),
        (F.col("_pos") + 1).alias("page_i"),
        "content_txt",
        "title_txt",
        "author_ss",
        "pages_i",
        "parent_id",
    )


# ---------------------------------------------------------------------------
# sentences — enhance_sentence_segmentation semantics (deterministic
# rule-based splitter replacing the spaCy REST hop)
# ---------------------------------------------------------------------------

_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+(?=[A-Z0-9\"'(§])")


def split_sentences(text: str | None) -> list[str]:
    if not text:
        return []
    parts = [p.strip() for chunk in text.split("\n") for p in _SENT_SPLIT_RE.split(chunk)]
    return [p for p in parts if p]


def explode_sentences(df: DataFrame) -> DataFrame:
    def run(series: pd.Series) -> pd.Series:
        return series.map(split_sentences)

    udf = F.pandas_udf(run, T.ArrayType(T.StringType()))
    ex = df.withColumn("_sents", udf(F.col("content_txt")))
    ex = ex.select(
        F.col("url").alias("parent_id"),
        F.posexplode("_sents").alias("_pos", "sentence_txt"),
    )
    return ex.select(
        F.concat("parent_id", F.lit("#sentence"), (F.col("_pos") + 1)).alias("url"),
        (F.col("_pos") + 1).alias("sentence_i"),
        "sentence_txt",
        "parent_id",
    )
