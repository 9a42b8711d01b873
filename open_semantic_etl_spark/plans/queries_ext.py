"""Driver-contract catalog, part 2: container explodes, filters,
metadata joins, gazetteer NER, RDF, mimetype, deferred OCR.

Same contract as plans/queries.py: every query builds its input
DETERMINISTICALLY from the driver's parquet tables (documents /
embeddings) so an independent DuckDB oracle can reconstruct the
expected output from ``doc_id`` alone. Binary payloads (zip/warc/csv/
pdf) are synthesized inside Arrow-batched ``mapInPandas`` stages —
the oracle never parses them; it recomputes what the explode must
yield.
"""

from __future__ import annotations

import io
import zipfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# shared: small deterministic slices of the documents table
# ---------------------------------------------------------------------------


def _doc_ids(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") < cap)
    )


def _binary_source(
    spark: SparkSession,
    sf_dir: str,
    cap: int,
    build,
    url_fmt: "str | Callable[[int], str]",
) -> DataFrame:
    """(doc_id) → (url, html:binary) rows with payload = build(doc_id);
    ``url_fmt`` is a ``{d}`` format string or a doc_id → url callable
    (mixed-extension sources)."""
    fmt = url_fmt.format_map if isinstance(url_fmt, str) else None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "url": [
                        fmt({"d": d}) if fmt is not None else url_fmt(d) for d in ids
                    ],
                    "html": [build(d) for d in ids],
                }
            )

    return _doc_ids(spark, sf_dir, cap).mapInPandas(run, schema="url string, html binary")


# ---------------------------------------------------------------------------
# ZIP explode (enhance_zip.py:31-116 semantics incl. zip-in-zip)
# ---------------------------------------------------------------------------

_ZIP_DT = (2024, 1, 1, 0, 0, 0)


def _inner_zip(d: int) -> bytes:
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w", zipfile.ZIP_STORED) as zi:
        zi.writestr(zipfile.ZipInfo(f"b{d}.txt", _ZIP_DT), f"beta {d}")
    return inner.getvalue()


def _build_zip(d: int) -> bytes:
    """plain-zip slot, sub-rotated by d//12 so the alpha member cycles
    through the legacy compression methods zipfile cannot decode
    (operators/zipcodecs.py: Shrink / Implode / Deflate64) — same two
    oracle rows, now covering the native fallback decoders."""
    variant = (d // 12) % 4
    if variant == 0:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zo:
            zo.writestr(zipfile.ZipInfo(f"notes/a{d}.txt", _ZIP_DT), f"alpha {d}")
            zo.writestr(zipfile.ZipInfo("inner.zip", _ZIP_DT), _inner_zip(d))
        return buf.getvalue()
    from open_semantic_etl_spark.operators.zipcodecs import (
        build_deflate64,
        build_implode,
        build_zip_raw,
        shrink_compress,
    )

    text = f"alpha {d}".encode()
    if variant == 1:
        alpha = (f"notes/a{d}.txt", 1, 0, shrink_compress(text), text)
    elif variant == 2:
        ops = [("lit", b) for b in text]
        alpha = (f"notes/a{d}.txt", 6, 6, build_implode(ops, 6), text)
    else:
        alpha = (f"notes/a{d}.txt", 9, 0, build_deflate64([("lit", text)]), text)
    inner = _inner_zip(d)
    return build_zip_raw([alpha, ("inner.zip", 0, 0, inner, inner)])


def _build_tar(d: int, mode: str) -> bytes:
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=mode) as tf:

        def add(name: str, data: bytes) -> None:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            ti.mtime = 1704067200
            tf.addfile(ti, io.BytesIO(data))

        add(f"notes/a{d}.txt", f"alpha {d}".encode())
        add("inner.zip", _inner_zip(d))
    return buf.getvalue()


def _build_tgz(d: int) -> bytes:
    """same member layout as _build_zip, but a gzip-compressed tar —
    exercises the tar tier + zip-in-tar recursion under one oracle.
    The gzip header's mtime is pinned to 0, so the bytes never depend
    on the clock."""
    import gzip

    return gzip.compress(_build_tar(d, "w"), mtime=0)


def _build_tar_z(d: int) -> bytes:
    """same member layout, LZW-compressed tar (.tar.Z) — exercises the
    compress(1) tier feeding the tar walk under the same oracle."""
    from open_semantic_etl_spark.operators.compressz import lzw_z_compress

    return lzw_z_compress(_build_tar(d, "w"))


def _build_7z(d: int) -> bytes:
    """same member layout as _build_zip, but a solid LZMA1 7z with an
    encoded header (the real-writer default shape) — exercises the
    native 7z tier + zip-in-7z recursion under the same oracle.  Every
    third one adds the BCJ x86 branch-filter coder chain (the folder
    shape 7-Zip emits for executables)."""
    from open_semantic_etl_spark.operators.sevenzip import build_7z

    return build_7z(
        [(f"notes/a{d}.txt", f"alpha {d}".encode()), ("inner.zip", _inner_zip(d))],
        solid=True,
        encoded_header=True,
        bcj=b"\x03\x03\x01\x03" if (d // 12) % 2 == 1 else None,
    )


def _build_ar(d: int) -> bytes:
    """same member layout as _build_zip, but a GNU ``ar`` archive (the
    .deb/.a container) — ``notes/a{d}.txt`` holds a slash so it rides
    the GNU ``//`` long-name table; exercises the ar tier + zip-in-ar
    recursion under the same oracle."""
    long_name = f"notes/a{d}.txt"
    longtab = long_name.encode() + b"/\n"

    def hdr(name_field: bytes, size: int) -> bytes:
        return (
            name_field.ljust(16)
            + b"0".ljust(12)  # mtime
            + b"0".ljust(6)  # uid
            + b"0".ljust(6)  # gid
            + b"100644".ljust(8)  # mode
            + str(size).encode().ljust(10)
            + b"`\n"
        )

    inner = _inner_zip(d)
    out = io.BytesIO()
    out.write(b"!<arch>\n")
    out.write(hdr(b"//", len(longtab)) + longtab)
    if len(longtab) & 1:
        out.write(b"\n")
    alpha = f"alpha {d}".encode()
    out.write(hdr(b"/0", len(alpha)) + alpha)
    if len(alpha) & 1:
        out.write(b"\n")
    out.write(hdr(b"inner.zip/", len(inner)) + inner)
    if len(inner) & 1:
        out.write(b"\n")
    return out.getvalue()


def _build_cpio(d: int) -> bytes:
    """same member layout as _build_zip, but a newc cpio (the RPM
    payload / initramfs container) — exercises the cpio tier +
    zip-in-cpio recursion under the same oracle."""
    out = io.BytesIO()

    def entry(name: str, data: bytes, mode: int) -> None:
        nb = name.encode() + b"\x00"
        out.write(
            b"070701"
            + b"0" * 8  # ino
            + f"{mode:08X}".encode()
            + b"0" * 8 * 4  # uid gid nlink mtime
            + f"{len(data):08X}".encode()
            + b"0" * 8 * 4  # devmajor devminor rdevmajor rdevminor
            + f"{len(nb):08X}".encode()
            + b"0" * 8  # check
            + nb
            + b"\x00" * (-(110 + len(nb)) % 4)
            + data
            + b"\x00" * (-len(data) % 4)
        )

    entry(f"notes/a{d}.txt", f"alpha {d}".encode(), 0o100644)
    entry("inner.zip", _inner_zip(d), 0o100644)
    entry("TRAILER!!!", b"", 0)
    return out.getvalue()


def _build_iso_arch(d: int) -> bytes:
    """same member layout as _build_zip, but an ISO 9660 disc image
    with a Joliet descriptor (names survive verbatim) — exercises the
    ECMA-119 tier + zip-in-iso recursion under the same oracle."""
    from open_semantic_etl_spark.operators.iso9660 import build_iso

    return build_iso(
        {f"notes/a{d}.txt": f"alpha {d}".encode(), "inner.zip": _inner_zip(d)},
        volume_id=f"VOL{d}",
        joliet=True,
    )


def _build_tar_zst(d: int) -> bytes:
    """same member layout, zstd-framed tar (.tar.zst) — exercises the
    pyarrow streaming-codec tier feeding the tar walk, same oracle."""
    import pyarrow as pa

    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as s:
        s.write(_build_tar(d, "w"))
    return buf.getvalue().to_pybytes()


def _build_tar_sz(d: int) -> bytes:
    """same member layout, snappy-framed tar (.tar.sz, snzip shape) —
    exercises the native framing decoder feeding the tar walk."""
    from open_semantic_etl_spark.operators.snappyf import snappy_frame

    return snappy_frame(_build_tar(d, "w"))


def _build_arj_arch(d: int) -> bytes:
    """same member layout, a stored ARJ (Commons Compress
    ArjArchiveInputStream is stored-only too), same oracle."""
    from open_semantic_etl_spark.operators.arj import build_arj

    return build_arj(
        {f"notes/a{d}.txt": f"alpha {d}".encode(), "inner.zip": _inner_zip(d)}
    )


def _build_cab_arch(d: int) -> bytes:
    """same member layout, an MSZIP cabinet (stored on odd ids) —
    exercises the [MS-CAB] tier + zip-in-cab recursion, same oracle."""
    from open_semantic_etl_spark.operators.cab import build_cab

    return build_cab(
        {f"notes/a{d}.txt": f"alpha {d}".encode(), "inner.zip": _inner_zip(d)},
        mszip=(d % 2 == 0),
    )


def _build_rar_arch(d: int) -> bytes:
    """same member layout, a STORED RAR (v5 on even ids, v4 on odd) —
    exercises the rar tier + zip-in-rar recursion under the same
    oracle (operators/rar.py: compressed members are out of scope)."""
    from open_semantic_etl_spark.operators.rar import build_rar4, build_rar5

    build = build_rar5 if d % 2 == 0 else build_rar4
    return build(
        {f"notes/a{d}.txt": f"alpha {d}".encode(), "inner.zip": _inner_zip(d)}
    )


_ARCHIVE_EXT = {0: "zip", 1: "7z", 2: "tgz", 3: "deb", 4: "cpio",
                5: "tar.Z", 6: "iso", 7: "tar.zst", 8: "tar.sz", 9: "rar",
                10: "cab", 11: "arj"}
_ARCHIVE_BUILD = {
    0: _build_zip,
    1: _build_7z,
    2: _build_tgz,
    3: _build_ar,
    4: _build_cpio,
    5: _build_tar_z,
    6: _build_iso_arch,
    7: _build_tar_zst,
    8: _build_tar_sz,
    9: _build_rar_arch,
    10: _build_cab_arch,
    11: _build_arj_arch,
}


def _build_archive(d: int) -> bytes:
    return _ARCHIVE_BUILD[d % 12](d)


def q_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sources.explode import explode_zip

    src = _binary_source(
        spark,
        sf_dir,
        150,
        _build_archive,
        lambda d: "https://archive.example.org/%d.%s" % (d, _ARCHIVE_EXT[d % 12]),
    )
    out = explode_zip(src)
    return out.select(
        "url",
        "container_s",
        F.decode("html", "UTF-8").alias("member_text"),
        "parent_id",
    )


SQL_ZIP_EXPLODE = """
WITH m AS (
  SELECT doc_id, 'https://archive.example.org/' || doc_id ||
         CASE doc_id % 12 WHEN 1 THEN '.7z' WHEN 2 THEN '.tgz'
                          WHEN 3 THEN '.deb' WHEN 4 THEN '.cpio'
                          WHEN 5 THEN '.tar.Z' WHEN 6 THEN '.iso'
                          WHEN 7 THEN '.tar.zst' WHEN 8 THEN '.tar.sz'
                          WHEN 9 THEN '.rar' WHEN 10 THEN '.cab'
                          WHEN 11 THEN '.arj'
                          ELSE '.zip' END AS base
  FROM documents WHERE doc_id < 150
)
SELECT base || '/notes/a' || doc_id || '.txt' AS url, base AS container_s,
       'alpha ' || doc_id AS member_text, base AS parent_id FROM m
UNION ALL
SELECT base || '/inner.zip/b' || doc_id || '.txt', base,
       'beta ' || doc_id, base FROM m
"""


# ---------------------------------------------------------------------------
# PST explode (enhance_pst.py:20-128: readpst member tree, bare-number
# mails gain .eml, attachments keep number-filename, container id kept)
# ---------------------------------------------------------------------------


def _eml_inbox(d: int) -> bytes:
    """deterministic multipart/alternative mail: base64 text/plain part
    (wins), html alternative, RFC 2047 subject, +0100 date."""
    import base64

    body = f"Mail body {d}.\nGrüße, User {d}".encode()
    b64 = base64.b64encode(body).decode()
    return (
        f'From: "User {d}" <user{d}@example.org>\r\n'
        f'To: team{d}@example.org, "Rcpt {d}" <rcpt{d}@example.net>\r\n'
        f"Cc: cc{d}@example.org\r\n"
        f"Subject: =?utf-8?q?Bericht_Nr_{d}?=\r\n"
        f"Date: Fri, 01 Mar 2024 08:30:{d % 60:02d} +0100\r\n"
        "MIME-Version: 1.0\r\n"
        f'Content-Type: multipart/alternative; boundary="b{d}"\r\n\r\n'
        f"--b{d}\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{b64}\r\n"
        f"--b{d}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n\r\n"
        f"<html><body><p>HTML body {d}</p></body></html>\r\n"
        f"--b{d}--\r\n"
    ).encode()


def _eml_sent(d: int) -> bytes:
    """simple quoted-printable mail (UTC date)."""
    return (
        f"From: sender{d}@example.org\r\n"
        f"To: dest{d}@example.org\r\n"
        f"Subject: Sent {d}\r\n"
        f"Date: Fri, 01 Mar 2024 10:00:{d % 60:02d} +0000\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "Content-Transfer-Encoding: quoted-printable\r\n\r\n"
        f"Gr=C3=BC=C3=9Fe {d}\r\n"
    ).encode()


def _build_mbox(d: int) -> bytes:
    """the same two mails as the PST containers, as a Unix mbox —
    exercises the From_-line split + mboxrd unstuffing under the
    pst_explode oracle (one mail tier, three container kinds)."""
    env = "From %s Fri Mar  1 08:30:%02d 2024\r\n"
    return (
        (env % (f"user{d}@example.org", d % 60)).encode()
        + _eml_inbox(d)
        + (env % (f"sender{d}@example.org", d % 60)).encode()
        + _eml_sent(d)
    )


def _build_pst(d: int) -> bytes:
    """every fifth doc is an mbox (same mails, Tika MBoxParser tier);
    of the rest, every third is a REAL Unicode PST ([MS-PST] NDB/LTP
    file, operators/pst.py) carrying the same two mails + attachment,
    and the remainder use the extracted-tree fixture (a pre-run
    readpst dump). All decode to the same logical rows, so one oracle
    pins the real PST parser, the member-tree plumbing, and the mbox
    split side by side."""
    if d % 5 == 4:
        return _build_mbox(d)
    if d % 3 == 0:
        from datetime import datetime, timezone

        from open_semantic_etl_spark.operators.pst import build_pst

        return build_pst(
            [
                (
                    "Inbox",
                    [
                        {
                            "nid_index": 1000 + d,
                            "subject": f"Bericht Nr {d}",
                            "sender": f"user{d}@example.org",
                            "to": f"team{d}@example.org, rcpt{d}@example.net",
                            "cc": f"cc{d}@example.org",
                            "body": f"Mail body {d}.\nGrüße, User {d}",
                            "date": datetime(
                                2024, 3, 1, 7, 30, d % 60, tzinfo=timezone.utc
                            ),
                            "attachments": [
                                ("report.txt", f"attachment {d}".encode())
                            ],
                        }
                    ],
                ),
                (
                    "Sent",
                    [
                        {
                            "nid_index": 2000 + d,
                            "subject": f"Sent {d}",
                            "sender": f"sender{d}@example.org",
                            "to": f"dest{d}@example.org",
                            "body": f"Grüße {d}",
                            "date": datetime(
                                2024, 3, 1, 10, 0, d % 60, tzinfo=timezone.utc
                            ),
                        }
                    ],
                ),
            ]
        )
    from open_semantic_etl_spark.sources.explode import build_pst_fixture

    return build_pst_fixture(
        [
            (f"Inbox/{1000 + d}", _eml_inbox(d)),
            (f"Inbox/{1000 + d}-report.txt", f"attachment {d}".encode()),
            (f"Sent/{2000 + d}", _eml_sent(d)),
        ]
    )


def q_pst_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PST member tree + RFC-822 parse of the ``.eml`` children
    (enhance_pst.py:100-108 rename rule feeds the mail tier the way
    Tika + enhance_extract_email do in the reference): headers →
    message_from_ss/message_to_ss, RFC 2047 subject, UTC date, body =
    transfer-decoded text/plain part. Attachments keep their raw text;
    mails expose parsed fields only."""
    from open_semantic_etl_spark.operators.eml import with_eml
    from open_semantic_etl_spark.sources.explode import explode_mbox, explode_pst

    src = _binary_source(
        spark,
        sf_dir,
        150,
        _build_pst,
        lambda d: "file:///mail/%d.%s" % (d, "mbox" if d % 5 == 4 else "pst"),
    )
    kids = explode_pst(src.filter(~F.col("url").endswith(".mbox"))).unionByName(
        explode_mbox(src.filter(F.col("url").endswith(".mbox")))
    )
    is_eml = F.col("url").endswith(".eml") | F.col("url").contains("#msg=")
    out = with_eml(kids, gate=is_eml)
    return out.select(
        "url",
        "container_s",
        F.when(~is_eml, F.decode("html", "UTF-8")).alias("member_text"),
        "parent_id",
        F.array_join("message_from_ss", ",").alias("message_from_s"),
        F.array_join("message_to_ss", ",").alias("message_to_s"),
        "subject_txt",
        "message_dt",
        "body_txt",
    )


SQL_PST_EXPLODE = """
WITH m AS (SELECT doc_id, doc_id % 5 = 4 AS is_mbox,
  'file:///mail/' || doc_id ||
      CASE WHEN doc_id % 5 = 4 THEN '.mbox' ELSE '.pst' END AS base
           FROM documents WHERE doc_id < 150)
SELECT CASE WHEN is_mbox THEN base || '#msg=1'
            ELSE base || '/Inbox/' || (1000 + doc_id) || '.eml' END AS url,
       base AS container_s,
       NULL::varchar AS member_text, base AS parent_id,
       'user' || doc_id || '@example.org' AS message_from_s,
       'team' || doc_id || '@example.org,rcpt' || doc_id || '@example.net,cc' || doc_id || '@example.org' AS message_to_s,
       'Bericht Nr ' || doc_id AS subject_txt,
       '2024-03-01T07:30:' || lpad((doc_id % 60)::varchar, 2, '0') || 'Z' AS message_dt,
       'Mail body ' || doc_id || '.' || chr(10) || 'Grüße, User ' || doc_id AS body_txt
FROM m
UNION ALL
SELECT base || '/Inbox/' || (1000 + doc_id) || '-report.txt', base,
       'attachment ' || doc_id, base, NULL, NULL, NULL, NULL, NULL
FROM m WHERE NOT is_mbox
UNION ALL
SELECT CASE WHEN is_mbox THEN base || '#msg=2'
            ELSE base || '/Sent/' || (2000 + doc_id) || '.eml' END, base, NULL, base,
       'sender' || doc_id || '@example.org', 'dest' || doc_id || '@example.org',
       'Sent ' || doc_id,
       '2024-03-01T10:00:' || lpad((doc_id % 60)::varchar, 2, '0') || 'Z',
       'Grüße ' || doc_id FROM m
"""


# ---------------------------------------------------------------------------
# Office documents (DOCX / XLSX / ODT — zip+XML tier, operators/office.py;
# the reference covers these through Tika,
# enhance_extract_text_tika_server.py:33-262)
# ---------------------------------------------------------------------------


def _build_office(d: int) -> bytes:
    from open_semantic_etl_spark.operators.cfb import (
        build_doc,
        build_msg,
        build_ppt,
        build_xls,
    )
    from open_semantic_etl_spark.operators.office import (
        build_docx,
        build_epub,
        build_odt,
        build_xlsx,
    )

    if d % 10 == 6:
        from open_semantic_etl_spark.operators.office import build_xps

        return build_xps(
            [[("50", f"XPS Seite {d} "), ("50", "eins."), ("80", f"Zweite Zeile {d}.")]],
            title=f"XDoc {d}", author=f"Author {d}",
        )
    if d % 10 == 7:
        import plistlib

        return plistlib.dumps(
            {"Title": f"PList {d}", "count": d, "flag": True},
            fmt=plistlib.FMT_BINARY,
        )
    if d % 10 == 4:
        from open_semantic_etl_spark.operators.office import build_svg

        return build_svg(
            [f"SVG Text {d}", f"Zweite Zeile {d}"], title=f"Vektor {d}"
        )
    if d % 10 == 5:
        from open_semantic_etl_spark.operators.office import build_fb2

        return build_fb2(
            [f"FB2 Absatz {d}.", f"Noch ein Absatz {d}."],
            f"Buch {d}", ("Autor", str(d)),
        )
    if d % 10 == 8:
        return build_epub(
            [f"Kapitel eins {d} mit genug Text zum Behalten.",
             f"Kapitel zwei {d} ebenfalls mit genug Text."],
            title=f"EBook {d}", author=f"Author {d}",
        )
    if d % 10 == 9:
        return (
            "BEGIN:VCALENDAR\nVERSION:2.0\nBEGIN:VEVENT\n"
            f"SUMMARY:Termin {d}\nDESCRIPTION:Raum {d}\n"
            "END:VEVENT\nEND:VCALENDAR"
        ).encode()
    if d % 8 == 0:
        return build_docx(
            [f"Heading {d}", f"Body paragraph {d} with Grüßen."],
            title=f"Doc {d}", author=f"Author {d}",
        )
    if d % 8 == 1:
        return build_xlsx(
            [["name", "value"], [f"item{d}", f"{d}.5"]],
            title=f"Sheet {d}", author=f"Author {d}",
        )
    if d % 8 == 2:
        return build_odt(
            [f"ODT para {d}.", f"Zweiter Absatz {d}."],
            title=f"ODoc {d}", author=f"Author {d}",
        )
    if d % 8 == 3:
        return (
            r"{\rtf1\ansi{\info{\title RTF %d}{\author Author %d}}"
            r"RTF body %d mit Gr\'fc\'dfen.\par Zeile zwei %d.\par}" % (d, d, d, d)
        ).encode()
    # legacy OLE family (operators/cfb.py; reference covers these via
    # Tika's OfficeParser, enhance_extract_text_tika_server.py:33-262)
    if d % 8 == 4:
        return build_doc(
            [f"Doc para {d} mit Grüßen.", f"Unicode → arrow {d}."],
            title=f"WDoc {d}", author=f"Author {d}",
        )
    if d % 8 == 5:
        return build_xls(
            [["name", "value"], [f"item{d}", d + 0.5]],
            title=f"XSheet {d}", author=f"Author {d}",
        )
    if d % 8 == 6:
        return build_ppt(
            [f"Slide {d} title", f"Bullet → {d}"],
            title=f"PDeck {d}", author=f"Author {d}",
        )
    # compressed-RTF body (PR_RTF_COMPRESSED, [MS-OXRTFCP]) — the shape
    # real Outlook items carry; the oracle pin covers the LZFu path
    return build_msg(
        f"Msg {d}", f"sender{d}@example.org",
        f"Zeile eins {d}.\nZeile zwei {d}.",
        recipients=(f"dest{d}@example.org",),
        body_format="rtf",
    )


#: extract_html's office-result fields
_OFFICE_TYPE = T.StructType(
    [T.StructField(n, T.StringType()) for n in ("content", "title", "author", "content_type")]
    + [T.StructField("n_blocks", T.IntegerType())]
)


def q_office_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """native office text extraction: content lines + core-properties
    title/author + sniffed mimetype for DOCX / XLSX / ODT / RTF payloads
    plus the legacy OLE family (.doc piece table, .xls BIFF8, .ppt text
    atoms, .msg property streams — operators/cfb.py), EPUB (OCF/OPF
    spine walk), iCalendar (RFC 5545 unfold + SUMMARY title), XPS
    (ECMA-388 fdseq→fdoc→fpage Glyphs walk), SVG, FictionBook2 and
    binary plists (plistlib render). A projection of the enrichment's
    own extract_html dispatch (``extract_expr``), so the oracle pins
    the routing production runs."""
    from open_semantic_etl_spark.operators.html_extract import extract_expr

    src = _binary_source(
        spark, sf_dir, 200, _build_office, "file:///docs/{d}.office"
    )
    o = src.select("url", extract_expr(_OFFICE_TYPE).alias("o"))
    return o.select(
        "url",
        F.col("o.content").alias("content_txt"),
        F.col("o.title").alias("title_txt"),
        F.col("o.author").alias("author_ss"),
        F.col("o.content_type").alias("content_type_s"),
        F.col("o.n_blocks").alias("n_blocks_i"),
    )


SQL_OFFICE_EXTRACT = """
WITH m AS (SELECT doc_id, 'file:///docs/' || doc_id || '.office' AS url
           FROM documents WHERE doc_id < 200)
SELECT url,
  CASE
    WHEN doc_id % 10 = 4 THEN 'SVG Text ' || doc_id || chr(10) || 'Zweite Zeile ' || doc_id
    WHEN doc_id % 10 = 5 THEN 'FB2 Absatz ' || doc_id || '.' || chr(10) || 'Noch ein Absatz ' || doc_id || '.'
    WHEN doc_id % 10 = 6 THEN 'XPS Seite ' || doc_id || ' eins.' || chr(10) || 'Zweite Zeile ' || doc_id || '.'
    WHEN doc_id % 10 = 7 THEN 'Title: PList ' || doc_id || chr(10) || 'count: ' || doc_id || chr(10) || 'flag: true'
    WHEN doc_id % 10 = 8 THEN 'Kapitel eins ' || doc_id || ' mit genug Text zum Behalten.' || chr(10) || 'Kapitel zwei ' || doc_id || ' ebenfalls mit genug Text.'
    WHEN doc_id % 10 = 9 THEN 'BEGIN:VCALENDAR' || chr(10) || 'VERSION:2.0' || chr(10) || 'BEGIN:VEVENT' || chr(10) || 'SUMMARY:Termin ' || doc_id || chr(10) || 'DESCRIPTION:Raum ' || doc_id || chr(10) || 'END:VEVENT' || chr(10) || 'END:VCALENDAR'
    WHEN doc_id % 8 = 0 THEN 'Heading ' || doc_id || chr(10) || 'Body paragraph ' || doc_id || ' with Grüßen.'
    WHEN doc_id % 8 = 1 THEN 'name' || chr(9) || 'value' || chr(10) || 'item' || doc_id || chr(9) || doc_id || '.5'
    WHEN doc_id % 8 = 2 THEN 'ODT para ' || doc_id || '.' || chr(10) || 'Zweiter Absatz ' || doc_id || '.'
    WHEN doc_id % 8 = 3 THEN 'RTF body ' || doc_id || ' mit Grüßen.' || chr(10) || 'Zeile zwei ' || doc_id || '.'
    WHEN doc_id % 8 = 4 THEN 'Doc para ' || doc_id || ' mit Grüßen.' || chr(10) || 'Unicode → arrow ' || doc_id || '.'
    WHEN doc_id % 8 = 5 THEN 'name' || chr(9) || 'value' || chr(10) || 'item' || doc_id || chr(9) || doc_id || '.5'
    WHEN doc_id % 8 = 6 THEN 'Slide ' || doc_id || ' title' || chr(10) || 'Bullet → ' || doc_id
    ELSE 'Zeile eins ' || doc_id || '.' || chr(10) || 'Zeile zwei ' || doc_id || '.'
  END AS content_txt,
  CASE
    WHEN doc_id % 10 = 4 THEN 'Vektor ' || doc_id
    WHEN doc_id % 10 = 5 THEN 'Buch ' || doc_id
    WHEN doc_id % 10 = 6 THEN 'XDoc ' || doc_id
    WHEN doc_id % 10 = 7 THEN 'PList ' || doc_id
    WHEN doc_id % 10 = 8 THEN 'EBook ' || doc_id
    WHEN doc_id % 10 = 9 THEN 'Termin ' || doc_id
    WHEN doc_id % 8 = 0 THEN 'Doc ' || doc_id WHEN doc_id % 8 = 1 THEN 'Sheet ' || doc_id
    WHEN doc_id % 8 = 2 THEN 'ODoc ' || doc_id WHEN doc_id % 8 = 3 THEN 'RTF ' || doc_id
    WHEN doc_id % 8 = 4 THEN 'WDoc ' || doc_id WHEN doc_id % 8 = 5 THEN 'XSheet ' || doc_id
    WHEN doc_id % 8 = 6 THEN 'PDeck ' || doc_id ELSE 'Msg ' || doc_id END AS title_txt,
  CASE
    WHEN doc_id % 10 = 4 THEN NULL
    WHEN doc_id % 10 = 5 THEN 'Autor ' || doc_id
    WHEN doc_id % 10 = 6 THEN 'Author ' || doc_id
    WHEN doc_id % 10 = 7 THEN NULL
    WHEN doc_id % 10 = 9 THEN NULL
    WHEN doc_id % 10 = 8 THEN 'Author ' || doc_id
    WHEN doc_id % 8 = 7 THEN 'sender' || doc_id || '@example.org'
    ELSE 'Author ' || doc_id END AS author_ss,
  CASE
    WHEN doc_id % 10 = 4 THEN 'image/svg+xml'
    WHEN doc_id % 10 = 5 THEN 'application/x-fictionbook+xml'
    WHEN doc_id % 10 = 6 THEN 'application/vnd.ms-xpsdocument'
    WHEN doc_id % 10 = 7 THEN 'application/x-plist'
    WHEN doc_id % 10 = 8 THEN 'application/epub+zip'
    WHEN doc_id % 10 = 9 THEN 'text/calendar'
    WHEN doc_id % 8 = 0 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
    WHEN doc_id % 8 = 1 THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
    WHEN doc_id % 8 = 2 THEN 'application/vnd.oasis.opendocument.text'
    WHEN doc_id % 8 = 3 THEN 'application/rtf'
    WHEN doc_id % 8 = 4 THEN 'application/msword'
    WHEN doc_id % 8 = 5 THEN 'application/vnd.ms-excel'
    WHEN doc_id % 8 = 6 THEN 'application/vnd.ms-powerpoint'
    ELSE 'application/vnd.ms-outlook'
  END AS content_type_s,
  CASE WHEN doc_id % 10 = 9 THEN 1
       WHEN doc_id % 10 = 7 THEN 3 ELSE 2 END AS n_blocks_i
FROM m
"""


# ---------------------------------------------------------------------------
# multimodal tier: typed media metadata + video frame sampling over
# opaque binary columns (deterministic codec formats; real codecs sit
# behind the NotImplementedError seam in operators/multimodal.py)
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.multimodal import with_media_meta

    def build_img(d: int) -> bytes:
        return f"FAKEIMG:{d % 64 + 1}x{d % 32 + 1}:".encode() + b"p" * (d % 5)

    src = _binary_source(spark, sf_dir, 200, build_img, "file:///img/{d}.img")
    out = with_media_meta(src, media_col="html")
    m = F.col("media_meta")
    return out.select(
        "url", m["width"].alias("width"), m["height"].alias("height"),
        m["n_bytes"].alias("n_bytes"), m["ok"].cast("int").alias("ok"),
    )


SQL_MULTIMODAL_META = """
WITH m AS (SELECT doc_id, doc_id % 64 + 1 AS w, doc_id % 32 + 1 AS h
           FROM documents WHERE doc_id < 200)
SELECT 'file:///img/' || doc_id || '.img' AS url,
       w::int AS width, h::int AS height,
       length('FAKEIMG:' || w || 'x' || h || ':' || repeat('p', doc_id % 5))::bigint AS n_bytes,
       1 AS ok
FROM m
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.multimodal import sample_frames

    def build_vid(d: int) -> bytes:
        n = d % 4 + 1
        return b"FAKEVID:" + b"|".join(f"f{d}_{i}".encode() for i in range(n))

    src = _binary_source(spark, sf_dir, 200, build_vid, "file:///vid/{d}.vid")
    out = sample_frames(src, media_col="html", every_k=2)
    return out.select("url", "frame_i", F.decode("frame", "UTF-8").alias("frame_txt"))


SQL_MULTIMODAL_FRAMES = """
WITH m AS (SELECT doc_id, doc_id % 4 + 1 AS n FROM documents WHERE doc_id < 200)
SELECT 'file:///vid/' || doc_id || '.vid' AS url, i::int AS frame_i,
       'f' || doc_id || '_' || i AS frame_txt
FROM m, unnest(range(0, n)) AS t(i)
WHERE i % 2 = 0
"""


def _build_media(d: int) -> bytes:
    """REAL media containers, one of FOURTEEN formats by doc_id (the
    fake FAKEIMG/FAKEVID codecs above stay — they pin the decode-seam
    plumbing; these pin the metadata parsers in operators/media.py)."""
    from open_semantic_etl_spark.operators import media as M

    w, h = d % 64 + 1, d % 32 + 1
    dur = d % 7 + 1  # ×100 ms
    ch = d % 2 + 1
    k = d % 14
    if k == 13:
        return M.build_asf(100 * dur, w=w, h=h, title=f"Film {d}",
                           author=f"Studio {d}")
    if k == 10:
        return M.build_heic(w, h)
    if k == 11:
        return M.build_ico([(w, h)])
    if k == 12:
        return M.build_mkv(100 * dur, w=w, h=h, title=f"Video {d}")
    if k == 0:
        return M.build_jpeg(w, h, description=f"Bild {d}",
                            artist=f"Fotograf {d}",
                            dt=f"2024:03:01 07:30:{d % 60:02d}")
    if k == 1:
        return M.build_png(w, h, {"Title": f"PNG {d}", "Author": f"Autor {d}",
                                  "Description": f"Beschreibung {d}"})
    if k == 2:
        return M.build_gif(w, h, comment=f"GIF Kommentar {d}")
    if k == 3:
        return M.build_tiff(w, h, description=f"TIFF Bild {d}",
                            artist=f"Autor {d}")
    if k == 4:
        return M.build_bmp(w, h)
    if k == 5:
        return M.build_mp3(f"Song {d}", f"Band {d}", album=f"Album {d}",
                           year=str(2000 + d % 25), audio_ms=100 * dur)
    if k == 6:
        return M.build_wav(800 * dur, rate=8000, channels=ch,
                           info={"INAM": f"Wave {d}", "IART": f"Artist {d}"})
    if k == 7:
        return M.build_flac(1600 * dur, rate=16000, channels=ch,
                            comments={"TITLE": f"Flac {d}",
                                      "ARTIST": f"Artist {d}"})
    if k == 8:
        return M.build_mp4(100 * dur, w=w, h=h,
                           tags={"title": f"Clip {d}", "author": f"Studio {d}"})
    return M.build_ogg_vorbis(800 * dur, rate=8000, channels=ch,
                              comments={"TITLE": f"Ogg {d}",
                                        "ARTIST": f"Artist {d}"})


#: extract_html's media fields (``datetime`` is the ISO string)
_MEDIA_TYPE = T.StructType(
    [T.StructField(n, T.StringType())
     for n in ("content", "title", "author", "content_type", "datetime")]
    + [T.StructField("width", T.IntegerType()), T.StructField("height", T.IntegerType()),
       T.StructField("duration_ms", T.LongType()), T.StructField("ok", T.BooleanType())]
)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """real binary media metadata: EXIF/PNG-text/GIF/TIFF/BMP dims +
    ID3/RIFF-INFO/Vorbis/ilst tags + durations (operators/media.py;
    reference: Tika's image/audio parsers via
    enhance_extract_text_tika_server.py:33-262) — a projection of
    extract_html's media route (``extract_expr``)."""
    from open_semantic_etl_spark.operators.html_extract import extract_expr

    src = _binary_source(spark, sf_dir, 200, _build_media, "file:///media/{d}.bin")
    m = F.col("m")
    return src.select("url", extract_expr(_MEDIA_TYPE).alias("m")).select(
        "url",
        m["width"].alias("width"), m["height"].alias("height"),
        m["duration_ms"].alias("duration_ms"),
        m["title"].alias("title_txt"), m["author"].alias("author_s"),
        m["content_type"].alias("content_type_s"),
        m["content"].alias("content_txt"),
        m["datetime"].alias("media_dt_s"),
        m["ok"].cast("int").alias("ok"),
    )


SQL_MEDIA_META = """
WITH m AS (SELECT doc_id AS d, doc_id % 14 AS k, doc_id % 64 + 1 AS w,
                  doc_id % 32 + 1 AS h, doc_id % 7 + 1 AS dur,
                  doc_id % 2 + 1 AS ch
           FROM documents WHERE doc_id < 200)
SELECT 'file:///media/' || d || '.bin' AS url,
  CASE WHEN k <= 4 OR k = 8 OR k >= 10 THEN w END::int AS width,
  CASE WHEN k <= 4 OR k = 8 OR k >= 10 THEN h END::int AS height,
  CASE WHEN (k >= 5 AND k <= 9) OR k = 12 OR k = 13
       THEN 100 * dur END::bigint AS duration_ms,
  CASE WHEN k = 1 THEN 'PNG ' || d  WHEN k = 5 THEN 'Song ' || d
       WHEN k = 6 THEN 'Wave ' || d WHEN k = 7 THEN 'Flac ' || d
       WHEN k = 8 THEN 'Clip ' || d WHEN k = 9 THEN 'Ogg ' || d
       WHEN k = 12 THEN 'Video ' || d
       WHEN k = 13 THEN 'Film ' || d
  END AS title_txt,
  CASE WHEN k = 0 THEN 'Fotograf ' || d WHEN k = 1 THEN 'Autor ' || d
       WHEN k = 3 THEN 'Autor ' || d    WHEN k = 5 THEN 'Band ' || d
       WHEN k = 6 THEN 'Artist ' || d   WHEN k = 7 THEN 'Artist ' || d
       WHEN k = 8 THEN 'Studio ' || d   WHEN k = 9 THEN 'Artist ' || d
       WHEN k = 13 THEN 'Studio ' || d
  END AS author_s,
  CASE k WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
         WHEN 2 THEN 'image/gif'  WHEN 3 THEN 'image/tiff'
         WHEN 4 THEN 'image/bmp'  WHEN 5 THEN 'audio/mpeg'
         WHEN 6 THEN 'audio/x-wav' WHEN 7 THEN 'audio/flac'
         WHEN 8 THEN 'video/mp4'  WHEN 10 THEN 'image/heic'
         WHEN 11 THEN 'image/vnd.microsoft.icon'
         WHEN 12 THEN 'video/webm' WHEN 13 THEN 'video/x-ms-asf'
         ELSE 'audio/ogg' END AS content_type_s,
  CASE k
    WHEN 0 THEN 'description: Bild ' || d || chr(10) || 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 1 THEN 'description: Beschreibung ' || d || chr(10) || 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 2 THEN 'comment: GIF Kommentar ' || d || chr(10) || 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 3 THEN 'description: TIFF Bild ' || d || chr(10) || 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 4 THEN 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 5 THEN 'album: Album ' || d || chr(10) || 'year: ' || (2000 + d % 25)
             || chr(10) || 'channels: 2' || chr(10) || 'sample_rate: 44100'
             || chr(10) || 'duration_ms: ' || (100 * dur)
    WHEN 6 THEN 'channels: ' || ch || chr(10) || 'sample_rate: 8000'
             || chr(10) || 'bits: 16' || chr(10) || 'duration_ms: ' || (100 * dur)
    WHEN 7 THEN 'channels: ' || ch || chr(10) || 'sample_rate: 16000'
             || chr(10) || 'duration_ms: ' || (100 * dur)
    WHEN 8 THEN 'width: ' || w || chr(10) || 'height: ' || h
             || chr(10) || 'duration_ms: ' || (100 * dur)
    WHEN 10 THEN 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 11 THEN 'width: ' || w || chr(10) || 'height: ' || h
    WHEN 12 THEN 'width: ' || w || chr(10) || 'height: ' || h
             || chr(10) || 'duration_ms: ' || (100 * dur)
    WHEN 13 THEN 'width: ' || w || chr(10) || 'height: ' || h
             || chr(10) || 'duration_ms: ' || (100 * dur)
    ELSE 'channels: ' || ch || chr(10) || 'sample_rate: 8000'
             || chr(10) || 'duration_ms: ' || (100 * dur)
  END AS content_txt,
  CASE WHEN k = 0 THEN '2024-03-01T07:30:' || lpad((d % 60)::varchar, 2, '0') || 'Z'
  END AS media_dt_s,
  1 AS ok
FROM m
"""


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image metadata + video frame-sample + REAL media-metadata rows
    in ONE driver entry, tagged by ``kind`` (driver caps CORRECTNESS at
    50 queries; each solo column set keeps its names so each stays
    oracle-pinned)."""
    null_media = [
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.lit(None).cast("string").alias("title_txt"),
        F.lit(None).cast("string").alias("author_s"),
        F.lit(None).cast("string").alias("content_type_s"),
        F.lit(None).cast("string").alias("content_txt"),
        F.lit(None).cast("string").alias("media_dt_s"),
    ]
    meta = q_multimodal_meta(spark, sf_dir).select(
        F.lit("meta").alias("kind"), "url",
        "width", "height", "n_bytes", "ok",
        F.lit(None).cast("int").alias("frame_i"),
        F.lit(None).cast("string").alias("frame_txt"),
        *null_media,
    )
    frames = q_multimodal_frames(spark, sf_dir).select(
        F.lit("frame").alias("kind"), "url",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("n_bytes"),
        F.lit(None).cast("int").alias("ok"),
        "frame_i", "frame_txt",
        *null_media,
    )
    media = q_media_meta(spark, sf_dir).select(
        F.lit("media").alias("kind"), "url",
        "width", "height",
        F.lit(None).cast("bigint").alias("n_bytes"), "ok",
        F.lit(None).cast("int").alias("frame_i"),
        F.lit(None).cast("string").alias("frame_txt"),
        "duration_ms", "title_txt", "author_s", "content_type_s",
        "content_txt", "media_dt_s",
    )
    return meta.unionByName(frames).unionByName(media)


_NULL_MEDIA_SQL = """NULL::bigint AS duration_ms, NULL::varchar AS title_txt,
       NULL::varchar AS author_s, NULL::varchar AS content_type_s,
       NULL::varchar AS content_txt, NULL::varchar AS media_dt_s"""

SQL_MULTIMODAL = f"""
SELECT 'meta' AS kind, url, width, height, n_bytes, ok,
       NULL::int AS frame_i, NULL::varchar AS frame_txt, {_NULL_MEDIA_SQL}
FROM ({SQL_MULTIMODAL_META})
UNION ALL
SELECT 'frame' AS kind, url, NULL::int AS width, NULL::int AS height,
       NULL::bigint AS n_bytes, NULL::int AS ok, frame_i, frame_txt,
       {_NULL_MEDIA_SQL}
FROM ({SQL_MULTIMODAL_FRAMES})
UNION ALL
SELECT 'media' AS kind, url, width, height, NULL::bigint AS n_bytes, ok,
       NULL::int AS frame_i, NULL::varchar AS frame_txt,
       duration_ms, title_txt, author_s, content_type_s, content_txt,
       media_dt_s
FROM ({SQL_MEDIA_META})
"""


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-host frequency cap (crawl diversification): keep ≤ 20 docs
    per host, deterministic priority = lowest doc_id, over a synthetic
    host map with one planted hot host (every even doc) — the skew
    shape the two-phase salted top-k exists for."""
    from open_semantic_etl_spark.functions.skew import stratified_sample, top_k_per_key
    from open_semantic_etl_spark.operators.textstats import dsir_importance

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    host = (
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot.example.org"))
        .otherwise(F.concat(F.lit("h"), (F.col("doc_id") % 13).cast("string"),
                            F.lit(".example.org")))
    )
    d = docs.select("doc_id", "lang", "text", host.alias("host_s"))
    out = top_k_per_key(d, "host_s", k=20, order_col="doc_id", id_col="doc_id")
    # corpus-mixing quotas: rates mirrored in tools/gen_goldens.py
    # SAMPLE_RATES — the golden re-derives the xxhash64 draw
    # independently, so any drift between the two mismatches the hash
    out = stratified_sample(
        out, "lang", {"en": 0.9, "de": 0.5, "fr": 0.25},
        id_col="doc_id", default_rate=0.1,
    )
    # DSIR importance vs the doc_id%10 "in-domain" slice — same doc
    # grain, so it rides the host_cap oracle (md5 bucketing is the
    # single-sourced spec both engines derive independently)
    out = dsir_importance(out, F.col("doc_id") % 10 == 0)
    return out.select("doc_id", "host_s", "kept_i", "sampled_i", "dsir_weight_d")


from open_semantic_etl_spark.operators.textstats import (  # noqa: E402
    DSIR_DIM as _DSIR_DIM,
    DSIR_SMOOTHING as _DSIR_SMOOTH,
)

SQL_HOST_CAP = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'hot.example.org'
         ELSE 'h' || (doc_id % 13) || '.example.org' END AS host_s
  FROM documents
), toks AS (
  SELECT doc_id, (doc_id % 10 = 0)::int AS t,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS lt
  FROM documents
), feats AS (
  SELECT doc_id, t,
         lt || (CASE WHEN len(lt) >= 2
                THEN list_transform(range(1, len(lt)), i -> lt[i] || ' ' || lt[i+1])
                ELSE [] END) AS fs
  FROM toks
), pf AS (
  SELECT doc_id, t,
         ((('0x' || substr(md5(f), 1, 15))::UBIGINT % {_DSIR_DIM})::int) AS b
  FROM feats, unnest(fs) AS u(f)
), c AS (
  SELECT b, sum(t) AS nt, count(*) AS nr FROM pf GROUP BY b
), tot AS (
  SELECT sum(nt) + {_DSIR_DIM} * {_DSIR_SMOOTH!r} AS tt, sum(nr) + {_DSIR_DIM} * {_DSIR_SMOOTH!r} AS tr FROM c
), ratio AS (
  SELECT b, ln((nt + {_DSIR_SMOOTH!r}) / (SELECT tt FROM tot))
            - ln((nr + {_DSIR_SMOOTH!r}) / (SELECT tr FROM tot)) AS lr
  FROM c
), w AS (
  SELECT pf.doc_id, round(sum(r.lr), 4) AS dsir_weight_d
  FROM pf JOIN ratio r USING (b) GROUP BY pf.doc_id
)
SELECT d.doc_id, d.host_s,
       (row_number() OVER (PARTITION BY d.host_s ORDER BY d.doc_id, d.doc_id) <= 20)::int AS kept_i,
       g.sampled_i, w.dsir_weight_d
FROM d
LEFT JOIN (
  SELECT doc_id, sampled_i
  FROM read_parquet('/root/repo/goldens/stratified_sample.parquet')
  WHERE _key = (SELECT SUM(n_chars) FROM documents)
) g USING (doc_id)
LEFT JOIN w USING (doc_id)
"""


# ---------------------------------------------------------------------------
# export value model (export_json.py:16-31 + etl.py:296-300): dedupe +
# single-value scalar collapse at the export boundary
# ---------------------------------------------------------------------------


def q_export_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sinks import collapse_single

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    tags = F.when(
        F.col("doc_id") % 2 == 0,
        F.array(F.concat(F.lit("a"), did), F.concat(F.lit("a"), did)),  # dup → 1
    ).otherwise(F.array(F.lit("a"), F.concat(F.lit("b"), did)))
    return docs.select("doc_id", collapse_single(tags).alias("tag"))


SQL_EXPORT_COLLAPSE = """
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'a' || doc_id
       ELSE 'a,b' || doc_id END AS tag
FROM documents
"""


# ---------------------------------------------------------------------------
# Hypothes.is annotations fold (etl_hypothesis.py:45-113): annotation
# rows → per-annotated-document rows with add-distinct accumulation,
# incremental via last_update
# ---------------------------------------------------------------------------


def q_hypothesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sources.feeds import hypothesis_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    did = F.col("doc_id").cast("string")
    # every doc has one annotation; every third doc a second, older one
    # (filtered out by the last_update cursor)
    first = docs.select(
        F.concat(F.lit("anno"), did, F.lit("x")).alias("id"),
        F.concat(F.lit("https://d/"), did).alias("uri"),
        F.concat(F.lit("note "), did).alias("text"),
        F.array(F.lit("tagA"), F.concat(F.lit("tag"), (F.col("doc_id") % 3).cast("string"))).alias("tags"),
        F.lit("2024-03-02T00:00:00").alias("updated"),
    )
    second = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("anno"), did, F.lit("y")).alias("id"),
        F.concat(F.lit("https://d/"), did).alias("uri"),
        F.concat(F.lit("later "), did).alias("text"),
        F.array(F.lit("tagB")).alias("tags"),
        F.lit("2024-03-05T00:00:00").alias("updated"),
    )
    stale = docs.select(  # before the cursor → skipped
        F.concat(F.lit("anno"), did, F.lit("old")).alias("id"),
        F.concat(F.lit("https://d/"), did).alias("uri"),
        F.lit("ancient").alias("text"),
        F.array(F.lit("old")).alias("tags"),
        F.lit("2024-01-01T00:00:00").alias("updated"),
    )
    ann = first.unionByName(second).unionByName(stale)
    out = hypothesis_docs(ann, last_update="2024-02-01T00:00:00")
    return out.select(
        "url",
        F.array_join("annotation_id_ss", ",").alias("ids"),
        F.array_join("annotation_text_txt", ",").alias("texts"),
        F.array_join("annotation_tag_ss", ",").alias("tags"),
    )


SQL_HYPOTHESIS = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT 'https://d/' || doc_id AS url,
  CASE WHEN doc_id % 3 = 0
       THEN 'anno' || doc_id || 'x,anno' || doc_id || 'y'
       ELSE 'anno' || doc_id || 'x' END AS ids,
  CASE WHEN doc_id % 3 = 0
       THEN 'later ' || doc_id || ',note ' || doc_id
       ELSE 'note ' || doc_id END AS texts,
  CASE WHEN doc_id % 3 = 0
       THEN 'tag0,tagA,tagB'
       ELSE list_aggr(list_sort(['tagA', 'tag' || (doc_id % 3)]), 'string_agg', ',') END AS tags
FROM d
"""


# ---------------------------------------------------------------------------
# alt sinks: Elasticsearch bulk shape (export_elasticsearch.py:38-53)
# and Neo4j graph shape (export_neo4j.py:50-104)
# ---------------------------------------------------------------------------


def q_es_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sinks import export_es_bulk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    d = docs.select(
        F.concat(F.lit("u"), did).alias("url"),
        F.concat(F.lit("T"), did).alias("title_txt"),
        F.when(F.col("doc_id") % 2 == 0, F.array(F.concat(F.lit("t"), did)))
        .otherwise(F.array(F.lit("x"), F.concat(F.lit("y"), did))).alias("tag_ss"),
    )
    return export_es_bulk(d, index="docs", array_cols=("tag_ss",))


SQL_ES_BULK = """
SELECT 'u' || doc_id AS url,
  '{"index":{"_index":"docs","_id":"u' || doc_id || '"}}' AS action_json,
  '{"title_txt":"T' || doc_id || '","tag_ss":"' ||
    (CASE WHEN doc_id % 2 = 0 THEN 't' || doc_id ELSE 'x,y' || doc_id END) ||
    '"}' AS doc_json
FROM documents
"""


def q_neo4j_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sinks import export_neo4j_graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    did = F.col("doc_id").cast("string")
    d = docs.select(
        F.concat(F.lit("u"), did).alias("url"),
        F.concat(F.lit("T"), did).alias("title_txt"),
        F.array(F.concat(F.lit("Person"), (F.col("doc_id") % 7).cast("string"))).alias("person_ss"),
        F.array(F.concat(F.lit("Topic"), (F.col("doc_id") % 5).cast("string"))).alias("tag_ss"),
    )
    nodes, rels = export_neo4j_graph(
        d, facet_labels={"person_ss": "Person", "tag_ss": "Tag"}
    )
    return rels.select("doc_name", "rel_type", "entity_label", "entity_name")


SQL_NEO4J_GRAPH = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT 'u' || doc_id AS doc_name, 'Named Entity Recognition' AS rel_type,
       'Person' AS entity_label, 'Person' || (doc_id % 7) AS entity_name FROM d
UNION ALL
SELECT 'u' || doc_id, 'Tag', 'Tag', 'Topic' || (doc_id % 5) FROM d
"""


# ---------------------------------------------------------------------------
# Connector_Web mtime cascade + uri normalization (etl_web.py:125-221)
# ---------------------------------------------------------------------------


def q_web_mtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.functions.path import (
        file_modified_dt,
        normalize_uri,
        parse_http_date,
        web_mtime_cascade,
        with_url_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id")
    # synthetic header/meta availability: %4==0 has meta ts, %4==1 only
    # Last-Modified, %4==2 only Date, %4==3 nothing (falls to crawl ts)
    meta_ts = F.when(did % 4 == 0, F.to_timestamp(F.lit("2024-05-01 10:00:00")))
    last_mod = F.when(did % 4 <= 1, F.lit("Tue, 02 Apr 2024 08:30:00 GMT"))
    date_hdr = F.when(did % 4 <= 2, F.lit("Wed, 03 Apr 2024 09:45:00 GMT"))
    crawl_ts = F.to_timestamp(F.lit("2024-04-04 00:00:00"))
    raw_uri = F.concat(
        F.when(did % 2 == 0, F.lit("  example.org/p")).otherwise(
            F.lit("HTTPS://example.org/p")
        ),
        did.cast("string"),
    )
    # messy crawl-variant URLs for the canonicalization/dedup tier:
    # %4∈{0,1} differ only by host case, default port, // and .
    # segments, a trailing slash, tracking params, query order, and a
    # fragment → same canonical form; %4∈{2,3} differ by missing
    # scheme / trailing host dot / userinfo / default port → same
    # canonical form (distinct from the first pair: no query).
    k = F.floor(did / 4).cast("long").cast("string")
    messy = (
        F.when(did % 4 == 0,
               F.concat(F.lit("HTTP://WWW.Example.org:80//a/./p"), k,
                        F.lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(did % 4 == 1,
              F.concat(F.lit("http://www.example.org/a/p"), k,
                       F.lit("?a=1&b=2&fbclid=XYZ")))
        .when(did % 4 == 2,
              F.concat(F.lit("www.example.org./a/p"), k, F.lit("/")))
        .otherwise(
            F.concat(F.lit("http://user@www.example.org:80/a/p"), k,
                     F.lit("?gclid=1")))
    )
    base = docs.select(
        "doc_id",
        normalize_uri(raw_uri).alias("url"),
        messy.alias("crawl_url"),
        file_modified_dt(
            web_mtime_cascade(
                meta_ts, parse_http_date(last_mod), parse_http_date(date_hdr), crawl_ts
            )
        ).alias("file_modified_dt"),
    )
    return with_url_dedup(base, url_col="crawl_url", order_col="doc_id").drop(
        "crawl_url"
    )


# the oracle re-derives the ENTIRE canonicalization chain in SQL (it
# is the independent spec for functions/path.py canonical_url, pinned
# by the driver hash) — coalesce() wraps every list join because
# DuckDB's array_to_string on an empty list yields NULL, not ''
SQL_WEB_MTIME = """
WITH d AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTP://WWW.Example.org:80//a/./p' || (doc_id // 4) || '/?utm_source=feed&b=2&a=1#frag'
      WHEN 1 THEN 'http://www.example.org/a/p' || (doc_id // 4) || '?a=1&b=2&fbclid=XYZ'
      WHEN 2 THEN 'www.example.org./a/p' || (doc_id // 4) || '/'
      ELSE 'http://user@www.example.org:80/a/p' || (doc_id // 4) || '?gclid=1'
    END AS crawl_url
  FROM documents
), c AS (
  SELECT doc_id, regexp_replace(trim(crawl_url), '#.*$', '') AS u FROM d
), p1 AS (
  SELECT doc_id, u,
    CASE WHEN coalesce(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '') = '' THEN 'http'
         ELSE lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) END AS scheme,
    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM c
), p2 AS (
  SELECT *,
    regexp_replace(lower(coalesce(regexp_extract(rest, '^([^/?]+)', 1), '')), '^[^@]*@', '') AS hostport,
    regexp_replace(rest, '^[^/?]+', '') AS pathq
  FROM p1
), p3 AS (
  SELECT *,
    coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '\\.+$', '') AS bare,
    CASE scheme WHEN 'https' THEN '443' WHEN 'http' THEN '80' ELSE '' END AS dport,
    '/' || coalesce(array_to_string(list_filter(
        string_split(coalesce(regexp_extract(pathq, '^([^?]*)', 1), ''), '/'),
        s -> s <> '' AND s <> '.'), '/'), '') AS path,
    coalesce(array_to_string(list_sort(list_filter(
        string_split(coalesce(regexp_extract(pathq, '\\?(.*)$', 1), ''), '&'),
        p -> p <> '' AND NOT starts_with(lower(string_split(p, '=')[1]), 'utm_')
          AND lower(string_split(p, '=')[1]) NOT IN
            ('gclid','fbclid','msclkid','igshid','mc_cid','mc_eid','ref_src','spm','yclid','wbraid','gbraid'))),
      '&'), '') AS qc
  FROM p2
), canon AS (
  SELECT doc_id,
    scheme || '://' ||
    (CASE WHEN port = '' OR port = dport THEN bare ELSE bare || ':' || port END) ||
    path || (CASE WHEN qc = '' THEN '' ELSE '?' || qc END) AS canonical_url_s
  FROM p3
)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'http://example.org/p' || doc_id
       ELSE 'HTTPS://example.org/p' || doc_id END AS url,
  CASE doc_id % 4
    WHEN 0 THEN '2024-05-01T10:00:00Z'
    WHEN 1 THEN '2024-04-02T08:30:00Z'
    WHEN 2 THEN '2024-04-03T09:45:00Z'
    ELSE '2024-04-04T00:00:00Z' END AS file_modified_dt,
  canonical_url_s,
  (row_number() OVER (PARTITION BY canonical_url_s ORDER BY doc_id) = 1)::int AS is_url_keeper_i
FROM canon
"""


# ---------------------------------------------------------------------------
# per-page PDF OCR (enhance_pdf_ocr.py:13-90: pdfimages per page,
# page-keyed ocr text, image-content cache) — real image-XObject parse
# ---------------------------------------------------------------------------


def _build_scan_pdf(d: int) -> bytes:
    from open_semantic_etl_spark.operators.pdfio import build_pdf

    return build_pdf(
        [f"PageOne {d}", f"PageTwo {d}"],
        images=[
            [f"FAKEIMG:scan{d}a".encode()],
            [f"FAKEIMG:scan{d}b1".encode(), f"FAKEIMG:scan{d}b2".encode()],
        ],
    )


def _ocr_memo(sf_dir: str, tag: str) -> str:
    """the OCR memo of one driver query: a per-(content, process) dir,
    reaped at exit, so no other process appends to it"""
    from open_semantic_etl_spark.plans.queries import _content_fp, _tmp_sidecar

    return _tmp_sidecar(sf_dir, _content_fp(sf_dir, "documents"), tag)


def q_pdf_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.ocr import run_pdf_ocr_phase

    src = _binary_source(spark, sf_dir, 120, _build_scan_pdf, "file:///scan/{d}.pdf")
    out = run_pdf_ocr_phase(spark, src, _ocr_memo(sf_dir, "pdfocr_memo"))
    return out.select(
        F.concat("url", F.lit("#page="), F.col("page_i").cast("string")).alias("url"),
        "page_i",
        "ocr_t",
    )


SQL_PDF_OCR = """
WITH m AS (SELECT doc_id, 'file:///scan/' || doc_id || '.pdf' AS base
           FROM documents WHERE doc_id < 120)
SELECT base || '#page=1' AS url, 1 AS page_i, 'scan' || doc_id || 'a' AS ocr_t FROM m
UNION ALL
SELECT base || '#page=2', 2, 'scan' || doc_id || 'b1' || chr(10) || 'scan' || doc_id || 'b2' FROM m
"""


# ---------------------------------------------------------------------------
# WARC explode (enhance_warc.py:64-106: response records only,
# child id = Target-URI + '/' + Record-ID)
# ---------------------------------------------------------------------------


def _build_warc(d: int) -> bytes:
    """one response record + its WET ``conversion`` twin (the Common
    Crawl extracted-text layout) + a request record that must be
    skipped — covering both child-yielding record types per oracle."""
    body = f"<html><body>Example Domain {d}</body></html>".encode()
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    resp = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: http://site{d}.example.com/\r\n"
        f"WARC-Record-ID: <urn:uuid:rec{d}>\r\n"
        f"WARC-Date: 2024-03-01T00:00:{d % 60:02d}Z\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode() + http
    wet_text = f"Example Domain {d}".encode()
    wet = (
        "\r\n\r\nWARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: http://site{d}.example.com/\r\n"
        f"WARC-Record-ID: <urn:uuid:wet{d}>\r\n"
        f"WARC-Date: 2024-03-01T00:00:{d % 60:02d}Z\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(wet_text)}\r\n\r\n"
    ).encode() + wet_text
    req = b"\r\n\r\nWARC/1.0\r\nWARC-Type: request\r\nContent-Length: 2\r\n\r\nXX"
    return resp + wet + req


def q_warc_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sources.explode import explode_warc

    src = _binary_source(spark, sf_dir, 150, _build_warc, "file:///warc/{d}.warc")
    out = explode_warc(src)
    return out.select(
        "url",
        "target_uri",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_dt"),
        F.decode("html", "UTF-8").alias("body_text"),
        "parent_id",
    )


SQL_WARC_EXPLODE = """
SELECT 'http://site' || doc_id || '.example.com//urn:uuid:rec' || doc_id AS url,
       'http://site' || doc_id || '.example.com/' AS target_uri,
       '2024-03-01T00:00:' || lpad((doc_id % 60)::varchar, 2, '0') || 'Z' AS warc_dt,
       '<html><body>Example Domain ' || doc_id || '</body></html>' AS body_text,
       'file:///warc/' || doc_id || '.warc' AS parent_id
FROM documents WHERE doc_id < 150
UNION ALL
SELECT 'http://site' || doc_id || '.example.com//urn:uuid:wet' || doc_id,
       'http://site' || doc_id || '.example.com/',
       '2024-03-01T00:00:' || lpad((doc_id % 60)::varchar, 2, '0') || 'Z',
       'Example Domain ' || doc_id,
       'file:///warc/' || doc_id || '.warc'
FROM documents WHERE doc_id < 150
"""


# ---------------------------------------------------------------------------
# CSV explode (enhance_csv.py:205-253: title row → field names,
# numeric shadow _f, child id #rownum)
# ---------------------------------------------------------------------------


def _build_csv(d: int) -> bytes:
    return f"name,value\r\nitem{d},{d}.5\r\nthing{d},x{d}\r\n".encode()


def _build_sqlite(d: int) -> bytes:
    """same logical rows as _build_csv, as a SQLite database — the
    sqlite tier (Tika SQLite3Parser parity) shares the CSV oracle."""
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE items (name TEXT, value)")
    con.execute("INSERT INTO items VALUES (?, ?)", (f"item{d}", d + 0.5))
    con.execute("INSERT INTO items VALUES (?, ?)", (f"thing{d}", f"x{d}"))
    con.commit()
    data = bytes(con.serialize())
    con.close()
    return data


def _build_dbf_tab(d: int) -> bytes:
    """same two-row contract as _build_csv, as a dBase III table
    (Tika DBFParser tier — fixed-width C fields, typed shadows)."""
    from open_semantic_etl_spark.sources.explode import build_dbf

    return build_dbf(
        [[f"item{d}", f"{d}.5"], [f"thing{d}", f"x{d}"]],
        [("name", "C", 20), ("value", "C", 12)],
    )


def _build_columnar_tab(d: int) -> bytes:
    """same two-row contract as _build_csv, in the data-lake format
    picked by d%8 (4=parquet, 5=avro, 6=orc, 7=feather) — the
    columnar tier (sources/columnar.py) shares the CSV oracle.  Avro
    additionally rotates its block codec (null/deflate/snappy) so all
    three stay under the driver hash."""
    import io

    import pyarrow as pa

    k = d % 8
    if k == 5:
        from open_semantic_etl_spark.operators.avroio import build_avro

        sch = {
            "type": "record",
            "name": "Row",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "value", "type": "string"},
            ],
        }
        rows = [
            {"name": f"item{d}", "value": f"{d}.5"},
            {"name": f"thing{d}", "value": f"x{d}"},
        ]
        return build_avro(rows, sch, ("null", "deflate", "snappy")[d % 3])
    t = pa.table({"name": [f"item{d}", f"thing{d}"],
                  "value": [f"{d}.5", f"x{d}"]})
    buf = io.BytesIO()
    if k == 4:
        import pyarrow.parquet as pq

        pq.write_table(t, buf)
    elif k == 6:
        from pyarrow import orc

        orc.write_table(t, buf)
    else:
        import pyarrow.feather as fe

        fe.write_feather(t, buf)
    return buf.getvalue()


_TAB_EXT = {2: "sqlite", 3: "dbf", 4: "parquet", 5: "avro", 6: "orc",
            7: "feather"}


def q_csv_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sources.columnar import explode_columnar
    from open_semantic_etl_spark.sources.explode import (
        explode_csv,
        explode_dbf,
        explode_sqlite,
    )

    def build_tab(d: int) -> bytes:
        if d % 8 == 2:
            return _build_sqlite(d)
        if d % 8 == 3:
            return _build_dbf_tab(d)
        if d % 8 >= 4:
            return _build_columnar_tab(d)
        return _build_csv(d)

    src = _binary_source(
        spark,
        sf_dir,
        150,
        build_tab,
        lambda d: "file:///tab/%d.%s" % (d, _TAB_EXT.get(d % 8, "csv")),
    )  # 150 tiny rows: recomputing per branch beats an app-lifetime cache
    cols = [
        "url",
        "page_i",
        "container_s",
        F.col("fields")["name_t"].alias("name_t"),
        F.col("fields")["value_t"].alias("value_t"),
        F.col("numbers")["value_f"].alias("value_f"),
    ]
    csv_part = explode_csv(src.filter(F.col("url").endswith(".csv"))).select(*cols)
    db_part = explode_sqlite(src.filter(F.col("url").endswith(".sqlite"))).select(*cols)
    dbf_part = explode_dbf(src.filter(F.col("url").endswith(".dbf"))).select(*cols)
    col_part = explode_columnar(
        src.filter(
            F.col("url").rlike(r"\.(parquet|avro|orc|feather)$")
        )
    ).select(*cols)
    return (
        csv_part.unionByName(db_part).unionByName(dbf_part).unionByName(col_part)
    )


SQL_CSV_EXPLODE = """
WITH m AS (SELECT doc_id,
  'file:///tab/' || doc_id ||
      CASE doc_id % 8 WHEN 2 THEN '.sqlite' WHEN 3 THEN '.dbf'
                      WHEN 4 THEN '.parquet' WHEN 5 THEN '.avro'
                      WHEN 6 THEN '.orc' WHEN 7 THEN '.feather'
                      ELSE '.csv' END AS base,
  CASE doc_id % 8 WHEN 2 THEN '#items#' WHEN 3 THEN '#dbf#'
                  WHEN 4 THEN '#parquet#' WHEN 5 THEN '#avro#'
                  WHEN 6 THEN '#orc#' WHEN 7 THEN '#feather#'
                  ELSE '#' END AS sep
  FROM documents WHERE doc_id < 150)
SELECT base || sep || '1' AS url, 1 AS page_i, base AS container_s,
       'item' || doc_id AS name_t, doc_id || '.5' AS value_t,
       doc_id + 0.5 AS value_f FROM m
UNION ALL
SELECT base || sep || '2', 2, base, 'thing' || doc_id, 'x' || doc_id, NULL FROM m
"""


# ---------------------------------------------------------------------------
# PDF page explode (enhance_pdf_page.py:62-147: #page=N children with
# parent title/author copied)
# ---------------------------------------------------------------------------


def _build_pdf_doc(d: int) -> bytes:
    from open_semantic_etl_spark.operators.pdfio import build_pdf

    # deterministic layout mix: every 3rd doc uses the post-2005 layout
    # (compressed /ObjStm + cross-reference stream), every 4th
    # serializes its page objects out of file order, every 5th shows
    # its text as Type0/Identity-H CID hex through a ToUnicode CMap —
    # the oracle output is identical, so the layouts themselves are
    # under the hash
    return build_pdf(
        pages=[f"PageOne of {d}", f"PageTwo of {d}"],
        title=f"T{d}",
        author=f"A{d % 5}",
        modern=(d % 3 == 0),
        reverse_page_objects=(d % 4 == 0),
        type0=(d % 5 == 0),
        encrypt=("rc4-128" if (d % 3 != 0 and d % 7 == 1) else None),
    )


def q_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sources.explode import explode_pdf_pages

    src = _binary_source(spark, sf_dir, 120, _build_pdf_doc, "file:///docs/{d}.pdf")
    return explode_pdf_pages(src).select(
        "url", "page_i", "content_txt", "title_txt", "author_ss", "pages_i", "parent_id"
    )


SQL_PDF_PAGES = """
WITH m AS (SELECT doc_id, 'file:///docs/' || doc_id || '.pdf' AS base
           FROM documents WHERE doc_id < 120),
p AS (SELECT doc_id, base, i FROM m, unnest([1, 2]) AS t(i))
SELECT base || '#page=' || i AS url, i::int AS page_i,
       'Page' || (CASE WHEN i = 1 THEN 'One' ELSE 'Two' END) || ' of ' || doc_id AS content_txt,
       'T' || doc_id AS title_txt, 'A' || (doc_id % 5) AS author_ss,
       2 AS pages_i, base AS parent_id
FROM p
"""


# ---------------------------------------------------------------------------
# mimetype sniff + file size (enhance_mimetype.py:27-35,
# enhance_file_size.py:25-31) — fully JVM-side. Driver slot consolidated
# into doc_meta (same doc grain; the 50-entry cap): q_mimetype stays the
# solo form, exercised via doc_meta's columns
# ---------------------------------------------------------------------------


def q_mimetype(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.functions.textmeta import sniff_mimetype

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    m = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    payload = (
        F.when(m == 0, F.concat(F.lit("<html><body>M"), did, F.lit("</body></html>")))
        .when(m == 1, F.concat(F.lit("%PDF-1.4 M"), did))
        .when(m == 2, F.concat(F.lit("\x89PNG\r\n\x1a\nM"), did))
        .otherwise(F.concat(F.lit("PK\x03\x04M"), did))
    )
    data = F.encode(payload, "ISO-8859-1")
    return d.select(
        "doc_id",
        sniff_mimetype(data).alias("content_type_magic_s"),
        F.length(data).alias("file_size_i"),
    )


# ---------------------------------------------------------------------------
# blacklist / whitelist filter (filter_blacklist.py:28-129)
# ---------------------------------------------------------------------------


def q_blacklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.functions.filters import blacklist_predicate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    url = F.concat(
        F.lit("https://host"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example.org/doc/"), F.col("doc_id").cast("string"), F.lit(".html"),
    )
    kept = blacklist_predicate(
        url,
        blacklist={
            "exact": ("https://host0.example.org/doc/0.html",),
            "prefix": ("https://host3.",),
            "suffix": ("7.html",),
            "regex": (r"doc/4[0-9]\.html",),
        },
        whitelist={"exact": ("https://host3.example.org/doc/3.html",)},
    )
    return d.select("doc_id", url.alias("url"), kept.alias("kept"))


SQL_BLACKLIST = """
WITH d AS (
  SELECT doc_id,
         'https://host' || (doc_id % 13) || '.example.org/doc/' || doc_id || '.html' AS url
  FROM documents
)
SELECT doc_id, url,
  (NOT (url = 'https://host0.example.org/doc/0.html'
        OR url LIKE 'https://host3.%'
        OR url LIKE '%7.html'
        OR regexp_matches(url, 'doc/4[0-9]\\.html')))
  OR url = 'https://host3.example.org/doc/3.html' AS kept
FROM d
"""


# ---------------------------------------------------------------------------
# gazetteer entity linking (enhance_entity_linking.py:50-216: per-facet
# name/uri/'name <uri>'/'uri\tmatchtext'/taxonomy projections)
# ---------------------------------------------------------------------------


def _linking_gazetteer():
    from open_semantic_etl_spark.operators.entity_linking import (
        Gazetteer,
        GazetteerEntry,
    )

    return Gazetteer(
        entries=[
            GazetteerEntry(
                "urn:stgb", "Strafgesetzbuch", "law_code_ss",
                ("Strafgesetzbuch", "StGB"), ("Law\tDE\tCriminal",),
            ),
            GazetteerEntry(
                "urn:bgb", "Bürgerliches Gesetzbuch", "law_code_ss",
                ("Bürgerliches Gesetzbuch", "BGB"), ("Law\tDE\tCivil",),
            ),
            GazetteerEntry("urn:usd", "US Dollar", "currency_ss", ("USD", "dollar")),
        ]
    )


def q_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators import entity_linking as EL

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    txt = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("Das Strafgesetzbuch gilt. Preis 100 USD fuer "), did))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("Laut BGB Paragraph. Preis 100 USD fuer "), did))
        .otherwise(F.concat(F.lit("Nichts relevantes. Preis 100 USD fuer "), did))
    )
    tagged = EL.with_entities(d.withColumn("txt", txt), _linking_gazetteer(), text_col="txt")
    e = F.col("entities")
    return tagged.select(
        "doc_id",
        F.array_join(EL.facet_names(e, "law_code_ss"), ",").alias("law_names"),
        F.array_join(EL.facet_uris(e, "law_code_ss"), ",").alias("law_uris"),
        F.array_join(EL.facet_preflabel_and_uri(e, "law_code_ss"), ",").alias("law_pref"),
        F.array_join(EL.facet_matchtexts(e, "law_code_ss"), ",").alias("law_match"),
        F.array_join(EL.facet_taxonomy_level(e, "law_code_ss", 1), ",").alias("law_tax1"),
        F.array_join(EL.facet_names(e, "currency_ss"), ",").alias("currency_names"),
    )


SQL_ENTITY_LINK = """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'Strafgesetzbuch' WHEN 1 THEN 'Bürgerliches Gesetzbuch' ELSE '' END AS law_names,
  CASE doc_id % 3 WHEN 0 THEN 'urn:stgb' WHEN 1 THEN 'urn:bgb' ELSE '' END AS law_uris,
  CASE doc_id % 3 WHEN 0 THEN 'Strafgesetzbuch <urn:stgb>'
       WHEN 1 THEN 'Bürgerliches Gesetzbuch <urn:bgb>' ELSE '' END AS law_pref,
  CASE doc_id % 3 WHEN 0 THEN 'urn:stgb' || chr(9) || 'Strafgesetzbuch'
       WHEN 1 THEN 'urn:bgb' || chr(9) || 'BGB' ELSE '' END AS law_match,
  CASE doc_id % 3 WHEN 0 THEN 'Law' || chr(9) || 'DE'
       WHEN 1 THEN 'Law' || chr(9) || 'DE' ELSE '' END AS law_tax1,
  'US Dollar' AS currency_names
FROM documents
"""


# ---------------------------------------------------------------------------
# model-based NER (enhance_ner_spacy.py:27-142 span contract +
# enhance_ner_stanford.py:14-51 adjacent merge) over derived text whose
# expected facets are deterministic per doc_id — the oracle is plain SQL
# ---------------------------------------------------------------------------


def q_ner_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.ner_model import with_ner

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    txt = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("Some years ago, Mr. Barack Obama, a member of "
                              "Democratic Party, was president of the USA. Ref "), did))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("Der Text ist über Frau Dr. Angela Merkel. Sie ist "
                             "Mitglied in der CDU. Sie lebt in Deutschland. Nr "), did))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("The United Nations met Tim Cook of Apple Inc "
                             "in Paris. Case "), did))
        .otherwise(F.concat(F.lit("Nothing notable happened here today. Item "), did))
    )
    out = with_ner(d.withColumn("content_txt", txt))
    return out.select(
        "doc_id",
        F.array_join("person_ss", ",").alias("persons"),
        F.array_join("organization_ss", ",").alias("organizations"),
        F.array_join("location_ss", ",").alias("locations"),
    )


SQL_NER_MODEL = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'Barack Obama' WHEN 1 THEN 'Angela Merkel'
       WHEN 2 THEN 'Tim Cook' ELSE '' END AS persons,
  CASE doc_id % 4 WHEN 0 THEN 'Democratic Party' WHEN 1 THEN 'CDU'
       WHEN 2 THEN 'United Nations,Apple Inc' ELSE '' END AS organizations,
  CASE doc_id % 4 WHEN 0 THEN 'USA' WHEN 1 THEN 'Deutschland'
       WHEN 2 THEN 'Paris' ELSE '' END AS locations
FROM documents
"""


def q_ner_stanford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token-model path (enhance_ner_stanford.py:104-134): raw-token
    entities — 'USA.' keeps its period, unlike the span path."""
    from open_semantic_etl_spark.operators.ner_model import with_ner_stanford

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    did = F.col("doc_id").cast("string")
    txt = (
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("Barack Obama of the Democratic Party saw the USA. Ref "), did))
        .otherwise(F.concat(F.lit("Tim Cook met Angela Merkel in Berlin. Nr "), did))
    )
    out = with_ner_stanford(d.withColumn("content_txt", txt))
    return out.select(
        "doc_id",
        F.array_join("person_ss", ",").alias("persons"),
        F.array_join("organization_ss", ",").alias("organizations"),
        F.array_join("location_ss", ",").alias("locations"),
    )


SQL_NER_STANFORD = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'Barack Obama' ELSE 'Tim Cook,Angela Merkel' END AS persons,
  CASE WHEN doc_id % 2 = 0 THEN 'Democratic Party' ELSE '' END AS organizations,
  CASE WHEN doc_id % 2 = 0 THEN 'USA.' ELSE 'Berlin.' END AS locations
FROM d
"""


def q_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """both NER paths (span model + token/Stanford shape) in one
    method-tagged query — same grain, consolidated under the driver's
    50-query cap (the ann query's method-column pattern)."""
    m = q_ner_model(spark, sf_dir).select(F.lit("model").alias("method"), "*")
    s = q_ner_stanford(spark, sf_dir).select(F.lit("stanford").alias("method"), "*")
    return m.unionByName(s)


SQL_NER = (
    "SELECT 'model' AS method, * FROM (" + SQL_NER_MODEL + ")\n"
    "UNION ALL\nSELECT 'stanford' AS method, * FROM (" + SQL_NER_STANFORD + ")"
)


# ---------------------------------------------------------------------------
# annotations join (enhance_annotations.py:21-39 + export_solr
# add-distinct merge semantics) and sidecar metadata join
# (enhance_xmp.py:70-133 filename-stem keying)
# ---------------------------------------------------------------------------


def q_annotations_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.plans.maintenance import join_annotations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://host"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example.org/doc/"), did, F.lit(".html"),
    )
    base = docs.select(
        "doc_id",
        url.alias("url"),
        F.concat(F.lit("T"), did).alias("title_txt"),
        F.when(F.col("doc_id") % 2 == 0, F.array(F.concat(F.lit("base"), did))).alias("tag_ss"),
    )
    ann = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            url.alias("url"),
            F.concat(F.lit("AnnT"), did).alias("title_txt"),
            F.array(F.concat(F.lit("ann"), did)).alias("tag_ss"),
        )
    )
    out = join_annotations(base, ann, on="url", merge_cols=("tag_ss",))
    return out.select("doc_id", F.array_join("tag_ss", ",").alias("tags"), "title_txt")


SQL_ANNOTATIONS_JOIN = """
SELECT doc_id,
  CASE WHEN doc_id % 10 = 0 THEN 'base' || doc_id || ',ann' || doc_id
       WHEN doc_id % 2 = 0 THEN 'base' || doc_id
       ELSE '' END AS tags,
  CASE WHEN doc_id % 10 = 0 THEN 'AnnT' || doc_id ELSE 'T' || doc_id END AS title_txt
FROM documents
"""


def q_sidecar_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.plans.maintenance import join_sidecar

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    url = F.concat(F.lit("file:///data/"), did, F.lit(".pdf"))
    base = docs.select("doc_id", url.alias("url"))
    sidecar = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.concat(url, F.lit(".xmp")).alias("url"),
            F.concat(F.lit("XmpAuthor"), did).alias("xmp_author_s"),
        )
    )
    out = join_sidecar(base, sidecar, id_col="url", sidecar_suffix=".xmp")
    return out.select("doc_id", "xmp_author_s")


SQL_SIDECAR_JOIN = """
SELECT doc_id,
  CASE WHEN doc_id % 5 = 0 THEN 'XmpAuthor' || doc_id END AS xmp_author_s
FROM documents
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs (training-data curation tier)
# ---------------------------------------------------------------------------


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding near-dup, both strategies kind-tagged under one
    oracle: ``brute`` = exact all-pairs on a small id block (the
    verification path, SQL twin); ``semdedup`` = SemDeDup (Abbas et
    al. 2023) over the WHOLE table — k-means cells + within-cell
    pairwise cosine (numpy-golden twin; the cell partition makes it
    the scale path: all-pairs work only within bounded clusters)."""
    from open_semantic_etl_spark.operators.dedup import (
        embedding_dup_pairs,
        semdedup_pairs,
    )
    from open_semantic_etl_spark.operators.similarity import train_centroids
    from open_semantic_etl_spark.plans.queries import _ann_quantizer

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = embedding_dup_pairs(
        emb.filter(F.col("vec_id") < 40),
        vec_col="embedding", id_col="vec_id", threshold=0.2,
    ).withColumn("kind", F.lit("brute"))
    # threshold 0.3: the synthetic embeddings top out at cos ~0.48
    # (test fixtures plant 0.99 twins; testdata does not), so 0.3 makes
    # the golden non-trivial at every sf.  The cells are the ann query's
    # IVF centroids (semdedup_pairs' defaults are train_centroids')
    cents = _ann_quantizer(sf_dir, emb, train_centroids)
    sd = semdedup_pairs(emb, threshold=0.3, centroids=cents).withColumn(
        "kind", F.lit("semdedup")
    )
    return brute.unionByName(sd).select("kind", "id_a", "id_b", "cos")


SQL_NEARDUP_EMBEDDING = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 40)
SELECT 'brute' AS kind, a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cos
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.2
UNION ALL
SELECT 'semdedup' AS kind, id_a, id_b, cos
FROM read_parquet('/root/repo/goldens/semdedup.parquet')
WHERE _key = (SELECT SUM(label) * 1000003 + COUNT(*) FROM embeddings)
"""


# ---------------------------------------------------------------------------
# RDF: N-Triples → per-subject facets with label resolution
# (enhance_rdf.py:130-266)
# ---------------------------------------------------------------------------


def q_rdf_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.rdf import subject_facets, triples_from_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    did = F.col("doc_id").cast("string")
    subj = F.concat(F.lit("<urn:doc"), did, F.lit(">"))
    lines = docs.select(
        F.explode(
            F.array(
                F.concat(subj, F.lit(' <http://purl.org/dc/terms/title> "T'), did, F.lit('" .')),
                F.concat(
                    subj,
                    F.lit(" <http://purl.org/dc/terms/creator> <urn:author"),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit("> ."),
                ),
                F.when(
                    F.col("doc_id") < 5,
                    F.concat(
                        F.lit("<urn:author"), did,
                        F.lit('> <http://www.w3.org/2004/02/skos/core#prefLabel> "Author '),
                        did, F.lit('" .'),
                    ),
                ),
            )
        ).alias("line")
    ).filter(F.col("line").isNotNull())
    out = subject_facets(triples_from_lines(lines))
    return out.select("subject", "facet", F.array_join("values", ",").alias("vals"))


SQL_RDF_FACETS = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT 'urn:doc' || doc_id AS subject, 'title_ss' AS facet, 'T' || doc_id AS vals FROM d
UNION ALL
SELECT 'urn:doc' || doc_id, 'creator_ss', 'Author ' || (doc_id % 5) FROM d
UNION ALL
SELECT 'urn:author' || doc_id, 'prefLabel_ss', 'Author ' || doc_id FROM d WHERE doc_id < 5
"""


# ---------------------------------------------------------------------------
# annotation facets by property2facet config + swivt modification date
# (enhance_rdf_annotations_by_http_request.py:68-140): only configured
# predicates map to facets; unmapped predicates are dropped
# ---------------------------------------------------------------------------

_P2F = {
    "http://purl.org/dc/terms/subject": "tag_ss",
    "http://xmlns.com/foaf/0.1/name": "author_ss",
}


def q_rdf_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.rdf import (
        SWIVT_MODIFIED,
        annotation_facets,
        meta_modified,
        triples_from_lines,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    did = F.col("doc_id").cast("string")
    subj = F.concat(F.lit("<urn:doc"), did, F.lit(">"))
    lines = docs.select(
        F.explode(
            F.array(
                F.concat(subj, F.lit(' <http://purl.org/dc/terms/subject> "Topic'),
                         (F.col("doc_id") % 5).cast("string"), F.lit('" .')),
                F.concat(subj, F.lit(' <http://purl.org/dc/terms/subject> "Extra'),
                         (F.col("doc_id") % 3).cast("string"), F.lit('" .')),
                F.concat(subj, F.lit(' <http://xmlns.com/foaf/0.1/name> "Person'),
                         (F.col("doc_id") % 7).cast("string"), F.lit('" .')),
                # unmapped predicate — must NOT surface as a facet
                F.concat(subj, F.lit(' <http://example.org/ignored> "nope" .')),
                F.concat(subj, F.lit(f" <{SWIVT_MODIFIED}> "),
                         F.lit('"2024-02-0'), (1 + F.col("doc_id") % 9).cast("string"),
                         F.lit('T00:00:00" .')),
            )
        ).alias("line")
    )
    triples = triples_from_lines(lines)
    facets = annotation_facets(triples, _P2F)
    wide = (
        facets.groupBy("subject")
        .pivot("facet", ["tag_ss", "author_ss"])
        .agg(F.array_join(F.first("values"), ","))
    )
    return wide.join(meta_modified(triples), "subject").select(
        "subject",
        F.col("tag_ss").alias("tags"),
        F.col("author_ss").alias("authors"),
        "meta_modified",
    )


SQL_RDF_ANNOTATIONS = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
SELECT 'urn:doc' || doc_id AS subject,
       CASE WHEN 'Extra' || (doc_id % 3) < 'Topic' || (doc_id % 5)
            THEN 'Extra' || (doc_id % 3) || ',' || 'Topic' || (doc_id % 5)
            ELSE 'Topic' || (doc_id % 5) || ',' || 'Extra' || (doc_id % 3) END AS tags,
       'Person' || (doc_id % 7) AS authors,
       '2024-02-0' || (1 + doc_id % 9) || 'T00:00:00' AS meta_modified
FROM d
"""


# ---------------------------------------------------------------------------
# sitemap recursive listing + RSS incremental skip (etl_sitemap.py:45-123,
# etl_rss.py:47-94)
# ---------------------------------------------------------------------------

_SM_NS = {
    0: "http://www.sitemaps.org/schemas/sitemap/0.9",
    1: "http://www.google.com/schemas/sitemap/0.84",
}


def _build_sitemap(d: int) -> bytes:
    if d % 10 == 0:  # sitemapindex → two sub-sitemaps
        refs = "".join(
            f"<sitemap><loc>https://maps.example.org/{d + k}.xml</loc></sitemap>"
            for k in (1, 2)
        )
        return f'<sitemapindex xmlns="{_SM_NS[0]}">{refs}</sitemapindex>'.encode()
    ns = _SM_NS[1] if d % 3 == 1 else _SM_NS[0]  # exercise both namespaces
    lastmod = f"2024-02-{(d % 27) + 1:02d}"
    urls = "".join(
        f"<url><loc>https://site.example.org/{d}/{p}.html</loc>"
        f"<lastmod>{lastmod}</lastmod></url>"
        for p in ("a", "b")
    )
    return f'<urlset xmlns="{ns}">{urls}</urlset>'.encode()


def q_sitemap_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.sources.feeds import expand_sitemaps

    docs = _binary_source(
        spark, sf_dir, 150, _build_sitemap, "https://maps.example.org/{d}.xml"
    ).withColumnRenamed("html", "xml")
    seeds = (
        _doc_ids(spark, sf_dir, 150)
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            F.concat(
                F.lit("https://maps.example.org/"), F.col("doc_id").cast("string"),
                F.lit(".xml"),
            ).alias("seed_url")
        )
    )
    return expand_sitemaps(seeds, docs, max_depth=3)


SQL_SITEMAP_EXPAND = """
WITH s AS (SELECT doc_id AS seed FROM documents WHERE doc_id < 150 AND doc_id % 10 = 0),
c AS (SELECT seed, seed + k AS child FROM s, unnest([1, 2]) AS t(k)),
p AS (SELECT seed, child, page FROM c, unnest(['a', 'b']) AS u(page))
SELECT 'https://maps.example.org/' || seed || '.xml' AS seed_url,
       'https://site.example.org/' || child || '/' || page || '.html' AS page_url,
       '2024-02-' || lpad(((child % 27) + 1)::varchar, 2, '0') AS lastmod
FROM p
"""


def _build_rss(d: int) -> bytes:
    if d % 4 == 0:  # Atom variant
        entries = "".join(
            f'<entry><link href="https://news.example.org/{d}/{i}"/>'
            f"<title>N{d}-{i}</title><updated>2024-03-01T00:00:0{i}Z</updated>"
            f"<summary>S{d}-{i}</summary></entry>"
            for i in (1, 2, 3)
        )
        return f'<feed xmlns="http://www.w3.org/2005/Atom">{entries}</feed>'.encode()
    items = "".join(
        f"<item><link>https://news.example.org/{d}/{i}</link>"
        f"<title>N{d}-{i}</title><pubDate>2024-03-01T00:00:0{i}Z</pubDate>"
        f"<description>S{d}-{i}</description></item>"
        for i in (1, 2, 3)
    )
    return f"<rss><channel>{items}</channel></rss>".encode()


def q_rss_new_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """feeds-grain query, kind-tagged: 'rss' rows = indexed-skip feed
    items (etl_rss.py:64-73); 'sparql' rows = SELECT-result bindings
    walk (etl_sparql.py:57-63 — bindings outer, head.vars inner,
    trimmed, empties dropped) with ``pos_i`` pinning the walk ORDER.
    Consolidated so SPARQL result processing has a driver oracle under
    the 50-query cap (VERDICT r3 item 6)."""
    from open_semantic_etl_spark.sources.feeds import (
        new_items,
        rss_items,
        sparql_select_values,
    )

    feeds = _binary_source(
        spark, sf_dir, 150, _build_rss, "https://feeds.example.org/{d}.rss"
    ).withColumnRenamed("html", "xml")
    items = rss_items(feeds)
    indexed = _doc_ids(spark, sf_dir, 150).select(
        F.concat(
            F.lit("https://news.example.org/"), F.col("doc_id").cast("string"),
            F.lit("/2"),
        ).alias("url")
    )
    rss = new_items(items, indexed).select(
        F.lit("rss").alias("kind"),
        "feed_url", "url", "title_txt", "published", "summary_txt",
        F.lit(None).cast("int").alias("pos_i"),
    )
    # SPARQL SELECT results: the JSON payload is synthesized JVM-side
    # from doc_id (a two-binding page: a padded value to assert trim, an
    # empty value to assert drop, a missing var to assert null-skip)
    did = F.col("doc_id").cast("string")
    sp_src = _doc_ids(spark, sf_dir, 150).select(
        F.concat(F.lit("https://sparql.example.org/"), did).alias("endpoint"),
        F.concat(
            F.lit('{"head": {"vars": ["label", "alt"]}, "results": {"bindings": ['
                  '{"label": {"type": "literal", "value": " Term '),
            did,
            F.lit(' "}, "alt": {"type": "literal", "value": ""}}, '
                  '{"label": {"type": "literal", "value": "Alias '),
            did,
            F.lit('"}}]}}'),
        ).alias("json"),
    )
    sp = sparql_select_values(sp_src, "json", id_col="endpoint", with_pos=True)
    sparql = sp.select(
        F.lit("sparql").alias("kind"),
        F.col("endpoint").alias("feed_url"),
        F.lit(None).cast("string").alias("url"),
        F.col("value").alias("title_txt"),
        F.lit(None).cast("string").alias("published"),
        F.lit(None).cast("string").alias("summary_txt"),
        F.col("pos").cast("int").alias("pos_i"),
    )
    return rss.unionByName(sparql)


SQL_RSS_NEW_ITEMS = """
WITH i AS (SELECT doc_id, k FROM documents, unnest([1, 3]) AS t(k) WHERE doc_id < 150)
SELECT 'rss' AS kind,
       'https://feeds.example.org/' || doc_id || '.rss' AS feed_url,
       'https://news.example.org/' || doc_id || '/' || k AS url,
       'N' || doc_id || '-' || k AS title_txt,
       '2024-03-01T00:00:0' || k || 'Z' AS published,
       'S' || doc_id || '-' || k AS summary_txt,
       NULL::int AS pos_i
FROM i
UNION ALL
SELECT 'sparql', 'https://sparql.example.org/' || doc_id, NULL,
       CASE v WHEN 0 THEN 'Term ' || doc_id ELSE 'Alias ' || doc_id END,
       NULL, NULL, v::int
FROM documents, unnest([0, 1]) AS t(v) WHERE doc_id < 150
"""


# ---------------------------------------------------------------------------
# configured tag-path extraction (enhance_html.py:10-38, 62-82)
# ---------------------------------------------------------------------------


def q_html_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.htmlpaths import with_html_paths

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    did = F.col("doc_id").cast("string")
    html_str = F.concat(
        F.lit("<html><body><h1>Head "), did, F.lit("</h1>"),
        F.lit("<div id=\"x\">Outer "), did, F.lit("<span>Inner "), did,
        F.lit("</span></div><div>Second "), did, F.lit("</div></body></html>"),
    )
    src = docs.select("doc_id", F.encode(html_str, "UTF-8").alias("html"))
    out = with_html_paths(src, tags=("//h1",), tags_and_children=("//div",))
    p = F.col("html_paths")
    return out.select(
        "doc_id",
        F.array_join(p["h1_ss"], ",").alias("h1_ss"),
        F.array_join(p["div_ss"], ",").alias("div_ss"),
        F.array_join(p["div/span_ss"], ",").alias("div_span_ss"),
    )


SQL_HTML_PATHS = """
SELECT doc_id,
  'Head ' || doc_id AS h1_ss,
  'Outer ' || doc_id || ',Second ' || doc_id AS div_ss,
  'Inner ' || doc_id AS div_span_ss
FROM documents WHERE doc_id < 200
"""


# ---------------------------------------------------------------------------
# multi-join relational shapes over the star schema (SURVEY §2.9: the
# reference has no join/agg surface — Spark SQL provides it; dims
# broadcast, fact-fact joins shuffle on keys only)
# ---------------------------------------------------------------------------


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier
    share the nation, one region only. nation/region broadcast."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("decimal(18,2)")
            .cast("string")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n.n_name,
       round(sum((l.l_extendedprice * (1 - l.l_discount))::decimal(18,6)), 2)::decimal(18,2)::varchar AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey AND r.r_name = 'EUROPE'
GROUP BY n.n_name
"""


def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part dim broadcast onto the lineitem fact; per-brand quantities."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.count("*").alias("n_items"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_retail"),
        )
    )


SQL_BRAND_VOLUME = """
SELECT p.p_brand,
       (sum(l.l_quantity))::double AS sum_qty,
       count(*) AS n_items,
       round(avg(p.p_retailprice), 2) AS avg_retail
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


# ---------------------------------------------------------------------------
# salted hot-key aggregation (functions/skew.py — north-rule skew item)
# and grouping-sets rollup (free Spark SQL capability, SURVEY §2.9)
# ---------------------------------------------------------------------------


def q_host_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-host doc count + bytes via two-stage salted aggregation —
    identical result to a plain groupBy, but the hot host (25% of a
    crawl) spreads over 16 salt buckets map-side."""
    from open_semantic_etl_spark.functions.skew import host_of, salted_agg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    # hot host: 25% of rows land on host 'hot.example.org'
    url = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("https://hot.example.org/d/"), did),
    ).otherwise(
        F.concat(F.lit("https://w"), (F.col("doc_id") % 31).cast("string"),
                 F.lit(".example.org/d/"), did)
    )
    d = docs.select(url.alias("url"), F.length("text").alias("n"))
    out = salted_agg(
        d,
        host_of(F.col("url")),
        {"docs": F.count(F.lit(1)), "bytes": F.sum("n")},
    )
    return out.select(F.col("key").alias("host"), "docs", "bytes")


SQL_HOST_ROLLUP = """
WITH d AS (
  SELECT CASE WHEN doc_id % 4 = 0 THEN 'hot.example.org'
              ELSE 'w' || (doc_id % 31) || '.example.org' END AS host,
         length(text) AS n
  FROM documents
)
SELECT host, count(*) AS docs, sum(n)::bigint AS bytes FROM d GROUP BY host
"""


def q_facet_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(lang, source) doc counts — grouping sets come free from
    Spark SQL (the reference has no aggregation surface, SURVEY §2.9)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "docs",
            "chars",
        )
    )


SQL_FACET_ROLLUP = """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*) AS docs, sum(n_chars)::bigint AS chars
FROM documents GROUP BY ROLLUP(lang, source)
"""


# ---------------------------------------------------------------------------
# deferred OCR (two-phase: needs_ocr flag in extraction, phase-2 memoized
# OCR job — enhance_pdf_ocr.py + '[Image (no OCR yet)]' cache semantics)
# ---------------------------------------------------------------------------


def q_deferred_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_semantic_etl_spark.operators.html_extract import with_extraction
    from open_semantic_etl_spark.operators.ocr import run_ocr_phase

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").filter(
        F.col("doc_id") < 150
    )
    did = F.col("doc_id").cast("string")
    html_str = F.concat(
        F.lit("<html><body><p>Doc body "), did, F.lit("</p>"),
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit('<img src="FAKEIMG:OcrText'), did, F.lit('">'))).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    url = F.concat(F.lit("https://ocr.example.org/"), did)
    pages = docs.select("doc_id", url.alias("url"), F.encode(html_str, "UTF-8").alias("html"))
    enriched = with_extraction(pages)
    ocr = run_ocr_phase(spark, enriched, memo_path=_ocr_memo(sf_dir, "ocr_memo"), engine="fake")
    return (
        enriched.select("doc_id", "url", "needs_ocr")
        .join(ocr, "url", "left")
        .select("doc_id", "needs_ocr", "ocr_t")
    )


SQL_DEFERRED_OCR = """
SELECT doc_id, doc_id % 6 = 0 AS needs_ocr,
       CASE WHEN doc_id % 6 = 0 THEN 'OcrText' || doc_id END AS ocr_t
FROM documents WHERE doc_id < 150
"""


# ---------------------------------------------------------------------------
# crawl frontier (etl_web_crawl.py engine side) + n-gram decontamination
# ---------------------------------------------------------------------------

_SITE_N = 200  # binary-tree site size (doc_id < 200 pages)


def _build_site_page(d: int) -> bytes:
    """deterministic binary-tree site page: /p{d}.html links to its two
    children (one root-relative, one relative href), an off-site page
    (same-host policy must drop it), junk schemes, and a duplicate."""
    links = []
    if 2 * d + 1 < _SITE_N:
        links.append(f'<a href="/p{2 * d + 1}.html">c1</a>')
        links.append(f'<a class="n" href="/p{2 * d + 1}.html#sec">dup</a>')
    if 2 * d + 2 < _SITE_N:
        links.append(f'<a href="p{2 * d + 2}.html">c2</a>')
    links.append('<a href="https://other.example.net/x.html">ext</a>')
    links.append('<a href="mailto:a@b.c">m</a>')
    return ("<html><body>" + "".join(links) + "</body></html>").encode()


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS crawl-frontier expansion to depth 6 over the synthetic
    binary-tree site (first-discovery depth = floor(log2(id+1)))."""
    from open_semantic_etl_spark.sources.crawl import crawl_frontier

    src = _binary_source(
        spark, sf_dir, _SITE_N, _build_site_page, "https://crawl.example.com/p{d}.html"
    )
    out = crawl_frontier(
        src, ["https://crawl.example.com/p0.html"], max_depth=6
    )
    # RFC 9309 gate over the discovered frontier: /p1* disallowed,
    # /p12* re-allowed by the longer prefix, /p3* exercises the
    # equal-length tie (Allow wins)
    from open_semantic_etl_spark.sources.crawl import robots_gate

    rules = spark.createDataFrame(
        [
            ("crawl.example.com", "/p1", False),
            ("crawl.example.com", "/p12", True),
            ("crawl.example.com", "/p3", False),
            ("crawl.example.com", "/p3", True),
        ],
        "host string, prefix string, allow boolean",
    )
    return robots_gate(out, rules).select(
        "url", F.col("depth").cast("int").alias("depth"), "robots_allowed_i"
    )


SQL_LINK_GRAPH = """
WITH urls AS (
  SELECT 'https://crawl.example.com/p' || doc_id || '.html' AS url,
         CAST(floor(log2(doc_id + 1)) AS int) AS depth
  FROM documents WHERE doc_id < 127
), rules(host, prefix, allow) AS (
  VALUES ('crawl.example.com', '/p1', false),
         ('crawl.example.com', '/p12', true),
         ('crawl.example.com', '/p3', false),
         ('crawl.example.com', '/p3', true)
), m AS (
  SELECT u.url, r.allow,
         row_number() OVER (PARTITION BY u.url
                            ORDER BY length(r.prefix) DESC, r.allow DESC) AS rn
  FROM urls u JOIN rules r
    ON r.host = lower(regexp_extract(u.url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
   AND starts_with(coalesce(nullif(regexp_extract(u.url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1), ''), '/'),
                   r.prefix)
)
SELECT u.url, u.depth, coalesce(m.allow, true)::int AS robots_allowed_i
FROM urls u LEFT JOIN (SELECT url, allow FROM m WHERE rn = 1) m USING (url)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination (flag documents sharing
    any 5-gram with the 'benchmark' subset doc_id % 97 == 0), plus the
    exact-substring duplicated-span stats of Lee et al. 2021 §3.2 over
    the same 5-gram tokenization (consolidated here — same per-doc
    grain — to hold the driver's 50-query cap)."""
    from open_semantic_etl_spark.operators.dedup import (
        exact_substring_spans,
        ngram_decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    deco = ngram_decontaminate(docs, bench, n=5)
    spans = exact_substring_spans(docs, n=5)
    return deco.select("doc_id", "n_overlap", "is_contaminated").join(spans, "doc_id")


SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id,
         (CASE WHEN len(w) >= 5
               THEN list_distinct(list_transform(range(1, len(w) - 3),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
               ELSE []::varchar[] END) AS sh
  FROM w
), bench AS (
  SELECT list(DISTINCT g) AS bl
  FROM (SELECT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0)
), deco AS (
  SELECT doc_id,
         len(list_intersect(sh, bl))::int AS n_overlap,
         (len(list_intersect(sh, bl)) > 0)::int AS is_contaminated
  FROM sh, bench
), g AS (
  SELECT doc_id, i - 1 AS pos,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM w WHERE len(w) >= 5)
), dupg AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), hp AS (
  SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gram)
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
              THEN 0 ELSE 1 END AS brk
  FROM hp
), isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
), sp AS (
  SELECT doc_id, island, max(pos) - min(pos) + 5 AS toks
  FROM isl2 GROUP BY doc_id, island
), es AS (
  SELECT doc_id, count(*)::int AS dup_spans, sum(toks)::int AS dup_tokens
  FROM sp GROUP BY doc_id
)
SELECT d.doc_id, d.n_overlap, d.is_contaminated,
       len(w.w)::int AS total_tokens,
       coalesce(es.dup_tokens, 0)::int AS dup_tokens,
       coalesce(es.dup_spans, 0)::int AS dup_spans,
       CASE WHEN len(w.w) > 0
            THEN coalesce(es.dup_tokens, 0)::double / len(w.w)
            ELSE 0.0 END AS dup_frac
FROM deco d JOIN w USING (doc_id) LEFT JOIN es USING (doc_id)
"""


EXT_QUERIES = {
    "link_graph": q_link_graph,
    "decontaminate": q_decontaminate,
    "zip_explode": q_zip_explode,
    "pst_explode": q_pst_explode,
    "pdf_ocr": q_pdf_ocr,
    "web_mtime": q_web_mtime,
    "export_collapse": q_export_collapse,
    "hypothesis": q_hypothesis,
    "es_bulk": q_es_bulk,
    "neo4j_graph": q_neo4j_graph,
    "multimodal": q_multimodal,
    "host_cap": q_host_cap,
    "warc_explode": q_warc_explode,
    "csv_explode": q_csv_explode,
    "pdf_pages": q_pdf_pages,
    "blacklist_filter": q_blacklist_filter,
    "entity_link": q_entity_link,
    "ner": q_ner,  # model + stanford paths, method-tagged (50-cap)
    "office_extract": q_office_extract,
    "annotations_join": q_annotations_join,
    "sidecar_join": q_sidecar_join,
    "neardup_embedding": q_neardup_embedding,
    "rdf_facets": q_rdf_facets,
    "rdf_annotations": q_rdf_annotations,
    "html_paths": q_html_paths,
    "sitemap_expand": q_sitemap_expand,
    "rss_new_items": q_rss_new_items,
    "host_rollup_salted": q_host_rollup_salted,
    "facet_rollup": q_facet_rollup,
    "local_supplier_volume": q_local_supplier_volume,
    "brand_volume": q_brand_volume,
    "deferred_ocr": q_deferred_ocr,
}

EXT_ORACLES = {
    "link_graph": SQL_LINK_GRAPH,
    "decontaminate": SQL_DECONTAMINATE,
    "zip_explode": SQL_ZIP_EXPLODE,
    "pst_explode": SQL_PST_EXPLODE,
    "pdf_ocr": SQL_PDF_OCR,
    "web_mtime": SQL_WEB_MTIME,
    "export_collapse": SQL_EXPORT_COLLAPSE,
    "hypothesis": SQL_HYPOTHESIS,
    "es_bulk": SQL_ES_BULK,
    "neo4j_graph": SQL_NEO4J_GRAPH,
    "multimodal": SQL_MULTIMODAL,
    "host_cap": SQL_HOST_CAP,
    "warc_explode": SQL_WARC_EXPLODE,
    "csv_explode": SQL_CSV_EXPLODE,
    "pdf_pages": SQL_PDF_PAGES,
    "blacklist_filter": SQL_BLACKLIST,
    "entity_link": SQL_ENTITY_LINK,
    "ner": SQL_NER,
    "office_extract": SQL_OFFICE_EXTRACT,
    "annotations_join": SQL_ANNOTATIONS_JOIN,
    "sidecar_join": SQL_SIDECAR_JOIN,
    "neardup_embedding": SQL_NEARDUP_EMBEDDING,
    "rdf_facets": SQL_RDF_FACETS,
    "rdf_annotations": SQL_RDF_ANNOTATIONS,
    "html_paths": SQL_HTML_PATHS,
    "sitemap_expand": SQL_SITEMAP_EXPAND,
    "rss_new_items": SQL_RSS_NEW_ITEMS,
    "host_rollup_salted": SQL_HOST_ROLLUP,
    "facet_rollup": SQL_FACET_ROLLUP,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "brand_volume": SQL_BRAND_VOLUME,
    "deferred_ocr": SQL_DEFERRED_OCR,
}
