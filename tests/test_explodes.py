"""Container-explode tests mirroring the reference fixtures
(test_enhance_warc.py:24-38 'Example Domain' golden, enhance_zip
nested-zip outermost-container rule, enhance_csv typed shadows,
enhance_pdf_page #page=N ids)."""

from __future__ import annotations

import io
import zipfile
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from open_semantic_etl_spark.operators.pdfio import build_pdf
from open_semantic_etl_spark.sources import explode as E


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def test_explode_zip_nested(spark):
    inner = _zip_bytes({"deep/file2.txt": b"inner content two"})
    outer = _zip_bytes({"a/file1.txt": b"outer content one", "nested.zip": inner})
    df = spark.createDataFrame([("http://x/archive.zip", outer)], "url string, html binary")
    rows = {r["url"]: r for r in E.explode_zip(df).collect()}
    assert set(rows) == {
        "http://x/archive.zip/a/file1.txt",
        "http://x/archive.zip/nested.zip/deep/file2.txt",
    }
    # outermost container id on nested members (enhance_zip.py:26-28)
    assert all(r["container_s"] == "http://x/archive.zip" for r in rows.values())
    assert bytes(rows["http://x/archive.zip/a/file1.txt"]["html"]) == b"outer content one"


_WARC = (
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Record-ID: <urn:uuid:abc-123>\r\n"
    b"WARC-Target-URI: http://example.com/\r\n"
    b"WARC-Date: 2024-02-03T04:05:06Z\r\n"
    b"Content-Length: 130\r\n"
    b"\r\n"
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"
    b"<html><head><title>Example Domain</title></head><body><p>x</p></body></html>"
    b"\r\n\r\n"
    b"WARC/1.0\r\n"
    b"WARC-Type: request\r\n"
    b"WARC-Record-ID: <urn:uuid:req-1>\r\n"
    b"Content-Length: 4\r\n"
    b"\r\n"
    b"GET /"
)


def test_explode_warc(spark):
    df = spark.createDataFrame([("file:///example.warc", _WARC)], "url string, html binary")
    rows = E.explode_warc(df).collect()
    assert len(rows) == 1  # request records are skipped
    r = rows[0]
    assert r["url"] == "http://example.com//urn:uuid:abc-123"
    assert r["target_uri"] == "http://example.com/"
    assert r["warc_ts"] == datetime(2024, 2, 3, 4, 5, 6)
    # the payload is the HTTP body → extraction finds the golden title
    from open_semantic_etl_spark.operators.htmlx import extract_html

    assert extract_html(bytes(r["html"]))["title"] == "Example Domain"


def test_warc_gz_members_and_chunked():
    """Common-Crawl layout: one gzip member per record, HTTP bodies in
    chunked transfer framing — both must decode to the same records
    the plain reader yields (warcio ArchiveIterator/content_stream
    behavior)."""
    import gzip

    from open_semantic_etl_spark.sources.explode import parse_warc

    # plain baseline from the shared fixture
    plain = parse_warc(_WARC)
    assert len(plain) == 1

    # per-record gzip members (the .warc.gz layout)
    resp, req = _WARC.split(b"\r\n\r\nWARC/1.0\r\nWARC-Type: request")
    req = b"WARC/1.0\r\nWARC-Type: request" + req
    gz = gzip.compress(resp + b"\r\n\r\n") + gzip.compress(req)
    assert gz[:2] == b"\x1f\x8b"
    got = parse_warc(gz)
    assert [ (r["child_id"], bytes(r["bytes"])) for r in got ] == [
        (plain[0]["child_id"], bytes(plain[0]["bytes"]))
    ]

    # chunked transfer-encoding: body arrives in two chunks
    body = b"<html><body>chunked page body</body></html>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"%x\r\n" % 16 + body[:16] + b"\r\n"
        b"%x\r\n" % (len(body) - 16) + body[16:] + b"\r\n"
        b"0\r\n\r\n"
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:ch-1>\r\n"
        b"WARC-Target-URI: http://c.example.com/\r\n"
        b"WARC-Date: 2024-02-03T04:05:06Z\r\n"
        b"Content-Length: %d\r\n\r\n" % len(http) + http
    )
    got = parse_warc(gzip.compress(rec))
    assert len(got) == 1 and bytes(got[0]["bytes"]) == body

    # server claims chunked but sends a plain body (common bug):
    # fall back to the raw bytes, as warcio does (review regression)
    plain_body = b"<html><body>not actually chunked</body></html>"
    http2 = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + plain_body
    )
    rec2 = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:ch-2>\r\n"
        b"WARC-Target-URI: http://c2.example.com/\r\n"
        b"WARC-Date: 2024-02-03T04:05:06Z\r\n"
        b"Content-Length: %d\r\n\r\n" % len(http2) + http2
    )
    got2 = parse_warc(rec2)
    assert len(got2) == 1 and bytes(got2[0]["bytes"]) == plain_body


def test_explode_csv(spark):
    data = "name;amount;note\nalpha;1,5;first row\nbeta;2;second row\n".encode()
    df = spark.createDataFrame([("http://x/t.csv", data)], "url string, html binary")
    rows = {r["page_i"]: r for r in E.explode_csv(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["url"] == "http://x/t.csv#1"
    assert rows[1]["container_s"] == "http://x/t.csv"
    assert rows[1]["fields"]["name_t"] == "alpha"
    assert rows[1]["numbers"]["amount_f"] == 1.5  # ',' decimal shadow
    assert "note_f" not in rows[1]["numbers"]
    assert rows[2]["fields"]["note_t"] == "second row"


def test_explode_pdf_pages(spark):
    pdf = build_pdf(
        ["TestPDFContent1 on TestPDFPage1", "TestPDFContent2 on TestPDFPage2"],
        title="TestPDFtitle",
        author="A. Author",
    )
    df = spark.createDataFrame([("http://x/test.pdf", pdf)], "url string, html binary")
    rows = {r["page_i"]: r for r in E.explode_pdf_pages(df).collect()}
    assert rows[1]["url"] == "http://x/test.pdf#page=1"
    assert rows[1]["content_txt"] == "TestPDFContent1 on TestPDFPage1"
    assert rows[2]["content_txt"] == "TestPDFContent2 on TestPDFPage2"
    # parent metadata copied onto every page (enhance_pdf_page.py:123-147)
    assert all(r["title_txt"] == "TestPDFtitle" and r["pages_i"] == 2 for r in rows.values())


def test_explode_sentences(spark):
    df = spark.createDataFrame(
        [("d1", "First sentence here. Second one! Third? yes lower stays attached.")],
        "url string, content_txt string",
    )
    rows = E.explode_sentences(df).collect()
    texts = [r["sentence_txt"] for r in rows]
    assert texts[0] == "First sentence here."
    assert texts[1] == "Second one!"
    assert rows[0]["url"] == "d1#sentence1"
    assert E.split_sentences(None) == []


def test_explode_pst(spark):
    """enhance_pst.py:20-128: folder-tree members, bare-number mail files
    gain .eml, attachments (number-filename) keep their name, container
    stays the pst id; real ``!BDN`` payloads decode through the native
    [MS-PST] parser (corrupt ones degrade to zero children)."""
    import pytest

    fixture = E.build_pst_fixture(
        [
            ("Inbox/4321", b"From: a@x\n\nBody text"),
            ("Inbox/4321-invoice.pdf", b"%PDF-attach"),
            ("Archive/Old/77", b"old mail"),
        ]
    )
    df = spark.createDataFrame(
        [("file:///m/box.pst", fixture)], "url string, html binary"
    )
    rows = {r["url"]: r for r in E.explode_pst(df).collect()}
    assert set(rows) == {
        "file:///m/box.pst/Inbox/4321.eml",
        "file:///m/box.pst/Inbox/4321-invoice.pdf",
        "file:///m/box.pst/Archive/Old/77.eml",
    }
    assert bytes(rows["file:///m/box.pst/Inbox/4321.eml"]["html"]) == b"From: a@x\n\nBody text"
    assert all(r["container_s"] == "file:///m/box.pst" for r in rows.values())
    # corrupt real-PST magic → clean error from the native parser
    # (tests/test_pst.py pins the full decode of valid files)
    with pytest.raises(ValueError):
        E.parse_pst_members(b"!BDN" + b"\x00" * 16, "id", "id")
    # and through Spark the bad row degrades to zero children, like zip
    bad = spark.createDataFrame(
        [("file:///m/real.pst", b"!BDN" + b"\x00" * 16)], "url string, html binary"
    )
    assert E.explode_pst(bad).count() == 0


def test_pst_fixture_roundtrip_property():
    """property: any member list survives build→parse with the id scheme
    applied (hypothesis over paths and binary payloads)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    name = st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_-."),
        min_size=1, max_size=12,
    ).filter(lambda s: s not in (".", ".."))
    path = st.lists(name, min_size=1, max_size=4).map("/".join)
    member = st.tuples(path, st.binary(max_size=200))

    @given(st.lists(member, min_size=0, max_size=8))
    @settings(max_examples=60, deadline=None)
    def check(members):
        data = E.build_pst_fixture(members)
        got = E.parse_pst_members(data, "file:///m/a.pst", "file:///m/a.pst")
        assert len(got) == len(members)
        for (p, payload), child in zip(members, got):
            base = p.rsplit("/", 1)[-1]
            expect = p + ".eml" if "-" not in base else p
            assert child["child_id"] == f"file:///m/a.pst/{expect}"
            assert child["bytes"] == payload
            assert child["container_s"] == "file:///m/a.pst"

    check()


def test_zip_bomb_member_skipped(monkeypatch):
    """a member whose declared decompressed size exceeds the cap is
    skipped before any allocation (zipfile never yields more than
    file_size, so the pre-read check is sound); siblings survive."""
    import io
    import zipfile

    monkeypatch.setattr(E, "ZIP_MAX_MEMBER_BYTES", 1024)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("bomb.bin", b"\x00" * 10_000)
        zf.writestr("ok.txt", b"hello")
    got = E._zip_members(buf.getvalue(), "file:///z.zip", "file:///z.zip")
    assert [m["child_id"] for m in got] == ["file:///z.zip/ok.txt"]


def test_zip_archive_budget_truncates(monkeypatch):
    """total decompressed budget stops the walk — an overlap bomb with
    thousands of cheap-to-declare members cannot run away."""
    import io
    import zipfile

    monkeypatch.setattr(E, "ZIP_MAX_ARCHIVE_BYTES", 250)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i in range(10):
            zf.writestr(f"m{i}.txt", b"x" * 100)
    got = E._zip_members(buf.getvalue(), "file:///z.zip", "file:///z.zip")
    # 100+100 fit; the third (100 > 50 remaining) and everything after
    # are skipped pre-read
    assert len(got) == 2


def test_zip_nesting_depth_capped():
    """zip-in-zip recursion stops at the depth cap: the deepest archive
    is emitted as an opaque member instead of recursed (a zip quine
    cannot loop the worker)."""
    import io
    import zipfile

    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("leaf.txt", b"core")
    data = inner.getvalue()
    for i in range(10):
        outer = io.BytesIO()
        with zipfile.ZipFile(outer, "w") as zf:
            zf.writestr(f"n{i}.zip", data)
        data = outer.getvalue()
    got = E._zip_members(data, "file:///z.zip", "file:///z.zip")
    assert len(got) == 1
    # depth cap (8) hit before the leaf: the remaining nested archive
    # surfaces as a raw .zip member rather than recursing forever
    assert got[0]["child_id"].endswith(".zip")
    assert got[0]["bytes"][:4] == b"PK\x03\x04"


# --- tar tier (round-4e: Tika TarParser parity over the zip machinery) ----


def _tar_bytes(members: dict[str, bytes], mode: str = "w") -> bytes:
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, data in members.items():
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            ti.mtime = 1704067200
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def test_explode_tar_plain_and_compressed(spark):
    """plain tar and .tar.gz both explode to member rows through
    explode_zip's per-row sniff; child-id scheme matches zip."""
    plain = _tar_bytes({"docs/one.txt": b"uno", "two.txt": b"dos"})
    gz = _tar_bytes({"three.txt": b"tres"}, mode="w:gz")
    df = spark.createDataFrame(
        [("http://x/a.tar", plain), ("http://x/b.tar.gz", gz)],
        "url string, html binary",
    )
    rows = {r["url"]: bytes(r["html"]) for r in E.explode_zip(df).collect()}
    assert rows == {
        "http://x/a.tar/docs/one.txt": b"uno",
        "http://x/a.tar/two.txt": b"dos",
        "http://x/b.tar.gz/three.txt": b"tres",
    }


def test_tar_zip_cross_nesting():
    """zip-in-tar and tar-in-zip both recurse with the OUTERMOST
    container id, like zip-in-zip (enhance_zip.py:26-28 rule)."""
    inner_zip = _zip_bytes({"z.txt": b"from zip"})
    tar_with_zip = _tar_bytes({"inner.zip": inner_zip, "t.txt": b"from tar"})
    got = E._tar_members(tar_with_zip, "file:///a.tar", "file:///a.tar")
    assert {(m["child_id"], bytes(m["bytes"])) for m in got} == {
        ("file:///a.tar/inner.zip/z.txt", b"from zip"),
        ("file:///a.tar/t.txt", b"from tar"),
    }
    assert all(m["container_s"] == "file:///a.tar" for m in got)

    inner_tar = _tar_bytes({"deep.txt": b"from nested tar"})
    zip_with_tar = _zip_bytes({"inner.tar": inner_tar, "z2.txt": b"plain"})
    got2 = E._zip_members(zip_with_tar, "file:///b.zip", "file:///b.zip")
    assert {(m["child_id"], bytes(m["bytes"])) for m in got2} == {
        ("file:///b.zip/inner.tar/deep.txt", b"from nested tar"),
        ("file:///b.zip/z2.txt", b"plain"),
    }


def test_tar_corrupt_nested_degrades_to_member():
    """a member that SNIFFS as tar but fails to parse is kept as an
    opaque member row — the heuristic never loses bytes."""
    fake = b"\x00" * 257 + b"ustar" + b"\x00" * 100  # magic, bad checksum
    container = _zip_bytes({"broken.tar": fake})
    got = E._zip_members(container, "file:///c.zip", "file:///c.zip")
    assert [(m["child_id"], bytes(m["bytes"])) for m in got] == [
        ("file:///c.zip/broken.tar", fake)
    ]


def test_tar_member_and_budget_guards(monkeypatch):
    """oversized members are skipped pre-read; the shared byte budget
    (with the 512 B/header charge) stops empty-member bombs."""
    monkeypatch.setattr(E, "ZIP_MAX_MEMBER_BYTES", 64)
    data = _tar_bytes({"big.bin": b"\x01" * 1000, "ok.txt": b"fine"})
    got = E._tar_members(data, "t", "t")
    assert [m["child_id"] for m in got] == ["t/ok.txt"]

    monkeypatch.undo()
    # 40 empty members × 512 B header charge > 1 KB budget → truncation
    bomb = _tar_bytes({f"e{i}": b"" for i in range(40)}, mode="w:gz")
    got2 = E._tar_members(bomb, "t", "t", _budget=[1024])
    assert len(got2) < 40


def test_explode_zip_rejects_garbage(spark):
    """non-archive bytes (and empty) yield zero children, no error."""
    df = spark.createDataFrame(
        [("http://x/g.bin", b"\x00\x01garbage" * 50), ("http://x/e", b"")],
        "url string, html binary",
    )
    assert E.explode_zip(df).count() == 0


def test_tar_mimetype_sniff():
    from open_semantic_etl_spark.operators.htmlx import sniff_content_type

    plain = _tar_bytes({"a.txt": b"x"})
    assert sniff_content_type(plain) == "application/x-tar"
    assert sniff_content_type(_tar_bytes({"a": b""}, "w:gz")) == "application/gzip"
    assert sniff_content_type(b"\x00" * 300) == "application/octet-stream"


# --- sqlite tier (Tika SQLite3Parser parity: rows → typed-shadow docs) ----


def _sqlite_bytes(ddl_and_rows) -> bytes:
    import sqlite3

    con = sqlite3.connect(":memory:")
    for stmt, params in ddl_and_rows:
        con.execute(stmt, params or ())
    con.commit()
    data = bytes(con.serialize())
    con.close()
    return data


def test_explode_sqlite(spark):
    """user tables walk in name order, rows in rowid order; typed
    shadows follow the CSV contract (REAL/INTEGER → _f, parseable TEXT
    → _f too, BLOB → hex _t, NULL skipped); sqlite_ internals hidden."""
    db = _sqlite_bytes(
        [
            ("CREATE TABLE zeta (k TEXT, v REAL)", None),
            ("CREATE TABLE alpha (name TEXT, n INTEGER, b BLOB, misc)", None),
            ("INSERT INTO alpha VALUES ('first', 7, X'C0FFEE', '12,5')", None),
            ("INSERT INTO alpha VALUES ('second', NULL, NULL, 'words')", None),
            ("INSERT INTO zeta VALUES ('z', 1.5)", None),
        ]
    )
    df = spark.createDataFrame([("file:///d.sqlite", db)], "url string, html binary")
    rows = {r["url"]: r for r in E.explode_sqlite(df).collect()}
    assert set(rows) == {
        "file:///d.sqlite#alpha#1",
        "file:///d.sqlite#alpha#2",
        "file:///d.sqlite#zeta#1",
    }
    r1 = rows["file:///d.sqlite#alpha#1"]
    assert r1["table_s"] == "alpha" and r1["page_i"] == 1
    assert r1["fields"] == {
        "name_t": "first", "n_t": "7", "b_t": "c0ffee", "misc_t": "12,5",
    }
    assert r1["numbers"] == {"n_f": 7.0, "misc_f": 12.5}
    r2 = rows["file:///d.sqlite#alpha#2"]
    assert r2["fields"] == {"name_t": "second", "misc_t": "words"}
    assert r2["numbers"] == {}
    assert rows["file:///d.sqlite#zeta#1"]["numbers"] == {"v_f": 1.5}


def test_explode_sqlite_rejects_non_database(spark):
    df = spark.createDataFrame(
        [("file:///x.bin", b"SQLite format 3\x00" + b"\x00" * 50),
         ("file:///y.txt", b"not a database at all")],
        "url string, html binary",
    )
    assert E.explode_sqlite(df).count() == 0


def test_sqlite_row_caps(monkeypatch):
    monkeypatch.setattr(E, "SQLITE_MAX_ROWS_PER_TABLE", 3)
    stmts = [("CREATE TABLE t (i INTEGER)", None)]
    stmts += [("INSERT INTO t VALUES (?)", (i,)) for i in range(10)]
    got = E._sqlite_rows(_sqlite_bytes(stmts), "d")
    assert [m["child_id"] for m in got] == ["d#t#1", "d#t#2", "d#t#3"]

    monkeypatch.undo()
    monkeypatch.setattr(E, "SQLITE_MAX_ROWS_TOTAL", 4)
    stmts2 = [("CREATE TABLE a (i)", None), ("CREATE TABLE b (i)", None)]
    stmts2 += [("INSERT INTO a VALUES (?)", (i,)) for i in range(3)]
    stmts2 += [("INSERT INTO b VALUES (?)", (i,)) for i in range(3)]
    got2 = E._sqlite_rows(_sqlite_bytes(stmts2), "d")
    assert len(got2) == 4


def test_sqlite_mimetype_sniff():
    from open_semantic_etl_spark.operators.htmlx import sniff_content_type

    db = _sqlite_bytes([("CREATE TABLE t (i)", None)])
    assert sniff_content_type(db) == "application/x-sqlite3"


# ---------------------------------------------------------------------------
# mbox (Tika MBoxParser tier: From_-line split, mboxrd unstuffing)
# ---------------------------------------------------------------------------

_MBOX = (
    b"From alice@example.org Fri Mar  1 08:30:00 2024\r\n"
    b"From: alice@example.org\r\n"
    b"Subject: first\r\n"
    b"\r\n"
    b"line one\r\n"
    b">From quoted line stays (one > stripped)\r\n"
    b">>From doubly stuffed\r\n"
    b"\r\n"
    b"From bob@example.org Sat Mar  2 09:00:00 2024\r\n"
    b"From: bob@example.org\r\n"
    b"Subject: second\r\n"
    b"\r\n"
    b"body two\r\n"
)


def test_mbox_messages_split_and_unstuff():
    msgs = E._mbox_messages(_MBOX)
    assert len(msgs) == 2
    # envelope From_ lines are NOT part of the messages
    assert msgs[0].startswith(b"From: alice@example.org\r\n")
    assert msgs[1].startswith(b"From: bob@example.org\r\n")
    # mboxrd unstuffing strips exactly one '>' per stuffed line
    assert b"\r\nFrom quoted line stays (one > stripped)\r\n" in msgs[0]
    assert b"\r\n>From doubly stuffed\r\n" in msgs[0]
    # the blank separator line before the next From_ does not leak in
    assert msgs[0].endswith(b"doubly stuffed\r\n")
    # prose starting with 'From ' but no asctime year is not a mailbox
    assert E._mbox_messages(b"From here on, things improved.\nYes.\n") == []


def test_explode_mbox(spark):
    df = spark.createDataFrame(
        [("file:///m/in.mbox", _MBOX), ("file:///m/not.txt", b"hello world")],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in E.explode_mbox(df).collect()}
    assert set(rows) == {"file:///m/in.mbox#msg=1", "file:///m/in.mbox#msg=2"}
    assert all(r["container_s"] == "file:///m/in.mbox" for r in rows.values())
    assert bytes(rows["file:///m/in.mbox#msg=2"]["html"]).endswith(b"body two\r\n")


def test_mbox_children_parse_as_mail(spark):
    from open_semantic_etl_spark.operators.eml import with_eml

    df = spark.createDataFrame([("file:///m/in.mbox", _MBOX)], "url string, html binary")
    out = with_eml(E.explode_mbox(df)).orderBy("url").collect()
    assert [r["subject_txt"] for r in out] == ["first", "second"]
    assert out[1]["message_from_ss"] == ["bob@example.org"]


def test_mbox_mimetype_sniff():
    from open_semantic_etl_spark.operators.htmlx import sniff_content_type

    assert sniff_content_type(_MBOX) == "application/mbox"
    # the year requirement keeps ordinary prose out of the label
    assert sniff_content_type(b"From here on, things improved.\n") is None


def test_mbox_midbody_from_line_does_not_split():
    # an unstuffed body line starting 'From ' (non-stuffing mailer)
    # is NOT an envelope: no split, no #msg id shift
    mb = (
        b"From a@x.org Fri Mar  1 08:30:00 2024\r\n"
        b"Subject: one\r\n\r\n"
        b"From my perspective, this stays.\r\n"
        b"From 2019 to 2024 likewise.\r\n"
    )
    msgs = E._mbox_messages(mb)
    assert len(msgs) == 1
    assert b"From my perspective, this stays.\r\n" in msgs[0]
    assert b"From 2019 to 2024 likewise.\r\n" in msgs[0]


def test_mbox_sniff_rejects_yearlike_prose():
    from open_semantic_etl_spark.operators.htmlx import sniff_content_type

    assert sniff_content_type(b"From 2019 to 2024\nrevenue grew fast.\n") is None


def test_explode_zip_with_prepended_junk(spark):
    # self-extracting / prefix-padded zips: zipfile finds the central
    # directory from the tail, so leading junk must not lose members
    sfx = b"#!/bin/sh\necho stub\n" + _zip_bytes({"doc.txt": b"payload"})
    df = spark.createDataFrame([("http://x/a.zip", sfx)], "url string, html binary")
    rows = E.explode_zip(df).collect()
    assert [r["url"] for r in rows] == ["http://x/a.zip/doc.txt"]
    assert bytes(rows[0]["html"]) == b"payload"


def test_encrypted_or_corrupt_zip_member_skipped_not_fatal():
    """one locked/corrupt member must not erase every sibling's
    children (the oversized-member rule applied to read failures)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("good1.txt", "alpha")
        z.writestr("locked.txt", "secret")
        z.writestr("good2.txt", "beta")
    blob = bytearray(buf.getvalue())
    # flip the encryption bit in BOTH of locked.txt's headers —
    # zipfile trusts the central directory's general-purpose flags
    at = blob.find(b"locked.txt") - 30  # local header: flags at +6
    assert blob[at : at + 4] == b"PK\x03\x04"
    blob[at + 6] |= 0x01
    at = blob.find(b"locked.txt", at + 40) - 46  # central dir: flags at +8
    assert blob[at : at + 4] == b"PK\x01\x02"
    blob[at + 8] |= 0x01
    got = E._zip_members(bytes(blob), "z", "z")
    assert [m["child_id"] for m in got] == ["z/good1.txt", "z/good2.txt"]


def test_sfx_archives_behind_mz_stub(spark):
    """self-extracting installers: EXE stub + RAR/7z/CAB — the archive
    is located by signature scan (unrar/7z/cabextract behavior)."""
    from open_semantic_etl_spark.operators.cab import build_cab
    from open_semantic_etl_spark.operators.rar import build_rar5
    from open_semantic_etl_spark.operators.sevenzip import build_7z

    stub = b"MZ" + b"\x90" * 200 + b"This program cannot be run in DOS mode"
    cases = [
        ("http://x/setup_rar.exe", stub + build_rar5({"payload.txt": b"from rar sfx"})),
        ("http://x/setup_7z.exe",
         stub + build_7z([("payload.txt", b"from 7z sfx")])),
        ("http://x/setup_cab.exe", stub + build_cab({"payload.txt": b"from cab sfx"})),
    ]
    df = spark.createDataFrame(
        [(u, bytearray(b)) for u, b in cases], "url string, html binary"
    )
    got = {r["url"]: bytes(r["html"]) for r in E.explode_zip(df).collect()}
    assert got["http://x/setup_rar.exe/payload.txt"] == b"from rar sfx"
    assert got["http://x/setup_7z.exe/payload.txt"] == b"from 7z sfx"
    assert got["http://x/setup_cab.exe/payload.txt"] == b"from cab sfx"


def test_sfx_scan_false_positives_stay_opaque():
    # an EXE whose stub mentions "MSCF" in prose must NOT claim children
    blob = b"MZ" + b"\x00" * 60 + b"the MSCF marker is described here" + b"\x00" * 100
    assert E._sfx_archive(blob) is None
    # no archive signature at all
    assert E._sfx_archive(b"MZ" + b"\x90" * 500) is None
    # non-MZ payloads never scan
    assert E._sfx_archive(b"PK\x03\x04junk") is None


def test_truncated_tar_keeps_leading_members():
    full = _tar_bytes({"a.txt": b"alpha", "b.txt": b"beta" * 200}, "w")
    cut = full[: 512 + 512 + 100]  # a.txt complete, b.txt torn mid-payload
    got = E._tar_members(cut, "d", "d")
    assert [m["child_id"] for m in got] == ["d/a.txt"]
    assert bytes(got[0]["bytes"]) == b"alpha"


def test_sqlite_reserved_prefix_filter_is_literal():
    # 'sqlitemeta' is a legal user table (only literal 'sqlite_' is
    # reserved) — a LIKE 'sqlite_%' filter would wrongly hide it
    db = _sqlite_bytes(
        [("CREATE TABLE sqlitemeta (i INTEGER)", None),
         ("INSERT INTO sqlitemeta VALUES (7)", None)]
    )
    got = E._sqlite_rows(db, "d")
    assert [m["child_id"] for m in got] == ["d#sqlitemeta#1"]


# ---------------------------------------------------------------------------
# dBase .dbf tier — sources/explode.py _dbf_rows (Tika DBFParser parity)
# ---------------------------------------------------------------------------


def test_dbf_rows_types_and_deleted():
    from open_semantic_etl_spark.sources.explode import _dbf_rows, build_dbf

    cols = [("name", "C", 20), ("qty", "N", 8), ("ok", "L", 1), ("day", "D", 8)]
    dbf = build_dbf(
        [["alpha", "42", "T", "20240301"], ["beta", "-1.5", "?", ""]], cols
    )
    got = _dbf_rows(dbf, "file:///t/x.dbf")
    assert [r["child_id"] for r in got] == [
        "file:///t/x.dbf#dbf#1",
        "file:///t/x.dbf#dbf#2",
    ]
    r1, r2 = got
    assert r1["fields"] == {
        "name_t": "alpha", "qty_t": "42", "ok_t": "true", "day_t": "20240301",
    }
    assert r1["numbers"] == {"qty_f": 42.0}
    assert "ok_t" not in r2["fields"]  # '?' = uninitialized logical
    assert r2["numbers"] == {"qty_f": -1.5}
    # deleted flag (*) skips the record, numbering stays contiguous
    hdr = int.from_bytes(dbf[8:10], "little")
    rec = int.from_bytes(dbf[10:12], "little")
    d2 = bytearray(dbf)
    d2[hdr] = 0x2A
    kept = _dbf_rows(bytes(d2), "x")
    assert [r["fields"]["name_t"] for r in kept] == ["beta"]


def test_dbf_sniff_is_structural():
    from open_semantic_etl_spark.operators.htmlx import sniff_content_type, sniff_dbf
    from open_semantic_etl_spark.sources.explode import build_dbf

    dbf = build_dbf([["a", "1"]], [("name", "C", 10), ("value", "C", 5)])
    assert sniff_dbf(dbf)
    assert sniff_content_type(dbf) == "application/x-dbf"
    # ETX-prefixed prose must not sniff (version bytes occur anywhere)
    assert not sniff_dbf(b"\x03" + b"plain text long enough to check " * 4)
    # lying record width yields zero children, not mis-sliced rows
    from open_semantic_etl_spark.sources.explode import _dbf_rows

    lying = bytearray(dbf)
    lying[10:12] = (int.from_bytes(dbf[10:12], "little") + 1).to_bytes(2, "little")
    assert _dbf_rows(bytes(lying), "x") == []


def test_dbf_explode_stage(spark):
    from open_semantic_etl_spark.sources.explode import build_dbf, explode_dbf

    rows = [("file:///a.dbf", build_dbf([["n1", "1.5"]], [("name", "C", 8), ("value", "C", 6)]))]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = explode_dbf(df).collect()
    assert len(got) == 1 and got[0]["url"] == "file:///a.dbf#dbf#1"
    assert got[0]["numbers"]["value_f"] == 1.5


def test_warc_conversion_and_resource_records():
    """WET (`conversion`) and `resource` records carry their payload
    without an HTTP envelope — Common Crawl's extracted-text layout;
    request/metadata records still skip (warcio content_stream parity)."""
    from open_semantic_etl_spark.sources.explode import parse_warc

    def rec(wtype: str, rid: str, payload: bytes, extra: str = "") -> bytes:
        return (
            "WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            "WARC-Target-URI: http://w.example.com/\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            "WARC-Date: 2024-03-01T00:00:00Z\r\n"
            f"{extra}"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload + b"\r\n\r\n"

    wet_text = b"Extracted text.\nSecond line."
    http = b"HTTP/1.1 200 OK\r\n\r\n<html>x</html>"
    blob = (
        rec("response", "r1", http)
        + rec("conversion", "w1", wet_text, "Content-Type: text/plain\r\n")
        + rec("resource", "s1", b"raw resource bytes")
        + rec("metadata", "m1", b"{}")
        + rec("request", "q1", b"GET /")
    )
    got = {r["child_id"]: r["bytes"] for r in parse_warc(blob)}
    assert set(got) == {
        "http://w.example.com//urn:uuid:r1",
        "http://w.example.com//urn:uuid:w1",
        "http://w.example.com//urn:uuid:s1",
    }
    assert got["http://w.example.com//urn:uuid:w1"] == wet_text
    assert got["http://w.example.com//urn:uuid:s1"] == b"raw resource bytes"
    assert got["http://w.example.com//urn:uuid:r1"] == b"<html>x</html>"


# --- one container walk: the same degrade rule and walkers at every depth --


def test_corrupt_nested_zip_keeps_its_siblings(spark):
    """a corrupt nested zip is one opaque member row, like a corrupt
    nested 7z or tar; its siblings are not lost"""
    broken = b"PK\x03\x04" + b"not a zip at all" * 8
    outer = _zip_bytes({"a.html": b"<p>a</p>", "inner.zip": broken, "b.html": b"<p>b</p>"})
    df = spark.createDataFrame([("http://x/o.zip", outer)], "url string, html binary")
    rows = {r["url"]: bytes(r["html"]) for r in E.explode_zip(df).collect()}
    assert rows == {
        "http://x/o.zip/a.html": b"<p>a</p>",
        "http://x/o.zip/inner.zip": broken,
        "http://x/o.zip/b.html": b"<p>b</p>",
    }


def test_broken_sfx_yields_no_child(spark):
    """an EXE stub followed by a RAR signature and garbage is not an
    archive: the top-level row has no children, and above all none
    whose url is the row's own"""
    blob = b"MZ" + b"\x90" * 100 + b"Rar!\x1a\x07\x01\x00" + b"garbage" * 20
    df = spark.createDataFrame([("http://x/setup.exe", blob)], "url string, html binary")
    rows = E.explode_zip(df).collect()
    assert [r for r in rows if r["url"] == r["parent_id"]] == []
    assert rows == []


def _members(data: bytes, base: str, prefix: str) -> list[tuple[str, str, bytes]]:
    """top-level walk of row ``base`` → (id after ``prefix``, container, bytes)"""
    return sorted(
        (r["child_id"][len(prefix):], r["container_s"], bytes(r["bytes"]))
        for r in E._archive_rows(data, base)
    )


def test_tgz_oracle_container_ignores_the_clock(monkeypatch):
    """the .tgz oracle container is the same bytes whenever it is built:
    nothing in its gzip header follows the wall clock"""
    import time

    from open_semantic_etl_spark.plans.queries_ext import _build_tgz

    built = []
    for clock in (1_000_000_000.0, 1_700_000_000.0):
        monkeypatch.setattr(time, "time", lambda clock=clock: clock)
        built.append(_build_tgz(2))
    assert built[0] == built[1]


@pytest.mark.parametrize("kind", range(12))
def test_both_depths_walk_the_same(kind):
    """each oracle container kind walks the same at the top level and
    nested as ``x.<ext>`` inside a zip (same members, outermost
    container id); truncated copies never raise out of the walk and
    never yield a child carrying its parent's url"""
    from open_semantic_etl_spark.plans.queries_ext import _ARCHIVE_BUILD, _ARCHIVE_EXT

    data = _ARCHIVE_BUILD[kind](kind)
    ext = _ARCHIVE_EXT[kind]
    top = _members(data, "http://a/t", "http://a/t")
    assert len(top) == 2 and {c for _, c, _ in top} == {"http://a/t"}
    nested = _members(_zip_bytes({f"x.{ext}": data}), "http://a/o.zip", f"http://a/o.zip/x.{ext}")
    assert [(i, b) for i, _, b in nested] == [(i, b) for i, _, b in top]
    assert {c for _, c, _ in nested} == {"http://a/o.zip"}
    for cut in (1, 8, 64, len(data) // 2, len(data) - 1):
        part = data[:cut]
        for row in (part, _zip_bytes({f"x.{ext}": part, "y.txt": b"y"})):
            got = E._archive_rows(row, "http://a/cut")
            assert all(r["child_id"] != "http://a/cut" for r in got)
