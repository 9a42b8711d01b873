"""Legacy OLE tier: CFB container + .doc/.xls/.ppt/.msg extraction.

Reference parity target: the Tika server tier
(reference enhance_extract_text_tika_server.py:33-262) extracts
content/title/author from the legacy Office family; these tests pin
the engine-native equivalents (operators/cfb.py) — round-trips through
the fixture builders, hand-crafted spec edge cases (piece tables,
SST CONTINUE splits, field codes), and the total-function contract.
"""

from __future__ import annotations

import struct

import pytest

from open_semantic_etl_spark.operators.cfb import (
    CFB_MAGIC,
    _Chunks,
    build_cfb,
    build_doc,
    build_msg,
    build_ppt,
    build_summary_info,
    build_xls,
    extract_cfb,
    parse_cfb,
)


# ---------------------------------------------------------------------------
# container round-trips
# ---------------------------------------------------------------------------


def test_cfb_small_streams_ride_ministream():
    data = build_cfb({"A": b"alpha", "BB": b"beta" * 10})
    streams = parse_cfb(data)
    assert streams[("A",)] == b"alpha"
    assert streams[("BB",)] == b"beta" * 10


def test_cfb_large_stream_uses_fat_chain():
    big = bytes(range(256)) * 64  # 16 KiB > 4096 mini cutoff
    data = build_cfb({"BIG": big, "small": b"s"})
    streams = parse_cfb(data)
    assert streams[("BIG",)] == big
    assert streams[("small",)] == b"s"


def test_cfb_nested_storage_paths():
    data = build_cfb({("outer", "inner", "leaf"): b"x", "top": b"y"})
    streams = parse_cfb(data)
    assert streams[("outer", "inner", "leaf")] == b"x"
    assert streams[("top",)] == b"y"


def test_cfb_empty_stream():
    streams = parse_cfb(build_cfb({"empty": b"", "full": b"z"}))
    assert streams[("empty",)] == b""
    assert streams[("full",)] == b"z"


def test_cfb_4096_boundary_stream_is_regular():
    blob = b"q" * 4096  # exactly the cutoff: NOT a mini stream
    streams = parse_cfb(build_cfb({"S": blob}))
    assert streams[("S",)] == blob


# ---------------------------------------------------------------------------
# .doc
# ---------------------------------------------------------------------------


def test_doc_roundtrip_two_pieces():
    doc = build_doc(
        ["Erster Absatz mit Grüßen.", "Second paragraph → unicode."],
        title="T doc", author="A doc",
    )
    res = extract_cfb(doc)
    assert res["ok"], res["err"]
    assert res["content_type"] == "application/msword"
    assert res["content"] == "Erster Absatz mit Grüßen.\nSecond paragraph → unicode."
    assert res["title"] == "T doc"
    assert res["author"] == "A doc"
    assert res["n_blocks"] == 2


def test_doc_all_ascii_uses_compressed_piece():
    doc = build_doc(["plain ascii one.", "plain ascii two."])
    res = extract_cfb(doc)
    assert res["ok"]
    assert res["content"] == "plain ascii one.\nplain ascii two."


def test_doc_0table_variant():
    """fWhichTblStm=0 routes the CLX lookup to the 0Table stream."""
    doc = build_doc(["zero table paragraph."], title="t0", author="a0")
    streams = parse_cfb(doc)
    word = bytearray(streams[("WordDocument",)])
    struct.pack_into("<H", word, 10, 0x0000)  # clear fWhichTblStm
    rebuilt = build_cfb(
        {
            "WordDocument": bytes(word),
            "0Table": streams[("1Table",)],
            "\x05SummaryInformation": streams[("\x05SummaryInformation",)],
        }
    )
    res = extract_cfb(rebuilt)
    assert res["ok"], res["err"]
    assert res["content"] == "zero table paragraph."


def test_doc_field_code_suppressed_result_kept():
    """0x13 code 0x14 result 0x15: Word shows only the result."""
    raw = "before \x13 HYPERLINK http://x \x14linktext\x15 after."
    doc = build_doc([raw])
    res = extract_cfb(doc)
    assert res["ok"]
    assert res["content"] == "before linktext after."


def test_doc_table_cell_marks_become_tabs():
    doc = build_doc(["cell1\x07cell2\x07"])
    res = extract_cfb(doc)
    assert "cell1\tcell2" in res["content"]


def test_doc_encrypted_flag_fails_safe():
    doc = build_doc(["secret"])
    streams = parse_cfb(doc)
    word = bytearray(streams[("WordDocument",)])
    struct.pack_into("<H", word, 10, 0x0200 | 0x0100)  # fEncrypted
    rebuilt = build_cfb(
        {"WordDocument": bytes(word), "1Table": streams[("1Table",)]}
    )
    res = extract_cfb(rebuilt)
    assert res["ok"] is False
    assert "encrypted" in res["err"]
    assert res["content"] == ""


# ---------------------------------------------------------------------------
# .xls
# ---------------------------------------------------------------------------


def test_xls_roundtrip_strings_and_numbers():
    xls = build_xls(
        [["name", "value"], ["äöü", 42.5], ["n", 7]],
        title="T xls", author="A xls",
    )
    res = extract_cfb(xls)
    assert res["ok"], res["err"]
    assert res["content_type"] == "application/vnd.ms-excel"
    assert res["content"] == "name\tvalue\näöü\t42.5\nn\t7"
    assert res["title"] == "T xls"
    assert res["author"] == "A xls"


def test_xls_sst_continue_split_restates_grbit():
    """An SST string split across a CONTINUE record restates its grbit;
    the continuation may even switch compressed → utf-16 (MS-XLS
    2.5.293). Hand-crafted records, not the builder."""
    # string "abcdefgh": 4 chars in SST (compressed), 4 in CONTINUE (utf-16)
    sst_body = (
        struct.pack("<II", 1, 1)
        + struct.pack("<HB", 8, 0x00)  # cch=8, compressed
        + b"abcd"
    )
    cont_body = b"\x01" + "efgh".encode("utf-16-le")  # fresh grbit: utf-16
    wb = (
        struct.pack("<HH", 0x0809, 16) + struct.pack("<HHHHII", 0x600, 5, 0, 0, 0, 0)
        + struct.pack("<HH", 0x00FC, len(sst_body)) + sst_body
        + struct.pack("<HH", 0x003C, len(cont_body)) + cont_body
        + struct.pack("<HH", 0x0809, 16) + struct.pack("<HHHHII", 0x600, 0x10, 0, 0, 0, 0)
        + struct.pack("<HH", 0x00FD, 10) + struct.pack("<HHH", 0, 0, 0) + struct.pack("<I", 0)
        + struct.pack("<HH", 0x000A, 0)
    )
    res = extract_cfb(build_cfb({"Workbook": wb}))
    assert res["ok"], res["err"]
    assert res["content"] == "abcdefgh"


def test_xls_rk_values():
    """RK cells: both integer and x100 encodings."""
    def rk_cell(rw, col, rk):
        return struct.pack("<HH", 0x027E, 10) + struct.pack("<HHH", rw, col, 0) + struct.pack("<I", rk)

    wb = (
        struct.pack("<HH", 0x0809, 16) + struct.pack("<HHHHII", 0x600, 0x10, 0, 0, 0, 0)
        + rk_cell(0, 0, (300 << 2) | 0x02)            # int 300
        + rk_cell(0, 1, (12345 << 2) | 0x02 | 0x01)   # 12345/100 = 123.45
        + struct.pack("<HH", 0x000A, 0)
    )
    res = extract_cfb(build_cfb({"Workbook": wb}))
    assert res["ok"]
    assert res["content"] == "300\t123.45"


def test_chunks_reader_skip_spans_chunks():
    rd = _Chunks([b"\x02\x00", b"\x00ab"])  # cch=2 split before grbit
    assert rd.read_xl_string() == "ab"


# ---------------------------------------------------------------------------
# .ppt
# ---------------------------------------------------------------------------


def test_ppt_roundtrip():
    ppt = build_ppt(["Slide one title", "Bullet → two"], title="T ppt", author="A ppt")
    res = extract_cfb(ppt)
    assert res["ok"], res["err"]
    assert res["content_type"] == "application/vnd.ms-powerpoint"
    assert res["content"] == "Slide one title\nBullet → two"
    assert res["title"] == "T ppt"
    assert res["author"] == "A ppt"


def test_ppt_textbytesatom_and_cr_linebreaks():
    atom = struct.pack("<HHI", 0, 0x0FA8, 9) + b"line1\rtwo"
    doc = struct.pack("<HHI", 0x000F, 0x03E8, len(atom)) + atom
    res = extract_cfb(build_cfb({"PowerPoint Document": doc}))
    assert res["content"] == "line1\ntwo"


# ---------------------------------------------------------------------------
# .msg
# ---------------------------------------------------------------------------


def test_msg_roundtrip():
    msg = build_msg(
        "Betreff Ümlaut", "sender@example.org", "Zeile eins.\r\nZeile zwei.",
        recipients=("dest@example.org",),
    )
    res = extract_cfb(msg)
    assert res["ok"], res["err"]
    assert res["content_type"] == "application/vnd.ms-outlook"
    assert res["title"] == "Betreff Ümlaut"
    assert res["author"] == "sender@example.org"
    assert res["content"] == "Zeile eins.\nZeile zwei."


def test_msg_8bit_property_variant():
    data = build_cfb(
        {
            "__substg1.0_0037001E": "subj cp1252 ü".encode("cp1252"),
            "__substg1.0_1000001E": b"body bytes",
            "__properties_version1.0": b"\x00" * 32,
        }
    )
    res = extract_cfb(data)
    assert res["title"] == "subj cp1252 ü"
    assert res["content"] == "body bytes"


# ---------------------------------------------------------------------------
# routing + totality
# ---------------------------------------------------------------------------


def test_extract_cfb_none_for_non_ole():
    assert extract_cfb(b"PK\x03\x04not ole") is None
    assert extract_cfb(b"") is None


def test_unknown_ole_container_is_labeled_not_extracted():
    res = extract_cfb(build_cfb({"SomeCustomStream": b"\x01\x02"}))
    assert res["ok"]
    assert res["content_type"] == "application/x-ole-storage"
    assert res["content"] == ""


def test_extract_html_routes_ole(tmp_path):
    from open_semantic_etl_spark.operators.htmlx import extract_html

    doc = build_doc(["routed through extract_html."], title="R", author="A")
    res = extract_html(doc)
    assert res["content_type"] == "application/msword"
    assert res["content"] == "routed through extract_html."
    assert res["title"] == "R"

    msg = build_msg("s", "f@x", "b")
    res2 = extract_html(msg)
    assert res2["content_type"] == "application/vnd.ms-outlook"


def test_office_expr_chain_handles_cfb():
    from open_semantic_etl_spark.operators.office import extract_office, extract_rtf

    doc = build_doc(["chain order check."])
    assert extract_office(doc) is None
    assert extract_rtf(doc) is None  # only the OLE label's extractor reads it


def test_truncations_never_raise():
    doc = build_doc(["truncation fuzz paragraph."], title="t", author="a")
    for cut in range(0, len(doc), 97):
        blob = doc[:cut]
        res = extract_cfb(blob)
        assert res is None or isinstance(res["content"], str)


def test_bitflips_never_raise():
    import random

    rng = random.Random(42)
    base = build_xls([["a", 1], ["b", 2.5]], title="t", author="a")
    for _ in range(60):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(8, len(b))] ^= 1 << rng.randrange(8)
        res = extract_cfb(bytes(b))
        assert res is None or isinstance(res["content"], str)


def test_random_tails_never_raise():
    import random

    rng = random.Random(7)
    for n in (0, 1, 63, 512, 600, 4096):
        blob = CFB_MAGIC + bytes(rng.randrange(256) for _ in range(n))
        res = extract_cfb(blob)
        assert res is not None
        assert isinstance(res["content"], str)


def test_fat_chain_loop_fails_safe():
    data = bytearray(build_cfb({"X": b"x" * 5000}))
    # point every FAT entry at sector 1 → loop; parser must not hang
    res = extract_cfb(bytes(data[:512] + data[512:1024].replace(
        b"\xfe\xff\xff\xff", b"\x01\x00\x00\x00") + data[1024:]))
    assert res is not None  # ok may be False; must terminate


def test_summary_info_lpwstr():
    from open_semantic_etl_spark.operators.cfb import _parse_summary_info

    si = bytearray(build_summary_info("ignored", "ignored"))
    # hand-build an LPWSTR title property set
    title = "wide → title"
    raw = title.encode("utf-16-le") + b"\x00\x00"
    val = struct.pack("<II", 31, len(title) + 1) + raw
    section = (
        struct.pack("<II", 8 + 8 + len(val), 1)
        + struct.pack("<II", 2, 16)
        + val
    )
    blob = (
        struct.pack("<HHI16sI", 0xFFFE, 0, 0x00020005, b"\x00" * 16, 1)
        + bytes.fromhex("e0859ff2f94f6810ab9108002b27b3d9")
        + struct.pack("<I", 48)
        + section
    )
    t, a = _parse_summary_info(blob)
    assert t == "wide → title"
    assert a is None


# ---------------------------------------------------------------------------
# [MS-OXRTFCP] compressed RTF bodies + HTML-body fallback
# ---------------------------------------------------------------------------

from open_semantic_etl_spark.operators.cfb import (  # noqa: E402
    _LZFU_DICT,
    _lzfu_compress,
    _lzfu_decompress,
    build_msg,
)


def test_lzfu_dictionary_is_spec_sized():
    assert len(_LZFU_DICT) == 207


def test_lzfu_roundtrip():
    raw = b"{\\rtf1\\ansi Hello compressed world.\\par Zeile zwei.\\par}"
    assert _lzfu_decompress(_lzfu_compress(raw)) == raw


def test_lzfu_dictionary_reference_stream():
    """hand-built stream whose first item REFERENCES the preloaded
    dictionary (offset 0, len 11 = '{\\rtf1\\ansi') — a path the
    all-literal fixture encoder never exercises, so a round-trip test
    alone could not catch a preload/offset bug (the LZW EarlyChange
    lesson from ADVICE r3)."""
    body = bytearray()
    body.append(0b00000001)           # item0 = reference, rest literals
    body.extend(bytes([0x00, 0x09]))  # offset 0, length 9+2=11
    body.extend(b" Hi}")
    wpos = (207 + 11 + 4) % 4096
    body.append(0b00000001)           # terminator reference
    body.extend(bytes([(wpos >> 4) & 0xFF, (wpos & 0xF) << 4]))
    blob = struct.pack("<II4sI", len(body) + 12, 15, b"LZFu", 0) + bytes(body)
    assert _lzfu_decompress(blob) == b"{\\rtf1\\ansi Hi}"


def test_lzfu_mela_stored_and_garbage():
    raw = b"{\\rtf1 x}"
    blob = struct.pack("<II4sI", len(raw) + 12, len(raw), b"MELA", 0) + raw
    assert _lzfu_decompress(blob) == raw
    assert _lzfu_decompress(b"short") is None
    assert _lzfu_decompress(struct.pack("<II4sI", 12, 4, b"XXXX", 0)) is None
    # truncated LZFu yields a prefix, never raises
    raw = b"{\\rtf1\\ansi some body text}"
    comp = _lzfu_compress(raw)
    for cut in (16, 20, len(comp) - 3):
        out = _lzfu_decompress(comp[:cut])
        assert out is not None and raw.startswith(out)


def test_msg_compressed_rtf_body():
    """real-world .msg shape: no plain 0x1000 body, LZFu 0x1009 only —
    body resolves through decompress + the RTF scanner."""
    m = build_msg(
        "Bericht", "chef@example.org", "Erste Zeile.\nZweite Zeile.",
        body_format="rtf",
    )
    r = extract_cfb(m)
    assert r["ok"] and r["content_type"] == "application/vnd.ms-outlook"
    assert r["title"] == "Bericht"
    assert r["content"] == "Erste Zeile.\nZweite Zeile."


def test_msg_html_body_fallback():
    m = build_msg("H", "a@example.org", "Body aus HTML hier.", body_format="html")
    r = extract_cfb(m)
    assert r["content"] == "Body aus HTML hier."
    assert r["ok"]


# ---------------------------------------------------------------------------
# [MS-OXTNEF] winmail.dat
# ---------------------------------------------------------------------------

from open_semantic_etl_spark.operators.cfb import (  # noqa: E402
    TNEF_MAGIC,
    build_tnef,
    extract_tnef,
)


def test_tnef_text_body_subject_sender():
    t = build_tnef("Betreff", "chef@example.org", "Zeile eins.\nZeile zwei.")
    r = extract_tnef(t)
    assert r["ok"] and r["content_type"] == "application/vnd.ms-tnef"
    assert r["title"] == "Betreff" and r["author"] == "chef@example.org"
    assert r["content"] == "Zeile eins.\nZeile zwei."
    assert r["n_blocks"] == 2


def test_tnef_mapi_compressed_rtf_body():
    """body only in attMsgProps PR_RTF_COMPRESSED — the MAPI property
    walk + LZFu + RTF scanner chain."""
    t = build_tnef("S", "a@example.org", "RTF A.\nRTF B.", body_format="rtf")
    r = extract_tnef(t)
    assert r["content"] == "RTF A.\nRTF B." and r["ok"]


def test_tnef_routed_from_extract_html_and_eml_attachment():
    from open_semantic_etl_spark.operators.eml import parse_eml
    from open_semantic_etl_spark.operators.htmlx import extract_html

    t = build_tnef("Via HTML", "s@example.org", "Body over TNEF.")
    h = extract_html(t)
    assert h["content_type"] == "application/vnd.ms-tnef"
    assert h["content"] == "Body over TNEF." and h["title"] == "Via HTML"

    # Outlook rich mail: no text part, winmail.dat attachment carries it
    import base64

    raw = (
        "From: s@example.org\r\nTo: d@example.org\r\nSubject: rich\r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/mixed; boundary="B"\r\n\r\n'
        "--B\r\n"
        "Content-Type: application/ms-tnef; name=winmail.dat\r\n"
        "Content-Disposition: attachment; filename=winmail.dat\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        + base64.encodebytes(t).decode() +
        "\r\n--B--\r\n"
    ).encode()
    m = parse_eml(raw)
    assert m["ok"] and m["content_txt"] == "Body over TNEF."


def test_tnef_total_on_garbage_and_truncation():
    assert extract_tnef(b"not tnef") is None
    t = build_tnef("S", "a@example.org", "Some body here.")
    for cut in (4, 6, 9, 20, len(t) - 1):
        r = extract_tnef(t[:cut])
        if r is not None:
            assert isinstance(r["content"], str) and isinstance(r["ok"], bool)


# ---------------------------------------------------------------------------
# independent crypto oracle: pdfio's from-scratch AES/RC4 vs the
# `cryptography` package (OpenSSL-backed). The AES tables are derived
# algebraically in pdfio, so a systematic derivation error would pass
# every self-round-trip test — only an external implementation pins it.
# ---------------------------------------------------------------------------


def test_pdfio_aes_rc4_match_openssl():
    pytest = __import__("pytest")
    try:
        from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
    except ImportError:
        pytest.skip("cryptography not available")
    import random

    from open_semantic_etl_spark.operators.pdfio import (
        _aes_cbc_decrypt,
        _aes_cbc_encrypt,
        _rc4,
    )

    rng = random.Random(0xC0FFEE)
    for klen in (16, 24, 32):
        for _ in range(8):
            key = bytes(rng.randrange(256) for _ in range(klen))
            iv = bytes(rng.randrange(256) for _ in range(16))
            pt = bytes(rng.randrange(256) for _ in range(rng.choice((16, 48, 160))))
            enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
            want = enc.update(pt) + enc.finalize()
            got = _aes_cbc_encrypt(key, iv, pt, pad=False)
            assert got == want, f"AES-{klen * 8} CBC encrypt diverges"
            assert _aes_cbc_decrypt(key, iv, want, pad=False) == pt
    for klen in (5, 16, 32):
        for _ in range(8):
            key = bytes(rng.randrange(256) for _ in range(klen))
            pt = bytes(rng.randrange(256) for _ in range(100))
            enc = Cipher(ARC4(key), mode=None).encryptor()
            assert _rc4(key, pt) == enc.update(pt), "RC4 diverges"


def test_xls_boolerr_cells():
    """BOOLERR records (0x0205) render the way Excel displays them:
    TRUE/FALSE for booleans, the #-error string for errors."""
    import struct as _s

    from open_semantic_etl_spark.operators.cfb import (
        _xls_lines,
        build_xls,
        extract_cfb,
        parse_cfb,
    )

    base = build_xls([["label", 7]])
    streams = parse_cfb(base)
    wb = bytearray(streams[("Workbook",)])

    def boolerr(rw, col, v, is_err):
        body = _s.pack("<HHHBB", rw, col, 0, v, is_err)
        return _s.pack("<HH", 0x0205, len(body)) + body

    # splice extra records just before the stream end
    extra = boolerr(1, 0, 1, 0) + boolerr(1, 1, 0, 0) + boolerr(2, 0, 0x07, 1)
    lines = _xls_lines(bytes(wb) + extra)
    assert lines == ["label\t7", "TRUE\tFALSE", "#DIV/0!"]


def test_xls_mulrk_label_formula_cells():
    """real-writer records: MULRK (run of consecutive RK cells), LABEL
    (inline string), FORMULA cached results (numeric, bool, error) and
    a string result in the following STRING record — each used to be
    silently dropped."""
    def bof(dt):
        return struct.pack("<HH", 0x0809, 16) + struct.pack(
            "<HHHHII", 0x600, dt, 0, 0, 0, 0
        )

    mulrk = (
        struct.pack("<HH", 0x00BD, 4 + 6 * 3 + 2)
        + struct.pack("<HH", 0, 0)                       # row 0, colFirst 0
        + b"".join(
            struct.pack("<HI", 0, (v << 2) | 0x02) for v in (1, 2, 3)
        )
        + struct.pack("<H", 2)                           # colLast
    )
    label_s = b"hi"
    label = (
        struct.pack("<HH", 0x0204, 6 + 3 + len(label_s))
        + struct.pack("<HHH", 1, 0, 0)
        + struct.pack("<HB", len(label_s), 0x00) + label_s
    )
    f_num = (
        struct.pack("<HH", 0x0006, 22)
        + struct.pack("<HHH", 2, 0, 0) + struct.pack("<d", 6.5)
        + struct.pack("<HIH", 0, 0, 0)
    )
    f_bool = (
        struct.pack("<HH", 0x0006, 22)
        + struct.pack("<HHH", 2, 1, 0)
        + bytes([1, 0, 1, 0, 0, 0]) + b"\xff\xff"        # bool TRUE
        + struct.pack("<HIH", 0, 0, 0)
    )
    f_err = (
        struct.pack("<HH", 0x0006, 22)
        + struct.pack("<HHH", 2, 2, 0)
        + bytes([2, 0, 0x07, 0, 0, 0]) + b"\xff\xff"     # #DIV/0!
        + struct.pack("<HIH", 0, 0, 0)
    )
    f_str = (
        struct.pack("<HH", 0x0006, 22)
        + struct.pack("<HHH", 2, 3, 0)
        + bytes([0, 0, 0, 0, 0, 0]) + b"\xff\xff"        # string result
        + struct.pack("<HIH", 0, 0, 0)
    )
    s = "=sum"
    string_rec = (
        struct.pack("<HH", 0x0207, 3 + len(s))
        + struct.pack("<HB", len(s), 0x00) + s.encode()
    )
    wb = (
        bof(0x10) + mulrk + label + f_num + f_bool + f_err + f_str
        + string_rec + struct.pack("<HH", 0x000A, 0)
    )
    res = extract_cfb(build_cfb({"Workbook": wb}))
    assert res["ok"], res["err"]
    assert res["content"] == "1\t2\t3\nhi\n6.5\tTRUE\t#DIV/0!\t=sum"


def test_xls_biff5_label_cells():
    """Excel 5/95 (BIFF5 'Book' stream): text lives in inline LABEL
    byte strings (no SST) — used to extract numbers only."""
    label_s = b"alt text"
    wb = (
        struct.pack("<HH", 0x0809, 8) + struct.pack("<HHHH", 0x500, 0x10, 0, 0)
        + struct.pack("<HH", 0x0204, 6 + 2 + len(label_s))
        + struct.pack("<HHH", 0, 0, 0)
        + struct.pack("<H", len(label_s)) + label_s
        + struct.pack("<HH", 0x0203, 14)
        + struct.pack("<HHH", 0, 1, 0) + struct.pack("<d", 9.0)
        + struct.pack("<HH", 0x000A, 0)
    )
    res = extract_cfb(build_cfb({"Book": wb}))
    assert res["ok"], res["err"]
    assert res["content"] == "alt text\t9"
