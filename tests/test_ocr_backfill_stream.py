"""OCR two-phase memoization, backfill job, blacklist filter,
multimodal plumbing, and streaming ingestion tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_semantic_etl_spark.functions.filters import blacklist_predicate, gated, stage_gate
from open_semantic_etl_spark.operators import multimodal as MM
from open_semantic_etl_spark.operators.ocr import fake_ocr, run_ocr_phase
from open_semantic_etl_spark.plans.backfill import run_backfill
from open_semantic_etl_spark.plans.checkpoint import Tables, read_table, run_incremental
from open_semantic_etl_spark.sources.pages import pages_df


# --- OCR -------------------------------------------------------------------


def _ocr_corpus(spark):
    rows = [
        ("u1", b"<html><body><p>x</p><img src='FAKEIMG:OCRTextOne'><img src='FAKEIMG:OCRTextTwo'></body></html>", True),
        ("u2", b"<html><body><p>y</p><img src='FAKEIMG:OCRTextOne'></body></html>", True),  # shared image -> memo hit
        ("u3", b"<html><body><p>z</p></body></html>", False),
    ]
    return spark.createDataFrame(rows, "url string, html binary, needs_ocr boolean")


def test_ocr_phase_with_memo(spark, tmp_path):
    memo = str(tmp_path / "ocr_memo")
    df = _ocr_corpus(spark)

    out = {r["url"]: r["ocr_t"] for r in run_ocr_phase(spark, df, memo).collect()}
    assert out == {"u1": "OCRTextOne\nOCRTextTwo", "u2": "OCRTextOne"}

    # memo has one row per distinct image
    memo_df = spark.read.parquet(memo)
    assert memo_df.count() == 2

    # second run: all hits come from the memo, engine sees nothing new
    def exploding(b):  # noqa: ANN001
        raise AssertionError("engine called on memoized image")

    from open_semantic_etl_spark.operators import ocr as ocr_mod

    ocr_mod.ENGINES["explode"] = exploding
    try:
        out2 = {r["url"]: r["ocr_t"] for r in run_ocr_phase(spark, df, memo, engine="explode").collect()}
    finally:
        del ocr_mod.ENGINES["explode"]
    assert out2 == out
    assert spark.read.parquet(memo).count() == 2  # no growth


def test_deferred_ocr_query_reuses_its_process_memo(spark, tmp_path):
    """the deferred_ocr driver query keeps its OCR memo in one reaped
    per-process dir: a second call makes no new memo dir and returns
    the same rows, each flagged page's text once."""
    import glob
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_semantic_etl_spark.plans.queries_ext import q_deferred_ocr

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(range(30), pa.int64())}),
                   str(sf / "documents.parquet"))

    def memo_dirs() -> tuple[set[str], set[str]]:
        """(mkdtemp-style dirs, per-process sidecar memo dirs)"""
        return (set(glob.glob(os.path.join(tempfile.gettempdir(), "ocr_memo_*"))),
                set(glob.glob("/tmp/spark_graft_ocr_memo_*")))

    def rows() -> list:
        return sorted(tuple(r) for r in q_deferred_ocr(spark, str(sf)).collect())

    fresh, sidecars = memo_dirs()
    first = rows()
    after_first = memo_dirs()
    assert after_first[0] == fresh and len(after_first[1] - sidecars) == 1
    assert rows() == first
    assert memo_dirs() == after_first
    assert [r for r in first if r[1]] == [(d, True, f"OcrText{d}") for d in range(0, 30, 6)]


def test_fake_ocr():
    assert fake_ocr(b"FAKEIMG:hello") == "hello"
    assert fake_ocr(b"\x89PNG....") == ""


# --- backfill (etl_enrich semantics) ---------------------------------------


def _add_shout(_spark, pruned):  # upper-cases titles as the "new stage"
    return pruned.select("url", F.upper(F.col("title_txt")).alias("title_shout"))


def _rows(spark, path):
    """url -> every column of the url's row, partition column included."""
    return {r["url"]: r.asDict(recursive=True) for r in read_table(spark, path).collect()}


def test_backfill_runs_only_missing(spark, tmp_path):
    root = str(tmp_path / "ds")
    run_incremental(spark, pages_df(spark, 60, partitions=2), root)
    t = Tables(root)

    n = run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",))
    assert n == 60
    enriched = read_table(spark, t.enriched)
    assert "title_shout" in enriched.columns
    shout, title = F.col("title_shout"), F.col("title_txt")
    assert enriched.filter(~shout.eqNullSafe(F.upper(title))).count() == 0
    assert enriched.filter(shout.isNotNull()).count() == 60
    assert enriched.filter(title.isNotNull()).count() == 60

    # second call: stage recorded in checkpoint → nothing to do
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 0


def test_backfill_keeps_every_other_column(spark, tmp_path):
    """Solr 'set': a backfill fills its new column and leaves every
    pre-existing column of every row as it was (a whole-row merge of
    the stage output used to NULL all of them but url)."""
    root = str(tmp_path / "ds")
    run_incremental(spark, pages_df(spark, 60, partitions=2), root)
    t = Tables(root)
    before = _rows(spark, t.enriched)

    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 60
    after = _rows(spark, t.enriched)
    assert after.keys() == before.keys()
    for url, row in after.items():
        assert row.pop("title_shout") == before[url]["title_txt"].upper()
        assert row == before[url], url


def test_backfill_on_root_without_checkpoint(spark, tmp_path, monkeypatch):
    """a first run that crashed before its log entry leaves no table at
    all (its enriched MERGE and checkpoint MERGE are one commit): the
    backfill raises and writes nothing, and after the rerun it keeps
    every column and marks every url on top of the run's stages."""
    from test_pipeline_resume import crash_at

    from open_semantic_etl_spark.plans.checkpoint import snapshot
    from open_semantic_etl_spark.plans.pipeline import STAGES

    root = str(tmp_path / "out")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        crash_at(m, "_create_entry")
        run_incremental(spark, pages_df(spark, 20, partitions=2), root)
    assert snapshot(root).tables == {}
    with pytest.raises(FileNotFoundError, match="checkpoint"):
        run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",))
    assert snapshot(root).version == 0

    assert run_incremental(spark, pages_df(spark, 20, partitions=2), root)["processed"] == 20
    t = Tables(root)
    before = _rows(spark, t.enriched)
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 20
    after = _rows(spark, t.enriched)
    for url, row in after.items():
        assert row.pop("title_shout") == before[url]["title_txt"].upper()
        assert row == before[url], url
    ckpt = _rows(spark, t.checkpoint)
    assert ckpt.keys() == before.keys()
    for url, r in ckpt.items():
        assert r["stages_done"] == [*STAGES, "shout"]
        assert r["content_hash"] == before[url]["content_hash"]
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 0


def test_backfill_converges_after_checkpoint_crash(spark, tmp_path, monkeypatch):
    """a run that crashed before its commit left its 5 new urls in
    neither table: the backfill marks the 20 committed urls and then
    has nothing to do, the rerun processes the 5, and the next
    backfill marks just those."""
    from test_pipeline_resume import crash_at

    root = str(tmp_path / "ds")
    run_incremental(spark, pages_df(spark, 20, partitions=2), root)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        crash_at(m, "_create_entry")
        run_incremental(spark, pages_df(spark, 25, partitions=2), root)
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 20
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 0
    assert run_incremental(spark, pages_df(spark, 25, partitions=2), root)["processed"] == 5
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 5
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 0


def test_backfill_crash_between_commits_replays(spark, tmp_path, monkeypatch):
    """a backfill's 'set' and its stage mark are one commit: a crash
    after its files land and before its log entry leaves the enriched
    rows as they were and the stage unmarked, the rerun applies it, and
    the call after that is a no-op."""
    from test_pipeline_resume import crash_at

    root = str(tmp_path / "ds")
    run_incremental(spark, pages_df(spark, 30, partitions=2), root)
    t = Tables(root)
    before = _rows(spark, t.enriched)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        crash_at(m, "_create_entry")
        run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",))
    assert _rows(spark, t.enriched) == before

    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 30
    after = _rows(spark, t.enriched)
    assert all(r["title_shout"] == r["title_txt"].upper() for r in after.values())
    assert run_backfill(spark, root, "shout", _add_shout, fields=("title_txt",)) == 0


# --- blacklist filter -------------------------------------------------------


def test_blacklist_predicate(spark):
    df = spark.createDataFrame(
        [("http://spam.example.com/a",), ("http://ok.example.com/b",),
         ("http://ok.example.com/keep.pdf",), ("http://spam.example.com/keep.pdf",)],
        "url string",
    )
    keep = blacklist_predicate(
        F.col("url"),
        blacklist={"prefix": ("http://spam.",)},
        whitelist={"suffix": (".pdf",)},
    )
    kept = {r["url"] for r in df.filter(keep).collect()}
    assert kept == {
        "http://ok.example.com/b",
        "http://ok.example.com/keep.pdf",
        "http://spam.example.com/keep.pdf",  # whitelist overrides
    }


def test_stage_gate(spark):
    df = spark.createDataFrame(
        [("application/pdf", "http://x/a.pdf"), ("text/html", "http://x/b.html")],
        "ct string, url string",
    )
    gate = stage_gate(F.col("ct"), F.col("url"), mimetype_prefixes=("application/pdf",))
    out = df.select("url", gated(gate, F.lit("ran")).alias("v")).collect()
    got = {r["url"]: r["v"] for r in out}
    assert got == {"http://x/a.pdf": "ran", "http://x/b.html": None}


# --- multimodal plumbing -----------------------------------------------------


def test_multimodal(spark):
    rows = [
        ("m1", b"FAKEIMG:8x6:" + bytes(range(48))),
        ("m2", b"\x89PNG real image bytes"),
        ("m3", None),
    ]
    df = spark.createDataFrame(rows, "id string, media binary")
    meta = {r["id"]: r["media_meta"] for r in MM.with_media_meta(df).collect()}
    assert meta["m1"]["ok"] and meta["m1"]["width"] == 8 and meta["m1"]["height"] == 6
    assert not meta["m2"]["ok"] and "codec" in meta["m2"]["err"]
    assert not meta["m3"]["ok"]

    feats = {r["id"]: r["features"] for r in MM.with_media_features(df).collect()}
    assert len(feats["m1"]) == 16 and abs(sum(x * x for x in feats["m1"]) - 1.0) < 1e-5
    assert feats["m2"] is None

    resized = MM.resize_stub(df.filter("id = 'm1'"), w=4, h=4).first()
    assert bytes(resized["media"]).startswith(b"FAKEIMG:4x4:")


# --- streaming ingestion -----------------------------------------------------


def test_stream_enrich(spark, tmp_path):
    """each micro-batch is one run_incremental under run id
    ``<query id>-<epoch>``: the epoch writes its metrics rows, a batch
    run over the streamed pages has nothing left to do, and a re-landed
    unchanged file rewrites no bucket and writes no metrics."""
    from test_pipeline_resume import _bucket_file_state

    from open_semantic_etl_spark.streaming.monitor import stream_enrich

    landing = str(tmp_path / "landing")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_df(spark, 40, partitions=2)
    pages.write.mode("overwrite").parquet(landing)
    t = Tables(out_root)

    def docs_per_run() -> dict[str, int]:
        per_run = read_table(spark, t.metrics).groupBy("run_id").agg(F.sum("docs").alias("docs"))
        return {r.run_id: r.docs for r in per_run.collect()}

    q = stream_enrich(spark, landing, out_root, ckpt, trigger_once=True)
    assert q.awaitTermination(120)
    enriched = read_table(spark, t.enriched)
    assert enriched.count() == 40
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0
    assert docs_per_run() == {f"{q.id}-0": 40}

    # the batch path sees every streamed page as done
    assert run_incremental(spark, pages, out_root)["processed"] == 0

    # restart with no new files → no duplicates (checkpointed source)
    q2 = stream_enrich(spark, landing, out_root, ckpt, trigger_once=True)
    assert q2.awaitTermination(120)
    assert read_table(spark, t.enriched).count() == 40

    # the same rows re-landed as a new file: epoch 1 skips every page
    before = _bucket_file_state(t.enriched)
    pages.write.mode("append").parquet(landing)
    q3 = stream_enrich(spark, landing, out_root, ckpt, trigger_once=True)
    assert q3.awaitTermination(120)
    assert q3.id == q.id
    assert [p["batchId"] for p in q3.recentProgress if p["numInputRows"]] == [1]
    assert _bucket_file_state(t.enriched) == before
    assert docs_per_run() == {f"{q.id}-0": 40}

    # a bucket count the tables do not record is refused before the query starts
    with pytest.raises(ValueError, match="records n_buckets=64"):
        stream_enrich(spark, landing, out_root, str(tmp_path / "ckpt2"), n_buckets=8)
    assert not os.path.exists(tmp_path / "ckpt2")


def test_stream_epoch_with_repeated_urls_commits_one_row_per_url(spark, tmp_path):
    """an epoch over two landing files of the same 40 pages writes one
    enriched row, one checkpoint row and one metrics doc per url."""
    from open_semantic_etl_spark.streaming.monitor import stream_enrich

    landing = str(tmp_path / "landing")
    out_root = str(tmp_path / "out")
    pages = pages_df(spark, 40, partitions=2)
    pages.write.mode("overwrite").parquet(landing)
    pages.write.mode("append").parquet(landing)
    q = stream_enrich(spark, landing, out_root, str(tmp_path / "ckpt"), trigger_once=True)
    assert q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [0]  # one epoch
    t = Tables(out_root)
    for path in (t.enriched, t.checkpoint):
        df = read_table(spark, path)
        assert df.count() == df.select("url").distinct().count() == 40, path
    assert read_table(spark, t.metrics).agg(F.sum("docs")).first()[0] == 40


def test_pdf_ocr_per_page(spark, tmp_path):
    """enhance_pdf_ocr semantics over REAL image XObjects: per-page ocr
    text, multi-image pages joined with newline, image-content memo."""
    from open_semantic_etl_spark.operators.ocr import run_pdf_ocr_phase
    from open_semantic_etl_spark.operators.pdfio import build_pdf, pdf_images

    pdf = build_pdf(
        ["Text page one", "Text page two"],
        images=[[b"FAKEIMG:alpha"], [b"FAKEIMG:b1", b"FAKEIMG:b2"]],
    )
    # the extraction is a real PDF parse, not a fixture scan
    assert pdf_images(pdf) == [
        {"page_i": 1, "image": b"FAKEIMG:alpha"},
        {"page_i": 2, "image": b"FAKEIMG:b1"},
        {"page_i": 2, "image": b"FAKEIMG:b2"},
    ]
    docs = spark.createDataFrame([("file:///s/1.pdf", pdf)], "url string, html binary")
    memo = str(tmp_path / "memo")
    out = {(r["url"], r["page_i"]): r["ocr_t"]
           for r in run_pdf_ocr_phase(spark, docs, memo).collect()}
    assert out == {
        ("file:///s/1.pdf", 1): "alpha",
        ("file:///s/1.pdf", 2): "b1\nb2",
    }
    # second run is all memo hits — same result, memo unchanged size
    n_memo = spark.read.parquet(memo).count()
    out2 = {(r["url"], r["page_i"]): r["ocr_t"]
            for r in run_pdf_ocr_phase(spark, docs, memo).collect()}
    assert out2 == out
    assert spark.read.parquet(memo).count() == n_memo


def test_multimodal_frames_and_audio(spark):
    """video frame-sampling explode + audio metadata over the
    deterministic codec formats; real containers degrade through the
    NotImplementedError seam (zero frames / err captured)."""
    import pytest

    from open_semantic_etl_spark.operators.multimodal import (
        decode_video_frames,
        sample_frames,
        with_audio_meta,
    )

    vid = b"FAKEVID:" + b"|".join(b"f%d" % i for i in range(5))
    df = spark.createDataFrame(
        [("v1", vid), ("v2", b"\x00\x00\x01\xbamp4ish")],
        "url string, media binary",
    )
    rows = sample_frames(df, every_k=2).collect()
    got = {(r["url"], r["frame_i"]): bytes(r["frame"]) for r in rows}
    assert got == {("v1", 0): b"f0", ("v1", 2): b"f2", ("v1", 4): b"f4"}
    with pytest.raises(NotImplementedError):
        decode_video_frames(b"not a fake container")

    aud = spark.createDataFrame(
        [("a1", b"FAKEAUD:8000:" + b"s" * 4000), ("a2", b"RIFFwav")],
        "url string, media binary",
    )
    metas = {r["url"]: r["audio_meta"] for r in with_audio_meta(aud).collect()}
    assert metas["a1"]["sample_rate"] == 8000
    assert metas["a1"]["n_samples"] == 4000
    assert metas["a1"]["duration_ms"] == 500
    assert metas["a1"]["ok"] is True
    assert metas["a2"]["ok"] is False and "torchaudio" in metas["a2"]["err"]


def test_tesseract_binding_shells_when_binary_present(tmp_path, monkeypatch):
    """the real-engine binding is wired: with a tesseract executable on
    PATH it shells out (stand-in script proves the subprocess contract:
    argv = <img> stdout -l <lang>, text on stdout); without one it
    raises the documented NotImplementedError."""
    import os
    import stat

    from open_semantic_etl_spark.operators.ocr import tesseract_ocr

    fake = tmp_path / "tesseract"
    fake.write_text(
        '#!/bin/sh\n'
        '[ "$2" = "stdout" ] || exit 2\n'
        '[ "$3" = "-l" ] || exit 2\n'
        'printf "OCR(%s):" "$4"\ncat "$1"\n'
    )
    fake.chmod(fake.stat().st_mode | stat.S_IEXEC)
    monkeypatch.setenv("PATH", f"{tmp_path}:{os.environ['PATH']}")
    assert tesseract_ocr(b"pixels", lang="deu") == "OCR(deu):pixels"

    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    import pytest

    with pytest.raises(NotImplementedError):
        tesseract_ocr(b"pixels")


def test_tesseract_failure_raises_engine_error(tmp_path, monkeypatch):
    """non-zero engine exit must surface as OcrEngineError (so the memo
    layer can skip it), never as empty text."""
    import os
    import stat

    import pytest

    from open_semantic_etl_spark.operators.ocr import OcrEngineError, tesseract_ocr

    fake = tmp_path / "tesseract"
    fake.write_text('#!/bin/sh\necho "no traineddata" >&2\nexit 1\n')
    fake.chmod(fake.stat().st_mode | stat.S_IEXEC)
    monkeypatch.setenv("PATH", f"{tmp_path}:{os.environ['PATH']}")
    with pytest.raises(OcrEngineError, match="exit 1"):
        tesseract_ocr(b"pixels")


def test_ocr_engine_failure_not_memoized(spark, tmp_path):
    """a transient engine failure must not write an empty memo row —
    the image retries (and succeeds) on the next run."""
    from open_semantic_etl_spark.operators import ocr as ocr_mod
    from open_semantic_etl_spark.operators.ocr import OcrEngineError, fake_ocr

    memo = str(tmp_path / "ocr_memo_fail")
    df = _ocr_corpus(spark)

    def flaky(b):  # noqa: ANN001
        if b == b"FAKEIMG:OCRTextTwo":
            raise OcrEngineError("transient")
        return fake_ocr(b)

    ocr_mod.ENGINES["flaky"] = flaky
    try:
        out = {r["url"]: r["ocr_t"] for r in
               run_ocr_phase(spark, df, memo, engine="flaky").collect()}
        # failed image contributes no text but does not kill the doc
        assert out == {"u1": "OCRTextOne", "u2": "OCRTextOne"}
        # ONLY the success is memoized
        memo_rows = {r["ocr_text"] for r in spark.read.parquet(memo).collect()}
        assert memo_rows == {"OCRTextOne"}
    finally:
        del ocr_mod.ENGINES["flaky"]

    # next run with a healthy engine: the failed image retries
    out2 = {r["url"]: r["ocr_t"] for r in
            run_ocr_phase(spark, df, memo).collect()}
    assert out2 == {"u1": "OCRTextOne\nOCRTextTwo", "u2": "OCRTextOne"}
    assert spark.read.parquet(memo).count() == 2
