"""Two-phase deferred OCR with a content-hash memo table.

Mirrors the reference's most elaborate optimization (SURVEY.md §4): the
expensive OCR pass is DEFERRED — the cheap extraction pass only marks
``needs_ocr``/``n_images`` (the '[Image (no OCR yet)]' fake-tesseract
cache dance, enhance_extract_text_tika_server.py:101-115, 200-254, and
the Celery priority-1 requeue, export_queue_files.py:29-38) — and OCR
results are MEMOIZED by image content hash (the tesseract-cache /
md5-keyed JSON cache, enhance_pdf_ocr.py:71-83).

Spark shape:
  phase 1: pipeline marks needs_ocr (already in extraction output);
  phase 2: ``run_ocr_phase`` filters flagged rows, extracts embedded
  images, LEFT-JOINS the memo table on xxhash64(image) so cache hits
  never reach the engine, OCRs only misses, appends new memo rows, and
  merges ``ocr_t`` back by url.

Engines: the container has no tesseract, so the real engine raises
NotImplementedError behind a clearly-marked seam; the deterministic
FAKE engine decodes the test image format ``FAKEIMG:<text>`` (the
Spark-side plumbing — schema, joins, memo, batching — is real and
tested either way).
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FAKE_IMG_PREFIX = b"FAKEIMG:"


class OcrEngineError(RuntimeError):
    """transient engine failure (non-zero exit, timeout, killed child).

    Distinct from NotImplementedError (engine not installed — a config
    error that must fail loudly): an OcrEngineError result is NOT
    memoized, so the image retries on the next run instead of a ''
    poisoning the durable cache forever."""


def fake_ocr(image_bytes: bytes) -> str:
    """deterministic test engine: FAKEIMG:<text> → <text>."""
    if image_bytes.startswith(FAKE_IMG_PREFIX):
        return image_bytes[len(FAKE_IMG_PREFIX):].decode("utf-8", "replace")
    return ""


def tesseract_ocr(image_bytes: bytes, lang: str = "eng") -> str:
    """real engine binding (enhance_ocr.py:42-50: the reference shells
    to the tesseract binary per image). Wired but dormant here — the
    container ships no tesseract, so absence raises the documented
    NotImplementedError; when the binary exists on PATH the binding is
    live (tests exercise it through a stand-in executable)."""
    import os
    import shutil
    import subprocess
    import tempfile

    exe = shutil.which("tesseract")
    if exe is None:
        raise NotImplementedError(
            "tesseract is not on PATH in this environment; install it or "
            "use the deterministic fake_ocr engine"
        )
    fd, path = tempfile.mkstemp(suffix=".png")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(image_bytes)
        try:
            out = subprocess.run(
                [exe, path, "stdout", "-l", lang],
                capture_output=True,
                timeout=120,
                check=False,
            )
        except subprocess.TimeoutExpired as e:
            raise OcrEngineError(f"tesseract timed out after 120s") from e
        if out.returncode != 0:
            # missing traineddata, corrupt image, OOM-killed child —
            # transient/per-image; must not be cached as an empty result
            raise OcrEngineError(
                "tesseract exit %d: %s"
                % (out.returncode, out.stderr.decode("utf-8", "replace")[:200])
            )
        return out.stdout.decode("utf-8", "replace")
    finally:
        os.unlink(path)


ENGINES: dict[str, Callable[[bytes], str]] = {
    "fake": fake_ocr,
    "tesseract": tesseract_ocr,
}


def _ocr_or_none(ocr_fn: Callable[[bytes], str], b: bytes) -> str | None:
    """one image through the engine; transient failures → None.

    None rows are excluded from the memo append (retry next run) and
    skipped by array_join in the page concat (a failed image simply
    contributes no text). NotImplementedError still propagates — a
    missing engine is a job config error, not a per-image failure."""
    try:
        return ocr_fn(b)
    except OcrEngineError:
        return None

# embedded images inside html payloads carry data URIs in the fixture
# format; PDF payloads go through the real pdfimages-equivalent parse
# (operators/pdfio.pdf_images — image XObjects, page-associated).
_FAKE_IMG_RE = re.compile(rb"FAKEIMG:[^\"'<>\s]*")

IMAGES_TYPE = T.ArrayType(T.BinaryType())

PDF_PAGE_IMAGES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("page_i", T.IntegerType(), False),
            T.StructField("image", T.BinaryType(), False),
        ]
    )
)


def _doc_images(b: bytes | None) -> list[bytes]:
    if not b:
        return []
    if bytes(b[:5]) == b"%PDF-":
        from open_semantic_etl_spark.operators.pdfio import pdf_images

        return [bytes(d["image"]) for d in pdf_images(bytes(b))]
    return [bytes(m) for m in _FAKE_IMG_RE.findall(b)]


def extract_images_expr(html_col: str = "html"):
    """pull embedded image payloads out of the raw document bytes."""

    def run(series: pd.Series) -> pd.Series:
        return series.map(_doc_images)

    return F.pandas_udf(run, IMAGES_TYPE)(F.col(html_col))


def pdf_page_images_expr(html_col: str = "html"):
    """PDF bytes → array<struct<page_i, image>> (pdfimages -f N -l N
    equivalent, enhance_pdf_ocr.py:26-57)."""

    def run(series: pd.Series) -> pd.Series:
        from open_semantic_etl_spark.operators.pdfio import pdf_images

        return series.map(
            lambda b: pdf_images(bytes(b)) if b and bytes(b[:5]) == b"%PDF-" else []
        )

    return F.pandas_udf(run, PDF_PAGE_IMAGES_TYPE)(F.col(html_col))


def _ocr_with_memo(
    spark: SparkSession,
    imgs: DataFrame,
    memo_path: str,
    engine: str,
    keys: list[str],
) -> DataFrame:
    """(keys…, ocr_t) from image rows (keys…, pos, img): the OCR texts of
    each ``keys`` group joined by '\\n' in ``pos`` order.

    Images resolve through the memo table on xxhash64(img), so cache
    hits never reach the engine; only misses are OCR'd, and their new
    results are appended to ``memo_path``."""
    from open_semantic_etl_spark.plans.checkpoint import has_data

    ocr_fn = ENGINES[engine]
    cols = [*keys, "pos"]
    imgs = imgs.withColumn("img_hash", F.xxhash64("img"))
    if has_data(memo_path):
        memo = spark.read.parquet(memo_path)
        hits = imgs.join(memo, "img_hash", "inner").select(*cols, "ocr_text")
        misses = imgs.join(memo.select("img_hash"), "img_hash", "left_anti")
    else:
        hits = None
        misses = imgs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf["ocr_text"] = [_ocr_or_none(ocr_fn, bytes(b)) for b in pdf["img"]]
            yield pdf[[*cols, "img_hash", "ocr_text"]]

    schema = T.StructType(
        [T.StructField(c, imgs.schema[c].dataType) for c in cols]
        + [T.StructField("img_hash", T.LongType()), T.StructField("ocr_text", T.StringType())]
    )
    # persist the miss results ONCE: the memo append and the output both
    # read them, and neither may rescan the (ever-growing) memo table —
    # OCR batch cost must track the batch, not the memo size. (A failure
    # replay re-enters this function and resolves through the memo read
    # above, so rereading-for-consistency here is unnecessary.)
    fresh = misses.mapInPandas(run, schema=schema).persist()
    # memoize distinct new results (dedupe per hash — cache semantics).
    # The count doubles as the materialization action for the persisted
    # batch; an all-hits steady run appends NOTHING, so the memo's file
    # count stays bounded by the number of miss-producing runs (an empty
    # append still writes one footer per task — a warm cache re-run loop
    # was growing the memo listing without adding a single row).
    if fresh.count():
        # null ocr_text = transient engine failure: NOT memoized, so the
        # image retries next run instead of '' poisoning the cache
        fresh.filter(F.col("ocr_text").isNotNull()).select(
            "img_hash", "ocr_text"
        ).dropDuplicates(["img_hash"]).coalesce(8).write.mode("append").parquet(
            memo_path
        )
    fresh_rows = fresh.select(*cols, "ocr_text")

    all_rows = fresh_rows if hits is None else hits.unionByName(fresh_rows)
    # stable page-order concat (reference joins per-image texts in order)
    return all_rows.groupBy(*keys).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ocr_text"))),
                lambda x: x["ocr_text"],
            ),
            "\n",
        ).alias("ocr_t")
    )


def run_ocr_phase(
    spark: SparkSession,
    enriched: DataFrame,
    memo_path: str,
    engine: str = "fake",
    id_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """phase-2 job: OCR flagged rows with memoization.

    Returns (url, ocr_t) for every needs_ocr row; appends new memo
    entries (img_hash, ocr_text) to ``memo_path``.
    """
    flagged = enriched.filter(F.col("needs_ocr")).select(id_col, html_col)
    imgs = flagged.select(
        id_col, F.posexplode(extract_images_expr(html_col)).alias("pos", "img")
    )
    return _ocr_with_memo(spark, imgs, memo_path, engine, [id_col])


def run_pdf_ocr_phase(
    spark: SparkSession,
    docs: DataFrame,
    memo_path: str,
    engine: str = "fake",
    id_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """per-PAGE OCR for PDF documents (enhance_pdf_ocr.py:13-90).

    Returns (url, page_i, ocr_t): one row per page that has images,
    multiple images on a page joined with '\\n' in reference image
    order (:86-90 ``append_page``). The reference caches by md5 of the
    whole PDF (:71-83); here the memo is finer-grained — per image
    content hash — so a page edit invalidates only its own images.
    Same memo as run_ocr_phase.
    """
    imgs = docs.select(
        F.col(id_col),
        F.posexplode(pdf_page_images_expr(html_col)).alias("pos", "pi"),
    ).select(
        id_col,
        "pos",
        F.col("pi.page_i").alias("page_i"),
        F.col("pi.image").alias("img"),
    )
    return _ocr_with_memo(spark, imgs, memo_path, engine, [id_col, "page_i"])
