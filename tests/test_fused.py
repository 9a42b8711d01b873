"""Fused single-pass stage must equal the modular operator chain."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_semantic_etl_spark.functions import path as P
from open_semantic_etl_spark.functions import textmeta as M
from open_semantic_etl_spark.operators.entity_linking import (
    Gazetteer,
    GazetteerEntry,
    with_entities,
)
from open_semantic_etl_spark.operators.html_extract import with_extraction
from open_semantic_etl_spark.operators.langdetect import language_expr
from open_semantic_etl_spark.operators.numerize import numerize_en
from open_semantic_etl_spark.plans.pipeline import (
    DEFAULT_CURRENCY_LABELS,
    _enrich_after_python,
    content_hash,
    enrich_pages,
)
from open_semantic_etl_spark.sources.pages import pages_df

_GAZ = Gazetteer(
    entries=[
        GazetteerEntry("urn:stgb", "Strafgesetzbuch", "law_code_ss",
                       ("Strafgesetzbuch", "StGB"), ("Law\tDE\tCriminal",)),
        GazetteerEntry("urn:usd", "US Dollar", "currency_ss", ("USD", "dollar", "dollars")),
    ]
)

_COLS = [
    "url", "content_txt", "title_txt", "description_txt", "extract_ok",
    "extract_err", "language_s", "email_ss", "money_ss", "law_clause_ss",
    "law_code_ss", "law_code_clause_ss", "text_all", "file_size_i",
    "content_hash", "path0_s", "path_basename_s", "entities",
]


def _enrich_modular(pages, gazetteer):
    """reference chain: one operator (and one Python UDF) per stage,
    then the same JVM stages enrich_pages runs after its fused pass."""
    df = with_extraction(pages).withColumn("content_hash", content_hash())
    df = df.withColumn(
        "title_txt", P.clean_title(F.col("title_txt"), None, F.col("url"))
    )
    df = M.with_analysis_text(df)
    df = df.withColumn("language_s", language_expr(F.col("text_analysis")))
    df = with_entities(df, gazetteer)
    nz = F.pandas_udf(lambda s: s.map(numerize_en), T.StringType())
    df = df.withColumn("text_numerized", nz(F.col("text_analysis")))
    return _enrich_after_python(
        df, DEFAULT_CURRENCY_LABELS, ("en", "de", "fr", "es")
    )


def test_fused_equals_modular(spark):
    pages = pages_df(spark, 120, partitions=4)
    fused = (
        enrich_pages(pages, gazetteer=_GAZ)
        .select(_COLS).toPandas().sort_values("url").reset_index(drop=True)
    )
    modular = (
        _enrich_modular(pages, _GAZ)
        .select(_COLS).toPandas().sort_values("url").reset_index(drop=True)
    )
    for c in _COLS:
        mism = [
            (a, b) for a, b in zip(fused[c], modular[c]) if str(a) != str(b)
        ]
        assert not mism, f"column {c}: {mism[:2]}"


def test_fused_equals_modular_titleless(spark):
    """titleless pages: langid/NER must consume the CLEANED title (url
    basename fallback) in BOTH paths — the reference's get_text runs
    after clean_title in the plugin chain."""
    from datetime import datetime

    rows = [
        (
            f"https://t.example.org/dir/page-{i}.html",
            datetime(2024, 1, 1),
            b"<html><head></head><body><p>Ein langer deutscher Absatz mit "
            b"genug Inhalt um behalten zu werden und der von der und das "
            b"ist mit f\xc3\xbcr Strafgesetzbuch Text USD.</p></body></html>",
            "x",
            "de",
        )
        for i in range(8)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cols = ["url", "title_txt", "language_s", "entities", "text_all"]
    fused = enrich_pages(pages, gazetteer=_GAZ).select(cols).toPandas()
    modular = _enrich_modular(pages, _GAZ).select(cols).toPandas()
    fused = fused.sort_values("url").reset_index(drop=True)
    modular = modular.sort_values("url").reset_index(drop=True)
    # basename fallback landed in the analysis text in both paths
    assert fused["title_txt"][0] == "page-0.html"
    assert fused["text_all"][0].startswith("page-0.html\n")
    for c in cols:
        assert [str(v) for v in fused[c]] == [str(v) for v in modular[c]], c


def test_enriched_row_names_each_field_once(spark):
    """One column per field: the extraction struct is flattened once
    under its Solr names, so the struct names (content, title,
    description, ok, err) and the internal analysis text (text_analysis;
    text_all is its persisted copy) are not enriched columns."""
    cols = enrich_pages(pages_df(spark, 4, partitions=1), gazetteer=_GAZ).columns
    assert sorted(cols) == sorted([
        "url", "warc_ts", "html", "text", "lang",
        "content_txt", "title_txt", "description_txt", "content_type", "encoding",
        "links", "headings", "meta_ts", "n_blocks", "n_kept_blocks", "needs_ocr",
        "n_images", "extract_ok", "extract_err", "language_s", "entities",
        "content_hash", "path_ss", "path0_s", "path1_s", "path2_s", "path3_s",
        "path4_s", "path5_s", "path_basename_s", "filename_extension_s",
        "content_type_group_ss", "file_modified_dt", "file_size_i", "email_ss",
        "email_domain_ss", "message_from_ss", "message_to_ss", "phone_ss",
        "phone_normalized_ss", "hashtag_ss", "iban_ss", "law_clause_ss",
        "law_code_ss", "law_code_clause_ss", "money_ss", "text_all", "text_txt_en",
        "text_txt_de", "text_txt_fr", "text_txt_es", "text_txt_hunspell_hu",
    ])
