"""Typed schemas replacing the reference's Solr dynamic-field dicts.

The reference threads a schemaless ``data`` dict per document with
suffix-typed keys (``*_s``/``*_ss``/``*_txt``/``*_i`` — SURVEY.md §1.2,
enhance_extract_text_tika_server.py:25-31). Here the hot fields are a
fixed StructType; long-tail metadata goes into a ``meta``
``map<string,array<string>>`` column; entities are a typed array of
structs instead of the reference's string-packed
``"<preflabel> <uri>"`` / ``"<id>\t<matchtext>"`` encodings
(etl_plugin_core.py:196-234).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages table (BASELINE.json input_hint).
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),  # expected text (oracle)
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Extraction result: replaces enhance_extract_text_tika_server's Tika call
# (enhance_extract_text_tika_server.py:33-262). One struct per page.
# ---------------------------------------------------------------------------
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("content", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),  # content_type_ss
        T.StructField("encoding", T.StringType(), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("headings", T.ArrayType(T.StringType()), True),
        T.StructField("meta_ts", T.TimestampType(), True),  # html <meta> date
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_kept_blocks", T.IntegerType(), True),
        T.StructField("needs_ocr", T.BooleanType(), True),  # embedded images
        T.StructField("n_images", T.IntegerType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("err", T.StringType(), True),  # etl_error_txt analogue
    ]
)

#: the enriched row's column for each renamed extraction field — its
#: Solr name (enhance_extract_text_tika_server.py:25-31). Every other
#: field keeps its own name; this map is the only renamer.
SOLR_NAMES = {
    "content": "content_txt",
    "title": "title_txt",
    "description": "description_txt",
    "ok": "extract_ok",
    "err": "extract_err",
}

# ---------------------------------------------------------------------------
# Entities: typed replacement for enhance_entity_linking's five packed
# facet fields per match (enhance_entity_linking.py:184-214).
# ---------------------------------------------------------------------------
ENTITY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("facet", T.StringType(), False),  # e.g. law_code
            T.StructField("name", T.StringType(), False),  # preferred label
            T.StructField("uri", T.StringType(), True),
            T.StructField("matchtexts", T.ArrayType(T.StringType()), True),
            T.StructField("taxonomy", T.ArrayType(T.StringType()), True),
        ]
    )
)
