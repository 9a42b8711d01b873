"""Fused single-pass Python stage: extract + langid + NER + numerize.

Why: each pandas UDF in a plan is its own ArrowEvalPython node with its
own Python-worker pool, so a chain of four UDFs ships the (large) text
columns JVM→Python→JVM four times and runs 4× task-count Python
processes at peak — the measured scaling collapse at local[32]
(BENCH history: 0.37 efficiency unfused). This operator does all
per-byte Python work in ONE scalar pandas UDF over ``html`` and ``url``:
html bytes cross the boundary once, everything downstream is JVM-only
column algebra. The UDF's struct is flattened once: one column per
field, under its Solr name (``schema.SOLR_NAMES`` — content_txt,
title_txt, description_txt, extract_ok, extract_err), with
``title_txt`` already cleaned (url-basename fallback).

The fused stage reproduces the exact same observable columns as the
per-operator chain (tests/test_fused.py asserts equality), including
the ``get_text`` analysis-text contract (title\\ndescription\\ncontent
+ trailing newline — etl_plugin_core.py:146-162).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_semantic_etl_spark.functions.path import clean_title
from open_semantic_etl_spark.functions.textmeta import analysis_text
from open_semantic_etl_spark.operators.entity_linking import Gazetteer
from open_semantic_etl_spark.operators.html_extract import solr_columns
from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.operators.langdetect import detect_language
from open_semantic_etl_spark.operators.numerize import numerize_en
from open_semantic_etl_spark.schema import ENTITY_TYPE, EXTRACT_RESULT_TYPE

_EXTRA_FIELDS = [
    T.StructField("language_s", T.StringType(), True),
    T.StructField("entities", ENTITY_TYPE, True),
    # None when numerization changed nothing (the common case) — the
    # JVM side coalesces to text_analysis, so the full text does not
    # ride the Arrow boundary twice for unchanged documents
    T.StructField("text_numerized", T.StringType(), True),
]


def analysis_text_py(title: str | None, description: str | None, content: str | None) -> str:
    """Python twin of functions.textmeta.analysis_text (same contract)."""
    vals = [v for v in (title, description, content) if v]
    return "\n".join(vals) + "\n"


def clean_title_py(title: str | None, url: str | None) -> str | None:
    """Python twin of functions.path.clean_title (title → url basename).

    The reference's get_text runs AFTER clean_title in the plugin chain
    (etl.py sort order), so language id / NER / numerize must consume
    the CLEANED title — on titleless pages the url basename is part of
    the analysis text."""
    if title:
        return title
    return url.rsplit("/", 1)[-1] if url is not None else None


_FUSED_STRUCT_TYPE = T.StructType(list(EXTRACT_RESULT_TYPE.fields) + _EXTRA_FIELDS)
_FUSED_FIELDS = [f.name for f in _FUSED_STRUCT_TYPE.fields]


def with_fused_extraction(df: DataFrame, gazetteer: Gazetteer | None = None) -> DataFrame:
    """One Python pass: html → one column per extraction field under its
    Solr name (title_txt already cleaned) + language_s + entities +
    text_numerized, and the JVM-rebuilt text_analysis.

    Implemented as a SCALAR pandas UDF over the html and url columns —
    the other passthrough columns (warc_ts, …) never cross the Arrow
    boundary, halving serialization traffic vs a mapInPandas that
    carries the whole row through Python.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(gazetteer) if gazetteer is not None else None

    def _numz(t: str, lang: str) -> str | None:
        if lang != "en":
            return None
        r = numerize_en(t)
        return r if r != t else None

    def run(htmls: pd.Series, urls: pd.Series) -> pd.DataFrame:
        gz = bc.value if bc is not None else None
        recs = [extract_html(h) for h in htmls]
        out = pd.DataFrame(recs, columns=[f.name for f in EXTRACT_RESULT_TYPE.fields])
        # analysis text is consumed HERE (langid/NER/numerize) but not
        # returned: it is a deterministic concat of cleaned-title/
        # description/content, which the JVM side rebuilds
        # byte-identically — one less full-text copy crossing Arrow
        analysis = [
            analysis_text_py(clean_title_py(r["title"], u), r["description"], r["content"])
            for r, u in zip(recs, urls)
        ]
        out["language_s"] = [detect_language(t) for t in analysis]
        out["entities"] = (
            [gz.tag(t) for t in analysis] if gz is not None else [[] for _ in analysis]
        )
        out["text_numerized"] = [
            _numz(t, lang) for t, lang in zip(analysis, out["language_s"])
        ]
        return out

    udf = F.pandas_udf(run, returnType=_FUSED_STRUCT_TYPE)
    fused = F.col("_fused")
    cols = solr_columns(fused, _FUSED_FIELDS)
    # clean_title rewrites title_txt in place (title → url basename), and
    # the reference's get_text runs after it (etl.py sort order)
    cols["title_txt"] = clean_title(fused["title"], None, F.col("url"))
    df = df.withColumn("_fused", udf(F.col("html"), F.col("url")))
    df = df.withColumns(cols).drop("_fused")
    # JVM twin of the Python analysis concat over the SAME fields →
    # equal bytes; get_text contract (etl_plugin_core.py:146-162)
    df = df.withColumn(
        "text_analysis",
        analysis_text(F.col("title_txt"), F.col("description_txt"), F.col("content_txt")),
    )
    return df.withColumn(
        "text_numerized", F.coalesce(F.col("text_numerized"), F.col("text_analysis"))
    )
