"""Spark stage: vectorized main-content extraction over ``html:binary``.

The DataFrame-level replacement for the reference's per-document Tika
call (enhance_extract_text_tika_server.py:33-262): one Arrow batch of
pages in, one struct column out. No HTTP, no services, no per-row
Python UDF — batches cross the JVM boundary via Arrow
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps batch bytes for
large pages, see session.py).

Scale: pure map-side — no shuffle. Catalyst prunes to the ``html``
column for the UDF input; downstream projections read struct fields.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.schema import EXTRACT_RESULT_TYPE

_FIELDS = [f.name for f in EXTRACT_RESULT_TYPE.fields]


def _extract_batch(series: pd.Series) -> pd.DataFrame:
    rows = [extract_html(v) for v in series]
    return pd.DataFrame(rows, columns=_FIELDS)


def extract_expr(html_col: str = "html") -> Column:
    """Column expression: html bytes → extraction-result struct."""
    udf = F.pandas_udf(_extract_batch, returnType=EXTRACT_RESULT_TYPE)
    return udf(F.col(html_col))


def with_extraction(df: DataFrame, html_col: str = "html", out: str = "extract") -> DataFrame:
    """Append the extraction struct plus the hot flattened columns.

    Flattened fields mirror the reference's Solr field names
    (enhance_extract_text_tika_server.py:25-31):
    content_txt, title_txt, description_txt, content_type_ss (scalar
    here — typed model), plus extraction health columns.
    """
    df = df.withColumn(out, extract_expr(html_col))
    e = F.col(out)
    return (
        df.withColumn("content_txt", e["content"])
        .withColumn("title_txt", e["title"])
        .withColumn("description_txt", e["description"])
        .withColumn("content_type", e["content_type"])
        .withColumn("needs_ocr", e["needs_ocr"])
        .withColumn("extract_ok", e["ok"])
        .withColumn("extract_err", e["err"])
    )
