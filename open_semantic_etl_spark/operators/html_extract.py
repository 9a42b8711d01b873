"""Spark stage: vectorized main-content extraction over ``html:binary``.

The DataFrame-level replacement for the reference's per-document Tika
call (enhance_extract_text_tika_server.py:33-262): one Arrow batch of
pages in, one extraction struct out. No HTTP, no services, no per-row
Python UDF — batches cross the JVM boundary via Arrow
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps batch bytes for
large pages, see session.py).

Scale: pure map-side — no shuffle. Catalyst prunes to the ``html``
column for the UDF input. The struct is flattened once: one column per
field, under its Solr name (``schema.SOLR_NAMES``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.schema import EXTRACT_RESULT_TYPE, SOLR_NAMES

_FIELDS = [f.name for f in EXTRACT_RESULT_TYPE.fields]


def _extract_batch(series: pd.Series) -> pd.DataFrame:
    rows = [extract_html(v) for v in series]
    return pd.DataFrame(rows, columns=_FIELDS)


def extract_expr() -> Column:
    """Column expression: ``html`` bytes → extraction-result struct."""
    udf = F.pandas_udf(_extract_batch, returnType=EXTRACT_RESULT_TYPE)
    return udf(F.col("html"))


def solr_columns(struct: Column, fields: list[str]) -> dict[str, Column]:
    """One column per struct field, named by ``SOLR_NAMES`` (else the
    field's own name): content_txt, title_txt, description_txt,
    extract_ok, extract_err, content_type, needs_ocr, …"""
    return {SOLR_NAMES.get(f, f): struct[f] for f in fields}


def with_extraction(df: DataFrame) -> DataFrame:
    """Append one column per extraction field under its Solr name
    (enhance_extract_text_tika_server.py:25-31); content_type is scalar
    here (typed model)."""
    df = df.withColumn("_extract", extract_expr())
    return df.withColumns(solr_columns(F.col("_extract"), _FIELDS)).drop("_extract")
