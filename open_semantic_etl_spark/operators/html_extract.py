"""Spark stage: vectorized main-content extraction over ``html:binary``.

The DataFrame-level replacement for the reference's per-document Tika
call (enhance_extract_text_tika_server.py:33-262): one Arrow batch of
pages in, one extraction struct out. No HTTP, no services, no per-row
Python UDF — batches cross the JVM boundary via Arrow
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps batch bytes for
large pages, see session.py).

``extract_expr`` is the one UDF that projects ``htmlx.extract_html``'s
result onto a struct type: the enriched row's fields here, the office
and media fields in the ``office_extract`` / ``multimodal`` queries
(plans/queries_ext.py). Which extractor reads a document is decided in
``extract_html`` alone.

Scale: pure map-side — no shuffle. Catalyst prunes to the ``html``
column for the UDF input. The struct is flattened once: one column per
field, under its Solr name (``schema.SOLR_NAMES``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from open_semantic_etl_spark.operators.htmlx import extract_html
from open_semantic_etl_spark.schema import EXTRACT_RESULT_TYPE, SOLR_NAMES

_FIELDS = [f.name for f in EXTRACT_RESULT_TYPE.fields]


def extract_expr(rtype: StructType) -> Column:
    """Column expression: ``html`` bytes → ``extract_html``'s result
    projected onto ``rtype`` (each field a key of that result)."""
    names = [f.name for f in rtype.fields]

    def _extract_batch(series: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([extract_html(v) for v in series], columns=names)

    return F.pandas_udf(_extract_batch, returnType=rtype)(F.col("html"))


def solr_columns(struct: Column, fields: list[str]) -> dict[str, Column]:
    """One column per struct field, named by ``SOLR_NAMES`` (else the
    field's own name): content_txt, title_txt, description_txt,
    extract_ok, extract_err, content_type, needs_ocr, …"""
    return {SOLR_NAMES.get(f, f): struct[f] for f in fields}


def with_extraction(df: DataFrame) -> DataFrame:
    """Append one column per extraction field under its Solr name
    (enhance_extract_text_tika_server.py:25-31); content_type is scalar
    here (typed model)."""
    df = df.withColumn("_extract", extract_expr(EXTRACT_RESULT_TYPE))
    return df.withColumns(solr_columns(F.col("_extract"), _FIELDS)).drop("_extract")
