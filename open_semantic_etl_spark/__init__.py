"""open_semantic_etl_spark — a PySpark-native document extraction/enrichment engine.

A from-scratch reimplementation of the capabilities of
opensemanticsearch/open-semantic-etl (reference at /root/reference, read-only)
as idiomatic Spark DataFrame pipelines:

- the reference's per-document ``process(parameters, data)`` plugin fold
  (etl.py:147-268) becomes one declarative DataFrame stage chain;
- its Solr dynamic-field dicts become typed columns
  (``SURVEY.md`` §1.6 mapping table);
- its Celery queue becomes the Spark scheduler + checkpoint tables;
- all per-byte work (HTML tokenize + boilerplate strip, PDF parse,
  gazetteer NER, language id) lives in vectorized pandas/Arrow UDFs.

Layout:
  sources/    — pages synthesis + container explodes (warc/zip/csv/pdf pages)
  functions/  — pure Column-expression builders (regex extractors, paths, titles)
  operators/  — pandas-UDF-backed operators (html extract, langid, NER, dedup, ANN)
  plans/      — pipeline assembly, checkpoint/resume, lineage metrics
  streaming/  — Structured Streaming ingestion (filemonitoring equivalent)
"""

__version__ = "0.1.0"

from open_semantic_etl_spark import _worker_setup

_worker_setup.install()
