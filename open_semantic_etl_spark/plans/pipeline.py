"""The ETL stage chain: one declarative DataFrame pipeline.

Replaces the reference's interpreted per-document plugin fold
(``ETL.process``, etl.py:147-268): each plugin becomes a column stage;
plugin ordering (``sort_plugins``, etl.py:343-375 — OCR before language
detect, entities before multilingual) is the static order below;
per-plugin error capture (etl.py:214-220) becomes the ``extract_err``
column; content-type gating (etl.py:71-145) becomes conditional column
expressions rather than row filtering.

Stage order:
  1. extraction        (html → one column per field under its Solr name:
                        content_txt, title_txt, … — the Tika replacement;
                        clean_title rewrites title_txt in place)
  2. path/ctype        (enhance_path, contenttype_group, file mtime/size)
  3. analysis text     (get_text concat over the cleaned title)
  4. language id       (enhance_detect_language)
  5. gazetteer NER     (enhance_entity_linking)
  6. regex extractors  (emails, phones, hashtags, IBAN, law, money)
  7. multilingual      (enhance_multilingual fan-out)

Stages 1, 3, 4, 5 and the numerization behind 6's money extractor run
in ONE Python pass (operators/fused.py); stages 2, 6 and 7 are JVM
column algebra over its output (``_enrich_after_python``).

Scale notes: stages 1-7 are all map-side (zero shuffles end-to-end);
the only exchange in an incremental run is the checkpoint anti-join
(see plans/checkpoint.py), which ships only (url, content_hash) — the
html payload NEVER shuffles. Skew policy for the map-only stage:
parquet/Iceberg input splits are byte-uniform (maxPartitionBytes), so
per-task work is even regardless of host clustering in the file order —
a hash repartition is NOT needed and at 10^12 docs would shuffle the
entire corpus through the network (measured on this box: +40% wall at
32 cores, see BENCH/BASELINE.md §2). ``repartition=N`` stays available
for the one case that does need it: re-balancing after a selective
filter (e.g. backfill of a sparse needs_ocr subset) where surviving
rows cluster in few splits. Shuffling stages (groupBy/MERGE on url)
rely on AQE skew handling + the salted-agg helper (functions/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_semantic_etl_spark.functions import extract as X
from open_semantic_etl_spark.functions import path as P
from open_semantic_etl_spark.functions import textmeta as M
from open_semantic_etl_spark.operators.entity_linking import Gazetteer
from open_semantic_etl_spark.operators.fused import with_fused_extraction
from open_semantic_etl_spark.operators.law_money import with_law, with_money

PIPELINE_VERSION = "1"

#: stage names recorded in the checkpoint table's ``stages_done``
STAGES = (
    "extract",
    "path",
    "language",
    "entities",
    "regex_extractors",
    "multilingual",
)

DEFAULT_CURRENCY_LABELS = ("dollar", "dollars", "USD", "EUR", "EURO")


def content_hash(html_col: str = "html") -> F.Column:
    """64-bit content identity for checkpoint/resume and caches."""
    return F.xxhash64(F.col(html_col))


def enrich_pages(
    df: DataFrame,
    gazetteer: Gazetteer | None = None,
    currency_labels: tuple[str, ...] = DEFAULT_CURRENCY_LABELS,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    repartition: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, …) → fully enriched rows.

    ALL per-byte Python work — extraction, language id, gazetteer NER,
    numerization — runs in one scalar pandas UDF over ``html`` and
    ``url`` (operators/fused.py): html crosses the JVM↔Python boundary
    once, and only one Python worker pool runs per task. Every later
    stage is JVM column algebra (:func:`_enrich_after_python`).
    """
    if repartition:
        # explicit hash partitioning on url: even spread under sorted/
        # hot-host inputs (north rule; SURVEY.md §4 item 1)
        df = df.repartition(repartition, F.xxhash64("url"))
    df = with_fused_extraction(df, gazetteer).withColumn("content_hash", content_hash())
    return _enrich_after_python(df, currency_labels, langs)


def _enrich_after_python(
    df: DataFrame,
    currency_labels: tuple[str, ...],
    langs: tuple[str, ...],
) -> DataFrame:
    """all remaining stages — pure JVM column algebra, no Python.

    Consumes the Python stage's ``content_type``, ``text_analysis`` and
    ``text_numerized`` columns plus the input's ``url``, ``warc_ts`` and
    ``html``; drops the two text copies it consumed (``text_all`` is
    the persisted one, the reference's ``_text_``)."""
    df = P.with_path_facets(df, id_col="url")
    df = df.withColumn(
        "content_type_group_ss",
        P.content_type_group(F.col("content_type"), F.col("url")),
    )
    df = df.withColumn("file_modified_dt", P.file_modified_dt(F.col("warc_ts")))
    df = df.withColumn("file_size_i", P.file_size_i(F.col("html")))

    text = F.col("text_analysis")
    df = (
        df.withColumn("email_ss", X.emails(text))
        .withColumn("email_domain_ss", X.email_domains(X.emails(text)))
        .withColumn("message_from_ss", X.message_from(text))
        .withColumn("message_to_ss", X.message_to(text))
        .withColumn("phone_ss", X.phones(text))
        .withColumn("phone_normalized_ss", X.phones_normalized(X.phones(text)))
        .withColumn("hashtag_ss", X.hashtags(text))
        .withColumn("iban_ss", X.iban(text))
    )
    df = with_law(df)
    df = with_money(df, currency_labels, numerized_col="text_numerized")
    df = df.drop("text_numerized")
    return M.with_multilingual(df, langs=langs).drop("text_analysis")
