"""Analysis-text assembly + multilingual fan-out (pure Column exprs).

``analysis_text`` reproduces the reference's ``get_text`` contract
(etl_plugin_core.py:85-162): concatenate all non-blacklisted field
values in field order, newline-joined, with a trailing newline. In the
typed-column model the blacklist (etc/opensemanticsearch/blacklist/
textanalysis/*: prefixes ``etl_``, suffixes ``_b``/``_i``/``_dt``…) is
resolved STATICALLY at plan time to an explicit column list — the
Catalyst equivalent of skipping technical fields per dict key.

``with_multilingual`` reproduces enhance_multilingual.py:86-161: copy
the analysis text into the default-search field ``_text_`` and into
``text_txt_<lang>`` for the detected language.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default analysis-field order for the pages pipeline = plugin execution
# order in the reference's default chain (title before content, cf.
# enhance_detect_language_tika_server.py:32-38 concat order).
DEFAULT_TEXT_FIELDS = ("title_txt", "description_txt", "content_txt")


def analysis_text(*cols: str | Column) -> Column:
    """get_text: '\n'.join(non-empty values) + trailing '\n'."""
    arr = F.array(*[F.col(c) if isinstance(c, str) else c for c in cols])
    non_empty = F.filter(arr, lambda v: v.isNotNull() & (v != F.lit("")))
    return F.concat(F.array_join(non_empty, "\n"), F.lit("\n"))


def with_analysis_text(
    df: DataFrame, fields: tuple[str, ...] = DEFAULT_TEXT_FIELDS, out: str = "text_analysis"
) -> DataFrame:
    return df.withColumn(out, analysis_text(*[f for f in fields if f in df.columns]))


# magic-byte signatures for content sniffing (enhance_mimetype.py:27-35
# calls libmagic; at scale the sniff is a JVM when-chain over the binary
# prefix — no Python, fully codegen'd).
_MAGIC = (
    ("%PDF-", "application/pdf"),
    ("\x89PNG\r\n\x1a\n", "image/png"),
    ("\xff\xd8\xff", "image/jpeg"),
    ("GIF8", "image/gif"),
    ("PK\x03\x04", "application/zip"),
    ("\x1f\x8b", "application/gzip"),
    ("WARC/", "application/warc"),
)


def sniff_mimetype(data: Column) -> Column:
    """binary column → content_type_magic_s (enhance_mimetype semantics).

    HTML detection mirrors libmagic's token scan: a '<html'/'<!doctype'
    token near the start; otherwise signature prefixes; fallback
    text/plain (libmagic's default for printable bytes).
    """
    head = F.decode(F.substring(data, 1, 256), "ISO-8859-1")
    expr = F.lit("text/plain")
    lowered = F.lower(head)
    expr = F.when(
        lowered.contains("<html") | lowered.contains("<!doctype html"),
        F.lit("text/html"),
    ).otherwise(expr)
    for sig, mime in reversed(_MAGIC):
        expr = F.when(head.startswith(sig), F.lit(mime)).otherwise(expr)
    return F.when(data.isNull() | (F.length(data) == 0), F.lit("application/x-empty")).otherwise(expr)


def with_multilingual(
    df: DataFrame,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    langs_hunspell: tuple[str, ...] = ("hu",),
    langs_force: tuple[str, ...] = (),
    langs_force_hunspell: tuple[str, ...] = (),
    text_col: str = "text_analysis",
    lang_col: str = "language_s",
) -> DataFrame:
    """_text_ default-search copy + per-language shadow columns.

    Full enhance_multilingual.py:15-21, 86-112 field fan-out:
    - ``text_txt_<lang>`` when the detected language is in ``langs``;
    - ``text_txt_hunspell_<lang>`` hunspell-analysis variant when the
      detected language is in ``langs_hunspell`` (default ['hu'], :17);
    - ``langs_force`` / ``langs_force_hunspell`` copy unconditionally —
      analysis even when detection disagrees (:19-21, 100-112).
    A language in both the detected and forced list gets the forced
    (unconditional) copy, like the reference's single field-name set.
    """
    df = df.withColumn("text_all", F.col(text_col))
    fields: dict[str, Column] = {}
    for lg in langs:
        fields[f"text_txt_{lg}"] = F.when(F.col(lang_col) == lg, F.col(text_col))
    for lg in langs_hunspell:
        fields[f"text_txt_hunspell_{lg}"] = F.when(
            F.col(lang_col) == lg, F.col(text_col)
        )
    for lg in langs_force:
        fields[f"text_txt_{lg}"] = F.col(text_col)
    for lg in langs_force_hunspell:
        fields[f"text_txt_hunspell_{lg}"] = F.col(text_col)
    return df.withColumns(fields)
