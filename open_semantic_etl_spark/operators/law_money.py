"""Law-code/clause pairing and money extraction composites.

These combine the gazetteer entity column with the regex extractors,
reproducing the cross-operator behavior of enhance_extract_law.py and
enhance_extract_money.py (both consume gazetteer matchtexts:
law.py:83, money.py:41).

All logic is pure Column expressions over the typed ``entities`` array
— no Python in the hot path, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_semantic_etl_spark.functions.extract import (
    LAW_CLAUSE_RE,
    _strip,
    law_clauses,
    money,
)

# Reference blacklist file etc/opensemanticsearch/blacklist/
# enhance_extract_law/blacklist-lawcode-if-no-clause: ambiguous short
# aliases that only count when adjacent to a clause.
LAW_CODE_BLACKLIST_DEFAULT = ("CC",)

LAW_FACET = "law_code_ss"

#: cheap gate for the (expensive, alternation-heavy) clause regex:
#: every LAW_CLAUSE_RE match is one of the prefixes §|Article|Artikel|
#: Art|Section|Sec followed by \W* and a DIGIT — so prefix-stem + \W* +
#: digit is a provable superset (plain words like 'part' no longer
#: trigger the heavy NFA; only changes the plan, never the result).
LAW_GATE_RE = r"(?i)(§|art[a-z]*|sec[a-z]*)\W*\d"

def money_gate_re(currency_labels: tuple[str, ...]) -> str:
    """cheap gate for the two money rules: both require a currency
    token, so a plain literal alternation over the configured labels
    (plus the static signs) is a provable superset of any match."""
    import re as _re

    return "(?i)" + "|".join(
        [_re.escape("$"), _re.escape("€")] + [_re.escape(c) for c in currency_labels]
    )


def _flat(text: Column) -> Column:
    """reference flattens newlines before adjacency checks (law.py:92)."""
    return F.regexp_replace(text, r"\n", " ")


def _adjacent(text_flat: Column, clause: Column, mt: Column) -> Column:
    return text_flat.contains(F.concat(clause, F.lit(" "), mt)) | text_flat.contains(
        F.concat(mt, F.lit(" "), clause)
    )


def with_law(
    df: DataFrame,
    text_col: str = "text_analysis",
    entities_col: str = "entities",
    blacklist: tuple[str, ...] = LAW_CODE_BLACKLIST_DEFAULT,
) -> DataFrame:
    """law_clause_ss, law_code_ss (blacklist-filtered), law_code_clause_ss.

    Semantics (enhance_extract_law.py:69-147):
    - clauses: regex matches, stripped, '§123' → '§ 123';
    - law_code_clause_ss: '<normalized clause> <code preflabel>' when the
      raw clause and a code matchtext are space-adjacent in either order;
    - blacklisted matchtexts (ambiguous aliases like 'CC') are dropped
      from a code's matches unless clause-adjacent; codes left with no
      matchtexts are removed entirely.
    """
    text = F.col(text_col)
    ents = F.col(entities_col)
    # materialize the flattened text and the raw clause list ONCE per
    # row: higher-order-function lambdas re-evaluate their argument
    # expressions per element, so inlining the regexp_replace / clause
    # regex would rerun them O(matchtexts × clauses) times per doc
    df = df.withColumn("_text_flat", _flat(text))
    flat = F.col("_text_flat")
    empty = F.array().cast("array<string>")
    df = df.withColumn(
        "_law_raw_clauses",
        F.when(
            flat.rlike(LAW_GATE_RE),
            F.transform(F.regexp_extract_all(flat, F.lit(LAW_CLAUSE_RE), 0), _strip),
        ).otherwise(empty),
    )
    raw_clauses = F.col("_law_raw_clauses")
    bl = F.array(*[F.lit(b) for b in blacklist])

    df = df.withColumn(
        "law_clause_ss",
        F.when(text.isNull(), F.lit(None).cast("array<string>"))
        .when(text.rlike(LAW_GATE_RE), law_clauses(text))
        .otherwise(empty),
    )

    # filter blacklisted, non-adjacent matchtexts out of law-code entities
    cleaned = F.transform(
        ents,
        lambda e: F.when(
            e["facet"] != LAW_FACET, e
        ).otherwise(
            e.withField(
                "matchtexts",
                F.filter(
                    e["matchtexts"],
                    lambda mt: ~F.array_contains(bl, mt)
                    | F.exists(raw_clauses, lambda cl: _adjacent(flat, cl, mt)),
                ),
            )
        ),
    )
    cleaned = F.filter(
        cleaned,
        lambda e: (e["facet"] != LAW_FACET) | (F.size(e["matchtexts"]) > 0),
    )
    df = df.withColumn(entities_col, cleaned)

    law_ents = F.filter(F.col(entities_col), lambda e: e["facet"] == LAW_FACET)
    df = df.withColumn(
        "law_code_ss",
        F.array_distinct(F.transform(law_ents, lambda e: e["name"])),
    )
    # pair each code's matchtexts with adjacent clauses
    df = df.withColumn(
        "law_code_clause_ss",
        F.array_distinct(
            F.flatten(
                F.transform(
                    law_ents,
                    lambda e: F.transform(
                        F.filter(
                            raw_clauses,
                            lambda cl: F.exists(
                                e["matchtexts"], lambda mt: _adjacent(flat, cl, mt)
                            ),
                        ),
                        lambda cl: F.concat(
                            F.regexp_replace(cl, r"^§(?=\S)", "§ "),
                            F.lit(" "),
                            e["name"],
                        ),
                    ),
                )
            )
        ),
    )
    return df.drop("_text_flat", "_law_raw_clauses")


def with_money(
    df: DataFrame,
    currency_labels: tuple[str, ...],
    text_col: str = "text_analysis",
    lang_col: str = "language_s",
    numerized_col: str | None = None,
) -> DataFrame:
    """money_ss: amount⟷currency both orders over the (optionally
    numerized) flat text (enhance_extract_money.py:26-56).

    ``currency_labels`` is the full gazetteer currency vocabulary —
    equivalent to the reference's per-document matched labels because a
    label only produces a money hit when present next to an amount.
    ``numerized_col`` (optional) carries English-numerized text computed
    by operators.numerize (only consulted where lang == 'en').
    """
    text = F.col(text_col)
    flat = _flat(text)
    base = flat
    if numerized_col is not None:
        base = F.when(F.col(lang_col) == "en", _flat(F.col(numerized_col))).otherwise(
            flat
        )
    # gate on the raw text: numerization only rewrites number WORDS, so
    # it cannot introduce a currency token the raw text lacked
    return df.withColumn(
        "money_ss",
        F.when(text.isNull(), F.lit(None).cast("array<string>"))
        .when(text.rlike(money_gate_re(currency_labels)), money(base, currency_labels))
        .otherwise(F.array().cast("array<string>")),
    )
