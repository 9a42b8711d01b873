"""Text-quality analysis for corpus curation (pure Column expressions).

Quality scoring, token counting, and document fingerprinting over a
text column — the triage pass a training-data pipeline runs before the
expensive tiers. Everything here is JVM-side (regexp + array exprs), so
it composes with the extraction pipeline at zero Python cost.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_semantic_etl_spark.functions.binding import let

# small shared English function-word list for the stopword-ratio signal
_QUALITY_STOPWORDS = (
    "the of and to in a is that it was for on are with as at be this have "
    "from or had by but what some we can out other were all there when up"
).split()

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (the GPT-2-style pretokenize regex family, simplified to Java/RE2-safe form)
BPE_TOKEN_RE = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-zÀ-ÿ0-9\s]"


def whitespace_tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def bpe_ish_tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (
        df.withColumn("n_ws_tokens", F.size(whitespace_tokens(t)))
        .withColumn("n_bpe_tokens", F.size(bpe_ish_tokens(t)))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(whitespace_tokens(t))))
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length/punct/stopword/digit signals + a composite [0,1] score.

    Signals follow the public quality-filter recipes (C4/Gopher rules):
    mean word length, stopword ratio, symbol ratio, repetition ratio.
    """
    t = F.col(text_col)
    toks = whitespace_tokens(t)
    n = F.size(toks)
    chars = F.length(t)
    stop_arr = F.array(*[F.lit(s) for s in _QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w))))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))

    df = (
        df.withColumn("n_tokens", n)
        .withColumn("n_chars", chars)
        .withColumn(
            "mean_word_len",
            F.when(n > 0, F.round((chars - (n - 1)) / n, 4)).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio", F.when(n > 0, F.round(n_stop / n, 4)).otherwise(F.lit(0.0))
        )
        .withColumn(
            "punct_ratio", F.when(chars > 0, F.round(n_punct / chars, 4)).otherwise(F.lit(0.0))
        )
        .withColumn(
            "digit_ratio", F.when(chars > 0, F.round(n_digit / chars, 4)).otherwise(F.lit(0.0))
        )
        .withColumn(
            "repetition_ratio",
            F.when(n > 0, F.round(1 - F.size(F.array_distinct(toks)) / n, 4)).otherwise(
                F.lit(0.0)
            ),
        )
    )
    # composite: in-range length, word shape, some stopwords, low noise
    score = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000), 0.25).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 2.5) & (F.col("mean_word_len") <= 12), 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
        + F.when((F.col("digit_ratio") < 0.2) & (F.col("repetition_ratio") < 0.6), 0.25).otherwise(0.0)
    )
    return df.withColumn("quality_score", F.round(score, 2))


def _rep_stats(arr: Column) -> Column:
    """``struct(top, dup)`` over an array<string>: ``top`` = the largest
    ``count(g) * length(g)`` over distinct values g (characters covered
    by the most frequent value, overlaps ignored), ``dup`` = total
    characters in values occurring more than once (all occurrences
    counted). One sort + one linear fold per row — no explode, no
    shuffle, stays inside whole-stage codegen."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("top"),
        zero.alias("dup"),
    )

    def merge(acc: Column, g: Column) -> Column:
        glen = F.length(g).cast("long")
        run = F.when(acc["prev"].eqNullSafe(g), acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        dup = acc["dup"] + (
            F.when(run == 2, glen * 2).when(run > 2, glen).otherwise(zero)
        )
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["top"], run * glen).alias("top"),
            dup.alias("dup"),
        )

    return F.aggregate(
        F.array_sort(arr),
        init,
        merge,
        lambda acc: F.struct(acc["top"].alias("top"), acc["dup"].alias("dup")),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """space-joined word ``n``-grams of a token array, in order (empty
    when fewer than ``n`` tokens) — the one n-gram window: shingles,
    exact-substring grams, repetition signals and the hashed bigram
    features all call it.  ``toks`` must be let-bound (or a plain
    column): the window lambda captures it."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def with_repetition(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1),
    re-expressed as pure Column algebra — the repetition tier of the
    quality filter a webtext-curation pipeline runs before training:

    - ``dup_line_frac``: fraction of (trimmed, non-empty) lines that are
      repeats of another line;
    - ``dup_line_char_frac``: fraction of line characters inside lines
      occurring more than once (all occurrences counted);
    - ``top{n}gram_char_frac`` for n in ``top_ns``: characters covered
      by the single most frequent word n-gram / total text chars;
    - ``dup{n}gram_char_frac`` for n in ``dup_ns``: characters inside
      word n-grams occurring more than once / total text chars.

    The n-gram fractions count every occurrence (overlapping n-grams
    multi-count their characters — the cheap upper-bound approximation
    public curation pipelines use instead of exact position coverage),
    clipped to 1.0 so the signal stays a [0,1] filterable ratio.

    Everything is one sorted fold per signal (no explode → no Exchange):
    the whole block composes with the extraction chain's zero-shuffle
    invariant and scales as O(tokens·log tokens) per document.
    """
    t = F.col(text_col)
    chars = F.length(t).cast("long")
    toks = whitespace_tokens(t)
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )

    df = df.withColumn("_lines", lines).withColumn("_toks", toks)
    n_lines = F.size("_lines")
    line_chars = F.aggregate(
        "_lines", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    line_stats = _rep_stats(F.col("_lines"))
    df = df.withColumn(
        "dup_line_frac",
        F.when(
            n_lines > 0,
            F.round(1 - F.size(F.array_distinct("_lines")) / n_lines, 4),
        ).otherwise(F.lit(0.0)),
    ).withColumn(
        "dup_line_char_frac",
        F.when(line_chars > 0, F.round(line_stats["dup"] / line_chars, 4)).otherwise(
            F.lit(0.0)
        ),
    )
    for n in top_ns:
        s = _rep_stats(_word_ngrams(F.col("_toks"), n))
        df = df.withColumn(
            f"top{n}gram_char_frac",
            F.when(
                chars > 0, F.round(F.least(F.lit(1.0), s["top"] / chars), 4)
            ).otherwise(F.lit(0.0)),
        )
    for n in dup_ns:
        s = _rep_stats(_word_ngrams(F.col("_toks"), n))
        df = df.withColumn(
            f"dup{n}gram_char_frac",
            F.when(
                chars > 0, F.round(F.least(F.lit(1.0), s["dup"] / chars), 4)
            ).otherwise(F.lit(0.0)),
        )
    return df.drop("_lines", "_toks")


#: Gopher-style drop rules (Rae et al. 2021 table A1, adapted to the
#: char-ratio signals computed above): rule name → fails when true.
#: Thresholds are the public recipe's; callers can override the dict.
def with_gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """the remaining Gopher document-level signals (Rae et al. 2021,
    table A1) beyond the repetition tier — pure Column algebra, zero
    shuffle, zero Python:

    - ``bullet_line_frac``: trimmed non-empty lines starting with a
      bullet glyph (- * • ●) / lines;
    - ``ellipsis_line_frac``: lines ending with ``...`` or ``…`` /
      lines;
    - ``alpha_word_frac``: whitespace tokens containing at least one
      alphabetic character / tokens (Gopher keeps docs ≥ 0.80);
    - ``symbol_word_ratio``: occurrences of the Gopher symbol set
      (``#``, ``...``, ``…``) / tokens.

    Line and token definitions are shared with the repetition/quality
    tiers (trimmed non-empty lines; whitespace_tokens), and the
    alphabetic class is the same ``[A-Za-zÀ-ÿ]`` the BPE-ish counter
    uses — single-sourced with the DuckDB oracle."""
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    nl = F.size(lines)
    bullets = F.size(
        F.filter(
            lines, lambda l: F.substring(l, 1, 1).isin("-", "*", "•", "●")
        )
    )
    ell = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    toks = whitespace_tokens(t)
    n = F.size(toks)
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-zÀ-ÿ]")))
    symbols = F.regexp_count(t, F.lit("#")) + F.regexp_count(
        t, F.lit(r"(\.\.\.|…)")
    )
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 4
    )
    return (
        df.withColumn("bullet_line_frac", frac(bullets, nl))
        .withColumn("ellipsis_line_frac", frac(ell, nl))
        .withColumn("alpha_word_frac", frac(alpha, n))
        .withColumn("symbol_word_ratio", frac(symbols, n))
    )


CURATION_RULES: dict[str, str] = {
    "tokens": "n_ws_tokens < 50 OR n_ws_tokens > 100000",
    "word_len": "mean_word_len < 3 OR mean_word_len > 10",
    "stopwords": "stopword_ratio < 0.05",
    "punct": "punct_ratio > 0.25",
    "digits": "digit_ratio > 0.20",
    "dup_lines": "dup_line_frac > 0.30",
    "dup_line_chars": "dup_line_char_frac > 0.20",
    "top_ngram": (
        "top2gram_char_frac > 0.20 OR top3gram_char_frac > 0.18"
        " OR top4gram_char_frac > 0.16"
    ),
    "dup_ngram": "dup5gram_char_frac > 0.15 OR dup10gram_char_frac > 0.10",
    # Gopher table A1 line/word rules (with_gopher_signals)
    "bullets": "bullet_line_frac > 0.90",
    "ellipsis": "ellipsis_line_frac > 0.30",
    "alpha_words": "alpha_word_frac < 0.80",
    "symbols": "symbol_word_ratio > 0.10",
}


def with_curation(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    rules: dict[str, str] | None = None,
) -> DataFrame:
    """keep/drop verdict composing the quality + repetition tiers — the
    final gate of a webtext curation pipeline, with per-document reason
    codes so dropped mass is attributable per rule (the reporting
    every public pipeline (C4, Gopher, RefinedWeb) publishes).

    Adds ``keep_i`` (1 = passes every rule) and ``drop_reasons_s``
    (sorted comma-joined rule names that fired). Rules are SQL boolean
    expressions over the signal columns (``CURATION_RULES``), kept as
    strings so the SAME text is the spec for the Spark plan and the
    DuckDB oracle. Signals are computed here if absent; everything
    stays Column algebra — the verdict adds zero shuffles and zero
    Python to whatever plan it lands on.
    """
    rules = dict(rules if rules is not None else CURATION_RULES)
    if "n_ws_tokens" not in df.columns:
        df = with_token_counts(df, text_col)
    if "stopword_ratio" not in df.columns:
        df = with_quality(df, text_col)
    if "dup_line_frac" not in df.columns:
        df = with_repetition(df, text_col)
    if "bullet_line_frac" not in df.columns:
        df = with_gopher_signals(df, text_col)
    if lang_col is not None:
        # IS NULL kept explicit: `x NOT IN (...)` is NULL (not true)
        # for NULL x, which would FAIL OPEN — an undetected-language
        # document must drop, exactly like an out-of-set one (the
        # Gopher recipe keeps only the allowed set)
        quoted = ", ".join(f"'{l}'" for l in allowed_langs)
        rules["lang"] = f"{lang_col} IS NULL OR {lang_col} NOT IN ({quoted})"
    reasons = F.array_compact(
        F.array(*[F.when(F.expr(cond), F.lit(name)) for name, cond in sorted(rules.items())])
    )
    return df.withColumn(
        "drop_reasons_s", F.array_join(F.array_sort(reasons), ",")
    ).withColumn("keep_i", (F.size(reasons) == 0).cast("int"))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """stable document fingerprints:
    - fp_md5: md5 of whitespace-normalized lowercase text (exact identity);
    - fp_rolling: xxhash64 of the normalized token stream (order-aware
      64-bit rolling identity, cheap join key)."""
    norm = F.array_join(whitespace_tokens(F.lower(F.col(text_col))), " ")
    return df.withColumn("fp_md5", F.md5(norm)).withColumn(
        "fp_rolling", F.xxhash64(norm)
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """sliding token-window chunking — the LM-training segmentation
    step (split each document into ``size``-token windows every
    ``stride`` tokens, ``size - stride`` tokens of overlap so no
    boundary context is lost). Beyond-reference curation tier; the
    reference's closest operator is sentence segmentation
    (enhance_sentence_segmentation.py), which this composes with.

    Output grain: one row per (document, window) — ``chunk_i``
    (0-based), ``chunk_txt`` (tokens re-joined with single spaces),
    ``n_chunk_tokens`` (≤ size; the final window keeps the tail).
    Empty/whitespace-only documents emit zero rows.

    Scale shape: tokenize → window starts → slice → posexplode is all
    in-row JVM array algebra (one codegen stage, no Python, no
    shuffle); output size is input tokens × size/stride, and the
    explode happens AFTER slicing so no quadratic intermediate exists.
    """
    def windows(toks: Column) -> Column:
        # toks is let-bound: captured free in the per-window lambda the
        # tokenizer split would re-run per window (functions/binding.py).
        # Last start = the smallest stride multiple whose window reaches
        # the end (ceil((n-size)/stride)·stride): striding all the way
        # to n-1 would emit tail windows fully CONTAINED in the previous
        # one — duplicated training text, the very thing dedup removes.
        n = F.size(toks)
        last = F.when(
            n <= size, F.lit(0)
        ).otherwise(
            F.floor((n - size + stride - 1) / stride).cast("int") * stride
        )
        starts = F.when(n > 0, F.sequence(F.lit(0), last, F.lit(stride))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(starts, lambda s: F.slice(toks, s + 1, size))

    ex = df.select(
        F.col(id_col),
        F.posexplode(let(whitespace_tokens(F.col(text_col)), windows)).alias(
            "chunk_i", "_ctoks"
        ),
    )
    return ex.select(
        id_col,
        "chunk_i",
        F.array_join(F.col("_ctoks"), " ").alias("chunk_txt"),
        F.size(F.col("_ctoks")).alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# hashed linear quality classifier — the fastText-style model-based
# quality gate (Joulin et al. 2016 hashing-trick featurization; the
# CCNet / LLaMA "Wikipedia-reference" filter shape): logistic score
# over hashed unigram+bigram counts. The WEIGHTS here are a
# deterministic stand-in (quality_clf_weights) — a trained model is
# exactly this vector and loads through the same parameter — while the
# featurization, hashing, scoring, and plan shape are the real thing.
#
# The classifier, DSIR and the bigram LM share one feature-hashing
# sketch: _md5_bucket is the only bucket formula, _hashed_features the
# only unigram+bigram featurization, _bucket_counts the only training
# count pass and _bucket_score the only per-document weighted fold.
# ---------------------------------------------------------------------------
QUALITY_CLF_DIM = 256


def quality_clf_weights(dim: int = QUALITY_CLF_DIM) -> list[float]:
    """deterministic stand-in weight vector (Knuth-hash spread over
    [-0.5, 0.5), rounded to 6 dp so the literal round-trips bit-equal
    through both engines' decimal parsers)."""
    return [round(((j * 2654435761) % 1997) / 1997 - 0.5, 6) for j in range(dim)]


def _md5_bucket(f: Column, dim: int) -> Column:
    """int bucket of one feature string: first 60 bits of md5(f) mod
    ``dim`` — md5 (not xxhash64) precisely so the DuckDB twin re-derives
    it independently (``('0x' || substr(md5(f),1,15))::UBIGINT``)."""
    return (
        F.conv(F.substring(F.md5(f), 1, 15), 16, 10).cast("long") % dim
    ).cast("int")


def _doc_tokens(text: Column) -> Column:
    """the hashed estimators' tokens: lowercased whitespace tokens."""
    return whitespace_tokens(F.lower(text))


def _hashed_buckets(toks: Column, dim: int) -> Column:
    """array<int> of hashed unigram+bigram feature buckets (unigrams,
    then bigrams, in document order) — the ONE featurization shared by
    the clf scorer and trainer and DSIR: each feature's bucket is a
    :func:`_md5_bucket` call."""
    return F.transform(
        F.concat(toks, _word_ngrams(toks, 2)), lambda f: _md5_bucket(f, dim)
    )


def _hashed_features(text: Column, dim: int) -> Column:
    """:func:`_hashed_buckets` of a text column, its token array
    let-bound so the tokenizer runs once per row."""
    return let(_doc_tokens(text), lambda t: _hashed_buckets(t, dim))


def _bucket_score(text: Column, dim: int, table: list[float], finish) -> Column:
    """``finish(total, n)`` over a document's hashed features, where
    ``total`` left-folds ``table[bucket]`` over them and ``n`` counts
    them; NULL for a featureless document.  The table rides the plan as
    a literal array (the LSH-planes pattern); the bucket array is
    let-bound, so ``size()`` and ``aggregate()`` share one md5 pass
    (plan-audited: one md5 per scorer)."""
    arr = F.array(*[F.lit(float(w)) for w in table])

    def score(feats: Column) -> Column:
        total = F.aggregate(
            feats, F.lit(0.0), lambda acc, b: acc + F.element_at(arr, b + 1)
        )
        return F.when(F.size(feats) > 0, finish(total, F.size(feats)))

    return let(_hashed_features(text, dim), score)


def _bucket_counts(
    df: DataFrame, flag: Column, text_col: str, dim: int
) -> tuple[list[float], list[float]]:
    """``(flagged, every)`` feature-occurrence counts per bucket: ONE
    shuffle on int bucket keys (≤ ``dim`` groups, map-side partial agg)
    and an O(dim) driver collect — the one training pass of the NB
    classifier and DSIR, so corpus text is read but never shuffled."""
    counts = (
        df.select(
            flag.cast("long").alias("t"),
            F.explode(_hashed_features(F.col(text_col), dim)).alias("b"),
        )
        .groupBy("b")
        .agg(F.sum("t").alias("nt"), F.count("*").alias("nr"))
        .collect()
    )
    flagged, every = [0.0] * dim, [0.0] * dim
    for r in counts:
        flagged[r["b"]] = float(r["nt"])
        every[r["b"]] = float(r["nr"])
    return flagged, every


def _log_ratio(p: list[float], q: list[float]) -> list[float]:
    """``ln(p_j/Σp) − ln(q_j/Σq)`` per bucket."""
    tp, tq = sum(p), sum(q)
    return [math.log(a / tp) - math.log(b / tq) for a, b in zip(p, q)]


def with_quality_clf(
    df: DataFrame,
    text_col: str = "text",
    weights: list[float] | None = None,
    out_col: str = "clf_score",
    round_to: int = 6,
) -> DataFrame:
    """Adds ``clf_score`` = sigmoid(mean weight of hashed features).

    Features = :func:`_hashed_buckets` (lowercased whitespace tokens +
    adjacent bigrams, md5-bucketed).  The weight vector rides the plan
    as a literal array; everything is JVM Column algebra — zero
    shuffle, zero Python — through the :func:`_bucket_score` fold.
    Empty documents score NULL.
    """
    W = weights if weights is not None else quality_clf_weights()
    return df.withColumn(
        out_col,
        _bucket_score(
            F.col(text_col), len(W), W,
            lambda total, n: F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-(total / n))), round_to
            ),
        ),
    )


def train_quality_clf(
    df: DataFrame,
    label_cond: Column,
    text_col: str = "text",
    dim: int | None = None,
    smoothing: float = 1.0,
) -> list[float]:
    """one-pass closed-form quality-classifier trainer: hashed Naive
    Bayes log-odds over labeled docs —
    ``w_j = ln((pos_j + s)/(P + dim·s)) − ln((neg_j + s)/(N + dim·s))``
    where pos_j/neg_j count bucket-``j`` feature occurrences in
    positive/negative documents and P/N are the class totals.  The
    returned vector threads straight into :func:`with_quality_clf`
    (``weights=``): scoring stays the same map-only plan-literal
    machinery, now with LEARNED weights.  Featurization is
    :func:`_hashed_buckets` — identical to the scorer's, so a
    DuckDB twin re-derives the trained weights bit-exactly from the
    same labeled table (the DSIR pattern, q_host_cap oracle).

    Scale shape: :func:`_bucket_counts`, the pass DSIR trains with.
    Reference bar: the reference engine has no model-based
    quality gate (SURVEY §2 LLM-ops addendum); semantics follow the
    fastText-style hashing-trick classifier (Joulin et al. 2016) with
    closed-form NB log-odds instead of SGD."""
    dim = dim if dim is not None else QUALITY_CLF_DIM
    # an unlabeled (NULL) document is neither class: counted, it would
    # add to the negatives through every - pos
    pos, every = _bucket_counts(
        df.filter(label_cond.isNotNull()), label_cond, text_col, dim
    )
    return _log_ratio(
        [smoothing + p for p in pos],
        [smoothing + (e - p) for p, e in zip(pos, every)],
    )


def _bigram_pair_buckets(toks: Column, dim: int) -> Column:
    """array<struct<c:int,b:int>> — one element per adjacent token
    pair: ``c`` = bucket of the context unigram, ``b`` = bucket of the
    joined bigram.  The LM trainer counts both sides from this ONE
    array (single explode, single int-key shuffle) and the scorer
    folds over it."""
    return F.transform(
        _word_ngrams(toks, 2),
        lambda g, i: F.struct(
            _md5_bucket(F.element_at(toks, i + 1), dim).alias("c"),
            _md5_bucket(g, dim).alias("b"),
        ),
    )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 256,
    smoothing: float = 1.0,
) -> tuple[list[float], list[float]]:
    """one-pass hashed bigram language model — the in-engine stand-in
    for CCNet's Wikipedia-trained KenLM perplexity filter (Wenzek et
    al. 2020): ``p(w2|w1) = (C_bi(b) + s) / (C_ctx(c) + s·dim)`` over
    md5-hashed buckets.  Returns ``(A, B)`` with ``A[b] = ln(C_bi(b)+s)``
    and ``B[c] = ln(C_ctx(c)+s·dim)`` — the two plan-literal arrays
    :func:`with_lm_perplexity` folds over.

    Train on a REFERENCE corpus slice (CCNet uses Wikipedia); score
    everything; high perplexity = unlike the reference.  Scale shape
    (the DSIR/NB pattern): both count tables come from ONE exploded
    (kind, bucket) pass — a single int-key shuffle into ≤ 2·dim groups
    with map-side partial agg — and an O(dim) driver collect; scoring
    is map-only JVM Column algebra.  md5 bucketing is single-sourced
    with the DuckDB twin, which re-derives the trained tables (ln
    counts) bit-compatibly at the oracle's 4 dp rounding."""
    pairs_arr = let(
        _doc_tokens(F.col(text_col)), lambda t: _bigram_pair_buckets(t, dim)
    )
    # one explode → (kind, bucket) rows: kind 0 counts the bigram
    # bucket, kind 1 the context bucket — one shuffle covers both
    counts = (
        df.select(F.explode(pairs_arr).alias("p"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("k"), F.col("p.b").alias("u")),
                    F.struct(F.lit(1).alias("k"), F.col("p.c").alias("u")),
                )
            ).alias("e")
        )
        .groupBy("e.k", "e.u")
        .count()
        .collect()
    )
    cbi = [0] * dim
    cctx = [0] * dim
    for r in counts:
        (cbi if r["k"] == 0 else cctx)[r["u"]] += int(r["count"])
    A = [math.log(cbi[b] + smoothing) for b in range(dim)]
    B = [math.log(cctx[c] + smoothing * dim) for c in range(dim)]
    return A, B


def with_lm_perplexity(
    df: DataFrame,
    model: tuple[list[float], list[float]],
    text_col: str = "text",
    out_col: str = "lm_ppl_d",
    round_to: int = 4,
) -> DataFrame:
    """Adds hashed-bigram-LM perplexity:
    ``ppl = exp(−(1/N) Σ_i [A[b_i] − B[c_i]])`` over the doc's adjacent
    token pairs — the CCNet head/middle/tail quality signal.  Map-only:
    the two log-count tables ride the plan as literal arrays (the
    quality-clf pattern), the pair array is let-bound so the tokenizer
    and the md5 bucketing run once per row.  Docs with < 2 tokens score
    NULL."""
    A, B = model
    dim = len(A)
    arrA = F.array(*[F.lit(float(x)) for x in A])
    arrB = F.array(*[F.lit(float(x)) for x in B])

    def score(pairs: Column) -> Column:
        total = F.aggregate(
            pairs,
            F.lit(0.0),
            lambda acc, p: acc
            + F.element_at(arrA, p["b"] + 1)
            - F.element_at(arrB, p["c"] + 1),
        )
        return F.when(
            F.size(pairs) > 0,
            F.round(F.exp(-(total / F.size(pairs))), round_to),
        )

    return df.withColumn(
        out_col,
        let(
            _doc_tokens(F.col(text_col)),
            lambda t: let(_bigram_pair_buckets(t, dim), score),
        ),
    )


DSIR_DIM = 256  # hashed feature space — single-sourced with the SQL twin
DSIR_SMOOTHING = 1.0  # add-k estimate smoothing, ditto


def dsir_importance(
    df: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    dim: int = DSIR_DIM,
    smoothing: float = DSIR_SMOOTHING,
) -> DataFrame:
    """Adds ``dsir_weight_d``: hashed n-gram importance log-ratio —
    DSIR (Xie et al. 2023, data selection via importance resampling).
    ``target_cond`` marks the in-domain slice (NULL counts as not
    target); each doc scores
    ``Σ_f [ln p_target(f) − ln p_raw(f)]`` over its hashed unigram +
    bigram features (add-``smoothing`` estimates).  Docs resembling
    the target slice score high; downstream sampling keeps
    proportionally (stratified_sample / top_k_per_key compose).

    Scale shape: phase 1 is :func:`_bucket_counts` (the classifier
    trainer's pass — the IVF-trainer pattern); phase 2 is map-only JVM
    Column algebra with the log-ratio table as a plan literal through
    :func:`_bucket_score` (the classifier scorer's fold), so corpus
    text is read but never shuffled.  Bucketing is md5-based
    (single-sourced with the DuckDB oracle, like clf_score); empty
    docs score NULL."""
    tgt, raw = _bucket_counts(df, F.coalesce(target_cond, F.lit(False)), text_col, dim)
    ratio = _log_ratio([smoothing + t for t in tgt], [smoothing + r for r in raw])
    return df.withColumn(
        "dsir_weight_d",
        _bucket_score(
            F.col(text_col), dim, ratio, lambda total, n: F.round(total, 4)
        ),
    )
