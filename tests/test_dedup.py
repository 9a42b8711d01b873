"""Dedup / similarity / textstats operator tests.

Synthetic corpus with planted exact duplicates, near-duplicates
(small edits), and unrelated documents — plus embedding ANN recall
checked against the brute-force baseline.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_semantic_etl_spark.operators import dedup as D
from open_semantic_etl_spark.operators import similarity as S
from open_semantic_etl_spark.operators import textstats as TS
from open_semantic_etl_spark.plans import checkpoint as C

_BASE = (
    "the quick brown fox jumps over the lazy dog while the busy farmer "
    "watches from the old wooden fence near the quiet river bank every "
    "single morning before the sun rises over the green hills"
)
# shares no word with _BASE, so the two never collide; a doc holding
# both texts collides with each (one LSH band apiece, different
# estimates) — two index docs one probe matches, where neither is a
# duplicate an ingest would drop
_KITCHEN = (
    "in a small kitchen downtown a patient cook slices onions peppers and "
    "garlic then simmers tomatoes with basil oregano and olive oil for hours "
    "so the sauce thickens slowly"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, _BASE),
        (1, _BASE),  # exact dup of 0
        (2, _BASE.replace("quick", "swift")),  # near dup (1 word)
        (3, _BASE.replace("morning", "evening").replace("green", "brown")),  # near dup
        (4, "completely different text about databases indexes and storage engines for analytics"),
        (5, "another unrelated document discussing climate research and ocean temperature models"),
        (6, ""),  # empty
        (7, _BASE + " with a small suffix added at the very end here"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, corpus):
    flagged = D.with_exact_dup_flag(corpus)
    dups = {r["doc_id"] for r in flagged.filter("is_duplicate").collect()}
    assert dups == {1}
    groups = D.exact_duplicate_groups(corpus).collect()
    assert len(groups) == 1 and groups[0]["ids"] == [0, 1]


def test_jaccard_pairs(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(corpus, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_minhash_lsh_candidates(spark, corpus):
    cands = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.lsh_candidate_pairs(corpus).collect()
    }
    # exact + near dups must be recalled
    assert (0, 1) in cands and cands[(0, 1)] == 1.0
    assert (0, 2) in cands
    assert (0, 7) in cands
    # unrelated docs must not collide
    assert (4, 5) not in cands
    assert (0, 4) not in cands


def test_simhash_candidates(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_candidate_pairs(corpus, max_hamming=6).collect()
    }
    assert got[(0, 1)] == 0  # identical text → identical simhash
    assert (0, 2) in got and got[(0, 2)] <= 6
    assert (0, 4) not in got


def test_simhash_deterministic(spark, corpus):
    a = {r["doc_id"]: r["simhash"] for r in D.with_simhash(corpus).collect()}
    b = {r["doc_id"]: r["simhash"] for r in D.with_simhash(corpus).collect()}
    assert a == b and a[0] == a[1] != 0


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(20, 16)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # 20..24: tiny perturbations of 0..4 → planted nearest neighbors
    for i in range(5):
        v = base[i] + 0.03 * rng.randn(16)
        rows.append((20 + i, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark, embeddings):
    out = S.brute_force_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1)
    top1 = {r["query_id"]: r["nbr_id"] for r in out.collect()}
    assert top1 == {0: 20, 1: 21, 2: 22, 3: 23, 4: 24}


def test_lsh_topk_recall(spark, embeddings):
    brute = S.brute_force_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1)
    approx = S.lsh_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1, dim=16)
    bt = {(r["query_id"], r["nbr_id"]) for r in brute.collect()}
    at = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    # planted twins are near-0 angle → every band collides → full recall
    assert bt <= at | bt and len(bt & at) >= 4  # ≥80% recall@1


def test_embedding_dup_pairs(spark, embeddings):
    pairs = {(r["id_a"], r["id_b"]) for r in D.embedding_dup_pairs(embeddings, threshold=0.99).collect()}
    assert {(0, 20), (1, 21), (2, 22), (3, 23), (4, 24)} <= pairs


def test_token_counts_and_quality(spark, corpus):
    out = TS.with_quality(TS.with_token_counts(corpus, "text"), "text")
    r = {x["doc_id"]: x for x in out.collect()}
    base_tokens = len(_BASE.split())
    assert r[0]["n_ws_tokens"] == base_tokens
    assert r[0]["n_bpe_tokens"] >= base_tokens
    assert r[6]["n_ws_tokens"] == 0 and r[6]["quality_score"] <= 0.5
    assert r[0]["quality_score"] == 1.0
    assert 0 < r[0]["stopword_ratio"] < 1
    assert r[0]["repetition_ratio"] > 0  # 'the' repeats


def test_fingerprints(spark, corpus):
    out = TS.with_fingerprint(corpus, "text")
    r = {x["doc_id"]: x for x in out.collect()}
    assert r[0]["fp_md5"] == r[1]["fp_md5"]
    assert r[0]["fp_rolling"] == r[1]["fp_rolling"]
    assert r[0]["fp_md5"] != r[2]["fp_md5"]


def test_signature_expr_udf_path_matches_jvm(spark):
    """the large-dim numpy signature path must bucket identically to the
    inline JVM expression (same planes, same signs)."""
    import numpy as np
    from pyspark.sql import functions as F

    from open_semantic_etl_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(24)]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    planes = S.random_planes(24, 16, seed=42)
    jvm = df.select("vec_id", S.signature_expr(F.col("embedding"), planes).alias("s"))
    try:
        orig = S._MAX_INLINE_COEFFS
        S._MAX_INLINE_COEFFS = 1  # force the numpy path
        udf = df.select("vec_id", S.signature_expr(F.col("embedding"), planes).alias("s"))
        got_j = {r["vec_id"]: r["s"] for r in jvm.collect()}
        got_u = {r["vec_id"]: r["s"] for r in udf.collect()}
    finally:
        S._MAX_INLINE_COEFFS = orig
    assert got_j == got_u


def test_signature_expr_udf_path_null_and_ragged(spark):
    """null or wrong-length embeddings must yield a NULL signature in the
    numpy path (matching the inline JVM path's null semantics), not an
    object-array matmul failure that kills the task (ADVICE r2)."""
    import numpy as np
    from pyspark.sql import functions as F

    from open_semantic_etl_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    rows = [
        (0, [float(x) for x in rng.randn(24)]),
        (1, None),
        (2, [1.0, 2.0]),  # ragged: wrong dim
        (3, [float(x) for x in rng.randn(24)]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    planes = S.random_planes(24, 16, seed=42)
    try:
        orig = S._MAX_INLINE_COEFFS
        S._MAX_INLINE_COEFFS = 1  # force the numpy path
        got = {
            r["vec_id"]: r["s"]
            for r in df.select(
                "vec_id", S.signature_expr(F.col("embedding"), planes).alias("s")
            ).collect()
        }
    finally:
        S._MAX_INLINE_COEFFS = orig
    assert got[1] is None and got[2] is None
    assert got[0] is not None and got[3] is not None


def test_signature_expr_jvm_path_null_and_ragged(spark):
    """the inline JVM path (24 dims × 16 planes) gives a null or
    wrong-length vector a NULL signature like the numpy path — not 0,
    which would put the row in every all-zero band of lsh_topk."""
    rng = np.random.RandomState(11)
    rows = [
        (0, [float(x) for x in rng.randn(24)]),
        (1, None),
        (2, [1.0, 2.0]),  # ragged: wrong dim
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    planes = S.random_planes(24, 16, seed=42)
    assert planes.size <= S._MAX_INLINE_COEFFS  # the JVM path
    got = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", S.signature_expr(F.col("embedding"), planes).alias("s")
        ).collect()
    }
    assert got[1] is None and got[2] is None
    assert got[0] is not None


def test_ngram_decontaminate(spark):
    """benchmark-overlap flagging: docs sharing an n-gram with the
    benchmark set are contaminated; clean docs get n_overlap 0."""
    from open_semantic_etl_spark.operators.dedup import ngram_decontaminate

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a totally different sentence with no shared window here"),
            (2, "xx quick brown fox jumps zz"),  # shares one 3-gram span
            (3, None),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps",)], "text string"
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["is_contaminated"])
        for r in ngram_decontaminate(docs, bench, n=3).collect()
    }
    # bench 3-grams: {the quick brown, quick brown fox, brown fox jumps}
    assert out[0] == (3, 1)
    assert out[1] == (0, 0)
    assert out[2] == (2, 1)  # quick brown fox + brown fox jumps
    assert out[3] == (0, 0)


def test_dup_clusters(spark):
    """connected components over pair edges: a 5-node chain (worst case
    for min-label propagation — needs multiple rounds), a 2-clique, and
    an isolated pair; keeper = min id per component."""
    from open_semantic_etl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        # chain 9-7-5-3-1 (edges listed high→low so labels must travel),
        # clique {2,4}, pair {10,20}
        [(9, 7), (7, 5), (5, 3), (3, 1), (2, 4), (4, 2), (10, 20)],
        "id_a long, id_b long",
    )
    out = {
        r["id"]: (r["cluster_id"], r["is_keeper"])
        for r in dup_clusters(pairs).collect()
    }
    assert out == {
        1: (1, 1), 3: (1, 0), 5: (1, 0), 7: (1, 0), 9: (1, 0),
        2: (2, 1), 4: (2, 0),
        10: (10, 1), 20: (10, 0),
    }


def test_repetition_signals(spark):
    """Gopher repetition tier: hand-computed expectations on a crafted doc.

    doc 1: "ab cd ab cd ab cd" — 17 chars, toks [ab,cd]*3:
      2-grams: 'ab cd'×3, 'cd ab'×2  -> top2 = 3*5/17
      5-grams: 'ab cd ab cd ab'×1, 'cd ab cd ab cd'×1 -> dup5 = 0
    doc 2: three lines, 'same line' twice + 'other' once:
      dup_line_frac = 1 - 2/3; dup_line_char_frac = 18/23
    doc 3: 'x y '*6 (trailing strip) — 5-gram 'x y x y x'×4,
      'y x y x y'×4 -> dup5 = 8*9/23, clipped to 1.0
    """
    rows = [
        (1, "ab cd ab cd ab cd"),
        (2, "same line\nother\nsame line"),
        (3, ("x y " * 6).strip()),
        (4, ""),  # all-zero row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in TS.with_repetition(df, "text").orderBy("doc_id").collect()
    }
    assert out[1]["top2gram_char_frac"] == round(15 / 17, 4)
    assert out[1]["dup5gram_char_frac"] == 0.0
    assert out[2]["dup_line_frac"] == round(1 - 2 / 3, 4)
    assert out[2]["dup_line_char_frac"] == round(18 / 23, 4)
    assert out[3]["dup5gram_char_frac"] == 1.0
    assert all(out[4][c] == 0.0 for c in out[4].asDict() if c.endswith("_frac"))


def test_ivf_topk_recall(spark, embeddings):
    """IVF k-means cells recall the planted twins like the LSH path:
    a 0.03-perturbation twin lands in (or adjacent to) the query's
    nearest cell, so nprobe=2 over 4 cells must recover it."""
    brute = S.brute_force_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1)
    approx = S.ivf_topk(
        embeddings, query_ids=[0, 1, 2, 3, 4], k=1, k_cells=4, nprobe=2
    )
    bt = {(r["query_id"], r["nbr_id"]) for r in brute.collect()}
    at = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    assert len(bt & at) >= 4  # ≥80% recall@1


def test_ivf_centroids_deterministic(spark, embeddings):
    c1 = S.train_centroids(embeddings, k_cells=4, iters=3)
    c2 = S.train_centroids(embeddings.repartition(7), k_cells=4, iters=3)
    assert (c1 == c2).all()  # bit-identical across partitionings


def test_dedup_paragraphs(spark):
    rows = [
        (1, "NAV\n\nbody one\n\nFOOT"),
        (2, "NAV\n\nbody two\n\nFOOT"),
        (3, "solo\n\nunique"),
        (4, "NAV"),
        (5, "a\n\n\n\nb"),         # empty paragraph is structure: kept
        (6, "dup\n\ndup"),          # within-doc repeat ≠ cross-doc dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_paragraphs(df).collect()}
    assert out[1]["text_dedup"] == "body one" and out[1]["n_dropped"] == 2
    assert out[2]["text_dedup"] == "body two"
    assert out[3]["text_dedup"] == "solo\n\nunique" and out[3]["n_dropped"] == 0
    assert out[4]["text_dedup"] == "" and out[4]["n_dropped"] == 1
    assert out[5]["text_dedup"] == "a\n\n\n\nb"  # byte-preserved
    assert out[6]["text_dedup"] == "dup\n\ndup"
    assert out[1]["n_paragraphs"] == 3


def test_curation_verdict(spark):
    good = ("the quick brown fox jumps over the lazy dog while the busy "
            "farmer watches from the old wooden fence near the quiet river "
            "bank every single morning before the sun rises over the green "
            "hills and the day begins again for all of them out there as "
            "birds sing loud songs in tall trees beside that clear water")
    rows = [
        (1, good),
        (2, "1234 5678 " * 30),            # digits + stopwords fail
        (3, "word " * 10),                  # too few tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TS.with_curation(df, "text").collect()}
    assert out[1]["keep_i"] == 1 and out[1]["drop_reasons_s"] == ""
    assert out[2]["keep_i"] == 0
    assert "digits" in out[2]["drop_reasons_s"].split(",")
    assert "tokens" in out[3]["drop_reasons_s"].split(",")
    # reasons are sorted and stable
    r2 = out[2]["drop_reasons_s"].split(",")
    assert r2 == sorted(r2)


def test_gopher_signals_and_rules(spark):
    """Gopher table A1 line/word signals: bullet- and ellipsis-heavy
    docs and symbol/non-alpha-dominated docs fire their rules; a normal
    doc fires none of the four."""
    good = " ".join(f"the word{i}alpha" for i in range(60))
    rows = [
        (1, good),
        (2, "\n".join(f"- item {i}" for i in range(10))),      # bullets
        (3, "\n".join(f"line {i} goes on..." for i in range(10))),  # ellipsis
        (4, " ".join("12345" for _ in range(60))),             # no alpha words
        (5, ("yes # no # " * 30).strip()),                     # symbol-heavy
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TS.with_curation(df, "text").collect()}
    for rule, doc in (("bullets", 2), ("ellipsis", 3), ("alpha_words", 4), ("symbols", 5)):
        assert rule in out[doc]["drop_reasons_s"].split(","), (rule, doc)
    gone = {"bullets", "ellipsis", "alpha_words", "symbols"}
    assert not gone & set(out[1]["drop_reasons_s"].split(","))
    sig = {r["doc_id"]: r for r in TS.with_gopher_signals(df, "text").collect()}
    assert sig[2]["bullet_line_frac"] == 1.0
    assert sig[3]["ellipsis_line_frac"] == 1.0
    assert sig[4]["alpha_word_frac"] == 0.0
    assert sig[5]["symbol_word_ratio"] == 0.5
    assert sig[6]["bullet_line_frac"] == 0.0 and sig[6]["alpha_word_frac"] == 0.0


def test_curation_lang_gate(spark):
    rows = [(1, "x " * 60, "en"), (2, "x " * 60, "xx")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in TS.with_curation(df, "text", lang_col="lang").collect()}
    assert "lang" not in out[1]["drop_reasons_s"].split(",")
    assert "lang" in out[2]["drop_reasons_s"].split(",")


def test_chunk_tokens_windows(spark):
    from open_semantic_etl_spark.operators.textstats import chunk_tokens

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    rows = chunk_tokens(df, size=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,3,6 — the start-6 window reaches the end, so no
    # start-9 tail (it would be fully contained in the previous window)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_i"])
    assert [r["chunk_txt"] for r in c1] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9",
    ]
    assert [r["n_chunk_tokens"] for r in c1] == [4, 4, 4]
    # short doc: single window, tail kept
    assert [(r["chunk_txt"], r["n_chunk_tokens"]) for r in by_doc[2]] == [("a b", 2)]
    # empty / null docs emit zero rows
    assert 3 not in by_doc and 4 not in by_doc


def test_chunk_overlap_is_size_minus_stride(spark):
    from open_semantic_etl_spark.operators.textstats import chunk_tokens

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(300)))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_tokens(df, size=128, stride=96).collect(), key=lambda r: r["chunk_i"]
    )
    a, b = rows[0]["chunk_txt"].split(" "), rows[1]["chunk_txt"].split(" ")
    assert a[96:] == b[:32]  # 128-96 = 32 tokens of shared context


def test_chunk_tokens_coverage_sweep(spark):
    """exact-coverage property over every doc length 0..40 × three
    (size, stride) shapes, one Spark job per shape: chunks concatenated
    with the overlap removed reconstruct the token stream exactly (no
    token lost, none duplicated beyond the declared overlap), and the
    window count matches the closed form 1 + ceil((n-size)/stride)."""
    import math

    from open_semantic_etl_spark.operators.textstats import chunk_tokens

    docs = [(n, " ".join(f"w{i}" for i in range(n))) for n in range(41)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for size, stride in [(8, 6), (5, 5), (16, 1)]:
        rows = chunk_tokens(df, size=size, stride=stride).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for n in range(41):
            chunks = sorted(by_doc.get(n, []), key=lambda r: r["chunk_i"])
            want = 0 if n == 0 else (1 if n <= size else 1 + math.ceil((n - size) / stride))
            assert len(chunks) == want, (n, size, stride, len(chunks))
            rebuilt = []
            for i, c in enumerate(chunks):
                toks = c["chunk_txt"].split(" ")
                start = i * stride if i < len(chunks) - 1 else n - len(toks)
                assert toks == [f"w{j}" for j in range(start, start + len(toks))]
                rebuilt[start:] = toks  # overlap overwrites identical tokens
            assert rebuilt == [f"w{j}" for j in range(n)], (n, size, stride)


def test_top_k_per_key_hot_key(spark):
    from open_semantic_etl_spark.functions.skew import top_k_per_key

    rows = [(i, "hot" if i % 2 == 0 else f"h{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = top_k_per_key(df, "host", k=5, order_col="doc_id", id_col="doc_id")
    got = {r["doc_id"]: r["kept_i"] for r in out.collect()}
    assert len(got) == 100  # row-preserving: verdict column, no filtering
    # hot host: the 5 lowest even doc_ids survive
    assert [i for i in sorted(got) if i % 2 == 0 and got[i]] == [0, 2, 4, 6, 8]
    # a sparse host with < k members keeps everything
    h1 = [i for i in sorted(got) if i % 2 and i % 3 == 1]
    assert all(got[i] for i in h1[:5]) and all(not got[i] for i in h1[5:])


def test_top_k_per_key_null_key_is_own_group(spark):
    """NULL keys form their own capped group (row_number window
    semantics) — a plain equality join left them cutoff-less and
    dropped every unparseable-host row (review regression)."""
    from open_semantic_etl_spark.functions.skew import top_k_per_key

    rows = [(i, None if i < 8 else "h") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = top_k_per_key(df, "host", k=3, order_col="doc_id", id_col="doc_id")
    got = {r["doc_id"]: r["kept_i"] for r in out.collect()}
    assert [i for i in sorted(got) if got[i] and i < 8] == [0, 1, 2]
    assert [i for i in sorted(got) if got[i] and i >= 8] == [8, 9, 10]


def test_top_k_per_key_matches_window(spark):
    """salted two-phase result == the naive window semantics."""
    from pyspark.sql import Window

    from open_semantic_etl_spark.functions.skew import top_k_per_key

    rows = [((i * 37) % 211, f"k{i % 7}") for i in range(211)]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = {
        (r["doc_id"], r["key"]): r["kept_i"]
        for r in top_k_per_key(df, "key", k=9, order_col="doc_id", id_col="doc_id", buckets=4).collect()
    }
    w = Window.partitionBy("key").orderBy("doc_id")
    want = {
        (r["doc_id"], r["key"]): int(r["rn"] <= 9)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_quality_clf_score(spark):
    from open_semantic_etl_spark.operators.textstats import (
        quality_clf_weights,
        with_quality_clf,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, ""),
            (4, None),
            (5, "single"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clf_score"] for r in with_quality_clf(df).collect()}
    # deterministic: identical text → identical score, inside (0, 1)
    assert got[1] == got[2] and 0.0 < got[1] < 1.0
    # empty / null text → NULL (no features)
    assert got[3] is None and got[4] is None
    # single token: unigram-only path works
    assert got[5] is not None
    # custom weights change the score (the model IS the vector)
    w2 = [w * -1 for w in quality_clf_weights()]
    got2 = {r["doc_id"]: r["clf_score"] for r in with_quality_clf(df, weights=w2).collect()}
    assert abs(got2[1] - (1 - got[1])) < 1e-5  # sigmoid(-x) = 1 - sigmoid(x)


def test_dup_clusters_long_chain_converges(spark):
    """a 40-hop chain needs ~log2(40) pointer-jumping rounds, and every
    resulting cluster carries exactly one keeper (non-convergence used
    to return keeper-less split clusters silently)."""
    import pytest

    from open_semantic_etl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    rows = dup_clusters(pairs, max_iter=10).collect()
    clusters = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r)
    assert set(clusters) == {0} and len(rows) == 41
    assert sum(r["is_keeper"] for r in rows) == 1
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iter=1)


def test_decontaminate_skips_sub_n_texts(spark):
    """a benchmark shorter than n tokens contributes no grams — a
    shared first word must not flag contamination (GPT-3 scheme)."""
    from open_semantic_etl_spark.operators.dedup import ngram_decontaminate

    docs = spark.createDataFrame(
        [(1, "paris is lovely"), (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("paris",)], "text string")
    got = {r["doc_id"]: r["is_contaminated"] for r in
           ngram_decontaminate(docs, bench, n=5).collect()}
    assert got[1] == 0 and got[2] == 0


def test_curation_null_lang_drops(spark):
    from open_semantic_etl_spark.operators.textstats import with_curation

    good = " ".join(f"the word{i}alpha" for i in range(40))
    df = spark.createDataFrame(
        [(1, good, "en"), (2, good, None), (3, good, "zh")],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: (r["keep_i"], r["drop_reasons_s"]) for r in
           with_curation(df, "text", lang_col="lang").collect()}
    assert got[1][0] == 1
    assert got[2][0] == 0 and "lang" in got[2][1]  # NULL lang fails CLOSED
    assert got[3][0] == 0 and "lang" in got[3][1]


def test_exact_substring_spans(spark):
    """Lee et al. 2021 exact-substring semantics: cross-doc shared runs
    and within-doc self-repeats both count; islands merge; short docs
    contribute nothing (hand-verified expectations)."""
    from open_semantic_etl_spark.operators.dedup import exact_substring_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g x y z"),   # shares "a b c d e f g" with 2
            (2, "q r a b c d e f g"),
            (3, "m n o p q m n o p q"),   # self-repeat -> whole doc dup
            (4, "u1 u2 u3 u4 u5 u6"),     # unique
            (5, "s t"),                   # sub-n
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["total_tokens"], r["dup_tokens"], r["dup_spans"])
        for r in exact_substring_spans(df, n=5).collect()
    }
    assert got[1] == (10, 7, 1)
    assert got[2] == (9, 7, 1)
    assert got[3] == (10, 10, 1)  # two overlapping occurrences merge
    assert got[4] == (6, 0, 0)
    assert got[5] == (2, 0, 0)


def test_exact_substring_matches_bruteforce(spark):
    """randomized corpus vs an independent pure-Python oracle: the set
    of duplicated token positions (union of >=min_count n-grams) and
    the maximal-span count must match exactly."""
    import random

    from open_semantic_etl_spark.operators.dedup import exact_substring_spans

    rng = random.Random(42)
    n = 4
    docs = []
    vocab = [f"w{i}" for i in range(30)]
    for i in range(60):
        length = rng.randint(0, 25)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(length))))

    # independent oracle
    from collections import Counter

    grams = Counter()
    tokd = {}
    for i, t in docs:
        # match the split(r"\s+") contract: empty text -> [""]
        w = t.lower().strip().split() if t.strip() else [""]
        tokd[i] = w
        for p in range(len(w) - n + 1):
            grams[tuple(w[p : p + n])] += 1
    expect = {}
    for i, w in tokd.items():
        covered = set()
        starts = [
            p for p in range(len(w) - n + 1) if grams[tuple(w[p : p + n])] >= 2
        ]
        for p in starts:
            covered.update(range(p, p + n))
        spans = 0
        prev = None
        for tok in sorted(covered):
            if prev is None or tok > prev + 1:
                spans += 1
            prev = tok
        expect[i] = (len(covered), spans)

    got = {
        r["doc_id"]: (r["dup_tokens"], r["dup_spans"])
        for r in exact_substring_spans(
            spark.createDataFrame(docs, "doc_id long, text string"), n=n
        ).collect()
    }
    assert got == expect


def test_exact_substring_spans_n50_equals_brute_lce(spark):
    """Lee et al. 2021 §3.2 operating point (min-match 50 tokens): the
    positional-gram island merge must equal a brute-force
    longest-common-EXTENSION twin — for every pair of corpus positions,
    extend the match as far as it goes; matches ≥ n mark their full
    extent.  The twin shares no code or algorithm with the operator
    (extension-based, not gram-hash-based), so agreement pins the
    semantics: gram-coverage == union of repeated substrings of
    length ≥ n."""
    from open_semantic_etl_spark.operators.dedup import exact_substring_spans

    n = 50
    shared60 = [f"s{i}" for i in range(60)]
    shared49 = [f"t{i}" for i in range(49)]  # below threshold
    rep55 = [f"r{i}" for i in range(55)]
    tokd = {
        0: [f"u{i}" for i in range(20)] + shared60 + [f"u{20+i}" for i in range(20)],
        1: [f"v{i}" for i in range(10)] + shared60 + [f"v{10+i}" for i in range(20)] + shared49,
        2: [f"w{i}" for i in range(10)] + shared49 + [f"w{10+i}" for i in range(10)],
        3: rep55 + [f"x{i}" for i in range(10)] + rep55,  # within-doc repeat
        4: [f"y{i}" for i in range(80)],  # unique
        5: shared60[:30] + ["z0"] + shared60[30:],  # split → pieces < n
    }
    docs = [(i, " ".join(w)) for i, w in tokd.items()]

    # brute twin: all-pairs longest common extension
    occ = [(i, p) for i, w in tokd.items() for p in range(len(w))]
    covered = {i: set() for i in tokd}
    for ai in range(len(occ)):
        i, pi = occ[ai]
        for bi in range(ai + 1, len(occ)):
            j, pj = occ[bi]
            if i == j and pi == pj:
                continue
            m = 0
            wi, wj = tokd[i], tokd[j]
            while (
                pi + m < len(wi) and pj + m < len(wj) and wi[pi + m] == wj[pj + m]
            ):
                m += 1
            if m >= n:
                covered[i].update(range(pi, pi + m))
                covered[j].update(range(pj, pj + m))
    expect = {}
    for i, w in tokd.items():
        spans, prev = 0, None
        for tok in sorted(covered[i]):
            if prev is None or tok > prev + 1:
                spans += 1
            prev = tok
        expect[i] = (len(covered[i]), spans)
    assert expect[0] == (60, 1) and expect[2] == (0, 0)  # fixture sanity
    assert expect[3] == (110, 2) and expect[5] == (0, 0)

    got = {
        r["doc_id"]: (r["dup_tokens"], r["dup_spans"])
        for r in exact_substring_spans(
            spark.createDataFrame(docs, "doc_id long, text string"), n=n
        ).collect()
    }
    assert got == expect


def test_incremental_lsh_probe_matches_batch_relation(spark, corpus, tmp_path):
    """probe-against-index must reproduce exactly the cross-set subset
    of the whole-corpus band-collision relation (the property the
    driver oracle derives from the golden), and novel = complement."""
    idx_docs = corpus.filter(F.col("doc_id") % 2 == 0)
    probe_docs = corpus.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "lsh_index")
    D.build_lsh_index(idx_docs, path)
    probed = D.probe_lsh_index(probe_docs, path).collect()

    batch = D.lsh_candidate_pairs(corpus).collect()
    want = {
        (r.id_a if r.id_a % 2 == 0 else r.id_b,
         r.id_b if r.id_a % 2 == 0 else r.id_a): r.est_jaccard
        for r in batch
        if (r.id_a % 2) != (r.id_b % 2)
    }
    got = {(r.index_id, r.probe_id): r.est_jaccard for r in probed if r.matched}
    assert got == want
    novel = {r.probe_id for r in probed if not r.matched}
    matched_probe = {p for _, p in got}
    all_probe = {r.doc_id for r in probe_docs.collect()}
    assert novel == all_probe - matched_probe
    assert all(r.index_id is None and r.est_jaccard is None
               for r in probed if not r.matched)


def test_incremental_lsh_append_extends_index(spark, corpus, tmp_path):
    """a second ingest batch appends: the probe then collides with
    members of BOTH batches (the append-only ingest flow)."""
    path = str(tmp_path / "idx")

    def docs(*rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    D.dedup_ingest_batch(spark, docs((0, _BASE)), path, "b1", id_col="doc_id")
    probe = docs((2, _BASE + " " + _KITCHEN))  # near-dup of 0 and of 7
    first = {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}
    assert first == {0}
    D.dedup_ingest_batch(spark, docs((7, _KITCHEN)), path, "b2", id_col="doc_id")
    second = {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}
    assert second == {0, 7}


def test_incremental_lsh_probe_shuffle_carries_no_signatures(spark, corpus, tmp_path):
    """the pair join must exchange only (_bb, band, bh, ids) — a sig
    column riding that shuffle is the payload-shuffle anti-pattern the
    r3 review caught in lsh_topk."""
    path = str(tmp_path / "idx2")
    D.build_lsh_index(corpus.filter(F.col("doc_id") % 2 == 0), path)
    plan = D.probe_lsh_index(
        corpus.filter(F.col("doc_id") % 2 == 1), path
    )._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "sig" not in m.group(1), m.group(0)


def test_pq_topk_recall(spark, embeddings):
    """PQ/ADC over the compressed corpus (dim 16, m=4, ks=8 → 4 codes
    per vector) still recalls the planted 0.03-perturbation twins:
    quantization error ≪ the gap between a twin and an unrelated
    vector."""
    brute = S.brute_force_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1)
    approx = S.pq_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1, m=4, ks=8)
    bt = {(r["query_id"], r["nbr_id"]) for r in brute.collect()}
    at = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    assert len(bt & at) >= 4  # ≥80% recall@1


def test_ivfpq_topk_recall(spark, embeddings):
    """the composed IVF∘PQ path still recalls the planted twins: cell
    routing prunes the scan and quantization error stays below the
    twin/unrelated gap."""
    brute = S.brute_force_topk(embeddings, query_ids=[0, 1, 2, 3, 4], k=1)
    approx = S.ivfpq_topk(
        embeddings, query_ids=[0, 1, 2, 3, 4], k=1, m=4, ks=8, nprobe=4
    )
    bt = {(r["query_id"], r["nbr_id"]) for r in brute.collect()}
    at = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    assert len(bt & at) >= 4  # ≥80% recall@1


def test_ivfpq_candidates_subset_of_probed_cells(spark, embeddings):
    """every IVF∘PQ result must come from the query's probed cells, and
    no Exchange may carry the embedding column (the corpus flows as
    (id, cell, codes) only after encoding)."""
    import re as _re

    plan = (
        S.ivfpq_topk(embeddings, query_ids=[0, 1], k=2, m=4, ks=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1), m.group(0)


def test_semdedup_pairs_subset_of_brute_and_recalls_twins(spark, embeddings):
    """SemDeDup's cell partition can only REMOVE pairs relative to the
    exact all-pairs scan (never add), and the planted 0.03-perturbation
    twins land in the same cell (quantization error ≪ twin distance),
    so they all survive."""
    brute = {
        (r.id_a, r.id_b): r.cos
        for r in D.embedding_dup_pairs(embeddings, threshold=0.9).collect()
    }
    sd = {
        (r.id_a, r.id_b): r.cos
        for r in D.semdedup_pairs(embeddings, threshold=0.9).collect()
    }
    assert set(sd) <= set(brute)
    assert all(brute[p] == sd[p] for p in sd)  # identical scores
    twins = {p for p, c in brute.items() if c >= 0.99}
    assert twins and twins <= set(sd)  # every planted twin pair found


def test_pq_codebooks_deterministic_and_dim_guard(spark, embeddings):
    b1 = S.train_pq_codebooks(embeddings, m=4, ks=8, iters=3)
    b2 = S.train_pq_codebooks(embeddings.repartition(5), m=4, ks=8, iters=3)
    assert (b1 == b2).all()
    with pytest.raises(ValueError, match="not divisible"):
        S.train_pq_codebooks(embeddings, m=5, ks=8)


def test_pq_scored_rows_carry_codes_not_vectors(spark, embeddings):
    """the ADC scan reads m ints per row — the embedding column must
    not appear downstream of the encode (the whole point of PQ at
    10^12 rows), and no vector may ride an Exchange."""
    import re as _re

    plan = (
        S.pq_topk(embeddings, query_ids=[0, 1], k=2, m=4, ks=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1), m.group(0)


def test_incremental_lsh_meta_guards_family_params(spark, corpus, tmp_path):
    """the index's record decides its LSH family: an ingest takes no
    family arguments and appends in the recorded family, so it can
    never probe or grow an index in another band space.
    A rebuild over an empty frame starts an ingest-grown index in a
    non-default family."""
    for name, seed in (("idx_meta", [0]), ("idx_meta_empty", [])):
        path = str(tmp_path / name)
        D.build_lsh_index(
            corpus.filter(F.col("doc_id").isin(seed)), path, bands=8, n_buckets=4
        )
        if not seed:
            D.dedup_ingest_batch(
                spark, corpus.filter(F.col("doc_id") == 0), path, "b0", id_col="doc_id"
            )
        # the recorded family: doc 1 (exact dup of 0) collides and
        # drops, doc 5 lands with 8 band rows in the 4 recorded buckets
        kept = D.dedup_ingest_batch(
            spark, corpus.filter(F.col("doc_id").isin([1, 5])), path, "b1",
            id_col="doc_id",
        )
        assert [r.doc_id for r in kept.collect()] == [5], name
        bands5 = C.read_table(spark, f"{path}/bands").filter(F.col("_id") == 5).collect()
        assert len(bands5) == 8 and all(r._bb < 4 for r in bands5), name


def test_crashed_rebuild_keeps_the_old_index(spark, corpus, tmp_path, monkeypatch):
    """a rebuild in another family is one commit: one that crashes
    before its log entry leaves the old index whole, probing in the
    family its tables record — never new-family sigs beside old-family
    bands, which would hash in the wrong band space and silently miss
    duplicates."""
    from test_pipeline_resume import crash_at

    path = str(tmp_path / "idx_crashed_rebuild")
    D.build_lsh_index(corpus, path)
    for point in ("_write_files", "_create_entry"):
        with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
            crash_at(m, point)
            D.build_lsh_index(corpus, path, bands=8, n_buckets=4)
        tables = C.snapshot(path).tables
        for table in ("bands", "sigs"):
            assert tables[table]["layout"]["record"]["bands"] == 16, (point, table)
        probed = D.probe_lsh_index(corpus.filter(F.col("doc_id") == 1), path).collect()
        assert 0 in {r.index_id for r in probed if r.matched}, point


def test_index_tables_record_their_family(spark, corpus, tmp_path):
    """each index table records the index's bucket count and LSH family
    in its own layout record: a build in the family it is given, a
    first ingest on a fresh path in the default one."""
    built, ingested = str(tmp_path / "rec_built"), str(tmp_path / "rec_ingested")
    D.build_lsh_index(corpus, built, bands=8, n_buckets=4)
    D.dedup_ingest_batch(
        spark, corpus.filter(F.col("doc_id") == 0), ingested, "b0", id_col="doc_id"
    )
    for path, n_buckets, bands in ((built, 4, 8), (ingested, 64, 16)):
        snap = C.snapshot(path)
        for table in ("bands", "sigs"):
            assert snap.buckets((table,)) == n_buckets, (path, table)
            assert snap.tables[table]["layout"]["record"] == {
                "num_hashes": 64, "bands": bands, "shingle_n": 3, "n_buckets": n_buckets,
            }, (path, table)


def test_legacy_json_only_index_must_be_rebuilt(spark, corpus, tmp_path):
    """an index whose family lives only in a ``_lsh_meta.json`` beside
    tables with no commit log (the layout of earlier builds) raises on
    probe, ingest, delete and compaction, naming build_lsh_index; the
    rebuild serves it again."""
    import json
    import shutil

    path = str(tmp_path / "idx_legacy")
    D.build_lsh_index(corpus, path)
    shutil.rmtree(f"{path}/_log")
    with open(f"{path}/_lsh_meta.json", "w") as f:
        json.dump({"num_hashes": 64, "bands": 16, "shingle_n": 3, "n_buckets": 64}, f)
    probe = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0
    for op in (
        lambda: D.probe_lsh_index(probe, path),
        lambda: D.dedup_ingest_batch(spark, probe, path, "b1", id_col="doc_id"),
        lambda: D.delete_from_lsh_index(spark, path, [0]),
        lambda: D.compact_lsh_index(spark, path),
    ):
        with pytest.raises(ValueError, match="build_lsh_index"):
            op()
    D.build_lsh_index(corpus, path)
    assert 0 in {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}


def test_incremental_lsh_partial_first_build_is_empty_index(spark, corpus, tmp_path, monkeypatch):
    """a first build that crashes before its log entry leaves no index,
    whatever files it wrote (the build is one commit): the probe treats
    it as empty (all novel), not wedge every streaming retry."""
    from test_pipeline_resume import crash_at

    path = str(tmp_path / "idx_partial")
    for point in ("_write_files", "_create_entry"):
        with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
            crash_at(m, point)
            D.build_lsh_index(corpus, path)
        probed = D.probe_lsh_index(corpus.limit(2), path).collect()
        assert len(probed) == 2 and not any(r.matched for r in probed), point


@pytest.fixture(scope="module")
def ingested_index(spark, corpus, tmp_path_factory):
    """an index grown by three ingests (several files per bucket): doc
    0 in batch ``b1``, docs 4 and 5 in ``b2``, doc 8 in ``b3``"""
    path = str(tmp_path_factory.mktemp("lsh") / "idx")
    kitchen = spark.createDataFrame([(8, _KITCHEN)], "doc_id long, text string")
    for bid, batch in (
        ("b1", corpus.filter(F.col("doc_id") == 0)),
        ("b2", corpus.filter(F.col("doc_id").isin([4, 5]))),
        ("b3", kitchen),
    ):
        D.dedup_ingest_batch(spark, batch, path, bid, id_col="doc_id")
    return path


def test_compaction_crash_window_recovers(spark, corpus, ingested_index, tmp_path, monkeypatch):
    """a compaction that crashes at any point of its commit leaves every
    row of every index table readable once, and the probe still finds
    the collision — a whole corpus index never reads as empty; the
    rerun converges.  The clean run leaves one file per bucket."""
    from test_pipeline_resume import CRASH_POINTS, assert_crash_matrix

    assert_crash_matrix(spark, monkeypatch, ingested_index, tmp_path,
                        lambda root: D.compact_lsh_index(spark, root), changes=False)
    probe = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0
    for name in ("clean", *CRASH_POINTS):
        root = str(tmp_path / name)
        assert 0 in {r.index_id for r in D.probe_lsh_index(probe, root).collect() if r.matched}
        files = C.snapshot(root).tables["bands"]["files"]
        assert len(files) == len({f.split("/")[0] for f in files}), name


def test_crash_matrix_lsh_build_and_expire(spark, ingested_index, tmp_path, monkeypatch):
    """a rebuild in another family and a batch expiry, each one commit
    over every index table it touches"""
    from test_pipeline_resume import assert_crash_matrix

    kitchen = spark.createDataFrame([(8, _KITCHEN)], "doc_id long, text string")
    assert_crash_matrix(spark, monkeypatch, ingested_index, tmp_path / "build",
                        lambda root: D.build_lsh_index(kitchen, root, bands=8, n_buckets=4))
    assert_crash_matrix(spark, monkeypatch, ingested_index, tmp_path / "expire",
                        lambda root: D.expire_lsh_batches(spark, root, ["b2"], strict=False))


def test_dsir_importance_prefers_target_like_docs(spark):
    """docs sharing the target slice's vocabulary must outscore
    off-domain docs; empty docs score NULL; weights deterministic."""
    rows = (
        [(i, "quantum physics research on entanglement and decoherence theory")
         for i in range(4)]
        + [(10 + i, "quantum entanglement decoherence experiments in physics labs")
           for i in range(4)]
        + [(20 + i, "celebrity gossip fashion trends red carpet photos tonight")
           for i in range(4)]
        + [(30, "")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TS.dsir_importance(df, F.col("doc_id") < 10)  # physics = target
    got = {r.doc_id: r.dsir_weight_d for r in out.collect()}
    assert got[30] is None
    # physics-adjacent docs (10-13) score above the gossip docs (20-23)
    assert min(got[i] for i in (10, 11, 12, 13)) > max(got[i] for i in (20, 21, 22, 23))
    out2 = {r.doc_id: r.dsir_weight_d
            for r in TS.dsir_importance(df.repartition(7), F.col("doc_id") < 10).collect()}
    assert got == out2  # partitioning-independent


def test_dsir_importance_null_target_counts_as_not_target(spark):
    """a NULL ``target_cond`` is "not target" in every bucket — also in
    one whose every occurrence is NULL, which used to sum to NULL and
    raise TypeError in the driver's count loop."""
    rows = [("alpha beta", None), ("gamma delta", True)]
    nulls = spark.createDataFrame(rows, "text string, flag boolean")
    falses = spark.createDataFrame(
        [(t, bool(f)) for t, f in rows], "text string, flag boolean"
    )
    got = {r.text: r.dsir_weight_d
           for r in TS.dsir_importance(nulls, F.col("flag")).collect()}
    want = {r.text: r.dsir_weight_d
            for r in TS.dsir_importance(falses, F.col("flag")).collect()}
    assert got == want
    assert got["gamma delta"] > got["alpha beta"]


def test_train_quality_clf_separates_target_class(spark):
    """closed-form hashed-NB training: held-out docs sharing the
    positive class's vocabulary must outscore negative-like docs, and
    the learned weights must be partitioning-independent (the same
    determinism contract as DSIR)."""
    rows = (
        [(i, "peer reviewed research methodology with careful citations and rigorous analysis")
         for i in range(4)]
        + [(10 + i, "clickbait listicle you won't believe these shocking celebrity secrets")
           for i in range(4)]
        # held-out: class vocabulary, ids outside the training label rule
        + [(20, "rigorous peer reviewed analysis citations methodology research")]
        + [(21, "shocking celebrity clickbait secrets listicle believe")]
        + [(30, "")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = TS.train_quality_clf(df, F.col("doc_id") < 10)
    assert len(w) == TS.QUALITY_CLF_DIM
    w2 = TS.train_quality_clf(df.repartition(7), F.col("doc_id") < 10)
    assert w == w2
    out = TS.with_quality_clf(df, "text", weights=w, out_col="s", round_to=4)
    got = {r.doc_id: r.s for r in out.collect()}
    assert got[30] is None
    assert min(got[i] for i in (0, 1, 2, 3)) > 0.5 > max(got[i] for i in (10, 11, 12, 13))
    assert got[20] > 0.5 > got[21]  # held-out separation


def test_train_quality_clf_skips_null_labels(spark):
    """a document whose label is NULL is unlabeled, not a negative:
    training must give the same weights as training without it."""
    rows = [
        (0, True, "peer reviewed research methodology with careful citations"),
        (1, True, "rigorous analysis of research methodology and citations"),
        (2, False, "clickbait listicle you won't believe these shocking secrets"),
        (3, False, "shocking celebrity secrets clickbait listicle"),
        # same texts as labeled rows, so every bucket also holds a
        # labeled document and only the NULL handling can move a weight
        (4, None, "peer reviewed research methodology with careful citations"),
        (5, None, "shocking celebrity secrets clickbait listicle"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, good boolean, text string")
    w = TS.train_quality_clf(df, F.col("good"))
    w_labeled = TS.train_quality_clf(df.filter(F.col("good").isNotNull()), F.col("good"))
    assert w == w_labeled


def test_bigram_lm_perplexity_prefers_reference_like_docs(spark):
    """CCNet filter shape: docs resembling the reference slice get
    LOWER perplexity than off-domain docs; < 2-token docs score NULL;
    training is partitioning-independent."""
    ref = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = (
        [(i, ref) for i in range(4)]
        + [(10, "the quick brown fox jumps over the river")]  # in-domain
        + [(11, "zebra xylophone quantum widget flux harmonics dial")]  # OOV
        + [(20, "single")]
        + [(21, "")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = TS.train_bigram_lm(df.filter(F.col("doc_id") < 10))
    model2 = TS.train_bigram_lm(df.filter(F.col("doc_id") < 10).repartition(5))
    assert model == model2
    got = {r.doc_id: r.lm_ppl_d for r in TS.with_lm_perplexity(df, model).collect()}
    assert got[20] is None and got[21] is None
    # in-domain docs sit well below the all-OOV doc (between two
    # in-domain docs the add-dim smoothing dominates at this toy size,
    # so only the in/out separation is a stable property)
    assert max(got[0], got[10]) < got[11]
    assert got[0] >= 1.0  # perplexity is bounded below by 1


def test_lsh_overwrite_reparameterizes_and_meta_self_heals(spark, corpus, tmp_path):
    """a rebuild may change the family (it rewrites everything, the
    tables' records included) and the probe follows the record; a torn
    write of the next log entry stays under its hidden temp name, where
    neither the probe nor the next rebuild reads it."""
    path = str(tmp_path / "idx_meta2")
    probe = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0

    def matched():
        return {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}

    D.build_lsh_index(corpus, path)
    D.build_lsh_index(corpus, path, bands=8)
    # 8-row bands share no hash with 4-row ones: a probe in the
    # default family would find nothing
    assert {0, 1} <= matched()
    with open(f"{path}/_log/.3.deadbeef.tmp", "w") as f:
        f.write('{"op": "bu')  # truncated write
    assert {0, 1} <= matched()
    D.build_lsh_index(corpus, path, bands=8)
    assert C.snapshot(path).version == 3
    assert {0, 1} <= matched()


def test_lsh_probe_raises_on_conflicting_layout(spark, corpus, tmp_path):
    """a probe over an already-corrupt mixed flat/_epoch layout must
    RAISE, not silently report every doc novel (the exact failure the
    old blanket AnalysisException catch hid).  Files no log
    entry names are invisible, so the corrupt layout is logged here."""
    import os

    path = str(tmp_path / "idx_mixed")
    D.build_lsh_index(corpus.filter(F.col("doc_id") == 0), path)
    # corrupt the layout the way the pre-guard epoch append did
    bands = C.read_table(spark, f"{path}/bands")
    bands.write.mode("overwrite").partitionBy("_bb").parquet(f"{path}/bands/_epoch=3")
    added = [
        os.path.relpath(os.path.join(d, f), f"{path}/bands")
        for d, _s, fs in os.walk(f"{path}/bands/_epoch=3") for f in fs if f.endswith(".parquet")
    ]
    entry = {"op": "corrupt", "id": None, "tables": {"bands": {"add": added, "remove": []}}}
    assert C._create_entry(path, C.snapshot(path).version + 1, entry)
    with pytest.raises(Exception, match="[Cc]onflicting"):
        D.probe_lsh_index(corpus.filter(F.col("doc_id") == 1), path).collect()


def test_lsh_orphan_sig_rows_do_not_duplicate_matches(spark, corpus, tmp_path):
    """an index holding a doc's (_id, sig) row twice (a build over a
    frame that repeats the doc) must not fan each collision out to
    multiple matched rows."""
    path = str(tmp_path / "idx_orphan")
    doc0 = corpus.filter(F.col("doc_id") == 0)
    D.build_lsh_index(doc0.unionByName(doc0), path)
    assert C.read_table(spark, f"{path}/sigs").count() == 2
    probed = D.probe_lsh_index(corpus.filter(F.col("doc_id") == 1), path).collect()
    matched = [(r.index_id, r.probe_id) for r in probed if r.matched]
    assert matched == [(0, 1)]  # one row, not two


def _index_file_hashes(root):
    import hashlib
    import os

    out = {}
    for sub in ("bands", "sigs"):
        for d, _s, fs in os.walk(f"{root}/{sub}"):
            for f in fs:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_delete_from_lsh_index_removes_doc_and_prunes_buckets(spark, corpus, tmp_path):
    """delete → probe no longer matches the removed doc; every file in
    a bucket the deleted doc did NOT touch stays byte-identical (the
    merge_by_url bucket-pruning contract applied to the index)."""
    import os

    path = str(tmp_path / "idx_del")
    D.build_lsh_index(corpus, path)
    probe = corpus.filter(F.col("doc_id") == 1)
    before = {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}
    assert 0 in before and 2 in before
    # independent read-side derivation of the buckets doc 0 occupies
    doc0_bb = {
        r[0]
        for r in C.read_table(spark, f"{path}/bands")
        .filter(F.col("_id") == 0).select("_bb").distinct().collect()
    }
    doc0_sb = {
        r[0]
        for r in C.read_table(spark, f"{path}/sigs")
        .filter(F.col("_id") == 0).select("_sb").distinct().collect()
    }
    snap = _index_file_hashes(path)
    D.delete_from_lsh_index(spark, path, [0])
    after = {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}
    assert after == before - {0}
    assert 0 not in {
        r[0] for r in C.read_table(spark, f"{path}/sigs").select("_id").collect()
    }
    now = _index_file_hashes(path)
    touched = {f"bands/_bb={b}" for b in doc0_bb} | {f"sigs/_sb={b}" for b in doc0_sb}
    for rel in set(snap) | set(now):
        bucket_dir = os.path.dirname(rel)
        if bucket_dir in touched:
            continue
        assert snap.get(rel) == now.get(rel), f"untouched bucket file changed: {rel}"


def test_delete_from_lsh_index_edge_cases(spark, corpus, tmp_path):
    """absent ids are a no-op; DataFrame input works; a path that is
    not an index raises loudly."""
    path = str(tmp_path / "idx_del2")
    with pytest.raises(FileNotFoundError):
        D.delete_from_lsh_index(spark, str(tmp_path / "nonexistent"), [0])
    # n_buckets=4 so every bucket holds rows: deleting an absent id
    # must leave even its would-be bucket byte-identical (the rewrite
    # keys on where deleted rows EXIST, not where they would hash)
    D.build_lsh_index(corpus, path, n_buckets=4)
    snap = _index_file_hashes(path)
    D.delete_from_lsh_index(spark, path, [999999])  # not indexed
    assert _index_file_hashes(path) == snap
    ids_df = spark.createDataFrame([(4,)], "doc_id long")
    D.delete_from_lsh_index(spark, path, ids_df)
    assert 4 not in {
        r[0] for r in C.read_table(spark, f"{path}/sigs").select("_id").collect()
    }


def test_delete_crash_window_recovers(spark, ingested_index, tmp_path, monkeypatch):
    """a delete is one commit over both tables: a crash at any point of
    it leaves the index before or after it, and the rerun holds."""
    from test_pipeline_resume import assert_crash_matrix

    assert_crash_matrix(spark, monkeypatch, ingested_index, tmp_path,
                        lambda root: D.delete_from_lsh_index(spark, root, [0, 5]))
    for table in ("bands", "sigs"):
        ids = {r._id for r in C.read_table(spark, f"{tmp_path}/clean/{table}").collect()}
        assert ids == {4, 8}, table


def test_dedup_ingest_batch_flow_and_committed_replay(spark, corpus, tmp_path):
    """the productized batch-ingest API: batch 2's dups against batch 1
    drop, novel docs append; replaying a COMMITTED batch_id returns the
    recorded keep-set without growing the index."""
    path = str(tmp_path / "ing")
    b1 = corpus.filter(F.col("doc_id").isin([0, 4]))
    k1 = D.dedup_ingest_batch(spark, b1, path, batch_id="b1", id_col="doc_id")
    assert {r.doc_id for r in k1.collect()} == {0, 4}
    # 1 = exact dup of 0, 2 = near dup of 0, 5 = novel
    b2 = corpus.filter(F.col("doc_id").isin([1, 2, 5]))
    k2 = D.dedup_ingest_batch(spark, b2, path, batch_id="b2", id_col="doc_id")
    assert {r.doc_id for r in k2.collect()} == {5}
    n_bands = C.read_table(spark, f"{path}/bands").count()
    k2b = D.dedup_ingest_batch(spark, b2, path, batch_id="b2", id_col="doc_id")
    assert {r.doc_id for r in k2b.collect()} == {5}
    assert C.read_table(spark, f"{path}/bands").count() == n_bands


def test_dedup_ingest_batch_scans_bands_once(spark, corpus, tmp_path, monkeypatch):
    """one ingest reads the persisted bands table once: the probe's
    novel ids are materialized before the keep-set plan, whose
    branches would each re-derive (and rescan) them."""
    import re

    path = str(tmp_path / "ing_scan")
    D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") < 4), path,
                         batch_id="b1", id_col="doc_id")
    plans = []
    local_checkpoint = type(corpus).localCheckpoint

    def recording(df, *args, **kwargs):
        plans.append(spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(corpus), "localCheckpoint", recording)
    kept = D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") >= 4), path,
                                batch_id="b2", id_col="doc_id")
    assert {r.doc_id for r in kept.collect()} == {4, 5, 6}
    # a formatted plan details each node in its own paragraph; a bands
    # scan is the one whose output carries the bands bucket column _bb
    scans = [node for plan in plans for node in plan.split("\n\n")
             if re.match(r"\(\d+\) Scan parquet", node) and "_bb" in node]
    assert len(scans) == 1, scans


def test_dedup_ingest_batch_within_batch_dedup(spark, corpus, tmp_path):
    """colliding docs within one batch keep the smaller id (the
    stream_dedup_ingest rule)."""
    path = str(tmp_path / "ing2")
    b = corpus.filter(F.col("doc_id").isin([0, 1, 4]))  # 1 dups 0
    k = D.dedup_ingest_batch(spark, b, path, batch_id="x", id_col="doc_id")
    assert {r.doc_id for r in k.collect()} == {0, 4}


def test_dedup_ingest_batch_all_dup_batch_replays_empty(spark, corpus, tmp_path):
    """a batch that is entirely duplicate records an EMPTY keep-set;
    replaying that committed batch_id must return zero rows, not crash
    on schema inference over a footer-less marker dir."""
    path = str(tmp_path / "ing5")
    D.dedup_ingest_batch(
        spark, corpus.filter(F.col("doc_id") == 0), path,
        batch_id="b1", id_col="doc_id",
    )
    dup_batch = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0
    k = D.dedup_ingest_batch(spark, dup_batch, path, batch_id="b2", id_col="doc_id")
    assert k.count() == 0
    k2 = D.dedup_ingest_batch(spark, dup_batch, path, batch_id="b2", id_col="doc_id")
    assert k2.count() == 0  # committed replay of the empty keep-set


def test_expire_lsh_batches_ttl_sweep(spark, corpus, tmp_path):
    """retention: expiring a committed batch removes exactly its docs
    from the index (probe stops matching them, other batches survive),
    drops its keep-set, and an unknown batch_id raises."""
    path = str(tmp_path / "ttl")
    D.dedup_ingest_batch(
        spark, corpus.filter(F.col("doc_id") == 0), path,
        batch_id="old", id_col="doc_id",
    )
    D.dedup_ingest_batch(
        spark, corpus.filter(F.col("doc_id") == 4), path,
        batch_id="new", id_col="doc_id",
    )
    probe = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0
    assert any(
        r.matched for r in D.probe_lsh_index(probe, path, id_col="doc_id").collect()
    )
    D.expire_lsh_batches(spark, path, ["old"])
    assert not any(
        r.matched for r in D.probe_lsh_index(probe, path, id_col="doc_id").collect()
    )
    assert D.list_lsh_batches(path) == ["new"]
    sig_ids = [r[0] for r in C.read_table(spark, f"{path}/sigs").select("_id").collect()]
    assert sig_ids == [4]  # the other batch survives
    with pytest.raises(FileNotFoundError, match="never committed"):
        D.expire_lsh_batches(spark, path, ["ghost"])
    # crash-retry recipe: a sweep that already removed some markers
    # re-runs with strict=False and skips them instead of wedging
    D.expire_lsh_batches(spark, path, ["old", "new"], strict=False)
    assert D.list_lsh_batches(path) == []


def test_rebuild_drops_the_batch_manifest(spark, tmp_path):
    """a rebuild replaces every ingested batch's rows, so it drops
    their manifest too: expiring a batch ingested before the rebuild
    must not delete the rebuilt copy of a doc that batch once kept."""
    path = str(tmp_path / "rebuilt")

    def pages(*rows):
        return spark.createDataFrame(rows, "url string, text string")

    D.dedup_ingest_batch(spark, pages(("a://1", _BASE)), path, "a")
    D.build_lsh_index(pages(("a://1", _BASE), ("a://2", _KITCHEN)), path, id_col="url")
    assert D.list_lsh_batches(path) == []
    D.expire_lsh_batches(spark, path, ["a"], strict=False)
    probed = D.probe_lsh_index(pages(("p://1", _BASE)), path, id_col="url").collect()
    assert [r.index_id for r in probed if r.matched] == ["a://1"]


def test_lsh_paths_and_batch_ids_validated(spark, corpus, tmp_path):
    """URI-schemed index paths raise loudly (os-path presence checks
    would read a remote index as absent and admit every duplicate);
    path-breaking batch_ids are refused up front."""
    with pytest.raises(NotImplementedError, match="driver-local"):
        D.probe_lsh_index(corpus, "s3a://bucket/lsh")
    with pytest.raises(NotImplementedError, match="driver-local"):
        D.build_lsh_index(corpus, "hdfs://nn/lsh")
    path = str(tmp_path / "ids")
    with pytest.raises(ValueError, match="batch_id"):
        D.dedup_ingest_batch(
            spark, corpus.limit(1), path, batch_id="2026/08/21", id_col="doc_id"
        )


def test_dedup_ingest_batch_crash_resume(spark, corpus, tmp_path, monkeypatch):
    """an ingest that crashed before its log entry left the index as it
    was, and the retry recomputes the batch; one that crashed after its
    entry (before deleting nothing: an append replaces no file) is
    committed, and the retry replays its recorded keep-set.  Either
    way the index holds the batch exactly once."""
    from test_pipeline_resume import crash_at

    path = str(tmp_path / "ing3")
    b1 = corpus.filter(F.col("doc_id").isin([0, 4]))
    D.dedup_ingest_batch(spark, b1, path, batch_id="b1", id_col="doc_id")
    bands_before = C.read_table(spark, f"{path}/bands").count()
    b2 = corpus.filter(F.col("doc_id").isin([1, 5]))
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_create_entry")
        D.dedup_ingest_batch(spark, b2, path, batch_id="b2", id_col="doc_id")
    assert C.read_table(spark, f"{path}/bands").count() == bands_before
    assert D.list_lsh_batches(path) == ["b1"]
    k2 = D.dedup_ingest_batch(spark, b2, path, batch_id="b2", id_col="doc_id")
    assert {r.doc_id for r in k2.collect()} == {5}

    b3 = spark.createDataFrame([(8, _KITCHEN)], "doc_id long, text string")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_reap")
        D.dedup_ingest_batch(spark, b3, path, batch_id="b3", id_col="doc_id")
    assert D.list_lsh_batches(path) == ["b1", "b2", "b3"]
    k3 = D.dedup_ingest_batch(spark, b3, path, batch_id="b3", id_col="doc_id")
    assert {r.doc_id for r in k3.collect()} == {8}
    sig_ids = [r[0] for r in C.read_table(spark, f"{path}/sigs").select("_id").collect()]
    assert sorted(sig_ids) == [0, 4, 5, 8]  # exactly once each


def test_crash_matrix_lsh_ingest(spark, corpus, ingested_index, tmp_path, monkeypatch):
    """an ingest: its sigs and bands appends and its keep-set, one commit"""
    from test_pipeline_resume import assert_crash_matrix

    batch = corpus.filter(F.col("doc_id").isin([1, 2, 6]))
    assert_crash_matrix(spark, monkeypatch, ingested_index, tmp_path,
                        lambda root: D.dedup_ingest_batch(spark, batch, root, "b4", id_col="doc_id"))


def test_build_after_crashed_compaction_recovers_first(spark, corpus, tmp_path, monkeypatch):
    """an ingest arriving after a compaction that crashed with its
    rewritten files in the bucket dirs, before its log entry, appends to
    the logged index: doc 0's band rows are there once, neither lost nor
    doubled by the crashed compaction's files."""
    from test_pipeline_resume import crash_at

    path = str(tmp_path / "idx_crash2")
    D.dedup_ingest_batch(
        spark, corpus.filter(F.col("doc_id") == 0), path, "b1", id_col="doc_id"
    )
    n_bands = C.read_table(spark, f"{path}/bands").count()
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_create_entry")
        D.compact_lsh_index(spark, path)
    D.dedup_ingest_batch(  # append
        spark, corpus.filter(F.col("doc_id") == 4), path, "b2", id_col="doc_id"
    )
    probe = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0
    got = {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}
    assert 0 in got  # doc 0's bands survived the crash + append
    bands = C.read_table(spark, f"{path}/bands")
    assert bands.filter(F.col("_id") == 0).count() == n_bands


def test_compaction_crash_recovers_on_glob_special_path(spark, corpus, tmp_path, monkeypatch):
    """the log treats the index path literally: on a path holding glob
    metacharacters, a compaction that crashed before its log entry
    leaves the logged rows readable, and its rerun keeps them all."""
    from test_pipeline_resume import crash_at

    path = str(tmp_path / "idx[ab]")
    D.build_lsh_index(corpus, path)

    def rows():
        return sorted(map(repr, C.read_table(spark, f"{path}/bands").collect()))

    before = rows()
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_create_entry")
        D.compact_lsh_index(spark, path)
    assert rows() == before
    D.compact_lsh_index(spark, path)
    assert rows() == before
    probe = corpus.filter(F.col("doc_id") == 1)  # exact dup of 0
    assert 0 in {r.index_id for r in D.probe_lsh_index(probe, path).collect() if r.matched}


def test_commit_batch_staging_tolerates_concurrent_committer(
    spark, corpus, tmp_path, monkeypatch
):
    """two ingests that started from the same log version race for the
    next entry: the loser re-reads the log and commits on top of the
    winner instead of failing or dropping either batch."""
    path = str(tmp_path / "ing_race")
    D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") == 0), path, "b0", id_col="doc_id")
    create_entry, raced = C._create_entry, []

    def racing(root, version, entry):
        if entry["id"] == "b1" and not raced:
            raced.append(version)  # the other writer commits this version first
            D.dedup_ingest_batch(
                spark, corpus.filter(F.col("doc_id") == 5), path, "b2", id_col="doc_id"
            )
        return create_entry(root, version, entry)

    monkeypatch.setattr(C, "_create_entry", racing)
    D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") == 4), path, "b1", id_col="doc_id")
    monkeypatch.undo()
    assert raced == [2] and C.snapshot(path).version == 3
    assert D.list_lsh_batches(path) == ["b0", "b1", "b2"]
    sig_ids = [r[0] for r in C.read_table(spark, f"{path}/sigs").select("_id").collect()]
    assert sorted(sig_ids) == [0, 4, 5]


def test_ingest_racing_a_rebuild_is_refused(spark, corpus, tmp_path, monkeypatch):
    """an ingest that loses the race to a rebuild in another family must
    not land its old-family band rows on the rebuilt tables: it raises,
    and its retry appends in the recorded family."""
    from test_pipeline_resume import assert_dirs_hold_live_files

    path = str(tmp_path / "ing_rebuild")
    D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") == 0), path, "b0", id_col="doc_id")
    create_entry = C._create_entry

    def rebuild_first(root, version, entry):
        if entry["op"] == "ingest" and C.snapshot(path).version == 1:
            D.build_lsh_index(corpus.filter(F.col("doc_id") == 0), path, bands=8, n_buckets=4)
        return create_entry(root, version, entry)

    batch = corpus.filter(F.col("doc_id") == 4)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="conflicts"):
        m.setattr(C, "_create_entry", rebuild_first)
        D.dedup_ingest_batch(spark, batch, path, "b1", id_col="doc_id")
    assert C.snapshot(path).version == 2 and D.list_lsh_batches(path) == []
    assert_dirs_hold_live_files(path)  # the refused ingest deleted its files
    D.dedup_ingest_batch(spark, batch, path, "b1", id_col="doc_id")
    bands = C.read_table(spark, f"{path}/bands").collect()
    assert {r._id for r in bands} == {0, 4} and all(r._bb < 4 for r in bands)
    assert len([r for r in bands if r._id == 4]) == 8


def test_ingest_during_compaction_keeps_its_rows(spark, corpus, tmp_path, monkeypatch):
    """an ingest that commits while compact_lsh_index runs (after the
    compaction read the index, before its entry) keeps all its band and
    sig rows: the compaction replaces only the files it read, so it
    commits on top of the ingest."""
    path = str(tmp_path / "ing_compact")
    D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") == 0), path, "b0", id_col="doc_id")
    D.dedup_ingest_batch(spark, corpus.filter(F.col("doc_id") == 4), path, "b1", id_col="doc_id")
    create_entry = C._create_entry

    def ingest_first(root, version, entry):
        if entry["op"] == "compact" and not D.list_lsh_batches(path)[2:]:
            D.dedup_ingest_batch(
                spark, corpus.filter(F.col("doc_id") == 5), path, "b2", id_col="doc_id"
            )
        return create_entry(root, version, entry)

    monkeypatch.setattr(C, "_create_entry", ingest_first)
    D.compact_lsh_index(spark, path)
    monkeypatch.undo()
    assert D.list_lsh_batches(path) == ["b0", "b1", "b2"]
    for table in ("sigs", "bands"):
        ids = [r._id for r in C.read_table(spark, f"{path}/{table}").collect()]
        assert set(ids) == {0, 4, 5}, table
        assert ids.count(5) == (1 if table == "sigs" else 16), table
    assert C.snapshot(path).version == 4  # the compaction landed on top


def test_lsh_probe_keeps_max_estimate_for_reingested_id(spark, corpus, tmp_path):
    """an id appended twice with different texts carries two sigs; the
    probe reports ONE row for the pair, with the higher estimate — not
    whichever row a dropDuplicates happened to keep."""
    texts = {0: _BASE, 7: _KITCHEN}
    probe = spark.createDataFrame(  # near dup of 0 and of 7
        [(2, _BASE + " " + _KITCHEN)], "doc_id long, text string"
    )

    def doc99(text):
        return spark.createDataFrame([(99, text)], "doc_id long, text string")

    def estimates(path):
        return [
            (r.index_id, r.est_jaccard)
            for r in D.probe_lsh_index(probe, path).collect()
            if r.matched
        ]

    single = {}
    for src in (0, 7):
        path = str(tmp_path / f"idx_only{src}")
        D.build_lsh_index(doc99(texts[src]), path)
        ((_, single[src]),) = estimates(path)
    assert single[0] != single[7]
    path = str(tmp_path / "idx_twice")
    for src in (0, 7):  # same id, new text: novel, so it appends
        D.dedup_ingest_batch(spark, doc99(texts[src]), path, f"b{src}", id_col="doc_id")
    assert estimates(path) == [(99, max(single.values()))]
