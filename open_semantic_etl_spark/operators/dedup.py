"""Deduplication operators for large-scale corpus curation.

Beyond the reference's per-field value dedupe (etl.py:296 —
``list(set(...))``), a training-data pipeline needs document-level
dedup. All variants are shuffle-conscious:

- exact:   one shuffle on the 128-bit content hash (never the text);
- MinHash+LSH: signatures map-side (JVM-only expressions), one shuffle
  on (band_id, band_hash) to form candidate buckets — the standard
  shingle→minhash→band→bucket-join pipeline (Broder 1997 resemblance /
  LSH banding per Mining of Massive Datasets ch.3);
- SimHash: 64-bit fingerprints map-side (vectorized numpy in a pandas
  UDF), candidates via 4×16-bit band exchange (Charikar 2002 /
  Manku et al. 2007 near-duplicate detection);
- n-gram Jaccard: exact verification on candidate pairs (or full
  O(n²) within small blocks for oracle checking).

At 10^12 docs: every variant keys its single shuffle by a short hash,
AQE splits skewed buckets (stop-word shingles are pre-hashed away by
banding), and candidate verification joins fetch only the two text
columns needed.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from open_semantic_etl_spark.functions.binding import let
from open_semantic_etl_spark.operators.textstats import _word_ngrams
from open_semantic_etl_spark.plans.checkpoint import (
    Commit,
    Snapshot,
    bucket_expr,
    buckets_of,
    snapshot,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def with_exact_dup_flag(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """is_duplicate: every row after the first (by id) with identical text."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    w = W.partitionBy(h).orderBy(F.col(id_col))
    return df.withColumn("content_md5", h).withColumn(
        "is_duplicate", F.row_number().over(w) > 1
    )


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """groups with >1 member: (content_md5, n_dups, member ids)."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    return (
        df.select(F.col(id_col), h.alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.count("*").alias("n_dups"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    sep: str = "\n\n",
) -> DataFrame:
    """corpus-wide paragraph dedup (the CCNet / RefinedWeb line-dedup
    recipe): drop every paragraph that appears — trimmed-exact — in
    ``>= min_docs`` DISTINCT documents; boilerplate (nav bars, cookie
    banners, footers) repeats across pages while body text does not.

    Adds ``text_dedup`` (surviving paragraphs re-joined with ``sep``,
    original order and whitespace-only paragraphs preserved),
    ``n_paragraphs`` (non-empty), ``n_dropped``.

    Scale shape: per-doc paragraph hashing and within-doc dedup are
    map-side array algebra (``transform``/``array_distinct`` — no
    explode-then-distinct shuffle); the only wide ops are the frequency
    count keyed by the 128-bit hash and the doc-id regroup of the
    (typically small) dup-hit set; the final filter runs JVM-side
    against the original text via a left join, so docs with no shared
    paragraph never shuffle their text.
    """
    paras = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    # empty/whitespace paragraphs are structure, not content: excluded
    # from frequency counting and always kept on reassembly
    phs = F.array_distinct(
        F.filter(
            F.transform(paras, lambda p: F.when(F.trim(p) != "", F.md5(F.trim(p)))),
            lambda h: h.isNotNull(),
        )
    )
    ex = df.select(F.col(id_col).alias("_id"), F.explode(phs).alias("ph"))
    dup_hashes = (
        ex.groupBy("ph")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("ph")
    )
    doc_dups = (
        ex.join(dup_hashes, "ph")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("ph")).alias("_dup_phs"))
    )
    out = df.join(doc_dups, df[id_col] == doc_dups["_id"], "left").drop("_id")
    dup_set = F.coalesce(F.col("_dup_phs"), F.array().cast("array<string>"))
    kept = F.filter(
        paras,
        lambda p: (F.trim(p) == "") | ~F.array_contains(dup_set, F.md5(F.trim(p))),
    )
    nonempty = lambda arr: F.size(F.filter(arr, lambda p: F.trim(p) != ""))  # noqa: E731
    return (
        out.withColumn("text_dedup", F.array_join(kept, sep))
        .withColumn("n_paragraphs", nonempty(paras))
        .withColumn("n_dropped", nonempty(paras) - nonempty(kept))
        .drop("_dup_phs")
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH banding — all JVM-side expressions
# ---------------------------------------------------------------------------


def _words(text: Column) -> Column:
    """the dedup tokenizer: lowercase, trim, split on whitespace."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_shingles(text: Column, n: int = 3, pad_short: bool = True) -> Column:
    """lowercased word n-grams (distinct), pure Column expression.

    ``pad_short=True`` (the MinHash contract: a signature needs a
    non-empty set) falls back to the first word when the text has
    fewer than ``n`` tokens; set-membership semantics (decontamination)
    pass ``pad_short=False`` so a sub-n document contributes NO grams —
    a 1-word "13-gram" would otherwise flag false contamination.

    The token array is let-bound (functions/binding.py) so the
    tokenizing split runs once per row — captured free in the
    per-gram lambda it re-ran per ELEMENT (~230×/doc, the single
    hottest line of the decontamination scan before binding)."""

    def shingles(words: Column) -> Column:
        grams = _word_ngrams(words, n)
        if pad_short:
            grams = F.when(F.size(words) >= n, grams).otherwise(F.array(words[0]))
        return F.array_distinct(grams)

    return let(_words(text), shingles)


def _minhash_batch_factory(num_hashes: int, shingle_n: int):
    """numpy MinHash: one shingle pass per row, then all permutations as
    a single uint64 matrix op (affine family h_j = a_j*h + b_j, wrap
    arithmetic — the classic Broder construction).

    Why a UDF and not Column HOFs: a nested ``transform(sequence(j),
    transform(shingles, …))`` re-evaluates the shingle-building
    expression once per permutation (Catalyst inlines the argument),
    turning O(|doc|) into O(64·|doc|) with interpreted lambdas — 500
    docs took minutes. Here the shingle set is built once and the 64
    minima are one vectorized ``(A[:,None]*H+B).min(axis=1)``.
    """
    import zlib

    rng = np.random.RandomState(42)
    A = (rng.randint(1, 2**62, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64)

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").lower().split()
            if not toks:
                out.append([0] * num_hashes)
                continue
            if len(toks) >= shingle_n:
                grams = {
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                }
            else:
                grams = {toks[0]}
            H = np.fromiter(
                (
                    (zlib.crc32(g.encode()) << 32) | zlib.crc32(g.encode(), 0x9E3779B9)
                    for g in grams
                ),
                dtype=np.uint64,
                count=len(grams),
            )
            sig = (A[:, None] * H[None, :] + B[:, None]).min(axis=1)
            out.append([int(x) for x in sig.view(np.int64)])
        return pd.Series(out)

    return batch


def minhash_signature(text: Column, num_hashes: int = 64, shingle_n: int = 3) -> Column:
    """array<long> MinHash signature column (Arrow-batched numpy UDF)."""
    udf = F.pandas_udf(
        _minhash_batch_factory(num_hashes, shingle_n), T.ArrayType(T.LongType())
    )
    return udf(text)


def _signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(_id, sig): the caller's ``signatures`` (``id_col, sig``), else
    the MinHash of ``text_col``."""
    if signatures is not None:
        return signatures.select(F.col(id_col).alias("_id"), F.col("sig"))
    return df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(F.col(text_col), num_hashes, shingle_n).alias("sig"),
    )


def _band_table(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, sig) → (_id, band, bh): one row per LSH band, band hash =
    xxhash64 over the signature slice — the ~20 B/row key-only shape
    every LSH shuffle in this module carries (never the signature)."""
    rows = num_hashes // bands
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                )
            ).alias("bh"),
        ),
    )
    return sig.select("_id", F.explode(band_arr).alias("bb")).select(
        "_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """candidate near-dup pairs (id_a < id_b) that share ≥1 LSH band.

    rows/bands trade precision for recall: 64 hashes in 16 bands of 4
    targets Jaccard ≳ (1/16)^(1/4) ≈ 0.5.

    Shuffle shape (the 100 TB concern): the band exchange carries ONLY
    ``(id, band, band_hash)`` — ~20 B/row, 16 rows/doc — never the
    512 B signature (which the old plan shipped 16× per doc). The full
    signatures are re-joined on the candidate PAIR set afterwards for
    ``est_jaccard``; candidates ≪ corpus, so AQE broadcasts the pair
    side and the signature table never shuffles at all. Production runs
    pass ``signatures`` (``id, sig``) from a persisted signature table
    so MinHash is computed once per doc; when omitted, the signature
    plan is evaluated per join branch (fine at test scale).
    """
    sig = _signatures(df, text_col, id_col, num_hashes, shingle_n, signatures)
    exploded = _band_table(sig, num_hashes, bands)
    # one short-key shuffle: bucket-join on (band, band_hash)
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, on=["band", "bh"], how="inner")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # signatures re-join ONLY the candidate set (broadcast-able)
    sa = sig.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", _est_jaccard("sig_a", "sig_b", num_hashes).alias("est_jaccard"))
    )


def _est_jaccard(a: str, b: str, num_hashes: int) -> Column:
    """MinHash Jaccard estimate: the share of equal signature slots."""
    same = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return F.size(same) / F.lit(num_hashes)


# ---------------------------------------------------------------------------
# incremental LSH: persisted band index, probe-new-batch-against-corpus
# ---------------------------------------------------------------------------
#
# The 100 TB dedup problem is incremental: each ingest batch must dedup
# against the ENTIRE existing corpus without recomputing it.  The index
# is a root (plans/checkpoint.py) of bucketed tables, each recording the
# LSH family (num_hashes, bands, shingle_n) beside n_buckets in its
# layout:
#
#   <path>/bands/_bb=<k>/…   (_id, band, bh)  hive-partitioned on
#                            _bb = pmod(xxhash64(bh), n_buckets)
#   <path>/sigs/_sb=<k>/…    (_id, sig)       partitioned on
#                            _sb = pmod(xxhash64(_id), n_buckets)
#   <path>/_batch=<id>/…     (_id) the keep-set of each committed ingest
#
# Every operation is one commit of the index's log: build_lsh_index
# creates the tables in its family, dedup_ingest_batch appends in the
# family they record (the default on a fresh index) and adds its
# keep-set, delete, expiry and compaction rewrite buckets.  So a reader
# sees an index before or after an operation, never between its tables'
# writes.  Probe shape: the batch's band table joins index bands on
# (band, bh) — key-only shuffle, ~20 B/row, the same trim as
# lsh_candidate_pairs; `_bb` rides along so the parquet scan
# partition-prunes when the probe batch is small relative to n_buckets
# (and Spark's dynamic partition pruning applies when it is selective).
# Signatures rejoin ONLY the candidate pair set (candidates ≪ corpus →
# AQE broadcasts them; the index signature table never shuffles).
# Ingest appends touch only the buckets the new batch hashes into — the
# merge_by_url bucket-pruning rule applied to the dedup index.

# the default family: build_lsh_index's defaults, and a fresh
# index's first dedup_ingest_batch
_LSH_FAMILY = {"num_hashes": 64, "bands": 16, "shingle_n": 3, "n_buckets": 64}
_INDEX_TABLES = {"bands": "_bb", "sigs": "_sb"}  # table -> its bucket column
_BATCH = "_batch="  # + batch id: the table of an ingest's keep-set


def _band_rows(sig: DataFrame, family: dict) -> DataFrame:
    """the band table of ``sig`` in ``family``, bucketed on ``_bb``."""
    return _band_table(sig, family["num_hashes"], family["bands"]).withColumn(
        "_bb", bucket_expr("bh", family["n_buckets"])
    )


def _index_family(snap: Snapshot, fresh: dict | None = None) -> dict:
    """the LSH family (with ``n_buckets``) the index's tables record;
    ``fresh`` (else FileNotFoundError) when there is no index.  Tables
    with data under a root without a log predate it: guessing would
    miss collisions, so that raises."""
    bands = snap.table("bands")
    if bands is not None:
        return bands["layout"]["record"]
    if fresh is None:
        raise FileNotFoundError(f"no LSH index at {snap.root}")
    return fresh


def build_lsh_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = _LSH_FAMILY["num_hashes"],
    bands: int = _LSH_FAMILY["bands"],
    shingle_n: int = _LSH_FAMILY["shingle_n"],
    n_buckets: int = _LSH_FAMILY["n_buckets"],
    signatures: DataFrame | None = None,
) -> None:
    """(re)build the LSH index from ``df`` alone: one commit that
    creates the bands and sigs tables in the given family, and drops
    every ingested batch's keep-set — the rebuilt index holds none of
    them, so a replay or expiry of one must not act on it.
    ``dedup_ingest_batch`` is the only way an index grows, so a
    non-default family is chosen here only (an empty ``df`` starts an
    ingest-grown index in it).
    ``n_buckets`` sizing follows the checkpoint rule: buckets ≈
    index_bytes / target_rewrite_unit.  ``signatures`` (``id_col,
    sig``) skips the MinHash recompute when the caller already has
    them."""
    c = Commit(index_path, "build")
    for name in c.base.tables:
        if name.startswith(_BATCH):
            c.drop(name)
    family = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n,
              "n_buckets": n_buckets}
    sig = _signatures(df, text_col, id_col, num_hashes, shingle_n, signatures)
    c.create("sigs", sig.withColumn("_sb", bucket_expr("_id", n_buckets)), "_sb", family)
    c.create("bands", _band_rows(sig, family), "_bb", family)
    c.commit()


def probe_lsh_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """dedup a new batch against the persisted index WITHOUT touching
    the corpus text: → (index_id, probe_id, est_jaccard, matched).

    One row per (index doc, probe doc) band collision pair (deduped on
    the id pair before signatures rejoin), plus one ``matched=false``
    row (null index_id/est_jaccard) for every novel probe doc — the
    keep-set of an incremental ingest.  The LSH family comes from the
    index tables' record; ``signatures`` must be of that family.  A
    missing/empty index (the streaming bootstrap batch) yields
    all-novel."""
    return _probe(snapshot(index_path), df, text_col, id_col, signatures)


def _probe(
    snap: Snapshot, df: DataFrame, text_col: str, id_col: str, signatures: DataFrame | None
) -> DataFrame:
    """``probe_lsh_index`` of ``df`` against the index as of ``snap``."""
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType
    probe_ids = df.select(F.col(id_col).alias("probe_id"))

    def as_novel(ids: DataFrame) -> DataFrame:
        return ids.select(
            F.lit(None).cast(id_type).alias("index_id"), "probe_id",
            F.lit(None).cast("double").alias("est_jaccard"), F.lit(False).alias("matched"),
        )

    # the log says whether an index exists, NOT a caught
    # AnalysisException: a corrupt table raises that class too, and
    # swallowing it would admit every duplicate
    if snap.table("bands") is None:
        return as_novel(probe_ids)
    family = _index_family(snap)
    num_hashes = family["num_hashes"]
    idx_bands = snap.read(spark, "bands").select(
        F.col("_id").alias("_iid"), "band", "bh", "_bb"
    )
    idx_sigs = snap.read(spark, "sigs").select(
        F.col("_id").alias("index_id"), F.col("sig").alias("sig_i")
    )
    sig = _signatures(
        df, text_col, id_col, num_hashes, family["shingle_n"], signatures
    )
    # key-only pair join; _bb in the key lets the scan partition-prune
    pairs = (
        _band_rows(sig, family).join(idx_bands, on=["_bb", "band", "bh"], how="inner")
        .select(F.col("_iid").alias("index_id"), F.col("_id").alias("probe_id"))
        .distinct()
    )
    probe_sigs = sig.select(F.col("_id").alias("probe_id"), F.col("sig").alias("sig_p"))
    dups = (
        pairs.join(idx_sigs, "index_id")
        .join(probe_sigs, "probe_id")
        # an id with two sig rows (re-ingested with new text, or a row
        # written twice) would fan each collision out.  Collapse on the PAIR
        # (candidates ≪ corpus — cheap), keeping the highest estimate
        # so the output is deterministic (r5 review).
        .groupBy("index_id", "probe_id")
        .agg(F.max(_est_jaccard("sig_i", "sig_p", num_hashes)).alias("est_jaccard"))
        .withColumn("matched", F.lit(True))
    )
    novel = probe_ids.join(pairs.select("probe_id").distinct(), "probe_id", "left_anti")
    return dups.select("index_id", "probe_id", "est_jaccard", "matched").unionByName(
        as_novel(novel)
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification / oracle path)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """exact Jaccard over word n-grams for all id_a < id_b pairs.

    O(n²) — verification of LSH candidates or oracle use on small
    blocks; production path is lsh_candidate_pairs → this on candidates.
    """
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = inter / union
    return (
        a.crossJoin(b)
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """connected components over candidate-pair edges → canonical dup
    clusters: ``(id, cluster_id, is_keeper)`` with ``cluster_id`` = the
    smallest id in the component and ``is_keeper`` marking that one row
    (the keep-one-per-cluster decision that turns near-dup PAIRS into
    an actionable delete set — the final step of the dedup pipeline).

    Iterative min-label propagation (hash-to-min): each round is one
    shuffle of ``(node, label)`` keyed by node — labels only, never
    text or signatures — and converges in O(log component diameter)
    rounds (min-label step + pointer-jumping compression per round);
    ``max_iter`` bounds the driver loop and non-convergence RAISES
    rather than returning keeper-less split clusters. Each round ``localCheckpoint``s its label table, which
    MATERIALIZES the rows and TRUNCATES the logical plan — ``cache()``
    alone is not enough here: the analyzed plan nests the previous
    round's plan and grows geometrically (a 10-round cached loop
    produced a 2 GB plan string and drove the driver OOM). On a real
    cluster prefer ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint()`` for executor-loss tolerance; localCheckpoint is
    the right call in local mode and keeps per-round cost one shuffle.

    Only ids that appear in ``pairs`` are returned; rows with no dup
    edge are trivially their own singleton cluster and never enter the
    shuffle (anti-join the delete set instead of materializing them).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["dst"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            (F.col("nbr_label") < F.col("label")).alias("_chg"),
        )
        # pointer jumping: chase each node's label to ITS label's label
        # (path compression) — turns O(diameter) rounds into
        # O(log diameter), so a 10^6-long templated-page chain
        # converges in ~20 rounds instead of 10^6
        lab2 = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            stepped.join(lab2, stepped["label"] == lab2["_lid"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("_llabel", "label")).alias("label"),
                (F.col("_chg") | (F.col("_llabel") < F.col("label"))).alias("_chg"),
            )
            .localCheckpoint()  # eager: materializes + truncates lineage
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # a silent partial result here is DANGEROUS: split clusters can
        # come back keeper-less, and a keep-one-per-cluster delete
        # would then drop every copy of those documents
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds; "
            "raise max_iter (rounds needed ≈ log2(component diameter))"
        )
    return labels.select(
        F.col("id"),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("id")).cast("int").alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """flag corpus documents sharing any word n-gram with an evaluation
    benchmark (the GPT-3 training-set decontamination scheme — Brown et
    al. 2020, appendix C uses 13-grams; ``n`` is configurable for
    shorter corpora).

    Adds ``n_overlap`` (distinct shared n-grams) and
    ``is_contaminated`` to ``df``. Scale shape: the benchmark's gram
    set is tiny relative to the corpus → hashed (xxhash64, 8 B/gram)
    and BROADCAST, so the corpus side is one map pass (shingle +
    explode + hash) with no corpus-wide shuffle; only the hit rows
    (corpus grams matching a benchmark gram) reach the per-doc
    aggregation.
    """
    bench = (
        benchmark.select(
            F.explode(word_shingles(F.col(bench_text_col), n, pad_short=False)).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), n, pad_short=False)).alias("g"),
    ).select("_id", F.xxhash64("g").alias("gh"))
    hits = (
        grams.join(F.broadcast(bench), "gh")
        .groupBy("_id")
        .agg(F.count_distinct("gh").alias("n_overlap"))
    )
    out = df.join(hits, df[id_col] == hits["_id"], "left").drop("_id")
    return out.withColumn(
        "n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)).cast("int")
    ).withColumn("is_contaminated", (F.col("n_overlap") > 0).cast("int"))


# ---------------------------------------------------------------------------
# exact-substring duplicated spans (Lee et al. 2021)
# ---------------------------------------------------------------------------


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """exact-substring duplicate detection: the distributed stand-in for
    the suffix-array dedup of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better", §3.2 ExactSubstr). A token is
    *duplicated* when it is covered by some word ``n``-gram occurring
    ``min_count``-or-more times corpus-wide (within- OR cross-document
    — the paper removes self-repeats too). Overlapping duplicated
    grams merge into maximal spans.

    Returns one row per input row: ``id_col``, ``total_tokens``,
    ``dup_tokens`` (union size of the duplicated spans, in tokens),
    ``dup_spans`` (count of maximal spans), ``dup_frac``.

    Scale shape (the reason this replaces a suffix array on Spark):
    the corpus crosses the wire as (gram_hash 8 B, doc_id, pos) rows —
    never text. One shuffle counts gram occurrences (map-side partial
    aggregation collapses each partition's repeats first), one
    re-shuffle joins the surviving duplicated hashes back to positions
    (AQE picks broadcast when the duplicated set is small), and the
    island merge is a per-doc sort + fold — O(corpus tokens) total
    work, same as the paper's suffix array, but embarrassingly
    partitionable. Reference bar: the reference engine has no dedup
    tier at all (SURVEY §2 LLM-ops addendum); semantics follow the
    paper.
    """
    # token count and document-order grams (index == 0-based start
    # token) from one let-bound token array: the split runs once per row
    base = df.select(
        F.col(id_col).alias("_id"),
        let(_words(F.col(text_col)), lambda w: F.struct(
            F.size(w).alias("nt"), _word_ngrams(w, n).alias("gs")
        )).alias("_tg"),
    ).select(
        "_id",
        F.col("_tg.nt").alias("total_tokens"),
        F.col("_tg.gs").alias("_grams"),
    )
    # posexplode_outer, NOT posexplode: the non-outer Generate makes
    # Catalyst push a size(grams)>0 filter below it, and that filter
    # (plus its scan DataFilter twin) re-evaluates the whole let-bound
    # tokenize+gram expression per row — 3 evaluations per scan instead
    # of 1 (no CSE across Filter/Project operator boundaries). The
    # outer variant emits one null row for gram-less docs, dropped by a
    # cheap filter on the GENERATED column.
    grams = (
        base.select("_id", F.posexplode_outer("_grams").alias("pos", "g"))
        .filter(F.col("pos").isNotNull())
        .select("_id", "pos", F.xxhash64("g").alias("gh"))
    )
    dup_hashes = (
        grams.groupBy("gh").count().filter(F.col("count") >= min_count).select("gh")
    )
    hit_pos = grams.join(dup_hashes, "gh").select("_id", "pos")

    # per-doc island merge: sorted start positions fold left; spans of
    # equal length n merge when the next start is <= prev_start + n
    s = lambda sp, tk, st, pv: F.struct(  # noqa: E731
        sp.alias("spans"), tk.alias("toks"), st.alias("start"), pv.alias("prev")
    )
    zero = F.lit(0).cast("long")
    init = s(zero, zero, F.lit(-1).cast("long"), F.lit(-1).cast("long"))

    def step(st: Column, p: Column) -> Column:
        pl = p.cast("long")
        return (
            F.when(st["start"] < 0, s(F.lit(1).cast("long"), zero, pl, pl))
            .when(pl <= st["prev"] + n, s(st["spans"], st["toks"], st["start"], pl))
            .otherwise(
                s(
                    st["spans"] + 1,
                    st["toks"] + st["prev"] - st["start"] + n,
                    pl,
                    pl,
                )
            )
        )

    def finish(st: Column) -> Column:
        closed = F.when(
            st["start"] >= 0, st["toks"] + st["prev"] - st["start"] + n
        ).otherwise(zero)
        return F.struct(st["spans"].alias("spans"), closed.alias("toks"))

    per_doc = (
        hit_pos.groupBy("_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
        .select(
            "_id",
            F.aggregate(F.col("ps"), init, step, finish).alias("r"),
        )
        .select(
            "_id",
            F.col("r.spans").alias("dup_spans"),
            F.col("r.toks").alias("dup_tokens"),
        )
    )
    out = (
        base.drop("_grams")
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("total_tokens").cast("int").alias("total_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("int").alias("dup_tokens"),
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("int").alias("dup_spans"),
        )
    )
    return out.withColumn(
        "dup_frac",
        F.when(
            F.col("total_tokens") > 0,
            F.col("dup_tokens").cast("double") / F.col("total_tokens"),
        ).otherwise(F.lit(0.0)),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit simhash per text: crc32-seeded token hashes, bit majority."""
    import zlib

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = t.lower().split()
        if not toks:
            continue
        # two crc32s → 64 deterministic bits per token
        h = np.fromiter(
            (
                (zlib.crc32(w.encode()) << 32) | zlib.crc32(w.encode(), 0xDEADBEEF)
                for w in toks
            ),
            dtype=np.uint64,
            count=len(toks),
        )
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        sim = np.uint64(0)
        for k in np.nonzero(votes > 0)[0]:
            sim |= np.uint64(1) << np.uint64(k)
        out[i] = np.int64(sim.astype(np.int64))
    return pd.Series(out)


def with_simhash(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    udf = F.pandas_udf(_simhash_batch, T.LongType())
    return df.withColumn(out, udf(F.col(text_col)))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """near-dup pairs with Hamming(simhash) ≤ max_hamming via 4×16-bit
    banding (pigeonhole: ≤3 differing bits → ≥1 identical 16-bit band)."""
    sh = with_simhash(df, text_col).select(F.col(id_col).alias("_id"), "simhash")
    bands = [
        F.struct(F.lit(b).alias("band"), F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("bh"))
        for b in range(4)
    ]
    ex = sh.select("_id", "simhash", F.explode(F.array(*bands)).alias("bb")).select(
        "_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a, b = ex.alias("a"), ex.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """cosine similarity of two array<float/double> columns (JVM-side)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def _cosine_pairs(vecs: DataFrame, threshold: float, on: str | None = None) -> DataFrame:
    """``(id_a, id_b, cos)`` over the pairs of ``vecs`` (``_id``,
    ``v`` array<double>) joined on ``on`` (None: all pairs), ``id_a <
    id_b``, ``cos`` = JVM left-fold cosine rounded to 4 dp, kept when
    ``≥ threshold`` — the one pair tail of the brute and SemDeDup
    paths."""
    a, b = vecs.alias("a"), vecs.alias("b")
    return (
        (a.crossJoin(b) if on is None else a.join(b, on))
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """pairs with cosine ≥ threshold (brute self-join — verification
    path; the scale path blocks candidates via sign-LSH first,
    see operators/similarity.py)."""
    v = F.col(vec_col).cast("array<double>")
    return _cosine_pairs(df.select(F.col(id_col).alias("_id"), v.alias("v")), threshold)


def semdedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_cells: int = 16,
    threshold: float = 0.9,
    iters: int = 5,
    sample: int = 4096,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate PAIRS via
    k-means clustering + within-cluster pairwise cosine — the
    embedding-space analogue of MinHash dedup, catching paraphrases and
    re-encodings no lexical method sees.  Returns ``(id_a, id_b,
    cos)`` with ``id_a < id_b`` and ``cos ≥ threshold``; compose with
    :func:`dup_clusters` for the keep-one-per-cluster delete set (the
    paper keeps the member farthest from the centroid; min-id is the
    deterministic stand-in here, applied by the cluster resolve).

    Scale shape: the ONLY all-pairs work is within a cluster —
    O(Σ|cell|²) total, the algorithm's own cost model (the paper runs
    k ∝ N so cells stay bounded); the cell co-location shuffle carries
    each vector exactly once, keyed by cell.  At 10^12 rows the corpus
    is written partitioned BY cell once (the IVF layout — same
    quantizer, same table) and each cell's pair scan runs
    partition-local with no further exchange.  The coarse quantizer is
    the IVF one: pass the ``centroids`` an IVF index already trained
    (the ``neardup_embedding`` query shares the ``ann`` query's), else
    ``similarity.train_centroids`` trains them here.  The pair tail is
    :func:`embedding_dup_pairs`'s, so the ``semdedup`` golden
    (tools/gen_goldens.py) re-derives cells, pairs, and left-fold
    cosines bit-identically."""
    from open_semantic_etl_spark.operators.similarity import (
        nearest_cells_expr,
        train_centroids,
    )

    if centroids is None:
        centroids = train_centroids(df, k_cells, iters, sample, vec_col, id_col)
    v = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col).alias("_id"),
        v.alias("v"),
        nearest_cells_expr(v, centroids, 1)[0].alias("cell"),
    ).filter(F.col("cell").isNotNull())
    return _cosine_pairs(base, threshold, on="cell")


def dedup_ingest_batch(
    spark,
    batch_df: DataFrame,
    index_path: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """one-call incremental dedup ingest — the one way an LSH index
    grows (``stream_dedup_ingest`` calls it once per micro-batch): dedup
    the batch against the whole already-ingested corpus via the
    persisted band index, dedup within the batch, append the keep-set
    to the index, and return the kept rows.

    The LSH family is the one the index's tables record; a fresh index
    gets ``build_lsh_index``'s default.  The family, the replay check
    and the probe all read the commit's base snapshot, the version the
    ingest commits on top of.

    Scale shape: duplicate ids collapse first; ONE MinHash pass per
    batch threads through probe, within-batch dedup and the index
    append; the probe is a partition-pruned key-only band join (corpus
    text never re-read); within-batch dedup keeps the smaller id of
    each colliding pair (deterministic; conservative on chains —
    cluster-resolve is dup_clusters when exactness matters).

    Idempotence: ``batch_id`` is any string uniquely naming this
    batch's CONTENT — a landing-file manifest hash, an ingest sequence
    number, a stream's query id + epoch.  The ingest is one commit: the
    sigs and bands appends and the kept ids as table ``_batch=<id>``
    (the batch's manifest and audit trail).  Replaying a committed batch
    returns the recorded keep-set without touching the index; a crash
    before the commit left the index as it was, and the retry
    recomputes the batch."""
    if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", batch_id):
        raise ValueError(
            f"batch_id {batch_id!r} must match [A-Za-z0-9._-]{{1,128}} "
            "(it names a table directory)"
        )
    c = Commit(index_path, "ingest", batch_id)
    family = _index_family(c.base, _LSH_FAMILY)
    if c.base.table(_BATCH + batch_id) is not None:  # a committed replay
        kept_ids = c.base.read(spark, _BATCH + batch_id).select(F.col("_id").alias(id_col))
        return batch_df.dropDuplicates([id_col]).join(kept_ids, id_col)

    batch = batch_df.dropDuplicates([id_col]).localCheckpoint(eager=True)
    sigs = _signatures(
        batch, text_col, id_col, family["num_hashes"], family["shingle_n"]
    ).toDF(id_col, "sig").localCheckpoint(eager=True)
    probed = _probe(c.base, batch, text_col, id_col, sigs)
    # materialized once (at most one batch of ids): every branch below
    # reads it, and each re-derivation would scan the bands table again
    novel_ids = probed.filter(~F.col("matched")).select(
        F.col("probe_id").alias(id_col)
    ).localCheckpoint(eager=True)
    novel = batch.join(novel_ids, id_col)
    drop = (
        lsh_candidate_pairs(
            novel, text_col=text_col, id_col=id_col,
            signatures=sigs.join(novel_ids, id_col),
            **{k: family[k] for k in ("num_hashes", "bands", "shingle_n")},
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    kept = novel.join(drop, id_col, "left_anti").localCheckpoint(eager=True)
    kept_sigs = sigs.join(kept.select(id_col), id_col).select(
        F.col(id_col).alias("_id"), "sig"
    )
    c.append("sigs", kept_sigs.withColumn("_sb", bucket_expr("_id", family["n_buckets"])),
             "_sb", family)
    c.append("bands", _band_rows(kept_sigs, family), "_bb", family)
    c.create(_BATCH + batch_id, kept.select(F.col(id_col).alias("_id")), None, {})
    c.commit()
    return kept


def list_lsh_batches(index_path: str) -> list[str]:
    """committed batch ids recorded in the index (sorted) — the
    manifest a retention sweep enumerates."""
    names = snapshot(index_path).tables
    return sorted(name[len(_BATCH):] for name in names if name.startswith(_BATCH))


def expire_lsh_batches(
    spark, index_path: str, batch_ids: list[str], strict: bool = True
) -> None:
    """TTL / retention sweep: remove whole ingest batches from the
    index.  Each ``_batch=<id>`` keep-set (one per
    ``dedup_ingest_batch``, so one per ``stream_dedup_ingest``
    micro-batch, id ``<query id>-<epoch>``) records exactly the doc ids
    that batch contributed; expiry goes ONE BATCH AT A TIME, one commit
    each — the batch's docs leave sigs and bands and its keep-set drops
    together — so a crash leaves every earlier batch expired and the
    current one retryable.

    ``strict=True`` (default) raises on a batch id with no keep-set —
    silently expiring nothing would defeat a retention requirement; a
    crashed sweep's retry passes ``strict=False`` to skip expired ones.

    Attribution caveat (document-level dedup): a doc is recorded in the
    ONE batch that first kept it; a later batch re-submitting it drops
    it as a duplicate without refreshing attribution, so expiring the
    old batch deletes it — its next arrival re-ingests it as novel.
    Policies that must keep recently re-seen content need probe-time
    attribution refresh first."""
    for bid in batch_ids:
        c = Commit(index_path, "expire", bid)
        if c.base.table(_BATCH + bid) is None:
            if strict:
                raise FileNotFoundError(
                    f"no committed batch {bid} in {index_path} — wrong id, the "
                    "batch never committed, or it was already expired "
                    "(retry a crashed sweep with strict=False)"
                )
            continue
        _drop_docs(spark, c, c.base.read(spark, _BATCH + bid).select("_id"))
        c.drop(_BATCH + bid)
        c.commit()


def delete_from_lsh_index(spark, index_path: str, ids) -> None:
    """remove documents from the persisted LSH index (takedowns,
    recrawl-replaced urls, TTL expiry) — the DELETE twin of
    ``dedup_ingest_batch``'s append, one commit.

    Bucket-pruned, the merge_by_url rule (plans/checkpoint.py) applied
    to the index: a doc's sig lives in ``_sb = pmod(xxhash64(id),
    n_buckets)`` and its band rows in the ``_bb`` buckets of its
    (sig-derived, deterministic) band hashes, so each table rewrites
    ONLY those buckets; untouched bucket files stay byte-identical on
    disk.  Cost tracks the DELETE BATCH, not the corpus.

    ``ids``: list of doc-id values, or a single-column DataFrame of
    them.  Ids absent from the index are a no-op.
    """
    c = Commit(index_path, "delete")
    _drop_docs(spark, c, ids)
    c.commit()


def _drop_docs(spark, c: Commit, ids) -> None:
    """stage on ``c`` the rewrite of the sigs and bands buckets that
    hold rows of ``ids``."""
    family = _index_family(c.base)  # a non-index raises loudly
    n_buckets = family["n_buckets"]
    if not isinstance(ids, DataFrame):
        ids = list(ids)
        if not ids:
            return
        ids = spark.createDataFrame([(i,) for i in ids], ["_del_id"])
    ids_df = ids.toDF("_del_id").dropDuplicates(["_del_id"])
    is_deleted = F.col("_id") == F.col("_del_id")
    cand_buckets = buckets_of(
        ids_df.select(bucket_expr("_del_id", n_buckets).alias("_sb")), "_sb"
    )
    del_sigs = c.base.read(spark, "sigs", cand_buckets).join(
        F.broadcast(ids_df), is_deleted
    ).select("_id", "sig", "_sb")
    # rewrite only buckets where deleted rows ACTUALLY exist (an absent
    # id leaves every file byte-identical; cand_buckets only prunes the
    # lookup).  Band rows are recomputed FROM THE SIGS, so the touched
    # _bb set is exact with no bands-table scan.
    sig_buckets = buckets_of(del_sigs, "_sb")
    band_buckets = buckets_of(_band_rows(del_sigs.select("_id", "sig"), family), "_bb")

    def drop_deleted(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(ids_df), is_deleted, "left_anti")

    c.rewrite(spark, "bands", band_buckets, drop_deleted)
    c.rewrite(spark, "sigs", sig_buckets, drop_deleted)


def compact_lsh_index(spark, index_path: str) -> None:
    """small-file compaction: rewrite each index table to one file per
    bucket dir.

    Every batch append (``dedup_ingest_batch``, so every streaming
    micro-batch) adds a few files to each bucket it touches.  Compaction
    is one commit rewriting every bucket of both tables, shuffled on the
    partition key into the recorded ``n_buckets`` partitions; each row
    keeps its bucket.  It replaces only the files it read, so an ingest
    that commits while it runs keeps its rows: the compaction's commit
    lands on top of the ingest's entry."""
    c = Commit(index_path, "compact")
    n_buckets = _index_family(c.base)["n_buckets"]
    for sub, part_col in _INDEX_TABLES.items():
        c.rewrite(
            spark, sub, None,
            lambda df, col=part_col: df.repartition(n_buckets, F.col(col)),
        )
    c.commit()
