"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k (exact; one broadcast of the query
set, map-side scoring, one shuffle for the per-query top-k window).
Scale path: random-hyperplane sign-LSH bucketing (Charikar 2002 SimHash
for angular distance) — candidates share ≥1 signature band, so the
corpus-side scan prunes to matching buckets; recall is tested against
the brute-force baseline in tests/test_dedup.py.

At 10^12 rows the brute force path is per-query O(N); the LSH path
shuffles (band, bucket) keys only, and the final scoring join touches
only candidate rows. The IVF path (``ivf_topk``) replaces the random
planes with a k-means coarse quantizer — same plumbing, different
bucketer: cells adapt to the data distribution, so recall per probed
candidate is higher on clustered embeddings (the common case for real
encoder outputs). PQ/ADC (``pq_topk``, ``ivfpq_topk``) scans m-byte
codes instead of vectors.

Each kernel is written once: ``_sqdist`` is the one squared-L2 matrix
(Lloyd's assignment, cell routing, PQ codes, ADC tables); ``_lloyd``
over ``_train_sample`` trains the IVF centroids and every PQ subspace;
``_matrix_udf`` is the one null-safe numpy UDF (large-plane signatures,
cells, codes); ``_rank_topk`` ranks every path's candidates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from open_semantic_etl_spark.operators.dedup import cosine


def _rank_topk(cands: DataFrame, score: Column, k: int) -> DataFrame:
    """``(query_id, nbr_id, cos, rk)``: ``score`` (``cos``) per
    candidate row, ranked per query — descending score, ties to the
    lower nbr_id — and cut at ``rk ≤ k``.  The one ranker of every ANN
    path: one shuffle for the per-query window over the candidate
    set."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        cands.select("query_id", "nbr_id", score.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "nbr_id", "cos", "rk")
    )


def _cos_topk(cands: DataFrame, k: int) -> DataFrame:
    """:func:`_rank_topk` by the 4-dp JVM-fold cosine of ``qv``·``v``."""
    return _rank_topk(cands, F.round(cosine(F.col("qv"), F.col("v")), 4), k)


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """exact top-k cosine neighbors for each query id (excluding self).

    The query side is tiny → broadcast; scoring is JVM-side
    (zip_with/aggregate); one shuffle for the window top-k.
    """
    base = df.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("v"))
    queries = base.filter(F.col("nbr_id").isin(query_ids)).select(
        F.col("nbr_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = base.crossJoin(F.broadcast(queries)).filter(
        F.col("nbr_id") != F.col("query_id")
    )
    return _cos_topk(scored, k)


def random_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """deterministic Gaussian hyperplanes (public sign-LSH scheme)."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def _sqdist(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(rows of X) × (rows of C) squared-L2 matrix — the one distance
    kernel of Lloyd's assignment, cell routing, PQ encoding and the ADC
    tables.  Its arithmetic (broadcast difference, square, last-axis
    sum) is part of the golden contract (tools/gen_goldens.py)."""
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)


def _normalize(X: np.ndarray) -> np.ndarray:
    """rows of ``X`` over their L2 norms (a zero row stays zero) — the
    PQ space: codebooks, codes and ADC queries all live in it."""
    norms = np.sqrt((X * X).sum(axis=1))
    norms[norms == 0] = 1.0
    return X / norms[:, None]


def _matrix_udf(vec: Column, dim: int, rows_fn, out_type) -> Column:
    """one vectorized numpy pandas UDF over ``vec``: the batch's valid
    rows (non-null, length ``dim``) stack into one float64 matrix and
    ``rows_fn`` maps it to one value per row; a null or wrong-length
    vector gets null instead of poisoning the batch with an
    object-dtype array.  Whatever ``rows_fn`` closes over (planes,
    centroids, codebooks) ships once per task in the closure, one Arrow
    crossing per batch."""
    import pandas as pd

    def batch(vs):
        ok = [v is not None and len(v) == dim for v in vs]
        if not any(ok):
            return pd.Series([None] * len(vs), dtype=object)
        vals = iter(rows_fn(np.array([np.asarray(v, np.float64) for v, g in zip(vs, ok) if g])))
        return pd.Series([next(vals) if g else None for g in ok], dtype=object)

    return F.pandas_udf(batch, out_type)(vec)


#: above this many plane coefficients the JVM-literal form is replaced
#: by a numpy pandas UDF — inlining dim×n_planes literals bloats the
#: plan (and Catalyst analysis time) at dim ≥ 512
_MAX_INLINE_COEFFS = 2048


def signature_expr(vec: Column, planes: np.ndarray) -> Column:
    """bit-packed sign signature: bit_j = (v · plane_j) > 0.

    Small plane matrices inline as JVM Column algebra (whole-stage
    codegen, zero Python). Large ones (dim×n_planes > 2048) switch to
    :func:`_matrix_udf`, whose plane matrix ships ONCE per task in the
    serialized closure instead of as plan literals — at dim 768 × 16
    planes the literal form is a 12k-node expression tree. On both paths
    a null or wrong-length vector gets null, not 0 (which would share
    every all-zero LSH band).
    """
    if planes.size > _MAX_INLINE_COEFFS:
        P = planes.astype(np.float64)
        weights = (1 << np.arange(P.shape[0], dtype=np.uint64)).astype(np.uint64)

        def sigs(M):
            bits = (M @ P.T) > 0  # (valid rows, n_planes)
            return [int(x) for x in (bits.astype(np.uint64) @ weights).view(np.int64)]

        return _matrix_udf(vec, P.shape[1], sigs, T.LongType())
    bits = []
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
        )
        bits.append(F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return F.when(F.size(vec) == planes.shape[1], out.cast("long"))


def _train_sample(
    df: DataFrame, sample: int, vec_col: str, id_col: str, k: int
) -> np.ndarray:
    """the bounded driver training sample: the first ``sample`` non-null
    vectors in id order (the faiss recipe trains on O(100×k)), so the
    driver action is O(sample), never O(N); raises below ``k`` rows."""
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(X) < k:
        raise ValueError(f"need >= {k} vectors to train, got {len(X)}")
    return X


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """deterministic Lloyd's k-means: init = the first ``k`` rows;
    assignment = argmin of :func:`_sqdist` (ties → lowest centroid
    index, numpy argmin); update = float64 ``np.mean`` over members in
    row order; an emptied cell keeps its previous centroid; exactly
    ``iters`` rounds (no early stop)."""
    C = X[:k].copy()
    for _ in range(iters):
        assign = _sqdist(X, C).argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def train_centroids(
    df: DataFrame,
    k_cells: int = 16,
    iters: int = 5,
    sample: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """deterministic Lloyd's k-means coarse quantizer for IVF:
    :func:`_lloyd` over :func:`_train_sample` — centroids are k×dim
    floats, trivially broadcastable.  The determinism contract is
    pinned by the ann_ivf golden."""
    return _lloyd(_train_sample(df, sample, vec_col, id_col, k_cells), k_cells, iters)


def nearest_cells_expr(vec: Column, centroids: np.ndarray, nprobe: int = 1) -> Column:
    """array<int> of the ``nprobe`` nearest centroid ids, distance order
    (ties → lower id) — a :func:`_matrix_udf` over :func:`_sqdist`;
    null / wrong-length vectors get a null cell list."""
    C = centroids.astype(np.float64)

    def cells(M):
        idx = np.argsort(_sqdist(M, C), axis=1, kind="stable")[:, :nprobe]
        return [[int(c) for c in r] for r in idx]

    return _matrix_udf(vec, C.shape[1], cells, T.ArrayType(T.IntegerType()))


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_cells: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    sample: int = 4096,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer instead of random
    planes — same plumbing as ``lsh_topk``, different bucketer.

    Corpus rows land in their single nearest cell (map-side pandas UDF);
    each query probes its ``nprobe`` nearest cells. The cell join
    broadcasts the (tiny) exploded query side, so the corpus-side scan
    never shuffles vectors: candidates = rows whose cell matches a
    probed cell, scored with the same JVM-fold cosine as the brute/LSH
    paths. At 10^12 rows the corpus would be written bucketed/partitioned
    BY cell so probing prunes partitions instead of filtering a scan.
    Recall vs the exact baseline is tested in tests/test_dedup.py.
    """
    if centroids is None:
        centroids = train_centroids(df, k_cells, iters, sample, vec_col, id_col)
    v = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col).alias("nbr_id"),
        v.alias("v"),
        nearest_cells_expr(v, centroids, 1)[0].alias("cell"),
    )
    qex = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            v.alias("qv"),
            F.explode(nearest_cells_expr(v, centroids, nprobe)).alias("cell"),
        )
    )
    cands = (
        base.join(F.broadcast(qex), "cell")
        .filter(F.col("nbr_id") != F.col("query_id"))
    )
    return _cos_topk(cands, k)


def lsh_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    *,
    dim: int,
) -> DataFrame:
    """approximate top-k: candidates share ≥1 sign-LSH band with the query.

    16 planes in 4 bands of 4 bits → a candidate must agree with the
    query on all 4 signs of some band (collision prob (1-θ/π)^4 per
    band — high for near-0 angles, steeply decaying).  ``dim`` (the
    embedding schema's width) sizes the planes; it is required so plan
    construction runs no driver action.
    """
    planes = random_planes(dim, n_planes, seed)
    rows = n_planes // bands
    mask = (1 << rows) - 1

    base = df.select(
        F.col(id_col).alias("nbr_id"),
        signature_expr(F.col(vec_col).cast("array<double>"), planes).alias("sig"),
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("sig", rows * b).bitwiseAND(F.lit(mask)).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    # band explode + pair dedup carry KEYS ONLY (~20 B/row: id, band,
    # band-hash) — the embedding payload (≈6 KB at dim 768) never rides
    # the Exchange (mirrors dedup.lsh_candidate_pairs; plan-audited:
    # no array<double> in any Exchange of this plan)
    ex = base.select("nbr_id", F.explode(band_arr).alias("bb")).select(
        "nbr_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    qex = (
        ex.filter(F.col("nbr_id").isin(query_ids))
        .select(F.col("nbr_id").alias("query_id"), "band", "bh")
    )
    cand_ids = (
        ex.join(F.broadcast(qex), ["band", "bh"])
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id")
        .distinct()
    )
    # vectors re-join ONLY the candidate set: candidate ids and the
    # (tiny) query vectors broadcast, so the corpus-side vector scan
    # stays map-side — corpus embeddings never shuffle
    vecs = df.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    qvecs = vecs.filter(F.col("nbr_id").isin(query_ids)).select(
        F.col("nbr_id").alias("query_id"), F.col("v").alias("qv")
    )
    cands = vecs.join(F.broadcast(cand_ids), "nbr_id").join(
        F.broadcast(qvecs), "query_id"
    )
    return _cos_topk(cands, k)


# ---------------------------------------------------------------------------
# Product Quantization (PQ) + ADC — the 100 TB memory-compression path
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 5,
    sample: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """deterministic per-subspace Lloyd's codebooks, shape (m, ks, d/m):
    :func:`_lloyd` on each subspace of the L2-NORMALIZED
    :func:`_train_sample` (Jégou et al. 2011 product quantization; the
    faiss recipe trains on O(100·ks)) — the ``train_centroids``
    contract per subspace, so the ann_pq golden (tools/gen_goldens.py,
    an independent re-derivation) is bit-identical."""
    X = _train_sample(df, sample, vec_col, id_col, ks)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    X = _normalize(X)
    dsub = dim // m
    return np.stack([_lloyd(X[:, j * dsub : (j + 1) * dsub], ks, iters) for j in range(m)])


def pq_codes_expr(vec: Column, books: np.ndarray) -> Column:
    """array<int> of m codebook ids (argmin per subspace over the
    L2-normalized vector) — a :func:`_matrix_udf`, codebooks ship once
    per task in the closure.  The corpus compresses to m small ints
    (32× at dim 64 / m 8 vs float64): THIS is what PQ buys at 10^12
    rows — the vector column itself never has to be scanned again."""
    B = books.astype(np.float64)
    m, ks, dsub = B.shape

    def codes(M):
        M = _normalize(M)
        per_sub = [
            _sqdist(M[:, j * dsub : (j + 1) * dsub], B[j]).argmin(axis=1) for j in range(m)
        ]
        return [[int(c) for c in r] for r in zip(*per_sub)]

    return _matrix_udf(vec, m * dsub, codes, T.ArrayType(T.IntegerType()))


def _adc_query_tables(
    df: DataFrame,
    query_ids: list[int],
    B: np.ndarray,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """per-query asymmetric-distance tables, driver-built from the
    normalized query vectors (m × ks doubles each — tiny) as a
    broadcast-able (query_id, qtab) frame. Shared by pq_topk and
    ivfpq_topk; the flattening order (subspace-major) is part of the
    golden contract."""
    m, ks, dsub = B.shape
    v = F.col(vec_col).cast("array<double>")
    qrows = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("i"), v.alias("q"))
        .filter(F.col("q").isNotNull())
        .orderBy("i")
        .collect()
    )
    Q = _normalize(np.array([r["q"] for r in qrows], np.float64).reshape(len(qrows), m * dsub))
    tabs = np.concatenate(
        [_sqdist(Q[:, j * dsub : (j + 1) * dsub], B[j]) for j in range(m)], axis=1
    )
    qtabs = [(int(r["i"]), [float(x) for x in t]) for r, t in zip(qrows, tabs)]
    return df.sparkSession.createDataFrame(qtabs, "query_id long, qtab array<double>")


def _adc_score_topk(cands: DataFrame, m: int, ks: int, k: int) -> DataFrame:
    """ADC fold + per-query top-k over (query_id, nbr_id, codes, qtab)
    candidate rows — the shared tail of pq_topk / ivfpq_topk.  The JVM
    folds ``Σ_j qtab[j·ks + code_j]`` per row, ranked by
    :func:`_rank_topk` like every ANN path."""
    total = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.col("qtab"), j * ks + F.element_at(F.col("codes"), j + 1) + 1),
    )
    return _rank_topk(cands, F.round(F.lit(1.0) - F.lit(0.5) * total, 4), k)


def encode_corpus(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ONE corpus pass → ``(nbr_id, cell, codes)``: the IVF cell id and
    the PQ code array together — the table a production deployment
    writes next to the corpus at ingest (partitioned BY ``cell``) so
    every later query is pure code-table scan.  ``pq_topk`` and
    ``ivfpq_topk`` accept it via ``encoded=`` and then never touch the
    vector column at all; without it they encode inline (fine for
    one-shot use, wasteful across repeated queries)."""
    B = codebooks.astype(np.float64)
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("nbr_id"),
        nearest_cells_expr(v, centroids, 1)[0].alias("cell"),
        pq_codes_expr(v, B).alias("codes"),
    ).filter(F.col("codes").isNotNull())


def ivfpq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    iters: int = 5,
    sample: int = 4096,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    encoded: DataFrame | None = None,
    qtabs: DataFrame | None = None,
) -> DataFrame:
    """IVF∘PQ — the composed 10^12-row production split the component
    docstrings describe: an IVF coarse quantizer routes each query to
    its ``nprobe`` nearest k-means cells, and within those cells the
    scan is PQ/ADC over the m-byte compressed codes (plain PQ codes in
    the cell, not residual-encoded — the simpler of the two standard
    variants in Jégou et al. 2011 §IV).

    Plan shape: the corpus encodes ONCE into (id, cell, codes) — at
    scale that table is written next to the corpus, partitioned BY
    ``cell`` so probing prunes partitions; here the cell filter plays
    that role.  After encoding no vector column is read and nothing but
    (id, cell, m codes) flows; the exploded query-cell pairs and the
    per-query ADC tables both broadcast, so corpus rows never shuffle
    at all (plan-asserted: no Exchange carries ``embedding``).
    Encode cost is two Arrow crossings (cell UDF + code UDF) — a
    one-time cost at ingest in the production layout.

    Determinism matches the components exactly (same trainers, same
    tie-breaks), so the ``ann_ivfpq`` golden (tools/gen_goldens.py) is
    an independent bit-identical twin; recall vs brute force is tested
    in tests/test_dedup.py."""
    if centroids is None:
        centroids = train_centroids(df, k_cells, iters, sample, vec_col, id_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(df, m, ks, iters, sample, vec_col, id_col)
    B = codebooks.astype(np.float64)
    m, ks, _dsub = B.shape
    v = F.col(vec_col).cast("array<double>")
    base = (
        encoded.select("nbr_id", "cell", "codes")
        if encoded is not None
        else encode_corpus(df, centroids, B, vec_col, id_col)
    )
    qex = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(nearest_cells_expr(v, centroids, nprobe)).alias("cell"),
        )
    )
    qdf = qtabs if qtabs is not None else _adc_query_tables(
        df, query_ids, B, vec_col, id_col
    )
    cands = (
        base.join(F.broadcast(qex), "cell")
        .join(F.broadcast(qdf), "query_id")
        .filter(F.col("nbr_id") != F.col("query_id"))
    )
    return _adc_score_topk(cands, m, ks, k)


def pq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ks: int = 16,
    iters: int = 5,
    sample: int = 4096,
    codebooks: np.ndarray | None = None,
    encoded: DataFrame | None = None,
    qtabs: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k by cosine over the COMPRESSED corpus.

    Corpus rows carry only their m-code array (one Arrow crossing);
    each query precomputes its asymmetric-distance table on the driver
    (m × ks doubles — tiny) and ships it through a broadcast join; the
    JVM then folds ``Σ_j table[j][code_j]`` per row — no vector column
    is read after encoding, nothing but (id, codes) ever shuffles, and
    the scan side is O(m bytes)/row.  Scores are the normalized-space
    approximation ``cos ≈ 1 − ½·Σ‖q_j − c_{code_j}‖²``; ranking ties
    break on nbr_id like every other ANN path.  At 10^12 rows the code
    column is written next to the corpus once and IVF cells compose in
    front of this scan (ivf_topk) — the standard IVF-PQ split.
    Recall vs the exact baseline: tests/test_dedup.py."""
    if codebooks is None:
        codebooks = train_pq_codebooks(df, m, ks, iters, sample, vec_col, id_col)
    B = codebooks.astype(np.float64)
    m, ks, _dsub = B.shape
    v = F.col(vec_col).cast("array<double>")
    if encoded is not None:
        base = encoded.select("nbr_id", "codes")
    else:
        base = df.select(
            F.col(id_col).alias("nbr_id"), pq_codes_expr(v, B).alias("codes")
        ).filter(F.col("codes").isNotNull())
    qdf = qtabs if qtabs is not None else _adc_query_tables(
        df, query_ids, B, vec_col, id_col
    )
    cands = base.join(F.broadcast(qdf)).filter(
        F.col("nbr_id") != F.col("query_id")
    )
    return _adc_score_topk(cands, m, ks, k)
