"""Golden-oracle generator for the seeded kernels DuckDB cannot express.

Four ``queries()`` entries (minhash_lsh, simhash, ann_lsh,
language_detect) previously ran rows-only because their kernels are
seeded (RandomState(42) hash families, crc32 double-hashing, random
hyperplanes) — inexpressible in portable SQL. This script computes the
expected outputs with an INDEPENDENT pure-Python/numpy implementation
(no imports from the Spark operators — the algorithms are re-derived
from the documented specs in operators/dedup.py, similarity.py,
langdetect.py), and writes them as parquet goldens that
``oracle_sql()`` exposes via DuckDB ``read_parquet``.

Float discipline: every floating sum replicates Spark's
``F.aggregate`` LEFT-FOLD order (acc = acc + x, one element at a
time), and ``F.round`` is replicated as HALF_UP over the shortest
decimal repr (java.math.BigDecimal.valueOf semantics) so golden
doubles are bit-identical to the Spark output.

Goldens are keyed per scale factor by a content checksum of the input
table (SUM(n_chars) for documents, COUNT + a label checksum for
embeddings) so one parquet file serves every sf dir the driver picks.

Usage:  python3 tools/gen_goldens.py [out_dir] [sf_dir ...]
"""

from __future__ import annotations

import os
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
OUT_DIR = "/root/repo/goldens"


def spark_round(x: float, scale: int = 4) -> float:
    """Spark F.round on DoubleType: BigDecimal.valueOf(x).setScale(scale,
    HALF_UP).  repr(float) == Double.toString shortest decimal repr."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """shared deterministic Lloyd's loop (init = first k rows, argmin
    ties to lowest index, float64 mean update, empty cell keeps its
    centroid, exactly iters rounds).  The independence requirement is
    vs the Spark operators, not within this generator — one copy here
    keeps the four quantizer goldens self-consistent (r5 review)."""
    C = X[:k].copy()
    for _ in range(iters):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def left_fold_dot(a, b) -> float:
    """sum_i a[i]*b[i] in Spark's aggregate(zip_with(...)) left-fold order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


# ---------------------------------------------------------------------------
# MinHash + LSH banding (spec: operators/dedup.py Broder construction)
# ---------------------------------------------------------------------------

def minhash_lsh_golden(docs: pd.DataFrame, num_hashes=64, bands=16, shingle_n=3) -> pd.DataFrame:
    rng = np.random.RandomState(42)
    A = (rng.randint(1, 2**62, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64)
    rows = num_hashes // bands

    sigs: dict[int, np.ndarray] = {}
    buckets: dict[tuple, list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = (text or "").lower().split()
        if not toks:
            sig = np.zeros(num_hashes, dtype=np.int64)
        else:
            if len(toks) >= shingle_n:
                grams = {" ".join(toks[i:i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
            else:
                grams = {toks[0]}
            H = np.fromiter(
                ((zlib.crc32(g.encode()) << 32) | zlib.crc32(g.encode(), 0x9E3779B9) for g in grams),
                dtype=np.uint64, count=len(grams),
            )
            sig = (A[:, None] * H[None, :] + B[:, None]).min(axis=1).view(np.int64)
        sigs[int(doc_id)] = sig
        # bucket on the band's raw signature slice: same partition the
        # Spark path induces by xxhash64-ing the slice (modulo hash
        # collisions, which would only ADD candidates there)
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * rows:(b + 1) * rows])), []).append(int(doc_id))

    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        members = sorted(set(members))
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))

    out = [
        (a, b, float(np.count_nonzero(sigs[a] == sigs[b])) / num_hashes)
        for a, b in sorted(pairs)
    ]
    return pd.DataFrame(out, columns=["id_a", "id_b", "est_jaccard"]).astype(
        {"id_a": "int64", "id_b": "int64", "est_jaccard": "float64"}
    )


# ---------------------------------------------------------------------------
# SimHash (spec: operators/dedup.py Charikar bit-majority, crc32 pair hash)
# ---------------------------------------------------------------------------

def simhash_golden(docs: pd.DataFrame) -> pd.DataFrame:
    out = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        sim = 0
        toks = text.lower().split() if text else []
        if toks:
            votes = [0] * 64
            for w in toks:
                h = (zlib.crc32(w.encode()) << 32) | zlib.crc32(w.encode(), 0xDEADBEEF)
                for k in range(64):
                    votes[k] += 1 if (h >> k) & 1 else -1
            for k in range(64):
                if votes[k] > 0:
                    sim |= 1 << k
        if sim >= 1 << 63:  # two's-complement int64 view
            sim -= 1 << 64
        out.append((int(doc_id), sim))
    return pd.DataFrame(out, columns=["doc_id", "simhash"]).astype(
        {"doc_id": "int64", "simhash": "int64"}
    )


# ---------------------------------------------------------------------------
# sign-LSH ANN top-k (spec: operators/similarity.py random-hyperplane LSH)
# ---------------------------------------------------------------------------

def ann_lsh_golden(emb: pd.DataFrame, query_ids=tuple(range(10)), k=5,
                   n_planes=16, bands=4, seed=42, dim=64) -> pd.DataFrame:
    planes = np.random.RandomState(seed).randn(n_planes, dim)
    rows = n_planes // bands
    mask = (1 << rows) - 1

    ids = [int(v) for v in emb["vec_id"]]
    # float32 parquet values cast to double exactly, like Spark's
    # cast("array<double>")
    vecs = {i: [float(x) for x in v] for i, v in zip(ids, emb["embedding"])}

    sig = {}
    for i, v in vecs.items():
        s = 0
        for j in range(n_planes):
            if left_fold_dot(v, planes[j]) > 0:
                s += 1 << j
        sig[i] = s

    band_members: dict[tuple[int, int], list[int]] = {}
    for i, s in sig.items():
        for b in range(bands):
            band_members.setdefault((b, (s >> (rows * b)) & mask), []).append(i)

    def cosine(a, b):
        dot = left_fold_dot(a, b)
        na = left_fold_dot(a, a) ** 0.5
        nb = left_fold_dot(b, b) ** 0.5
        return dot / (na * nb)

    out = []
    for q in query_ids:
        cands = set()
        for b in range(bands):
            cands.update(band_members.get((b, (sig[q] >> (rows * b)) & mask), ()))
        cands.discard(q)
        scored = sorted(
            ((spark_round(cosine(vecs[q], vecs[c])), c) for c in cands),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for rk, (cos, c) in enumerate(scored, 1):
            out.append((q, c, cos, rk))
    return pd.DataFrame(out, columns=["query_id", "nbr_id", "cos", "rk"]).astype(
        {"query_id": "int64", "nbr_id": "int64", "cos": "float64", "rk": "int32"}
    )


# ---------------------------------------------------------------------------
# IVF ANN top-k (spec: operators/similarity.py train_centroids/ivf_topk —
# _lloyd over _train_sample: init = first k_cells vectors in id order,
# squared-L2 assignment via _sqdist ((X[:,None,:]-C[None,:,:])**2).sum(-1)
# with argmin ties → lowest index, float64 np.mean update in id order,
# empty cell keeps its centroid, exactly `iters` rounds, trained on the
# first `sample` vectors in id order; ranked by _rank_topk)
# ---------------------------------------------------------------------------

def ann_ivf_golden(emb: pd.DataFrame, query_ids=tuple(range(10)), k=5,
                   k_cells=16, nprobe=4, iters=5, sample=4096) -> pd.DataFrame:
    emb = emb.sort_values("vec_id")
    ids = [int(v) for v in emb["vec_id"]]
    vecs = {i: [float(x) for x in v] for i, v in zip(ids, emb["embedding"])}

    X = np.array([vecs[i] for i in ids[:sample]], dtype=np.float64)
    C = _lloyd(X, k_cells, iters)

    allX = np.array([vecs[i] for i in ids], dtype=np.float64)
    dists = ((allX[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    cell = dists.argmin(axis=1)
    by_cell: dict[int, list[int]] = {}
    for i, c in zip(ids, cell):
        by_cell.setdefault(int(c), []).append(i)
    probe = np.argsort(dists, axis=1, kind="stable")[:, :nprobe]
    probe_of = {i: [int(c) for c in row] for i, row in zip(ids, probe)}

    def cosine(a, b):
        dot = left_fold_dot(a, b)
        return dot / (left_fold_dot(a, a) ** 0.5 * left_fold_dot(b, b) ** 0.5)

    out = []
    for q in query_ids:
        cands = set()
        for c in probe_of[q]:
            cands.update(by_cell.get(c, ()))
        cands.discard(q)
        scored = sorted(
            ((spark_round(cosine(vecs[q], vecs[n])), n) for n in cands),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for rk, (cos, n) in enumerate(scored, 1):
            out.append((q, n, cos, rk))
    return pd.DataFrame(out, columns=["query_id", "nbr_id", "cos", "rk"]).astype(
        {"query_id": "int64", "nbr_id": "int64", "cos": "float64", "rk": "int32"}
    )


# ---------------------------------------------------------------------------
# ANN: product quantization + ADC (spec: similarity.py train_pq_codebooks /
# pq_topk — _normalize'd _train_sample, per-subspace _lloyd, codes and ADC
# tables via _sqdist, cos ~= 1 - 0.5 * sum_j ||q_j - c_code_j||^2, the JVM
# left-folds the per-subspace table values in j order)
# ---------------------------------------------------------------------------

def ann_pq_golden(emb: pd.DataFrame, query_ids=tuple(range(10)), k=5,
                  m=8, ks=16, iters=5, sample=4096) -> pd.DataFrame:
    emb = emb.sort_values("vec_id")
    rows = [(int(i), [float(x) for x in v])
            for i, v in zip(emb["vec_id"], emb["embedding"]) if v is not None]
    ids = [i for i, _ in rows]
    X = np.array([v for _, v in rows[:sample]], dtype=np.float64)
    dim = X.shape[1]
    dsub = dim // m
    norms = np.sqrt((X * X).sum(axis=1))
    norms[norms == 0] = 1.0
    Xn = X / norms[:, None]
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        books[j] = _lloyd(Xn[:, j * dsub:(j + 1) * dsub], ks, iters)

    allX = np.array([v for _, v in rows], dtype=np.float64)
    n2 = np.sqrt((allX * allX).sum(axis=1))
    n2[n2 == 0] = 1.0
    allXn = allX / n2[:, None]
    codes = np.empty((len(ids), m), dtype=np.int64)
    for j in range(m):
        S = allXn[:, j * dsub:(j + 1) * dsub]
        codes[:, j] = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(-1).argmin(axis=1)
    code_of = {i: codes[r] for r, i in enumerate(ids)}
    vec_of = {i: allXn[r] for r, i in enumerate(ids)}

    out = []
    for q in query_ids:
        if q not in vec_of:
            continue
        qv = vec_of[q]
        tabs = [((books[j] - qv[j * dsub:(j + 1) * dsub][None, :]) ** 2).sum(-1)
                for j in range(m)]
        scored = []
        for n in ids:
            if n == q:
                continue
            acc = 0.0  # JVM aggregate() left fold in j order
            for j in range(m):
                acc = acc + float(tabs[j][code_of[n][j]])
            scored.append((spark_round(1.0 - 0.5 * acc), n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rk, (cos, n) in enumerate(scored[:k], 1):
            out.append((q, n, cos, rk))
    return pd.DataFrame(out, columns=["query_id", "nbr_id", "cos", "rk"]).astype(
        {"query_id": "int64", "nbr_id": "int64", "cos": "float64", "rk": "int32"}
    )


# ---------------------------------------------------------------------------
# ANN: IVF ∘ PQ (spec: similarity.py ivfpq_topk — IVF coarse routing on
# RAW vectors exactly as ann_ivf, plain PQ codes within the probed cells
# exactly as ann_pq; candidates = union of the query's nprobe cells,
# scored by the same ADC left-fold)
# ---------------------------------------------------------------------------

def ann_ivfpq_golden(emb: pd.DataFrame, query_ids=tuple(range(10)), k=5,
                     k_cells=16, nprobe=4, m=8, ks=16, iters=5,
                     sample=4096) -> pd.DataFrame:
    emb = emb.sort_values("vec_id")
    ids = [int(v) for v in emb["vec_id"]]
    vecs = {i: [float(x) for x in v] for i, v in zip(ids, emb["embedding"])}

    # IVF coarse quantizer: trained on RAW vectors (ann_ivf contract)
    X = np.array([vecs[i] for i in ids[:sample]], dtype=np.float64)
    C = _lloyd(X, k_cells, iters)
    allX = np.array([vecs[i] for i in ids], dtype=np.float64)
    dists = ((allX[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    cell = dists.argmin(axis=1)
    by_cell: dict[int, list[int]] = {}
    for i, c in zip(ids, cell):
        by_cell.setdefault(int(c), []).append(i)
    probe = np.argsort(dists, axis=1, kind="stable")[:, :nprobe]
    probe_of = {i: [int(c) for c in row] for i, row in zip(ids, probe)}

    # PQ codebooks + codes: NORMALIZED space (ann_pq contract)
    dim = X.shape[1]
    dsub = dim // m
    norms = np.sqrt((X * X).sum(axis=1))
    norms[norms == 0] = 1.0
    Xn = X / norms[:, None]
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        books[j] = _lloyd(Xn[:, j * dsub:(j + 1) * dsub], ks, iters)
    n2 = np.sqrt((allX * allX).sum(axis=1))
    n2[n2 == 0] = 1.0
    allXn = allX / n2[:, None]
    codes = np.empty((len(ids), m), dtype=np.int64)
    for j in range(m):
        S = allXn[:, j * dsub:(j + 1) * dsub]
        codes[:, j] = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(-1).argmin(axis=1)
    code_of = {i: codes[r] for r, i in enumerate(ids)}
    qvec_of = {i: allXn[r] for r, i in enumerate(ids)}

    out = []
    for q in query_ids:
        if q not in qvec_of:
            continue
        qv = qvec_of[q]
        tabs = [((books[j] - qv[j * dsub:(j + 1) * dsub][None, :]) ** 2).sum(-1)
                for j in range(m)]
        cands = set()
        for c in probe_of[q]:
            cands.update(by_cell.get(c, ()))
        cands.discard(q)
        scored = []
        for n in sorted(cands):
            acc = 0.0  # JVM aggregate() left fold in j order
            for j in range(m):
                acc = acc + float(tabs[j][code_of[n][j]])
            scored.append((spark_round(1.0 - 0.5 * acc), n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rk, (cos, n) in enumerate(scored[:k], 1):
            out.append((q, n, cos, rk))
    return pd.DataFrame(out, columns=["query_id", "nbr_id", "cos", "rk"]).astype(
        {"query_id": "int64", "nbr_id": "int64", "cos": "float64", "rk": "int32"}
    )


# ---------------------------------------------------------------------------
# SemDeDup pairs (spec: dedup.py semdedup_pairs — ann_ivf's trained
# cells, within-cell all-pairs left-fold cosine >= threshold via
# _cosine_pairs)
# ---------------------------------------------------------------------------

def semdedup_golden(emb: pd.DataFrame, k_cells=16, threshold=0.3,
                    iters=5, sample=4096) -> pd.DataFrame:
    emb = emb.sort_values("vec_id")
    ids = [int(v) for v in emb["vec_id"]]
    vecs = {i: [float(x) for x in v] for i, v in zip(ids, emb["embedding"])}
    X = np.array([vecs[i] for i in ids[:sample]], dtype=np.float64)
    C = _lloyd(X, k_cells, iters)
    allX = np.array([vecs[i] for i in ids], dtype=np.float64)
    cell = ((allX[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(axis=1)
    by_cell: dict[int, list[int]] = {}
    for i, c in zip(ids, cell):
        by_cell.setdefault(int(c), []).append(i)

    def cosine(a, b):
        dot = left_fold_dot(a, b)
        return dot / (left_fold_dot(a, a) ** 0.5 * left_fold_dot(b, b) ** 0.5)

    out = []
    for members in by_cell.values():
        ms = sorted(members)
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                cs = spark_round(cosine(vecs[ms[x]], vecs[ms[y]]))
                if cs >= threshold:
                    out.append((ms[x], ms[y], cs))
    out.sort()
    return pd.DataFrame(out, columns=["id_a", "id_b", "cos"]).astype(
        {"id_a": "int64", "id_b": "int64", "cos": "float64"}
    )


# ---------------------------------------------------------------------------
# language id (spec: operators/langdetect.py stopword-profile scoring;
# the word lists ARE the spec so they are imported as data, but the
# scoring loop below is an independent per-language re-derivation)
# ---------------------------------------------------------------------------

def language_golden(docs: pd.DataFrame) -> pd.DataFrame:
    import re

    from open_semantic_etl_spark.operators.langdetect import (
        LANG_ORDER, MIN_SCORE, SAMPLE_CHARS, STOPWORDS,
    )

    token_re = re.compile(r"[^\W\d_]+", re.UNICODE)
    out = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        lang = "und"
        if text:
            t = text
            if len(t) > SAMPLE_CHARS:
                cut = t.rfind(" ", 0, SAMPLE_CHARS)
                t = t[:cut if cut > 0 else SAMPLE_CHARS]
            toks = token_re.findall(t.lower())
            if len(toks) >= 3:
                best = MIN_SCORE
                for cand in LANG_ORDER:
                    sw = STOPWORDS[cand]
                    score = sum(1 for w in toks if w in sw) / len(toks)
                    if score > best:
                        lang, best = cand, score
        out.append((int(doc_id), lang))
    return pd.DataFrame(out, columns=["doc_id", "language_s"]).astype({"doc_id": "int64"})


# ---------------------------------------------------------------------------


_M64 = (1 << 64) - 1
_XXP1, _XXP2, _XXP3, _XXP4, _XXP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_long(v: int, seed: int = 42) -> int:
    """XXH64 of one 8-byte little-endian long (Collet's public spec,
    len<32 path with a single 8-byte lane) — Spark's
    ``F.xxhash64(longCol)`` with its default seed 42, re-derived
    independently; signed-64 output like Spark's. Verified bit-equal
    against Spark in tests/test_goldens.py."""
    h = (seed + _XXP5 + 8) & _M64
    k1 = _rotl64((v & _M64) * _XXP2 & _M64, 31) * _XXP1 & _M64
    h ^= k1
    h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
    h ^= h >> 33
    h = h * _XXP2 & _M64
    h ^= h >> 29
    h = h * _XXP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


#: corpus-mixing quotas used by the host_cap driver query — the golden
#: and the Spark plan share this dict (the rates are the spec; the
#: HASH is what the golden independently re-derives)
SAMPLE_RATES = {"en": 0.9, "de": 0.5, "fr": 0.25}
SAMPLE_DEFAULT_RATE = 0.1


def stratified_sample_golden(docs: pd.DataFrame) -> pd.DataFrame:
    """independent twin of functions/skew.py stratified_sample:
    keep iff pmod(xxh64(doc_id), 10^6) < rate(lang)·10^6."""
    rows = []
    for doc_id, lang in zip(docs["doc_id"], docs["lang"]):
        rate = SAMPLE_RATES.get(lang, SAMPLE_DEFAULT_RATE)
        draw = xxh64_long(int(doc_id)) % 1_000_000  # pmod: non-negative
        rows.append((int(doc_id), int(draw < int(rate * 1_000_000))))
    return pd.DataFrame(rows, columns=["doc_id", "sampled_i"]).astype(
        {"doc_id": "int64", "sampled_i": "int32"}
    )


def main(out_dir: str = OUT_DIR, sf_dirs: list[str] | None = None) -> None:
    import os

    sf_dirs = sf_dirs or SF_DIRS
    os.makedirs(out_dir, exist_ok=True)
    parts: dict[str, list[pd.DataFrame]] = {k: [] for k in
        ("minhash_lsh", "simhash", "ann_lsh", "ann_ivf", "ann_pq",
         "ann_ivfpq", "semdedup", "language_detect", "stratified_sample")}
    keys_seen: dict[str, set] = {"docs": set(), "emb": set()}
    for sf in sf_dirs:
        docs = pq.read_table(f"{sf}/documents.parquet").to_pandas()
        emb = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
        dkey = int(docs["n_chars"].sum())
        ekey = int(emb["label"].sum()) * 1_000_003 + len(emb)
        assert dkey not in keys_seen["docs"], f"doc key collision for {sf}"
        assert ekey not in keys_seen["emb"], f"emb key collision for {sf}"
        keys_seen["docs"].add(dkey)
        keys_seen["emb"].add(ekey)
        for name, df, key in (
            ("minhash_lsh", minhash_lsh_golden(docs), dkey),
            ("simhash", simhash_golden(docs), dkey),
            ("ann_lsh", ann_lsh_golden(emb), ekey),
            ("ann_ivf", ann_ivf_golden(emb), ekey),
            ("ann_pq", ann_pq_golden(emb), ekey),
            ("ann_ivfpq", ann_ivfpq_golden(emb), ekey),
            ("semdedup", semdedup_golden(emb), ekey),
            ("language_detect", language_golden(docs), dkey),
            ("stratified_sample", stratified_sample_golden(docs), dkey),
        ):
            df["_key"] = np.int64(key)
            parts[name].append(df)
            print(f"{sf} {name}: {len(df)} rows (key={key})")
    for name, dfs in parts.items():
        pd.concat(dfs, ignore_index=True).to_parquet(f"{out_dir}/{name}.parquet", index=False)
        print(f"wrote {out_dir}/{name}.parquet")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else OUT_DIR, sys.argv[2:] or None)
