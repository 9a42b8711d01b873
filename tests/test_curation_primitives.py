"""One kernel per curation primitive.

The word-n-gram window, the md5 feature bucket, the ANN ranker and the
squared-L2 kernel are each written once in the package; a second copy
of any of them is a second spec that can drift from the first (and from
the DuckDB twins and numpy goldens that pin it), and fails this test.
tools/gen_goldens.py keeps its own independent derivations and is not
scanned.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from test_dead_plans import ROOT

PKG = ROOT / "open_semantic_etl_spark"
OPERATORS = PKG / "operators"
TEXT_FILES = [OPERATORS / "dedup.py", OPERATORS / "textstats.py"]
SIMILARITY = [OPERATORS / "similarity.py"]


@pytest.mark.parametrize(
    "pattern, files",
    [
        ("F.sequence(F.lit(1),", TEXT_FILES),  # the word-n-gram window
        ("F.conv(F.substring(F.md5(", sorted(PKG.rglob("*.py"))),  # md5 bucket
        ("row_number().over", SIMILARITY),  # the ANN top-k ranker
        ("** 2).sum(-1)", SIMILARITY),  # the squared-L2 kernel
    ],
)
def test_each_primitive_is_written_once(pattern, files):
    sites = {
        str(p.relative_to(ROOT)): p.read_text().count(pattern)
        for p in files
        if pattern in p.read_text()
    }
    assert sum(sites.values()) == 1, f"{pattern!r} written {sites}"


def test_ann_and_semdedup_share_one_centroid_training(spark, tmp_path, monkeypatch):
    """the ann and neardup_embedding queries over one embeddings table
    train the IVF centroids once between them, whichever runs first."""
    from open_semantic_etl_spark.operators import similarity
    from open_semantic_etl_spark.plans import queries as Q
    from open_semantic_etl_spark.plans import queries_ext as QX

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((64, 64)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(64), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(64)], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    calls = []
    train = similarity.train_centroids

    @functools.wraps(train)
    def counted(*args, **kwargs):
        calls.append(1)
        return train(*args, **kwargs)

    monkeypatch.setattr(similarity, "train_centroids", counted)
    monkeypatch.setattr(Q, "_ANN_MEMO", {})
    monkeypatch.setattr(Q, "_tmp_sidecar", lambda sf, fp, tag: str(tmp_path / tag))
    sf = str(tmp_path)
    assert Q.q_ann(spark, sf).count() > 0
    QX.q_neardup_embedding(spark, sf).count()
    assert len(calls) == 1
