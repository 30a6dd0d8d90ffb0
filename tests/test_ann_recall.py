"""Recall contract for the embedding near-dup sketch (VERDICT r3 #3).

Two claims from the operator docstrings, both asserted here against the
exact all-pairs ground truth (embedding_near_duplicates_exact):

1. In the regime near-dup detection targets (cosine >= 0.9), the pinned
   8x8 banding achieves recall >= 0.9 — shown on planted high-similarity
   pairs, since the synthetic corpus tops out at cosine ~0.5.
2. At the corpus's own operating point (threshold 0.4), the sketch is a
   documented partial-recall candidate generator: output is a strict
   subset of the exact pairs with recall in the theoretical ~0.19 band.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from wikitrender_spark.operators import ann

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _emb_df(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, EMB_SCHEMA)


def _pairs(df):
    return {(r["vec_a"], r["vec_b"]) for r in df.collect()}


@pytest.fixture(scope="module")
def planted(spark):
    """240 vectors: 160 independent + 40 planted pairs at cosine ~0.95."""
    rng = np.random.default_rng(42)
    base = rng.standard_normal((160, ann.EMB_DIM))
    a = rng.standard_normal((40, ann.EMB_DIM))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    noise = rng.standard_normal((40, ann.EMB_DIM)) * 0.33 / np.sqrt(ann.EMB_DIM)
    b = a + noise  # cos(a, b) ~ 1/sqrt(1+0.33^2) ~ 0.95
    vecs = np.vstack([base, a, b])
    return _emb_df(spark, vecs)


def test_high_threshold_recall_at_least_090(planted):
    exact = _pairs(ann.embedding_near_duplicates_exact(planted, threshold=0.9))
    sketch = _pairs(ann.embedding_near_duplicates(planted, threshold=0.9))
    assert len(exact) >= 30, "planting failed: too few true pairs"
    assert sketch <= exact, "sketch must be a subset of the exact pairs"
    recall = len(sketch & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9 at cosine 0.9"


def test_corpus_operating_point_recall_documented_band(spark, sf_dir="/root/testdata/sf0.001"):
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    exact = _pairs(ann.embedding_near_duplicates_exact(emb))
    sketch = _pairs(ann.embedding_near_duplicates(emb))
    assert sketch <= exact, "sketch must be a subset of the exact pairs"
    assert exact, "corpus has no pairs at the default threshold"
    recall = len(sketch) / len(exact)
    # theory: 1-(1-p^8)^8 ~ 0.18-0.30 over the 0.4-0.51 sim range of the
    # surviving pairs; fail if the sketch drifts materially from the
    # documented partial-recall band in either direction
    assert 0.03 <= recall <= 0.6, f"recall {recall:.3f} outside documented band"


def test_sketch_sim_values_match_exact(planted):
    """Surviving pairs carry bit-identical sims in both operators."""
    exact = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in ann.embedding_near_duplicates_exact(planted, threshold=0.9).collect()
    }
    for r in ann.embedding_near_duplicates(planted, threshold=0.9).collect():
        assert exact[(r["vec_a"], r["vec_b"])] == r["sim"]
