"""Similarity / sketching Column library: cosine over embedding arrays,
MinHash signatures, LSH banding and hyperplane bucketing.

All sketches use the portable integer arithmetic from functions.text
(31-polynomial hashes mod 1000003) and all float reductions are
sequential in array order, so the DuckDB oracle reproduces every value
exactly. Everything is Spark higher-order functions — JVM-side, no
shuffles, no UDFs; the wide steps (candidate joins) live in
operators/dedup.py and operators/ann.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import HASH_MOD

EMPTY_SIG = HASH_MOD  # minhash of an empty shingle set


# --- dense-vector similarity -------------------------------------------------
def to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential fold in index order (bit-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- shingles / MinHash --------------------------------------------------------
# NOTE: the array-column forms below are the per-row API; the hot batch
# path lives in operators/dedup.py as explode -> window -> aggregate over
# token ROWS. Nested array lambdas recompute their captured expressions per
# lambda (Catalyst inlines through project-collapse), so sketching over
# arrays in place is correct but far slower — don't use these in bulk jobs.
# single pinned trigram-shingle definition lives in functions.text;
# re-exported here so the sketch library has one import surface and the
# arithmetic can never fork between the two modules
from .text import shingle_hashes  # noqa: E402,F401


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """k-permutation MinHash: mh_j = min over shingles of
    ((2j+1)*s + 7919j + 1) mod P; empty set -> sentinel P."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.when(F.size(shingles) == 0, F.lit(EMPTY_SIG)).otherwise(
            F.array_min(
                F.transform(
                    shingles,
                    lambda s: ((2 * j + 1) * s + j * 7919 + 1) % HASH_MOD,
                )
            )
        ).cast("long"),
    )


def lsh_bands(signature: Column, bands: int, rows: int) -> Column:
    """Band keys for LSH: band b = its `rows` signature values joined into
    one string key. Two docs collide on a band iff that slice is equal."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "-",
            F.transform(
                F.slice(signature, b * rows + 1, rows), lambda v: v.cast("string")
            ),
        ),
    )


# --- hyperplane LSH for dense vectors ---------------------------------------------
def hyperplane(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j (portable arithmetic:
    Knuth multiplicative hashing of the flat index)."""
    return [
        ((1 + (j * dim + i) * 2654435761) % HASH_MOD) / HASH_MOD - 0.5
        for i in range(dim)
    ]


def hyperplane_bucket(vec: Column, n_planes: int, dim: int) -> Column:
    """Bucket id = sum over planes of 2^j * [dot(vec, plane_j) > 0]."""
    out = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.array(*[F.lit(v) for v in hyperplane(j, dim)])
        out = out + F.when(dot(to_double(vec), plane) > 0, F.lit(2**j)).otherwise(
            F.lit(0)
        ).cast("long")
    return out
