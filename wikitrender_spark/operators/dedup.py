"""Deduplication operators for the LLM-data pipeline (SURVEY.md §2.8):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant at 100 TB):
- exact: one hash-aggregate on a 128-bit content digest — the digest
  (md5 here, for oracle portability; xxhash128 in production) collapses
  the shuffle payload from document bytes to 16 bytes + ids.
- all sketch variants share ONE materialization: ``doc_token_hashes``
  hashes every token exactly once in a per-row HOF projection and
  cuts the result with ``barrier`` (round 16; previously an explode ->
  aggregate -> join-back whose shuffle was the materialization
  boundary). Downstream sketches are then pure array arithmetic over
  that stored column. The explicit checkpoint is deliberate:
  higher-order-function projections run interpreted (no whole-stage
  codegen, no common-subexpression elimination), so chaining the hash
  expression itself into k per-permutation lambdas would recompute the
  O(doc-length) hash k times per document. The checkpoint is the CSE
  barrier — see the doc_token_hashes docstring for the measured failure
  when it is absent.
- MinHash+LSH: k permutation minima = array_min over transform of the
  stored shingle-hash array; banding turns near-dup search into an
  equi-join on band keys — the linear-ish scale path, AQE-skew-safe.
- n-gram Jaccard: exact pairwise similarity via an inverted index
  (explode distinct shingles -> self-join) — the ground-truth oracle for
  the sketch variants; quadratic in the worst case, only run on candidate
  subsets at scale.
- SimHash: 16 bit-vote aggregates over the stored token-hash array;
  Hamming neighbors cluster under prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..barrier import barrier
from ..functions import similarity as S
from ..functions import text as T

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
NEAR_DUP_THRESHOLD = 0.8


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Content-identical groups: digest -> copy count + keeper (min id)."""
    return (
        docs.select(F.md5("text").alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def doc_token_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, ths array<long>): per-token portable hashes in token
    order, as ONE per-row HOF projection (transform over the token
    array) — zero exchanges, zero joins — materialized by a barrier
    before it is returned.

    Round 16 (guide §2.4): this replaced a posexplode -> groupBy ->
    collect_list(struct) -> join-back formulation that paid two
    exchanges and an ObjectHashAggregate per call (measured 2.0 s vs
    0.5 s at sf0.1, signatures bit-identical downstream). The
    checkpoint is LOAD-BEARING, not optional: the old aggregation was a
    materialization boundary, and without one the round-13 nested-
    lambda hazard returns — once a consumer fans the un-materialized
    sketch through a Generate/filter, the optimizer inlines the token
    pass into every lambda reference and interpreted evaluation goes
    quadratic in tokens (measured: posexplode over un-materialized
    signatures took 162 s for 1,000 sf0.001 docs; the same plan over
    the checkpointed relation is sub-second). Downstream sketch
    projections (minhash / simhash folds) stay safe because they
    reference `ths` as a REAL column of this checkpointed relation.
    The STREAMING sketch path keeps its own Arrow-batched form
    (streaming/dedup.lsh_band_keys_py) for the same round-13 reason.

    Every doc keeps a row: docs with zero tokens (or NULL text) get an
    empty array (they must still receive sentinel signatures)."""
    # the round-13 nested-lambda cut (see above)
    return barrier(token_hash_projection(docs))


def token_hash_projection(docs: DataFrame) -> DataFrame:
    """The un-checkpointed (doc_id, ths) projection doc_token_hashes
    materializes. Exposed separately because the checkpoint swallows
    this subtree into a Scan ExistingRDD: plan-shape tests assert the
    pruned documents scan (doc_id, text only) HERE, where the FileScan
    is still visible (tests/test_plans.py)."""
    return docs.select(
        "doc_id",
        F.coalesce(
            T.token_hashes(F.col("text")), F.array().cast("array<long>")
        ).alias("ths"),
    )


def _shingles(ths: Column) -> Column:
    """Word-trigram shingle hashes from a STORED token-hash array — cheap
    integer arithmetic, safe to inline into multiple consumers."""
    n = F.size(ths)
    return F.when(n < 3, F.array().cast("array<long>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: (
                (F.element_at(ths, i) * T.HASH_MULT + F.element_at(ths, i + 1))
                % T.HASH_MOD
                * T.HASH_MULT
                + F.element_at(ths, i + 2)
            )
            % T.HASH_MOD,
        )
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word-trigram shingle hashes (the
    inverted-index rows for exact Jaccard)."""
    return doc_token_hashes(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_shingles(F.col("ths")))).alias("shingle"),
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact pairwise Jaccard >= threshold via inverted-index self-join."""
    ex = doc_shingles(docs)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_K, dth: DataFrame | None = None
) -> DataFrame:
    """(doc_id, signature array<long> of length k): k permutation minima
    over the stored shingle array. Docs with no shingles (< 3 tokens) get
    the sentinel signature. ``dth`` lets a caller that already
    materialized doc_token_hashes share it (the executed-plan audit this
    round showed separate plan branches re-run the whole tokenization —
    Spark's ReuseExchange does NOT fire across them under AQE)."""
    sentinel = F.array(*[F.lit(S.EMPTY_SIG).cast("long")] * k)
    mins = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_sh"),
                    lambda x: ((2 * j + 1) * x + j * 7919 + 1) % T.HASH_MOD,
                )
            )
            for j in range(k)
        ]
    )
    return (
        (dth if dth is not None else doc_token_hashes(docs))
        .select("doc_id", _shingles(F.col("ths")).alias("_sh"))
        .select(
            "doc_id",
            F.when(F.size("_sh") == 0, sentinel).otherwise(mins).alias(
                "signature"
            ),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    dth: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band.

    Sentinel signatures (docs with <3 tokens, no shingles) are excluded
    BEFORE banding: they all share one signature, so banding them would
    generate an all-pairs candidate set over every short doc — an O(n^2)
    shuffle at corpus scale — only for verification to drop each pair as
    NULL jaccard. A permuted hash is always < HASH_MOD, so sig[0] ==
    EMPTY_SIG identifies exactly the sentinel docs.

    The banded relation is localCheckpoint'd before the self-join: the
    join's two sides are separate plan branches, and without the
    barrier EACH re-runs tokenization + signatures + banding (verified
    on the executed plan — 4 documents scans, zero ReusedExchange).
    ``sig`` lets a caller that banded the SAME signatures under several
    configs (lsh_tuning_report) materialize them once; the sentinel
    filter is applied here either way."""
    if sig is None:
        sig = minhash_signatures(docs, k, dth=dth)
    sig = sig.filter(F.element_at("signature", 1) != S.EMPTY_SIG)
    banded = barrier(  # 2 consumers: the two self-join sides
        sig.select(
            "doc_id",
            F.posexplode(S.lsh_bands(F.col("signature"), bands, rows)).alias(
                "band_idx", "band_key"
            ),
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _candidates_with_shingle_sets(
    docs: DataFrame, dth: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, sh_a, sh_b): the LSH candidate pairs joined with
    each side's stored DISTINCT shingle array — the shared verification
    scaffold for every candidate-restricted scorer (near_duplicates,
    minhash_estimate_pairs, containment_pairs). Verification math stays
    per-pair array arithmetic over rows already in hand; candidates,
    never all pairs, are what the shingle arrays join onto."""
    # ONE token-hash materialization feeds the signature path AND both
    # verification sides — the module docstring's shared-materialization
    # promise made physically true (plan audit: 8 documents scans per
    # near_duplicates run without this, 0 with it). A caller that
    # already checkpointed dth passes it through.
    if dth is None:
        dth = doc_token_hashes(docs)
    cands = lsh_candidate_pairs(docs, dth=dth)
    sets = dth.select(
        "doc_id", F.array_distinct(_shingles(F.col("ths"))).alias("sh")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return cands.join(a, "doc_a").join(b, "doc_b")


def near_duplicates(
    docs: DataFrame, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """LSH candidates verified with exact Jaccard — the full
    minhash -> band -> bucket-join -> verify pipeline.

    Verification touches ONLY candidate pairs: each side joins its stored
    distinct-shingle array and the intersection is a per-pair
    array_intersect — O(candidates * shingles), not the inverted-index
    self-join over all pairs (that quadratic ground-truth path exists
    separately as ngram_jaccard_pairs). Same jaccard arithmetic as the
    oracle: |a∩b| / (|a|+|b|-|a∩b|), rounded to 6; zero-intersection
    pairs (incl. sentinel-signature empty docs) fall out as NULL/0."""
    return candidate_jaccard(docs).filter(F.col("jaccard") >= threshold)


def _verified_jaccard(with_sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) from a (doc_a, doc_b, sh_a, sh_b)
    relation, dropping zero-intersection pairs — THE jaccard arithmetic
    (one home: near_duplicates, jaccard_histogram, and the tuning
    report's n_verified must never drift apart). Mirrors the oracle's
    inverted-index intersection, which never emits disjoint pairs."""
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        with_sets.select(
            "doc_a",
            "doc_b",
            n_inter.alias("n_inter"),
            F.round(
                n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("n_inter") > 0)
        .drop("n_inter")
    )


def candidate_jaccard(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every LSH candidate pair with a
    non-empty shingle intersection — the unthresholded verification
    relation near_duplicates filters and jaccard_histogram buckets."""
    return _verified_jaccard(_candidates_with_shingle_sets(docs))


#: banding sweep for the tuning report — every (bands, rows) factoring
#: of the 16-perm signature; r controls the S-curve's threshold
#: (~(1/b)^(1/r)), so 8x2 admits low-similarity pairs and 2x8 only
#: near-identical ones
LSH_TUNING_CONFIGS: tuple[tuple[int, int], ...] = ((8, 2), (4, 4), (2, 8))


def lsh_tuning_report(
    docs: DataFrame,
    threshold: float = NEAR_DUP_THRESHOLD,
    configs: tuple[tuple[int, int], ...] = LSH_TUNING_CONFIGS,
) -> DataFrame:
    """Banding-configuration sweep: for each (bands, rows_per_band)
    factoring of the minhash signature, the measured candidate-pair
    count, how many candidates verify at ``threshold``, and the
    precision — the relation that picks the banding for a target
    threshold from DATA instead of the (1-s^r)^b formula alone (which
    assumes independent permutations the 16-perm reality only
    approximates).

    Scale shape: ONE token-hash materialization feeds the signature
    path and both verification sides across ALL configs (the shared-dth
    checkpoint pattern); each config adds one banding pass over the
    compact signature relation and a candidates-only verification. At
    100 TB, tuning runs on a corpus sample — the report's cost is
    candidates, never all pairs, under every config.

    Output: (bands, rows_per_band, n_candidates, n_verified,
    precision_frac), one row per config, ordered bands desc. Counts are
    exact BIGINTs; the precision is one division of two ints, rounded —
    engine-portable.

    Materialization (the multi-consumer recomputation class the r07
    review flagged): dth is checkpointed once for everything; the
    config-independent SIGNATURES are checkpointed once and passed into
    every banding pass; each config's CANDIDATE relation is
    checkpointed before its two consumers (the count aggregation and
    the verify join), so per invocation there is exactly one
    tokenization, one signature computation, and one banded self-join
    per config. Verification shares _verified_jaccard — the same
    arithmetic near_duplicates uses, one home."""
    dth = doc_token_hashes(docs)
    # every config's banding pass consumes the signatures
    sig = barrier(minhash_signatures(docs, dth=dth))
    sets = dth.select(
        "doc_id", F.array_distinct(_shingles(F.col("ths"))).alias("sh")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    out = None
    for bands, rows in configs:
        cands = barrier(  # 2 consumers: the count and the verify join
            lsh_candidate_pairs(
                docs, bands=bands, rows=rows, dth=dth, sig=sig
            )
        )
        verified = _verified_jaccard(
            cands.join(a, "doc_a").join(b, "doc_b")
        ).filter(F.col("jaccard") >= threshold)
        row = (
            cands.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(verified.agg(F.count(F.lit(1)).alias("n_verified")))
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rows).cast("int").alias("rows_per_band"),
                "n_candidates",
                "n_verified",
                F.round(
                    F.when(F.col("n_candidates") == 0, F.lit(0.0)).otherwise(
                        F.col("n_verified").cast("double")
                        / F.col("n_candidates").cast("double")
                    ),
                    6,
                ).alias("precision_frac"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.desc("bands"))


def jaccard_histogram(docs: DataFrame) -> DataFrame:
    """Candidate-pair Jaccard histogram (bucket = floor(jaccard*10)):
    the threshold-tuning relation for the near-dup pipeline — how many
    pairs each cutoff would keep. Same candidate-only scale shape as
    near_duplicates with an O(11)-row output."""
    return (
        candidate_jaccard(docs)
        .select(F.floor(F.col("jaccard") * 10).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def minhash_estimate_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-estimated vs exact Jaccard on the LSH candidate pairs —
    a hash-checked measurement of WHY this engine's near-dup pipeline
    verifies candidates exactly instead of trusting the sketch.

    For an independent pair, (matching minima)/k estimates Jaccard
    unbiasedly (Hoeffding: P(|est-J|>0.6) ~ 2e-5 at k=16). But LSH
    candidates are SELECTED because a band of signature values collided,
    so scoring them with the same signatures is upward-biased by
    construction — measured on this corpus: mean signed error +0.007 at
    sf0.01 but +0.25 at sf0.1 (many near-threshold candidates), max
    +0.74. The `err` column carries the per-pair signed error; the
    contract (tests/test_pipeline_ops.py) pins the bias DIRECTION and
    envelope, and the architecture consequence is that near_duplicates
    scores candidates with exact |a∩b|/|a∪b| (the `jaccard` column
    here), never with `est_jaccard`. Scale shape: signatures and shingle
    arrays join only onto candidate pairs, never all pairs; ONE shared
    token-hash checkpoint feeds candidates and both signature sides,
    and the signature relation is itself checkpointed so its sa/sb
    branches don't re-run the 16-permutation fold (the plan audit
    showed 4 documents scans here before this — same redundancy class
    the near_duplicates fix removed)."""
    dth = doc_token_hashes(docs)
    # 2 consumers: the sa and sb sides
    sig = barrier(minhash_signatures(docs, dth=dth))
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = (
        _candidates_with_shingle_sets(docs, dth=dth)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(MINHASH_K)), 6).alias("est_jaccard"),
            F.round(
                n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 6
            ).alias("jaccard"),
        )
    )
    return scored.withColumn(
        "err", F.round(F.col("est_jaccard") - F.col("jaccard"), 6)
    )


def duplicate_clusters(
    docs: DataFrame, threshold: float = NEAR_DUP_THRESHOLD, max_iters: int = 20
) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every doc
    in a component labeled with the component's min doc_id — the keeper
    assignment for cluster-level dedup.

    HashMin label propagation: per iteration, label = min(own label,
    neighbors' labels); converges in O(component diameter) iterations.
    The driver loop carries only a changed-row COUNT per iteration (no
    data collect) and cuts lineage with localCheckpoint — the standard
    large-scale iterative-graph shape on DataFrames. Only docs that
    appear in a near-dup pair are emitted (singletons are their own
    trivial cluster)."""
    # materialize the EXPENSIVE pair generation once, THEN symmetrize:
    # the union's two branches each embed the full near_duplicates plan
    # (LSH banding + candidate verification), and checkpointing the
    # union executes both — checkpointing the pairs first makes the
    # swapped branch a re-read of tiny cached blocks (measured at
    # sf0.1: ~2 s saved per run)
    pairs = barrier(  # 2 consumers: the union's two branches
        near_duplicates(docs, threshold).select("doc_a", "doc_b")
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    # label init FUSED with the first propagation round: instead of a
    # distinct (one shuffle) followed by iteration 1's join+agg, one
    # aggregation over the symmetric edges yields
    # label = min(doc_id, min(neighbors)) directly — the same relation
    # iteration 1 would have produced from identity labels, one shuffle
    # round cheaper. The loop below then only confirms/propagates
    # deeper chains (diameter >= 2 components).
    labels = barrier(  # 2 consumers: round 1's join and union
        edges.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.least(F.min("doc_a"), F.min("doc_b")).alias("label"))
    )
    changed = -1
    for _ in range(max_iters):
        # one join + one aggregation per round (round 16, guide §2.4):
        # the neighbor labels and the doc's own label meet in a single
        # union whose aggregation yields new label (min over all
        # candidates) AND old label (the unique own-tagged row) side by
        # side — replacing the former nbr_min join + labels re-join
        # (two shuffle joins and five exchanges per round on a tiny
        # relation). The checkpoint is LAZY and materialized by the
        # convergence count itself, so each round is exactly one job.
        nbr = edges.join(labels, edges.doc_b == labels.doc_id).select(
            edges.doc_a.alias("doc_id"),
            F.col("label").alias("cand"),
            F.lit(False).alias("own"),
        )
        joined = barrier(  # the HashMin count, then the next round
            nbr.unionByName(
                labels.select(
                    "doc_id",
                    F.col("label").alias("cand"),
                    F.lit(True).alias("own"),
                )
            )
            .groupBy("doc_id")
            .agg(
                F.min(F.when(F.col("own"), F.col("cand"))).alias("old_label"),
                F.min("cand").alias("label"),
            )
        )
        changed = joined.filter(F.col("label") != F.col("old_label")).count()
        labels = joined.select("doc_id", "label")
        if changed == 0:
            break
    if changed != 0:
        # partially propagated labels are silently WRONG — fail loudly
        # (diameter > max_iters implies an unexpectedly deep dup chain)
        raise RuntimeError(
            f"connected components did not converge in {max_iters} iterations"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def _bitvote_fingerprints(
    docs: DataFrame, remixes: list, bits: int, out_of
) -> DataFrame:
    """Shared explode-form SimHash core (round 16, guide §2.3/§4.1):
    explode the CHECKPOINTED token-hash arrays to token rows and compute
    every bit-vote as a codegen'd conditional SUM in ONE hash aggregate
    keyed by doc_id — the former per-row interpreted F.aggregate folds
    (16 per remix, each re-walking the array and re-deriving the remix
    per bit) ran outside whole-stage codegen and dominated the sketch
    (measured at sf0.1 on spread input: 2.45 s -> 1.69 s per
    materialization, fingerprints bit-identical).

    Vote algebra: the fold's sum of (+1/-1) per token == 2*S_j - n with
    S_j = count of tokens with bit j set, so bit j is set iff
    2*S_j > n. Zero-token docs keep their row via explode_outer (NULL
    token; n = count(t) = 0; every comparison false -> all bits 0 ==
    the fold's empty-array accumulator).

    100 TB shape: the explode runs over the doc_token_hashes
    localCheckpoint (tokens stay partition-local), map-side partial
    aggregation collapses each doc's rows before the exchange, so the
    shuffle carries ONE narrow sum-vector row per doc (the guide §8
    metadata-proxy rule) — vs the zero-shuffle but interpreted HOF
    form, whose per-token cost is the 100 TB limiter.

    `remixes`: list of (token Column -> Column) bit sources, one per
    output block; `out_of`: (list of per-block bit-sum Columns ->
    final projection list)."""
    tok = doc_token_hashes(docs).select(
        "doc_id", F.explode_outer(F.col("ths")).alias("t")
    )
    aggs = [F.count(F.col("t")).alias("_n")]
    for b, remix in enumerate(remixes):
        h = remix(F.col("t"))
        for j in range(bits):
            aggs.append(
                F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1))).alias(
                    f"_s_{b}_{j}"
                )
            )
    agg = tok.groupBy("doc_id").agg(*aggs)
    blocks = []
    for b in range(len(remixes)):
        blocks.append(
            sum(
                (
                    F.when(
                        F.coalesce(F.col(f"_s_{b}_{j}"), F.lit(0)) * 2
                        > F.col("_n"),
                        F.lit(2**j).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                    for j in range(1, bits)
                ),
                F.when(
                    F.coalesce(F.col(f"_s_{b}_0"), F.lit(0)) * 2
                    > F.col("_n"),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )
        )
    return agg.select("doc_id", *out_of(blocks))


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """16-bit SimHash: 16 bit-vote folds over the stored token-hash array
    (bit j of each hash votes +1/-1; bit set iff the sum is positive).
    Docs with zero tokens hash to 0.

    Deliberately KEPT in the per-row HOF fold form (round 16): the
    explode/conditional-sum rewrite that pays for the 4-remix 64-bit
    variant (see _bitvote_fingerprints) measured SLOWER here
    (solo 0.90 -> 1.23 s at sf0.1) — with one un-remixed 16-bit vote
    the fold is cheap and the added per-doc exchange dominates."""
    votes = [
        F.aggregate(
            F.col("ths"),
            F.lit(0).cast("long"),
            lambda a, x: a
            + (x.bitwiseAND(F.lit(2 ** j).cast("long")) != 0).cast("long") * 2
            - 1,
        )
        for j in range(16)
    ]
    sim = sum(
        (F.when(votes[j] > 0, 2 ** j).otherwise(0) for j in range(16)),
        F.lit(0),
    ).cast("long")
    return doc_token_hashes(docs).select(
        "doc_id",
        F.when(F.size("ths") == 0, F.lit(0).cast("long"))
        .otherwise(sim)
        .alias("simhash"),
    )


#: 64-bit SimHash = SIMHASH_BLOCKS x SIMHASH_BLOCK_BITS; pairs within
#: Hamming distance SIMHASH_HAM_MAX are caught with NO false negatives:
#: <= 3 differing bits cannot touch all 4 blocks (pigeonhole), so every
#: qualifying pair shares at least one whole block — Manku, Jain &
#: Sarma, WWW'07 §3 (the Google near-dup crawl dedup construction).
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = 16
SIMHASH_HAM_MAX = 3


def simhash64_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, fp array<long> of SIMHASH_BLOCKS 16-bit blocks): block b
    is a SimHash over an independently remixed token hash
    (((2b+1)*t + b*7919 + 1) mod 1000003 — the minhash remix family), so
    the four blocks behave as 64 independent bit votes; the 16-bit
    simhash_fingerprints sketch is too collided for pair generation on a
    large corpus (measured: ~41k pairs within Hamming 3 of 125k at
    sf0.01) while this one discriminates (24 pairs). Explode/
    conditional-sum form — see _bitvote_fingerprints."""

    def mk_remix(b: int):
        return lambda t: (
            F.lit(2 * b + 1) * t + F.lit(b * 7919 + 1)
        ) % F.lit(1_000_003)

    return _bitvote_fingerprints(
        docs,
        remixes=[mk_remix(b) for b in range(SIMHASH_BLOCKS)],
        bits=SIMHASH_BLOCK_BITS,
        out_of=lambda blocks: [F.array(*blocks).alias("fp")],
    )


def _cap_hot_buckets(blocks: DataFrame, pops: DataFrame, cap: int) -> DataFrame:
    """Drop (b, blk) buckets hotter than `cap` from candidate generation
    — the explicit completeness trade documented on the callers."""
    return (
        blocks.join(F.broadcast(pops), ["b", "blk"])
        .filter(F.col("_n") <= cap)
        .drop("_n")
    )


def _manku_candidate_pairs(blocks: DataFrame) -> DataFrame:
    """Distinct ordered candidate pairs sharing any one (block_idx,
    block) key — the Manku WWW'07 equi-join both simhash_hamming_pairs
    and simhash_tuning_report verify over (one Column tree, so a fix
    here reaches both and neither plan can drift from the other)."""
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _blocks_hamming():
    """Hamming distance between fp_a/fp_b block arrays: SIMHASH_BLOCKS
    xor/bit_count terms."""
    return sum(
        (
            F.bit_count(
                F.element_at("fp_a", i + 1).bitwiseXOR(
                    F.element_at("fp_b", i + 1)
                )
            )
            for i in range(1, SIMHASH_BLOCKS)
        ),
        F.bit_count(
            F.element_at("fp_a", 1).bitwiseXOR(F.element_at("fp_b", 1))
        ),
    )


def simhash_hamming_pairs(
    docs: DataFrame, ham_max: int = SIMHASH_HAM_MAX,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= ham_max via
    block-key candidate generation (Manku WWW'07): docs sharing any one
    of the 4 blocks become candidates (equi-join on (block_idx, block)),
    then each candidate verifies with 4 xor/bit_count ops. Complete for
    <= 3-bit differences by pigeonhole. Output: (doc_a, doc_b, hamming).

    Candidate volume is sum over block buckets of C(bucket, 2) — a
    CORPUS property, not an operator bound (measured max bucket 222 /
    189k candidates at 5k docs on this corpus): a degenerate corpus
    (e.g. many empty or near-identical docs, which all share fp
    [0,0,0,0] or one hot fingerprint) drives a bucket toward N and the
    join toward all-pairs — which is also the honest OUTPUT size there,
    since those docs really are mutual near-dups. Production therefore
    (a) runs exact dedup upstream so identical docs collapse to one
    representative, and (b) may pass ``max_bucket`` to drop
    hotter-than-cap (block_idx, block) buckets from candidate
    generation — an explicit completeness trade (a pair is missed only
    if ALL FOUR of its shared blocks are hot), the same knob Manku's
    production system applies to high-frequency permutation tables.
    The gated query leaves it None: completeness is the contract being
    attested.

    Scale shape: the candidate join shuffles only (doc_id, block) keys;
    verification joins the 4-long fingerprint arrays for candidate rows
    only. The Hamming-ball guarantee is what LSH banding (probabilistic)
    cannot give."""
    # 3 consumers: the block explosion and both verification sides
    fp = barrier(simhash64_blocks(docs))
    blocks = fp.select("doc_id", F.posexplode("fp").alias("b", "blk"))
    if max_bucket is not None:
        pops = blocks.groupBy("b", "blk").agg(
            F.count(F.lit(1)).alias("_n")
        )
        blocks = _cap_hot_buckets(blocks, pops, max_bucket)
    cand = _manku_candidate_pairs(blocks)
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    ham = _blocks_hamming()
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= ham_max)
    )


#: bucket caps swept by simhash_tuning_report; None = uncapped (the
#: completeness contract the gated dd_simhash_pairs attests).
SIMHASH_TUNING_CAPS: tuple[int | None, ...] = (None, 32, 2)


def simhash_tuning_report(
    docs: DataFrame,
    ham_max: int = SIMHASH_HAM_MAX,
    caps: tuple[int | None, ...] = SIMHASH_TUNING_CAPS,
) -> DataFrame:
    """Bucket-cap sweep for the SimHash ``max_bucket`` knob (VERDICT r9
    ask #7 — the dd_lsh_tuning counterpart for Hamming-ball dedup): for
    each cap, the measured candidate-pair count, how many candidates
    verify at Hamming <= ham_max, and how many true pairs the cap MISSES
    versus the uncapped baseline — so the completeness trade documented
    on simhash_hamming_pairs is picked from DATA, not argued. A pair is
    missed only when ALL of its shared blocks sit in hotter-than-cap
    buckets, so n_missed quantifies exactly what the cap costs on this
    corpus (Manku WWW'07 applies the same knob to its high-frequency
    permutation tables).

    Scale shape: ONE fingerprint materialization feeds the block
    explosion, every per-cap candidate join, and both verification
    sides; the bucket-population relation is a broadcast of at most
    SIMHASH_BLOCKS * 2^16 rows. Each cap adds one candidate equi-join
    bounded by its own bucket sizes — the uncapped config bounds the
    whole report, and it is candidates-only, never all-pairs. Per-cap
    candidate relations are checkpointed at their 2-consumer barrier
    (count + verify); the 1-row-per-cap union is checkpointed before
    the baseline self-comparison.

    Output: (max_bucket INT — -1 encodes uncapped, n_candidates,
    n_pairs, n_missed), ordered by max_bucket. Exact integers only."""
    if None not in caps:
        # n_missed is defined against the uncapped baseline; without it
        # the base crossJoin below would be empty and silently
        # annihilate every report row (self-review r10) — fail loud.
        raise ValueError(
            "caps must include None (the uncapped baseline n_missed is "
            f"measured against); got {caps!r}"
        )
    # 3 consumers: the block explosion and both verification sides
    fp = barrier(simhash64_blocks(docs))
    # consumers: the bucket populations and every cap's candidates
    blocks_all = barrier(
        fp.select("doc_id", F.posexplode("fp").alias("b", "blk"))
    )
    pops = blocks_all.groupBy("b", "blk").agg(F.count(F.lit(1)).alias("_n"))
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    ham = _blocks_hamming()
    out = None
    for cap in caps:
        blocks = (
            blocks_all
            if cap is None
            else _cap_hot_buckets(blocks_all, pops, cap)
        )
        # 2 consumers: the count and the verify join
        cand = barrier(_manku_candidate_pairs(blocks))
        pairs = (
            cand.join(fa, "doc_a")
            .join(fb, "doc_b")
            .filter(ham <= ham_max)
        )
        row = (
            cand.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_pairs")))
            .select(
                F.lit(-1 if cap is None else cap)
                .cast("int")
                .alias("max_bucket"),
                "n_candidates",
                "n_pairs",
            )
        )
        out = row if out is None else out.unionByName(row)
    out = barrier(out)  # 2 consumers: base + final
    base = out.filter(F.col("max_bucket") == -1).select(
        F.col("n_pairs").alias("_base")
    )
    return (
        out.crossJoin(F.broadcast(base))
        .select(
            "max_bucket",
            "n_candidates",
            "n_pairs",
            (F.col("_base") - F.col("n_pairs")).alias("n_missed"),
        )
        .orderBy("max_bucket")
    )


# --- benchmark decontamination ----------------------------------------------
#: held-out eval slice: doc_id % EVAL_MOD == 0 (a deterministic stand-in
#: for "the benchmark set" — in production this is a separate table).
EVAL_MOD = 97
DECONTAM_THRESHOLD = 0.5


def decontamination_flags(
    docs: DataFrame, threshold: float = DECONTAM_THRESHOLD
) -> DataFrame:
    """Eval-set decontamination (the pretraining hygiene step): for every
    TRAINING document, the fraction of its distinct word-trigram shingles
    that appear anywhere in the eval slice; `contaminated` when the
    overlap fraction reaches `threshold`.

    Scale shape: the eval shingle set is distinct'd and BROADCAST (eval
    benchmarks are tiny next to a 100 TB corpus), so the corpus side
    never shuffles for the membership probe — one narrow projection, a
    broadcast hash join, and a map-combined per-doc count. The
    contaminated flag compares the UNROUNDED ratio (exact IEEE division
    of two ints — bit-identical across engines).

    Round 16 (guide §2.4, the state_diff/degree_topk move): sizes and
    hits were two separate aggregations over two doc_shingles branches
    (each its own exchange) merged by two doc_id joins; now ONE
    broadcast membership left-join tags each shingle and ONE hash-agg
    computes n_shingles = count(*) and n_eval_hits = count(_ev) —
    count(col) ignores the NULLs of unmatched shingles exactly where
    the old inner-join + coalesce(0) produced zero."""
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev_sh = (
        doc_shingles(docs.filter(is_eval)).select("shingle").distinct()
    )
    train = docs.filter(~is_eval)
    per_doc = (
        doc_shingles(train)
        .join(
            F.broadcast(ev_sh.withColumn("_ev", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_ev").alias("n_eval_hits"),
        )
    )
    frac = F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
        F.col("n_eval_hits").cast("double") / F.col("n_shingles").cast("double")
    )
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_eval_hits", F.lit(0)).alias("n_eval_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_eval_hits",
            F.round(frac, 6).alias("overlap_frac"),
            (frac >= threshold).alias("contaminated"),
        )
    )


#: PARTITIONED Bloom filter for the bounded-size decontamination probe:
#: BLOOM_K independent rows, each its OWN BLOOM_M-bit array (the (j,
#: bit) relation keys on the row index). With |eval shingles| = n
#: inserted, per-row fill is 1 - e^(-n/M) and the false-positive rate
#: is (1 - e^(-n/M))^K. M is sized to the GATE corpus so the
#: false-positive path is actually exercised (not a degenerate all-zero
#: column): sf0.01 has n = 270 distinct eval shingles ->
#: (1 - e^(-270/1024))^3 ~ 1.2% per probed shingle — measured 318 FP
#: shingles over 25,865 probes (1.23%), emitted per doc as
#: fp_shingles. Production sizes M ~ 1.44 * n to its own eval corpus.
BLOOM_M = 1_024
BLOOM_K = 3
#: per-row affine hash constants (odd multipliers, distinct offsets)
#: over the already-computed 31-poly shingle hash: row j's bit is
#: (A_j * shingle + B_j) mod 1000003 mod BLOOM_M — pure integer
#: arithmetic both engines reproduce exactly
BLOOM_ROWS = ((389, 101), (631, 271), (919, 577))


def _bloom_bit(shingle, j: int):
    a, b = BLOOM_ROWS[j]
    return ((shingle * a + b) % T.HASH_MOD) % BLOOM_M


def _bloom_masks(ev_sh: DataFrame) -> list[list[int]]:
    """Fold the eval shingle set into the BLOOM_K M-bit rows and return
    them as BLOOM_K lists of M/64 signed 64-bit words — the bounded
    filter hand-off (<= K*M bits REGARDLESS of eval size; the Bloom
    filter is exactly the build-then-broadcast summary of guide §3.2,
    and this collect is the filter, never data). One aggregation job:
    collect_set of each row's bit per shingle, OR-folded into machine
    words on the driver."""
    row = ev_sh.agg(
        *[
            F.collect_set(_bloom_bit(F.col("shingle"), j)).alias(f"b{j}")
            for j in range(BLOOM_K)
        ]
    ).first()
    masks: list[list[int]] = []
    for j in range(BLOOM_K):
        words = [0] * (BLOOM_M // 64)
        for bit in row[f"b{j}"] or []:
            words[bit // 64] |= 1 << (bit % 64)
        masks.append(
            [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        )
    return masks


def _bloom_test(shingle: Column, masks: list[list[int]]) -> Column:
    """One predicate: shingle bloom-hits iff EVERY row j's bit is set in
    that row's mask words. Per row, index the M/64-word literal array by
    bit >> 6 and test bit % 64 with getbit — O(1) per row, whole-stage
    codegen'd. The masks are data (the eval set's Bloom rows), so this
    is built per call."""
    hit = None
    for j in range(BLOOM_K):
        bit = _bloom_bit(shingle, j)
        words = F.array(*(F.lit(w) for w in masks[j])).cast("array<bigint>")
        row_hit = (
            F.getbit(
                F.element_at(words, F.shiftright(bit, 6).cast("int") + 1),
                (bit % 64).cast("int"),
            )
            == 1
        )
        hit = row_hit if hit is None else hit & row_hit
    return hit


def bloom_decontamination_flags(docs: DataFrame) -> DataFrame:
    """Bloom-filter variant of decontamination_flags: the eval shingle
    set is folded into a BLOOM_M-bit / BLOOM_K-row Bloom filter and
    every TRAINING shingle probes it — a shingle "bloom-hits" iff ALL
    its rows' bits are set. Per doc: (doc_id, n_shingles, n_exact_hits,
    n_bloom_hits, fp_shingles = bloom - exact).

    Why it exists next to the exact broadcast probe: the exact path
    broadcasts the eval shingle set ITSELF, which works while eval
    benchmarks are tiny but grows with them; the Bloom side is bounded
    at M bits (here a <= K*M-row (row, bit) relation standing in for
    the bitset) NO MATTER how large the eval set grows — the standard
    trade at 100 TB when the "eval" side is itself a corpus. Contract:
    no false negatives (n_bloom_hits >= n_exact_hits always, by
    construction — pinned in tests); false positives are measured, not
    assumed, via the exact twin.

    Scale shape (round 16 rework, guide §2.4 + §3.2): the eval side is
    folded into the actual K x M-bit filter — BLOOM_K literal arrays of
    M/64 machine words, built by one collect_set aggregation and handed
    off driver-side (<= K*M bits regardless of eval size; the same
    bounded-summary class as ngram_model's vocabulary hand-off, and
    exactly the build-then-broadcast Bloom recipe of guide §3.2). Each
    training shingle then tests its K bits as a codegen'd word-indexed
    predicate — the former K-way explode (3x the shingle stream), the
    (row, bit) broadcast join, and the two-level (doc, shingle) ->
    doc aggregation are gone. Exact hits ride the SAME single pass: one
    broadcast membership left-join tags each shingle, and ONE hash-agg
    per doc computes n_shingles / n_exact_hits / n_bloom_hits together
    (previously three aggregations merged by three doc_id joins). The
    corpus side still tokenizes/shingles once and never shuffles beyond
    the one per-doc aggregate.

    CONSTRUCTION RUNS A JOB (ADVICE r16): _bloom_masks collects the
    K mask rows eagerly when this function is CALLED, so the Bloom
    filter is frozen at construction time. To keep the no-false-negative
    contract (n_bloom_hits >= n_exact_hits) independent of when the
    returned DataFrame executes, the eval shingle relation is
    checkpointed EAGERLY first: the masks and the exact-membership
    broadcast both read that one materialized snapshot — the exact side
    can never see a shingle the frozen masks did not, and the eval slice
    (filter + tokenize + shingle + distinct) is computed once instead of
    twice."""
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev_sh = barrier(  # the frozen Bloom snapshot (see above)
        doc_shingles(docs.filter(is_eval)).select("shingle").distinct(),
        eager=True,
    )
    masks = _bloom_masks(ev_sh)

    train = docs.filter(~is_eval)
    per_doc = (
        doc_shingles(train)
        .join(
            F.broadcast(ev_sh.withColumn("_ev", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_ev").alias("n_exact_hits"),
            F.sum(
                F.when(_bloom_test(F.col("shingle"), masks), 1)
                .otherwise(0)
            ).alias("n_bloom_hits"),
        )
    )
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_exact_hits", F.lit(0))
            .cast("long")
            .alias("n_exact_hits"),
            F.coalesce("n_bloom_hits", F.lit(0))
            .cast("long")
            .alias("n_bloom_hits"),
        )
        .withColumn(
            "fp_shingles", (F.col("n_bloom_hits") - F.col("n_exact_hits"))
        )
    )


#: a shingle is "boilerplate" when at least this many distinct docs
#: contain it (RefinedWeb/CCNet-style cross-document repetition signal)
BOILER_MIN_DOCS = 3


def common_shingle_stats(
    docs: DataFrame, min_docs: int = BOILER_MIN_DOCS
) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's DISTINCT
    word-trigram shingles that also appear in >= min_docs distinct
    documents — the cross-document repetition signal line/paragraph-level
    dedup pipelines (CCNet, RefinedWeb) threshold on to strip navigation
    chrome, license blocks, and template text before training.

    Output: (doc_id, n_shingles, n_common, common_frac), one row per doc
    (zero-shingle docs get 0/0/0.0).

    Scale shape: the inverted index (doc_id, shingle) is built once; the
    document frequency per shingle is a hash aggregation whose map-side
    partials collapse each task to one row per distinct shingle, and the
    join back is shingle-keyed (equi-join on the same key the aggregation
    shuffled on — co-partitioned, no extra exchange). Nothing is ever
    pairwise: cost is O(total shingles), not O(docs^2), which is why this
    is the 100 TB-safe repetition signal while ngram_jaccard_pairs is the
    oracle-only ground truth. The inverted index feeds two consumers
    (the df aggregation and the flag join), so it is localCheckpoint'd —
    (long, long) rows are compact and the tokenize+shingle fold is the
    expensive part worth running once."""
    def flag(ex: DataFrame) -> DataFrame:
        df_counts = ex.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        return ex.join(df_counts, "shingle").select(
            "doc_id", (F.col("n_docs") >= min_docs).cast("long").alias("flag")
        )

    return _flagged_shingle_fraction(docs, flag, "n_common", "common_frac")


def novelty_stats(docs: DataFrame) -> DataFrame:
    """Per-document n-gram NOVELTY under doc_id arrival order: the share
    of a doc's DISTINCT word-trigram shingles whose FIRST corpus
    occurrence (min doc_id over containing docs) is the doc itself — the
    marginal-contribution signal curation pipelines plot as a novelty
    curve to decide where additional crawl data stops adding content.
    The order-aware complement of common_shingle_stats: that one asks
    "how often is this repeated", this one asks "who said it first".

    Output: (doc_id, n_shingles, n_novel, novelty_frac), one row per doc
    (zero-shingle docs get 0/0/0.0; the corpus's lowest-id doc with
    shingles scores 1.0 by construction).

    Shingle identity is the shared mod-1e6 trigram hash: a collision
    attributes first-seen to an earlier doc and UNDERestimates novelty —
    acceptable for a REPORTED SCORE (this relation never drives a
    keep/drop decision; exact-key rules apply the moment one does — see
    common_shingle_stats' collision-width argument).

    Scale shape: identical to common_shingle_stats — the inverted index
    is built once (localCheckpoint'd; it feeds the first-seen
    aggregation and the flag join), first-seen is a map-combinable min()
    per shingle, the join back is shingle-keyed on the aggregation's own
    shuffle key, and the final rollup shuffles on doc_id. Nothing is
    pairwise: O(total shingles), not O(docs^2)."""
    def flag(ex: DataFrame) -> DataFrame:
        first = ex.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
        return ex.join(first, "shingle").select(
            "doc_id",
            (F.col("first_doc") == F.col("doc_id")).cast("long").alias("flag"),
        )

    return _flagged_shingle_fraction(docs, flag, "n_novel", "novelty_frac")


def _flagged_shingle_fraction(
    docs: DataFrame, flag_join, n_name: str, frac_name: str
) -> DataFrame:
    """Shared skeleton of the per-doc shingle-fraction reports
    (common_shingle_stats, novelty_stats): build the inverted index ONCE
    (localCheckpoint'd — it feeds the per-shingle aggregation inside
    ``flag_join`` and the flag join itself), let ``flag_join`` turn it
    into (doc_id, flag 0/1) rows, then roll up count/sum per doc and
    left-join every document back in with 0/0/0.0 for the shingle-less.
    The fraction is one exact IEEE division of two ints, rounded to 6."""
    ex = barrier(doc_shingles(docs))  # 2 consumers, see above
    per_doc = flag_join(ex).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("flag").alias(n_name),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col(n_name), F.lit(0)).alias(n_name),
            F.round(
                F.when(F.col("n_shingles").isNull(), F.lit(0.0)).otherwise(
                    F.col(n_name).cast("double")
                    / F.col("n_shingles").cast("double")
                ),
                6,
            ).alias(frac_name),
        )
    )


def cross_source_dup_matrix(docs: DataFrame) -> DataFrame:
    """Dedup governance: how many verified near-duplicate pairs CROSS
    source boundaries, per unordered source pair — the contamination
    matrix that tells a curation pipeline which feeds are re-hosting
    each other's content (a provenance/licensing question exact within-
    source dedup never surfaces).

    Output: (source_a, source_b, n_pairs, max_jaccard) with source_a <=
    source_b (least/greatest normalization folds the symmetric pair),
    ordered by n_pairs desc then sources. max_jaccard is a max over
    already-rounded(6) per-pair values — deterministic across engines.

    Scale shape: the expensive part (LSH -> verify) is the shared
    near_duplicates relation, already bucketed and candidates-only; this
    adds two doc_id-keyed equi-joins to a (doc_id, source) projection —
    NO broadcast hint, the projection is corpus-sized, AQE decides — and
    one small hash-agg over source pairs (output is bounded by
    |sources|^2 rows)."""
    nd = near_duplicates(docs)
    src = docs.select("doc_id", "source")
    j = (
        nd.join(src.select(F.col("doc_id").alias("doc_a"),
                           F.col("source").alias("sa")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"),
                         F.col("source").alias("sb")), "doc_b")
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
    )


def dedup_lineage(docs: DataFrame) -> DataFrame:
    """(doc_id, keeper_doc_id, reason) audit relation for every document
    the dedup stages would DROP — the removal lineage downstream
    pipelines need to explain why a training doc is absent and which
    surviving doc supersedes it (tx_clean_corpus emits only survivors;
    this emits the complement, with provenance).

    reason 'exact': doc shares an md5 digest with a lower doc_id; keeper
    is the digest group's min doc_id. reason 'near_dup': doc sits in a
    near-duplicate cluster (duplicate_clusters) with a lower-id member;
    keeper is the cluster label (component min). A doc can appear under
    both reasons — both rows are emitted, because the two stages drop
    independently and an audit must show every cause.

    Scale shape: the exact branch is one hash-shuffle on the 16-byte
    digest (window min over digest — the same exchange the dedup groupBy
    uses, reused here for the per-row keeper instead of a second
    join-back); the near-dup branch reuses the bucketed cluster relation
    unchanged. Nothing touches document bytes beyond the digest scan."""
    from pyspark.sql import Window

    wd = Window.partitionBy("digest")
    exact = (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .withColumn("keeper_doc_id", F.min("doc_id").over(wd))
        .filter(F.col("doc_id") != F.col("keeper_doc_id"))
        .select("doc_id", "keeper_doc_id", F.lit("exact").alias("reason"))
    )
    near = (
        duplicate_clusters(docs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select(
            "doc_id",
            F.col("cluster_id").alias("keeper_doc_id"),
            F.lit("near_dup").alias("reason"),
        )
    )
    return exact.unionByName(near)


RUN_LEN = 8  # tokens per run; at this corpus' vocab (~35 words) a chance
# 8-gram repeat has probability ~(1/35)^8 — duplicated runs are real reuse


def _run_keys(toks, run_len: int):
    """EXACT run keys: the run's 8 tokens joined by a single space
    (tokens are whitespace-split, so the join is unambiguous). The key
    is deliberately NOT a hash: the 31-poly mod-1e6 space saturates at
    corpus scale (~270k run positions at sf0.1 against a 1e6 keyspace),
    and a collision here is not a statistic — for the scrub it deletes
    real text. Measured before the fix: 50.2% of sf0.1 tokens scrubbed
    vs 4.7% true verbatim duplication. At 100 TB the equi-join key can
    be a WIDE hash (128-bit) of this string; mod-1e6 folds stay
    reserved for the set-sketch operators where collisions only
    perturb estimates."""
    n = F.size(toks)
    return F.when(
        n < run_len, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (run_len - 1)),
            lambda i: F.array_join(F.slice(toks, i, run_len), " "),
        )
    )


def substring_run_stats(docs: DataFrame, run_len: int = RUN_LEN) -> DataFrame:
    """ExactSubstr-style duplicated-run statistics — the substring-level
    complement of the set-level MinHash family (after Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    dedups on 50-token verbatim runs via a suffix array; the distributed
    re-expression is an inverted index on rolling run hashes).

    Per document: ``n_runs`` (number of ``run_len``-token positions),
    ``n_dup_runs`` (positions whose run also occurs in ANOTHER document),
    ``dup_run_ratio`` = n_dup_runs / n_runs. A run's key is the EXACT
    space-joined token string (see ``_run_keys`` — a small-mod hash
    saturates at corpus scale and fabricates duplicates), so the oracle
    twin reproduces it verbatim with string concatenation.

    Scale shape: positions explode to (doc_id, run_key) rows — O(total
    tokens) rows of one run-sized string each (at 100 TB, a 128-bit
    hash of the string keeps the shuffle narrow), never document bytes;
    duplicated
    keys come from one hash-aggregate (count distinct docs >= 2); the
    flag returns via an equi-join on the run key. Same inverted-index
    shape as the shingle index — no pairwise join anywhere, and a
    suffix array's O(corpus) memory never materializes on one node."""
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    pos = toks.select(
        "doc_id", F.explode(_run_keys(F.col("toks"), run_len)).alias("run")
    )
    dup = (
        pos.groupBy("run")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("run", F.lit(1).alias("_dup"))
    )
    per_doc = (
        pos.join(dup, "run", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_runs"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_runs"), F.lit(0)).cast("long").alias("n_runs"),
            F.coalesce(F.col("n_dup_runs"), F.lit(0))
            .cast("long")
            .alias("n_dup_runs"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_runs"), F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(F.col("n_dup_runs") / F.col("n_runs")),
                6,
            ).alias("dup_run_ratio"),
        )
    )


def containment_pairs(docs: DataFrame) -> DataFrame:
    """Asymmetric shingle containment over the LSH candidate pairs:
    ``containment_a`` = |A∩B| / |A| and ``containment_b`` = |A∩B| / |B|
    on distinct word-trigram shingle sets. Jaccard misses the
    subset/superset relationship (a doc fully embedded in a 10x larger
    one has low Jaccard but containment_a = 1.0) — containment is the
    metric quote/inclusion dedup policies act on.

    Scale shape: identical to near_duplicates — verification touches
    ONLY the banded candidate pairs (equi-join on the stored distinct
    shingle arrays, per-pair array_intersect); zero-intersection
    candidates are dropped."""
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        _candidates_with_shingle_sets(docs)
        .select(
            "doc_a",
            "doc_b",
            n_inter.cast("long").alias("n_inter"),
            F.round(n_inter / F.size("sh_a"), 6).alias("containment_a"),
            F.round(n_inter / F.size("sh_b"), 6).alias("containment_b"),
        )
        .filter(F.col("n_inter") > 0)
    )


def substring_scrub(docs: DataFrame, run_len: int = RUN_LEN) -> DataFrame:
    """ExactSubstr REMOVAL (the action to substring_run_stats' report,
    after Lee et al. 2022): every token position covered by a
    cross-document duplicated run is removed, except in the run's
    KEEPER document (the smallest doc_id containing the run), which
    retains all its occurrences. Within-document repeats are not
    duplication (consistent with the stats operator).

    Output: (doc_id, n_tokens, n_removed, text_scrubbed) — the scrubbed
    text is the kept tokens joined by single spaces (whitespace is
    normalized; the tokenizer already erased the original runs of it).

    Scale shape: the same run-key inverted index as the stats op (one
    hash-agg derives keeper + duplication per run key, an equi-join
    returns removal starts to their docs), then per-row array surgery —
    coverage is evaluated against the doc's own removal-start list, so
    nothing pairwise ever materializes. The per-row surgery is LINEAR
    in the token count: one fold over the sorted removal starts merges
    them into kept-gap intervals (each O(1) per start; a start at i
    covers [i, i+run_len-1], so consecutive overlapping starts just
    advance the coverage frontier), then the kept text is the
    concatenation of one ``slice`` per gap. The previous shape — an
    ``exists`` over all removal starts per token position — degraded to
    O(n²) per row on a long fully-duplicated document."""
    toks = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    pos = toks.select(
        "doc_id",
        F.posexplode(_run_keys(F.col("toks"), run_len)).alias("i", "run"),
    )
    dup = (
        pos.groupBy("run")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("run", "keeper")
    )
    rem = (
        pos.join(dup, "run")
        .filter(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("i")).alias("rem_starts"))
    )
    joined = toks.join(rem, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(F.col("rem_starts"), F.array().cast("array<int>")).alias(
            "rem_starts"
        ),
    )
    # posexplode's `i` is 0-based: a run starting at index i covers
    # tokens [i, i + run_len - 1]. Fold the SORTED start list into the
    # complementary kept-gap intervals — `ce` is the exclusive coverage
    # frontier; a start beyond it opens a gap [ce, start-1]. Starts are
    # strictly increasing, so each new start's coverage end (start +
    # run_len) always advances the frontier: O(1) per start.
    gap = "struct<s:int,e:int>"

    def _merge(acc, i):
        new_gaps = F.when(
            i > acc["ce"],
            F.concat(
                acc["gaps"],
                F.array(F.struct(acc["ce"].alias("s"), (i - 1).alias("e"))),
            ),
        ).otherwise(acc["gaps"])
        return F.struct(
            (i + F.lit(run_len)).cast("int").alias("ce"),
            new_gaps.alias("gaps"),
        )

    def _finish(acc):
        n = F.size("toks")
        return F.when(
            acc["ce"] < n,
            F.concat(
                acc["gaps"],
                F.array(F.struct(acc["ce"].alias("s"), (n - 1).alias("e"))),
            ),
        ).otherwise(acc["gaps"])

    gaps = F.aggregate(
        F.col("rem_starts"),
        F.struct(
            F.lit(0).cast("int").alias("ce"),
            F.array().cast(f"array<{gap}>").alias("gaps"),
        ),
        _merge,
        _finish,
    )
    # kept text: one slice per gap (slice is 1-based), concatenated in
    # order — O(token count) total work, no per-position scans
    kept = F.flatten(
        F.transform(
            gaps,
            lambda g: F.slice(F.col("toks"), g["s"] + 1, g["e"] - g["s"] + 1),
        )
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_scrubbed"),
    )
