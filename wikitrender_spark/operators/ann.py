"""Similarity search over embedding columns (SURVEY.md §2.8).

- brute-force top-k: broadcast the (small) query set against the corpus;
  cosine is a sequential JVM-side fold (functions.similarity.dot), rank
  via per-query window. At 100 TB the corpus side stays partitioned and
  the only wide step is the final per-query top-k merge
  (TakeOrderedAndProject shape after the window filter).
- hyperplane-LSH bucketed variant: both sides bucket on deterministic
  random hyperplanes; the join becomes bucket-equi — the scale path that
  trades recall for avoiding the full cross product. An IVF variant is
  the same plan with learned centroids instead of hyperplanes.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..barrier import barrier

from ..functions import similarity as S

N_PLANES = 8
EMB_DIM = 64

# IVF coarse quantizer: centroid components rounded to this many decimals
# so the (order-dependent) parallel mean is engine-stable; a coarse
# quantizer needs no more precision.
CENTROID_DP = 4
N_PROBE = 2

# embedding near-dup: 8 bands x 8 hyperplanes (64 planes total), i.e.
# 256 possible keys PER BAND. Band-key cardinality is what keeps the
# banded equi-join linear-ish: with r sign bits per band a random
# (dissimilar) pair collides in a given band with probability ~(1/2)^r,
# so expected candidates ~ b * n^2 / 2^r-ish per skewed bucket rather
# than n^2/4 (the old 2-bit-band failure mode). Recall for a pair at
# cosine c is 1-(1-p^r)^b with p = 1 - arccos(c)/pi; at the pinned
# threshold this is a deliberately sparse sketch — candidates are a
# strict subset of the all-pairs result, verified exactly afterwards.
EMB_BANDS = 8
EMB_BAND_PLANES = 8
EMB_NEARDUP_PLANES = EMB_BANDS * EMB_BAND_PLANES
EMB_NEARDUP_THRESHOLD = 0.4


def _with_norm(
    emb: DataFrame, id_alias: str, emb_alias: str, nrm_alias: str
) -> DataFrame:
    """Project (id, embedding, l2-norm): norms are computed once per
    VECTOR here, not once per candidate pair — pairwise scoring then costs
    one dot fold instead of three (dot + 2 norms). cosine(a,b) =
    dot/(nrm_a*nrm_b) is the exact same expression S.cosine inlines, so
    values (and the DuckDB oracle twin) are unchanged."""
    return emb.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(emb_alias),
        S.l2_norm(S.to_double(F.col("embedding"))).alias(nrm_alias),
    )


def _pair_sim() -> "F.Column":
    return F.round(
        S.dot(S.to_double(F.col("q_emb")), S.to_double(F.col("n_emb")))
        / (F.col("q_nrm") * F.col("n_nrm")),
        6,
    )


def _scored_pairs(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """(query_id, neighbor_id, sim) for every query x corpus pair, self
    excluded: queries broadcast, corpus stays partitioned, rounded
    sequential dot fold. The single scoring pipeline shared by
    brute_force_topk (window rank on top) and range_search (radius
    filter on top) — one place for any future scoring/exclusion fix."""
    q = _with_norm(
        emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "q_emb", "q_nrm"
    )
    c = _with_norm(emb, "neighbor_id", "n_emb", "n_nrm")
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_sim().alias("sim"))
    )


def brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query (self excluded); rounded similarity is
    the rank key so ordering is engine-portable."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        _scored_pairs(emb, query_ids)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def filtered_ivf_topk(
    emb: DataFrame, query_ids: list[int], predicate,
    k: int = 10, nprobe: int = N_PROBE,
) -> DataFrame:
    """FILTERED ANN (the serving feature every vector store grew:
    metadata predicate + similarity search in one query): IVF cell
    probing with the predicate pushed INTO candidate generation, so
    filtered-out vectors never reach the scoring join — not post-filter
    (which silently returns < k when the filter bites inside the top-k)
    and not pre-filter-then-brute-force (which abandons the index).

    ``predicate`` is a Column over the corpus row (e.g.
    ``F.col("label") % 2 == 0``). Pushdown point: the cell-assignment
    relation keeps (vec_id, cell) for PREDICATE-PASSING vectors only —
    the filter rides the same corpus scan as assignment (Catalyst
    merges it into the parquet scan), so candidates per query are
    bounded by the FILTERED cell population. Exactness contract: equal
    to brute-force-over-the-filtered-corpus within probed cells (the
    usual IVF recall caveat applies on top; centroids stay trained on
    the FULL corpus so the filter cannot shift cell geometry). A query
    returns k rows only while the probed cells hold >= k filtered
    vectors — a selective predicate over few probed cells can
    under-fill (r08 review); the production extension is probe
    expansion until k filtered candidates accumulate (raise nprobe),
    which this fixed-nprobe form leaves to the caller."""
    # 2 consumers: the corpus assignment and the query probes
    cents = barrier(ivf_centroids(emb))
    cells = ivf_cells(emb.filter(predicate), cents)
    q = emb.filter(F.col("vec_id").isin(query_ids))
    probes = (
        _centroid_ranks(q, cents)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    scored = _exact_rescore(cand, emb, query_ids)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def filtered_ivf_expand_topk(
    emb: DataFrame, query_ids: list[int], predicate, k: int = 10
) -> DataFrame:
    """Filtered ANN with ADAPTIVE probe expansion — the production form
    of filtered_ivf_topk's documented under-fill gap (VERDICT r8 ask #3):
    instead of a fixed nprobe (which returns < k rows whenever the
    probed cells hold fewer than k predicate-passing vectors), each
    query probes its centroid-ranked cells in order until at least k
    filtered candidates are AVAILABLE, then rescoring proceeds exactly
    as in the fixed form.

    Probe-set rule (deterministic, engine-portable): rank ALL cells per
    query by rounded centroid cosine (cell-asc ties); a cell is probed
    iff the cumulative filtered population of strictly-better-ranked
    cells is < k — i.e. cells are taken through the first rank at which
    >= k candidates accumulate. The query's own row never counts toward
    the fill (it is excluded from scoring), so k rows are guaranteed
    whenever the filtered corpus minus self holds >= k vectors — the
    contract the fixed-nprobe form cannot give.

    Scale shape: the expansion decision runs on CELL POPULATIONS, not
    vectors — a (cell, count) relation of n_cells rows (driver-tiny at
    any corpus size) broadcast-joined to the per-query centroid ranking
    (n_queries x n_cells rows). No extra pass over the corpus vs the
    fixed form: assignment-with-filter once, probe equi-join once. A
    selective predicate costs more probed cells per query — exactly the
    adaptive behavior a serving stack wants (matches the "increase
    nprobe until the filtered candidate set fills" guidance in public
    IVF serving literature, e.g. FAISS's metadata-filtering discussion)."""
    # 2 consumers: the filtered assignment and the query ranks
    cents = barrier(ivf_centroids(emb))
    # 3 consumers: pops (per-cell counts), own (the query's own cell)
    # and the candidate join, whose exchanges differ so ReuseExchange
    # cannot dedupe — uncut, the corpus assignment fold runs once per
    # consumer (r09 review: the fold appeared 5x in the plan)
    cellsf = barrier(ivf_cells(emb.filter(predicate), cents))
    pops = cellsf.groupBy("cell").agg(F.count(F.lit(1)).alias("pop"))
    q = emb.filter(F.col("vec_id").isin(query_ids))
    ranks = _centroid_ranks(q, cents).select(
        F.col("vec_id").alias("query_id"), "cell", "crank"
    )
    own = cellsf.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("cell").alias("own_cell")
    )
    # NULL own_cell (query fails the predicate) compares NULL == cell ->
    # no self-adjustment, matching the oracle's CASE WHEN NULL semantics
    avail = (
        ranks.join(F.broadcast(pops), "cell", "left")
        .join(F.broadcast(own), "query_id", "left")
        .select(
            "query_id",
            "cell",
            "crank",
            (
                F.coalesce(F.col("pop"), F.lit(0))
                - F.when(F.col("own_cell") == F.col("cell"), 1).otherwise(0)
            ).alias("avail"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("crank")
    probes = (
        avail.withColumn(
            "cum_before",
            F.coalesce(
                F.sum("avail").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("cum_before") < k)
        .select("query_id", "cell")
    )
    cand = (
        F.broadcast(probes)
        .join(cellsf, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    scored = _exact_rescore(cand, emb, query_ids)
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


#: cosine radius for range search (sized from the measured corpus pair
#: distribution: ~20 hits for 5 queries at every SF — non-degenerate but
#: far from all-pairs)
RANGE_THRESHOLD = 0.3


def range_search(
    emb: DataFrame, query_ids: list[int], threshold: float = RANGE_THRESHOLD
) -> DataFrame:
    """Cosine RANGE search: every corpus vector within a similarity
    radius of each query (no top-k truncation) — the retrieval mode
    radius-based dedup audits and "all sufficiently-similar evidence"
    queries need, complementing brute_force_topk's fixed-k contract.
    Output: (query_id, neighbor_id, sim), self excluded.

    Scale shape: identical to the brute-force scorer — the query set
    broadcasts, the corpus stays partitioned, scoring is the sequential
    JVM fold, and the radius predicate filters BEFORE any shuffle, so
    output (not the n_queries x corpus score relation) is all that
    moves. For large query sets swap in the banded-LSH candidate join
    (embedding_near_duplicates' shape) at high radii."""
    return _scored_pairs(emb, query_ids).filter(F.col("sim") >= threshold)


def lsh_buckets(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Deterministic hyperplane bucket per vector."""
    return emb.select(
        "vec_id",
        S.hyperplane_bucket(F.col("embedding"), n_planes, EMB_DIM).alias("bucket"),
    )


def _cell_means(assigned: DataFrame, key: str) -> DataFrame:
    """(key, centroid): per-key mean embedding with every component
    rounded to CENTROID_DP decimals BEFORE any similarity math, so the
    parallel (order-dependent) mean is bit-stable across engines. The
    ONE implementation of centroid determinism — ivf_centroids (seeded
    by `label`) and kmeans_refine (re-assigned `cell`) both call it, so
    the two centroid generations can never round differently. Cost at
    scale: one (key, dim_idx) aggregation — n_cells*dim tiny groups,
    map-side partials do almost all the work."""
    rows = assigned.select(
        key, F.posexplode(S.to_double(F.col("embedding"))).alias("i", "x")
    )
    means = rows.groupBy(key, "i").agg(
        F.round(F.avg("x"), CENTROID_DP).alias("m")
    )
    return means.groupBy(key).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Coarse quantizer for IVF: one k-means refinement step seeded by the
    corpus `label` column (cell = label, centroid = mean embedding of the
    cell); see _cell_means for the determinism and scale argument."""
    return _cell_means(emb, "label").select(
        F.col("label").alias("cell"), "centroid"
    )


def ivf_cells(
    emb: DataFrame,
    cents: DataFrame,
    keep_embedding: bool = False,
    keep_norm: bool = False,
) -> DataFrame:
    """Cell assignment (nearest centroid by rounded cosine, lowest cell on
    ties) with ZERO shuffle on the corpus side: the centroid table is
    collapsed to one broadcast row of struct array sorted by cell, and the
    argmax is a per-row fold — no exchange of the (huge) vector relation,
    unlike a window/groupBy argmax formulation.

    keep_embedding=True carries the vector through so consumers that need
    (cell, embedding) — semantic_dedup's within-cell join, kmeans_refine's
    per-cell means — avoid re-joining the corpus to itself on vec_id
    (which would be a full shuffle of the vector relation). keep_norm=True
    additionally exposes the l2 norm the argmax already computed
    (`v_nrm`) as `nrm`, so pair-scoring consumers reuse it instead of
    re-folding the vector."""
    packed = cents.select(
        "cell", "centroid", S.l2_norm(F.col("centroid")).alias("c_nrm")
    )
    one = packed.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid", "c_nrm"))).alias(
            "cs"
        )
    )
    v = S.to_double(F.col("embedding"))
    df = emb.crossJoin(F.broadcast(one)).withColumn("v_nrm", S.l2_norm(v))

    def step(acc, c):
        # zero-norm pin (either side): cosine is undefined, so both
        # engines assign the sentinel -2.0 — beats only the -3.0 init, so
        # a degenerate vector deterministically lands in the LOWEST cell
        # (the array is cell-sorted), exactly matching the oracle's
        # ORDER BY csim DESC, cell ASC tie-break.
        denom = F.col("v_nrm") * c["c_nrm"]
        csim = F.when(denom == 0, F.lit(-2.0)).otherwise(
            F.round(S.dot(v, c["centroid"]) / denom, 6)
        )
        return F.when(
            csim > acc["csim"],
            F.struct(csim.alias("csim"), c["cell"].alias("cell")),
        ).otherwise(acc)

    best = F.aggregate(
        F.col("cs"),
        F.struct(
            F.lit(-3.0).cast("double").alias("csim"),
            F.lit(-1).cast("int").alias("cell"),
        ),
        step,
    )
    cols = ["vec_id", best["cell"].alias("cell")]
    if keep_embedding:
        cols.append(F.col("embedding"))
    if keep_norm:
        cols.append(F.col("v_nrm").alias("nrm"))
    return df.select(*cols)


def _centroid_ranks(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, crank): centroids ranked per vector by rounded
    cosine desc, cell asc. Window formulation — only used on the tiny
    query set (probe selection)."""
    v = S.to_double(F.col("embedding"))
    denom = S.l2_norm(v) * S.l2_norm(F.col("centroid"))
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        # same zero-norm pin as ivf_cells: sentinel -2.0, never NaN/NULL
        F.when(denom == 0, F.lit(-2.0))
        .otherwise(F.round(S.dot(v, F.col("centroid")) / denom, 6))
        .alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cell"))
    return scored.withColumn("crank", F.row_number().over(w))


def ivf_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, nprobe: int = N_PROBE
) -> DataFrame:
    """IVF cell-probe ANN: assign every vector to its nearest centroid,
    probe the query's nprobe nearest cells, rescore candidates exactly.
    The scale shape: candidate generation is a broadcast(probes)-to-cells
    equi-join on `cell` — the corpus is touched once for assignment (no
    shuffle, see ivf_cells) and once for the probe join.

    RECALL (vs the registered brute-force ground truth, measured): on
    clustered data — the regime IVF exists for — recall@10 is ~1.0
    (cells are cluster-seeded, a query's true neighbors share its cell;
    pinned >= 0.95 in tests/test_ann_topk_recall.py, and nprobe=n_cells
    degrades to EXACT search, also pinned). On this driver corpus's
    near-random vectors recall@10 is 0.28 (sf0.001) / 0.38 (sf0.01) at
    nprobe=2: with no cluster structure, neighbors at cosine ~0.4 sit
    barely above the noise floor and recall is ~the fraction of the
    corpus probed — raise nprobe to trade cost for recall (linearly),
    or accept that unstructured data has no sub-linear ANN path.

    Delegates to filtered_ivf_topk with an always-true predicate — ONE
    IVF probe pipeline in the module (r08 review: the two bodies
    differed only by the filter, and a tie-break or rounding change
    must not be applicable to one serving path but not the other;
    Catalyst folds the TRUE literal away, so the candidate plan is
    unchanged and the scoring join is the shared _exact_rescore)."""
    return filtered_ivf_topk(emb, query_ids, F.lit(True), k, nprobe)


def embedding_band_keys(
    emb: DataFrame,
    bands: int = EMB_BANDS,
    planes_per_band: int = EMB_BAND_PLANES,
) -> DataFrame:
    """(vec_id, band_idx, band_key): band k's key packs the sign bits of
    hyperplanes [k*r, k*r+r) — computed directly per band (never as one
    wide bucket integer, which would overflow at 64 planes). All narrow
    JVM-side arithmetic on the vector itself: zero shuffle to band.

    All `bands*planes_per_band` dots run in ONE fold over the vector with
    a struct-of-partial-sums accumulator (~2.5x faster than one
    fold per plane: the per-element lambda dispatch amortizes over all
    planes). Each partial sum still accumulates strictly in index order
    from 0.0, so values are bit-identical to the naive per-plane fold and
    to the DuckDB list_reduce twin. The posexplode below is a Generate
    node, so the dots struct is evaluated once per row — never inlined
    per band-key reference.

    The expression is BUILT as one SQL string parsed by F.expr, not as
    ~bands*planes*dim Column objects: every PySpark Column operation is
    a py4j round-trip, and the 64x64 literal plane table cost a MEASURED
    ~15 s of driver time per query CONSTRUCTION (invisible until the
    round-5 bench started timing construction). Literals are embedded
    via repr() + CAST(... AS DOUBLE): repr is the shortest
    round-tripping decimal, and Java's correctly-rounded parser returns
    the identical IEEE double F.lit would have shipped — values are
    bit-for-bit the same, ~2 py4j calls instead of ~10,000."""
    n_planes = bands * planes_per_band

    def dlit(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    ws = [S.hyperplane(j, EMB_DIM) for j in range(n_planes)]
    warr = ", ".join(
        "struct("
        + ", ".join(f"{dlit(ws[j][i])} AS w{j}" for j in range(n_planes))
        + ")"
        for i in range(EMB_DIM)
    )
    prod_fields = ", ".join(
        f"CAST(x AS DOUBLE) * w.w{j} AS s{j}" for j in range(n_planes)
    )
    init_fields = ", ".join(
        f"CAST(0.0 AS DOUBLE) AS s{j}" for j in range(n_planes)
    )
    acc_fields = ", ".join(f"acc.s{j} + p.s{j} AS s{j}" for j in range(n_planes))
    dots_sql = (
        f"aggregate(zip_with(embedding, array({warr}), "
        f"(x, w) -> struct({prod_fields})), struct({init_fields}), "
        f"(acc, p) -> struct({acc_fields}))"
    )
    d = emb.select("vec_id", F.expr(dots_sql).alias("d"))
    band_keys = ", ".join(
        "CAST("
        + " + ".join(
            f"IF(d.s{k * planes_per_band + r} > 0, {2 ** r}L, 0L)"
            for r in range(planes_per_band)
        )
        + " AS BIGINT)"
        for k in range(bands)
    )
    return d.select(
        "vec_id",
        F.expr(f"posexplode(array({band_keys}))").alias(
            "band_idx", "band_key"
        ),
    )


def embedding_near_duplicates(
    emb: DataFrame, threshold: float = EMB_NEARDUP_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded hyperplane-LSH candidates
    (equi-join on (band_idx, band_key) — the linear-ish scale path) then
    exact cosine verification at `threshold`.

    RECALL IS THRESHOLD-DEPENDENT and the default is NOT the sketch's
    sweet spot: with 8 bands x 8 planes a pair at cosine c survives with
    probability 1-(1-p^8)^8, p = 1-arccos(c)/pi — ~0.94 at c=0.9, ~0.75
    at c=0.8, ~0.18 at the default c=0.4. MEASURED on the sf0.01 corpus
    (59 true pairs >= 0.4, max pairwise cosine 0.51): recall 0.186,
    candidate rate 5.0% of all pairs — matching theory; both are
    asserted in tests/test_ann_recall.py. High recall at c=0.4 is not
    reachable with sign-LSH here: the signal band (0.4-0.51) sits ~7
    degrees from the noise bulk (~0.3), and every (r, b) rebanding that
    reaches recall 0.9 at 0.4 was measured to admit 45%+ of ALL pairs as
    candidates (r=4,b=16: recall 0.80 at 45% candidates) — an all-pairs
    join in disguise. The sketch is therefore pinned at 8x8 and
    documented as high-precision/partial-recall below c~0.8; in the
    regime near-dup detection actually targets (c >= 0.9, SemDeDup-style)
    the same structure measures recall >= 0.9 (planted-pair test). For
    exact recall at low thresholds use embedding_near_duplicates_exact —
    the all-pairs ground-truth path.

    The band-key relation is locally checkpointed before the self-join:
    Spark plans the small side as a broadcast, so without materialization
    the 64-plane banding fold would run twice (no exchange to reuse).
    localCheckpoint (not cache) so the blocks are released by the
    ContextCleaner when the result is dropped instead of pinning the
    CacheManager entry for the session. At corpus scale you'd materialize
    band keys to a bucketed table once and join off that — same idea,
    durable form."""
    banded = barrier(embedding_band_keys(emb))  # 2 consumers: self-join
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = _with_norm(emb, "vec_a", "q_emb", "q_nrm")
    eb = _with_norm(emb, "vec_b", "n_emb", "n_nrm")
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", _pair_sim().alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def embedding_near_duplicates_exact(
    emb: DataFrame, threshold: float = EMB_NEARDUP_THRESHOLD
) -> DataFrame:
    """Exact (recall-1.0) cosine near-dup pairs: all-pairs theta join
    (vec_a < vec_b) scored with the same sequential dot fold as the LSH
    verifier, so the two operators' surviving pairs carry bit-identical
    `sim` values and recall is directly measurable as a subset check.

    This is the GROUND-TRUTH path, O(n^2) by contract: "all pairs above
    a low threshold" has near-quadratic output in the worst case, so no
    sub-quadratic candidate scheme can be exact (see the recall notes on
    embedding_near_duplicates). Scope it to eval-set-sized inputs (the
    regime where exactness matters: decontamination audits, recall
    measurement); at corpus scale run the LSH sketch at a high threshold
    instead. The join is a BroadcastNestedLoopJoin with the smaller
    projection broadcast — for n beyond broadcast size, block it by
    repartitioning one side (same all-pairs cost, bounded memory)."""
    ea = _with_norm(emb, "vec_a", "q_emb", "q_nrm")
    eb = _with_norm(emb, "vec_b", "n_emb", "n_nrm")
    return (
        ea.join(eb, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _pair_sim().alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


#: SemDeDup within-cell cosine threshold. Deliberately BELOW the LSH
#: near-dup threshold: the cell restriction already bounds the candidate
#: set, so the verifier can afford a wider semantic net (on this corpus
#: ~111 of ~12k within-cell pairs clear 0.3; see tests).
SEMDEDUP_THRESHOLD = 0.3


def semantic_dedup(
    emb: DataFrame, threshold: float = SEMDEDUP_THRESHOLD
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with the
    IVF coarse quantizer, compare vectors ONLY within their cell, and
    drop every vector that has a lower-id within-cell neighbor at rounded
    cosine >= threshold. One row per input vector:
    (vec_id, cell, keeper_id, is_kept).

    keeper_id SEMANTICS (greedy, per the published SemDeDup recipe):
    for a dropped vector it is the SMALLEST lower-id near-neighbor — a
    merge hint, NOT necessarily itself kept, because similarity is not
    transitive (in a chain 1~2~3 with 1!~3, vec 2 drops with keeper 1
    while vec 3 drops with keeper 2, itself dropped). Kept rows are
    their own keeper. A consumer that needs a SURVIVING representative
    must resolve chains transitively — dedup.duplicate_clusters is the
    component-min pattern to follow; this relation deliberately reports
    the raw greedy decision the epsilon-ball dedup actually makes.

    This is the scale shape of the published SemDeDup recipe (cluster
    with k-means, dedup inside clusters): the all-pairs comparison is
    confined to cells, so cost is sum over cells of |cell|^2 instead of
    n^2 — with n_cells grown ~sqrt(n) at corpus scale, per-cell work
    stays bounded and the within-cell join is an equi-join on `cell`
    (hash-partitioned, AQE-splittable if a cell skews). Assignment
    itself is the zero-shuffle broadcast fold from ivf_cells. Like every
    cell-restricted scheme it is approximate across cell boundaries:
    cross-cell near-duplicates are invisible by construction
    (embedding_near_duplicates_exact is the recall-1.0 ground truth).

    The assignment relation — WITH the per-vector l2 norm precomputed —
    feeds three consumers (both join sides and the final projection);
    localCheckpoint materializes it once so neither the centroid scan +
    broadcast-fold nor the n norm folds run per consumer (same
    reasoning as embedding_near_duplicates' band relation — measured
    6 parquet scans -> 2, ~2x wall on the sf0.1 corpus)."""
    cents = ivf_centroids(emb)
    assigned = barrier(  # 3 consumers: both join sides + projection
        ivf_cells(emb, cents, keep_embedding=True, keep_norm=True)
    )
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    drops = (
        a.join(b, ["cell"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_b", "vec_a", _pair_sim().alias("sim"))
        .filter(F.col("sim") >= threshold)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("dup_of"), F.col("vec_id")).alias("keeper_id"),
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )


def kmeans_refine(emb: DataFrame) -> DataFrame:
    """One Lloyd iteration over the IVF coarse quantizer, as a relation:
    re-assign every vector to its nearest centroid (ivf_cells), recompute
    each cell's mean, and report per cell the member count and the L2
    shift between old and new centroid — the convergence signal an
    iterative k-means driver loops on. Both centroid generations are
    rounded to CENTROID_DP decimals BEFORE the distance, so the
    (order-dependent) parallel means are engine-stable and the shift is
    a deterministic sequential fold.

    Scale shape per iteration: assignment is the zero-shuffle broadcast
    fold; the update is one (cell, dim_idx) hash aggregation (map-side
    partials do the work, n_cells*dim tiny groups); the old-centroid join
    is broadcast. An iterative driver repeats this relation to a shift
    tolerance — the same count-only-loop shape as dedup.duplicate_clusters
    (nothing corpus-sized ever reaches the driver).

    cents and the assignment are each consumed twice (assignment + final
    join; means + member counts), so both are cut by barriers — one
    corpus scan for centroids, one for assignment, instead of re-deriving
    the whole subtree per consumer."""
    # 2 consumers each: cents feeds assignment + final join, assigned
    # feeds the means + the member counts
    cents = barrier(ivf_centroids(emb))
    assigned = barrier(ivf_cells(emb, cents, keep_embedding=True))
    new = _cell_means(assigned, "cell").select(
        "cell", F.col("centroid").alias("new_centroid")
    )
    members = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    shift = F.round(
        S.l2_norm(
            F.zip_with(
                F.col("new_centroid"), F.col("centroid"), lambda a, b: a - b
            )
        ),
        6,
    )
    return (
        new.join(F.broadcast(cents), "cell")
        .join(members, "cell")
        .select("cell", "n_members", shift.alias("shift"))
    )


KMEANS_MAX_ITERS = 20
KMEANS_TOL = 1e-4


def kmeans_fit(
    emb: DataFrame,
    max_iters: int = KMEANS_MAX_ITERS,
    tol: float = KMEANS_TOL,
) -> tuple[DataFrame, int]:
    """Full Lloyd's k-means over the IVF quantizer: iterate
    assign-then-update until the max per-cell centroid shift drops below
    `tol`, returning (final (cell, centroid) relation, iterations run).
    The iterative-driver counterpart of the single-step kmeans_refine
    relation, with the same count-only-loop contract as
    dedup.duplicate_clusters: the ONLY thing the driver ever collects is
    the O(n_cells) max-shift scalar per iteration — assignments and
    centroids stay distributed; localCheckpoint cuts lineage so plan
    depth stays constant across iterations. Raises RuntimeError loudly
    if max_iters passes without convergence (silent partial convergence
    would poison every downstream cell-bucketed consumer)."""
    # cents and new each feed the shift collect and the next round's
    # assignment; the cut keeps plan depth constant across rounds
    cents = barrier(ivf_centroids(emb))
    for it in range(1, max_iters + 1):
        assigned = ivf_cells(emb, cents, keep_embedding=True)
        new = barrier(_cell_means(assigned, "cell"))
        shift = F.round(
            S.l2_norm(
                F.zip_with(
                    F.col("new.centroid"),
                    F.col("old.centroid"),
                    lambda a, b: a - b,
                )
            ),
            6,
        )
        max_shift_row = (
            new.alias("new")
            .join(F.broadcast(cents).alias("old"), "cell")
            .agg(F.max(shift).alias("max_shift"))
            .head()
        )
        cents = new
        if max_shift_row["max_shift"] is None or max_shift_row["max_shift"] <= tol:
            return cents, it
    raise RuntimeError(
        f"kmeans_fit did not converge within {max_iters} iterations "
        f"(tol={tol}); raise max_iters or loosen tol"
    )


def lsh_bucketed_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, n_planes: int = N_PLANES
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.
    The bucket is a narrow projection of the vector itself — attach it
    with withColumn (zero shuffle), never a self-join.

    RECALL (measured vs brute force): this is the CHEAP COARSE filter —
    a pair lands in the same bucket only when all n_planes sign bits
    agree, probability p^8 with p = 1 - theta/pi, so recall@10 is ~0.24
    even on tight planted clusters and 0.08 on this corpus's
    near-random vectors (band in tests/test_ann_topk_recall.py). For a
    recall target use ivf_topk (cluster-structural recall, nprobe knob)
    or the multi-band OR construction (embedding_near_duplicates);
    single-bucket LSH buys a 2^-n_planes candidate fraction, not
    quality."""
    with_bucket = emb.withColumn(
        "bucket", S.hyperplane_bucket(F.col("embedding"), n_planes, EMB_DIM)
    )

    def project(src: DataFrame, role: str) -> DataFrame:
        return src.select(
            F.col("vec_id").alias("query_id" if role == "q" else "neighbor_id"),
            F.col("embedding").alias(f"{role}_emb"),
            S.l2_norm(S.to_double(F.col("embedding"))).alias(f"{role}_nrm"),
            F.col("bucket").alias(f"{role}_bucket"),
        )

    q = project(with_bucket.filter(F.col("vec_id").isin(query_ids)), "q")
    c = project(with_bucket, "n")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_bucket") == F.col("n_bucket"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_sim().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _exact_rescore(top: DataFrame, emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """Join a ranked (query_id, neighbor_id, ...) relation with both
    sides' vectors/norms and append the exact rounded cosine as `sim` —
    the shared rescoring tail of every approximate ranker (sq_topk,
    pq_topk): the expensive float fold runs only on rows that survived
    ranking. Preserves all input columns."""
    qn = _with_norm(
        emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "q_emb", "q_nrm"
    )
    cn = _with_norm(emb, "neighbor_id", "n_emb", "n_nrm")
    cols = [F.col(c) for c in top.columns]
    return (
        top.join(F.broadcast(qn), "query_id")
        .join(cn, "neighbor_id")
        .select(*cols, _pair_sim().alias("sim"))
    )


def _rerank_by_sim(scored: DataFrame, k: int, approx_col: str) -> DataFrame:
    """Shared Jégou §V re-rank tail (rp_topk and _adc_rank_and_rescore —
    one home, so a tie-break or rounding change cannot diverge the RP
    and PQ serving configs): re-rank an exact-rescored shortlist by true
    cosine (neighbor-id tiebreak) and cut to k."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", approx_col, "sim")
    )


# scalar quantization: 8-bit codes per dimension (levels 0..255)
SQ_LEVELS = 255


def sq_codes(emb: DataFrame) -> DataFrame:
    """8-bit scalar quantization (SQ8): per-dimension min/max over the
    corpus, then each component maps to round((x-lo)/(hi-lo)*255) — the
    standard 4x compression step production vector indexes (FAISS's
    ScalarQuantizer) run before exhaustive or IVF search, so 100 TB of
    float32 embeddings scan as 25 TB of codes.

    Portability: subtraction, one division, one multiplication and a
    round are all exact IEEE double ops evaluated in the same order on
    both engines (no reassociation anywhere), so codes are engine-exact
    integers. A constant dimension (hi == lo) pins code 0 on both sides.

    Scale shape: the quantizer is ONE aggregation pass emitting a single
    128-value row, broadcast back onto the corpus; code computation is
    map-side (zero shuffle). Returns (vec_id, code array<long>)."""
    e = F.col("embedding")
    stats = emb.groupBy().agg(
        F.array(
            *[F.min(e[i].cast("double")) for i in range(EMB_DIM)]
        ).alias("lo"),
        F.array(
            *[F.max(e[i].cast("double")) for i in range(EMB_DIM)]
        ).alias("hi"),
    )
    code = F.transform(
        F.sequence(F.lit(1), F.lit(EMB_DIM)),
        lambda i: F.when(
            F.element_at(F.col("hi"), i) == F.element_at(F.col("lo"), i),
            F.lit(0).cast("long"),
        ).otherwise(
            F.round(
                (
                    F.element_at(e.cast("array<double>"), i)
                    - F.element_at(F.col("lo"), i)
                )
                / (
                    F.element_at(F.col("hi"), i)
                    - F.element_at(F.col("lo"), i)
                )
                * SQ_LEVELS
            ).cast("long")
        ),
    )
    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id", code.alias("code")
    )


def sq_topk(emb: DataFrame, query_ids: list[int], k: int = 10) -> DataFrame:
    """Approximate top-k over SQ8 codes with exact rescoring: rank every
    corpus vector per query by the INTEGER dot product of quantized
    codes (exact, portable arithmetic — no float accumulation), keep the
    top k (ties broken by neighbor_id), then rescore exactly those
    winners with the true cosine.

    This is the memory-bound scale path: the ranking scan touches only
    the 64-byte code rows (codes stay partitioned, the query codes
    broadcast), and the expensive exact cosine runs on k rows per query
    instead of the corpus. Output: (query_id, neighbor_id, rank,
    approx_score, sim)."""
    codes = sq_codes(emb)
    q = codes.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("q_code")
    )
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.col("code").alias("n_code")
    )
    score = F.aggregate(
        F.zip_with(F.col("q_code"), F.col("n_code"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    top = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("approx_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return _exact_rescore(
        top.select("query_id", "neighbor_id", "rank", "approx_score"),
        emb,
        query_ids,
    )


# random projection (Johnson–Lindenstrauss): RP_DIM signed-sum projections
RP_DIM = 16


def _rp_sign(i: int, j: int) -> float:
    """Deterministic ±1 for matrix cell (i, j), 1-indexed — the sign hash
    both engines compute identically: (i*j*7919 + i*104729 + j*48271)
    % 389 % 2. The i*j product term is load-bearing: any LINEAR form's
    parity reduces to parity(i + j) once the arguments stay under the
    modulus (a checkerboard whose projections are all ±each other); the
    product makes the mod wrap, and the measured 64x16 matrix has max
    |column mean| 0.094 and max off-diagonal column correlation 0.281 —
    an acceptable JL sign matrix."""
    return 1.0 if (i * j * 7919 + i * 104729 + j * 48271) % 389 % 2 == 0 else -1.0


def rp_project(emb: DataFrame) -> DataFrame:
    """Signed random projection (Achlioptas/JL): 64-dim float embeddings
    compressed to RP_DIM dense doubles, proj[j] = round(sum_i emb[i] *
    s(i, j), 4) — the dimensionality-reduction tier of the compression
    family (SQ shrinks component WIDTH, PQ shrinks to codebook indices,
    RP shrinks the DIMENSION COUNT while approximately preserving inner
    products, within ±eps per the JL lemma).

    Portability: the signs are exact integers both engines reproduce;
    each projection is a SEQUENTIAL left fold over i (the float-fold
    rule), rounded to 4dp BEFORE any downstream similarity math (the
    centroid precedent). The Spark side unrolls both loops at plan-build
    time (RP_DIM and EMB_DIM are static), so the 1024-term expression
    stays in whole-stage codegen — no interpreted HOF lambda per row —
    while matching the oracle's list_reduce fold term for term.

    The expression is BUILT as one SQL string parsed by selectExpr, not
    as ~RP_DIM*EMB_DIM Column objects (the embedding_band_keys lesson:
    every PySpark Column operation is a py4j round-trip — the
    Column-loop form of this projection cost a MEASURED 8.6 s of
    driver time per query CONSTRUCTION at sf0.1, vs 4.2 s for the
    whole execution). Values are bit-identical: the `+` chain parses
    left-associative exactly like the old sequential fold (0.0 + t1
    == t1 in IEEE), and sign -1 becomes unary negation (x * -1.0 ==
    -x for finite floats).

    Scale shape: pure map-side (zero shuffle); at 100 TB the projected
    relation is 4x smaller than the input and feeds any downstream
    ranker one pass later. Returns (vec_id, proj array<double>)."""
    cols = []
    for j in range(1, RP_DIM + 1):
        terms = []
        for i in range(1, EMB_DIM + 1):
            t = f"CAST(element_at(embedding, {i}) AS DOUBLE)"
            terms.append(t if _rp_sign(i, j) > 0 else f"(- {t})")
        # the leading literal 0.0 keeps the oracle's seeded
        # list_reduce(list_prepend(0.0, ...)) fold bit-for-bit: without
        # it, a coordinate whose terms are all (negated) zeros yields
        # -0.0 here but +0.0 there — numerically equal, hash-divergent
        # (ADVICE r8)
        cols.append(f"round(0.0 + {' + '.join(terms)}, 4)")
    return emb.selectExpr("vec_id", f"array({', '.join(cols)}) AS proj")


def rp_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10,
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate top-k over JL projections with exact rescoring: rank
    every corpus vector per query by the 16-dim projected inner product
    (sequential fold, rounded to 6 — engine-portable), keep the top k
    (ties by neighbor_id), then rescore exactly those winners with the
    true 64-dim cosine.

    ``shortlist`` (the same Jégou §V R > k re-ranking the PQ tiers
    carry): keep R projected candidates, exact-rescore all of them, and
    RE-RANK by true cosine before cutting to k. Needed for the same
    reason as ADC: JL preserves COARSE geometry (cluster membership
    survives the 4x reduction) but not intra-cluster micro-distances —
    on 200-member planted clusters, projected-rank-then-cut recall is
    ~0.2 while shortlist re-ranked recall is ~1.0
    (tools/ann_recall_probe.py pins both as contracts).

    The ranking scan reads 16 doubles per row instead of 64 — the
    bandwidth-bound complement to sq_topk's integer-code scan; the
    expensive exact fold runs on k (or R) rows per query. Output:
    (query_id, neighbor_id, rank, approx_score, sim)."""
    proj = rp_project(emb)
    q = proj.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("proj").alias("q_proj")
    )
    c = proj.select(
        F.col("vec_id").alias("neighbor_id"), F.col("proj").alias("n_proj")
    )
    score = F.round(
        F.aggregate(
            F.zip_with(F.col("q_proj"), F.col("n_proj"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    keep = shortlist if shortlist is not None else k
    top = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("approx_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
    )
    scored = _exact_rescore(
        top.select("query_id", "neighbor_id", "rank", "approx_score"),
        emb,
        query_ids,
    )
    if shortlist is None:
        return scored
    return _rerank_by_sim(scored, k, "approx_score")


#: fixed re-ranking depth for the COMPOSED IVF+RP tier: unlike
#: standalone rp_topk — whose global projected scan forces the
#: shortlist to scale with the corpus (R = N/5, see
#: tools/ann_recall_probe.py) — the coarse quantizer bounds the
#: candidate pool at nprobe x cell size, so a fixed R suffices at any
#: corpus size. Sized at 1.5x the planted-cluster cell size the probes
#: use: R = cell size exactly loses ~5% of tail true neighbors to the
#: second probed cell's projected-score intrusions (measured 0.935 at
#: 10k), while the margin restores >= 0.95 at every probed N.
IVF_RP_SHORTLIST = 300


def ivf_rp_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10,
    nprobe: int = N_PROBE, shortlist: int = IVF_RP_SHORTLIST,
) -> DataFrame:
    """Composed IVF + JL-random-projection ANN — the production stack
    the rp_topk docstring argues for (RP standalone loses to brute force
    on an in-memory corpus; its win is as the cheap ranking stage BEHIND
    a coarse quantizer):

    1. coarse: assign the corpus to centroid cells (ivf_cells, zero
       corpus shuffle) and probe each query's ``nprobe`` nearest cells —
       candidates bounded at nprobe x cell size;
    2. rank: score only those candidates by the 16-dim projected inner
       product (rp_project — the scan reads 16 doubles per candidate
       instead of 64 floats) and keep a FIXED shortlist R per query;
    3. exact: rescore the R survivors with the true 64-dim cosine and
       re-rank (the shared Jégou §V tail, _rerank_by_sim).

    The composition is why R stays FIXED here while standalone rp_topk
    needs R = N/5: the cell restriction already removed the other
    clusters whose projected scores would otherwise crowd a global
    shortlist as N grows (measured: tools/ann_recall_probe.py pins
    recall >= 0.95 at 50k vectors with fixed R = 300, vs R = 10k for
    the standalone contract at the same recall). At 100 TB the projected
    candidate scan is the I/O win: 4x fewer bytes per candidate in the
    hot ranking pass, exact math only on R rows per query."""
    # 2 consumers, as in filtered_ivf_topk (r08 review)
    cents = barrier(ivf_centroids(emb))
    cells = ivf_cells(emb, cents)
    proj = rp_project(emb)
    q = emb.filter(F.col("vec_id").isin(query_ids))
    probes = (
        _centroid_ranks(q, cents)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    qp = proj.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("proj").alias("q_proj")
    )
    np_ = proj.select(
        F.col("vec_id").alias("neighbor_id"), F.col("proj").alias("n_proj")
    )
    score = F.round(
        F.aggregate(
            F.zip_with(F.col("q_proj"), F.col("n_proj"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = (
        cand.join(np_, "neighbor_id")
        .join(F.broadcast(qp), "query_id")
        .select("query_id", "neighbor_id", score.alias("approx_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
    )
    rescored = _exact_rescore(
        top.select("query_id", "neighbor_id", "rank", "approx_score"),
        emb,
        query_ids,
    )
    return _rerank_by_sim(rescored, k, "approx_score")


# product quantization: M subspaces of DSUB dims each (M * DSUB = EMB_DIM)
PQ_M = 8
PQ_DSUB = 8


def _pq_subdist(v, cent, m: int) -> "F.Column":
    """Squared L2 between subvector m of `v` and the same slice of
    `cent`: the 8-term sum is UNROLLED left-associatively (PQ_DSUB is
    static), matching the oracle's sequential list_reduce fold term for
    term. Unrolling (vs an inner F.aggregate) also keeps this usable
    inside another lambda — Spark cannot resolve a nested HOF whose
    inner lambda body captures the outer lambda's variable."""
    acc = F.lit(0.0)
    for j in range(1, PQ_DSUB + 1):
        d = F.element_at(v, m * PQ_DSUB + j) - F.element_at(
            cent, m * PQ_DSUB + j
        )
        acc = acc + d * d
    return F.round(acc, 6)


def pq_codes(
    emb: DataFrame, cents: DataFrame, extra_cols: list[str] | None = None
) -> DataFrame:
    """Product-quantization codes (the IVF-PQ fine quantizer — Jégou et
    al. 2011, "Product Quantization for Nearest Neighbor Search"): the
    vector splits into M={PQ_M} subvectors of {PQ_DSUB} dims; each
    subvector's code is its nearest codebook entry by squared L2
    (rounded, ties to the lowest cell). The codebooks are the SLICES of
    the shared deterministic centroid table (slice of a mean == mean of
    a slice, so per-subspace training is free and engine-portable).

    Scale shape: identical to ivf_cells — the centroid table collapses
    to one broadcast row and every code is a per-row fold, so encoding
    is map-side with ZERO shuffle of the corpus. Output: (vec_id,
    codes array<int> of length M — the cell ids). At 100 TB the code relation (M
    small ids per vector) is what you store hot; with K cells a code
    costs M*log2(K) bits vs 64*32 for the raw floats. extra_cols
    pass through untouched (e.g. `cell`, so IVF assignment and PQ
    encode share one map-side pass)."""
    extra_cols = extra_cols or []
    packed = cents.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("cs")
    )
    codes = pq_codes_column_folds(emb.sparkSession.sparkContext)
    return (
        emb.select(
            "vec_id",
            *extra_cols,
            S.to_double(F.col("embedding")).alias("_emb_d"),
        )
        .crossJoin(F.broadcast(packed))
        .select("vec_id", *extra_cols, codes.alias("codes"))
    )


@functools.lru_cache(maxsize=1)
def pq_codes_column_folds(sc) -> "F.Column":
    """The M argmin folds over the packed centroid row `cs` and the
    double-cast embedding `_emb_d` (init (1e300, -1), strict <, ties to
    the first == the cell-sorted lowest), as one code array. Built once
    per SparkContext (``sc`` is only the cache key): the M lambda folds
    cost about a second of py4j round-trips per construction."""
    v = F.col("_emb_d")

    def mk_step(m: int):
        # closure, NOT a default argument: PySpark derives the lambda's
        # arity from the python signature, so `def step(acc, c, m=m)`
        # would build a 3-variable SQL lambda and fail HOF binding
        def step(acc, c):
            d = _pq_subdist(v, c["centroid"], m)
            return F.when(
                d < acc["dist"],
                F.struct(d.alias("dist"), c["cell"].alias("cell")),
            ).otherwise(acc)

        return step

    code_cols = []
    for m in range(PQ_M):
        best = F.aggregate(
            F.col("cs"),
            # same init shape as ivf_cells: cell is the corpus label (int)
            F.struct(
                F.lit(1e300).alias("dist"),
                F.lit(-1).cast("int").alias("cell"),
            ),
            mk_step(m),
        )
        code_cols.append(best["cell"])
    return F.array(*code_cols)


def _pq_query_tables(
    emb: DataFrame, query_ids: list[int], cents: DataFrame
) -> DataFrame:
    """One row per query: (query_id, tab array<struct<m,cell,dist>>) —
    the query's squared-L2 distance to every codebook entry in every
    subspace (n_queries * M * K values total, broadcast-sized)."""
    dists = _pq_query_dists(emb.sparkSession.sparkContext)
    return (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            S.to_double(F.col("embedding")).alias("_emb_d"),
        )
        .crossJoin(F.broadcast(cents))
        .select("query_id", F.explode(dists).alias("d"))
        .groupBy("query_id")
        .agg(F.collect_list("d").alias("tab"))
    )


@functools.lru_cache(maxsize=1)
def _pq_query_dists(sc) -> "F.Column":
    """M structs (m, cell, subdist) of `_emb_d` against the joined
    centroid row, built once per SparkContext."""
    return F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.col("cell").alias("cell"),
                _pq_subdist(F.col("_emb_d"), F.col("centroid"), m).alias("dist"),
            )
            for m in range(PQ_M)
        ]
    )


@functools.lru_cache(maxsize=1)
def _adc_distance(sc) -> "F.Column":
    """ADC approximate distance for a row carrying `codes` and `tab`:
    M table lookups summed left-associatively in subspace order (the
    oracle's list(dist ORDER BY m) sequential fold), rounded to 6.
    Built once per SparkContext."""

    def lookup(m: int) -> "F.Column":
        hit = F.filter(
            F.col("tab"),
            lambda t: (t["m"] == F.lit(m))
            & (t["cell"] == F.element_at(F.col("codes"), m + 1)),
        )
        return F.element_at(hit, 1)["dist"]

    approx = F.lit(0.0)
    for m in range(PQ_M):
        approx = approx + lookup(m)
    return F.round(approx, 6)


def _adc_rank_and_rescore(
    cand: DataFrame,
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    shortlist: int | None = None,
) -> DataFrame:
    """Shared ADC tail for pq_topk / ivf_pq_topk: given candidate rows
    carrying (query_id, vec_id, codes, tab), rank by the ADC distance
    (ascending, neighbor-id tiebreak), keep k, rescore exactly.

    ``shortlist`` (Jégou et al. 2011 §V re-ranking, the R > k serving
    configuration): keep `shortlist` ADC candidates instead of k,
    exact-rescore all of them, and RE-RANK by true cosine before
    cutting to k. This is what buys back within-cell recall: these
    codebooks are cluster-mean slices, so every member of a cluster
    quantizes to (nearly) the same codes and ADC cannot order them —
    measured on 200-member planted clusters, ADC-rank-then-cut recall
    is ~0.2 while shortlist=cluster-size recall is ~1.0
    (tools/ann_recall_probe.py). Cost: `shortlist` exact folds per
    query instead of k. Default None preserves the pinned
    rank-by-ADC output shape exactly."""
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    keep = shortlist if shortlist is not None else k
    top = (
        cand.filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_distance(cand.sparkSession.sparkContext).alias("approx_dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
    )
    scored = _exact_rescore(
        top.select("query_id", "neighbor_id", "rank", "approx_dist"),
        emb,
        query_ids,
    )
    if shortlist is None:
        return scored
    return _rerank_by_sim(scored, k, "approx_dist")


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes with exact
    rescoring: each query precomputes its (subspace, cell) -> squared-L2
    table against the codebooks; a corpus vector's approximate distance
    is the M-term sum of table lookups at its codes, folded in fixed
    subspace order (engine-portable); the k best (ascending distance,
    ties to the lowest neighbor_id) are rescored with the true cosine.

    Scale shape: the per-query tables are tiny (n_queries * M * K rows)
    and travel as ONE broadcast row each via crossJoin, so the ranking
    scan reads only the code relation map-side — zero shuffle before
    the per-query top-k window; exact cosine touches k rows per query.
    Output: (query_id, neighbor_id, rank, approx_dist, sim).

    The centroid table is localCheckpoint'd (semantic_dedup precedent):
    it is a trained artifact — exactly what production persists — and
    it feeds two consumers (corpus encode + per-query tables), so
    materializing its n_cells rows once halves the embeddings scans."""
    cents = barrier(ivf_centroids(emb))  # 2 consumers: encode + tables
    codes = pq_codes(emb, cents)
    qtab = _pq_query_tables(emb, query_ids, cents)
    return _adc_rank_and_rescore(
        codes.crossJoin(F.broadcast(qtab)), emb, query_ids, k, shortlist
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = N_PROBE,
    shortlist: int | None = None,
) -> DataFrame:
    """The full IVF-PQ retrieval stack (Jégou et al. 2011; the
    architecture serving billion-vector search): the coarse quantizer
    restricts each query to its `nprobe` nearest cells, the PQ codes of
    ONLY those cells' members rank candidates by asymmetric distance,
    and the k winners are rescored with the true cosine.

    Scale shape: IVF assignment and PQ encode share ONE map-side pass
    over the corpus (pq_codes carries `cell` through), so the index is
    (vec_id, cell, codes) built with zero corpus shuffle; the probe
    relation (n_queries * nprobe rows) broadcasts onto the index's
    cell key, cutting the ADC scan to ~nprobe/n_cells of the corpus —
    the compute saving PQ alone doesn't give. Recall is bounded by the
    probed cells (same contract as ivf_topk; nprobe=n_cells recovers
    pq_topk's candidate set exactly) AND by the ADC cut: with
    cluster-mean codebooks, same-cluster members share codes, so
    cutting at k by ADC alone ranks within a cell near-arbitrarily —
    serve with ``shortlist`` (R > k re-ranking, see
    _adc_rank_and_rescore) to restore within-cell recall; measured
    contracts in tools/ann_recall_probe.py.
    Output: (query_id, neighbor_id, rank, approx_dist, sim)."""
    # 3 consumers: assignment, the code fold and the query tables
    cents = barrier(ivf_centroids(emb))
    assigned = ivf_cells(emb, cents, keep_embedding=True)
    index = pq_codes(assigned, cents, extra_cols=["cell"])
    probes = (
        _centroid_ranks(emb.filter(F.col("vec_id").isin(query_ids)), cents)
        .filter(F.col("crank") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    qtab = _pq_query_tables(emb, query_ids, cents)
    cand = F.broadcast(probes).join(index, "cell").join(
        F.broadcast(qtab), "query_id"
    )
    return _adc_rank_and_rescore(cand, emb, query_ids, k, shortlist)
