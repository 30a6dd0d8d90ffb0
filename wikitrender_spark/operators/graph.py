"""Edit-transition graph operators: Markov transitions and fixed-point
integer PageRank over the per-user page-to-page edit sequence.

The reference (/root/reference/index.js) keeps per-page cumulative state
only — it has no notion of HOW editors move between pages. These are
SURVEY.md §2.8 additions: the graph-centrality layer a trending engine
runs next to its counters (which pages sit at the center of editing
traffic, not merely which receive the most edits).

Graph derivation: consecutive edits by the SAME user (ordered by
(ts, seq) — seq is the unique event id, so the order is total) form a
directed edge src -> dst between distinct page ids; edge weight is the
transition count. This is the clickstream-graph shape, linear in the
event count via one lag window partitioned by user.

Determinism / oracle portability (see plans/sqlgen.py twins): every
PageRank quantity is BIGINT fixed-point — scores scaled by 1e6,
per-edge contribution floor((score * w) / out_w), damping applied as
150000 + floor(85 * mass / 100) — so iteration results are integer sums
(order-independent) and bit-identical across engines; no float crosses
the oracle boundary. Spark's `DIV` and DuckDB's `//` agree because every
operand is non-negative (truncation == floor).

Overflow bound: the per-edge product score * w must stay under 2^63.
Total mass is conserved at ~n_nodes * 1e6 (teleport replaces floor
loss), so score <= ~1e6 * n_nodes and the product is safe while
n_nodes * max_edge_weight < 9e12 — e.g. 1e8 pages with hot-pair
transition counts up to 9e4. Beyond that, rescale SCALE down or move
the contribution arithmetic to DECIMAL(38,0) (the hourly_anomalies
idiom); non-ANSI Spark would wrap silently while DuckDB raises.

Scale shape (100 TB story):
- edit_transitions: one shuffle on user for the lag window (bounded
  per-user payload: a user's own event sequence), one hash-agg on
  (src, dst). No collect.
- pagerank: the edges relation is localCheckpoint'd ONCE and re-read
  each iteration; each of the K (fixed, default 5) iterations is one
  shuffle join edges(src) x scores(node) plus one hash-agg on dst —
  the standard iterative-graph DataFrame shape (same as
  dedup.dup_clusters' HashMin loop), with localCheckpoint cutting
  lineage so plan depth stays O(1) per iteration instead of O(K).
  Join strategy is left to AQE: scores is |nodes|-sized (can be 1e8+
  at web scale), so no broadcast hint (the tx_collocations lesson).
- top-k cut: orderBy + limit compiles to TakeOrderedAndProject
  (per-partition heaps + driver merge of k rows), never a global sort
  (the tx_bm25_topk lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..barrier import barrier

#: fixed-point scale: initial score per node (1.0 == 1e6).
SCALE = 1_000_000
#: damping 0.85 as the rational pair (85, 100); teleport = 0.15 * SCALE.
DAMP_NUM, DAMP_DEN = 85, 100
TELEPORT = SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN  # 150_000
#: fixed iteration count — the DECLARED semantics (not a convergence
#: heuristic), so the oracle twin can unroll exactly K stages.
PAGERANK_ITERS = 5


def edit_transitions(edit_events: DataFrame) -> DataFrame:
    """(src, dst, w): distinct-page transitions between consecutive
    edits by the same user, from a classified edit-event relation with
    (user, ts, seq, id) columns (operators/page_state.
    classified_edit_events). Self-loops (consecutive edits to the same
    page) are not transitions and are dropped."""
    w = Window.partitionBy("user").orderBy("ts", "seq")
    return (
        edit_events.select("user", "ts", "seq", "id")
        .withColumn("src", F.lag("id").over(w))
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("id")))
        .groupBy("src", F.col("id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def markov_top_transitions(trans: DataFrame, k: int = 25) -> DataFrame:
    """Top-k transitions by count with their Markov row context: the
    empirical transition probability src->dst is the RATIONAL pair
    (w, out_w) — never materialized as a float, per the oracle
    portability rule. Deterministic cut: (w desc, src, dst) is a total
    order. TakeOrderedAndProject shape (no global sort).

    Round 16 (guide §2.4): out_w is a WINDOW sum partitioned by src
    instead of a groupBy(src) + self-join — same exact integer sum,
    but one exchange on src replaces [agg exchange + join exchange],
    and with a single consumer the multi-consumer checkpoint barrier
    (ADVICE r7) is no longer needed at all."""
    return (
        trans.withColumn(
            "out_w", F.sum("w").over(Window.partitionBy("src"))
        )
        .orderBy(F.desc("w"), F.asc("src"), F.asc("dst"))
        .limit(k)
        .select("src", "dst", "w", "out_w")
    )


def pagerank(
    trans: DataFrame, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """(node, score): fixed-point integer PageRank after exactly
    `iters` synchronous iterations from a uniform SCALE start.

        score_{k+1}(v) = TELEPORT
                       + (DAMP_NUM * sum_{u->v} floor(score_k(u) * w / out_w(u))) DIV DAMP_DEN

    Dangling pages cannot exist in this graph by construction (every
    node in `nodes` appears as a src or dst of some edge, and a node
    that is only ever a dst simply contributes nothing — its mass
    leaks, the standard simplified-PageRank treatment; document-level
    rank ORDER is what the operator serves).

    The edges relation (trans + out-weights) is checkpointed once and
    re-read every iteration; scores are checkpointed after every round
    but the last to cut lineage (see module docstring for the full scale
    shape)."""
    # Round 16 (guide §2.4): out_w as a window sum over src (one
    # exchange, no self-join — see markov_top_transitions), and every
    # checkpoint LAZY (eager=False): the persisted cut still protects
    # each multi-consumer fan-out from recomputation (ADVICE r7), but
    # the K+2 serial materialization jobs collapse into the final
    # action's job graph (measured: eager checkpoint jobs dominated the
    # graph-family wall at bench scale).
    edges = barrier(  # consumers: nodes + every iteration's join
        trans.withColumn(
            "out_w", F.sum("w").over(Window.partitionBy("src"))
        ).select("src", "dst", "w", "out_w")
    )
    nodes = barrier(  # consumers: the init + every iteration's join
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    scores = nodes.select(
        "node", F.lit(SCALE).cast("bigint").alias("score")
    )
    for rnd in range(1, iters + 1):
        mass = (
            edges.join(scores, edges.src == scores.node)
            .select(
                F.col("dst"),
                F.expr("(score * w) DIV out_w").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("mass"))
        )
        scores = (
            nodes.join(mass, nodes.node == mass.dst, "left")
            .select(
                "node",
                (
                    F.lit(TELEPORT)
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(mass, 0)) DIV {DAMP_DEN}"
                    )
                )
                .cast("bigint")
                .alias("score"),
            )
        )
        if rnd < iters:
            # plan depth stays constant per round; the last round's only
            # consumer is the returned relation, so it is not cut
            scores = barrier(scores)
    return scores


def pagerank_topk(trans: DataFrame, k: int = 20,
                  iters: int = PAGERANK_ITERS) -> DataFrame:
    """Top-k pages by PageRank score, deterministic tie-break on node
    id. TakeOrderedAndProject cut (the tx_bm25_topk lesson: never rank
    an unbounded relation through a global window to cut it)."""
    return (
        pagerank(trans, iters)
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(k)
    )


#: co-edit fanout cap: each user contributes at most this many pages
#: (their most-edited) to pair generation. Sized from the driver data
#: where per-user distinct-page counts are ~45 median / ~90 max at
#: every SF (user count scales with SF, per-user activity does not),
#: so the cap genuinely binds for above-median users at all test SFs.
COEDIT_CAP = 40
COEDIT_TOPK = 25


def coedit_pair_weights(
    edit_events: DataFrame, cap: int = COEDIT_CAP
) -> DataFrame:
    """(page_a, page_b, n_coeditors), page_a < page_b: the UNCUT
    undirected co-edit pair relation — the shared body of coedit_pairs
    (top-k cut) and coedit_triangles (closure join). See coedit_pairs
    for the bounded-co-occurrence scale argument; the cap keeps this
    relation's size at sum-over-users C(cap, 2) regardless of key
    heat."""
    ue = (
        edit_events.filter(~F.col("is_bot"))
        .groupBy("user", "id")
        .agg(F.count(F.lit(1)).alias("n_edits"))
    )
    w = Window.partitionBy("user").orderBy(F.desc("n_edits"), F.asc("id"))
    top_pages = barrier(  # 2 consumers: the two self-join sides
        ue.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= cap)
        .select("user", "id")
    )
    return (
        top_pages.alias("a")
        .join(top_pages.alias("b"), "user")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("page_a"), F.col("b.id").alias("page_b")
        )
        .agg(F.count(F.lit(1)).alias("n_coeditors"))
    )


def coedit_pairs(
    edit_events: DataFrame, cap: int = COEDIT_CAP, k: int = COEDIT_TOPK
) -> DataFrame:
    """Top-k co-edited page pairs: pairs of pages whose HUMAN editor
    sets overlap, scored by the number of shared editors — the
    market-basket / "editors also edit" co-occurrence layer next to the
    transition graph (a pair can co-occur without ever being edited
    back-to-back, which is what edit_transitions measures).

    Scale shape (the canonical bounded co-occurrence plan):
    - per-(user, page) pre-aggregation FIRST (one shuffle on the pair
      key) bounds the window payload below by construction — the
      two-level idiom from page_state;
    - the per-user rank window then carries at most that user's
      distinct-page count, and the cap keeps each user's contribution
      to pair generation at C(cap, 2) pairs REGARDLESS of how
      promiscuous the key is — hot users are truncated to their cap
      most-edited pages (deterministic: edits desc, id asc), not
      exploded quadratically and not dropped entirely;
    - the self-join on user is an equi-join of two cap-bounded
      relations sharing one partitioning; top_pages is
      localCheckpoint'd first so the pre-agg + rank pipeline is
      computed once, not once per join branch (ADVICE r7);
    - final cut: orderBy + limit = TakeOrderedAndProject; the rank
      column is windowed over the k-row relation only (the
      tx_bm25_topk lesson)."""
    pairs = coedit_pair_weights(edit_events, cap)
    top = pairs.orderBy(
        F.desc("n_coeditors"), F.asc("page_a"), F.asc("page_b")
    ).limit(k)
    wr = Window.orderBy(F.desc("n_coeditors"), F.asc("page_a"), F.asc("page_b"))
    return top.withColumn("rank", F.row_number().over(wr).cast("int"))


DEGREE_TOPK = 25


def degree_topk(trans: DataFrame, k: int = DEGREE_TOPK) -> DataFrame:
    """(node, in_deg, out_deg, in_w, out_w, rank): the k most connected
    pages of the transition graph by total degree — the degree layer of
    the centrality report (PageRank weights by mass; degree counts
    distinct neighbors, so a page fed thinly by many pages and one fed
    heavily by one separate cleanly).

    Scale shape (round 16, guide §2.4): each edge contributes one
    direction-tagged row per endpoint (a union of two narrow
    projections of the SAME trans subtree — Spark caches nothing here,
    but the lag-window pipeline feeding trans is cheap relative to the
    former [2 hash-aggs + full-outer join] it replaces); ONE
    conditional hash-agg on node then folds both directions — the
    full-outer join and its exchanges are gone (sum-of-tagged ==
    per-direction sums, missing direction == 0 exactly as the former
    coalesce pinned). TakeOrderedAndProject cut. trans is
    localCheckpoint'd LAZILY before the two-branch fan-out (ADVICE r7;
    eager=False keeps the recomputation guard without a separate
    materialization job)."""
    trans = barrier(trans)  # 2 consumers: the union's two branches
    tagged = trans.select(
        F.col("src").alias("node"), F.lit(1).alias("is_out"), "w"
    ).unionByName(
        trans.select(
            F.col("dst").alias("node"), F.lit(0).alias("is_out"), "w"
        )
    )
    nodes = tagged.groupBy("node").agg(
        F.sum(F.when(F.col("is_out") == 0, 1).otherwise(0)).alias("in_deg"),
        F.sum("is_out").alias("out_deg"),
        F.sum(F.when(F.col("is_out") == 0, F.col("w")).otherwise(0)).alias(
            "in_w"
        ),
        F.sum(F.when(F.col("is_out") == 1, F.col("w")).otherwise(0)).alias(
            "out_w"
        ),
    )
    top = nodes.orderBy(
        F.desc(F.col("in_deg") + F.col("out_deg")), F.asc("node")
    ).limit(k)
    w = Window.orderBy(F.desc(F.col("in_deg") + F.col("out_deg")), F.asc("node"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


#: minimum shared-editor weight for an edge to enter the triangle
#: closure: w >= 2 cuts the single-coincidence noise floor AND the edge
#: volume (sf0.01: 21.5k edges vs 33k; the thresholded graph still
#: closes ~1.2M triangles, so the check is never degenerate).
TRIANGLE_MIN_W = 2
TRIANGLE_TOPK = 10


def coedit_triangles(
    edit_events: DataFrame, cap: int = COEDIT_CAP,
    min_w: int = TRIANGLE_MIN_W, k: int = TRIANGLE_TOPK,
) -> DataFrame:
    """Top-k triangles of the co-edit graph by total edge weight — the
    community-structure probe one hop past coedit_pairs (a heavy
    triangle is three pages with three pairwise-overlapping editor
    sets: a topic cluster, not a coincidence).

    Scale shape — DEGREE-ORDERED triangle enumeration (the classic
    bounded closure; e.g. Suri & Vassilvitskii, WWW'11):
    - the undirected edge relation is the cap-bounded co-edit pair set,
      thresholded at min_w, localCheckpoint'd once (three consumers);
    - each edge is ORIENTED from its lower-(degree, id) endpoint to the
      higher one: out-fanout per node is then O(sqrt(m)) regardless of
      how hot a page is — an id-ordered orientation would give hub
      pages unbounded fanout in the wedge join (the same hot-key class
      the per-user cap bounds one level down);
    - wedges: oriented e1(u->v) join e2(v->x) on the shared middle
      vertex; closure: semi-check that undirected edge (min(u,x),
      max(u,x)) exists. Each triangle is found EXACTLY once (its
      orientation-minimal vertex opens it);
    - output canonicalized to id order a < b < c with per-edge weights
      mapped onto the sorted pairs, cut by TakeOrderedAndProject.
    """
    return triangles_from_pairs(
        coedit_pair_weights(edit_events, cap).filter(
            F.col("n_coeditors") >= min_w
        ),
        k=k,
    )


def triangles_from_pairs(pairs: DataFrame, k: int = TRIANGLE_TOPK) -> DataFrame:
    """Degree-ordered triangle enumeration over an UNDIRECTED weighted
    pair relation (page_a < page_b, n_coeditors) — the closure stage of
    coedit_triangles, exposed separately so it can run on synthetic
    graphs whose node/edge count actually grows (the sf1 event
    replication holds the page keyspace fixed — BASELINE.md r08 caveat;
    the node-scaled measurement is recorded in BASELINE.md "Node-scaled
    graph probe"). Same plan, same checkpoints; coedit_triangles
    delegates here."""
    pairs = barrier(pairs)  # 3 consumers, see below
    # deg and oriented each fan out to two consumers but are NOT
    # checkpointed (round 16, measured): under AQE every checkpoint —
    # even lazy — executes its subtree's shuffle stages at toRdd time,
    # so each barrier is a serial job; AQE's canonical-plan stage reuse
    # already dedups the two join branches' identical agg stages.
    # Variants measured end-to-end at sf0.1 (median-of-3, rows equal):
    # 4 ckpts 4.45s / pairs+top_pages only 3.76s / none 6.69s — the
    # pairs barrier IS load-bearing (three consumers, nontrivial
    # subtree), the deg/oriented ones were pure serialization.
    deg = (
        pairs.select(F.col("page_a").alias("node"))
        .unionByName(pairs.select(F.col("page_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        pairs.join(deg.withColumnRenamed("node", "page_a")
                      .withColumnRenamed("deg", "deg_a"), "page_a")
        .join(deg.withColumnRenamed("node", "page_b")
                 .withColumnRenamed("deg", "deg_b"), "page_b")
    )
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("page_a") < F.col("page_b"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("page_a")).otherwise(F.col("page_b")).alias("u"),
        F.when(lower_first, F.col("page_b")).otherwise(F.col("page_a")).alias("v"),
        F.col("n_coeditors").alias("w"),
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("u"),
            F.col("e1.v").alias("v"),
            F.col("e2.v").alias("x"),
            F.col("e1.w").alias("w_uv"),
            F.col("e2.w").alias("w_vx"),
        )
    )
    closed = wedges.join(
        pairs.select(
            F.col("page_a").alias("cu"), F.col("page_b").alias("cx"),
            F.col("n_coeditors").alias("w_ux"),
        ),
        (F.least("u", "x") == F.col("cu")) & (F.greatest("u", "x") == F.col("cx")),
    )
    a = F.least("u", "v", "x")
    c = F.greatest("u", "v", "x")
    # ids are STRINGS: the mid vertex is the one that is neither the
    # least nor the greatest (the three are distinct by construction —
    # u != v and v != x are edges, u != x closes one)
    b = (
        F.when((F.col("u") != a) & (F.col("u") != c), F.col("u"))
        .when((F.col("v") != a) & (F.col("v") != c), F.col("v"))
        .otherwise(F.col("x"))
    )

    def w_of(lo, hi):
        # the weight of the triangle edge whose sorted endpoints are
        # (lo, hi): exactly one of the three known edges matches
        return (
            F.when((F.least("u", "v") == lo) & (F.greatest("u", "v") == hi),
                   F.col("w_uv"))
            .when((F.least("v", "x") == lo) & (F.greatest("v", "x") == hi),
                  F.col("w_vx"))
            .otherwise(F.col("w_ux"))
        )

    tri = closed.select(
        a.alias("page_a"), b.alias("page_b"), c.alias("page_c"),
        w_of(a, b).alias("w_ab"),
        w_of(a, c).alias("w_ac"),
        w_of(b, c).alias("w_bc"),
    )
    total = F.col("w_ab") + F.col("w_ac") + F.col("w_bc")
    top = tri.orderBy(
        total.desc(), F.asc("page_a"), F.asc("page_b"), F.asc("page_c")
    ).limit(k)
    w = Window.orderBy(
        (F.col("w_ab") + F.col("w_ac") + F.col("w_bc")).desc(),
        F.asc("page_a"), F.asc("page_b"), F.asc("page_c"),
    )
    return top.withColumn("rank", F.row_number().over(w).cast("int"))
