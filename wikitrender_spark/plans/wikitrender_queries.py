"""Driver-facing wikitrender queries (SURVEY.md §2) with DuckDB oracles.

Each entry: a Spark DataFrame-API callable (spark, sf_dir) -> DataFrame,
plus the equivalent DuckDB SQL from plans/sqlgen.py. Column names/types are
aligned pairwise (driver hashes values after sorting columns by name).
Timestamps are emitted as unix micros (BIGINT) so hashing is
engine-representation-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..barrier import barrier

from ..functions import classify, metrics
from ..operators import graph, lifecycle, topk
from ..operators.derive import rc_events
from ..operators.page_state import (
    classified_edit_events,
    page_state,
    with_snapshot_metrics,
)
from . import sqlgen

# Purge parameters used by the oracle-checked purge query. The reference
# defaults (minSpeed=3 epm etc., /root/reference/index.js:110-113) assume a
# live firehose; on the month-long synthetic replay they'd purge everything,
# so the checked query uses thresholds that exercise every clause of P2.
PURGE_PARAMS = dict(
    max_lifespan=42000.0,
    max_inactivity=5000.0,
    min_speed=0.0002,
    min_purge_time=5.0,
)


def _state_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    rc = rc_events(spark, sf_dir)
    st = page_state(rc, with_collections=False)
    return st.select(
        "id",
        "wiki",
        "title",
        "edits",
        "anonEdits",
        "isNew",
        "notabilityFlags",
        "volatileFlags",
        "reverts",
        F.unix_micros("start").alias("start_us"),
        F.unix_micros("updated").alias("updated_us"),
        "bytesChanged",
        "n_contributors",
        "n_anons",
        "max_user_edits",
        "total_user_edits",
    )


def _metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    rc = rc_events(spark, sf_dir)
    st = page_state(rc, with_collections=False)
    # the snapshot clock reduces straight to one scalar — feed it the
    # UNSPREAD rc so its subtree carries no core-spreading exchange
    # (same rows, same max; guide §2.4: remove shuffles outright)
    now_rc = rc_events(spark, sf_dir, spread=False)
    return with_snapshot_metrics(st, now_rc, grace_minutes=sqlgen.GRACE_MINUTES)


def q_page_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _state_scalar(spark, sf_dir)


def q_most_edited(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.most_edited(_metrics(spark, sf_dir))


def q_biggest_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.biggest_movers(_metrics(spark, sf_dir))


def q_most_vibrant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.most_vibrant(_metrics(spark, sf_dir))


TOPK_PER_WIKI = 3


def q_top_pages_per_wiki(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-wiki top-k by edits-per-minute — the partitioned row_number
    generalization of Q1's global sort+limit (SURVEY.md §2.7): one
    shuffle on the partition key instead of a single-partition final."""
    from pyspark.sql import Window

    m = _metrics(spark, sf_dir)
    w = Window.partitionBy("wiki").orderBy(
        F.desc("edits_per_minute"), F.asc("id")
    )
    return (
        m.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_PER_WIKI)
        .select("wiki", "id", "title", "edits", "edits_per_minute", "rnk")
    )


def q_purge_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    surv = topk.purge_survivors(_metrics(spark, sf_dir), **PURGE_PARAMS)
    return surv.select(
        "id", "title", "edits", "reverts", "age_min", "last_updated_min",
        "edits_per_minute",
    )


def q_epm_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 flag matrix (/root/reference/index.js:80-88): editsPerMinute with
    every (includeReverts, includeAnons) combination side by side. The
    default-flag queries (Q1, purge) never exercise the variant counts;
    this row pins that the flags add into the numerator AND the
    zero-count guard before the division."""
    m = _metrics(spark, sf_dir)

    def epm(include_reverts: bool, include_anons: bool):
        return metrics.edits_per_minute(
            F.col("edits"), F.col("reverts"), F.col("anonEdits"),
            F.col("age_min"), include_reverts, include_anons,
        )

    return m.select(
        "id", "edits", "reverts", "anonEdits",
        F.col("edits_per_minute").alias("epm_default"),
        epm(True, False).alias("epm_reverts"),
        epm(False, True).alias("epm_anons"),
        epm(True, True).alias("epm_all"),
    )


def q_purge_safe_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 markSafe through the batch purge path: a deterministic control
    stream derived from the data itself (markSafe for notabilityFlags>0
    pages at their last update; a later-seq clearSafe for
    volatileFlags>0 pages, so both-flag pages exercise the latest-wins
    tie-break), applied via lifecycle.apply_safe_list, then P2 with
    safe_col — safe pages dodge the speed/inactivity clause but not the
    max-lifespan override (/root/reference/index.js:362-398,
    markSafe index.js:186-191)."""
    rc = rc_events(spark, sf_dir)
    # three consumers (metrics + the two derived control streams) read
    # the page_state aggregate; without the barrier each re-runs the
    # two-level aggregation over its own event scan (round 16, guide
    # §2.4 — AQE does not reuse the agg stages across the fan-out)
    st = barrier(page_state(rc, with_collections=False))
    m = with_snapshot_metrics(
        st, rc_events(spark, sf_dir, spread=False),
        grace_minutes=sqlgen.GRACE_MINUTES,
    )
    mark = st.filter(F.col("notabilityFlags") > 0).select(
        "id", F.lit("markSafe").alias("command"),
        F.col("updated").alias("ts"), F.lit(0).alias("seq"),
    )
    clear = st.filter(F.col("volatileFlags") > 0).select(
        "id", F.lit("clearSafe").alias("command"),
        F.col("updated").alias("ts"), F.lit(1).alias("seq"),
    )
    safe_m = lifecycle.apply_safe_list(m, mark.unionByName(clear))
    surv = topk.purge_survivors(safe_m, **PURGE_PARAMS, safe_col="safe")
    return surv.select(
        "id", "title", "edits", "safe", "age_min", "last_updated_min",
        "edits_per_minute",
    )


def q_classify_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    rc = rc_events(spark, sf_dir)
    e = classified_edit_events(rc)
    return e.groupBy("is_revert", "is_bot", "is_anon").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("delta").alias("total_delta"),
        F.sum("notability_hit").alias("notability_hits"),
        F.sum("volatile_hit").alias("volatile_hits"),
    )


def q_delete_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    rc = rc_events(spark, sf_dir)
    return rc.filter(
        (F.col("log_type") == "log") & (F.col("log_action") == "delete")
    ).select(
        "seq", classify.delete_target(F.col("log_action_comment")).alias("target")
    )


from ..streaming.joins import PROTECT_WINDOW_HOURS
from ..streaming.windows import SESSION_GAP_HOURS


def q_windowed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1-hour windows over the classified edit stream
    (SURVEY.md §2.7 'free when we add event-time variants'). Batch form of
    the watermarked streaming aggregation in streaming/windows.py — the
    two are equivalence-tested in tests/test_streaming.py."""
    from ..streaming.windows import windowed_activity_agg

    rc = rc_events(spark, sf_dir)
    return windowed_activity_agg(classified_edit_events(rc))


def q_session_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page session windows (12h inactivity gap) via session_window —
    the dynamic-gap groupBy the reference's cumulative state never had.
    Shares its spec with the watermarked streaming form
    (streaming/windows.session_activity_stream)."""
    from ..streaming.windows import session_activity_agg

    rc = rc_events(spark, sf_dir)
    return session_activity_agg(classified_edit_events(rc).select("id", "ts"))


def q_protect_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (batch twin of the stream-stream join in
    streaming/joins.py): edits to protects on the same page within 12h."""
    from ..streaming.joins import edit_protect_pairs_batch

    return edit_protect_pairs_batch(rc_events(spark, sf_dir))


_LIFECYCLE_COLS = [
    "id", "wiki", "title", "edits", "anonEdits", "isNew", "notabilityFlags",
    "volatileFlags", "reverts", "bytesChanged", "n_contributors", "n_anons",
    "max_user_edits", "total_user_edits", "isProtected",
]


def _lifecycle_select(df: DataFrame) -> DataFrame:
    return df.select(
        *_LIFECYCLE_COLS[:9],
        F.unix_micros("start").alias("start_us"),
        F.unix_micros("updated").alias("updated_us"),
        *_LIFECYCLE_COLS[9:],
    )


def q_page_state_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative (window/join) lifecycle formulation."""
    rc = rc_events(spark, sf_dir)
    return _lifecycle_select(lifecycle.page_state_lifecycle(rc))


def q_lifecycle_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ordered replay via applyInPandas over closed page groups.
    Checked against the SAME oracle as the declarative formulation — the
    two implementations and DuckDB must three-way agree.

    Group key: the derivation ties each move target 1:1 to its source page
    number ('Page_N' -> 'Moved_N'), so wiki + N closes the move graph."""
    from ..operators.derive import move_closed_group

    rc = rc_events(spark, sf_dir)
    return _lifecycle_select(lifecycle.replay_lifecycle(rc, move_closed_group()))


def q_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING engine end-to-end: rc events replayed as a Structured
    Streaming source -> applyInPandasWithState changelog (SURVEY.md §7
    step 5) -> final-state collapse. Checked against the same oracle as
    both batch lifecycle formulations — a four-way agreement (declarative
    batch, exact batch replay, streaming, DuckDB)."""
    import os

    from ..operators.derive import move_closed_group
    from ..sources.replay import rc_event_stream
    from ..streaming import processor
    from ..streaming.sizing import drain

    cl = processor.page_state_changelog(
        rc_event_stream(spark, sf_dir), move_closed_group()
    )
    # sized from the events FILE (not sf_dir, which holds every table).
    # python_heavy: the page-state fold's per-row pandas cost dominates
    # (A/B in streaming/sizing.py).
    changelog = drain(
        cl, os.path.join(sf_dir, "events.parquet"), "update",
        python_heavy=True,
    )
    return _lifecycle_select(processor.final_state(changelog))


#: SpaceSaving capacity for the gated streaming heavy-hitter query —
#: far above the distinct titles per wiki at every test SF, so the
#: summary is EXACT (err = 0) and shares a plain top-k oracle; the
#: bounded-capacity approximation path is pinned separately in
#: tests/test_heavyhitters.py
HH_CAPACITY = 32_768
HH_TOPK = 3


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-3 (HH_TOPK) pages per wiki by raw event count via
    the per-key SpaceSaving summary (streaming/heavyhitters.py),
    replayed with availableNow and collapsed to each wiki's latest
    summary. At HH_CAPACITY >= distinct titles the summary is exact, so
    this checks against the same DuckDB oracle a batch GROUP BY +
    row_number would — the wt_stream_replay agreement pattern for the
    frequency family."""
    import os

    from ..sources.replay import rc_event_stream
    from ..streaming import heavyhitters as hh
    from ..streaming.sizing import drain

    stream = rc_event_stream(spark, sf_dir).select(
        F.col("wiki").alias("key"), F.col("title").alias("item")
    )
    # Default target, NOT python_heavy: the SpaceSaving counter fold is
    # light per row (interleaved A/B in streaming/sizing.py: 2.67 s at
    # the derived count vs 3.57 at 16).
    emissions = drain(
        hh.heavy_hitter_stream(stream, HH_CAPACITY),
        os.path.join(sf_dir, "events.parquet"), "update",
    )
    return hh.final_topk(emissions, HH_TOPK).select(
        F.col("key").alias("wiki"),
        F.col("item").alias("title"),
        F.col("est").alias("n_events"),
        F.col("rnk"),
    )


def q_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time exact dedup end-to-end (r05 ask #5): the
    events table replayed as TWO ordered micro-batches — the full table,
    then a deterministic ~14% re-emission (streaming/dedup.py
    INGEST_DUP_MOD) — through streaming ``dropDuplicates`` on event_id
    into a memory sink, then a batch survivor aggregate. The oracle is a
    plain GROUP BY over the source table: dedup must collapse the
    injected duplicates back to exactly one survivor per event_id, and
    the cross-micro-batch state is what's exercised (batch 2's dupes
    arrive after batch 1's state is committed)."""
    import shutil
    import tempfile

    from ..streaming.dedup import ingest_dedup_to_memory

    work = tempfile.mkdtemp(prefix="wt_ingest_dedup_")
    try:
        survivors = ingest_dedup_to_memory(spark, sf_dir, work)
    finally:
        # survivors are materialized off the memory sink (sizing.drain);
        # the replay chunks on disk are dead weight — reclaim them even
        # on failure
        shutil.rmtree(work, ignore_errors=True)
    return (
        survivors.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("sum_ids"),
        )
        .orderBy("event_type")
    )


def q_ingest_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION ingest dedup end-to-end (r07 ask #4): the
    watermark-bounded ``dropDuplicatesWithinWatermark`` variant, whose
    state is reclaimed at the event-time horizon instead of growing with
    distinct keys forever. The replay
    (streaming/dedup.replay_events_with_late_dupes) re-emits the mod-7
    events at max_ts AFTER a sentinel batch lets the engine evict
    expired state, so exactly the dupes whose originals fell more than
    2*horizon before max_ts are re-admitted — deterministic survivors
    the oracle states as a pure filter (``ts <= max_ts - 2H - guard``).
    Unlike wt_ingest_dedup (whose oracle is "the source table, dupes
    all collapsed"), this one's oracle carries the DECLARED
    tail-duplicate loss of bounded state."""
    import shutil
    import tempfile

    from ..streaming.dedup import ingest_dedup_watermark_to_memory

    work = tempfile.mkdtemp(prefix="wt_ingest_wm_")
    try:
        survivors = ingest_dedup_watermark_to_memory(spark, sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        survivors.filter(F.col("event_id") >= 0)  # drop the sentinel
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_ids"),
        )
        .orderBy("event_type")
    )


_DIFF_COLS = ["edits", "anonEdits", "reverts", "bytesChanged"]


def q_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: page_state at the stream quarter-point (seq <=
    max(seq) div 4 — integer division, pinned identically in the
    oracle; the quarter cut leaves late-created pages on the far side,
    so the 'added' branch is exercised on driver data — at div 2 every
    page already existed) full-outer-joined with the final state, emitting every page
    whose scalar state changed ('added' when absent early, 'changed'
    otherwise; 'removed' is structurally impossible for the pure
    accumulation but handled for the lifecycle variant). The
    incremental-view-maintenance primitive: what a downstream consumer
    must re-read after the second half of the stream.

    Scale shape: two runs of the same two-level aggregation plus one
    full-outer join on the page key — the diff never materializes
    unchanged rows downstream."""
    return state_diff(rc_events(spark, sf_dir))


def state_diff(rc: DataFrame, divisor: int = 4) -> DataFrame:
    """Core of q_state_diff over any rc relation (hand-computed change
    matrix covered in tests/test_reference_parity.py). A non-default
    ``divisor`` must pair with ``sqlgen.state_diff_oracle(divisor)`` —
    the registered query/oracle pair uses the shared default."""
    # Round 16 (guide §2.4): ONE branch-conditional aggregation pass.
    # The previous form ran page_state twice (early + full) and
    # full-outer-joined the snapshots — 2 event-set scans, 4 exchanges,
    # 1 join — but every _DIFF_COLS metric is an EVENT-level sum (no
    # per-user level needed), and the early events are a subset of the
    # full set, so both snapshots fall out of one groupBy(id) with
    # early-conditional twins of each aggregate (the lifecycle
    # branch-tagging move). Early-presence is an early-event count;
    # 'removed' stays structurally impossible (full ⊇ early).
    #
    # Equivalence with the two-pass form, aggregate by aggregate: each
    # early twin wraps the SAME per-event term in F.when(early, ...)
    # with no otherwise — non-early rows contribute NULL (ignored by
    # SUM), early rows contribute the identical 0/1/delta term, and a
    # page with no early rows yields NULL exactly where the full-outer
    # join yielded NULL. Sum-of-sums == sum makes the dropped per-user
    # level exact for these integer aggregates.
    mid = rc.agg(
        F.expr(f"CAST(max(seq) AS BIGINT) DIV {divisor}").alias("mid")
    )
    e = classified_edit_events(rc).crossJoin(F.broadcast(mid))
    early = F.col("seq") <= F.col("mid")
    # per-event terms, verbatim from page_state's level-1 aggregates
    terms = {
        "edits": F.when(F.col("eligible"), 1).otherwise(0),
        "anonEdits": F.when(
            F.col("eligible") & F.col("is_anon"), 1
        ).otherwise(0),
        "reverts": F.when(F.col("is_revert"), 1).otherwise(0),
        "bytesChanged": F.when(
            F.col("is_revert") | ~F.col("is_bot"), F.col("delta")
        ).otherwise(0),
    }
    aggs = [F.sum(F.when(early, 1).otherwise(0)).alias("_n_early")]
    for c, term in terms.items():
        aggs.append(F.sum(term).alias(f"{c}_full"))
        aggs.append(F.sum(F.when(early, term)).alias(f"{c}_early"))
    j = e.groupBy("id").agg(*aggs)
    # NULL-SAFE equality (eqNullSafe / IS NOT DISTINCT FROM in the
    # oracle): a metric that is NULL in both snapshots (e.g.
    # bytesChanged from events without lengths) is UNCHANGED, not
    # 'changed' on one engine and dropped on the other
    same = None
    for c in _DIFF_COLS:
        eq = F.col(f"{c}_early").eqNullSafe(F.col(f"{c}_full"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("_n_early") == 0, F.lit("added"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    zero = F.lit(0).cast("long")
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type") != "unchanged")
        .select(
            "id",
            "change_type",
            F.coalesce("edits_early", zero).alias("edits_early"),
            F.coalesce("edits_full", zero).alias("edits_full"),
            (
                F.coalesce("bytesChanged_full", zero)
                - F.coalesce("bytesChanged_early", zero)
            ).alias("bytes_delta"),
        )
    )


MARKOV_TOPK = 25
PAGERANK_TOPK = 20


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 page-to-page edit transitions with their Markov row
    context (operators/graph.py — the clickstream layer the reference's
    per-page counters never see). Probability src->dst is the rational
    pair (w, out_w); no float crosses the oracle boundary."""
    ev = classified_edit_events(rc_events(spark, sf_dir))
    return graph.markov_top_transitions(graph.edit_transitions(ev),
                                        k=MARKOV_TOPK)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pages by fixed-point integer PageRank (5 synchronous
    iterations) over the edit-transition graph — iterative graph
    centrality as a driver-gated query. The DuckDB twin unrolls the
    exact iteration count as chained CTE stages; every quantity is
    BIGINT, so the match is bit-exact (see operators/graph.py for the
    determinism and overflow analysis)."""
    ev = classified_edit_events(rc_events(spark, sf_dir))
    return graph.pagerank_topk(graph.edit_transitions(ev),
                               k=PAGERANK_TOPK)


def q_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING trending report end-to-end: the events replay runs
    through the watermarked per-(hour-window, page) aggregation (append
    mode — each window emits exactly once, when the watermark closes
    it), with two far-future sentinel batches forcing every real window
    to finalize (the measured one-batch eviction lag, same pin as
    wt_ingest_dedup_watermark); the finalized relation is then ranked
    top-3 per window. This is the reference's periodic trending render
    (examples/index.js:19,71) recast as an exactly-once event-time
    stream instead of a wall-clock poll — and unlike the equivalence
    tests' slack-bounded assertions, the sentinel construction makes
    the emitted set EXACTLY the batch relation, so it driver-gates."""
    from pyspark.sql import Window

    from ..streaming.windows import TRENDING_TOPK, trending_replay_to_memory

    survivors, cut_us = trending_replay_to_memory(spark, sf_dir)
    real = survivors.filter(F.col("window_start_us") < cut_us)
    w = Window.partitionBy("window_start_us").orderBy(
        F.desc("n_events"), F.asc("id")
    )
    return (
        real.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TRENDING_TOPK)
        .select("window_start_us", "id", "n_events", "rank")
    )


REVERT_CHAIN_TOPK = 15


def q_revert_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-revert chain per page (gaps-and-islands over
    the page's EDIT SEQUENCE — position-based, so the synthetic data's
    regular calendar spacing can't degenerate it the way hour-based
    streaks would): a chain of k reverts with no intervening normal
    edit is the sustained-conflict signature one step past
    wt_edit_wars' pairwise flips. Per page: longest chain, number of
    chains of length >= 2, total reverts; top-15 by (longest desc,
    chains desc, id asc).

    Scale shape: two windows per page partition (sequence position,
    then revert position — both bounded by a page's own history), one
    (id, grp) hash-agg, one per-id hash-agg, TakeOrderedAndProject."""
    from pyspark.sql import Window

    ev = classified_edit_events(rc_events(spark, sf_dir))
    w = Window.partitionBy("id").orderBy("ts", "seq")
    wr = Window.partitionBy("id").orderBy("rn")
    chains = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("is_revert"))
        .withColumn("rr", F.row_number().over(wr))
        .groupBy("id", (F.col("rn") - F.col("rr")).alias("grp"))
        .agg(F.count(F.lit(1)).alias("chain_len"))
    )
    agg = chains.groupBy("id").agg(
        F.max("chain_len").alias("max_chain"),
        F.sum(F.when(F.col("chain_len") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_chains"),
        F.sum("chain_len").alias("n_reverts"),
    )
    top = agg.orderBy(
        F.desc("max_chain"), F.desc("n_chains"), F.asc("id")
    ).limit(REVERT_CHAIN_TOPK)
    w2 = Window.orderBy(F.desc("max_chain"), F.desc("n_chains"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w2).cast("int"))


EDIT_WAR_TOPK = 15


def q_edit_wars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-war detector: pages ranked by ADJACENT edit pairs where the
    editor changed AND at least one side is a revert — the
    back-and-forth signature the reference's volatility flag (F7) only
    approximates by comment keywords. Per page: war pairs, total edits,
    reverts; top-15 by (war_pairs desc, id asc).

    Scale shape: one lag window partitioned by page id (payload bounded
    by a page's own edit history — the edit_transitions shape on the
    other axis), one hash-agg per id, TakeOrderedAndProject cut."""
    from pyspark.sql import Window

    ev = classified_edit_events(rc_events(spark, sf_dir))
    w = Window.partitionBy("id").orderBy("ts", "seq")
    seq = ev.select(
        "id", "ts", "seq", "user", "is_revert",
        F.lag("user").over(w).alias("prev_user"),
        F.lag("is_revert").over(w).alias("prev_revert"),
    )
    flagged = seq.select(
        "id",
        "is_revert",
        (
            F.col("prev_user").isNotNull()
            & (F.col("prev_user") != F.col("user"))
            & (F.col("is_revert") | F.col("prev_revert"))
        ).cast("int").alias("is_war_pair"),
    )
    agg = flagged.groupBy("id").agg(
        F.sum("is_war_pair").alias("war_pairs"),
        F.count(F.lit(1)).alias("n_edits"),
        F.sum(F.col("is_revert").cast("int")).alias("n_reverts"),
    )
    top = agg.orderBy(F.desc("war_pairs"), F.asc("id")).limit(EDIT_WAR_TOPK)
    w2 = Window.orderBy(F.desc("war_pairs"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w2).cast("int"))


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 transition-graph pages by total degree with per-direction
    degree and weight (operators/graph.degree_topk) — the degree layer
    of the centrality report next to wt_pagerank (mass) and
    wt_markov_transitions (hot edges)."""
    ev = classified_edit_events(rc_events(spark, sf_dir))
    return graph.degree_topk(graph.edit_transitions(ev))


def q_coedit_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 co-edit triangles by total edge weight
    (operators/graph.coedit_triangles): degree-ordered triangle
    enumeration over the cap-bounded co-edit pair graph — the
    community-structure probe one hop past wt_coedit_pairs. The
    orientation bounds per-node wedge fanout at O(sqrt(m)) no matter
    how hot a page is; the DuckDB twin replicates orientation, wedge
    join, and closure exactly."""
    ev = classified_edit_events(rc_events(spark, sf_dir))
    return graph.coedit_triangles(ev)


def q_coedit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 co-edited page pairs by shared human editors — the
    market-basket co-occurrence layer over the same classified edit
    relation the transition graph reads (operators/graph.coedit_pairs:
    per-user cap on most-edited pages bounds pair fanout at C(cap, 2)
    per user at any scale)."""
    ev = classified_edit_events(rc_events(spark, sf_dir))
    return graph.coedit_pairs(ev)


QUERIES = {
    "wt_page_state": q_page_state,
    "wt_most_edited": q_most_edited,
    "wt_biggest_movers": q_biggest_movers,
    "wt_most_vibrant": q_most_vibrant,
    "wt_top_pages_per_wiki": q_top_pages_per_wiki,
    "wt_purge_survivors": q_purge_survivors,
    "wt_epm_variants": q_epm_variants,
    "wt_purge_safe_list": q_purge_safe_list,
    "wt_classify_counts": q_classify_counts,
    "wt_windowed_activity": q_windowed_activity,
    "wt_session_activity": q_session_activity,
    "wt_delete_targets": q_delete_targets,
    "wt_protect_followups": q_protect_followups,
    "wt_page_state_lifecycle": q_page_state_lifecycle,
    "wt_lifecycle_replay": q_lifecycle_replay,
    "wt_stream_replay": q_stream_replay,
    "wt_stream_heavy_hitters": q_stream_heavy_hitters,
    "wt_state_diff": q_state_diff,
    "wt_ingest_dedup": q_ingest_dedup,
    "wt_ingest_dedup_watermark": q_ingest_dedup_watermark,
    "wt_markov_transitions": q_markov_transitions,
    "wt_pagerank": q_pagerank,
    "wt_coedit_pairs": q_coedit_pairs,
    "wt_graph_degrees": q_graph_degrees,
    "wt_edit_wars": q_edit_wars,
    "wt_stream_trending": q_stream_trending,
    "wt_revert_chains": q_revert_chains,
    "wt_coedit_triangles": q_coedit_triangles,
}

ORACLES = {
    "wt_page_state": sqlgen.page_state_oracle(),
    "wt_most_edited": sqlgen.q1_oracle(),
    "wt_biggest_movers": sqlgen.q2_oracle(),
    "wt_most_vibrant": sqlgen.q3_oracle(),
    "wt_top_pages_per_wiki": sqlgen.topk_per_wiki_oracle(TOPK_PER_WIKI),
    "wt_purge_survivors": sqlgen.purge_oracle(**PURGE_PARAMS),
    "wt_epm_variants": sqlgen.epm_variants_oracle(),
    "wt_purge_safe_list": sqlgen.purge_safe_list_oracle(**PURGE_PARAMS),
    "wt_classify_counts": sqlgen.classify_counts_oracle(),
    "wt_windowed_activity": sqlgen.windowed_activity_oracle(),
    "wt_session_activity": sqlgen.session_activity_oracle(SESSION_GAP_HOURS),
    "wt_delete_targets": sqlgen.delete_targets_oracle(),
    "wt_protect_followups": sqlgen.protect_followups_oracle(PROTECT_WINDOW_HOURS),
    "wt_page_state_lifecycle": sqlgen.lifecycle_oracle(),
    "wt_lifecycle_replay": sqlgen.lifecycle_oracle(),
    "wt_stream_replay": sqlgen.lifecycle_oracle(),
    "wt_stream_heavy_hitters": sqlgen.heavy_hitters_oracle(HH_TOPK),
    "wt_state_diff": sqlgen.state_diff_oracle(),
    "wt_ingest_dedup": sqlgen.ingest_dedup_oracle(),
    "wt_ingest_dedup_watermark": sqlgen.ingest_dedup_watermark_oracle(),
    "wt_markov_transitions": sqlgen.markov_transitions_oracle(MARKOV_TOPK),
    "wt_coedit_pairs": sqlgen.coedit_pairs_oracle(
        cap=graph.COEDIT_CAP, k=graph.COEDIT_TOPK
    ),
    "wt_graph_degrees": sqlgen.degree_topk_oracle(graph.DEGREE_TOPK),
    "wt_edit_wars": sqlgen.edit_wars_oracle(EDIT_WAR_TOPK),
    "wt_stream_trending": sqlgen.stream_trending_oracle(3),
    "wt_revert_chains": sqlgen.revert_chains_oracle(REVERT_CHAIN_TOPK),
    "wt_coedit_triangles": sqlgen.coedit_triangles_oracle(
        cap=graph.COEDIT_CAP, min_w=graph.TRIANGLE_MIN_W,
        k=graph.TRIANGLE_TOPK,
    ),
    # constants come FROM the operator module so the Spark loop and the
    # unrolled oracle stages cannot drift
    "wt_pagerank": sqlgen.pagerank_oracle(
        iters=graph.PAGERANK_ITERS, k=PAGERANK_TOPK, scale=graph.SCALE,
        teleport=graph.TELEPORT, damp_num=graph.DAMP_NUM,
        damp_den=graph.DAMP_DEN,
    ),
}
