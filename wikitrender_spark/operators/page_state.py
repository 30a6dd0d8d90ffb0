"""Batch keyed aggregation A1-A3 (SURVEY.md §2.3): rc edit events ->
page_state rows (reference updateFromRCStream,
/root/reference/index.js:174-273, in aggregation form).

Scale design: a two-level aggregation —
  level 1: groupBy(id, user) computes per-editor counts (the
           `distribution` entries) AND partial per-page sums;
  level 2: groupBy(id) merges partials and folds editor rows into the
           distribution map / contributor sets.
Both levels are hash aggregations with map-side partial combine; the second
shuffle moves one row per (page, editor), not one per event. No Python
UDFs — the whole plan stays inside whole-stage codegen. At 100 TB the only
wide exchanges are the two hash-partitionings, both AQE-coalesced and
skew-safe (hot pages split by AQE skew handling; the level-1 pre-agg
already collapses per-editor duplicates before the wide row hits level 2).

Accumulation semantics (exact, from /root/reference/index.js:241-273):
- edits++        : non-revert AND non-bot
- reverts++      : revert (bots included, test/tests.js:111-122)
- bytesChanged  += length.new - length.old : reverts (any) OR non-bot edits
- isNew         |= (type == 'new')         : ANY edit event (even bot/revert)
- notability/volatileFlags += comment hits : ANY edit event (updateFromComment
                                             is unconditional, index.js:264)
- anonEdits++ / contributors / anons / distribution : non-bot AND non-revert
                                             only (index.js:266-268)
- start = first-seen ts, updated = last event ts (any edit event creates the
  page via getPage, index.js:241,443)
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import classify, metrics


@functools.lru_cache(maxsize=1)
def _classified_select(sc) -> tuple[Column | str, ...]:
    """The classifier projection's select list, built once per
    SparkContext (``sc`` is only the cache key): rebuilding its Columns
    on every call measured 0.5-1.1 s per classified_edit_events build
    (sf0.01, 4 cores), built once 28-52 ms, and ~25 headline queries
    build it. Columns are unresolved expressions, so one list serves
    every plan of the context."""
    bot = classify.is_bot_edit(F.col("bot"), F.col("user"))
    revert = classify.is_revert(F.col("comment"))
    return (
        classify.page_id(F.col("wiki"), F.col("title")).alias("id"),
        classify.wiki_norm(F.col("wiki")).alias("wiki"),
        "title",
        "user",
        "ts",
        "seq",
        revert.alias("is_revert"),
        bot.alias("is_bot"),
        (~bot & ~revert).alias("eligible"),
        classify.is_ip(F.col("user")).alias("is_anon"),
        (F.col("type") == "new").alias("is_new"),
        classify.notability_hit(F.col("comment")).alias("notability_hit"),
        classify.volatile_hit(F.col("comment")).alias("volatile_hit"),
        classify.bytes_changed(F.col("length_new"), F.col("length_old")).alias(
            "delta"
        ),
    )


def classified_edit_events(rc: DataFrame) -> DataFrame:
    """Edit-branch events (log_type IS NULL) with derived flag columns —
    the F4 router plus F5-F10 classifiers as one narrow projection."""
    return rc.filter(F.col("log_type").isNull()).select(
        *_classified_select(rc.sparkSession.sparkContext)
    )


def page_state(rc: DataFrame, with_collections: bool = True) -> DataFrame:
    """Aggregate rc edit events into page_state (FIXTURES.md A2).

    with_collections=False skips the array/map columns (contributors,
    anons, distribution) and emits scalar count columns instead — the
    oracle-facing shape (`n_contributors`, `n_anons`, `max_user_edits`,
    `total_user_edits`).
    """
    return aggregate_classified(classified_edit_events(rc), with_collections)


def aggregate_classified(e: DataFrame, with_collections: bool = True,
                         with_first_seq: bool = False,
                         extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """The two-level aggregation over an (optionally pre-windowed) set of
    classified edit events — see module docstring for semantics.

    wiki/title ride along in the GROUPING KEY (id determines both, 1:1 by
    construction): string MIN/MAX aggregates have var-length buffers and
    would force SortAggregate; keeping every aggregate fixed-width keeps
    both levels HashAggregate with map-side partial combine.

    with_first_seq adds a `first_edit_seq` column (min event seq per page)
    as one more fixed-width aggregate — the lifecycle operator needs it,
    and folding it in here avoids a separate groupBy + join over a second
    scan of the event set.

    extra_keys prepends caller-provided grouping columns to BOTH levels —
    the lifecycle operator tags each event with its lifetime branch and
    aggregates every branch in one pass over the event set instead of one
    scan + aggregation per branch (round 16; the partition-key extension
    is the same move as tx_pack_sharded's shard key)."""
    # level 1: per (page, editor)
    lvl1 = e.groupBy(*extra_keys, "id", "wiki", "title", "user").agg(
        *([F.min("seq").alias("p_min_seq")] if with_first_seq else []),
        F.sum(F.when(F.col("eligible"), 1).otherwise(0)).alias("user_edits"),
        F.max("is_anon").alias("is_anon"),
        F.sum(F.when(F.col("eligible") & F.col("is_anon"), 1).otherwise(0)).alias(
            "p_anon_edits"
        ),
        F.sum(F.when(F.col("is_revert"), 1).otherwise(0)).alias("p_reverts"),
        F.max("is_new").alias("p_is_new"),
        F.sum("notability_hit").alias("p_notability"),
        F.sum("volatile_hit").alias("p_volatile"),
        F.sum(
            F.when(F.col("is_revert") | ~F.col("is_bot"), F.col("delta")).otherwise(
                0
            )
        ).alias("p_bytes"),
        F.min("ts").alias("p_start"),
        F.max("ts").alias("p_updated"),
    )

    agg_cols = [
        *([F.min("p_min_seq").alias("first_edit_seq")] if with_first_seq else []),
        F.sum("user_edits").alias("edits"),
        F.sum("p_anon_edits").alias("anonEdits"),
        F.max("p_is_new").alias("isNew"),
        F.sum("p_notability").alias("notabilityFlags"),
        F.sum("p_volatile").alias("volatileFlags"),
        F.sum("p_reverts").alias("reverts"),
        F.min("p_start").alias("start"),
        F.max("p_updated").alias("updated"),
        F.sum("p_bytes").alias("bytesChanged"),
        F.max(F.when(F.col("user_edits") > 0, F.col("user_edits"))).alias(
            "max_user_edits"
        ),
        F.sum(F.when(F.col("user_edits") > 0, F.col("user_edits"))).alias(
            "total_user_edits"
        ),
    ]
    if with_collections:
        agg_cols += [
            F.array_sort(
                F.collect_set(
                    F.when(
                        (F.col("user_edits") > 0) & ~F.col("is_anon"), F.col("user")
                    )
                )
            ).alias("contributors"),
            F.array_sort(
                F.collect_set(
                    F.when((F.col("user_edits") > 0) & F.col("is_anon"), F.col("user"))
                )
            ).alias("anons"),
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("user_edits") > 0,
                            F.struct(
                                F.col("user").alias("key"),
                                F.col("user_edits").alias("value"),
                            ),
                        )
                    )
                )
            ).alias("distribution"),
        ]
    else:
        agg_cols += [
            F.count(
                F.when((F.col("user_edits") > 0) & ~F.col("is_anon"), F.col("user"))
            ).alias("n_contributors"),
            F.count(
                F.when((F.col("user_edits") > 0) & F.col("is_anon"), F.col("user"))
            ).alias("n_anons"),
        ]

    return lvl1.groupBy(*extra_keys, "id", "wiki", "title").agg(*agg_cols)


def with_metrics(state: DataFrame, now: Column) -> DataFrame:
    """Project the derived metric columns D1-D4 over a state snapshot.
    `now` is one logical clock per snapshot (SURVEY.md §2.9-1)."""
    age = metrics.age_minutes(now, F.col("start"))
    out = (
        state.withColumn("age_min", age)
        .withColumn(
            "last_updated_min", metrics.last_updated_minutes(now, F.col("updated"))
        )
        .withColumn(
            "edits_per_minute",
            metrics.edits_per_minute(
                F.col("edits"), F.col("reverts"), F.col("anonEdits"), F.col("age_min")
            ),
        )
    )
    if "distribution" in state.columns:
        out = out.withColumn(
            "bias", metrics.bias_from_distribution(F.col("distribution"))
        )
    else:
        out = out.withColumn(
            "bias",
            metrics.bias_from_counts(
                F.col("max_user_edits"), F.col("total_user_edits")
            ),
        )
    return out


def with_snapshot_metrics(state: DataFrame, rc: DataFrame,
                          grace_minutes: int = 60) -> DataFrame:
    """Attach metrics using now = max(rc.ts) + grace (broadcast scalar)."""
    mx = rc.agg(
        (F.max("ts") + F.expr(f"INTERVAL {grace_minutes} MINUTE")).alias("_now")
    )
    joined = state.crossJoin(F.broadcast(mx))
    return with_metrics(joined, F.col("_now")).drop("_now")
