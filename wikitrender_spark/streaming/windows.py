"""Event-time windowed aggregations over the rc stream (SURVEY.md §2.7:
watermarks / tumbling windows / late-data handling — absent in the
reference, which is processing-time only; free in Structured Streaming).

One aggregation spec shared by the batch query (plans/wikitrender_queries
.q_windowed_activity) and the watermarked streaming form, so
batch–stream equivalence is testable (tests/test_streaming.py).

The distinct-page count makes this a TWO-LEVEL aggregation — streaming
disallows count_distinct, so level 1 groups by (window, id) and level 2
rolls partials up per window; in streaming that is the Spark-4
multiple-stateful-operator chain (second window over window_time of the
first). Batch and stream share both levels, so they agree row-for-row.

Scale notes: bounded state per (window, live page) at level 1, per window
at level 2; the watermark closes windows and evicts their state after
`delay` — the bounded-state guarantee the reference's cumulative map
lacks. Both exchanges are on the window key with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW_DURATION = "1 hour"


def _level1(e: DataFrame) -> DataFrame:
    """(window, id) partials over classified edit events."""
    return e.groupBy(F.window("ts", WINDOW_DURATION), "id").agg(
        F.count(F.lit(1)).alias("p_events"),
        F.sum(F.when(F.col("eligible"), 1).otherwise(0)).alias("p_edits"),
        F.sum(F.col("is_revert").cast("int")).alias("p_reverts"),
        F.sum(
            F.when(F.col("is_revert") | ~F.col("is_bot"), F.col("delta")).otherwise(
                0
            )
        ).alias("p_delta"),
    )


def _rollup(l1_grouped) -> DataFrame:
    out = l1_grouped.agg(
        F.sum("p_events").cast("long").alias("n_events"),
        F.sum("p_edits").cast("long").alias("n_edits"),
        F.sum("p_reverts").cast("long").alias("n_reverts"),
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("p_delta").cast("long").alias("total_delta"),
    )
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        F.unix_micros(F.col("window.end")).alias("window_end_us"),
        "n_events",
        "n_edits",
        "n_reverts",
        "n_pages",
        "total_delta",
    )


def windowed_activity_agg(e: DataFrame) -> DataFrame:
    """Batch form: tumbling 1-hour activity rollup over classified edit
    events (operators/page_state.classified_edit_events shape)."""
    return _rollup(_level1(e).groupBy("window"))


def windowed_activity_stream(
    rc_stream: DataFrame, watermark_delay: str = "2 hours"
) -> DataFrame:
    """Watermarked streaming form: same two levels; level 2 re-windows on
    window_time(level-1 window) so event time propagates through the
    stateful chain. Late events beyond `watermark_delay` are dropped."""
    from ..operators.page_state import classified_edit_events

    e = classified_edit_events(rc_stream).withWatermark("ts", watermark_delay)
    l1 = _level1(e)
    return _rollup(
        l1.groupBy(F.window(F.window_time("window"), WINDOW_DURATION))
    )


SESSION_GAP_HOURS = 12


def session_activity_agg(e: DataFrame, gap_hours: int = SESSION_GAP_HOURS) -> DataFrame:
    """Per-page session windows (dynamic-gap grouping): same spec for the
    batch query and the watermarked stream. A session's state closes (and
    in streaming, is evicted) once the watermark passes last_ts + gap."""
    return (
        e.groupBy(F.session_window("ts", f"{gap_hours} hours"), F.col("id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros("last_ts").alias("last_us"),
            "n_events",
        )
    )


def session_activity_stream(
    rc_stream: DataFrame,
    gap_hours: int = SESSION_GAP_HOURS,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: sessions merge across micro-batches via
    keyed session state; append mode emits each session exactly once,
    when the watermark closes it."""
    from ..operators.page_state import classified_edit_events

    e = (
        classified_edit_events(rc_stream)
        .select("id", "ts")
        .withWatermark("ts", watermark_delay)
    )
    return session_activity_agg(e, gap_hours)


def dedup_events_stream(
    rc_stream: DataFrame, watermark_delay: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop re-delivered events by seq within the
    watermark (dropDuplicatesWithinWatermark). This is the admission
    layer for at-least-once sources — the reference's watchdog rebuilds
    the SSE socket on stall (S3, /root/reference/index.js:349-356) and
    can re-receive events; state is bounded by the watermark horizon
    rather than growing with the whole stream."""
    return rc_stream.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["seq"]
    )


#: per-window trending cut for the streaming trending query.
TRENDING_TOPK = 3
#: far-future shift for the finalization sentinels (must exceed every
#: real window end + the watermark delay by a wide margin).
TRENDING_SENTINEL_DAYS = 30


def trending_replay_to_memory(spark, sf_dir: str, n_chunks: int = 2):
    """Replay the events table as ordered micro-batches through the
    WATERMARKED per-(hour-window, page) streaming aggregation
    (sizing.drain, append mode), with TWO far-future sentinel batches
    appended so the watermark finalizes EVERY real window (append mode
    emits a window only once the watermark passes it, and state
    eviction lags the watermark by one batch — the measured semantics
    the ingest-dedup replay pinned; the second sentinel batch is the
    boundary at which the jumped watermark actually sweeps). Returns (survivors DataFrame, sentinel_cut_us):
    survivors hold every REAL window exactly once; rows at or beyond
    sentinel_cut_us are the sentinels' own (never-finalized or
    irrelevant) windows and must be filtered by the caller. The ordered
    chunks live in a temp dir of this call only."""
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from ..operators.derive import read_events_raw
    from ..operators.page_state import classified_edit_events
    from ..sources.replay import (
        EVENTS_SCHEMA,
        _derive,
        read_ordered_chunks,
        write_ordered_chunks,
    )
    from .sizing import drain

    src = read_events_raw(spark, sf_dir).withColumn(
        "_rn", F.row_number().over(W.orderBy("ts", "event_id")) - 1
    )
    n_rows = src.count()
    max_us = src.agg(F.max(F.unix_micros("ts"))).first()[0]
    cut_us = max_us + 24 * 3600 * 1_000_000
    step = max(1, (n_rows + n_chunks - 1) // n_chunks)
    shift_us = TRENDING_SENTINEL_DAYS * 24 * 3600 * 1_000_000
    # the sentinel must SURVIVE the rc derivation filter or it never
    # reaches the watermarked operator and the watermark never jumps
    # (measured: the raw max-ts row passes the F1-F3 filters at
    # sf0.001 but not sf0.01 — the last delay-window hours then
    # silently never finalize). Pick the latest row the derivation
    # provably keeps.
    from ..operators.derive import rc_events

    # ... and the watermark operator sits downstream of
    # classified_edit_events' log-branch filter too (ADVICE r8):
    # rc_events still carries log rows, and if the latest rc row
    # were a log row both sentinel batches would be dropped BEFORE
    # the EventTimeWatermark node — the watermark would never jump
    # and the trailing delay-window hours would silently never
    # finalize. Pick the latest EDIT-branch row so the sentinel
    # provably survives every filter upstream of the watermark.
    keep_id = (
        rc_events(spark, sf_dir)
        .filter(F.col("log_type").isNull())
        .orderBy(F.desc("ts"), F.desc("seq"))
        .select("seq")
        .first()[0]
    )
    sentinel = (
        src.filter(F.col("event_id") == keep_id).drop("_rn")
        .withColumn(
            "ts",
            F.timestamp_micros(F.unix_micros("ts") + F.lit(shift_us)),
        )
    )
    chunk_dir = tempfile.mkdtemp(prefix="wt_trend_chunks_")
    try:
        parts = [
            src.filter(
                (F.col("_rn") >= i * step) & (F.col("_rn") < (i + 1) * step)
            ).drop("_rn")
            for i in range(n_chunks)
        ]
        write_ordered_chunks((*parts, sentinel, sentinel), chunk_dir)
        raw = read_ordered_chunks(spark, EVENTS_SCHEMA, chunk_dir)
        e = classified_edit_events(_derive(spark, raw)).withWatermark(
            "ts", "2 hours"
        )
        counts = (
            e.groupBy(F.window("ts", WINDOW_DURATION), "id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "id",
                "n_events",
            )
        )
        # drain materializes its result, so the chunks can go now
        return drain(counts, chunk_dir, "append"), cut_us
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
