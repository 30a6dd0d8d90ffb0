"""Streaming heavy hitters: a per-key SpaceSaving summary (Metwally et
al. 2005, "Efficient Computation of Frequent and Top-k Elements in Data
Streams") through ``applyInPandasWithState`` — the STREAMING member of
the frequency-sketch family (batch Count-Min lives in
operators/sketches.py).

Why SpaceSaving and not a streamed CMS: CMS answers point queries but
cannot enumerate the heavy hitters without a candidate set; SpaceSaving
maintains the candidates themselves in O(capacity) state with the
classic guarantees — for every tracked item, ``est`` is an UPPER bound
on its true count and ``est - err`` a LOWER bound; any item whose true
count exceeds N/capacity is guaranteed to be tracked. With capacity >=
distinct items per key the summary is EXACT (err = 0 everywhere),
which is what lets the streaming query share a DuckDB oracle with the
batch top-k (the wt_stream_replay four-way-agreement precedent).

Scale shape: state per key is O(capacity), independent of stream
length; the shuffle is one exchange on the key. Each trigger emits the
key's current summary (update semantics) so the latest emission per
key IS the final answer — a production deployment with huge capacities
would emit only the top-(k + slack) per trigger and keep the full
summary in state; the full-summary emission here is what makes the
final collapse exact and oracle-checkable.

Determinism pin: eviction picks the minimum (count, item) entry — the
item tie-break makes replayed streams byte-identical.
"""

from __future__ import annotations

import heapq
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "key string, item string, est long, err long, n_updates long"
)
_STATE_SCHEMA = (
    "items array<string>, counts array<long>, errs array<long>, "
    "n_updates long"
)


def spacesaving_update(
    summary: dict[str, list[int]], items, capacity: int
) -> None:
    """Fold ``items`` into a SpaceSaving ``summary`` {item: [est, err]}
    in place — the pure algorithm, extracted so its invariants are
    hypothesis-testable without a Spark session
    (tests/test_heavyhitters.py).

    Eviction picks the minimum (count, item) entry through a LAZY-
    DELETION HEAP instead of a full min() scan: every count change
    pushes a fresh (count, item) snapshot; a snapshot is stale when the
    item's CURRENT count differs (counts never decrease while tracked,
    and a re-added item's new count strictly exceeds every snapshot
    from its earlier tenure — it was the minimum when evicted and the
    minimum count is monotone — so staleness is a plain inequality).
    Because every live item's latest snapshot is on the heap, the first
    live entry popped IS argmin (count, item) — the same entry the scan
    chose, so est/err trajectories are byte-identical. Cost per
    eviction drops from O(capacity) to amortized O(log capacity): at
    the sf1 probe's regime (15k distinct per key, capacity 1024 —
    eviction on nearly every arrival) the pure fold over 1M rows
    measured 135 s with the scan and 1.9 s with the heap (71x, the
    BASELINE.md round-7 figure; list-not-Series iteration included)."""
    heap: list[tuple[int, str]] = [(v[0], k) for k, v in summary.items()]
    heapq.heapify(heap)
    for it in items:
        it = str(it)
        entry = summary.get(it)
        if entry is not None:
            entry[0] += 1
            heapq.heappush(heap, (entry[0], it))
        elif len(summary) < capacity:
            summary[it] = [1, 0]
            heapq.heappush(heap, (1, it))
        else:
            while True:
                c, k = heap[0]
                cur = summary.get(k)
                if cur is not None and cur[0] == c:
                    break
                heapq.heappop(heap)  # stale snapshot
            c, k = heapq.heappop(heap)
            m = summary.pop(k)[0]
            # the newcomer inherits the evicted count as its error
            # bound: est is an upper bound, est - err a lower bound on
            # the true count
            summary[it] = [m + 1, m]
            heapq.heappush(heap, (m + 1, it))
        if len(heap) > 8 * capacity:
            # compact the lazy garbage; amortized O(1) per push
            heap = [(v[0], k2) for k2, v in summary.items()]
            heapq.heapify(heap)


def _mk_process(capacity: int):
    def _process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            items, counts, errs, n_up = state.get
            summary = {i: [c, e] for i, c, e in zip(items, counts, errs)}
        else:
            summary, n_up = {}, 0
        for pdf in pdfs:
            # .tolist(): iterating a raw list is ~3x faster than
            # iterating a pandas Series in the per-item fold
            spacesaving_update(summary, pdf["item"].tolist(), capacity)
        n_up += 1
        ordered = sorted(summary)
        state.update(
            (
                ordered,
                [summary[i][0] for i in ordered],
                [summary[i][1] for i in ordered],
                n_up,
            )
        )
        yield pd.DataFrame(
            [(k, i, summary[i][0], summary[i][1], n_up) for i in ordered],
            columns=["key", "item", "est", "err", "n_updates"],
        )

    return _process


def heavy_hitter_stream(
    items: DataFrame, capacity: int
) -> DataFrame:
    """``items`` (streaming, columns ``key``/``item``) -> update stream
    of per-key SpaceSaving summaries."""
    return items.groupBy("key").applyInPandasWithState(
        _mk_process(capacity),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_topk(emissions: DataFrame, k: int) -> DataFrame:
    """Collapse an emissions table to each key's LATEST summary (max
    n_updates) and rank its top-k by (est desc, item asc)."""
    latest = emissions.withColumn(
        "_mx", F.max("n_updates").over(Window.partitionBy("key"))
    ).filter(F.col("n_updates") == F.col("_mx"))
    w = Window.partitionBy("key").orderBy(F.desc("est"), F.asc("item"))
    return (
        latest.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("key", "item", "est", "err", F.col("rnk").cast("int"))
    )
