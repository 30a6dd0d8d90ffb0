"""Q1-Q3 rankings + purge policy P2 (SURVEY.md §2.5/§2.6).

orderBy(metric).limit(k) compiles to TakeOrderedAndProject — per-partition
partial top-k then a single-partition merge of k*numPartitions rows. No
global sort shuffle, so the cost at 100 TB is one scan + tiny merge.

Sort pin (SURVEY.md §2.6): the reference's JS comparator is an unstable
descending sort with no tiebreak (/root/reference/examples/index.js:22-24);
we pin ORDER BY metric DESC, id ASC for deterministic golden outputs.
Each ordering is defined once (``REPORTS`` + ``_order``): the single-list
functions use it, and so does ``top_k_lists``, the snapshot sink's
three-list report in one job.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

# Reference purge defaults (/root/reference/index.js:110-113).
MAX_LIFESPAN_MIN = 60 * 24
MAX_INACTIVITY_MIN = 60
MIN_SPEED_EPM = 3.0
MIN_PURGE_TIME_MIN = 5.0


#: Q1-Q3 (/root/reference/examples/index.js:20-42): report name and output
#: columns. Each report ranks by its last column, ORDER BY ``_order``.
REPORTS = (
    ("Most edited", ("id", "title", "edits", "edits_per_minute")),
    ("Biggest movers", ("id", "title", "bytesChanged")),
    ("Most vibrant", ("id", "title", "bias")),
)


def _order(metric: str) -> tuple[Column, Column]:
    """The sort pin: ``metric`` DESC (nulls last), then id ASC."""
    return F.desc(metric), F.asc("id")


def _top(state_with_metrics: DataFrame, report: int, k: int) -> DataFrame:
    cols = REPORTS[report][1]
    return (state_with_metrics.select(*cols)
            .orderBy(*_order(cols[-1])).limit(k))


def most_edited(state_with_metrics: DataFrame, k: int = 5) -> DataFrame:
    """Q1 (/root/reference/examples/index.js:20-27)."""
    return _top(state_with_metrics, 0, k)


def biggest_movers(state_with_metrics: DataFrame, k: int = 5) -> DataFrame:
    """Q2 (/root/reference/examples/index.js:28-34)."""
    return _top(state_with_metrics, 1, k)


def most_vibrant(state_with_metrics: DataFrame, k: int = 5) -> DataFrame:
    """Q3 (/root/reference/examples/index.js:36-42)."""
    return _top(state_with_metrics, 2, k)


def top_k_lists(state_with_metrics: DataFrame,
                k: int = 5) -> list[tuple[str, list[Row]]]:
    """Q1-Q3 in ONE job: a row_number per report over an unpartitioned
    window with that report's ORDER BY keeps every row in any top k, and
    the driver splits the lists. Each list equals its single-list
    function's rows, in order. The window needs all rows in one
    partition, so pass a one-partition frame (the snapshot sink's merged
    state is one) or the plan adds a shuffle."""
    cols = list(dict.fromkeys(c for _, rc in REPORTS for c in rc))
    ranks = [F.row_number().over(Window.orderBy(*_order(rc[-1]))).alias(f"_r{i}")
             for i, (_, rc) in enumerate(REPORTS)]
    hit = functools.reduce(
        operator.or_, [F.col(f"_r{i}") <= k for i in range(len(REPORTS))])
    rows = state_with_metrics.select(*cols, *ranks).filter(hit).collect()
    lists = []
    for i, (name, rc) in enumerate(REPORTS):
        make = Row(*rc)
        top = sorted((r for r in rows if r[f"_r{i}"] <= k),
                     key=lambda r, i=i: r[f"_r{i}"])
        lists.append((name, [make(*(r[c] for c in rc)) for r in top]))
    return lists


def purge_survivors(
    state_with_metrics: DataFrame,
    max_lifespan: float = MAX_LIFESPAN_MIN,
    max_inactivity: float = MAX_INACTIVITY_MIN,
    min_speed: float = MIN_SPEED_EPM,
    min_purge_time: float = MIN_PURGE_TIME_MIN,
    safe_col: str | None = None,
) -> DataFrame:
    """P2 eviction predicate (/root/reference/index.js:362-398), applied as
    a filter over a state snapshot: a page SURVIVES unless
      age > min_purge_time AND (
        (not safe AND (epm < min_speed OR inactive > max_inactivity))
        OR age > max_lifespan )
    Note editsPerMinute() is the no-arg call — reverts/anons excluded
    (/root/reference/index.js:374,80-88).
    """
    age = F.col("age_min")
    epm = F.col("edits_per_minute")
    inactive = F.col("last_updated_min")
    safe = F.col(safe_col) if safe_col else F.lit(False)
    purged = (age > min_purge_time) & (
        (~F.coalesce(safe, F.lit(False)) & ((epm < min_speed) | (inactive > max_inactivity)))
        | (age > max_lifespan)
    )
    return state_with_metrics.filter(~purged)
