"""transformWithStateInPandas variant of the keyed stateful processor
(the Spark-4 arbitrary-state API, SURVEY.md §1.1/§2.3 'preferred' form).

Same classified input (lifecycle.fold_events), same micro-batch step
(fold.fold), same changelog contract and state blob as processor.py
(applyInPandasWithState) — the two implementations are
equivalence-tested in tests/test_streaming.py, so the engine can run on
either API. This is the migration target because transformWithState
adds, beyond what the fold uses today: multiple named state variables,
state TTL, and processing-time/event-time timers — the natural home for
a wall-clock P2 cleaner (reference's 20 s setInterval,
/root/reference/index.js:399-400) in a live deployment, where today's
deterministic variant purges at micro-batch boundaries.

Requires the RocksDB state-store provider (set by run helpers/tests via
spark.sql.streaming.stateStore.providerClass) and the google.protobuf
package (the TWS Python worker speaks a protobuf state protocol; absent
in this container, so the equivalence test import-skips and the default
engine path stays on applyInPandasWithState, which has no such
dependency).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ..operators.lifecycle import fold_events
from . import fold
from .processor import _STATE_SCHEMA, CHANGELOG_SCHEMA, _changelog_rows

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class PageStateProcessor(StatefulProcessor):
    """Two cleaner modes (P1/P2, /root/reference/index.js:362-400):

    - ``cleaner_interval_ms=None`` (default): DETERMINISTIC batch-
      boundary purge — P2 runs inside handleInputRows at each micro-
      batch with now = the key's event-time clock. Replay-stable; what
      the oracle-gated queries and the equivalence tests use.
    - ``cleaner_interval_ms=N``: WALL-CLOCK cleaner — the reference's
      20 s ``setInterval(cleaner)`` (index.js:399-400) in its Spark-4
      home, processing-time timers. handleInputRows only folds and arms
      a timer IF NONE IS PENDING (arming unconditionally would debounce
      the sweep away for steadily-fed keys); the sweep runs in
      handleExpiredTimer, which purges, emits tombstones, and re-arms
      (the framework deletes the expired timer after the callback) — so
      both quiet and busy keys are swept every interval, exactly like
      the event-loop setInterval. Clock pin §2.9-1 still holds: WALL time schedules WHEN
      the sweep runs, EVENT time decides WHAT is old (the purge's `now`
      is the key's persisted event-time clock, so a sweep never evicts
      more than a batch-boundary purge at the same clock would).
    """

    def __init__(self, purge: fold.PurgeParams | None = None,
                 cleaner_interval_ms: int | None = None):
        self._purge = purge
        self._interval = cleaner_interval_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("fold", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        existing = self._state.get() if self._state.exists() else None
        titles = fold.deserialize_titles(existing[0]) if existing else {}
        clock = existing[1] if existing else 0
        ver = (existing[2] if existing else 0) + 1

        # deterministic mode purges at the batch boundary; wall-clock
        # mode defers P2 to the timer sweep
        changed, removed, clock = fold.fold(
            titles, rows, clock,
            self._purge if self._interval is None else None,
        )
        if self._interval is not None and self._purge is not None:
            # Arm ONLY when no timer is pending — re-arming on every batch
            # would turn the fixed-period setInterval into an idle-debounce
            # that a steadily-fed key postpones forever (r07 review
            # finding). listTimers() is materialized before any mutation
            # (it is a lazy JVM-backed iterator).
            if not list(self._handle.listTimers()):
                self._handle.registerTimer(
                    timer_values.getCurrentProcessingTimeInMs()
                    + self._interval
                )

        # ver stays monotone for the group's lifetime (see processor.py)
        self._state.update((fold.serialize_titles(titles), clock, ver))

        out = _changelog_rows(titles, changed, removed, clock, ver)
        if len(out):
            yield out

    def handleExpiredTimer(
        self, key, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        """The periodic sweep: purge with now = the key's persisted
        event-time clock, emit tombstones for evictions, re-arm (the
        framework auto-deletes the expired timer after this callback, so
        the re-registration is what makes the sweep periodic).

        Parameter names MUST be ``timerValues`` / ``expiredTimerInfo``:
        PySpark invokes this callback with KEYWORD arguments
        (stateful_processor_util's handleExpiredTimer(key=...,
        timerValues=..., expiredTimerInfo=...)), so snake_case names
        crash every real expiry with an unexpected-keyword TypeError —
        the r07 review caught this; test_tws_wall_clock_cleaner_inprocess
        now calls with keywords to pin it."""
        if self._interval is not None and self._purge is not None:
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + self._interval
            )
        existing = self._state.get() if self._state.exists() else None
        if existing is None or self._purge is None:
            return
        titles = fold.deserialize_titles(existing[0])
        clock = existing[1]
        if clock == 0:
            return  # no event has ever set this key's clock
        removed = fold.purge_titles(
            titles, pd.Timestamp(clock, unit="us"), self._purge
        )
        if not removed:
            return
        ver = existing[2] + 1
        self._state.update((fold.serialize_titles(titles), clock, ver))
        yield _changelog_rows(titles, set(), removed, clock, ver)

    def close(self) -> None:
        pass


def page_state_changelog_tws(
    rc: DataFrame, group_col: Column, purge: fold.PurgeParams | None = None,
    cleaner_interval_ms: int | None = None,
) -> DataFrame:
    """Changelog stream via transformWithStateInPandas. Default is the
    deterministic batch-boundary purge (timeMode None); passing
    ``cleaner_interval_ms`` switches to the wall-clock periodic cleaner
    (timeMode ProcessingTime, one timer per key — see
    PageStateProcessor)."""
    return (
        fold_events(rc, group_col)
        .groupBy("_grp")
        .transformWithStateInPandas(
            statefulProcessor=PageStateProcessor(purge, cleaner_interval_ms),
            outputStructType=CHANGELOG_SCHEMA,
            outputMode="Update",
            timeMode="None" if cleaner_interval_ms is None else "ProcessingTime",
        )
    )
