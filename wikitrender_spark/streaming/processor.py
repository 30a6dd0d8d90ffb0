"""Streaming stateful page-state processor (SURVEY.md §7 step 5).

The Spark-native form of the reference's whole engine loop: keyed state
updated per event (updateFromRCStream, /root/reference/index.js:174-273),
log routing (move/delete/protect, index.js:320-342), control-stream
markSafe (A7), and the periodic cleaner P2 (index.js:362-398) — expressed
as ``groupBy(group).applyInPandasWithState`` over micro-batches, with the
titles map carried in the state store between batches.

Two layers, each with one owner:
- classification is a plan projection (operators/lifecycle.fold_events):
  ids, normalized wiki, edit flags and move/delete targets are the same
  Columns the batch plans evaluate, and run in the JVM before rows reach
  Python;
- the fold owns routing, accumulation and the batch-boundary purge: each
  group's micro-batch is one call to streaming/fold.fold, the same step
  the exact batch replay runs.

So batch–stream equivalence (SURVEY.md §5.2-5) holds by construction and
is asserted in tests/test_streaming.py — the prefix-consistency argument
of the Structured Streaming paper (SIGMOD'18, PAPERS.md): every
micro-batch run folds a prefix of the same classified event order the
batch run folds.

Design notes (100 TB shape):
- State is partitioned by a *group key* that closes over move events (the
  same contract as operators/lifecycle.replay_lifecycle): rename motion
  A4 then never crosses state partitions, avoiding the tombstone/adopt
  two-phase protocol entirely. Groups are small (one page plus its move
  targets), so state rows stay bounded and skew is limited to genuinely
  hot pages (AQE/state-store rebalancing territory).
- Output is a CHANGELOG in update mode: one row per page touched in the
  batch (_deleted=false) and one tombstone per page evicted/re-keyed away
  (_deleted=true), versioned by a per-group monotonic _ver. This is the
  S7 'edit' event surface (emitter.emit('edit', ...),
  /root/reference/index.js:341) — consumers see exactly the changed rows.
- The purge clock is the group's max event time in the batch — one logical
  ``now`` per micro-batch (pin, SURVEY.md §2.9-1), so replays are
  deterministic and oracle-checkable; a wall-clock variant would only
  change the ``now`` source.
- The state blob is JSON per group (streaming/fold.serialize_titles) —
  incremental and fault-tolerant via the checkpoint, replacing the
  reference's whole-map LevelDB blob (S4-S6, index.js:118-141,395-397).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.lifecycle import fold_events
from . import fold

#: changelog row = page-state row + safe flag + (clock, version) + tombstone
#: marker. ``_ts`` is the GROUP CLOCK (running max event time, unix micros):
#: together (_ts, _ver) order emissions across the group's whole history,
#: including across a TTL state reset (_ver alone restarts at 1 there).
CHANGELOG_SCHEMA = (
    fold.STATE_SCHEMA + ", safe boolean, _ts long, _ver long, _deleted boolean"
)
_CHANGELOG_COLUMNS = fold.STATE_COLUMNS + ["safe", "_ts", "_ver", "_deleted"]

#: per-group state: serialized titles map + group clock + version counter.
_STATE_SCHEMA = "blob string, clock long, ver long"


def _changelog_rows(titles: dict, changed: set, removed: set, clock: int,
                    ver: int) -> pd.DataFrame:
    rows: list[dict[str, Any]] = []
    for pid in sorted(changed & titles.keys()):
        r = fold.page_record(titles[pid])
        r.update(safe=titles[pid]["safe"], _ts=clock, _ver=ver, _deleted=False)
        rows.append(r)
    for pid in sorted(removed - titles.keys()):
        rows.append({c: None for c in fold.STATE_COLUMNS}
                    | dict(id=pid, safe=None, _ts=clock, _ver=ver,
                           _deleted=True))
    return pd.DataFrame(rows, columns=_CHANGELOG_COLUMNS)


def _make_processor(purge: fold.PurgeParams | None,
                    dead_group_ttl_min: float | None):
    ttl_us = (None if dead_group_ttl_min is None
              else int(dead_group_ttl_min * 60_000_000))

    def process(key, pdfs: Iterable[pd.DataFrame], state: GroupState
                ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, clock, ver = state.get
            titles = fold.deserialize_titles(blob)
        else:
            titles, clock, ver = {}, 0, 0

        if ttl_us is not None and state.hasTimedOut:
            # the timeout is armed only while the titles map is empty and
            # is implicitly cleared by any newer batch (Spark resets
            # timeouts on each invocation), so firing == the group has
            # been empty for >= ttl of event time: drop the state row.
            # A later revival restarts ver at 1, which is safe because
            # consumers order by (_ts, _ver) and the watermark guarantees
            # every revival event carries ts > clock + ttl > clock.
            state.remove()
            return

        ver += 1
        changed, removed, clock = fold.fold(titles, pdfs, clock, purge)

        # ver must stay monotone while the state row lives: a page
        # recreated after a delete would otherwise version below its own
        # tombstone and lose in final_state. Without a TTL the empty-map
        # row (~2 bytes of blob) is kept forever; with dead_group_ttl the
        # row is reclaimed once the WATERMARK passes clock + ttl — the
        # (_ts, _ver) ordering above keeps any later revival consistent.
        state.update((fold.serialize_titles(titles), clock, ver))
        if ttl_us is not None and not titles:
            deadline_ms = (clock + ttl_us) // 1000
            watermark_ms = state.getCurrentWatermarkMs()
            if deadline_ms <= watermark_ms:
                # already expired relative to the watermark: Spark rejects
                # timeouts at/below it, and the next batch would not call
                # us for this silent group — reclaim now
                state.remove()
            else:
                state.setTimeoutTimestamp(deadline_ms)

        out = _changelog_rows(titles, changed, removed, clock, ver)
        if len(out):
            yield out

    return process


def page_state_changelog(rc: DataFrame, group_col: Column,
                         purge: fold.PurgeParams | None = None,
                         dead_group_ttl_min: float | None = None,
                         watermark_delay: str | None = "0 seconds"
                         ) -> DataFrame:
    """The streaming engine: rc event stream -> keyed stateful fold ->
    changelog stream (update output mode).

    ``group_col`` must assign every event of a move-connected component to
    one group (see module docstring). ``purge`` enables the P2 cleaner at
    each micro-batch boundary.

    ``dead_group_ttl_min`` reclaims the state row of a group whose titles
    map has been empty for that many minutes of EVENT time (watermark
    clock) — the fix for the unbounded-key-space state leak: on a real
    firehose every page that ever existed otherwise keeps a ~2-byte blob
    forever after purge/delete. Requires a watermark, so the input gets
    ``withWatermark('ts', watermark_delay)``; rows later than the
    watermark are dropped by Spark before reaching the fold, so choose a
    delay covering the source's out-of-orderness (the replay sources are
    (ts, seq)-ordered, so the 0-second default is exact for them).

    ``watermark_delay=None`` means the CALLER already applied the
    watermark to (a leg of) ``rc`` — used by the engine facade to
    watermark only the event leg of the event∪control union, so a
    control command stamped with the submitter's wall clock cannot jump
    the watermark ahead of replayed history (see engine._rc_stream).
    """
    timeout = GroupStateTimeout.NoTimeout
    if dead_group_ttl_min is not None:
        if watermark_delay is not None:
            rc = rc.withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        fold_events(rc, group_col)
        .groupBy("_grp")
        .applyInPandasWithState(
            _make_processor(purge, dead_group_ttl_min),
            outputStructType=CHANGELOG_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def final_state(changelog: DataFrame) -> DataFrame:
    """Collapse a changelog (all emitted rows) to the final live state:
    latest emission per id — ordered by (group clock, version), which
    stays correct across a dead-group TTL state reset where _ver alone
    restarts — tombstones filtered out. Static helper for memory-sink
    results in tests and the driver query surface."""
    latest = changelog.groupBy("id").agg(
        F.max_by(F.struct(*[c for c in changelog.columns if c != "id"]),
                 F.struct(F.col("_ts"), F.col("_ver"))).alias("s")
    )
    return (
        latest.select("id", "s.*")
        .filter(~F.col("_deleted"))
        .drop("_ts", "_ver", "_deleted", "safe")
    )
