"""Streaming stateful page-state processor (SURVEY.md §7 step 5).

The Spark-native form of the reference's whole engine loop: keyed state
updated per event (updateFromRCStream, /root/reference/index.js:174-273),
log routing (move/delete/protect, index.js:320-342), control-stream
markSafe (A7), and the periodic cleaner P2 (index.js:362-398) — expressed
as ``groupBy(bucket).applyInPandasWithState`` over micro-batches, with
each bucket's page groups carried in the state store between batches.

Two layers, each with one owner:
- classification is a plan projection (operators/lifecycle.fold_events):
  ids, normalized wiki, edit flags and move/delete targets are the same
  Columns the batch plans evaluate, and run in the JVM before rows reach
  Python;
- the fold owns routing, accumulation and the batch-boundary purge: each
  bucket's micro-batch is one call to streaming/fold.fold_bucket, the same
  kernel the exact batch replay runs.

So batch–stream equivalence (SURVEY.md §5.2-5) holds by construction and
is asserted in tests/test_streaming.py — the prefix-consistency argument
of the Structured Streaming paper (SIGMOD'18, PAPERS.md): every
micro-batch run folds a prefix of the same classified event order the
batch run folds.

Design notes (100 TB shape):
- Rows are routed by a *group key* that closes over move events (the
  same contract as operators/lifecycle.replay_lifecycle): rename motion
  A4 then never crosses groups, avoiding the tombstone/adopt two-phase
  protocol entirely.
- State is keyed by a *bucket* of groups, ``pmod(xxhash64(_grp), B)``,
  with B = lifecycle.BUCKETS_PER_PARTITION x ``spark.sql.shuffle.partitions``
  read when the plan is built — the query's state partitions when it is
  started under the same conf (a drain scopes its own derived count
  around the start, which moves only the buckets per partition). So a
  micro-batch makes at most B Python calls, not one per page group, and
  the state holds at most B rows whatever the key space of the firehose:
  a group whose pages are all purged or deleted leaves its bucket's map,
  so nothing needs a TTL or a watermark to reclaim it. A bucket stores
  the B it was written under, and a restart under a different B fails
  loudly instead of folding groups against the wrong buckets' state.
  Checkpoints written with the earlier one-row-per-group state do not
  read under this layout (streaming/fold.py).
- Output is a CHANGELOG in update mode: one row per page touched in the
  batch (_deleted=false) and one tombstone per page evicted/re-keyed away
  (_deleted=true), ordered per id by (group clock _ts, bucket version
  _ver). This is the S7 'edit' event surface (emitter.emit('edit', ...),
  reference index.js:341) — consumers see exactly the changed rows.
- The purge clock is each group's max event time in the batch — one
  logical ``now`` per group per micro-batch (pin, SURVEY.md §2.9-1), so
  replays are deterministic and oracle-checkable; a wall-clock variant
  would only change the ``now`` source.
- The state blob is the bucket's JSON groups map (streaming/fold.py) —
  incremental and fault-tolerant via the checkpoint, replacing the
  reference's whole-map LevelDB blob (S4-S6, index.js:118-141,395-397).
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.lifecycle import bucket_count, fold_events
from . import fold

#: per-bucket state: JSON groups map + floor + version counter + the
#: bucket count B the state was keyed under.
_STATE_SCHEMA = "groups string, floor long, ver long, buckets long"


def _make_processor(purge: fold.PurgeParams | None, buckets: int):
    def process(key, pdfs: Iterable[pd.DataFrame], state: GroupState
                ) -> Iterator[pd.DataFrame]:
        groups, floor, ver = {}, 0, 0
        if state.exists:
            blob, floor, ver, was = state.get
            if was != buckets:
                raise RuntimeError(
                    f"page-state checkpoint was keyed on {was} buckets, this "
                    f"plan on {buckets}: restart with the "
                    f"spark.sql.shuffle.partitions it was started with"
                )
            groups = json.loads(blob)
        # ver counts the bucket's calls: monotone for the bucket's whole
        # life (its state row is never removed), so every id's (_ts, _ver)
        # rises across batches
        out, floor = fold.fold_bucket(groups, pdfs, purge, floor, ver + 1)
        state.update((json.dumps(groups), floor, ver + 1, buckets))
        if len(out):
            yield out

    return process


def page_state_changelog(rc: DataFrame, group_col: Column,
                         purge: fold.PurgeParams | None = None) -> DataFrame:
    """The streaming engine: rc event stream -> keyed stateful fold ->
    changelog stream (update output mode).

    ``group_col`` must assign every event of a move-connected component to
    one group (see module docstring). ``purge`` enables the P2 cleaner at
    each micro-batch boundary. No watermark is needed: state is bounded
    by the bucket count, and no row is ever dropped as late."""
    return (
        fold_events(rc, group_col)
        .groupBy("_bkt")
        .applyInPandasWithState(
            _make_processor(purge, bucket_count(rc.sparkSession)),
            outputStructType=fold.CHANGELOG_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def final_state(changelog: DataFrame) -> DataFrame:
    """Collapse a changelog (all emitted rows) to the final live state:
    latest emission per id — ordered by (group clock, version) —
    tombstones filtered out. Static helper for memory-sink results in
    tests and the registered query rows."""
    latest = changelog.groupBy("id").agg(
        F.max_by(F.struct(*[c for c in changelog.columns if c != "id"]),
                 F.struct(F.col("_ts"), F.col("_ver"))).alias("s")
    )
    return (
        latest.select("id", "s.*")
        .filter(~F.col("_deleted"))
        .drop("_ts", "_ver", "_deleted", "safe")
    )
