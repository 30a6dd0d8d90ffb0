"""Materialization barriers for corpus-sized fan-out relations
(round 17, VERDICT r16 next-round #4; guide §5).

The repo's standard barrier is ``localCheckpoint``: it materializes a
multi-consumer relation once and TRUNCATES lineage — which is also
load-bearing correctness armor on the sketch paths (the round-13
nested-lambda hazard: without a plan cut, Catalyst's projection
collapse re-inlines the token pass into every lambda reference of the
downstream fold, measured at 162 s for 1k docs vs sub-second cut).

At 100 TB the *storage side* of localCheckpoint is the wrong default
for CORPUS-SIZED relations: blocks live on executor local storage
only, so (a) the relation must fit executor storage, and (b) with
lineage truncated, one executor loss makes every consumer job fail
unrecoverably. Bounded relations (centroid tables, per-window
aggregates, vocab summaries) don't care; relations comparable to the
input (per-token hashes, shingle inverted indexes, per-doc sketches)
do.

``corpus_barrier`` is therefore the barrier for corpus-sized
relations, with a deployment switch:

- ``WTR_BARRIER_MODE=local`` (default): ``localCheckpoint`` — the
  bench-comparable local form; correct wherever executors are durable
  for the job's lifetime (local mode, small clusters, short jobs).
- ``WTR_BARRIER_MODE=reliable``: ``DataFrame.checkpoint`` against
  ``WTR_CHECKPOINT_DIR`` (a distributed filesystem path) — same plan
  cut, same single materialization, but blocks live on reliable
  storage, spill is the filesystem's problem, and executor loss only
  re-reads. This is the cluster default;
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
  session.get_spark) reclaims checkpoint files when their DataFrame is
  released.

Both modes cut lineage identically, so the nested-lambda protection
and every downstream plan shape are mode-independent; results cannot
differ. Sites whose relation is PROVABLY BOUNDED (not
corpus-proportional) deliberately stay on raw ``localCheckpoint`` with
a per-site size comment — shipping a K-row centroid table through the
reliable path would be pure overhead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

BARRIER_MODE_ENV = "WTR_BARRIER_MODE"
CHECKPOINT_DIR_ENV = "WTR_CHECKPOINT_DIR"


def corpus_barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize-once barrier for a corpus-sized relation; see the
    module docstring for the mode switch."""
    mode = os.environ.get(BARRIER_MODE_ENV, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            ckpt_dir = os.environ.get(CHECKPOINT_DIR_ENV)
            if not ckpt_dir:
                raise ValueError(
                    f"{BARRIER_MODE_ENV}=reliable requires "
                    f"{CHECKPOINT_DIR_ENV} (a distributed-FS path) or a "
                    "pre-set SparkContext checkpoint dir"
                )
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"unknown {BARRIER_MODE_ENV}={mode!r}; expected 'local' or "
        "'reliable'"
    )
