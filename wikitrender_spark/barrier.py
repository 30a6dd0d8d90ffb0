"""The one lineage cut. Every barrier in the package calls ``barrier``;
no other module calls ``localCheckpoint`` or ``checkpoint``
(tests/test_barrier.py scans the package for it).

The rule: cut where a relation has two or more consumers (or feeds a
further barrier or a construction-time job such as the HashMin
``count`` or the Bloom mask ``collect``), where a nested-lambda
projection must not be re-inlined into its downstream fold (the
round-13 hazard: Catalyst's projection collapse re-inlined the token
pass into every lambda reference, measured at 162 s for 1k docs vs
sub-second cut), where a snapshot must be frozen (the Bloom masks),
or where a result must be detached from a transient source (the
memory-sink drain). Every call site says which of these it is. The
size of the relation plays no part: every cut obeys the same mode.

``WTR_BARRIER_MODE`` picks where the materialized blocks live:

- ``local`` (default): ``localCheckpoint`` — blocks on executor local
  storage. Correct wherever executors live as long as the job (local
  mode, small clusters, short jobs); this is what tier-1 and perfbench
  run.
- ``reliable``: ``DataFrame.checkpoint`` into ``WTR_CHECKPOINT_DIR``
  (a distributed-filesystem path) — the same plan cut and the same
  single materialization, but blocks live on reliable storage, so
  executor loss only re-reads. With lineage truncated, local blocks
  lost with an executor cannot be recomputed, so this is the cluster
  setting. ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
  (set by session.get_spark) reclaims the files when their DataFrame
  is released.

Both modes cut lineage identically, so plans and results do not
depend on the mode.

A lazy cut (the default) runs its source's final stage inside
whichever downstream job first reads it, and the first job to finish
marks the cut done and drops the source's closures. Tasks of other
jobs that were already running still report into the source's SQL
metrics, which the driver may by then have garbage-collected (logged
as ``Failed to update accumulator ... (Unknown class)``). So a lazy
cut keeps its source Dataset reachable for as long as its own RDD is,
in a per-SparkContext weak-keyed map. An eager cut finishes its
source's tasks before it returns and keeps nothing.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame

BARRIER_MODE_ENV = "WTR_BARRIER_MODE"
CHECKPOINT_DIR_ENV = "WTR_CHECKPOINT_DIR"


@functools.lru_cache(maxsize=1)
def _lazy_sources(sc):
    """Cut RDD -> source Dataset, weak on the key: an entry lives exactly
    as long as the cut's RDD (the value never references it)."""
    util = sc._jvm.java.util
    return util.Collections.synchronizedMap(util.WeakHashMap())


def _checkpoint_dir(sc) -> None:
    """Point the SparkContext at ``WTR_CHECKPOINT_DIR``, or check that
    it already points there."""
    ckpt_dir = os.environ.get(CHECKPOINT_DIR_ENV)
    current = sc._jsc.sc().getCheckpointDir()
    if current.isEmpty():
        if not ckpt_dir:
            raise ValueError(
                f"{BARRIER_MODE_ENV}=reliable requires "
                f"{CHECKPOINT_DIR_ENV} (a distributed-FS path) or a "
                "pre-set SparkContext checkpoint dir"
            )
        sc.setCheckpointDir(ckpt_dir)
        return
    if ckpt_dir:
        # Spark keeps a per-context subdirectory of the dir it was given
        have = sc._jvm.org.apache.hadoop.fs.Path(current.get()).getParent()
        want = sc._jvm.org.apache.hadoop.fs.Path(ckpt_dir)
        fs = want.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.makeQualified(want).equals(have):
            raise ValueError(
                f"{CHECKPOINT_DIR_ENV}={ckpt_dir!r} differs from the "
                f"SparkContext checkpoint dir {have.toString()!r}, which "
                "cannot change once set"
            )


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once and cut its lineage; see the module
    docstring for the rule and the mode switch."""
    mode = os.environ.get(BARRIER_MODE_ENV, "local")
    if mode == "local":
        out = df.localCheckpoint(eager=eager)
    elif mode == "reliable":
        _checkpoint_dir(df.sparkSession.sparkContext)
        out = df.checkpoint(eager=eager)
    else:
        raise ValueError(
            f"unknown {BARRIER_MODE_ENV}={mode!r}; expected 'local' or "
            "'reliable'"
        )
    if not eager:
        _lazy_sources(df.sparkSession.sparkContext).put(
            out._jdf.logicalPlan().rdd(), df._jdf
        )
    return out
