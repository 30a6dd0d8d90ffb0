"""The replay drain and its scale-adaptive state-partition sizing
(round 17, VERDICT r16 next-round #1; guide §2.2 "fewer, larger reduce
partitions" applied to the one operator class AQE cannot touch).

``drain(stream, input_path, mode)`` is the one way a replay query runs
to a result: every streaming replay row hands it the stream and the
path of its replay input, and the drain derives the state-partition
count and scan split from that input itself — callers no longer size
anything.

Stateful streaming operators (streaming aggregation, dropDuplicates*,
applyInPandasWithState, session windows) take their partition count
from ``spark.sql.shuffle.partitions`` at the query's FIRST micro-batch
and freeze it into the checkpoint for the query's lifetime. AQE's
partition coalescing never applies — every micro-batch thereafter
schedules one task AND one state-store open/commit per partition per
stateful operator, whether or not the partition holds a single row.
That makes the count a real production sizing decision, not a local
knob: the replay harness previously inherited the session default
(= local core count), so a 2 MB sf0.1 replay paid 32 state-store
commits x batches x stateful operators of pure fixed overhead, while a
100 TB stream would be stuck at the same 32 (far too few).

The derivation here is the same rule AQE applies to batch exchanges —
size partitions to the data, bounded both ways:

    state_partitions = clamp(ceil(input_bytes / target), 1, max_cap)

with ``target`` = STATE_TARGET_BYTES (64 MiB of replay input per
state partition — the advisory-partition-size ballpark of guide §9;
state for these operators is a bounded summary of the input, so input
bytes are the honest upper proxy) and ``max_cap`` =
STATE_PARTITIONS_MAX (4096 — plenty for thousands of cores; at 100 TB
the derivation hits this cap and the operator runs at full
cluster parallelism). WTR_STATE_PARTITIONS overrides the derivation
outright for deployments that size state explicitly. The driver's bench
contract is untouched: nothing here reads SPARK_GRAFT_CPUS, so the
8-vs-32-core scaling run measures the same derived count, and results
are partition-count-independent (hash partitioning by key; every replay
outcome is a deterministic function of (key, batch order)).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame

from ..barrier import barrier

#: target replay-input bytes per state partition.
STATE_TARGET_BYTES = 64 << 20
#: target for COMPUTE-HEAVY Python stateful folds
#: (applyInPandasWithState whose per-row work dominates — the
#: page-state fold): advisory bytes per partition should scale as
#: (per-partition fixed cost) / (per-byte compute cost), and the
#: pandas fold's measured throughput is ~2-3 orders of magnitude below
#: a JVM hash aggregation's, so its target is 512x smaller. Measured
#: round 17 (interleaved A/B at sf0.1, 2 MB replay input):
#: wt_stream_replay solo median 6.34 s at 1 partition, 3.15 at 4, 2.90
#: at 8, 2.28 at 16 (= this target), 2.61 at 32 — per-row Python cost
#: parallelizes where the JVM state ops' per-partition commit overhead
#: dominated. A LIGHT fold (wt_stream_heavy_hitters' counter updates:
#: 2.67 s at 1 partition vs 3.57 at 16, same interleaved session) stays
#: on the default target — the call site picks per its fold cost.
PY_STATE_TARGET_BYTES = 128 << 10
#: hard cap on the derived count.
STATE_PARTITIONS_MAX = 4096
#: explicit override: a deployment that has sized its state store
#: directly sets this and the derivation is skipped.
STATE_PARTITIONS_ENV = "WTR_STATE_PARTITIONS"


def dir_bytes(path: str) -> int:
    """Total bytes under ``path`` (a file or a directory tree) — the
    replay-input size the derivation keys on. Metadata only (os.walk +
    getsize), never reads data. Local paths only: a non-local URI
    (hdfs://, s3a://, ...) raises rather than sizing the drain as empty."""
    if urlparse(path).scheme:
        raise ValueError(
            f"dir_bytes measures local paths only, not {path!r}: stage the "
            f"replay input locally, or size non-local state explicitly with "
            f"{STATE_PARTITIONS_ENV} instead of deriving it from bytes"
        )
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def adaptive_state_partitions(
    input_bytes: int, python_heavy: bool = False
) -> int:
    """The clamp rule in the module docstring, with the env override.
    ``python_heavy=True`` selects the compute-heavy-fold target (see
    PY_STATE_TARGET_BYTES) — call sites whose stateful operator
    is a pandas fold with measured per-row cost pass it."""
    explicit = os.environ.get(STATE_PARTITIONS_ENV)
    if explicit:
        return max(1, int(explicit))
    target = PY_STATE_TARGET_BYTES if python_heavy else STATE_TARGET_BYTES
    return min(max(1, math.ceil(input_bytes / target)), STATE_PARTITIONS_MAX)


def replay_scan_split(spark, input_bytes: int) -> int:
    """Scan-split size (spark.sql.files.maxPartitionBytes) for a replay
    drain, derived so the PRE-shuffle stage parallelizes too: each
    replay chunk is ONE parquet file (the mtime-ordering recipe), so
    under the 128 MB default a multi-MB chunk runs its whole stateless
    front (the Arrow sketch pass included) in a SINGLE task per
    micro-batch. Measured at the sf1 probe layout (round 17,
    dd_stream_band_buckets, ~75 MB of chunks): 18-24 s at 128 MB splits
    vs ~12.7 s at 4 MB. Derivation: input_bytes / (2 x default
    parallelism), clamped to [1 MiB, 128 MiB] — at sf0.1 the clamp
    floor leaves the current single-task behavior untouched; at
    cluster scale the cap restores the normal default."""
    par = max(1, spark.sparkContext.defaultParallelism)
    return min(max(input_bytes // (2 * par), 1 << 20), 128 << 20)


@contextmanager
def _state_partition_conf(spark, n: int, scan_split_bytes: int):
    """Scope ``spark.sql.shuffle.partitions`` = n and the replay
    scan-split size (see replay_scan_split) around a streaming query's
    start: StreamExecution clones the session (and its conf) at
    ``.start()``, so the scoped values become the query's state-store
    partition count / scan split while the outer session is restored
    afterwards — batch plans elsewhere never see them."""
    keys = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.files.maxPartitionBytes": str(scan_split_bytes),
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def drain(
    stream: DataFrame, input_path: str, mode: str, python_heavy: bool = False
) -> DataFrame:
    """Run ``stream`` to exhaustion under Trigger.AvailableNow into a
    memory sink and return its rows — the one replay drain. It sizes the
    query from ``dir_bytes(input_path)`` (state partitions and scan
    split, module docstring; ``python_heavy`` picks the pandas-fold
    target), scopes both around the start, runs in ``mode``
    (``append`` or ``update``) under its own unique query name and temp
    checkpoint dir, and materializes the result off the sink with an
    eager barrier. The sink's temp view and the checkpoint dir
    are released in a ``finally``, so a drain leaves nothing in the
    session catalog or on disk, and the returned relation stays valid
    for the caller's lifetime."""
    spark = stream.sparkSession
    nb = dir_bytes(input_path)
    name = "wtr_drain_" + uuid.uuid4().hex
    ckpt = tempfile.mkdtemp(prefix="wtr_drain_ckpt_")
    try:
        with _state_partition_conf(
            spark,
            adaptive_state_partitions(nb, python_heavy=python_heavy),
            replay_scan_split(spark, nb),
        ):
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # the sink detach: the rows must outlive the sink's temp view
        return barrier(spark.table(name), eager=True)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
