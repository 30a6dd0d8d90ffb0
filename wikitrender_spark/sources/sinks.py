"""Sinks S7/S8 + state-snapshot sink (SURVEY.md §2.1).

The reference's consumer surface is a callback per applied edit
(emitter.emit('edit', page, collection), /root/reference/index.js:341,
subscribe API index.js:146-148) and a periodic top-5 console report over
the full live state (examples/index.js:19-71). Mapping:

- ``state_snapshot_sink`` — S4 analogue + the state surface for S8:
  per micro-batch, merge the batch's upserts/tombstones into a queryable
  parquet snapshot of the CURRENT live state (the foreachBatch MERGE
  pattern, as a plain-parquet two-phase write: no transactional table
  format is used). Optionally renders the reference's three top-5
  reports from the merged state after each batch (S8,
  /root/reference/examples/index.js:19-71) — the report reads the FULL
  state, not just the batch's changed rows. Its ``edit_callback`` is S7:
  one call per changed page row per micro-batch, tombstones excluded
  (the reference only emits on edits).

A batch costs a fixed number of Spark jobs, each one parallel, whatever
its size: (1) one action materializes the persisted batch — the stateful
fold — and, when a callback is registered, it is the collect of the live
rows the callbacks read; (2-3) the previous version, read under the
batch's schema, anti-joins a broadcast of the batch's ids, and the merged
state is persisted as one partition and written as one file; (4) the
three top-5 lists come from that persisted frame in one job, with ``now``
a column of the same plan.
"""

from __future__ import annotations

from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import topk
from ..operators.page_state import with_metrics


#: changelog bookkeeping columns, not part of a snapshot row
_BOOKKEEPING = ("_ts", "_ver", "_deleted")


def with_report_metrics(state: DataFrame, now) -> DataFrame:
    """D1-D4 metric columns at one logical ``now`` (clock pin §2.9-1):
    page_state.with_metrics at a literal clock, or at a Column."""
    return with_metrics(state, F.lit(now))


def _print_render(name: str, rows: list) -> None:  # pragma: no cover
    print(f"== {name} ==")
    for r in rows:
        print(f"  {r['title']}: {r[2]}")


def _manifest_path(table_path: str) -> str:
    return table_path + "_MANIFEST"


def _live_version(table_path: str) -> str | None:
    """The version directory the manifest points at, or None when no
    snapshot exists yet; raises when that directory is missing (real
    corruption must be loud, not an empty page set). A concurrent promote
    between reading the manifest and checking the dir is retried once
    before raising."""
    import os

    mp = _manifest_path(table_path)
    for _ in range(2):
        if not os.path.exists(mp):
            return None
        with open(mp, encoding="utf-8") as f:
            vdir = f.read().strip()
        if vdir and os.path.isdir(vdir):
            return vdir
    raise RuntimeError(f"snapshot manifest {mp} points at missing {vdir!r}")


def read_snapshot(table_path: str, spark) -> DataFrame | None:
    """Resolve the live snapshot through its manifest pointer (None when
    no snapshot exists yet; see _live_version)."""
    vdir = _live_version(table_path)
    return None if vdir is None else spark.read.parquet(vdir)


def _promote_snapshot(table_path: str, vdir: str, prev: str | None) -> None:
    """Atomically repoint the manifest at `vdir` (os.replace), then
    best-effort remove superseded version directories — EXCEPT the
    immediately previous one (`prev`): DataFrames handed out by
    read_snapshot bind lazily to their version dir, so one promote cycle
    of grace keeps them collectable."""
    import os
    import shutil

    mp = _manifest_path(table_path)
    tmp = mp + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(vdir)
    os.replace(tmp, mp)
    parent = os.path.dirname(table_path) or "."
    prefix = os.path.basename(table_path) + "_v"
    keep = {vdir, prev}
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        if name.startswith(prefix) and full not in keep and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)


class BatchStopped(RuntimeError):
    """A micro-batch that its query's stop() interrupted; the batch is not
    committed, and a restart from the checkpoint runs it again."""


def _without_frames(e: Py4JJavaError) -> str:
    """``e``'s text as Py4J prints it, minus the Java stack traces: the
    call, then the first line of each exception of the cause chain (a
    task failure's message embeds its executor's whole trace)."""
    chain, j = [], e.java_exception
    while j is not None:
        chain.append(j.toString().partition("\n")[0][:200])
        j = j.getCause()
    return (f"py4j.protocol.Py4JJavaError: {e.errmsg}\n: "
            + "\nCaused by: ".join(chain))


def state_snapshot_sink(changelog: DataFrame, table_path: str,
                        checkpoint: str,
                        report: Callable[[str, list], None] | bool = False,
                        available_now: bool = False,
                        edit_callback: Callable | None = None,
                        ) -> StreamingQuery:
    """Maintain the live-state parquet snapshot; optionally render S8
    top-5 reports from it after each merge. ``report=True`` prints to the
    console (the reference example's sink); a callable customizes it.
    ``edit_callback`` additionally receives each non-tombstone changelog
    row (S7) from the SAME query — one checkpoint, one stateful fold,
    callbacks and snapshot always consistent.

    Durability: each batch writes ONE new version directory and then
    atomically repoints a manifest file at it — readers (read_snapshot)
    always see a complete snapshot; a crash mid-write leaves the manifest
    on the previous version, and the checkpoint replays the batch. (A
    transactional table format would replace this pattern wholesale.)"""
    render = _print_render if report is True else report
    started: list[StreamingQuery] = []  # handle can run before start returns

    def merge(batch: DataFrame, batch_id: int) -> None:
        import uuid

        spark = batch.sparkSession
        batch = batch.persist()
        merged = None
        try:
            live = batch.filter(~F.col("_deleted"))
            # job 1 materializes the batch (the stateful fold) in one
            # parallel action; the callbacks read its result
            if edit_callback is None:
                batch.count()
            else:
                for row in live.collect():
                    edit_callback(row)
            upserts = live.drop(*_BOOKKEEPING)
            prev = _live_version(table_path)
            merged = upserts
            if prev is not None:
                # read under the batch's own schema, so nothing is inferred;
                # the anti-join only asks membership, so the ids need no
                # distinct (and no shuffle)
                current = spark.read.schema(upserts.schema).parquet(prev)
                merged = (current.join(F.broadcast(batch.select("id")), "id",
                                       "left_anti")
                          .unionByName(upserts))
            # one partition, one file: the live set is bounded by the P2
            # purge, and the report windows below need it in one partition
            merged = merged.coalesce(1).persist()
            # the version dir is unique PER ATTEMPT, not per batch_id: a
            # checkpoint replay of the same batch must never overwrite the
            # directory the manifest currently points at (it is both the
            # merge's lazy input and the only surviving copy)
            vdir = f"{table_path}_v{batch_id}_{uuid.uuid4().hex[:8]}"
            merged.write.mode("overwrite").parquet(vdir)  # jobs 2-3
            _promote_snapshot(table_path, vdir, prev)
            if render:
                # job 4; `now` is a column of the same plan, not a literal,
                # so the per-batch plan compiles to the same code
                now = F.max("updated").over(Window.partitionBy())
                for name, rows in topk.top_k_lists(
                        with_report_metrics(merged, now)):
                    if rows:  # an empty state has no report
                        render(name, rows)
        finally:
            if merged is not None:
                merged.unpersist()
            batch.unpersist()

    def handle(batch: DataFrame, batch_id: int) -> None:
        try:
            merge(batch, batch_id)
        except Py4JJavaError as e:
            if started and not started[0].isActive:
                # stop() interrupted this batch (its cleanup included).
                # Spark 4.1 tells a stop from a failure by matching a
                # backtracking regex over the Python error's text, which
                # overflows the stream thread's stack on a full Java trace
                # (StackOverflowError): hand it the error without traces.
                raise BatchStopped(_without_frames(e)) from None
            raise

    writer = (changelog.writeStream.outputMode("update")
              .option("checkpointLocation", checkpoint)
              .foreachBatch(handle))
    if available_now:
        writer = writer.trigger(availableNow=True)
    started.append(writer.start())
    return started[0]
