"""Sinks S7/S8 + state-snapshot sink (SURVEY.md §2.1).

The reference's consumer surface is a callback per applied edit
(emitter.emit('edit', page, collection), /root/reference/index.js:341,
subscribe API index.js:146-148) and a periodic top-5 console report over
the full live state (examples/index.js:19-71). Mapping:

- ``state_snapshot_sink`` — S4 analogue + the state surface for S8:
  per micro-batch, merge the batch's upserts/tombstones into a queryable
  parquet snapshot of the CURRENT live state (the foreachBatch MERGE
  pattern; plain-parquet two-phase write since the container has no
  transactional table format). Optionally renders the reference's three
  top-5 reports from the merged state after each batch (S8,
  /root/reference/examples/index.js:19-71) — the report reads the FULL
  state, not just the batch's changed rows. Its ``edit_callback`` is S7:
  one call per changed page row per micro-batch, tombstones excluded
  (the reference only emits on edits).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import topk
from ..operators.page_state import with_metrics


def with_report_metrics(state: DataFrame, now) -> DataFrame:
    """D1-D4 metric columns at one logical ``now`` (clock pin §2.9-1):
    page_state.with_metrics at a literal clock."""
    return with_metrics(state, F.lit(now))


def render_top5(state: DataFrame, now,
                render: Callable[[str, list], None]) -> None:
    """S8 report body: Q1-Q3 over a state snapshot."""
    m = with_report_metrics(state, now).cache()
    try:
        render("Most edited", topk.most_edited(m).collect())
        render("Biggest movers", topk.biggest_movers(m).collect())
        render("Most vibrant", topk.most_vibrant(m).collect())
    finally:
        m.unpersist()


def _print_render(name: str, rows: list) -> None:  # pragma: no cover
    print(f"== {name} ==")
    for r in rows:
        print(f"  {r['title']}: {r[2]}")


def _manifest_path(table_path: str) -> str:
    return table_path + "_MANIFEST"


def read_snapshot(table_path: str, spark) -> DataFrame | None:
    """Resolve the live snapshot through its manifest pointer. Returns
    None when no snapshot exists yet; raises when the manifest names a
    version directory that is missing (real corruption must be loud, not
    an empty page set). A concurrent promote between reading the manifest
    and checking the dir is retried once before raising."""
    import os

    mp = _manifest_path(table_path)
    for _ in range(2):
        if not os.path.exists(mp):
            return None
        with open(mp, encoding="utf-8") as f:
            vdir = f.read().strip()
        if vdir and os.path.isdir(vdir):
            return spark.read.parquet(vdir)
    raise RuntimeError(f"snapshot manifest {mp} points at missing {vdir!r}")


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

    def handle(batch: DataFrame, batch_id: int) -> None:
        import os
        import uuid

        spark = batch.sparkSession
        batch = batch.persist()
        try:
            live = batch.filter(~F.col("_deleted"))
            if edit_callback is not None:
                for row in live.toLocalIterator():
                    edit_callback(row)
            cols = [c for c in batch.columns
                    if c not in ("_ts", "_ver", "_deleted")]
            upserts = live.select(*cols)
            keys = batch.select("id").distinct()
            current = read_snapshot(table_path, spark)
            prev = None
            mp = _manifest_path(table_path)
            if os.path.exists(mp):
                with open(mp, encoding="utf-8") as f:
                    prev = f.read().strip()
            merged = (
                upserts if current is None
                else current.join(keys, "id", "left_anti").unionByName(upserts)
            )
            # the version dir is unique PER ATTEMPT, not per batch_id: a
            # checkpoint replay of the same batch must never overwrite the
            # directory the manifest currently points at (it is both the
            # merge's lazy input and the only surviving copy)
            vdir = f"{table_path}_v{batch_id}_{uuid.uuid4().hex[:8]}"
            merged.write.mode("overwrite").parquet(vdir)
            _promote_snapshot(table_path, vdir, prev)
            if render:
                state = spark.read.parquet(vdir)
                now = state.agg(F.max("updated")).first()[0]
                if now is not None:
                    render_top5(state, now, render)
        finally:
            batch.unpersist()

    writer = (changelog.writeStream.outputMode("update")
              .option("checkpointLocation", checkpoint)
              .foreachBatch(handle))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
