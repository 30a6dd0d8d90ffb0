"""Sink tests (S4/S7/S8): snapshot merge correctness vs batch replay,
edit-callback delivery, top-5 report values, Spark jobs per batch, and a
stop inside a batch followed by a restart."""

from __future__ import annotations

import os
import shutil
import threading
import time

from pyspark.sql import functions as F

from wikitrender_spark.operators import lifecycle, topk
from wikitrender_spark.operators.derive import rc_events
from wikitrender_spark.sources import sinks
from wikitrender_spark.sources.replay import chunked_event_stream
from wikitrender_spark.streaming import processor

SF_DIR = "/root/testdata/sf0.001"


def _group():
    return F.concat(
        F.col("wiki"), F.lit("#"), F.regexp_extract(F.col("title"), r"_(\d+)$", 1)
    )


def test_snapshot_sink_converges_to_batch_state(spark, tmp_path):
    """After the chunked stream drains, the maintained parquet snapshot
    must equal the batch replay's final state (S4 parity: the snapshot is
    the engine's queryable 'whole state' export). The S7 edit callback
    rides the same query: every changed page fires with its current row,
    and no tombstone fires."""
    reports: list[tuple[str, list]] = []
    edits: list = []

    cl = processor.page_state_changelog(
        chunked_event_stream(spark, SF_DIR, str(tmp_path / "src"), n_chunks=3),
        _group(),
    )
    snap = str(tmp_path / "state_snapshot")
    q = sinks.state_snapshot_sink(
        cl, snap, str(tmp_path / "ckpt"),
        report=lambda name, rows: reports.append((name, rows)),
        edit_callback=edits.append,
    )
    q.processAllAvailable()
    q.stop()

    snapshot = sinks.read_snapshot(snap, spark)
    got = sorted(map(tuple, snapshot.drop("safe").collect()))
    exp = sorted(
        map(tuple,
            lifecycle.replay_lifecycle(rc_events(spark, SF_DIR), _group()).collect())
    )
    assert got == exp
    # S8: three reports per non-empty batch, 5 rows each
    names = {n for n, _ in reports}
    assert names == {"Most edited", "Biggest movers", "Most vibrant"}
    assert all(len(rows) <= 5 for _, rows in reports)
    # the last report's lists are Q1-Q3 over the final snapshot at its own
    # clock, row for row and in order (ties broken on id)
    now = snapshot.agg(F.max("updated")).first()[0]
    m = sinks.with_report_metrics(snapshot, now)
    last_report = dict(reports[-3:])
    for name, q1_q3 in (("Most edited", topk.most_edited),
                        ("Biggest movers", topk.biggest_movers),
                        ("Most vibrant", topk.most_vibrant)):
        want = [tuple(r) for r in q1_q3(m).collect()]
        assert [tuple(r) for r in last_report[name]] == want, name
    assert any(len({r[-1] for r in rows}) < len(rows)
               for rows in last_report.values()), "no tie on a metric"

    # S7: no tombstone fires, yet pages seen live were later removed
    assert edits and not any(r["_deleted"] for r in edits)
    last = {r["id"]: r for r in edits}
    live = {r["id"]: r for r in snapshot.collect()}
    assert set(last) - set(live)
    # every live page fired, and its latest delivery is its snapshot row
    for pid, row in live.items():
        assert tuple(last[pid][c] for c in snapshot.columns) == tuple(row)


def test_snapshot_promote_keeps_previous_version(spark, tmp_path):
    """DataFrames bind lazily to their version dir; promote must keep the
    immediately previous version alive for one cycle, then reap it."""
    import os

    base = str(tmp_path / "snap")
    v1, v2, v3 = base + "_v0_a", base + "_v1_b", base + "_v2_c"
    spark.range(3).write.parquet(v1)
    sinks._promote_snapshot(base, v1, None)
    bound = sinks.read_snapshot(base, spark)
    spark.range(5).write.parquet(v2)
    sinks._promote_snapshot(base, v2, v1)
    assert bound.count() == 3                      # v1 survives one promote
    assert sinks.read_snapshot(base, spark).count() == 5
    spark.range(7).write.parquet(v3)
    sinks._promote_snapshot(base, v3, v2)
    assert not os.path.isdir(v1)                   # reaped after grace
    assert os.path.isdir(v2)


def _held_back_stream(spark, tmp_path, n_chunks: int):
    """A chunked replay whose chunks after the first are moved aside, so
    the test releases each micro-batch itself (release(i) puts chunk i
    back; its mtime still orders it after the earlier chunks)."""
    src = chunked_event_stream(spark, SF_DIR, str(tmp_path / "src"),
                               n_chunks=n_chunks)
    chunks = str(tmp_path / "src" / "chunks")
    held = str(tmp_path / "held")
    os.makedirs(held)
    for i in range(1, n_chunks):
        shutil.move(os.path.join(chunks, f"chunk_{i:04d}"), held)

    def release(i: int) -> None:
        shutil.move(os.path.join(held, f"chunk_{i:04d}"), chunks)

    return processor.page_state_changelog(src, _group()), release


def test_snapshot_sink_runs_four_jobs_per_batch(spark, tmp_path):
    """A batch that merges into an existing snapshot, with both consumers
    registered, runs at most four Spark jobs: the batch's one parallel
    action (the callbacks' collect), the broadcast of its ids, the
    one-file write, and the one-job report."""
    cl, release = _held_back_stream(spark, tmp_path, 2)
    reports, edits = [], []
    q = sinks.state_snapshot_sink(
        cl, str(tmp_path / "snap"), str(tmp_path / "ckpt"),
        report=lambda name, rows: reports.append(name),
        edit_callback=edits.append,
    )
    try:
        q.processAllAvailable()
        tracker = spark.sparkContext.statusTracker()
        group = str(q.runId)  # the stream runs its jobs in this group
        before = set(tracker.getJobIdsForGroup(group))
        n_edits, n_reports = len(edits), len(reports)
        release(1)
        q.processAllAvailable()
        jobs = set(tracker.getJobIdsForGroup(group)) - before
    finally:
        q.stop()
    assert len(edits) > n_edits and len(reports) == n_reports + 3
    assert len(jobs) <= 4, sorted(jobs)


def _stop_inside_batch_then_restart(spark, tmp_path, hold: str) -> None:
    """stop() lands while ``handle`` is inside a merging batch, held open
    by its ``hold`` callback (``edit_callback`` or ``report``); stop()
    returns, and a restart from the same checkpoint converges to the
    batch replay. The batch re-runs against whichever version the
    manifest names: the per-attempt version dirs keep the replay from
    overwriting the merge's own input, and the one-promote grace keeps the
    previous version readable."""
    cl, release = _held_back_stream(spark, tmp_path, 3)
    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    inside = threading.Event()
    armed = threading.Event()

    def hold_open(*_) -> None:
        if armed.is_set() and not inside.is_set():
            inside.set()
            time.sleep(1.0)  # stop() is called while the batch is open

    q = sinks.state_snapshot_sink(cl, snap, ckpt, **{hold: hold_open})
    q.processAllAvailable()
    armed.set()
    release(1)
    assert inside.wait(120), f"the second batch never reached its {hold}"
    stopper = threading.Thread(target=q.stop, daemon=True)
    stopper.start()
    stopper.join(120)
    assert not stopper.is_alive(), "stop() did not return"
    assert not q.isActive
    assert q.exception() is None  # Spark took the error for the stop's

    release(2)
    q = sinks.state_snapshot_sink(cl, snap, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, sinks.read_snapshot(snap, spark)
                     .drop("safe").collect()))
    exp = sorted(map(tuple, lifecycle.replay_lifecycle(
        rc_events(spark, SF_DIR), _group()).collect()))
    assert got == exp


def test_stop_inside_batch_then_restart_equals_replay(spark, tmp_path):
    """The edit callback holds the batch open: stop() lands after job 1,
    so the interrupted calls are the merge's write and what follows."""
    _stop_inside_batch_then_restart(spark, tmp_path, "edit_callback")


def test_stop_inside_report_then_restart_equals_replay(spark, tmp_path):
    """The report callback holds the batch open: stop() lands after job 4,
    so the handler's next Py4J calls are the ``unpersist``s of its
    ``finally``."""
    _stop_inside_batch_then_restart(spark, tmp_path, "report")
