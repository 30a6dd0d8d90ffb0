"""Sink tests (S4/S7/S8): snapshot merge correctness vs batch replay,
edit-callback delivery, top-5 report rendering."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikitrender_spark.operators import lifecycle
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
    reports: list[tuple[str, int]] = []
    edits: list = []

    cl = processor.page_state_changelog(
        chunked_event_stream(spark, SF_DIR, str(tmp_path / "src"), n_chunks=3),
        _group(),
    )
    snap = str(tmp_path / "state_snapshot")
    q = sinks.state_snapshot_sink(
        cl, snap, str(tmp_path / "ckpt"),
        report=lambda name, rows: reports.append((name, len(rows))),
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
    assert all(k <= 5 for _, k in reports)

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
