"""Batch-stream equivalence for the streaming EWMA
(streaming/ewma.py): replaying the events table as ordered
micro-batches through the keyed stateful stage must emit, for every
finalizable hour, exactly the batch hourly_ewma row — the recurrence
genuinely threads through the state store across micro-batches.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wikitrender_spark.operators.derive import read_events_raw
from wikitrender_spark.plans import relational_queries as R
from wikitrender_spark.sources.replay import read_ordered_chunks
from wikitrender_spark.streaming import ewma as sewma

SF_DIR = "/root/testdata/sf0.001"
EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_alpha_matches_batch_constant():
    assert sewma.ALPHA == R.EWMA_ALPHA


def _chunked_events_stream(spark, work_dir, n_chunks=4):
    ev = read_events_raw(spark, SF_DIR).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    n_rows = ev.count()
    step = max(1, (n_rows + n_chunks - 1) // n_chunks)
    ranked = ev.withColumn(
        "_rn", F.row_number().over(Window.orderBy("ts", "event_id")) - 1
    )
    chunk_dir = os.path.join(work_dir, "ev_chunks")
    for i in range(n_chunks):
        part = ranked.filter(
            (F.col("_rn") >= i * step) & (F.col("_rn") < (i + 1) * step)
        ).drop("_rn")
        path = os.path.join(chunk_dir, f"chunk_{i:04d}")
        part.coalesce(1).write.mode("overwrite").parquet(path)
        ts = time.time() + i
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
    return read_ordered_chunks(spark, EV_SCHEMA, chunk_dir)


def test_streaming_ewma_equals_batch_on_finalizable_hours(spark, tmp_path):
    stream = _chunked_events_stream(spark, str(tmp_path))
    q = (
        sewma.streaming_hourly_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["event_type"], r["hour"]): (r["n_events"], r["ewma"])
        for r in spark.sql("select * from ewma_out").collect()
    }
    assert got, "stream emitted nothing"

    ev = read_events_raw(spark, SF_DIR)
    # the operator's high-water mark is per KEY (each type's own last
    # event), so the finalization horizon is per event_type too
    horizons = {
        r["event_type"]: r["mx"] - sewma.DELAY_US
        for r in ev.groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("mx"))
        .collect()
    }
    batch = R.hourly_ewma(ev)
    expected = {
        (r["event_type"], r["hour"]): (r["n_events"], r["ewma"])
        for r in batch.collect()
        if (r["hour"].timestamp() * 1_000_000 + sewma.HOUR_US)
        <= horizons[r["event_type"]]
    }
    assert set(got) == set(expected)
    for k, (n, e) in expected.items():
        gn, ge = got[k]
        assert gn == n, k
        # batch rounds to 6; the stream emits the raw recurrence value
        assert ge == pytest.approx(e, abs=5e-7), k
    # state genuinely crossed micro-batches: more than one hour emitted
    # per type, in strictly increasing hour order per type
    by_type = {}
    for (t, h) in sorted(got):
        by_type.setdefault(t, []).append(h)
    assert all(len(v) > 10 for v in by_type.values())


def test_flush_quiet_keys_finalizes_on_global_watermark(spark, tmp_path):
    # key "quiet" speaks only in the first chunk (hours 0-2); key "busy"
    # keeps advancing the global watermark. With flush_quiet_keys=True,
    # quiet's open hours finalize via EventTimeTimeout even though the
    # key never receives data again; without it they would sit in state.
    import datetime as dt
    import os
    import time

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows(etype, hours, per_hour=3):
        out = []
        for h in hours:
            for m in range(per_hour):
                out.append(
                    (len(out), t0 + dt.timedelta(hours=h, minutes=m * 7 + 1),
                     1, etype, 0.0, "{}")
                )
        return out

    chunk_dir = os.path.join(str(tmp_path), "flush_chunks")
    chunks = [
        rows("quiet", [0, 1, 2]) + rows("busy", [0, 1]),
        rows("busy", [2, 3, 4]),
        rows("busy", [5, 6, 7]),
        rows("busy", [8, 9, 10]),
    ]
    for i, ch in enumerate(chunks):
        df = spark.createDataFrame(ch, EV_SCHEMA)
        path = os.path.join(chunk_dir, f"chunk_{i:04d}")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        ts = time.time() + i
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
    stream = read_ordered_chunks(spark, EV_SCHEMA, chunk_dir)
    q = (
        sewma.streaming_hourly_ewma(stream, flush_quiet_keys=True)
        .writeStream.format("memory")
        .queryName("ewma_flush_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "flush_ckpt"))
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["event_type"], r["hour"]): (r["n_events"], r["ewma"])
        for r in spark.sql("select * from ewma_flush_out").collect()
    }
    quiet_hours = sorted(h for (t, h) in got if t == "quiet")
    # quiet's OWN frontier (max_seen 02:15 - 1h delay = 01:15) can
    # finalize hour 0 only; hours 1 and 2 can ONLY come from the
    # busy-driven watermark flush (EventTimeTimeout) — all three must
    # appear, and the last two prove the flush path
    assert len(quiet_hours) == 3, got
    # the recurrence over constant counts: 3, then 0.25*3+0.75*3 = 3 ...
    for k in [("quiet", h) for h in quiet_hours]:
        n, e = got[k]
        assert n == 3 and e == 3.0
