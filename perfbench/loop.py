"""The trending-loop workload: the reference example's consumer
(``report_to`` + ``on_edit``) fed by the seeded generator over loopback SSE.

Pipeline, built only from the package's public functions::

    wikimedia_sse source -> sse.rc_from_sse
      -> processor.page_state_changelog(move_closed_group(), PurgeParams())
      -> sinks.state_snapshot_sink(report=..., edit_callback=...)

A run has a warm-up, then two measured segments: an open loop at a fixed
offered rate, and a closed-loop drain of a backlog the generator rendered
during set-up, timed from the release to the report covering the backlog's
last event. An event's
latency runs from the time it was due to be sent to the end of the first
top-5 report whose state includes it; a report covers every event up to
the largest group clock (``_ts``) its batch's edit callbacks saw, because
event time rises in send order.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import statistics
import subprocess
import sys
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

from wikitrender_spark.operators import page_state, topk
from wikitrender_spark.operators.derive import move_closed_group
from wikitrender_spark.sources import sinks, sse
from wikitrender_spark.streaming import fold, processor

import generator as gen
import probes

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPORTS = ("Most edited", "Biggest movers", "Most vibrant")


class Recorder:
    """The edit and report callables handed to the sink. The sink calls
    them on its batch thread; the workload thread waits on ``cond``."""

    def __init__(self, manifest: str, trace: bool, cpu_now):
        self.manifest = manifest
        self.trace = trace
        self.cpu_now = cpu_now
        self.cond = threading.Condition()
        self.coverage_us = 0
        self.reports: list[dict] = []
        self._batch = self._new_batch()

    @staticmethod
    def _new_batch() -> dict:
        return {"cov": 0, "first_cb": None, "last_cb": None, "lists": {}}

    def on_edit(self, row) -> None:
        b = self._batch
        t = time.time()
        if b["first_cb"] is None:
            b["first_cb"] = t
        b["last_cb"] = t
        if row["_ts"] > b["cov"]:
            b["cov"] = row["_ts"]

    def render(self, name: str, rows: list) -> None:
        b = self._batch
        if name == _REPORTS[0] and self.trace:
            b["promoted"] = os.stat(self.manifest).st_mtime
        b["lists"][name] = [tuple(r) for r in rows]
        if name != _REPORTS[-1]:
            return
        b["end"] = time.time()
        b["cpu"] = self.cpu_now()
        with self.cond:
            self.coverage_us = max(self.coverage_us, b["cov"])
            b["coverage_us"] = self.coverage_us
            self.reports.append(b)
            self._batch = self._new_batch()
            self.cond.notify_all()

    def wait_covered(self, ts_us: int, timeout_s: float) -> bool:
        with self.cond:
            return self.cond.wait_for(lambda: self.coverage_us >= ts_us,
                                      timeout_s)


class ProgressLog(StreamingQueryListener):
    """Keeps every progress record whole: all ``durationMs`` phases and
    ``stateOperators`` fields (traced runs only)."""

    def __init__(self):
        self.records: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.records.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Generator:
    """The generator process: started during set-up, driven over stdin."""

    def __init__(self, seed: int, plan, fixed_s: float, out: str):
        s = plan.shape
        self.out = out
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(_HERE, "generator.py"),
             "--seed", str(seed), "--pages", str(s.pages),
             "--zipf", str(s.zipf), "--editors", str(s.editors),
             "--warm", str(plan.warm), "--rate", str(plan.rate),
             "--fixed-seconds", str(fixed_s), "--backlog", str(plan.backlog),
             "--out", out],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        ready = self.proc.stdout.readline().split()
        if not ready or ready[0] != "READY":
            raise RuntimeError(f"generator did not start: {ready}")
        self.port = int(ready[1])

    def command(self, cmd: str) -> None:
        """Send one command and wait until the generator has carried it out."""
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline().split()
        if reply[:2] != ["OK", cmd]:
            raise RuntimeError(f"generator {cmd}: {reply}")

    def send_log(self) -> dict:
        self.command("STOP")
        self.proc.wait(timeout=30)
        with open(os.path.join(self.out, "send_log.json"),
                  encoding="utf-8") as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def _iso_epoch(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def run(spark_env, seed: int, plan, seconds: float, trace: bool,
        work: str, spans: probes.Spans, rss: probes.RssSampler) -> dict:
    """One loop run. ``spark_env.session`` is the live session; the
    returned dict carries the end-to-end metrics, per-layer metrics,
    attempted/failed counts and set-up parts."""
    spark = spark_env.session
    # the fixed-rate segment sends for ``seconds``; its last reports and the
    # drain take about half as long again
    seg = gen.segments(plan.warm, int(round(plan.rate * seconds)),
                       plan.backlog)
    last = {k: gen.event_ts_us(r.stop - 1) for k, r in seg.items()}
    table = os.path.join(work, "state")
    listener = ProgressLog() if trace else None
    timeout_s = 120.0

    with spans.span("setup.generator") as sp_gen:
        g = Generator(seed, plan, seconds, work)
    rss.exclude.add(g.proc.pid)

    def cpu_now() -> float:  # the system under test, not the generator
        return probes.tree_cpu_s(frozenset(rss.exclude))

    rec = Recorder(table + "_MANIFEST", trace, cpu_now)
    q = None
    try:
        if listener is not None:
            spark.streams.addListener(listener)
        jobs_before = set(spark.sparkContext.statusTracker().getJobIdsForGroup())
        with spans.span("plans.construct") as sp_build:
            sse.register_sse_source(spark)
            raw = (spark.readStream.format("wikimedia_sse")
                   .option("url", f"http://127.0.0.1:{g.port}/recentchange")
                   .load())
            changelog = processor.page_state_changelog(
                sse.rc_from_sse(raw), move_closed_group(), fold.PurgeParams())
            q = sinks.state_snapshot_sink(
                changelog, table, os.path.join(work, "ckpt"),
                report=rec.render, edit_callback=rec.on_edit)
        construct_jobs = len(
            set(spark.sparkContext.statusTracker().getJobIdsForGroup())
            - jobs_before)
        with spans.span("setup.warm") as sp_warm:
            g.command("WARM")
            rec.wait_covered(last["warm"], timeout_s)

        stages0 = probes.stage_records(spark) if trace else {}
        n_warm_reports = len(rec.reports)
        t_fixed, cpu_fixed = time.time(), cpu_now()
        with spans.span("segment.fixed"):
            g.command("FIXED")
            rec.wait_covered(last["fixed"], timeout_s)
        cpu_release = cpu_now()
        with spans.span("segment.drain"):
            g.command("RELEASE")
            drained = rec.wait_covered(last["backlog"], timeout_s)
        t_end, cpu_end = time.time(), cpu_now()
        stages1 = probes.stage_records(spark) if trace else {}
        q.stop()
        q = None
        log = g.send_log()
    finally:
        if q is not None:
            q.stop()
        g.close()
        if listener is not None:
            spark.streams.removeListener(listener)

    release_at = log["release_at"]  # taken before the backlog was sent
    reports = rec.reports
    cover = [r["coverage_us"] for r in reports]

    def report_for(seq: int) -> dict | None:
        """The first report whose state includes event ``seq``."""
        i = bisect.bisect_left(cover, gen.event_ts_us(seq))
        return reports[i] if i < len(reports) else None

    fixed = seg["fixed"]
    lat_ms, missing = [], 0
    for seq in list(fixed) + list(seg["backlog"]):
        r = report_for(seq)
        if r is None:
            missing += 1
        elif seq in fixed:
            lat_ms.append((r["end"] - log["due"][seq]) * 1000.0)
    fixed_report = report_for(fixed.stop - 1)
    if fixed_report is None:
        raise RuntimeError("no report covered the fixed-rate segment")
    # The drain: from the release to the end of the report covering the
    # backlog's last event, in wall and CPU time. How the source's read
    # window splits the backlog into micro-batches is kept per batch in the
    # samples only. A drain that timed out ends at the give-up point; its
    # unreported events count as failed.
    drain = [(r["end"], r["cpu"]) for r in reports if release_at < r["end"]]
    if not drained:
        drain.append((t_end, cpu_end))
    marks = [(release_at, cpu_release)] + drain
    turnaround = [b[0] - a[0] for a, b in zip(marks, marks[1:])]
    batch_cpu = [b[1] - a[1] for a, b in zip(marks, marks[1:])]

    with spans.span("check"):
        mismatches, snapshot = _check(spark, os.path.join(work, "events.jsonl"),
                                      table, reports[-1])

    out = {
        "attempted": len(fixed) + len(seg["backlog"]),
        "failed": missing + mismatches,
        "timed_at": t_fixed,
        "setup_parts": {"generator_s": sp_gen.seconds,
                        "construct_s": sp_build.seconds,
                        "warm_s": sp_warm.seconds},
        "end_to_end": {
            "pass_cpu_s": marks[-1][1] - cpu_release,
            "op_cpu_ms": (1000.0 * (fixed_report["cpu"] - cpu_fixed)
                          / len(fixed)),
        },
        "aliases": {
            "events_per_s": plan.backlog / (marks[-1][0] - release_at),
            "drain_batch_s": statistics.median(turnaround),
            "report_latency_p50_ms": probes.percentile(lat_ms, 50),
            "report_latency_p90_ms": probes.percentile(lat_ms, 90),
        },
        "samples": {"latency": len(lat_ms), "reports": len(reports),
                    "drain_turnaround_s": turnaround,
                    "drain_batch_cpu_s": batch_cpu},
    }
    if trace:
        out["per_layer"] = layers(
            spark_env.cores, log, listener.records, reports[n_warm_reports:],
            t_fixed, release_at, t_end, probes.stage_delta(stages0, stages1),
            snapshot,
            construct_s=sp_build.seconds, construct_jobs=construct_jobs)
        out["progress"] = listener.records
    return out


def _check(spark, events_path: str, table: str, last_report: dict):
    """Compare the final live snapshot and the three top-5 lists of the
    last report with the batch page_state operator over the generator's
    own log (not the streaming fold). Returns (mismatch count, snapshot
    size); a mismatching page row or top-5 list counts once."""
    rc = sse.rc_from_sse(spark.read.text(events_path))
    expected = page_state.page_state(rc, with_collections=False).cache()
    try:
        # the batch operator has no protect flag; no event here protects
        cols = [c for c in fold.STATE_COLUMNS if c in expected.columns]
        want = expected.select(*cols).toPandas()
        snap = sinks.read_snapshot(table, spark).select(*cols).toPandas()
        want = want.sort_values("id", ignore_index=True)
        snap = snap.sort_values("id", ignore_index=True)
        if list(want["id"]) == list(snap["id"]):
            bad = int((~(want.eq(snap) | (want.isna() & snap.isna()))
                       .all(axis=1)).sum())
        else:
            bad = len(set(want["id"]) ^ set(snap["id"])) or 1
        now = expected.agg(F.max("updated")).first()[0]
        m = sinks.with_report_metrics(expected, now)
        for name, fn in zip(_REPORTS, (topk.most_edited, topk.biggest_movers,
                                       topk.most_vibrant)):
            if [tuple(r) for r in fn(m).collect()] != last_report["lists"].get(
                    name):
                bad += 1
    finally:
        expected.unpersist()
    vdir = open(table + "_MANIFEST", encoding="utf-8").read().strip()
    size = sum(os.path.getsize(os.path.join(vdir, f)) for f in os.listdir(vdir))
    return bad, {"rows": len(snap), "bytes": size}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layers(cores: int, log: dict, progress: list[dict], reports: list[dict],
            t0: float, t_release: float, t1: float, stages: dict,
            snapshot: dict, construct_s: float,
            construct_jobs: int) -> dict[str, float]:
    """Per-layer figures over the two measured segments (``t0`` to ``t1``);
    the source lag over the fixed-rate segment only (``t0`` to the
    backlog's release), where it shows the reader falling behind."""
    batches = [p for p in progress
               if p["numInputRows"] > 0 and _iso_epoch(p["timestamp"]) >= t0]
    dur = [p["durationMs"] for p in batches]
    ops = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
    due = sorted(log["due"])
    # events sent but not yet ingested, at the start of each batch
    ingested, lag = 0, [0]
    for p in progress:
        start = _iso_epoch(p["timestamp"])
        if t0 <= start < t_release:
            lag.append(bisect.bisect_right(due, start) - ingested)
        ingested += p["numInputRows"]
    merge = [r["promoted"] - r["last_cb"] for r in reports
             if r.get("promoted") and r["last_cb"]]
    report = [r["end"] - r["promoted"] for r in reports if r.get("promoted")]
    cb = [r["last_cb"] - r["first_cb"] for r in reports if r["first_cb"]]
    wall_ms = (t1 - t0) * 1000.0
    layers = {
        "plans.construct_s": construct_s,
        "barrier.construct_jobs": float(construct_jobs),
        "operators.execute_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "sources.read_ms": _median([d.get("latestOffset", 0)
                                    + d.get("getBatch", 0) for d in dur]),
        "sources.lag_events_max": float(max(lag)),
        "generator.late_ms_max": log["late_ms_max"],
        "streaming.batch_ms": _median([d["triggerExecution"] for d in dur]),
        "streaming.plan_ms": _median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.wal_ms": _median([d.get("walCommit", 0)
                                     + d.get("commitOffsets", 0) for d in dur]),
        "streaming.busy_frac": sum(d["triggerExecution"] for d in dur) / wall_ms,
        "processor.fold_ms": _median([o["allUpdatesTimeMs"] for o in ops]),
        "processor.events_per_batch": _median([p["numInputRows"]
                                               for p in batches]),
        "processor.groups_per_batch": _median([o["numRowsUpdated"]
                                               for o in ops]),
        "processor.commit_ms": _median([o["commitTimeMs"] for o in ops]),
        "processor.state_rows": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "processor.state_bytes": (float(ops[-1]["memoryUsedBytes"])
                                  if ops else 0.0),
        "processor.state_partitions": (float(ops[-1]["numShufflePartitions"])
                                       if ops else 0.0),
        "sinks.merge_ms": _median(merge) * 1000.0,
        "sinks.report_ms": _median(report) * 1000.0,
        "sinks.edit_callback_ms": _median(cb) * 1000.0,
        "sinks.snapshot_rows": float(snapshot["rows"]),
        "sinks.snapshot_bytes": float(snapshot["bytes"]),
    }
    layers.update(probes.executor_metrics(stages, (t1 - t0), cores))
    return layers
