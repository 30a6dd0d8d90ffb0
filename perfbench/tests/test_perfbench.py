"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import socket
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import batch  # noqa: E402
import generator as gen  # noqa: E402
import loop  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import spec  # noqa: E402
import tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# --- generator ---------------------------------------------------------------

SHAPE = gen.Shape(pages=50, zipf=1.1, editors=40)


def is_kept(event: dict) -> bool:
    """F1-F3 as the source applies them (mainspace, not a fixup)."""
    return (event["namespace"] == 0
            and "fixed error" not in event["comment"].lower())


def test_same_seed_same_events_other_seed_other_events():
    a = gen.render(5, SHAPE, 2000)
    assert a == gen.render(5, SHAPE, 2000)
    assert a != gen.render(6, SHAPE, 2000)


def test_events_cover_the_edit_branch_paths():
    evs = gen.render(1, SHAPE, 4000)
    comments = " ".join(e["comment"].lower() for e in evs)
    for kw in ("revert", "undid", "current event",
               "nominated page for deletion", "fixed error"):
        assert kw in comments
    assert any(e["bot"] for e in evs)
    assert any(e["user"] == "ClueBot NG" for e in evs)
    assert any(e["user"].startswith("10.") for e in evs)
    assert any(e["type"] == "new" for e in evs)
    assert any(e["namespace"] != 0 for e in evs)
    assert any(e["wiki"] == "dewiki" for e in evs)
    assert not all(is_kept(e) for e in evs)


def test_wire_shape_and_event_time():
    evs = gen.render(1, SHAPE, 1500, frozenset({1499}))
    e = evs[1234]
    assert set(e["length"]) == {"new", "old"}
    assert e["meta"]["offset"] == 1234
    assert e["meta"]["dt"] == "2024-01-01T00:00:01.234Z"
    assert is_kept(evs[1499]) and evs[1499]["comment"] == "copyedit"
    # event time spans well inside the five-minute purge grace
    assert gen.event_ts_us(250_000) - gen.event_ts_us(0) < 300 * 1_000_000


def test_generator_process_serves_segments(tmp_path):
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), "--seed", "3",
         "--pages", "20", "--zipf", "1.0", "--editors", "5", "--warm", "3",
         "--rate", "200", "--fixed-seconds", "0.05", "--backlog", "4",
         "--out", str(tmp_path), "--accept-timeout", "20"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        port = int(proc.stdout.readline().split()[1])
        with socket.create_connection(("127.0.0.1", port), timeout=20) as s:
            s.sendall(b"GET /recentchange HTTP/1.1\r\nHost: x\r\n\r\n")
            for cmd in ("WARM", "FIXED", "RELEASE", "STOP"):
                proc.stdin.write(cmd + "\n")
                proc.stdin.flush()
                assert proc.stdout.readline().split()[:2] == ["OK", cmd]
            body = b""
            while chunk := s.recv(65536):
                body += chunk
        assert proc.wait(timeout=20) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert body.startswith(b"HTTP/1.1 200 OK")
    assert body.count(b"\ndata: ") == 3 + 10 + 4
    with open(tmp_path / "send_log.json", encoding="utf-8") as f:
        log = json.load(f)
    assert log["segments"] == {"warm": [0, 3], "fixed": [3, 13],
                               "backlog": [13, 17]}
    assert len(log["due"]) == 17
    with open(tmp_path / "events.jsonl", encoding="utf-8") as f:
        assert [json.loads(x) for x in f] == gen.render(
            3, gen.Shape(20, 1.0, 5), 17, frozenset({2, 12, 16}))


# --- batch tables ------------------------------------------------------------

def test_tables_are_seeded():
    a, b, c = tables.build(4), tables.build(4), tables.build(5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["events"].column("ts").type.unit == "us"
    assert all(len(v) == 64 for v in a["embeddings"].column("embedding")
               .to_pylist()[:5])


def test_batch_queries_are_headline_rows():
    import bench

    assert set(spec.BATCH_QUERIES) <= set(bench.HEADLINE)


# --- BENCHMARK.json and the metrics a run emits ------------------------------

def test_benchmark_json_is_rendered_from_spec(bench_json):
    assert bench_json == spec.benchmark_json()


def test_benchmark_json_within_contract(bench_json):
    b = bench_json
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= b["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in b[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(b["per_layer"]) <= 128
    for p in b["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))


def test_per_layer_metrics_map_to_end_to_end_and_workloads():
    e2e = {m.name for m in spec.END_TO_END}
    for m in spec.PER_LAYER:
        assert m.moves in e2e, m.name
        assert m.where and set(m.where) <= set(spec.WORKLOADS), m.name


def test_emitted_metric_names_and_units_match(bench_json):
    e2e = {m.name: 1.0 for m in spec.END_TO_END}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        got = run.select_metrics(spec, trace, e2e, {})
        assert [(n, v["unit"]) for n, v in got.items()] == [
            (m["name"], m["unit"]) for m in bench_json[key]]


def test_every_layer_figure_is_a_declared_metric():
    """The names the workloads compute are exactly the per-layer list."""
    stages = dict.fromkeys(probes._STAGE_FIELDS, 1)
    names = list(spec.BATCH_QUERIES)
    from_batch = batch.layers({n: [1.0] for n in names},
                              {n: [1.0] for n in names}, [1.0], [1.0], [0],
                              stages, 1.0, 4)
    progress = [{
        "timestamp": "2024-01-01T00:00:01.000Z", "numInputRows": 10,
        "durationMs": {"triggerExecution": 5, "addBatch": 4},
        "stateOperators": [{"allUpdatesTimeMs": 1, "numRowsUpdated": 2,
                            "commitTimeMs": 1, "numRowsTotal": 3,
                            "memoryUsedBytes": 4, "numShufflePartitions": 4}],
    }]
    reports = [{"first_cb": 1.0, "last_cb": 2.0, "promoted": 3.0, "end": 4.0}]
    from_loop = loop.layers(4, {"due": [0.0], "late_ms_max": 1.0}, progress,
                            reports, 0.0, 5.0, 10.0, stages,
                            {"rows": 1, "bytes": 1}, 1.0, 0)
    from_run = {"session.start_s", "trace.pass_cpu_s"}
    declared = {m.name for m in spec.PER_LAYER}
    assert set(from_batch) | set(from_loop) | from_run == declared


def test_run_records_stay_outside_the_tracked_tree():
    with open(os.path.join(ROOT, ".gitignore"), encoding="utf-8") as f:
        ignored = {line.strip() for line in f}
    assert {"bench_runs/", ".benchdata/"} <= ignored
    assert run.ROOT == ROOT
