"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload loop_hot --seed 1 --seconds 10 --trace 0

Workloads and metrics are defined in ``perfbench/spec.py`` (which also
renders ``BENCHMARK.json``). The run:

- makes its inputs from ``--seed`` (tables for ``batch_headline``, the
  generator's events for the loops);
- measures for about ``--seconds`` seconds at ``local[<cores>]``, cores
  defaulting to the CPUs this process may use;
- checks the outputs outside the timed region;
- prints a readable table, then as its last stdout line one JSON object
  ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
  metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``;
- writes the full run record (spans, progress records, samples) under
  ``bench_runs/perfbench/``.

Everything it writes stays inside the checkout: work files go to
``.benchdata/perfbench/`` and are removed when the run ends.
"""

from __future__ import annotations

import time

_T_PROCESS = time.time()

import argparse
import json
import os
import shutil
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(_HERE)


class SparkEnv:
    """The session under test, started once: the start launches the JVM."""

    def __init__(self, cores: int):
        from wikitrender_spark.session import get_spark

        self.cores = cores
        t = time.perf_counter()
        self.session = get_spark(cpus=cores)
        self.session.sparkContext.setLogLevel("ERROR")
        self.session.range(1).count()
        self.start_s = time.perf_counter() - t

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited
        (the gateway JVM exits when its stdin closes)."""
        from pyspark import SparkContext

        self.session.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)


def _prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and let
    Spark's Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")))


def select_metrics(spec, trace: bool, e2e: dict, layers: dict) -> dict:
    """The result line's metrics: every end-to-end metric untraced, every
    per-layer metric traced (0 for a layer the workload does not run)."""
    if trace:
        chosen = [(m, layers.get(m.name, 0.0)) for m in spec.PER_LAYER]
    else:
        chosen = [(m, e2e[m.name]) for m in spec.END_TO_END]
    return {m.name: {"value": float(v), "unit": m.unit} for m, v in chosen}


def _table(res: dict, spec) -> str:
    lines = [f"perfbench {res['workload']} seed={res['seed']} "
             f"local[{res['cores']}] trace={res['trace']}"]
    lines.append(f"  {'failed_ops_ratio':28s} {res['failed_ops_ratio']:.6g} "
                 f"ratio ({res['failed']}/{res['attempted']})")
    for name, value in res["aliases"].items():
        lines.append(f"  {name:28s} {value:.6g} {spec.ALIAS_UNITS[name]}")
    for name, m in res["metrics"].items():
        lines.append(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="perfbench: one workload run")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] for the session (default: usable CPUs)")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, _HERE)
    import spec

    if args.workload not in spec.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(spec.WORKLOADS)}")
    work = os.path.join(ROOT, ".benchdata", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work: str) -> int:
    import probes
    import pyspark  # noqa: F401  (fails here without the toolchain)
    import wikitrender_spark  # noqa: F401  (fails here outside a checkout)

    if args.workload == "batch_headline":
        import batch as workload
    else:
        import loop as workload
    imports_s = time.time() - _T_PROCESS

    trace = bool(args.trace)
    spans = probes.Spans(enabled=trace)
    with probes.RssSampler() as rss:
        with spans.span("session.start"):
            env = SparkEnv(args.cpus)
        try:
            if args.workload == "batch_headline":
                out = workload.run(env, args.seed, spec.BATCH_QUERIES,
                                   args.seconds, trace, work, spans)
            else:
                out = workload.run(env, args.seed, spec.LOOPS[args.workload],
                                   args.seconds, trace, work, spans, rss)
        finally:
            env.stop()

    # process start to the first timed operation, in wall time
    setup_s = out["timed_at"] - _T_PROCESS
    e2e = {"setup_s": setup_s, **out["end_to_end"]}
    aliases = {**out["aliases"], "peak_rss_mb": rss.peak / 2**20}
    layers = {}
    if trace:
        layers = {"session.start_s": env.start_s, **out["per_layer"],
                  "trace.pass_cpu_s": out["end_to_end"]["pass_cpu_s"]}
    metrics = select_metrics(spec, trace, e2e, layers)

    failed, attempted = out["failed"], out["attempted"]
    res = {
        "workload": args.workload, "seed": args.seed, "cores": args.cpus,
        "seconds": args.seconds, "trace": args.trace,
        "attempted": attempted, "failed": failed,
        "failed_ops_ratio": failed / attempted,
        "aliases": aliases, "metrics": metrics,
        "end_to_end": e2e, "setup_parts": {"imports_s": imports_s,
                                           "session_start_s": env.start_s,
                                           **out["setup_parts"]},
        "samples": out["samples"], "spans": spans.records,
        "progress": out.get("progress", []),
    }
    runs = os.path.join(ROOT, "bench_runs", "perfbench")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-c{args.cpus}"
                           f"-t{args.trace}-{stamp}-{os.getpid()}.json"),
              "w", encoding="utf-8") as f:
        json.dump(res, f)

    print(_table(res, spec))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
