"""The batch workload: a fixed subset of ``bench.HEADLINE`` on seeded tables.

Each query is timed, in wall time and in process-tree CPU time, as
construction (the registry callable, including Catalyst analysis and any
barrier jobs it starts) plus execution (a noop write). The first pass
warms the session and is the output check: every query's result is
compared with its DuckDB oracle by ``tools/check_oracle``'s own
comparison; one untimed pass follows. Timed passes then run
round-robin, the seed shuffling the query order of each pass, until
``seconds`` have passed (two at least).
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import time

import duckdb

from wikitrender_spark.plans import registry
from wikitrender_spark.schemas import TESTDATA_TABLES

import probes
import tables

MIN_PASSES = 2
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_compare():
    """``compare`` from tools/check_oracle.py, imported as it is."""
    path = os.path.join(_ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check(spark, data: str, names: tuple[str, ...]) -> int:
    """Run each query once, collect it and compare it with its oracle.
    Returns the number of queries that failed or mismatched."""
    compare = _oracle_compare()
    queries, oracles = registry.all_queries(), registry.all_oracles()
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        failed = 0
        for name in names:
            try:
                got = queries[name](spark, data).toPandas()
                problems = compare(name, got, con.sql(oracles[name]).df())
            except Exception as exc:  # noqa: BLE001  (counted, then reported)
                problems = [f"error: {exc}"]
            if problems:
                failed += 1
                print(f"check {name}: {problems}")
        return failed
    finally:
        con.close()


def run(spark_env, seed: int, names: tuple[str, ...], seconds: float,
        trace: bool, work: str, spans: probes.Spans) -> dict:
    """One batch run; returns the same shape of dict as ``loop.run``."""
    spark = spark_env.session
    sc = spark.sparkContext
    data = os.path.join(work, "tables")
    with spans.span("setup.inputs") as sp_in:
        tables.write(seed, data)
    queries = registry.all_queries()
    with spans.span("setup.warm_check") as sp_warm:
        failed = check(spark, data, names)
        # one untimed pass more: the first pass after the check still
        # spends a third more CPU (JIT compilation) than later ones
        for name in names:
            queries[name](spark, data).write.format("noop").mode(
                "overwrite").save()
    rng = random.Random(seed)
    construct = {n: [] for n in names}
    execute = {n: [] for n in names}
    cpu = {n: [] for n in names}
    passes, pass_cpu = [], []
    pass_construct, pass_execute, pass_jobs = [], [], []
    attempted = len(names)
    stages0 = probes.stage_records(spark) if trace else {}
    timed_at = time.time()
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        order = list(names)
        rng.shuffle(order)
        c_tot = e_tot = cpu_tot = 0.0
        jobs = 0
        with spans.span("pass") as sp_pass:
            for name in order:
                attempted += 1
                group = f"construct-{len(passes)}-{name}"
                if trace:
                    sc.setJobGroup(group, group)
                cpu0 = probes.tree_cpu_s()
                try:
                    with spans.span(f"plans.construct.{name}") as c:
                        df = queries[name](spark, data)
                    if trace:
                        jobs += len(sc.statusTracker().getJobIdsForGroup(group))
                        sc.setJobGroup("execute", "execute")
                    with spans.span(f"operators.execute.{name}") as e:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001  (counted)
                    failed += 1
                    print(f"run {name}: {exc}")
                    continue
                cpu[name].append(probes.tree_cpu_s() - cpu0)
                construct[name].append(c.seconds)
                execute[name].append(e.seconds)
                c_tot += c.seconds
                e_tot += e.seconds
                cpu_tot += cpu[name][-1]
        passes.append(sp_pass.seconds)
        pass_cpu.append(cpu_tot)
        pass_construct.append(c_tot)
        pass_execute.append(e_tot)
        pass_jobs.append(jobs)
    wall = time.perf_counter() - t0

    lat_ms = [1000.0 * (c + e) for n in names
              for c, e in zip(construct[n], execute[n])]
    per_query_ms = [statistics.median(1000.0 * (c + e) for c, e in
                                      zip(construct[n], execute[n]))
                    for n in names if construct[n]]
    query_cpu_ms = [1000.0 * statistics.median(cpu[n]) for n in names
                    if cpu[n]]
    pass_s = statistics.median(passes)
    out = {
        "attempted": attempted,
        "failed": failed,
        "timed_at": timed_at,
        "setup_parts": {"inputs_s": sp_in.seconds,
                        "warm_check_s": sp_warm.seconds},
        "end_to_end": {
            "pass_cpu_s": statistics.median(pass_cpu),
            "op_cpu_ms": probes.geomean(query_cpu_ms),
        },
        "aliases": {
            "suite_s": pass_s,
            "query_geomean_s": probes.geomean(per_query_ms) / 1000,
            "query_p50_ms": probes.percentile(lat_ms, 50),
            "query_p90_ms": probes.percentile(lat_ms, 90),
        },
        "samples": {"passes": passes, "pass_cpu_s": pass_cpu,
                    "query_runs": len(lat_ms),
                    "query_median_ms": dict(zip(names, per_query_ms)),
                    "query_cpu_ms": dict(zip(names, query_cpu_ms))},
    }
    if trace:
        stages = probes.stage_delta(stages0, probes.stage_records(spark))
        out["per_layer"] = layers(construct, execute, pass_construct,
                                  pass_execute, pass_jobs, stages, wall,
                                  spark_env.cores)
    return out


def layers(construct: dict, execute: dict, pass_construct: list,
           pass_execute: list, pass_jobs: list, stages: dict, wall: float,
           cores: int) -> dict[str, float]:
    """Per-layer figures over the timed passes: per-pass totals and
    per-query medians (construction, execution), barrier jobs started
    during construction, executor totals."""
    out = {
        "plans.construct_s": statistics.median(pass_construct),
        "operators.execute_s": statistics.median(pass_execute),
        "barrier.construct_jobs": float(statistics.median(pass_jobs)),
        **probes.executor_metrics(stages, wall, cores),
    }
    for n in construct:
        out[f"plans.construct_s.{n}"] = statistics.median(construct[n])
        out[f"operators.execute_s.{n}"] = statistics.median(execute[n])
    return out
