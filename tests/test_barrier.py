"""wikitrender_spark/barrier.py, the one lineage cut: the
WTR_BARRIER_MODE switch must change WHERE barrier blocks live, never
WHAT is computed — reliable mode must produce row-identical results on
real barrier-using operators, bad configurations must fail loud, a lazy
cut must keep its source's SQL metrics alive, and no other package code
may cut lineage."""

from __future__ import annotations

import gc
import os
import re
import time
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from wikitrender_spark import barrier

PACKAGE = Path(__file__).resolve().parent.parent / "wikitrender_spark"


def _docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "one two three four five six seven"),
        (4, "totally different text body here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _emb(spark):
    """12 vectors in 3 labeled cells, distinct enough that every cosine
    differs."""
    rows = [
        (i, [float((i * 7 + d * (i % 3 + 1)) % 11 + 1) for d in range(64)], i % 3)
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _files(root):
    return {
        os.path.join(r, f) for r, _d, fs in os.walk(root) for f in fs
    }


def test_only_barrier_cuts_lineage():
    """barrier.py is the one place in the package that calls
    localCheckpoint or checkpoint; every other cut goes through it."""
    call = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{n}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "barrier.py" or p.parent != PACKAGE
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not offenders, offenders


def test_local_mode_is_localcheckpoint(spark, monkeypatch):
    monkeypatch.delenv(barrier.BARRIER_MODE_ENV, raising=False)
    df = barrier.barrier(spark.range(5), eager=True)
    # a localCheckpoint-backed relation is a LogicalRDD cut
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 5


def test_unknown_mode_fails_loud(spark, monkeypatch):
    monkeypatch.setenv(barrier.BARRIER_MODE_ENV, "bogus")
    with pytest.raises(ValueError, match="bogus"):
        barrier.barrier(spark.range(1))


def test_reliable_mode_requires_dir(spark, monkeypatch):
    monkeypatch.setenv(barrier.BARRIER_MODE_ENV, "reliable")
    monkeypatch.delenv(barrier.CHECKPOINT_DIR_ENV, raising=False)
    sc = spark.sparkContext
    if not sc._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(ValueError, match=barrier.CHECKPOINT_DIR_ENV):
        barrier.barrier(spark.range(1))


def _reliable_dir(spark, monkeypatch, tmp_path_factory):
    """Switch to reliable mode on the session's checkpoint dir (a fresh
    temp dir when none is set yet) and return that dir."""
    current = spark.sparkContext._jsc.sc().getCheckpointDir()
    if current.isEmpty():
        ckpt_dir = str(tmp_path_factory.mktemp("barrier_reliable"))
    else:
        ckpt_dir = os.path.dirname(current.get().removeprefix("file:"))
    monkeypatch.setenv(barrier.BARRIER_MODE_ENV, "reliable")
    monkeypatch.setenv(barrier.CHECKPOINT_DIR_ENV, ckpt_dir)
    return ckpt_dir


def test_reliable_mode_same_results_on_real_operator(
    spark, monkeypatch, tmp_path, tmp_path_factory
):
    """The load-bearing equivalence, on three kinds of cut: the lazy
    nested-lambda cut under minhash_signatures (doc_token_hashes), the
    lazy IVF centroid table under ivf_topk, and the eager sink detach
    in sizing.drain. Reliable mode must return the exact same rows and
    actually write checkpoint files for each."""
    from wikitrender_spark.operators.ann import ivf_topk
    from wikitrender_spark.operators.dedup import minhash_signatures
    from wikitrender_spark.streaming import sizing

    src_dir = str(tmp_path / "src")
    spark.range(60).select(
        (F.col("id") % 20).alias("k"), F.col("id").alias("v")
    ).coalesce(1).write.parquet(src_dir)

    def drained():
        stream = spark.readStream.schema("k long, v long").parquet(src_dir)
        return sizing.drain(stream.dropDuplicates(["k"]), src_dir, "append")

    cases = {
        "minhash_signatures": lambda: minhash_signatures(_docs(spark)),
        "ivf_topk": lambda: ivf_topk(_emb(spark), [0, 1, 2], k=3),
        "sizing.drain": drained,
    }
    monkeypatch.delenv(barrier.BARRIER_MODE_ENV, raising=False)
    local = {
        name: sorted(build().collect())
        for name, build in cases.items()
    }
    assert all(local.values())

    ckpt_dir = _reliable_dir(spark, monkeypatch, tmp_path_factory)
    for name, build in cases.items():
        before = _files(ckpt_dir)
        out = build()  # held until the files are counted: the cleaner
        # deletes reliable checkpoint files once the DataFrame is released
        assert sorted(out.collect()) == local[name], name
        assert _files(ckpt_dir) - before, f"{name}: no checkpoint files"
        del out


def test_reliable_mode_rejects_a_different_dir(
    spark, monkeypatch, tmp_path, tmp_path_factory
):
    """A SparkContext checkpoint dir cannot change once set, so a
    WTR_CHECKPOINT_DIR naming another dir must raise, not be ignored."""
    ckpt_dir = _reliable_dir(spark, monkeypatch, tmp_path_factory)
    assert barrier.barrier(spark.range(3), eager=True).count() == 3
    monkeypatch.setenv(barrier.CHECKPOINT_DIR_ENV, ckpt_dir + "/")
    assert barrier.barrier(spark.range(3), eager=True).count() == 3
    monkeypatch.setenv(barrier.CHECKPOINT_DIR_ENV, str(tmp_path))
    with pytest.raises(ValueError, match=barrier.CHECKPOINT_DIR_ENV):
        barrier.barrier(spark.range(1))


def test_session_reclaims_reliable_checkpoints(spark):
    """session.get_spark sets the cleaner flag that deletes reliable-mode
    checkpoint files once their DataFrame is released."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def _final_plan_metric_ids(jdf):
    """Accumulator ids of every SQL metric in ``jdf``'s executed plan,
    descending into AQE query stages."""
    plan = jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    ids, stack = [], [plan]
    while stack:
        p = stack.pop()
        values = p.metrics().valuesIterator()
        while values.hasNext():
            ids.append(values.next().id())
        if p.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(p.plan())
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return ids


def _registered(ctx, acc_id):
    try:
        return ctx.get(acc_id).isDefined()
    except Py4JJavaError:  # collected, not yet removed by the cleaner
        return False


def _removed(ctx, acc_id):
    try:
        return ctx.get(acc_id).isEmpty()
    except Py4JJavaError:  # collected, not yet removed by the cleaner
        return False


def _collect_garbage(spark, ctx):
    """Python and JVM GC until a dropped sentinel accumulator has been
    removed by the ContextCleaner — then every accumulator that was
    unreachable at the same time has been removed too."""
    sentinel = spark.sparkContext._jsc.sc().longAccumulator()
    sid = sentinel.id()
    del sentinel
    deadline = time.monotonic() + 60
    while not _removed(ctx, sid):
        assert time.monotonic() < deadline, "the JVM never collected"
        gc.collect()
        spark._jvm.java.lang.System.gc()
        time.sleep(0.2)


def test_lazy_cut_keeps_source_metrics(spark, monkeypatch):
    """The first job to finish a lazy cut drops its source's closures,
    while tasks of jobs that started earlier still report into the
    source's SQL metrics (logged as 'Failed to update accumulator ...
    (Unknown class)'). So the source's metrics must stay registered on
    the driver for as long as the cut is alive."""
    monkeypatch.delenv(barrier.BARRIER_MODE_ENV, raising=False)
    ctx = spark._jvm.org.apache.spark.util.AccumulatorContext
    src = spark.range(0, 1000, numPartitions=4).groupBy(
        (F.col("id") % 2).alias("k")
    ).count()
    cut = barrier.barrier(src)
    ids = _final_plan_metric_ids(src._jdf)
    assert ids
    del src
    assert cut.count() == 2  # finishes the cut: its closures go
    _collect_garbage(spark, ctx)
    assert [i for i in ids if not _registered(ctx, i)] == []
