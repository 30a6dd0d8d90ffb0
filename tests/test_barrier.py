"""Round-17 corpus_barrier (wikitrender_spark/barrier.py): the
WTR_BARRIER_MODE switch must change WHERE barrier blocks live, never
WHAT is computed — reliable mode must produce row-identical results on
a real barrier-using operator, and bad configurations must fail loud."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from wikitrender_spark import barrier


def _docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "one two three four five six seven"),
        (4, "totally different text body here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_local_mode_is_localcheckpoint(spark, monkeypatch):
    monkeypatch.delenv(barrier.BARRIER_MODE_ENV, raising=False)
    df = barrier.corpus_barrier(spark.range(5), eager=True)
    # a localCheckpoint-backed relation is a LogicalRDD cut
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 5


def test_unknown_mode_fails_loud(spark, monkeypatch):
    monkeypatch.setenv(barrier.BARRIER_MODE_ENV, "bogus")
    with pytest.raises(ValueError, match="bogus"):
        barrier.corpus_barrier(spark.range(1))


def test_reliable_mode_requires_dir(spark, monkeypatch):
    monkeypatch.setenv(barrier.BARRIER_MODE_ENV, "reliable")
    monkeypatch.delenv(barrier.CHECKPOINT_DIR_ENV, raising=False)
    sc = spark.sparkContext
    if not sc._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(ValueError, match=barrier.CHECKPOINT_DIR_ENV):
        barrier.corpus_barrier(spark.range(1))


def test_reliable_mode_same_results_on_real_operator(spark, monkeypatch):
    """The load-bearing equivalence: minhash_signatures rides
    doc_token_hashes' corpus_barrier; reliable mode must return the
    exact same rows (and actually write checkpoint files)."""
    from wikitrender_spark.operators.dedup import minhash_signatures

    docs = _docs(spark)
    monkeypatch.delenv(barrier.BARRIER_MODE_ENV, raising=False)
    local_rows = sorted(
        minhash_signatures(docs).collect(), key=lambda r: r["doc_id"]
    )

    ckpt_dir = tempfile.mkdtemp(prefix="barrier_reliable_")
    monkeypatch.setenv(barrier.BARRIER_MODE_ENV, "reliable")
    monkeypatch.setenv(barrier.CHECKPOINT_DIR_ENV, ckpt_dir)
    reliable_rows = sorted(
        minhash_signatures(docs).collect(), key=lambda r: r["doc_id"]
    )
    assert reliable_rows == local_rows
    # the reliable barrier really materialized to the checkpoint dir
    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert files, "reliable mode wrote no checkpoint files"


def test_session_reclaims_reliable_checkpoints(spark):
    """session.get_spark sets the cleaner flag that deletes reliable-mode
    checkpoint files once their DataFrame is released."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
