"""Round-17 scale-adaptive state-partition sizing and the replay drain
(streaming/sizing.py): the derivation math, the WTR_STATE_PARTITIONS
override, the drain's conf scoping and cleanup, and — the load-bearing
claim — that a drained streaming query actually runs its stateful
operator at the scoped partition count while the outer session conf is
restored."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from wikitrender_spark.streaming import sizing


def test_derivation_clamps_both_ways(monkeypatch):
    monkeypatch.delenv(sizing.STATE_PARTITIONS_ENV, raising=False)
    t = sizing.STATE_TARGET_BYTES
    assert sizing.adaptive_state_partitions(0) == 1
    assert sizing.adaptive_state_partitions(1) == 1
    assert sizing.adaptive_state_partitions(t) == 1
    assert sizing.adaptive_state_partitions(t + 1) == 2
    assert sizing.adaptive_state_partitions(10 * t) == 10
    # a 100 TB replay derives the cap, not a local-core-shaped number
    assert (
        sizing.adaptive_state_partitions(100 << 40)
        == sizing.STATE_PARTITIONS_MAX
    )


def test_python_heavy_target_is_smaller(monkeypatch):
    monkeypatch.delenv(sizing.STATE_PARTITIONS_ENV, raising=False)
    two_mb = 2 << 20
    assert sizing.adaptive_state_partitions(two_mb) == 1
    assert sizing.adaptive_state_partitions(two_mb, python_heavy=True) == 16


def test_env_overrides(monkeypatch):
    monkeypatch.setenv(sizing.STATE_PARTITIONS_ENV, "7")
    assert sizing.adaptive_state_partitions(1 << 40) == 7
    assert sizing.adaptive_state_partitions(0, python_heavy=True) == 7


def test_dir_bytes_counts_tree(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b").write_bytes(b"y" * 5)
    assert sizing.dir_bytes(str(tmp_path)) == 15
    assert sizing.dir_bytes(str(tmp_path / "a")) == 10


@pytest.mark.parametrize(
    "uri", ["hdfs://namenode:8020/replay/chunks", "s3a://bucket/replay"]
)
def test_dir_bytes_refuses_non_local_uri(uri):
    """A non-local URI used to walk nothing and size the drain as empty
    (one state partition); it must fail and name the override."""
    with pytest.raises(ValueError, match=sizing.STATE_PARTITIONS_ENV):
        sizing.dir_bytes(uri)


_SIZED_KEYS = ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")


def _spy_conf_sets(monkeypatch):
    """Record every shuffle-partition / scan-split conf write."""
    from pyspark.sql.conf import RuntimeConfig

    sets = []
    real = RuntimeConfig.set

    def spy(self, key, value):
        if key in _SIZED_KEYS:
            sets.append((key, value))
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    return sets


def _dedup_stream(spark, src_dir):
    return (
        spark.readStream.schema("k long, v long").parquet(src_dir)
    ).dropDuplicates(["k"])


@pytest.fixture
def src_dir(spark, tmp_path):
    d = str(tmp_path / "src")
    spark.range(100).select(
        (F.col("id") % 40).alias("k"), F.col("id").alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def test_conf_scoped_and_restored(spark, src_dir, monkeypatch):
    """The drain scopes the derived state-partition count around the
    query's start and restores the outer session afterwards — on success
    and when the query fails to start."""
    monkeypatch.delenv(sizing.STATE_PARTITIONS_ENV, raising=False)
    before = {k: spark.conf.get(k) for k in _SIZED_KEYS}
    nb = sizing.dir_bytes(src_dir)
    sets = _spy_conf_sets(monkeypatch)
    sizing.drain(_dedup_stream(spark, src_dir), src_dir, "append")
    assert sets[0] == (
        "spark.sql.shuffle.partitions",
        str(sizing.adaptive_state_partitions(nb)),
    )
    assert {k: spark.conf.get(k) for k in _SIZED_KEYS} == before

    # python_heavy picks the pandas-fold target for the same input
    del sets[:]
    sizing.drain(
        _dedup_stream(spark, src_dir), src_dir, "append", python_heavy=True
    )
    assert sets[0] == (
        "spark.sql.shuffle.partitions",
        str(sizing.adaptive_state_partitions(nb, python_heavy=True)),
    )
    assert {k: spark.conf.get(k) for k in _SIZED_KEYS} == before

    # an invalid output mode fails at start(), inside the scope
    del sets[:]
    with pytest.raises(AnalysisException, match="(?i)complete"):
        sizing.drain(_dedup_stream(spark, src_dir), src_dir, "complete")
    assert sets, "the failing drain never scoped the conf"
    assert {k: spark.conf.get(k) for k in _SIZED_KEYS} == before


def test_drain_releases_view_and_checkpoint(spark, src_dir, tmp_path,
                                             monkeypatch):
    """A drain leaves no temp view in the session catalog and no
    checkpoint dir on disk, whether the query succeeds or fails."""
    ckpt_root = tmp_path / "tmp"
    ckpt_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(ckpt_root))

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    v0 = views()
    out = sizing.drain(_dedup_stream(spark, src_dir), src_dir, "append")
    with pytest.raises(AnalysisException):
        sizing.drain(_dedup_stream(spark, src_dir), src_dir, "complete")
    assert views() == v0
    assert os.listdir(ckpt_root) == []
    # the result was materialized off the sink before the view dropped
    assert out.count() == 40


def test_started_query_uses_scoped_count(spark, src_dir, monkeypatch):
    """A drain runs its stateful operator at the partition count
    WTR_STATE_PARTITIONS sets (the engine reports it per progress under
    stateOperators[].numShufflePartitions), and the result matches the
    derived-count run row-for-row — partition count must never change
    WHAT is computed."""
    import time

    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Parts(StreamingQueryListener):
        def __init__(self):
            self.seen = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen.extend(
                s.numShufflePartitions for s in event.progress.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def run():
        out = sizing.drain(_dedup_stream(spark, src_dir), src_dir, "append")
        return {r["k"] for r in out.select("k").collect()}

    monkeypatch.delenv(sizing.STATE_PARTITIONS_ENV, raising=False)
    derived = run()
    parts = Parts()
    spark.streams.addListener(parts)
    try:
        monkeypatch.setenv(sizing.STATE_PARTITIONS_ENV, "2")
        assert run() == derived == set(range(40))
        # listener delivery is asynchronous — wait for it to catch up
        deadline = time.monotonic() + 30
        while not parts.seen and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(parts)
    assert parts.seen, "no state operator progress reported"
    assert set(parts.seen) == {2}


def test_replay_scan_split_derivation(spark):
    par = max(1, spark.sparkContext.defaultParallelism)
    # tiny replay input clamps to the 1 MiB floor (local behavior
    # unchanged: single-digit tasks per chunk)
    assert sizing.replay_scan_split(spark, 2 << 20) == 1 << 20
    # huge input clamps to the 128 MiB ceiling (cluster default)
    assert sizing.replay_scan_split(spark, 100 << 40) == 128 << 20
    # mid-range derives input/(2*parallelism)
    mid = (4 << 20) * 2 * par
    assert sizing.replay_scan_split(spark, mid) == 4 << 20


def test_conf_scopes_scan_split_too(spark, src_dir, monkeypatch):
    """The drain scopes the derived scan split next to the count, and
    WTR_STATE_PARTITIONS replaces only the count."""
    monkeypatch.setenv(sizing.STATE_PARTITIONS_ENV, "3")
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    nb = sizing.dir_bytes(src_dir)
    sets = _spy_conf_sets(monkeypatch)
    sizing.drain(_dedup_stream(spark, src_dir), src_dir, "append")
    assert sets[:2] == [
        ("spark.sql.shuffle.partitions", "3"),
        ("spark.sql.files.maxPartitionBytes",
         str(sizing.replay_scan_split(spark, nb))),
    ]
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before
