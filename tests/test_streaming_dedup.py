"""Batch-stream equivalence for streaming exact dedup
(streaming/dedup.py): replaying the documents table as N ordered
micro-batches through dropDuplicates state must keep exactly one
survivor per distinct content digest — the same digest relation as the
batch dedup pass — with state genuinely carried across micro-batches.
"""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wikitrender_spark.schemas import load_table
from wikitrender_spark.sources.replay import read_ordered_chunks
from wikitrender_spark.streaming import dedup as sdedup
from wikitrender_spark.streaming.sizing import STATE_PARTITIONS_ENV, drain

SF_DIR = "/root/testdata/sf0.001"
DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs_with_planted_dups(spark):
    """The documents table plus 40 planted exact copies (the sf corpus
    has no content-identical rows, so duplicates are injected: higher
    doc_ids, same text — arriving in LATER micro-batches than their
    originals under doc_id-ordered replay)."""
    docs = load_table(spark, SF_DIR, "documents")
    copies = docs.filter(F.col("doc_id") < 40).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    return docs.unionByName(copies)


def _chunked_docs_stream(spark, work_dir, n_chunks=4):
    """Split the planted-dup documents into n_chunks doc_id-ordered
    parquet files with increasing mtimes; read_ordered_chunks then
    replays them as ordered micro-batches (same recipe as
    sources/replay.chunked_event_stream)."""
    docs = _docs_with_planted_dups(spark)
    n_rows = docs.count()
    step = max(1, (n_rows + n_chunks - 1) // n_chunks)
    ranked = docs.withColumn(
        "_rn", F.row_number().over(Window.orderBy("doc_id")) - 1
    )
    chunk_dir = os.path.join(work_dir, "doc_chunks")
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
    return read_ordered_chunks(spark, DOCS_SCHEMA, chunk_dir)


@pytest.fixture(scope="module")
def batch_digests(spark):
    rows = (
        _docs_with_planted_dups(spark)
        .select(F.md5("text").alias("digest"))
        .groupBy("digest")
        .count()
        .collect()
    )
    return {r["digest"]: r["count"] for r in rows}


def test_stream_dedup_equals_batch(spark, batch_digests):
    with tempfile.TemporaryDirectory() as d:
        stream = _chunked_docs_stream(spark, d, n_chunks=4)
        q = (
            sdedup.dedup_stream(stream)
            .writeStream.format("memory")
            .queryName("t_sdedup")
            .outputMode("append")
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("t_sdedup").select("doc_id", "digest").collect()
    digests = [r["digest"] for r in got]
    # exactly one survivor per distinct digest, none invented
    assert len(digests) == len(set(digests)) == len(batch_digests)
    assert set(digests) == set(batch_digests)
    # the planted copies were dropped...
    assert len(got) < sum(batch_digests.values())
    # ...and first arrival won: every survivor is an ORIGINAL doc_id
    # (the planted copies sort after all originals in the replay order),
    # proving state carried across micro-batches
    assert all(r["doc_id"] < 100_000 for r in got)


def test_stream_dedup_within_watermark(spark, batch_digests):
    """Watermarked variant: duplicates inside the horizon are dropped;
    with a horizon spanning the whole replay it matches global dedup."""
    with tempfile.TemporaryDirectory() as d:
        stream = _chunked_docs_stream(spark, d, n_chunks=3).withColumn(
            "ingest_ts", F.timestamp_micros(F.col("doc_id") * 1_000_000)
        )
        q = (
            sdedup.dedup_stream_within_watermark(
                stream, "ingest_ts", horizon="7 days"
            )
            .writeStream.format("memory")
            .queryName("t_sdedup_wm")
            .outputMode("append")
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        digests = [
            r["digest"] for r in spark.table("t_sdedup_wm").select("digest").collect()
        ]
    assert len(digests) == len(set(digests)) == len(batch_digests)


def test_ingest_dedup_replay_collapses_injected_dupes(spark, tmp_path):
    """wt_ingest_dedup core: the two-micro-batch injected-dupe replay
    (full table, then every event_id % INGEST_DUP_MOD == 0 re-emitted)
    must collapse to exactly one survivor per source event — and the
    injection itself must be non-degenerate (batch 2 is non-empty), so
    the dedup state is provably exercised ACROSS micro-batches."""
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_src = src.count()
    n_dupes = src.filter(F.col("event_id") % sdedup.INGEST_DUP_MOD == 0).count()
    assert n_dupes > 0, "degenerate injection: no event_id divisible"

    work = str(tmp_path / "work")
    survivors = sdedup.ingest_dedup_to_memory(spark, SF_DIR, work)
    assert survivors.count() == n_src
    assert survivors.select("event_id").distinct().count() == n_src

    # the replay really delivered the duplicates (dedup had work to do):
    # the raw chunk dir holds source + injected rows
    raw = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(work, "ingest_chunks")
    )
    assert raw.count() == n_src + n_dupes


def test_watermark_dedup_readmits_exactly_the_expired_dupes(spark, tmp_path):
    """wt_ingest_dedup_watermark core: the three-batch late-dupe replay
    through dropDuplicatesWithinWatermark re-admits EXACTLY the mod-7
    events whose event time falls at least the guard band below
    max_ts - 2H (their state expired before the sentinel batch's
    eviction sweep) — and drops every other re-emission. Both tails must
    be non-empty on the sf corpus or the check is degenerate."""
    from wikitrender_spark.operators.derive import read_events_raw

    src = read_events_raw(spark, SF_DIR).select("event_id", "ts")
    lo, hi = src.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    h_us = ((hi - lo) // 4 // 1_000_000) * 1_000_000
    cutoff = hi - 2 * h_us
    us = F.unix_micros("ts")
    mod7 = src.filter(F.col("event_id") % sdedup.INGEST_DUP_MOD == 0)
    expected_survive = {
        r.event_id
        for r in mod7.filter(
            us <= cutoff - sdedup.WATERMARK_GUARD_US
        ).collect()
    }
    expected_dropped = {
        r.event_id
        for r in mod7.filter(us >= cutoff + sdedup.WATERMARK_GUARD_US).collect()
    }
    assert expected_survive and expected_dropped, "degenerate split"

    work = str(tmp_path / "work")
    out = sdedup.ingest_dedup_watermark_to_memory(spark, SF_DIR, work)
    from collections import Counter

    counts = Counter(r.event_id for r in out.select("event_id").collect())
    assert counts.pop(-1) == 1  # the sentinel, exactly once
    twice = {k for k, c in counts.items() if c == 2}
    assert twice == expected_survive
    assert max(counts.values()) == 2
    # every source event survives at least once, incl. the dropped-dupe keys
    assert set(counts) == {r.event_id for r in src.select("event_id").collect()}
    assert expected_dropped <= {k for k, c in counts.items() if c == 1}


def test_admission_dedup_composes_with_keyed_pipeline(spark, tmp_path,
                                                    monkeypatch):
    """Full ingest chain in ONE streaming query (VERDICT r8 ask #7),
    composing both state stores: watermark-bounded admission dedup
    (dropDuplicatesWithinWatermark on seq) feeding the keyed page-state
    fold (applyInPandasWithState). The replay injects, after a boundary
    batch at watermark max-H:

    - IN-WATERMARK dupes (seq state still live) re-emitted at max+1s:
      the admission layer must drop them before the fold ever sees them;
    - EXPIRED dupes (original ts <= max-2H-guard, state evicted at the
      boundary sweep) at max+1s: re-admitted — the declared cost of the
      bounded-state variant — and folded a second time;
    - LATE rows beyond the horizon at their ORIGINAL ts: dropped by the
      watermark operator itself (measured: late input below the
      watermark never reaches dedup state).

    Final page state must equal the batch lifecycle fold over exactly
    (original rc) UNION (the re-admitted rows at their shifted ts) —
    byte-for-byte, both stores exercised across micro-batches."""
    from wikitrender_spark.operators import lifecycle
    from wikitrender_spark.operators.derive import read_events_raw, rc_events
    from wikitrender_spark.sources.replay import (
        EVENTS_SCHEMA,
        _derive,
        write_ordered_chunks,
    )
    from wikitrender_spark.streaming import processor
    from wikitrender_spark.streaming.windows import dedup_events_stream

    grp = F.concat(
        F.col("wiki"), F.lit("#"),
        F.regexp_extract(F.col("title"), r"_(\d+)$", 1),
    )
    raw = read_events_raw(spark, SF_DIR)
    rc = rc_events(spark, SF_DIR)
    lo, hi = rc.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    h_s = (hi - lo) // 4 // 1_000_000
    h_us = h_s * 1_000_000
    cutoff = hi - 2 * h_us
    guard = sdedup.WATERMARK_GUARD_US
    us = F.unix_micros("ts")
    shifted_ts = F.timestamp_micros(F.lit(hi + 1_000_000))

    boundary_seq = (
        rc.orderBy(F.desc("ts"), F.desc("seq")).select("seq").first()[0]
    )
    boundary = raw.filter(F.col("event_id") == boundary_seq)
    dup17 = raw.filter(
        (F.col("event_id") % 17 == 0)
        & ((us <= cutoff - guard) | (us >= cutoff + guard))
    ).withColumn("ts", shifted_ts)
    late23 = raw.filter(
        (F.col("event_id") % 23 == 0)
        & (F.col("event_id") % 17 != 0)
        & (us <= cutoff - guard)
    )

    # expected: original rc + the EXPIRED dupes (derived at shifted ts)
    readmit_raw = raw.filter(
        (F.col("event_id") % 17 == 0) & (us <= cutoff - guard)
    ).withColumn("ts", shifted_ts)
    readmits = _derive(spark, readmit_raw)
    assert readmits.count() > 0, "degenerate: no expired dupes re-admitted"
    assert (
        dup17.count() > readmit_raw.count()
    ), "degenerate: no live-state dupes injected"
    assert late23.count() > 0, "degenerate: no late rows injected"
    expected_rc = rc.unionByName(readmits)
    want = sorted(
        map(tuple, lifecycle.replay_lifecycle(expected_rc, grp).collect())
    )

    chunk_dir = str(tmp_path / "admit_chunks")
    write_ordered_chunks((raw, boundary, dup17, late23), chunk_dir)
    stream_raw = read_ordered_chunks(spark, EVENTS_SCHEMA, chunk_dir)
    rc_stream = _derive(spark, stream_raw)
    deduped = dedup_events_stream(rc_stream, watermark_delay=f"{h_s} seconds")
    cl = processor.page_state_changelog(deduped, grp)
    # state at the session's 4 partitions, as for every fold test
    monkeypatch.setenv(STATE_PARTITIONS_ENV, "4")
    t = drain(cl, chunk_dir, "update", python_heavy=True)
    got = sorted(map(tuple, processor.final_state(t).collect()))
    assert got == want


def _nd_rows(spark, t0, *items):
    import datetime as dt

    return spark.createDataFrame(
        [(i, txt, t0 + dt.timedelta(seconds=s)) for (i, txt, s) in items],
        "doc_id long, text string, ingest_ts timestamp",
    )


def test_neardup_admission_within_watermark(spark, tmp_path):
    """The streaming near-dup admission (round 13): originals and a
    genuinely new doc admit with ALL bands fresh; a cross-batch
    near-dup (original text + one appended word — most shingles
    shared) is BLOCKED; a <3-token doc bypasses on the stateless
    branch (no emission latency, neardup_checked=false); the flush row
    that advances the watermark never passes its own timestamp. The
    blocked/admitted split is then cross-checked against the BATCH
    band derivation: the blocked doc shares >= 1 (band_idx, band_key)
    with its original, and admitted checked docs' band sets are
    pairwise disjoint (the admission rule, verified independently)."""
    import datetime as dt

    from wikitrender_spark.functions import similarity as S
    from wikitrender_spark.operators.dedup import _shingles
    from wikitrender_spark.functions import text as T
    from wikitrender_spark.sources.replay import write_ordered_chunks

    t0 = dt.datetime(2026, 1, 1)
    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    long_b = "one two three four five six seven eight nine ten " * 3
    near_a = long_a + "tailword"
    new_c = ("completely different words appear in this document body "
             "here now ok fine")
    chunk_dir = str(tmp_path / "nd_chunks")
    write_ordered_chunks(
        (
            _nd_rows(spark, t0, (1, long_a, 0), (2, long_b, 0),
                     (3, "tiny doc", 0)),
            _nd_rows(spark, t0, (4, near_a, 30), (5, new_c, 30)),
            _nd_rows(spark, t0,
                     (99, "flush words here padding tokens more words "
                          "again and again", 700)),
        ),
        chunk_dir,
    )
    stream = read_ordered_chunks(
        spark, "doc_id long, text string, ingest_ts timestamp", chunk_dir
    )
    out = sdedup.neardup_admission_within_watermark(
        stream, horizon="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("nd_admit")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["n_fresh_bands"], r["neardup_checked"])
        for r in spark.table("nd_admit").collect()
    }
    spark.catalog.dropTempView("nd_admit")
    assert set(got) == {1, 2, 3, 5}, got
    assert got[1] == (4, True) and got[2] == (4, True) and got[5] == (4, True)
    assert got[3] == (0, False)  # bypass: no shingles, no evidence

    # independent batch-side band derivation: blocked 4 shares a band
    # with admitted 1; admitted checked docs are pairwise disjoint
    batch = _nd_rows(spark, t0, (1, long_a, 0), (2, long_b, 0),
                     (4, near_a, 30), (5, new_c, 30))
    bands = {
        r["doc_id"]: set(enumerate(r["b"]))
        for r in batch.select(
            "doc_id",
            S.lsh_bands(
                S.minhash_signature(
                    F.array_distinct(_shingles(T.token_hashes(F.col("text")))),
                    16,
                ),
                4,
                4,
            ).alias("b"),
        ).collect()
    }
    assert bands[1] & bands[4], "near-dup pair must share a band"
    for a, b in ((1, 2), (1, 5), (2, 5)):
        assert not (bands[a] & bands[b]), (a, b)


def test_neardup_admission_same_batch_at_most_one_admits(spark, tmp_path):
    """The documented same-batch semantics, pinned with EXACT copies
    (which share all four bands by construction — a one-word append
    can legitimately change a minimum in every band, colliding on
    none, as this test's first draft measured): per-bucket
    first-arrival is arbitrary WITHIN a batch, so of two same-batch
    docs sharing all bands, AT MOST ONE admits — one admits iff it
    wins every bucket; a split blocks both. Never both — that is the
    fail-safe claim (exact keep-one belongs to the upstream digest
    dedup)."""
    import datetime as dt

    from wikitrender_spark.sources.replay import write_ordered_chunks

    t0 = dt.datetime(2026, 1, 1)
    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    chunk_dir = str(tmp_path / "nd_mb_chunks")
    write_ordered_chunks(
        (
            _nd_rows(spark, t0, (1, long_a, 0), (2, long_a, 0)),
            _nd_rows(spark, t0,
                     (99, "flush words here padding tokens more words "
                          "again and again", 700)),
        ),
        chunk_dir,
    )
    stream = read_ordered_chunks(
        spark, "doc_id long, text string, ingest_ts timestamp", chunk_dir
    )
    out = sdedup.neardup_admission_within_watermark(
        stream, horizon="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("nd_mb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.table("nd_mb").collect()}
    spark.catalog.dropTempView("nd_mb")
    assert len(got & {1, 2}) <= 1, got


def test_lsh_band_keys_udf_matches_column_forms(spark):
    """The Pandas-UDF sketch front is BIT-compatible with the batch
    column forms on the full sf corpus plus edge cases: same band key
    strings per doc, [] for <3 tokens, NULL for NULL text. (The UDF
    exists because the per-row expression forms are measurably
    unusable in the streaming plan — see lsh_band_keys_py's
    docstring.)"""
    from wikitrender_spark.functions import similarity as S

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, "one two"), (9002, ""), (9003, None),
         (9004, "a b c"), (9005, "x  y\tz   w")],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    got = {
        r["doc_id"]: r["b"]
        for r in both.select(
            "doc_id", sdedup.lsh_band_keys_py()(F.col("text")).alias("b")
        ).collect()
    }
    # the independent side uses the BATCH path (explode/agg token rows
    # -> stored signatures -> lsh_bands over the stored column) — the
    # per-row nested expression forms are exactly what the UDF replaces
    # (this test's first draft used them and did not finish in 580 s,
    # re-confirming the docstring's measurement)
    from wikitrender_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(both.filter(F.col("text").isNotNull()))
    want = {
        r["doc_id"]: ([] if r["sentinel"] else list(r["b"]))
        for r in sig.select(
            "doc_id",
            (F.element_at("signature", 1) == S.EMPTY_SIG).alias("sentinel"),
            S.lsh_bands(F.col("signature"), 4, 4).alias("b"),
        ).collect()
    }
    assert got.pop(9003) is None  # NULL text -> NULL bands
    assert set(got) == set(want)
    for d in got:
        assert list(got[d]) == list(want[d]), d
    # non-degenerate: the corpus genuinely produces banded docs and the
    # edge rows exercise the empty class
    assert want[9001] == [] and want[9004] != []


def test_neardup_defaults_mirror_batch_tuning_constants():
    import inspect

    from wikitrender_spark.operators import dedup as bdedup

    sig = inspect.signature(sdedup.neardup_admission_within_watermark)
    assert sig.parameters["k"].default == bdedup.MINHASH_K
    assert sig.parameters["bands"].default == bdedup.LSH_BANDS
    assert sig.parameters["rows"].default == bdedup.LSH_ROWS
    sig2 = inspect.signature(sdedup.lsh_band_keys_py)
    assert sig2.parameters["k"].default == bdedup.MINHASH_K
    assert sig2.parameters["bands"].default == bdedup.LSH_BANDS
    assert sig2.parameters["rows"].default == bdedup.LSH_ROWS


def test_neardup_admission_readmits_expired_blocks_live(spark, tmp_path):
    """The watermark freshness trade, pinned for BAND-BUCKET state the
    way test_corpus_admission_watermark_readmits_expired_drops_live
    pins it for digests: with a 60 s horizon, a near-dup of content
    whose band buckets EXPIRED before the previous batch's eviction
    sweep is re-admitted, while a near-dup of still-live content is
    blocked. Same one-batch eviction-lag discipline as the events
    replay (state evicts at the END of a batch with that batch's
    watermark, so a sentinel batch sits between the watermark advance
    and the re-emission)."""
    import datetime as dt

    from wikitrender_spark.sources.replay import write_ordered_chunks

    t0 = dt.datetime(2026, 1, 1)
    mk_text = lambda seed: f"{seed} " + " ".join(
        f"word{seed}{i}" for i in range(30)
    )
    a, c, s = mk_text("alpha"), mk_text("charlie"), mk_text("sierra")
    chunk_dir = str(tmp_path / "nd_exp_chunks")
    write_ordered_chunks(
        (
            _nd_rows(spark, t0, (1, a, 0)),
            # watermark advancer: its END-of-batch watermark is 240 s
            _nd_rows(spark, t0, (2, c, 300)),
            # sentinel batch: runs UNDER watermark 240, and its end
            # applies the eviction sweep (A's buckets expire at 60)
            _nd_rows(spark, t0, (3, s, 300)),
            # A's near-dup: buckets expired -> RE-ADMITTED;
            # C's near-dup: C's buckets live until 360 -> BLOCKED
            _nd_rows(spark, t0, (4, a + " tailword", 300),
                     (5, c + " tailword", 300)),
            # flush: advances the watermark to 840 so every admitted
            # group emits; never emits itself
            _nd_rows(spark, t0, (99, mk_text("flush"), 900)),
        ),
        chunk_dir,
    )
    stream = read_ordered_chunks(
        spark, "doc_id long, text string, ingest_ts timestamp", chunk_dir
    )
    out = sdedup.neardup_admission_within_watermark(
        stream, horizon="60 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("nd_exp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.table("nd_exp").collect()}
    spark.catalog.dropTempView("nd_exp")
    assert got == {1, 2, 3, 4}, got  # 4 re-admitted, 5 blocked, 99 unemitted


def test_stream_band_buckets_oracle_agrees_on_sentinel_corpus(
    spark, tmp_path, monkeypatch
):
    """The dd_stream_band_buckets gate on a CONSTRUCTED corpus that
    exercises the SENTINEL leg the digit-free driver corpus never
    touches (its docs are all >= 3 tokens): two long near-identical
    docs (band collisions across parity chunks), one short doc (< 3
    tokens -> per-doc sentinel bucket), one distinct doc. The Spark
    replay and the DuckDB twin must agree row-for-row — pinning that
    the oracle's mh[1]-sentinel branch and the streaming sentinel
    buckets describe the same relation."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from wikitrender_spark.plans.pipeline_queries import (
        _BAND_REPLAY_T0,
        STREAM_BAND_BUCKETS_SQL,
    )
    from wikitrender_spark.sources.replay import write_ordered_chunks
    from wikitrender_spark.streaming.dedup import fresh_band_buckets

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        # EXACT copy of doc 0 in the ODD chunk: identical text shares
        # all four bands by construction, so cross-chunk suppression
        # is guaranteed to fire (a near-identical doc could, with LSH
        # luck, differ in every band — the first draft of this test did)
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "so short"),
        (3, "completely different content with many other words in here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = tuple(
        docs.filter(F.col("doc_id") % 2 == par).withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(_BAND_REPLAY_T0 + par)),
        )
        for par in (0, 1)
    )
    chunk_dir = str(tmp_path / "chunks")
    write_ordered_chunks(chunks, chunk_dir)
    stream = read_ordered_chunks(
        spark, "doc_id long, text string, ingest_ts timestamp", chunk_dir
    )
    fresh = fresh_band_buckets(stream, ts_col="ingest_ts", horizon="1 hour")
    monkeypatch.setenv(STATE_PARTITIONS_ENV, "4")
    out = drain(fresh, chunk_dir, "append")
    got = sorted(
        (
            int(r["band_idx"]),
            r["band_key"],
            int(r["ingest_ts"].timestamp()) - _BAND_REPLAY_T0,
        )
        for r in out.collect()
    )

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = sorted(
        (int(b), k, int(c))
        for b, k, c in con.sql(STREAM_BAND_BUCKETS_SQL).fetchall()
    )
    assert got == want
    # the sentinel leg actually fired: doc 2 has < 3 tokens
    assert (0, "_short_2", 0) in got
    # and cross-chunk suppression actually fired: doc 1 (odd chunk) is
    # an exact copy of doc 0 (even chunk), so ALL four of its bands
    # were first claimed in chunk 0 and must not re-emit — chunk 1
    # contributes exactly doc 3's four fresh bands
    keys1 = {k for b, k, c in got if c == 1}
    assert len(keys1) == 4, sorted(keys1)
