"""Streaming corpus-admission throughput vs micro-batch size (round 11).

VERDICT r10 flagged that the ~610 docs/s reading (4 micro-batches of
1,250 docs) was overhead-dominated and the "scales with batch size"
claim rested on plan shape only. This probe measures it: the SAME
admission chain (streaming/corpus.corpus_admission_stream) drained
under Trigger.AvailableNow at several micro-batch sizes, 4 batches
each, against a noop sink (no driver-side collection in the timed
path). Larger runs replicate the sf0.1 corpus with a unique suffix
word per replica so every digest stays distinct — the digest-dedup
state grows exactly as it would on real unique content (verbatim
replicas would dedup away and flatter the dedup exchange).

Each size runs twice with fresh checkpoints: the first (cold) pass is
reported but excluded from the headline; the second (warm) pass is the
number. Each chunk is written as FILES_PER_CHUNK parquet files sharing
one mtime, replayed with maxFilesPerTrigger=FILES_PER_CHUNK — a
single-file chunk would pin the stateless projection (the expensive
regex/langid front) to ONE input partition per micro-batch, measuring
a single core instead of the chain. Prints ONE JSON line.

Usage: python tools/corpus_throughput_probe.py [--sizes 1250,5000,20000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wikitrender_spark.schemas import load_table
from wikitrender_spark.session import get_spark
from wikitrender_spark.streaming.corpus import corpus_admission_stream

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)
N_CHUNKS = 4
FILES_PER_CHUNK = 8


def build_chunks(
    spark, work_dir: str, batch_size: int, n_chunks: int = N_CHUNKS
) -> str:
    """Write n_chunks chunk directories of FILES_PER_CHUNK parquet
    files each (batch_size docs per chunk), mtime-ordered so
    maxFilesPerTrigger=FILES_PER_CHUNK replays one chunk per
    micro-batch. Replicas beyond the base corpus get fresh doc_ids
    (offset by max(doc_id)+1 per replica — no fixed-modulus collisions
    at any corpus size) and a suffix word carrying the FULL original
    doc_id, so every (doc_id, digest) is distinct even when the base
    corpus has more docs than some hash modulus."""
    docs = load_table(spark, SF_DIR, "documents")
    n_base = docs.count()
    id_span = docs.agg(F.max("doc_id")).head()[0] + 1
    total = n_chunks * batch_size
    n_reps = (total + n_base - 1) // n_base
    reps = spark.range(n_reps).withColumnRenamed("id", "_r")
    repl = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("_r") * id_span).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" rep"),
                    F.col("_r").cast("string"),
                    F.lit("x"),
                    F.col("doc_id").cast("string"),
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
            (F.col("_r") * n_base).alias("_base"),
        )
    )
    from pyspark.sql import Window

    ranked = repl.withColumn(
        "_rn",
        F.col("_base")
        + F.row_number().over(
            Window.partitionBy("_base").orderBy("doc_id")
        )
        - 1,
    ).filter(F.col("_rn") < total)
    chunk_dir = os.path.join(work_dir, f"chunks_{batch_size}")
    for i in range(n_chunks):
        part = ranked.filter(
            (F.col("_rn") >= i * batch_size)
            & (F.col("_rn") < (i + 1) * batch_size)
        ).select("doc_id", "text", "lang", "source", "n_chars")
        path = os.path.join(chunk_dir, f"chunk_{i:04d}")
        part.repartition(FILES_PER_CHUNK).write.mode("overwrite").parquet(path)
        ts = time.time() + i
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
    return chunk_dir


def drain_once(spark, chunk_dir: str, ckpt: str) -> tuple[float, int]:
    """Returns (elapsed_s, final digest-state rows). The state reading
    comes from the engine's own progress telemetry (stateOperators of
    the last progress event), so the growth curve beside the docs/s
    numbers is measured, not inferred from gate pass-rates."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_CHUNK)
        .option("recursiveFileLookup", "true")
        .parquet(chunk_dir)
    )
    t0 = time.monotonic()
    q = (
        corpus_admission_stream(stream)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # fail loud on a capped drain: a False return means the query is
    # STILL RUNNING — reporting ~600 s as elapsed and letting it overlap
    # the next measurement would silently corrupt every later number
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("drain exceeded 600 s; measurement aborted")
    elapsed = time.monotonic() - t0
    state_rows = 0
    prog = q.lastProgress or {}
    for op in prog.get("stateOperators", []):
        state_rows += op.get("numRowsTotal") or op.get(
            "numTotalStateRows", 0
        ) or 0
    return elapsed, state_rows


#: drain cap (s): the 100k-doc near-dup/full-chain points legitimately
#: run past 600 s at the measured ~1.3-1.5k docs/s front; a capped
#: drain still fails LOUD, just later
DRAIN_CAP_S = 1800


def build_ts_chunks(
    spark,
    work: str,
    batch_size: int,
    name: str,
    n_chunks: int = N_CHUNKS,
    spacing_s: int = 1,
) -> str:
    """Replicated-corpus chunks with an ingest_ts column — chunk i at
    t0 + i * spacing_s, plus one final watermark-advancing flush chunk
    past every other timestamp so every append-mode stateful stage
    emits. mtime-ordered for maxFilesPerTrigger replay. Shared by the
    near-dup and full-chain measurements (round 14 refactor of the r13
    inline layout); the soak measurement (round 15) stretches
    n_chunks/spacing_s so ingest time SPANS several horizons."""
    import datetime as dt

    chunk_dir = build_chunks(spark, work, batch_size, n_chunks)
    t0 = dt.datetime(2026, 1, 1)
    ts_dir = os.path.join(work, f"{name}_chunks_{batch_size}")
    for i in range(n_chunks):
        part = spark.read.schema(DOCS_SCHEMA).parquet(
            os.path.join(chunk_dir, f"chunk_{i:04d}")
        ).withColumn(
            "ingest_ts", F.lit(t0 + dt.timedelta(seconds=i * spacing_s))
        )
        path = os.path.join(ts_dir, f"chunk_{i:04d}")
        part.repartition(FILES_PER_CHUNK).write.mode("overwrite").parquet(path)
    flush = spark.createDataFrame(
        [(10**12, "flush words here padding tokens more words again "
          "and again", "en", "src", 58,
          t0 + dt.timedelta(hours=48, seconds=n_chunks * spacing_s))],
        DOCS_SCHEMA + ", ingest_ts timestamp",
    )
    fpath = os.path.join(ts_dir, f"chunk_{n_chunks:04d}")
    flush.coalesce(1).write.mode("overwrite").parquet(fpath)
    ts = time.time()
    for i in range(n_chunks + 1):
        p = os.path.join(ts_dir, f"chunk_{i:04d}")
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (ts + i, ts + i))
    return ts_dir


def _drain_ts_stream(spark, rel_fn, ts_dir: str, ckpt: str) -> tuple[float, list]:
    """Drain one watermarked admission relation built by rel_fn(stream)
    under AvailableNow; returns (elapsed_s, per-stage state telemetry
    as [(operatorName, numRowsTotal), ...] from the engine's own last
    progress event)."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA + ", ingest_ts timestamp")
        .option("maxFilesPerTrigger", FILES_PER_CHUNK)
        .option("recursiveFileLookup", "true")
        .parquet(ts_dir)
    )
    t0m = time.monotonic()
    q = (
        rel_fn(stream)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_CAP_S):
        q.stop()
        raise RuntimeError(f"drain exceeded {DRAIN_CAP_S} s; aborted")
    elapsed = time.monotonic() - t0m
    stages = [
        [
            op.get("operatorName", "?"),
            op.get("numRowsTotal") or op.get("numTotalStateRows", 0) or 0,
        ]
        for op in (q.lastProgress or {}).get("stateOperators", [])
    ]
    return elapsed, stages


def neardup_throughput(spark, work: str, batch_size: int) -> dict:
    """Round-13 measurement for the streaming near-dup admission
    (streaming/dedup.neardup_admission_within_watermark): the same
    replicated-corpus chunk replay the exact-admission curve uses,
    with ingest timestamps spaced one second per chunk and a horizon
    covering the whole replay (every band bucket stays live — the
    worst-case state), plus a final watermark-advancing flush chunk so
    the append-mode re-group emits. Reports docs/s over the replayed
    corpus and the engine's OWN state telemetry (band-bucket dedup
    rows + re-group rows), cold pass excluded."""
    from wikitrender_spark.streaming.dedup import (
        neardup_admission_within_watermark,
    )

    ts_dir = build_ts_chunks(spark, work, batch_size, "nd")
    total = N_CHUNKS * batch_size
    out = {}
    for tag in ("cold", "warm"):
        elapsed, stages = _drain_ts_stream(
            spark,
            lambda s: neardup_admission_within_watermark(
                s, horizon="24 hours"
            ),
            ts_dir,
            os.path.join(work, f"nd_{batch_size}_{tag}"),
        )
        out[tag] = {
            "s": round(elapsed, 2),
            "docs_per_s": round(total / elapsed, 0),
            "state_rows": [n for _name, n in stages],
            "stages": stages,
        }
    out["docs_total"] = total
    return out


def full_chain_throughput(spark, work: str, batch_size: int) -> dict:
    """Round-14 measurement (VERDICT r13 next-round #3, the r12 ask #6
    carryover sharpened): the FULL-OPTION production admission chain —
    Luhn card scrub FIRST, EXTENDED PII patterns, the n-gram NLL
    perplexity gate, AND the MinHash/LSH near-dup
    band admission — composed through
    corpus_admission_stream_within_watermark, i.e. every dial a
    production curation deployment turns on at once. Until this
    measurement the composed cost was only inferable by multiplying
    separately-measured factors; this records it directly, with the
    engine's own per-stage state telemetry (band-bucket dedup ->
    per-doc re-group -> digest dedup). Cold pass excluded, warm pass
    is the number."""
    from wikitrender_spark.functions.text import PII_PATTERNS_EXTENDED
    from wikitrender_spark.plans.pipeline_queries import ngram_model
    from wikitrender_spark.streaming.corpus import (
        corpus_admission_stream_within_watermark,
    )

    model = ngram_model(load_table(spark, SF_DIR, "documents"))
    ts_dir = build_ts_chunks(spark, work, batch_size, "full")
    total = N_CHUNKS * batch_size
    out = {}
    for tag in ("cold", "warm"):
        elapsed, stages = _drain_ts_stream(
            spark,
            lambda s: corpus_admission_stream_within_watermark(
                s,
                horizon="24 hours",
                patterns=PII_PATTERNS_EXTENDED,
                scrub_cards_first=True,
                nll_model=model,
                max_unit_nll=50.0,
                neardup=True,
            ),
            ts_dir,
            os.path.join(work, f"full_{batch_size}_{tag}"),
        )
        out[tag] = {
            "s": round(elapsed, 2),
            "docs_per_s": round(total / elapsed, 0),
            "stages": stages,
        }
    out["docs_total"] = total
    return out


def _drain_ts_stream_batches(
    spark, rel_fn, ts_dir: str, ckpt: str
) -> tuple[float, list]:
    """Like _drain_ts_stream, but returns PER-MICRO-BATCH telemetry
    from the engine's recentProgress ring (retention default 100 —
    far above any soak length here): one row per batch with its input
    rows and every stateful operator's (name, numRowsTotal). This is
    what the soak needs that the single lastProgress read cannot give:
    the state-size CURVE across batches, not its final point."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA + ", ingest_ts timestamp")
        .option("maxFilesPerTrigger", FILES_PER_CHUNK)
        .option("recursiveFileLookup", "true")
        .parquet(ts_dir)
    )
    t0m = time.monotonic()
    q = (
        rel_fn(stream)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_CAP_S):
        q.stop()
        raise RuntimeError(f"drain exceeded {DRAIN_CAP_S} s; aborted")
    elapsed = time.monotonic() - t0m
    return elapsed, _telemetry(q)


def _telemetry(q) -> list:
    """Per-micro-batch telemetry rows from a query's recentProgress
    ring (shared by the soak and the soak-restart composition)."""
    batches = []
    for prog in q.recentProgress:
        batches.append({
            "batch": prog.get("batchId"),
            "input_rows": prog.get("numInputRows", 0),
            "state": [
                [
                    op.get("operatorName", "?"),
                    op.get("numRowsTotal")
                    or op.get("numTotalStateRows", 0) or 0,
                ]
                for op in prog.get("stateOperators", [])
            ],
            # bytes beside rows: the 100 TB sizing figure is
            # bytes-of-state per live row, and the engine reports it
            # directly (memoryUsedBytes per stateful operator)
            "state_bytes": [
                op.get("memoryUsedBytes", 0)
                for op in prog.get("stateOperators", [])
            ],
        })
    return batches


def soak_plateau_summary(batches: list) -> dict:
    """Adjudicate boundedness from a soak's per-batch telemetry (pure
    python — pinned in tests/test_throughput_probe.py). Per batch the
    TOTAL state rows across operators is the series; the verdict
    compares the last third's max against the middle third's max:
    bounded state rises while ingest time fills the first horizon,
    then eviction holds it — if the tail's max exceeds the middle's by
    more than 10% the state is still growing and the horizon is NOT
    bounding it (exactly the failure a linear-state bug would show,
    which a final-point reading can never distinguish from plateau)."""
    series = [
        sum(rows for _name, rows in b.get("state", []))
        for b in batches
        if b.get("input_rows", 0) > 0
    ]
    n = len(series)
    if n < 6:
        return {"series": series, "verdict": "too-short"}
    third = n // 3
    mid_max = max(series[third:2 * third])
    tail_max = max(series[2 * third:])
    # mid_max == 0 must not fall through to "growing" (ADVICE r15: an
    # all-zero state series is trivially bounded, and a truthiness
    # guard misread it as growth). Zero mid with nonzero tail IS
    # growth (state appeared only at the end); zero everywhere is a
    # distinct no-state verdict so a soak that never built state reads
    # as "nothing measured", not as a bounded pass.
    if mid_max == 0:
        verdict = "no-state" if tail_max == 0 else "growing"
    else:
        verdict = "bounded" if tail_max <= 1.10 * mid_max else "growing"
    return {
        "series": series,
        "peak": max(series),
        "final": series[-1],
        "mid_max": mid_max,
        "tail_max": tail_max,
        "tail_over_mid": round(tail_max / mid_max, 3) if mid_max else None,
        "verdict": verdict,
    }


def soak_state_bounded(
    spark,
    work: str,
    batch_size: int,
    n_batches: int = 12,
    horizon: str = "2 hours",
    spacing_s: int = 1800,
    state_store: str = "default",
) -> dict:
    """Round-15 soak: the FULL-OPTION admission chain (cards-first
    Luhn scrub + extended PII + UDF NLL gate + near-dup band admission
    + digest dedup — the r14-measured configuration) drained over
    n_batches micro-batches whose ingest timestamps SPAN several
    horizons (spacing 30 min vs a 2 h horizon by default), so the
    engine must EVICT state mid-run. Every prior throughput point
    (r13/r14) replayed chunks 1 s apart under a covering horizon —
    worst-case state, but structurally unable to show eviction
    working; SCALE.md's 'horizon-bounded state' claim rested on the
    semantics tests alone. The soak turns it into a measured curve:
    per-batch state totals from the engine's own recentProgress
    telemetry, with the plateau adjudicated by soak_plateau_summary.
    Replicated docs are globally UNIQUE (build_chunks' suffix-word
    construction), so nothing dedups away: any plateau is eviction,
    never collapse. state_store="rocksdb" runs
    the drain under the RocksDB provider — the store a real 100 TB
    deployment uses (spill-to-disk state instead of executor heap);
    the provider conf is set for the drain and restored after."""
    from wikitrender_spark.functions.text import PII_PATTERNS_EXTENDED
    from wikitrender_spark.plans.pipeline_queries import ngram_model
    from wikitrender_spark.streaming.corpus import (
        corpus_admission_stream_within_watermark,
    )

    ts_dir = build_ts_chunks(
        spark, work, batch_size, "soak", n_chunks=n_batches,
        spacing_s=spacing_s,
    )
    model = ngram_model(load_table(spark, SF_DIR, "documents"))
    total = n_batches * batch_size
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    if state_store == "rocksdb":
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        elapsed, batches = _drain_ts_stream_batches(
            spark,
            lambda s: corpus_admission_stream_within_watermark(
                s,
                horizon=horizon,
                patterns=PII_PATTERNS_EXTENDED,
                scrub_cards_first=True,
                nll_model=model,
                max_unit_nll=50.0,
                neardup=True,
            ),
            ts_dir,
            os.path.join(work, f"soak_{batch_size}_{state_store}"),
        )
    finally:
        if state_store == "rocksdb":
            if prev_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev_provider)
    return {
        "state_store": state_store,
        "docs_total": total,
        "n_batches": n_batches,
        "batch_size": batch_size,
        "horizon": horizon,
        "spacing_s": spacing_s,
        "s": round(elapsed, 2),
        "docs_per_s": round(total / elapsed, 0),
        "per_batch": batches,
        "plateau": soak_plateau_summary(batches),
    }


def soak_restart_equivalence(
    spark,
    work: str,
    batch_size: int,
    n_batches: int = 12,
    horizon: str = "2 hours",
    spacing_s: int = 1800,
    restart_after: int = 9,
) -> dict:
    """Soak x recovery composition (round 16, VERDICT r15 next-round
    #4 — the one untested interaction between the r15 soak and the r15
    restart pins): the SAME full-option soak, but the query is KILLED
    mid-drain — q.stop() once `restart_after` input batches have
    completed, i.e. right around the first eviction on the default
    curve — and a second query restores from the checkpoint and
    finishes. The claim under test: recovery neither LEAKS horizon
    state (the post-restart curve would plateau higher) nor RESETS it
    (the curve would dip to zero and re-climb); the merged state curve
    plateaus exactly like the uninterrupted soak's, and the ADMITTED
    SET is byte-identical. Unlike the pinned tests (clean AvailableNow
    stop), this is a hard interrupt: the in-flight batch is torn down
    and re-runs under the restarted query with the same batchId — the
    merged telemetry keeps the LAST occurrence per batchId — and the
    sink stays exactly-once through its _spark_metadata commit log
    (orphan files from the killed batch are invisible to the readback).
    The sink is parquet (doc_id projection), not noop, precisely so
    admitted-set equivalence is checkable; throughput is therefore not
    comparable to the noop soak numbers and is not reported."""
    from wikitrender_spark.functions.text import PII_PATTERNS_EXTENDED
    from wikitrender_spark.plans.pipeline_queries import ngram_model
    from wikitrender_spark.streaming.corpus import (
        corpus_admission_stream_within_watermark,
    )

    ts_dir = build_ts_chunks(
        spark, work, batch_size, "soakrst", n_chunks=n_batches,
        spacing_s=spacing_s,
    )
    model = ngram_model(load_table(spark, SF_DIR, "documents"))

    def start(ckpt: str, out_dir: str):
        stream = (
            spark.readStream.schema(DOCS_SCHEMA + ", ingest_ts timestamp")
            .option("maxFilesPerTrigger", FILES_PER_CHUNK)
            .option("recursiveFileLookup", "true")
            .parquet(ts_dir)
        )
        rel = corpus_admission_stream_within_watermark(
            stream,
            horizon=horizon,
            patterns=PII_PATTERNS_EXTENDED,
            scrub_cards_first=True,
            nll_model=model,
            max_unit_nll=50.0,
            neardup=True,
        )
        return (
            rel.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # --- interrupted run: kill after `restart_after` input batches
    ckpt_i = os.path.join(work, "soakrst_ckpt")
    out_i = os.path.join(work, "soakrst_out")
    q = start(ckpt_i, out_i)
    killed_after = None
    deadline = time.monotonic() + DRAIN_CAP_S
    while time.monotonic() < deadline and q.isActive:
        done = len([
            p for p in q.recentProgress if p.get("numInputRows", 0) > 0
        ])
        if done >= restart_after:
            killed_after = done
            q.stop()
            break
        time.sleep(0.25)
    q.awaitTermination(120)
    if killed_after is None:
        raise RuntimeError(
            f"drain finished before {restart_after} batches — nothing "
            "was interrupted; raise n_batches or lower restart_after"
        )
    phase1 = _telemetry(q)
    q2 = start(ckpt_i, out_i)
    if not q2.awaitTermination(DRAIN_CAP_S):
        q2.stop()
        raise RuntimeError(f"restart drain exceeded {DRAIN_CAP_S} s")
    phase2 = _telemetry(q2)
    # merge on batchId, last occurrence wins (the killed in-flight
    # batch re-runs under the SAME id after restore)
    merged: dict[int, dict] = {}
    for b in phase1 + phase2:
        merged[b["batch"]] = b
    combined = [merged[k] for k in sorted(merged)]

    # --- uninterrupted reference over the same chunks
    ckpt_u = os.path.join(work, "soakrst_ckpt_u")
    out_u = os.path.join(work, "soakrst_out_u")
    q3 = start(ckpt_u, out_u)
    if not q3.awaitTermination(DRAIN_CAP_S):
        q3.stop()
        raise RuntimeError(f"reference drain exceeded {DRAIN_CAP_S} s")
    reference = _telemetry(q3)

    # admitted-set equivalence through the sinks' commit logs
    admit_i = [r["doc_id"] for r in
               spark.read.parquet(out_i).select("doc_id").collect()]
    admit_u = [r["doc_id"] for r in
               spark.read.parquet(out_u).select("doc_id").collect()]
    return {
        "batch_size": batch_size,
        "n_batches": n_batches,
        "horizon": horizon,
        "spacing_s": spacing_s,
        "restart_after_batches": killed_after,
        "phase1_batches": len([
            b for b in phase1 if b["input_rows"] > 0
        ]),
        "phase2_batches": len([
            b for b in phase2 if b["input_rows"] > 0
        ]),
        "restarted_curve": combined,
        "uninterrupted_curve": reference,
        "restarted_plateau": soak_plateau_summary(combined),
        "uninterrupted_plateau": soak_plateau_summary(reference),
        "admitted_restarted": len(admit_i),
        "admitted_uninterrupted": len(admit_u),
        "admitted_rows_unique_restarted": len(set(admit_i)),
        "admitted_set_equal": set(admit_i) == set(admit_u),
        "admitted_count_equal": len(admit_i) == len(admit_u),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1250,5000,20000")
    ap.add_argument("--neardup", action="store_true",
                    help="measure the streaming near-dup admission at "
                    "EVERY --sizes batch size (round 14: the curve, "
                    "not one point)")
    ap.add_argument("--full", action="store_true",
                    help="measure the FULL-OPTION admission chain "
                    "(cards-first + extended PII + NLL gate + near-dup) "
                    "at every --sizes batch size")
    ap.add_argument("--soak", action="store_true",
                    help="drain the full-option chain over many "
                    "micro-batches whose ingest time spans several "
                    "horizons; report the per-batch state curve and "
                    "the plateau verdict (first --sizes entry is the "
                    "batch size)")
    ap.add_argument("--soak-restart", action="store_true",
                    help="soak x recovery composition: kill the soak "
                    "query mid-drain (after --soak-restart-after input "
                    "batches), restore from the checkpoint, and compare "
                    "the merged state curve + admitted set against an "
                    "uninterrupted run")
    ap.add_argument("--soak-restart-after", type=int, default=9,
                    help="completed input batches before the kill "
                    "(default 9 — right around the default curve's "
                    "first eviction)")
    ap.add_argument("--soak-batches", type=int, default=12)
    ap.add_argument("--soak-spacing", type=int, default=1800,
                    help="ingest seconds between consecutive batches")
    ap.add_argument("--soak-horizon", default="2 hours")
    ap.add_argument("--state-store", default="default",
                    choices=("default", "rocksdb"),
                    help="state-store provider for --soak (rocksdb = "
                    "the 100 TB deployment's spill-to-disk store)")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if args.soak_restart:
        work = tempfile.mkdtemp(prefix="corpus_soakrst_")
        try:
            res = soak_restart_equivalence(
                spark, work, sizes[0], args.soak_batches,
                args.soak_horizon, args.soak_spacing,
                args.soak_restart_after,
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(
            {"metric": "full_chain_soak_restart_equivalence",
             "sf_dir": SF_DIR, "result": res}
        ))
        return
    if args.soak:
        work = tempfile.mkdtemp(prefix="corpus_soak_")
        try:
            res = soak_state_bounded(
                spark, work, sizes[0], args.soak_batches,
                args.soak_horizon, args.soak_spacing, args.state_store,
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(
            {"metric": "full_chain_soak_state", "sf_dir": SF_DIR,
             "result": res}
        ))
        return
    if args.full:
        results = {}
        for bs in sizes:
            work = tempfile.mkdtemp(prefix="corpus_full_")
            try:
                results[str(bs)] = full_chain_throughput(spark, work, bs)
            finally:
                shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(
            {"metric": "full_chain_admission_throughput",
             "sf_dir": SF_DIR, "results": results}
        ))
        return
    if args.neardup:
        results = {}
        for bs in sizes:
            work = tempfile.mkdtemp(prefix="corpus_nd_")
            try:
                results[str(bs)] = neardup_throughput(spark, work, bs)
            finally:
                shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(
            {"metric": "neardup_admission_throughput", "sf_dir": SF_DIR,
             "results": results}
        ))
        return
    results = {}
    work = tempfile.mkdtemp(prefix="corpus_tp_")
    try:
        for bs in sizes:
            chunk_dir = build_chunks(spark, work, bs)
            cold, _ = drain_once(
                spark, chunk_dir, os.path.join(work, f"c{bs}_cold")
            )
            warm, state_rows = drain_once(
                spark, chunk_dir, os.path.join(work, f"c{bs}_warm")
            )
            total = N_CHUNKS * bs
            results[str(bs)] = {
                "batches": N_CHUNKS,
                "docs_total": total,
                "cold_s": round(cold, 2),
                "warm_s": round(warm, 2),
                "warm_docs_per_s": round(total / warm, 0),
                "state_rows_final": state_rows,
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "corpus_admission_throughput",
                "sf_dir": SF_DIR,
                "sizes": results,
            }
        )
    )


if __name__ == "__main__":
    main()
