"""File-replay streaming sources (SURVEY.md §7 step 6).

The test/bench twin of the live SSE source (sources/sse.py): replays the
driver's ``events`` parquet as a Structured Streaming file source with the
same rc derivation as the batch path (operators/derive.py), so every
streaming run is oracle-comparable to its batch formulation.

``chunked_event_stream`` splits the table into N seq-ordered files so
Trigger.AvailableNow processes them as N micro-batches in order — the
deterministic stand-in for 'the firehose delivered these events over N
ticks', used by the batch–stream equivalence and purge tests.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.derive import rc_filtered_sql, read_events_raw

#: driver events table schema (ts is TIMESTAMP(MICROS) parquet; reading
#: it as TimestampType under the pinned UTC session tz yields the same
#: wall clock as the batch path's NTZ->TIMESTAMP cast — see
#: operators/derive.py read_events_raw). The legacy INT64-nanos vintage
#: of the table needs `ts long` instead — a streaming read can't infer,
#: so _events_ts_is_legacy probes the parquet footer and rc_event_stream
#: picks the schema per vintage, keeping batch and streaming reads
#: symmetric across driver testdata regenerations.
EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
EVENTS_SCHEMA_LEGACY_NANOS = EVENTS_SCHEMA.replace("ts timestamp", "ts long")


def _events_ts_is_legacy(sf_dir: str) -> bool:
    """True if events.parquet carries the legacy INT64-nanos `ts`."""
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    return str(ts_type) == "int64"


def _derive(spark: SparkSession, raw: DataFrame) -> DataFrame:
    # a DataFrame argument is bound through a temp view that PySpark
    # drops once the query is analyzed, so no view outlives the call
    return spark.sql(rc_filtered_sql("spark", "{raw}"), raw=raw)


def rc_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rc event stream off the whole events parquet (one micro-batch
    under AvailableNow). Same projection/filter SQL as the batch path —
    Catalyst prunes and pushes into the file-stream scan identically."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    legacy = _events_ts_is_legacy(sf_dir)
    schema = EVENTS_SCHEMA_LEGACY_NANOS if legacy else EVENTS_SCHEMA
    # the file stream source wants a directory; events.parquet is a single
    # file inside sf_dir -> select it with a glob filter
    raw = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    if legacy:  # same nanos->micros truncation as the batch path
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return _derive(spark, raw)


def write_ordered_chunks(parts, chunk_dir: str) -> None:
    """Write each DataFrame in ``parts`` as one single-file parquet chunk
    under ``chunk_dir`` with strictly increasing mtimes, so
    read_ordered_chunks replays them as ordered micro-batches.
    The ONE home of the fragile mtime-ordering recipe — and of the
    stale-chunk guard: a previous run's leftover chunk_NNNN dirs would
    replay as extra (duplicate) micro-batches, so the dir starts clean."""
    if os.path.isdir(chunk_dir):
        import shutil

        shutil.rmtree(chunk_dir)
    for i, part in enumerate(parts):
        path = os.path.join(chunk_dir, f"chunk_{i:04d}")
        part.coalesce(1).write.mode("overwrite").parquet(path)
        ts = time.time() + i  # strictly increasing mtimes -> replay order
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))


def read_ordered_chunks(spark: SparkSession, schema: str,
                        chunk_dir: str) -> DataFrame:
    """The read half of write_ordered_chunks: a file stream over
    ``chunk_dir`` that takes one chunk per trigger, so Trigger.AvailableNow
    replays the chunks as ordered micro-batches."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(chunk_dir))


def chunked_event_stream(spark: SparkSession, sf_dir: str, work_dir: str,
                         n_chunks: int = 4) -> DataFrame:
    """Split the events table into ``n_chunks`` seq-ranged parquet files
    under ``work_dir`` and stream them one file per trigger, in order.

    File-source ordering is by modification time, so each chunk's mtime is
    stamped increasing; read_ordered_chunks then yields one ordered
    micro-batch per chunk.
    """
    # chunk boundaries follow the authoritative replay order (ts, seq) —
    # SURVEY.md §2.9-2 — so each micro-batch is an exact prefix extension
    # and the chunked stream folds identically to the one-shot batch.
    src = read_events_raw(spark, sf_dir).withColumn(
        "_rn",
        F.row_number().over(Window.orderBy("ts", "event_id")) - 1,
    )
    n_rows = src.count()
    step = max(1, (n_rows + n_chunks - 1) // n_chunks)
    chunk_dir = os.path.join(work_dir, "chunks")
    write_ordered_chunks(
        (
            src.filter(
                (F.col("_rn") >= i * step) & (F.col("_rn") < (i + 1) * step)
            ).drop("_rn")
            for i in range(n_chunks)
        ),
        chunk_dir,
    )
    raw = read_ordered_chunks(spark, EVENTS_SCHEMA, chunk_dir)
    return _derive(spark, raw)
