"""Deterministic rc_event derivation from the driver's generic `events`
table (TESTDATA.md: event_id, ts, user_id, event_type, value, props).

The driver's correctness gate runs our Spark queries against DuckDB oracle
SQL over the SAME parquet. The reference pipeline consumes Wikipedia
recentchange events (FIXTURES.md A1), so we pin ONE derivation, written in
the dialect-common subset of SQL that parses identically in Spark SQL and
DuckDB, and embed the same text on both sides. Every downstream wikitrender
operator is then hash-checkable end to end.

Derivation design notes:
- pure integer/CASE arithmetic on event_id/user_id/value — bit-identical
  across engines;
- exercises every classifier path: reverts ('error' events), volatility /
  notability ('click'), fixup-drop ('view' slice), bots (user_id%7),
  anons/IPv4 (user_id%4), page creation ('signup' -> type='new'),
  namespace filter (event_id%13), non-enwiki wikis (event_id%5), and the
  log branch ('purchase' slice % 17 -> move/delete/protect round-robin);
- move targets live in a disjoint title namespace ('Moved_<pg>') and are
  1:1 with their source page, so rename state-adoption forms closed
  per-page groups (no rename chains) — this keeps the batch replay
  partitionable by page group (see operators/lifecycle.py).

The events table's parquet `ts` is TIMESTAMP(MICROS) (isAdjustedToUTC
false — Spark reads it as TIMESTAMP_NTZ, DuckDB as naive TIMESTAMP);
read_events_raw normalizes it to session-tz TIMESTAMP (session tz is
pinned UTC in session.py, so the cast is wall-clock identity and matches
DuckDB's naive reading). A legacy INT64-nanos vintage of the table is
still handled by a dtype guard there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: number of distinct wiki pages in the derived stream (prime).
N_PAGES = 211

# Dialect-common SELECT body. {ts} is the per-engine timestamp expression;
# {src} the events relation name.
_RC_DERIVE_TEMPLATE = """
SELECT
  event_id AS seq,
  {ts} AS ts,
  'Page_' || CAST(event_id % 211 AS STRING) AS title,
  CASE WHEN event_id % 5 = 0 THEN 'dewiki' ELSE 'enwiki' END AS wiki,
  CASE WHEN event_id % 5 = 0 THEN 'de.wikipedia.org'
       ELSE 'en.wikipedia.org' END AS server_name,
  CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END AS namespace,
  CASE WHEN user_id % 4 = 0
       THEN '10.0.' || CAST(user_id % 8 AS STRING)
            || '.' || CAST(user_id % 250 AS STRING)
       ELSE 'User_' || CAST(user_id AS STRING) END AS user,
  (user_id % 7) = 0 AS bot,
  CASE WHEN event_type = 'signup' THEN 'new' ELSE 'edit' END AS type,
  CASE
    WHEN event_type = 'purchase' AND event_id % 17 = 0 THEN 'Because'
    WHEN event_type = 'error' AND value < 120.0
      THEN 'Reverted edits by vandal to last version'
    WHEN event_type = 'error' THEN 'Undid revision 12345'
    WHEN event_type = 'click' AND value < 60.0
      THEN 'Nominated page for deletion per AfD'
    WHEN event_type = 'click' THEN 'mentioned in current event coverage'
    WHEN event_type = 'view' AND value < 40.0 THEN 'Fixed error in template'
    ELSE 'copyedit and cleanup'
  END AS comment,
  CASE WHEN event_type = 'purchase' AND event_id % 17 = 0 THEN CAST(NULL AS BIGINT)
       ELSE CAST(1000 + CAST(floor(value) AS BIGINT) - 50 AS BIGINT) END AS length_new,
  CASE WHEN event_type = 'purchase' AND event_id % 17 = 0 THEN CAST(NULL AS BIGINT)
       ELSE CAST(1000 AS BIGINT) END AS length_old,
  CASE WHEN event_type = 'purchase' AND event_id % 17 = 0
       THEN 'log' ELSE CAST(NULL AS STRING) END AS log_type,
  CASE WHEN event_type = 'purchase' AND event_id % 17 = 0 THEN
    CASE WHEN event_id % 3 = 0 THEN 'move'
         WHEN event_id % 3 = 1 THEN 'delete'
         ELSE 'protect' END
  ELSE CAST(NULL AS STRING) END AS log_action,
  CASE WHEN event_type = 'purchase' AND event_id % 17 = 0 AND event_id % 3 = 0
       THEN 'Moved_' || CAST(event_id % 211 AS STRING)
       ELSE CAST(NULL AS STRING) END AS log_target,
  CASE WHEN event_type = 'purchase' AND event_id % 17 = 0 AND event_id % 3 = 1
       THEN 'deleted &quot;[[Page_' || CAST(event_id % 211 AS STRING)
            || ']]&quot; per discussion'
       ELSE CAST(NULL AS STRING) END AS log_action_comment
FROM {src}
"""

# F1 + F3 pre-filter (project filter F2 is identity for project='*'),
# dialect-common. Matches classify.keep_event.
_RC_FILTER = "namespace = 0 AND comment NOT LIKE '%Fixed error%'"

# identical text both engines: identity on Spark's normalized TIMESTAMP
# (and NTZ on the streaming views, where session-UTC makes it wall-clock
# identity), truncation/identity on DuckDB's TIMESTAMP_NS/TIMESTAMP.
SPARK_TS_EXPR = "CAST(ts AS TIMESTAMP)"
DUCKDB_TS_EXPR = "CAST(ts AS TIMESTAMP)"


def rc_derive_sql(engine: str, src: str = "events") -> str:
    """The derivation SELECT for one engine ('spark' | 'duckdb')."""
    ts = SPARK_TS_EXPR if engine == "spark" else DUCKDB_TS_EXPR
    return _RC_DERIVE_TEMPLATE.format(ts=ts, src=src)


def rc_filtered_sql(engine: str, src: str = "events") -> str:
    """Derivation + F1/F3 filter, as a nested select (dialect-common)."""
    return f"SELECT * FROM ({rc_derive_sql(engine, src)}) rc_all WHERE {_RC_FILTER}"


def duckdb_rc_cte(filtered: bool = True) -> str:
    """`rc` CTE body for embedding into oracle SQL: WITH rc AS (...)."""
    return rc_filtered_sql("duckdb") if filtered else rc_derive_sql("duckdb")


#: (path, size, mtime, parallelism) -> scan partition count. The
#: .rdd.getNumPartitions() probe costs a measured ~40-50 ms of py4j +
#: plan-to-RDD work per query CONSTRUCTION; for a fixed file it is a
#: pure function of (file bytes, split config), so one probe per file
#: per session suffices. Keyed on size+mtime so a regenerated testdata
#: file re-probes. This caches a PLAN-construction decision, never data
#: or results.
_SCAN_PARTS_CACHE: dict[tuple, int] = {}


def _scan_partitions(df: DataFrame, path: str) -> int:
    import os

    st = os.stat(path)
    key = (
        path, st.st_size, st.st_mtime_ns,
        df.sparkSession.sparkContext.defaultParallelism,
    )
    n = _SCAN_PARTS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS_CACHE[key] = n
    return n


def read_events_raw(spark: SparkSession, sf_dir: str,
                    spread: bool = True) -> DataFrame:
    """Read the driver's events parquet with `ts` normalized to a
    session-tz TIMESTAMP (session tz is pinned UTC, so the NTZ->TZ cast
    is wall-clock identity and matches DuckDB's naive reading of the
    same file). A dtype guard keeps the legacy INT64-nanos vintage of
    the table working (nanosAsLong reads it as LongType; truncate to
    micros like DuckDB's nanos->TIMESTAMP cast).

    spread=True: spread across cores when the file gives fewer splits
    than cores (see schemas.load_table): the rc derivation above this
    scan is a wide CASE projection whose per-row cost dominates at small
    byte sizes. The guard never fires at real scale (file splits >>
    cores). Pass spread=False for subtrees that collapse to a scalar
    anyway (e.g. the snapshot-clock max(ts)) — there the exchange is
    pure overhead at any scale (guide §2.4)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    df = spark.read.parquet(path)
    if dict(df.dtypes)["ts"] == "bigint":  # legacy nanos vintage
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    par = spark.sparkContext.defaultParallelism
    if spread and _scan_partitions(df, path) < par:
        df = df.repartition(par)
    return df


def move_closed_group():
    """THE move-closing group key for this derivation (single shared
    definition — batch replay, streaming processor, and the engine facade
    must all partition state identically): move targets are 1:1 with
    their source page number ('Page_N' -> 'Moved_N'), so wiki + N closes
    every move component."""
    from pyspark.sql import functions as F

    return F.concat(
        F.col("wiki"), F.lit("#"), F.regexp_extract(F.col("title"), r"_(\d+)$", 1)
    )


def rc_events(spark: SparkSession, sf_dir: str, filtered: bool = True,
              spread: bool = True) -> DataFrame:
    """The derived rc_event stream as a DataFrame (flat schema,
    RC_EVENT_FLAT_SCHEMA minus nested structs).

    Built by running the shared SQL over the raw read (bound as a
    DataFrame argument, so no temp view outlives the call) — the
    projection and filter sit directly above the parquet scan, so
    Catalyst prunes the scan to the referenced columns and pushes the
    namespace filter down.

    spread=False skips the local core-spreading repartition (see
    read_events_raw) — for consumers that reduce straight to a scalar,
    where the exchange is pure overhead.
    """
    sql = rc_filtered_sql if filtered else rc_derive_sql
    return spark.sql(
        sql("spark", "{raw}"), raw=read_events_raw(spark, sf_dir, spread=spread)
    )
