"""User-facing engine facade: the Spark-native twin of the reference's
public API (``WikiSocketCollection``, /root/reference/index.js:103-460,
README.md:9-38). A consumer of the reference can switch to this class and
keep their workflow: construct with the same options, subscribe to edit
callbacks, mark pages safe, drop pages, and read the live page set.

| reference surface (index.js)        | here                                |
|-------------------------------------|-------------------------------------|
| `new WikiSocketCollection(options)` | `WikiTrenderCollection(spark, ...)` |
| options.project (F2)                | `project=`                          |
| options.minPurgeTime/maxLifespan/   | `purge=PurgeParams(...)`            |
|   minSpeed/maxInactivity (P2)       |                                     |
| options.id (LevelDB cache key, S4)  | `work_dir=` (checkpoint+snapshot)   |
| options.clearCache (S6)             | `clear_cache=True`                  |
| `.on('edit', cb)` (S7)              | `on_edit(cb)`                       |
| `.markSafe(id)` (A7)                | `mark_safe(id)` — control inbox     |
| `.drop(title, wiki)` (A5)           | `drop(title, wiki)` — control inbox |
| `.getPages()`                       | `pages()` -> DataFrame              |
| periodic cleaner (P1/P2)            | per-micro-batch purge in processor  |
| exported `isIP` (F9)                | `is_ip(user)`                       |

Execution model: a pull-driven micro-batch loop. ``process_available()``
runs one Trigger.AvailableNow pass over everything new — stream events
plus any control commands written since the last pass — resuming from the
checkpoint (the reference's LevelDB rehydration, S5, for free). Control
commands (markSafe/drop) are an inbox of parquet files unioned into the
event stream (SURVEY.md §2.3-A7: control stream unioned into the keyed
processor), so they flow through the same ordered fold as real events.

The live state is maintained as a parquet snapshot (sources/sinks.
state_snapshot_sink) — the queryable `getPages()` surface — while the
keyed state store holds the authoritative fold state.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import classify
from .sources import sinks
from .sources.replay import rc_event_stream
from .streaming import fold, processor

#: flat rc-event schema (control commands are written in this exact
#: shape) — derived from the pinned StructType, never hand-maintained.
from .schemas import RC_EVENT_FLAT_SCHEMA as _FLAT

RC_FLAT_SCHEMA = ", ".join(
    f"{f.name} {f.dataType.simpleString()}" for f in _FLAT.fields
)

def default_group() -> F.Column:
    """Default move-closing group key (shared single definition in
    operators/derive.py). A live deployment supplies its own — see
    streaming/processor.py design notes."""
    from .operators.derive import move_closed_group

    return move_closed_group()


_IP_RE = re.compile(classify.IP_REGEX)


def is_ip(user: str) -> bool:
    """F9 classifier, exported like the reference's `isIP`
    (/root/reference/index.js:460)."""
    return bool(_IP_RE.search(user or ""))


class WikiTrenderCollection:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        sf_dir: str,
        project: str = "*",
        purge: fold.PurgeParams | None = None,
        group_col: F.Column | None = None,
        clear_cache: bool = False,
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.sf_dir = sf_dir
        self.project = project
        self.purge = purge
        self.group_col = default_group() if group_col is None else group_col
        if clear_cache and os.path.isdir(work_dir):
            shutil.rmtree(work_dir)
        self._control_dir = os.path.join(work_dir, "control")
        self._state_path = os.path.join(work_dir, "state")
        self._ckpt_state = os.path.join(work_dir, "ckpt_state")
        os.makedirs(self._control_dir, exist_ok=True)
        self._edit_callbacks: list[Callable] = []
        self._report: Callable[[str, list], None] | bool = False

    # --- consumer surface -------------------------------------------------
    def on_edit(self, callback: Callable) -> None:
        """S7: callback(row) per changed page per micro-batch."""
        self._edit_callbacks.append(callback)

    def report_to(self, render: Callable[[str, list], None] | bool) -> None:
        """S8: render the three top-5 reports after each merge."""
        self._report = render

    def mark_safe(self, page_id: str, unsafe: bool = False) -> None:
        """A7 (/root/reference/index.js:409-411): exempt a page from the
        speed/inactivity purge (not from max-lifespan)."""
        self.mark_safe_many([page_id], unsafe)

    def drop(self, title: str, wiki: str = "enwiki") -> None:
        """drop() (/root/reference/index.js:427-430): remove a page's
        state row directly by id. Routed as a CONTROL command (not a
        delete-log event): control rows carry the submitter's wall clock,
        and only log_type='control' is excluded from the purge clock —
        a wall-clock 'log' row would age the whole group to now."""
        self._write_control(
            self.spark.createDataFrame(
                [(wiki, title)], "wiki string, title string"
            ),
            "drop",
        )

    def mark_safe_many(self, page_ids: list[str], unsafe: bool = False) -> None:
        """Bulk A7: one snapshot join resolves every id, one control file
        carries every command."""
        self._write_control(
            self._resolve_ids(page_ids), "markUnsafe" if unsafe else "markSafe"
        )

    def drop_many(self, page_ids: list[str]) -> None:
        """Bulk drop by id (same one-join resolution as mark_safe_many)."""
        self._write_control(self._resolve_ids(page_ids), "drop")

    def pages(self) -> DataFrame:
        """getPages() (/root/reference/index.js:454-456): the live page
        set as a DataFrame (parquet snapshot maintained per micro-batch)."""
        snap = sinks.read_snapshot(self._state_path, self.spark)
        if snap is None:  # no snapshot yet (first run)
            return self.spark.createDataFrame([], fold.SNAPSHOT_SCHEMA)
        return snap

    # --- execution --------------------------------------------------------
    def process_available(self) -> None:
        """Run one AvailableNow pass over all new input (events + control
        inbox), resuming from the checkpoint. One streaming query drives
        both the snapshot merge and the edit callbacks — one checkpoint,
        one stateful fold, so late-registered callbacks see only batches
        processed after registration (the reference's subscribe-from-now
        semantics) and the snapshot can never drift from the callbacks."""
        def fanout(row):
            for cb in self._edit_callbacks:
                cb(row)

        q = sinks.state_snapshot_sink(
            self._changelog(), self._state_path, self._ckpt_state,
            report=self._report, available_now=True,
            edit_callback=fanout if self._edit_callbacks else None,
        )
        q.awaitTermination()

    # --- internals --------------------------------------------------------
    def _resolve_ids(self, page_ids: list[str]) -> DataFrame:
        """Resolve page ids -> (wiki, title) for control routing with ONE
        snapshot join.

        Ids are ambiguous by construction ('AC/DC' on enwiki vs wiki 'AC',
        title 'DC' — classify.page_id), so live pages are resolved from the
        snapshot (authoritative, and markSafe only applies to live pages
        anyway, reference index.js:409-411); only ids with no
        snapshot row fall back to the prefix heuristic. A live page with
        NULL/'' wiki resolves to enwiki — the _hit marker distinguishes
        "live with NULL wiki" from "join miss", which a bare coalesce on
        _w cannot."""
        ids = self.spark.createDataFrame(
            [(p,) for p in page_ids], "id string"
        )
        snap = self.pages().select(
            "id",
            F.col("wiki").alias("_w"),
            F.col("title").alias("_t"),
            F.lit(True).alias("_hit"),
        )
        fallback_wiki = F.when(
            F.col("id").contains("/"), F.substring_index("id", "/", 1)
        ).otherwise(F.lit("enwiki"))
        fallback_title = F.when(
            F.col("id").contains("/"),
            F.expr("substring(id, instr(id, '/') + 1)"),
        ).otherwise(F.col("id"))
        return ids.join(F.broadcast(snap), "id", "left").select(
            F.when(
                F.col("_hit").isNotNull(),
                F.when(
                    F.col("_w").isNull() | (F.col("_w") == ""), F.lit("enwiki")
                ).otherwise(F.col("_w")),
            )
            .otherwise(fallback_wiki)
            .alias("wiki"),
            F.coalesce(F.col("_t"), fallback_title).alias("title"),
        )

    def _write_control(self, targets: DataFrame, action: str) -> None:
        """Append ONE control parquet file: one ``action`` command per
        (wiki, title) row of ``targets``, in the flat rc-event shape."""
        now_us = time.time_ns() // 1000
        rows = targets.select(
            "title",
            F.lit("").alias("comment"),
            F.lit(0).alias("namespace"),
            F.lit("control").alias("user"),
            F.lit(False).alias("bot"),
            F.lit("external").alias("type"),
            F.lit(None).cast("long").alias("length_new"),
            F.lit(None).cast("long").alias("length_old"),
            "wiki",
            F.concat(F.col("wiki"), F.lit(".example")).alias("server_name"),
            F.lit("control").alias("log_type"),
            F.lit(action).alias("log_action"),
            F.lit(None).cast("string").alias("log_target"),
            F.lit(None).cast("string").alias("log_action_comment"),
            F.timestamp_micros(F.lit(now_us)).alias("ts"),
            # unique, deterministic per-command seq within the batch
            (F.lit(now_us) + F.row_number().over(
                Window.orderBy("wiki", "title")
            )).alias("seq"),
        )
        rows.coalesce(1).write.mode("append").parquet(self._control_dir)

    def _rc_stream(self) -> DataFrame:
        rc = rc_event_stream(self.spark, self.sf_dir)
        if self.project != "*":
            rc = rc.filter(F.col("server_name") == self.project)  # F2
        control = (
            self.spark.readStream.schema(RC_FLAT_SCHEMA)
            .parquet(self._control_dir)
        )
        return rc.unionByName(control)

    def _changelog(self) -> DataFrame:
        return processor.page_state_changelog(
            self._rc_stream(), self.group_col, self.purge
        )
