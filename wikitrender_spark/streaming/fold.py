"""Incremental event fold — the stateful half of the reference's event
loop (updateFromRCStream + log routing, reference index.js:174-273,
320-342).

Classification is not done here. Every rc row reaches the fold already
classified by one plan projection (operators/lifecycle.fold_events): page
ids, the normalized wiki, the F5-F10 edit flags and the move/delete target
ids are the SAME Columns the batch plans evaluate
(page_state._classified_select, lifecycle._log_targets). This module
owns what needs state: routing each classified row to its page,
accumulating, and the P2 purge.

One kernel, ``fold_bucket``, serves both stateful callers. Its unit is a
*bucket* of page groups, ``_bkt = pmod(xxhash64(_grp), B)``
(lifecycle.fold_events adds the column; B is
lifecycle.BUCKETS_PER_PARTITION x ``spark.sql.shuffle.partitions`` at plan
construction, i.e. a fixed multiple of the query's state partitions). One
call folds every group of its bucket that received rows: one sort of the
bucket's rows by (_grp, ts, seq), then one walk over column lists. A
PySpark Python call costs ~7 ms of framing whatever it folds, so keying on
B buckets instead of one key per page group takes that cost from
O(groups) to O(B) per micro-batch. The exact batch replay
(lifecycle.replay_lifecycle) calls the kernel once per bucket with empty
state and no purge; the streaming processor (processor.py) once per
bucket per micro-batch, with the bucket's groups carried in the state
store between calls. Batch-stream equivalence thus holds by
construction: the streaming run only splits the same fold across
micro-batches.

State model: a bucket's ``groups`` maps each group key to ``[clock,
titles]``. ``titles`` — dict id -> page dict, the Spark-side twin of
WikiSocketCollection.titles (reference index.js:115) — holds the
per-user edit ``distribution`` plus anon/contributor counters, with times
as unix micros, so the map is its own JSON state blob (the incremental
analogue of the reference's whole-map LevelDB blob, index.js:118-141,
395-397). ``clock`` is the group's
running max event time, the changelog's ``_ts``. A group whose titles map
empties leaves ``groups``, so a bucket holds only live groups; the
bucket's ``floor`` (the highest clock of a group that left) starts any
group that enters, so an id that dies and revives never emits a ``_ts``
below its own tombstone's. This layout replaced one state row per page
group (blob, clock, ver): checkpoints written with that layout do not
read under this one (the state key and value schemas both differ, and
Spark refuses the query at start).

The purge policy P2 (cleaner, reference index.js:362-398) runs per group
at that group's own max event time in the call — one logical ``now`` per
group per micro-batch (semantic pin, SURVEY.md §2.9-1) — never at the
bucket's.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from operator import itemgetter
from typing import Iterable, Iterator

import numpy as np
import pandas as pd

#: page-state row columns emitted by the fold (scalar form).
STATE_COLUMNS = [
    "id", "wiki", "title", "edits", "anonEdits", "isNew", "notabilityFlags",
    "volatileFlags", "reverts", "start", "updated", "bytesChanged",
    "n_contributors", "n_anons", "max_user_edits", "total_user_edits",
    "isProtected",
]

STATE_SCHEMA = (
    "id string, wiki string, title string, edits long, anonEdits long, "
    "isNew boolean, notabilityFlags long, volatileFlags long, reverts long, "
    "start timestamp, updated timestamp, bytesChanged long, "
    "n_contributors long, n_anons long, max_user_edits long, "
    "total_user_edits long, isProtected boolean"
)

#: live-state snapshot row (sinks.state_snapshot_sink, engine pages()):
#: page-state row + safe flag.
SNAPSHOT_SCHEMA = STATE_SCHEMA + ", safe boolean"

#: changelog row = snapshot row + (clock, version) + tombstone marker.
#: ``_ts`` is the GROUP CLOCK (running max event time, unix micros) and
#: ``_ver`` the bucket's call count: together they order every id's
#: emissions, also across its group emptying and reviving.
CHANGELOG_SCHEMA = SNAPSHOT_SCHEMA + ", _ts long, _ver long, _deleted boolean"
CHANGELOG_COLUMNS = STATE_COLUMNS + ["safe", "_ts", "_ver", "_deleted"]

#: lifecycle.fold_events columns the walk reads, after ts and log_type
_WALK_COLUMNS = [
    "log_action", "id", "wiki", "title", "log_target", "move_dst",
    "delete_id", "user", "is_new", "is_revert", "is_bot", "delta",
    "notability_hit", "volatile_hit", "eligible", "is_anon",
]


def fresh_page(pid: str, wiki: str, title: str, now: int) -> dict:
    """Empty WikiPage (reference index.js:16-35); ``wiki`` is the
    normalized wiki the projection emits, ``now`` unix micros."""
    return dict(
        id=pid, wiki=wiki, title=title, edits=0, anonEdits=0,
        isNew=False, notabilityFlags=0, volatileFlags=0, reverts=0,
        start=now, updated=now, distribution={}, n_anons=0,
        n_contributors=0, bytesChanged=0, isProtected=False, safe=False,
    )


def _get_page(titles: dict, pid, wiki, title, now) -> dict:
    page = titles.get(pid)
    if page is None:
        page = titles[pid] = fresh_page(pid, wiki, title, now)
    return page


def _fold_rows(titles: dict, rows: Iterator[tuple], changed: set,
               removed: set) -> int | None:
    """Fold one group's rows, in (ts, seq) order, into ``titles`` in
    place, recording ids touched (``changed``) and ids whose state row was
    dropped or re-keyed away (``removed``). Returns the group's max event
    time in unix micros, or None when every row was a control row: those
    carry the submitter's wall clock (engine inbox), which would age the
    group against real time and mass-purge replayed history.

    Row routing mirrors reference index.js:320-342:
    - log_type == 'log'      -> move / protect / delete  (A4-A6)
    - log_type == 'control'  -> markSafe / markUnsafe / drop (A7, the
      control stream unioned into the keyed processor per SURVEY.md
      §2.3-A7; applies only to live pages, index.js:409-411)
    - otherwise              -> edit accumulation        (A2-A3, the
      same flag arithmetic as page_state.aggregate_classified)
    """
    last = None
    for (_, now, log_type, action, pid, wiki, title, target, dst, del_id,
         user, is_new, is_revert, is_bot, delta, notability, volatile,
         eligible, is_anon) in rows:
        if log_type == "control":
            if action == "drop":
                # drop() removes by id (index.js:427-430)
                if titles.pop(pid, None) is not None:
                    removed.add(pid)
            elif pid in titles:
                titles[pid]["safe"] = action == "markSafe"
                changed.add(pid)
            continue
        last = now
        if log_type:
            if action == "move":
                # renamePage (index.js:154-167): the source page adopts
                # the target id/title, OVERWRITING any fresh state at the
                # target (old+new are not merged).
                src_existed = pid in titles
                page = _get_page(titles, pid, wiki, title, now)
                new_page = _get_page(titles, dst, wiki, target, now)
                del titles[page["id"]]
                if src_existed:
                    # a never-live source must not emit a tombstone for
                    # an id consumers never saw as live
                    removed.add(page["id"])
                page["id"] = new_page["id"]
                page["title"] = new_page["title"]
                page["updated"] = now
                titles[page["id"]] = page
                changed.add(page["id"])
            elif action == "protect":
                # protectPage (index.js:417-422), id pin.
                if pid in titles:
                    titles[pid]["isProtected"] = True
                    changed.add(pid)
            elif action == "delete":
                # drop of the F11 target (index.js:328-337, 427-430)
                if titles.pop(del_id, None) is not None:
                    removed.add(del_id)
            continue

        # edit branch: updateFromRCStream (index.js:174-273)
        page = _get_page(titles, pid, wiki, title, now)
        if is_new:
            page["isNew"] = True
        if is_revert:
            page["reverts"] += 1
        if is_revert or not is_bot:
            page["bytesChanged"] += int(delta)
        page["notabilityFlags"] += int(notability)
        page["volatileFlags"] += int(volatile)
        if eligible:
            page["edits"] += 1
            if is_anon:
                page["anonEdits"] += 1
            # is_anon is a function of the user alone, so counting each
            # user once, on first entry, splits distribution's keys
            dist = page["distribution"]
            if user not in dist:
                page["n_anons" if is_anon else "n_contributors"] += 1
            dist[user] = dist.get(user, 0) + 1
        page["updated"] = now
        changed.add(pid)
    return last


def fold_bucket(groups: dict, chunks: Iterable[pd.DataFrame],
                purge: PurgeParams | None = None, floor: int = 0,
                ver: int = 1) -> tuple[pd.DataFrame, int]:
    """Fold one call's classified rows (lifecycle.fold_events) of one
    bucket into ``groups`` (module docstring) in place and, given
    ``purge``, run P2 on each group that received rows, at that group's
    max event time. Returns the changelog rows of those groups at version
    ``ver`` — one row per page touched (tombstone for a page evicted or
    re-keyed away) — and the bucket's new ``floor``.

    A bucket larger than one Arrow batch arrives as several chunks in
    arbitrary fetch order, so the chunks are concatenated and sorted once
    by (_grp, ts, seq) before the walk: chunk-at-a-time folding would
    apply later events first."""
    frames = [pdf for pdf in chunks if len(pdf)]
    if not frames:
        return _changelog([], [], ver), floor
    pdf = frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )
    ts = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
    # a null group key is one group of its own, as in Spark's groupBy;
    # str keeps keys stable through the JSON blob
    codes, keys = pd.factorize(pdf["_grp"], use_na_sentinel=False)
    order = np.lexsort((pdf["seq"].to_numpy(), ts, codes))
    cols = [codes[order].tolist(), ts[order].tolist(),
            pdf["log_type"].fillna("").to_numpy()[order].tolist()]
    cols += [pdf[c].to_numpy()[order].tolist() for c in _WALK_COLUMNS]
    live, dead = [], []
    for code, rows in itertools.groupby(zip(*cols), key=itemgetter(0)):
        grp = str(keys[code])
        clock, titles = groups.pop(grp, (floor, {}))
        changed: set = set()
        removed: set = set()
        now = _fold_rows(titles, rows, changed, removed)
        if now is not None:
            clock = max(clock, now)
            if purge is not None:
                removed |= purge_titles(titles, now, purge)
        if titles:
            groups[grp] = [clock, titles]
        else:
            floor = max(floor, clock)
        live += [(titles[pid], clock) for pid in sorted(changed & titles.keys())]
        dead += [(pid, clock) for pid in sorted(removed - titles.keys())]
    return _changelog(live, dead, ver), floor


# ---------------------------------------------------------------------------
# purge policy P2 (reference index.js:362-398)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class PurgeParams:
    """Cleaner thresholds (defaults reference index.js:110-113)."""
    max_lifespan: float = 1440.0     # minutes; evicts even safe pages
    max_inactivity: float = 60.0     # minutes since last update
    min_speed: float = 3.0           # edits/minute floor
    min_purge_time: float = 5.0      # grace age before any purge


def edits_per_minute(page: dict, age_min: float) -> float:
    """D3 (reference index.js:80-88): raw count when age < 1 or
    count == 0 (anti-div-by-small clamp), else count/age. The cleaner calls
    it with defaults: no reverts, no anons."""
    count = page["edits"]
    if age_min < 1 or count == 0:
        return float(count)
    return count / age_min


def _minutes(us: int) -> float:
    # seconds first, as timedelta.total_seconds() / 60 rounds
    return us / 1e6 / 60.0


def purge_titles(titles: dict, now: int, params: PurgeParams) -> set:
    """Apply P2 at one logical ``now`` (unix micros); returns evicted
    ids. Pages older than min_purge_time are evicted when not safe and
    (too slow OR inactive); max_lifespan evicts regardless of safe."""
    evicted = set()
    for pid, page in list(titles.items()):
        age = _minutes(now - page["start"])
        if age <= params.min_purge_time:
            continue
        last_upd = _minutes(now - page["updated"])
        drop = False
        if not page["safe"] and (
            edits_per_minute(page, age) < params.min_speed
            or last_upd > params.max_inactivity
        ):
            drop = True
        if age > params.max_lifespan:
            drop = True
        if drop:
            del titles[pid]
            evicted.add(pid)
    return evicted


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------

def page_record(p: dict) -> dict:
    """Scalar output row for one page (STATE_COLUMNS order)."""
    dist = p["distribution"]
    return dict(
        id=p["id"], wiki=p["wiki"], title=p["title"], edits=p["edits"],
        anonEdits=p["anonEdits"], isNew=p["isNew"],
        notabilityFlags=p["notabilityFlags"],
        volatileFlags=p["volatileFlags"], reverts=p["reverts"],
        start=p["start"], updated=p["updated"],
        bytesChanged=p["bytesChanged"],
        n_contributors=p["n_contributors"], n_anons=p["n_anons"],
        max_user_edits=max(dist.values()) if dist else None,
        # every eligible edit lands in distribution, so its sum is edits
        total_user_edits=p["edits"] or None,
        isProtected=p["isProtected"],
    )


def _changelog(live: list, dead: list, ver: int) -> pd.DataFrame:
    rows = [page_record(p) | dict(safe=p["safe"], _ts=clock, _ver=ver,
                                  _deleted=False) for p, clock in live]
    rows += [dict(id=pid, _ts=clock, _ver=ver, _deleted=True)
             for pid, clock in dead]
    out = pd.DataFrame(rows, columns=CHANGELOG_COLUMNS)
    for c in ("start", "updated"):
        out[c] = pd.to_datetime(out[c], unit="us")
    return out
