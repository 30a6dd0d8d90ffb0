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

One micro-batch step, ``fold``, serves both stateful callers: the exact
batch replay (lifecycle.replay_lifecycle — one call per closed page
group, no purge) and the streaming processor (processor.py — one call
per group per micro-batch, the titles map carried in the state store
between calls). Batch-stream equivalence thus holds by construction:
the streaming run only splits the same fold across micro-batches.

State model: ``titles`` — dict id -> page dict, the Spark-side twin of
WikiSocketCollection.titles (/root/reference/index.js:115). Page dicts hold
the per-user edit ``distribution`` plus anon/contributor counters;
(de)serialization to a JSON state-store blob is in
serialize_titles/deserialize_titles.

The purge policy P2 (cleaner, reference index.js:362-398) runs
against an injected ``now`` — one logical clock per micro-batch (semantic
pin, SURVEY.md §2.9-1).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterable

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


def fresh_page(pid: str, wiki: str, title: str, now) -> dict:
    """Empty WikiPage (reference index.js:16-35); ``wiki`` is the
    normalized wiki the projection emits."""
    return dict(
        id=pid, wiki=wiki, title=title, edits=0, anonEdits=0,
        isNew=False, notabilityFlags=0, volatileFlags=0, reverts=0,
        start=now, updated=now, distribution={}, n_anons=0,
        n_contributors=0, bytesChanged=0, isProtected=False, safe=False,
    )


def fold_pdf(titles: dict, pdf: pd.DataFrame,
             changed: set | None = None, removed: set | None = None) -> None:
    """Fold one slice of classified rows (lifecycle.fold_events) into
    ``titles`` in (ts, seq) order, in place, recording ids touched
    (``changed``) and ids whose state row was dropped or re-keyed away
    (``removed``).

    Row routing mirrors /root/reference/index.js:320-342:
    - log_type == 'log'      -> move / protect / delete  (A4-A6)
    - log_type == 'control'  -> markSafe / markUnsafe    (A7, control
      stream unioned into the keyed processor per SURVEY.md §2.3-A7;
      applies only to live pages, /root/reference/index.js:409-411)
    - otherwise              -> edit accumulation        (A2-A3, the
      same flag arithmetic as page_state.aggregate_classified)
    """
    if changed is None:
        changed = set()
    if removed is None:
        removed = set()

    def get_page(pid, wiki, title, now):
        if pid not in titles:
            titles[pid] = fresh_page(pid, wiki, title, now)
        return titles[pid]

    for row in pdf.sort_values(["ts", "seq"]).itertuples(index=False):
        now = row.ts
        if row.log_type is not None and not pd.isna(row.log_type):
            if row.log_type == "control":
                if row.log_action == "drop":
                    # drop() removes by id (/root/reference/index.js:427-430)
                    if titles.pop(row.id, None) is not None:
                        removed.add(row.id)
                elif row.id in titles:
                    titles[row.id]["safe"] = row.log_action == "markSafe"
                    changed.add(row.id)
            elif row.log_action == "move":
                # renamePage (/root/reference/index.js:154-167): the source
                # page adopts the target id/title, OVERWRITING any fresh
                # state at the target (old+new are not merged).
                src_existed = row.id in titles
                page = get_page(row.id, row.wiki, row.title, now)
                new_page = get_page(row.move_dst, row.wiki, row.log_target, now)
                del titles[page["id"]]
                if src_existed:
                    # a never-live source must not emit a tombstone for an
                    # id consumers never saw as live
                    removed.add(page["id"])
                page["id"] = new_page["id"]
                page["title"] = new_page["title"]
                page["updated"] = now
                titles[page["id"]] = page
                changed.add(page["id"])
            elif row.log_action == "protect":
                # protectPage (/root/reference/index.js:417-422), id pin.
                if row.id in titles:
                    titles[row.id]["isProtected"] = True
                    changed.add(row.id)
            elif row.log_action == "delete":
                # drop of the F11 target (reference index.js:328-337,
                # 427-430)
                if titles.pop(row.delete_id, None) is not None:
                    removed.add(row.delete_id)
            continue

        # edit branch: updateFromRCStream (/root/reference/index.js:174-273)
        page = get_page(row.id, row.wiki, row.title, now)
        if row.is_new:
            page["isNew"] = True
        if row.is_revert:
            page["reverts"] += 1
        if row.is_revert or not row.is_bot:
            page["bytesChanged"] += int(row.delta)
        page["notabilityFlags"] += int(row.notability_hit)
        page["volatileFlags"] += int(row.volatile_hit)
        if row.eligible:
            page["edits"] += 1
            if row.is_anon:
                page["anonEdits"] += 1
            # is_anon is a function of the user alone, so counting each
            # user once, on first entry, splits distribution's keys
            dist = page["distribution"]
            if row.user not in dist:
                page["n_anons" if row.is_anon else "n_contributors"] += 1
            dist[row.user] = dist.get(row.user, 0) + 1
        page["updated"] = now
        changed.add(page["id"])


def fold(titles: dict, chunks: Iterable[pd.DataFrame], clock: int = 0,
         purge: PurgeParams | None = None) -> tuple[set, set, int]:
    """One micro-batch of one group: fold every chunk of classified rows
    into ``titles``, advance the event-time ``clock`` (unix micros) and,
    given ``purge``, run P2 at the batch's max event time. Returns
    (changed ids, removed ids, clock).

    A group larger than one Arrow batch arrives as several chunks in
    arbitrary fetch order, so the chunks are concatenated before the one
    (ts, seq)-ordered fold — chunk-at-a-time folding would apply later
    events first. Control rows never move the clock: they carry the
    submitter's wall clock (engine inbox), which would age the group
    against real time and mass-purge replayed history."""
    changed: set = set()
    removed: set = set()
    frames = [pdf for pdf in chunks if len(pdf)]
    if not frames:
        return changed, removed, clock
    whole = frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )
    fold_pdf(titles, whole, changed, removed)
    event_ts = whole.loc[whole["log_type"] != "control", "ts"]
    if len(event_ts):
        batch_max_ts = event_ts.max()
        clock = max(clock, _ts_us(batch_max_ts))
        if purge is not None:
            removed |= purge_titles(titles, batch_max_ts, purge)
    return changed, removed, clock


# ---------------------------------------------------------------------------
# purge policy P2 (/root/reference/index.js:362-398)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class PurgeParams:
    """Cleaner thresholds (defaults /root/reference/index.js:110-113)."""
    max_lifespan: float = 1440.0     # minutes; evicts even safe pages
    max_inactivity: float = 60.0     # minutes since last update
    min_speed: float = 3.0           # edits/minute floor
    min_purge_time: float = 5.0      # grace age before any purge


def edits_per_minute(page: dict, age_min: float) -> float:
    """D3 (/root/reference/index.js:80-88): raw count when age < 1 or
    count == 0 (anti-div-by-small clamp), else count/age. The cleaner calls
    it with defaults: no reverts, no anons."""
    count = page["edits"]
    if age_min < 1 or count == 0:
        return float(count)
    return count / age_min


def purge_titles(titles: dict, now, params: PurgeParams) -> set:
    """Apply P2 at one logical ``now``; returns evicted ids. Pages older
    than min_purge_time are evicted when not safe and (too slow OR
    inactive); max_lifespan evicts regardless of safe."""
    evicted = set()
    for pid, page in list(titles.items()):
        age = (now - page["start"]).total_seconds() / 60.0
        if age <= params.min_purge_time:
            continue
        last_upd = (now - page["updated"]).total_seconds() / 60.0
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
# output + state-store (de)serialization
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


def titles_to_pdf(titles: dict, ids: Iterable[str] | None = None) -> pd.DataFrame:
    rows = [page_record(p) for pid, p in titles.items()
            if ids is None or pid in ids]
    return pd.DataFrame(rows, columns=STATE_COLUMNS)


def _ts_us(ts) -> int:
    return int(pd.Timestamp(ts).value // 1000)


def serialize_titles(titles: dict) -> str:
    """titles map -> JSON state blob (timestamps -> unix micros). The
    state store persists this per group key — the incremental,
    fault-tolerant analogue of the reference's whole-map LevelDB blob
    (/root/reference/index.js:395-397)."""
    out = {}
    for pid, p in titles.items():
        q = dict(p)
        q["start"] = _ts_us(p["start"])
        q["updated"] = _ts_us(p["updated"])
        out[pid] = q
    return json.dumps(out)


def deserialize_titles(blob: str | None) -> dict:
    """JSON state blob -> titles map (bootstrap twin of
    /root/reference/index.js:118-141)."""
    if not blob:
        return {}
    titles = {}
    for pid, q in json.loads(blob).items():
        q["start"] = pd.to_datetime(q["start"], unit="us")
        q["updated"] = pd.to_datetime(q["updated"], unit="us")
        titles[pid] = q
    return titles
