"""Seeded recentchange generator for the trending-loop workloads.

Renders Wikimedia recentchange events in the wire shape that
``sources.sse.rc_from_sse`` parses (nested ``length``, ``meta.dt``,
``meta.offset``) and serves them as one SSE stream over a loopback socket.

Run as its own process (one thread, one connection)::

    python3 perfbench/generator.py --seed 7 --pages 300 --zipf 1.1 \
        --editors 200 --warm 500 --rate 700 --fixed-seconds 6 \
        --backlog 10000 --out DIR

It renders every event during set-up, writes them to ``DIR/events.jsonl``
(one payload per line, in send order), binds ``127.0.0.1:0`` and prints
``READY <port> <render_s>``. After the consumer connects it obeys one
command per stdin line, answering ``OK <command>`` on stdout when done:

- ``WARM``    send the warm-up events at once;
- ``FIXED``   send the fixed-rate segment on schedule, whether or not the
              consumer keeps up (open loop);
- ``RELEASE`` send the whole backlog at once (closed-loop drain);
- ``STOP``    write ``DIR/send_log.json`` (each event's due time, the
              release time, the largest lateness) and exit.

Event time is synthetic: event ``seq`` carries ``T0 + seq`` milliseconds,
so it rises in send order and a run of up to 250k events spans under the
five-minute purge grace of ``fold.PurgeParams``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import socket
import sys
import time
from dataclasses import dataclass

import numpy as np

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
T0_US = int(T0.timestamp() * 1_000_000)

# The traffic mix below is an assumption, not measured from a recorded
# recentchange stream: it gives every edit-branch path a share.
#
# Comment mix for the edit branch: (share, comment). The classifiers the
# fold applies (reverts, notability, volatility) and the F3 fixup filter
# each get a slice; the rest are plain edits.
_COMMENTS = (
    (0.07, "Reverted edits by {u} to last version"),
    (0.03, "Undid revision {r} by {u}"),
    (0.04, "Updated per current event coverage"),
    (0.03, "Nominated page for deletion"),
    (0.03, "Fixed error in infobox"),
    (0.80, "copyedit"),
)
_NAMESPACES = (1, 2, 4, 10, 14)
# the bot the classifier knows by name (classify.KNOWN_BOTS)
_NAMED_BOT = "ClueBot NG"
_NONMAIN = 0.08   # share of non-main-namespace events (F1 drops them)
_BOT = 0.05       # share of bot-flagged events
_IP = 0.15        # share of IP editors in each page's pool
_NEW_PAGE = 0.3   # share of first edits typed 'new'


@dataclass(frozen=True)
class Shape:
    """The knobs of one event stream."""

    pages: int        # page-space size
    zipf: float       # page popularity exponent (0 = uniform)
    editors: int      # distinct editors per page


def _page_draws(rng: np.random.Generator, shape: Shape, n: int) -> np.ndarray:
    weights = 1.0 / np.arange(1, shape.pages + 1, dtype=np.float64) ** shape.zipf
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), shape.pages - 1)


def _editor_name(page: int, j: int, ip_cut: int) -> str:
    if j < ip_cut:
        return f"10.{page % 250}.{j // 250 % 250}.{j % 250}"
    return f"User_{page}_{j}"


def render(seed: int, shape: Shape, n: int,
           force_kept: frozenset[int] = frozenset()) -> list[dict]:
    """The first ``n`` events of the stream for ``seed``: the same seed and
    shape always give the same events. Events at ``force_kept`` seqs are
    plain main-namespace edits, so that a segment ending there is covered
    by a report as soon as its last event is."""
    rng = np.random.default_rng(seed)
    pages = _page_draws(rng, shape, n)
    editors = rng.integers(0, shape.editors, n)
    is_bot = rng.random(n) < _BOT
    named_bot = rng.random(n) < 0.1
    nonmain = rng.random(n) < _NONMAIN
    ns_pick = rng.integers(0, len(_NAMESPACES), n)
    shares = np.cumsum([s for s, _ in _COMMENTS])
    comment_pick = np.searchsorted(shares / shares[-1], rng.random(n))
    typed_new = rng.random(n) < _NEW_PAGE
    old_len = rng.integers(200, 50_000, n)
    delta = rng.integers(-400, 1200, n)
    ip_cut = max(1, int(shape.editors * _IP))

    seen: set[int] = set()
    events = []
    for seq in range(n):
        page = int(pages[seq])
        wiki = "dewiki" if page % 10 == 9 else "enwiki"
        user = _editor_name(page, int(editors[seq]), ip_cut)
        bot = bool(is_bot[seq])
        if bot and named_bot[seq]:
            user, bot = _NAMED_BOT, False
        first = page not in seen
        seen.add(page)
        plain = seq in force_kept
        ts = T0 + dt.timedelta(milliseconds=seq)
        events.append({
            "title": f"Page_{page}",
            "comment": ("copyedit" if plain else
                        _COMMENTS[comment_pick[seq]][1].format(
                            u=user, r=1_000_000 + seq)),
            "namespace": (int(_NAMESPACES[ns_pick[seq]])
                          if nonmain[seq] and not plain else 0),
            "user": user,
            "bot": bot,
            "type": "new" if first and typed_new[seq] else "edit",
            "length": {"old": int(old_len[seq]),
                       "new": int(old_len[seq] + delta[seq])},
            "wiki": wiki,
            "server_name": ("de.wikipedia.org" if wiki == "dewiki"
                            else "en.wikipedia.org"),
            "meta": {
                "id": f"{seed}-{seq}",
                "dt": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{seq % 1000:03d}Z",
                "offset": seq,
            },
        })
    return events


def event_ts_us(seq: int) -> int:
    return T0_US + seq * 1000


def sse_bytes(events: list[dict]) -> bytes:
    return "".join(
        f"id: {e['meta']['offset']}\nevent: message\ndata: "
        f"{json.dumps(e, separators=(',', ':'))}\n\n"
        for e in events
    ).encode()


def segments(warm: int, fixed: int, backlog: int) -> dict[str, range]:
    """Seq ranges of the three segments, in send order."""
    return {
        "warm": range(0, warm),
        "fixed": range(warm, warm + fixed),
        "backlog": range(warm + fixed, warm + fixed + backlog),
    }


def segment_tails(seg: dict[str, range]) -> frozenset[int]:
    return frozenset(r.stop - 1 for r in seg.values() if len(r))


def _serve(args: argparse.Namespace) -> int:
    t_start = time.time()
    shape = Shape(pages=args.pages, zipf=args.zipf, editors=args.editors)
    n_fixed = int(round(args.rate * args.fixed_seconds))
    seg = segments(args.warm, n_fixed, args.backlog)
    events = render(args.seed, shape, seg["backlog"].stop,
                    segment_tails(seg))
    with open(os.path.join(args.out, "events.jsonl"), "w",
              encoding="utf-8") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")
    wire = [sse_bytes([e]) for e in events]
    render_s = time.time() - t_start

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(args.accept_timeout)
    print(f"READY {srv.getsockname()[1]} {render_s:.6f}", flush=True)
    conn, _ = srv.accept()
    srv.close()
    conn.settimeout(None)
    request = b""
    while b"\r\n\r\n" not in request:
        chunk = conn.recv(4096)
        if not chunk:
            return 1
        request += chunk
    conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n"
                 b"Cache-Control: no-cache\r\n\r\n: ready\n\n")

    log: dict[str, object] = {"render_s": render_s}
    due = np.zeros(len(events))
    sent = np.zeros(len(events))
    for line in sys.stdin:
        cmd = line.strip()
        if cmd in ("WARM", "RELEASE"):
            part = seg["warm" if cmd == "WARM" else "backlog"]
            t = time.time()
            conn.sendall(b"".join(wire[i] for i in part))
            due[part.start:part.stop] = t
            sent[part.start:part.stop] = t
            log[cmd.lower() + "_at"] = t
        elif cmd == "FIXED":
            t0 = time.time()
            for k, i in enumerate(seg["fixed"]):
                due_i = t0 + k / args.rate
                wait = due_i - time.time()
                if wait > 0:
                    time.sleep(wait)
                conn.sendall(wire[i])
                due[i] = due_i
                sent[i] = time.time()
        elif cmd == "STOP":
            break
        else:
            print(f"ERROR unknown command {cmd!r}", flush=True)
            continue
        print(f"OK {cmd}", flush=True)
    conn.close()
    late_ms = (sent - due) * 1000.0
    log.update(
        segments={k: [r.start, r.stop] for k, r in seg.items()},
        due=due.tolist(),
        late_ms_max=float(late_ms[seg["fixed"].start:seg["fixed"].stop].max()
                          if n_fixed else 0.0),
    )
    with open(os.path.join(args.out, "send_log.json"), "w",
              encoding="utf-8") as f:
        json.dump(log, f)
    print("OK STOP", flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--pages", type=int, required=True)
    p.add_argument("--zipf", type=float, required=True)
    p.add_argument("--editors", type=int, required=True)
    p.add_argument("--warm", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--fixed-seconds", type=float, required=True)
    p.add_argument("--backlog", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--accept-timeout", type=float, default=120.0)
    return _serve(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
