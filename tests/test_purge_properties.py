"""Property-based purge-policy tests (SURVEY.md §5.2-4): randomized page
states + simulated clock vs the P2 invariants
(/root/reference/index.js:362-398), checked on the in-process fold twin
(streaming/fold.py) that the streaming processor executes per timer tick.

Pure-Python (no Spark session) so hypothesis can run hundreds of
examples; batch/stream/oracle agreement of the same predicate is covered
by tests/test_streaming.py and the wt_purge_survivors oracle query.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from wikitrender_spark.streaming import fold

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _us(t: dt.datetime) -> int:
    """unix micros, the fold's time unit"""
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _page(i: int, edits: int, age_min: float, idle_min: float, safe: bool,
          now: dt.datetime) -> dict:
    start = now - dt.timedelta(minutes=age_min)
    updated = now - dt.timedelta(minutes=min(idle_min, age_min))
    return dict(
        id=f"P{i}", edits=edits, start=_us(start), updated=_us(updated),
        safe=safe,
    )


def _minutes_since(now: dt.datetime, us: int) -> float:
    return (now - dt.datetime(1970, 1, 1)
            - dt.timedelta(microseconds=us)).total_seconds() / 60.0


page_strategy = st.tuples(
    st.integers(min_value=0, max_value=500),          # edits
    st.floats(min_value=0.0, max_value=3000.0,        # age minutes
              allow_nan=False, allow_infinity=False),
    st.floats(min_value=0.0, max_value=3000.0,        # idle minutes
              allow_nan=False, allow_infinity=False),
    st.booleans(),                                    # safe
)

params_strategy = st.builds(
    fold.PurgeParams,
    max_lifespan=st.floats(min_value=100.0, max_value=2000.0),
    max_inactivity=st.floats(min_value=1.0, max_value=500.0),
    min_speed=st.floats(min_value=0.0, max_value=10.0),
    min_purge_time=st.floats(min_value=0.0, max_value=60.0),
)


def _reference_should_drop(page: dict, now: dt.datetime,
                           p: fold.PurgeParams) -> bool:
    """Independent re-statement of the reference cleaner
    (/root/reference/index.js:362-398), written fresh from the spec."""
    age = _minutes_since(now, page["start"])
    if age <= p.min_purge_time:
        return False
    idle = _minutes_since(now, page["updated"])
    count = page["edits"]
    epm = float(count) if (age < 1 or count == 0) else count / age
    if not page["safe"] and (epm < p.min_speed or idle > p.max_inactivity):
        return True
    return age > p.max_lifespan


@settings(max_examples=300, deadline=None)
@given(st.lists(page_strategy, max_size=30), params_strategy)
def test_purge_matches_reference_predicate(pages, params):
    now = T0 + dt.timedelta(days=10)
    titles = {
        f"P{i}": _page(i, e, a, u, s, now)
        for i, (e, a, u, s) in enumerate(pages)
    }
    expected_drop = {
        pid for pid, pg in titles.items()
        if _reference_should_drop(pg, now, params)
    }
    survivors_expected = set(titles) - expected_drop
    evicted = fold.purge_titles(titles, _us(now), params)
    assert evicted == expected_drop
    assert set(titles) == survivors_expected


@settings(max_examples=200, deadline=None)
@given(st.lists(page_strategy, max_size=30), params_strategy)
def test_purge_invariants(pages, params):
    now = T0 + dt.timedelta(days=10)
    titles = {
        f"P{i}": _page(i, e, a, u, s, now)
        for i, (e, a, u, s) in enumerate(pages)
    }
    fold.purge_titles(titles, _us(now), params)
    for pg in titles.values():
        age = _minutes_since(now, pg["start"])
        # survivor invariants: within lifespan, or within the grace window
        assert age <= params.max_lifespan or age <= params.min_purge_time
        if not pg["safe"] and age > params.min_purge_time:
            idle = _minutes_since(now, pg["updated"])
            assert (
                fold.edits_per_minute(pg, age) >= params.min_speed
                and idle <= params.max_inactivity
            )


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=10_000),
       st.floats(min_value=0.0, max_value=10_000.0, allow_nan=False))
def test_epm_clamp_property(edits, age):
    """D3 (/root/reference/index.js:80-88): raw count below 1 minute of
    age or at zero count; ratio otherwise."""
    got = fold.edits_per_minute(dict(edits=edits), age)
    if age < 1 or edits == 0:
        assert got == float(edits)
    else:
        assert got == edits / age
