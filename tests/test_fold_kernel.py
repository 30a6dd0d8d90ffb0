"""The bucket fold kernel (streaming/fold.fold_bucket) on pandas frames,
with no Spark session: the kernel is the one fold step of both the
streaming processor and the exact batch replay, so its contract is pinned
here directly, the way a grouped-map UDF's ``.func`` is called on pandas.
"""

from __future__ import annotations

import copy
import pathlib
import re

import pandas as pd

from wikitrender_spark.streaming import fold

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "wikitrender_spark"

T0 = pd.Timestamp("2024-01-01")
M = pd.Timedelta(minutes=1)


def _us(ts: pd.Timestamp) -> int:
    return ts.value // 1000


def _rows(*rows: dict) -> pd.DataFrame:
    """Classified rows as lifecycle.fold_events emits them: a plain edit
    by user Jon unless a row says otherwise (``id`` doubles as title)."""
    base = dict(
        log_type=None, log_action=None, log_target=None, wiki="enwiki",
        user="Jon", is_revert=False, is_bot=False, eligible=True,
        is_anon=False, is_new=False, notability_hit=False,
        volatile_hit=False, delta=10, move_dst=None, delete_id=None,
    )
    return pd.DataFrame([{**base, "title": r["id"], **r} for r in rows])


def _by_id(cl: pd.DataFrame) -> pd.DataFrame:
    return cl.sort_values("id").reset_index(drop=True)


def test_interleaved_groups_fold_as_each_group_alone():
    """Rows of several groups, shuffled together in one bucket call, fold
    to the same titles and changelog as each group folded alone."""
    calls = [
        _rows(
            dict(_grp="a", id="A1", ts=T0, seq=1, is_new=True),
            dict(_grp="b", id="B1", ts=T0, seq=2, user="1.2.3.4",
                 is_anon=True),
            dict(_grp="a", id="A2", ts=T0 + M, seq=3),
            dict(_grp="c", id="C1", ts=T0 + M, seq=4, is_revert=True),
            dict(_grp="b", id="B1", ts=T0 + 2 * M, seq=5, user="Ann"),
            dict(_grp="c", id="C1", ts=T0 + 2 * M, seq=6, is_bot=True,
                 eligible=False),
        ),
        _rows(
            dict(_grp="a", id="A1", ts=T0 + 3 * M, seq=7, log_type="log",
                 log_action="move", move_dst="A9", log_target="A9"),
            dict(_grp="b", id="B1", ts=T0 + 3 * M, seq=8, log_type="log",
                 log_action="protect"),
            dict(_grp="c", id="C2", ts=T0 + 4 * M, seq=9),
            dict(_grp="c", id="C2", ts=T0 + 4 * M, seq=10, log_type="log",
                 log_action="delete", delete_id="C1"),
            dict(_grp="a", id="A2", ts=T0 + 5 * M, seq=11),
        ),
    ]
    params = fold.PurgeParams(min_speed=0.0)
    together: dict = {}
    alone: dict = {}
    for ver, pdf in enumerate(calls, 1):
        shuffled = pdf.sample(frac=1.0, random_state=ver)
        got, _ = fold.fold_bucket(together, [shuffled[:3], shuffled[3:]],
                                  params, ver=ver)
        parts = [
            fold.fold_bucket(alone.setdefault(g, {}), [gpdf], params,
                             ver=ver)[0]
            for g, gpdf in pdf.groupby("_grp")
        ]
        pd.testing.assert_frame_equal(_by_id(got),
                                      _by_id(pd.concat(parts)))
    assert together == {g: m[g] for g, m in alone.items()}
    assert set(together["a"][1]) == {"A9", "A2"}
    assert set(together["c"][1]) == {"C2"}


def test_group_purged_at_its_own_clock_not_the_buckets():
    """A group with only old events, folded in the same call as a group
    with new events, is purged at its own max event time."""
    params = fold.PurgeParams()
    groups: dict = {}
    cl, _ = fold.fold_bucket(groups, [_rows(
        dict(_grp="old", id="Old", ts=T0, seq=1),
        dict(_grp="old", id="Old", ts=T0 + M, seq=2),
        dict(_grp="new", id="New", ts=T0 + 100 * M, seq=3),
    )], params)
    assert not cl["_deleted"].any()
    assert set(groups["old"][1]) == {"Old"}
    assert groups["old"][0] == _us(T0 + M)
    assert cl.set_index("id").loc["Old", "_ts"] == _us(T0 + M)
    # at the bucket's clock the same page would have gone (idle 99 min)
    titles = copy.deepcopy(groups["old"][1])
    assert fold.purge_titles(titles, _us(T0 + 100 * M), params) == {"Old"}


def test_control_row_does_not_advance_the_group_clock():
    """A control row carries the submitter's wall clock: it neither moves
    the group clock nor triggers a purge at that clock."""
    groups: dict = {}
    fold.fold_bucket(groups, [_rows(dict(_grp="g", id="P", ts=T0, seq=1))],
                     fold.PurgeParams())
    wall = pd.Timestamp("2026-06-01")
    cl, _ = fold.fold_bucket(groups, [_rows(
        dict(_grp="g", id="P", ts=wall, seq=2, log_type="control",
             log_action="markSafe", user="ops"),
    )], fold.PurgeParams(), ver=2)
    assert groups["g"][0] == _us(T0)
    assert groups["g"][1]["P"]["safe"]
    assert list(cl["_ts"]) == [_us(T0)]
    assert list(cl["safe"]) == [True] and not cl["_deleted"].any()


def test_ts_ver_rise_across_group_emptying_and_reviving():
    """A group emptied by a delete leaves the bucket's map; when it
    revives — here with an event older than its tombstone, as an
    out-of-order source can deliver — (_ts, _ver) of the id still rises."""
    groups: dict = {}
    floor = 0
    seen = []
    calls = [
        _rows(dict(_grp="g", id="P", ts=T0 + 10 * M, seq=1),
              dict(_grp="h", id="Q", ts=T0, seq=2)),
        _rows(dict(_grp="g", id="P", ts=T0 + 11 * M, seq=3, log_type="log",
                   log_action="delete", delete_id="P")),
        _rows(dict(_grp="g", id="P", ts=T0 + 5 * M, seq=4, is_new=True)),
    ]
    for ver, pdf in enumerate(calls, 1):
        cl, floor = fold.fold_bucket(groups, [pdf], floor=floor, ver=ver)
        row = cl.set_index("id").loc["P"]
        seen.append((row["_ts"], row["_ver"], row["_deleted"]))
        if ver == 2:
            assert "g" not in groups and set(groups) == {"h"}
            assert floor == _us(T0 + 11 * M)
    assert [d for *_, d in seen] == [False, True, False]
    keys = [(t, v) for t, v, _ in seen]
    assert keys == sorted(set(keys))
    assert groups["g"][1]["P"]["edits"] == 1  # a fresh page


def test_null_group_key_is_a_group_of_its_own():
    """Rows with a null group key fold as one group, never into another."""
    groups: dict = {}
    fold.fold_bucket(groups, [_rows(dict(_grp="a", id="A", ts=T0, seq=1),
                                    dict(_grp=None, id="N", ts=T0, seq=2))])
    fold.fold_bucket(groups, [_rows(dict(_grp=None, id="N", ts=T0 + M,
                                         seq=3))], ver=2)
    assert set(groups["a"][1]) == {"A"}
    [(key, (_, titles))] = [kv for kv in groups.items() if kv[0] != "a"]
    assert set(titles) == {"N"} and titles["N"]["edits"] == 2


def test_no_pandas_fold_is_keyed_on_raw_groups():
    """Every applyInPandas / applyInPandasWithState call in the package is
    keyed on a groupBy the scan can read, and none on the raw page group
    ``_grp``: the page folds key on the bucket ``_bkt`` (one Python call
    per bucket, not per group)."""
    calls = re.compile(r"\.applyInPandas(WithState)?\(")
    keyed = re.compile(r"\.groupBy\(([^()]*)\)\s*\.applyInPandas(?:WithState)?\(")
    keys = []
    for p in sorted(PACKAGE.rglob("*.py")):
        text = p.read_text()
        found = keyed.findall(text)
        assert len(found) == len(calls.findall(text)), p
        keys += [(p.name, k.strip()) for k in found]
    assert not [k for k in keys if "_grp" in k[1]], keys
    assert ("processor.py", '"_bkt"') in keys
    assert ("lifecycle.py", '"_bkt"') in keys
