"""Port of the reference's 8 behavioral tests
(/root/reference/test/tests.js:28-135; SURVEY.md §5.1) through the batch
formulation of the pipeline. Tests 3 (drop) and 4 (rename) live in
test_lifecycle.py with the lifecycle operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikitrender_spark import engine
from wikitrender_spark.functions import classify
from wikitrender_spark.operators.page_state import page_state

from .fixtures import AFD, BOT_EDIT, BOT_REVERT, RAW_EDIT, RAW_REVERT, make_events


def state_rows(spark, events):
    df = make_events(spark, events)
    return {r["id"]: r.asDict() for r in page_state(df).collect()}


# test 1 — isIP classifier (/root/reference/test/tests.js:32-36)
@pytest.mark.parametrize(
    "user,expected",
    [
        ("2A02:27B0:4400:33F0:E0FF:19DF:B401:9559", True),
        ("Jdlrobson", False),
        ("192.168.0.1", True),
        ("10.0.0.1", True),
        ("2001:DB8:85A3:8D3:1319:8A2E:370:7348", True),
        ("Jon", False),
    ],
)
def test_is_ip(spark, user, expected):
    """Both F9 renderings: the Spark Column and the engine facade's
    Python regex."""
    df = spark.createDataFrame([(user,)], "user string")
    assert df.select(classify.is_ip(F.col("user")).alias("x")).head()["x"] is expected
    assert engine.is_ip(user) is expected


# test 2 — edit tracking (/root/reference/test/tests.js:38-51)
def test_edit_tracked(spark):
    st = state_rows(spark, [RAW_EDIT])
    assert list(st) == ["Foo"]
    page = st["Foo"]
    assert page["bytesChanged"] == 1
    assert page["edits"] == 1
    assert page["contributors"] == ["Jon"]
    assert page["anons"] == []
    assert page["distribution"] == {"Jon": 1}


# test 5 — bot edits not counted (/root/reference/test/tests.js:80-95)
def test_bot_edit(spark):
    st = state_rows(spark, [BOT_EDIT])
    page = st["Foo"]
    assert page["edits"] == 0
    assert page["bytesChanged"] == 0
    assert page["contributors"] == []
    assert page["distribution"] == {}


# test 6 — revert tracked, not an edit (/root/reference/test/tests.js:97-109)
def test_revert(spark):
    st = state_rows(spark, [RAW_REVERT])
    page = st["Foo"]
    assert page["reverts"] == 1
    assert page["edits"] == 0
    assert page["contributors"] == []
    # reverts DO move bytes (/root/reference/index.js:251-255)
    assert page["bytesChanged"] == 1


# test 7 — bot revert still moves bytes (/root/reference/test/tests.js:111-122)
def test_bot_revert(spark):
    st = state_rows(spark, [BOT_REVERT])
    page = st["Foo"]
    assert page["reverts"] == 1
    assert page["edits"] == 0
    assert page["bytesChanged"] == 1


# test 8 — AfD comment flags volatility (/root/reference/test/tests.js:124-134)
def test_afd_volatile(spark):
    st = state_rows(spark, [AFD])
    page = st["Foo"]
    assert page["volatileFlags"] == 1
    assert page["edits"] == 1
    assert page["contributors"] == ["Vandal"]


# extra parity coverage: multi-event accumulation + id normalization
def test_multi_event_accumulation(spark):
    st = state_rows(
        spark,
        [
            RAW_EDIT,
            {**RAW_EDIT, "user": "192.168.0.1", "length_new": 5, "length_old": 2},
            {**RAW_EDIT, "user": "Jon", "type": "new"},
            {**RAW_EDIT, "wiki": "dewiki", "server_name": "de.wikipedia.org"},
        ],
    )
    assert set(st) == {"Foo", "dewiki/Foo"}
    page = st["Foo"]
    assert page["edits"] == 3
    assert page["anonEdits"] == 1
    assert page["isNew"] is True
    assert page["anons"] == ["192.168.0.1"]
    assert page["distribution"] == {"Jon": 2, "192.168.0.1": 1}
    assert page["bytesChanged"] == 1 + 3 + 1
    assert st["dewiki/Foo"]["wiki"] == "dewiki"


def test_cluebot_is_bot(spark):
    st = state_rows(spark, [{**RAW_EDIT, "user": "ClueBot NG", "bot": False}])
    page = st["Foo"]
    assert page["edits"] == 0
    assert page["contributors"] == []


def test_fixup_filtered(spark):
    df = make_events(
        spark, [RAW_EDIT, {**RAW_EDIT, "comment": "Fixed error in cite"}]
    )
    kept = df.filter(
        classify.keep_event(F.col("namespace"), F.col("server_name"), F.col("comment"))
    )
    assert kept.count() == 1


def test_namespace_filtered(spark):
    df = make_events(spark, [RAW_EDIT, {**RAW_EDIT, "namespace": 2}])
    kept = df.filter(
        classify.keep_event(F.col("namespace"), F.col("server_name"), F.col("comment"))
    )
    assert kept.count() == 1


def test_project_filter(spark):
    df = make_events(
        spark,
        [RAW_EDIT, {**RAW_EDIT, "server_name": "de.wikipedia.org"}],
    )
    kept = df.filter(
        classify.keep_event(
            F.col("namespace"),
            F.col("server_name"),
            F.col("comment"),
            project="en.wikipedia.org",
        )
    )
    assert kept.count() == 1


# --- D3 variant flags (/root/reference/index.js:80-88) ----------------------

def _epm_row(spark, edits, reverts, anons, age_min):
    from wikitrender_spark.functions import metrics

    df = spark.createDataFrame(
        [(edits, reverts, anons, age_min)],
        "edits long, reverts long, anonEdits long, age_min double",
    )
    combos = {
        "d": (False, False), "r": (True, False),
        "a": (False, True), "ra": (True, True),
    }
    row = df.select(
        *[
            metrics.edits_per_minute(
                F.col("edits"), F.col("reverts"), F.col("anonEdits"),
                F.col("age_min"), ir, ia,
            ).alias(k)
            for k, (ir, ia) in combos.items()
        ]
    ).collect()[0]
    return row


def test_epm_variant_flags_add_into_numerator(spark):
    row = _epm_row(spark, edits=4, reverts=2, anons=1, age_min=2.0)
    assert (row["d"], row["r"], row["a"], row["ra"]) == (2.0, 3.0, 2.5, 3.5)


def test_epm_variant_age_guard_returns_variant_count(spark):
    # age < 1 minute: the reference returns the raw count — the VARIANT's
    # count, including the flagged-in reverts/anons
    row = _epm_row(spark, edits=4, reverts=2, anons=1, age_min=0.5)
    assert (row["d"], row["r"], row["a"], row["ra"]) == (4.0, 6.0, 5.0, 7.0)


def test_epm_variant_zero_count_guard_is_per_variant(spark):
    # edits=0 but anons>0: the default short-circuits on count==0, the
    # include_anons variant divides
    row = _epm_row(spark, edits=0, reverts=0, anons=3, age_min=2.0)
    assert (row["d"], row["r"], row["a"], row["ra"]) == (0.0, 0.0, 1.5, 1.5)


def test_state_diff_change_matrix(spark):
    # seq 0..7, cut = 7 DIV 4 = 1: page A edits at seq 0 and 5 ->
    # 'changed'; page B's single edit at seq 1 -> identical early/full
    # state -> 'unchanged', EXCLUDED; page C first appears at seq 6 ->
    # 'added'
    from wikitrender_spark.plans.wikitrender_queries import state_diff

    rows = [
        {**RAW_EDIT, "title": "A", "seq": 0, "length_new": 5, "length_old": 1},
        {**RAW_EDIT, "title": "B", "seq": 1},
        {**RAW_EDIT, "title": "Pad1", "seq": 2},
        {**RAW_EDIT, "title": "Pad1", "seq": 3},
        {**RAW_EDIT, "title": "Pad1", "seq": 4},
        {**RAW_EDIT, "title": "A", "seq": 5, "length_new": 9, "length_old": 2},
        {**RAW_EDIT, "title": "C", "seq": 6},
        {**RAW_EDIT, "title": "Pad1", "seq": 7},
    ]
    rc = make_events(spark, rows)
    got = {r["id"]: r for r in state_diff(rc).collect()}
    assert "B" not in got, got
    assert got["A"]["change_type"] == "changed"
    assert (got["A"]["edits_early"], got["A"]["edits_full"]) == (1, 2)
    assert got["A"]["bytes_delta"] == 7  # (9-2) added after the cut
    assert got["C"]["change_type"] == "added"
    assert (got["C"]["edits_early"], got["C"]["edits_full"]) == (0, 1)
    # Pad1's first event (seq 2) is already past the cut -> added too
    assert got["Pad1"]["change_type"] == "added"
    assert got["Pad1"]["edits_full"] == 4
