"""Pure-python pins for tools/corpus_throughput_probe.py (no Spark):
the soak's plateau adjudicator."""
from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "corpus_throughput_probe",
    os.path.join(
        os.path.dirname(__file__), "..", "tools",
        "corpus_throughput_probe.py",
    ),
)
probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(probe)


def _batches(series, input_rows=100):
    return [
        {"batch": i, "input_rows": input_rows,
         "state": [["dedup", s // 2], ["regroup", s - s // 2]]}
        for i, s in enumerate(series)
    ]


def test_soak_plateau_summary_bounded_curve():
    """The soak verdict (round 15): state rises while ingest time
    fills the first horizon, then eviction holds it — the tail
    third's max within 10% of the middle third's max reads as
    bounded, and the series sums state across ALL operators."""
    series = [100, 250, 400, 420, 410, 430, 415, 425, 420]
    out = probe.soak_plateau_summary(_batches(series))
    assert out["series"] == series
    assert out["verdict"] == "bounded"
    assert out["peak"] == 430 and out["final"] == 420
    assert out["mid_max"] == 430 and out["tail_max"] == 425


def test_soak_plateau_summary_flags_growth():
    """A linearly growing state series — the exact failure a broken
    watermark/eviction would produce — must read as growing, not be
    averaged away."""
    series = [100, 200, 300, 400, 500, 600, 700, 800, 900]
    out = probe.soak_plateau_summary(_batches(series))
    assert out["verdict"] == "growing"
    assert out["tail_over_mid"] > 1.10


def test_soak_plateau_summary_skips_empty_batches_and_short_runs():
    """The flush batch (and any no-input progress event) must not
    dilute the series; runs too short to split into thirds return a
    too-short verdict instead of a spurious adjudication."""
    series = [100, 240, 260, 250, 255, 252]
    batches = _batches(series) + [
        {"batch": 99, "input_rows": 0, "state": [["dedup", 1]]}
    ]
    out = probe.soak_plateau_summary(batches)
    assert out["series"] == series
    assert out["verdict"] == "bounded"
    assert probe.soak_plateau_summary(_batches([1, 2, 3]))["verdict"] == (
        "too-short"
    )


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    base=st.integers(min_value=100, max_value=10_000),
    n=st.integers(min_value=6, max_value=40),
    growth=st.floats(min_value=0.15, max_value=1.0),
)
def test_soak_adjudicator_flags_any_steady_growth(base, n, growth):
    """PROPERTY: a series growing by >= 15% of base per batch — any
    broken-eviction shape, arbitrary length — must never read as
    bounded (the tail third always exceeds the middle third by more
    than the 10% allowance when growth is steady)."""
    series = [int(base * (1 + growth * i)) for i in range(n)]
    out = probe.soak_plateau_summary(_batches(series))
    assert out["verdict"] == "growing", (series, out)


@settings(max_examples=200, deadline=None)
@given(
    plateau=st.integers(min_value=100, max_value=100_000),
    n=st.integers(min_value=6, max_value=40),
    jitter=st.floats(min_value=0.0, max_value=0.045),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_soak_adjudicator_accepts_any_jittered_plateau(
    plateau, n, jitter, seed
):
    """PROPERTY: a series that reaches its plateau within the first
    third and then oscillates within +-4.5% must ALWAYS read as
    bounded — the worst arrangement (every middle draw low, a tail
    draw high) is 1.045/0.955 = 1.094, still under the 10% allowance,
    so no seed can flip the verdict (a +-8% band would admit
    arrangements up to 1.17 and flake; deep one-off dips like the
    measured batch-9 eviction drop are covered by the example-based
    test, which places the dip mid-third)."""
    import random

    rng = random.Random(seed)
    third = n // 3
    series = [int(plateau * (i + 1) / third) for i in range(third)] + [
        int(plateau * (1 + rng.uniform(-jitter, jitter)))
        for _ in range(n - third)
    ]
    out = probe.soak_plateau_summary(_batches(series))
    assert out["verdict"] == "bounded", (series, out)


def test_soak_plateau_summary_zero_state_cases():
    """ADVICE r15: mid_max == 0 must not fall through to 'growing'.
    An all-zero series (a soak that never built state) is a distinct
    'no-state' verdict — trivially bounded but deliberately NOT a
    bounded pass, so a misconfigured soak can't green-light itself;
    zero mid with state appearing only in the tail IS growth."""
    all_zero = [0] * 9
    out = probe.soak_plateau_summary(_batches(all_zero))
    assert out["verdict"] == "no-state"
    assert out["tail_over_mid"] is None
    late_growth = [0, 0, 0, 0, 0, 0, 100, 200, 300]
    out = probe.soak_plateau_summary(_batches(late_growth))
    assert out["verdict"] == "growing"
    assert out["tail_over_mid"] is None  # ratio undefined, verdict not
