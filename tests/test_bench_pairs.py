"""The per-metric verdict of ``scripts/bench_pairs.py`` (no Spark)."""

from __future__ import annotations

import os

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.fixture
def verdict(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    from bench_pairs import verdict

    return verdict


TIGHT = [10.0, 10.1, 10.2, 10.1, 10.0]  # quartiles 0.1 apart
RATE = [100.0, 101.0, 99.0, 100.0, 100.0]
WIDE = [5.0, 7.5, 10.0, 15.0, 16.0]  # quartiles 7.5 apart around 10


@pytest.mark.parametrize(
    "base,work,better,want",
    [
        # Tight base runs: only the median shift against the bound counts.
        (TIGHT, [10.5, 10.6, 10.4, 10.5, 10.7], "lower", "within bound"),
        (TIGHT, [12.6, 12.7, 12.8, 12.6, 12.9], "lower", "worse beyond bound"),
        (RATE, [70.0, 72.0, 71.0, 70.0, 69.0], "higher", "worse beyond bound"),
        (RATE, [130.0, 131.0, 129.0, 130.0, 128.0], "higher", "within bound"),
        # Base runs wider than the bound: a median inside it stays
        # unresolved ...
        (WIDE, [9.0, 14.0, 11.0, 6.0, 12.0], "lower", "unresolved"),
        # ... unless every work run beats every base run.
        (WIDE, [4.0, 4.5, 3.0, 4.9, 2.0], "lower", "within bound"),
        # A median shift beyond the bound is worse however wide the spread.
        (WIDE, [13.0, 14.0, 12.6, 20.0, 30.0], "lower", "worse beyond bound"),
    ],
)
def test_verdict(verdict, base, work, better, want):
    assert verdict(base, work, better, 0.25) == want


def test_verdict_at_the_bound_is_within(verdict):
    """A median exactly at the bound is not beyond it."""
    assert verdict([1.0, 1.0, 1.0], [1.25, 1.25, 1.25], "lower", 0.25) == "within bound"


BASE10 = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]  # quartiles 0.2 apart


@pytest.mark.parametrize(
    "base,work,better,want",
    [
        # Ten pairs, every one won, medians 1.0 apart: a gain.
        (BASE10, [x - 1.0 for x in BASE10], "lower", "gain shown"),
        (BASE10, [x + 1.0 for x in BASE10], "higher", "gain shown"),
        # Nine wins and one tie still make nine tenths ...
        (BASE10, [x - 1.0 for x in BASE10[:9]] + BASE10[9:], "lower", "gain shown"),
        # ... eight wins and two ties do not: a tie is no win.
        (BASE10, [x - 1.0 for x in BASE10[:8]] + BASE10[8:], "lower", "within bound"),
        # Every pair won, but the medians lie within the base quartiles.
        (BASE10, [x - 0.1 for x in BASE10], "lower", "within bound"),
        # Fewer than ten pairs never show a gain.
        (BASE10[:9], [x - 1.0 for x in BASE10[:9]], "lower", "within bound"),
    ],
)
def test_verdict_gain_shown(verdict, base, work, better, want):
    assert verdict(base, work, better, 0.25) == want
