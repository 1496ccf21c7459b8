"""The Python recurrence kernels shared by each batch query and its
streaming twin (``holt_fold``, ``holt_winters_fold``, ``cusum_fold`` in
operators/timeseries.py) against plain per-row reference recurrences,
on random integer series cut at random chunk boundaries — the way a
stream delivers them. No Spark session."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from adv_big_data_indexing_spark.operators.timeseries import (
    _CUSUM_BLOCK,
    CUSUM_HMUL,
    CUSUM_KDIV,
    HOLT_ADIV,
    HOLT_BDIV,
    HW_DIV,
    HW_PERIOD,
    cusum_fold,
    holt_fold,
    holt_winters_fold,
)


def _holt_ref(xs):
    l, b = xs[0], 0
    for x in xs[1:]:
        d = (x - l - b) // HOLT_ADIV
        l = l + b + d
        b = b + d // HOLT_BDIV
    return l, b, len(xs)


def _hw_ref(hs, xs):
    l, b, s = None, 0, [0] * HW_PERIOD
    fitted = []
    for rn, (h, x) in enumerate(zip(hs, xs), 1):
        if rn == 1:
            l, f = x, x
        else:
            i = h % HW_PERIOD
            s_i = s[i]
            f = l + b + s_i
            l_new = l + b + (x - l - b - s_i) // HW_DIV
            b = b + (l_new - l - b) // HW_DIV
            s[i] = s_i + (x - l_new - s_i) // HW_DIV
            l = l_new
        fitted.append(f)
    return l, b, len(xs), s, fitted


def _cusum_ref(xs, mu, s0):
    k, h = mu // CUSUM_KDIV, CUSUM_HMUL * mu
    s, idx, sq = s0, [], []
    for i, x in enumerate(xs):
        s = max(0, s + x - mu - k)
        if s > h:
            idx.append(i)
            sq.append(s)
            s = 0
    return idx, sq, s


def _chunks(n, cuts):
    """[0, n) split at the sorted distinct cut points inside it."""
    bounds = [0] + sorted({c % (n + 1) for c in cuts}) + [n]
    return [(a, b) for a, b in zip(bounds, bounds[1:])]


_series = st.lists(st.integers(-200_000, 200_000), min_size=1, max_size=300)
_cuts = st.lists(st.integers(0, 10_000), max_size=6)


@settings(max_examples=60, deadline=None)
@given(xs=_series, cuts=_cuts)
def test_holt_fold_matches_reference_under_any_chunking(xs, cuts):
    state = (0, 0, 0)
    for a, b in _chunks(len(xs), cuts):
        state = holt_fold(xs[a:b], *state)
    assert state == _holt_ref(xs)
    assert holt_fold(xs) == _holt_ref(xs)


@settings(max_examples=60, deadline=None)
@given(
    steps=st.lists(st.integers(1, 30), min_size=1, max_size=200),
    start=st.integers(0, 10_000),
    seed=st.integers(0, 2**31 - 1),
    cuts=_cuts,
)
def test_holt_winters_fold_matches_reference_under_any_chunking(steps, start, seed, cuts):
    hs = list(np.cumsum([start] + steps[1:]).tolist())  # increasing hours with gaps
    xs = np.random.RandomState(seed).randint(-10**7, 10**7, len(hs)).tolist()
    l, b, n, s, fitted = 0, 0, 0, None, []
    for a, z in _chunks(len(xs), cuts):
        l, b, n, s, f = holt_winters_fold(hs[a:z], xs[a:z], l, b, n, s)
        fitted += f
    assert (l, b, n, s, fitted) == _hw_ref(hs, xs)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 3 * _CUSUM_BLOCK),
    lo=st.integers(-5_000, 60_000),
    width=st.integers(1, 200_000),
    mu=st.integers(-1_000, 60_000),
    s0=st.integers(0, 500_000),
    seed=st.integers(0, 2**31 - 1),
    cuts=_cuts,
)
# every row alarms (h < 0), across more than one block, from a carry
@example(n=2 * _CUSUM_BLOCK + 7, lo=0, width=10, mu=-1, s0=9, seed=1, cuts=[])
# sparse alarms with a carry that fires on the first row
@example(n=_CUSUM_BLOCK + 1, lo=0, width=100_000, mu=50_000, s0=10**6, seed=2, cuts=[5000])
def test_cusum_fold_matches_reference(n, lo, width, mu, s0, seed, cuts):
    xs = np.random.RandomState(seed).randint(lo, lo + width, n).astype(np.int64)
    ref_idx, ref_sq, ref_s = _cusum_ref(xs.tolist(), mu, s0)
    assert cusum_fold(xs, mu, s0) == (ref_idx, ref_sq, ref_s)
    # resumed chunk by chunk from the carry, as a stream delivers it
    idx, sq, s = [], [], s0
    for a, b in _chunks(n, cuts):
        ci, cs, s = cusum_fold(xs[a:b], mu, s)
        idx += [a + i for i in ci]
        sq += cs
    assert (idx, sq, s) == (ref_idx, ref_sq, ref_s)
