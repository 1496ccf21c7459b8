"""A/B the vectorized applyInPandasWithState fold kernels against the
per-row (iterrows) forms they replaced (VERDICT r10 item 2).

No Spark session: each twin's ``update`` closure is captured by handing
the outer function a chainable mock in place of the events DataFrame,
then driven directly with a synthetic 100k-row per-key batch and a fake
GroupState — exactly the per-key kernel applyInPandasWithState runs.
The OLD kernels are loaded from a git ref (default: the commit before
the vectorization) so the probe both TIMES the change and asserts the
new outputs and carried state are identical to the old on adversarial
random input far larger than the unit-test fixtures.

The Holt, Holt-Winters and CUSUM ``update`` bodies hand their rows to
kernels in ``operators/timeseries.py`` (``holt_fold``,
``holt_winters_fold``, ``cusum_fold``) that the batch twins run too.
Only ``streaming/events.py`` is loaded from the old ref, so an old
``update`` runs its own inline loop while the new one runs the working
tree's kernel: the probe compares the two through ``update``.

Usage: python tools/probe_fold_vectorization.py [old_ref] [n_rows]
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pandas as pd

EVENTS_REL = "adv_big_data_indexing_spark/streaming/events.py"


class _Chain:
    """Chainable stand-in for the events DataFrame: every method returns
    self, except applyInPandasWithState which captures the update fn."""

    def __init__(self) -> None:
        self.captured = None

    def __getattr__(self, name):
        if name == "applyInPandasWithState":

            def cap(update, **kw):
                self.captured = update
                return self

            return cap
        return lambda *a, **k: self


class _FakeState:
    def __init__(self) -> None:
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self) -> bool:
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v) -> None:
        self._v = tuple(v)

    def remove(self) -> None:
        self._v = None

    def setTimeoutTimestamp(self, _ms) -> None:
        pass


def _load(tag: str, ref: str | None):
    if ref is None:
        path = f"{REPO}/{EVENTS_REL}"
        src = open(path).read()
    else:
        src = subprocess.run(
            ["git", "-C", REPO, "show", f"{ref}:{EVENTS_REL}"],
            check=True, capture_output=True, text=True,
        ).stdout
    spec = importlib.util.spec_from_loader(f"events_{tag}", loader=None)
    mod = importlib.util.module_from_spec(spec)
    mod.__file__ = f"<{tag}:{EVENTS_REL}>"
    sys.modules[f"events_{tag}"] = mod
    exec(compile(src, mod.__file__, "exec"), mod.__dict__)
    return mod


def _capture(mod, build):
    chain = _Chain()
    build(mod, chain)
    assert chain.captured is not None
    return chain.captured


def _drive(update, key, batches, n_chunks: int = 1):
    """Feed batches through a fresh state; return (rows, final_state, sec)."""
    st = _FakeState()
    outs = []
    t0 = time.perf_counter()
    for pdf in batches:
        chunks = (
            np.array_split(pdf, n_chunks) if n_chunks > 1 and len(pdf) else [pdf]
        )
        outs.extend(update(key, iter(chunks), st))
    sec = time.perf_counter() - t0
    # empty frames carry no rows and would only blur the column dtypes;
    # when every frame is empty the first one keeps the columns
    full = [o for o in outs if len(o)]
    rows = pd.concat(full, ignore_index=True) if full else (outs[0] if outs else pd.DataFrame())
    return rows, st._v, sec


def _synth(n: int, seed: int, types=None) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    ts = np.sort(
        np.datetime64("2024-01-01", "ns")
        + rng.randint(0, 40 * 24 * 3600, n).astype("timedelta64[s]").astype(
            "timedelta64[ns]"
        )
        + rng.randint(0, 10**9, n).astype("timedelta64[ns]")
    )
    pdf = pd.DataFrame(
        {
            "user_id": np.int64(7),
            "event_id": np.arange(n, dtype=np.int64) * 3 + 11,
            "ts": ts,
            "value": np.round(rng.normal(50, 20, n), 3),
        }
    )
    if types is not None:
        pdf["event_type"] = rng.choice(types, n)
    return pdf


def _compare(name, old_u, new_u, batches, key=(7,)):
    ro, so, to = _drive(old_u, key, [b.copy() for b in batches])
    rn, sn, tn = _drive(new_u, key, [b.copy() for b in batches])
    assert list(ro.columns) == list(rn.columns), name
    pd.testing.assert_frame_equal(
        ro.reset_index(drop=True), rn.reset_index(drop=True), check_exact=True
    )
    assert so == sn, f"{name}: state diverged\n{so}\n{sn}"
    print(
        f"{name:28s} rows_out={len(rn):>7d}  old={to*1000:9.1f} ms  "
        f"new={tn*1000:8.1f} ms  speedup={to/max(tn,1e-9):7.1f}x"
    )


def main() -> None:
    old_ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    old = _load("old", old_ref)
    new = _load("new", None)

    b_num = [_synth(n, s) for s in (1, 2)]
    b_typ = [
        _synth(n, s, types=["signup", "click", "purchase", "view", "error"])
        for s in (3, 4)
    ]

    cap = _capture  # alias

    def anomaly(m, ch):
        m.anomaly_zscores(ch)

    def cusum(m, ch):
        m.cusum_alarms(ch, mu_q=50_000)

    def holt(m, ch):
        m.holt_forecasts(ch)

    def holt_winters(m, ch):
        m.holt_winters_monitor(ch)

    def locf(m, ch):
        m.locf_monitor(ch)

    def markov(m, ch):
        m.markov_transition_deltas(ch)

    def funnel(m, ch):
        m.funnel_monitor(ch, delay_sec=3600)

    def lttb(m, ch):
        m.lttb_window_monitor(ch)

    def rate(m, ch):
        m.rate_flag_monitor(ch, delay_sec=3600)

    _compare("anomaly_zscores", cap(old, anomaly), cap(new, anomaly), b_num)
    _compare("cusum_alarms(cusum_fold)", cap(old, cusum), cap(new, cusum), b_num)
    _compare("holt_forecasts(holt_fold)", cap(old, holt), cap(new, holt), b_num)
    # hourly rollup rows: increasing hours with gaps, signed sums
    rng = np.random.RandomState(5)
    hours = np.cumsum(rng.randint(1, 4, 2 * n)) + 400_000
    b_hourly = [
        pd.DataFrame({"h": hours[i::2][: n // 2], "x": rng.randint(-10**7, 10**7, n // 2)})
        .sort_values("h")
        .reset_index(drop=True)
        for i in (0, 1)
    ]
    b_hourly[1]["h"] += int(b_hourly[0]["h"].max())
    _compare(
        "holt_winters_monitor(holt_winters_fold)",
        cap(old, holt_winters),
        cap(new, holt_winters),
        b_hourly,
        key=("click",),
    )
    _compare("locf_monitor", cap(old, locf), cap(new, locf), b_num)
    _compare(
        "markov_transition_deltas", cap(old, markov), cap(new, markov), b_typ
    )
    _compare("funnel_monitor", cap(old, funnel), cap(new, funnel), b_typ)
    _compare("rate_flag_monitor", cap(old, rate), cap(new, rate), b_num)
    # lttb buffers only (timeout path needs a real watermark clock):
    # two buffering batches, compare carried state arrays. Its OUTER
    # function calls F.expr at build time, which needs a live
    # SparkContext — stub F out for the capture (the update kernel
    # itself is pure pandas/numpy and never touches F).
    class _FakeF:
        def __getattr__(self, _n):
            return lambda *a, **k: None

    old.F = new.F = _FakeF()
    _compare(
        "lttb_window_monitor(buffer)",
        cap(old, lttb),
        cap(new, lttb),
        [b.assign(win_us=0) for b in b_num],
        key=(7, 0),
    )
    print("all kernels: outputs and carried state identical old vs new")


if __name__ == "__main__":
    main()
